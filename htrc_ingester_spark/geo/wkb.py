"""WKB polygon ingestion → the engine's ring-list spec.

WKT and GeoJSON (geo/wkt.py) cover text interchange; the common
*binary* interchange — parquet/GeoParquet geometry columns, PostGIS
``ST_AsBinary`` exports — is WKB (VERDICT r4 #3). This module decodes
OGC WKB ``Polygon``/``MultiPolygon`` (both byte orders, ISO and EWKB
type encodings) into the same flat even-odd ring list every spatial
operator consumes, and encodes it back bit-exactly for round-trip
testing.

Supported type words per geometry header:
- plain OGC: 3 = Polygon, 6 = MultiPolygon;
- ISO 19125 Z/M/ZM offsets (1000/2000/3000) are REJECTED — the engine
  is lon/lat only, matching geo.wkt's Z/M rejection;
- EWKB (PostGIS) dimension flags 0x80000000 (Z) / 0x40000000 (M) are
  likewise rejected; the EWKB SRID flag 0x20000000 is accepted and the
  4-byte SRID skipped (coordinates are taken as lon/lat — WGS84 is the
  engine-wide convention, as in GeoJSON RFC 7946).

Coordinates are IEEE-754 float64 on the wire, so decode(encode(r))
round-trips bit-for-bit — the same exactness discipline geo.wkt pins
(its oracle entries value-hash against the non-serialized fixtures).

Reference parity: like the WKT/GeoJSON path, this is the reference's
ingest-from-interchange discipline (DeltaLogParser.java:336-350 parses
its manifests; here the manifest is binary) applied to geometry.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "wkb_to_rings",
    "wkb_to_ring_arrays",
    "rings_to_wkb",
    "ring_arrays_to_wkb",
    "polys_from_wkb",
    "polys_from_wkb_column",
    "polys_df_from_wkb_column",
]

_POLYGON = 3
_MULTIPOLYGON = 6
_EWKB_Z = 0x8000_0000
_EWKB_M = 0x4000_0000
_EWKB_SRID = 0x2000_0000


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, fmt: str, size: int):
        end = self.pos + size
        if end > len(self.buf):
            raise ValueError("truncated WKB")
        out = struct.unpack_from(fmt, self.buf, self.pos)
        self.pos = end
        return out


def _read_header(r: _Reader) -> tuple[str, int]:
    """Read (endianness char, base geometry type), consuming any EWKB
    SRID and rejecting Z/M in either encoding."""
    (order,) = r.take("B", 1)
    if order == 0:
        e = ">"
    elif order == 1:
        e = "<"
    else:
        raise ValueError(f"bad WKB byte-order marker: {order}")
    (typ,) = r.take(e + "I", 4)
    if typ & (_EWKB_Z | _EWKB_M):
        raise ValueError("Z/M coordinates are not supported (lon/lat only)")
    if typ & _EWKB_SRID:
        r.take(e + "I", 4)  # skip SRID; lon/lat is the engine convention
        typ &= ~_EWKB_SRID
    base = typ % 1000
    if typ >= 1000:  # ISO Z (1000) / M (2000) / ZM (3000) offsets
        raise ValueError("Z/M coordinates are not supported (lon/lat only)")
    return e, base


def _read_ring(r: _Reader, e: str) -> list[tuple[float, float]]:
    (n,) = r.take(e + "I", 4)
    vals = r.take(e + f"{2 * n}d", 16 * n)
    ring = list(zip(vals[0::2], vals[1::2]))
    if len(ring) < 3:
        raise ValueError(f"ring with <3 vertices in WKB (n={n})")
    return ring


def _read_polygon_body(r: _Reader, e: str) -> list[list[tuple[float, float]]]:
    (nrings,) = r.take(e + "I", 4)
    return [_read_ring(r, e) for _ in range(nrings)]


def wkb_to_rings(wkb: bytes) -> list[list[tuple[float, float]]]:
    """Decode a WKB ``Polygon`` or ``MultiPolygon`` to the flat ring
    list (even-odd semantics — geo/wkt.py module docstring). An empty
    geometry (zero rings / zero parts) yields ``[]``. Raises
    ValueError on any other geometry type, Z/M dimensions, or
    truncated/trailing bytes."""
    r = _Reader(bytes(wkb))
    e, typ = _read_header(r)
    if typ == _POLYGON:
        rings = _read_polygon_body(r, e)
    elif typ == _MULTIPOLYGON:
        (nparts,) = r.take(e + "I", 4)
        rings = []
        for _ in range(nparts):
            pe, ptyp = _read_header(r)
            if ptyp != _POLYGON:
                raise ValueError(f"MultiPolygon part has type {ptyp}, not Polygon")
            rings.extend(_read_polygon_body(r, pe))
    else:
        raise ValueError(f"not a Polygon/MultiPolygon WKB (type {typ})")
    if r.pos != len(r.buf):
        raise ValueError(f"{len(r.buf) - r.pos} trailing bytes after WKB geometry")
    return rings


def _read_ring_np(r: _Reader, e: str):
    """One ring as an (N, 2) float64 numpy array — np.frombuffer over
    the coordinate block (no per-vertex Python objects), byte-swapped
    to native when the wire is big-endian. Bit-identical values to
    :func:`_read_ring` (both are raw IEEE-754 reads)."""
    (n,) = r.take(e + "I", 4)
    end = r.pos + 16 * n
    if end > len(r.buf):
        raise ValueError("truncated WKB")
    if n < 3:
        raise ValueError(f"ring with <3 vertices in WKB (n={n})")
    a = np.frombuffer(r.buf, dtype=e + "f8", count=2 * n, offset=r.pos)
    r.pos = end
    return a.astype(np.float64, copy=True).reshape(-1, 2)


def _read_polygon_body_np(r: _Reader, e: str) -> list:
    (nrings,) = r.take(e + "I", 4)
    return [_read_ring_np(r, e) for _ in range(nrings)]


def wkb_to_ring_arrays(wkb: bytes) -> list:
    """:func:`wkb_to_rings`, returning each ring as an (N, 2) float64
    numpy array — the shape the geometry kernels consume directly.
    This is the HOT decoder: the cover-as-table regime decodes every
    polygon inside its executor kernels, and frombuffer keeps the
    per-polygon cost at one array allocation per ring instead of one
    Python tuple per vertex (the nested-object churn was the measured
    scaling ceiling of the cover stage — exec time inflated 24% from
    2 to 8 concurrent cores before the binary-native path). Identical
    validation and bit-identical values to :func:`wkb_to_rings`."""
    r = _Reader(bytes(wkb))
    e, typ = _read_header(r)
    if typ == _POLYGON:
        rings = _read_polygon_body_np(r, e)
    elif typ == _MULTIPOLYGON:
        (nparts,) = r.take(e + "I", 4)
        rings = []
        for _ in range(nparts):
            pe, ptyp = _read_header(r)
            if ptyp != _POLYGON:
                raise ValueError(f"MultiPolygon part has type {ptyp}, not Polygon")
            rings.extend(_read_polygon_body_np(r, pe))
    else:
        raise ValueError(f"not a Polygon/MultiPolygon WKB (type {typ})")
    if r.pos != len(r.buf):
        raise ValueError(f"{len(r.buf) - r.pos} trailing bytes after WKB geometry")
    return rings


def ring_arrays_to_wkb(rings) -> bytes:
    """Fast transport encoder: (N, 2) float64 ring arrays → one
    little-endian WKB POLYGON whose rings are the flat even-odd list.
    This is the engine's INTERNAL wire shape (pip_join_table normalizes
    every polygon arrival to it): disjoint MultiPolygon parts are
    deliberately flattened — even-odd semantics don't distinguish them
    and :func:`wkb_to_ring_arrays` returns the same flat list. Use
    :func:`rings_to_wkb` with ``groups`` when emitting structured OGC
    geometry for external consumers. numpy ``tobytes`` writes the
    coordinate block in one call — no per-vertex struct.pack.

    Degenerate (<3-vertex) rings are NORMALIZED AWAY here: the engine's
    spec-list API tolerates them as even-odd no-ops
    (geometry.points_in_ring returns all-False below 3 vertices, and
    the cover kernel's ring preparation drops them too), so
    dropping them is decision-identical — and it keeps the strict
    decoders (:func:`wkb_to_ring_arrays` / :func:`wkb_to_rings`, which
    reject <3-vertex rings as interchange corruption) total over every
    engine-produced blob. Without this, a tolerated driver spec crashed
    the table regime's executor decode while the broadcast regime
    accepted it."""
    blocks = []
    kept = 0
    for ring in rings:
        a = np.ascontiguousarray(
            np.asarray(ring, dtype=np.float64).reshape(-1, 2), dtype="<f8"
        )
        if len(a) < 3:
            continue
        blocks.append(struct.pack("<I", len(a)) + a.tobytes())
        kept += 1
    out = bytearray()
    out += b"\x01" + struct.pack("<II", _POLYGON, kept)
    for b in blocks:
        out += b
    return bytes(out)


def _write_polygon(out: bytearray, rings, e: str, order: int) -> None:
    out.append(order)
    out += struct.pack(e + "I", _POLYGON)
    out += struct.pack(e + "I", len(rings))
    for ring in rings:
        out += struct.pack(e + "I", len(ring))
        for x, y in ring:
            out += struct.pack(e + "dd", float(x), float(y))


def rings_to_wkb(
    rings, groups: list[list[int]] | None = None, big_endian: bool = False
) -> bytes:
    """Serialize a ring list to WKB. Float64 on the wire, so
    ``wkb_to_rings(rings_to_wkb(r)) == r`` bit-for-bit. ``groups``
    partitions ring indices into polygons exactly as in
    :func:`geo.wkt.rings_to_wkt`; one group (or None) emits a single
    POLYGON, several emit a MULTIPOLYGON."""
    rings = list(rings)
    e = ">" if big_endian else "<"
    order = 0 if big_endian else 1
    out = bytearray()
    if groups is None:
        groups = [list(range(len(rings)))] if rings else []
    if len(groups) == 1:
        _write_polygon(out, [rings[i] for i in groups[0]], e, order)
    else:  # 0 groups → MULTIPOLYGON EMPTY; >1 → structured parts
        out.append(order)
        out += struct.pack(e + "I", _MULTIPOLYGON)
        out += struct.pack(e + "I", len(groups))
        for g in groups:
            _write_polygon(out, [rings[i] for i in g], e, order)
    return bytes(out)


def polys_from_wkb(rows) -> list[dict]:
    """[(poly_id, wkb_bytes), ...] → [{"poly_id", "rings"}, ...].
    Empty geometries are dropped (no rings matches nothing)."""
    out = []
    for pid, wkb in rows:
        rings = wkb_to_rings(wkb)
        if rings:
            out.append({"poly_id": str(pid), "rings": rings})
    return out


def polys_from_wkb_column(df, id_col: str = "poly_id", wkb_col: str = "wkb") -> list[dict]:
    """Spark DataFrame (id, binary wkb) → spec list — the GeoParquet
    arrival path (geometry column read by spark.read.parquet IS a WKB
    binary column). Collects: the polygon side is the driver-indexed
    broadcast side of the PIP join by design. Past the polygon budget
    (pip_join's ``_TABLE_POLYS_BUDGET``) it raises; decode distributed with
    :func:`polys_df_from_wkb_column` + ``pip_join_table`` instead."""
    rows = _collect_polys(df, id_col, wkb_col, "polys_df_from_wkb_column")
    return polys_from_wkb((r[0], bytes(r[1])) for r in rows)


def _collect_polys(df, id_col: str, geom_col: str, twin: str) -> list:
    """Collect (id, geometry) rows for a spec-list loader (here and in
    geo.wkt), at most pip_join's broadcast-regime polygon budget of
    them: one ``limit(budget + 1)`` collect, and a ValueError naming
    the distributed ``twin`` past the budget, where the polygon side
    belongs in a DataFrame."""
    from ..operators.pip_join import _TABLE_POLYS_BUDGET as budget

    rows = df.select(id_col, geom_col).limit(budget + 1).collect()
    if len(rows) > budget:
        raise ValueError(
            f"more than {budget} polygons to collect to the driver; "
            f"use {twin} + pip_join_table, which keep the polygon side distributed"
        )
    return rows


def _ingest_polys_df(df, cols: list, parse_row, out: str = "wkb"):
    """Shared executor-batch scaffold for the distributed geometry
    ingest trio (WKB / WKT / GeoJSONL — one parser each, one scaffold):
    iterate the batch rows, ``parse_row(*row_values) -> (pid, rings,
    wire_bytes_or_None)`` (raising ValueError naming the offending row
    on any corruption), drop empty geometries, and emit either

    - ``out="wkb"`` (default): ``(poly_id string, wkb binary)`` — the
      engine's NATIVE wire (:func:`pip_join_table` point 0), so the
      parse feeds the cover-as-table regime with zero further
      conversion passes. ``wire_bytes`` passes through verbatim when
      the input already is WKB; text parsers return None and the
      rings are encoded here (one pass, no nested-array Arrow hop).
    - ``out="rings"``: ``(poly_id string, rings
      array<array<array<double>>>)`` — the nested spec shape, for
      consumers of the ring lists themselves.

    Widening rationale (shared by all three): a 10^5-geometry catalog
    is only tens of MB, so the file packer hands it to 1-2 splits and
    everything downstream pins to 1-2 cores. Widen BEFORE the decode —
    the shuffle moves compact strings/binary, not decoded nested
    arrays (measured: decode+persist 6.0 s at BOTH local[2] and
    local[8] before; scales after). At catalog scale the input arrives
    in thousands of splits and the guard is a no-op."""
    import pandas as pd

    from ..functions import ensure_parallelism

    if out == "rings":
        from ..operators.pip_join import RINGS_SQL_TYPE

        schema, geom_col = f"poly_id string, rings {RINGS_SQL_TYPE}", "rings"
    elif out == "wkb":
        schema, geom_col = "poly_id string, wkb binary", "wkb"
    else:
        raise ValueError(f"out must be 'wkb' or 'rings', got {out!r}")

    def _decode(batches):
        for pdf in batches:
            ids: list[str] = []
            geoms: list = []
            for vals in zip(*(pdf[c] for c in cols)):
                pid, rings, wire = parse_row(*vals)
                if not rings:
                    continue  # empty geometry matches nothing — drop
                ids.append(str(pid))
                if geom_col == "rings":
                    geoms.append(
                        [[[float(x), float(y)] for x, y in ring] for ring in rings]
                    )
                else:
                    geoms.append(wire if wire is not None else rings_to_wkb(rings))
            if ids:
                yield pd.DataFrame({"poly_id": ids, geom_col: geoms})

    return ensure_parallelism(df.select(*cols)).mapInPandas(_decode, schema=schema)


def polys_df_from_wkb_column(
    df, id_col: str = "poly_id", wkb_col: str = "wkb", out: str = "wkb"
):
    """Distributed WKB validate/decode → the DataFrame
    :func:`pip_join_table` consumes — the GeoParquet SCALE path. 10^6+
    binary geometries decode in executor Arrow batches and never touch
    the driver; :func:`polys_from_wkb_column` stays the
    broadcast-regime convenience twin (collect + driver decode, right
    when the polygon side is the broadcast side anyway). By default
    the VALIDATED ORIGINAL bytes pass through as the engine's native
    binary wire (strict-decode every blob, re-emit verbatim);
    ``out="rings"`` emits the nested ring-list spec instead. Empty
    geometries are dropped, matching the driver path; a malformed blob
    fails the TASK with the decoder's ValueError (poly_id in the
    message) rather than silently skipping — interchange corruption
    must surface, the reference's checksum-validate discipline."""

    def _parse(pid, wkb):
        try:
            if wkb is None:
                raise ValueError("NULL geometry value")
            raw = bytes(wkb)
            rings = wkb_to_rings(raw)
        except ValueError as exc:
            raise ValueError(f"poly_id={pid!r}: {exc}") from exc
        return pid, rings, raw

    return _ingest_polys_df(df, [id_col, wkb_col], _parse, out)
