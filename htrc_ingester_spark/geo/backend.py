"""Pluggable hierarchical-cell-index backend: h3lite (hermetic default)
or the real Uber ``h3`` wheel when it is importable.

SURVEY.md §7(c) sanctioned geo/h3lite.py — an equirectangular
aperture-4 quantizer with the H3 API *shape* — because no ``h3`` wheel
ships in this container. Its cell ids are internally consistent but do
not interoperate with externally-produced H3 data (the VERDICT r3
adoption caveat). This module closes that gap:

- :func:`get_backend` returns a backend object exposing ONE API —
  ``latlng_to_cell / cell_to_parent / grid_disk / cells_to_children /
  cell_corners / bbox_pad_deg / cover_bbox / seed_res / encode_col /
  res_max / aperture`` (``cover_bbox`` and ``seed_res`` over arrays of
  boxes and spans, one cover-kernel call for every polygon) —
  implemented by :class:`H3LiteBackend` (pure numpy + codegen SQL
  exprs, bit-stable, what every catalog oracle pins) or
  :class:`H3Backend` (real H3 indices via ``h3`` ≥ 4, hexagonal
  aperture-7 tree, Arrow-vectorized encode UDF).
- selection: explicit ``get_backend("h3lite"|"h3")``, or
  ``get_backend()`` honoring ``$SPARK_GRAFT_H3_BACKEND``
  (``h3lite`` default — the hermetic tests and DuckDB value oracles
  REQUIRE the arithmetic backend; ``h3``/``auto`` opt in to real H3).

pip_join's adaptive cover build + classification are parameterized
over this API (cell corners are an N-vertex polygon — 4 for the
rectangular grid, 5-6 for H3 hexagons/pentagons; the conservative
full/partial test only needs corners + a bounding box, so it is sound
for both). The H3 paths follow the published h3-py v4 API and are
exercised by import-guarded tests (skipped where the wheel is absent).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints are stringized
# by `from __future__ import annotations` and resolve against module
# globals — a local `import pandas` leaves 'pd.Series' unresolvable

from . import h3lite as H

__all__ = ["get_backend", "reencode_cells", "H3LiteBackend", "H3Backend", "HAS_H3"]

try:  # pragma: no cover - wheel absent in the hermetic container
    import h3 as _h3

    HAS_H3 = hasattr(_h3, "latlng_to_cell")  # v4 API required
except Exception:  # pragma: no cover
    _h3 = None
    HAS_H3 = False


class H3LiteBackend:
    """The hermetic arithmetic backend (geo/h3lite.py). Encode is a
    whole-stage-codegen SQL expression with a DuckDB twin — the
    property every catalog value-oracle relies on."""

    name = "h3lite"
    aperture = 4
    res_max = H.RES_MAX

    @staticmethod
    def latlng_to_cell(lat, lng, res: int):
        return H.latlng_to_cell(lat, lng, res)

    @staticmethod
    def cell_to_parent(cell, parent_res: int):
        return H.cell_to_parent(cell, parent_res)

    @staticmethod
    def grid_disk(cell: int, k: int):
        return H.grid_disk(cell, k)

    @staticmethod
    def cell_res(cells):
        return H.cell_res(cells)

    @staticmethod
    def num_cells(res: int) -> int:
        return H.nx(res) * H.ny(res)

    @staticmethod
    def cells_to_children(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(children, parent_index): all aperture-4 children one res
        finer, with the index of each child's parent row (pentagonal
        H3 cells have 6 children, so the pairing is explicit in the
        API)."""
        res = int(H.cell_res(cells[:1])[0])
        x, y = H.cell_xy(cells)
        cx = np.repeat(x << 1, 4) + np.tile(np.array([0, 1, 0, 1]), len(cells))
        cy = np.repeat(y << 1, 4) + np.tile(np.array([0, 0, 1, 1]), len(cells))
        return H.pack_xy(cx, cy, res + 1), np.repeat(np.arange(len(cells)), 4)

    @staticmethod
    def cell_corners(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(lons, lats) of shape (len(cells), 4) — the rectangle
        corners in CCW order."""
        lon0, lat0, lon1, lat1 = H.cell_to_boundary(cells)
        lons = np.stack([lon0, lon1, lon1, lon0], axis=1)
        lats = np.stack([lat0, lat0, lat1, lat1], axis=1)
        return lons, lats

    @staticmethod
    def bbox_pad_deg(c_lons: np.ndarray, c_lats: np.ndarray):
        """Outward padding (degrees) the vertex min/max bbox needs to
        contain the cell's true edges. h3lite cells are exact
        lat/lon-aligned rectangles — the vertex bbox IS the cell."""
        return 0.0

    @staticmethod
    def cover_bbox(lon0, lat0, lon1, lat1, res) -> tuple[np.ndarray, np.ndarray]:
        """Every cell meeting each lon/lat box, at each box's level →
        (cells, the box index of each cell): geo.h3lite.cover_bboxes
        (lon0 > lon1 after normalizing marks a box across the
        antimeridian)."""
        return H.cover_bboxes(lon0, lat0, lon1, lat1, res)

    @staticmethod
    def seed_res(dlon, dlat, res: int, res_max: int) -> np.ndarray:
        """Coarsest USEFUL cover level for polygons of bbox span
        (dlon, dlat), arrays: the finest r in [res, res_max] whose cells
        are still at least bbox-sized. Levels coarser than this emit no
        full cells (a full cell needs polygon ⊇ cell) and a ≤2×2
        all-partial frontier — pure subdivision overhead the adaptive
        walk can skip by SEEDING there directly (the bbox cover at any
        level ⊇ the cells the walk would have reached, so covers stay
        sound; refine keeps results exact for any seed level).
        h3lite cells are square in degrees: w = h = 90 / 2^res, so r
        counts the finer levels whose width still holds the span."""
        span = np.maximum(dlon, dlat)
        width = 90.0 / (np.int64(1) << np.arange(res + 1, res_max + 1))
        return res + (width >= np.asarray(span)[..., None]).sum(axis=-1)

    @staticmethod
    def encode_col(lon_col: str, lat_col: str, res: int):
        from pyspark.sql import functions as F

        return F.expr(H.h3_sql_expr(lon_col, lat_col, res))

    @staticmethod
    def cells_to_latlng(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(lats, lngs) of cell centers — rectangle midpoints."""
        lon0, lat0, lon1, lat1 = H.cell_to_boundary(np.asarray(cells, dtype=np.int64))
        return (lat0 + lat1) / 2.0, (lon0 + lon1) / 2.0


class H3Backend:  # pragma: no cover - requires the h3 wheel
    """Real Uber H3 (hexagonal, aperture 7) via h3-py ≥ 4. Cell ids are
    genuine H3 indices (interoperable with external H3 data); the
    point-side encode is an Arrow-vectorized pandas UDF instead of a
    SQL expression, so plans using it have no DuckDB twin — use the
    h3lite backend wherever a value oracle is required."""

    name = "h3"
    aperture = 7
    res_max = 15

    def __init__(self):
        if not HAS_H3:
            raise ImportError(
                "the 'h3' wheel (>=4) is not importable; "
                "install h3 or use get_backend('h3lite')"
            )

    @staticmethod
    def latlng_to_cell(lat, lng, res: int):
        lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
        lng = np.atleast_1d(np.asarray(lng, dtype=np.float64))
        out = np.fromiter(
            (_h3.str_to_int(_h3.latlng_to_cell(a, b, res)) for a, b in zip(lat, lng)),
            dtype=np.int64,
            count=len(lat),
        )
        return out if out.shape[0] > 1 else np.int64(out[0])

    @staticmethod
    def cell_to_parent(cell, parent_res: int):
        c = np.atleast_1d(np.asarray(cell, dtype=np.int64))
        out = np.fromiter(
            (
                _h3.str_to_int(_h3.cell_to_parent(_h3.int_to_str(int(x)), parent_res))
                for x in c
            ),
            dtype=np.int64,
            count=len(c),
        )
        return out if out.shape[0] > 1 else np.int64(out[0])

    @staticmethod
    def grid_disk(cell: int, k: int):
        return np.sort(
            np.array(
                [_h3.str_to_int(c) for c in _h3.grid_disk(_h3.int_to_str(int(cell)), k)],
                dtype=np.int64,
            )
        )

    @staticmethod
    def cell_res(cells):
        return (np.asarray(cells, dtype=np.int64) >> 52) & 0xF

    @staticmethod
    def num_cells(res: int) -> int:
        return int(_h3.get_num_cells(res))

    @staticmethod
    def cells_to_children(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        out: list[int] = []
        parent: list[int] = []
        for i, x in enumerate(cells):
            s = _h3.int_to_str(int(x))
            kids = _h3.cell_to_children(s, _h3.get_resolution(s) + 1)
            out.extend(_h3.str_to_int(c) for c in kids)
            parent.extend([i] * len(kids))
        return np.array(out, dtype=np.int64), np.array(parent, dtype=np.int64)

    @staticmethod
    def cell_corners(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Hexagon (or pentagon) vertices, padded to 6 by repeating the
        last vertex — a repeated vertex adds a zero-length edge, which
        changes neither the corner-parity test nor the bbox."""
        lons = np.empty((len(cells), 6))
        lats = np.empty((len(cells), 6))
        for i, x in enumerate(cells):
            b = _h3.cell_to_boundary(_h3.int_to_str(int(x)))  # ((lat, lng), ...)
            v = list(b) + [b[-1]] * (6 - len(b))
            lats[i] = [p[0] for p in v]
            lons[i] = [p[1] for p in v]
        return lons, lats

    @staticmethod
    def bbox_pad_deg(c_lons: np.ndarray, c_lats: np.ndarray):
        """Per-cell conservative pad: H3 hexagon edges are GEODESICS —
        they bulge poleward past the straight chord between vertices,
        so the vertex min/max box is not a true cell bbox. The bulge of
        a great-circle edge vs linear lat/lon interpolation is bounded
        by (Δλ_rad²/8) rad ≈ span_deg² · 0.00218°; pad by span² · 0.003
        (+ε). Antimeridian-straddling cells degenerate the vertex lon
        span to ~360°, which makes the pad (and the box) huge — grossly
        over-conservative for those few cells, but over-conservative is
        SOUND here (a larger bbox only demotes full→partial, and
        partial goes through the exact refine)."""
        span = np.maximum(
            c_lons.max(axis=1) - c_lons.min(axis=1),
            c_lats.max(axis=1) - c_lats.min(axis=1),
        )
        return span * span * 0.003 + 1e-12

    @staticmethod
    def cover_bbox(lon0, lat0, lon1, lat1, res) -> tuple[np.ndarray, np.ndarray]:
        """(cells, box index) per box, as H3LiteBackend.cover_bbox:
        polygon_to_cells covers cells whose CENTER is inside, so each
        box's cells are padded by one grid_disk ring and
        boundary-straddling cells join the frontier (the classifier
        prunes false positives)."""
        cells: list[np.ndarray] = []
        for a0, b0, a1, b1, r in zip(lon0, lat0, lon1, lat1, res):
            poly = _h3.LatLngPoly([(b0, a0), (b0, a1), (b1, a1), (b1, a0), (b0, a0)])
            seed = {_h3.str_to_int(c) for c in _h3.polygon_to_cells(poly, int(r))}
            if not seed:
                seed = {int(H3Backend.latlng_to_cell((b0 + b1) / 2, (a0 + a1) / 2, int(r)))}
            padded = set(seed)
            for c in list(seed):
                padded.update(int(x) for x in H3Backend.grid_disk(int(c), 1))
            cells.append(np.array(sorted(padded), dtype=np.int64))
        box = np.repeat(np.arange(len(cells)), [len(c) for c in cells])
        return np.concatenate(cells + [np.zeros(0, dtype=np.int64)]), box

    @staticmethod
    def seed_res(dlon, dlat, res: int, res_max: int) -> np.ndarray:
        """Coarsest useful cover level per polygon (see
        H3LiteBackend.seed_res). Hexagons have no degree-aligned width;
        use the equal-area effective span sqrt(globe_deg² / num_cells)
        and stay one level CONSERVATIVE (stop while the next level's
        cells are still at least 2× bbox-sized) — an early seed is only
        an efficiency loss, never a soundness one."""
        out = []
        for span in np.maximum(dlon, dlat):
            r = res if span > 0.0 else res_max
            while r < res_max and (360.0 * 180.0 / float(_h3.get_num_cells(r + 1))) ** 0.5 >= 2.0 * span:
                r += 1
            out.append(r)
        return np.array(out, dtype=np.int64)

    @staticmethod
    def encode_col(lon_col: str, lat_col: str, res: int):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        @F.pandas_udf(T.LongType())
        def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
            return pd.Series(
                H3Backend.latlng_to_cell(
                    lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64), res
                )
            )

        return _enc(F.col(lon_col), F.col(lat_col))

    @staticmethod
    def cells_to_latlng(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(lats, lngs) of true H3 cell centers."""
        c = np.atleast_1d(np.asarray(cells, dtype=np.int64))
        lats = np.empty(len(c), dtype=np.float64)
        lngs = np.empty(len(c), dtype=np.float64)
        for i, x in enumerate(c):
            lats[i], lngs[i] = _h3.cell_to_latlng(_h3.int_to_str(int(x)))
        return lats, lngs


def reencode_cells(
    df,
    cell_col: str,
    res: int,
    source: str = "h3",
    target: str = "h3lite",
    out_col: str | None = None,
):
    """Re-tag a PRE-ENCODED cell-id column from one backend's grid to
    another's: decode each source cell to its center (Arrow-vectorized
    pandas UDF), re-encode on the target grid at ``res``.

    This is the interop bridge for operators that consume raw cell ids
    (``tiles.assign_tiles(cell_col=...)``, ``compact_cells``, the
    pyramid builders, radius pre-bucketing): their parent/ring/tile
    arithmetic assumes the h3lite bit packing, so external real-H3
    data must cross this bridge first. Operators that take lon/lat
    (``knn_join_many``, ``assign_tiles`` default path, radius/bbox
    joins, ``pip_join`` probes) never need it — their cells are
    internal pruning artifacts and results are backend-independent by
    construction.

    Exactness: a center-point re-tag assigns each source cell to the
    target cell containing its centroid — the standard index re-tag.
    Downstream exact operators (PIP refine, kNN haversine, radius
    distance checks) re-verify true coordinates, so correctness does
    not depend on the re-tag's boundary behavior; only pruning
    granularity does. Pick a target ``res`` whose cell size is ≥ the
    source cell size to keep pruning conservative.

    Same-backend invariants (pinned in tests): h3lite → h3lite at the
    source res is the identity; at a coarser res it equals
    ``cell_to_parent``.
    """
    from pyspark.sql import functions as F

    src = get_backend(source)
    tgt = get_backend(target)

    @F.pandas_udf("long")
    def _re(c: pd.Series) -> pd.Series:
        arr = c.to_numpy(dtype=np.int64)
        if len(arr) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        lats, lngs = src.cells_to_latlng(arr)
        return pd.Series(np.atleast_1d(tgt.latlng_to_cell(lats, lngs, res)))

    return df.withColumn(out_col or cell_col, _re(F.col(cell_col).cast("long")))


def get_backend(name: str | None = None):
    """Resolve a backend by name, or from $SPARK_GRAFT_H3_BACKEND
    (default ``h3lite``; ``auto`` = real h3 when importable)."""
    name = name or os.environ.get("SPARK_GRAFT_H3_BACKEND", "h3lite")
    if name == "auto":
        name = "h3" if HAS_H3 else "h3lite"
    if name == "h3lite":
        return H3LiteBackend()
    if name == "h3":
        return H3Backend()
    raise ValueError(f"unknown H3 backend {name!r} (h3lite | h3 | auto)")
