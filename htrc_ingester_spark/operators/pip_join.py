"""Point-in-polygon join: broadcast adaptive cell-cover + native refine.

Scale design (the part that must survive 100 TB / 10^12 rows):

1. The polygon side is small (thousands-millions of vertices) and is
   indexed ON THE DRIVER into an ADAPTIVE (compacted-quadtree) cell
   cover between ``res_min`` and ``res_max``: a cell wholly inside the
   polygon is emitted as ``full`` at the coarsest resolution that fits
   (any point in it matches with NO exact test); a cell the ring
   boundary may cross is subdivided; at ``res_max`` the surviving
   boundary cells are emitted as ``partial``. The refine therefore
   only ever sees an O(perimeter / cell_size) shell — measured on the
   bench pipeline this cut refine traffic ~30x vs a single-res cover
   whose cells were larger than the polygons (all-partial).

2. The cover is a tiny broadcast DataFrame probed in one of two
   shapes, chosen at index-build time (round 4): covers expanding to
   ≤2M cells at their finest level FLATTEN to a single-level table —
   the point side computes ONE codegen cell encode and joins once, no
   explode; larger (continental) covers keep the multi-level
   ancestor-chain probe (array + explode — k levels multiply the probe
   rows by k, but the cover stays O(perimeter)-bounded). Either way
   there is zero shuffle of the image side; image ``bytes`` never
   move — the join runs on the (image_id, lon, lat) skeleton per the
   bounded-shuffle rule in BASELINE.json. The cover frame is
   content-keyed and memoized per session — built once, reused by
   every invocation.

3. Each partial cover row carries the ring edges a point in that cell
   can cross (``edges`` for normal rings, ``cap_edges`` for polar
   caps), filtered per cell (:func:`_edge_table`): edges out of the
   cell's reach are dropped, and edges east of the cell fold into the
   row's ``parity`` bit or into a few stand-in edges. A row keeps about
   the edges that meet its cell, so the table stays O(cover) — measured
   ≤ 4 per row on a 2000-vertex cap and a 200-tooth comb. The refine
   is ONE Catalyst predicate in the same scan as the join,
   ``full OR (parity != (aggregate(edges, ...) != aggregate(cap_edges,
   ...)))`` — a formula-for-formula twin of
   geo.geometry.points_in_ring, so no Python worker runs and the points
   are read once. A table past ``spark.sql.autoBroadcastJoinThreshold``
   sends the join to the cover-as-table regime (``pip_join_table``), as
   a polygon set past ``_TABLE_POLYS_BUDGET`` does; that regime builds
   the same table distributed and refines with the same predicate.

Classification is conservative-exact: ``full`` requires ALL cell
corners inside AND no ring-edge bbox overlapping the cell's bbox
(checked in the ring's unwrapped longitude frame with ±360° shifts, so
antimeridian polygons classify correctly); a cell is dropped only when
provably disjoint (no corner inside and no edge-bbox overlap — a
polygon wholly inside a cell always overlaps that cell's bbox with its
edges). The corner set comes from the pluggable cell-index backend
(geo/backend.py): 4 rectangle corners for the default h3lite grid, 5-6
hexagon vertices under the real-H3 backend — conservative soundness is
corner-count-independent.

Reference parity: this replaces the hand-rolled build+probe hash joins
(DeltaLogProcessor.java:297-302 build, METSParser.java:375-407 probe)
with real Catalyst broadcast joins; the full/partial split mirrors the
reference's skip-work-you-can-prove-done discipline (its dlog rename
state machine, PairtreeToCassandraDataSyncker.java:205-220).
"""

from __future__ import annotations

import hashlib
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..geo import geometry as G
from ..geo.backend import H3LiteBackend, get_backend
from ..session import broadcast_threshold, fits_driver, plan_bytes


def poly_rings(p: dict) -> list[np.ndarray]:
    """Normalize a polygon spec to its ring list as (N, 2) float64
    arrays. Accepts ``rings: [ring, ...]`` (holes / MultiPolygon,
    even-odd semantics) or the legacy single ``ring``.

    Zero-vertex rings are dropped outright: an empty ring is an
    even-odd no-op everywhere (``points_in_ring`` is all-False below 3
    vertices, and it contributes no bbox, edges, or corner parity), so
    dropping is decision-identical — and it keeps the ring preparation
    (which indexes ``ring[:, 0]``) total over tolerated spec input. The
    ``reshape(-1, 2)`` normalizes the empty list's ``(0,)`` shape."""
    rings = p["rings"] if "rings" in p else [p["ring"]]
    arrs = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in rings]
    return [a for a in arrs if len(a)]


# Smallest outward pad of a cell box, in the cover kernel and the per-cell
# edge filter alike: the encode maps a point to its cell through float
# arithmetic, so a point can sit a few ulps of 180° outside the box
# cell_corners reports (e.g. lat -1e-15 encodes into the row above 0).
# Padding keeps such a point's cell partial — refined exactly — wherever
# the polygon comes within the pad of the box.
_CELL_PAD_DEG = 1e-9

# (cell, edge) pairs per chunk, in the cover kernel and the per-cell edge
# filter alike. Sized on the table regime's cover build, four concurrent
# single-thread workers on a 4-core host, each covering and tabulating
# polygons_grid(10_000) in 2,500-polygon batches: 0.83 s per worker at
# 2^16 pairs, 0.93 s at 2^18, 0.97 s at 2^20 (the temporaries then
# stream through DRAM that the workers share); 2^14 is no faster.
_PAIR_CHUNK = 1 << 16


def _cell_boxes(cells: np.ndarray, be) -> tuple:
    """(corner lons, corner lats, lon0, lon1, lat0, lat1): the
    backend's cell corners (n, C) and their min/max box padded outward.
    The backend pad is 0 for h3lite (cells ARE lat/lon rectangles) and
    span²-scaled for real H3, whose geodesic hexagon edges bulge past
    the vertex min/max box (ADVICE r4); either way at least
    ``_CELL_PAD_DEG``. A larger box only demotes full→partial / keeps
    provably-disjoint cells, both sound directions."""
    c_lons, c_lats = be.cell_corners(cells)
    pad = np.maximum(be.bbox_pad_deg(c_lons, c_lats), _CELL_PAD_DEG)
    return (
        c_lons,
        c_lats,
        c_lons.min(axis=1) - pad,
        c_lons.max(axis=1) + pad,
        c_lats.min(axis=1) - pad,
        c_lats.max(axis=1) + pad,
    )


def _seam(r_lon: np.ndarray, r_lat: np.ndarray, u: np.ndarray) -> tuple | None:
    """(lon, lat_min, lat_max) of the meridian segment where
    geo.geometry.points_in_ring's parity for a closed ring (unwrapped
    lons ``u``) can change off the ring's edges, lon in [-180, 180),
    or None:

    - a polar cap's meridian ray counts its first and last edge at
      longitudes that agree only up to rounding, ``u[0]`` and ``u[-1]
      ∓ 360``: in a sliver about 1e-14° wide at the first vertex's lon,
      a point on the far side of that vertex crosses both edges or
      neither, so the sliver runs from the vertex to the far pole;
    - a normal ring a full turn wide or wider has edges on both sides
      of its frame seam ``c + 180``, where a point's frame shift
      jumps by 360°.

    The cover kernel seeds the segment and tests it as one more edge
    box, so a cell it passes through is refined, never taken whole."""
    if len(u) < 4:
        return None
    if int(round((u[-1] - u[0]) / 360.0)) != 0:
        lon = u[0]
        lat0, lat1 = (-90.0, r_lat[0]) if np.mean(r_lat[:-1]) > 0.0 else (r_lat[0], 90.0)
    elif u.max() - u.min() >= 360.0:
        lon = 0.5 * (u.min() + u.max()) + 180.0
        lat0, lat1 = r_lat.min(), r_lat.max()
    else:
        return None
    return float((lon + 180.0) % 360.0 - 180.0), float(lat0), float(lat1)


# One struct per ring edge, in two arrays per cover row: normal-ring
# edges carry their ring's frame centre ``c``, polar-cap edges the
# frame origin ``lo`` and the enclosed pole (``north``).
_EDGE_TYPE = pa.struct([(f, pa.float64()) for f in ("x1", "y1", "x2", "y2", "c")])
_CAP_EDGE_TYPE = pa.struct(
    [(f, pa.float64()) for f in ("x1", "y1", "x2", "y2", "lo")] + [("north", pa.bool_())]
)


class _Rings(NamedTuple):
    """Every polygon's rings, prepared once for the cover kernel and the
    per-cell edge filter. Each item list is a dict of columns in polygon
    order plus its CSR offsets per polygon: ``e``/``eoff`` normal-ring
    edges (x1, y1, x2, y2, c), ``k``/``koff`` polar-cap edges (x1, y1,
    x2, y2, lo, north), ``seam``/``soff`` the :func:`_seam` segments
    (x, y0, y1), ``box``/``boff`` the ring bboxes of G.ring_bbox (lon0,
    lat0, lon1, lat1); ``caps`` is the odd-cap-count bit per polygon."""

    e: dict
    eoff: np.ndarray
    k: dict
    koff: np.ndarray
    seam: dict
    soff: np.ndarray
    box: dict
    boff: np.ndarray
    caps: np.ndarray


def _prep_rings(rings_list: list[list[np.ndarray]]) -> _Rings:
    """Every polygon's rings → :class:`_Rings`, with the ring preparation
    of geo.geometry.points_in_ring (twinned by
    plans/catalog.py:pip_crossing_oracle_sql): open rings are closed,
    rings under 3 vertices dropped (they contain nothing), longitudes
    unwrapped. A planar ring — every step of the closed ring in [-180,
    180), less than a turn wide — unwraps to itself and has no seam, so
    all of them are prepared in a few numpy passes over one flat vertex
    array; only antimeridian rings and polar caps go through
    G.unwrap_ring one at a time."""
    kept = [(i, r) for i, rs in enumerate(rings_list) for r in rs if len(r) >= 3]
    poly = np.array([i for i, _ in kept], dtype=np.int64)
    # per item kind, (ring ids, columns) parts in any ring order
    norm, caps, seams, boxes = [], [], [], []
    loop = range(0)
    if kept:
        v = np.concatenate([r for _, r in kept])
        lon, lat = np.ascontiguousarray(v[:, 0]), np.ascontiguousarray(v[:, 1])
        lens = np.array([len(r) for _, r in kept])
        beg = np.cumsum(lens) - lens
        last = beg + lens - 1
        n_e = lens - ((lon[beg] == lon[last]) & (lat[beg] == lat[last]))
        ring, a = _pairs(beg, n_e)
        b = np.where(a == last[ring], beg[ring], a + 1)  # an open ring's closing edge
        dx = lon[b] - lon[a]
        lo, hi = np.minimum.reduceat(lon, beg), np.maximum.reduceat(lon, beg)
        steps_ok = np.logical_and.reduceat((dx >= -180.0) & (dx < 180.0), np.cumsum(n_e) - n_e)
        planar = steps_ok & (hi - lo < 360.0)
        m, q = planar[ring], np.nonzero(planar)[0]
        a, b = a[m], b[m]
        norm.append((ring[m], {"x1": lon[a], "y1": lat[a], "x2": lon[b], "y2": lat[b], "c": (0.5 * (lo + hi))[ring[m]]}))
        boxes.append(
            (
                q,
                {
                    "lon0": ((lo[q] + 180.0) % 360.0) - 180.0,
                    "lat0": np.minimum.reduceat(lat, beg)[q],
                    "lon1": ((hi[q] + 180.0) % 360.0) - 180.0,
                    "lat1": np.maximum.reduceat(lat, beg)[q],
                },
            )
        )
        loop = np.nonzero(~planar)[0]
    for q in loop:
        r = kept[q][1]
        r_lon, r_lat = G.close_ring(r[:, 0], r[:, 1])
        u = G.unwrap_ring(r_lon)
        n = len(u) - 1
        cols = {"x1": u[:-1], "y1": r_lat[:-1], "x2": u[1:], "y2": r_lat[1:]}
        if int(round((u[-1] - u[0]) / 360.0)) != 0:
            cols.update(lo=np.full(n, u.min()), north=np.full(n, bool(np.mean(r_lat[:-1]) > 0.0)))
            caps.append((np.full(n, q), cols))
        else:
            cols.update(c=np.full(n, 0.5 * (u.min() + u.max())))
            norm.append((np.full(n, q), cols))
        boxes.append(([q], dict(zip(("lon0", "lat0", "lon1", "lat1"), ([x] for x in G.ring_bbox(r[:, 0], r[:, 1]))))))
        s = _seam(r_lon, r_lat, u)
        if s is not None:
            seams.append(([q], {"x": [s[0]], "y0": [s[1]], "y1": [s[2]]}))

    def by_poly(parts, fields):
        """Parts → columns in ring order + CSR offsets over polygons."""
        rr = np.concatenate([np.asarray(p[0], dtype=np.int64) for p in parts] + [np.zeros(0, np.int64)])
        order = np.argsort(rr, kind="stable")
        cols = {
            f: np.concatenate([np.asarray(p[1][f]) for p in parts] + [np.zeros(0, bool if f == "north" else float)])[order]
            for f in fields
        }
        return cols, np.concatenate([[0], np.cumsum(np.bincount(poly[rr], minlength=len(rings_list)))])

    cap_rings = np.bincount(poly[np.array([p[0][0] for p in caps], dtype=np.int64)], minlength=len(rings_list))
    return _Rings(
        *by_poly(norm, ("x1", "y1", "x2", "y2", "c")),
        *by_poly(caps, ("x1", "y1", "x2", "y2", "lo", "north")),
        *by_poly(seams, ("x", "y0", "y1")),
        *by_poly(boxes, ("lon0", "lat0", "lon1", "lat1")),
        cap_rings % 2 == 1,
    )


def _pairs(beg: np.ndarray, cnt: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """CSR gather → (row, edge) index pairs: row i with edges
    ``beg[i] .. beg[i] + cnt[i] - 1``."""
    row = np.repeat(np.arange(len(cnt)), cnt)
    return row, np.arange(len(row)) + np.repeat(beg - (np.cumsum(cnt) - cnt), cnt)


def _chunks(cnt: np.ndarray):
    """Row ranges (s, t) holding at most ``_PAIR_CHUNK`` pairs each (or
    one row), for rows with ``cnt`` pairs each."""
    ends = np.cumsum(cnt)
    s = 0
    while s < len(cnt):
        t = max(s + 1, int(np.searchsorted(ends, ends[s] - cnt[s] + _PAIR_CHUNK, side="right")))
        yield s, t
        s = t


def _meets_mod360(a0, a1, b0, b1):
    """Does [a0, a1] + 360·m meet [b0, b1] for some integer m? Place the
    copy of [a0, a1] that starts at or before b0 less than a turn away:
    [b0, b1] meets it, or reaches the start of the next copy."""
    r = (b0 - a0) % 360.0
    return (r <= a1 - a0) | (r + (b1 - b0) >= 360.0)


def _normal_crossings(px, py, x1, y1, x2, y2, c):
    """Does the +lon ray from each point (px, py) cross its normal-ring
    edge? geo.geometry.points_in_ring's planar test, operation for
    operation, with its conditional frame shift by the ring's centre
    ``c`` (the numpy twin of :func:`_crossing_sql`)."""
    delta = px - c
    need = (delta < -180.0) | (delta >= 180.0)
    if need.any():
        px = np.where(need, c + ((delta + 180.0) % 360.0 - 180.0), px)
    # a horizontal edge divides by 0 and huge quotients overflow: the
    # straddle test masks both
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    return ((y1 > py) != (y2 > py)) & (px < xint)


def _cap_crossings(px, py, x1, y1, x2, y2, lo, north):
    """Does the meridian ray from each point (px, py) toward its cap's
    enclosed pole cross its cap edge, the point's lon tried at the
    shifts {0, ±360} from the frame origin ``lo``?
    geo.geometry.points_in_ring's cap test, operation for operation."""
    p = lo + ((px - lo) % 360.0)
    out = np.zeros(np.broadcast(px, x1).shape, dtype=bool)
    for shift in (0.0, 360.0, -360.0):
        pp = p + shift
        spans = ((x1 <= pp) & (pp < x2)) | ((x2 <= pp) & (pp < x1))
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            yc = y1 + np.where(x2 != x1, (pp - x1) / (x2 - x1), 0.0) * (y2 - y1)
        out |= spans & np.where(north, yc > py, yc < py)
    return out


def _meets_shifted(a0, a1, x0, x1):
    """Does lon span [a0, a1] meet [x0, x1] at a shift of {0, ±360}?"""
    return ((a0 - 360.0 <= x1) & (a1 - 360.0 >= x0)) | ((a0 <= x1) & (a1 >= x0)) | ((a0 + 360.0 <= x1) & (a1 + 360.0 >= x0))


def _cell_tests(cells: np.ndarray, pidx: np.ndarray, rg: _Rings, be) -> tuple[np.ndarray, np.ndarray]:
    """The two tests :func:`_cover` classifies by, for cover rows (cell,
    polygon ``pidx`` of ``rg``) → (inside (n, C): each cell corner's
    even-odd containment, exactly geo.geometry.points_in_rings; hit (n,):
    some ring edge or seam box meets the cell's :func:`_cell_boxes` box
    at a lon shift of {0, ±360}).

    Both run over flat (row, edge) pairs of each row with its polygon's
    items, in chunks of ``_PAIR_CHUNK`` pairs. A pair enters the tests
    only if it can decide something: a normal edge whose lat span meets
    the cell box's, a cap edge whose lon span meets the box modulo 360
    (widened by the pad, past any rounding) and that reaches its pole
    side."""
    e, k, sm = rg.e, rg.k, rg.seam
    e_cnt, k_cnt, s_cnt = np.diff(rg.eoff), np.diff(rg.koff), np.diff(rg.soff)
    ey_lo, ey_hi = np.minimum(e["y1"], e["y2"]), np.maximum(e["y1"], e["y2"])
    ex_lo, ex_hi = np.minimum(e["x1"], e["x2"]), np.maximum(e["x1"], e["x2"])
    ky_lo, ky_hi = np.minimum(k["y1"], k["y2"]), np.maximum(k["y1"], k["y2"])
    kx_lo, kx_hi = np.minimum(k["x1"], k["x2"]), np.maximum(k["x1"], k["x2"])
    n = len(cells)
    inside, hit = [], np.zeros(n, dtype=bool)
    for s, t in _chunks(e_cnt[pidx] + k_cnt[pidx] + s_cnt[pidx]):
        p = pidx[s:t]
        c_lons, c_lats, lon0, lon1, lat0, lat1 = _cell_boxes(cells[s:t], be)
        nc = c_lons.shape[1]
        crossed = [np.zeros(0, dtype=np.int64)]
        r, j = _pairs(rg.eoff[p], e_cnt[p])
        m = (ey_lo[j] <= lat1[r]) & (ey_hi[j] >= lat0[r])
        r, j = r[m], j[m]
        hit[s + r[_meets_shifted(lon0[r], lon1[r], ex_lo[j], ex_hi[j])]] = True
        pi, ci = np.nonzero(_normal_crossings(c_lons[r], c_lats[r], *(e[f][j][:, None] for f in ("x1", "y1", "x2", "y2", "c"))))
        crossed.append(r[pi] * nc + ci)
        if len(k["lo"]):
            r, j = _pairs(rg.koff[p], k_cnt[p])
            m = _meets_mod360(lon0[r] - _CELL_PAD_DEG, lon1[r] + _CELL_PAD_DEG, kx_lo[j], kx_hi[j])
            m &= np.where(k["north"][j], ky_hi[j] >= lat0[r], ky_lo[j] <= lat1[r])
            r, j = r[m], j[m]
            m = (lat0[r] <= ky_hi[j]) & (lat1[r] >= ky_lo[j]) & _meets_shifted(lon0[r], lon1[r], kx_lo[j], kx_hi[j])
            hit[s + r[m]] = True
            cols = (k[f][j][:, None] for f in ("x1", "y1", "x2", "y2", "lo", "north"))
            pi, ci = np.nonzero(_cap_crossings(c_lons[r], c_lats[r], *cols))
            crossed.append(r[pi] * nc + ci)
        if len(sm["x"]):
            r, j = _pairs(rg.soff[p], s_cnt[p])
            x = sm["x"][j]
            hit[s + r[(lat0[r] <= sm["y1"][j]) & (lat1[r] >= sm["y0"][j]) & _meets_shifted(lon0[r], lon1[r], x, x)]] = True
        odd = np.bincount(np.concatenate(crossed), minlength=(t - s) * nc).reshape(t - s, nc) % 2 == 1
        inside.append(odd != rg.caps[p][:, None])
    return (np.concatenate(inside) if inside else np.zeros((0, 1), dtype=bool)), hit


def _cover(rg: _Rings, res: int, res_max: int, be, expand_gap: int = 0) -> tuple:
    """Adaptive covers of every polygon of ``rg`` → flat rows (cell
    int64[], polygon index int64[], full bool[]), grouped by polygon —
    the one cover kernel of both regimes.

    Each polygon seeds at ``be.seed_res`` of its widest ring bbox (levels
    whose cells dwarf the polygon emit no full cell and only subdivide a
    small all-partial frontier), with the cells of its ring bboxes and
    seam segments; every level then classifies the whole (polygon, cell)
    frontier at once, emits the full cells and subdivides the partial
    ones, and ``res_max`` emits the partial cells left. ``expand_gap``
    expands full cells found within that many levels of ``res_max`` down
    to ``res_max``: the table regime passes 3 so parcel-scale covers come
    out single-level, while the broadcast regime keeps its covers
    compacted (O(perimeter)) and decides its flat probe globally in
    :func:`_cover_artifacts`.

    Classification is conservative-exact, against the backend's cell
    polygon (4 rectangle corners for h3lite, 5-6 hexagon vertices for
    real H3) and its :func:`_cell_boxes` box:

    - full: every corner inside (even-odd over the rings) and no ring
      edge or seam box meets the cell box at lon shifts {0, ±360}.
      Parity changes only across an edge or a seam, so a cell no edge
      touches has constant parity and its corners decide it; a cell
      wholly inside a hole has even corners and is dropped;
    - partial: not full, and some corner inside or some edge box met;
    - dropped otherwise (a polygon inside a cell meets its box).

    Both tests are :func:`_cell_tests`; the corner test is
    geo.geometry.points_in_ring operation for operation, the numpy twin
    of the refine's :func:`_crossing_sql`."""
    n_poly = len(rg.caps)
    sm, bx = rg.seam, rg.box
    bpoly = np.repeat(np.arange(n_poly), np.diff(rg.boff))
    spoly = np.repeat(np.arange(n_poly), np.diff(rg.soff))
    # the seed level: ring_bbox marks a dateline-crossing box with
    # lon0 > lon1, whose true width is (lon1 - lon0) + 360
    w = bx["lon1"] - bx["lon0"]
    dlon, dlat = np.zeros(n_poly), np.zeros(n_poly)
    np.maximum.at(dlon, bpoly, np.where(w >= 0.0, w, w + 360.0))
    np.maximum.at(dlat, bpoly, bx["lat1"] - bx["lat0"])
    r_start = np.asarray(be.seed_res(dlon, dlat, res, res_max), dtype=np.int64)
    # seeds: the ring bboxes' cells and the seams' (a cap's seam runs
    # outside its pole-side bbox), unique per polygon
    seed_poly = np.concatenate([bpoly, spoly])
    cells, i = be.cover_bbox(
        np.concatenate([bx["lon0"], sm["x"] - _CELL_PAD_DEG]),
        np.concatenate([bx["lat0"], sm["y0"]]),
        np.concatenate([bx["lon1"], sm["x"] + _CELL_PAD_DEG]),
        np.concatenate([bx["lat1"], sm["y1"]]),
        r_start[seed_poly],
    )
    pidx = seed_poly[i]
    order = np.lexsort((cells, pidx))
    cells, pidx = cells[order], pidx[order]
    keep = np.concatenate([[True], (pidx[1:] != pidx[:-1]) | (cells[1:] != cells[:-1])])[: len(cells)]
    seeds, seed_pidx = cells[keep], pidx[keep]
    seed_res = r_start[seed_pidx]

    out = [(np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool))]
    f_cells, f_pidx = np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    for level in range(int(seed_res.min(initial=res_max + 1)), res_max + 1):
        inject = seed_res == level
        f_cells, f_pidx = np.concatenate([f_cells, seeds[inject]]), np.concatenate([f_pidx, seed_pidx[inject]])
        if not len(f_cells):
            continue
        inside, hit = _cell_tests(f_cells, f_pidx, rg, be)
        full = inside.all(axis=1) & ~hit
        partial = ~full & (hit | inside.any(axis=1))
        fc, fp = f_cells[full], f_pidx[full]
        if len(fc) and expand_gap and res_max - expand_gap <= level < res_max:
            for _ in range(res_max - level):
                fc, par = be.cells_to_children(fc)
                fp = fp[par]
        out.append((fc, fp, np.ones(len(fc), dtype=bool)))
        f_cells, f_pidx = f_cells[partial], f_pidx[partial]
        if level == res_max:
            out.append((f_cells, f_pidx, np.zeros(len(f_cells), dtype=bool)))
        elif len(f_cells):
            f_cells, par = be.cells_to_children(f_cells)
            f_pidx = f_pidx[par]
    cells, pidx, full = (np.concatenate(x) for x in zip(*out))
    order = np.argsort(pidx, kind="stable")
    return cells[order], pidx[order], full[order]


def build_cell_cover(
    polys: list[dict], res: int, res_max: int | None = None, backend=None
) -> pd.DataFrame:
    """Driver-side adaptive polygon index: (cell:int64, poly_id:str,
    full:bool). ``res`` is the coarsest level; ``res_max`` (default
    res+5) the boundary-shell level — partial cells only exist there.

    ``polys``: [{poly_id, ring: [(lon, lat), ...]}, ...] or
    [{poly_id, rings: [ring, ...]}, ...] for polygons with holes /
    MultiPolygons (even-odd over the ring list).

    ``backend``: a geo.backend cell-index backend (default h3lite);
    subdivision uses its child tree (aperture 4 or 7).
    """
    be = backend or H3LiteBackend()
    if res_max is None:
        res_max = min(res + 5, be.res_max)
    cells, pidx, full = _cover(_prep_rings([poly_rings(p) for p in polys]), res, res_max, be)
    ids = np.array([str(p["poly_id"]) for p in polys], dtype=object)
    return pd.DataFrame({"cell": cells, "poly_id": ids[pidx], "full": full})


def _polys_key(polys: list[dict], res: int, res_max: int, backend_name: str) -> str:
    """Content hash of a polygon set + resolution band + backend — the
    memo key for driver-side index artifacts."""
    h = hashlib.md5()
    for p in polys:
        h.update(str(p.get("poly_id")).encode())
        rs = poly_rings(p)
        # ring/vertex counts delimit the undelimited coordinate bytes:
        # without them, one quad and two 2-vertex segments with the
        # same flat vertex walk would collide to the same key and
        # silently reuse the wrong memoized cover
        h.update(f"|{len(rs)}".encode())
        for r in rs:
            h.update(f"|{len(r)}|".encode())
            h.update(r.tobytes())
    h.update(f"|{res}|{res_max}|{backend_name}".encode())
    return h.hexdigest()


# The broadcast cover frame, memoized per (session, polygon content, res
# band). A long-running service (the reference's ingester daemon is one —
# Ingester.java:332-341 loops forever on a 10s poll) builds the polygon
# index ONCE and reuses it for every micro-batch; rebuilding it per query
# invocation measured ~0.25-1.4 s of pure driver-side fixed cost (the
# round-3 flagship bench regression). Bounded: a long-lived service
# cycling through MANY distinct polygon sets evicts oldest-first (dict
# order). An entry is a local relation and holds no executor state, so
# eviction just drops it; None records a table past the broadcast
# threshold (the threshold is part of the key).
_ARTIFACT_MEMO: dict[tuple, tuple | None] = {}
_ARTIFACT_MEMO_MAX = 64

# Flat-probe ceiling: when the cover expanded to its finest level stays
# under this many cells, probe with ONE encode at that level instead of
# an ancestor-chain explode (k levels → k× the point-side row count
# through the broadcast join). 2M rows × ~25 B ≈ 50 MB broadcast —
# comfortably inside Spark's broadcast envelope. Continental covers
# blow past it and keep the chain plan, which is the 100-TB scale path.
_FLAT_MAX_CELLS = 2_000_000


def _probe_cells(points: DataFrame, levels, be, lon_col: str, lat_col: str) -> DataFrame:
    """Point-side probe column, shared by both join regimes: a flat
    (single-level) cover gets ONE codegen encode with no row
    multiplication; a multi-level cover probes with its ancestor-chain
    cells (array + explode — narrow, whole-stage codegen). Cover
    levels are disjoint regions per polygon, so no duplicate hits."""
    if len(levels) == 1:
        return points.withColumn(
            "__cell", be.encode_col(lon_col, lat_col, int(levels[0]))
        )
    chain = F.array(*[be.encode_col(lon_col, lat_col, int(r)) for r in levels])
    return points.withColumn("__cell", F.explode(chain))


def _expand_cover(cells: np.ndarray, fine: int, be) -> tuple[np.ndarray, np.ndarray]:
    """Every cover cell's descendants at level ``fine`` via the
    backend's child tree → (cells, each one's source row). Full cells
    expand; partial cells already live at the finest level (factor 1)."""
    res = be.cell_res(cells)
    out_cell: list[np.ndarray] = []
    out_src: list[np.ndarray] = []
    for r in np.unique(res):
        src = np.nonzero(res == r)[0]
        c = cells[src]
        for _ in range(int(fine - r)):
            c, parent = be.cells_to_children(c)
            src = src[parent]
        out_cell.append(c)
        out_src.append(src)
    return np.concatenate(out_cell), np.concatenate(out_src)


# x of the stand-in edges that carry a cell's east-chain lat breakpoints:
# finite (so x2 - x1 is 0, not NaN) and east of every finite lon
_EAST_X = 1e300


def _cell_edges(cells: np.ndarray, pidx: np.ndarray, rg: _Rings, be, max_bytes=None) -> tuple | None:
    """Per-cell edge filter over flat (cell, edge) pairs: partial cover
    row i is paired with every edge of its polygon ``pidx[i]`` (the
    :class:`_Rings` columns ``e``/``k`` at offsets ``eoff``/``koff``),
    in chunks of at most ``_PAIR_CHUNK`` pairs → (normal-edge count
    per row, normal-edge columns, cap-edge count per row, cap-edge
    columns, parity bit per row), columns in row order; None as soon as
    the kept edges pass ``max_bytes``. For finite point coordinates the
    refine stays decision-identical: an edge is dropped only if no
    point of the cell can cross it, and replaced only by edges and a
    parity bit that every point of the cell crosses the same number
    of times, modulo 2.

    Normal ring (+lon ray, ``(y1 > lat) != (y2 > lat)`` straddle):

    - kept only if its lat span meets the cell's lat band (open-ended
      at a pole row, where the encode clamps lat) and is not
      horizontal (a horizontal edge straddles no lat);
    - the ray runs toward +lon, and a point's in-frame lon lies in the
      cell's box when the ring's frame shift cannot fire in the box (a
      raw lon a turn off the box is shifted back into it by the same
      rule), so the edge must reach ``max(x1, x2) ≥ lon_min`` — a test
      skipped where the shift can fire in the box;
    - an edge whose stretch inside the lat band lies east of the box
      (same frame condition) is crossed by a point of the cell exactly
      when it straddles the point's lat, i.e. once per breakpoint
      ``y_lo``, ``y_hi`` at or below that lat, modulo 2. Such edges
      become breakpoints: those below the band flip the parity bit,
      those above it drop, those inside that repeat an even number of
      times cancel (a chain of east edges keeps only its two ends), and
      the rest pair up, in lat order, into vertical stand-in edges at
      ``_EAST_X`` (an odd last one paired with +inf).

    Polar cap (meridian ray toward the enclosed pole, the point's lon
    tried at shifts {0, ±360}): kept only if its lon span is not empty
    and meets the box modulo 360, and it reaches the pole side of the
    lat band (``max(y1, y2) ≥ lat_min`` for a north cap, ``min(y1, y2)
    ≤ lat_max`` for a south one).

    Cell boxes are :func:`_cell_boxes`, as in :func:`_cover`; their
    ≥ 1e-9° pad dwarfs the few-ulp rounding of the encode and of the
    crossing arithmetic, which is what keeps these tests exact."""
    n = len(cells)
    e, eoff, k, koff = rg.e, rg.eoff, rg.k, rg.koff
    _, _, lon0, lon1, lat0, lat1 = _cell_boxes(cells, be)
    lat0 = np.where(lat0 <= -90.0, -np.inf, lat0)
    lat1 = np.where(lat1 >= 90.0, np.inf, lat1)
    y_lo, y_hi = np.minimum(e["y1"], e["y2"]), np.maximum(e["y1"], e["y2"])
    x_hi = np.maximum(e["x1"], e["x2"])
    kx_lo, kx_hi = np.minimum(k["x1"], k["x2"]), np.maximum(k["x1"], k["x2"])
    ky_lo, ky_hi = np.minimum(k["y1"], k["y2"]), np.maximum(k["y1"], k["y2"])
    e_cnt, k_cnt = np.diff(eoff)[pidx], np.diff(koff)[pidx]
    none = np.zeros(0, dtype=np.int64)
    rows_e, idx_e, rows_k, idx_k, bp_row, bp_val = [none], [none], [none], [none], [none], [np.zeros(0)]
    kept_bytes = 0
    for s, t in _chunks(e_cnt + k_cnt):
        r, j = _pairs(eoff[pidx[s:t]], e_cnt[s:t])
        r += s
        b0, b1 = lat0[r], lat1[r]
        m = (y_lo[j] < y_hi[j]) & (y_lo[j] <= b1) & (y_hi[j] >= b0)
        r, j, b0, b1 = r[m], j[m], b0[m], b1[m]
        a0, c = lon0[r], e["c"][j]
        framed = (a0 - c >= -180.0) & (lon1[r] - c < 180.0)
        m = ~framed | (x_hi[j] >= a0)
        r, j, b0, b1, framed = r[m], j[m], b0[m], b1[m], framed[m]
        x1, y1, x2, y2, lo, hi = e["x1"][j], e["y1"][j], e["x2"][j], e["y2"][j], y_lo[j], y_hi[j]
        # the edge's x where it enters and leaves the band
        x_in, x_out = (x1 + (np.clip(b, lo, hi) - y1) * (x2 - x1) / (y2 - y1) for b in (b0, b1))
        east = framed & (np.minimum(x_in, x_out) > lon1[r])
        rows_e.append(r[~east])
        idx_e.append(j[~east])
        bp_row.append(np.concatenate([r[east], r[east]]))
        bp_val.append(np.concatenate([lo[east], hi[east]]))
        r, j = _pairs(koff[pidx[s:t]], k_cnt[s:t])
        r += s
        m = (
            (kx_lo[j] < kx_hi[j])
            & _meets_mod360(lon0[r], lon1[r], kx_lo[j], kx_hi[j])
            & np.where(k["north"][j], ky_hi[j] >= lat0[r], ky_lo[j] <= lat1[r])
        )
        rows_k.append(r[m])
        idx_k.append(j[m])
        # Arrow bytes per edge: five doubles, plus a bool for a cap edge
        kept_bytes += 40 * len(rows_e[-1]) + 41 * len(rows_k[-1])
        if max_bytes is not None and kept_bytes > max_bytes:
            return None
    row, val = np.concatenate(bp_row), np.concatenate(bp_val)
    below = val <= lat0[row]
    parity = np.bincount(row[below], minlength=n) % 2 == 1
    inside = ~below & (val < lat1[row])
    row, val = row[inside], val[inside]
    order = np.lexsort((val, row))
    row, val = row[order], val[order]
    starts = np.nonzero(np.r_[True, (row[1:] != row[:-1]) | (val[1:] != val[:-1])])[0]
    odd = starts[np.diff(np.r_[starts, len(row)]) % 2 == 1]
    row, val = row[odd], val[odd]
    rows_e = np.concatenate(rows_e)
    cols_e = {f: v[np.concatenate(idx_e)] for f, v in e.items()}
    if len(row):
        # survivors pair up per cell in lat order, an odd last one with +inf
        same_next = np.r_[row[1:] == row[:-1], False]
        idx = np.arange(len(row))
        rank = idx - np.maximum.accumulate(np.where(np.r_[True, ~same_next[:-1]], idx, 0))
        lead = rank % 2 == 0
        y2 = np.where(same_next, np.r_[val[1:], np.inf], np.inf)[lead]
        m = len(y2)
        stand = {"x1": np.full(m, _EAST_X), "y1": val[lead], "x2": np.full(m, _EAST_X), "y2": y2, "c": np.zeros(m)}
        rows_e = np.concatenate([rows_e, row[lead]])
        cols_e = {f: np.concatenate([v, stand[f]]) for f, v in cols_e.items()}

    def by_row(rows, cols):
        order = np.argsort(rows, kind="stable")
        return np.bincount(rows, minlength=n), {f: v[order] for f, v in cols.items()}

    rows_k = np.concatenate(rows_k)
    cols_k = {f: v[np.concatenate(idx_k)] for f, v in k.items()}
    return (*by_row(rows_e, cols_e), *by_row(rows_k, cols_k), parity)


def _list_array(counts: np.ndarray, values: dict, typ: pa.StructType) -> pa.ListArray:
    """Per-row edge counts + edge columns (both in row order) → one
    Arrow list<struct> column."""
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    flat = pa.StructArray.from_arrays([pa.array(values[t.name], type=t.type) for t in typ], fields=list(typ))
    return pa.ListArray.from_arrays(offsets, flat)


def _edge_table(
    cells: np.ndarray, pidx: np.ndarray, full: np.ndarray, rg: _Rings, ids: list[str], be, max_bytes=None
) -> pa.Table | None:
    """The cover of both regimes as an Arrow table: (cell, poly_id,
    full, parity, edges, cap_edges), one row per cover row (cell,
    polygon ``pidx`` of ``rg``, whose poly_id is in ``ids``,
    full). Partial rows carry their cell's filtered ring edges
    (:func:`_cell_edges`) and the parity of the polygon's cap rings and
    of the cell's folded edges; full rows, first, carry none (the
    predicate never reads them). None as soon as the kept edges alone
    pass ``max_bytes`` — a broadcast cover then belongs in the table
    regime."""
    n_full = int(full.sum())
    order = np.concatenate([np.nonzero(full)[0], np.nonzero(~full)[0]])
    part = order[n_full:]
    got = _cell_edges(cells[part], pidx[part], rg, be, max_bytes)
    if got is None:
        return None
    n_e, v_e, n_k, v_k, fold = got
    pid = pidx[order]
    none = np.zeros(n_full, dtype=np.int64)
    return pa.table(
        {
            "cell": pa.array(cells[order], pa.int64()),
            "poly_id": pa.array(np.asarray(ids, dtype=object)[pid], pa.string()),
            "full": pa.array(full[order]),
            "parity": pa.array(rg.caps[pid] ^ np.concatenate([none.astype(bool), fold])),
            "edges": _list_array(np.concatenate([none, n_e]), v_e, _EDGE_TYPE),
            "cap_edges": _list_array(np.concatenate([none, n_k]), v_k, _CAP_EDGE_TYPE),
        }
    )


def _rem360(x: str) -> str:
    """numpy's float ``x % 360.0`` in Spark SQL: Spark's ``%`` is fmod,
    numpy's adds the divisor to a negative fmod result. (``pmod``
    differs where ``r + 360`` rounds to 360, and a floor form is not
    bit-identical either.)"""
    return f"(CASE WHEN ({x}) % 360.0D < 0.0D THEN ({x}) % 360.0D + 360.0D ELSE ({x}) % 360.0D END)"


def _crossing_sql(lon: str, lat: str) -> tuple[str, str]:
    """Does the ray from point (lon, lat) cross edge ``__e``? Twin of
    geo.geometry.points_in_ring per edge, as (normal-ring edge,
    cap-ring edge). Normal ring: the +lon ray of
    _points_in_ring_planar with the conditional frame shift. Cap ring:
    the meridian ray toward the enclosed pole over the shifts {0, ±360}.
    The normal test keeps its straddle check FIRST: AND short-circuits,
    and with ANSI on a horizontal edge's zero ``y2 - y1`` would raise."""
    d = f"({lon} - __e.c)"
    plon = (
        f"(CASE WHEN {d} >= -180.0D AND {d} < 180.0D THEN {lon}"
        f" ELSE __e.c + ({_rem360(f'{d} + 180.0D')} - 180.0D) END)"
    )
    normal = (
        f"(((__e.y1 > {lat}) != (__e.y2 > {lat})) AND {plon} <"
        f" __e.x1 + ({lat} - __e.y1) * (__e.x2 - __e.x1) / (__e.y2 - __e.y1))"
    )
    p = f"(__e.lo + {_rem360(f'{lon} - __e.lo')})"

    def cap_hit(pp: str) -> str:
        spans = f"((__e.x1 <= {pp} AND {pp} < __e.x2) OR (__e.x2 <= {pp} AND {pp} < __e.x1))"
        t = f"(CASE WHEN __e.x2 != __e.x1 THEN ({pp} - __e.x1) / (__e.x2 - __e.x1) ELSE 0.0D END)"
        ycross = f"(__e.y1 + {t} * (__e.y2 - __e.y1))"
        return f"({spans} AND (CASE WHEN __e.north THEN {ycross} > {lat} ELSE {ycross} < {lat} END))"

    return normal, " OR ".join(cap_hit(pp) for pp in (p, f"({p} + 360.0D)", f"({p} - 360.0D)"))


def _inside(lon_col: str, lat_col: str):
    """The refine predicate over a candidate row: a full cell matches
    outright; a partial one is inside iff its parity bit XOR the parity
    of the crossings over its edges is odd (even-odd over the rings, a
    cap counting as inside at EVEN crossings, a folded edge as one
    crossing). Built as SQL text: one parse instead of a py4j round
    trip per expression node."""
    lon, lat = (f"`{c.replace('`', '``')}`" for c in (lon_col, lat_col))
    normal, cap = _crossing_sql(lon, lat)
    crossings = (
        f"aggregate(edges, false, (__acc, __e) -> __acc != {normal})"
        f" != aggregate(cap_edges, false, (__acc, __e) -> __acc != ({cap}))"
    )
    return F.expr(f"full OR (parity != ({crossings}))")


def _cover_artifacts(
    spark: SparkSession, polys: list[dict], res: int, res_max: int, backend=None
) -> tuple | None:
    """(cover_df, levels) for a polygon set, memoized; ``cover_df`` is
    None when the cover is empty. None when the broadcast table does
    not fit ``spark.sql.autoBroadcastJoinThreshold`` (the session.py
    gate), so the polygon set belongs in the table regime."""
    be = backend or H3LiteBackend()
    budget = broadcast_threshold(spark)
    key = (spark.sparkContext.applicationId, _polys_key(polys, res, res_max, be.name), budget)
    if key in _ARTIFACT_MEMO:
        return _ARTIFACT_MEMO[key]
    rings = _prep_rings([poly_rings(p) for p in polys])
    cells, pidx, full = _cover(rings, res, res_max, be)
    art: tuple | None = (None, [])
    if len(cells):
        # flat-probe rewrite: single-level cover ⇒ one codegen encode on
        # the point side and NO explode (the chain plan multiplies every
        # point row by the number of cover levels)
        res_present = be.cell_res(cells)
        fine = int(res_present.max())
        expanded_n = int(
            (float(be.aperture) ** (fine - res_present)).sum()
        )
        if expanded_n <= _FLAT_MAX_CELLS and (res_present != fine).any():
            cells, src = _expand_cover(cells, fine, be)
            pidx, full = pidx[src], full[src]
        ids = [str(p["poly_id"]) for p in polys]
        tab = _edge_table(cells, pidx, full, rings, ids, be, budget) if budget > 0 else None
        art = (
            (
                spark.createDataFrame(tab),
                np.unique(be.cell_res(cells)).tolist(),
            )
            if fits_driver(spark, None if tab is None else tab.nbytes, budget)
            else None
        )
    while len(_ARTIFACT_MEMO) >= _ARTIFACT_MEMO_MAX:
        _ARTIFACT_MEMO.pop(next(iter(_ARTIFACT_MEMO)))  # dicts keep insertion order
    _ARTIFACT_MEMO[key] = art
    return art


def pip_join(
    spark: SparkSession,
    points: DataFrame,
    polys: list[dict],
    res: int = 7,
    res_max: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    backend=None,
) -> DataFrame:
    """points ⋈ polygons containment join.

    ``backend``: a geo.backend cell index (name or backend object;
    default the h3lite arithmetic grid — bit-stable, DuckDB-twinned).
    Pass ``"h3"`` (requires the h3 wheel) to index with real H3 cells:
    the cover, subdivision, and probe all follow the hexagonal
    aperture-7 tree, and the point-side encode becomes an
    Arrow-vectorized UDF (no SQL twin — results remain exact because
    the refine stage is the same ray-cast either way).

    ``polys`` entries carry either a single ``ring`` or ``rings`` —
    a list of rings with even-odd semantics (outer shells, holes,
    MultiPolygon parts all in one flat list; a point is inside iff
    inside an odd number of rings).

    Returns ``points``' columns + ``poly_id``, one row per (point,
    containing polygon). Points outside every polygon are dropped
    (inner-join semantics, like the reference's unmatched-zip-entry drop
    at HectorManager.java:508-510 — track drops with a left_anti if
    needed).
    """
    be = get_backend(backend) if isinstance(backend, (str, type(None))) else backend
    if res_max is None:
        res_max = min(res + 5, be.res_max)
    art = None
    if fits_driver(spark, len(polys), _TABLE_POLYS_BUDGET):
        art = _cover_artifacts(spark, polys, res, res_max, backend=be)
    if art is None:
        # cover-as-table spill-over (SCALE.md): past the polygon budget,
        # or with a broadcast table past the broadcast threshold, the
        # serial cover build + broadcast is the wrong regime — build
        # the cover distributed and probe with a cell-keyed shuffle
        # join of the skeleton. Same cover kernel and refine, identical
        # results. That regime persists and repartitions the point
        # side, which a streaming frame cannot do.
        if points.isStreaming:
            raise ValueError(
                "pip_join on a streaming point frame needs the broadcast regime: at most "
                f"{_TABLE_POLYS_BUDGET} polygons, a cover table within "
                "spark.sql.autoBroadcastJoinThreshold, and no spark.htrc.forceDistributed"
            )
        return pip_join_table(
            spark,
            points,
            polys_to_wkb_df(spark, polys),
            res=res,
            res_max=res_max,
            lon_col=lon_col,
            lat_col=lat_col,
            backend=be,
        )
    cover_df, levels = art
    if cover_df is None:
        return points.withColumn("poly_id", F.lit(None).cast("string")).where(F.lit(False))

    # ONE broadcast equi-join for all cover levels, refined in the same
    # scan: full cells match outright, partial cells ray-cast their
    # edges natively (_inside)
    probe = _probe_cells(points, levels, be, lon_col, lat_col)
    return (
        probe.join(F.broadcast(cover_df), F.col("__cell") == F.col("cell"), "inner")
        .where(_inside(lon_col, lat_col))
        .drop("cell", "full", "parity", "edges", "cap_edges", "__cell")
    )


# ---------------------------------------------------------------------------
# Cover-as-table regime: polygon sets past the driver/broadcast envelope
# (VERDICT r4 #1; SCALE.md's documented spill-over for the broadcast
# index). The polygon side becomes a DataFrame, the broadcast regime's
# cover table is built DISTRIBUTED (mapInArrow over the same
# _cover and _edge_table kernels), and the probe becomes a
# cell-keyed shuffle join of the point SKELETON, refined by the same
# _inside predicate. A user with 10^6 parcels/census polygons never
# touches the driver loop or the broadcast ceiling.
# ---------------------------------------------------------------------------

# past this many polygons, pip_join() auto-dispatches to the table
# regime instead of the serial driver build + broadcast
_TABLE_POLYS_BUDGET = 4096

# cover-build task granularity: ~256 KiB of WKB (~2.5k parcel-sized
# polygons) per task — see the repartition comment in pip_join_table
_COVER_TASK_BYTES = 256 * 1024

# cache hygiene, table-regime twin of the broadcast regime's LRU memo:
# each pip_join_table call persists its cover (read by the level
# histogram and by the returned plan). A long-lived session issuing
# successive table-regime queries would strand one cached cover per
# call; keep the most recent few calls' covers and unpersist (never
# destroy — re-executing an old returned plan then recomputes instead
# of erroring) the rest.
_TABLE_CACHE_KEEP = 3
_TABLE_CACHE_LRU: list[DataFrame] = []


def _table_cache_register(cover: DataFrame) -> None:
    _TABLE_CACHE_LRU.append(cover)
    while len(_TABLE_CACHE_LRU) > _TABLE_CACHE_KEEP:
        try:
            _TABLE_CACHE_LRU.pop(0).unpersist(blocking=False)
        except Exception:
            pass


# the distributed cover's rows: _edge_table's columns plus the cell level
_COVER_SCHEMA = from_arrow_schema(
    pa.schema(
        [
            ("cell", pa.int64()),
            ("poly_id", pa.string()),
            ("full", pa.bool_()),
            ("parity", pa.bool_()),
            ("edges", pa.list_(_EDGE_TYPE)),
            ("cap_edges", pa.list_(_CAP_EDGE_TYPE)),
            ("res", pa.int32()),
        ]
    )
)

RINGS_SQL_TYPE = "array<array<array<double>>>"


def polys_to_df(spark: SparkSession, polys: list[dict]) -> DataFrame:
    """Polygon spec list → the (poly_id string, rings
    array<array<array<double>>>) DataFrame shape pip_join_table (and
    the WKT/GeoJSON/WKB loaders) speak. Rings keep even-odd semantics:
    shells, holes, and MultiPolygon parts in one flat list."""
    rows = [
        (
            str(p["poly_id"]),
            [[[float(x), float(y)] for x, y in np.asarray(r, dtype=np.float64)] for r in poly_rings(p)],
        )
        for p in polys
    ]
    return spark.createDataFrame(rows, f"poly_id string, rings {RINGS_SQL_TYPE}")


def _rings_from_cell(rr) -> list[np.ndarray]:
    """One DataFrame ``rings`` cell (nested lists/arrays from Arrow) →
    the list of (N, 2) float64 ring arrays the geometry kernel takes."""
    return [np.asarray([list(v) for v in r], dtype=np.float64).reshape(-1, 2) for r in rr]


def polys_to_wkb_df(spark: SparkSession, polys: list[dict]) -> DataFrame:
    """Polygon spec list → the (poly_id string, wkb binary) DataFrame
    shape pip_join_table runs natively. WKB is the regime's internal
    wire format: one compact binary cell per polygon through every
    exchange and cache, decoded to numpy INSIDE the executor kernels
    (geo.wkb.ring_arrays_to_wkb docstring has the flat-ring transport
    note). Building bytes driver-side is also cheaper than the nested
    list-of-lists polys_to_df builds — one tobytes per ring."""
    from ..geo.wkb import ring_arrays_to_wkb

    rows = [(str(p["poly_id"]), ring_arrays_to_wkb(poly_rings(p))) for p in polys]
    return spark.createDataFrame(rows, "poly_id string, wkb binary")


def _rings_df_to_wkb_df(polys_df: DataFrame) -> DataFrame:
    """(poly_id, rings) arrival → (poly_id, wkb) — one distributed
    pass over the nested column, after which nothing downstream ships
    or caches nested arrays. Hand pip_join_table a wkb frame directly
    (e.g. the raw GeoParquet scan) to skip even this pass."""
    from ..geo.wkb import ring_arrays_to_wkb

    def _enc(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    {
                        "poly_id": pdf["poly_id"].astype(str),
                        "wkb": [
                            ring_arrays_to_wkb(_rings_from_cell(rr))
                            for rr in pdf["rings"]
                        ],
                    }
                )

    return polys_df.mapInPandas(_enc, schema="poly_id string, wkb binary")


def pip_join_table(
    spark: SparkSession,
    points: DataFrame,
    polys_df: DataFrame,
    res: int = 7,
    res_max: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    backend=None,
) -> DataFrame:
    """points ⋈ polygons containment join with the polygon side as a
    DataFrame — the scale regime for polygon sets past the broadcast
    envelope. Accepts either polygon shape: ``(poly_id string, wkb
    binary)`` (the native wire — the raw GeoParquet geometry column,
    zero conversion) or ``(poly_id string, rings
    array<array<array<double>>>)`` (normalized to WKB in one
    distributed pass). Same semantics as :func:`pip_join` (even-odd
    over the ring list, inner-join drop of non-matching points,
    identical cover and refine kernels), different physical plan:

    0. **Binary-native polygon transport**: every exchange, cache, and
       Arrow batch carries polygons as ONE compact WKB cell; executors
       decode straight to numpy ring arrays (geo.wkb.wkb_to_ring_arrays
       — frombuffer, no per-vertex Python objects). Measured: shipping
       nested ``rings`` arrays instead inflated the cover stage's total
       executor time 24% going from 2 to 8 concurrent cores (allocation
       churn on the shared heap) — the binary path is what keeps the
       regime's N→4N scaling honest.
    1. **Distributed cover build**: one mapInArrow over the WKB polygon
       batches runs the kernels the broadcast regime runs on the driver
       — :func:`_cover` for the adaptive cover, then
       :func:`_edge_table` (no byte budget) for each partial row's
       filtered ring edges and parity bit — and yields the Arrow
       batches directly: per-polygon work, embarrassingly parallel, no
       driver loop. The cover (cell, poly_id, full, parity, edges,
       cap_edges, res) is hash-partitioned on cell and persisted: it IS
       the index.
    2. **Cell-keyed shuffle probe, refined in its own filter**: the
       point side encodes its cell(s) (one codegen encode per cover
       level; single-level covers pay no explode), equi-joins the cover
       on cell — a plain shuffle hash/sort-merge join Catalyst+AQE own
       (skew split, partition coalescing) — and the joined rows pass
       the broadcast regime's :func:`_inside` predicate: full cells
       match outright, partial cells ray-cast their own edges natively.
       No Python worker runs past the cover build. Pass the (id, lon,
       lat) SKELETON as ``points``: this regime shuffles the point
       side, so payload columns (image ``bytes``) must be joined back
       by id afterwards — the flagship discipline per the
       bounded-shuffle rule in BASELINE.json.

    At 10^12 points the plan is: one map-side encode, one shuffle of
    the skeleton keyed by cell, one native filter. No driver-side
    polygon loop and no broadcast of the cover.
    """
    be = get_backend(backend) if isinstance(backend, (str, type(None))) else backend
    if res_max is None:
        res_max = min(res + 5, be.res_max)
    r_lo, r_hi = res, res_max

    from ..geo.wkb import wkb_to_ring_arrays

    # normalize the polygon side to the binary wire shape (see point 0
    # of the docstring); a raw GeoParquet scan passes through untouched
    if "wkb" in polys_df.columns:
        polys_df = polys_df.select("poly_id", "wkb")
    elif "rings" in polys_df.columns:
        polys_df = _rings_df_to_wkb_df(polys_df.select("poly_id", "rings"))
    else:
        raise ValueError(
            "pip_join_table needs a 'wkb' (binary) or 'rings' "
            f"(array<array<array<double>>>) geometry column; got {polys_df.columns}"
        )

    def _decode_poly(pid, blob):
        try:
            if blob is None:  # a raw GeoParquet frame can carry NULLs
                raise ValueError("NULL geometry value")
            return wkb_to_ring_arrays(bytes(blob))
        except ValueError as exc:  # surface corruption with the row id
            raise ValueError(f"poly_id={pid!r}: {exc}") from exc

    def _cover_map(batches):
        for batch in batches:
            ids = [str(p) for p in batch.column("poly_id").to_pylist()]
            rings = _prep_rings([_decode_poly(p, blob) for p, blob in zip(ids, batch.column("wkb").to_pylist())])
            cells, pidx, full = _cover(rings, r_lo, r_hi, be, expand_gap=3)
            if len(cells):
                tab = _edge_table(cells, pidx, full, rings, ids, be)
                res_col = be.cell_res(tab.column("cell").to_numpy()).astype(np.int32)
                yield from tab.append_column("res", pa.array(res_col)).to_batches()

    # the polygon table has one consumer, the cover build, so it is not
    # persisted.
    #
    # Partition it FINE first when it is big: the cover kernel costs
    # ~ms per polygon — orders of magnitude more than shuffling its
    # ~100-byte WKB cell — so the stage wants 3-4 tasks/core
    # granularity, or the last wave runs partially idle (measured: a
    # 10^6-polygon catalog packed to 11 splits ran the 8-core cover
    # stage at 5.6/8 utilization — two waves, the second 3 tasks wide;
    # wall 182 s vs 128 s fixed). The round-robin repartition also
    # unclusters size-correlated catalog order (a region-sorted catalog
    # puts all the coastline-grade polygons in one split). The target is
    # SIZE-DRIVEN — ~256 KiB of WKB (~2.5k parcels) per task, clamped to
    # [parallelism, 4x parallelism] — so a 10^4-polygon table is NOT
    # shattered into micro-tasks (measured: an unconditional 4x/core
    # split cost the 10^4-poly bench entries ~2 s/run in shuffle+task
    # overhead). File scans — the arrivals that actually pack coarse —
    # report real stats; unknown stats (LocalRelation / converted-rings
    # lineage, both already sliced ~evenly by createDataFrame or the
    # upstream shuffle) just ensure one task per core.
    para = spark.sparkContext.defaultParallelism
    nbytes = plan_bytes(polys_df)
    if nbytes:
        want = max(para, min(4 * para, nbytes // _COVER_TASK_BYTES + 1))
    else:
        want = para
    if polys_df.rdd.getNumPartitions() < want:
        polys_df = polys_df.repartition(int(want))
    # the cover IS the index: partition it on the probe key once and
    # persist, so the level histogram and the probe (and successive
    # micro-batches against the same polys_df lineage) reuse one
    # materialization with the join-side distribution already in place
    cover = polys_df.mapInArrow(_cover_map, _COVER_SCHEMA).repartition("cell").persist()
    hist = cover.groupBy("res").count().collect()
    levels = sorted(int(r["res"]) for r in hist)
    if not levels:
        cover.unpersist()
        return points.withColumn("poly_id", F.lit(None).cast("string")).where(F.lit(False))

    # flat-probe rewrite, table-regime twin of the broadcast regime's
    # _FLAT_MAX_CELLS decision: a multi-level cover forces the point
    # side through a k-way ancestor-chain explode (k× the probe rows
    # through the shuffle join). When expanding every coarse full cell
    # to the finest level stays bounded, flatten the cover DISTRIBUTED
    # (one mapInArrow over the persisted cover — the same _expand_cover
    # child-tree walk the driver regime runs; only full rows, which
    # carry no edges, expand) and probe with ONE codegen encode.
    # Continental covers blow the budget and keep the chain plan — that
    # IS the 100-TB scale path, the explode trades probe rows for a
    # cover that stays O(perimeter).
    fine = levels[-1]
    if len(levels) > 1:
        expanded_n = sum(
            int(r["count"]) * float(be.aperture) ** (fine - int(r["res"]))
            for r in hist
        )
        if expanded_n <= _FLAT_MAX_CELLS:

            def _flat_map(batches):
                for batch in batches:
                    if batch.num_rows:
                        cells, src = _expand_cover(batch.column("cell").to_numpy(), fine, be)
                        yield (
                            batch.take(pa.array(src))
                            .set_column(0, "cell", pa.array(cells))
                            .set_column(6, "res", pa.array(np.full(len(cells), fine, dtype=np.int32)))
                        )

            flat = cover.mapInArrow(_flat_map, _COVER_SCHEMA).repartition("cell").persist()
            flat.count()
            cover.unpersist(blocking=False)
            cover = flat
            levels = [fine]
    _table_cache_register(cover)

    probe = _probe_cells(points, levels, be, lon_col, lat_col)
    return (
        probe.join(cover.drop("res").withColumnRenamed("cell", "__cell"), "__cell", "inner")
        .where(_inside(lon_col, lat_col))
        .drop("full", "parity", "edges", "cap_edges", "__cell")
    )
