"""H3-lite: a hierarchical geospatial cell index, pure numpy.

The real `h3` wheel is not available in this container, so this module
implements a res-limited lat/lon quantizer with the same API *shape*
(``latlng_to_cell``, ``cell_to_parent``, ``grid_disk``,
``cell_to_boundary``) as documented in SURVEY.md §7(c). Differences from
Uber H3 are deliberate and documented:

- cells are equirectangular lat/lon rectangles, not hexagons;
- aperture 4 (each parent splits into 2x2 children), not 7;
- cell IDs are a different (but stable, hierarchical) int64 packing.

What is PRESERVED — and what the engine actually relies on — is the
semantic contract: deterministic point→cell assignment, strict
hierarchical containment across resolutions, constant-time parent
derivation, neighbor enumeration with longitude wraparound, and an
int64 cell id that Spark/parquet handle natively.

Crucially the encode is *pure integer arithmetic*, so the exact same
formula is available three ways with bit-identical results:

1. vectorized numpy (this module) — used inside Arrow UDFs,
2. a Spark SQL column expression (``h3_sql_expr``) — whole-stage
   codegen, no Python in the hot path,
3. the same SQL string runs in DuckDB — giving the driver's oracle a
   hard value-level check on the spatial pipeline.

Grid layout at resolution r: nx = 2^(r+2) columns over lon [-180,180),
ny = 2^(r+1) rows over lat [-90,90]. Cell id packing (int64, always
positive): ``res*2^56 + x*2^28 + y``.

Reference parity note: the reference shards its keyspace with an
MD5-mod-N hash of the pairtree path (Util.java:86-103, Ingester.java:
303-319); here the spatial cell id plays that role — the partition key
IS a function of the data, content-addressed exactly like the pairtree
(DeltaLogParser.java:336-350).
"""

from __future__ import annotations

import numpy as np

RES_MIN = 0
RES_MAX = 15
_RES_SHIFT = 56
_X_SHIFT = 28
_XY_MASK = (1 << 28) - 1

EARTH_RADIUS_M = 6_371_008.8
M_PER_DEG_LAT = EARTH_RADIUS_M * np.pi / 180.0  # ~111,194.93 m


def nx(res: int) -> int:
    """Number of longitude columns at resolution ``res``."""
    return 1 << (res + 2)


def ny(res: int) -> int:
    """Number of latitude rows at resolution ``res``."""
    return 1 << (res + 1)


def cell_w_deg(res: int) -> float:
    return 360.0 / nx(res)


def cell_h_deg(res: int) -> float:
    return 180.0 / ny(res)


def normalize_lon(lon):
    """Wrap longitude into [-180, 180). Vectorized."""
    return (np.asarray(lon, dtype=np.float64) + 180.0) % 360.0 - 180.0


def latlng_to_cell(lat, lng, res: int):
    """Encode lat/lng (degrees) to an int64 cell id at ``res``.

    Vectorized: accepts scalars or arrays; returns int64 scalar/array.
    Latitude is clamped to [-90, 90]; longitude wraps. lat exactly +90
    lands in the top row (index clamped to ny-1).
    """
    if not (RES_MIN <= res <= RES_MAX):
        raise ValueError(f"res {res} outside [{RES_MIN},{RES_MAX}]")
    lng_n = normalize_lon(lng)
    lat_c = np.clip(np.asarray(lat, dtype=np.float64), -90.0, 90.0)
    x = np.clip(np.floor((lng_n + 180.0) / 360.0 * nx(res)).astype(np.int64), 0, nx(res) - 1)
    y = np.clip(np.floor((lat_c + 90.0) / 180.0 * ny(res)).astype(np.int64), 0, ny(res) - 1)
    cell = (np.int64(res) << _RES_SHIFT) | (x << _X_SHIFT) | y
    return cell if cell.ndim else np.int64(cell)


def cell_res(cell):
    return (np.asarray(cell, dtype=np.int64) >> _RES_SHIFT).astype(np.int64)


def cell_xy(cell):
    """Return (x, y) grid indices of cell(s)."""
    c = np.asarray(cell, dtype=np.int64)
    return (c >> _X_SHIFT) & _XY_MASK, c & _XY_MASK


def pack_xy(x, y, res: int):
    return (np.int64(res) << _RES_SHIFT) | (np.asarray(x, dtype=np.int64) << _X_SHIFT) | np.asarray(
        y, dtype=np.int64
    )


def cell_to_parent(cell, parent_res: int):
    """Constant-time parent at a coarser resolution (aperture-4 tree)."""
    c = np.asarray(cell, dtype=np.int64)
    res = cell_res(c)
    if np.any(res < parent_res):
        raise ValueError("parent_res must be <= cell res")
    shift = res - parent_res
    x, y = cell_xy(c)
    out = (np.int64(parent_res) << _RES_SHIFT) | ((x >> shift) << _X_SHIFT) | (y >> shift)
    return out if out.ndim else np.int64(out)


def cell_to_boundary(cell):
    """(lon_min, lat_min, lon_max, lat_max) of the cell rectangle."""
    c = np.asarray(cell, dtype=np.int64)
    res = cell_res(c)
    x, y = cell_xy(c)
    nx_ = np.left_shift(np.int64(1), res + 2).astype(np.float64)
    ny_ = np.left_shift(np.int64(1), res + 1).astype(np.float64)
    lon_min = x / nx_ * 360.0 - 180.0
    lat_min = y / ny_ * 180.0 - 90.0
    return lon_min, lat_min, lon_min + 360.0 / nx_, lat_min + 180.0 / ny_


def grid_disk(cell: int, k: int, kx: int | None = None):
    """All cells within Chebyshev distance (kx, k) of ``cell``.

    ``kx`` lets the disk be anisotropic (wider in longitude), which the
    kNN operator needs near the poles where lon-degrees shrink.
    Longitude wraps mod nx; latitude rows beyond the poles are dropped.
    Returns a sorted int64 numpy array (includes the center cell).
    """
    if kx is None:
        kx = k
    res = int(cell_res(np.int64(cell)))
    x0, y0 = cell_xy(np.int64(cell))
    x0, y0 = int(x0), int(y0)
    nxr, nyr = nx(res), ny(res)
    kx = min(kx, nxr // 2)  # full wrap covered
    xs = (np.arange(x0 - kx, x0 + kx + 1) % nxr).astype(np.int64)
    xs = np.unique(xs)
    ys = np.arange(max(0, y0 - k), min(nyr - 1, y0 + k) + 1, dtype=np.int64)
    xx, yy = np.meshgrid(xs, ys)
    return np.sort(pack_xy(xx.ravel(), yy.ravel(), res))


def grid_ring(cell: int, k: int, kx: int | None = None):
    """disk(k) minus disk(k-1) — the new frontier when expanding kNN."""
    if k == 0:
        return np.array([cell], dtype=np.int64)
    inner = grid_disk(cell, k - 1, None if kx is None else max(0, kx - 1))
    outer = grid_disk(cell, k, kx)
    return np.setdiff1d(outer, inner, assume_unique=True)


def cover_bbox(lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int):
    """All cells intersecting a lon/lat bbox (lon_min may exceed lon_max
    when the box crosses the antimeridian). Returns int64 array."""
    return cover_bboxes([lon_min], [lat_min], [lon_max], [lat_max], [res])[0]


def cover_bboxes(lon_min, lat_min, lon_max, lat_max, res) -> tuple[np.ndarray, np.ndarray]:
    """:func:`cover_bbox` over arrays of boxes, each at its own level →
    (cells, the box index of each cell); a box's cells run row by row,
    west to east, an antimeridian box's columns as [x0 .. nx) ∪ [0 .. x1]."""
    lat_min, lat_max, res = (np.asarray(a) for a in (lat_min, lat_max, res))
    lon_min, lon_max = normalize_lon(lon_min), normalize_lon(lon_max)
    nxr, nyr = np.int64(1) << (res + 2), np.int64(1) << (res + 1)

    def index(v, half, n):
        return np.clip(np.floor((v + half) / (2.0 * half) * n), 0, n - 1).astype(np.int64)

    x0, x1 = index(lon_min, 180.0, nxr), index(lon_max, 180.0, nxr)
    y0, y1 = index(lat_min, 90.0, nyr), index(lat_max, 90.0, nyr)
    w = np.where(lon_min <= lon_max, x1 - x0, nxr - x0 + x1) + 1
    n = w * np.maximum(y1 - y0 + 1, 0)
    box = np.repeat(np.arange(len(n)), n)
    k = np.arange(len(box)) - np.repeat(np.cumsum(n) - n, n)  # cell rank within its box
    return pack_xy((x0[box] + k % w[box]) % nxr[box], y0[box] + k // w[box], res[box]), box


# ---------------------------------------------------------------------------
# SQL expression builders — the SAME arithmetic as latlng_to_cell, valid in
# both Spark SQL and DuckDB (floor/least/greatest/cast/% only), so the
# driver's DuckDB oracle can value-check the spatial pipeline.
# ---------------------------------------------------------------------------

def h3_sql_expr(lon_col: str, lat_col: str, res: int) -> str:
    nxr, nyr = nx(res), ny(res)
    lon_n = f"((({lon_col}) + 180.0) - floor((({lon_col}) + 180.0) / 360.0) * 360.0 - 180.0)"
    x = (
        f"least(greatest(cast(floor(({lon_n} + 180.0) / 360.0 * {nxr}) as bigint),"
        f" cast(0 as bigint)), cast({nxr - 1} as bigint))"
    )
    y = (
        f"least(greatest(cast(floor((least(greatest(cast(({lat_col}) as double), -90.0), 90.0)"
        f" + 90.0) / 180.0 * {nyr}) as bigint), cast(0 as bigint)), cast({nyr - 1} as bigint))"
    )
    return f"(cast({res} as bigint) * {1 << _RES_SHIFT} + {x} * {1 << _X_SHIFT} + {y})"
