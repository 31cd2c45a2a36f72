"""Planar/spherical geometry kernels: ray-casting PIP, haversine, covers.

All kernels are vectorized numpy over batches of points — they run on
the driver (cover builds) or inside Arrow UDFs (one call per Arrow
batch, never per row), per the no-per-row-Python rule. The ray cast
also has formula-for-formula twins outside Python (listed below), so
every path decides containment identically.

Containment convention (deterministic, asserted by tests):

- **Normal polygons** (lon extent < 360° after unwrap): even-odd
  ray casting with a +lon horizontal ray using the half-open rule
  ``(y1 > y) != (y2 > y)`` with strict ``x < x_intersect``. Boundary
  consequence (deterministic, test-asserted): for an axis-aligned
  rectangle, points on the LEFT and BOTTOM edges are IN, points on
  the RIGHT and TOP edges are OUT.
- **Antimeridian**: rings are unwrapped into a continuous lon frame
  (cumulative shortest-delta); query lons are shifted into that frame
  modulo 360 before the planar test. Both transforms are EXACT
  no-ops when nothing needs wrapping: an already-continuous ring and
  an in-frame query lon pass through verbatim (the float modulo
  round-trip perturbs values by ~1 ulp of 180, which would break the
  half-open edge rule above for points lying exactly on an edge —
  the conditional keeps boundary semantics bit-deterministic, and
  every twin replicates it: the batch cover kernel, pip_join's
  native Catalyst refine (operators/pip_join.py ``_crossing_sql``,
  numpy's float ``%`` rebuilt from Spark's fmod), the DuckDB oracle
  SQL builder, the independent test oracles).
- **Polar caps** (ring whose unwrapped lon winds a full ±360°): the
  cap contains the pole on the side of the ring's mean latitude; a
  point is inside iff the meridian ray from the point to that pole
  crosses the ring an EVEN number of times (the ray's endpoint — the
  pole — is interior, so even parity means same side as the pole).
  The ray meets the first and last edge at longitudes that agree
  only up to rounding (``u[0]`` and ``u[-1] ∓ 360``), so in a sliver
  about 1e-14° wide at the first vertex's lon a point on the far side
  crosses both or neither and counts as inside; the cover builds
  refine that meridian (operators/pip_join.py ``_seam``).
- **Degenerate rings** (zero area, repeated vertex, bowtie): no crash;
  even-odd parity semantics apply as-is (zero-area ⇒ nothing inside).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6_371_008.8


def haversine_m(lat1, lon1, lat2, lon2):
    """Great-circle distance in meters, float64 vectorized."""
    la1, lo1, la2, lo2 = (np.deg2rad(np.asarray(a, dtype=np.float64)) for a in (lat1, lon1, lat2, lon2))
    dlat = la2 - la1
    dlon = lo2 - lo1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def unwrap_ring(ring_lon: np.ndarray) -> np.ndarray:
    """Make ring longitudes continuous: each step takes the shortest
    signed delta, accumulated from the first vertex. A ring that winds
    around a pole ends ±360 away from where it started."""
    lon = np.asarray(ring_lon, dtype=np.float64)
    d = np.diff(lon)
    # already-continuous ring (every raw step is already its shortest
    # signed form, i.e. in [-180, 180)): return the input verbatim.
    # The cumsum reconstruction below is the identity only in exact
    # arithmetic — the (d+180)%360-180 round trip perturbs non-dyadic
    # steps by ~1 ulp of 180 and the accumulation drifts further,
    # which moved edges ~1e-14° off coordinates that are exactly
    # representable in the input (e.g. a survey boundary lying exactly
    # on a grid line). Downstream consumers (points_in_ring, the cover
    # classifiers) then disagreed with kernels operating on the raw
    # coordinates; returning the exact input keeps every frame
    # bit-identical for planar rings.
    if bool(((d >= -180.0) & (d < 180.0)).all()):
        return lon.copy()
    w = (d + 180.0) % 360.0 - 180.0  # shortest signed step
    return np.concatenate([[lon[0]], lon[0] + np.cumsum(w)])


def close_ring(r_lon: np.ndarray, r_lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Append the first vertex to an open ring of 3+ vertices — the
    closure every ring-consuming kernel applies before unwrapping, so
    the closing edge counts toward edges, bboxes and winding alike
    (rings under 3 vertices are left as given: they contain nothing)."""
    if len(r_lon) >= 3 and (r_lon[0] != r_lon[-1] or r_lat[0] != r_lat[-1]):
        return np.concatenate([r_lon, r_lon[:1]]), np.concatenate([r_lat, r_lat[:1]])
    return r_lon, r_lat


def ring_winding(ring_lon: np.ndarray) -> int:
    """Net longitude winding in full turns (±1 ⇒ polar cap ring)."""
    u = unwrap_ring(np.asarray(ring_lon, dtype=np.float64))
    return int(round((u[-1] - u[0]) / 360.0))


def _points_in_ring_planar(px: np.ndarray, py: np.ndarray, rx: np.ndarray, ry: np.ndarray):
    """Vectorized even-odd ray cast: points (px,py) vs ring (rx,ry).

    Ring must be closed in value terms (first==last not required; we
    wrap). Complexity O(P*E) as a numpy outer product — fine for the
    refine step where P = points in one Arrow batch for one polygon.
    """
    px = px[:, None]
    py = py[:, None]
    x1, y1 = rx[None, :-1], ry[None, :-1]
    x2, y2 = rx[None, 1:], ry[None, 1:]
    cond = (y1 > py) != (y2 > py)
    # over= too: a horizontal edge (y2 == y1) divides by 0 → ±inf, and
    # huge-but-finite quotients can overflow in the multiply; both are
    # masked by `cond` (which is False exactly when y2 == y1 straddling
    # fails), so every category is expected here, not just divide
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    crossings = cond & (px < xint)
    return crossings.sum(axis=1) % 2 == 1


def points_in_ring(lon: np.ndarray, lat: np.ndarray, ring_lon: np.ndarray, ring_lat: np.ndarray):
    """Containment of many points in ONE ring, handling antimeridian
    wrap and polar caps per the module convention. Returns bool array."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    r_lon = np.asarray(ring_lon, dtype=np.float64)
    r_lat = np.asarray(ring_lat, dtype=np.float64)
    if r_lon.shape[0] < 3:
        return np.zeros(lon.shape, dtype=bool)
    r_lon, r_lat = close_ring(r_lon, r_lat)
    u = unwrap_ring(r_lon)
    wind = int(round((u[-1] - u[0]) / 360.0))
    if wind == 0:
        # normal (possibly antimeridian-crossing) ring: shift each query
        # lon into the ring's continuous frame modulo 360 — but ONLY
        # the lons that actually need a wrap. For lon − center already
        # in [-180, 180) the modulo shift is the identity in exact
        # arithmetic yet perturbs by ~1 ulp of 180 in float64, which
        # broke the documented half-open boundary convention (left/
        # bottom edge IN, right/top OUT) for points lying EXACTLY on a
        # ring edge: the raw comparison plon < x_edge is the convention;
        # the perturbed one flipped it by drift direction. Mirrored
        # bit-for-bit by the SQL oracle builder (plans/catalog.py), the
        # batch cover kernel and the native refine predicate
        # (operators/pip_join.py).
        lo, hi = u.min(), u.max()
        center = 0.5 * (lo + hi)
        delta = lon - center
        need = (delta < -180.0) | (delta >= 180.0)
        if need.any():
            plon = np.where(
                need, center + ((delta + 180.0) % 360.0 - 180.0), lon
            )
        else:
            plon = lon
        return _points_in_ring_planar(plon, lat, u, r_lat)
    # polar cap: meridian-ray toward the enclosed pole
    north = bool(np.mean(r_lat[:-1]) > 0.0)
    # edge crosses the point's meridian when the (shortest-delta) lon
    # interval spans it; interpolate crossing latitude
    x1, x2 = u[:-1], u[1:]
    y1, y2 = r_lat[:-1], r_lat[1:]
    # point lon in the ring frame, replicated against edges
    lo = u.min()
    plon = lo + ((np.asarray(lon) - lo) % 360.0)
    p = plon[:, None]
    a, b = x1[None, :], x2[None, :]
    ya, yb = y1[None, :], y2[None, :]
    # does edge [a,b] span meridian p (+ any 360 shift)?
    def crossings_at(shift):
        pp = p + shift
        spans = ((a <= pp) & (pp < b)) | ((b <= pp) & (pp < a))
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            t = np.where(b != a, (pp - a) / (b - a), 0.0)
        ycross = ya + t * (yb - ya)
        plat = np.asarray(lat)[:, None]
        if north:
            return spans & (ycross > plat)
        return spans & (ycross < plat)

    total = crossings_at(0.0) | crossings_at(360.0) | crossings_at(-360.0)
    n_cross = total.sum(axis=1)
    # the meridian ray terminates AT the pole, which is interior to the
    # cap — so a point is inside iff the ray crosses the ring an EVEN
    # number of times (0 crossings = already in the cap)
    return n_cross % 2 == 0


def points_in_rings(lon: np.ndarray, lat: np.ndarray, rings) -> np.ndarray:
    """Even-odd containment of many points in a MULTI-RING polygon:
    ``rings`` is a list of (N, 2) arrays / [(lon, lat), ...] lists —
    outer shells, holes, and disjoint parts all in one list, no
    nesting metadata needed. A point is inside iff it is inside an ODD
    number of rings (XOR): inside the outer but also inside a hole →
    2 rings → out; a MultiPolygon's disjoint outers → at most 1 ring.
    Each ring keeps the full single-ring convention (antimeridian
    unwrap, polar caps, degenerate rings)."""
    inside = np.zeros(np.asarray(lon).shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        inside ^= points_in_ring(lon, lat, r[:, 0], r[:, 1])
    return inside


def ring_bbox(ring_lon, ring_lat):
    """(lon_min, lat_min, lon_max, lat_max) in the unwrapped frame;
    lon_min > 180-normalized lon_max signals antimeridian crossing.
    For polar caps, the bbox extends to the enclosed pole; a ring
    winding an even number of turns spans the globe, because
    points_in_ring's meridian ray from the far pole crosses it an even
    number of times too."""
    r_lon, r_lat = close_ring(
        np.asarray(ring_lon, dtype=np.float64), np.asarray(ring_lat, dtype=np.float64)
    )
    u = unwrap_ring(r_lon)
    wind = int(round((u[-1] - u[0]) / 360.0))
    if wind % 2 == 0 and wind != 0:
        return -180.0, -90.0, 180.0 - 1e-12, 90.0
    if wind != 0:
        # the pole points_in_ring assigns the cap (closing vertex excluded)
        north = bool(np.mean(r_lat[:-1]) > 0.0)
        if north:
            return -180.0, float(r_lat.min()), 180.0 - 1e-12, 90.0
        return -180.0, -90.0, 180.0 - 1e-12, float(r_lat.max())
    lon_min = ((u.min() + 180.0) % 360.0) - 180.0
    lon_max = ((u.max() + 180.0) % 360.0) - 180.0
    if u.max() - u.min() >= 360.0:
        lon_min, lon_max = -180.0, 180.0 - 1e-12
    return float(lon_min), float(r_lat.min()), float(lon_max), float(r_lat.max())


def point_in_ring_scalar(lon: float, lat: float, ring) -> bool:
    """Independent slow-path oracle (same convention, scalar loop) used
    by tests to cross-check the vectorized kernel. ``ring`` is a list of
    (lon, lat) tuples."""
    r_lon = np.array([p[0] for p in ring], dtype=np.float64)
    r_lat = np.array([p[1] for p in ring], dtype=np.float64)
    return bool(points_in_ring(np.array([lon]), np.array([lat]), r_lon, r_lat)[0])
