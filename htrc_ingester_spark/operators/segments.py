"""Segment-segment intersection join (ST_Intersects on linestrings).

Completes the vector-join family (pip_join: point⋈polygon, bbox_join:
rect⋈rect, map_match: point⋈nearest-segment) with line⋈line: all pairs
of segments from two tables that touch or cross — road-network overlay,
trajectory/boundary crossing detection, cadastral conflict checks.
Reference parity: HTRC-Ingester has no spatial ops (north-rule
extension); the relational discipline mirrors its validation equi-joins
(SURVEY.md §2 J5) lifted to a spatial key.

Plan shape (Spark-first, same skeleton as bbox_join):

1. Each segment's bounding box explodes to covering grid cells
   (Catalyst ``sequence`` generators, no UDF).
2. ONE equi-join on ``cell``.
3. The exact intersection predicate — four cross-product orientation
   tests plus collinear-overlap bbox checks, all plain column
   arithmetic inside whole-stage codegen — keeps true pairs.
4. REFERENCE-POINT dedup, no ``distinct``: a pair is emitted only from
   the cell containing the min corner of the two segments' bbox
   intersection (that corner is inside both covers whenever the
   segments intersect, so each true pair survives exactly once).

Semantics: TRUE iff the closed segments share at least one point —
proper crossings, endpoint touches, and collinear overlaps all count.
The orientation tests are IEEE-double sign comparisons, bit-identical
across Spark and DuckDB when coordinates are exactly representable
(the catalog fixture uses /16 grid fractions for that reason); at the
~1-ulp degenerate boundary the kernel is still deterministic per
engine.

Scale: one cell equi-join exchange (AQE skew-handled); fan-out bounded
by cells-per-segment-bbox via the shared auto_res. Long diagonal
segments cover their full bbox (a cover superset — correctness is
untouched, the exact predicate rejects non-hits; callers with
continent-spanning lines should split them upstream, same guidance as
bbox_join's antimeridian note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .bbox_join import _cover, _ref_cell, auto_res, bbox_cells

_SEG_COLS = ("x0", "y0", "x1", "y1")


def _ccw(ax, ay, bx, by, cx, cy) -> Column:
    """Twice the signed area of triangle (a, b, c)."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_bbox(px, py, ax, ay, bx, by) -> Column:
    """Point within the closed bbox of segment (a, b) — the collinear
    companion to a zero orientation test."""
    return (
        (px >= F.least(ax, bx))
        & (px <= F.greatest(ax, bx))
        & (py >= F.least(ay, by))
        & (py <= F.greatest(ay, by))
    )


def segments_intersect_cond(pa: str = "a_", pb: str = "b_") -> Column:
    """Closed-segment intersection predicate over prefixed endpoint
    columns ``{pa}x0..{pa}y1`` and ``{pb}x0..{pb}y1``."""
    ax, ay = F.col(f"{pa}x0"), F.col(f"{pa}y0")
    bx, by = F.col(f"{pa}x1"), F.col(f"{pa}y1")
    cx, cy = F.col(f"{pb}x0"), F.col(f"{pb}y0")
    dx, dy = F.col(f"{pb}x1"), F.col(f"{pb}y1")
    d1 = _ccw(cx, cy, dx, dy, ax, ay)
    d2 = _ccw(cx, cy, dx, dy, bx, by)
    d3 = _ccw(ax, ay, bx, by, cx, cy)
    d4 = _ccw(ax, ay, bx, by, dx, dy)
    proper = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )
    touch = (
        ((d1 == 0) & _on_bbox(ax, ay, cx, cy, dx, dy))
        | ((d2 == 0) & _on_bbox(bx, by, cx, cy, dx, dy))
        | ((d3 == 0) & _on_bbox(cx, cy, ax, ay, bx, by))
        | ((d4 == 0) & _on_bbox(dx, dy, ax, ay, bx, by))
    )
    return proper | touch


def segments_intersect_sql(pa: str, pb: str) -> str:
    """The same predicate as portable SQL (Spark SQL and DuckDB) for
    the driver's oracle; ``pa``/``pb`` are column prefixes."""
    ax, ay, bx, by = f"{pa}x0", f"{pa}y0", f"{pa}x1", f"{pa}y1"
    cx, cy, dx, dy = f"{pb}x0", f"{pb}y0", f"{pb}x1", f"{pb}y1"

    def ccw(o1x, o1y, o2x, o2y, px, py):
        return (
            f"(({o2x} - {o1x}) * ({py} - {o1y}) - ({o2y} - {o1y}) * ({px} - {o1x}))"
        )

    def onb(px, py, sx0, sy0, sx1, sy1):
        # case-when min/max instead of least/greatest: DuckDB 1.x hits
        # an internal "flat vector" assertion on least() over joined
        # CTE columns; case is equivalent and safe in both engines
        lo = lambda u, v: f"(case when {u} <= {v} then {u} else {v} end)"
        hi = lambda u, v: f"(case when {u} <= {v} then {v} else {u} end)"
        return (
            f"({px} >= {lo(sx0, sx1)} and {px} <= {hi(sx0, sx1)}"
            f" and {py} >= {lo(sy0, sy1)} and {py} <= {hi(sy0, sy1)})"
        )

    d1 = ccw(cx, cy, dx, dy, ax, ay)
    d2 = ccw(cx, cy, dx, dy, bx, by)
    d3 = ccw(ax, ay, bx, by, cx, cy)
    d4 = ccw(ax, ay, bx, by, dx, dy)
    proper = (
        f"((({d1} > 0 and {d2} < 0) or ({d1} < 0 and {d2} > 0))"
        f" and (({d3} > 0 and {d4} < 0) or ({d3} < 0 and {d4} > 0)))"
    )
    touch = (
        f"(({d1} = 0 and {onb(ax, ay, cx, cy, dx, dy)})"
        f" or ({d2} = 0 and {onb(bx, by, cx, cy, dx, dy)})"
        f" or ({d3} = 0 and {onb(cx, cy, ax, ay, bx, by)})"
        f" or ({d4} = 0 and {onb(dx, dy, ax, ay, bx, by)}))"
    )
    return f"({proper} or {touch})"


def _with_bbox(df: DataFrame) -> DataFrame:
    return (
        df.withColumn("lon_min", F.least("x0", "x1"))
        .withColumn("lon_max", F.greatest("x0", "x1"))
        .withColumn("lat_min", F.least("y0", "y1"))
        .withColumn("lat_max", F.greatest("y0", "y1"))
    )


def segment_intersect_join(
    spark: SparkSession,
    a: DataFrame,
    b: DataFrame,
    res: int | None = None,
) -> DataFrame:
    """All pairs of intersecting segments between ``a`` and ``b``.

    Inputs carry endpoint columns ``x0, y0, x1, y1`` plus id/payload
    columns; output carries ``a``'s columns prefixed ``a_`` and ``b``'s
    prefixed ``b_`` (bbox helper columns dropped).
    """
    a_box, b_box = _with_bbox(a), _with_bbox(b)
    if res is None:
        res = auto_res(a_box, b_box)
    ca = _cover(a_box, res, "a_")
    cb = _cover(b_box, res, "b_")
    j = ca.join(cb, "cell")
    bbox_overlap = (
        (F.col("a_lon_min") <= F.col("b_lon_max"))
        & (F.col("b_lon_min") <= F.col("a_lon_max"))
        & (F.col("a_lat_min") <= F.col("b_lat_max"))
        & (F.col("b_lat_min") <= F.col("a_lat_max"))
    )
    out = j.where(
        bbox_overlap & (F.col("cell") == _ref_cell(res)) & segments_intersect_cond()
    ).drop("cell")
    helper = [f"{p}{c}" for p in ("a_", "b_") for c in ("lon_min", "lon_max", "lat_min", "lat_max")]
    return out.drop(*helper)


# ---------------------------------------------------------------------------
# Line-density rasterization (length-weighted segment→cell rollup)
# ---------------------------------------------------------------------------


def clip_frac_sql(res: int) -> str:
    """Fraction of segment (x0,y0)→(x1,y1) inside grid cell (cx, cy)
    at ``res`` — Liang-Barsky parametric clipping against the cell
    bbox as ONE SQL expression, identical text in Spark SQL and DuckDB
    (case/least/greatest arithmetic only, no structs). An axis-parallel
    segment (zero extent on an axis) is unconstrained on that axis when
    its coordinate lies inside the slab and empty otherwise."""
    from ..geo import h3lite as H

    nxr, nyr = H.nx(res), H.ny(res)
    wx, wy = 360.0 / nxr, 180.0 / nyr

    def d(v: float) -> str:
        return f"cast('{v!r}' as double)"

    lo_x = f"(-180.0 + cx * {d(wx)})"
    hi_x = f"({lo_x} + {d(wx)})"
    lo_y = f"(-90.0 + cy * {d(wy)})"
    hi_y = f"({lo_y} + {d(wy)})"
    dx, dy = "(x1 - x0)", "(y1 - y0)"

    def lohi(lo, hi, p0, dd):
        ta, tb = f"(({lo} - {p0}) / {dd})", f"(({hi} - {p0}) / {dd})"
        t_lo = (
            f"(case when {dd} = 0.0 then"
            f" (case when {p0} >= {lo} and {p0} <= {hi} then 0.0 else 1.0 end)"
            f" else least({ta}, {tb}) end)"
        )
        t_hi = (
            f"(case when {dd} = 0.0 then"
            f" (case when {p0} >= {lo} and {p0} <= {hi} then 1.0 else 0.0 end)"
            f" else greatest({ta}, {tb}) end)"
        )
        return t_lo, t_hi

    tx_lo, tx_hi = lohi(lo_x, hi_x, "x0", dx)
    ty_lo, ty_hi = lohi(lo_y, hi_y, "y0", dy)
    return (
        f"greatest(least({tx_hi}, {ty_hi}, 1.0)"
        f" - greatest({tx_lo}, {ty_lo}, 0.0), 0.0)"
    )


def seg_len_m_sql() -> str:
    """Flat-earth equirectangular segment length in meters at the
    segment's mean latitude — the map_match metric, portable text."""
    from ..geo import h3lite as H

    k = "cos(radians((y0 + y1) / 2.0))"
    return (
        f"sqrt(((x1 - x0) * {k}) * ((x1 - x0) * {k})"
        f" + (y1 - y0) * (y1 - y0))"
        f" * cast('{float(H.M_PER_DEG_LAT)!r}' as double)"
    )


def segment_density(segments: DataFrame, res: int) -> DataFrame:
    """(cell, n_segments, len_m): total clipped segment length and
    contributing-segment count per grid cell — line rasterization (road
    density, coastline load, trajectory heat), completing the
    rasterize trio next to tile_assign (points) and polygon_buffer
    (polygons).

    Plan: each segment explodes to its bbox cell cover (two nested
    ``sequence`` generators — map-side), the Liang-Barsky fraction
    clips it exactly to every covered cell, and ONE (cell) aggregate
    sums meters. Corner-graze cells (clip fraction 0) are dropped, so
    per-cell sums add back to exactly the total length. Fan-out per
    segment is its bbox cover at ``res`` — continent-spanning
    diagonals should be split upstream (bbox_join's contract).

    ``segments``: (seg_id, x0, y0, x1, y1) lon/lat degrees, no
    antimeridian crossing.
    """
    cand = (
        bbox_cells(_with_bbox(segments), "lon_min", "lat_min", "lon_max", "lat_max", res)
        .withColumnRenamed("__x", "cx")
        .withColumnRenamed("__y", "cy")
    )
    frac = clip_frac_sql(res)
    length = seg_len_m_sql()
    return (
        cand.withColumn("_len_in", F.expr(f"({frac}) * ({length})"))
        .where(F.col("_len_in") > 0)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.round(F.sum("_len_in"), 1).alias("len_m"),
        )
    )
