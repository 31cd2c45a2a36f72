"""Rectangle-rectangle spatial join (bbox intersection) — grid-binned,
dedup-free.

The ST_Intersects-on-envelopes workhorse: join two tables of lon/lat
bounding boxes (image footprints, map sheets, region envelopes) on
rectangle overlap. The reference has no spatial ops (north-rule
extension); the relational shape mirrors its equi-join discipline
(Ingester.java's files⋈structMap chain, SURVEY.md §2 J1) lifted to a
spatial key.

Plan shape (Spark-first):

1. Each bbox explodes to the grid cells it covers at resolution
   ``res`` (:func:`bbox_cells`: two ``sequence`` explodes — a pure
   Catalyst generator, no UDF — over h3lite's ``lon_index_sql`` /
   ``lat_index_sql``, packed by ``pack_sql``; segments and map_match
   explode their boxes through the same helper).
2. ONE equi-join on ``cell`` pairs up boxes sharing a cell.
3. The exact closed-interval intersection predicate keeps true pairs,
   and the REFERENCE-POINT rule keeps each pair exactly once with no
   ``distinct``: a pair is emitted only from the single cell that
   contains the intersection rectangle's min corner
   ``(max(a.lon_min, b.lon_min), max(a.lat_min, b.lat_min))``.
   That corner lies inside both boxes, so its cell is in both covers —
   every intersecting pair survives in exactly one cell, and the
   dedup shuffle a ``distinct`` would cost at 10^12 rows never
   happens. (The same trick PostGIS/Sedona partitioned joins use.)

Scale: the only exchange is the cell equi-join (AQE handles hot-cell
skew); fan-out is bounded by cells-per-bbox, which ``res=None``
auto-derives (one 1-row aggregate over both inputs) so the AVERAGE
box covers ~2×2 cells — the knob the caller would otherwise have to
guess, same philosophy as radius_join's auto-res.

Boxes must satisfy ``lon_min <= lon_max`` (no antimeridian wrap;
:func:`bbox_cells` raises on a box that wraps); split a wrapping box
into two rows upstream — the join semantics
stay correct because both halves carry the same id and the pair
output is per-id (a wrapped box's two halves can both match, and the
reference-point rule still fires exactly once per half-pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo import h3lite as H

_BBOX_COLS = ("lon_min", "lat_min", "lon_max", "lat_max")


def bbox_cells(
    df: DataFrame, lon_min: str, lat_min: str, lon_max: str, lat_max: str, res: int
) -> DataFrame:
    """Explode each row's lon/lat box — four SQL expressions over
    ``df`` — to the res-``res`` cells it covers (two ``sequence``
    explodes): adds the cell's column ``__x``, row ``__y`` and packed
    ``cell``. A box with ``lon_min > lon_max`` crosses the antimeridian
    and raises (split it into two rows upstream: unchecked, the
    descending x-sequence covered the complement longitude band and
    the join silently lost the box). A box with a NULL bound covers no
    cell: its index is NULL, so ``sequence`` is NULL and the explode
    emits no row (the index clamp alone, whose least/greatest skip
    NULLs, put the bound on the grid edge)."""

    def idx(bound: str, sql: str):
        return F.expr(f"if({bound} is null, null, {sql})")

    x1 = (
        f"if({lon_min} > {lon_max}, cast(raise_error(concat('box crosses the antimeridian"
        f" (lon_min ', cast({lon_min} as string), ' > lon_max ', cast({lon_max} as string),"
        f" '): split it into two rows')) as bigint), {H.lon_index_sql(lon_max, res)})"
    )
    return (
        df.withColumn("__x0", idx(lon_min, H.lon_index_sql(lon_min, res)))
        .withColumn("__x1", idx(lon_max, x1))
        .withColumn("__y0", idx(lat_min, H.lat_index_sql(lat_min, res)))
        .withColumn("__y1", idx(lat_max, H.lat_index_sql(lat_max, res)))
        .withColumn("__x", F.explode(F.expr("sequence(__x0, __x1)")))
        .withColumn("__y", F.explode(F.expr("sequence(__y0, __y1)")))
        .withColumn("cell", F.expr(H.pack_sql(res, "__x", "__y")))
        .drop("__x0", "__x1", "__y0", "__y1")
    )


def _cover(df: DataFrame, res: int, prefix: str) -> DataFrame:
    """Explode a bbox frame to (cell, <cols prefixed>) — one row per
    covering cell."""
    out = df
    for c in df.columns:
        out = out.withColumnRenamed(c, f"{prefix}{c}")
    return bbox_cells(out, *(prefix + c for c in _BBOX_COLS), res).drop("__x", "__y")


def _ref_cell(res: int):
    """The one cell allowed to emit an a/b pair: the cell of the min
    corner of the two boxes' intersection (reference-point rule)."""
    return F.expr(
        H.pack_sql(
            res,
            H.lon_index_sql("greatest(a_lon_min, b_lon_min)", res),
            H.lat_index_sql("greatest(a_lat_min, b_lat_min)", res),
        )
    )


def auto_res(a: DataFrame, b: DataFrame) -> int:
    """Pick the resolution where the average bbox spans ~2 cells per
    axis: one 1-row aggregate over the union of extents (a driver
    action, run once per call — documented, bounded, and cheaper than
    a wrong guess at either extreme)."""
    ext = (
        a.select(*_BBOX_COLS)
        .unionByName(b.select(*_BBOX_COLS))
        .agg(
            F.avg(F.col("lon_max") - F.col("lon_min")).alias("w"),
            F.avg(F.col("lat_max") - F.col("lat_min")).alias("h"),
        )
        .first()
    )
    import math

    w = max(float(ext["w"] or 0.0), 1e-9)
    h = max(float(ext["h"] or 0.0), 1e-9)
    # cell_w = 360/2^(res+2); want cell_w ≈ w/2 per axis → solve both, take coarser
    res_w = math.floor(math.log2(360.0 / max(w / 2.0, 1e-9))) - 2
    res_h = math.floor(math.log2(180.0 / max(h / 2.0, 1e-9))) - 1
    return int(min(max(min(res_w, res_h), H.RES_MIN), H.RES_MAX))


def bbox_intersect_join(
    spark: SparkSession,
    a: DataFrame,
    b: DataFrame,
    res: int | None = None,
) -> DataFrame:
    """All pairs of intersecting rectangles between ``a`` and ``b``.

    Both inputs carry ``lon_min, lat_min, lon_max, lat_max`` plus any
    id/payload columns; output columns are ``a``'s prefixed ``a_`` and
    ``b``'s prefixed ``b_`` (closed-interval overlap — shared edges
    and corners count, deterministic).
    """
    if res is None:
        res = auto_res(a, b)
    ca = _cover(a, res, "a_")
    cb = _cover(b, res, "b_")
    j = ca.join(cb, "cell")
    # exact intersection (closed intervals)
    inter = (
        (F.col("a_lon_min") <= F.col("b_lon_max"))
        & (F.col("b_lon_min") <= F.col("a_lon_max"))
        & (F.col("a_lat_min") <= F.col("b_lat_max"))
        & (F.col("b_lat_min") <= F.col("a_lat_max"))
    )
    # reference point: intersection rect's min corner decides the ONE
    # cell allowed to emit this pair (no distinct)
    return j.where(inter & (F.col("cell") == _ref_cell(res))).drop("cell")
