"""Map matching: snap points to their nearest road segment.

The nearest-polyline join (GPS trace → road network, image footprint →
coastline/transit corridor): for every point, the closest segment
within ``radius_m`` plus the projection parameter ``t`` along it.
Reference analog: the validation equi-join discipline (SURVEY.md §2 J5)
lifted to a nearest-neighbor spatial key — the reference itself has no
spatial ops (north-rule extension).

Distance spec (deterministic, SQL-expressible in Spark AND DuckDB so
the DuckDB oracle can value-check it): local flat-earth approximation —
longitudes scale by ``cos(radians(point_lat))``, the point projects
onto the segment chord with the projection parameter clamped to
``[0, 1]``, and the residual scaled-degree distance converts to meters
by ``M_PER_DEG_LAT``. Standard for segments ≪ Earth radius; NOT valid
for segments crossing the antimeridian (split them upstream, same
contract as bbox_join) and degrades near the poles (the lon-expansion
clamp below caps candidate fan-out at |lat| > 89°).

Plan shape (Spark-first):

1. Segments explode to the grid cells of their bbox EXPANDED by the
   search radius (lat expansion = r_deg; lon expansion = r_deg /
   cos(max endpoint |lat| + r_deg) — the conservative bound that
   guarantees any point within ``radius_m`` of the segment shares a
   cell with it, proven in the cover argument of knn_join's module
   docstring applied per-axis).
2. Points carry their single cell; ONE equi-join on cell pairs each
   point with every nearby segment.
3. Exact snap math filters to ``dist_m <= radius_m``, and the per-point
   argmin is ``min(struct(dist_m, seg_id, …))`` — an ordinary
   aggregate with map-side combine (mosaic_best's argmax discipline),
   so ties break deterministically by smallest ``seg_id`` and no
   window sort ever shuffles the candidate set.

Scale: shuffles are the cell equi-join plus the point-keyed argmin
aggregate; fan-out per segment is bounded by its cell cover at
``res = radius_res(radius_m)`` (auto — same knob discipline as
radius_join). Hot corridors (many segments in one cell) are an AQE
skew-join case, not a correctness hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import h3_cell
from ..geo import h3lite as H
from .bbox_join import bbox_cells
from .knn_join import radius_res

M_PER_DEG = float(H.M_PER_DEG_LAT)


def snap_sql_exprs(
    px: str, py: str, ax: str, ay: str, bx: str, by: str
) -> dict[str, str]:
    """Point-to-segment snap as SQL text valid in Spark SQL and DuckDB:
    returns ``{"t": …, "dist_m": …}``. Zero-length segments snap to
    their single endpoint (t = 0)."""
    k = f"cos(radians({py}))"
    dxab = f"(({bx}) - ({ax})) * {k}"
    dyab = f"(({by}) - ({ay}))"
    dxap = f"(({px}) - ({ax})) * {k}"
    dyap = f"(({py}) - ({ay}))"
    len2 = f"(({dxab}) * ({dxab}) + ({dyab}) * ({dyab}))"
    t_raw = f"(({dxap}) * ({dxab}) + ({dyap}) * ({dyab})) / ({len2})"
    t = (
        f"(case when {len2} = 0.0 then 0.0"
        f" else least(greatest({t_raw}, 0.0), 1.0) end)"
    )
    cx = f"(({ax}) + ({t}) * (({bx}) - ({ax})))"
    cy = f"(({ay}) + ({t}) * (({by}) - ({ay})))"
    ddx = f"((({px}) - ({cx})) * {k})"
    ddy = f"(({py}) - ({cy}))"
    dist = f"(sqrt(({ddx}) * ({ddx}) + ({ddy}) * ({ddy})) * cast({M_PER_DEG!r} as double))"
    return {"t": t, "dist_m": dist}


def map_match(
    spark: SparkSession,
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    res: int | None = None,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Nearest segment within ``radius_m`` per point.

    ``segments``: (seg_id, ax, ay, bx, by) — endpoint lon/lat degrees,
    no antimeridian crossing. Returns (``id_col``, seg_id, dist_m, t);
    points with no segment in range are absent (inner semantics —
    left-join a point spine for misses).
    """
    if res is None:
        res = radius_res(radius_m)
    r_deg = float(radius_m) / M_PER_DEG

    # --- segment cover: bbox ± radius, exploded to cells -------------
    seg = segments.select(
        F.col("seg_id"),
        F.col("ax").cast("double"),
        F.col("ay").cast("double"),
        F.col("bx").cast("double"),
        F.col("by").cast("double"),
    )
    r = f"cast({r_deg!r} as double)"
    lon_exp = f"({r} / cos(radians(least(greatest(abs(ay), abs(by)) + {r}, 89.0))))"
    cov = bbox_cells(
        seg,
        f"least(ax, bx) - {lon_exp}",
        f"least(ay, by) - {r}",
        f"greatest(ax, bx) + {lon_exp}",
        f"greatest(ay, by) + {r}",
        res,
    ).drop("__x", "__y")

    pts = points.select(
        F.col(id_col).alias("__pid"),
        F.col(lon_col).cast("double").alias("__px"),
        F.col(lat_col).cast("double").alias("__py"),
        h3_cell(lon_col, lat_col, res).alias("cell"),
    )
    s = snap_sql_exprs("__px", "__py", "ax", "ay", "bx", "by")
    cand = (
        pts.join(cov, "cell")
        .withColumn("t", F.expr(s["t"]))
        .withColumn("dist_m", F.expr(s["dist_m"]))
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
    )
    best = (
        cand.groupBy("__pid")
        .agg(
            F.min(
                F.struct(
                    F.col("dist_m").alias("d"),
                    F.col("seg_id").alias("s"),
                    F.col("t").alias("t"),
                )
            ).alias("b")
        )
        .select(
            F.col("__pid").alias(id_col),
            F.col("b.s").alias("seg_id"),
            F.col("b.d").alias("dist_m"),
            F.col("b.t").alias("t"),
        )
    )
    return best
