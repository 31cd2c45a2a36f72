"""Zonal statistics: per-polygon aggregates of a point value column.

The classic raster/vector GIS op (mean elevation per watershed, image
count + quality stats per admin region) expressed Spark-first: the
containment test is :func:`pip_join`'s broadcast cell-cover + Arrow
refine, and the aggregation is a plain ``groupBy(poly_id)`` — which
Catalyst executes with map-side partial aggregation, so the only
exchange carries ``#polys × #tasks`` partial rows, never per-point
rows. That makes this plan already optimal at 10^12 points: points are
never shuffled (the cover join is broadcast), points inside FULL cover
cells skip the Arrow refine entirely (the pip_join split), and the
final shuffle is bounded by the polygon count.

Reference analog: the per-volume page-count / size-metric rollups
(HectorManager.java:560-585, A1/A4 in SURVEY.md §2.4) applied over the
north-rule spatial join instead of the volume key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pip_join import pip_join


def zonal_stats(
    spark: SparkSession,
    points: DataFrame,
    polys: list[dict],
    value_col: str,
    res: int = 7,
    res_max: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Per-polygon ``(n, sum, avg, min, max)`` of ``value_col`` over the
    points each polygon contains (even-odd multi-ring semantics, same
    as pip_join). Polygons containing no points are absent from the
    output (inner-join semantics); left-join a polygon spine to get
    zero rows if needed."""
    hits = pip_join(
        spark,
        points,
        polys,
        res=res,
        res_max=res_max,
        lon_col=lon_col,
        lat_col=lat_col,
    )
    v = F.col(value_col)
    return hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("sum_val"),
        F.avg(v).alias("avg_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )
