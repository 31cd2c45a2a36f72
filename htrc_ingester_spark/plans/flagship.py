"""Flagship pipeline: images → H3 encode → PIP join → tile assign → agg.

The image table is derived DETERMINISTICALLY from the driver's lineitem
parquet with pure integer arithmetic (no RNG, no UDF), reproducing the
target data shape (BASELINE.json input_hint): ~80% of points cluster
around three hot centers (hot-cell skew per north_star), 20% spread
uniformly. Because the derivation, the H3 encode, the rectangle PIP
predicate, and the tile hash are all plain arithmetic, the ENTIRE
flagship query has an exact DuckDB oracle — the driver value-checks it,
not just row-counts.

The Spark side still runs the real operators (broadcast cell-cover PIP
join with full/partial classification + native ray-cast refine over
the partial cells' edges; tile column expr)
— the oracle just expresses the same semantics relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tile_sql_expr
from ..geo import h3lite as H
from ..operators.pip_join import pip_join
from ..operators.tiles import assign_tiles

HOT = [(-122.42, 37.77), (2.35, 48.86), (139.69, 35.68)]
RES = 7
ZOOM_RES = 5
N_TILES = 256
HALF = 0.15  # rectangle half-width around each hot center

# half-open rectangles matching the PIP kernel's boundary convention
# (left/bottom edges IN, right/top OUT)
RECTS = [
    {
        "poly_id": f"rect{i}",
        "ring": [
            (cx - HALF, cy - HALF),
            (cx + HALF, cy - HALF),
            (cx + HALF, cy + HALF),
            (cx - HALF, cy + HALF),
            (cx - HALF, cy - HALF),
        ],
    }
    for i, (cx, cy) in enumerate(HOT)
]


def images_sql(lineitem: str = "lineitem") -> str:
    """Deterministic images skeleton, valid in Spark SQL AND DuckDB."""
    # Every literal is cast to double explicitly: bare decimal literals
    # are DECIMAL in both Spark SQL and DuckDB, and the two engines
    # promote decimal→double at different points of the expression tree,
    # producing 1-ulp drift that breaks boundary-exact value parity.
    key_a = "(l_orderkey * 7919 + l_linenumber * 104729)"
    key_b = "(l_orderkey * 104729 + l_linenumber * 7919)"

    def d(x: str) -> str:
        return f"cast({x} as double)"

    hot_lon = (
        f"case cast(l_orderkey % 3 as int) when 0 then {d('-122.42')}"
        f" when 1 then {d('2.35')} else {d('139.69')} end"
    )
    hot_lat = (
        f"case cast(l_orderkey % 3 as int) when 0 then {d('37.77')}"
        f" when 1 then {d('48.86')} else {d('35.68')} end"
    )
    return f"""
    select cast(l_orderkey * 10 + l_linenumber as bigint) as image_id,
           case when (l_orderkey + l_linenumber) % 5 < 4
                then {hot_lon} + cast({key_a} % 2001 - 1000 as double) / {d('5000.0')}
                else cast({key_a} % 360000 as double) / {d('1000.0')} - {d('180.0')}
           end as lon,
           case when (l_orderkey + l_linenumber) % 5 < 4
                then {hot_lat} + cast({key_b} % 2001 - 1000 as double) / {d('5000.0')}
                else cast({key_b} % 180000 as double) / {d('1000.0')} - {d('90.0')}
           end as lat
    from {lineitem}
    """


# Memoized per (session, sf_dir): re-reading the parquet footer +
# re-registering the view + re-parsing the SQL measured ~180 ms of pure
# driver-side cost per invocation — fixed costs a long-running service
# pays once. The returned DataFrame is immutable and safely reusable.
_IMAGES_MEMO: dict[tuple[str, str], DataFrame] = {}


def load_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _IMAGES_MEMO.get(key)
    if df is None:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("lineitem")
        df = _IMAGES_MEMO[key] = spark.sql(images_sql())
    return df


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-encode → PIP-join → tile-assign → per-(poly, tile) counts."""
    images = load_images(spark, sf_dir)
    hits = pip_join(spark, images, RECTS, res=RES)
    tiled = assign_tiles(hits, zoom_res=ZOOM_RES, n_tiles=N_TILES)
    return (
        tiled.groupBy("poly_id", "tile_id")
        .agg(F.count(F.lit(1)).alias("n_images"))
        .orderBy("poly_id", "tile_id")
    )


def flagship_oracle_sql() -> str:
    """The same pipeline as ANSI SQL for DuckDB (dialect 'duckdb' for
    the integer-division inside the tile hash)."""
    zoom_cell = H.h3_sql_expr("lon", "lat", ZOOM_RES)
    tile = tile_sql_expr(zoom_cell, N_TILES, dialect="duckdb")
    rect_cases = []
    for r in RECTS:
        (x0, y0), (x1, _y0), (_x1, y1) = r["ring"][0], r["ring"][1], r["ring"][2]
        # STRING→double casts: DuckDB's decimal→double conversion is
        # lossy for long literals (DECIMAL(17,14) → -122.57 instead of
        # -122.57000000000001); string parsing is correctly rounded in
        # both engines.
        rect_cases.append(
            f"select '{r['poly_id']}' as poly_id,"
            f" cast('{x0!r}' as double) as x0, cast('{x1!r}' as double) as x1,"
            f" cast('{y0!r}' as double) as y0, cast('{y1!r}' as double) as y1"
        )
    rects = " union all ".join(rect_cases)
    return f"""
    with img as ({images_sql('lineitem')}),
    rects as ({rects}),
    hits as (
      select img.image_id, img.lon, img.lat, rects.poly_id
      from img join rects
        on img.lon >= rects.x0 and img.lon < rects.x1
       and img.lat >= rects.y0 and img.lat < rects.y1
    )
    select poly_id, {tile} as tile_id, cast(count(*) as bigint) as n_images
    from hits group by 1, 2 order by 1, 2
    """
