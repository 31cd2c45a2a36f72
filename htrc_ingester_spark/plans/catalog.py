"""Operator catalog backing the driver contract (__spark_entry__.py).

One entry per implemented operator family from SURVEY.md §2. Each entry
has a Spark callable ``(spark, sf_dir) -> DataFrame`` and, where the
semantics are SQL-expressible, a DuckDB oracle SQL string the driver
value-checks at sf0.01. Non-SQL-expressible ops (ray-cast PIP over
general polygons, S2 quadratic projection, MinHash/SimHash) ship
without an oracle → the driver records the weaker rows-only check; the
pytest suite carries their pure-python oracles instead.

Column names are aliased IDENTICALLY in both dialects (driver hashes
values under sorted column names). Double aggregates are rounded in
both dialects to dodge summation-order ulp drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import flagship as FS

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _load(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


# registry: name -> (spark_fn, oracle_sql_or_None)
_REG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _register(name: str, tables: list[str], spark_sql: str, duck_sql: str | None) -> None:
    def fn(spark: SparkSession, sf_dir: str, _sql=spark_sql, _tabs=tuple(tables)) -> DataFrame:
        _load(spark, sf_dir, *_tabs)
        return spark.sql(_sql)

    _REG[name] = (fn, duck_sql)


def _register_fn(name: str, fn: Callable, duck_sql: str | None) -> None:
    _REG[name] = (fn, duck_sql)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: fn for k, (fn, _oracle) in _REG.items()}


def oracle_sql() -> dict[str, str]:
    return {k: oracle for k, (_fn, oracle) in _REG.items() if oracle is not None}


# ===========================================================================
# Spatial pipeline (north rule) — flagship + components
# ===========================================================================

_register_fn("flagship_pip_tiles", FS.flagship, FS.flagship_oracle_sql())


def _h3_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-scan + H3 encode (column expr) + per-cell counts — the encode
    stage of the north-star pipeline in isolation."""
    from pyspark.sql import functions as F

    from ..functions import h3_cell

    img = FS.load_images(spark, sf_dir)
    return (
        img.withColumn("cell_r7", h3_cell("lon", "lat", 7))
        .groupBy("cell_r7")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("cell_r7"))
        .limit(50)
    )


def _h3_hist_oracle() -> str:
    from ..geo import h3lite as H

    return f"""
    with img as ({FS.images_sql('lineitem')})
    select {H.h3_sql_expr('lon', 'lat', 7)} as cell_r7, cast(count(*) as bigint) as n
    from img group by 1 order by n desc, cell_r7 limit 50
    """


_register_fn("h3_encode_hist", _h3_hist, _h3_hist_oracle())


def _tile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.tiles import assign_tiles

    img = FS.load_images(spark, sf_dir)
    return (
        assign_tiles(img, zoom_res=FS.ZOOM_RES, n_tiles=FS.N_TILES)
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("tile_id")
    )


def _tile_hist_oracle() -> str:
    from ..functions import tile_sql_expr
    from ..geo import h3lite as H

    zoom = H.h3_sql_expr("lon", "lat", FS.ZOOM_RES)
    tile = tile_sql_expr(zoom, FS.N_TILES, dialect="duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')})
    select {tile} as tile_id, cast(count(*) as bigint) as n
    from img group by 1 order by 1
    """


_register_fn("tile_assign_hist", _tile_hist, _tile_hist_oracle())


def _pip_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-polygon PIP (concave/antimeridian/polar/degenerate)
    through the real cover+refine operator. Value-checked by a DuckDB
    crossing-count oracle (see ``_pip_general_oracle``)."""
    from .. import data
    from ..operators.pip_join import pip_join

    img = FS.load_images(spark, sf_dir)
    return (
        pip_join(spark, img, data.polygons(), res=7)
        .select("image_id", "poly_id")
        .orderBy("image_id", "poly_id")
    )


def _pip_general_oracle() -> str:
    from .. import data

    return pip_crossing_oracle_sql(data.polygons(), FS.images_sql("lineitem"))


def pip_crossing_oracle_sql(
    polys: list[dict], points_sql: str, lat_prefilter: bool = False
) -> str:
    """SQL twin of geo/geometry.py's ray-cast kernel for ARBITRARY
    (multi-)ring polygons over a points query (columns image_id, lon,
    lat). Accepts ``ring`` or ``rings`` per poly (even-odd).

    The ring-only preprocessing (closure, longitude unwrap, winding
    classification, frame center / mean latitude) is done here in Python
    — it depends only on the fixture, not on the data — and the unwrapped
    vertices are embedded as string→double literals (decimal literals
    drift, see images_sql). The per-POINT math is pure SQL mirroring the
    kernel formula-for-formula:

    - normal rings (winding 0): shift query lon into the ring's
      continuous frame via the same floor-mod numpy uses
      (``a - floor(a/360)*360``), then even-odd ray cast with the
      half-open rule ``(y1 > lat) != (y2 > lat)`` and strict
      ``plon < x_intersect`` (geometry.py:59-74, :92-98).
    - polar caps (winding ±1): meridian-ray-to-the-enclosed-pole with
      span shifts {0, +360, -360} OR-combined per edge; inside =
      EVEN crossings, encoded as crossings + 1 being odd
      (geometry.py:99-128).

    Multi-ring even-odd composes additively mod 2: per (point, poly),
    inside ⇔ Σ over the poly's rings of (crossings, +1 for each cap
    ring) is ODD — one parity sum per branch, combined in a final
    group-by, which is exactly the single-ring formula when a poly has
    one ring (the pre-holes oracle emitted identical rows).

    Parity discipline mirrors REF verify/Verifier.java:288-333 (the
    checksum re-verification pass): the operator's output is value-checked
    by an independent implementation, not trusted from its own pipeline.

    ``lat_prefilter``: join each NORMAL ring edge only to points whose
    lat lies in the poly's normal-ring lat range. Result-identical: a
    point with lat strictly outside every edge's [y1, y2] makes
    ``(y1 > lat) != (y2 > lat)`` false on every edge → zero crossings →
    the (point, poly) pair would contribute c = 0 and be dropped by the
    parity HAVING anyway; absent rows contribute the same 0 to the
    branch-union sum, so mixed normal+cap polys are unaffected. Cap
    rings are never prefiltered (inside a cap = EVEN crossings, so
    zero-crossing pairs are exactly the inside ones). This keeps the
    many-polygon oracle (10^4 polys × 4 edges vs 10^4+ points) at a
    banded join instead of a full cross product.
    """
    import numpy as np

    from ..geo.geometry import unwrap_ring
    from ..operators.pip_join import poly_rings

    def d(x: float) -> str:
        return f"cast('{float(x)!r}' as double)"

    norm_rows: list[str] = []
    cap_edges: list[tuple] = []  # (pid, a, ya, b, yb, lo, north)
    cap_bias: dict[str, int] = {}
    for p in polys:
        p_norm: list[tuple] = []
        p_lat0, p_lat1 = np.inf, -np.inf
        for ring in poly_rings(p):
            r_lon = np.array(ring[:, 0], dtype=np.float64)
            r_lat = np.array(ring[:, 1], dtype=np.float64)
            if r_lon.shape[0] < 3:
                continue
            if r_lon[0] != r_lon[-1] or r_lat[0] != r_lat[-1]:
                r_lon = np.concatenate([r_lon, r_lon[:1]])
                r_lat = np.concatenate([r_lat, r_lat[:1]])
            u = unwrap_ring(r_lon)
            wind = int(round((u[-1] - u[0]) / 360.0))
            if wind == 0:
                p_lat0 = min(p_lat0, float(r_lat.min()))
                p_lat1 = max(p_lat1, float(r_lat.max()))
                center = 0.5 * (u.min() + u.max())
                for x1, y1, x2, y2 in zip(u[:-1], r_lat[:-1], u[1:], r_lat[1:]):
                    p_norm.append((x1, y1, x2, y2, center))
            else:
                north = bool(np.mean(r_lat[:-1]) > 0.0)
                lo = u.min()
                cap_bias[p["poly_id"]] = cap_bias.get(p["poly_id"], 0) + 1
                for a, ya, b, yb in zip(u[:-1], r_lat[:-1], u[1:], r_lat[1:]):
                    cap_edges.append((p["poly_id"], a, ya, b, yb, lo, north))
        for x1, y1, x2, y2, center in p_norm:
            row = f"('{p['poly_id']}', {d(x1)}, {d(y1)}, {d(x2)}, {d(y2)}, {d(center)}"
            if lat_prefilter:
                row += f", {d(p_lat0)}, {d(p_lat1)}"
            norm_rows.append(row + ")")
    # the cap-ring-count bias (nc) rides on every cap edge row; the
    # parity CTE recovers it with max(nc)
    cap_rows = [
        f"('{pid}', {d(a)}, {d(ya)}, {d(b)}, {d(yb)}, {d(lo)}, "
        f"{str(north).lower()}, {cap_bias[pid]})"
        for pid, a, ya, b, yb, lo, north in cap_edges
    ]

    # numpy's `%` is a - floor(a/b)*b — reproduce it literally
    def fmod360(expr: str) -> str:
        return f"(({expr}) - floor(({expr}) / 360.0) * 360.0)"

    # conditional frame shift, twin of points_in_ring: lons whose delta
    # from the ring center already lies in [-180, 180) stay RAW (the
    # unconditional modulo shift perturbed in-frame lons by ~1 ulp and
    # broke the half-open edge convention for points exactly on an
    # edge); only genuinely out-of-frame lons pay the wrap
    plon_norm = (
        "(case when (lon - center) >= -180.0 and (lon - center) < 180.0"
        f" then lon else (center + ({fmod360('lon - center + 180.0')} - 180.0)) end)"
    )
    xint = "(x1 + (lat - y1) * (x2 - x1) / (y2 - y1))"
    crossing_norm = f"(((y1 > lat) != (y2 > lat)) and plon < {xint})"

    plon_cap = f"(lo + {fmod360('lon - lo')})"

    def cap_hit(shift: str) -> str:
        pp = f"(plon + {shift})"
        spans = f"((a <= {pp} and {pp} < b) or (b <= {pp} and {pp} < a))"
        t = f"(case when b != a then ({pp} - a) / (b - a) else 0.0 end)"
        ycross = f"(ya + {t} * (yb - ya))"
        side = f"(case when north then {ycross} > lat else {ycross} < lat end)"
        return f"({spans} and {side})"

    cap_counted = f"({cap_hit('0.0')} or {cap_hit('360.0')} or {cap_hit('-360.0')})"

    # lineitem carries duplicate (orderkey, linenumber) pairs, so img has
    # full-row duplicate points; the operator emits one hit per input ROW.
    # Parity must be computed per distinct point (grouping raw rows would
    # double-count edges and flip parity), then re-expanded by joining
    # back to img (image_id → (lon,lat) is functional, so id join is safe).
    # Each ring-kind branch is emitted only when that kind exists — an
    # empty VALUES list is a syntax error in both dialects.
    ctes = [
        f"img as ({points_sql})",
        "pt as (select distinct image_id, lon, lat from img)",
    ]
    # per-branch PARITY-SUM rows (image_id, poly_id, c); a final
    # group-by sums branches so a poly mixing normal and cap rings
    # still gets one combined even-odd verdict
    par_sources = []
    if norm_rows:
        extra_cols = ", plat0, plat1" if lat_prefilter else ""
        edge_join = (
            "join norm_edges e on p.lat >= e.plat0 and p.lat <= e.plat1"
            if lat_prefilter
            else "cross join norm_edges e"
        )
        ctes.append(
            f"norm_edges(poly_id, x1, y1, x2, y2, center{extra_cols})"
            f" as (values {', '.join(norm_rows)})"
        )
        ctes.append(f"""norm_par as (
      select image_id, poly_id,
             sum(case when {crossing_norm} then 1 else 0 end) as c
      from (
        select p.image_id, e.poly_id, p.lat,
               e.x1, e.y1, e.x2, e.y2, {plon_norm} as plon
        from pt p {edge_join}
      ) t
      group by image_id, poly_id
    )""")
        par_sources.append("select image_id, poly_id, c from norm_par")
    if cap_rows:
        ctes.append(
            f"cap_edges(poly_id, a, ya, b, yb, lo, north, nc) as (values {', '.join(cap_rows)})"
        )
        # inside a cap = EVEN crossings ⇔ crossings + 1 odd: +1 per cap
        # ring via the nc bias column (constant per poly → max)
        ctes.append(f"""cap_par as (
      select image_id, poly_id,
             sum(case when {cap_counted} then 1 else 0 end) + max(nc) as c
      from (
        select p.image_id, e.poly_id, p.lat,
               e.a, e.ya, e.b, e.yb, e.north, e.nc, {plon_cap} as plon
        from pt p cross join cap_edges e
      ) t
      group by image_id, poly_id
    )""")
        par_sources.append("select image_id, poly_id, c from cap_par")
    if not par_sources:  # no usable rings at all → empty result
        par_sources.append(
            "select image_id, cast(null as varchar) as poly_id, 0 as c from pt where 1 = 0"
        )
    ctes.append(
        "hits as (select image_id, poly_id from ("
        + " union all ".join(par_sources)
        + ") u group by image_id, poly_id having sum(c) % 2 = 1)"
    )
    return f"""
    with {', '.join(ctes)}
    select i.image_id as image_id, h.poly_id as poly_id
    from img i join hits h on i.image_id = h.image_id
    order by i.image_id, h.poly_id
    """


_register_fn("pip_join_polygons", _pip_general, _pip_general_oracle())


def _pip_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-ring PIP: polygons with holes, MultiPolygon, nested
    island-in-lake, antimeridian hole — even-odd over the ring list,
    through the same cover+refine operator (a cell inside a hole must
    not classify 'full')."""
    from .. import data
    from ..operators.pip_join import pip_join

    img = FS.load_images(spark, sf_dir)
    return (
        pip_join(spark, img, data.polygons_holes(), res=7)
        .select("image_id", "poly_id")
        .orderBy("image_id", "poly_id")
    )


def _pip_holes_oracle() -> str:
    from .. import data

    return pip_crossing_oracle_sql(data.polygons_holes(), FS.images_sql("lineitem"))


_register_fn("pip_join_holes", _pip_holes, _pip_holes_oracle())


def _pip_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT ingestion end-to-end (VERDICT r3 gap #1): the polygons_holes
    fixtures serialized to OGC-structured WKT (POLYGON with holes +
    MULTIPOLYGON), loaded from a Spark string column via
    geo.wkt.polys_from_wkt_column, then through the SAME pip_join —
    value-checked against the pip_join_holes oracle, so the text
    round-trip must be float64-exact."""
    from .. import data
    from ..geo.wkt import polys_from_wkt_column
    from ..operators.pip_join import pip_join

    wdf = spark.createDataFrame(data.polygons_holes_wkt(), "poly_id string, wkt string")
    polys = polys_from_wkt_column(wdf)
    img = FS.load_images(spark, sf_dir)
    return (
        pip_join(spark, img, polys, res=7)
        .select("image_id", "poly_id")
        .orderBy("image_id", "poly_id")
    )


_register_fn("pip_join_wkt_input", _pip_wkt, _pip_holes_oracle())


def _pip_geojson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON ingestion end-to-end: the same fixtures as a
    FeatureCollection (Polygon-with-holes + MultiPolygon geometries)
    through geo.wkt.polys_from_geojson, value-checked against the
    pip_join_holes oracle — like pip_join_wkt_input but for the other
    interchange format real users arrive with."""
    from .. import data
    from ..geo.wkt import polys_from_geojson
    from ..operators.pip_join import pip_join

    polys = polys_from_geojson(data.polygons_holes_geojson())
    img = FS.load_images(spark, sf_dir)
    return (
        pip_join(spark, img, polys, res=7)
        .select("image_id", "poly_id")
        .orderBy("image_id", "poly_id")
    )


_register_fn("pip_join_geojson_input", _pip_geojson, _pip_holes_oracle())


def _pip_wkb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB ingestion end-to-end (VERDICT r4 #3): the same fixtures as
    OGC binary (Polygon-with-holes + MultiPolygon, both byte orders)
    in a Spark BINARY column — the GeoParquet arrival shape — through
    geo.wkb.polys_from_wkb_column, value-checked against the
    pip_join_holes oracle. Float64 is bit-exact on the WKB wire, so
    the binary round-trip must reproduce the text entries' hashes."""
    from .. import data
    from ..geo.wkb import polys_from_wkb_column
    from ..operators.pip_join import pip_join

    wdf = spark.createDataFrame(
        data.polygons_holes_wkb(), "poly_id string, wkb binary"
    )
    polys = polys_from_wkb_column(wdf)
    img = FS.load_images(spark, sf_dir)
    return (
        pip_join(spark, img, polys, res=7)
        .select("image_id", "poly_id")
        .orderBy("image_id", "poly_id")
    )


_register_fn("pip_join_wkb_input", _pip_wkb, _pip_holes_oracle())


def _pip_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cover-as-table PIP regime (VERDICT r4 #1): 10^4 polygons trip
    pip_join's _TABLE_POLYS_BUDGET dispatch — the edge-list cover is
    built DISTRIBUTED (mapInArrow over the one cover kernel and the
    per-cell edge filter), the probe is a cell-keyed shuffle join of
    the skeleton, and the native _inside predicate refines it in the
    join's own filter. Value-checked
    by the same crossing-count oracle as every other PIP entry (with
    the result-identical lat-band prefilter keeping DuckDB off the full
    10^4-poly × points cross product). res_max=14 so the adaptive cover
    subdivides down to ~parcel scale: at 12 the cells are ~7x wider
    than the polygons, nearly every cover cell is partial, and the
    boundary shell overshoots the true hit set 3.4x — measured 11.4s
    vs 4.7s at 14 for bit-identical output (the refine makes any
    res_max exact; depth only moves work between the cell join and the
    ray cast)."""
    from ..data import polygons_grid
    from ..operators.pip_join import pip_join

    img = FS.load_images(spark, sf_dir)
    return (
        pip_join(spark, img, polygons_grid(), res=9, res_max=14)
        .select("image_id", "poly_id")
        .orderBy("image_id", "poly_id")
    )


def _pip_many_oracle() -> str:
    from ..data import polygons_grid

    return pip_crossing_oracle_sql(
        polygons_grid(), FS.images_sql("lineitem"), lat_prefilter=True
    )


_register_fn("pip_join_many_polys", _pip_many, _pip_many_oracle())


def _pip_wkb_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full GeoParquet scale path end-to-end: 10^4 polygons arrive
    as a BINARY WKB column (both byte orders) handed STRAIGHT to the
    cover-as-table regime — WKB is its native wire, so the binary
    column rides every exchange and cache compactly and decodes to
    numpy inside the executor kernels (no nested-array Arrow batches,
    no driver collect). The one composition a 10^6-parcel user
    actually runs: binary geometry in a table, never on the driver.
    Same crossing-count oracle as pip_join_many_polys — float64 is
    bit-exact on the WKB wire, so the binary round-trip must reproduce
    the text entry's hashes."""
    from ..data import polygons_grid_wkb
    from ..operators.pip_join import pip_join_table

    wdf = spark.createDataFrame(
        polygons_grid_wkb(), "poly_id string, wkb binary"
    )
    img = FS.load_images(spark, sf_dir)
    return (
        pip_join_table(spark, img, wdf, res=9, res_max=14)
        .select("image_id", "poly_id")
        .orderBy("image_id", "poly_id")
    )


_register_fn("pip_join_wkb_table", _pip_wkb_table, _pip_many_oracle())


def _pip_wkt_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEXT twin of pip_join_wkb_table: 10^4 polygons arrive as a
    WKT string column (the PostGIS-dump / CSV-export shape) and parse
    DISTRIBUTED (geo.wkt.polys_df_from_wkt_column executor batches)
    straight onto the native binary wire feeding the cover-as-table
    regime — no driver round-trip, no nested-array hop (the parse
    batch emits WKB directly). rings_to_wkt prints shortest
    round-trip floats, so this must reproduce the binary entry's
    hashes bit-for-bit under the same crossing-count oracle."""
    from ..data import polygons_grid_wkt
    from ..geo.wkt import polys_df_from_wkt_column
    from ..operators.pip_join import pip_join_table

    wdf = spark.createDataFrame(polygons_grid_wkt(), "poly_id string, wkt string")
    img = FS.load_images(spark, sf_dir)
    return (
        pip_join_table(spark, img, polys_df_from_wkt_column(wdf), res=9, res_max=14)
        .select("image_id", "poly_id")
        .orderBy("image_id", "poly_id")
    )


_register_fn("pip_join_wkt_table", _pip_wkt_table, _pip_many_oracle())


def _pip_table_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table regime on a 128-polygon subset of the grid fixture,
    value-checked against the SAME crossing-count DuckDB oracle as the
    10^4-polygon entries: a small polygon table through the one
    distributed cover build and native refine. (The name predates the
    single refine: it keys this entry's recorded correctness and bench
    rows.)"""
    from ..data import polygons_grid_wkb
    from ..operators.pip_join import pip_join_table

    wdf = spark.createDataFrame(
        polygons_grid_wkb(128), "poly_id string, wkb binary"
    )
    img = FS.load_images(spark, sf_dir)
    return (
        pip_join_table(spark, img, wdf, res=9, res_max=14)
        .select("image_id", "poly_id")
        .orderBy("image_id", "poly_id")
    )


def _pip_table_cogroup_oracle() -> str:
    from ..data import polygons_grid

    return pip_crossing_oracle_sql(
        polygons_grid(128), FS.images_sql("lineitem"), lat_prefilter=True
    )


_register_fn(
    "pip_join_table_cogroup", _pip_table_cogroup, _pip_table_cogroup_oracle()
)


# ===========================================================================
# Raster dissolve (adjacent-cell connected components) + region overlay —
# the raster↔vector follow-ups tiles.vectorize names. Oracle = DuckDB
# WITH RECURSIVE reachability (min-label per component), independent of
# the Spark pointer-jumping implementation.
# ===========================================================================

_DISSOLVE_RES = 7
_OVERLAY_T_B = 16.0


def _cc_oracle_ctes(
    prefix: str, kept_cte: str, res: int, band_col: str | None = None
) -> str:
    """DuckDB CTE block computing per-cell component ids (min reachable
    cell id) for the cell set in ``kept_cte`` (columns cell, value).
    Adjacency is the SAME int64 arithmetic as operators/dissolve.py:
    E neighbor wraps lon mod nx, N neighbor clips at the pole.
    ``band_col``: restrict edges to band-equal endpoints (the isobands
    variant)."""
    from ..geo import h3lite as HH

    nxr, nyr = HH.nx(res), HH.ny(res)
    band_sel = f", {band_col}" if band_col else ""
    band_pred = f" and a.{band_col} = b.{band_col}" if band_col else ""
    return f"""
    {prefix}_xy as (
      select cell, (cell // {1 << 28}) % {1 << 28} as x, cell % {1 << 28} as y{band_sel}
      from {kept_cte}),
    {prefix}_e1 as (
      select a.cell as src, b.cell as dst
      from {prefix}_xy a join {prefix}_xy b
        on ((b.x = (a.x + 1) % {nxr} and b.y = a.y)
        or (b.x = a.x and b.y = a.y + 1 and a.y + 1 < {nyr})){band_pred}),
    {prefix}_edges as (
      select src, dst from {prefix}_e1
      union
      select dst, src from {prefix}_e1),
    {prefix}_walk(cell, label) as (
      select cell, cell from {kept_cte}
      union
      select e.dst, w.label from {prefix}_walk w
      join {prefix}_edges e on e.src = w.cell),
    {prefix}_comp as (
      select cell, min(label) as comp from {prefix}_walk group by cell)"""


def _raster_cte() -> str:
    from ..geo import h3lite as HH

    cell = HH.h3_sql_expr("lon", "lat", _DISSOLVE_RES)
    return (
        f"img as ({FS.images_sql('lineitem')}), "
        f"rast as (select {cell} as cell, count(*) as value from img group by 1)"
    )


def _raster_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorize→dissolve: threshold the point raster, merge touching
    cells into regions (distributed pointer-jumping CC), roll up per
    region. comp = min cell id of the region (deterministic)."""
    from pyspark.sql import functions as F

    from ..operators import dissolve as DV
    from ..operators import tiles as TL

    img = FS.load_images(spark, sf_dir)
    raster = TL.rasterize(img, res=_DISSOLVE_RES)
    d = DV.dissolve(raster, res=_DISSOLVE_RES, threshold=1.0)
    out = (
        DV.dissolve_regions(d)
        .select(
            F.col("comp").cast("long").alias("comp"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("total_value").alias("total_value"),
        )
        .orderBy("comp")
    )
    out = out.persist()
    out.count()
    d.unpersist()
    return out


def _raster_dissolve_oracle() -> str:
    return f"""
    with recursive {_raster_cte()},
    rd_kept as (select cell, value from rast where value >= 1),
    {_cc_oracle_ctes('rd', 'rd_kept', _DISSOLVE_RES)}
    select c.comp as comp,
           cast(count(*) as bigint) as n_cells,
           cast(sum(k.value) as bigint) as total_value
    from rd_comp c join rd_kept k on c.cell = k.cell
    group by c.comp order by comp
    """


_register_fn("raster_dissolve", _raster_dissolve, _raster_dissolve_oracle())


_CLUSTER_MIN_PTS = 2


def _cluster_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (operators/dissolve.cluster_points):
    label every image in a dense cell (≥2 points) with its merged
    hotspot cluster; roll up per cluster. Noise points are excluded
    (and proven nonzero by n_noise in the pytest leg)."""
    from pyspark.sql import functions as F

    from ..operators.dissolve import cluster_points

    img = FS.load_images(spark, sf_dir)
    labeled = cluster_points(img, res=_DISSOLVE_RES, min_pts=_CLUSTER_MIN_PTS)
    out = (
        labeled.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(F.col("cluster").cast("long"), F.col("n_points").cast("long"))
        .orderBy("cluster")
    )
    out = out.persist()
    out.count()
    labeled.unpersist()
    return out


def _cluster_points_oracle() -> str:
    from ..geo import h3lite as HH

    cell = HH.h3_sql_expr("lon", "lat", _DISSOLVE_RES)
    return f"""
    with recursive {_raster_cte()},
    cp_kept as (select cell, value from rast where value >= {_CLUSTER_MIN_PTS}),
    {_cc_oracle_ctes('cp', 'cp_kept', _DISSOLVE_RES)},
    ptc as (select {cell} as cell from img)
    select c.comp as cluster,
           cast(count(*) as bigint) as n_points
    from ptc p join cp_comp c on p.cell = c.cell
    group by 1 order by 1
    """


_register_fn("cluster_points_density", _cluster_points, _cluster_points_oracle())


_COMPACT_RES, _COMPACT_MIN_RES = 7, 3


def _cells_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-style compact of the image-cover cell set (operators/tiles.
    compact_cells): complete sibling quads collapse recursively —
    lossless mixed-res compression of the occupancy cover."""
    from pyspark.sql import functions as F

    from ..operators.tiles import compact_cells, rasterize

    cells = rasterize(FS.load_images(spark, sf_dir), res=_COMPACT_RES).select("cell")
    return (
        compact_cells(cells, res=_COMPACT_RES, min_res=_COMPACT_MIN_RES)
        .select(F.col("cell").cast("long").alias("cell"))
        .orderBy("cell")
    )


def _cells_compact_oracle() -> str:
    from ..geo import h3lite as HH
    from ..geo.h3lite import parent_sql_expr

    cell = HH.h3_sql_expr("lon", "lat", _COMPACT_RES)
    ctes = [
        f"img as ({FS.images_sql('lineitem')})",
        f"l{_COMPACT_RES} as (select distinct {cell} as cell from img)",
    ]
    keeps = []
    for level in range(_COMPACT_RES, _COMPACT_MIN_RES, -1):
        par = parent_sql_expr("cell", level - 1, dialect="duckdb")
        ctes.append(
            f"g{level} as (select {par} as p, count(*) as n"
            f" from l{level} group by 1)"
        )
        ctes.append(
            f"keep{level} as (select cell from l{level}"
            f" where {par} in (select p from g{level} where n < 4))"
        )
        ctes.append(
            f"l{level - 1} as (select p as cell from g{level} where n = 4)"
        )
        keeps.append(f"select cell from keep{level}")
    keeps.append(f"select cell from l{_COMPACT_MIN_RES}")
    union = " union all ".join(keeps)
    return (
        "with " + ",\n".join(ctes)
        + f"\nselect cast(cell as bigint) as cell from ({union}) u order by cell"
    )


_register_fn("cells_compact_cover", _cells_compact, _cells_compact_oracle())



def _region_overlay_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon↔polygon overlay on two dissolved region sets: regions at
    threshold 1 vs the denser cores at threshold {_OVERLAY_T_B} — every
    core region must relate to exactly the base region it nests in
    (relation computed, not assumed)."""
    from ..operators import dissolve as DV
    from ..operators import tiles as TL

    img = FS.load_images(spark, sf_dir)
    raster = TL.rasterize(img, res=_DISSOLVE_RES).persist()
    a = DV.dissolve(raster, res=_DISSOLVE_RES, threshold=1.0)
    b = DV.dissolve(raster, res=_DISSOLVE_RES, threshold=_OVERLAY_T_B)
    out = DV.region_overlay(a, b).orderBy("comp_a", "comp_b").persist()
    out.count()
    for df in (raster, a, b):
        df.unpersist()
    return out


def _region_overlay_oracle() -> str:
    return f"""
    with recursive {_raster_cte()},
    oa_kept as (select cell, value from rast where value >= 1),
    ob_kept as (select cell, value from rast where value >= {_OVERLAY_T_B}),
    {_cc_oracle_ctes('oa', 'oa_kept', _DISSOLVE_RES)},
    {_cc_oracle_ctes('ob', 'ob_kept', _DISSOLVE_RES)},
    na as (select comp, count(*) as n from oa_comp group by 1),
    nb as (select comp, count(*) as n from ob_comp group by 1),
    pairs as (
      select a.comp as comp_a, b.comp as comp_b, count(*) as n_shared
      from oa_comp a join ob_comp b on a.cell = b.cell
      group by 1, 2)
    select p.comp_a, p.comp_b,
           cast(p.n_shared as bigint) as n_shared_cells,
           case when p.n_shared = na.n and p.n_shared = nb.n then 'equals'
                when p.n_shared = nb.n then 'contains'
                when p.n_shared = na.n then 'within'
                else 'overlaps' end as relation
    from pairs p
    join na on na.comp = p.comp_a
    join nb on nb.comp = p.comp_b
    order by comp_a, comp_b
    """


_register_fn("region_overlay_nested", _region_overlay_nested, _region_overlay_oracle())


def _region_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary extraction over the dissolved regions: perimeter in
    cell-edge units per component (the vector outline of the merged
    region — an interior cell edge is one shared with the SAME comp)."""
    from pyspark.sql import functions as F

    from ..operators import dissolve as DV
    from ..operators import tiles as TL

    img = FS.load_images(spark, sf_dir)
    raster = TL.rasterize(img, res=_DISSOLVE_RES)
    d = DV.dissolve(raster, res=_DISSOLVE_RES, threshold=1.0)
    out = (
        DV.region_boundary_stats(d, res=_DISSOLVE_RES)
        .select(
            F.col("comp").cast("long").alias("comp"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("perimeter_edges").cast("long").alias("perimeter_edges"),
        )
        .orderBy("comp")
        .persist()
    )
    out.count()
    d.unpersist()
    return out


def _region_boundary_oracle() -> str:
    from ..geo import h3lite as HH

    nxr, nyr = HH.nx(_DISSOLVE_RES), HH.ny(_DISSOLVE_RES)
    return f"""
    with recursive {_raster_cte()},
    rb_kept as (select cell, value from rast where value >= 1),
    {_cc_oracle_ctes('rb', 'rb_kept', _DISSOLVE_RES)},
    lab as (
      select c.cell, c.comp,
             (c.cell // {1 << 28}) % {1 << 28} as x, c.cell % {1 << 28} as y
      from rb_comp c),
    probes as (
      select comp, unnest(list_value(
        cell - x * {1 << 28} + ((x + 1) % {nxr}) * {1 << 28},
        cell - x * {1 << 28} + ((x - 1 + {nxr}) % {nxr}) * {1 << 28},
        case when y + 1 < {nyr} then cell + 1 else -1 end,
        case when y > 0 then cell - 1 else -1 end)) as nb
      from lab),
    perim as (
      select p.comp, cast(count(*) as bigint) as perimeter_edges
      from probes p left join rb_comp n2 on n2.cell = p.nb
      where n2.comp is null or n2.comp != p.comp
      group by p.comp),
    sizes as (select comp, cast(count(*) as bigint) as n_cells from rb_comp group by comp)
    select s.comp as comp, s.n_cells, pm.perimeter_edges
    from sizes s join perim pm on s.comp = pm.comp
    order by s.comp
    """


_register_fn("region_boundary_stats", _region_boundary, _region_boundary_oracle())


# deterministic per-image value for the zonal/mosaic entries — pure
# integer arithmetic, identical in Spark SQL and DuckDB, overflow-safe
# to 10^14 image ids
_ZONAL_VAL = "cast(image_id % 97 as bigint)"
_MOSAIC_SCORE = "cast((image_id * 7919 + 104729) % 1000 as double)"


def _zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (count/sum/avg/min/max of a per-image value)
    per polygon of the full A2 fixture set, through the real
    cover+refine PIP operator + map-side-combined groupBy."""
    from pyspark.sql import functions as F

    from .. import data
    from ..operators.zonal import zonal_stats

    img = FS.load_images(spark, sf_dir).withColumn("val", F.expr(_ZONAL_VAL))
    return (
        zonal_stats(spark, img, data.polygons(), "val", res=7)
        .select(
            "poly_id",
            F.col("n").cast("long").alias("n"),
            F.col("sum_val").cast("long").alias("sum_val"),
            F.col("avg_val").cast("double").alias("avg_val"),
            F.col("min_val").cast("long").alias("min_val"),
            F.col("max_val").cast("long").alias("max_val"),
        )
        .orderBy("poly_id")
    )


def _zonal_stats_oracle() -> str:
    """Aggregate the crossing-count PIP oracle — the value column is a
    pure function of image_id, so no re-join against img is needed
    (the oracle's hit set is already one row per img ROW, duplicates
    included, matching the operator)."""
    from .. import data

    pip = pip_crossing_oracle_sql(data.polygons(), FS.images_sql("lineitem"))
    return f"""
    select poly_id,
           cast(count(*) as bigint) as n,
           cast(sum({_ZONAL_VAL}) as bigint) as sum_val,
           cast(avg({_ZONAL_VAL}) as double) as avg_val,
           cast(min({_ZONAL_VAL}) as bigint) as min_val,
           cast(max({_ZONAL_VAL}) as bigint) as max_val
    from ({pip}) hits
    group by poly_id order by poly_id
    """


_register_fn("zonal_stats_polygons", _zonal_stats, _zonal_stats_oracle())


def _tile_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative image per raster tile (deterministic argmax by
    (score desc, image_id asc)) — the thumbnail-pick step of a
    tile-render pipeline, via the struct-max aggregate (no window
    sort, one partial-agg exchange)."""
    from pyspark.sql import functions as F

    from ..operators.tiles import mosaic_best

    img = FS.load_images(spark, sf_dir).withColumn("score", F.expr(_MOSAIC_SCORE))
    return (
        mosaic_best(
            img, "score", id_col="image_id", zoom_res=FS.ZOOM_RES, n_tiles=FS.N_TILES
        )
        .select("tile_id", "image_id", "score", "lon", "lat")
        .orderBy("tile_id")
    )


def _tile_mosaic_oracle() -> str:
    from ..functions import tile_sql_expr
    from ..geo import h3lite as H

    zoom = H.h3_sql_expr("lon", "lat", FS.ZOOM_RES)
    tile = tile_sql_expr(zoom, FS.N_TILES, dialect="duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    scored as (
      select image_id, lon, lat, {tile} as tile_id, {_MOSAIC_SCORE} as score
      from img),
    rk as (
      select *, row_number() over (
        partition by tile_id order by score desc, image_id asc) as rn
      from scored)
    select tile_id, image_id, score, lon, lat from rk where rn = 1
    order by tile_id
    """


_register_fn("tile_mosaic_best", _tile_mosaic, _tile_mosaic_oracle())


_PYR_RES_MIN, _PYR_RES_MAX = 3, 6


def _mosaic_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zoom pyramid of per-cell representatives (operators/tiles.
    mosaic_pyramid): the finest level aggregates points once; coarser
    levels re-aggregate the winners (argmax is associative)."""
    from pyspark.sql import functions as F

    from ..operators.tiles import mosaic_pyramid

    img = FS.load_images(spark, sf_dir).withColumn("score", F.expr(_MOSAIC_SCORE))
    return (
        mosaic_pyramid(
            img, "score", "image_id", res_min=_PYR_RES_MIN, res_max=_PYR_RES_MAX
        )
        .select("res", "cell", "image_id", "score")
        .orderBy("res", "cell")
    )


def _mosaic_pyramid_oracle() -> str:
    from ..geo import h3lite as HH

    legs = []
    for r in range(_PYR_RES_MIN, _PYR_RES_MAX + 1):
        cell = HH.h3_sql_expr("lon", "lat", r)
        legs.append(
            f"""select {r} as res, cell, image_id, score from (
              select {cell} as cell, image_id, score,
                     row_number() over (partition by {cell}
                       order by score desc, image_id asc) as rn
              from scored) t{r} where rn = 1"""
        )
    union = " union all ".join(legs)
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    scored as (select image_id, lon, lat, {_MOSAIC_SCORE} as score from img)
    select cast(res as int) as res, cast(cell as bigint) as cell,
           image_id, score
    from ({union}) u
    order by res, cell
    """


_register_fn("mosaic_pyramid_cells", _mosaic_pyramid, _mosaic_pyramid_oracle())


def _stream_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING windowed per-tile arrival-count operator
    (streaming/incremental.windowed_tile_counts) run in batch mode —
    same plan minus the state store, so the DuckDB oracle value-checks
    the window+tile semantics the live stream executes (the streaming
    runtime itself — availableNow drain, watermark eviction across
    checkpointed restarts — is pinned by
    tests/test_streaming.py::test_windowed_tile_counts_*). Event time
    is a deterministic function of image_id (2h spread, 1-minute
    tumbling windows)."""
    from pyspark.sql import functions as F

    from ..streaming.incremental import windowed_tile_counts

    img = FS.load_images(spark, sf_dir).withColumn(
        "ts",
        F.expr(
            "cast('2024-01-01 00:00:00' as timestamp)"
            " + make_interval(0, 0, 0, 0, 0, 0, cast(image_id % 7200 as int))"
        ),
    )
    return (
        windowed_tile_counts(
            img, window="1 minute", watermark="2 minutes",
            zoom_res=FS.ZOOM_RES, n_tiles=FS.N_TILES,
        )
        .select("window_start", "tile_id", F.col("n").cast("long").alias("n"))
        .orderBy("window_start", "tile_id")
    )


def _stream_tile_counts_oracle() -> str:
    from ..functions import tile_sql_expr
    from ..geo import h3lite as H

    zoom = H.h3_sql_expr("lon", "lat", FS.ZOOM_RES)
    tile = tile_sql_expr(zoom, FS.N_TILES, dialect="duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    pts as (
      select lon, lat,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL (cast(image_id % 7200 as int)) SECOND as ts
      from img)
    select date_trunc('minute', ts) as window_start,
           {tile} as tile_id,
           cast(count(*) as bigint) as n
    from pts
    group by 1, 2
    order by 1, 2
    """


_register_fn("stream_tile_counts_batch", _stream_tile_counts, _stream_tile_counts_oracle())


_FOCAL_RES = 6


def _raster_focal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal (3×3 neighborhood) map algebra over the image-count
    raster — scatter form: explode 9 offsets, ONE groupBy(target) with
    map-side combine, center-flag filter instead of a join-back
    (operators/tiles.focal_stats)."""
    from pyspark.sql import functions as F

    from ..operators.tiles import focal_stats, rasterize

    r = rasterize(FS.load_images(spark, sf_dir), res=_FOCAL_RES)
    return (
        focal_stats(r)
        .select(
            "cell",
            F.col("value").cast("long").alias("value"),
            F.col("focal_sum").cast("long").alias("focal_sum"),
            F.col("focal_n").cast("long").alias("focal_n"),
            F.col("focal_min").cast("long").alias("focal_min"),
            F.col("focal_max").cast("long").alias("focal_max"),
            F.col("focal_mean").cast("double").alias("focal_mean"),
        )
        .orderBy("cell")
    )


def _raster_focal_oracle() -> str:
    from ..geo import h3lite as H
    from ..geo.h3lite import neighbor_sql_expr, neighbor_valid_sql

    cell = H.h3_sql_expr("lon", "lat", _FOCAL_RES)
    tgt = neighbor_sql_expr("cell", "dx", "dy", "duckdb")
    valid = neighbor_valid_sql("cell", "dy", "duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    r as (select {cell} as cell, cast(count(*) as bigint) as value
          from img group by 1),
    sc as (
      select {tgt} as tgt, value, dx, dy
      from r
      cross join (select unnest([-1, 0, 1]) as dx) dxs
      cross join (select unnest([-1, 0, 1]) as dy) dys
      where {valid})
    select tgt as cell,
           cast(max(case when dx = 0 and dy = 0 then value end) as bigint) as value,
           cast(sum(value) as bigint) as focal_sum,
           cast(count(value) as bigint) as focal_n,
           cast(min(value) as bigint) as focal_min,
           cast(max(value) as bigint) as focal_max,
           cast(sum(value) as double) / cast(count(value) as double) as focal_mean
    from sc
    group by tgt
    having max(case when dx = 0 and dy = 0 then 1 else 0 end) = 1
    order by cell
    """


_register_fn("raster_focal_mean", _raster_focal, _raster_focal_oracle())


def _raster_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot spots of the image-count raster
    (operators/tiles.hotspot_gi): focal scatter + a broadcast 1-row
    global aggregate — same single exchange as raster_focal_mean.
    gi_z rounds to 4 decimals so the Spark/DuckDB float paths never
    straddle the 6-decimal gate compare."""
    from pyspark.sql import functions as F

    from ..operators.tiles import hotspot_gi, rasterize

    r = rasterize(FS.load_images(spark, sf_dir), res=_FOCAL_RES)
    return (
        hotspot_gi(r)
        .select(
            "cell",
            F.col("value").cast("long").alias("value"),
            F.col("focal_sum").cast("long").alias("focal_sum"),
            F.col("focal_n").cast("long").alias("focal_n"),
            F.round("gi_z", 4).alias("gi_z"),
            F.col("is_hot").cast("int").alias("is_hot"),
        )
        .orderBy("cell")
    )


def _raster_hotspots_oracle() -> str:
    from ..geo import h3lite as H
    from ..geo.h3lite import neighbor_sql_expr, neighbor_valid_sql

    cell = H.h3_sql_expr("lon", "lat", _FOCAL_RES)
    tgt = neighbor_sql_expr("cell", "dx", "dy", "duckdb")
    valid = neighbor_valid_sql("cell", "dy", "duckdb")
    z = (
        "(cast(focal_sum as double) - mu * cast(focal_n as double))"
        " / (sigma * sqrt((n * cast(focal_n as double)"
        " - cast(focal_n as double) * cast(focal_n as double)) / (n - 1)))"
    )
    guard = "sigma > 0 and n > 1 and cast(focal_n as double) < n"
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    r as (select {cell} as cell, cast(count(*) as bigint) as value
          from img group by 1),
    g as (select cast(count(*) as double) as n,
                 avg(cast(value as double)) as mu,
                 stddev_pop(cast(value as double)) as sigma
          from r),
    sc as (
      select {tgt} as tgt, value, dx, dy
      from r
      cross join (select unnest([-1, 0, 1]) as dx) dxs
      cross join (select unnest([-1, 0, 1]) as dy) dys
      where {valid}),
    f as (
      select tgt as cell,
             cast(max(case when dx = 0 and dy = 0 then value end) as bigint) as value,
             cast(sum(value) as bigint) as focal_sum,
             cast(count(value) as bigint) as focal_n
      from sc
      group by tgt
      having max(case when dx = 0 and dy = 0 then 1 else 0 end) = 1)
    select cell, value, focal_sum, focal_n,
           round(case when {guard} then {z} end, 4) as gi_z,
           case when not ({guard}) then cast(null as int)
                when abs({z}) >= 1.96 then 1 else 0 end as is_hot
    from f cross join g
    order by cell
    """


_register_fn("raster_hotspots_gi", _raster_hotspots, _raster_hotspots_oracle())


_KDE_RADIUS = 2
_KDE_SIGMA = 1.0


def _raster_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian kernel-density heatmap of the image-count raster
    (operators/tiles.kde_heatmap): truncated-Gaussian scatter, one
    exchange. kde rounds to 4 decimals (irrational exp weights never
    sit on a rounding boundary)."""
    from pyspark.sql import functions as F

    from ..operators.tiles import kde_heatmap, rasterize

    r = rasterize(FS.load_images(spark, sf_dir), res=_FOCAL_RES)
    return (
        kde_heatmap(r, radius=_KDE_RADIUS, sigma=_KDE_SIGMA)
        .select(
            "cell",
            F.round("kde", 4).alias("kde"),
            F.col("n_src").cast("long").alias("n_src"),
        )
        .orderBy("cell")
    )


def _raster_kde_oracle() -> str:
    from ..geo import h3lite as H
    from ..geo.h3lite import neighbor_sql_expr, neighbor_valid_sql

    cell = H.h3_sql_expr("lon", "lat", _FOCAL_RES)
    tgt = neighbor_sql_expr("cell", "dx", "dy", "duckdb")
    valid = neighbor_valid_sql("cell", "dy", "duckdb")
    offs = list(range(-_KDE_RADIUS, _KDE_RADIUS + 1))
    two_s2 = 2.0 * _KDE_SIGMA * _KDE_SIGMA
    offs_sql = ", ".join(str(o) for o in offs)
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    r as (select {cell} as cell, cast(count(*) as bigint) as value
          from img group by 1),
    sc as (
      select {tgt} as tgt,
             cast(value as double)
               * exp(-cast(dx*dx + dy*dy as double) / {two_s2!r}) as wv
      from r
      cross join (select unnest([{offs_sql}]) as dx) dxs
      cross join (select unnest([{offs_sql}]) as dy) dys
      where {valid})
    select tgt as cell,
           round(sum(wv), 4) as kde,
           cast(count(*) as bigint) as n_src
    from sc
    group by tgt
    order by cell
    """


_register_fn("raster_kde_heatmap", _raster_kde, _raster_kde_oracle())


def _bbox_boxes_sql(mod: int) -> str:
    """Deterministic bbox set derived from the images skeleton: box
    centred on the image point, half-extent keyed off image_id, edges
    clamped to the globe (no antimeridian wrap — the operator's
    documented contract). Valid in Spark SQL and DuckDB; every literal
    cast to double (house decimal-drift rule)."""

    def d(x: str) -> str:
        return f"cast({x} as double)"

    return f"""
      select image_id,
             greatest(lon - w, {d('-180.0')}) as lon_min,
             greatest(lat - h, {d('-90.0')}) as lat_min,
             least(lon + w, {d('180.0')}) as lon_max,
             least(lat + h, {d('90.0')}) as lat_max
      from (select image_id, lon, lat,
                   {d('0.5')} + cast(image_id % 7 as double) * {d('0.35')} as w,
                   {d('0.4')} + cast(image_id % 5 as double) * {d('0.3')} as h
            from img
            where image_id % {mod} = 0)
    """


def _bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rect-rect spatial join (operators/bbox_join.bbox_intersect_join):
    grid-binned cell equi-join, reference-point dedup (no distinct),
    auto-derived resolution. Output: intersecting (a, b) image pairs +
    overlap area in square degrees."""
    from pyspark.sql import functions as F

    from ..operators.bbox_join import bbox_intersect_join

    FS.load_images(spark, sf_dir)  # registers the lineitem view
    img = FS.images_sql("lineitem")
    a = spark.sql(f"with img as ({img}) {_bbox_boxes_sql(101)}")
    b = spark.sql(f"with img as ({img}) {_bbox_boxes_sql(103)}")
    pairs = bbox_intersect_join(spark, a, b)
    inter_w = F.least("a_lon_max", "b_lon_max") - F.greatest("a_lon_min", "b_lon_min")
    inter_h = F.least("a_lat_max", "b_lat_max") - F.greatest("a_lat_min", "b_lat_min")
    return (
        pairs.select(
            F.col("a_image_id").alias("a_id"),
            F.col("b_image_id").alias("b_id"),
            F.round(inter_w * inter_h, 4).alias("inter_area"),
        )
        .orderBy("a_id", "b_id")
    )


def _bbox_join_oracle() -> str:
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    a as ({_bbox_boxes_sql(101)}),
    b as ({_bbox_boxes_sql(103)})
    select a.image_id as a_id, b.image_id as b_id,
           round((least(a.lon_max, b.lon_max) - greatest(a.lon_min, b.lon_min))
                 * (least(a.lat_max, b.lat_max) - greatest(a.lat_min, b.lat_min)), 4)
             as inter_area
    from a join b
      on a.lon_min <= b.lon_max and b.lon_min <= a.lon_max
     and a.lat_min <= b.lat_max and b.lat_min <= a.lat_max
    order by a_id, b_id
    """


_register_fn("bbox_intersect_join", _bbox_join, _bbox_join_oracle())


_MATCH_RADIUS_M = 75_000.0


def _roads_sql() -> str:
    """Deterministic segment set from the images skeleton: anchor at
    the image point, heading/length keyed off image_id, endpoint
    clamped inside the globe (operator contract: no antimeridian
    crossing). Valid in Spark SQL and DuckDB."""

    def d(x: str) -> str:
        return f"cast({x} as double)"

    dlon = f"{d('0.3')} + cast(image_id % 9 as double) * {d('0.15')}"
    dlat = f"{d('-0.5')} + cast(image_id % 7 as double) * {d('0.17')}"
    return f"""
      select image_id as seg_id,
             lon as ax, lat as ay,
             least(lon + ({dlon}), {d('180.0')}) as bx,
             least(greatest(lat + ({dlat}), {d('-90.0')}), {d('90.0')}) as by
      from img where image_id % 211 = 0
    """


def _map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-road-segment snap (operators/map_match.map_match):
    expanded-bbox cell cover → one cell equi-join → struct-min argmin,
    75 km search radius, auto res."""
    from pyspark.sql import functions as F

    from ..operators.map_match import map_match

    FS.load_images(spark, sf_dir)
    img = FS.images_sql("lineitem")
    segs = spark.sql(f"with img as ({img}) {_roads_sql()}")
    pts = spark.sql(
        f"with img as ({img}) select image_id, lon, lat from img where image_id % 37 = 0"
    )
    return (
        map_match(spark, pts, segs, radius_m=_MATCH_RADIUS_M)
        .select(
            F.col("image_id").alias("point_id"),
            F.col("seg_id").cast("long").alias("seg_id"),
            F.round("dist_m", 3).alias("dist_m"),
            F.round("t", 6).alias("t"),
        )
        .orderBy("point_id")
    )


def _map_match_oracle() -> str:
    from ..operators.map_match import snap_sql_exprs

    s = snap_sql_exprs("p.lon", "p.lat", "s.ax", "s.ay", "s.bx", "s.by")
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    seg as ({_roads_sql()}),
    p as (select image_id, lon, lat from img where image_id % 37 = 0),
    cand as (
      select p.image_id as point_id, s.seg_id,
             {s['dist_m']} as d, {s['t']} as t
      from p cross join seg s
      where {s['dist_m']} <= {_MATCH_RADIUS_M!r}),
    ranked as (
      select point_id, seg_id, d, t,
             row_number() over (partition by point_id order by d, seg_id) as rn
      from cand)
    select point_id, cast(seg_id as bigint) as seg_id,
           round(d, 3) as dist_m, round(t, 6) as t
    from ranked where rn = 1
    order by point_id
    """


_register_fn("map_match_nearest", _map_match, _map_match_oracle())


def _raster_local_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local (cell-wise) two-raster algebra: all-images count raster
    minus the count raster of the ``image_id % 3 = 0`` subset, full
    outer with nodata→0 fill (operators/tiles.local_op)."""
    from pyspark.sql import functions as F

    from ..operators.tiles import local_op, rasterize

    img = FS.load_images(spark, sf_dir)
    ra = rasterize(img, res=_FOCAL_RES)
    rb = rasterize(img.where(F.col("image_id") % 3 == 0), res=_FOCAL_RES)
    return (
        local_op(ra, rb, lambda a, b: a - b, fill=0)
        .select(
            "cell",
            F.col("value_a").cast("long").alias("value_a"),
            F.col("value_b").cast("long").alias("value_b"),
            F.col("value").cast("long").alias("value"),
        )
        .orderBy("cell")
    )


def _raster_local_diff_oracle() -> str:
    from ..geo import h3lite as H

    cell = H.h3_sql_expr("lon", "lat", _FOCAL_RES)
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    ra as (select {cell} as cell, cast(count(*) as bigint) as value
           from img group by 1),
    rb as (select {cell} as cell, cast(count(*) as bigint) as value
           from img where image_id % 3 = 0 group by 1)
    select coalesce(ra.cell, rb.cell) as cell,
           cast(coalesce(ra.value, 0) as bigint) as value_a,
           cast(coalesce(rb.value, 0) as bigint) as value_b,
           cast(coalesce(ra.value, 0) - coalesce(rb.value, 0) as bigint) as value
    from ra full outer join rb on ra.cell = rb.cell
    order by cell
    """


_register_fn("raster_local_diff", _raster_local_diff, _raster_local_diff_oracle())


_TRAJ_ENTITIES = 97  # entities = image_id % N — deterministic synthetic tracks
_TRAJ_GAP_S = 1000.0


def _trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity trajectory segmentation + movement stats
    (operators/trajectory.trajectory_stats): event time = image_id
    seconds (unique within entity → deterministic ordering), tracks
    split at gaps > _TRAJ_GAP_S. total_m rounds to whole meters so the
    float-sum never straddles the DuckDB comparison at 6 decimals."""
    from pyspark.sql import functions as F

    from ..operators.trajectory import trajectory_stats

    pts = FS.load_images(spark, sf_dir).select(
        (F.col("image_id") % _TRAJ_ENTITIES).alias("entity_id"),
        F.col("image_id").cast("double").alias("t"),
        "lon",
        "lat",
    )
    return (
        trajectory_stats(pts, id_col="entity_id", ts_col="t", gap_s=_TRAJ_GAP_S)
        .select(
            F.col("entity_id").cast("long").alias("entity_id"),
            F.col("segment").cast("long").alias("segment"),
            F.col("n_points").cast("long").alias("n_points"),
            F.col("duration_s").cast("long").alias("duration_s"),
            F.round("total_m", 0).cast("long").alias("total_m"),
            # single-point segments have no leg: 0.0, not null — the
            # driver's value-hash canonicalizer must never see NaN
            F.coalesce(F.round("max_leg_m", 3), F.lit(0.0)).alias("max_leg_m"),
        )
        .orderBy("entity_id", "segment")
    )


def _trajectory_stats_oracle() -> str:
    from ..functions import haversine_sql_expr

    hav = haversine_sql_expr("plat", "plon", "lat", "lon")
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    pts as (
      select image_id % {_TRAJ_ENTITIES} as entity_id,
             cast(image_id as double) as t, lon, lat
      from img),
    legs as (
      select entity_id, t, lon, lat,
             t - lag(t) over w as dt,
             lag(lat) over w as plat,
             lag(lon) over w as plon
      from pts
      window w as (partition by entity_id order by t)),
    seg as (
      select *,
             case when dt > {_TRAJ_GAP_S} then 1 else 0 end as brk,
             sum(case when dt > {_TRAJ_GAP_S} then 1 else 0 end) over (
               partition by entity_id order by t
               rows between unbounded preceding and current row) as segment
      from legs),
    lm as (
      select *,
             case when plat is not null and brk = 0 then {hav} end as leg_m
      from seg)
    select cast(entity_id as bigint) as entity_id,
           cast(segment as bigint) as segment,
           cast(count(*) as bigint) as n_points,
           cast(max(t) - min(t) as bigint) as duration_s,
           cast(round(coalesce(sum(leg_m), 0.0), 0) as bigint) as total_m,
           coalesce(round(max(leg_m), 3), 0.0) as max_leg_m
    from lm
    group by entity_id, segment
    order by entity_id, segment
    """


_register_fn("trajectory_stats_entities", _trajectory_stats, _trajectory_stats_oracle())


def _ingest_repair_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper → detect → extract → repair → verify-green as ONE
    pipeline (the reference's Verifier → ExtractVIDFromErrorLogs →
    Reingester loop, wired end-to-end): write a resumable store,
    corrupt one partition's phashes in place (same row count — only
    the digest can catch it), let verify_manifests name the failed
    partitions, repair exactly those from source, re-verify. The
    summary is deterministic for a given sf_dir → full value oracle."""
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F

    from .. import manifest as M

    out = tempfile.mkdtemp(prefix="repair_rt_")
    try:
        img = (
            FS.load_images(spark, sf_dir)
            .withColumn("_ids", F.col("image_id").cast("string"))
            .withColumn("bucket", F.pmod(F.xxhash64("_ids"), F.lit(8)))
            .withColumn("tile_id", F.pmod(F.xxhash64("_ids", "_ids"), F.lit(64)).cast("int"))
            .withColumn("phash", F.xxhash64("_ids"))
            .drop("_ids")
        )
        stats = M.write_resumable(spark, img, out, "bucket", commit_seq=1)
        # tamper: value drift in bucket 3, row count unchanged
        (
            img.where("bucket = 3")
            .withColumn("phash", F.col("phash") + 1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(f"{out}/data")
        )
        failed = [
            r[0]
            for r in M.verify_manifests(spark, out, "bucket")
            .select("partition_id")
            .collect()
        ]
        res = M.repair_partitions(spark, img, out, "bucket", failed, commit_seq=2)
        post = M.verify_manifests(spark, out, "bucket").count()
        rows_final = spark.read.parquet(f"{out}/data").count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    summary = pd.DataFrame(
        {
            "stage": [
                "written_partitions", "tampered_partitions", "detected_failures",
                "repaired_partitions", "repair_verify_failures",
                "post_repair_failures", "rows_final",
            ],
            "n": [
                stats["written"], 1, len(failed),
                res["repaired"], res["verify_failures"], post, rows_final,
            ],
        }
    )
    summary["n"] = summary["n"].astype("int64")
    return spark.createDataFrame(summary).orderBy("stage")


def _ingest_repair_oracle() -> str:
    return f"""
    with img as ({FS.images_sql('lineitem')})
    select stage, n from (values
      ('written_partitions', cast(8 as bigint)),
      ('tampered_partitions', cast(1 as bigint)),
      ('detected_failures', cast(1 as bigint)),
      ('repaired_partitions', cast(1 as bigint)),
      ('repair_verify_failures', cast(0 as bigint)),
      ('post_repair_failures', cast(0 as bigint)),
      ('rows_final', (select cast(count(*) as bigint) from img))
    ) t(stage, n) order by stage
    """


_register_fn("ingest_repair_roundtrip", _ingest_repair_roundtrip, _ingest_repair_oracle())

_POINTS_SQL = """
    select cast(c_custkey as string) as point_id,
           cast((c_custkey * 7919) % 360000 as double) / 1000.0 - 180.0 as lon,
           cast((c_custkey * 104729) % 180000 as double) / 1000.0 - 90.0 as lat
    from customer
"""
_QUERIES_SQL = """
    select cast(s_suppkey as string) as query_id,
           cast((s_suppkey * 13007) % 360000 as double) / 1000.0 - 180.0 as lon,
           cast((s_suppkey * 29429) % 180000 as double) / 1000.0 - 90.0 as lat,
           5 as k
    from supplier
"""


def _knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.knn_join import knn_auto_res_points, knn_join

    _load(spark, sf_dir, "customer", "supplier")
    points = spark.sql(_POINTS_SQL).withColumnRenamed("point_id", "image_id")
    qs = spark.sql(_QUERIES_SQL).toPandas()
    # density-derived res (pure perf knob — exact kNN at any res);
    # stats-based, no count() scan (adversarial-review r5)
    res = knn_auto_res_points(points, k=5)
    return knn_join(spark, points, qs, res=res).select(
        "query_id", "image_id", "rank"
    )


def _knn_oracle() -> str:
    from ..functions import haversine_sql_expr

    dist = haversine_sql_expr("q.lat", "q.lon", "p.lat", "p.lon")
    return f"""
    with p as ({_POINTS_SQL}), q as ({_QUERIES_SQL}),
    ranked as (
      select q.query_id, p.point_id as image_id,
             row_number() over (partition by q.query_id
                                order by {dist}, p.point_id) as rank
      from q cross join p
    )
    select query_id, image_id, cast(rank as int) as rank
    from ranked where rank <= 5
    """


_register_fn("knn_join_suppliers", _knn, _knn_oracle())


def _radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial range join (ST_DWithin analog): all points within 750 km
    of each query, via one cell-disk cover at the kNN coverage bound."""
    from pyspark.sql import functions as F

    from ..operators.knn_join import radius_join

    _load(spark, sf_dir, "customer", "supplier")
    points = spark.sql(_POINTS_SQL).withColumnRenamed("point_id", "image_id")
    qdf = spark.sql(_QUERIES_SQL).where("cast(query_id as int) % 20 = 0").drop("k")
    return (
        radius_join(spark, points, qdf, radius_m=750_000.0)  # res auto-derived
        .withColumn("dist_m", F.round("dist_m", 3))
        .orderBy("query_id", "image_id")
    )


def _radius_oracle() -> str:
    from ..functions import haversine_sql_expr

    dist = haversine_sql_expr("q.lat", "q.lon", "p.lat", "p.lon")
    return f"""
    with p as ({_POINTS_SQL}),
    q as (select * from ({_QUERIES_SQL}) t where cast(query_id as int) % 20 = 0)
    select q.query_id, p.point_id as image_id, round({dist}, 3) as dist_m
    from q cross join p
    where {dist} <= 750000.0
    order by query_id, image_id
    """


_register_fn("radius_join_within", _radius, _radius_oracle())


def _radius_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial exclusion (operators/knn_join.radius_anti_join): points
    outside EVERY query's 750 km buffer — same disk machinery as
    radius_join_within, complement semantics, one id anti-join."""
    from pyspark.sql import functions as F

    from ..operators.knn_join import radius_anti_join

    _load(spark, sf_dir, "customer", "supplier")
    points = spark.sql(_POINTS_SQL).withColumnRenamed("point_id", "image_id")
    qdf = spark.sql(_QUERIES_SQL).where("cast(query_id as int) % 20 = 0").drop("k")
    return (
        radius_anti_join(spark, points, qdf, radius_m=750_000.0)
        .select(
            F.col("image_id").cast("string").alias("image_id"),
            F.round("lon", 6).alias("lon"),
            F.round("lat", 6).alias("lat"),
        )
        .orderBy("image_id")
    )


def _radius_anti_oracle() -> str:
    from ..functions import haversine_sql_expr

    dist = haversine_sql_expr("q.lat", "q.lon", "p.lat", "p.lon")
    return f"""
    with p as ({_POINTS_SQL}),
    q as (select * from ({_QUERIES_SQL}) t where cast(query_id as int) % 20 = 0)
    select cast(p.point_id as varchar) as image_id,
           round(p.lon, 6) as lon, round(p.lat, 6) as lat
    from p
    where not exists (
      select 1 from q where {dist} <= 750000.0)
    order by image_id
    """


_register_fn("radius_anti_join_clear", _radius_anti, _radius_anti_oracle())


_IDW_VALUE = "cast(c_custkey % 89 as double)"


def _idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW spatial interpolation (operators/interpolate): estimate the
    per-point sample value at each query location from samples within
    750 km — radius join (value rides carry_cols) + one weighted agg."""
    from pyspark.sql import functions as F

    from ..operators.interpolate import idw_interpolate

    _load(spark, sf_dir, "customer", "supplier")
    points = (
        spark.sql(_POINTS_SQL)
        .withColumnRenamed("point_id", "image_id")
        .withColumn("value", F.expr(_IDW_VALUE.replace("c_custkey", "cast(image_id as bigint)")))
    )
    targets = spark.sql(_QUERIES_SQL).where("cast(query_id as int) % 4 = 0").drop("k")
    return (
        idw_interpolate(spark, points, targets, radius_m=750_000.0)
        .select(
            "query_id",
            F.round("idw_value", 5).alias("idw_value"),
            F.col("n_support").cast("long").alias("n_support"),
            F.round("nearest_m", 3).alias("nearest_m"),
        )
        .orderBy("query_id")
    )


def _idw_oracle() -> str:
    from ..functions import haversine_sql_expr

    dist = haversine_sql_expr("q.lat", "q.lon", "p.lat", "p.lon")
    return f"""
    with p as (select t.*, {_IDW_VALUE.replace('c_custkey', 'cast(point_id as bigint)')} as value
               from ({_POINTS_SQL}) t),
    q as (select * from ({_QUERIES_SQL}) t where cast(query_id as int) % 4 = 0),
    hits as (
      select q.query_id, {dist} as d, p.value
      from q cross join p
      where {dist} <= 750000.0)
    select query_id,
           round(sum(value / pow(greatest(d, 1.0), 2.0))
                 / sum(1.0 / pow(greatest(d, 1.0), 2.0)), 5) as idw_value,
           cast(count(*) as bigint) as n_support,
           round(min(d), 3) as nearest_m
    from hits
    group by query_id
    order by query_id
    """


_register_fn("idw_interpolate_radius", _idw, _idw_oracle())


def _asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over `events`: for each click, the user's latest view
    at-or-before it (temporal point-in-time lookup; operators/asof_join)."""
    from pyspark.sql import functions as F

    from ..operators.asof_join import asof_join

    _load(spark, sf_dir, "events")
    left = spark.sql(
        "select event_id, ts, user_id, value from events where event_type = 'click'"
    )
    right = spark.sql(
        "select event_id, ts, user_id, value from events where event_type = 'view'"
    )
    # no-match rows keep a -1 sentinel instead of null: the driver's
    # value canonicalizer can't sort mixed float/NaN tuples
    return (
        asof_join(left, right)
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("asof_event_id"), F.lit(-1)).alias("asof_event_id"),
            F.round(F.coalesce(F.col("asof_value"), F.lit(-1.0)), 5).alias("asof_value"),
        )
        .orderBy("event_id")
    )


def _asof_oracle() -> str:
    # struct-packed payload (atomic fill — see operators/asof_join.py)
    # + NULLS FIRST pinned to match Spark's asc default
    win = (
        "over (partition by user_id"
        " order by ts nulls first, side nulls first, rord nulls first"
        " rows between unbounded preceding and current row)"
    )
    return f"""
    with l as (select event_id, ts, user_id, value from events where event_type = 'click'),
    r as (select event_id, ts, user_id, value from events where event_type = 'view'),
    spine as (
      select event_id, ts, user_id, 1 as side,
             cast(null as bigint) as rord,
             cast(null as struct(event_id bigint, value double)) as payload
      from l
      union all
      select cast(null as bigint), ts, user_id, 0, event_id,
             struct_pack(event_id := event_id, value := value)
      from r),
    filled as (
      select event_id, user_id, side,
             last_value(payload ignore nulls) {win} as p
      from spine)
    select event_id, user_id,
           coalesce(p.event_id, -1) as asof_event_id,
           round(coalesce(p.value, -1.0), 5) as asof_value
    from filled where side = 1 order by event_id
    """


_register_fn("asof_join_clicks_views", _asof, _asof_oracle())


def _rollup_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style two-level rollup: minute pre-aggregates
    re-aggregated to hours. The oracle aggregates the raw rows straight
    to hours, so a value-MATCH proves the re-aggregation is lossless
    (sum/count/min/max compose; avg is derived sum/count, never
    averaged-of-averages)."""
    from pyspark.sql import functions as F

    _load(spark, sf_dir, "events")
    minutes = (
        spark.table("events")
        .groupBy(
            F.date_trunc("minute", "ts").alias("minute"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )
    return (
        minutes.groupBy(F.date_trunc("hour", "minute").alias("hour"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_v"), 4).alias("sum_v"),
            F.round(F.sum("sum_v") / F.sum("n"), 6).alias("avg_v"),
            F.round(F.min("min_v"), 4).alias("min_v"),
            F.round(F.max("max_v"), 4).alias("max_v"),
        )
        .orderBy("hour", "event_type")
    )


def _rollup_hour_oracle() -> str:
    return """
    select date_trunc('hour', ts) as hour, event_type,
           cast(count(*) as bigint) as n,
           round(sum(value), 4) as sum_v,
           round(sum(value) / count(*), 6) as avg_v,
           round(min(value), 4) as min_v,
           round(max(value), 4) as max_v
    from events
    group by 1, 2 order by 1, 2
    """


_register_fn("events_rollup_hour", _rollup_hour, _rollup_hour_oracle())


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity) per user via
    Spark's native session_window; the oracle derives the identical
    sessions with a lag/cumulative-sum construction — a value MATCH
    pins Spark's session semantics to the textbook definition."""
    from pyspark.sql import functions as F

    _load(spark, sf_dir, "events")
    return (
        spark.table("events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_v"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_v",
        )
        .orderBy("user_id", "session_start")
    )


def _sessionize_oracle() -> str:
    # new session when the gap from the previous event (per user)
    # is >= 30 min; session id = cumulative count of session starts
    return """
    with ordered as (
      select user_id, ts, value, event_id,
             case when ts - lag(ts) over (partition by user_id order by ts, event_id)
                       >= interval 30 minutes then 1
                  when lag(ts) over (partition by user_id order by ts, event_id) is null then 1
                  else 0 end as new_session
      from events),
    tagged as (
      select user_id, ts, value,
             sum(new_session) over (partition by user_id order by ts, event_id
                                    rows between unbounded preceding and current row) as sid
      from ordered)
    select user_id, min(ts) as session_start,
           cast(count(*) as bigint) as n_events,
           round(sum(value), 4) as sum_v
    from tagged group by user_id, sid
    order by user_id, session_start
    """


_register_fn("events_sessionize", _sessionize, _sessionize_oracle())


def _percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type: Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the continuous
    (type-7) definition."""
    from pyspark.sql import functions as F

    _load(spark, sf_dir, "events")
    return (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 5).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 5).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 5).alias("p99"),
        )
        .orderBy("event_type")
    )


def _percentiles_oracle() -> str:
    return """
    select event_type,
           round(quantile_cont(value, 0.5), 5) as p50,
           round(quantile_cont(value, 0.95), 5) as p95,
           round(quantile_cont(value, 0.99), 5) as p99
    from events group by 1 order by 1
    """


_register_fn("events_value_percentiles", _percentiles, _percentiles_oracle())


def _split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe train/val/test assignment (salted-md5
    uniform per doc id) — per-(source, split) counts."""
    from pyspark.sql import functions as F

    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    expr = TD.split_assign_sql("doc_id", "spark")
    return (
        spark.table("documents")
        .withColumn("split", F.expr(expr))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source", "split")
    )


def _split_assign_oracle() -> str:
    from ..operators import textdedup as TD

    expr = TD.split_assign_sql("doc_id", "duckdb")
    return f"""
    select source, {expr} as split, cast(count(*) as bigint) as n
    from documents group by 1, 2 order by 1, 2
    """


_register_fn("dataset_split_assign", _split_assign, _split_assign_oracle())


def _tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textdedup import tfidf_top_terms

    _load(spark, sf_dir, "documents")
    return tfidf_top_terms(spark.table("documents")).orderBy("doc_id", "rank")


def _tfidf_oracle() -> str:
    return """
    with words as (
      select doc_id, unnest(string_split(text, ' ')) as word from documents),
    w as (select doc_id, word from words where word <> ''),
    tf as (select doc_id, word, count(*) as tf from w group by 1, 2),
    n as (select count(distinct doc_id) as n_docs from documents),
    dfreq as (select word, count(*) as df from tf group by 1),
    scored as (
      select tf.doc_id, tf.word,
             round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1)) + 1.0), 6) as tfidf
      from tf join dfreq using (word) cross join n),
    ranked as (
      select doc_id, word, tfidf,
             cast(row_number() over (partition by doc_id
                                     order by tfidf desc, word) as int) as rank
      from scored)
    select doc_id, word, tfidf, rank from ranked
    where rank <= 3 order by doc_id, rank
    """


_register_fn("text_tfidf_top_terms", _tfidf, _tfidf_oracle())


# PII redaction (operators/textdedup.pii_redact): deterministic PII is
# injected into the synthetic documents (emails always; phones always;
# IPs on doc_id%3=0; SSNs on doc_id%5=0), then scrubbed with the shared
# PII_PATTERNS pipeline. The oracle replays the injection AND the
# sequential count-then-replace via pii_redact_duckdb_cols, so the regex
# semantics themselves are value-checked across Java-regex vs RE2.
def _pii_input_sql(dialect: str) -> str:
    s = "string" if dialect == "spark" else "varchar"
    return f"""select doc_id,
      text || ' contact user' || cast(doc_id as {s}) || '@example.com'
           || ' or call +1-555-867-' || lpad(cast(doc_id % 10000 as {s}), 4, '0')
           || case when doc_id % 3 = 0
                   then ' from 10.0.' || cast(doc_id % 256 as {s}) || '.7' else '' end
           || case when doc_id % 5 = 0
                   then ' ssn 123-45-' || lpad(cast(doc_id % 10000 as {s}), 4, '0')
                   else '' end as text
    from documents"""


def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textdedup import pii_redact

    _load(spark, sf_dir, "documents")
    inp = spark.sql(_pii_input_sql("spark"))
    return pii_redact(inp).select(
        "doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone", "redacted"
    ).orderBy("doc_id")


def _pii_redact_oracle() -> str:
    from ..operators.textdedup import pii_redact_duckdb_cols

    return f"""
    with inp as ({_pii_input_sql('duckdb')})
    select doc_id,
       {pii_redact_duckdb_cols('text')}
    from inp order by doc_id
    """


_register_fn("text_pii_redact", _pii_redact, _pii_redact_oracle())


# Benchmark decontamination (operators/textdedup.decontaminate):
# documents from source 'src0' play the eval suite; every other doc
# sharing any word 5-gram with it is dropped. The oracle re-derives the
# contaminated set with the same shingle template (shingles_sql) and a
# NOT IN — output is the surviving corpus ids with their source, so a
# single extra survivor or casualty flips the value hash.
def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textdedup import decontaminate

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    corpus = docs.where("source <> 'src0'")
    bench = docs.where("source = 'src0'")
    return (
        decontaminate(corpus, bench, k=5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _decontaminate_oracle() -> str:
    from ..operators.textdedup import shingles_sql

    sh = shingles_sql("text", 5, "duckdb")
    return f"""
    with corpus as (select * from documents where source <> 'src0'),
    bench as (select * from documents where source = 'src0'),
    csh as (select doc_id, unnest({sh}) as sh from corpus),
    bsh as (select distinct unnest({sh}) as sh from bench),
    bad as (select distinct c.doc_id from csh c join bsh b using (sh))
    select doc_id, source from corpus
    where doc_id not in (select doc_id from bad)
    order by doc_id
    """


_register_fn("decontaminate_ngram_overlap", _decontaminate, _decontaminate_oracle())


# Bounded-hop shortest paths (operators/graph.shortest_paths): a
# deterministic synthetic road network over 250 nodes derived from the
# supplier+customer keys (both coordinates are functions of key mod
# 250, so the DISTINCT edge set saturates at a few hundred edges at any
# sf — out-degree ~2, which keeps the recursive-CTE oracle's walk
# enumeration bounded). Integer weights: min-of-sums is bit-stable
# across engines. Source node 0, hop bound 6.
_GRAPH_EDGES_SQL = """
    select s_suppkey % 250 as src, (s_suppkey * 13 + 7) % 250 as dst,
           1 + s_suppkey % 20 as w
    from supplier
    union all
    select c_custkey % 250, (c_custkey * 31 + 3) % 250, 1 + c_custkey % 15
    from customer
"""


def _shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import shortest_paths

    _load(spark, sf_dir, "supplier", "customer")
    edges = spark.sql(_GRAPH_EDGES_SQL)
    return shortest_paths(edges, sources=[0], hops=6).orderBy("node")


def _shortest_paths_oracle() -> str:
    from ..operators.graph import shortest_paths_oracle_sql

    return shortest_paths_oracle_sql(_GRAPH_EDGES_SQL, source=0, hops=6) + " order by node"


_register_fn("graph_shortest_paths", _shortest_paths, _shortest_paths_oracle())


# Gopher-style repetition filter (operators/textdedup.repetition_stats):
# duplicate-word / duplicate-bigram / top-word fractions + flag. The
# HOF fractions are zero-shuffle array expressions; only the top-word
# count pays a doc-keyed exchange.
def _repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textdedup import repetition_stats

    _load(spark, sf_dir, "documents")
    return repetition_stats(spark.table("documents")).orderBy("doc_id")


def _repetition_oracle() -> str:
    from ..operators.textdedup import repetition_stats_duckdb_sql

    return (
        repetition_stats_duckdb_sql("select doc_id, text from documents")
        + " order by 1"
    )


_register_fn("text_repetition_filter", _repetition, _repetition_oracle())


# Exactly-replayable Lloyd k-means (operators/clustering.kmeans_lite):
# 8 clusters, 3 iterations over the embeddings table. Integer-quantized
# arithmetic end to end — the full iterative trajectory (seeding,
# assignments, centroid updates) is bit-identical in DuckDB, so the
# oracle checks the ALGORITHM, not a summary statistic.
def _kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_lite

    _load(spark, sf_dir, "embeddings")
    return kmeans_lite(spark.table("embeddings"), k=8, iters=3).orderBy("vec_id")


def _kmeans_oracle() -> str:
    from ..operators.clustering import kmeans_oracle_sql

    return (
        kmeans_oracle_sql("select vec_id, embedding from embeddings", k=8, iters=3)
        + " order by vec_id"
    )


_register_fn("kmeans_clusters", _kmeans, _kmeans_oracle())


# Polygon buffer/rasterize (operators/buffer.polygon_buffer): 50 km
# buffer at res 9 over every non-polar fixture polygon — concave,
# antimeridian-crossing, boundary-aligned, and the degenerate
# line/point/bowtie (whose buffers are pure edge-distance disks).
_BUF_RES, _BUF_R = 9, 50_000.0


def _poly_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import data
    from ..operators.buffer import polygon_buffer

    polys = [p for p in data.polygons() if p["kind"] != "polar_cap"]
    return polygon_buffer(spark, polys, _BUF_R, _BUF_RES).orderBy("poly_id", "cell")


def _poly_buffer_oracle() -> str:
    from .. import data
    from ..operators.buffer import polygon_buffer_oracle_sql

    polys = [p for p in data.polygons() if p["kind"] != "polar_cap"]
    return (
        polygon_buffer_oracle_sql(polys, _BUF_R, _BUF_RES) + " order by poly_id, cell"
    )


_register_fn("polygon_buffer_cells", _poly_buffer, _poly_buffer_oracle())


# PQ / ADC top-k (operators/clustering.pq_fit_encode + pq_topk):
# 4 sub-codebooks × 8 codes trained with 2 Lloyd iterations, ADC
# search for 3 queries. The oracle unrolls the ENTIRE pipeline —
# 4 training chains, encode, distance tables, rank — in integer
# arithmetic, so codebooks, codes, and rankings are all value-checked.
_PQ_DATA = "select cast(vec_id as bigint) as vec_id, embedding from embeddings"
_PQ_QUERIES = (
    "select cast(vec_id as string) as query_id, embedding"
    " from embeddings where vec_id in (0, 7, 42)"
)


def _pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_fit_encode, pq_topk

    _load(spark, sf_dir, "embeddings")
    codes, codebook = pq_fit_encode(spark.sql(_PQ_DATA), m=4, k=8, iters=2)
    return pq_topk(
        codes, codebook, spark.sql(_PQ_QUERIES), k_results=5
    ).orderBy("query_id", "rank")


def _pq_topk_oracle() -> str:
    from ..operators.clustering import pq_topk_oracle_sql

    return (
        pq_topk_oracle_sql(_PQ_DATA, _PQ_QUERIES, m=4, k=8, iters=2, k_results=5)
        + " order by query_id, rank"
    )


_register_fn("similarity_pq_topk", _pq_topk, _pq_topk_oracle())


# Interval overlap join (operators/intervals.interval_join): 30-min
# incident windows around error events × click sessions (value-minutes
# long), exact microsecond-epoch overlap. The Spark side is the binned
# reference-bin plan (one equi-join, no distinct); the oracle is the
# direct quadratic overlap join — the gate certifies the binning loses
# and duplicates nothing.
_INT_BIN_US = 1_800_000_000  # 30-minute bins


def _interval_a_sql(dialect: str) -> str:
    # ts is TIMESTAMP_NTZ: timestampdiff from the NTZ epoch is the
    # timezone-independent twin of DuckDB's epoch_us
    us = (
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
        if dialect == "spark"
        else "epoch_us(ts)"
    )
    return (
        f"select event_id as id, {us} as s, {us} + 1800000000 as e"
        f" from events where event_type = 'error'"
    )


def _interval_b_sql(dialect: str) -> str:
    # ts is TIMESTAMP_NTZ: timestampdiff from the NTZ epoch is the
    # timezone-independent twin of DuckDB's epoch_us
    us = (
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
        if dialect == "spark"
        else "epoch_us(ts)"
    )
    return (
        f"select event_id as id, {us} as s,"
        f" {us} + cast(round(value * 60 * 1000000) as bigint) as e"
        f" from events where event_type = 'click'"
    )


def _interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.intervals import interval_join

    _load(spark, sf_dir, "events")
    a = spark.sql(_interval_a_sql("spark"))
    b = spark.sql(_interval_b_sql("spark"))
    return interval_join(a, b, bin_us=_INT_BIN_US).orderBy("a_id", "b_id")


def _interval_join_oracle() -> str:
    return f"""
    with a as ({_interval_a_sql('duckdb')}),
    b as ({_interval_b_sql('duckdb')})
    select a.id as a_id, b.id as b_id,
           least(a.e, b.e) - greatest(a.s, b.s) as overlap_us
    from a join b on a.s < b.e and b.s < a.e
    order by a_id, b_id
    """


_register_fn("interval_overlap_join", _interval_join, _interval_join_oracle())


def _s2_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-lite encode (Arrow pandas_udf — the numpy kernel, exercising
    the Arrow path) → per-face counts. The DuckDB oracle is the
    ``s2_sql_expr`` twin: kernel-vs-SQL parity is exact on the fixture
    (0 mismatching cells at sf0.001/sf0.01; a libm 1-ulp flip would
    need a point within ~1e-15 of a cell boundary)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..geo import s2lite

    def _s2c(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(s2lite.latlng_to_cell(lat.to_numpy(), lon.to_numpy(), 12))

    # annotations must be resolvable in the module namespace; pd is local
    _s2c.__annotations__ = {"lat": pd.Series, "lon": pd.Series, "return": pd.Series}
    s2c = F.pandas_udf(_s2c, T.LongType())

    img = FS.load_images(spark, sf_dir)
    return (
        img.withColumn("s2_cell", s2c(F.col("lat"), F.col("lon")))
        .withColumn("face", F.expr(f"cast(s2_cell div {1 << 59} as int)"))
        .groupBy("face")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("face")
    )


def _s2_hist_oracle() -> str:
    from ..geo import s2lite

    expr = s2lite.s2_sql_expr("lon", "lat", 12, "duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    cells as (select {expr} as s2_cell from img)
    select cast(s2_cell // {1 << 59} as int) as face, cast(count(*) as bigint) as n
    from cells group by 1 order by 1
    """


_register_fn("s2_encode_hist", _s2_hist, _s2_hist_oracle())


def _geohash_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encode (geo/geohash — third index family) → top prefixes
    at precision 4, the standard geohash aggregation shape."""
    from pyspark.sql import functions as F

    from ..geo import geohash as GH

    img = FS.load_images(spark, sf_dir)
    return (
        img.withColumn("gh", F.expr(GH.geohash_sql_expr("lon", "lat", 4, "spark")))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gh"))
        .limit(40)
    )


def _geohash_hist_oracle() -> str:
    from ..geo import geohash as GH

    expr = GH.geohash_sql_expr("lon", "lat", 4, "duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')})
    select {expr} as gh, cast(count(*) as bigint) as n
    from img group by 1 order by n desc, gh limit 40
    """


_register_fn("geohash_encode_hist", _geohash_hist, _geohash_hist_oracle())


def _pyramid_sql() -> str:
    """Spatial pyramid rollup (Spark SQL): res-7 per-cell counts
    re-aggregated to res-5 via the aperture-4 parent bit derivation
    (parent x = x >> 2, y >> 2). The ORACLE is deliberately a direct
    res-5 encode, not this query's twin — the MATCH is the proof that
    fine→coarse re-aggregation equals single-level truth."""
    from ..geo import h3lite as H

    c7 = H.h3_sql_expr("lon", "lat", 7)
    parent = H.child_parent_sql("c7", 7, 5)
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    cells as (select {c7} as c7 from img),
    fine as (select c7, count(*) as n from cells group by 1)
    select {parent} as cell_r5, cast(sum(n) as bigint) as n
    from fine group by 1 order by 1
    """


def _pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "lineitem")
    return spark.sql(_pyramid_sql())


def _pyramid_oracle() -> str:
    """Direct res-5 encode — a value MATCH proves the two-level spatial
    pyramid (fine counts → parent sums) equals single-level truth:
    hierarchical tile aggregates can be built from finer tiles without
    re-reading the points."""
    from ..geo import h3lite as H

    c5 = H.h3_sql_expr("lon", "lat", 5)
    return f"""
    with img as ({FS.images_sql('lineitem')})
    select {c5} as cell_r5, cast(count(*) as bigint) as n
    from img group by 1 order by 1
    """


_register_fn("spatial_pyramid_rollup", _pyramid, _pyramid_oracle())


# ===========================================================================
# Reference relational parity (SURVEY.md §2.2/2.3/2.4/2.5/2.6/2.7)
# ===========================================================================

# C1 — md5 digest parity (Util.java:66-78; known-vector discipline of
# TestUtil.java:64-112). Spark needs an explicit binary cast.
_register(
    "c1_md5_digest",
    ["customer"],
    """select cast(c_custkey as bigint) as c_custkey,
              md5(cast(c_name as binary)) as name_md5
       from customer order by c_custkey limit 100""",
    """select cast(c_custkey as bigint) as c_custkey, md5(c_name) as name_md5
       from customer order by c_custkey limit 100""",
)

# F1 — hash-space shard filter (Util.java:86-103, Ingester.java:303-319):
# partition pruning by key mod N — the reference's horizontal-scale scheme.
_SHARD = """select cast(o_orderkey as bigint) as o_orderkey,
                   cast(o_custkey as bigint) as o_custkey
            from orders where o_orderkey % 16 = 3 order by o_orderkey"""
_register("f1_hash_shard", ["orders"], _SHARD, _SHARD)

# F2 — regex predicates (PairtreeToCassandraDataSyncker.java:60,87 state
# machine file selection).
_register(
    "f2_regex_filter",
    ["documents"],
    """select source, cast(count(*) as bigint) as n from documents
       where source rlike '^src1[0-9]$' group by source order by source""",
    """select source, cast(count(*) as bigint) as n from documents
       where regexp_matches(source, '^src1[0-9]$') group by source order by source""",
)

# F3/F4 — path depth + suffix/prefix classification
# (PathDepthFilter.java:69-92; DeltaLogParser.java:289-322).
_register(
    "f3_f4_path_classify",
    ["documents"],
    """with paths as (
         select doc_id, concat('/data/', source, '/', cast(doc_id as string),
                case when doc_id % 3 = 0 then '.zip'
                     when doc_id % 3 = 1 then '.mets.xml' else '' end) as path
         from documents)
       select case when path like '%.zip' then 'zip'
                   when path like '%.mets.xml' then 'mets'
                   else 'other' end as kind,
              cast(size(split(path, '/')) - 1 as bigint) as depth,
              cast(count(*) as bigint) as n
       from paths group by 1, 2 order by 1, 2""",
    """with paths as (
         select doc_id, concat('/data/', source, '/', cast(doc_id as string),
                case when doc_id % 3 = 0 then '.zip'
                     when doc_id % 3 = 1 then '.mets.xml' else '' end) as path
         from documents)
       select case when path like '%.zip' then 'zip'
                   when path like '%.mets.xml' then 'mets'
                   else 'other' end as kind,
              cast(len(string_split(path, '/')) - 1 as bigint) as depth,
              cast(count(*) as bigint) as n
       from paths group by 1, 2 order by 1, 2""",
)

# F5/F6 — pairtree ID cleaning + zero-padded sequence (DeltaLogParser.java:
# 372,433; Util.java:186-195; HectorManager.java:616-634).
_F5 = """select cast(doc_id as bigint) as doc_id,
                translate(concat('uc2.ark:/13960/t', cast(doc_id as string)),
                          ':/.', '+=,') as cleaned,
                lpad(cast(doc_id % 100 as string), 8, '0') as seq
         from documents order by doc_id limit 200"""
_register("f5_f6_pairtree_seq", ["documents"], _F5, _F5)

# J1 — equi joins chained (the METS build+probe joins re-expressed,
# DeltaLogProcessor.java:297-302 / METSParser.java:375-407).
_J1 = """select n.n_name as nation, cast(count(*) as bigint) as n_orders,
                round(sum(o.o_totalprice), 2) as revenue
         from orders o join customer c on o.o_custkey = c.c_custkey
         join nation n on c.c_nationkey = n.n_nationkey
         group by n.n_name order by n.n_name"""
_register("j1_equi_join_chain", ["orders", "customer", "nation"], _J1, _J1)

# J3 — last-writer-wins dedup (DeltaLogParser.java:242-244 upsert maps):
# latest event per user, ties broken by event_id (total order).
_J3 = """select user_id, event_id, event_type
         from (select cast(user_id as bigint) as user_id,
                      cast(event_id as bigint) as event_id, event_type,
                      row_number() over (partition by user_id
                                         order by ts desc, event_id desc) as rn
               from events) t
         where rn = 1 order by user_id"""
_register("j3_lastwriter_dedup", ["events"], _J3, _J3)

# J4 — anti join (PairtreeTrimmer.java:327-357 delete-what-is-not-kept).
_J4 = """select cast(c_custkey as bigint) as c_custkey from customer
         where c_custkey not in (select o_custkey from orders)
         order by c_custkey"""
_register("j4_anti_join", ["customer", "orders"], _J4, _J4)

# J5 — validation join: computed vs declared (HectorManager.java:451-475,
# Verifier.java:288-333) — the checksum discipline as a relational check.
_J5 = """select source,
                cast(sum(case when length(text) = n_chars then 1 else 0 end) as bigint) as n_ok,
                cast(sum(case when length(text) = n_chars then 0 else 1 end) as bigint) as n_bad
         from documents group by source order by source"""
_register("j5_validation_join", ["documents"], _J5, _J5)

# J6 — membership semi join (HectorManager.java:340-407 collection sets).
_J6 = """select c.c_mktsegment as segment, cast(count(*) as bigint) as n_members
         from customer c where exists
           (select 1 from orders o where o.o_custkey = c.c_custkey)
         group by c.c_mktsegment order by segment"""
_register("j6_semi_join", ["customer", "orders"], _J6, _J6)

# A1 — count per group with the reference's max-of-two-counts pageCount
# rule (DeltaLogProcessor.java:365-368).
_A1 = """select cast(l_orderkey as bigint) as l_orderkey,
                cast(count(*) as bigint) as n_lines,
                cast(count(distinct l_partkey) as bigint) as n_parts,
                cast(greatest(count(*), count(distinct l_partkey)) as bigint) as page_count
         from lineitem group by l_orderkey order by l_orderkey limit 500"""
_register("a1_count_per_group", ["lineitem"], _A1, _A1)

# A2 — group + sorted collect (HectorManager.java:576-589 feature reverse
# index: feature → comma-joined sorted page list).
_register(
    "a2_collect_sorted_list",
    ["lineitem"],
    """select cast(l_orderkey as bigint) as l_orderkey,
              array_join(sort_array(collect_list(cast(l_linenumber as string))), ',') as lines
       from lineitem group by l_orderkey order by l_orderkey limit 500""",
    """select cast(l_orderkey as bigint) as l_orderkey,
              string_agg(cast(l_linenumber as varchar), ',' order by cast(l_linenumber as varchar)) as lines
       from lineitem group by l_orderkey order by l_orderkey limit 500""",
)

# A3 — grouped set-accumulate (ExtractVIDFromErrorLogs.java:66-96).
_register(
    "a3_collect_sorted_set",
    ["events"],
    """select cast(user_id as bigint) as user_id,
              array_join(array_sort(collect_set(event_type)), ',') as types
       from events group by user_id order by user_id""",
    """select cast(user_id as bigint) as user_id,
              string_agg(distinct event_type, ',' order by event_type) as types
       from events group by user_id order by user_id""",
)

# A4 — scalar size metrics (byteCount/characterCount,
# HectorManager.java:451-489).
_register(
    "a4_size_metrics",
    ["documents"],
    """select cast(doc_id as bigint) as doc_id,
              cast(length(text) as bigint) as char_count,
              cast(octet_length(text) as bigint) as byte_count
       from documents order by doc_id limit 500""",
    """select cast(doc_id as bigint) as doc_id,
              cast(length(text) as bigint) as char_count,
              cast(octet_length(encode(text)) as bigint) as byte_count
       from documents order by doc_id limit 500""",
)

# A5/SO1/SO3 — distinct union of names (collectionNameSet,
# HectorManager.java:274-277).
_A5 = """select name from (
           select distinct lang as name from documents
           union select distinct source as name from documents) t
         order by name"""
_register("a5_distinct_union", ["documents"], _A5, _A5)

# SO2 — except (delete-from-set, HectorManager.java:175-179).
_SO2 = """select event_type from (
            select distinct event_type from events
            except select 'error' as event_type) t order by event_type"""
_register("so2_except", ["events"], _SO2, _SO2)

# W1 — rank within group (sequence ordering, METSParser.java:347-357).
_W1 = """select o_custkey, o_orderkey, rn from (
           select cast(o_custkey as bigint) as o_custkey,
                  cast(o_orderkey as bigint) as o_orderkey,
                  row_number() over (partition by o_custkey
                                     order by o_totalprice desc, o_orderkey) as rn
           from orders) t
         where rn <= 3 order by o_custkey, rn"""
_register("w1_topk_per_group", ["orders"], _W1, _W1)

# W3 — sequential completeness check 1..pageCount (Verifier.java:239-263):
# a volume whose page sequence has gaps fails verification.
_W3 = """select cast(l_orderkey as bigint) as l_orderkey,
                cast(count(*) as bigint) as n,
                cast(max(l_linenumber) as bigint) as max_line
         from lineitem group by l_orderkey
         having count(*) <> max(l_linenumber) order by l_orderkey"""
_register("w3_sequence_gap_check", ["lineitem"], _W3, _W3)

# TPC-H Q1-style pricing summary — headline scan+agg throughput shape.
_Q1 = """select l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) as sum_qty,
                round(sum(l_extendedprice), 2) as sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
                round(avg(l_quantity), 4) as avg_qty,
                cast(count(*) as bigint) as count_order
         from lineitem where l_shipdate <= timestamp '1998-09-02 00:00:00'
         group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus"""
_register("tpch_q1_pricing_summary", ["lineitem"], _Q1, _Q1)

# TPC-H Q3-style shipping priority — join + agg + top-k.
_Q3 = """select cast(l.l_orderkey as bigint) as l_orderkey,
                round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue,
                o.o_orderpriority
         from customer c join orders o on c.c_custkey = o.o_custkey
         join lineitem l on l.l_orderkey = o.o_orderkey
         where c.c_mktsegment = 'BUILDING'
         group by l.l_orderkey, o.o_orderpriority
         order by revenue desc, l_orderkey limit 10"""
_register("tpch_q3_shipping_priority", ["customer", "orders", "lineitem"], _Q3, _Q3)


# ===========================================================================
# Training-data ops over documents/embeddings (task brief: dedup,
# similarity, text analysis) — SQL-expressible ones carry oracles.
# ===========================================================================

# exact dedup by content hash (hash-groupBy)
_register(
    "dedup_exact_hash",
    ["documents"],
    """select md5(cast(text as binary)) as text_md5,
              cast(count(*) as bigint) as n_copies,
              cast(min(doc_id) as bigint) as keep_id
       from documents group by 1 having count(*) >= 1
       order by keep_id limit 500""",
    """select md5(text) as text_md5, cast(count(*) as bigint) as n_copies,
              cast(min(doc_id) as bigint) as keep_id
       from documents group by 1 having count(*) >= 1
       order by keep_id limit 500""",
)

# token counting (whitespace tokenization)
_register(
    "text_token_count",
    ["documents"],
    """select cast(doc_id as bigint) as doc_id,
              cast(size(split(text, ' ')) as bigint) as n_tokens,
              cast(n_chars as bigint) as n_chars
       from documents order by doc_id limit 500""",
    """select cast(doc_id as bigint) as doc_id,
              cast(len(string_split(text, ' ')) as bigint) as n_tokens,
              cast(n_chars as bigint) as n_chars
       from documents order by doc_id limit 500""",
)

# quality scoring: structural ratios (pure column arithmetic)
_TQ = """select cast(doc_id as bigint) as doc_id,
                cast(length(text) - length(replace(text, ' ', '')) as bigint) as n_spaces,
                round((cast(length(text) as double) -
                       cast(length(text) - length(replace(text, ' ', '')) as double)) /
                      (cast(length(text) - length(replace(text, ' ', '')) as double) + 1.0),
                      4) as avg_word_len
         from documents order by doc_id limit 500"""
_register("text_quality_score", ["documents"], _TQ, _TQ)

# language-id heuristic (stopword containment — demo of the n-gram
# heuristic; the full operator lives in operators/textstats.py)
_LID = """select lang,
                 case when text like '% the %' then 'en_like' else 'other' end as guess,
                 cast(count(*) as bigint) as n
          from documents group by 1, 2 order by 1, 2"""
_register("lang_id_heuristic", ["documents"], _LID, _LID)


def _sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over array<float> embeddings, expressed
    with built-in higher-order functions (zip_with + aggregate) — stays
    JVM-side, no UDF."""
    from pyspark.sql import functions as F

    _load(spark, sf_dir, "embeddings")
    return spark.sql(
        """
        with q as (select embedding as qe from embeddings where vec_id = 0),
        sims as (
          select e.vec_id,
                 round(aggregate(zip_with(e.embedding, q.qe,
                                          (a, b) -> cast(a as double) * cast(b as double)),
                                 cast(0.0 as double), (acc, x) -> acc + x), 5) as dot
          from embeddings e cross join q
        )
        select cast(vec_id as bigint) as vec_id, dot
        from sims order by dot desc, vec_id limit 10
        """
    )


_SIM_ORACLE = """
    with q as (select embedding as qe from embeddings where vec_id = 0),
    sims as (
      select e.vec_id,
             round(list_dot_product(cast(e.embedding as double[]),
                                    cast(q.qe as double[])), 5) as dot
      from embeddings e cross join q
    )
    select cast(vec_id as bigint) as vec_id, dot
    from sims order by dot desc, vec_id limit 10
"""
_register_fn("similarity_topk_dot", _sim_topk, _SIM_ORACLE)


# ===========================================================================
# CDC ingest parity (SURVEY.md §2.1 S4, §2.3 J3/J4, §3.1 phase 2) —
# ingest.py operators value-checked against DuckDB on a delta-log line
# stream synthesized deterministically from `documents`.
# ===========================================================================

def _dlog_lines_sql(dialect: str) -> str:
    """Synthesized rsync delta-log lines, valid in Spark SQL & DuckDB:
    headers + zip upserts (all docs) + mets upserts (doc_id%3=0) +
    deletes (doc_id%7=0, AFTER the upsert in seq order) + noise dirs."""
    vid = "translate(concat('uc2.ark:/13960/t', cast(doc_id as string)), ':/.', '+=,')"
    return f"""
      select cast(0 as bigint) as seq, 'DEST_ROOT=/data/root' as value
      union all select cast(1 as bigint), 'PREFIX=uc2'
      union all select cast(2 as bigint), 'COPYRIGHT=public'
      union all
      select doc_id * 10 + 3, concat('root/ab/cd/', {vid}, '.zip') from documents
      union all
      select doc_id * 10 + 4, concat('root/ab/cd/', {vid}, '.mets.xml')
      from documents where doc_id % 3 = 0
      union all
      select doc_id * 10 + 5, concat('deleting root/ab/cd/', {vid}, '.zip')
      from documents where doc_id % 7 = 0
      union all
      select doc_id * 10 + 6, concat('root/ab/cd', cast(doc_id as string), '/')
      from documents where doc_id % 11 = 0
    """


def _cdc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .. import ingest as I

    _load(spark, sf_dir, "documents")
    lines = spark.sql(_dlog_lines_sql("spark"))
    return (
        I.parse_delta_log(lines)
        .orderBy("seq")
        .select("seq", "kind", "volume_id")
        .limit(500)
    )


def _cdc_parse_oracle() -> str:
    return f"""
    with lines as ({_dlog_lines_sql('duckdb')}),
    parsed as (
      select seq,
             case when value like 'DEST_ROOT=%' or value like 'PREFIX=%'
                       or value like 'COPYRIGHT=%' then 'header'
                  when value like 'deleting %' then 'delete'
                  when value like '%.zip' then 'upsert_zip'
                  when value like '%.mets.xml' then 'upsert_mets'
                  else 'other' end as kind,
             regexp_replace(value, '^deleting ', '') as path
      from lines)
    select seq, kind,
           case when kind in ('delete', 'upsert_zip', 'upsert_mets')
                then translate(regexp_replace(regexp_extract(path, '([^/]+)$', 1),
                                              '(\\.mets)?\\.(zip|xml)$', ''),
                               '+=,', ':/.')
           end as volume_id
    from parsed order by seq limit 500
    """


_register_fn("cdc_delta_log_parse", _cdc_parse, _cdc_parse_oracle())


# C6: copyright-enum validate (REF Constants.java:114-117,
# DeltaLogParser.java:318-322) — valid values parse, invalid/missing
# route to the error channel.
_C6_SRC_SQL = """
      select cast(doc_id as bigint) as doc_id,
             case cast(doc_id % 5 as int)
                  when 0 then 'PUBLIC_DOMAIN'
                  when 1 then 'PUBLIC_DOMAIN'
                  when 2 then 'IN_COPYRIGHT'
                  when 3 then 'public_domain'
                  else '' end as copyright
      from documents
"""


def _c6_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import ingest as I

    _load(spark, sf_dir, "documents")
    src = spark.sql(_C6_SRC_SQL)
    return (
        I.validate_copyright(src)
        .select("doc_id", "copyright_enum", "error")
        .orderBy("doc_id")
    )


def _c6_oracle() -> str:
    return f"""
    with src as ({_C6_SRC_SQL})
    select doc_id,
           case when copyright in ('PUBLIC_DOMAIN', 'IN_COPYRIGHT')
                then copyright end as copyright_enum,
           case when copyright is null or copyright not in ('PUBLIC_DOMAIN', 'IN_COPYRIGHT')
                then 'invalid copyright: ' || coalesce(copyright, '<null>') end as error
    from src order by doc_id
    """


_register_fn("c6_enum_validate", _c6_validate, _c6_oracle())


def _cdc_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import ingest as I

    _load(spark, sf_dir, "documents")
    lines = spark.sql(_dlog_lines_sql("spark"))
    return (
        I.collapse_changes(I.parse_delta_log(lines))
        .select("volume_id", "op", "seq")
        .orderBy("volume_id")
        .limit(500)
    )


def _cdc_collapse_oracle() -> str:
    # highest-seq line per volume wins; delete lines carry seq%10=5
    # which is also the highest generated seq for that volume
    return f"""
    with lines as ({_dlog_lines_sql('duckdb')}),
    parsed as (
      select seq,
             case when value like 'DEST_ROOT=%' or value like 'PREFIX=%'
                       or value like 'COPYRIGHT=%' then 'header'
                  when value like 'deleting %' then 'delete'
                  when value like '%.zip' then 'upsert_zip'
                  when value like '%.mets.xml' then 'upsert_mets'
                  else 'other' end as kind,
             regexp_replace(value, '^deleting ', '') as path
      from lines),
    vids as (
      select seq, kind,
             translate(regexp_replace(regexp_extract(path, '([^/]+)$', 1),
                                      '(\\.mets)?\\.(zip|xml)$', ''),
                       '+=,', ':/.') as volume_id
      from parsed where kind in ('delete', 'upsert_zip', 'upsert_mets')),
    ranked as (
      select volume_id,
             case when kind = 'delete' then 'delete' else 'upsert' end as op,
             seq, row_number() over (partition by volume_id order by seq desc) as rn
      from vids)
    select volume_id, op, seq from ranked where rn = 1
    order by volume_id limit 500
    """


_register_fn("cdc_collapse_lastwriter", _cdc_collapse, _cdc_collapse_oracle())


def _cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE round-trip: snapshot=documents keyed by volume_id;
    the collapsed change set deletes doc_id%7=0 and re-upserts the
    rest; result = per-source row count after merge."""
    from pyspark.sql import functions as F

    from .. import ingest as I

    _load(spark, sf_dir, "documents")
    vid = "translate(concat('uc2.ark:/13960/t', cast(doc_id as string)), ':/.', '+=,')"
    vid = f"translate({vid}, '+=,', ':/.')"
    snapshot = spark.sql(f"select {vid} as volume_id, source, n_chars from documents")
    lines = spark.sql(_dlog_lines_sql("spark"))
    # apply_changes consumes the change set twice (tombstone anti-join +
    # upsert overlay); persist the tiny collapsed frame so the
    # parse+window lineage runs once. Left cached for the returned lazy
    # plan (entries run in ephemeral bench/gate sessions; Spark evicts
    # storage blocks LRU under pressure)
    changes = I.collapse_changes(I.parse_delta_log(lines)).persist()
    merged = I.apply_changes(snapshot, changes, snapshot)
    return (
        merged.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("source")
    )


def _cdc_merge_oracle() -> str:
    return """
    select source, cast(count(*) as bigint) as n_rows
    from documents where doc_id % 7 <> 0
    group by source order by source
    """


_register_fn("cdc_merge_apply", _cdc_merge, _cdc_merge_oracle())


def _cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot_diff: old=documents; new drops doc_id%13=0, rewrites
    text for doc_id%5=0, adds 20 fresh ids."""
    from .. import ingest as I

    _load(spark, sf_dir, "documents")
    old = spark.sql("select cast(doc_id as bigint) as doc_id, text from documents")
    new = spark.sql(
        """
        select cast(doc_id as bigint) as doc_id,
               case when doc_id % 5 = 0 then concat(text, ' v2') else text end as text
        from documents where doc_id % 13 <> 0
        union all
        select cast(1000000 + range_id as bigint), concat('new doc ', cast(range_id as string))
        from (select explode(sequence(0, 19)) as range_id)
        """
    )
    return I.snapshot_diff(new, old, key="doc_id").orderBy("doc_id")


def _cdc_diff_oracle() -> str:
    return """
    with old as (select cast(doc_id as bigint) as doc_id, text from documents),
    new as (
      select cast(doc_id as bigint) as doc_id,
             case when doc_id % 5 = 0 then concat(text, ' v2') else text end as text
      from documents where doc_id % 13 <> 0
      union all
      select cast(1000000 + r as bigint), concat('new doc ', cast(r as string))
      from (select unnest(range(0, 20)) as r)
    )
    select coalesce(new.doc_id, old.doc_id) as doc_id,
           case when old.doc_id is null then 'insert'
                when new.doc_id is null then 'delete'
                when new.text <> old.text then 'update' end as op
    from new full outer join old on new.doc_id = old.doc_id
    where (old.doc_id is null or new.doc_id is null or new.text <> old.text)
    order by doc_id
    """


_register_fn("cdc_snapshot_diff", _cdc_diff, _cdc_diff_oracle())


# ===========================================================================
# Training-data dedup + text analysis (operators/textdedup.py) — each
# entry runs the REAL operator on Spark and a template-generated SQL
# twin in DuckDB (same salted-md5 hash family in both engines).
# ===========================================================================

def _dup_docs_sql(dialect: str) -> str:
    """documents ∪ mutated copies (one appended word per doc_id%10=0)
    — deterministic near-duplicates for the dedup oracles."""
    return """
      select cast(doc_id as bigint) as doc_id, text from documents
      union all
      select cast(doc_id + 100000 as bigint), concat(text, ' xyzzy')
      from documents where doc_id % 10 = 0
    """


def _minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    uni = spark.sql(_dup_docs_sql("spark"))
    return TD.lsh_near_dup_pairs(uni).orderBy("id_a", "id_b")


def _minhash_lsh_oracle() -> str:
    """Output-level oracle: ALL pairs with exact shingle-Jaccard ≥ 0.5
    (hash-free — O(n²) is fine at oracle scale). This is a STRICTER
    check than replicating the LSH buckets: the operator must find
    every true near-dup pair (recall) and nothing else (the verify
    stage guarantees precision). The xx64 signature family has no
    cross-dialect twin; a miss from banding or the max_bucket guard
    would surface as a gate failure — on the fixture every true pair
    has Jaccard ≥ 0.87, so the 8-band/2-row miss probability is < 1e-5
    and the deterministic fixture either passes forever or never."""
    from ..operators import textdedup as TD

    sh = TD.shingles_sql("text", 3, "duckdb")
    return f"""
    with docs as ({_dup_docs_sql('duckdb')}),
    sh as (
      select doc_id, list_distinct({sh}) as shd
      from docs where len({sh}) > 0),
    verified as (
      select a.doc_id as id_a, b.doc_id as id_b,
             round(cast(len(list_intersect(a.shd, b.shd)) as double) /
                   len(list_distinct(list_concat(a.shd, b.shd))), 5) as jaccard
      from sh a join sh b on a.doc_id < b.doc_id)
    select id_a, id_b, jaccard from verified
    where jaccard >= 0.5 order by id_a, id_b
    """


_register_fn("dedup_minhash_lsh", _minhash_lsh, _minhash_lsh_oracle())


def _dedup_pairs_oracle_ctes() -> str:
    """DuckDB CTE block: exact-Jaccard near-dup pairs (the
    dedup_minhash_lsh oracle's pair set) → per-doc cluster labels via
    recursive reachability (min reachable id)."""
    from ..operators import textdedup as TD

    sh = TD.shingles_sql("text", 3, "duckdb")
    return f"""
    docs as ({_dup_docs_sql('duckdb')}),
    shx as (
      select doc_id, list_distinct({sh}) as shd
      from docs where len({sh}) > 0),
    vpairs as (
      select a.doc_id as id_a, b.doc_id as id_b
      from shx a join shx b on a.doc_id < b.doc_id
      where cast(len(list_intersect(a.shd, b.shd)) as double) /
            len(list_distinct(list_concat(a.shd, b.shd))) >= 0.5),
    vedges as (
      select id_a as src, id_b as dst from vpairs
      union
      select id_b, id_a from vpairs),
    vwalk(node, label) as (
      select distinct src, src from vedges
      union
      select e.dst, w.label from vwalk w join vedges e on e.src = w.node),
    vlab as (select node, min(label) as cluster from vwalk group by node)"""


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pairs → connected components → per-doc cluster label (the
    canonical-min-id discipline); unpaired docs are their own
    cluster."""
    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    uni = spark.sql(_dup_docs_sql("spark"))
    pairs = TD.lsh_near_dup_pairs(uni)
    return TD.dedup_clusters(uni, pairs).orderBy("doc_id")


def _dedup_clusters_oracle() -> str:
    return f"""
    with recursive {_dedup_pairs_oracle_ctes()}
    select d.doc_id, coalesce(l.cluster, d.doc_id) as cluster
    from docs d left join vlab l on l.node = d.doc_id
    order by d.doc_id
    """


_register_fn("dedup_clusters", _dedup_clusters, _dedup_clusters_oracle())


def _dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survivor set: one canonical row (minimum id) per near-dup
    cluster + every unpaired doc — the end of the pairs→clusters→
    keep-one dedup pipeline."""
    from pyspark.sql import functions as F

    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    uni = spark.sql(_dup_docs_sql("spark"))
    pairs = TD.lsh_near_dup_pairs(uni)
    return (
        TD.dedup_keep_canonical(uni, pairs)
        .select("doc_id", F.length("text").alias("text_len"))
        .orderBy("doc_id")
    )


def _dedup_survivors_oracle() -> str:
    return f"""
    with recursive {_dedup_pairs_oracle_ctes()}
    select d.doc_id, cast(length(d.text) as int) as text_len
    from docs d left join vlab l on l.node = d.doc_id
    where coalesce(l.cluster, d.doc_id) = d.doc_id
    order by d.doc_id
    """


_register_fn("dedup_survivors", _dedup_survivors, _dedup_survivors_oracle())


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    uni = spark.sql(_dup_docs_sql("spark"))
    return TD.simhash_neardup_pairs(uni).orderBy("id_a", "id_b")


def _simhash_pairs_oracle() -> str:
    from ..operators import textdedup as TD

    sim = TD.simhash32_sql("w")
    ham = TD.hamming32_sql("a.simhash", "b.simhash", "duckdb")
    return f"""
    with docs as ({_dup_docs_sql('duckdb')}),
    words as (
      select doc_id, unnest(string_split(text, ' ')) as w from docs),
    ww as (select doc_id, w from words where w <> ''),
    sh as (select doc_id, {sim} as simhash from ww group by doc_id),
    bands as (
      select doc_id, simhash, band,
             cast((simhash >> (band * 8)) & 255 as int) as bucket
      from sh cross join (select unnest([0, 1, 2, 3]) as band)),
    sz as (select band, bucket, count(*) as n from bands group by 1, 2),
    kept as (select b.* from bands b join sz using (band, bucket) where sz.n <= 200),
    pairs as (
      select distinct a.doc_id as id_a, b.doc_id as id_b,
             cast({ham} as int) as hamming
      from kept a join kept b using (band, bucket)
      where a.doc_id < b.doc_id)
    select id_a, id_b, hamming from pairs
    where hamming <= 3 order by id_a, id_b
    """


_register_fn("dedup_simhash_pairs", _simhash_pairs, _simhash_pairs_oracle())


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    docs = spark.sql("select cast(doc_id as bigint) as doc_id, text from documents")
    return TD.simhash32(docs).orderBy("doc_id").limit(500)


def _simhash_oracle() -> str:
    from ..operators import textdedup as TD

    return f"""
    select doc_id, {TD.simhash32_sql('w')} as simhash
    from (select cast(doc_id as bigint) as doc_id,
                 unnest(string_split(text, ' ')) as w
          from documents) t
    where w <> '' group by doc_id order by doc_id limit 500
    """


_register_fn("dedup_simhash32", _simhash, _simhash_oracle())


def _winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    docs = spark.sql("select cast(doc_id as bigint) as doc_id, text from documents")
    fp = TD.winnow_fingerprints(docs)
    from pyspark.sql import functions as F

    return fp.select(
        "doc_id",
        F.expr("cast(size(fingerprints) as bigint)").alias("n_fp"),
        F.expr("array_join(slice(fingerprints, 1, 3), ',')").alias("fp_head"),
    ).orderBy("doc_id").limit(500)


def _winnow_oracle() -> str:
    from ..operators import textdedup as TD

    cte = TD.winnow_duckdb_cte(
        "select cast(doc_id as bigint) as doc_id, text from documents", 8, 4
    )
    return f"""
    with {cte}
    select doc_id, cast(len(fps) as bigint) as n_fp,
           array_to_string(fps[1:3], ',') as fp_head
    from winnowed order by doc_id limit 500
    """


_register_fn("text_winnow_fingerprint", _winnow, _winnow_oracle())


def _bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    return spark.sql(
        f"""select cast(doc_id as bigint) as doc_id,
                   cast({TD.bpe_token_count_sql('text', 'spark')} as bigint) as n_bpe,
                   cast(size(split(text, ' ')) as bigint) as n_ws
            from documents order by doc_id limit 500"""
    )


def _bpe_tokens_oracle() -> str:
    from ..operators import textdedup as TD

    return f"""
    select cast(doc_id as bigint) as doc_id,
           cast({TD.bpe_token_count_sql('text', 'duckdb')} as bigint) as n_bpe,
           cast(len(string_split(text, ' ')) as bigint) as n_ws
    from documents order by doc_id limit 500
    """


_register_fn("text_token_count_bpe", _bpe_tokens, _bpe_tokens_oracle())


def _lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    lang = TD.lang_id_sql("split(text, ' ')", "spark")
    return spark.sql(
        f"""select lang, {lang} as lang_guess, cast(count(*) as bigint) as n
            from documents group by 1, 2 order by 1, 2"""
    )


def _lang_profile_oracle() -> str:
    from ..operators import textdedup as TD

    lang = TD.lang_id_sql("string_split(text, ' ')", "duckdb")
    return f"""
    select lang, {lang} as lang_guess, cast(count(*) as bigint) as n
    from documents group by 1, 2 order by 1, 2
    """


_register_fn("text_lang_id_profile", _lang_profile, _lang_profile_oracle())


# ===========================================================================
# Similarity search / embedding near-dup (operators/embedding.py)
# ===========================================================================

def _dup_embs_sql(dialect: str) -> str:
    """embeddings ∪ exact copies of vec_id%25=0 under new ids —
    deterministic near-dup pairs (cosine exactly 1)."""
    return """
      select cast(vec_id as bigint) as vec_id, embedding from embeddings
      union all
      select cast(vec_id + 100000 as bigint), embedding
      from embeddings where vec_id % 25 = 0
    """


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import embedding as E

    _load(spark, sf_dir, "embeddings")
    data = spark.sql("select cast(vec_id as bigint) as vec_id, embedding from embeddings")
    qdf = spark.sql(
        "select cast(vec_id as string) as query_id, embedding "
        "from embeddings where vec_id in (0, 7, 42)"
    )
    return E.ann_topk(data, qdf, k=5).orderBy("query_id", "rank")


def _ann_lsh_oracle() -> str:
    from ..operators import embedding as E

    b = E.bucket_sql("embedding", 64, "duckdb")
    cos = E.cosine_sql("e.embedding", "q.embedding", "duckdb")
    return f"""
    with b as (
      select cast(vec_id as bigint) as vec_id, embedding, {b} as bucket
      from embeddings),
    q as (select cast(vec_id as string) as query_id, embedding, bucket
          from b where vec_id in (0, 7, 42)),
    cand as (
      select q.query_id, e.vec_id, round({cos}, 5) as cos
      from b e join q on e.bucket = q.bucket),
    ranked as (
      select query_id, vec_id, cos,
             cast(row_number() over (partition by query_id
                                     order by cos desc, vec_id) as int) as rank
      from cand)
    select query_id, vec_id, cos, rank from ranked
    where rank <= 5 order by query_id, rank
    """


_register_fn("similarity_ann_lsh", _ann_lsh, _ann_lsh_oracle())


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import embedding as E

    _load(spark, sf_dir, "embeddings")
    data = spark.sql("select cast(vec_id as bigint) as vec_id, embedding from embeddings")
    qdf = spark.sql(
        "select cast(vec_id as string) as query_id, embedding "
        "from embeddings where vec_id in (0, 7, 42)"
    )
    return E.ivf_topk(data, qdf, k=5, nprobe=4).orderBy("query_id", "rank")


def _ann_ivf_oracle() -> str:
    from ..operators import embedding as E

    dots = E.ivf_dots_sql("embedding", 64, E.N_LIST, "duckdb")
    cell = E.ivf_cell_sql("dots", "duckdb")
    probe = E.ivf_probe_cells_sql("dots", E.N_LIST, 4, "duckdb")
    cos = E.cosine_sql("e.embedding", "q.embedding", "duckdb")
    return f"""
    with d0 as (
      select cast(vec_id as bigint) as vec_id, embedding, {dots} as dots
      from embeddings),
    d as (select vec_id, embedding, {cell} as ivf_cell from d0),
    q0 as (select cast(vec_id as string) as query_id, embedding, {dots} as dots
           from embeddings where vec_id in (0, 7, 42)),
    q as (select query_id, embedding, cast(unnest({probe}) as int) as ivf_cell from q0),
    cand as (
      select q.query_id, e.vec_id, round({cos}, 5) as cos
      from d e join q on e.ivf_cell = q.ivf_cell),
    ranked as (
      select query_id, vec_id, cos,
             cast(row_number() over (partition by query_id
                                     order by cos desc, vec_id) as int) as rank
      from cand)
    select query_id, vec_id, cos, rank from ranked
    where rank <= 5 order by query_id, rank
    """


_register_fn("similarity_ivf_topk", _ann_ivf, _ann_ivf_oracle())


def _ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import embedding as E

    _load(spark, sf_dir, "embeddings")
    data = spark.sql("select cast(vec_id as bigint) as vec_id, embedding from embeddings")
    qdf = spark.sql(
        "select cast(vec_id as string) as query_id, embedding "
        "from embeddings where vec_id in (0, 7, 42)"
    )
    return E.ann_topk(data, qdf, k=5, multi_probe=True).orderBy("query_id", "rank")


def _ann_multiprobe_oracle() -> str:
    from ..operators import embedding as E

    b = E.bucket_sql("embedding", 64, "duckdb")
    cos = E.cosine_sql("e.embedding", "q.embedding", "duckdb")
    probes = ", ".join(
        ["bucket"] + [f"cast(xor(bucket, {1 << p}) as int)" for p in range(E.N_PLANES)]
    )
    return f"""
    with b as (
      select cast(vec_id as bigint) as vec_id, embedding, {b} as bucket
      from embeddings),
    q0 as (select cast(vec_id as string) as query_id, embedding, bucket
           from b where vec_id in (0, 7, 42)),
    q as (select query_id, embedding, unnest(list_value({probes})) as qb from q0),
    cand as (
      select q.query_id, e.vec_id, round({cos}, 5) as cos
      from b e join q on e.bucket = q.qb),
    ranked as (
      select query_id, vec_id, cos,
             cast(row_number() over (partition by query_id
                                     order by cos desc, vec_id) as int) as rank
      from cand)
    select query_id, vec_id, cos, rank from ranked
    where rank <= 5 order by query_id, rank
    """


_register_fn("similarity_ann_multiprobe", _ann_multiprobe, _ann_multiprobe_oracle())


def _emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import embedding as E

    _load(spark, sf_dir, "embeddings")
    data = spark.sql(_dup_embs_sql("spark"))
    # scale-opt-in hot-bucket guard (operator default is exhaustive);
    # the sf fixtures never exceed it, so the oracle is unaffected
    return E.neardup_pairs(data, max_bucket=1000).orderBy("id_a", "id_b")


def _emb_neardup_oracle() -> str:
    from ..operators import embedding as E

    b = E.bucket_sql("embedding", 64, "duckdb")
    cos = E.cosine_sql("a.embedding", "b.embedding", "duckdb")
    return f"""
    with d as ({_dup_embs_sql('duckdb')}),
    bb0 as (select vec_id, embedding, {b} as bucket from d),
    sz as (select bucket, count(*) as n from bb0 group by 1),
    bb as (select bb0.* from bb0 join sz using (bucket) where sz.n <= 1000)
    select a.vec_id as id_a, b.vec_id as id_b, round({cos}, 5) as cos
    from bb a join bb b on a.bucket = b.bucket and a.vec_id < b.vec_id
    where round({cos}, 5) >= 0.999
    order by id_a, id_b
    """


_register_fn("dedup_embedding_cosine", _emb_neardup, _emb_neardup_oracle())


# ===========================================================================
# Image pipeline (operators/imageops.py) + skew salting (operators/
# salting.py). The image invariant (decode → PSNR ≥ 40 dB → caption →
# phash) is not SQL-expressible → rows-only driver check; the exact
# oracles live in tests/test_imageops.py. Salted collect has an exact
# SQL twin (salting must not change results — that IS the oracle).
# ===========================================================================

def _image_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import imageops as IO

    # limit() collapses to ONE partition — repartition so the per-row
    # generate/decode work (the entry's whole cost) spreads across cores
    skel = (
        FS.load_images(spark, sf_dir)
        .limit(2000)
        .select(F.col("image_id").cast("string").alias("image_id"), "lon", "lat")
        .repartition(32)
    )
    images = IO.generate_images(skel)
    checks = IO.decode_validate(images)
    return (
        checks.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("shape_ok") & F.col("psnr_ok") & F.col("caption_ok") & F.col("phash_ok"),
                    1,
                ).otherwise(0)
            ).alias("n_ok"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_err"),
        )
        .orderBy("fmt")
    )


_register_fn("image_validate_pipeline", _image_validate, None)


def _image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import imageops as IO

    skel = FS.load_images(spark, sf_dir).limit(500).select(
        F.col("image_id").cast("string").alias("image_id"), "lon", "lat"
    )
    images = IO.generate_images(skel)
    feats = IO.resize_features(images)
    return feats.select(
        "image_id",
        F.round(F.expr("aggregate(mean_rgb, 0.0d, (a, x) -> a + x) / 3"), 3).alias("mean_gray"),
        F.expr("size(thumb)").alias("thumb_len"),
    ).orderBy("image_id")


_register_fn("image_resize_features", _image_features, None)


def _salted_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.salting import salted_collect_sorted

    _load(spark, sf_dir, "events")
    ev = spark.sql(
        "select event_type, cast(event_id as string) as event_id_s from events"
    )
    out = salted_collect_sorted(
        ev, "event_type", "event_id_s", salt_src="event_id_s", rows_per_task=500
    )
    return out.select(
        "event_type",
        F.expr("cast(size(values) as bigint)").alias("n"),
        F.expr("substr(array_join(values, ','), 1, 200)").alias("head"),
    ).orderBy("event_type")


def _salted_collect_oracle() -> str:
    return """
    select event_type, cast(count(*) as bigint) as n,
           substr(string_agg(cast(event_id as varchar), ','
                             order by cast(event_id as varchar)), 1, 200) as head
    from events group by event_type order by event_type
    """


_register_fn("salted_collect_skewed", _salted_collect, _salted_collect_oracle())


# ===========================================================================
# METS XML source (sources/mets.py) — round-trip oracle: Spark
# synthesizes METS documents per doc_id, parses them back (S5), and
# assembles pages via the J1 join; DuckDB reconstructs the expected
# page tuples directly from the generating arithmetic.
# ===========================================================================

def _mets_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..sources import mets as M

    _load(spark, sf_dir, "documents")
    skel = spark.sql(
        """select concat('uc2.ark:/13960/t', cast(doc_id as string)) as volume_id,
                  cast(1 + doc_id % 7 as int) as n_pages
           from documents order by doc_id limit 50"""
    )

    schema = T.StructType(
        [
            T.StructField("volume_id", T.StringType()),
            T.StructField("mets_xml", T.StringType()),
        ]
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "volume_id": pdf.volume_id,
                    "mets_xml": [
                        M.synthesize_mets(v, int(n))
                        for v, n in zip(pdf.volume_id, pdf.n_pages)
                    ],
                }
            )

    xml_df = skel.mapInPandas(gen, schema)
    pages, _orphans = M.pages_table(M.parse_mets(xml_df))
    return pages.select(
        "volume_id",
        F.col("order").cast("int").alias("page_order"),
        "sequence",
        "filename",
        F.col("size").cast("bigint").alias("size"),
    ).orderBy("volume_id", "page_order")


def _mets_pages_oracle() -> str:
    return """
    with vols as (
      select concat('uc2.ark:/13960/t', cast(doc_id as string)) as volume_id,
             cast(1 + doc_id % 7 as int) as n_pages
      from documents order by doc_id limit 50),
    pages as (
      select volume_id, unnest(range(1, n_pages + 1)) as i from vols)
    select volume_id, cast(i as int) as page_order,
           lpad(cast(i as string), 8, '0') as sequence,
           concat(translate(volume_id, ':/.', '+=,'), '_',
                  lpad(cast(i as string), 8, '0'), '.txt') as filename,
           cast(1000 + i as bigint) as size
    from pages order by volume_id, page_order
    """


_register_fn("mets_parse_pages", _mets_pages, _mets_pages_oracle())


# S8/S9 — keyed point read + multi-column slice read (verify/
# HectorAccessor.java:346-397, 407-488): a filter+project, not a KV
# store; partition/file pruning does the "point" part at scale.
_S89 = """select cast(o_orderkey as bigint) as o_orderkey,
                 o_orderstatus, round(o_totalprice, 2) as o_totalprice,
                 o_orderpriority
          from orders where o_orderkey in (7, 68, 129, 4000)
          order by o_orderkey"""
_register("s8_s9_point_slice_read", ["orders"], _S89, _S89)


# S2 encode with a full value oracle: the SAME portable SQL
# construction (geo/s2lite.s2_sql_expr) runs in Spark and DuckDB —
# three-way parity with the numpy kernel is pinned in pytest. The
# Arrow-UDF variant above (s2_encode_hist) stays as the UDF-surface
# demonstration; this one is the codegen path.
def _s2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..geo import s2lite

    expr = s2lite.s2_sql_expr("lon", "lat", 12, "spark")
    img = FS.load_images(spark, sf_dir)
    img.createOrReplaceTempView("img_s2")
    return spark.sql(
        f"""select cast(image_id as bigint) as image_id, {expr} as s2_cell
            from img_s2 order by image_id limit 1000"""
    )


def _s2_cells_oracle() -> str:
    from ..geo import s2lite

    expr = s2lite.s2_sql_expr("lon", "lat", 12, "duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')})
    select cast(image_id as bigint) as image_id, {expr} as s2_cell
    from img order by image_id limit 1000
    """


_register_fn("s2_encode_cells", _s2_cells, _s2_cells_oracle())


# ===========================================================================
# raster ↔ vector round trip (operators/tiles.py rasterize/vectorize)
# — both directions pure column expressions with a DuckDB twin.
# ===========================================================================

def _raster_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.tiles import rasterize, vectorize

    img = FS.load_images(spark, sf_dir)
    raster = rasterize(img, res=6)
    feats = vectorize(raster, threshold=50)
    return feats.select(
        F.col("poly_cell"),
        F.col("value").cast("bigint").alias("value"),
        F.round(F.expr("ring[0].lon"), 6).alias("lon0"),
        F.round(F.expr("ring[0].lat"), 6).alias("lat0"),
        F.round(F.expr("ring[2].lon"), 6).alias("lon1"),
        F.round(F.expr("ring[2].lat"), 6).alias("lat1"),
    ).orderBy("poly_cell")


def _raster_vector_oracle() -> str:
    from ..geo import h3lite as H
    from ..geo.h3lite import cell_bounds_sql

    cell = H.h3_sql_expr("lon", "lat", 6)
    b = cell_bounds_sql("cell", "duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    raster as (
      select {cell} as cell, cast(count(*) as bigint) as value
      from img group by 1)
    select cell as poly_cell, value,
           round({b['lon_min']}, 6) as lon0, round({b['lat_min']}, 6) as lat0,
           round({b['lon_max']}, 6) as lon1, round({b['lat_max']}, 6) as lat1
    from raster where value >= 50 order by poly_cell
    """


_register_fn("raster_vector_roundtrip", _raster_vector, _raster_vector_oracle())


# Distributed kNN (query side is a DataFrame — the 10^6-query scale
# path). Same oracle as the driver-state variant.
def _knn_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.knn_join import knn_auto_res_points, knn_join_many

    _load(spark, sf_dir, "customer", "supplier")
    points = spark.sql(_POINTS_SQL).withColumnRenamed("point_id", "image_id")
    qdf = spark.sql(_QUERIES_SQL)
    res = knn_auto_res_points(points, k=5)
    return knn_join_many(spark, points, qdf, res=res).select(
        "query_id", "image_id", "rank"
    )


_register_fn("knn_join_distributed", _knn_many, _knn_oracle())


# ===========================================================================
# Quality scoring (full structural profile), winnowing near-dup pairs,
# and event-time windowed aggregation.
# ===========================================================================

def _quality_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    stop_list = ", ".join(repr(s) for s in TD.STOPWORDS["en"])
    return spark.sql(
        f"""select cast(doc_id as bigint) as doc_id,
                   cast(size(split(text, ' ')) as bigint) as n_words,
                   round(cast(length(text) as double) /
                         greatest(size(split(text, ' ')), 1), 4) as avg_word_len,
                   round(cast(size(array_intersect(split(text, ' '),
                                                   array({stop_list}))) as double) /
                         greatest(size(array_distinct(split(text, ' '))), 1), 4)
                     as stopword_ratio,
                   round(cast(length(text) -
                              length(regexp_replace(text, '[^a-zA-Z0-9 ]', ''))
                         as double) / greatest(length(text), 1), 4) as punct_ratio,
                   round(1.0 - cast(size(array_distinct(split(text, ' '))) as double) /
                         greatest(size(split(text, ' ')), 1), 4) as dup_word_ratio
            from documents order by doc_id limit 500"""
    )


def _quality_full_oracle() -> str:
    from ..operators import textdedup as TD

    stop_list = ", ".join(repr(s) for s in TD.STOPWORDS["en"])
    return f"""
    select cast(doc_id as bigint) as doc_id,
           cast(len(string_split(text, ' ')) as bigint) as n_words,
           round(cast(length(text) as double) /
                 greatest(len(string_split(text, ' ')), 1), 4) as avg_word_len,
           round(cast(len(list_intersect(string_split(text, ' '),
                                         list_value({stop_list}))) as double) /
                 greatest(len(list_distinct(string_split(text, ' '))), 1), 4)
             as stopword_ratio,
           round(cast(length(text) -
                      length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                 as double) / greatest(length(text), 1), 4) as punct_ratio,
           round(1.0 - cast(len(list_distinct(string_split(text, ' '))) as double) /
                 greatest(len(string_split(text, ' ')), 1), 4) as dup_word_ratio
    from documents order by doc_id limit 500
    """


_register_fn("text_quality_full", _quality_full, _quality_full_oracle())


def _winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4th dedup family: docs sharing ≥ 8 winnowing fingerprints —
    fingerprint explode → self-join on fingerprint → pair count."""
    from pyspark.sql import functions as F

    from ..operators import textdedup as TD

    _load(spark, sf_dir, "documents")
    uni = spark.sql(_dup_docs_sql("spark"))
    fp = TD.winnow_fingerprints(uni).select(
        "doc_id", F.explode("fingerprints").alias("fp")
    )
    # MOSS-style document-frequency cap: a fingerprint present in many
    # docs is boilerplate and a quadratic hot key in the self-join —
    # drop it BEFORE the join (same cap in the oracle)
    rare = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("_df")).where(F.col("_df") <= 20)
    fp = fp.join(F.broadcast(rare.select("fp")), "fp")
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 8)
        .orderBy("id_a", "id_b")
    )


def _winnow_pairs_oracle() -> str:
    from ..operators import textdedup as TD

    cte = TD.winnow_duckdb_cte(_dup_docs_sql("duckdb"), 8, 4)
    return f"""
    with {cte},
    fp0 as (select doc_id, unnest(fps) as fp from winnowed),
    rare as (select fp from fp0 group by fp having count(*) <= 20),
    fp as (select fp0.* from fp0 join rare using (fp))
    select a.doc_id as id_a, b.doc_id as id_b,
           cast(count(*) as bigint) as n_shared
    from fp a join fp b on a.fp = b.fp and a.doc_id < b.doc_id
    group by 1, 2 having count(*) >= 8
    order by id_a, id_b
    """


_register_fn("dedup_winnow_pairs", _winnow_pairs, _winnow_pairs_oracle())


# W4 — event-time windowed aggregation (the batch twin of
# streaming.windowed_change_rates; watermark semantics tested in
# test_streaming).
_W4_SPARK = """select date_trunc('hour', ts) as window_start, event_type,
                      cast(count(*) as bigint) as n,
                      round(sum(value), 3) as sum_value
               from events group by 1, 2 order by 1, 2"""
_W4_DUCK = """select date_trunc('hour', ts) as window_start, event_type,
                     cast(count(*) as bigint) as n,
                     round(sum(value), 3) as sum_value
              from events group by 1, 2 order by 1, 2"""
_register("w4_event_time_window", ["events"], _W4_SPARK, _W4_DUCK)


# Image near-dup by phash-band LSH (operators/embedding.py): planted
# dups = exact copies (hamming 0) and 2-bit perturbations (hamming 2)
# of the deterministic phash surrogate column.
def _phash_images_sql(dialect: str) -> str:
    # surrogate phash from lineitem keys (the real phash pipeline is
    # image_validate_pipeline; this entry checks the LSH relational
    # machinery at sf scale with an exact oracle). A real phash is
    # hash-like across ALL 64 bits, so the surrogate fills bits 0..62
    # from two independent key mixes (low 32 + high 31, no int64
    # overflow — DuckDB errors on bigint overflow where Spark wraps);
    # a low-entropy high band would otherwise make band 3 one giant
    # LSH bucket and the banded join quadratic. DuckDB ^ is POW —
    # 2-bit perturbation spelled per dialect.
    ph = (
        "(((l_orderkey * 40503 + l_partkey * 2654435761) % 2147483648)"
        " * 4294967296"
        " + ((l_orderkey * 2654435761 + l_partkey * 40503) % 4294967296))"
    )
    flip = (
        f"cast({ph} as bigint) ^ 1025"
        if dialect == "spark"
        else f"xor(cast({ph} as bigint), 1025)"
    )
    return f"""
      select cast(l_orderkey * 10 + l_linenumber as bigint) as image_id,
             cast({ph} as bigint) as phash
      from lineitem where l_linenumber = 1
      union all
      select cast(l_orderkey * 10 + 8 as bigint),
             cast({ph} as bigint)
      from lineitem where l_linenumber = 1 and l_orderkey % 50 = 0
      union all
      select cast(l_orderkey * 10 + 9 as bigint), {flip}
      from lineitem where l_linenumber = 1 and l_orderkey % 50 = 1
    """


def _phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.embedding import phash_neardup_pairs

    _load(spark, sf_dir, "lineitem")
    imgs = spark.sql(_phash_images_sql("spark"))
    return phash_neardup_pairs(imgs).orderBy("id_a", "id_b")


def _phash_pairs_oracle_ctes() -> str:
    """DuckDB CTE block: banded phash candidate pairs → hamming ≤3
    verified pairs (shared by dedup_image_phash and the cluster
    entry)."""
    from ..operators.embedding import N_PHASH_BANDS, hamming64_sql, phash_band_sql

    bands = " union all ".join(
        f"select image_id, phash, {b} as band,"
        f" {phash_band_sql('phash', b, 'duckdb')} as bucket from imgs"
        for b in range(N_PHASH_BANDS)
    )
    ham = hamming64_sql("a.phash", "b.phash", "duckdb")
    return f"""
    imgs as ({_phash_images_sql('duckdb')}),
    sig as ({bands}),
    sizes as (select band, bucket from sig group by 1, 2 having count(*) <= 100),
    kept as (select sig.* from sig join sizes using (band, bucket)),
    pairs as (
      select distinct a.image_id as id_a, b.image_id as id_b,
             cast({ham} as int) as hamming
      from kept a join kept b using (band, bucket)
      where a.image_id < b.image_id),
    ppairs as (select id_a, id_b, hamming from pairs where hamming <= 3)"""


def _phash_neardup_oracle() -> str:
    return f"""
    with {_phash_pairs_oracle_ctes()}
    select id_a, id_b, hamming from ppairs order by id_a, id_b
    """


_register_fn("dedup_image_phash", _phash_neardup, _phash_neardup_oracle())


# Image near-dup CLUSTERS: the full image-dedup pipeline composed from
# existing machinery — banded phash pairs (embedding.phash_neardup_pairs)
# → general-graph connected components (dissolve.connected_components_edges)
# → per-image canonical-min-id cluster label (singletons label
# themselves) — the J3 keep-one discipline applied to perceptual
# duplicates. Oracle: the shared pair CTEs + recursive reachability.
def _phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.dissolve import connected_components_edges
    from ..operators.embedding import phash_neardup_pairs

    _load(spark, sf_dir, "lineitem")
    imgs = spark.sql(_phash_images_sql("spark"))
    pairs = phash_neardup_pairs(imgs).select("id_a", "id_b")
    cc = connected_components_edges(pairs, "id_a", "id_b")
    return (
        imgs.join(cc, imgs["image_id"] == cc["node"], "left")
        .select(
            "image_id", F.coalesce("cluster", "image_id").alias("cluster")
        )
        .orderBy("image_id")
    )


def _phash_clusters_oracle() -> str:
    return f"""
    with recursive {_phash_pairs_oracle_ctes()},
    vedges as (
      select id_a as src, id_b as dst from ppairs
      union
      select id_b, id_a from ppairs),
    vwalk(node, label) as (
      select distinct src, src from vedges
      union
      select e.dst, w.label from vwalk w join vedges e on e.src = w.node),
    vlab as (select node, min(label) as cluster from vwalk group by node)
    select i.image_id, coalesce(l.cluster, i.image_id) as cluster
    from imgs i left join vlab l on l.node = i.image_id
    order by i.image_id
    """


_register_fn("dedup_image_clusters", _phash_clusters, _phash_clusters_oracle())


# Mutual (reciprocal) kNN graph: a↔b kept only when each is in the
# other's top-k — the standard symmetric-graph construction for
# clustering / duplicate triage (cuts hub artifacts that plain kNN
# graphs suffer). Self-kNN over the customer point set at k=3,
# self-matches excluded, composed on knn_join_many (the distributed
# kNN: the query side here is the WHOLE point set, so the
# collect-queries-to-driver variant would not scale).
def _knn_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.knn_join import knn_auto_res_points, knn_join_many

    _load(spark, sf_dir, "customer")
    pts = spark.sql(_POINTS_SQL).withColumnRenamed("point_id", "image_id")
    qs = pts.select(
        F.col("image_id").alias("query_id"), "lon", "lat", F.lit(4).alias("k")
    )  # k+1: rank 1 is the point itself (distinct coords by fixture)
    knn = (
        knn_join_many(spark, pts, qs, res=knn_auto_res_points(pts, k=4))
        .where(F.col("image_id") != F.col("query_id"))
        .select(
            F.col("query_id").cast("bigint").alias("src"),
            F.col("image_id").cast("bigint").alias("dst"),
        )
    )
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        knn.intersect(rev)
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
        .orderBy("id_a", "id_b")
    )


def _knn_mutual_oracle() -> str:
    from ..functions import haversine_sql_expr

    dist = haversine_sql_expr("q.lat", "q.lon", "p.lat", "p.lon")
    return f"""
    with p as ({_POINTS_SQL}),
    ranked as (
      select cast(q.point_id as bigint) as src,
             cast(p.point_id as bigint) as dst,
             row_number() over (partition by q.point_id
                                order by {dist}, cast(p.point_id as bigint)) as rank
      from p q join p on q.point_id <> p.point_id
    ),
    e as (select src, dst from ranked where rank <= 3)
    select a.src as id_a, a.dst as id_b
    from e a join e b on a.src = b.dst and a.dst = b.src
    where a.src < a.dst
    order by id_a, id_b
    """


_register_fn("knn_mutual_pairs", _knn_mutual, _knn_mutual_oracle())


# Funnel analysis: per user, the earliest view → first click strictly
# after it → first purchase strictly after that, each within
# _FUNNEL_GAP_US (48 h — sized to the fixture's ~10 h inter-event
# spacing so every stage is populated); report how many users reach
# each stage. Spark side:
# ONE user-keyed exchange (sorted collect_list) + HOF array probes —
# the per-entity-fold discipline of trajectory_stats applied to
# event-sequence matching. Oracle: three chained min-aggregations.
_FUNNEL_GAP_US = 172_800_000_000  # 48 hours


def _funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _load(spark, sf_dir, "events")
    us = "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
    ev = spark.sql(
        f"select user_id, event_type, {us} as t from events"
        " where event_type in ('view', 'click', 'purchase')"
    )
    arr = ev.groupBy("user_id").agg(
        F.expr("array_sort(collect_list(struct(t, event_type)))").alias("a")
    )
    first = "try_element_at(filter(a, x -> x.event_type = 'view'), 1).t"
    nxt = (
        "try_element_at(filter(a, x -> x.event_type = '{typ}'"
        " and x.t > {prev} and x.t <= {prev} + " + str(_FUNNEL_GAP_US) + "), 1).t"
    )
    staged = (
        arr.withColumn("t_view", F.expr(first))
        .withColumn("t_click", F.expr(nxt.format(typ="click", prev="t_view")))
        .withColumn("t_buy", F.expr(nxt.format(typ="purchase", prev="t_click")))
        .select(
            "user_id",
            (
                F.when(F.col("t_buy").isNotNull(), 3)
                .when(F.col("t_click").isNotNull(), 2)
                .when(F.col("t_view").isNotNull(), 1)
                .otherwise(0)
            ).alias("stage"),
        )
    )
    return (
        staged.groupBy("stage")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("stage")
    )


def _funnel_oracle() -> str:
    return f"""
    with ev as (
      select user_id, event_type, epoch_us(ts) as t from events
      where event_type in ('view', 'click', 'purchase')),
    v as (select user_id, min(t) as t_view from ev
          where event_type = 'view' group by 1),
    c as (select e.user_id, min(e.t) as t_click
          from ev e join v on e.user_id = v.user_id
          where e.event_type = 'click' and e.t > v.t_view
            and e.t <= v.t_view + {_FUNNEL_GAP_US}
          group by 1),
    p as (select e.user_id, min(e.t) as t_buy
          from ev e join c on e.user_id = c.user_id
          where e.event_type = 'purchase' and e.t > c.t_click
            and e.t <= c.t_click + {_FUNNEL_GAP_US}
          group by 1),
    staged as (
      select u.user_id,
             case when p.user_id is not null then 3
                  when c.user_id is not null then 2
                  when v.user_id is not null then 1
                  else 0 end as stage
      from (select distinct user_id from ev) u
      left join v on u.user_id = v.user_id
      left join c on u.user_id = c.user_id
      left join p on u.user_id = p.user_id)
    select stage, cast(count(*) as bigint) as n_users
    from staged group by stage order by stage
    """


_register_fn("events_funnel_stages", _funnel, _funnel_oracle())



# phash radius search (operators/embedding.phash_search): find every
# image within hamming ≤3 of each query phash, top-5 per query. The
# banded equi-join is pigeonhole-COMPLETE at radius 3, so the oracle is
# the true brute-force cross join — this entry proves exact recall of
# the LSH plan, not band-mirroring.
def _phash_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.embedding import phash_search

    _load(spark, sf_dir, "lineitem")
    imgs = spark.sql(_phash_images_sql("spark"))
    queries = imgs.where("image_id % 101 = 7").selectExpr(
        "image_id as query_id", "phash"
    )
    return phash_search(imgs, queries, max_hamming=3, k=5).orderBy(
        "query_id", "rank"
    )


def _phash_search_oracle() -> str:
    from ..operators.embedding import hamming64_sql

    ham = hamming64_sql("q.phash", "i.phash", "duckdb")
    return f"""
    with imgs as ({_phash_images_sql('duckdb')}),
    q as (select image_id as query_id, phash from imgs where image_id % 101 = 7),
    hits as (
      select q.query_id, i.image_id, cast({ham} as int) as hamming
      from q cross join imgs i),
    ranked as (
      select query_id, image_id, hamming,
             cast(row_number() over (partition by query_id
                                     order by hamming, image_id) as int) as rank
      from hits where hamming <= 3)
    select query_id, image_id, hamming, rank
    from ranked where rank <= 5 order by query_id, rank
    """


_register_fn("phash_search_radius", _phash_search, _phash_search_oracle())


# Z-order layout keys (operators/layout.py): the Morton key that
# zorder_write sorts by, rolled up to its 256 top-level buckets with
# per-bucket extents. The extents ARE the row-group min/max stats a
# parquet reader prunes on, so this entry value-checks the clustering
# property itself: each bucket covers a small lon/lat rectangle. The
# physical skip evidence (footer scan of a written table) is pinned in
# tests/test_layout.py.
_ZORDER_BITS = 8


def _zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.layout import with_zorder_key

    imgs = FS.load_images(spark, sf_dir)
    return (
        with_zorder_key(imgs, bits=_ZORDER_BITS)
        .groupBy(F.expr("zkey div 256").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(F.min("lon"), 6).alias("lon_min"),
            F.round(F.max("lon"), 6).alias("lon_max"),
            F.round(F.min("lat"), 6).alias("lat_min"),
            F.round(F.max("lat"), 6).alias("lat_max"),
        )
        .orderBy("bucket")
    )


def _zorder_layout_oracle() -> str:
    from ..operators.layout import zorder_sql_expr

    zkey = zorder_sql_expr("lon", "lat", _ZORDER_BITS, "duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')})
    select cast({zkey} // 256 as bigint) as bucket,
           cast(count(*) as bigint) as n_images,
           round(min(lon), 6) as lon_min, round(max(lon), 6) as lon_max,
           round(min(lat), 6) as lat_min, round(max(lat), 6) as lat_max
    from img group by 1 order by 1
    """


_register_fn("zorder_layout_buckets", _zorder_layout, _zorder_layout_oracle())


# Segment-segment intersection join (operators/segments.py). Fixture:
# near-horizontal "roads" (set A) and near-vertical "paths" (set B) on
# a shared /16-fraction grid — every coordinate is an exact binary
# double, so the orientation-test signs are bit-identical in Spark and
# DuckDB. The oracle is the brute-force bbox+predicate join; the Spark
# side must produce the same pairs through the cell-cover +
# reference-point plan (exactly-once, no distinct).
def _segments_sql(which: str) -> str:
    # dialect-neutral: %, *, case, cast only
    ka = "(l_orderkey * 7919 + l_linenumber * 104729)"
    kb = "(l_orderkey * 104729 + l_linenumber * 7919)"
    six = "cast(16 as double)"
    x0 = f"(cast({ka} % 1600 as double) / {six} - cast(50 as double))"
    y0 = f"(cast({kb} % 1600 as double) / {six} - cast(50 as double))"
    tilt = f"(cast({ka} % 5 - 2 as double) / {six})"
    # length 0..2 in /16 steps: bbox overlap does NOT imply intersection
    # (near misses at the ends), and length-0 rows exercise the
    # degenerate point-segment touch branch
    length = f"(cast({kb} % 33 as double) / {six})"
    if which == "roads":  # near-horizontal
        x1, y1, pred = f"({x0} + {length})", f"({y0} + {tilt})", "l_orderkey % 4 = 0"
    else:  # near-vertical
        x1, y1, pred = f"({x0} + {tilt})", f"({y0} + {length})", "l_orderkey % 4 = 1"
    return f"""
      select cast(l_orderkey * 10 + l_linenumber as bigint) as seg_id,
             {x0} as x0, {y0} as y0, {x1} as x1, {y1} as y1
      from lineitem where l_linenumber = 1 and {pred}
    """


def _segment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.segments import segment_intersect_join

    _load(spark, sf_dir, "lineitem")
    roads = spark.sql(_segments_sql("roads"))
    paths = spark.sql(_segments_sql("paths"))
    return (
        segment_intersect_join(spark, roads, paths)
        .select("a_seg_id", "b_seg_id")
        .orderBy("a_seg_id", "b_seg_id")
    )


def _segment_join_oracle() -> str:
    # brute force bbox-prefilter + exact predicate. case-when min/max
    # throughout (never least/greatest): DuckDB 1.x raises an internal
    # "flat vector" assertion on least() over joined CTE columns.
    from ..operators.segments import segments_intersect_sql

    cond = segments_intersect_sql("a.", "b.")
    box = """select seg_id, x0, y0, x1, y1,
      case when x0 <= x1 then x0 else x1 end as xlo,
      case when x0 <= x1 then x1 else x0 end as xhi,
      case when y0 <= y1 then y0 else y1 end as ylo,
      case when y0 <= y1 then y1 else y0 end as yhi from {}"""
    return f"""
    with roads0 as ({_segments_sql('roads')}),
    paths0 as ({_segments_sql('paths')}),
    roads as ({box.format('roads0')}),
    paths as ({box.format('paths0')})
    select a.seg_id as a_seg_id, b.seg_id as b_seg_id
    from roads a cross join paths b
    where a.xlo <= b.xhi and b.xlo <= a.xhi
      and a.ylo <= b.yhi and b.ylo <= a.yhi
      and {cond}
    order by 1, 2
    """


_register_fn("segment_intersect_roads", _segment_join, _segment_join_oracle())


# Ring measures (operators/ringstats.py): shoelace area / perimeter /
# centroid of every fixture ring (simple, concave, antimeridian, polar,
# degenerate, holes, multipart) as zero-exchange HOF folds, vs a DuckDB
# lead()-window twin over the same inlined vertices.
def _ring_fixture_rows() -> list[tuple]:
    from .. import data
    from ..operators.pip_join import poly_rings

    rows = []
    for p in data.polygons() + data.polygons_holes():
        for ridx, ring in enumerate(poly_rings(p)):
            verts = [(float(x), float(y)) for x, y in ring]
            if verts[0] != verts[-1]:
                # close explicitly so the Spark HOF and the SQL window
                # see identical vertex lists (the polar-cap fixture ends
                # at lon +180 vs its -180 start — closed on the sphere,
                # open in planar coordinates)
                verts.append(verts[0])
            rows.append((p["poly_id"], ridx, verts))
    return rows


def _ring_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ringstats import ring_metrics

    df = spark.createDataFrame(
        _ring_fixture_rows(),
        "poly_id string, ring_idx int, vertices array<struct<lon: double, lat: double>>",
    )
    return (
        ring_metrics(df, round_to=6)
        .select(
            "poly_id", "ring_idx", "signed_area", "area", "perimeter",
            "centroid_lon", "centroid_lat",
        )
        .orderBy("poly_id", "ring_idx")
    )


def _ring_metrics_oracle() -> str:
    from ..operators.ringstats import ring_metrics_oracle_sql

    vals = ", ".join(
        f"('{pid}', {ridx}, {pt}, cast('{x!r}' as double), cast('{y!r}' as double))"
        for pid, ridx, verts in _ring_fixture_rows()
        for pt, (x, y) in enumerate(verts)
    )
    rel = f"(select * from (values {vals}) as t(poly_id, ring_idx, pt_idx, lon, lat))"
    return ring_metrics_oracle_sql(rel, round_to=6)


_register_fn("ring_metrics_polygons", _ring_metrics, _ring_metrics_oracle())


# Geofence enter/exit/switch transitions (operators/trajectory.
# geofence_transitions): the trajectory fixture's entities moving
# against the flagship rectangles. Oracle: half-open rect containment
# (the PIP kernel's boundary convention) + the same lag() walk.
def _geofence_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.trajectory import geofence_transitions

    pts = FS.load_images(spark, sf_dir).select(
        F.col("image_id").alias("point_id"),
        (F.col("image_id") % _TRAJ_ENTITIES).alias("entity_id"),
        F.col("image_id").cast("double").alias("t"),
        "lon",
        "lat",
    )
    return (
        geofence_transitions(
            spark, pts, FS.RECTS, id_col="entity_id", ts_col="t",
            key_col="point_id", res=FS.RES,
        )
        .select(
            F.col("entity_id").cast("long").alias("entity_id"),
            "t", "from_zone", "to_zone", "kind",
        )
        .orderBy("entity_id", "t")
    )


def _geofence_transitions_oracle() -> str:
    zone_cases = " ".join(
        f"when lon >= cast('{r['ring'][0][0]!r}' as double)"
        f" and lon < cast('{r['ring'][1][0]!r}' as double)"
        f" and lat >= cast('{r['ring'][0][1]!r}' as double)"
        f" and lat < cast('{r['ring'][2][1]!r}' as double)"
        f" then '{r['poly_id']}'"
        for r in FS.RECTS
    )
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    tl as (
      select image_id as point_id,
             image_id % {_TRAJ_ENTITIES} as entity_id,
             cast(image_id as double) as t,
             case {zone_cases} end as zone
      from img),
    lagd as (
      select entity_id, t, zone,
             lag(zone) over w as prev,
             row_number() over w as rn
      from tl window w as (partition by entity_id order by t, point_id))
    select cast(entity_id as bigint) as entity_id, t,
           prev as from_zone, zone as to_zone,
           case when zone is null then 'exit'
                when prev is null then 'enter'
                else 'switch' end as kind
    from lagd
    where (rn = 1 and zone is not null)
       or (rn > 1 and zone is distinct from prev)
    order by entity_id, t
    """


_register_fn(
    "geofence_transitions_rects", _geofence_transitions, _geofence_transitions_oracle()
)


# Iso-band contour regions (operators/dissolve.isobands): classify the
# point-count raster into contour intervals, merge touching same-band
# cells, roll up per region. Oracle: the banded recursive-CTE CC twin.
_ISOBAND_BREAKS = [2.0, 5.0, 15.0]


def _raster_isobands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import tiles as TL
    from ..operators.dissolve import isobands

    img = FS.load_images(spark, sf_dir)
    raster = TL.rasterize(img, res=_DISSOLVE_RES)
    iso = isobands(raster, res=_DISSOLVE_RES, breaks=_ISOBAND_BREAKS)
    out = (
        iso.groupBy("band", "comp")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("value").cast("long").alias("total_value"),
        )
        .select(
            F.col("band").cast("int").alias("band"),
            F.col("comp").cast("long").alias("comp"),
            F.col("n_cells").cast("long").alias("n_cells"),
            "total_value",
        )
        .orderBy("band", "comp")
    )
    out = out.persist()
    out.count()
    iso.unpersist()
    return out


def _raster_isobands_oracle() -> str:
    from ..operators.dissolve import band_expr

    band = band_expr("value", _ISOBAND_BREAKS, "duckdb")
    return f"""
    with recursive {_raster_cte()},
    ib_kept as (select cell, value, {band} as band from rast),
    {_cc_oracle_ctes('ib', 'ib_kept', _DISSOLVE_RES, band_col='band')}
    select cast(k.band as int) as band,
           cast(c.comp as bigint) as comp,
           cast(count(*) as bigint) as n_cells,
           cast(sum(k.value) as bigint) as total_value
    from ib_comp c join ib_kept k on c.cell = k.cell
    group by k.band, c.comp order by band, comp
    """


_register_fn("raster_isobands", _raster_isobands, _raster_isobands_oracle())


# Fixed-rate trajectory resampling (operators/trajectory.
# trajectory_resample): dt is a power of two so tick arithmetic
# (ceil of t/2^k on integer-valued t) is bit-exact in both engines;
# interpolated coordinates round to 6.
_RESAMPLE_DT = 256.0
_RESAMPLE_MAX_GAP = 4096.0


def _trajectory_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.trajectory import trajectory_resample

    pts = FS.load_images(spark, sf_dir).select(
        (F.col("image_id") % _TRAJ_ENTITIES).alias("entity_id"),
        F.col("image_id").cast("double").alias("t"),
        "lon",
        "lat",
    )
    return (
        trajectory_resample(
            pts, dt=_RESAMPLE_DT, id_col="entity_id", ts_col="t",
            max_gap_s=_RESAMPLE_MAX_GAP,
        )
        .select(
            F.col("entity_id").cast("long").alias("entity_id"),
            "tick_ts",
            F.round("lon", 6).alias("lon"),
            F.round("lat", 6).alias("lat"),
        )
        .orderBy("entity_id", "tick_ts")
    )


def _trajectory_resample_oracle() -> str:
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    pts as (
      select image_id % {_TRAJ_ENTITIES} as entity_id,
             cast(image_id as double) as t, lon, lat
      from img),
    legs as (
      select entity_id, t, lon, lat,
             lead(t) over w as t1,
             lead(lon) over w as lon1,
             lead(lat) over w as lat1
      from pts window w as (partition by entity_id order by t)),
    spans as (
      select *, cast(ceil(t / {_RESAMPLE_DT!r}) as bigint) as k0,
             cast(ceil(t1 / {_RESAMPLE_DT!r}) as bigint) - 1 as k1
      from legs
      where t1 is not null and t1 - t <= {_RESAMPLE_MAX_GAP!r}),
    ticks as (
      select entity_id, t, t1, lon, lat, lon1, lat1,
             unnest(generate_series(k0, k1)) as k
      from spans where k0 <= k1)
    select cast(entity_id as bigint) as entity_id,
           cast(k as double) * {_RESAMPLE_DT!r} as tick_ts,
           round(lon + (cast(k as double) * {_RESAMPLE_DT!r} - t) / (t1 - t) * (lon1 - lon), 6) as lon,
           round(lat + (cast(k as double) * {_RESAMPLE_DT!r} - t) / (t1 - t) * (lat1 - lat), 6) as lat
    from ticks order by entity_id, tick_ts
    """


_register_fn(
    "trajectory_resample_ticks", _trajectory_resample, _trajectory_resample_oracle()
)


# Web-Mercator quadkey histogram (geo/webmercator.py): the slippy-map
# tile encode at zoom 6, grouped. Same formula text in both engines;
# the numpy reference is pinned separately in tests/test_geo.py.
_QK_ZOOM = 6


def _quadkey_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..geo.webmercator import quadkey_sql_expr

    img = FS.load_images(spark, sf_dir)
    return (
        img.groupBy(
            F.expr(quadkey_sql_expr("lon", "lat", _QK_ZOOM, "spark")).alias("quadkey")
        )
        .agg(F.count(F.lit(1)).alias("n_images"))
        .orderBy("quadkey")
    )


def _quadkey_hist_oracle() -> str:
    from ..geo.webmercator import quadkey_sql_expr

    qk = quadkey_sql_expr("lon", "lat", _QK_ZOOM, "duckdb")
    return f"""
    with img as ({FS.images_sql('lineitem')})
    select {qk} as quadkey, cast(count(*) as bigint) as n_images
    from img group by 1 order by 1
    """


_register_fn("quadkey_tile_hist", _quadkey_hist, _quadkey_hist_oracle())


# Coverage-gap QA (operators/tiles.coverage_gaps): res-12 cells inside
# each flagship rectangle with no image (res 14: ~60x60 cells per
# rect, sparse enough that real gaps exist at gate scale). Oracle
# enumerates the same
# cover with generate_series and anti-joins the encode column.
_GAP_RES = 14


def _coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.tiles import coverage_gaps

    img = FS.load_images(spark, sf_dir)
    boxes = spark.createDataFrame(
        [
            (
                r["poly_id"],
                float(r["ring"][0][0]),
                float(r["ring"][0][1]),
                float(r["ring"][1][0]),
                float(r["ring"][2][1]),
            )
            for r in FS.RECTS
        ],
        "poly_id string, lon_min double, lat_min double, lon_max double, lat_max double",
    )
    return (
        coverage_gaps(img, boxes, res=_GAP_RES)
        .select("poly_id", F.col("cell").cast("long").alias("cell"))
        .orderBy("poly_id", "cell")
    )


def _coverage_gaps_oracle() -> str:
    from ..geo import h3lite as HH

    nxr, nyr = HH.nx(_GAP_RES), HH.ny(_GAP_RES)
    cell = HH.h3_sql_expr("lon", "lat", _GAP_RES)
    box_rows = " union all ".join(
        f"select '{r['poly_id']}' as poly_id,"
        f" cast('{r['ring'][0][0]!r}' as double) as lon_min,"
        f" cast('{r['ring'][0][1]!r}' as double) as lat_min,"
        f" cast('{r['ring'][1][0]!r}' as double) as lon_max,"
        f" cast('{r['ring'][2][1]!r}' as double) as lat_max"
        for r in FS.RECTS
    )

    def idx(col: str, lo: float, span: float, n: int) -> str:
        return (
            f"least(greatest(cast(floor(({col} - cast('{lo!r}' as double))"
            f" / cast('{span!r}' as double) * {n}) as bigint),"
            f" cast(0 as bigint)), cast({n - 1} as bigint))"
        )

    x0 = idx("lon_min", -180.0, 360.0, nxr)
    x1 = idx("lon_max", -180.0, 360.0, nxr)
    y0 = idx("lat_min", -90.0, 180.0, nyr)
    y1 = idx("lat_max", -90.0, 180.0, nyr)
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    occupied as (select distinct {cell} as cell from img),
    boxes as ({box_rows}),
    cover as (
      select poly_id,
             cast({_GAP_RES} as bigint) * {1 << 56} + gx.x * {1 << 28} + gy.y as cell
      from boxes
      cross join lateral (select unnest(generate_series({x0}, {x1})) as x) gx
      cross join lateral (select unnest(generate_series({y0}, {y1})) as y) gy)
    select poly_id, cell from cover
    where cell not in (select cell from occupied)
    order by poly_id, cell
    """


_register_fn("coverage_gaps_rects", _coverage_gaps, _coverage_gaps_oracle())


# Central-difference gradient (operators/tiles.gradient) over the
# image-count raster: slope/aspect map algebra. Oracle mirrors the
# scatter orientation (E neighbor arrives with dx = -1) and the
# both-neighbors-required NULL rule. _GRAD_RES=11 (finer than _FOCAL_RES):
# the hot clusters must span many cells so interior cells actually
# have all four neighbors.
_GRAD_RES = 11
def _raster_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.tiles import gradient, rasterize

    r = rasterize(FS.load_images(spark, sf_dir), res=_GRAD_RES)
    return (
        gradient(r)
        .select(
            "cell",
            F.col("value").cast("long").alias("value"),
            F.round("gx", 6).alias("gx"),
            F.round("gy", 6).alias("gy"),
            F.round("slope", 4).alias("slope"),
            # named slope_aspect (not aspect) so the driver's
            # alphabetical column sort keeps the unique, never-null
            # cell column FIRST -- its canonicalizer compares tuples
            # elementwise and a leading nullable float column would
            # pit "nan" strings against floats
            F.round("aspect", 4).alias("slope_aspect"),
        )
        .orderBy("cell")
    )


def _raster_gradient_oracle() -> str:
    from ..geo import h3lite as H
    from ..geo.h3lite import neighbor_sql_expr, neighbor_valid_sql

    cell = H.h3_sql_expr("lon", "lat", _GRAD_RES)
    tgt = neighbor_sql_expr("cell", "dx", "dy", "duckdb")
    valid = neighbor_valid_sql("cell", "dy", "duckdb")

    def at(dx: int, dy: int) -> str:
        return f"max(case when dx = {dx} and dy = {dy} then value end)"

    return f"""
    with img as ({FS.images_sql('lineitem')}),
    r as (select {cell} as cell, cast(count(*) as bigint) as value
          from img group by 1),
    sc as (
      select {tgt} as tgt, value, dx, dy
      from r
      cross join (select unnest([-1, 0, 1]) as dx) dxs
      cross join (select unnest([-1, 0, 1]) as dy) dys
      where {valid}),
    g as (
      select tgt as cell,
             cast({at(0, 0)} as bigint) as value,
             ({at(-1, 0)} - {at(1, 0)}) / 2.0 as gx,
             ({at(0, -1)} - {at(0, 1)}) / 2.0 as gy,
             max(case when dx = 0 and dy = 0 then 1 else 0 end) as is_center
      from sc group by tgt)
    select cell, value, round(gx, 6) as gx, round(gy, 6) as gy,
           round(sqrt(gx * gx + gy * gy), 4) as slope,
           round(case when sqrt(gx * gx + gy * gy) > 0
                      then atan2(gy, gx) end, 4) as slope_aspect
    from g where is_center = 1
    order by cell
    """


_register_fn("raster_gradient_slope", _raster_gradient, _raster_gradient_oracle())


# Per-tile representative sampling (operators/tiles.tile_sample):
# 3 deterministic thumbnails per res-7 cell, md5-keyed (replayable in
# DuckDB, cluster-size independent).
def _tile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.tiles import tile_sample

    img = FS.load_images(spark, sf_dir)
    return (
        tile_sample(img, res=7, k=3)
        .select("cell", F.col("image_id").cast("long").alias("image_id"),
                F.col("rank").cast("int").alias("rank"))
        .orderBy("cell", "rank")
    )


def _tile_sample_oracle() -> str:
    from ..geo import h3lite as H

    cell = H.h3_sql_expr("lon", "lat", 7)
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    keyed as (
      select {cell} as cell, image_id,
             substr(md5('sample:' || cast(image_id as varchar)), 1, 16) as rk
      from img),
    ranked as (
      select cell, image_id,
             cast(row_number() over (partition by cell order by rk, image_id) as int) as rank
      from keyed)
    select cell, image_id, rank from ranked
    where rank <= 3 order by cell, rank
    """


_register_fn("tile_sample_topk", _tile_sample, _tile_sample_oracle())


# ===========================================================================
# Full phase-2 ingest pipeline E2E (sources/zipsource.py): distributed
# zip+METS generation from lineitem keys → zip member explode (S6) →
# METS parse (S5) → filename join (J2) → byte/checksum validation (J5)
# → per-volume page counts (A1). Every page validates by construction;
# the oracle recomputes the page counts arithmetically.
# ===========================================================================

def _ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..sources import mets as M
    from ..sources import zipsource as Z

    _load(spark, sf_dir, "orders")
    skel = spark.sql(
        """select concat('uc2.ark:/13960/t', cast(o_orderkey as string)) as volume_id,
                  cast(1 + o_orderkey % 7 as int) as n_pages
           from orders order by o_orderkey limit 120"""
    )

    schema = T.StructType(
        [
            T.StructField("volume_id", T.StringType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("mets_xml", T.StringType()),
        ]
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "volume_id": pdf.volume_id,
                    "content": [
                        Z.make_volume_zip(v, int(n)) for v, n in zip(pdf.volume_id, pdf.n_pages)
                    ],
                    "mets_xml": [
                        M.synthesize_mets(v, int(n), real_content=True)
                        for v, n in zip(pdf.volume_id, pdf.n_pages)
                    ],
                }
            )

    vols = skel.mapInPandas(gen, schema)
    zip_pages = Z.explode_zip_pages(vols.select("volume_id", "content"))
    mets_pages, _ = M.pages_table(M.parse_mets(vols.select("volume_id", "mets_xml")))
    joined, unmatched = Z.join_mets_pages(zip_pages, mets_pages)
    ok, bad = Z.validate_pages(joined)
    return (
        ok.groupBy("volume_id")
        .agg(
            F.count(F.lit(1)).alias("n_pages_ok"),
            F.sum("byte_count").cast("bigint").alias("total_bytes"),
        )
        .orderBy("volume_id")
    )


def _ingest_e2e_oracle() -> str:
    # page i has exactly 1000 + i bytes → totals are closed-form
    return """
    with vols as (
      select concat('uc2.ark:/13960/t', cast(o_orderkey as string)) as volume_id,
             cast(1 + o_orderkey % 7 as int) as n
      from orders order by o_orderkey limit 120)
    select volume_id, cast(n as bigint) as n_pages_ok,
           cast(1000 * n + n * (n + 1) / 2 as bigint) as total_bytes
    from vols order by volume_id
    """


_register_fn("ingest_pipeline_e2e", _ingest_e2e, _ingest_e2e_oracle())


# ===========================================================================
# PIP value-oracle on convex polygons: the REAL pip_join operator
# (adaptive cover + native ray-cast refine) value-checked against an
# INDEPENDENT SQL formulation — convex containment = all edge cross
# products non-negative. Rotated (non-axis-aligned) quads so this
# exercises the general path, not the rectangle shortcut.
# ===========================================================================

import math as _math

_CONVEX_POLYS = []
for _i, (_cx, _cy) in enumerate(FS.HOT):
    _ang = 0.35 + 0.25 * _i  # rotation per polygon
    _r = 0.22
    _ring = []
    for _k in range(4):
        _a = _ang + _k * _math.pi / 2
        _ring.append((_cx + _r * _math.cos(_a), _cy + _r * _math.sin(_a)))
    _ring.append(_ring[0])
    _CONVEX_POLYS.append({"poly_id": f"cx{_i}", "ring": _ring})


def _pip_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pip_join import pip_join

    img = FS.load_images(spark, sf_dir)
    return (
        pip_join(spark, img, _CONVEX_POLYS, res=7)
        .select(F_col_bigint("image_id"), "poly_id")
        .orderBy("image_id", "poly_id")
    )


def F_col_bigint(name: str):
    from pyspark.sql import functions as F

    return F.col(name).cast("bigint").alias(name)


def _pip_convex_oracle() -> str:
    # CCW ring ⇒ inside = every edge cross product > 0 (strict: the
    # ray-cast kernel's half-open convention only differs ON edges,
    # which generic fixture points never hit exactly)
    polys = []
    for p in _CONVEX_POLYS:
        conds = []
        ring = p["ring"]
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            conds.append(
                f"((cast('{x2!r}' as double) - cast('{x1!r}' as double)) * (lat - cast('{y1!r}' as double))"
                f" - (cast('{y2!r}' as double) - cast('{y1!r}' as double)) * (lon - cast('{x1!r}' as double))) > 0"
            )
        polys.append(
            f"select image_id, '{p['poly_id']}' as poly_id from img where {' and '.join(conds)}"
        )
    body = " union all ".join(polys)
    return f"""
    with img as ({FS.images_sql('lineitem')})
    select cast(image_id as bigint) as image_id, poly_id
    from ({body}) t order by image_id, poly_id
    """


_register_fn("pip_join_convex_oracle", _pip_convex, _pip_convex_oracle())


# Line-density rasterization (operators/segments.segment_density):
# total road+path meters per res-8 cell via exact Liang-Barsky
# clipping. Oracle: the same cover enumerated by generate_series and
# the same clip/length expression templates.
_SEGDEN_RES = 8


def _seg_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.segments import segment_density

    _load(spark, sf_dir, "lineitem")
    segs = spark.sql(_segments_sql("roads")).unionByName(
        spark.sql(_segments_sql("paths"))
    )
    return segment_density(segs, res=_SEGDEN_RES).orderBy("cell")


def _seg_density_oracle() -> str:
    from ..geo import h3lite as HH
    from ..operators.segments import clip_frac_sql, seg_len_m_sql

    nxr, nyr = HH.nx(_SEGDEN_RES), HH.ny(_SEGDEN_RES)

    def idx(col: str, lo: float, span: float, n: int) -> str:
        return (
            f"least(greatest(cast(floor(({col} + {-lo!r})"
            f" / {span!r} * {n}) as bigint),"
            f" cast(0 as bigint)), cast({n - 1} as bigint))"
        )

    return f"""
    with segs as (
      select * from ({_segments_sql('roads')})
      union all select * from ({_segments_sql('paths')})),
    box as (
      select *, least(x0, x1) as lon_min, greatest(x0, x1) as lon_max,
             least(y0, y1) as lat_min, greatest(y0, y1) as lat_max
      from segs),
    cand as (
      select box.*, gx.cx, gy.cy
      from box
      cross join lateral (select unnest(generate_series(
        {idx('lon_min', -180.0, 360.0, nxr)},
        {idx('lon_max', -180.0, 360.0, nxr)})) as cx) gx
      cross join lateral (select unnest(generate_series(
        {idx('lat_min', -90.0, 180.0, nyr)},
        {idx('lat_max', -90.0, 180.0, nyr)})) as cy) gy),
    clipped as (
      select cast({_SEGDEN_RES} as bigint) * {1 << 56} + cx * {1 << 28} + cy as cell,
             ({clip_frac_sql(_SEGDEN_RES)}) * ({seg_len_m_sql()}) as len_in
      from cand)
    select cell, cast(count(*) as bigint) as n_segments,
           round(sum(len_in), 1) as len_m
    from clipped where len_in > 0
    group by cell order by cell
    """


_register_fn("segment_density_cells", _seg_density, _seg_density_oracle())


# Cohort retention: users cohorted by the epoch-week of their FIRST
# signup event; n distinct users of each cohort active again k weeks
# later (any event type). Epoch-week = integer division of the µs
# epoch — exact in both engines, no date_trunc week-start conventions.
_WEEK_US = 7 * 24 * 3600 * 1_000_000


def _cohort_sqls(dialect: str) -> tuple[str, str]:
    us = (
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
        if dialect == "spark"
        else "epoch_us(ts)"
    )
    dv = "div" if dialect == "spark" else "//"
    su = (
        f"select user_id, min({us}) {dv} {_WEEK_US} as cohort_week"
        f" from events where event_type = 'signup' group by user_id"
    )
    act = f"select user_id, {us} {dv} {_WEEK_US} as week from events"
    return su, act


def _cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _load(spark, sf_dir, "events")
    su_sql, act_sql = _cohort_sqls("spark")
    su, act = spark.sql(su_sql), spark.sql(act_sql)
    return (
        act.join(su, "user_id")
        .where(F.col("week") >= F.col("cohort_week"))
        .select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def _cohort_retention_oracle() -> str:
    su_sql, act_sql = _cohort_sqls("duckdb")
    return f"""
    with su as ({su_sql}), act as ({act_sql})
    select su.cohort_week, act.week - su.cohort_week as week_offset,
           cast(count(distinct act.user_id) as bigint) as n_users
    from act join su on act.user_id = su.user_id
    where act.week >= su.cohort_week
    group by 1, 2 order by 1, 2
    """


_register_fn("events_cohort_retention", _cohort_retention, _cohort_retention_oracle())


# Raster cost-distance: bounded-hop least-cost paths over the occupied
# image-count raster — graph.shortest_paths composed onto the raster's
# rook adjacency (edge weight = cost(src) + cost(dst), integer). The
# source is the densest cell (tie-break min cell id; one driver-side
# scalar collect, documented trivial). 6 hops, exact-integer mins.
_COST_RES, _COST_HOPS = 10, 6


def _cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.graph import shortest_paths
    from ..geo.h3lite import neighbor_sql_expr, neighbor_valid_sql
    from ..operators.tiles import rasterize

    r = rasterize(FS.load_images(spark, sf_dir), res=_COST_RES).persist()
    offs = (
        "array(struct(1 as dx, 0 as dy), struct(-1 as dx, 0 as dy),"
        " struct(0 as dx, 1 as dy), struct(0 as dx, -1 as dy))"
    )
    nb = (
        r.select(
            F.col("cell").alias("src"),
            F.col("value").alias("vs"),
            F.explode(F.expr(offs)).alias("o"),
        )
        .select("src", "vs", F.col("o.dx").alias("dx"), F.col("o.dy").alias("dy"))
        .withColumn("dst", F.expr(neighbor_sql_expr("src", "dx", "dy", "spark")))
        .where(F.expr(neighbor_valid_sql("src", "dy", "spark")))
    )
    edges = nb.join(
        r.select(F.col("cell").alias("dst"), F.col("value").alias("vd")), "dst"
    ).select("src", "dst", (F.col("vs") + F.col("vd")).alias("w"))
    src_cell = int(
        r.orderBy(F.desc("value"), "cell").limit(1).collect()[0]["cell"]
    )
    return shortest_paths(
        edges, [src_cell], hops=_COST_HOPS, persist_every=4
    ).orderBy("node")


def _cost_distance_oracle() -> str:
    from ..geo import h3lite as HH
    from ..geo.h3lite import neighbor_sql_expr, neighbor_valid_sql

    cell = HH.h3_sql_expr("lon", "lat", _COST_RES)
    tgt = neighbor_sql_expr("cell", "dx", "dy", "duckdb")
    valid = neighbor_valid_sql("cell", "dy", "duckdb")
    return f"""
    with recursive img as ({FS.images_sql('lineitem')}),
    r as (select {cell} as cell, cast(count(*) as bigint) as value
          from img group by 1),
    nb as (
      select cell as src, value as vs, {tgt} as dst
      from r
      cross join (select unnest([1, -1, 0, 0]) as dx,
                         unnest([0, 0, 1, -1]) as dy) offs
      where {valid}),
    e as (select nb.src, nb.dst, nb.vs + r.value as w
          from nb join r on nb.dst = r.cell),
    s as (select cell from r order by value desc, cell limit 1),
    walk(node, dist, hops) as (
      select cell, cast(0 as bigint), 0 from s
      union all
      select e.dst, walk.dist + e.w, walk.hops + 1
      from walk join e on e.src = walk.node
      where walk.hops < {_COST_HOPS})
    select node, min(dist) as dist from walk group by 1 order by 1
    """


_register_fn("raster_cost_distance", _cost_distance, _cost_distance_oracle())


# Origin-destination matrix (operators/trajectory.trajectory_od): per
# (origin res-5 cell, destination cell) count of track segments —
# the commute-map rollup over the same deterministic tracks as
# trajectory_stats_entities. Oracle: identical segmentation window +
# arg_min/arg_max endpoint extraction (t unique per entity).
_OD_RES = 5


def _trajectory_od(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.trajectory import trajectory_od

    pts = FS.load_images(spark, sf_dir).select(
        (F.col("image_id") % _TRAJ_ENTITIES).alias("entity_id"),
        F.col("image_id").cast("double").alias("t"),
        "lon",
        "lat",
    )
    return trajectory_od(
        pts, res=_OD_RES, ts_col="t", gap_s=_TRAJ_GAP_S
    ).orderBy("o_cell", "d_cell")


def _trajectory_od_oracle() -> str:
    from ..geo import h3lite as HH

    o_cell = HH.h3_sql_expr("o_lon", "o_lat", _OD_RES)
    d_cell = HH.h3_sql_expr("d_lon", "d_lat", _OD_RES)
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    pts as (
      select image_id % {_TRAJ_ENTITIES} as entity_id,
             cast(image_id as double) as t, lon, lat
      from img),
    lagd as (
      select *, t - lag(t) over (partition by entity_id order by t) as dt
      from pts),
    seg as (
      select *, sum(case when dt > {_TRAJ_GAP_S} then 1 else 0 end) over (
        partition by entity_id order by t
        rows between unbounded preceding and current row) as segment
      from lagd),
    ends as (
      select entity_id, segment,
             arg_min(lon, t) as o_lon, arg_min(lat, t) as o_lat,
             arg_max(lon, t) as d_lon, arg_max(lat, t) as d_lat
      from seg group by 1, 2)
    select {o_cell} as o_cell, {d_cell} as d_cell,
           cast(count(*) as bigint) as n
    from ends group by 1, 2 order by 1, 2
    """


_register_fn("trajectory_od_matrix", _trajectory_od, _trajectory_od_oracle())


# Semi-structured JSON extraction (the C-family string/parse axis
# applied to nested payloads): pull props.k out of the events JSON
# column, validate, and histogram. Spark get_json_object (codegen,
# no Python) vs DuckDB json_extract — a cross-dialect parse twin;
# unparseable / missing keys land in a counted error bucket, the
# reference's error-channel discipline (C6) on JSON.
_JSON_HIST = {
    "spark": """
      select coalesce(try_cast(get_json_object(props, '$.k') as bigint) % 10, -1)
               as k_bucket,
             cast(count(*) as bigint) as n
      from events group by 1 order by 1""",
    "duckdb": """
      select coalesce(case when json_valid(props) then
               try_cast(json_extract_string(props, '$.k') as bigint) end % 10, -1)
               as k_bucket,
             cast(count(*) as bigint) as n
      from events group by 1 order by 1""",
}
_register(
    "events_json_extract",
    ["events"],
    _JSON_HIST["spark"],
    _JSON_HIST["duckdb"],
)


# Relational-surface sweep: rolling window, grouping sets (CUBE),
# ntile quartiles, and a conditional-aggregation pivot — the SQL
# analytics shapes a reference user expects, each dialect-identical.
_MOVAVG = """
    select event_id,
           round(avg(value) over (partition by user_id
                 order by ts, event_id
                 rows between 6 preceding and current row), 6) as mov_avg
    from events order by event_id limit 2000"""
_register("events_moving_avg", ["events"], _MOVAVG, _MOVAVG)

_CUBE = """
    select coalesce(event_type, 'ALL') as event_type,
           coalesce(cast(hour(ts) as bigint), -1) as hr,
           cast(count(*) as bigint) as n,
           round(sum(value), 2) as total
    from events group by cube(event_type, hour(ts))
    order by event_type, hr"""
_CUBE_DUCK = """
    select coalesce(event_type, 'ALL') as event_type,
           coalesce(cast(hour(ts) as bigint), -1) as hr,
           cast(count(*) as bigint) as n,
           round(sum(value), 2) as total
    from events group by cube(event_type, hour(ts))
    order by event_type, hr"""
_register("events_cube_rollup", ["events"], _CUBE, _CUBE_DUCK)

_NTILE = """
    select event_type, quartile,
           cast(count(*) as bigint) as n,
           round(avg(value), 6) as avg_value
    from (
      select event_type, value,
             ntile(4) over (partition by event_type
                            order by value, event_id) as quartile
      from events) t
    group by event_type, quartile order by event_type, quartile"""
_register("events_value_ntile", ["events"], _NTILE, _NTILE)

_PIVOT = """
    select cast(hour(ts) as bigint) as hr,
           cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as clicks,
           cast(sum(case when event_type = 'view' then 1 else 0 end) as bigint) as views,
           cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as purchases,
           cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as errors
    from events group by 1 order by 1"""
_register("events_type_pivot", ["events"], _PIVOT, _PIVOT)


# Attribution join — the BATCH twin of streaming.click_view_stream_join
# (same predicate on static frames): every (view, click) pair of one
# user with the click inside [view_ts, view_ts + 30 min). The streaming
# tests pin stream==batch; this entry value-checks the predicate
# itself against DuckDB.
def _attribution_sqls(dialect: str) -> str:
    us = (
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
        if dialect == "spark"
        else "epoch_us(ts)"
    )
    return f"""
    with v as (select event_id as view_id, user_id, {us} as vt
               from events where event_type = 'view'),
    c as (select event_id as click_id, user_id, {us} as ct
          from events where event_type = 'click')
    select v.view_id, c.click_id, v.user_id,
           c.ct - v.vt as delay_us
    from v join c on v.user_id = c.user_id
      and c.ct >= v.vt and c.ct < v.vt + 1800000000
    order by view_id, click_id
    """


def _attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "events")
    return spark.sql(_attribution_sqls("spark"))


_register_fn("attribution_click_view", _attribution, _attribution_sqls("duckdb"))


# Sliding-window aggregation (10-min window, 5-min slide): each event
# lands in exactly window/slide = 2 windows. Spark uses the native
# window(ts, w, s) generator; the oracle derives the same two aligned
# starts by integer epoch arithmetic — window starts are epoch-aligned
# in both. Output keys are epoch-µs bigints (no timestamp formatting).
_SLIDE_US = 300_000_000  # 5 minutes


def _sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _load(spark, sf_dir, "events")
    ws_us = (
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00',"
        " window.start)"
    )
    return (
        spark.table("events")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("window"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .selectExpr(f"{ws_us} as window_start_us", "event_type", "n")
        .orderBy("window_start_us", "event_type")
    )


def _sliding_counts_oracle() -> str:
    return f"""
    with e as (select event_type, epoch_us(ts) as t from events),
    w as (
      select (t // {_SLIDE_US}) * {_SLIDE_US} as window_start_us, event_type from e
      union all
      select ((t // {_SLIDE_US}) - 1) * {_SLIDE_US}, event_type from e)
    select window_start_us, event_type, cast(count(*) as bigint) as n
    from w group by 1, 2 order by 1, 2
    """


_register_fn("events_sliding_window", _sliding_counts, _sliding_counts_oracle())


# Adaptive multi-resolution histogram (operators/tiles.adaptive_cells):
# res 5 → 8, split cells above 500 points — hotspot clusters drill to
# fine cells, the sparse tail stays coarse. Oracle: the same
# level-unrolled decomposition in CTEs.
_ADAPT = dict(base=5, mx=8, thr=500)


def _adaptive_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tiles import adaptive_cells

    img = FS.load_images(spark, sf_dir)
    return adaptive_cells(
        img, _ADAPT["base"], _ADAPT["mx"], _ADAPT["thr"]
    ).orderBy("res", "cell")


def _adaptive_hist_oracle() -> str:
    from ..geo import h3lite as HH

    base, mx, thr = _ADAPT["base"], _ADAPT["mx"], _ADAPT["thr"]
    ctes = [f"p{base} as ({FS.images_sql('lineitem')})"]
    outs = []
    for r in range(base, mx + 1):
        cell = HH.h3_sql_expr("lon", "lat", r)
        ctes.append(
            f"c{r} as (select {cell} as cell, cast(count(*) as bigint) as n"
            f" from p{r} group by 1)"
        )
        if r == mx:
            outs.append(f"select cell, cast({r} as int) as res, n from c{r}")
            break
        outs.append(
            f"select cell, cast({r} as int) as res, n from c{r} where n <= {thr}"
        )
        ctes.append(
            f"p{r + 1} as (select p.* from p{r} p"
            f" join (select cell from c{r} where n > {thr}) h"
            f" on {cell} = h.cell)"
        )
    return (
        "with " + ",\n".join(ctes) + "\n"
        + " union all ".join(outs) + " order by res, cell"
    )


_register_fn("adaptive_multires_hist", _adaptive_hist, _adaptive_hist_oracle())


# Per-type z-score anomaly flags: population stddev per event_type,
# |z| > 3 outliers listed. stddev_pop is the same accumulation in both
# engines at this magnitude; z rounds to 6dp before the threshold in
# BOTH so a borderline value cannot flip one side only.
_ANOM = """
    with stats as (
      select event_type, avg(value) as mu, stddev_pop(value) as sigma
      from events group by 1)
    select e.event_id, e.event_type,
           round((e.value - s.mu) / s.sigma, 6) as z
    from events e join stats s on e.event_type = s.event_type
    where abs(round((e.value - s.mu) / s.sigma, 6)) > 3
    order by e.event_id"""
_register("events_value_anomalies", ["events"], _ANOM, _ANOM)


# Buffer-zone rollup: images per 50 km polygon buffer — the
# polygon_buffer ∘ cell-encode composition ("how many images within
# 50 km of each region", the proximity analytics the buffer exists
# for). Buffer cell set is small → broadcast; ONE cell equi-join, no
# point ever tested against geometry.
def _zonal_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .. import data
    from ..geo import h3lite as HH
    from ..operators.buffer import polygon_buffer

    polys = [p for p in data.polygons() if p["kind"] != "polar_cap"]
    buf = polygon_buffer(spark, polys, _BUF_R, _BUF_RES)
    img = FS.load_images(spark, sf_dir).withColumn(
        "cell", F.expr(HH.h3_sql_expr("lon", "lat", _BUF_RES))
    )
    return (
        img.join(F.broadcast(buf), "cell")
        .groupBy("poly_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_images"))
        .orderBy("poly_id")
    )


def _zonal_buffer_oracle() -> str:
    from .. import data
    from ..geo import h3lite as HH
    from ..operators.buffer import polygon_buffer_oracle_sql

    polys = [p for p in data.polygons() if p["kind"] != "polar_cap"]
    buf_sql = polygon_buffer_oracle_sql(polys, _BUF_R, _BUF_RES)
    cell = HH.h3_sql_expr("lon", "lat", _BUF_RES)
    return f"""
    with img as ({FS.images_sql('lineitem')}),
    enc as (select {cell} as cell from img),
    buf as ({buf_sql})
    select b.poly_id, cast(count(*) as bigint) as n_images
    from enc e join buf b on e.cell = b.cell
    group by 1 order by 1
    """


_register_fn("zonal_buffer_counts", _zonal_buffer, _zonal_buffer_oracle())
