"""Deterministic raster tile assignment (north-rule raster↔vector op).

``tile = mix(cell_at_zoom) mod n_tiles`` — a pure Catalyst expression
(functions.tile_sql_expr): no UDF, no RNG, no partition-order
dependence, so the same input always produces the same tile on any
cluster size (the determinism requirement in SURVEY.md §4.5).

The raster operators here read and write cell ids only through
geo/h3lite's SQL builders (``parent_sql_expr`` / ``child_parent_sql``
for parents, ``neighbor_sql_expr`` / ``neighbor_valid_sql`` for window
offsets, ``cell_bounds_sql`` for cell rectangles, ``unpack_sql`` /
``pack_sql`` for the rest), which sit next to their numpy twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import h3_cell, tile_id
from ..geo import h3lite as H


def assign_tiles(
    points: DataFrame,
    zoom_res: int = 5,
    n_tiles: int = 4096,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str | None = None,
    out_col: str = "tile_id",
) -> DataFrame:
    """Add a deterministic ``tile_id`` column.

    If the frame already carries a finer cell id, the zoom cell derives
    from it arithmetically (aperture-4 parent = two bit-shifts) without
    touching lon/lat again.
    """
    if cell_col is not None:
        # parent-derivation in pure SQL (h3lite.parent_sql_expr)
        df = points.withColumn("__zoom_cell", _parent_expr(cell_col, zoom_res))
    else:
        df = points.withColumn("__zoom_cell", h3_cell(lon_col, lat_col, zoom_res))
    return df.withColumn(out_col, tile_id("__zoom_cell", n_tiles)).drop("__zoom_cell")


def _parent_expr(cell_col: str, parent_res: int):
    return F.expr(H.parent_sql_expr(cell_col, parent_res, dialect="spark"))


# ---------------------------------------------------------------------------
# raster ↔ vector (north rule): both directions as pure column
# expressions — the raster IS the relational (cell, value) grid (the
# natural distributed representation; a dense 2-D array is just its
# pivot, materializable per bounded patch on the driver).
# ---------------------------------------------------------------------------


def rasterize(
    points: DataFrame,
    res: int,
    value_agg=None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Vector → raster: bin points into the res-grid, one row per
    non-empty cell. ``value_agg`` defaults to count; pass e.g.
    F.avg("price") for a value raster. Sparse by construction — empty
    cells carry no rows (at 10^12 points the dense grid never
    materializes anywhere)."""
    agg = value_agg if value_agg is not None else F.count(F.lit(1)).alias("value")
    return (
        points.withColumn("cell", h3_cell(lon_col, lat_col, res))
        .groupBy("cell")
        .agg(agg)
    )


def vectorize(
    raster: DataFrame,
    threshold: float,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Raster → vector: cells with value ≥ threshold become polygon
    features — one closed CCW quad ring per cell, as
    array<struct<lon,lat>> (the engine's polygon wire format, §1.2).
    Adjacent-cell dissolve is a follow-up groupBy on parent cells;
    per-cell quads keep the operator a pure projection."""
    b = H.cell_bounds_sql(cell_col, "spark")
    ring = (
        "array("
        f"struct({b['lon_min']} as lon, {b['lat_min']} as lat),"
        f"struct({b['lon_max']} as lon, {b['lat_min']} as lat),"
        f"struct({b['lon_max']} as lon, {b['lat_max']} as lat),"
        f"struct({b['lon_min']} as lon, {b['lat_max']} as lat),"
        f"struct({b['lon_min']} as lon, {b['lat_min']} as lat))"
    )
    return (
        raster.where(F.col(value_col) >= threshold)
        .withColumn("ring", F.expr(ring))
        .select(F.col(cell_col).alias("poly_cell"), F.col(value_col).alias("value"), "ring")
    )


def _scatter_window(
    raster: DataFrame,
    radius: int,
    cell_col: str,
    value_col: str,
) -> DataFrame:
    """Shared scatter core for the window operators (focal_stats,
    kde_heatmap): each row fans out to the (2r+1)² window cells it
    contributes to via a literal offset-array explode — target ids in
    ``__tgt``, source value in ``__v``, offsets in ``o.dx``/``o.dy``.

    Wrap-collision guard: when the window is wider than the grid
    (2r+1 > nx — coarse res), dx and dx±nx would hit the same wrapped
    column twice; restricting dx to one canonical period
    [-nx/2, (nx-1)/2] makes the window degrade to "whole row", each
    column contributing exactly once."""
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-radius, radius + 1)
            for dy in range(-radius, radius + 1)
        ]
    )
    res, _, _ = H.unpack_sql("cast(__src as bigint)")
    nx = f"cast(pow(cast(2 as double), cast({res} + 2 as double)) as bigint)"
    dx_ok = (
        f"({2 * radius + 1} <= {nx})"
        f" or (o.dx >= -({nx} div 2) and o.dx <= ({nx} - 1) div 2)"
    )
    return (
        raster.select(
            F.col(cell_col).alias("__src"),
            F.col(value_col).alias("__v"),
            F.explode(offs).alias("o"),
        )
        .where(F.expr(H.neighbor_valid_sql("__src", "o.dy", "spark")))
        .where(F.expr(dx_ok))
        .withColumn("__tgt", F.expr(H.neighbor_sql_expr("__src", "o.dx", "o.dy", "spark")))
    )


def focal_stats(
    raster: DataFrame,
    radius: int = 1,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Focal (neighborhood) map algebra over the sparse raster: for
    every input cell, aggregate ``value_col`` over the (2r+1)² window
    centred on it — focal sum / count / mean / min / max. Missing
    (sparse) neighbors are nodata: they contribute nothing and
    ``focal_n`` counts only present cells, the standard GIS focal-stats
    convention. Longitude wraps at the antimeridian; rows beyond a
    pole simply don't exist (no wrap).

    Scale shape — SCATTER form, one shuffle, no join: each input row
    fans out to the (2r+1)² windows it contributes to (a pure Catalyst
    explode over a literal offset array), then ONE ``groupBy(target)``
    with map-side partial aggregation combines contributions. Output
    is restricted to cells present in the input not by a join-back but
    by a ``max(is_center)`` flag folded into the same aggregate — so a
    10^9-cell raster convolves with a single exchange whose rows are
    ≤ (2r+1)² × cells before the map-side combine collapses them.
    The GATHER form (generate 9 neighbor keys, equi-join the raster)
    costs the same explode plus a second shuffle for the join — always
    worse here.
    """
    scattered = _scatter_window(raster, radius, cell_col, value_col)
    center = (F.col("o.dx") == 0) & (F.col("o.dy") == 0)
    return (
        scattered.groupBy(F.col("__tgt").alias(cell_col))
        .agg(
            F.max(F.when(center, F.col("__v"))).alias(value_col),
            F.sum("__v").alias("focal_sum"),
            # count the VALUES, not the rows: a present-but-NULL
            # neighbor (a nodata cell from e.g. local_op) must not
            # deflate focal_mean or inflate hotspot_gi's W
            F.count("__v").alias("focal_n"),
            F.min("__v").alias("focal_min"),
            F.max("__v").alias("focal_max"),
            F.max(F.when(center, 1).otherwise(0)).alias("__is_center"),
        )
        .where(F.col("__is_center") == 1)
        .drop("__is_center")
        .withColumn("focal_mean", F.col("focal_sum") / F.col("focal_n"))
    )


def hotspot_gi(
    raster: DataFrame,
    radius: int = 1,
    cell_col: str = "cell",
    value_col: str = "value",
    z_hot: float = 1.96,
) -> DataFrame:
    """Getis-Ord Gi* hot-spot statistic over the sparse raster: per
    cell, the z-score of its (2r+1)² focal sum against the global
    value distribution, with binary weights over PRESENT neighbors
    (the sparse-raster convention — absent cells are nodata, not
    zero, matching :func:`focal_stats`):

        Gi* = (Σ_j x_j − X̄·W) / (S·sqrt((n·W − W²)/(n−1)))

    where W = focal_n (present cells in the window), n = present cells
    in the raster, X̄/S the global mean / population std. ``gi_z`` is
    NULL where the denominator degenerates (S = 0, W = n, or n = 1);
    ``is_hot`` flags |z| ≥ ``z_hot`` (1.96 ≈ p < 0.05 two-tailed).

    Scale shape: :func:`focal_stats`' single scatter exchange plus a
    1-row global aggregate broadcast back onto it — nothing new
    shuffles, so the hot-spot pass costs the same as the focal pass
    at any raster size. Classic use: flag statistically significant
    image-density hot spots before handing tiles to the mosaic/render
    stage (north-rule hot-cell skew, made quantitative).
    """
    f = focal_stats(raster, radius=radius, cell_col=cell_col, value_col=value_col)
    g = raster.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg(F.col(value_col).cast("double")).alias("__mu"),
        F.stddev_pop(F.col(value_col).cast("double")).alias("__sigma"),
    )
    w = F.col("focal_n").cast("double")
    num = F.col("focal_sum").cast("double") - F.col("__mu") * w
    n = F.col("__n")
    den = F.col("__sigma") * F.sqrt((n * w - w * w) / (n - F.lit(1.0)))
    z = F.when(
        (F.col("__sigma") > 0) & (n > 1) & (w < n), num / den
    ).otherwise(F.lit(None).cast("double"))
    return (
        f.crossJoin(F.broadcast(g))
        .withColumn("gi_z", z)
        .withColumn(
            "is_hot",
            F.when(F.col("gi_z").isNull(), F.lit(None).cast("int")).otherwise(
                (F.abs(F.col("gi_z")) >= F.lit(float(z_hot))).cast("int")
            ),
        )
        .drop("__n", "__mu", "__sigma")
    )


def kde_heatmap(
    raster: DataFrame,
    radius: int = 2,
    sigma: float = 1.0,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Kernel-density heatmap over the sparse raster: every source
    cell spreads its value over the (2r+1)² window with a truncated
    Gaussian kernel, ``kde = Σ_src v_src · exp(−(dx²+dy²)/(2σ²))``
    (offsets in cell units). Unlike :func:`focal_stats`, the output
    covers every cell the kernel TOUCHES — the smoothed halo around
    the data is the product (the map-render heat layer) — so the
    output can be up to (2r+1)² × input cells before the map-side
    combine collapses shared targets. ``n_src`` counts contributing
    source cells.

    Scale shape: identical to focal_stats — one scatter explode + ONE
    ``groupBy(target)`` with map-side partial aggregation; the kernel
    weight is a literal per-offset constant folded by Catalyst, so the
    whole operator is a single codegen exchange at any raster size.
    Longitude wraps at the antimeridian; pole rows clamp (no wrap).
    """
    scattered = _scatter_window(raster, radius, cell_col, value_col)
    two_s2 = 2.0 * float(sigma) * float(sigma)
    w = F.exp(
        -(F.col("o.dx") * F.col("o.dx") + F.col("o.dy") * F.col("o.dy")).cast("double")
        / F.lit(two_s2)
    )
    return (
        scattered.groupBy(F.col("__tgt").alias(cell_col))
        .agg(
            F.sum(F.col("__v").cast("double") * w).alias("kde"),
            F.count(F.lit(1)).alias("n_src"),
        )
    )


def local_op(
    a: DataFrame,
    b: DataFrame,
    op,
    cell_col: str = "cell",
    value_col: str = "value",
    fill=None,
) -> DataFrame:
    """Local (cell-wise) map algebra between two sparse rasters:
    ``value = op(value_a, value_b)`` per cell. With ``fill=None``
    (default) the result covers only cells present in BOTH rasters
    (inner join — strict nodata propagation); with a fill value it
    covers cells present in EITHER, absent sides replaced by ``fill``
    (full outer join). ``op`` is a two-argument callable over Columns
    (e.g. ``lambda a, b: a - b``).

    Scale shape: a single cell-keyed equi join — both sides are
    already one row per cell (raster invariant), so AQE picks
    broadcast or shuffle by size, and the op itself is a codegen
    projection."""
    va = a.select(F.col(cell_col), F.col(value_col).alias("__va"))
    vb = b.select(F.col(cell_col), F.col(value_col).alias("__vb"))
    if fill is None:
        j = va.join(vb, cell_col, "inner")
    else:
        j = (
            va.join(vb, cell_col, "full_outer")
            .withColumn("__va", F.coalesce("__va", F.lit(fill)))
            .withColumn("__vb", F.coalesce("__vb", F.lit(fill)))
        )
    return j.select(
        cell_col,
        F.col("__va").alias("value_a"),
        F.col("__vb").alias("value_b"),
        op(F.col("__va"), F.col("__vb")).alias(value_col),
    )


def mosaic_best(
    points: DataFrame,
    score_col: str,
    id_col: str = "image_id",
    zoom_res: int = 5,
    n_tiles: int = 4096,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str | None = None,
    tile_col: str = "tile_id",
) -> DataFrame:
    """One representative row per raster tile: the DETERMINISTIC argmax
    of ``score_col`` (ties broken by minimum ``id_col``) — the
    pick-a-thumbnail-per-map-tile step of a tile-rendering pipeline,
    and the spatial form of the dedup keep-one-canonical discipline.

    Scale shape: for numeric ids the argmax is ``max(struct(score,
    -id, payload…))`` — an ordinary aggregate, so Catalyst runs
    map-side partial aggregation and the single exchange carries one
    row per (tile, task), never the input rows, and nothing is sorted.
    A ``row_number`` window would instead shuffle EVERY row and sort
    each tile's partition — at 10^12 images with hot-spot tiles that
    is both the bigger shuffle and a skew hazard (one reducer owns the
    hottest tile's full row set). Struct comparison is field-order
    lexicographic, so (score, -id) is total and unique per row; the
    payload fields after it never decide the max but ride along, which
    is what makes this argmax rather than plain max. Non-numeric ids
    fall back to the window plan (same result, tested equal).

    Returns one row per tile: ``tile_col``, ``id_col``, ``score_col``
    + the remaining point columns.
    """
    from pyspark.sql.types import NumericType

    tiled = assign_tiles(
        points,
        zoom_res=zoom_res,
        n_tiles=n_tiles,
        lon_col=lon_col,
        lat_col=lat_col,
        cell_col=cell_col,
        out_col=tile_col,
    )
    payload = [c for c in points.columns if c not in (score_col, id_col)]
    id_numeric = isinstance(points.schema[id_col].dataType, NumericType)
    if id_numeric:
        # reserved __-prefixed field names: a payload column named
        # plain 's'/'neg_id' produced duplicate struct fields and an
        # ambiguous b.s extraction
        packed = F.struct(
            F.col(score_col).alias("__s"),
            (-F.col(id_col)).alias("__neg_id"),
            *[F.col(c).alias(c) for c in payload],
        )
        best = tiled.groupBy(tile_col).agg(F.max(packed).alias("b"))
        return best.select(
            tile_col,
            (-F.col("b.__neg_id")).cast(points.schema[id_col].dataType).alias(id_col),
            F.col("b.__s").alias(score_col),
            *[F.col(f"b.{c}").alias(c) for c in payload],
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy(tile_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        tiled.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(tile_col, id_col, score_col, *payload)
    )


def raster_patch(raster: DataFrame, lon0: float, lat0: float, lon1: float, lat1: float, res: int):
    """Materialize a BOUNDED bbox of the sparse raster as a dense 2-D
    numpy array (driver-side; the bbox caps the size — this is the
    render/export step, not a distributed op)."""
    import numpy as np

    from ..geo import h3lite as HH

    cells = HH.cover_bbox(lon0, lat0, lon1, lat1, res)
    xs, ys = HH.cell_xy(cells)
    x_min, x_max = int(xs.min()), int(xs.max())
    y_min, y_max = int(ys.min()), int(ys.max())
    rows = (
        raster.where(F.col("cell").isin([int(c) for c in cells]))
        .select("cell", "value")
        .collect()
    )
    grid = np.zeros((y_max - y_min + 1, x_max - x_min + 1), dtype=np.float64)
    for r in rows:
        cx, cy = HH.cell_xy(np.int64(r.cell))
        grid[int(cy) - y_min, int(cx) - x_min] = float(r.value)
    return grid


def compact_cells(
    cells: DataFrame, res: int, min_res: int = 0, cell_col: str = "cell"
) -> DataFrame:
    """H3-style ``compact``: losslessly compress a set of res-``res``
    cells by replacing every COMPLETE sibling quad (all 4 children of
    a parent, aperture-4) with the parent, recursively up to
    ``min_res`` — the standard trick for storing large covers (a fully
    covered region collapses exponentially; ragged boundary cells stay
    fine-grained). Output is mixed-res; :func:`uncompact_cells` is the
    exact inverse (round-trip pinned by tests + a property sweep).

    Scale shape: one ``groupBy(parent)`` per level — and because a
    parent has AT MOST 4 children, ``collect_list`` inside that agg is
    bounded, so incomplete quads re-emit their children from the same
    exchange (no anti-join second shuffle). res−min_res levels ⇒ that
    many cell-sized exchanges, each ¼ the size of the last; the whole
    loop is lazy (no driver actions, Catalyst sees one plan).
    """
    cur = cells.select(F.col(cell_col).cast("long").alias("cell")).distinct()
    outs = []
    for level in range(res, min_res, -1):
        parent = F.expr(H.parent_sql_expr("cell", level - 1, dialect="spark"))
        g = (
            cur.withColumn("__p", parent)
            .groupBy("__p")
            .agg(F.count(F.lit(1)).alias("__n"), F.collect_list("cell").alias("__kids"))
        )
        outs.append(g.where(F.col("__n") < 4).select(F.explode("__kids").alias("cell")))
        cur = g.where(F.col("__n") == 4).select(F.col("__p").alias("cell"))
    outs.append(cur)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(F.col("cell").alias(cell_col))


def uncompact_cells(cells: DataFrame, res: int, cell_col: str = "cell") -> DataFrame:
    """H3-style ``uncompact``: expand a mixed-res cell set to uniform
    res-``res`` cells — each cell of res r ≤ ``res`` explodes to its
    4^(res−r) descendants via two bounded ``sequence`` explodes (pure
    Catalyst, no UDF, no shuffle at all: a narrow map stage)."""
    res_c, x, y = H.unpack_sql(f"cast({cell_col} as bigint)")
    k = f"cast({res} - {res_c} as int)"
    # a cell FINER than the target res has no descendants at that res:
    # raise like the numpy twin (unguarded, k < 0 made side = 0 and
    # sequence(0, -1) DESCENDS, emitting 4 corrupt cell ids per input)
    side = (
        f"if({k} < 0,"
        f" cast(raise_error(concat('uncompact target res {res} is coarser"
        f" than cell res ', cast({res_c} as string))) as bigint),"
        f" cast(pow(cast(2 as double), cast({k} as double)) as bigint))"
    )
    return (
        cells.withColumn("__side", F.expr(side))
        .withColumn("__dx", F.explode(F.expr("sequence(cast(0 as bigint), __side - 1)")))
        .withColumn("__dy", F.explode(F.expr("sequence(cast(0 as bigint), __side - 1)")))
        .select(
            F.expr(
                H.pack_sql(res, f"({x} * __side + __dx)", f"({y} * __side + __dy)")
            ).alias(cell_col)
        )
    )


def mosaic_pyramid(
    points: DataFrame,
    score_col: str,
    id_col: str,
    res_min: int,
    res_max: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """The full zoom pyramid of :func:`mosaic_best`: one representative
    (argmax of ``score_col``, min-``id_col`` ties) per CELL at every
    res in [``res_min``, ``res_max``] — the render-every-zoom-level
    step of a map-tile pipeline. ``id_col`` must be numeric (the
    struct-max argmax encoding).

    Scale shape — re-aggregation, not recomputation: only the finest
    level touches the points (one struct-max groupBy, map-side
    combined); every coarser level re-aggregates the PREVIOUS level's
    winners — sound because argmax-by-(score, -id) is a max over a
    total order, hence associative: the parent's best is the best of
    its children's bests. So level r's exchange carries ≤ #cells(r+1)
    one-row-per-cell records instead of the full point set, the same
    fine→coarse trick as the counting spatial pyramid
    (``pyramid_rollup``) applied to an argmax. The whole pyramid is
    lazy — one plan, no driver actions.

    Returns (res, cell, ``id_col``, ``score_col``).
    """
    from pyspark.sql.types import NumericType

    from ..functions import h3_cell

    id_type = points.schema[id_col].dataType
    if not isinstance(id_type, NumericType):
        # the struct-max encoding negates the id; mosaic_best guards
        # this and falls back to a window — here the pyramid's
        # re-aggregation REQUIRES the associative struct-max, so a
        # non-numeric id is an upfront error, not a deep cast failure
        raise ValueError(
            f"mosaic_pyramid needs a numeric id_col for the argmax "
            f"encoding; {id_col!r} is {id_type.simpleString()} — "
            "use mosaic_best per level, or map ids to numbers first"
        )
    packed = F.struct(
        F.col(score_col).alias("__s"), (-F.col(id_col)).alias("__neg_id")
    )
    level = (
        points.withColumn("cell", h3_cell(lon_col, lat_col, res_max))
        .groupBy("cell")
        .agg(F.max(packed).alias("b"))
    )
    levels = [level.withColumn("res", F.lit(res_max))]
    for r in range(res_max - 1, res_min - 1, -1):
        parent = F.expr(H.parent_sql_expr("cell", r, dialect="spark"))
        level = (
            level.withColumn("cell", parent)
            .groupBy("cell")
            .agg(F.max("b").alias("b"))
        )
        levels.append(level.withColumn("res", F.lit(r)))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        F.col("res").cast("int").alias("res"),
        "cell",
        (-F.col("b.__neg_id")).cast(id_type).alias(id_col),
        F.col("b.__s").alias(score_col),
    )


def coverage_gaps(
    points: DataFrame,
    boxes: DataFrame,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Data-coverage QA: every grid cell intersecting a bbox that
    contains NO point — the "where are we missing imagery" query an
    acquisition pipeline runs per region before tasking new captures.
    (The spatial form of the reference's sequence-completeness check,
    SURVEY.md §2 W3: holes in an expected key range.)

    ``boxes``: (poly_id, lon_min, lat_min, lon_max, lat_max). Returns
    (poly_id, cell) for empty cells at ``res``.

    Plan: the box side explodes to its cell cover (Catalyst sequence
    generators — no geometry); the point side is ONE distinct of the
    encode column; the gap set is a LEFT ANTI join on the cell id. At
    10^12 points the anti-join's build side is distinct CELLS (grid-
    bounded ≪ points) and the probe side is the cover (bounded by
    region area × 4^res) — the raw corpus is touched exactly once.
    """
    from .bbox_join import _cover

    # a box crossing the antimeridian raises in the explode
    # (bbox_join's no-wrap contract): split it into two rows upstream
    cov = _cover(boxes.select("poly_id", "lon_min", "lat_min", "lon_max", "lat_max"), res, "g_")
    occupied = (
        points.select(
            F.expr(H.h3_sql_expr(lon_col, lat_col, res)).alias("cell")
        ).distinct()
    )
    return (
        cov.join(occupied, "cell", "left_anti")
        .select(F.col("g_poly_id").alias("poly_id"), "cell")
    )


def gradient(
    raster: DataFrame,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Central-difference gradient over the sparse raster — the
    slope/aspect operator of classic map algebra (gdaldem analog on
    the cell grid, in value-units per cell):

        gx = (v(x+1) − v(x−1)) / 2,  gy = (v(y+1) − v(y−1)) / 2,
        slope = √(gx² + gy²),        aspect = atan2(gy, gx)

    A difference is NULL unless BOTH its neighbors are present (a
    one-sided difference would silently change meaning at data edges);
    aspect is NULL where slope is 0 or undefined. Longitude wraps,
    poles don't — the same conventions as focal_stats, and the same
    scale shape: the shared scatter core, ONE exchange, no join. In
    scatter orientation the E neighbor's value arrives at the target
    with offset dx = −1 (source = target + (1, 0)).
    """
    scattered = _scatter_window(raster, 1, cell_col, value_col)

    def at(dx: int, dy: int):
        return F.max(
            F.when((F.col("o.dx") == dx) & (F.col("o.dy") == dy), F.col("__v"))
        )

    agg = (
        scattered.groupBy(F.col("__tgt").alias(cell_col))
        .agg(
            at(0, 0).alias(value_col),
            ((at(-1, 0) - at(1, 0)) / 2.0).alias("gx"),
            ((at(0, -1) - at(0, 1)) / 2.0).alias("gy"),
            F.max(F.when((F.col("o.dx") == 0) & (F.col("o.dy") == 0), 1).otherwise(0)).alias(
                "__is_center"
            ),
        )
        .where(F.col("__is_center") == 1)
        .drop("__is_center")
    )
    slope = F.sqrt(F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy"))
    return agg.withColumn("slope", slope).withColumn(
        "aspect",
        F.when(F.col("slope") > 0, F.atan2(F.col("gy"), F.col("gx"))),
    )


def tile_sample(
    points: DataFrame,
    res: int,
    k: int = 3,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Deterministic k-per-cell representative sample — the "pick
    thumbnails per map tile" query every browse UI needs, and the
    per-region eyeball sample a data-quality review pulls at 10^12
    rows.

    Selection key = md5 of the row id (salted, content-keyed): unbiased
    within a cell, reproducible on any cluster size / partitioning /
    rerun — the same discipline as split_assign, and exactly
    replayable in the DuckDB oracle (no rand(), no xxhash parity
    problems). ONE cell-keyed window exchange; at scale the window
    state per cell is the running top-k scan, never a materialized
    buffer.

    Returns (cell, <id>, rank) with rank 1..k ordered by the hash.
    """
    from pyspark.sql.window import Window

    cell = F.expr(H.h3_sql_expr(lon_col, lat_col, res))
    rk = F.expr(f"substr(md5(concat('sample:', cast({id_col} as string))), 1, 16)")
    w = Window.partitionBy("cell").orderBy("__rk", id_col)
    return (
        # NULL ids cannot be sampled (nothing to show) and must not
        # WIN: md5(NULL) is NULL, and NULLs sort FIRST ascending, so
        # null-id rows deterministically crowded out every real
        # thumbnail in their cell
        points.where(F.col(id_col).isNotNull())
        .withColumn("cell", cell)
        .withColumn("__rk", rk)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("cell", id_col, "rank")
    )


def adaptive_cells(
    points: DataFrame,
    base_res: int,
    max_res: int,
    threshold: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Adaptive multi-resolution histogram (quadtree decomposition):
    counts at ``base_res``, but any cell holding more than
    ``threshold`` points splits into its children, recursively until
    ``max_res`` — the level-of-detail structure behind density tile
    servers and drill-down dashboards (uniform-res histograms either
    blur hotspots or explode cell counts; this spends resolution only
    where the data is).

    Output (cell, res, n): non-hot cells at the level they stabilized,
    plus max_res leaves of still-hot lineages. Σn over the output =
    total points (levels partition the data; pinned in tests).

    Shape — ONE corpus pass (r5 rework): the max_res histogram is the
    only scan of the raw points; every coarser level's counts are
    parent-SUMS of it (aperture-4 additivity — all of a cell's points
    share its ancestors), the same re-aggregation-not-recomputation
    trick as :func:`mosaic_pyramid`/``pyramid_rollup``. The quadtree
    descent then runs entirely over CELL tables: level r's active set
    is the children of level r-1's hot cells (a semi-join on the
    parent id, sizes AQE-decided — the previous shape both re-scanned
    and re-encoded the full corpus once per level, ~L× the dominant
    cost, and force-broadcast a hot-cell set that is unbounded at
    scale). Counts are identical by construction: a child cell's
    points all lie in its parent, so restricting to hot lineages never
    changes any surviving cell's count. The histogram is persisted for
    the descent and the output is materialized (cell-table sized)
    before it is released — at bench scale that extra cell-table pass
    makes this ~2× the old per-level descent's wall (the corpus is
    in-memory there), but at the operator's design scale the removed
    L-1 full-corpus scans dominate everything else."""
    hist = (
        points.groupBy(
            F.expr(H.h3_sql_expr(lon_col, lat_col, max_res)).alias("cell")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()
    )

    # rollups: counts at every level from ONE histogram, no corpus scan.
    # Every cell here is KNOWN to be res r + 1 (built that way), so the
    # parent shift is a literal (child_parent_sql)
    levels = {max_res: hist}
    for r in range(max_res - 1, base_res - 1, -1):
        levels[r] = (
            levels[r + 1]
            .groupBy(F.expr(H.child_parent_sql("cell", r + 1, r)).alias("cell"))
            .agg(F.sum("n").alias("n"))
        )
    out = None
    active = levels[base_res]
    for r in range(base_res, max_res + 1):
        lvl = active if r == max_res else active.where(F.col("n") <= threshold)
        lvl = lvl.select("cell", F.lit(r).cast("int").alias("res"), "n")
        out = lvl if out is None else out.unionByName(lvl)
        if r == max_res:
            break
        hot = active.where(F.col("n") > threshold).select(
            F.col("cell").alias("__hot_cell")
        )
        active = levels[r + 1].join(
            hot,
            F.expr(H.child_parent_sql("cell", r + 1, r)) == F.col("__hot_cell"),
            "left_semi",
        )
    from ..session import static_plan

    out = out.persist()
    # static: the descent is a chain of KNOWN-SMALL cell-table
    # exchanges (the AQE anti-case — measured 42 jobs adaptive vs a
    # handful static on the bench fixture, pure replan latency)
    with static_plan(points.sparkSession):
        out.count()
    hist.unpersist()
    return out
