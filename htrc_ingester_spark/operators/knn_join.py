"""kNN join via iterative cell-ring expansion (SURVEY.md §2.3 / §7 step 4).

For each query point, search the images table one growing cell-disk at
a time instead of scanning everything:

  round i: frontier = disk(r_i, kx_i) \\ disk(r_{i-1}, kx_{i-1})
           candidates = images ⋈ frontier on cell
           fold into the per-query running top-k (array<struct> state,
           one row per query, all in Spark — knn_join_many)
           terminate query when kth_dist < guaranteed_bound(r_i)

Correctness of the termination bound (proved, test-asserted):
- any point in a cell-row farther than r rows from the query's row is
  at least ``r * cell_h_deg`` degrees of latitude away, and a great
  circle distance is ≥ its latitude arc ⇒ dist ≥ r·cell_h_m.
- within the covered rows, the disk is widened anisotropically so that
  every cell whose minimum possible distance is below that bound is
  covered: required lon half-width follows from the haversine lon term
  ``dist ≥ 2R·asin(√(cos φq cos φp)·sin(Δλ/2))`` with the band-minimum
  cosine; near the poles this degrades to full-wrap coverage (which
  the disk caps at nx/2 columns).
- the covered region grows monotonically (both k and kx are monotone
  in r), so each round's frontier is the rectangle ring between the
  previous and current disks — no per-query searched-set bookkeeping.

Ties are broken by the total order ``(dist, image_id)`` — deterministic
across partitionings and cluster sizes (SURVEY.md §7 hard-part (a)).
Termination uses STRICT ``<``: at exactly the bound an unsearched point
could tie on distance and win on image_id.

Scale notes: only the (image_id, lon, lat, cell) skeleton is ever
joined or shuffled — never image bytes. The per-round shuffles touch
unresolved queries × ring cells only; per-query state is ONE row with
the running top-k as a sorted array<struct>. Radius quadruples per
round: O(log r_final) Spark jobs, and the total frontier area is
dominated by the last round.
"""

from __future__ import annotations

import contextlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import h3_cell, haversine_m
from ..geo import h3lite as H
from ..session import broadcast_threshold, fits_driver, materialize, plan_bytes, static_plan

EARTH_RADIUS_M = 6_371_008.8


def _required_kx(bound_m: float, lat_q: float, r: int, res: int) -> int:
    """Columns of lon half-width needed so every point nearer than
    ``bound_m`` inside the covered rows is in a covered cell."""
    return int(
        _required_kx_batch(
            np.array([bound_m]), np.array([lat_q]), np.array([r]), res
        )[0]
    )


def _required_kx_batch(bound_m: np.ndarray, lat_q: np.ndarray, r: np.ndarray, res: int) -> np.ndarray:
    """Vectorized ``_required_kx`` over all active queries at once."""
    ch = H.cell_h_deg(res)
    cw = H.cell_w_deg(res)
    nxr = H.nx(res)
    band_lo = np.maximum(-90.0, lat_q - (r + 1) * ch)
    band_hi = np.minimum(90.0, lat_q + (r + 1) * ch)
    cos_min = np.minimum(np.cos(np.deg2rad(band_lo)), np.cos(np.deg2rad(band_hi)))
    s = np.sin(bound_m / (2.0 * EARTH_RADIUS_M))
    # full wrap: bound exceeds half the great circle, band touches a
    # pole, or the required Δλ has no solution (s/cos_min ≥ 1)
    full = (bound_m >= np.pi * EARTH_RADIUS_M) | (cos_min <= 0.0) | (s >= cos_min)
    ratio = np.where(full, 0.0, s / np.where(cos_min > 0.0, cos_min, 1.0))
    dlon_deg = np.rad2deg(2.0 * np.arcsin(np.clip(ratio, 0.0, 1.0)))
    kx = np.ceil(dlon_deg / cw).astype(np.int64) + 1
    return np.where(full, nxr, kx)


def _queries_to_df(spark: SparkSession, queries: pd.DataFrame) -> DataFrame:
    """Driver-side (query_id, lon, lat, k) pandas frame → typed Spark
    frame, shared by the knn_join and knn_join_bruteforce wrappers.
    The explicit schema matters: an EMPTY pandas frame has object-dtype
    columns Spark cannot infer from — with it, zero queries yield an
    empty typed result instead of an inference error."""
    qpdf = queries[["query_id", "lon", "lat", "k"]].copy()
    qpdf["query_id"] = qpdf["query_id"].astype(str)
    qpdf["k"] = qpdf["k"].astype(int)
    return spark.createDataFrame(
        qpdf, schema="query_id string, lon double, lat double, k int"
    )


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    queries: pd.DataFrame,
    res: int = 7,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_rounds: int = 32,
) -> DataFrame:
    """k nearest ``points`` per query row. ``queries`` is a small
    driver-side pandas frame (query_id, lon, lat, k).

    Returns a DataFrame (query_id, image_id, dist_m, rank) with
    rank 1..k ordered by (dist_m, image_id).

    Thin convenience wrapper over :func:`knn_join_many` — the pandas
    frame becomes a Spark DataFrame and all per-query search state
    lives in Spark. (VERDICT r3 #5: the old driver-state loop this
    wrapper replaces kept a parallel top-k merge implementation that
    had to stay tie-identical with knn_join_many and round-tripped
    candidates through toPandas every round; knn_join_many is
    rank-identical — the same ring schedule, termination bound, and
    (dist_m, image_id) total order — and strictly more scalable.
    :func:`knn_join_bruteforce` remains the independent oracle.)
    """
    qdf = _queries_to_df(spark, queries).select(
        F.col("query_id"),
        F.col("lon").alias(lon_col),
        F.col("lat").alias(lat_col),
        F.col("k"),
    )
    return knn_join_many(
        spark, points, qdf, res=res, id_col=id_col,
        lon_col=lon_col, lat_col=lat_col, max_rounds=max_rounds,
    )


def knn_join_bruteforce(
    spark: SparkSession,
    points: DataFrame,
    queries: pd.DataFrame,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Exact baseline: broadcast cross join + window. O(|points|·|queries|)
    — the oracle for the iterative operator and the right plan when the
    query side is tiny and the table is small."""
    qdf = _queries_to_df(spark, queries)
    cand = (
        points.select(
            F.col(id_col).alias("image_id"),
            F.col(lon_col).alias("p_lon"),
            F.col(lat_col).alias("p_lat"),
        )
        .crossJoin(
            F.broadcast(
                qdf.select(
                    "query_id",
                    F.col("lon").alias("q_lon"),
                    F.col("lat").alias("q_lat"),
                    F.col("k").cast("int").alias("k"),
                )
            )
        )
        .withColumn("dist_m", haversine_m("q_lat", "q_lon", "p_lat", "p_lon"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("image_id").asc())
    # literal global bound FIRST: InferWindowGroupLimit only fires on a
    # constant rank limit (rank <= col(k) is per-row, unplannable), and
    # with it the map side ships at most kmax rows per (task, query)
    # instead of the full N×Q candidate set — the partial top-k the
    # per-query filter then trims to each query's own k
    kmax = int(queries["k"].astype(int).max()) if len(queries) else 0
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(kmax))
        .where(F.col("rank") <= F.col("k"))
        .select(
            "query_id", F.col("image_id").cast("string").alias("image_id"),
            "dist_m", "rank",
        )
    )


# ---------------------------------------------------------------------------
# Fully distributed kNN: the query side is a DataFrame (scales to 10^6+
# query points — the driver holds only per-round counters, never
# per-query state). Same ring-expansion algorithm and the same proven
# termination bound as knn_join, but the frontier construction, the
# anisotropic width (kx), and the convergence test are all Spark
# expressions over the query table.
# ---------------------------------------------------------------------------


def _kx_sql(lat: str, r: str, res: int, bound: str | None = None) -> str:
    """SQL twin of _required_kx: lon half-width (in cells) covering the
    distance ``bound`` (default: the ring-termination bound r·cell_h)
    at row-band latitudes. Full wrap (nx) when the bound exceeds the
    band's capacity."""
    ch = H.cell_h_deg(res)
    cw = H.cell_w_deg(res)
    nxr = H.nx(res)
    if bound is None:
        bound = f"({r} * {ch} * {H.M_PER_DEG_LAT})"
    band_lo = f"greatest(-90.0d, {lat} - ({r} + 1) * {ch})"
    band_hi = f"least(90.0d, {lat} + ({r} + 1) * {ch})"
    cos_min = f"least(cos(radians({band_lo})), cos(radians({band_hi})))"
    s = f"sin({bound} / (2.0d * {EARTH_RADIUS_M}))"
    return (
        f"case when {bound} >= {np.pi * EARTH_RADIUS_M} then {nxr} "
        f"when {cos_min} <= 0.0d or {s} / {cos_min} >= 1.0d then {nxr} "
        f"else cast(ceil(degrees(2.0d * asin({s} / {cos_min})) / {cw}) as int) + 1 end"
    )


def _with_origin(queries: DataFrame, res: int) -> DataFrame:
    """Add each query's res-``res`` column ``x0`` and row ``y0``."""
    _, x, y = H.unpack_sql("_c0")
    return (
        queries.withColumn("_c0", h3_cell("q_lon", "q_lat", res))
        .withColumn("x0", F.expr(f"cast({x} as int)"))
        .withColumn("y0", F.expr(f"cast({y} as int)"))
        .drop("_c0")
    )


def _disk_cells(df: DataFrame, r: str, kx: str, res: int) -> DataFrame:
    """Explode each row to the cells of its disk around (x0, y0): dy in
    [-r, r] rows (clamped at the poles), dx in [-kx, kx] columns wrapped
    and capped at nx/2. Adds ``dy``, ``dx`` and ``cell``.

    The dx range is truncated on the high side when a full wrap would
    emit the same column at both extremes (2·kx+1 > nx): pmod maps any
    window of ≤ nx offsets injectively, so the disk needs no
    dropDuplicates exchange."""
    nxr, nyr = H.nx(res), H.ny(res)
    return (
        df.withColumn(
            "dy", F.explode(F.expr(f"sequence(greatest(-{r}, -y0), least({r}, {nyr - 1} - y0))"))
        )
        .withColumn("kx_c", F.expr(f"least({kx}, {nxr // 2})"))
        .withColumn("dx_hi", F.expr(f"least(kx_c, {nxr} - 1 - kx_c)"))
        .withColumn("dx", F.explode(F.expr("sequence(-kx_c, dx_hi)")))
        .withColumn(
            "cell",
            F.expr(
                H.pack_sql(res, f"cast(pmod(x0 + dx, {nxr}) as bigint)", "cast(y0 + dy as bigint)")
            ),
        )
    )


def knn_join_many(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    res: int = 7,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_rounds: int = 16,
) -> DataFrame:
    """k nearest ``points`` per row of the ``queries`` DataFrame
    (query_id, lon, lat, k). Returns (query_id, image_id, dist_m, rank).

    Per round, UNRESOLVED queries explode to their new frontier ring
    (disk(r,kx) minus the previous disk — pure sequence/explode
    arithmetic), join points on cell, and fold into a per-query top-k.
    A query resolves when its kth distance is STRICTLY under the
    r·cell_h bound (or the grid is exhausted). Deterministic:
    (dist_m, image_id) total order everywhere.

    State layout (the round-2→3 perf rework): ONE row per query, with
    the running top-k as a sorted ``array<struct<dist_m, image_id>>``
    column. Each round is exactly two keyed exchanges — the
    candidate ``groupBy(query_id).collect_list`` and the state⋈agg
    merge join — where the previous row-per-neighbor layout paid a
    window shuffle over ALL retained rows (done queries re-ranked
    every round) plus a separate stats aggregation. Merging, the
    convergence test, and ranking are all array expressions
    (``array_sort``/``slice``) on that single row; struct comparison
    sorts (dist_m asc, image_id asc), the same total order the window
    used. Still one Spark action per round.

    Scale: per-round shuffles touch only unresolved queries × ring
    cells and their candidate matches; state carries one row (≤ k
    neighbors) per query. A round's per-query collect_list buffer is
    bounded by the ×4 ring-growth schedule (the round that first
    reaches neighbors sees ~16× the minimal disk's points); a single
    pathologically hot cell concentrates in one buffer the same way it
    concentrated in one window partition before — salt upstream if a
    cell can exceed executor memory. Worst-case frontier (a query in
    an empty region growing to the whole grid) degrades to the
    brute-force scan it genuinely requires.
    """
    ch_m = H.cell_h_deg(res) * H.M_PER_DEG_LAT
    nxr, nyr = H.nx(res), H.ny(res)
    # ranks/ties use the SOURCE id dtype (numeric vs string tie-break
    # matches the other variants); cast to string only at the end.
    # Resolved through the analyzer (select) so a caller's id_col
    # casing mismatch behaves like every other F.col use here
    # (case-insensitive) instead of a KeyError on the dtypes dict
    id_type = points.select(id_col).schema[0].dataType.simpleString()
    empty_topk = f"cast(array() as array<struct<dist_m:double,image_id:{id_type}>>)"

    skel = points.select(
        F.col(id_col).alias("image_id"),
        F.col(lon_col).alias("p_lon"),
        F.col(lat_col).alias("p_lat"),
        h3_cell(lon_col, lat_col, res).alias("cell"),
    )
    # three skel regimes from Catalyst's size estimate (no action):
    # small → pin the broadcast (skip AQE's materialize-then-replan
    # latency every round); huge → pay ONE hash exchange on the join
    # key so every round's sort-merge join reuses the cached
    # partitioning instead of re-shuffling the points side; in
    # between → cache as-is and let AQE pick per round. An unknown
    # estimate (or spark.htrc.forceDistributed) takes the huge regime.
    est = plan_bytes(skel)
    bcast_thresh = broadcast_threshold(spark)
    broadcast_skel = fits_driver(spark, est, bcast_thresh)
    if not fits_driver(spark, est, 64 * max(bcast_thresh, 10 * 1024 * 1024)):
        skel = skel.repartition("cell")
    skel = skel.persist()

    # duplicate query_ids would silently corrupt results: the per-round
    # groupBy(query_id) merges candidates across the duplicate rows, so
    # each absorbs neighbors with distances measured to the OTHER row's
    # coordinates. One tiny agg over the (small-by-design) query table
    # catches it up front.
    dup = (
        queries.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where("_n > 1")
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"knn_join_many: duplicate query_id {dup[0]['query_id']!r} — "
            "query ids must be unique (per-query state is keyed on them)"
        )

    state = (
        _with_origin(
            queries.select(
                F.col("query_id").cast("string"),
                F.col(lon_col).alias("q_lon").cast("double"),
                F.col(lat_col).alias("q_lat").cast("double"),
                F.col("k").cast("int"),
            ),
            res,
        )
        .withColumn("r", F.lit(0))
        .withColumn("pkx", F.lit(-1))
        .withColumn("pr", F.lit(-1))
        # k <= 0 asks for nothing: born done with an empty topk (the
        # bruteforce twin's rank <= 0 likewise yields no rows). Also
        # keeps the done-check's topk2[k - 1] from evaluating a
        # NEGATIVE index, which throws under ANSI
        .withColumn("done", F.expr("k <= 0"))
        .withColumn("topk", F.expr(empty_topk))
        # lazy persist (round 1 consumes it twice); round outputs are
        # eager localCheckpoints, so this is dropped after round 1
        .persist()
    )
    init_state: DataFrame | None = state

    # Each round materializes via session.materialize (eager
    # localCheckpoint, or reliable checkpoint when a checkpoint dir /
    # spark.htrc.checkpointDir is configured — the executor-loss story
    # at cluster scale), which also TRUNCATES the plan: the round plan
    # references the previous
    # state twice (grow + merge join), so a persist-only loop doubles
    # the analyzed plan per round and Catalyst itself OOMs/stalls at
    # high round counts (found via dissolve._cc_loop; same shape
    # here). The filtered count after it is a block-cached scan that
    # doubles as the active-query check. No up-front count: round 1's
    # frontier is every query by construction, so the loop enters
    # directly (an empty query set just runs one empty round).
    n_active: int | None = None
    for _ in range(max_rounds):
        if n_active == 0:
            break
        # grow: r *= 4 (2 on the first round); recompute kx at new r.
        # Resolved rows keep their values (no wasted asin on them).
        grown = state.withColumn(
            "r_new",
            F.expr(f"case when done then r when r = 0 then 2 else least(r * 4, {nyr}) end"),
        ).withColumn(
            "kx_new",
            F.expr(
                f"case when done then pkx else cast({_kx_sql('q_lat', 'r_new', res)} as int) end"
            ),
        )

        # frontier ring: the disk at (r_new, kx_new) minus the previous
        # disk rectangle
        ring = (
            _disk_cells(grown.where("not done"), "r_new", "kx_new", res)
            .where(~((F.expr("abs(dx)") <= F.expr(f"least(pkx, {nxr // 2})")) & (F.expr("abs(dy)") <= F.col("pr"))))
            .select("query_id", "q_lon", "q_lat", "cell")
        )

        cand_agg = (
            (F.broadcast(skel) if broadcast_skel else skel).join(ring, "cell", "inner")
            .withColumn("dist_m", haversine_m("q_lat", "q_lon", "p_lat", "p_lon"))
            .groupBy("query_id")
            .agg(F.collect_list(F.struct(F.col("dist_m"), F.col("image_id"))).alias("cands"))
        )

        new_state = (
            grown.join(cand_agg, "query_id", "left")
            .withColumn(
                "topk2",
                F.expr(f"slice(array_sort(concat(topk, coalesce(cands, {empty_topk}))), 1, k)"),
            )
            .withColumn(
                "exhausted",
                F.expr(f"r_new >= greatest(y0, {nyr - 1} - y0) and kx_new >= {nxr // 2}"),
            )
            # `k > 0 and size(topk2) >= k` short-circuits before the
            # index under codegen, so topk2[k - 1] only ever evaluates
            # in-bounds (ANSI throws on both negative and >= size
            # indices; k <= 0 rows are additionally born done)
            .withColumn(
                "done2",
                F.expr(
                    f"done or exhausted or "
                    f"(k > 0 and size(topk2) >= k"
                    f" and topk2[k - 1].dist_m < r_new * {ch_m!r}d)"
                ),
            )
            .select(
                "query_id", "q_lon", "q_lat", "k", "x0", "y0",
                F.col("r_new").alias("r"),
                F.col("kx_new").alias("pkx"),
                F.col("r_new").alias("pr"),
                F.col("done2").alias("done"),
                F.col("topk2").alias("topk"),
            )
        )
        # pinned-broadcast regime: the round plan is narrow + one
        # groupBy over known-small state — AQE's per-stage
        # materialize/replan jobs are pure latency here
        # (session.static_plan). The huge-skel regimes keep AQE for
        # per-round skew handling.
        with static_plan(spark) if broadcast_skel else contextlib.nullcontext():
            state = materialize(new_state)
            n_active = state.where("not done").count()
        if init_state is not None:
            init_state.unpersist()
            init_state = None

    # the contract is EXACT rank-1..k kNN: emitting a best-so-far topk
    # for queries the round budget didn't resolve would be silently
    # wrong (missing true neighbors), indistinguishable from exact
    # output. Normal termination always resolves (the `exhausted`
    # flag covers grid exhaustion); only an undersized max_rounds
    # reaches here.
    remaining = (
        state.where("not done").count() if n_active is None else n_active
    )
    if remaining:
        raise RuntimeError(
            f"knn_join_many: {remaining} queries still unresolved after "
            f"max_rounds={max_rounds} ring expansions — raise max_rounds"
        )

    out = (
        state.select("query_id", F.posexplode("topk").alias("pos", "nb"))
        .select(
            "query_id",
            F.col("nb.image_id").cast("string").alias("image_id"),
            F.col("nb.dist_m").alias("dist_m"),
            (F.col("pos") + 1).cast("int").alias("rank"),
        )
    )
    out = out.persist()
    out.count()
    skel.unpersist()
    return out


def knn_auto_res(n_points: int, k: int = 5) -> int:
    """Density-derived grid resolution for the ring-expansion kNN:
    pick the res whose cell grid holds ~k/16 points per cell, so the
    round-1 disk (r=2, ≈5 rows × ~9 columns) expects a few×k
    candidates. Too coarse a grid resolves every query in one round
    but drowns it in candidates (measured on 15k uniformly-scattered
    points, k=4: res 5 put ~60×k candidates per query — 3.7M candidate
    rows, 5.3 s self-kNN; res 6 halved the wall at bit-identical
    output); too fine a grid pays extra expansion rounds. The choice
    only moves work between rounds — the operator's output is exact
    kNN at ANY res, so this is purely a performance knob.

    cells(res) = nx·ny = 2^(2·res + 3) (h3lite row/col grid)."""
    import math

    if n_points <= 0:
        return 5
    target_cells = max(1.0, 16.0 * n_points / max(k, 1))
    return max(0, min(H.RES_MAX, int((math.log2(target_cells) - 3.0) // 2)))


# estimated bytes per skeleton row for the stats-based auto-res,
# matched to the (lon, lat) two-double projection the estimate runs
# over (Catalyst width-scales Project stats, and parquet file-size
# scaling lands near 8 B/row for two doubles — measured 7.4 B/row on
# the customer fixture). The knob only needs order-of-magnitude n,
# but a 2× bias here is half a res step, and one res too coarse
# tripled the mutual-kNN wall at bench scale.
_SKELETON_ROW_BYTES = 8.0


def knn_auto_res_points(
    points: DataFrame,
    k: int = 5,
    row_bytes: float = _SKELETON_ROW_BYTES,
    cols: tuple = ("lon", "lat"),
) -> int:
    """Stats-based twin of :func:`knn_auto_res`: derive the point count
    from Catalyst's size estimate of the coordinate-skeleton PROJECTION
    instead of running a count() job — at 10^12 rows that count is a
    full extra scan paid before the join starts, and the res knob only
    needs an order-of-magnitude n (each res step quadruples the grid,
    and the operator's output is EXACT kNN at any res). The estimate
    projects ``cols`` first (Catalyst scales Project stats by column
    width): measuring the FULL frame would inflate n by the payload
    factor on a bytes-carrying image table and saturate res, costing
    many empty expansion rounds. Falls back to one count() only when
    plan stats are unavailable."""
    have = [c for c in cols if c in points.columns]
    est = plan_bytes(points.select(*have) if have else points)
    if est:
        n = max(1, int(est / row_bytes))
    else:
        n = points.count()
    return knn_auto_res(n, k=k)


# radius_join auto-res sizing: aim for this many cell ROWS of disk
# half-height — (2·5+1)² ≈ 10² disk cells per query, the sweet spot
# between per-cell candidate volume and disk explode size
_RADIUS_TARGET_ROWS = 5


def radius_res(radius_m: float) -> int:
    """The grid resolution at which a ``radius_m`` disk spans about
    ``_RADIUS_TARGET_ROWS`` cell rows (≈10² disk cells per query).
    ``r_rows = radius · 2^(res+1) / (180° · m_per_deg)``, solved for
    the largest res keeping r_rows ≤ target — a caller-chosen fine res
    with a large radius silently exploded |disk| per query
    (VERDICT r2 #6); deriving it caps the disk at any radius."""
    import math

    ideal = math.log2(_RADIUS_TARGET_ROWS * H.M_PER_DEG_LAT * 180.0 / float(radius_m)) - 1.0
    return max(0, min(H.RES_MAX, int(math.floor(ideal))))


def radius_join(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    radius_m: float,
    res: int | None = None,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """All ``points`` within ``radius_m`` meters of each query row — the
    ST_DWithin analog (spatial range join), built on the kNN machinery's
    PROVEN coverage bound (module docstring): any point within the
    radius lies within ``ceil(radius/cell_h_m)`` cell rows (great-circle
    distance ≥ its latitude arc), and the anisotropic lon width per
    query comes from the same haversine-lon-term argument (``_kx_sql``
    with the radius as the bound). One disk, no iteration: the radius
    is known up front, so the frontier is a single cell-disk explode →
    equi-join on cell → exact haversine filter.

    ``res`` defaults to :func:`radius_res` (disk capped at ~10² cells
    per query for ANY radius); an explicit res trades candidate volume
    against disk size — results are identical either way (the exact
    haversine filter decides membership, the grid only prunes).

    ``queries``: DataFrame (query_id, lon, lat). Returns (query_id,
    image_id, dist_m) — INCLUSIVE boundary, deterministic.
    ``carry_cols`` names extra point columns to pass through to the
    output unchanged (e.g. a value column for interpolation) — they
    ride the same join, no second lookup.

    Scale: shuffles only the (query × disk-cell) skeleton and candidate
    matches, like one kNN round; no per-query driver state."""
    if res is None:
        res = radius_res(radius_m)
    ch_m = H.cell_h_deg(res) * H.M_PER_DEG_LAT
    r_rows = int(np.ceil(radius_m / ch_m))

    carry = list(carry_cols or [])
    skel = points.select(
        F.col(id_col).alias("image_id"),
        F.col(lon_col).alias("p_lon"),
        F.col(lat_col).alias("p_lat"),
        h3_cell(lon_col, lat_col, res).alias("cell"),
        *[F.col(c) for c in carry],
    )
    q = _with_origin(
        queries.select(
            F.col("query_id").cast("string"),
            F.col(lon_col).alias("q_lon").cast("double"),
            F.col(lat_col).alias("q_lat").cast("double"),
        ),
        res,
    ).withColumn(
        "kx",
        F.expr(_kx_sql("q_lat", str(r_rows), res, bound=f"cast({radius_m!r} as double)")).cast("int"),
    )
    disk = _disk_cells(q, str(r_rows), "kx", res).select("query_id", "q_lon", "q_lat", "cell")
    return (
        skel.join(disk, "cell")
        .withColumn("dist_m", haversine_m("q_lat", "q_lon", "p_lat", "p_lon"))
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
        .select(
            "query_id",
            F.col("image_id").cast("string").alias("image_id"),
            "dist_m",
            *[F.col(c) for c in carry],
        )
    )


def radius_anti_join(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    radius_m: float,
    res: int | None = None,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """All ``points`` NOT within ``radius_m`` of ANY query — the spatial
    exclusion filter (clear-zone / buffer-mask semantics: drop images
    inside restricted-area buffers, training points too close to the
    eval set, etc.). Boundary is the complement of :func:`radius_join`:
    a point exactly at ``radius_m`` is INSIDE the buffer, so excluded.

    Spark shape: matched ids from the same cell-disk machinery as
    :func:`radius_join` (grid prune + exact haversine), then ONE
    ``left_anti`` equi-join on the id — the anti condition never
    becomes a nested-loop join because the spatial predicate resolved
    in the first (equi) join. Output: the surviving ``points`` rows,
    original columns untouched.

    Scale: same bounded disk shuffle as radius_join plus one id-keyed
    anti join; the matched-id side carries at most one row per matched
    point (dropDuplicates folds into the join's aggregate side), so
    the anti join's build side is ≤ |points within any buffer|.
    """
    matched = (
        radius_join(
            spark,
            points,
            queries,
            radius_m,
            res=res,
            id_col=id_col,
            lon_col=lon_col,
            lat_col=lat_col,
        )
        .select(F.col("image_id").alias("__mid"))
        .dropDuplicates(["__mid"])
    )
    # eqNullSafe: a NULL-id point inside a buffer yields a NULL __mid
    # row; plain == makes the anti condition NULL and left_anti KEEPS
    # the row — the opposite of the documented exclusion semantics
    return points.join(
        matched, points[id_col].cast("string").eqNullSafe(matched["__mid"]), "left_anti"
    )
