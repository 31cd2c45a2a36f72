"""Adjacent-cell dissolve (connected components) + region overlay.

The raster↔vector follow-up ``tiles.vectorize`` names: merge touching
cells of a thresholded raster into REGIONS (the spatial analog of the
reference's Collections set-rollups, CollectionsManager.java grouping),
then relate region sets to each other (containment / intersection —
the polygon↔polygon overlay join).

Connected components, Spark-first: hash-to-min label propagation with
POINTER JUMPING, after the MapReduce CC schemes of Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14 (public
literature, see PAPERS.md):

- labels start as the cell id (int64, globally ordered);
- each round every cell takes ``min(label, neighbors' labels)``
  (one groupBy over the adjacency), then labels compress one pointer
  hop (``label := label(label)`` — a self-join, sound because labels
  are always existing cell ids);
- Σlabel is strictly monotone decreasing while anything changes, so
  ONE agg action per round both materializes the new persisted state
  and tests convergence — no separate changed-count job (the same
  single-action-per-round discipline as knn_join_many).

Adjacency is pure int64 arithmetic on the packed cell id (aperture-4
grid: E neighbor wraps longitude modulo nx, N neighbor clips at the
pole) — no geometry, no UDF; the edge build is one self-join of the
cell set against its shifted ids.

Scale: state is one row per DISTINCT non-empty cell (≪ points);
per-round shuffles are keyed by cell/label. The round count is NOT
logarithmic in the worst case: a neighbour minimum plus one pointer
hop moves a label a bounded distance along a path whose ids are not
monotone, and a numpy model of the round needs 44-115 rounds on
200-node chains with random ids (seeds 0-5) and 265-683 on 1,000-node
ones (seeds 1-5), so a long snake region can exhaust ``max_rounds``.
The driver regime's hook-and-compress kernel (:func:`_cc_labels`) has
no such tail: 13 rounds, 0.9 s on one core, for a 2M-node random-id
chain.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import h3lite as H
from ..session import fits_driver, materialize, plan_bytes, static_plan


def adjacency_edges(cells: DataFrame, res: int, cell_col: str = "cell") -> DataFrame:
    """Both-direction 4-adjacency edge list (src, dst) between PRESENT
    cells: E neighbor wraps lon (``(x+1) % nx``), N neighbor clips at
    the pole. One semi self-join; diagonal cells do NOT touch."""
    nxr, nyr = H.nx(res), H.ny(res)
    _, x, y = H.unpack_sql("cast(src as bigint)")
    base = cells.select(F.col(cell_col).cast("long").alias("src"))
    e = base.withColumn(
        "dst",
        F.explode(
            F.array(
                F.expr(H.set_x_sql("src", x, f"(({x} + 1) % {nxr})")),
                F.expr(f"case when {y} + 1 < {nyr} then src + 1 else null end"),
            )
        ),
    ).where(F.col("dst").isNotNull())
    # keep only edges whose far end exists
    present = cells.select(F.col(cell_col).cast("long").alias("dst"))
    fwd = e.join(present, "dst", "semi").select("src", "dst")
    return fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _cc_labels(n: int, a, b):
    """Component label of each of ``n`` nodes given undirected edges
    between node indices ``a[i]``–``b[i]``: the component's MINIMUM
    node index. The one driver CC kernel (grid and general graphs).

    Each round hooks every crossing edge's larger root under the
    smaller one (``np.minimum.at``), then compresses labels to roots
    (``lab = lab[lab]`` until stable), and keeps only the edges that
    still cross; rounds repeat until none does. Labels only ever point
    to smaller indices, so every root is its tree's minimum — with
    nodes from ``np.unique`` (sorted), the component's minimum id."""
    lab = np.arange(n)
    a, b = np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64)
    while True:
        ra, rb = lab[a], lab[b]
        cross = ra != rb
        if not cross.any():
            return lab
        a, b, ra, rb = a[cross], b[cross], ra[cross], rb[cross]
        np.minimum.at(lab, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def _cc_driver(cells_np, res: int):
    """Min-cell-id component label per distinct driver-resident cell
    (same contract as the distributed loop; tests assert the two
    agree): the E and N neighbours by packed-id arithmetic, kept where
    present, labelled by :func:`_cc_labels`."""
    nxr, nyr = H.nx(res), H.ny(res)
    c = np.unique(np.asarray(cells_np, dtype=np.int64))
    x, y = H.cell_xy(c)
    nb = np.concatenate([H.pack_xy((x + 1) % nxr, y, res), np.where(y + 1 < nyr, c + 1, -1)])
    src = np.tile(np.arange(len(c)), 2)
    idx = np.searchsorted(c, nb).clip(max=max(len(c) - 1, 0))
    ok = c[idx] == nb  # the -1 off-pole sentinel matches no cell
    return c, c[_cc_labels(len(c), src[ok], idx[ok])]


# collect and label on the driver below this many distinct cells: the raster
# cell set is bounded by the GRID (4^res), not the point count — at
# res ≤ 10 the whole grid fits the driver the same way pip_join's
# polygon index does. Above it (fine grids at planetary fill), the
# pointer-jumping loop takes over.
_DRIVER_MAX_CELLS = 2_000_000

# the general-graph twin: a near-dup pair set is ≪ corpus by construction
_DRIVER_MAX_EDGES = 2_000_000

# _cc_loop runs its rounds static (AQE off) at or below this edge-set
# size estimate
_STATIC_MAX_BYTES = 64 << 20


def connected_components(
    cells: DataFrame,
    res: int,
    cell_col: str = "cell",
    max_rounds: int = 64,
) -> DataFrame:
    """(cell, comp) labels: ``comp`` is the MINIMUM cell id of the
    component — deterministic across partitionings and cluster sizes.

    Two regimes, same contract: a cell set that fits the driver
    (≤ ``_DRIVER_MAX_CELLS``, ~16 bytes/cell — the common case, since
    the distinct-cell count is grid-bounded) is collected and labeled
    by :func:`_cc_labels`; larger sets run the distributed
    pointer-jumping loop (one action per round)."""
    spark = cells.sparkSession
    distinct = cells.select(F.col(cell_col).cast("long").alias("cell")).distinct()
    n_cells = distinct.count()
    if fits_driver(spark, n_cells, _DRIVER_MAX_CELLS):
        cells_np = distinct.toPandas()["cell"].to_numpy()
        c, comp = _cc_driver(cells_np, res)
        # explicit schema: an empty cell set has nothing to infer from
        out = spark.createDataFrame(
            pd.DataFrame({"cell": c, "comp": comp}), "cell long, comp long"
        ).persist()
        out.count()
        return out
    # distinct cells: a repeated node row would multiply through the
    # loop's self-joins every round
    edges = adjacency_edges(distinct, res).persist()
    nodes = distinct.select(F.col("cell").alias("node"), F.col("cell").alias("label"))
    raw = _cc_loop(nodes, edges, max_rounds)
    out = raw.select(F.col("node").alias("cell"), F.col("label").alias("comp")).persist()
    out.count()
    raw.unpersist()
    edges.unpersist()
    return out


def _cc_loop(nodes: DataFrame, edges: DataFrame, max_rounds: int) -> DataFrame:
    """The distributed pointer-jumping CC loop over an ARBITRARY
    both-direction edge list — shared by the grid dissolve and the
    dedup-cluster op. ``nodes``: (node, label) with label initialized
    to node; ``edges``: (src, dst), both directions present. Works for
    any orderable id type (labels converge to the component MINIMUM);
    convergence is a changed-label count over each round's
    materialized state.

    Each round ends in ``session.materialize`` (eager localCheckpoint,
    or reliable ``checkpoint()`` when a checkpoint dir /
    ``spark.htrc.checkpointDir`` is configured), NOT persist():
    the round plan references the previous state twice (neighbor fold
    + pointer-jump LUT), so without truncation the ANALYZED plan
    doubles per round and Catalyst itself OOMs around round 5 —
    caching stores data but not the plan. localCheckpoint blocks are
    freed by the ContextCleaner when the previous round's DataFrame
    drops out of scope; on a cluster where executor loss must be
    survivable mid-loop, set the checkpoint dir and the same loop
    writes fault-tolerant blocks instead (reliable checkpoint files
    are only reclaimed under
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``, which
    ``session.get_spark`` sets — see session.materialize).

    Small edge sets (Catalyst estimate ≤ 64 MB) run their per-round
    materializations static (session.static_plan): bounded state means
    AQE's per-stage replan jobs are pure latency, the same finding as
    knn_join_many/shortest_paths. Big or unknown-size graphs keep AQE
    — that is where per-round skew handling has data to act on."""
    run_static = fits_driver(edges.sparkSession, plan_bytes(edges), _STATIC_MAX_BYTES)

    def _mat(df: DataFrame) -> tuple[DataFrame, int]:
        if run_static:
            with static_plan(df.sparkSession):
                out = materialize(df)
                return out, out.where("_chg").count()
        out = materialize(df)
        return out, out.where("_chg").count()

    state = materialize(nodes)
    for _ in range(max_rounds):
        nbr = (
            edges.join(state, edges["dst"] == state["node"], "inner")
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        s1 = state.join(nbr, state["node"] == nbr["src"], "left").select(
            "node",
            F.col("label").alias("_prev"),
            F.least("label", F.coalesce("nmin", "label")).alias("_l1"),
        )
        # pointer jump: label := label(label) (labels are node ids)
        lut = s1.select(F.col("node").alias("_lc"), F.col("_l1").alias("_ll"))
        new_state, n_changed = _mat(
            s1.join(lut, s1["_l1"] == lut["_lc"], "left").select(
                "node",
                F.coalesce("_ll", "_l1").alias("label"),
                (F.coalesce("_ll", "_l1") != F.col("_prev")).alias("_chg"),
            )
        )
        state = new_state
        if n_changed == 0:
            break
    else:
        raise RuntimeError(f"_cc_loop: no convergence in {max_rounds} rounds")
    # checkpoint-backed and materialized (carries the internal _chg
    # column); callers project/rename and persist their view
    return state


def connected_components_edges(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 64,
) -> DataFrame:
    """(node, cluster) for every node of an arbitrary undirected edge
    list — ``cluster`` is the MINIMUM node id of the component. The
    general-graph sibling of :func:`connected_components` (dedup pair
    graphs, not grids): small edge lists (≤ ``_DRIVER_MAX_EDGES``, e.g.
    a near-dup pair set, which is ≪ corpus by construction) collect to
    the driver kernel :func:`_cc_labels`; larger ones run the distributed
    pointer-jumping loop."""
    spark = edges.sparkSession
    e2 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    n_edges = e2.count()
    if fits_driver(spark, n_edges, _DRIVER_MAX_EDGES):
        pdf = e2.toPandas()
        e2.unpersist()
        nodes, inv = np.unique(
            np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]), return_inverse=True
        )
        lab = _cc_labels(len(nodes), inv[: len(pdf)], inv[len(pdf):])
        rows = pd.DataFrame({"node": nodes, "cluster": nodes[lab]})
        # explicit schema from the EDGE column type: an empty pandas
        # frame has object dtypes Spark cannot infer from, so a clean
        # corpus (zero near-dup pairs) crashed here with
        # CANNOT_INFER_EMPTY_SCHEMA instead of returning the empty
        # (node, cluster) frame the contract promises
        node_t = e2.schema["src"].dataType.simpleString()
        out = spark.createDataFrame(
            rows, schema=f"node {node_t}, cluster {node_t}"
        ).persist()
        out.count()
        return out
    both = e2.unionByName(
        e2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    nodes = both.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    raw = _cc_loop(nodes, both, max_rounds)
    out = raw.select("node", F.col("label").alias("cluster")).persist()
    out.count()
    raw.unpersist()
    both.unpersist()
    e2.unpersist()
    return out


def dissolve(
    raster: DataFrame,
    res: int,
    threshold: float = 1.0,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Thresholded raster → labeled regions: one row per kept cell with
    its component id, carrying the cell value (input to per-region
    rollups and :func:`region_overlay`). The result is persisted and
    materialized (internals are unpersisted before returning —
    unpersist it when the session lives on, as with pip_join)."""
    kept = raster.where(F.col(value_col) >= threshold).persist()
    labels = connected_components(kept.select(cell_col), res, cell_col)
    out = kept.join(labels, cell_col).select(cell_col, "comp", value_col).persist()
    out.count()
    kept.unpersist()
    labels.unpersist()
    return out


def dissolve_regions(dissolved: DataFrame, value_col: str = "value") -> DataFrame:
    """Per-region rollup of a :func:`dissolve` result:
    (comp, n_cells, total_value)."""
    return dissolved.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(value_col).cast("long").alias("total_value"),
    )


def region_boundary_stats(
    dissolved: DataFrame, res: int, cell_col: str = "cell"
) -> DataFrame:
    """Per-region boundary extraction: (comp, n_cells, perimeter_edges)
    where ``perimeter_edges`` counts cell edges whose across-neighbor
    is absent or belongs to a different component — the vector outline
    of a dissolved region in cell-edge units (cells at the top/bottom
    grid row count their pole-side edge as boundary). One explode + one
    self-join on the cell key; no geometry, no UDF."""
    nxr, nyr = H.nx(res), H.ny(res)
    _, x, y = H.unpack_sql("cast(cell as bigint)")
    lab = dissolved.select(F.col(cell_col).cast("long").alias("cell"), "comp")
    # -1 sentinel for off-grid (pole-side) neighbors: matches no cell,
    # so the left join marks the edge boundary — same convention as
    # the DuckDB oracle (null-free on purpose)
    probes = lab.withColumn(
        "nb",
        F.explode(
            F.array(
                F.expr(H.set_x_sql("cell", x, f"(({x} + 1) % {nxr})")),
                F.expr(H.set_x_sql("cell", x, f"(({x} - 1 + {nxr}) % {nxr})")),
                F.expr(f"case when {y} + 1 < {nyr} then cell + 1 else -1 end"),
                F.expr(f"case when {y} > 0 then cell - 1 else -1 end"),
            )
        ),
    )
    other = lab.select(F.col("cell").alias("nb"), F.col("comp").alias("nb_comp"))
    perim = (
        probes.join(other, "nb", "left")
        .where(F.col("nb_comp").isNull() | (F.col("nb_comp") != F.col("comp")))
        .groupBy("comp")
        .agg(F.count(F.lit(1)).alias("perimeter_edges"))
    )
    sizes = lab.groupBy("comp").agg(F.count(F.lit(1)).alias("n_cells"))
    return sizes.join(perim, "comp").select("comp", "n_cells", "perimeter_edges")


def region_overlay(a: DataFrame, b: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Polygon↔polygon overlay on cell-set regions: for every pair of
    intersecting regions (one from each labeled set — e.g. two
    :func:`dissolve` outputs, or polygon covers rasterized to cells),
    the shared-cell count and the containment relation:

    - ``equals``   — identical cell sets
    - ``contains`` — a ⊇ b
    - ``within``   — a ⊆ b
    - ``overlaps`` — proper intersection

    Exact on cell-aligned regions (dissolve output); resolution-
    approximate when the inputs are polygon covers. Disjoint pairs
    produce no row (inner-join semantics, like pip_join). One cell
    join + one pair groupBy — both keyed shuffles, no quadratic term
    beyond true pair intersections."""
    aa = a.select(F.col(cell_col).alias("cell"), F.col("comp").alias("comp_a"))
    bb = b.select(F.col(cell_col).alias("cell"), F.col("comp").alias("comp_b"))
    na = aa.groupBy("comp_a").agg(F.count(F.lit(1)).alias("n_a"))
    nb = bb.groupBy("comp_b").agg(F.count(F.lit(1)).alias("n_b"))
    pairs = (
        aa.join(bb, "cell")
        .groupBy("comp_a", "comp_b")
        .agg(F.count(F.lit(1)).alias("n_shared_cells"))
    )
    return (
        pairs.join(na, "comp_a")
        .join(nb, "comp_b")
        .withColumn(
            "relation",
            F.expr(
                "case when n_shared_cells = n_a and n_shared_cells = n_b then 'equals' "
                "when n_shared_cells = n_b then 'contains' "
                "when n_shared_cells = n_a then 'within' "
                "else 'overlaps' end"
            ),
        )
        .select("comp_a", "comp_b", "n_shared_cells", "relation")
    )


def cluster_points(
    points: DataFrame,
    res: int,
    min_pts: int = 1,
    lon_col: str = "lon",
    lat_col: str = "lat",
    keep_noise: bool = False,
) -> DataFrame:
    """Grid-density point clustering (DBSCAN-lite / hotspot detection):
    points falling in cells with ≥ ``min_pts`` points, where touching
    dense cells (4-adjacency, antimeridian wrap) merge into one
    cluster. Returns the input rows + ``cluster`` (the component's min
    cell id — deterministic); sparse-cell points are noise — dropped by
    default, or kept with ``cluster`` null when ``keep_noise``.

    This is the ε≈cell-size, minPts-per-cell approximation of DBSCAN
    that actually scales: density is one ``rasterize`` groupBy, the
    merge is :func:`connected_components` over DISTINCT dense cells
    (≪ points), and the label handoff is ONE cell-keyed equi join of
    points against the (cell, cluster) map — AQE broadcasts it when
    the dense-cell set is small. No pairwise point distances anywhere,
    so 10^12 points cluster with two point-sized shuffles (rasterize +
    label join) and a cell-sized CC loop.
    """
    from .tiles import rasterize

    from ..functions import h3_cell

    raster = rasterize(points, res, lon_col=lon_col, lat_col=lat_col)
    d = dissolve(raster, res, threshold=float(min_pts))
    # internal join key is name-mangled so a caller's own "cell"
    # column survives untouched
    labels = d.select(F.col("cell").alias("__cc"), F.col("comp").alias("cluster"))
    pts = points.withColumn("__cc", h3_cell(lon_col, lat_col, res))
    how = "left" if keep_noise else "inner"
    out = pts.join(labels, "__cc", how).drop("__cc").persist()
    out.count()
    d.unpersist()
    return out


def band_expr(value_col: str, breaks: list[float], dialect: str = "spark") -> str:
    """Band index of a value given ascending ``breaks``: the count of
    breaks ≤ value (0 = below the first break). Pure integer-case
    arithmetic, identical in Spark SQL and DuckDB."""
    if list(breaks) != sorted(breaks):
        raise ValueError("breaks must be ascending")
    terms = " + ".join(
        f"(case when {value_col} >= {b!r} then 1 else 0 end)" for b in breaks
    )
    return f"({terms})"


def isobands(
    raster: DataFrame,
    res: int,
    breaks: list[float],
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Iso-band regions of a raster: classify every cell into a value
    band (contour interval), then merge touching SAME-BAND cells into
    regions — the discrete contour/choropleth operator (GDAL
    ``gdal_contour -p`` analog on the cell grid).

    Returns (cell, value, band, comp): ``band`` = count of breaks ≤
    value, ``comp`` = min cell id of the cell's same-band connected
    component (isolated cells label themselves). Built entirely from
    the existing dissolve machinery: the 4-adjacency edge list is
    filtered to band-equal endpoints, then the general CC kernel runs
    once over ALL bands together — no per-band loop, one edge build,
    same CC rounds. At scale the edge list is ~2 rows per
    kept cell, keyed by cell id.
    """
    kept = raster.select(
        F.col(cell_col).cast("long").alias("cell"),
        F.col(value_col).alias("value"),
    ).withColumn("band", F.expr(band_expr("value", breaks))).persist()
    edges = adjacency_edges(kept, res)
    bands = kept.select("cell", "band")
    same_band = (
        edges.join(bands.withColumnRenamed("cell", "src"), "src")
        .join(
            bands.select(F.col("cell").alias("dst"), F.col("band").alias("_b2")),
            "dst",
        )
        .where(F.col("band") == F.col("_b2"))
        .select("src", "dst")
    )
    labels = connected_components_edges(same_band, "src", "dst")
    out = (
        kept.join(labels, kept.cell == labels.node, "left")
        .select(
            "cell",
            "value",
            "band",
            F.coalesce(F.col("cluster"), F.col("cell")).alias("comp"),
        )
        .persist()
    )
    out.count()
    kept.unpersist()
    labels.unpersist()
    return out
