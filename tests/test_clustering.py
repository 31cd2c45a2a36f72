"""kmeans_lite (operators/clustering.py) vs a pure-Python Lloyd oracle
implementing the same integer quantization, md5 seeding, (dist,
cluster) tie-break, and floor-mean update."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from htrc_ingester_spark.operators.clustering import kmeans_lite, qoff


def py_kmeans(vecs: dict[int, np.ndarray], k: int, iters: int, quant: int = 1000):
    """vecs: id -> float array. Returns id -> cluster."""
    q = {
        i: (np.round(v.astype(np.float64) * quant) + qoff(quant)).astype(np.int64)
        for i, v in vecs.items()
    }
    seed_ids = sorted(q, key=lambda i: (hashlib.md5(f"km:{i}".encode()).hexdigest(), i))[:k]
    cents = {c: q[i].copy() for c, i in enumerate(seed_ids)}
    assign = {}
    for _ in range(iters):
        assign = {}
        for i, v in q.items():
            best = min(
                (int(((v - cv) ** 2).sum()), c) for c, cv in cents.items()
            )
            assign[i] = best[1]
        cents = {}
        for c in sorted(set(assign.values())):
            members = np.stack([q[i] for i in q if assign[i] == c])
            cents[c] = members.sum(axis=0) // len(members)  # floor: nonneg by qoff
    return assign


@pytest.fixture(scope="module")
def vec_rows():
    rng = np.random.default_rng(11)
    return {i: rng.normal(scale=0.3, size=8).astype(np.float32) for i in range(120)}


@pytest.fixture(scope="module")
def vec_df(spark, vec_rows):
    pdf = pd.DataFrame(
        {"vec_id": list(vec_rows), "embedding": [v.tolist() for v in vec_rows.values()]}
    )
    return spark.createDataFrame(pdf)


def test_matches_python_lloyd(spark, vec_df, vec_rows):
    got = {
        r.vec_id: r.cluster
        for r in kmeans_lite(vec_df, k=5, iters=3, dim=8).collect()
    }
    assert got == py_kmeans(vec_rows, k=5, iters=3)


def test_deterministic_under_repartitioning(spark, vec_df):
    a = kmeans_lite(vec_df, k=4, iters=2, dim=8).toPandas().sort_values("vec_id")
    b = (
        kmeans_lite(vec_df.repartition(7), k=4, iters=2, dim=8)
        .toPandas()
        .sort_values("vec_id")
    )
    assert (a.cluster.to_numpy() == b.cluster.to_numpy()).all()


def test_assign_never_shuffles_by_id(spark, vec_df, forced):
    # both regimes return the same assignment plan: one map-only Arrow
    # argmin over the trained centroids — no exchange of any kind
    for force in (True, False):
        with forced(force):
            plan = (
                kmeans_lite(vec_df, k=4, iters=2, dim=8)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        assert "hashpartitioning(vec_id" not in plan
        assert "ArrowEvalPython" in plan and "Exchange hashpartitioning" not in plan


def test_sse_non_increasing_over_iterations(spark, vec_df, vec_rows):
    def sse(assign):
        q = {
            i: (np.round(v.astype(np.float64) * 1000) + qoff(1000)).astype(np.int64)
            for i, v in vec_rows.items()
        }
        tot = 0
        for c in sorted(set(assign.values())):
            m = np.stack([q[i] for i in q if assign[i] == c])
            tot += ((m - m.mean(axis=0)) ** 2).sum()
        return tot

    a1 = {r.vec_id: r.cluster for r in kmeans_lite(vec_df, k=5, iters=1, dim=8).collect()}
    a3 = {r.vec_id: r.cluster for r in kmeans_lite(vec_df, k=5, iters=3, dim=8).collect()}
    assert sse(a3) <= sse(a1)


def test_more_clusters_than_points(spark):
    pdf = pd.DataFrame(
        {"vec_id": [0, 1, 2], "embedding": [[0.1, 0.2], [0.3, 0.1], [0.0, 0.0]]}
    )
    df = spark.createDataFrame(pdf)
    out = kmeans_lite(df, k=5, iters=2, dim=2).toPandas()
    assert len(out) == 3
    assert out.cluster.between(0, 2).all()


def py_pq_topk(vecs, queries, m, k, iters, k_results, quant=1000):
    """Pure-Python PQ: per-subspace py_kmeans-style training + ADC."""
    dim = len(next(iter(vecs.values())))
    sub = dim // m
    q = {
        i: (np.round(v.astype(np.float64) * quant) + qoff(quant)).astype(np.int64)
        for i, v in vecs.items()
    }
    seed_ids = sorted(q, key=lambda i: (hashlib.md5(f"km:{i}".encode()).hexdigest(), i))
    books = []
    for mi in range(m):
        sl = slice(mi * sub, (mi + 1) * sub)
        cents = {c: q[i][sl].copy() for c, i in enumerate(seed_ids[:k])}
        for _ in range(iters):
            assign = {
                i: min((int(((v[sl] - cv) ** 2).sum()), c) for c, cv in cents.items())[1]
                for i, v in q.items()
            }
            cents = {}
            for c in sorted(set(assign.values())):
                mm = np.stack([q[i][sl] for i in q if assign[i] == c])
                cents[c] = mm.sum(axis=0) // len(mm)
        books.append(cents)
    codes = {
        i: [
            min(
                (int(((q[i][mi * sub : (mi + 1) * sub] - cv) ** 2).sum()), c)
                for c, cv in books[mi].items()
            )[1]
            for mi in range(m)
        ]
        for i in q
    }
    out = {}
    for qid, qv in queries.items():
        qq = (np.round(qv.astype(np.float64) * quant) + qoff(quant)).astype(np.int64)
        dt = [
            {c: int(((qq[mi * sub : (mi + 1) * sub] - cv) ** 2).sum()) for c, cv in books[mi].items()}
            for mi in range(m)
        ]
        scored = sorted(
            (sum(dt[mi][codes[i][mi]] for mi in range(m)), i) for i in q
        )
        out[qid] = [(i, d) for d, i in scored[:k_results]]
    return out


class TestPQ:
    def test_matches_python_pq(self, spark, vec_df, vec_rows):
        from htrc_ingester_spark.operators.clustering import pq_fit_encode, pq_topk

        queries = {"q0": vec_rows[0], "q1": vec_rows[55]}
        qdf = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": list(queries), "embedding": [v.tolist() for v in queries.values()]}
            )
        )
        codes, book = pq_fit_encode(vec_df, m=2, k=4, iters=2, dim=8)
        got = pq_topk(codes, book, qdf, k_results=5, dim=8, m=2).toPandas()
        want = py_pq_topk(vec_rows, queries, m=2, k=4, iters=2, k_results=5)
        for qid, pairs in want.items():
            rows = got[got.query_id == qid].sort_values("rank")
            assert list(rows.vec_id) == [i for i, _ in pairs]
            assert list(rows.adist) == [d for _, d in pairs]

    def test_self_query_ranks_first(self, spark, vec_df, vec_rows):
        from htrc_ingester_spark.operators.clustering import pq_fit_encode, pq_topk

        qdf = spark.createDataFrame(
            pd.DataFrame({"query_id": ["s"], "embedding": [vec_rows[3].tolist()]})
        )
        codes, book = pq_fit_encode(vec_df, m=2, k=4, iters=2, dim=8)
        got = pq_topk(codes, book, qdf, k_results=3, dim=8, m=2).toPandas()
        # the query IS vector 3: nothing can have smaller ADC distance
        assert got[got["rank"] == 1].adist.iloc[0] <= got.adist.min()

    def test_dim_must_divide(self, spark, vec_df):
        from htrc_ingester_spark.operators.clustering import pq_fit_encode

        with pytest.raises(ValueError, match="subspaces"):
            pq_fit_encode(vec_df, m=3, k=4, iters=1, dim=8)


class TestRegimeParity:
    """Driver-bounded numpy trainer vs the distributed Lloyd plan
    (clustering._DRIVER_TRAIN_MAX_BYTES gate): bit-identical codebooks,
    codes, assignments, and centroids on the same input — the regime
    switch must never change a single value. spark.htrc.forceDistributed
    forces the distributed plan on a LocalRelation the gate would
    otherwise route to the driver."""

    def test_kmeans_regimes_bit_identical(self, spark, vec_df, forced):
        from htrc_ingester_spark.operators.clustering import kmeans_fit

        a_drv, c_drv = kmeans_fit(vec_df, k=5, iters=3, dim=8)
        with forced():
            a_dst, c_dst = kmeans_fit(vec_df, k=5, iters=3, dim=8)
        assert sorted(map(tuple, a_drv.collect())) == sorted(map(tuple, a_dst.collect()))
        got_c = sorted((r.cluster, list(r.cv)) for r in c_drv.collect())
        want_c = sorted((r.cluster, list(r.cv)) for r in c_dst.collect())
        assert got_c == want_c

    def test_pq_regimes_bit_identical(self, spark, vec_df, forced):
        from htrc_ingester_spark.operators.clustering import pq_fit_encode

        codes_d, book_d = pq_fit_encode(vec_df, m=2, k=4, iters=2, dim=8)
        with forced():
            codes_x, book_x = pq_fit_encode(vec_df, m=2, k=4, iters=2, dim=8)
        assert sorted((r.vec_id, list(r.codes)) for r in codes_d.collect()) == sorted(
            (r.vec_id, list(r.codes)) for r in codes_x.collect()
        )
        assert sorted((r.m, r.cluster, list(r.cv)) for r in book_d.collect()) == sorted(
            (r.m, r.cluster, list(r.cv)) for r in book_x.collect()
        )

    def test_np_quantize_half_up_twin(self):
        """_np_quantize must reproduce Spark round(double)'s HALF_UP
        away-from-zero on exact halves (np.rint alone rounds to even)
        and reject out-of-contract coordinates."""
        import numpy as np

        from htrc_ingester_spark.operators.clustering import _np_quantize, qoff

        x = np.array([[0.0005, 0.0015, -0.0005, -0.0015, 0.00049999, 1.9999]])
        got = _np_quantize(x, 1000) - qoff(1000)
        assert got.tolist() == [[1, 2, -1, -2, 0, 2000]]
        with pytest.raises(ValueError, match="contract"):
            _np_quantize(np.array([[2.5]]), 1000)
        # NaN/inf must raise like the Spark twin (whose `x <= 2.0`
        # branch fails for NaN), never flow into the int64 cast
        for bad in (np.nan, np.inf, -np.inf):
            with pytest.raises(ValueError, match="contract"):
                _np_quantize(np.array([[0.5, bad]]), 1000)

    def test_encode_kernel_null_propagates_ragged_raises(self, spark):
        """The Arrow encode kernels replaced null-PROPAGATING Spark
        expressions: a NULL embedding must yield a NULL code row (not
        crash the stage with numpy's inhomogeneous-shape error), and a
        mis-sized embedding must raise a DESCRIPTIVE error naming the
        expected dimension (corruption-surfacing, the WKB decoder
        discipline)."""
        from pyspark.sql import functions as F

        from htrc_ingester_spark.operators.clustering import _encode_udf

        book = [(mi, c, [1000 * (c + 1)] * 4) for mi in range(2) for c in range(3)]
        enc = _encode_udf(book, 2, 4, 1000)
        df = spark.createDataFrame(
            [("a", [0.1] * 8), ("b", None), ("c", [0.9] * 8)],
            "vec_id string, embedding array<double>",
        )
        rows = {r.vec_id: r.codes for r in df.select("vec_id", enc(F.col("embedding")).alias("codes")).collect()}
        assert rows["b"] is None
        assert rows["a"] is not None and len(rows["a"]) == 2
        bad = spark.createDataFrame(
            [("a", [0.1] * 5)], "vec_id string, embedding array<double>"
        )
        with pytest.raises(Exception, match="expected \\(8,\\)"):
            bad.select(enc(F.col("embedding")).alias("c")).collect()


class TestNullSemantics:
    """r5 review: the module's contract — NULL embeddings yield NULL
    cluster/codes and carry NO training signal, identically in the
    driver-bounded and distributed regimes; NULL ids are corruption
    and fail loudly in every regime."""

    def _null_df(self, spark, vec_rows):
        pdf = pd.DataFrame(
            {
                "vec_id": list(vec_rows) + [900],
                "embedding": [v.tolist() for v in vec_rows.values()] + [None],
            }
        )
        return spark.createDataFrame(pdf, "vec_id bigint, embedding array<double>")

    def test_kmeans_null_vector_both_regimes(self, spark, vec_df, vec_rows, forced):
        ndf = self._null_df(spark, vec_rows)
        clean = {r.vec_id: r.cluster for r in kmeans_lite(vec_df, k=5, iters=2, dim=8).collect()}
        for force in (False, True):  # driver-bounded regime, forced-distributed
            with forced(force):
                got = {r.vec_id: r.cluster for r in kmeans_lite(ndf, k=5, iters=2, dim=8).collect()}
            # the null row assigns to NULL...
            assert got[900] is None
            # ...and contributes nothing to training: every other
            # assignment matches the run without the null row
            assert {i: c for i, c in got.items() if i != 900} == clean

    def test_pq_null_vector_codes_null_and_topk_excludes(self, spark, vec_df, vec_rows, forced):
        from htrc_ingester_spark.operators.clustering import pq_fit_encode, pq_topk

        ndf = self._null_df(spark, vec_rows)
        qdf = spark.createDataFrame(
            pd.DataFrame({"query_id": ["q0"], "embedding": [vec_rows[0].tolist()]})
        )
        codes_c, book_c = pq_fit_encode(vec_df, m=2, k=4, iters=2, dim=8)
        want = pq_topk(codes_c, book_c, qdf, k_results=5, dim=8, m=2).toPandas()
        for force in (False, True):
            with forced(force):
                codes, book = pq_fit_encode(ndf, m=2, k=4, iters=2, dim=8)
            cmap = {r.vec_id: r.codes for r in codes.collect()}
            assert cmap[900] is None
            got = pq_topk(codes, book, qdf, k_results=5, dim=8, m=2).toPandas()
            # the null-coded vector is not a neighbor (pre-fix it took
            # rank 1 via NULLS FIRST) and training was untouched
            pd.testing.assert_frame_equal(got, want)
            assert 900 not in set(got.vec_id)

    def test_null_query_vector_yields_no_rows_for_that_query(self, spark, vec_df, vec_rows):
        from htrc_ingester_spark.operators.clustering import pq_fit_encode, pq_topk

        qdf = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": ["ok", "nullq"], "embedding": [vec_rows[0].tolist(), None]}
            ),
            "query_id string, embedding array<double>",
        )
        codes, book = pq_fit_encode(vec_df, m=2, k=4, iters=2, dim=8)
        got = pq_topk(codes, book, qdf, k_results=3, dim=8, m=2).toPandas()
        assert set(got.query_id) == {"ok"}

    def test_null_id_raises_in_both_regimes(self, spark, vec_rows, forced):
        pdf = pd.DataFrame(
            {
                "vec_id": [None] + list(vec_rows)[:10],
                "embedding": [[0.1] * 8] + [vec_rows[i].tolist() for i in list(vec_rows)[:10]],
            }
        )
        ndf = spark.createDataFrame(pdf, "vec_id bigint, embedding array<double>")
        for force in (False, True):
            with forced(force), pytest.raises(Exception, match="NULL vec_id"):
                kmeans_lite(ndf, k=3, iters=1, dim=8).collect()

    def test_iters_zero_raises(self, spark, vec_df):
        from htrc_ingester_spark.operators.clustering import pq_fit_encode

        with pytest.raises(ValueError, match="iters"):
            kmeans_lite(vec_df, k=3, iters=0, dim=8)
        with pytest.raises(ValueError, match="iters"):
            pq_fit_encode(vec_df, m=2, k=3, iters=0, dim=8)

    def test_empty_codebook_topk_schema_typed_from_inputs(self, spark, vec_df):
        """The degenerate empty-codebook pq_topk frame must carry the
        INPUT id type (bigint here), not a hardcoded string."""
        from htrc_ingester_spark.operators.clustering import pq_fit_encode, pq_topk

        empty = vec_df.where("vec_id < 0")
        codes, book = pq_fit_encode(empty, m=2, k=4, iters=2, dim=8)
        qdf = spark.createDataFrame(
            pd.DataFrame({"query_id": ["q"], "embedding": [[0.1] * 8]})
        )
        out = pq_topk(codes, book, qdf, k_results=3, dim=8, m=2)
        assert out.count() == 0
        assert dict(out.dtypes)["vec_id"] == "bigint"


class TestCacheHygiene:
    """The trainer persists its quantized corpus only for the
    distributed rounds and releases it before returning — also when
    the training raises — so long-lived sessions never strand a cached
    copy per call."""

    @pytest.fixture
    def parquet_df(self, spark, vec_df, tmp_path):
        vec_df.write.parquet(str(tmp_path / "vecs"))
        return spark.read.parquet(str(tmp_path / "vecs"))

    def _fits(self):
        from htrc_ingester_spark.operators.clustering import kmeans_fit, pq_fit_encode

        return {
            "kmeans_fit": lambda df: kmeans_fit(df, k=4, iters=2, dim=8),
            "pq_fit_encode": lambda df: pq_fit_encode(df, m=2, k=4, iters=2, dim=8),
        }

    def _cache_empty(self, spark):
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    @pytest.mark.parametrize("op", ["kmeans_fit", "pq_fit_encode"])
    def test_training_leaves_cache_empty(self, spark, forced, parquet_df, op):
        spark.catalog.clearCache()
        for force in (False, True):
            with forced(force):
                out, book = self._fits()[op](parquet_df)
                assert out.count() == 120 and book.count() > 0
            assert self._cache_empty(spark), (op, force)

    @pytest.mark.parametrize("op", ["kmeans_fit", "pq_fit_encode"])
    def test_failed_training_leaves_cache_empty(self, spark, forced, tmp_path, op):
        ragged = spark.createDataFrame(
            [(i, [0.1] * (5 if i == 7 else 8)) for i in range(40)],
            "vec_id bigint, embedding array<double>",
        )
        ragged.write.parquet(str(tmp_path / "ragged"))
        df = spark.read.parquet(str(tmp_path / "ragged"))
        spark.catalog.clearCache()
        for force in (False, True):
            with forced(force), pytest.raises(Exception):
                self._fits()[op](df)
            assert self._cache_empty(spark), (op, force)
