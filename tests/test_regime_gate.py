"""The one regime gate (session.plan_bytes / broadcast_threshold /
fits_driver) and the parity it promises: every dual-regime operator
returns the same rows with default settings as under
``spark.htrc.forceDistributed=true``, on an sf0.001-sized input and on
an empty one (``limit(0)``, plan estimate 0)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark import data
from htrc_ingester_spark.operators import clustering, dissolve, embedding, graph
from htrc_ingester_spark.operators import knn_join, pip_join
from htrc_ingester_spark.operators import textdedup
from htrc_ingester_spark.session import (
    FORCE_DISTRIBUTED,
    broadcast_threshold,
    fits_driver,
    plan_bytes,
)

from .test_plan_quality import SF_DIR


class TestGate:
    def test_plan_bytes_unknown_known_and_empty(self, spark):
        import pandas as pd

        listed = spark.createDataFrame(
            [(i, float(i), float(i)) for i in range(200)],
            "id long, lon double, lat double",
        )
        # the unknown-size sentinel, raw and width-scaled by a Project
        assert plan_bytes(listed) is None
        assert plan_bytes(listed.select("lon", "lat")) is None
        # the same rows from pandas carry a real estimate
        est = plan_bytes(spark.createDataFrame(listed.toPandas()))
        assert est is not None and 0 < est < 1 << 20
        assert plan_bytes(listed.limit(0)) == 0
        assert plan_bytes(spark.createDataFrame(pd.DataFrame({"a": [1]})).where("false")) == 0

    def test_broadcast_threshold_reads_sqlconf_bytes(self, spark):
        key = "spark.sql.autoBroadcastJoinThreshold"
        prev = spark.conf.get(key)
        try:
            for text, want in (("10MB", 10 << 20), ("20MB", 20 << 20), ("-1", -1)):
                spark.conf.set(key, text)
                assert broadcast_threshold(spark) == want
        finally:
            spark.conf.set(key, prev)

    def test_fits_driver_rules(self, spark, forced):
        assert fits_driver(spark, 10, 10)
        assert fits_driver(spark, 0, 10)
        assert not fits_driver(spark, 11, 10)
        assert not fits_driver(spark, None, 10)  # unknown → scalable
        assert not fits_driver(spark, 0, 0)  # budget 0 forces, even on empty
        assert not fits_driver(spark, 0, -1)
        with forced():
            assert spark.conf.get(FORCE_DISTRIBUTED) == "true"
            assert not fits_driver(spark, 0, 10)
        assert fits_driver(spark, 0, 10)


# ---------------------------------------------------------------------------
# default ≡ forceDistributed, per dual-regime operator
# ---------------------------------------------------------------------------


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple((v is None, repr(v)) for v in t),
    )


def _points(spark, empty):
    pts = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").selectExpr(
        "cast(l_orderkey * 10 + l_linenumber as bigint) as image_id",
        "cast(l_orderkey % 360 - 180 as double) + l_linenumber / 10.0 as lon",
        "cast(l_orderkey % 160 - 80 as double) + l_partkey / 1000.0 as lat",
    )
    return pts.limit(0) if empty else pts


def _vectors(spark, empty):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    return emb.limit(0) if empty else emb


def _edges(spark, empty, names=("src", "dst")):
    e = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        (F.col("l_orderkey") % 97).alias(names[0]),
        (F.col("l_partkey") % 97).alias(names[1]),
        F.col("l_linenumber").cast("long").alias("w"),
    )
    return e.limit(0) if empty else e


def _cc_cells(spark, empty):
    from htrc_ingester_spark.functions import h3_cell

    cells = _points(spark, empty).select(h3_cell("lon", "lat", 3).alias("cell"))
    return _rows(dissolve.connected_components(cells, 3))


def _cc_edges(spark, empty):
    e = _edges(spark, empty, ("id_a", "id_b")).where("id_a != id_b").drop("w")
    return _rows(dissolve.connected_components_edges(e))


def _sssp(spark, empty):
    return _rows(graph.shortest_paths(_edges(spark, empty), [0, 1], hops=4))


def _kmeans(spark, empty):
    assign, cents = clustering.kmeans_fit(_vectors(spark, empty), k=4, iters=2, dim=64)
    return _rows(assign), _rows(cents)


def _pq(spark, empty):
    codes, book = clustering.pq_fit_encode(
        _vectors(spark, empty), m=4, k=4, iters=2, dim=64
    )
    return _rows(codes), _rows(book)


def _knn(spark, empty):
    queries = spark.createDataFrame(
        [("q0", -122.4, 37.7, 3), ("q1", 2.35, 48.8, 5), ("q2", 0.0, 0.0, 1)],
        "query_id string, lon double, lat double, k int",
    )
    return _rows(knn_join.knn_join_many(spark, _points(spark, empty), queries, res=3))


def _queries(spark, empty):
    q = _vectors(spark, False).where("vec_id % 100 = 7").select(
        F.concat(F.lit("q"), F.col("vec_id").cast("string")).alias("query_id"),
        "embedding",
    )
    return q.limit(0) if empty else q


def _ann(spark, empty):
    return _rows(embedding.ann_topk(_vectors(spark, False), _queries(spark, empty), k=3))


def _ivf(spark, empty):
    return _rows(embedding.ivf_topk(_vectors(spark, False), _queries(spark, empty), k=3))


def _phash(spark, empty):
    imgs = _vectors(spark, False).select(
        F.col("vec_id").alias("image_id"), F.xxhash64("vec_id").alias("phash")
    )
    q = imgs.where("image_id % 50 = 3").select(
        F.col("image_id").cast("string").alias("query_id"),
        (F.col("phash").bitwiseXOR(F.lit(5))).alias("phash"),
    )
    return _rows(embedding.phash_search(imgs, q.limit(0) if empty else q, max_hamming=3))


def _decontaminate(spark, empty):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    bench = docs.where("doc_id % 40 = 0")
    return _rows(textdedup.decontaminate(docs, bench.limit(0) if empty else bench, k=5))


def _pip(spark, empty):
    # a [-2, 2]² lattice around the fixture's boundary square [-1, 1]²,
    # with points exactly on its edges
    pts = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").selectExpr(
        "cast(l_orderkey * 10 + l_linenumber as bigint) as image_id",
        "(l_orderkey % 401 - 200) / 100.0d as lon",
        "(l_partkey % 401 - 200) / 100.0d as lat",
    )
    pts = pts.limit(0) if empty else pts
    return _rows(pip_join.pip_join(spark, pts, data.polygons(), res=7))


PARITY = [
    # (operator, runner, module whose fits_driver decides)
    ("connected_components", _cc_cells, dissolve),
    ("connected_components_edges", _cc_edges, dissolve),
    ("shortest_paths", _sssp, graph),
    ("kmeans_fit", _kmeans, clustering),
    ("pq_fit_encode", _pq, clustering),
    ("knn_join_many", _knn, knn_join),
    ("ann_topk", _ann, embedding),
    ("ivf_topk", _ivf, embedding),
    ("phash_search", _phash, embedding),
    ("decontaminate", _decontaminate, embedding),
    ("pip_join", _pip, pip_join),
]


@pytest.mark.parametrize("empty", [False, True], ids=["sf0.001", "empty"])
@pytest.mark.parametrize("op,run,module", PARITY, ids=[p[0] for p in PARITY])
def test_forced_distributed_matches_default(spark, forced, monkeypatch, op, run, module, empty):
    decisions: list[bool] = []

    def spy(*args):
        decisions.append(fits_driver(*args))
        return decisions[-1]

    monkeypatch.setattr(module, "fits_driver", spy)
    default = run(spark, empty)
    # the default run took the bounded (driver / broadcast) branch at
    # least once, so the comparison below spans both regimes
    assert True in decisions, op
    decisions.clear()
    with forced():
        dist = run(spark, empty)
    assert decisions and not any(decisions), op
    assert dist == default, op
    if not empty:
        rows = default if isinstance(default, list) else default[0]
        assert rows, f"{op}: the sf0.001 input produced no rows"
