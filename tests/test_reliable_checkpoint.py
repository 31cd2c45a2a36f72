"""Reliable-checkpoint regime for the iterative loops (r4 verdict #5).

Local mode keeps eager ``localCheckpoint`` (fast, executor-local
blocks); configuring a checkpoint dir — via
``SparkContext.setCheckpointDir`` or the ``spark.htrc.checkpointDir``
conf — flips every loop round to reliable ``checkpoint()``: blocks in
the fault-tolerant dir, so a 1000-executor cluster survives executor
loss mid-loop by recomputing only lost tasks. These tests pin that
(a) results are bit-identical in both regimes, (b) checkpoint data
actually lands in the dir, and (c) the plan is still truncated — the
returned state scans the checkpoint RDD, not the unrolled per-round
join lineage.

Reference discipline mirrored: HTRC-Ingester's rsync/push loops are
resumable per volume (REF/src/main/java/org/hathitrust/component
IngestService retry semantics); here the unit of resumability is the
loop round.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark.session import materialize, reliable_checkpoint_configured


def _ck_files(d: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(d):
        out.extend(os.path.join(root, f) for f in files)
    return out


@pytest.fixture()
def ck_dir(spark, tmp_path):
    d = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(d)
    yield d
    # clear for the rest of the session (local mode: no non-local-path
    # warning branch, Option(null) => None)
    spark.sparkContext.setCheckpointDir(None)
    assert spark.sparkContext.getCheckpointDir() is None


def test_materialize_local_default(spark, tmp_path):
    assert spark.sparkContext.getCheckpointDir() is None
    df = materialize(spark.range(10).withColumn("v", F.col("id") * 2))
    assert df.count() == 10
    assert not reliable_checkpoint_configured(spark)


def test_materialize_reliable_writes_and_truncates(spark, ck_dir):
    df = spark.range(100).withColumn("v", (F.col("id") * 37) % 11)
    # a two-self-reference plan, the shape the loops produce
    j = df.alias("a").join(df.alias("b"), "v").groupBy("v").count()
    out = materialize(j)
    assert reliable_checkpoint_configured(spark)
    assert out.count() == 11
    assert _ck_files(ck_dir), "no checkpoint blocks written to the dir"
    plan = out._jdf.queryExecution().executedPlan().toString()
    # truncated: the checkpoint-backed frame is a bare RDD scan — the
    # join/agg lineage is gone from the live plan
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_conf_key_applies_dir(spark, tmp_path):
    assert spark.sparkContext.getCheckpointDir() is None
    d = str(tmp_path / "conf_ck")
    spark.conf.set("spark.htrc.checkpointDir", d)
    try:
        assert reliable_checkpoint_configured(spark)
        # Spark appends a per-context UUID subdir to the configured root
        assert "conf_ck" in spark.sparkContext.getCheckpointDir()
        out = materialize(spark.range(5))
        assert out.count() == 5
        assert _ck_files(d)
    finally:
        spark.conf.unset("spark.htrc.checkpointDir")
        spark.sparkContext.setCheckpointDir(None)


def test_knn_loop_reliable_matches_local(spark, ck_dir):
    from htrc_ingester_spark.operators.knn_join import knn_join_many

    pdf = pd.DataFrame(
        {
            "image_id": [f"i{n:03d}" for n in range(40)],
            "lon": [(n * 7.3) % 60 - 30.0 for n in range(40)],
            "lat": [(n * 3.7) % 40 - 20.0 for n in range(40)],
        }
    )
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": ["a", "b"], "lon": [1.0, -12.0], "lat": [2.0, 8.0], "k": [3, 5]})
    )
    pts = spark.createDataFrame(pdf)
    got = knn_join_many(spark, pts, q, res=3).toPandas().sort_values(["query_id", "rank"])
    assert _ck_files(ck_dir), "knn rounds did not use the reliable dir"
    spark.sparkContext.setCheckpointDir(None)
    ref = knn_join_many(spark, pts, q, res=3).toPandas().sort_values(["query_id", "rank"])
    pd.testing.assert_frame_equal(got.reset_index(drop=True), ref.reset_index(drop=True))


def test_cc_loop_reliable_matches_local(spark, ck_dir, forced):
    from htrc_ingester_spark.operators.dissolve import connected_components_edges

    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 5, 6, 6], "id_b": [2, 3, 6, 7, 5]})
    )
    # forceDistributed forces the distributed pointer-jumping loop
    with forced():
        got = (
            connected_components_edges(edges)
            .toPandas()
            .sort_values("node")
            .reset_index(drop=True)
        )
        assert _ck_files(ck_dir), "cc rounds did not use the reliable dir"
        spark.sparkContext.setCheckpointDir(None)
        ref = (
            connected_components_edges(edges)
            .toPandas()
            .sort_values("node")
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(got, ref)


def test_shortest_paths_periodic_cut_reliable(spark, ck_dir, forced):
    from htrc_ingester_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        pd.DataFrame(
            {"src": [0, 1, 2, 3, 0], "dst": [1, 2, 3, 4, 2], "w": [1, 1, 1, 1, 5]}
        )
    )
    with forced():
        got = (
            shortest_paths(edges, [0], hops=4, persist_every=1)
            .toPandas()
            .sort_values("node")
            .reset_index(drop=True)
        )
        assert _ck_files(ck_dir), "periodic cuts did not use the reliable dir"
        spark.sparkContext.setCheckpointDir(None)
        ref = (
            shortest_paths(edges, [0], hops=4, persist_every=1)
            .toPandas()
            .sort_values("node")
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(got, ref)
