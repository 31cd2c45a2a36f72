"""Lineage-manifest + resume discipline (SURVEY.md §5.2 item 3).

Mirrors the reference's state-machine guarantees: a killed run resumes
from the last validated checkpoint, completed partitions are skipped,
the final output is identical to an uninterrupted run, verification
recomputes digests against declarations, and point repair fixes exactly
the named partitions.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark import manifest as M


def _images(spark, n=400):
    from htrc_ingester_spark.data import images_meta_pdf

    pdf = images_meta_pdf(n)
    df = spark.createDataFrame(pdf)
    # partition key: 8 buckets by id hash + a tile assignment
    return df.withColumn("bucket", F.pmod(F.xxhash64("image_id"), F.lit(8))).withColumn(
        "tile_id", F.pmod(F.xxhash64("image_id", "caption"), F.lit(64)).cast("int")
    )


def _read_sorted(spark, out_dir):
    return (
        spark.read.parquet(f"{out_dir}/data")
        .select("image_id", "phash", "tile_id", "bucket")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
        .astype({"bucket": "int64"})
    )


def test_full_write_then_verify_clean(spark, tmp_path):
    df = _images(spark)
    out = str(tmp_path / "out")
    stats = M.write_resumable(spark, df, out, "bucket", commit_seq=1)
    assert stats == {"written": 8, "skipped": 0}
    fails = M.verify_manifests(spark, out, "bucket")
    assert fails.count() == 0


def test_resume_skips_completed_and_matches_uninterrupted(spark, tmp_path):
    df = _images(spark)
    out_resumed = str(tmp_path / "resumed")
    out_direct = str(tmp_path / "direct")

    # simulated crash: only buckets 0-3 committed before the kill
    M.write_resumable(spark, df.where("bucket < 4"), out_resumed, "bucket", commit_seq=1)
    # rerun over the FULL input: completed partitions must be skipped
    stats = M.write_resumable(spark, df, out_resumed, "bucket", commit_seq=2)
    assert stats == {"written": 4, "skipped": 4}

    M.write_resumable(spark, df, out_direct, "bucket", commit_seq=1)
    pd.testing.assert_frame_equal(_read_sorted(spark, out_resumed), _read_sorted(spark, out_direct))
    assert M.verify_manifests(spark, out_resumed, "bucket").count() == 0

    # third run: everything already committed → full skip, no-op
    stats = M.write_resumable(spark, df, out_resumed, "bucket", commit_seq=3)
    assert stats == {"written": 0, "skipped": 8}


def test_digests_are_partitioning_invariant(spark):
    """bit_xor(xxhash64) digests must be identical under any partition
    layout / task order — the cross-cluster-size determinism the north
    rule needs (N vs 4N executors)."""
    df = _images(spark)
    m1 = M.compute_manifests(df.repartition(1), "bucket", 0).toPandas()
    m2 = M.compute_manifests(df.repartition(16, "caption"), "bucket", 0).toPandas()
    m1 = m1.sort_values("partition_id").reset_index(drop=True)
    m2 = m2.sort_values("partition_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(m1, m2)


def test_verify_flags_tampered_partition_and_repair_heals(spark, tmp_path):
    df = _images(spark)
    out = str(tmp_path / "out")
    M.write_resumable(spark, df, out, "bucket", commit_seq=1)

    # tamper: rewrite bucket=2's data with a row dropped (bypassing the
    # manifest path — a torn write / bitrot stand-in)
    tampered = df.where("bucket = 2")
    victim = tampered.limit(1).collect()[0]["image_id"]
    (
        tampered.where(F.col("image_id") != victim)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(f"{out}/data")
    )
    fails = M.verify_manifests(spark, out, "bucket").toPandas()
    assert list(fails.partition_id) == [2]
    assert fails.computed_rows[0] == fails.declared_rows[0] - 1

    # point repair (Reingester parity) — recompute bucket 2 only
    res = M.repair_partitions(spark, df, out, "bucket", [2], commit_seq=2)
    assert res == {"repaired": 1, "verify_failures": 0}
    assert M.verify_manifests(spark, out, "bucket").count() == 0


def test_verify_detects_value_drift_same_rowcount(spark, tmp_path):
    """Row counts equal but a phash flipped → phash_digest must differ
    (the reference's checksum-not-just-size discipline,
    verify/Verifier.java:288-333)."""
    df = _images(spark)
    out = str(tmp_path / "out")
    M.write_resumable(spark, df, out, "bucket", commit_seq=1)
    tampered = df.where("bucket = 5").withColumn(
        "phash", F.when(F.rand(7) < 2, F.col("phash") + 1).otherwise(F.col("phash"))
    )
    (
        tampered.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(f"{out}/data")
    )
    fails = M.verify_manifests(spark, out, "bucket").toPandas()
    assert list(fails.partition_id) == [5]
    assert fails.computed_rows[0] == fails.declared_rows[0]  # counts match


def test_invalidate_partitions_forces_rerun_and_converges(spark, tmp_path):
    """Kill-revert-rerun: invalidating manifests for named partitions
    makes write_resumable recompute exactly those, and the final output
    equals an uninterrupted run."""
    df = _images(spark)
    out = str(tmp_path / "out")
    M.write_resumable(spark, df, out, "bucket", commit_seq=1)
    want = _read_sorted(spark, out)

    dropped = M.invalidate_partitions(spark, out, [2, 5])
    assert dropped == 2
    stats = M.write_resumable(spark, df, out, "bucket", commit_seq=2)
    assert stats == {"written": 2, "skipped": 6}
    assert M.verify_manifests(spark, out, "bucket").count() == 0
    got = _read_sorted(spark, out)
    pd.testing.assert_frame_equal(got, want)


def test_invalidate_all_partitions_with_none(spark, tmp_path):
    """partition_ids=None invalidates EVERY manifest row (the CLI's
    `revert --invalidate-store` without --partitions — ADVICE r2: an
    empty list silently invalidated nothing)."""
    df = _images(spark)
    out = str(tmp_path / "out")
    M.write_resumable(spark, df, out, "bucket", commit_seq=1)
    n = M.read_manifests(spark, out).count()
    assert n > 0
    dropped = M.invalidate_partitions(spark, out, None)
    assert dropped == n
    stats = M.write_resumable(spark, df, out, "bucket", commit_seq=2)
    assert stats["written"] == n and stats["skipped"] == 0


def test_read_manifests_propagates_corruption(spark, tmp_path):
    """A corrupt manifest dir must RAISE, not silently degrade into a
    full recompute (ADVICE r1): only path-not-found means 'fresh'."""
    import os

    out = str(tmp_path / "out")
    assert M.read_manifests(spark, out) is None  # fresh: fine
    mdir = os.path.join(out, M.MANIFEST_SUBDIR)
    os.makedirs(mdir)
    with open(os.path.join(mdir, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    with pytest.raises(Exception):
        df = M.read_manifests(spark, out)
        # some Spark versions defer the failure to schema inference
        if df is not None:
            df.collect()


def test_write_bounds_the_pending_partition_list(spark, tmp_path, monkeypatch):
    """write_resumable lists its pending partitions on the driver, at
    most PENDING_PARTS_BUDGET of them: past the budget it raises a
    ValueError naming it before anything is written. Within it, the
    written count is that list's length, and an empty input on a fresh
    directory writes nothing."""
    df = spark.range(0, 900).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 300).alias("bucket"),
        F.xxhash64("id").alias("phash"),
        (F.col("id") % 7).cast("int").alias("tile_id"),
    )
    out = str(tmp_path / "out")
    monkeypatch.setattr(M, "PENDING_PARTS_BUDGET", 250)
    with pytest.raises(ValueError, match="more than 250 pending partitions"):
        M.write_resumable(spark, df, out, "bucket", commit_seq=1)
    assert not os.path.exists(out)
    assert M.write_resumable(spark, df.where("bucket < 200"), out, "bucket", commit_seq=1) == {
        "written": 200,
        "skipped": 0,
    }
    assert M.write_resumable(spark, df, out, "bucket", commit_seq=2) == {"written": 100, "skipped": 200}
    empty = str(tmp_path / "empty")
    assert M.write_resumable(spark, df.where("false"), empty, "bucket") == {"written": 0, "skipped": 0}
    assert not os.path.exists(empty)
    assert M.verify_manifests(spark, out, "bucket").count() == 0
    assert M.read_manifests(spark, out).schema["partition_id"].dataType == df.schema["bucket"].dataType
