"""Per-partition lineage manifests + resumable writes (SURVEY.md §7 step 3).

The reference's signature discipline is an on-disk state machine of
renames (dlog → ``_PROCESSED_`` → ``_VERIFIED_``,
PairtreeToCassandraDataSyncker.java:205-220, Verificationer.java:153-177)
that makes every stage resumable: a rerun only picks up names still in
an earlier state, and a revert tool walks names backwards
(RevertDeltaLogs.java:604-710). Here the same contract is expressed the
Spark-native way:

- output is a parquet table partitioned by a ``partition_id`` column;
- each successfully written partition gets a manifest row
  ``(partition_id, row_count, phash_digest, tile_digest, commit_seq)``
  written AFTER the data commit (manifest presence == ``_VERIFIED_``);
- a rerun anti-joins the input's partitions against the manifest and
  recomputes only the missing ones — dynamic partition overwrite makes
  the retry idempotent (a half-written partition without a manifest is
  simply overwritten);
- ``verify_manifests`` re-reads the output and recomputes every digest
  (the reference's phase-3 Verifier, verify/Verifier.java:236-264);
- ``repair_partitions`` force-recomputes named partitions end-to-end —
  the Reingester point-repair lifecycle (tools/Reingester.java:56-77).

Digests are ORDER-INDEPENDENT (bit_xor of per-row xxhash64) so they are
stable under any partitioning / task order / cluster size — required
for cross-cluster-size determinism (north rule).

Scale notes: manifests are one row per partition (thousands of rows at
10^12 images with date/bucket partitioning) — driver-trivial. The
anti-join prunes at the PARTITION level before any heavy compute, so a
resumed run's cost is proportional to the un-done work, like the
reference's dlog-name filtering (cost ∝ change volume, SURVEY.md §3.2).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SUBDIR = "_manifests"
# most pending partitions one write_resumable call lists on the driver
PENDING_PARTS_BUDGET = 100_000

# canonical digest expressions — bit_xor(xxhash64(...)) is commutative,
# associative, overflow-free int64: partition-order independent.


def _digest(*cols: str):
    return F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")


def compute_manifests(
    df: DataFrame,
    partition_col: str,
    commit_seq: int,
    phash_col: str | None = "phash",
    tile_col: str | None = "tile_id",
    id_col: str = "image_id",
) -> DataFrame:
    """One manifest row per output partition.

    ``phash_digest`` folds the per-row content hash (the analog of the
    reference's per-page MD5/SHA1 columns, Constants.java:97-111);
    ``tile_digest`` folds (id, tile) pairs so any tile-assignment drift
    is detected even when row counts match.
    """
    aggs = [F.count(F.lit(1)).alias("row_count")]
    if phash_col and phash_col in df.columns:
        aggs.append(_digest(id_col, phash_col).alias("phash_digest"))
    else:
        aggs.append(_digest(id_col).alias("phash_digest"))
    if tile_col and tile_col in df.columns:
        aggs.append(_digest(id_col, tile_col).alias("tile_digest"))
    else:
        aggs.append(F.lit(0).cast("long").alias("tile_digest"))
    return (
        df.groupBy(F.col(partition_col).alias("partition_id"))
        .agg(*aggs)
        .withColumn("commit_seq", F.lit(commit_seq).cast("long"))
    )


def read_manifests(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """None means 'no manifests yet' (fresh output dir). Any OTHER read
    failure — torn files, permissions — propagates: an integrity module
    must not mask integrity failures behind a silent full recompute."""
    from pyspark.errors import AnalysisException

    path = os.path.join(out_dir, MANIFEST_SUBDIR)
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", lambda: ""
        )
        if "PATH_NOT_FOUND" in (cond() or "") or (
            "Path does not exist" in str(e)
        ):
            return None
        raise


def write_resumable(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    partition_col: str,
    commit_seq: int = 0,
    phash_col: str | None = "phash",
    tile_col: str | None = "tile_id",
    id_col: str = "image_id",
) -> dict:
    """Write ``df`` partitioned by ``partition_col``, skipping partitions
    whose manifest already exists (resume-from-checkpoint).

    Returns {"written": n_partitions_written, "skipped": n_skipped}.
    Raises ValueError, before writing anything, when more than
    ``PENDING_PARTS_BUDGET`` partitions are pending.
    """
    data_dir = os.path.join(out_dir, "data")
    manifest_dir = os.path.join(out_dir, MANIFEST_SUBDIR)

    existing = read_manifests(spark, out_dir)
    if existing is not None:
        done = existing.select(F.col("partition_id").alias(partition_col)).distinct()
        n_skipped = done.count()
        # partition-level prune BEFORE any heavy compute downstream of df
        pending = df.join(F.broadcast(done), partition_col, "left_anti")
    else:
        n_skipped = 0
        pending = df

    # one narrow pass for the pending partition list (column-pruned),
    # bounded: the list goes to the driver, and the read-back below
    # prunes on it statically
    pending_parts = [
        r[0] for r in pending.select(partition_col).distinct().limit(PENDING_PARTS_BUDGET + 1).collect()
    ]
    if len(pending_parts) > PENDING_PARTS_BUDGET:
        raise ValueError(
            f"more than {PENDING_PARTS_BUDGET} pending partitions in one write_resumable call; "
            "write the input in slices of fewer partitions"
        )
    n_written = len(pending_parts)
    if n_written:
        # dynamic overwrite: a retried half-written partition is replaced
        # wholesale — idempotent, like re-running an unrenamed dlog
        (
            pending.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(data_dir)
        )
        # manifests are computed from the COMMITTED bytes (partition-
        # pruned read-back), so the declared digests describe what is
        # actually on disk — the reference's verify-what-you-stored
        # discipline. Reading with the source schema keeps the
        # partition column's type (a plain read re-infers dir values as
        # the narrowest type, e.g. int32).
        committed = (
            spark.read.schema(df.schema)
            .parquet(data_dir)
            .where(F.col(partition_col).isin(pending_parts))
        )
        manifests = compute_manifests(
            committed, partition_col, commit_seq, phash_col, tile_col, id_col
        )
        # manifest commit AFTER data commit == the state-machine rename
        manifests.write.mode("append").parquet(manifest_dir)
    return {"written": n_written, "skipped": n_skipped}


def verify_manifests(
    spark: SparkSession,
    out_dir: str,
    partition_col: str,
    phash_col: str | None = "phash",
    tile_col: str | None = "tile_id",
    id_col: str = "image_id",
) -> DataFrame:
    """Phase-3 verification (Verifier.java:236-264 analog): re-read the
    committed output, recompute every partition digest, and join
    computed vs declared. Returns rows that FAIL (empty == verified)."""
    stored = spark.read.parquet(os.path.join(out_dir, "data"))
    recomputed = compute_manifests(stored, partition_col, 0, phash_col, tile_col, id_col)
    declared = read_manifests(spark, out_dir)
    if declared is None:
        raise FileNotFoundError(f"no manifests under {out_dir}")
    # latest manifest per partition wins (repair appends a newer seq)
    from pyspark.sql import Window

    w = Window.partitionBy("partition_id").orderBy(F.col("commit_seq").desc())
    declared = (
        declared.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    joined = recomputed.alias("c").join(declared.alias("d"), "partition_id", "full_outer")
    return joined.where(
        F.col("c.row_count").isNull()
        | F.col("d.row_count").isNull()
        | (F.col("c.row_count") != F.col("d.row_count"))
        | (F.col("c.phash_digest") != F.col("d.phash_digest"))
        | (F.col("c.tile_digest") != F.col("d.tile_digest"))
    ).select(
        "partition_id",
        F.col("c.row_count").alias("computed_rows"),
        F.col("d.row_count").alias("declared_rows"),
        F.col("c.phash_digest").alias("computed_phash"),
        F.col("d.phash_digest").alias("declared_phash"),
    )


def invalidate_partitions(
    spark: SparkSession, out_dir: str, partition_ids: list | None
) -> int:
    """Un-verify named partitions: drop their manifest rows so the next
    ``write_resumable`` recomputes them from source — the manifest-side
    half of the revert walk (REF tools/RevertDeltaLogs.java:604-710
    renames _VERIFIED_ names backwards for exactly this effect).

    Manifests are driver-trivial (one row per partition), so the
    rewrite materializes them on the driver before overwriting the
    manifest dir (can't overwrite a dir Spark is lazily reading).
    ``partition_ids=None`` invalidates EVERY partition (full recompute).
    Returns the number of manifest rows dropped."""
    existing = read_manifests(spark, out_dir)
    if existing is None:
        return 0
    pdf = existing.toPandas()
    if partition_ids is None:
        mask = pd.Series(True, index=pdf.index)
    else:
        # type-robust match: CLI args arrive as strings while manifests
        # may store ints (or vice versa) — compare raw AND stringified,
        # so `--partitions 5` invalidates partition_id 5 or '5' alike
        strs = {str(p) for p in partition_ids}
        mask = pdf["partition_id"].isin(partition_ids) | pdf["partition_id"].astype(
            str
        ).isin(strs)
    keep = pdf[~mask]
    dropped = len(pdf) - len(keep)
    if dropped:
        manifest_dir = os.path.join(out_dir, MANIFEST_SUBDIR)
        if len(keep):
            spark.createDataFrame(keep, schema=existing.schema).write.mode(
                "overwrite"
            ).parquet(manifest_dir)
        else:
            import shutil

            shutil.rmtree(manifest_dir, ignore_errors=True)
    return dropped


def repair_partitions(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    partition_col: str,
    partition_ids: list,
    commit_seq: int,
    phash_col: str | None = "phash",
    tile_col: str | None = "tile_id",
    id_col: str = "image_id",
) -> dict:
    """Point repair (Reingester parity): force-recompute exactly the
    named partitions from source and re-verify them synchronously
    (HectorToolBridge.java:132-173 + SyncVerifier.java:83-117)."""
    target = df.where(F.col(partition_col).isin(partition_ids))
    data_dir = os.path.join(out_dir, "data")
    manifest_dir = os.path.join(out_dir, MANIFEST_SUBDIR)
    existing = read_manifests(spark, out_dir)
    if existing is not None:
        max_seq = existing.agg(F.max("commit_seq")).collect()[0][0] or 0
        if commit_seq <= max_seq:
            # verify-latest picks the highest seq per partition; a
            # stale/reused seq would tie nondeterministically
            commit_seq = max_seq + 1
    (
        target.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(data_dir)
    )
    manifests = compute_manifests(target, partition_col, commit_seq, phash_col, tile_col, id_col)
    manifests.write.mode("append").parquet(manifest_dir)
    # synchronous re-verify of just the repaired partitions
    fails = (
        verify_manifests(spark, out_dir, partition_col, phash_col, tile_col, id_col)
        .where(F.col("partition_id").isin(partition_ids))
        .count()
    )
    return {"repaired": len(partition_ids), "verify_failures": fails}
