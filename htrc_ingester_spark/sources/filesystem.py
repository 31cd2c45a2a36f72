"""Filesystem sources: pairtree-addressed binary reads (S2/S6/S7).

The reference materializes a pairtree (volume id ⇒ 2-char-segment
directory path, gov.loc pairtree spec) via rsync fan-out
(REF/rsync/Rsyncker.java:279-376) and streams zips from it
(HectorManager.java:430-524). Spark-native: the id→path projection is
a column expression (functions.pairtree_path), and the read is the
``binaryFile`` data source — parallelism comes from input splits, not
a hand-rolled thread pool (SURVEY.md §2.1 S2).

``read_pairtree`` joins the listing back to the requested ids so the
caller gets (volume_id, path, content, length) — unmatched ids surface
in the anti frame (the reference logs-and-skips; we side-channel).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import pairtree_clean_id, pairtree_path


def clean_volume_id(volume_id: str) -> str:
    """Driver/worker-Python twin of functions.pairtree_clean_id: the
    full public pairtree map ``:→+  /→=  .→,`` — ONE copy shared by
    write_pairtree, zipsource.make_volume_zip, and
    mets.synthesize_mets (previously three hand-rolled variants, two
    of which dropped the ``.`` rule, so fixture member names diverged
    from real pairtree naming for every dotted volume id)."""
    return volume_id.replace(":", "+").replace("/", "=").replace(".", ",")


def pairtree_rel_path(id_col) -> F.Column:
    """volume id → relative pairtree file path
    ``ab/cd/../<cleaned>.zip`` (2-char segments of the cleaned id,
    HectorToolBridge.java:267-280)."""
    c = pairtree_clean_id(id_col)
    return F.concat(pairtree_path(id_col), F.lit("/"), c, F.lit(".zip"))


def write_pairtree(df: DataFrame, root: str, id_col: str = "volume_id",
                   bytes_col: str = "content") -> int:
    """Materialize rows as a pairtree on local fs (test/demo sink —
    the reference's rsync DESTINATION shape). Driver-side: fixtures
    only; a real deployment writes the table, not a million dirs."""
    n = 0
    for r in df.select(id_col, bytes_col).collect():
        rel = clean_volume_id(r[0])
        segs = [rel[i : i + 2] for i in range(0, len(rel), 2)]
        d = os.path.join(root, *segs)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{rel}.zip"), "wb") as f:
            f.write(bytes(r[1]))
        n += 1
    return n


def read_pairtree(
    spark: SparkSession,
    root: str,
    ids: DataFrame,
    id_col: str = "volume_id",
    point_read_max: int = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """binaryFile read of requested pairtree volumes. Returns (found,
    missing): found carries (volume_id, path, content, length);
    missing is the left-anti of requested ids.

    Two-phase, so a point read never pays a full-corpus byte scan:
    the match runs against a METADATA listing (binaryFile with only
    path/length selected reads no file bytes — column pruning), and
    when the matched set is small (≤ ``point_read_max``) the content
    comes from a TARGETED load of exactly those paths. A
    whole-corpus request degrades gracefully to the single
    scan-and-join (collecting millions of paths to the driver would
    be worse than the scan it avoids)."""
    meta = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select(
            F.col("path"),
            F.col("length"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("_leaf"),
        )
        .withColumn("_cleaned", F.regexp_replace(F.col("_leaf"), r"\.zip$", ""))
    )
    keyed = ids.select(
        F.col(id_col), pairtree_clean_id(id_col).alias("_cleaned")
    )
    matched = keyed.join(meta, "_cleaned", "inner").select(id_col, "path", "length")
    missing = keyed.join(meta, "_cleaned", "left_anti").select(id_col)
    hits = matched.limit(point_read_max + 1).collect()
    if len(hits) <= point_read_max:
        # the matched rows themselves, under matched's schema: the
        # caller's id type and one row per requested id (duplicates
        # included), exactly what the full scan below returns
        lut = spark.createDataFrame(hits, matched.schema)
        if not hits:
            return lut.withColumn("content", F.lit(None).cast("binary")), missing
        content = (
            spark.read.format("binaryFile")
            .load(sorted({r["path"] for r in hits}))
            .select("path", "content")
        )
        found = lut.join(content, "path").select(id_col, "path", "length", "content")
        return found, missing
    # big request: one scan-and-join (content read only for the join's
    # survivors is not possible here — the id set itself is huge)
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select(
            F.col("path"),
            F.col("length"),
            F.col("content"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("_leaf"),
        )
        .withColumn("_cleaned", F.regexp_replace(F.col("_leaf"), r"\.zip$", ""))
    )
    found = keyed.join(listing, "_cleaned", "inner").select(
        id_col, "path", "length", "content"
    )
    return found, missing
