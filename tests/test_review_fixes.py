"""Regression tests for code-review findings (round 1): each pins a
fixed defect with the exact scenario that used to fail."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark import ingest as I
from htrc_ingester_spark.functions import md5_shard, pairtree_path
from htrc_ingester_spark.operators import textdedup as TD


def test_short_docs_do_not_crash_minhash(spark):
    """shingles_sql used to emit sequence(0,-1) → slice(w,0,k) runtime
    error for docs with fewer than k words."""
    rows = [(0, "hello world"), (1, ""), (2, "one"),
            (3, "a proper document with plenty of words to shingle here"),
            (4, "a proper document with plenty of words to shingle too")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    pairs = TD.lsh_near_dup_pairs(df, jaccard_threshold=0.3).toPandas()
    assert set(zip(pairs.id_a, pairs.id_b)) == {(3, 4)}
    sh = df.selectExpr(f"size({TD.shingles_sql('text', 3, 'spark')}) as n").toPandas()
    assert list(sh.n) == [0, 0, 0, 8, 8]


def test_md5_shard_exact_reference_parity(spark):
    """md5_shard must equal BigInteger(md5 hex, 16) mod N exactly
    (Util.java:86-103) — the old high-60-bit version diverged on ~97%
    of keys."""
    ids = [f"uc2.ark:/13960/t{i}" for i in range(50)]
    df = spark.createDataFrame([(s,) for s in ids], "id string")
    for n in (16, 97, 256, 1 << 20):
        got = (
            df.select("id", md5_shard("id", n).alias("shard"))
            .toPandas()
            .set_index("id")
            .shard.to_dict()
        )
        for s in ids:
            want = int(hashlib.md5(s.encode()).hexdigest(), 16) % n
            assert got[s] == want, (s, n)


def test_md5_shard_rejects_oversized_space(spark):
    with pytest.raises(ValueError):
        md5_shard("id", 1 << 31)


def test_validate_null_goes_to_error_channel(spark):
    """NULL computed-vs-declared used to vanish from BOTH frames."""
    df = spark.createDataFrame(
        [("a", "x", "x"), ("b", "x", "y"), ("c", "x", None), ("d", None, "x")],
        "volume_id string, declared string, computed_src string",
    )
    ok, errors = I.validate(df, F.col("computed_src"), "declared")
    assert sorted(r.volume_id for r in ok.collect()) == ["a"]
    assert sorted(r.volume_id for r in errors.collect()) == ["b", "c", "d"]
    assert ok.count() + errors.count() == df.count()  # nothing vanishes


def test_pairtree_path_slash_consistency(spark):
    """Even- and odd-length cleaned ids must both yield no trailing
    slash (the old version differed by parity)."""
    df = spark.createDataFrame([("abcd",), ("abcde",)], "id string")
    out = df.select(pairtree_path("id").alias("p")).toPandas()
    assert list(out.p) == ["ab/cd", "ab/cd/e"]


def test_mets_bad_size_is_error_row_not_job_abort(spark):
    from htrc_ingester_spark.sources import mets as M

    xml = M.synthesize_mets("v1", 2).replace('SIZE="1001"', 'SIZE="N/A"')
    df = spark.createDataFrame(pd.DataFrame({"volume_id": ["v1"], "mets_xml": [xml]}))
    parsed = M.parse_mets(df).toPandas()
    errs = parsed[parsed.kind == "error"]
    assert len(errs) == 1 and "bad SIZE" in errs.label.iloc[0]
    pages, _ = M.pages_table(M.parse_mets(df))
    assert sorted(pages.toPandas()["order"]) == [2]  # good page survives


def test_sampled_salt_plan_scales_counts(spark):
    from htrc_ingester_spark.operators import salting as S

    rows = [("hot", str(i)) for i in range(20_000)] + [("cold", "x")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v"]))
    plan = (
        S.salt_plan(S.key_histogram(df, "k", sample_fraction=0.1), "k", rows_per_task=2_000)
        .toPandas()
        .set_index("k")
        .n_salt.to_dict()
    )
    # ~20k estimated rows / 2k per task ⇒ ~10-way salt (sampling noise ±)
    assert plan["hot"] >= 7
    assert plan.get("cold", 1) == 1


def test_knn_many_no_duplicate_ranks_at_full_wrap(spark):
    """Full longitude wrap used to generate the same frontier cell
    twice (sequence(-nx/2, nx/2) is nx+1 offsets), letting one point
    occupy two top-k slots."""
    from htrc_ingester_spark.operators.knn_join import knn_join_many

    pdf = pd.DataFrame(
        {"image_id": ["a", "b"], "lon": [179.9, -179.9], "lat": [0.0, 0.1]}
    )
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q"], "lon": [0.0], "lat": [0.0], "k": [2]})
    )
    got = knn_join_many(spark, spark.createDataFrame(pdf), q, res=3).toPandas()
    assert sorted(got.image_id) == ["a", "b"]  # both points, once each
    assert sorted(got["rank"]) == [1, 2]


def test_sha1_declared_checksums_validate(spark):
    """validate_pages used to compare md5 against SHA1 declarations —
    every valid page of a SHA1-declared volume failed."""
    import hashlib

    from htrc_ingester_spark.sources import zipsource as Z

    joined = spark.createDataFrame(
        [
            ("v", "f1", 5, 5, hashlib.md5(b"aaaaa").hexdigest(),
             hashlib.sha1(b"aaaaa").hexdigest(), hashlib.sha1(b"aaaaa").hexdigest(), "SHA1"),
            ("v", "f2", 5, 5, hashlib.md5(b"bbbbb").hexdigest(),
             hashlib.sha1(b"bbbbb").hexdigest(), hashlib.md5(b"bbbbb").hexdigest(), "MD5"),
            ("v", "f3", 5, 5, "x", "y", "z", "CRC32"),  # unknown type → error channel
        ],
        "volume_id string, filename string, byte_count long, size long,"
        " md5 string, sha1 string, checksum string, checksum_type string",
    )
    ok, bad = Z.validate_pages(joined)
    assert sorted(r.filename for r in ok.collect()) == ["f1", "f2"]
    assert [r.filename for r in bad.collect()] == ["f3"]


def test_corrupt_zip_member_is_error_row_not_job_abort(spark):
    import io
    import zipfile

    from htrc_ingester_spark.sources import zipsource as Z

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("v/good.txt", "hello")
        z.writestr("v/bad.txt", "corrupt-me")
    blob = bytearray(buf.getvalue())
    # flip bytes inside bad.txt's stored data to break its CRC
    idx = bytes(blob).find(b"corrupt-me")
    blob[idx : idx + 4] = b"XXXX"
    df = spark.createDataFrame([("v1", bytes(blob))], "volume_id string, content binary")
    out = Z.explode_zip_pages(df).toPandas()
    good = out[out.filename == "good.txt"]
    bad = out[out.filename == "bad.txt"]
    assert len(good) == 1 and good.error.isna().all() and good.md5.notna().all()
    assert len(bad) == 1 and bad.error.notna().all()


def test_streaming_snapshots_are_versioned_with_history(spark, tmp_path):
    """merge_batch now commits through tables.py: each batch is a NEW
    immutable version (the old version=batch_id scheme self-overwrote
    the directory the lazy snapshot read was reading on crash replay)."""
    import os

    from htrc_ingester_spark import tables as TB
    from htrc_ingester_spark.streaming import incremental as S

    d = tmp_path
    os.makedirs(d / "dlogs")
    (d / "dlogs" / "t-001.txt").write_text("root/ab/uc2,ark+=13960=ta.zip\n")
    S.run_incremental_merge(spark, str(d / "dlogs"), str(d / "snap"), str(d / "ckpt"))
    (d / "dlogs" / "t-002.txt").write_text("root/ab/uc2,ark+=13960=tb.zip\n")
    S.run_incremental_merge(spark, str(d / "dlogs"), str(d / "snap"), str(d / "ckpt"))
    h = TB.history(str(d / "snap"))
    assert [e["version"] for e in h] == [0, 1]
    # time travel into the pre-batch-2 snapshot still works
    assert TB.read(spark, str(d / "snap"), version=0).count() == 1
    assert TB.read(spark, str(d / "snap")).count() == 2


class TestStaticPlan:
    def test_conf_restored_on_success_and_error(self, spark):
        from htrc_ingester_spark.session import static_plan

        before = spark.conf.get("spark.sql.adaptive.enabled")
        with static_plan(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            spark.range(10).count()
        assert spark.conf.get("spark.sql.adaptive.enabled") == before
        try:
            with static_plan(spark):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get("spark.sql.adaptive.enabled") == before


def test_knn_join_empty_query_frame_returns_typed_empty(spark):
    """ADVICE r4: an empty pandas query frame (object-dtype columns) must
    return an empty typed (query_id, image_id, dist_m, rank) frame, not
    raise 'can not infer schema from empty dataset'."""
    import pandas as pd

    from htrc_ingester_spark.operators.knn_join import knn_join

    pts = spark.createDataFrame(
        [("a", 10.0, 10.0)], "image_id string, lon double, lat double"
    )
    q = pd.DataFrame({"query_id": [], "lon": [], "lat": [], "k": []})
    out = knn_join(spark, pts, q)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "image_id", "dist_m", "rank",
    ]


def test_pq_fit_encode_empty_input_returns_typed_empty(spark):
    """ADVICE r4: pq_fit_encode on an empty corpus short-circuits to an
    empty typed codes frame instead of failing plan analysis on
    array_min(array())."""
    from htrc_ingester_spark.operators.clustering import pq_fit_encode

    df = spark.createDataFrame([], "vec_id string, embedding array<double>")
    codes, codebook = pq_fit_encode(df, m=2, k=4, iters=1, dim=4)
    assert codes.count() == 0
    assert dict(codes.dtypes) == {"vec_id": "string", "codes": "array<int>"}
    assert codebook.count() == 0


def test_pq_fit_encode_unpersists_quantized_corpus(spark):
    """ADVICE r4: the persisted quantized copy of the corpus is released
    once training collects the codebook — repeated calls must not grow
    the persistent-RDD census."""
    from htrc_ingester_spark.operators.clustering import pq_fit_encode

    rows = [
        (f"v{i}", [((i * 7 + j) % 13) / 4.0 - 1.5 for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(3):
        codes, _ = pq_fit_encode(df, m=2, k=4, iters=1, dim=8)
        codes.count()
    # unpersist is async (blocking=False); allow at most one in flight
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after <= before + 1


# ---------------------------------------------------------------------------
# Round-5 self-review fixes
# ---------------------------------------------------------------------------


def test_knn_bruteforce_empty_query_frame_returns_typed_empty(spark):
    """r5 review: the oracle twin must handle zero queries like the
    operator it verifies — an empty object-dtype pandas frame returns
    an empty typed result, not 'can not infer schema'."""
    import pandas as pd

    from htrc_ingester_spark.operators.knn_join import knn_join_bruteforce

    pts = spark.createDataFrame(
        [("a", 10.0, 10.0)], "image_id string, lon double, lat double"
    )
    q = pd.DataFrame({"query_id": [], "lon": [], "lat": [], "k": []})
    out = knn_join_bruteforce(spark, pts, q)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "image_id", "dist_m", "rank",
    ]


def test_bound_shingles_expr_matches_shingles_sql(spark):
    """r5 review: the bound-array shingle template is now built in ONE
    place (bound_shingles_expr); its string variant must emit the same
    shingles as shingles_sql — the cross-dialect oracle contract."""
    from pyspark.sql import functions as F

    from htrc_ingester_spark.operators.textdedup import (
        bound_shingles_expr,
        shingles_sql,
    )

    docs = spark.createDataFrame(
        [("d1", "the quick brown fox jumps over the lazy dog"),
         ("d2", "one two"),
         ("d3", "solo")],
        "doc_id string, text string",
    )
    k = 3
    bound = docs.select(
        "doc_id", F.expr("split(text, ' ')").alias("_w")
    ).select("doc_id", F.expr(bound_shingles_expr(k)).alias("sh"))
    direct = docs.select(
        "doc_id", F.expr(shingles_sql("text", k, "spark")).alias("sh")
    )
    assert sorted(bound.collect()) == sorted(direct.collect())


def test_seed_res_antimeridian_width():
    """r5 review: ring_bbox signals dateline crossing with
    lon_min > lon_max; the seed-level pick must use the true (wrapped)
    lon width, not a negative difference that collapses the span and
    seeds a wide thin polygon thousands of cells too fine."""
    import numpy as np

    from htrc_ingester_spark.operators.pip_join import build_cell_cover

    # 20 deg wide x 0.5 deg tall, straddling the dateline...
    ring_x = [(170.0, 10.0), (-170.0, 10.0), (-170.0, 10.5), (170.0, 10.5)]
    # ...and its mirror at lon 0 (identical size, no crossing)
    ring_0 = [(-10.0, 10.0), (10.0, 10.0), (10.0, 10.5), (-10.0, 10.5)]
    cov_x = build_cell_cover([{"poly_id": "x", "ring": ring_x}], res=5)
    cov_0 = build_cell_cover([{"poly_id": "0", "ring": ring_0}], res=5)
    # same polygon size => same-order cover size; the pre-fix seed
    # (span collapsed to 0.5 deg) blew the crossing cover up ~50x
    assert len(cov_x) <= 3 * len(cov_0)
    assert cov_x["full"].any()


def test_table_persist_lru_bounds_cached_frames():
    """r5 review: pip_join_table registers its persisted cover in a
    bounded LRU; covers from calls older than the window are
    unpersisted (never destroyed) so long-lived sessions don't strand
    a cached dataset per call."""
    from htrc_ingester_spark.operators import pip_join as P

    class Frame:
        def __init__(self):
            self.released = False

        def unpersist(self, blocking=False):
            self.released = True

    saved = list(P._TABLE_CACHE_LRU)
    P._TABLE_CACHE_LRU.clear()
    try:
        gens = [Frame() for _ in range(5)]
        for g in gens:
            P._table_cache_register(g)
        assert len(P._TABLE_CACHE_LRU) == P._TABLE_CACHE_KEEP
        for g in gens[: 5 - P._TABLE_CACHE_KEEP]:
            assert g.released
        for g in gens[5 - P._TABLE_CACHE_KEEP :]:
            assert not g.released
    finally:
        P._TABLE_CACHE_LRU.clear()
        P._TABLE_CACHE_LRU.extend(saved)
