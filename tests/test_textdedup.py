"""Unit tests for dedup / text-analysis / embedding operators with
pure-Python oracles (the reference's known-vector discipline,
TestUtil.java:45-127)."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark.operators import embedding as E
from htrc_ingester_spark.operators import textdedup as TD

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "completely different content about spark shuffle partitions and joins"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "le chat est dans la maison et le chien est dans le jardin pour une heure"),
    (5, "der hund ist in dem haus und die katze ist mit der maus von hier zu dort"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def _shingles(text: str, k: int = 3) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


class TestExactDedup:
    def test_collapses_exact_copies(self, docs_df):
        out = TD.exact_dedup(docs_df).toPandas().sort_values("doc_id")
        # docs 0 and 3 are identical → one survivor (id 0) with 2 copies
        assert len(out) == 5
        assert out[out.doc_id == 0].n_copies.iloc[0] == 2
        assert 3 not in set(out.doc_id)


class TestMinHashLSH:
    def test_finds_near_and_exact_dups_not_unrelated(self, spark, docs_df):
        pairs = TD.lsh_near_dup_pairs(docs_df, jaccard_threshold=0.5).toPandas()
        got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
        assert (0, 3) in got  # exact dup
        assert (0, 1) in got  # one-word change
        assert (1, 3) in got
        # unrelated docs must not pair
        for a, b in got:
            assert {a, b} <= {0, 1, 3}

    def test_jaccard_matches_python(self, spark, docs_df):
        pairs = TD.lsh_near_dup_pairs(docs_df, jaccard_threshold=0.5).toPandas()
        row = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)].iloc[0]
        sa, sb = _shingles(DOCS[0][1]), _shingles(DOCS[1][1])
        want = len(sa & sb) / len(sa | sb)
        assert abs(row.jaccard - want) < 1e-4

    def test_hot_bucket_cap_drops_boilerplate(self, spark):
        # 60 identical docs + cap 50 → the identical group is dropped
        # (exact dedup's job); a distinct near-pair still survives
        rows = [(i, "same boilerplate text repeated again and again here") for i in range(60)]
        rows += [(100, "a unique document with its own words entirely"),
                 (101, "a unique document with its own words mostly")]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        pairs = TD.lsh_near_dup_pairs(df, jaccard_threshold=0.3, max_bucket=50).toPandas()
        got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
        assert (100, 101) in got
        assert all(a >= 100 for a, _ in got)


class TestSimHash:
    def test_near_dups_closer_than_unrelated(self, docs_df):
        out = TD.simhash32(docs_df).toPandas().set_index("doc_id").simhash.to_dict()

        def ham(a, b):
            return bin((a ^ b) & 0xFFFFFFFF).count("1")

        assert ham(out[0], out[3]) == 0  # identical text
        assert ham(out[0], out[1]) < ham(out[0], out[2])

    def test_matches_python_oracle(self, docs_df):
        out = TD.simhash32(docs_df).toPandas().set_index("doc_id").simhash.to_dict()
        for doc_id, text in DOCS[:2]:
            acc = np.zeros(32)
            for w in text.split(" "):
                h = hashlib.md5(w.encode()).hexdigest()
                for i in range(32):
                    acc[i] += 1 if ord(h[i]) % 2 else -1
            want = sum(1 << i for i in range(32) if acc[i] > 0)
            assert out[doc_id] == want


class TestWinnow:
    def test_matches_python_oracle(self, docs_df):
        k, w = 8, 4
        out = (
            TD.winnow_fingerprints(docs_df, k=k, w=w)
            .toPandas()
            .set_index("doc_id")
            .fingerprints.to_dict()
        )
        for doc_id, text in DOCS[:3]:
            hashes = [
                hashlib.md5(text[i : i + k].encode()).hexdigest()
                for i in range(max(len(text) - k + 1, 1))
            ]
            fps = sorted({min(hashes[j : j + w]) for j in range(max(len(hashes) - w + 1, 1))})
            assert list(out[doc_id]) == fps

    def test_shared_content_shares_fingerprints(self, docs_df):
        out = (
            TD.winnow_fingerprints(docs_df)
            .toPandas()
            .set_index("doc_id")
            .fingerprints.to_dict()
        )
        s0, s1, s2 = (set(out[i]) for i in (0, 1, 2))
        assert len(s0 & s1) / len(s0 | s1) > 0.5
        assert len(s0 & s2) / len(s0 | s2) < 0.1


class TestTokensAndLang:
    def test_bpe_count_matches_python_re(self, spark):
        texts = ["hello, world! 42 times", "a-b--c 1x2", "..."]
        df = spark.createDataFrame(pd.DataFrame({"doc_id": range(3), "text": texts}))
        out = df.selectExpr(
            "doc_id", f"{TD.bpe_token_count_sql('text', 'spark')} as n"
        ).toPandas()
        for i, t in enumerate(texts):
            want = len(re.findall(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]", t))
            assert out[out.doc_id == i].n.iloc[0] == want

    def test_lang_id_classifies_planted_languages(self, docs_df):
        words = "split(text, ' ')"
        out = docs_df.selectExpr(
            "doc_id", f"{TD.lang_id_sql(words, 'spark')} as lang"
        ).toPandas().set_index("doc_id").lang.to_dict()
        assert out[0] == "en"
        assert out[4] == "fr"
        assert out[5] == "de"


class TestEmbeddingOps:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rng = np.random.default_rng(7)
        v = rng.normal(size=(40, 16)).astype(np.float32)
        v[30] = v[0]  # planted exact dup
        pdf = pd.DataFrame({"vec_id": range(40), "embedding": [r.tolist() for r in v]})
        return spark.createDataFrame(pdf), v

    def test_neardup_finds_planted_copy(self, spark, vecs):
        df, v = vecs
        pairs = E.neardup_pairs(df, dim=16).toPandas()
        assert (0, 30) in set(zip(pairs.id_a, pairs.id_b))
        assert all(c >= 0.999 for c in pairs.cos)

    def test_ann_topk_exact_within_bucket(self, spark, vecs):
        df, v = vecs
        qdf = df.where(F.col("vec_id") == 0).selectExpr("'q0' as query_id", "embedding")
        got = E.ann_topk(df, qdf, k=3, dim=16).toPandas()
        assert list(got["rank"]) == [1, 2, 3]
        # rank 1 must be the vector itself or its exact copy (cos 1)
        assert got.iloc[0].cos == pytest.approx(1.0, abs=1e-4)
        # every returned cos must equal the numpy cosine
        for r in got.itertuples(index=False):
            a, b = v[0], v[int(r.vec_id)]
            want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert abs(r.cos - want) < 1e-4

    def test_bucket_deterministic_across_partitionings(self, spark, vecs):
        df, _ = vecs
        b1 = E.with_bucket(df.repartition(1), dim=16).select("vec_id", "bucket").toPandas()
        b2 = E.with_bucket(df.repartition(8, "vec_id"), dim=16).select("vec_id", "bucket").toPandas()
        m1 = b1.sort_values("vec_id").reset_index(drop=True)
        m2 = b2.sort_values("vec_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(m1, m2)


class TestPhashNearDup:
    def test_finds_all_pairs_within_hamming_3(self, spark):
        """Pigeonhole completeness: with 4 bands of 16 bits, any pair
        differing in ≤3 bits must collide on ≥1 intact band — verify
        against a brute-force python oracle on 200 hashes + planted
        near-dups."""
        import itertools

        from htrc_ingester_spark.operators.embedding import phash_neardup_pairs

        base = [(i, (i * 0x9E3779B97F4A7C15) & 0x7FFFFFFFFFFFFFFF) for i in range(200)]
        planted = [
            (1000, base[3][1]),            # exact copy  (hamming 0)
            (1001, base[7][1] ^ 0b101),    # 2 bits      (hamming 2)
            (1002, base[9][1] ^ (1 << 40) ^ (1 << 2) ^ 1),  # 3 bits
            (1003, base[11][1] ^ 0b11110000),  # 4 bits — NOT guaranteed
        ]
        rows = base + planted
        df = spark.createDataFrame(rows, "image_id long, phash long")
        got = phash_neardup_pairs(df, max_hamming=3).toPandas()
        got_pairs = {(a, b) for a, b in zip(got.id_a, got.id_b)}

        def ham(x, y):
            return bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")

        want = {
            (min(i, j), max(i, j))
            for (i, x), (j, y) in itertools.combinations(rows, 2)
            if ham(x, y) <= 3
        }
        assert want <= got_pairs | want  # sanity
        assert got_pairs == want  # exact: nothing missed, nothing extra
        assert (3, 1000) in got_pairs and (7, 1001) in got_pairs and (9, 1002) in got_pairs
        assert (11, 1003) not in got_pairs  # 4 bits → beyond contract

    def test_hamming_values_exact_and_recall_contract(self, spark):
        from htrc_ingester_spark.operators.embedding import phash_neardup_pairs

        df = spark.createDataFrame(
            [(1, 0), (2, 0b101), (3, -1)], "image_id long, phash long"
        )
        got = phash_neardup_pairs(df, max_hamming=64).toPandas()
        m = {(r.id_a, r.id_b): r.hamming for r in got.itertuples(index=False)}
        assert m[(1, 2)] == 2  # shares 3 intact bands → found, exact value
        # 0 vs -1 differ in EVERY band → never candidates, even with a
        # permissive threshold: LSH recall is only guaranteed ≤3 bits
        assert (1, 3) not in m and (2, 3) not in m


class TestPhashSearch:
    def test_radius_search_complete_vs_bruteforce(self, spark):
        """phash_search finds EVERY image within hamming ≤3 of each
        query (pigeonhole completeness), ranks by (hamming, image_id),
        truncates at k — all verified against a python brute force."""
        from htrc_ingester_spark.operators.embedding import phash_search

        imgs = [(i, (i * 0x9E3779B97F4A7C15) & 0x7FFFFFFFFFFFFFFF) for i in range(300)]
        # planted in-radius neighbors of image 5's phash
        imgs += [(900, imgs[5][1]), (901, imgs[5][1] ^ 0b11), (902, imgs[5][1] ^ (1 << 50))]
        df = spark.createDataFrame(imgs, "image_id long, phash long")
        queries = spark.createDataFrame(
            [(5, imgs[5][1]), (17, imgs[17][1])], "query_id long, phash long"
        )
        got = phash_search(df, queries, max_hamming=3, k=10).toPandas()

        def ham(x, y):
            return bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")

        for qid, qph in [(5, imgs[5][1]), (17, imgs[17][1])]:
            want = sorted(
                (ham(qph, ph), i) for i, ph in imgs if ham(qph, ph) <= 3
            )[:10]
            sub = got[got.query_id == qid].sort_values("rank")
            assert [(int(h), int(i)) for h, i in zip(sub.hamming, sub.image_id)] == want
            assert list(sub["rank"]) == list(range(1, len(want) + 1))

    def test_radius_beyond_pigeonhole_raises(self, spark):
        from htrc_ingester_spark.operators.embedding import phash_search

        df = spark.createDataFrame([(1, 0)], "image_id long, phash long")
        q = spark.createDataFrame([(1, 0)], "query_id long, phash long")
        with pytest.raises(ValueError, match="pigeonhole"):
            phash_search(df, q, max_hamming=4)

    def test_no_k_returns_all_in_radius(self, spark):
        from htrc_ingester_spark.operators.embedding import phash_search

        df = spark.createDataFrame(
            [(1, 0), (2, 1), (3, 0b111), (4, 0b1111)], "image_id long, phash long"
        )
        q = spark.createDataFrame([(9, 0)], "query_id long, phash long")
        got = phash_search(df, q, max_hamming=3).toPandas()
        assert set(got.image_id) == {1, 2, 3}
        assert "rank" not in got.columns


def test_split_assign_deterministic_and_proportioned(spark):
    """Salted-md5 split: stable across reruns/partitionings and within
    a few points of the 80/10/10 target on 5k ids."""
    from pyspark.sql import functions as F

    from htrc_ingester_spark.operators.textdedup import split_assign_sql

    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    expr = split_assign_sql("doc_id", "spark")
    counts = dict(
        (r["split"], r["n"])
        for r in df.withColumn("split", F.expr(expr))
        .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    n = sum(counts.values())
    assert abs(counts["train"] / n - 0.8) < 0.03
    assert abs(counts["val"] / n - 0.1) < 0.02
    assert abs(counts["test"] / n - 0.1) < 0.02
    # determinism under repartitioning
    again = dict(
        (r["split"], r["n"])
        for r in df.repartition(17).withColumn("split", F.expr(expr))
        .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert counts == again


def test_tfidf_rare_term_outranks_common(spark):
    import pandas as pd

    from htrc_ingester_spark.operators.textdedup import tfidf_top_terms

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "common zebra",
                "common common common",
                "common yak yak",
            ],
        }
    )
    got = tfidf_top_terms(spark.createDataFrame(docs), top_k=1).toPandas()
    top = got.set_index("doc_id")["word"]
    assert top[1] == "zebra"   # rare term beats frequent-common
    assert top[3] == "yak"


def test_multiprobe_ann_recall_dominates_single_probe(spark):
    """Hamming-1 multi-probe must find a superset-or-equal candidate
    pool: per-query recall vs brute-force top-k is >= the single-probe
    recall, and candidate coverage strictly helps on at least one query
    for a boundary-heavy workload."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from htrc_ingester_spark.operators.embedding import ann_topk, cosine_sql

    rng = np.random.default_rng(9)
    n, dim, k = 400, 64, 10
    emb = pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [rng.normal(size=dim).tolist() for _ in range(n)],
        }
    )
    data = spark.createDataFrame(emb)
    qpdf = pd.DataFrame(
        {
            "query_id": [f"q{i}" for i in range(8)],
            "embedding": [rng.normal(size=dim).tolist() for _ in range(8)],
        }
    )
    qdf = spark.createDataFrame(qpdf)

    def topk_sets(df):
        out = df.toPandas()
        return {q: set(g.vec_id) for q, g in out.groupby("query_id")}

    single = topk_sets(ann_topk(data, qdf, k=k))
    multi = topk_sets(ann_topk(data, qdf, k=k, multi_probe=True))
    # brute-force truth
    brute = (
        data.crossJoin(F.broadcast(qdf.select("query_id", F.col("embedding").alias("_qv"))))
        .withColumn("cos", F.expr(cosine_sql("embedding", "_qv", "spark")))
        .withColumn(
            "rank",
            F.expr("row_number() over (partition by query_id order by cos desc, vec_id)"),
        )
        .where(F.col("rank") <= k)
    )
    truth = topk_sets(brute.select("query_id", "vec_id"))
    gain = 0
    for q in truth:
        r1 = len(single.get(q, set()) & truth[q])
        r2 = len(multi.get(q, set()) & truth[q])
        assert r2 >= r1, q
        gain += r2 - r1
    assert gain > 0  # boundary neighbors exist at this density


class TestDedupClusters:
    def test_chain_collapses_and_unpaired_survive(self, spark):
        import pandas as pd

        from htrc_ingester_spark.operators import textdedup as TD

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3, 9], "text": ["a"] * 4})
        )
        # pair graph 1-2, 2-3 (a chain: near-dup is not transitive, the
        # component is the dedup group); 9 unpaired
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3]})
        )
        cl = TD.dedup_clusters(docs, pairs).toPandas().set_index("doc_id").cluster
        assert cl[1] == cl[2] == cl[3] == 1
        assert cl[9] == 9
        keep = sorted(
            r.doc_id for r in TD.dedup_keep_canonical(docs, pairs).collect()
        )
        assert keep == [1, 9]


class TestPIIRedact:
    TEXTS = [
        (0, "write to alice.smith+spam@example.co.uk or bob@x.io today"),
        (1, "my ssn is 123-45-6789 and my ip is 192.168.1.254 ok"),
        (2, "call +1-555-867-5309 or 44 020 7946 0958 now"),
        (3, "no pii here at all, just words and numbers like 42"),
        (4, "combo a@b.com 999-88-7777 10.0.0.1 +1 555 123 4567 end"),
    ]

    def _oracle(self, text):
        out, counts = text, {}
        for name, pat, tok in TD.PII_PATTERNS:
            counts[f"n_{name}"] = len(re.findall(pat, out))
            out = re.sub(pat, tok, out)
        return counts, out

    def test_matches_python_re_oracle(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame(self.TEXTS, columns=["doc_id", "text"])
        )
        got = TD.pii_redact(df).toPandas().set_index("doc_id")
        for doc_id, text in self.TEXTS:
            counts, red = self._oracle(text)
            row = got.loc[doc_id]
            assert row["redacted"] == red, (doc_id, row["redacted"], red)
            for k, v in counts.items():
                assert row[k] == v, (doc_id, k, row[k], v)

    def test_counts_nonzero_where_expected(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame(self.TEXTS, columns=["doc_id", "text"])
        )
        got = TD.pii_redact(df).toPandas().set_index("doc_id")
        assert got.loc[0, "n_email"] == 2
        assert got.loc[1, "n_ssn"] == 1 and got.loc[1, "n_ipv4"] == 1
        assert got.loc[2, "n_phone"] >= 1
        assert got.loc[3, ["n_email", "n_ssn", "n_ipv4", "n_phone"]].sum() == 0

    def test_zero_exchange_plan(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame(self.TEXTS, columns=["doc_id", "text"])
        )
        plan = TD.pii_redact(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan

    def test_duckdb_cols_same_semantics(self, spark):
        import duckdb

        con = duckdb.connect()
        con.register("t", pd.DataFrame(self.TEXTS, columns=["doc_id", "text"]))
        want = con.sql(
            f"select doc_id, {TD.pii_redact_duckdb_cols('text')} from t order by doc_id"
        ).df()
        for _, row in want.iterrows():
            counts, red = self._oracle(row["text"] if "text" in row else self.TEXTS[int(row.doc_id)][1])
            assert row["redacted"] == red
            for k, v in counts.items():
                assert row[k] == v


class TestDecontaminate:
    CORPUS = [
        (10, "alpha beta gamma delta epsilon zeta eta theta"),       # shares 5-gram w/ bench
        (11, "one two three four five six seven eight nine"),        # clean
        (12, "beta gamma delta epsilon zeta something else here"),   # shares 5-gram w/ bench
        (13, "short doc"),                                           # < k words: never contaminated
        (14, "alpha beta gamma delta other epsilon zeta eta theta"), # 5-gram broken: clean
    ]
    BENCH = [
        (90, "prefix words alpha beta gamma delta epsilon zeta suffix"),
    ]

    def _oracle_survivors(self, k=5):
        def sh(t):
            w = t.split(" ")
            return {" ".join(w[i : i + k]) for i in range(max(len(w) - k + 1, 0))}

        bench_sh = set().union(*(sh(t) for _, t in self.BENCH))
        return {i for i, t in self.CORPUS if not (sh(t) & bench_sh)}

    def test_matches_set_oracle(self, spark):
        corpus = spark.createDataFrame(pd.DataFrame(self.CORPUS, columns=["doc_id", "text"]))
        bench = spark.createDataFrame(pd.DataFrame(self.BENCH, columns=["doc_id", "text"]))
        got = {r.doc_id for r in TD.decontaminate(corpus, bench, k=5).collect()}
        want = self._oracle_survivors()
        assert got == want
        assert 10 not in got and 12 not in got          # contaminated dropped
        assert {11, 13, 14} <= got                      # clean + short kept

    def test_broadcast_shapes_same_result(self, spark, forced):
        corpus = spark.createDataFrame(pd.DataFrame(self.CORPUS, columns=["doc_id", "text"]))
        bench = spark.createDataFrame(pd.DataFrame(self.BENCH, columns=["doc_id", "text"]))
        a = TD.decontaminate(corpus, bench, k=5)
        with forced():
            b = TD.decontaminate(corpus, bench, k=5)
        assert {r.doc_id for r in a.collect()} == {r.doc_id for r in b.collect()}
        pa = a._jdf.queryExecution().executedPlan().toString()
        pb = b._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in pa


class TestRepetitionStats:
    def test_hand_computed_fractions(self, spark):
        # doc 0: "a a a b" -> n=4, distinct=2, dup_word=0.5, top=3/4,
        #        bigrams [a a, a a, a b] -> distinct 2/3 -> dup_bi=1/3
        # doc 1: all distinct -> zeros
        df = spark.createDataFrame(
            [(0, "a a a b"), (1, "u v w x y z")], "doc_id long, text string"
        )
        got = TD.repetition_stats(df).toPandas().set_index("doc_id")
        assert got.loc[0, "n_words"] == 4
        assert got.loc[0, "dup_word_frac"] == 0.5
        assert got.loc[0, "top_word_frac"] == 0.75
        assert got.loc[0, "dup_bigram_frac"] == round(1 - 2 / 3, 6)
        assert bool(got.loc[0, "flagged"])
        assert got.loc[1, "dup_word_frac"] == 0.0
        assert got.loc[1, "top_word_frac"] == round(1 / 6, 6)
        assert not bool(got.loc[1, "flagged"])

    def test_matches_duckdb_twin(self, spark):
        import duckdb

        rows = [(i, " ".join(f"w{(i * j) % 7}" for j in range(15))) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = TD.repetition_stats(df).toPandas().sort_values("doc_id").reset_index(drop=True)
        con = duckdb.connect()
        con.register("d", pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = con.sql(
            TD.repetition_stats_duckdb_sql("select doc_id, text from d") + " order by 1"
        ).df()
        for c in ["n_words", "dup_word_frac", "dup_bigram_frac", "top_word_frac", "flagged"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c

    def test_two_exchanges_no_join(self, spark):
        df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        plan = TD.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Join") == 0
        assert plan.count("Exchange") <= 2


class TestR5ReviewRegressions:
    """r5 review: edge contracts that crashed or silently mis-answered."""

    def test_repetition_stats_single_word_doc(self, spark):
        """A doc with < 2 words has no bigrams: pre-fix the division
        aborted the whole job with DIVIDE_BY_ZERO under ANSI. NULL
        dup_bigram_frac matches the DuckDB twin's x/0 = NULL."""
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0, 1], "text": ["hello", "a a b"]})
        )
        out = TD.repetition_stats(df).toPandas().set_index("doc_id")
        assert pd.isna(out.loc[0, "dup_bigram_frac"])
        assert out.loc[1, "n_words"] == 3

    def test_dedup_clusters_clean_corpus_no_pairs(self, spark):
        """Zero near-dup pairs (a clean corpus) must yield every doc as
        its own cluster, not CANNOT_INFER_EMPTY_SCHEMA."""
        df = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [10, 20], "text": ["alpha beta gamma delta epsilon zeta", "one two three four five six"]}
            )
        )
        pairs = TD.lsh_near_dup_pairs(df, jaccard_threshold=0.5)
        assert pairs.count() == 0
        cl = TD.dedup_clusters(df, pairs).toPandas().sort_values("doc_id")
        assert list(cl.cluster) == [10, 20]
        surv = TD.dedup_keep_canonical(df, pairs)
        assert surv.count() == 2

    def test_exact_dedup_null_text_not_grouped(self, spark):
        """NULL-text docs (failed OCR) must pass through as singleton
        groups — md5(NULL) grouped them ALL into one survivor."""
        df = spark.createDataFrame(
            [(1, None), (2, None), (3, "same"), (4, "same")],
            "doc_id bigint, text string",
        )
        out = TD.exact_dedup(df).toPandas().sort_values("doc_id").reset_index(drop=True)
        assert list(out.doc_id) == [1, 2, 3]
        assert list(out.n_copies) == [1, 1, 2]

    def test_phone_formats_without_country_code_redacted(self, spark):
        df = spark.createDataFrame(
            [
                (0, "call 555-123-4567 now"),
                (1, "call (555) 123-4567 now"),
                (2, "call +1-555-123-4567 now"),
                (3, "no numbers here"),
            ],
            "doc_id bigint, text string",
        )
        out = TD.pii_redact(df).toPandas().set_index("doc_id")
        assert list(out.n_phone) == [1, 1, 1, 0]
        for i in range(3):
            assert "[PHONE]" in out.loc[i, "redacted"]
            assert "4567" not in out.loc[i, "redacted"]


class TestEmbeddingEdgeContracts:
    """r5 review: zero-norm vectors, dim contract, nprobe validation."""

    def _df(self, spark, extra=()):
        rows = [(i, [0.1 * (i + 1)] * 7 + [0.3]) for i in range(20)]
        rows += list(extra)
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def test_zero_vector_is_not_a_near_dup_or_top_hit(self, spark):
        """cos(zero, x) was NaN — greater than everything under Spark's
        ordering, so the zero vector ranked #1 for every query and
        passed the near-dup threshold. NULL now: filtered/last."""
        df = self._df(spark, extra=[(99, [0.0] * 8)])
        pairs = E.neardup_pairs(df, threshold=0.9, dim=8).toPandas()
        assert 99 not in set(pairs.id_a) | set(pairs.id_b)
        q = spark.createDataFrame(
            [("q", [0.1] * 8)], "query_id string, embedding array<double>"
        )
        top = E.ann_topk(df, q, k=3, dim=8).toPandas()
        assert 99 not in set(top.vec_id)
        assert top.cos.notna().all()

    def test_wrong_dim_raises_descriptively(self, spark):
        """A mis-sized embedding silently landed every row in bucket 0
        (zip_with null-pads) or vanished from IVF via a NULL cell."""
        df = self._df(spark)  # 8-dim vectors, default dim=64
        q = spark.createDataFrame(
            [("q", [0.1] * 8)], "query_id string, embedding array<double>"
        )
        with pytest.raises(Exception, match="embedding size 8 != expected 64"):
            E.ann_topk(df, q, k=3).count()
        with pytest.raises(Exception, match="embedding size 8 != expected 64"):
            E.ivf_topk(df, q, k=3).count()

    def test_nprobe_out_of_range_raises(self, spark):
        df = self._df(spark)
        q = spark.createDataFrame(
            [("q", [0.1] * 8)], "query_id string, embedding array<double>"
        )
        for bad in (0, 17, 18):
            with pytest.raises(ValueError, match="nprobe"):
                E.ivf_topk(df, q, k=3, dim=8, nprobe=bad)
