"""Similarity search + embedding near-dup over `embeddings`
(array<float> column), task-brief "similarity search" family.

Two plans:

- brute-force cosine/dot top-k — correct baseline, O(N) per query,
  expressed entirely with built-in higher-order functions
  (``zip_with`` + ``aggregate``) — JVM-side, no UDF, no shuffle beyond
  the final top-k;
- hyperplane-LSH bucketed ANN — the scale path: 8 deterministic
  random-ish hyperplanes whose ±1 components derive from md5 hex-char
  parity (identical arithmetic in Spark SQL and DuckDB, so the oracle
  value-checks the real bucketing); bucket = 8-bit signature; queries
  probe only their bucket. At 10^12 rows the bucket column becomes the
  partition key (bucket-pruned scans); multi-probe = flip one bit at a
  time (hamming-1 neighbors) for recall without rescanning.

Near-dup: same-bucket self-join candidates → exact cosine verify ≥ τ
— the MinHash/LSH shape (textdedup.py) transplanted to vectors.

No RNG anywhere: hyperplane component s(p, d) = ±1 from
``ascii(substr(md5('p<p>:<d>'), 1, 1)) % 2`` — hex digits split 8/8 on
ascii parity, so components are unbiased and fixed forever (the
determinism discipline of the north rule: same input ⇒ same bucket on
any cluster size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import broadcast_threshold, fits_driver, plan_bytes
from .textdedup import bucket_pairs, explode_bands

N_PLANES = 8


def _md5_sign(tag: str) -> float:
    """±1.0 from the first md5 hex char's ascii parity — the Python
    twin of the SQL expression ``2*(ascii(substr(md5(tag),1,1))%2)-1``
    (hex digits split 8/8 on ascii parity → unbiased)."""
    import hashlib

    return float(2 * (ord(hashlib.md5(tag.encode()).hexdigest()[0]) % 2) - 1)


def _sign_literal_array(tag: str, dim: int, dialect: str) -> str:
    """±1.0 component literal array from the md5-parity family, tagged
    ``{tag}:{d}`` per component. The components are PRECOMPUTED and
    embedded as literals: the lambda form made every engine evaluate
    dim md5 digests per plane PER ROW (Catalyst does not constant-fold
    through higher-order lambdas — measured 512 md5/row on the 8-plane
    bucket), where the array is a compile-time constant. ONE builder
    for both the LSH hyperplanes and the IVF centroids so the dialect
    spelling can never drift between them."""
    comps = ", ".join(repr(_md5_sign(f"{tag}:{d}")) for d in range(dim))
    if dialect == "spark":
        return f"cast(array({comps}) as array<double>)"
    return f"cast(list_value({comps}) as double[])"


def sign_array_sql(plane: int, dim: int, dialect: str) -> str:
    """±1.0 component array of hyperplane ``plane`` (length ``dim``)."""
    return _sign_literal_array(f"p{plane}", dim, dialect)


def dot_sql(vec_a: str, vec_b: str, dialect: str) -> str:
    """Sequential-order dot product (deterministic fold in both)."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({vec_a}, {vec_b},"
            f" (a, b) -> cast(a as double) * cast(b as double)),"
            f" cast(0.0 as double), (acc, x) -> acc + x)"
        )
    return f"list_dot_product(cast({vec_a} as double[]), cast({vec_b} as double[]))"


def norm_sql(vec: str, dialect: str) -> str:
    return f"sqrt({dot_sql(vec, vec, dialect)})"


def bucket_sql(vec: str, dim: int, dialect: str) -> str:
    """8-bit LSH bucket: bit p = sign of <vec, plane_p>."""
    bits = [
        f"(case when {dot_sql(vec, sign_array_sql(p, dim, dialect), dialect)} > 0"
        f" then {1 << p} else 0 end)"
        for p in range(N_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


def cosine_sql(vec_a: str, vec_b: str, dialect: str) -> str:
    """Exact cosine. Zero-norm guard (both dialects): a zero vector has
    no direction, so its cosine is NULL via nullif — NOT NaN, which
    Spark orders GREATER than every number (a zero-padding artifact
    row would rank #1 in every top-k and pass ``cos >= threshold``
    near-dup filters as a false pair). NULL instead sorts last under
    desc in both engines and fails threshold filters."""
    return (
        f"({dot_sql(vec_a, vec_b, dialect)} /"
        f" nullif({norm_sql(vec_a, dialect)} * {norm_sql(vec_b, dialect)},"
        f" cast(0.0 as double)))"
    )


def _cos_norms_sql(vec_a: str, vec_b: str, norm_a: str, norm_b: str) -> str:
    """Spark-side cosine over PRE-MATERIALIZED norm columns: inlining
    :func:`cosine_sql` per candidate recomputes each vector's norm for
    every pair it appears in (a full dim-length fold each) — computing
    the norm once per ROW before the join cuts per-candidate work to
    one dot + multiply-divide. Same arithmetic, bit-identical values
    to the oracle's inline form."""
    return (
        f"({dot_sql(vec_a, vec_b, 'spark')} /"
        f" nullif({norm_a} * {norm_b}, cast(0.0 as double)))"
    )


def _checked_vec_sql(vec_col: str, dim: int) -> str:
    """Wrap a vector reference with a size contract: a mis-sized
    embedding is data corruption and must surface loudly (zip_with
    null-pads silently, the dot goes NULL, and every such row lands in
    bucket 0 / vanishes from IVF through a NULL cell — an 'ANN' that
    silently degenerates). NULL vectors pass through (null-propagating
    operators filter them downstream)."""
    return (
        f"if({vec_col} is not null and size({vec_col}) != {dim},"
        f" raise_error(concat('embedding size ', cast(size({vec_col}) as string),"
        f" ' != expected {dim}')), {vec_col})"
    )


def with_bucket(df: DataFrame, vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    checked = _checked_vec_sql(vec_col, dim)
    return df.withColumn("bucket", F.expr(bucket_sql(checked, dim, "spark")).cast("int"))


def _maybe_broadcast(q: DataFrame) -> DataFrame:
    """Query-side join hint guard (VERDICT r2): pin the broadcast only
    when Catalyst's size estimate says the query frame fits the
    broadcast threshold — an unconditional ``F.broadcast`` OOMs on a
    10^8-query batch. Un-hinted joins are left to AQE (which can still
    pick a runtime broadcast from actual sizes)."""
    spark = q.sparkSession
    if fits_driver(spark, plan_bytes(q), broadcast_threshold(spark)):
        return F.broadcast(q)
    return q


def ann_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    multi_probe: bool = False,
) -> DataFrame:
    """Bucketed approximate top-k: each query scans only its bucket.
    query_df: (query_id, embedding). Returns (query_id, vec_id, cos,
    rank) ranked by (cos desc, vec_id) — total order, deterministic.

    ``multi_probe=True`` also probes the query bucket's hamming-1
    neighbors (flip one signature bit at a time → N_PLANES extra
    buckets per query): the standard recall knob — a near neighbor
    whose dot against ONE hyperplane flips sign lands one bit away.
    Scan fraction grows from 1/2^P to (P+1)/2^P of the table; still an
    equi-join on the bucket column (partition-pruned at scale)."""
    from pyspark.sql import Window

    # project down to (id, vec) BEFORE the join: extra df columns
    # (worse: one named query_id) would ride the bucket join and rank
    # window — ivf_topk/neardup_pairs already prune identically. The
    # norm is materialized once per row (see _cos_norms_sql).
    data = with_bucket(df.select(id_col, vec_col), vec_col, dim).withColumn(
        "_n", F.expr(norm_sql(vec_col, "spark"))
    )
    q = with_bucket(
        query_df.select(F.col("query_id"), F.col(vec_col).alias("_qv")), "_qv", dim
    ).withColumn("_qn", F.expr(norm_sql("_qv", "spark")))
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.expr(f"cast(bucket ^ {1 << p} as int)")
                for p in range(N_PLANES)
            ],
        )
        q = q.withColumn("_qb", F.explode(probes)).drop("bucket")
    else:
        q = q.withColumnRenamed("bucket", "_qb")
    cand = data.join(
        _maybe_broadcast(q), F.col("bucket") == F.col("_qb"), "inner"
    ).withColumn(
        "cos", F.expr(f"round({_cos_norms_sql(vec_col, '_qv', '_n', '_qn')}, 5)")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cos", "rank")
    )


def neardup_pairs(
    df: DataFrame,
    threshold: float = 0.999,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: same-bucket candidates → exact
    cosine ≥ threshold. Returns (id_a, id_b, cos).

    ``max_bucket`` is the hot-bucket guard its siblings already carry
    (phash_neardup_pairs, lsh_near_dup_pairs): a flood of near-identical
    vectors — exactly this operator's target workload — lands in ONE
    8-bit bucket and the self-join goes quadratic in the flood before
    the cosine filter runs. Buckets above the cap are dropped from the
    pair search (they are the all-identical groups exact dedup
    collapses); inspect them with :func:`oversized_buckets` — the
    drop is observable, never silent. The DEFAULT is ``None``
    (exhaustive — a public pair-finder must not silently lose pairs);
    scale-sensitive call sites opt into the guard explicitly (the
    catalog entry passes 1000)."""
    b = with_bucket(df.select(id_col, vec_col), vec_col, dim).withColumn(
        "_norm", F.expr(norm_sql(vec_col, "spark"))
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        wb = Window.partitionBy("bucket")
        b = (
            b.withColumn("_n", F.count(F.lit(1)).over(wb))
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a1 = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
        F.col("_norm").alias("_na"), F.col("bucket"),
    )
    a2 = b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
        F.col("_norm").alias("_nb"), F.col("bucket"),
    )
    return (
        a1.join(a2, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", F.expr(f"round({_cos_norms_sql('_va', '_vb', '_na', '_nb')}, 5)")
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def oversized_buckets(
    df: DataFrame,
    max_bucket: int = 1000,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """The side channel for ``neardup_pairs``' hot-bucket guard:
    (bucket, n) rows the guard would drop — route these to exact dedup
    or a salted verify instead of the quadratic self-join."""
    return (
        with_bucket(df, vec_col, dim)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_bucket)
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer of nlist deterministic centroids
# (±1-corner vectors from the same md5-parity family — RNG-free, fixed
# forever). Rows are assigned to their argmax-dot centroid ("inverted
# list"); a query probes only its nprobe best centroids and re-ranks
# those lists by exact cosine. The classic IVF recall/scan-fraction
# trade with everything a pure column expression — at 10^12 rows
# `ivf_cell` becomes the partition key and probing nprobe lists is a
# partition-pruned scan of ~nprobe/nlist of the table.
# ---------------------------------------------------------------------------

N_LIST = 16


def ivf_centroid_sql(c: int, dim: int, dialect: str) -> str:
    """±1.0 component array of centroid ``c`` (shared
    :func:`_sign_literal_array` builder — see its precompute note)."""
    return _sign_literal_array(f"ivf{c}", dim, dialect)


def ivf_dots_sql(vec: str, dim: int, nlist: int, dialect: str) -> str:
    """Array of <vec, centroid_c> for c in 0..nlist-1 (unrolled — the
    centroids are compile-time literals)."""
    if dialect == "spark":
        dots = [dot_sql(vec, ivf_centroid_sql(c, dim, "spark"), "spark") for c in range(nlist)]
        return f"array({', '.join(dots)})"
    dots = [
        f"list_dot_product(cast({vec} as double[]), {ivf_centroid_sql(c, dim, 'duckdb')})"
        for c in range(nlist)
    ]
    return f"list_value({', '.join(dots)})"


def ivf_cell_sql(dots: str, dialect: str) -> str:
    """1-based argmax-dot centroid id (first max on ties — both
    dialects return the first position)."""
    if dialect == "spark":
        return f"cast(array_position({dots}, array_max({dots})) as int)"
    return f"cast(list_position({dots}, list_max({dots})) as int)"


def ivf_probe_threshold_sql(dots: str, nlist: int, nprobe: int, dialect: str) -> str:
    """The nprobe-th largest dot — materialize this as its OWN column
    on the Spark side (Catalyst does not hoist subexpressions out of
    HOF lambdas, so an inline threshold re-sorts the dot array once
    per lambda element)."""
    if not 1 <= nprobe <= nlist:
        # out of range silently degenerated: index 0 errors in Spark /
        # NULLs in DuckDB, and a negative index counts from the array
        # END — asking for more recall silently probed the minimum
        raise ValueError(f"nprobe must be in 1..{nlist}, got {nprobe}")
    if dialect == "spark":
        return f"element_at(array_sort({dots}), {nlist - nprobe + 1})"
    return f"(list_sort({dots}))[{nlist - nprobe + 1}]"


def ivf_probe_cells_sql(
    dots: str, nlist: int, nprobe: int, dialect: str, thr: str | None = None
) -> str:
    """Cells whose dot ≥ the nprobe-th largest (≥ nprobe cells when
    tied — deterministic, identical in both dialects). Pass ``thr``
    to reference a pre-materialized threshold column instead of
    inlining the sort into the filter lambda."""
    if thr is None:
        thr = ivf_probe_threshold_sql(dots, nlist, nprobe, dialect)
    elif not 1 <= nprobe <= nlist:
        raise ValueError(f"nprobe must be in 1..{nlist}, got {nprobe}")
    if dialect == "spark":
        return f"filter(sequence(1, {nlist}), c -> element_at({dots}, c) >= {thr})"
    return f"list_filter(range(1, {nlist + 1}), c -> ({dots})[c] >= {thr})"


def ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    nlist: int = N_LIST,
) -> DataFrame:
    """IVF approximate top-k: assign rows to inverted lists, probe the
    query's ``nprobe`` nearest lists, exact-cosine re-rank. Returns
    (query_id, vec_id, cos, rank) ordered by (cos desc, vec_id)."""
    from pyspark.sql import Window

    # materialize the nlist×dim literal dot array ONCE per side and
    # reference it as a COLUMN: ivf_cell_sql/ivf_probe_cells_sql each
    # interpolate `dots` 2-3 times, and with the 1024-term expression
    # inlined at every site the generated code paid ~1.8 s of Janino
    # compile per stage (measured at sf0.1: cell assign 2.13 s cold
    # inline vs 0.30 s as a column, identical warm walls — Catalyst's
    # CollapseProject keeps multiply-referenced non-cheap aliases as a
    # separate projection, so the column form compiles the big
    # expression exactly once)
    dots = ivf_dots_sql(_checked_vec_sql(vec_col, dim), dim, nlist, "spark")
    data = (
        df.select(id_col, vec_col)
        .withColumn("_dots", F.expr(dots))
        .withColumn("ivf_cell", F.expr(ivf_cell_sql("_dots", "spark")))
        .drop("_dots")
        .withColumn("_n", F.expr(norm_sql(vec_col, "spark")))
    )
    qdots = ivf_dots_sql(_checked_vec_sql("_qv", dim), dim, nlist, "spark")
    q = (
        query_df.select(F.col("query_id"), F.col(vec_col).alias("_qv"))
        .withColumn("_qdots", F.expr(qdots))
        # threshold as its own column: inlined, the array_sort re-ran
        # once per filter-lambda element (nlist sorts per row)
        .withColumn(
            "_thr", F.expr(ivf_probe_threshold_sql("_qdots", nlist, nprobe, "spark"))
        )
        .withColumn(
            "ivf_cell",
            F.explode(
                F.expr(ivf_probe_cells_sql("_qdots", nlist, nprobe, "spark", thr="_thr"))
            ),
        )
        .withColumn("ivf_cell", F.col("ivf_cell").cast("int"))
        .drop("_qdots", "_thr")
        .withColumn("_qn", F.expr(norm_sql("_qv", "spark")))
    )
    cand = data.join(_maybe_broadcast(q), "ivf_cell").withColumn(
        "cos", F.expr(f"round({_cos_norms_sql(vec_col, '_qv', '_n', '_qn')}, 5)")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Image near-dup by perceptual hash: band the 64-bit phash into 4x16-bit
# LSH buckets (two images within hamming distance d collide on some
# band with probability ≥ 1 - (d/4 choose ...) — any pair with ≤3
# differing bits shares at least one intact band by pigeonhole),
# bucket-pair candidates, verify exact hamming ≤ threshold. All integer
# column expressions — identical in Spark SQL and DuckDB.
# ---------------------------------------------------------------------------

N_PHASH_BANDS = 4


def phash_band_sql(phash: str, band: int, dialect: str) -> str:
    if dialect == "spark":
        return f"(shiftright({phash}, {band * 16}) & 65535)"
    return f"(({phash} >> {band * 16}) & 65535)"


def hamming64_sql(a: str, b: str, dialect: str) -> str:
    """Popcount of XOR via 64 bit tests (no popcount parity needed
    across dialects; constant-folds into a codegen span).

    NOTE: DuckDB's ``^`` is exponentiation — bitwise xor is ``xor()``;
    Spark SQL's ``^`` is the bitwise op."""
    if dialect == "spark":
        x = f"({a} ^ {b})"
        terms = [f"cast((shiftright({x}, {i}) & 1) as int)" for i in range(64)]
    else:
        x = f"xor({a}, {b})"
        terms = [f"cast((({x} >> {i}) & 1) as int)" for i in range(64)]
    return "(" + " + ".join(terms) + ")"


def _phash_bands(ph: str) -> list:
    """The 4×16-bit band buckets of a 64-bit phash column — shared by
    phash_neardup_pairs and phash_search (one copy, so the
    pigeonhole-completeness contract both rely on cannot drift)."""
    return [F.expr(phash_band_sql(ph, b, "spark")) for b in range(N_PHASH_BANDS)]


def phash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_bucket: int = 100,
) -> DataFrame:
    """(id_a, id_b, hamming) for images whose phash differs by ≤
    ``max_hamming`` bits. Pigeonhole-complete for max_hamming ≤ 3 with
    4 bands (≤3 flipped bits cannot touch all 4 bands). Candidates come
    from textdedup.bucket_pairs (one exchange), whose window count
    caps hot buckets (identical-phash floods) like MinHash boilerplate."""
    sig = explode_bands(df, _phash_bands(phash_col), [id_col, phash_col])
    # Spark-side hamming: one codegen bit_count over the xor (the
    # 64-bit-test template stays for the DuckDB oracle dialect, where
    # it exists for cross-engine spelling parity — values identical)
    return (
        bucket_pairs(sig, f"struct({id_col}, {phash_col})", max_bucket)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr(f"cast(bit_count(a.{phash_col} ^ b.{phash_col}) as int)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def phash_search(
    df: DataFrame,
    query_df: DataFrame,
    max_hamming: int = 3,
    k: int | None = None,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Radius search over the 64-bit phash column: all (query_id,
    image_id, hamming) with hamming ≤ ``max_hamming``, optionally
    truncated to the top ``k`` per query ranked by (hamming, image_id).

    EXACT, not approximate, for ``max_hamming ≤ 3``: with 4×16-bit
    bands, ≤3 flipped bits cannot touch all 4 bands (pigeonhole), so
    every in-radius image shares at least one intact band with the
    query and the band equi-join has complete recall. The DuckDB
    oracle is therefore the brute-force cross join — a completeness
    guarantee, not a recall probability. Scale shape: one equi-join on
    (band, bucket) — at 10^12 images the table side is hash-partitioned
    by bucket, each query probes 4 buckets (~4/2^16 of the table);
    bytes never move, only (id, phash) pairs.

    Skew caveat: a low-entropy band (e.g. a corpus of near-flat images
    whose DCT sign bits agree) makes that band one hot bucket and the
    join quadratic. Unlike phash_neardup_pairs there is NO bucket cap
    here — dropping a hot bucket would break the completeness
    guarantee; shard hot phash values upstream (or pre-aggregate
    identical phashes and fan results back out) if the histogram shows
    a band collapsing.

    query_df: (query_id, phash). Broadcast guard mirrors ann_topk
    (VERDICT r2): auto from Catalyst's size estimate, AQE otherwise.
    """
    if max_hamming > N_PHASH_BANDS - 1:
        raise ValueError(
            f"banded search is only pigeonhole-complete for max_hamming <= "
            f"{N_PHASH_BANDS - 1}; got {max_hamming}"
        )

    data = explode_bands(df, _phash_bands(phash_col), [id_col, phash_col])
    q = explode_bands(
        query_df.select("query_id", F.col(phash_col).alias("_qph")),
        _phash_bands("_qph"),
        ["query_id", "_qph"],
    )
    out = (
        data.join(_maybe_broadcast(q), ["band", "bucket"])
        .select("query_id", id_col, phash_col, "_qph")
        .distinct()  # an image may collide with the query on >1 band
        .select(
            "query_id",
            F.col(id_col),
            # one codegen bit_count, as phash_neardup_pairs does — the
            # 64-term hamming64_sql template stays for the DuckDB
            # oracle dialect only (values identical)
            F.expr(f"cast(bit_count(_qph ^ {phash_col}) as int)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    if k is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy("hamming", id_col)
        out = out.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    return out
