"""Column-expression function library.

Everything here compiles to JVM-side Catalyst expressions (whole-stage
codegen) — NO Python in the hot path. The only Python-executed pieces
in the whole engine are the Arrow UDFs in ``operators/`` (PIP refine,
S2 encode, image decode) where trigonometry-free SQL can't express the
semantics.

Scalar-function parity with the reference (SURVEY.md §2.7):
  C1 md5/sha1       -> F.md5 / F.sha1 builtins
  C2 md5-mod-N      -> md5_shard_expr (exact-parity) / pmod(xxhash64)
  C3 string helpers -> concat/lpad/regexp_replace/substring_index
  C5 pairtree clean -> translate chain (DeltaLogParser.java:372,433)
  F6 seq zero-pad   -> lpad (HectorManager.java:616-634, Util.java:186-195)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ensure_parallelism(df):
    """Round-robin repartition when the input arrives with far fewer
    partitions than the session has cores. A small parquet file (one
    sub-MB footer → 1-2 splits) otherwise pins every downstream
    projection/aggregation to 1-2 threads — measured 4.2 s → sub-second
    for the PQ encode projection and 1.6 s → 0.49 s for the minhash
    shingle explode at sf0.1 on local[32]. At 100-TB scale inputs
    arrive with thousands of splits and this is a no-op: the guard
    only fires below HALF the default parallelism, so it never inserts
    a shuffle into an already-parallel plan."""
    if df.isStreaming:
        # partition counts are per-micro-batch; .rdd is illegal on a
        # streaming frame — leave streaming plans untouched
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df

from ..geo import h3lite

# ---------------------------------------------------------------------------
# spatial encodes (pure arithmetic — identical results in numpy & DuckDB)
# ---------------------------------------------------------------------------


def h3_cell(lon_col: str, lat_col: str, res: int) -> Column:
    """H3-lite cell id as a Catalyst expression (codegen'd; also valid
    DuckDB SQL via h3lite.h3_sql_expr — the oracle runs the same math)."""
    return F.expr(h3lite.h3_sql_expr(lon_col, lat_col, res))


def tile_sql_expr(cell_expr: str, n_tiles: int, dialect: str = "spark") -> str:
    """Deterministic cell→tile hash, overflow-safe in signed int64 and
    expressible in both Spark SQL and DuckDB (north-rule raster↔vector
    tile assignment; determinism rules out RNG/partition-order tricks).

    Mix: split the cell id into two ~20-bit halves, Knuth-multiply each,
    fold mod a Mersenne prime, then mod n_tiles."""
    idiv = h3lite._IDIV[dialect]
    c = f"cast({cell_expr} as bigint)"
    m1 = f"({c} % 1048573)"
    m2 = f"(({c} {idiv} 1048573) % 1048573)"
    return f"cast((({m1} * 2654435761 + {m2} * 40503) % 2147483647) % {n_tiles} as int)"


def tile_id(cell_col: str, n_tiles: int) -> Column:
    return F.expr(tile_sql_expr(cell_col, n_tiles, dialect="spark"))


def tile_id_np(cell, n_tiles: int):
    """numpy twin of tile_sql_expr — used by the pure-Python oracle."""
    import numpy as np

    c = np.asarray(cell, dtype=np.int64)
    m1 = c % 1048573
    m2 = (c // 1048573) % 1048573
    return ((m1 * 2654435761 + m2 * 40503) % 2147483647 % n_tiles).astype(np.int32)


def haversine_sql_expr(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle meters as pure SQL (sin/cos/asin/sqrt/radians exist
    in both Spark SQL and DuckDB) — distance stays JVM-side for kNN."""
    return (
        f"2.0 * 6371008.8 * asin(sqrt("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin((radians({lon2}) - radians({lon1})) / 2), 2)))"
    )


def haversine_m(lat1: str, lon1: str, lat2: str, lon2: str) -> Column:
    return F.expr(haversine_sql_expr(lat1, lon1, lat2, lon2))


# ---------------------------------------------------------------------------
# reference scalar-function parity (SURVEY.md §2.7, §2.2)
# ---------------------------------------------------------------------------


def md5_shard(col: Column | str, hash_space: int) -> Column:
    """EXACT parity with the reference's MD5-mod-N shard selector
    (Util.java:86-103: BigInteger(md5 hex, 16) mod N): the full 128-bit
    digest mod N, via split halves — (hi·2⁶⁴ + lo) mod N =
    ((hi mod N)·(2⁶⁴ mod N) + lo mod N) mod N. Requires N < 2³¹ so the
    intermediate product fits int64 (N·N < 2⁶²)."""
    if not (0 < hash_space < (1 << 31)):
        raise ValueError("hash_space must be in (0, 2^31)")
    c = F.col(col) if isinstance(col, str) else col
    hexd = F.md5(c.cast("binary"))
    hi = F.conv(F.substring(hexd, 1, 16), 16, 10).cast("decimal(20,0)")
    lo = F.conv(F.substring(hexd, 17, 16), 16, 10).cast("decimal(20,0)")
    n = F.lit(hash_space).cast("decimal(20,0)")
    hi_m = F.pmod(hi, n).cast("long")
    lo_m = F.pmod(lo, n).cast("long")
    two64_m = F.lit((1 << 64) % hash_space)
    return F.pmod(hi_m * two64_m + lo_m, F.lit(hash_space))


def pairtree_clean_id(col: Column | str) -> Column:
    """Pairtree ID cleaning (public pairtree spec; used at
    DeltaLogParser.java:372): ':'→'+', '/'→'=', '.'→','."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, ":/.", "+=,")


def pairtree_unclean_id(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, "+=,", ":/.")


def pairtree_path(id_col: Column | str, segment_len: int = 2) -> Column:
    """Cleaned ID → 2-char-segment directory path, NO trailing slash
    (the reference's content-addressed partitioning,
    HectorToolBridge.java:267-280). The single canonical segmentation
    helper — sources/filesystem builds file paths on top of it."""
    c = pairtree_clean_id(id_col)
    return F.regexp_replace(F.regexp_replace(c, "(..)", "$1/"), "/$", "")


def zero_pad_seq(order_col: Column | str, width: int = 8) -> Column:
    """F6: page order int → fixed-width sequence string
    (Util.java:186-195 prepadString)."""
    c = F.col(order_col) if isinstance(order_col, str) else order_col
    return F.lpad(c.cast("string"), width, "0")


def add_trailing_slash(col: Column | str) -> Column:
    """C3 (Util.java:53-59)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.endswith("/"), c).otherwise(F.concat(c, F.lit("/")))


def path_depth(col: Column | str) -> Column:
    """F3 path-depth (PathDepthFilter.java:69-92): number of segments."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.regexp_replace(c, "^/|/$", ""), "/"))
