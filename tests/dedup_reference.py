"""Reference row forms of the MinHash and SimHash signatures.

The library computes both signatures as per-row projections
(operators/dedup.py band_buckets_rowwise, simhash_fingerprints). The
forms here are the textbook relational plans — one row per
(doc, seed) or per (doc, token), then groupBy — kept only so tests
can pin the projections to them value for value.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vicinity_spark.operators.dedup import (
    _AFFINE_P,
    HEX,
    N_SIMHASH_BITS,
    _affine_base_expr,
    _is_affine,
    affine_consts,
    jaccard_pairs,
    resolve_hash_fn,
    shingles,
    token_set,
)


def minhash_signatures(
    features: DataFrame, feature_col: str, n_hashes: int = 16, hash_fn: str = "md5"
) -> DataFrame:
    """(doc_id, seed, mh) — mh = min over features of hash(seed, feature):
    the feature table crossed with a seed table, then one groupBy.
    Families as in operators/dedup.py: md5 (min over hex strings),
    xxhash64, and the affine families (base hash per feature row,
    coefficients looked up by the seed column)."""
    hash_fn = resolve_hash_fn(hash_fn)
    spark = features.sparkSession
    seeds = spark.range(n_hashes).select(F.col("id").alias("seed"))
    if hash_fn == "xxhash64":
        mh = F.xxhash64(F.col("seed"), F.col(feature_col))
    elif hash_fn == "md5":
        mh = F.md5(
            F.concat(F.col("seed").cast("string"), F.lit(":"), F.col(feature_col)).cast("binary")
        )
    elif _is_affine(hash_fn):
        consts = affine_consts(n_hashes)
        a_arr = F.array(*[F.lit(a) for a, _ in consts])
        b_arr = F.array(*[F.lit(b) for _, b in consts])
        idx = (F.col("seed") + 1).cast("int")
        h = _affine_base_expr(feature_col, hash_fn)
        mh = (F.element_at(a_arr, idx) * h + F.element_at(b_arr, idx)) % F.lit(_AFFINE_P)
    else:
        raise ValueError(f"unknown minhash family {hash_fn!r}")
    return (
        features.crossJoin(F.broadcast(seeds))
        .groupBy("doc_id", "seed")
        .agg(F.min(mh).alias("mh"))
    )


def minhash_band_buckets(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """(doc_id, band, bkey) — band b's key is md5 over the '|'-joined
    stringified minhash values of its seeds, in seed order."""
    banded = signatures.withColumn("band", F.expr(f"seed div {rows_per_band}"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("seed", "mh"))), lambda x: x["mh"].cast("string")
    )
    return banded.groupBy("doc_id", "band").agg(
        F.md5(F.array_join(ordered, "|").cast("binary")).alias("bkey")
    )


def reference_lsh_pairs(
    docs: DataFrame,
    n_hashes: int,
    rows_per_band: int,
    min_jaccard: float,
    hash_fn: str,
    shingle_n: int = 3,
    max_df: Optional[int] = None,
) -> DataFrame:
    """MinHash-LSH pairs from the reference forms: shingles (hot
    shingles above max_df dropped) → signatures → bands → bucket
    self-join → jaccard_pairs over the candidates."""
    sh = shingles(docs, n=shingle_n)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    buckets = minhash_band_buckets(
        minhash_signatures(sh, "shingle", n_hashes=n_hashes, hash_fn=hash_fn),
        rows_per_band=rows_per_band,
    )
    a = buckets.select(F.col("doc_id").alias("id_a"), "band", "bkey")
    b = buckets.select(F.col("doc_id").alias("id_b"), "band", "bkey")
    cands = (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_pairs(sh, "shingle", min_jaccard, candidates=cands)


def simhash_exploded(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — one row per distinct (doc, token), its md5's
    first 32 bits as ±1 votes, a 32-sum groupBy per doc, the sign of
    each sum as the fingerprint bit."""
    h = token_set(docs).withColumn("h", F.md5(F.col("tok").cast("binary")))
    for d in range(8):  # first 8 hex chars → 32 bits
        h = h.withColumn(f"d{d}", F.instr(F.lit(HEX), F.substring("h", d + 1, 1)) - 1)
    bit_cols = []
    for p in range(N_SIMHASH_BITS):
        d, j = p // 4, 3 - (p % 4)
        bit = (F.col(f"d{d}") / (1 << j)).cast("long") % 2
        bit_cols.append(F.when(bit == 1, 1).otherwise(-1).alias(f"b{p}"))
    agg = h.select("doc_id", *bit_cols).groupBy("doc_id").agg(
        *[F.sum(f"b{p}").alias(f"s{p}") for p in range(N_SIMHASH_BITS)]
    )
    fp = sum(
        F.when(F.col(f"s{p}") > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        for p in range(N_SIMHASH_BITS)
    )
    return agg.select("doc_id", fp.alias("simhash"))
