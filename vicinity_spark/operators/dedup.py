"""Deduplication operators for large text corpora (★ north-star ops;
BASELINE.json: dedup is a first-class capability of the engine).

All operators are pure DataFrame programs — explode/equi-join/groupBy
shapes with no cross products — so they scale by shuffle on content
keys (token, shingle, band-bucket), which is the plan family that
survives 100 TB.

Hashing is *portable by construction*: md5 over strings (identical in
Spark and any ANSI engine), so every operator here is oracle-checkable
cross-engine. MinHash additionally offers JVM-native families (``xxhash64``,
``affine``, ``tokenroll``; `hash_fn=`) for production-scale mining —
same plans, cheaper signatures, not cross-engine portable.

Operators:
- exact_dedup:        hash-groupBy (content hash → canonical id)
- token_set / shingles: tokenization primitives
- jaccard_pairs:      exact Jaccard over candidate (or all) pairs
- band_buckets_rowwise: the MinHash signature + band-key projection
  (per row, zero shuffles) every miner below shares
- minhash_lsh_pairs (alias minhash_lsh_pairs_rowwise): bucket
  self-join → candidate pairs → candidate-bounded exact-Jaccard
  verification (the classic MinHash-LSH dedup)
- minhash_lsh_pairs_incremental / _vs_snapshot: new batch vs corpus
  (or a persisted bucket snapshot: save/append/compact_corpus_buckets)
- simhash_fingerprints (alias simhash_fingerprints_rowwise) /
  simhash_pairs: 32-bit SimHash + Hamming pairs
- connected_components / keep_best / neardup_dedup: pairs → one
  survivor per dup cluster
- contamination / decontaminate, shared_gram_stats,
  strip_shared_spans, dedup_lines: n-gram and line-level curation
"""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"

_log = logging.getLogger("vicinity_spark.dedup")


def cap_hot_buckets(
    buckets: DataFrame,
    keys,
    max_bucket: int,
    what: str,
    eager_stats: bool = False,
    observation=None,
) -> DataFrame:
    """Hot-BUCKET skew guard for the pair miners (r7): drop every
    blocking bucket whose row count exceeds ``max_bucket`` BEFORE the
    candidate self-join.

    Why this exists on top of ``max_df``: max_df caps hot *features*
    (stop-shingles), but a cluster of d exact/near-identical docs
    shares every BAND key and yields ~d²/2 candidate pairs inside one
    bucket — the classic web-corpus skew case that no feature-level cap
    touches. A capped bucket contributes ZERO candidates; pairs whose
    docs co-bucket ONLY in capped buckets are lost (near-identical
    clusters larger than the cap — exactly the rows an exact-dedup
    pre-pass collapses, which is why composed pipelines run
    ``exact_dedup`` first). Pairs that also share any sub-cap bucket
    are still found, and every surviving candidate is exact-verified,
    so the cap trades bounded recall for a bounded join — never
    correctness of emitted pairs.

    The hot-bucket list is tiny by construction (cap ≫ typical bucket
    size), so the filter is a broadcast anti-join; the count pass is
    one map-side-combined aggregation over the narrow key columns.

    Fully lazy (ADVICE r7): the anti-join is applied unconditionally —
    a no-op when no bucket is over the cap — so enabling the cap never
    triggers an eager job that would recompute the signature+banding
    chain twice. Observability comes from ``observe()`` metrics
    (``<what>_hot_buckets`` = dropped-bucket count, ``<what>_hot_max``
    = largest dropped bucket) on the hot frame, readable from a batch
    QueryExecutionListener or Observation without a second pass; pass
    ``eager_stats=True`` to additionally pay one bounded driver action
    and WARN-log the drop (tests / interactive audits).

    ``observation``: a ``pyspark.sql.Observation`` to attach instead
    of the string-named observe — its ``.get`` yields
    ``{"hot_buckets": n, "hot_max": m}`` once any action evaluates
    the capped plan (r10: the composed ``neardup_dedup`` passes one
    so the drop count is read and logged from inside the entry point,
    not left to a listener the caller never registered).
    """
    keys = list(keys)
    # plan-build-time breadcrumb (ADVICE r8): the composed entry points
    # arm the cap by default, so the drop must never be silent — say
    # once, lazily-cheap, that it is armed and where the drop metrics
    # land (eager_stats=True upgrades this to a measured WARN).
    _log.info(
        "%s: hot-bucket cap armed (max_bucket=%d) — dropped-bucket "
        "metrics observable as %r / %r (pyspark observe(); read via "
        "QueryExecutionListener/StreamingQueryListener), or pass "
        "eager_stats=True for an eager WARN with counts",
        what,
        int(max_bucket),
        f"{what}_hot_buckets",
        f"{what}_hot_max",
    )
    counts = buckets.groupBy(*keys).agg(F.count("*").alias("__bsz"))
    hot = counts.where(F.col("__bsz") > int(max_bucket))
    if eager_stats:
        # bounded action: aggregate of the (few) over-cap buckets only
        stats = hot.agg(
            F.count("*").alias("n"), F.max("__bsz").alias("mx")
        ).first()
        if stats["n"]:
            _log.warning(
                "%s: dropping %d hot bucket(s) (largest %d rows > "
                "max_bucket=%d) from candidate generation — pairs "
                "co-bucketed ONLY there are lost; run exact_dedup first so "
                "identical-doc clusters collapse upstream of the miner",
                what,
                stats["n"],
                stats["mx"],
                int(max_bucket),
            )
    if observation is not None:
        hot = hot.observe(
            observation,
            F.count("*").alias("hot_buckets"),
            F.coalesce(F.max("__bsz"), F.lit(0)).alias("hot_max"),
        )
        # CollectMetrics must evaluate exactly ONCE before .get: the
        # miners reference the capped frame on BOTH sides of their
        # self-join, and a duplicated CollectMetrics node corrupts the
        # observation row (measured: Observation.get dies in toPyRow).
        # The eager checkpoint runs the (tiny-by-construction) hot
        # aggregation once — callers pass an observation only when the
        # input is already materialized (the rowwise miner checkpoints
        # its bucket table first), so this is one bounded narrow job,
        # and metrics are readable the moment this function returns.
        hot_keys = hot.select(*keys).localCheckpoint(eager=True)
        return buckets.join(F.broadcast(hot_keys), keys, "left_anti")
    hot = hot.observe(
        f"{what}_hot_buckets_cap",
        F.count("*").alias(f"{what}_hot_buckets"),
        F.coalesce(F.max("__bsz"), F.lit(0)).alias(f"{what}_hot_max"),
    )
    return buckets.join(F.broadcast(hot.select(*keys)), keys, "left_anti")


def tokens(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, tok) — lowercase whitespace tokens, empties dropped."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(F.split(F.lower(text_col), " ")).alias("tok"))
        .where(F.col("tok") != "")
    )


def token_set(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return tokens(docs, text_col, id_col).distinct()


def _grams_arr(n: int, text_col: str):
    """Per-row DISTINCT word-n-gram array — the column expression
    behind `shingles()` (explode + global distinct) and the r6 rowwise
    MinHash path (array_distinct in-row; equal because doc_id is
    unique per row). Docs with fewer than n tokens yield an empty
    array."""
    toks = F.split(F.lower(text_col), " ")
    n_toks = F.size(toks)
    return F.when(
        n_toks >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_toks - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams as a PURE PROJECTION:
    slice the token array per row and explode the gram array. Row-
    identical to the posexplode + lead-window form this replaces
    (test_shingles_matches_window_form), but with ZERO shuffles before
    the distinct — the window form shuffled and sorted the entire token
    stream by doc_id just to line up adjacent tokens that were already
    adjacent in the row's array. At corpus scale that was the single
    largest avoidable shuffle in every shingle-based dedup pipeline
    (Jaccard mining, MinHash-LSH, the e2e composition). Docs with
    fewer than n tokens yield no shingles (the lead-form's trailing
    NULL filter)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), F.explode(_grams_arr(n, text_col)).alias("shingle")
        )
        # in-row array_distinct (inside _grams_arr) already deduped
        # each doc's grams; the global distinct remains only to honor
        # the declared (doc_id, shingle)-set contract if a caller
        # passes duplicate doc_id rows, and shuffles the pre-deduped
        # (smaller) stream
        .distinct()
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_copies, canonical_id) — exact dedup by content hash."""
    return docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash")).agg(
        F.count("*").alias("n_copies"), F.min(id_col).alias("canonical_id")
    )


def _hot_features(feature_df: DataFrame, feature_col: str, max_df: int) -> DataFrame:
    """(feature_col) of features in more than ``max_df`` docs — few by
    construction, so callers drop them with a broadcast anti-join."""
    return (
        feature_df.groupBy(feature_col)
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") > int(max_df))
        .select(feature_col)
    )


def jaccard_pairs(
    feature_df: DataFrame,
    feature_col: str,
    min_jaccard: float,
    candidates: Optional[DataFrame] = None,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Exact Jaccard over pairs sharing ≥1 feature (or over explicit
    candidate pairs). feature_df: (doc_id, <feature_col>) distinct.

    Plan: equi-join on the feature → per-pair intersection counts →
    union arithmetic from per-doc set sizes. Shuffles only on feature
    and (id_a, id_b) keys — no cross product.

    max_df: drop features whose document frequency exceeds the cap
    *before* the equi-join — the standard hot-key (stop-shingle) skew
    guard: one feature shared by f docs contributes f² join rows, so a
    single stopword-like shingle dominates the shuffle at corpus scale.
    Capped features leave the feature universe entirely (set sizes are
    computed after the filter), i.e. Jaccard over the rare-feature space.
    """
    if max_df is not None:
        hot = F.broadcast(_hot_features(feature_df, feature_col, max_df))
        feature_df = feature_df.join(hot, feature_col, "left_anti")
    sizes = feature_df.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = feature_df.select(F.col("doc_id").alias("id_a"), F.col(feature_col))
    b = feature_df.select(F.col("doc_id").alias("id_b"), F.col(feature_col))
    if candidates is not None:
        a = a.join(candidates.select("id_a").distinct(), "id_a")
        b = b.join(candidates.select("id_b").distinct(), "id_b")
    inter = (
        a.join(b, feature_col)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("both"))
    )
    if candidates is not None:
        inter = inter.join(candidates.select("id_a", "id_b").distinct(), ["id_a", "id_b"])
    j = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb")), "id_b")
        .withColumn(
            "jaccard",
            F.col("both").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("both")).cast("double"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )
    return j.select("id_a", "id_b", "jaccard")


# ---- MinHash hash families -------------------------------------------
# mh_s = min over a doc's distinct grams g of hash_s(g). ``md5``: min
# over md5("<s>:" || g) hex strings — portable to any engine with md5()
# (the oracle family). ``xxhash64``: xxhash64(bigint s, g) — JVM-native,
# not portable. The affine and tokenroll families are below. The
# reference row forms live in tests/dedup_reference.py.


def _seed_mh_expr(seed: int, feature, hash_fn: str):
    """hash(seed, feature) for one literal seed, md5 / xxhash64 (the
    seed literal is cast bigint: xxhash64 hashes by input type). `feature`
    is a column name or a Column (the fold's lambda variable)."""
    feature = F.col(feature) if isinstance(feature, str) else feature
    if hash_fn == "xxhash64":
        return F.xxhash64(F.lit(seed).cast("bigint"), feature)
    if hash_fn == "md5":
        return F.md5(F.concat(F.lit(str(seed)), F.lit(":"), feature).cast("binary"))
    raise ValueError(f"unknown minhash family {hash_fn!r}")


# ---- universal-hashing (affine) MinHash family (r7) ------------------
#
# The md5/xxhash64 families evaluate a FULL hash per (seed, feature):
# n_hashes hash calls per shingle — 512M xxhash64 evaluations at the
# 200k×160-token bench tier.  The textbook alternative (Broder 1997;
# Carter–Wegman universal hashing) needs ONE base hash per feature and
# derives every minhash as an affine transform over a prime field:
#
#     mh_s(g) = (a_s * h(g) + b_s) mod P,   P prime > 2^32
#
# with h(g) a 32-bit base hash, a_s odd in [1, 2^30), b_s in [0, P).
# Per feature that is 1 hash + n_hashes multiply-adds (whole-stage-
# codegen'd long arithmetic) instead of n_hashes hash evaluations.
# Two base families:
# - ``affine``:     h = xxhash64(g) & 0xFFFFFFFF — the JVM-fast form.
# - ``md5_affine``: h = int(md5(g)[:8 hex], 16) — bit-for-bit
#   reproducible in any engine with md5() (the oracle family; DuckDB:
#   ('0x' || substring(md5(g),1,8))::BIGINT).
# The (a_s, b_s) tables are fixed module constants (seeded PRNG) so
# Spark and the SQL oracles share them as literals.

_AFFINE_P = 4294967311  # smallest prime > 2^32
_AFFINE_MASK = 4294967295  # 2^32 - 1


def affine_consts(n_hashes: int) -> "list[tuple[int, int]]":
    """Deterministic (a_s, b_s) coefficient table, shared verbatim with
    the DuckDB oracle SQL (queries._affine_minhash_sql)."""
    import random

    rng = random.Random(0xA0FF1E)
    return [
        (rng.randrange(1, 1 << 30) | 1, rng.randrange(0, _AFFINE_P))
        for _ in range(n_hashes)
    ]


def _affine_base_expr(feature, hash_fn: str):
    """32-bit base hash h(g) as a bigint column in [0, 2^32)."""
    feature = F.col(feature) if isinstance(feature, str) else feature
    if hash_fn == "affine":
        return F.xxhash64(feature).bitwiseAND(F.lit(_AFFINE_MASK))
    if hash_fn == "md5_affine":
        return F.conv(F.substring(F.md5(feature.cast("binary")), 1, 8), 16, 10).cast(
            "bigint"
        )
    raise ValueError(f"not an affine minhash family: {hash_fn!r}")


def affine_signature(hashes, n_hashes: int) -> "list":
    """n_hashes columns array_min(transform(h → (a_s·h + b_s) mod P))
    over `hashes`, an array<bigint> of 32-bit base hashes that MUST sit
    behind a Generate barrier (each column re-walks it) — the signature
    batch and streaming tokenroll share. a < 2^30, h < 2^32 → no bigint
    overflow (ANSI-safe)."""
    return [
        F.array_min(
            F.transform(hashes, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_AFFINE_P))
        )
        for a, b in affine_consts(n_hashes)
    ]


def resolve_hash_fn(hash_fn: str) -> str:
    """The ONE documented production default (VERDICT r7 item 7):
    ``hash_fn='auto'`` resolves to ``tokenroll`` — the fastest measured
    family for new-corpus text mining (16× the signature phase, 3.8×
    the full miner vs the md5 string-gram family; BENCHNOTES r7
    "tokenroll", linearity measured to 320M grams at the 2M long-doc
    tier). Explicit family names pass through untouched: ``md5`` /
    ``md5_affine`` / ``md5_tokenroll`` remain the cross-engine
    (oracle-portable) choices, and an EXISTING LSH store / bucket
    snapshot / streaming state must keep the family it was built with
    — bucket keys from different families never collide."""
    return "tokenroll" if hash_fn == "auto" else hash_fn


def _is_affine(hash_fn: str) -> bool:
    return hash_fn in ("affine", "md5_affine")


# ---- token-rolling gram hash families (r7) ---------------------------
#
# Measurement (BENCHNOTES "affine family" + "tokenroll"): at 160-token
# docs the ENTIRE signature-phase cost is building the gram STRING
# array — 32M concat_ws(slice(toks)) allocations at the 200k tier —
# while hashing is nearly free (512M extra xxhash64 calls cost ~0.6s).
# The tokenroll families therefore never materialize gram strings:
# each TOKEN is hashed once to 32 bits, and a gram's base hash is an
# arithmetic combination of its n consecutive token hashes
# (Rabin–Karp-style):
#
#     h_gram = ((h1*R1 + h2*R2 + h3) mod (2^61-1)) & 0xFFFFFFFF
#
# feeding the same affine minhash transforms as the affine families.
# Gram identity is by hash value (a ~0.4%-of-grams birthday-collision
# rate at 32M grams) — harmless for CANDIDATE generation because the
# verification stage computes exact Jaccard over true shingle strings;
# candidate sets may differ marginally from string-gram families, the
# verified pair contract does not change.
# ``tokenroll`` uses xxhash64 token bases (JVM-fast);
# ``md5_tokenroll`` uses md5-hex-prefix bases (cross-engine portable —
# the oracle family).

_ROLL_P = (1 << 61) - 1  # Mersenne prime field for the combine


def roll_consts(n: int) -> "list[int]":
    """n-1 odd position constants < 2^28 (deterministic, shared with
    the oracle SQL). Products bound: h < 2^32, R < 2^28 → h*R < 2^60,
    the n-term sum < 2^62 — no bigint overflow (ANSI-safe)."""
    import random

    rng = random.Random(0x1207711)
    return [rng.randrange(1, 1 << 28) | 1 for _ in range(n - 1)]


def _is_tokenroll(hash_fn: str) -> bool:
    return hash_fn in ("tokenroll", "md5_tokenroll")


def _tokenroll_base(hash_fn: str) -> str:
    return "affine" if hash_fn == "tokenroll" else "md5_affine"


def _roll_combine(hs: "list"):
    """((h1*R1 + ... + h_{n-1}*R_{n-1} + h_n) mod P61) & 0xFFFFFFFF."""
    consts = roll_consts(len(hs))
    acc = hs[-1]
    for r, h in zip(consts, hs[:-1]):
        acc = acc + F.lit(r) * h
    return (acc % F.lit(_ROLL_P)).bitwiseAND(F.lit(_AFFINE_MASK))


def _tokenroll_token_hashes(text_col: str, hash_fn: str):
    """array<bigint> of 32-bit per-token hashes for one row.

    MUST be materialized behind a Generate barrier before
    _tokenroll_gram_hashes indexes into it: referencing this transform
    directly inside the gram lambda re-evaluates the WHOLE token-hash
    array per gram element (O(tokens²) per row — measured 73.7s vs
    6-7s signature phase at 200k×160 tokens; the same re-evaluation
    class as the r6 fold-barrier bug)."""
    toks = F.split(F.lower(text_col), " ")
    return F.transform(toks, lambda t: _affine_base_expr(t, _tokenroll_base(hash_fn)))


def _tokenroll_gram_hashes(shingle_n: int, tok_hash_col: str):
    """array<bigint> of 32-bit gram base hashes from a MATERIALIZED
    token-hash array column — grams combined by O(1) index arithmetic;
    no gram strings anywhere."""
    th = F.col(tok_hash_col)
    n_toks = F.size(th)
    return F.when(
        n_toks >= shingle_n,
        F.transform(
            F.sequence(F.lit(1), n_toks - (shingle_n - 1)),
            lambda i: _roll_combine(
                [F.element_at(th, i + j) for j in range(shingle_n)]
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _band_key_cols(n_hashes: int, rows_per_band: int):
    """The banded-key projection: band b's key is md5 over the
    '|'-joined stringified minhash values of its seed slice (the last
    band may be narrower)."""
    import math

    bands = []
    for b in range(math.ceil(n_hashes / rows_per_band)):
        seeds = range(b * rows_per_band, min((b + 1) * rows_per_band, n_hashes))
        key = F.md5(
            F.concat_ws("|", *[F.col(f"__mh{s}").cast("string") for s in seeds]).cast("binary")
        )
        bands.append(F.struct(F.lit(b).cast("bigint").alias("band"), key.alias("bkey")))
    return bands


def _signature_buckets(
    staged: DataFrame, grams, n_hashes: int, rows_per_band: int, hash_fn: str
) -> DataFrame:
    """(doc_id, band, bkey) from `staged` (a doc_id column plus what
    `grams` reads), where `grams` is each row's distinct gram array:
    gram strings for md5 / xxhash64 / affine / md5_affine, gram base
    hashes (materialized) for the tokenroll families. Rows without
    grams emit no buckets."""
    if _is_affine(hash_fn) or _is_tokenroll(hash_fn):
        # hash every gram ONCE into an int array and materialize THAT
        # behind the Generate barrier; the n_hashes signature values
        # are then independent array_min(transform(...)) passes of pure
        # long arithmetic over the materialized ints. Measured FASTER
        # than folding (22.1s vs 24.0s signature+banding at 200k×160
        # tokens): the zip_with fold allocates two 16-element arrays
        # per gram, which costs more than 16 re-walks of a 160-int
        # array. The r6 per-seed trap does not apply — that form
        # rebuilt the STRING gram array per seed; here the barrier
        # guarantees gram construction and hashing run once per row.
        hashes = (
            grams
            if _is_tokenroll(hash_fn)
            else F.transform(grams, lambda g: _affine_base_expr(g, hash_fn))
        )
        per_doc = (
            staged.select("doc_id", F.explode(F.array(hashes)).alias("__h"))
            .where(F.size("__h") > 0)  # no shingles → no buckets
            .select(
                "doc_id",
                *[
                    mh.alias(f"__mh{s}")
                    for s, mh in enumerate(affine_signature("__h", n_hashes))
                ],
            )
        )
    else:
        sig = F.aggregate(
            grams,
            F.array_repeat(
                F.lit(None).cast("string" if hash_fn == "md5" else "bigint"), n_hashes
            ),
            lambda acc, g: F.zip_with(
                acc,
                F.array(*[_seed_mh_expr(s, g, hash_fn) for s in range(n_hashes)]),
                lambda a, v: F.least(a, v),
            ),
        )
        per_doc = (
            # the Generate barrier: one fold evaluation per row (see
            # band_buckets_rowwise)
            staged.select("doc_id", F.explode(F.array(sig)).alias("__sig"))
            # docs with no shingles fold to all-NULL → no buckets
            .where(F.element_at("__sig", 1).isNotNull())
            .select(
                "doc_id",
                *[F.element_at("__sig", s + 1).alias(f"__mh{s}") for s in range(n_hashes)],
            )
        )
    bands = _band_key_cols(n_hashes, rows_per_band)
    return per_doc.select("doc_id", F.explode(F.array(*bands)).alias("bb")).select(
        "doc_id", "bb.band", "bb.bkey"
    )


def band_buckets_rowwise(
    docs: DataFrame,
    n_hashes: int,
    rows_per_band: int,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, band, bkey) with ZERO shuffles (r6) — the one MinHash
    signature + banding projection every miner shares: per ROW over the
    in-row distinct gram array, so the only shuffle left in candidate
    mining is the bucket equi-join. Value-identical to the reference
    row form over `shingles(docs)` for every family (per-row
    array_distinct ≡ the global distinct: doc_id is unique per row).

    md5 / xxhash64: ONE `aggregate` fold hashes each gram n_hashes
    times into a zip_with(least) accumulator (the per-seed
    array_min(transform(...)) form rebuilt the gram array per seed and
    measured 30% slower than the exploded plan at 160-token docs).
    The fold sits inside a Generate barrier (explode(array(sig))) —
    REQUIRED: consumers that materialize all n_hashes columns
    re-evaluate it per column without one (54-74s vs 34-36s full miner
    at 160-token docs; a count()-only A/B hides this via column
    pruning — BENCHNOTES r6 "measurement trap"). F.least skips the
    NULL init values, so the fold needs no sentinel.

    affine / md5_affine / tokenroll / md5_tokenroll (r7): one base
    hash per gram, then affine_signature; tokenroll also skips gram
    strings (token hashes combined arithmetically)."""
    hash_fn = resolve_hash_fn(hash_fn)
    if _is_tokenroll(hash_fn):
        # barrier 1: token hashes materialized once per row; barrier 2
        # (in _signature_buckets) then materializes the gram hashes —
        # without barrier 1 the gram lambda re-evaluates the whole
        # token-hash transform per gram (O(tokens²):
        # _tokenroll_token_hashes docstring has the measurement)
        staged = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array(_tokenroll_token_hashes(text_col, hash_fn))).alias("__th"),
        )
        grams = _tokenroll_gram_hashes(shingle_n, "__th")
    else:
        staged = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        grams = _grams_arr(shingle_n, text_col)
    return _signature_buckets(staged, grams, n_hashes, rows_per_band, hash_fn)


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    max_bucket: Optional[int] = None,
    cap_observation=None,
    buckets: Optional[DataFrame] = None,
    max_df: Optional[int] = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (id_a, id_b, jaccard), verified
    by exact Jaccard ≥ min_jaccard, with CANDIDATE-BOUNDED verification
    (r6). ``minhash_lsh_pairs_rowwise`` is the same function.

    - candidate mining: band_buckets_rowwise (a pure projection) →
      materialized bucket table → optional hot-bucket cap → bucket
      self-equi-join. No full-corpus shuffle anywhere.
    - verification: the shingle table is exploded ONLY for docs that
      appear in some candidate pair (semi-join on the bucket-join
      output), so the exact-Jaccard equi-join and the set-size
      aggregation shuffle candidate volume, not corpus volume.

    Precondition: doc_id unique per row (the universal dedup-input
    contract). Signatures are per row, so duplicate doc_id rows would
    bucket separately instead of as one merged shingle set.

    max_bucket (hot-BUCKET guard, r7): drop (band, bkey) buckets with
    more than max_bucket member docs before the self-join — a cluster
    of d identical docs shares every band key, so without the cap one
    bucket yields ~d²/2 candidates (see cap_hot_buckets; run
    exact_dedup first so such clusters collapse upstream).

    max_df (hot-SHINGLE guard): shingles in more than max_df docs
    leave the feature universe BEFORE signatures, so buckets and
    verification see the same capped space (see jaccard_pairs). The
    hot set is one groupBy over `shingles(docs)` (global document
    frequencies need the full stream), broadcast-anti-joined from the
    exploded shingles regrouped per doc as signature input and from
    the verification's explode. Needs gram strings: the tokenroll
    families (and ``hash_fn='auto'``) raise, as do precomputed
    ``buckets``.

    ``buckets`` (r11): a PRECOMPUTED, already-materialized
    (doc_id, band, bkey) table for `docs` — must come from
    band_buckets_rowwise with the same banding/hash params, already
    localCheckpointed/persisted by the caller (this function will not
    re-materialize it). Lets a pipeline that needs the same signature
    table twice (the streaming ingest loop's within-batch self-mine +
    snapshot probe) pay the signature pass ONCE per trigger."""
    hash_fn = resolve_hash_fn(hash_fn)
    hot = None
    if max_df is not None:
        if _is_tokenroll(hash_fn):
            raise ValueError(
                f"max_df needs gram strings to count shingle document "
                f"frequencies, and hash_fn={hash_fn!r} never builds them "
                "(it hashes grams from token hashes); use md5, xxhash64, "
                "affine or md5_affine with max_df"
            )
        if buckets is not None:
            raise ValueError(
                "max_df cannot cap precomputed buckets: their signatures "
                "were built over every shingle"
            )
        sh = shingles(docs, n=shingle_n, text_col=text_col, id_col=id_col)
        hot = F.broadcast(_hot_features(sh, "shingle", max_df))
    if buckets is None:
        if hot is None:
            buckets = band_buckets_rowwise(
                docs, n_hashes, rows_per_band, shingle_n=shingle_n,
                text_col=text_col, id_col=id_col, hash_fn=hash_fn,
            )
        else:
            capped = (
                sh.join(hot, "shingle", "left_anti")
                .groupBy("doc_id")
                .agg(F.collect_list("shingle").alias("__grams"))
            )
            buckets = _signature_buckets(
                capped, F.col("__grams"), n_hashes, rows_per_band, hash_fn
            )
        # materialize the narrow (doc_id, band, bkey) table ONCE: the
        # bucket self-join consumes it on both sides, and a projection
        # has no shuffle for Spark's ReusedExchange to share — without
        # this the whole signature chain runs twice (measured: the
        # rowwise win disappears at 2M)
        buckets = buckets.localCheckpoint(eager=True)
    if max_bucket is not None:
        buckets = cap_hot_buckets(
            buckets,
            ("band", "bkey"),
            max_bucket,
            "minhash_lsh_pairs",
            observation=cap_observation,
        )
    a = buckets.select(F.col("doc_id").alias("id_a"), "band", "bkey")
    b = buckets.select(F.col("doc_id").alias("id_b"), "band", "bkey")
    cands = (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # feeds the id semi-join AND the verification join — one
        # materialization instead of two bucket-join re-runs
        .localCheckpoint(eager=True)
    )
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
        .join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", F.explode(_grams_arr(shingle_n, "__text")).alias("shingle"))
        # candidate-volume distinct: keeps the verification's set sizes
        # and intersections exact even if a caller passes duplicate
        # doc_id rows
        .distinct()
    )
    if hot is not None:
        sh_cand = sh_cand.join(hot, "shingle", "left_anti")
    return jaccard_pairs(sh_cand, "shingle", min_jaccard, candidates=cands)


minhash_lsh_pairs_rowwise = minhash_lsh_pairs


# ---- SimHash -------------------------------------------------------

N_SIMHASH_BITS = 32


def _hex_digit(col, pos: int):
    """0-15 value of the pos-th (1-based) hex char of an md5 column."""
    return F.instr(F.lit(HEX), F.substring(col, pos, 1)) - 1


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash over the distinct token set,
    computed per ROW with zero shuffles (r6).
    ``simhash_fingerprints_rowwise`` is the same function.

    Bit p (p = 0..31, MSB-first within each hex digit) of each token's
    md5 votes ±1; the fingerprint takes the sign of each bit's total.
    Everything is md5/substring/div/mod — portable across engines. The
    distinct token set is array_distinct in-row (≡ the global distinct
    because doc_id is unique per row); each token hashes ONCE inside a
    transform; the 32 ±1 vote counters are a single `aggregate` fold
    with a zip_with array accumulator. Vote totals are integer sums —
    exact and order-independent — so the values equal the exploded
    token-vote + groupBy reference form (tests/dedup_reference.py).
    Docs with no tokens emit no row."""
    toks = F.array_distinct(
        F.filter(F.split(F.lower(text_col), " "), lambda t: t != F.lit(""))
    )
    hashes = F.transform(toks, lambda t: F.md5(t.cast("binary")))

    def vote_vec(h):
        elems = []
        for p in range(N_SIMHASH_BITS):
            d, j = p // 4, 3 - (p % 4)
            bit = (_hex_digit(h, d + 1) / (1 << j)).cast("long") % 2
            elems.append(F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)))
        return F.array(*elems)

    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), N_SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, vote_vec(h), lambda a, v: a + v),
    )
    fp = None
    for p in range(N_SIMHASH_BITS):
        term = F.when(
            F.element_at(F.col("__s"), p + 1) > 0, F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return (
        # NOTE on plan shape: `fp` references __s 32 times and
        # CollapseProject inlines the fold — but ProjectExec's
        # subexpression elimination evaluates it once (measured 1.7s at
        # 2M docs; a Generate-node barrier variant measured 15.8s —
        # the barrier knocked the fold out of whole-stage codegen)
        docs.select(F.col(id_col).alias("doc_id"), sums.alias("__s"), F.size(toks).alias("__nt"))
        .where(F.col("__nt") > 0)
        .select("doc_id", fp.alias("simhash"))
    )


simhash_fingerprints_rowwise = simhash_fingerprints


def _simhash_chunks(fingerprints: DataFrame, n_chunks: int, width: int) -> DataFrame:
    """(doc_id, simhash, chunk, cval) — the fingerprint split into
    n_chunks bit-slices of `width` bits (last slice may be narrower)."""
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
            for i in range(n_chunks)
        ]
    )
    return fingerprints.select(
        "doc_id", "simhash", F.posexplode(slices).alias("chunk", "cval")
    )


def simhash_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """(id_a, id_b, hamming) — fingerprint pairs within a Hamming ball.

    Blocking equi-join (the plan that survives 100 TB): split the 32
    bits into max_hamming+1 chunks; by pigeonhole, any pair with
    hamming <= max_hamming differs in at most max_hamming chunks, so it
    agrees *exactly* on at least one chunk. Candidates are therefore an
    equi-join on (chunk_idx, chunk_value) — no cross product — followed
    by the exact Hamming filter. Output is identical to the all-pairs
    form; only the physical plan changes.

    max_bucket (hot-BUCKET guard, r7): drop (chunk, cval) blocks with
    more than max_bucket members before the self-join — identical docs
    share every chunk value, so a cluster of d yields ~d²/2 candidates
    per chunk without the cap (see cap_hot_buckets).
    """
    n_chunks = max_hamming + 1
    width = -(-N_SIMHASH_BITS // n_chunks)  # ceil
    ch = _simhash_chunks(fingerprints, n_chunks, width)
    if max_bucket is not None:
        ch = cap_hot_buckets(ch, ("chunk", "cval"), max_bucket, "simhash_pairs")
    a = ch.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"), "chunk", "cval"
    )
    b = ch.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"), "chunk", "cval"
    )
    cands = (
        a.join(b, ["chunk", "cval"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()  # a pair may agree on several chunks
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.expr("ha ^ hb")).cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """(id, rep) — rep = the minimum id in each connected component of
    the duplicate-pair graph. The last mile of every dedup pipeline:
    pair mining (jaccard/minhash/simhash/embedding) emits edges, this
    picks ONE canonical representative per dup cluster so the pipeline
    can keep rep rows and drop the rest. (No reference analog —
    vicinity stops at pairs; a training-data pipeline cannot.)

    Plan: iterative min-label propagation with pointer jumping —
    each round (a) pulls the min rep across direct neighbors (one
    equi-join + groupBy on the edge list) and (b) replaces every rep
    with its rep's rep (one self-join), which halves chain lengths so
    convergence is O(log diameter) rounds, not O(diameter). Rounds are
    localCheckpoint'ed to bound the iterative lineage; the loop exits
    as soon as a round changes nothing. Every step is an equi-join
    shuffle bounded by |edges| + |ids| — never all-pairs.
    """
    # materialize the edge list ONCE: it is the iteration-invariant
    # joined by every round, and without this a lazily-derived `pairs`
    # input (e.g. straight out of MinHash mining) would recompute its
    # whole upstream pipeline per round.
    # r15 (guide §2.4 duplicated subtrees): both orientations come out
    # of ONE explode over a single read of `pairs` — the old
    # select(a,b) ∪ select(b,a) form referenced `pairs` twice, so a
    # LAZY pairs input (every miner: the jaccard verification join,
    # the semdedup cluster-fold kernel) executed its entire upstream
    # pipeline twice inside this checkpoint. Measured on the semdedup
    # 200k tier: the fold+kernel pass costs ~21 s and ran 2× (~52 s
    # end-to-end vs ~21 s for one mining pass + closure overhead).
    # Row-identical: explode(array(s1, s2)) emits exactly the two
    # oriented copies the union produced.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("id"), F.col(b_col).alias("nbr")
                    ),
                    F.struct(
                        F.col(b_col).alias("id"), F.col(a_col).alias("nbr")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.id", "__e.nbr")
        .localCheckpoint(eager=True)
    )
    # materialized like edges: universe is re-read by the final left
    # join, and without the checkpoint every downstream action on the
    # RESULT would re-execute the ids input pipeline (costly when ids
    # is itself a derived frame — r6 ADVICE)
    universe = (
        ids.select(F.col(id_col).alias("id")).distinct().localCheckpoint(eager=True)
    )
    # r6: iterate ONLY over edge-touched vertices — every other id is a
    # singleton (rep = id) by construction and is attached by one left
    # join at the end. In a dedup pipeline |edge vertices| ∝ dup rate,
    # so the per-round label shuffles shrink from |corpus| to
    # |dup-involved docs| (measured ~100× smaller at the 2M tier). The
    # semi-join keeps the exact old semantics for edges naming ids
    # outside the universe (they don't propagate).
    labels = (
        edges.select("id")
        .distinct()
        .join(universe, "id", "left_semi")
        .withColumn("rep", F.col("id"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels.select(F.col("id").alias("nbr"), "rep"), "nbr")
            .groupBy("id")
            .agg(F.min("rep").alias("__nrep"))
        )
        new = labels.join(nbr_min, "id", "left").select(
            "id", F.least(F.col("rep"), F.coalesce("__nrep", F.col("rep"))).alias("rep")
        )
        # pointer jumping: rep <- rep(rep). Reps are always ids of the
        # universe (min-propagation keeps least(own rep)), so the
        # self-join below always finds the row.
        new = (
            new.join(
                new.select(F.col("id").alias("rep"), F.col("rep").alias("__rr")),
                "rep",
            )
            .select("id", F.col("__rr").alias("rep"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(labels.withColumnRenamed("rep", "__old"), "id")
            .where(F.col("rep") != F.col("__old"))
            .take(1)
        )
        labels = new
        if not changed:
            break
    return universe.join(labels, "id", "left").select(
        "id", F.coalesce("rep", F.col("id")).alias("rep")
    )


def contamination(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_contaminated_grams) — training docs sharing at least
    one distinct word n-gram with ANY benchmark doc (r7): the standard
    LLM benchmark-decontamination test (n-gram overlap against held-out
    eval sets). The benchmark gram set is BROADCAST — by contract the
    benchmark side is small (eval suites are MBs against a 100 TB
    corpus), so the corpus-side scan never shuffles: contaminated ids
    fall out of a map-side broadcast-hash semi-join over the exploded
    train grams. Counts are per-doc DISTINCT contaminated grams
    (shingles() dedups in-row)."""
    tg = shingles(train, n=n, text_col=text_col, id_col=id_col)
    bg = shingles(benchmark, n=n, text_col=text_col, id_col=id_col).select(
        "shingle"
    ).distinct()
    return (
        tg.join(F.broadcast(bg), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """train minus every contaminated doc (anti-join on the
    contamination hit set) — rows and schema of `train` preserved."""
    hits = contamination(train, benchmark, n=n, text_col=text_col, id_col=id_col)
    return train.join(
        hits.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )


def minhash_lsh_pairs_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    n_hashes: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    max_bucket: Optional[int] = None,
    corpus_buckets: Optional[DataFrame] = None,
    new_buckets: Optional[DataFrame] = None,
    broadcast_new: bool = False,
    n_bpart: Optional[int] = None,
    cap_observation_new=None,
    _plan_observer=None,
) -> DataFrame:
    """(id_new, id_corpus, jaccard) — near-dup pairs between a NEW
    ingest batch and an EXISTING corpus (r7, incremental-ingestion
    mode). The realistic 100 TB operating mode is not "re-mine the
    whole corpus every day": it is "does today's crawl duplicate
    anything we already hold". This miner prices exactly that:

    ``broadcast_new=True`` hints the batch side of the candidate join
    for broadcast — in ingest mode the batch is small by definition,
    and the hint turns the join into a map-side probe over the corpus
    bucket table with NO corpus-side shuffle (the structural
    requirement: a daily ingest must not re-shuffle the standing
    corpus). Left off by default because batch-vs-batch callers (the
    oracle entry splits one table into roles) should let AQE choose.

    - corpus side: the (doc_id, band, bkey) bucket table is a pure
      per-row projection (band_buckets_rowwise) computed ONCE per
      corpus snapshot — pass ``corpus_buckets`` to reuse a saved/
      persisted table and the standing corpus text is never re-hashed
      per ingest (only candidate corpus docs are re-read, via the
      verification semi-join).
    - new side: buckets for the (small) batch, again a projection.
    - candidate mining: new-side ⋈ corpus-side equi-join on
      (band, bkey) — NO corpus self-join (intra-corpus dups are the
      standing miners' job) and no a<b filter (the sides are distinct
      by role), so join output is ∝ cross-duplication rate.
    - verification: shingles exploded ONLY for docs appearing in some
      candidate pair, per side; exact Jaccard ≥ min_jaccard.

    ``max_bucket`` caps hot (band, bkey) buckets on EACH side before
    the join (a d-doc identical cluster in the corpus × an m-doc
    cluster in the batch is d·m candidates in one bucket). Pairs are
    emitted keyed by role — (id_new, id_corpus) — so overlapping id
    spaces between the two frames are safe; ids need only be unique
    per row WITHIN each frame (the standard dedup-input contract).

    Both sides must use the same hash family and banding parameters —
    bucket keys from different families never collide, so a mismatch
    silently finds nothing (the same contract as loading a saved LSH
    store with its persisted params).

    ``new_buckets`` (r11): a precomputed (doc_id, band, bkey) table
    for `new_docs` (band_buckets_rowwise, same params) — the symmetric
    twin of ``corpus_buckets``, so a caller that already computed the
    batch's signature table (the streaming ingest loop mines the batch
    against itself first) never pays the signature pass twice per
    trigger. Pass it already materialized when also passing
    ``cap_observation_new``.

    ``cap_observation_new``: a pyspark Observation attached to the
    NEW-side hot-bucket cap (``max_bucket`` must be set) — the eager
    hot-aggregation it requires is bounded by the batch, unlike a
    corpus-side observation (which would aggregate the full snapshot
    bucket table per call and is deliberately NOT offered here; the
    corpus side keeps the lazy string-named observe for listeners)."""
    hash_fn = resolve_hash_fn(hash_fn)
    if cap_observation_new is not None and max_bucket is None:
        raise ValueError("cap_observation_new requires max_bucket")
    if corpus_buckets is None:
        corpus_buckets = band_buckets_rowwise(
            corpus, n_hashes, rows_per_band, shingle_n=shingle_n,
            text_col=text_col, id_col=id_col, hash_fn=hash_fn,
        )
    if new_buckets is None:
        new_buckets = band_buckets_rowwise(
            new_docs, n_hashes, rows_per_band, shingle_n=shingle_n,
            text_col=text_col, id_col=id_col, hash_fn=hash_fn,
        )
    if max_bucket is not None:
        corpus_buckets = cap_hot_buckets(
            corpus_buckets, ("band", "bkey"), max_bucket,
            "minhash_lsh_pairs_incremental(corpus)",
        )
        new_buckets = cap_hot_buckets(
            new_buckets, ("band", "bkey"), max_bucket,
            "minhash_lsh_pairs_incremental(new)",
            observation=cap_observation_new,
        )
    join_keys = ["band", "bkey"]
    if "bpart" in corpus_buckets.columns:
        # snapshot mode (r8): the corpus bucket table came from
        # save_corpus_buckets and is directory-partitioned by
        # (band, bpart). bpart is functionally dependent on bkey, so
        # adding it to the equi-join keys changes nothing semantically
        # — but because BOTH join keys are partition columns of the
        # scan, Catalyst inserts a DynamicPartitionPruning filter fed
        # by the (broadcast) batch side: the probe reads ONLY the
        # corpus files whose (band, bpart) values the ingest batch
        # actually hashes into, instead of scanning the whole bucket
        # table (the BENCHNOTES r7 gap: the probe cost was the
        # bucket-table scan).
        if n_bpart is None:
            raise ValueError(
                "corpus_buckets carries a 'bpart' partition column; pass "
                "n_bpart (from the snapshot's _params sidecar — use "
                "corpus_buckets_from/minhash_lsh_pairs_vs_snapshot) so the "
                "batch side derives matching keys"
            )
        new_buckets = new_buckets.withColumn("bpart", _bpart_expr(n_bpart))
        join_keys = ["band", "bpart", "bkey"]
    n_side = new_buckets.select(F.col("doc_id").alias("id_new"), *join_keys)
    if broadcast_new:
        n_side = F.broadcast(n_side)
    c_side = corpus_buckets.select(
        F.col("doc_id").alias("id_corpus"), *join_keys
    )
    cands = (
        n_side.join(c_side, join_keys)
        .select("id_new", "id_corpus")
        .distinct()
    )
    if _plan_observer is not None:
        # test hook: the eager localCheckpoint below truncates lineage,
        # so the candidate join's plan (where snapshot-mode dynamic
        # partition pruning lives) is invisible afterwards — hand the
        # pre-checkpoint frame out for plan assertions
        _plan_observer(cands)
    # feeds two id semi-joins + the verification join — one
    # materialization instead of three bucket-join re-runs
    cands = cands.localCheckpoint(eager=True)
    sh_new = (
        new_docs.select(F.col(id_col).alias("id_new"), F.col(text_col).alias("__text"))
        .join(cands.select("id_new").distinct(), "id_new", "left_semi")
        .select("id_new", F.explode(_grams_arr(shingle_n, "__text")).alias("shingle"))
        .distinct()
    )
    sh_cor = (
        corpus.select(F.col(id_col).alias("id_corpus"), F.col(text_col).alias("__text"))
        .join(cands.select("id_corpus").distinct(), "id_corpus", "left_semi")
        .select("id_corpus", F.explode(_grams_arr(shingle_n, "__text")).alias("shingle"))
        .distinct()
    )
    sz_new = sh_new.groupBy("id_new").agg(F.count("*").alias("__sz_n"))
    sz_cor = sh_cor.groupBy("id_corpus").agg(F.count("*").alias("__sz_c"))
    inter = (
        cands.join(sh_new, "id_new")
        .join(sh_cor, ["id_corpus", "shingle"])
        .groupBy("id_new", "id_corpus")
        .agg(F.count("*").alias("__both"))
    )
    uni = F.col("__sz_n") + F.col("__sz_c") - F.col("__both")
    return (
        inter.join(sz_new, "id_new")
        .join(sz_cor, "id_corpus")
        .select(
            "id_new",
            "id_corpus",
            (F.col("__both").cast("double") / uni.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= float(min_jaccard))
    )


def keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    order_by: "list",
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """The QUALITY-AWARE last mile of dedup: given mined duplicate
    pairs, keep exactly ONE document per connected dup cluster — the
    best by `order_by` (ties broken by `id_col` ascending, so the
    survivor set is unique) — plus every singleton untouched. This is
    the "of 40 near-copies of the same article, keep the longest /
    highest-quality one" step that min-id canonicalization
    (connected_components alone) gets wrong: the canonical doc should
    be chosen by quality, not by which copy happened to get the
    smallest id. Output: the surviving docs rows plus `cluster_col`
    (the component's min id, stable across reruns).

    Plan: connected_components labels only the edge-touched subgraph
    (singletons bypass the loop), then the per-cluster argmax runs as
    cap_per_group's two-phase top-1 — an adversarial giant cluster
    (10k exact copies of one page) ranks as 32 parallel bucket tasks,
    never one straggler sort. Every shuffle is bounded by
    |docs| + |edges|."""
    from vicinity_spark.operators.sampling import cap_per_group

    labels = connected_components(
        docs.select(F.col(id_col).alias("id")), pairs, a_col=a_col, b_col=b_col
    )
    joined = docs.join(
        labels.select(F.col("id").alias(id_col), F.col("rep").alias(cluster_col)),
        id_col,
    )
    return cap_per_group(joined, cluster_col, 1, list(order_by), id_col=id_col)


def shared_gram_stats(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_grams, n_shared_grams, shared_gram_frac) — the
    CROSS-DOC duplicate n-gram signal: for each doc, how many of its
    distinct word n-grams also appear in ≥ `min_docs`-1 other docs
    (the exact-substring-dedup statistic of Lee et al.'s
    "Deduplicating Training Data" — a high shared fraction marks
    boilerplate/templated text that per-doc near-dup mining misses
    because no single pair crosses the Jaccard threshold). The
    within-doc twin is textops.repetition_scores; this one needs the
    corpus.

    Plan: grams are a pure per-row projection (shingles — zero
    shuffles before aggregation); the document-frequency table is one
    combine-friendly groupBy (hot grams cost a counter, never a row
    explosion); docs then left-semi join against only the SHARED
    vocabulary (∝ duplicated grams, typically a small fraction — AQE
    can broadcast it), so the second shuffle is bounded by the dup
    rate, not the token stream. Docs with < n tokens report 0 grams
    and a NULL fraction."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= min_docs)
        .select("shingle")
    )
    shared = (
        sh.join(hot, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_grams_arr(n, text_col)).cast("long").alias("n_grams"),
    )
    out = base.join(shared, "doc_id", "left")
    ns = F.coalesce(F.col("n_shared_grams"), F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        "n_grams",
        ns.alias("n_shared_grams"),
        F.when(
            F.col("n_grams") > 0,
            F.round(ns.cast("double") / F.col("n_grams").cast("double"), 6),
        ).alias("shared_gram_frac"),
    )


# ---- persisted corpus-bucket snapshot (r8) ---------------------------
# The daily-ingest story's last mile (VERDICT r7 item 3): the standing
# corpus's (doc_id, band, bkey) bucket table is computed once per
# snapshot and PERSISTED in a layout the ingest probe can prune —
# directory-partitioned by (band, bpart) where bpart = hash(bkey) mod
# n_bpart. Because both levels are partition columns and bpart is
# derivable on the batch side, the probe join carries a
# DynamicPartitionPruning filter: a day's crawl reads only the corpus
# files its own band keys hash into, never the full table. Rows are
# sorted by bkey within files so parquet row-group min/max statistics
# prune inside the surviving files too.


def _bpart_expr(n_bpart: int):
    return F.pmod(F.xxhash64(F.col("bkey")), F.lit(int(n_bpart))).cast("int")


def save_corpus_buckets(
    corpus: DataFrame,
    path: str,
    n_hashes: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    n_bpart: int = 64,
    mode: str = "error",
) -> None:
    """Compute the corpus bucket table (band_buckets_rowwise — a pure
    per-row projection, no shuffle before the write) and persist it
    partitioned by (band, bpart). One hash repartition on the
    partition columns routes each directory's rows to one task set
    (without it every input task writes a file into every directory —
    the small-files explosion write_corpus_layout documents); bkey
    sort within partitions gives row-group pruning on the probe key.

    Banding/hash params are recorded in a `_params` sidecar inside the
    snapshot (underscore-prefixed, so bucket-table readers skip it);
    the probe MUST reuse them — bucket keys from different families
    never collide, so a mismatch silently finds nothing. Size
    ``n_bpart`` so one (band, bpart) directory's bytes fit a scan
    task comfortably: ≈ bands × corpus_rows / n_bpart rows per
    directory, ~50 bytes/row."""
    hash_fn = resolve_hash_fn(hash_fn)
    if n_bpart <= 0:
        raise ValueError(f"n_bpart must be positive, got {n_bpart}")
    buckets = band_buckets_rowwise(
        corpus, n_hashes, rows_per_band, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col, hash_fn=hash_fn,
    ).withColumn("bpart", _bpart_expr(n_bpart))
    (
        buckets.repartition(F.col("band"), F.col("bpart"))
        .sortWithinPartitions("bkey")
        .write.mode(mode)
        .partitionBy("band", "bpart")
        .parquet(path)
    )
    params = {
        "n_hashes": int(n_hashes),
        "rows_per_band": int(rows_per_band),
        "shingle_n": int(shingle_n),
        "hash_fn": hash_fn,
        "n_bpart": int(n_bpart),
    }
    _write_sidecar(corpus.sparkSession, _params_path(path), params)


def _params_path(snapshot_path: str) -> str:
    return snapshot_path.rstrip("/") + "/_params.json"


def _write_sidecar(spark, file_path: str, obj: dict) -> None:
    """Driver-side JSON sidecar via the Hadoop FileSystem API — one
    syscall-scale write on any supported FS (local/HDFS/S3A), not a
    Spark job (a one-row createDataFrame→write costs seconds of job
    overhead). Underscore-prefixed, so Spark's file listing skips it
    when reading the surrounding dataset."""
    import json as _json

    jpath = spark._jvm.org.apache.hadoop.fs.Path(file_path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(_json.dumps(obj, sort_keys=True).encode("utf-8")))
    finally:
        out.close()


def _read_sidecar(spark, file_path: str) -> dict:
    import json as _json

    jpath = spark._jvm.org.apache.hadoop.fs.Path(file_path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise ValueError(f"no _params sidecar at {file_path!r}")
    stream = fs.open(jpath)
    try:
        # IOUtils drains the stream regardless of FS block chunking
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return _json.loads(bytes(data).decode("utf-8"))


def corpus_buckets_from(spark, path: str):
    """→ (bucket DataFrame, params dict) from a save_corpus_buckets
    snapshot. Partition-discovery types (band/bpart come back as
    ints) are cast to the miner's layout so join keys line up."""
    params = _read_sidecar(spark, _params_path(path))
    params = {k: (v if k == "hash_fn" else int(v)) for k, v in params.items()}
    buckets = spark.read.parquet(path).select(
        "doc_id",
        F.col("band").cast("bigint").alias("band"),
        "bkey",
        F.col("bpart").cast("int").alias("bpart"),
    )
    return buckets, params


def minhash_lsh_pairs_vs_snapshot(
    spark,
    corpus: DataFrame,
    new_docs: DataFrame,
    snapshot_path: str,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: Optional[int] = None,
    new_buckets: Optional[DataFrame] = None,
    broadcast_new: bool = True,
    cap_observation_new=None,
    _plan_observer=None,
) -> DataFrame:
    """Ingest-vs-corpus near-dup pairs probing a PERSISTED bucket
    snapshot: loads the (band, bpart)-partitioned table + its banding
    params and runs minhash_lsh_pairs_incremental against it with the
    partition-pruned three-key join. `corpus` supplies the TEXT for
    candidate verification only (semi-joined down to candidate docs);
    its bucket projection is never recomputed. broadcast_new defaults
    ON here — snapshot mode IS ingest mode, and the broadcast both
    skips the corpus-side shuffle and feeds the dynamic partition
    pruning subquery. ``new_buckets`` / ``cap_observation_new`` pass
    through to minhash_lsh_pairs_incremental (a precomputed batch
    bucket table MUST use the snapshot's own banding params — read
    them from the ``_params`` sidecar)."""
    corpus_buckets, params = corpus_buckets_from(spark, snapshot_path)
    return minhash_lsh_pairs_incremental(
        corpus,
        new_docs,
        n_hashes=params["n_hashes"],
        rows_per_band=params["rows_per_band"],
        shingle_n=params["shingle_n"],
        min_jaccard=min_jaccard,
        text_col=text_col,
        id_col=id_col,
        hash_fn=params["hash_fn"],
        max_bucket=max_bucket,
        corpus_buckets=corpus_buckets,
        new_buckets=new_buckets,
        broadcast_new=broadcast_new,
        n_bpart=params["n_bpart"],
        cap_observation_new=cap_observation_new,
        _plan_observer=_plan_observer,
    )


# ---- exact-substring span dedup (r8) ---------------------------------
# Lee et al., "Deduplicating Training Data Makes Language Models
# Better": remove every token span whose exact content appears
# elsewhere in the corpus. Doc-level near-dup mining cannot replicate
# this — boilerplate shared by thousands of docs sits below any
# per-pair Jaccard threshold. The reference has no analog (vicinity is
# a vector store); this is part of the LLM-curation layer.
#
# Suffix-array semantics are approximated by DUPLICATED-GRAM RUN
# MERGING (documented trade): a token is removed iff it is covered by
# some n-token gram occurring >= min_count times in the corpus
# (multiplicity counted, within-doc repeats included — the ExactSubstr
# criterion). Every maximal duplicated substring of length >= n is the
# union of its duplicated n-gram windows, so merged gram runs equal
# the suffix-array span set for spans >= n tokens; spans shorter than
# n are (intentionally) below the threshold, and a run may extend up
# to n-1 tokens past a true duplicated span's edge when the edge gram
# overlaps it (the standard window-granularity overcount).


def strip_shared_spans(
    docs: DataFrame,
    n: int = 5,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask: Optional[str] = None,
    hash_keys: bool = False,
) -> DataFrame:
    """(doc_id, text_clean, n_tokens, n_removed) — remove (or, with
    ``mask='<DUP>'``-style, replace per removed run) every token span
    covered by an n-gram occurring >= min_count times corpus-wide.
    Gram matching is case-insensitive; kept text preserves the
    ORIGINAL token casing (only duplicated spans are touched).

    Plan, 100 TB shape:
      1. positioned grams are a per-row projection + one Generate —
         zero shuffles before aggregation;
      2. the gram-frequency table is ONE map-side-combined groupBy
         (a hot boilerplate gram costs a counter, never a row blowup);
         filtering to count >= min_count FIRST bounds the join table
         by the duplicated vocabulary (typically a small fraction —
         AQE broadcasts it);
      3. duplicated start positions come back via a left-semi join,
         so the second shuffle is ∝ duplicated content, and the
         per-doc span work (sort starts → merge runs → rebuild text)
         is in-row Catalyst HOF arithmetic — no window, no UDF, no
         ×n covered-position row expansion (the oracle's expand form
         is the semantics spec; this is the scale form)."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toks_lc = F.split(F.lower(F.col(text_col)), " ")
    if hash_keys:
        # scale form (r8, re-keyed 64-bit in r9): positioned gram keys
        # as hashes of per-token hashes — no gram STRING is ever built,
        # and both shuffles below move narrow bigints instead of
        # ~n-token strings (the same constant-killer the MinHash miners
        # measured at 16× their signature phase). Unlike the MinHash
        # miners there is NO exact-verify stage here — a key collision
        # between two DISTINCT grams directly deletes unique text — so
        # this path uses FULL 64-bit keys end to end (r9 ADVICE fix; the
        # r8 form masked to 32 bits, where 33M grams birthday to ~1.3e5
        # colliding pairs — materially lossy): tokens hash to unmasked
        # xxhash64 and a gram key is xxhash64 over its n consecutive
        # token hashes. Expected colliding distinct-gram PAIRS
        # corpus-wide ≈ G²/2^65: ~3e-5 at 33M grams, ~0.03 at 1e9 grams
        # (plus a negligible V²/2^65 token-level term) — i.e. expect
        # ZERO false removals below ~10^9 grams and a handful of
        # n-token spans at extreme scale. Keep exact string keys
        # (default, oracle-checked) where every byte must be
        # attributable.
        tok64 = F.transform(toks_lc, lambda t: F.xxhash64(t))
        # materialize token hashes behind a Generate barrier before the
        # gram lambda indexes into them (same O(tokens²) re-evaluation
        # hazard as _tokenroll_token_hashes — see its docstring)
        staged = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array(tok64)).alias("__th"),
        )
        th = F.col("__th")
        n_toks = F.size(th)
        gh = F.when(
            n_toks >= n,
            F.transform(
                F.sequence(F.lit(1), n_toks - (n - 1)),
                lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(n)]),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        grams = staged.select(
            "doc_id", F.posexplode(gh).alias("pos0", "gram")
        ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "gram")
    else:
        pg = F.when(
            F.size(toks_lc) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks_lc) - (n - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    F.concat_ws(" ", F.slice(toks_lc, i, n)).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))
        grams = docs.select(
            F.col(id_col).alias("doc_id"), F.explode(pg).alias("g")
        ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    dup_vocab = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= int(min_count))
        .select("gram")
    )
    starts = (
        grams.join(dup_vocab, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__starts"))
    )
    out = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).join(starts, "doc_id", "left")

    toks = F.split(F.col("__text"), " ")
    n_tokens = F.size(toks)
    empty_iv = F.array().cast("array<struct<lo:int,hi:int>>")
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    merged = F.aggregate(
        F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
        empty_iv,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= last(acc)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["lo"].alias("lo"),
                        F.greatest(last(acc)["hi"], s + F.lit(n - 1)).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(s.alias("lo"), (s + F.lit(n - 1)).cast("int").alias("hi"))
                ),
            )
        ),
    )
    # walk the merged runs left→right: emit the kept slice before each
    # run (and the mask token, if masking), then the tail after the
    # last run. parts are pre-joined strings so the final concat_ws
    # skips empties.
    mask_part = (
        F.array(F.lit(mask)) if mask is not None else F.array().cast("array<string>")
    )
    walk = F.aggregate(
        merged,
        F.struct(
            F.lit(0).cast("int").alias("prev"),
            F.array().cast("array<string>").alias("parts"),
        ),
        lambda acc, iv: F.struct(
            iv["hi"].alias("prev"),
            F.concat(
                acc["parts"],
                F.array(
                    F.array_join(
                        F.slice(toks, acc["prev"] + 1, iv["lo"] - acc["prev"] - 1), " "
                    )
                ),
                mask_part,
            ).alias("parts"),
        ),
        lambda acc: F.concat(
            acc["parts"],
            F.array(
                F.array_join(
                    F.slice(toks, acc["prev"] + 1, n_tokens - acc["prev"]), " "
                )
            ),
        ),
    )
    n_removed = F.aggregate(
        merged, F.lit(0), lambda acc, iv: acc + iv["hi"] - iv["lo"] + 1
    )
    return out.select(
        "doc_id",
        F.concat_ws(" ", F.filter(walk, lambda x: x != "")).alias("text_clean"),
        n_tokens.cast("long").alias("n_tokens"),
        n_removed.cast("long").alias("n_removed"),
    )


# ---- composed near-dup dedup entry point (r8) -------------------------
# VERDICT r7 item 5: raw pair miners keep max_bucket opt-in (a research
# surface should not silently drop candidates), but the COMPOSED
# "dedup my corpus" path ships with the production guard ON — at
# 100 TB an unguarded d-identical-doc cluster is a d²/2 candidate bomb
# a pipeline author should not need to know about in advance.

# BENCHNOTES "hot-bucket skew guard" sizing rule: ~100× the expected
# (band, bkey) occupancy. Band keys are 64-bit hashes, so expected
# occupancy is ~1 at ANY corpus size (density is collision-driven, not
# volume-driven) → 100. Clusters larger than the cap stop contributing
# CANDIDATES, never lose rows: components still collapse them through
# their sub-cap edges, and the planted-cluster test below pins the
# survivor count with the cap binding.


DEFAULT_MAX_BUCKET = 100


def neardup_dedup(
    docs: DataFrame,
    n_hashes: int = 16,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "tokenroll",
    max_bucket="auto",
    quality_col: Optional[str] = None,
    cap_observation=None,
) -> DataFrame:
    """Near-duplicate-deduplicate a corpus END TO END: MinHash-LSH
    pair mining → connected components → one survivor per cluster —
    returns the SURVIVING rows of `docs`, all columns intact.

    Defaults are the production choices the per-stage benchmarks
    justify: ``hash_fn='tokenroll'`` (the fastest measured family —
    16× the signature phase vs string-gram md5, BENCHNOTES r7;
    families are interchangeable estimators of the same Jaccard, so
    the SURVIVOR SET is family-stable on well-separated corpora even
    though the candidate sets differ at the margin) and
    ``max_bucket='auto'`` (= DEFAULT_MAX_BUCKET, the sizing rule
    above; pass None to disable, or an int to size it yourself).

    ``quality_col``: survivors are min-id representatives by default;
    name a numeric column to keep each cluster's argmax instead
    (keep_best's two-phase top-1 — no per-cluster straggler sort).
    Exact-identical copies collapse to their min id in the pre-pass
    either way (identical text has identical quality).

    STRUCTURAL INVARIANT — exact dedup runs FIRST, inside this
    operator. The cap's recall trade (a cluster whose EVERY bucket is
    hot loses all its candidate edges) only bites on clusters of
    (near-)identical docs larger than the cap, and the pre-pass
    collapses the exact-identical bulk of any such cluster to one row
    before the miner sees it. The standing docstring advice "run
    exact_dedup first" is a contract a composed entry point should
    enforce, not hope for — the cap default is safe BECAUSE the
    pre-pass is unconditional. (Residual: >max_bucket docs that are
    near- but not exact-identical — the documented cap_hot_buckets
    trade, REPORTED from inside this entry point: r10 attaches a
    pyspark Observation to the capped plan, reads it once the miner's
    internal materialization has run, and WARN-logs any non-zero drop
    — the cap-on-by-default path no longer drops silently. Pass your
    own ``cap_observation`` (a pyspark.sql.Observation) to read
    ``{"hot_buckets": n, "hot_max": m}`` programmatically — a FRESH
    Observation per call (pyspark observations are single-use), and
    only together with a cap: with ``max_bucket=None`` the miner never
    attaches it and its ``.get`` would block forever, so that
    combination raises.)"""
    mb = DEFAULT_MAX_BUCKET if max_bucket == "auto" else max_bucket
    if cap_observation is not None and mb is None:
        raise ValueError(
            "cap_observation requires a cap: with max_bucket=None the "
            "observation is never attached and its .get blocks forever"
        )
    obs = cap_observation
    if mb is not None and obs is None:
        from pyspark.sql import Observation

        obs = Observation()
    canon = exact_dedup(docs, text_col=text_col, id_col=id_col).select(
        F.col("canonical_id").alias(id_col)
    )
    canon_docs = docs.join(canon, id_col, "left_semi")
    pairs = minhash_lsh_pairs(
        canon_docs,
        n_hashes=n_hashes,
        rows_per_band=rows_per_band,
        shingle_n=shingle_n,
        min_jaccard=min_jaccard,
        text_col=text_col,
        id_col=id_col,
        hash_fn=hash_fn,
        max_bucket=mb,
        cap_observation=obs,
    )
    if mb is not None:
        # cap_hot_buckets evaluated the observed hot table eagerly, so
        # .get returns without blocking; a planted >cap cluster of
        # NEAR-identical docs (the one shape the exact pre-pass cannot
        # collapse) surfaces here instead of vanishing silently
        stats = obs.get
        if stats["hot_buckets"]:
            _log.warning(
                "neardup_dedup: cap dropped %d hot bucket(s) (largest "
                "%d rows > max_bucket=%d) — pairs co-bucketed ONLY "
                "there are lost (near- but not exact-identical "
                "clusters larger than the cap)",
                stats["hot_buckets"],
                stats["hot_max"],
                int(mb),
            )
    if quality_col is not None:
        best = keep_best(
            canon_docs, pairs, [F.col(quality_col).desc()], id_col=id_col
        )
        return best.drop("cluster_id")
    comps = connected_components(
        canon_docs.select(F.col(id_col).alias("id")), pairs
    )
    keep = comps.where(F.col("rep") == F.col("id")).select(F.col("id").alias(id_col))
    return canon_docs.join(keep, id_col, "left_semi")


# ---- cross-doc line dedup (r8) ---------------------------------------
# CCNet/RefinedWeb-style LINE-level dedup: drop every line that occurs
# in >= min_docs distinct documents (navigation chrome, cookie
# banners, boilerplate footers). Line granularity complements
# strip_shared_spans: spans catch duplicated TOKEN runs inside prose;
# line dedup catches structurally repeated WHOLE lines regardless of
# their length (a 3-token nav line never forms a 5-gram).


def dedup_lines(
    docs: DataFrame,
    min_docs: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """(doc_id, text_clean, n_lines, n_removed) — remove every line
    occurring in >= min_docs DISTINCT docs; surviving lines keep their
    order and exact bytes (empty lines are never counted or removed).

    Plan, 100 TB shape (the strip_shared_spans pattern at line
    granularity): per-row posexplode of the line array is the only
    full-text pass; the line-frequency table is a distinct + one
    map-side-combined groupBy (a nav line in 1M docs is a counter,
    not a row blowup), filtered to the duplicated vocabulary BEFORE
    the join back; removal positions return per doc as a small array
    (shuffle ∝ duplicated lines), and reassembly is an in-row
    filter-by-index + array_join — no full-text regroup shuffle."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # \Q…\E: the separator is a LITERAL, not a regex (same hazard class
    # as the r7 CSV-delimiter advice fix)
    sep_pat = "\\Q" + line_sep + "\\E"
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep_pat)).alias("pos", "line"),
    ).where(F.col("line") != "")
    dup = (
        lines.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= int(min_docs))
        .select("line")
    )
    rm = (
        lines.join(dup, "line", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("__rm"))
    )
    out = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).join(rm, "doc_id", "left")
    arr = F.split(F.col("__text"), sep_pat)
    rmset = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    kept = F.filter(arr, lambda l, i: ~F.array_contains(rmset, i.cast("int")))
    return out.select(
        "doc_id",
        F.array_join(kept, line_sep).alias("text_clean"),
        F.size(arr).cast("long").alias("n_lines"),
        (F.size(arr) - F.size(kept)).cast("long").alias("n_removed"),
    )


def append_corpus_buckets(
    docs: DataFrame,
    path: str,
    buckets: Optional[DataFrame] = None,
    skip_existing: bool = False,
) -> None:
    """Append a new batch's bucket rows to an EXISTING snapshot — the
    daily maintenance op that closes the ingest loop: probe today's
    crawl against the snapshot (minhash_lsh_pairs_vs_snapshot), keep
    the survivors, then append THEIR buckets so tomorrow's probe sees
    them. Banding params come from the snapshot's sidecar (a mismatch
    would write keys that collide with nothing); the same
    (band, bpart) routing + bkey sort keeps the layout pruning-ready.
    Caller contract: doc ids are unique across the snapshot's history
    (the same id-uniqueness every dedup input already requires).

    ``buckets`` (r11): a precomputed (doc_id, band, bkey) table for
    `docs` — MUST come from band_buckets_rowwise with the snapshot's
    own sidecar params. The streaming ingest loop passes the trigger's
    shared signature table so the append never re-hashes the
    survivors.

    ``skip_existing`` (r11): make the append IDEMPOTENT at row level —
    anti-join the batch's bucket rows against the rows already in the
    snapshot before writing, so re-running the append after a crash
    (committed files, lost progress record) adds nothing twice, and a
    partially-committed earlier attempt is completed exactly (only the
    missing rows are written). The presence probe is the same
    DPP-pruned three-key join shape as the snapshot probe — the batch
    side is broadcast, and only the (band, bpart) directories the
    batch hashes into are scanned — so the check costs a pruned
    metadata-scale read, never a full snapshot scan."""
    spark = docs.sparkSession
    params = _read_sidecar(spark, _params_path(path))
    params = {k: (v if k == "hash_fn" else int(v)) for k, v in params.items()}
    if buckets is None:
        buckets = band_buckets_rowwise(
            docs,
            params["n_hashes"],
            params["rows_per_band"],
            shingle_n=params["shingle_n"],
            hash_fn=params["hash_fn"],
        )
    buckets = buckets.withColumn("bpart", _bpart_expr(params["n_bpart"]))
    if skip_existing:
        snap = spark.read.parquet(path).select(
            "doc_id",
            F.col("band").cast("bigint").alias("band"),
            "bkey",
            F.col("bpart").cast("int").alias("bpart"),
        )
        keys = ["doc_id", "band", "bkey", "bpart"]
        # inner-probe then anti-join (instead of one anti-join with the
        # snapshot on the right): an anti-join can only broadcast its
        # RIGHT side, which would shuffle the full snapshot — this
        # shape keeps the snapshot on the LEFT of a broadcast semi-join
        # where dynamic partition pruning applies
        present = snap.join(
            F.broadcast(buckets.select(*keys)), keys, "left_semi"
        ).select(*keys)
        buckets = buckets.join(F.broadcast(present), keys, "left_anti")
    (
        buckets.repartition(F.col("band"), F.col("bpart"))
        .sortWithinPartitions("bkey")
        .write.mode("append")
        .partitionBy("band", "bpart")
        .parquet(path)
    )


def compact_corpus_buckets(
    spark, path: str, max_files_per_dir: int = 4
) -> int:
    """Small-file maintenance for a bucket snapshot (r9, VERDICT item
    3): every ``append_corpus_buckets`` batch adds a file set to each
    (band, bpart) directory, so after ~100 daily appends the probe's
    DPP-pruned scan degrades to hundreds of tiny files per pruned
    directory — exactly the hazard ``write_corpus_layout`` documents
    (sources/files.py). This rewrites ONLY the directories whose
    non-hidden file count exceeds ``max_files_per_dir``, back to one
    bkey-sorted file each, and returns how many it rewrote.

    Plan: the oversized directories are read as one Spark job (a
    ``basePath`` read of just those directories — untouched
    directories are never scanned), repartitioned on (band, bpart) so
    each directory's rows converge on one task, re-sorted on bkey
    (preserving row-group pruning on the probe key), and written back
    through DYNAMIC partition overwrite — only the rewritten
    (band, bpart) partitions are replaced; everything else, including
    the `_params` sidecar, is untouched. A ``localCheckpoint``
    materializes the rows first: Spark refuses to overwrite a path a
    live plan still reads, and the checkpoint also pins the
    partitioning+order so the write job is move-free. Like any
    compaction (Delta OPTIMIZE, Iceberg rewrite_data_files) this is an
    offline maintenance op: run it between ingest batches, not
    concurrently with a probe of the same snapshot.

    Reliability caveat (r9 ADVICE): localCheckpoint blocks live on
    executors — under executor loss / dynamic deallocation the
    overwrite job fails with missing-block errors (not data-corrupting:
    dynamic overwrite commits at job end, so a failed run leaves the
    snapshot untouched; just re-run). On clusters with executor churn,
    disable dynamic allocation for the maintenance job or use a
    reliable checkpoint dir."""
    if max_files_per_dir < 1:
        raise ValueError(
            f"max_files_per_dir must be >= 1, got {max_files_per_dir}"
        )
    _read_sidecar(spark, _params_path(path))  # refuse non-snapshot dirs
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    to_compact = []
    for band_st in fs.listStatus(jpath):
        if not band_st.isDirectory() or not band_st.getPath().getName().startswith(
            "band="
        ):
            continue
        for bp_st in fs.listStatus(band_st.getPath()):
            if not bp_st.isDirectory() or not bp_st.getPath().getName().startswith(
                "bpart="
            ):
                continue
            n_files = sum(
                1
                for f in fs.listStatus(bp_st.getPath())
                if f.isFile()
                and not f.getPath().getName().startswith(("_", "."))
            )
            if n_files > max_files_per_dir:
                to_compact.append(bp_st.getPath().toString())
    if not to_compact:
        return 0
    sub = (
        spark.read.option("basePath", path)
        .parquet(*to_compact)
        .repartition(F.col("band"), F.col("bpart"))
        .sortWithinPartitions("bkey")
        .localCheckpoint(eager=True)
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        sub.write.mode("overwrite").partitionBy("band", "bpart").parquet(path)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    return len(to_compact)
