"""Dedup operators on a corpus with planted duplicates."""

import pytest
from pyspark.sql import functions as F

from vicinity_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingles,
    simhash_fingerprints,
    simhash_pairs,
    token_set,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near dup
    (3, "completely different words about spark dataframes and shuffle partitions here"),
    (4, "another unrelated document mentioning parquet files and columnar storage formats"),
    (5, "the quick brown fox jumps over the lazy cat near the river bank today"),  # near dup
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs_df):
    res = exact_dedup(docs_df).collect()
    by_copies = {r.canonical_id: r.n_copies for r in res}
    assert by_copies[0] == 2  # docs 0 and 1 identical
    assert len(res) == 5  # 6 docs, one exact-dup pair


def test_jaccard_pairs_exact_values(docs_df):
    ts = token_set(docs_df)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(ts, "tok", 0.0).collect()}
    assert pairs[(0, 1)] == pytest.approx(1.0)
    # doc 2 swaps today→yesterday: 12 distinct tokens each, |inter|=11, |union|=13
    assert pairs[(0, 2)] == pytest.approx(11 / 13)
    assert (0, 3) not in pairs or pairs[(0, 3)] < 0.2


def test_minhash_lsh_finds_planted_dups(docs_df):
    # 8 bands × 2 rows: detection prob at j=0.6 is 1-(1-0.36)^8 ≈ 0.97,
    # and md5 hashing makes the outcome deterministic for fixed docs.
    res = minhash_lsh_pairs(
        docs_df, n_hashes=16, rows_per_band=2, min_jaccard=0.3
    ).collect()
    found = {(r.id_a, r.id_b) for r in res}
    assert (0, 1) in found  # exact dup always survives banding
    # near dups share most shingles → recovered by at least one band
    assert (0, 2) in found or (1, 2) in found
    # unrelated docs never verified
    assert all(not (a in (3, 4) or b in (3, 4)) for a, b in found)


def test_minhash_jaccard_matches_exact(docs_df):
    sh = shingles(docs_df, n=3)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(sh, "shingle", 0.3).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs_df, min_jaccard=0.3).collect()
    }
    for pair, j in lsh.items():
        assert exact[pair] == pytest.approx(j)  # verification is exact


def test_simhash(docs_df):
    fp = simhash_fingerprints(docs_df)
    vals = {r.doc_id: r.simhash for r in fp.collect()}
    assert vals[0] == vals[1]  # identical token sets → identical fingerprints
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(fp, max_hamming=32).collect()}
    assert pairs[(0, 1)] == 0
    assert pairs[(0, 2)] <= pairs.get((3, 4), 33)  # near dups closer than unrelated


def test_jaccard_max_df_drops_stop_features(spark):
    # two docs share ONLY a stopword-like token that appears in every
    # doc; with the hot-key cap the stop token leaves the feature
    # universe, so the pair disappears and set sizes shrink
    docs = spark.createDataFrame(
        [
            (0, "stop alpha beta"),
            (1, "stop alpha beta"),
            (2, "stop gamma delta"),
            (3, "stop epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    ts = token_set(docs)
    uncapped = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(ts, "tok", 0.0).collect()}
    assert uncapped[(2, 3)] == pytest.approx(1 / 5)  # joined only via 'stop'
    capped = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(ts, "tok", 0.0, max_df=3).collect()}
    assert (2, 3) not in capped  # stop token (df=4 > 3) no longer joins them
    assert capped[(0, 1)] == pytest.approx(1.0)  # rare-feature pairs intact


def test_jaccard_max_df_plan_has_no_hot_feature(spark):
    from vicinity_spark.plans import explain_str

    docs = spark.createDataFrame(
        [(i, f"stop word{i} other{i}") for i in range(6)], "doc_id long, text string"
    )
    df = jaccard_pairs(token_set(docs), "tok", 0.0, max_df=3)
    s = explain_str(df, "simple")
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


def test_subword_token_stats_values(spark):
    from vicinity_spark.operators.textops import subword_token_stats

    docs = spark.createDataFrame(
        [(0, "Hello world 42!"), (1, "a.b"), (2, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in subword_token_stats(docs).collect()}
    # "hello" + " world" + " 42" + "!" = 4 subword tokens
    assert got[0].n_subword_tokens == 4
    assert got[0].chars_per_token == pytest.approx(15 / 4, abs=1e-6)
    # "a" + "." + "b" = 3
    assert got[1].n_subword_tokens == 3
    assert got[2].n_subword_tokens == 0 and got[2].chars_per_token == 0.0


def test_connected_components_chains_and_singletons(spark):
    """Transitive dup clusters resolve to the min-id representative:
    a chain 1-2, 2-3, 3-4 collapses to rep 1 even though (1,4) was
    never a mined pair; disjoint clusters keep their own reps;
    untouched ids stay their own canonical rep."""
    from pyspark.sql import functions as F

    from vicinity_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(1, 11)], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7), (9, 8)], "id_a long, id_b long"
    )
    got = {r["id"]: r["rep"] for r in connected_components(ids, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 6, 8: 8, 9: 8, 10: 10}
    # long chain: pointer jumping must converge well inside max_iters
    n = 64
    ids2 = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got2 = connected_components(ids2, chain, max_iters=10)
    assert got2.where(F.col("rep") != 0).count() == 0


@pytest.mark.slow
def test_dedup_e2e_composition(spark):
    """The pairs→components→survivors composition (bench entry
    dedup_e2e_200k) at a small tier: 3000 unique docs + 60 planted
    near-copies must yield exactly 3000 survivors, and every planted
    copy must resolve to its source's component."""
    import bench as B
    from vicinity_spark.operators.dedup import connected_components, minhash_lsh_pairs

    docs = B._synth_docs(spark, n=3000, n_dups=60, parts=4)
    pairs = minhash_lsh_pairs(
        docs, n_hashes=16, rows_per_band=2, min_jaccard=0.5, hash_fn="xxhash64"
    )
    comps = connected_components(docs.select("doc_id"), pairs, id_col="doc_id")
    survivors = comps.where(F.col("rep") == F.col("id"))
    assert survivors.count() == 3000
    # each planted copy (doc_id >= 3000) joined its source's component
    planted = {r["id"]: r["rep"] for r in comps.where(F.col("id") >= 3000).collect()}
    assert len(planted) == 60
    assert all(rep == i - 3000 for i, rep in planted.items())


def test_shingles_matches_window_form(spark):
    """The projection-form shingles must be ROW-IDENTICAL to the
    posexplode + lead-window form it replaced (including empty-token
    and shorter-than-n edge cases) — the DuckDB oracles replicate these
    exact semantics."""
    from pyspark.sql import Window

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one  two three"),        # double space -> empty token
            (3, "short text"),            # < n tokens -> no shingles
            (4, "x"),
            (5, "a b c a b c a b c"),     # repeated grams -> distinct
            (6, ""),                      # empty text
            (7, "MiXeD CaSe TOKENS here"),
        ],
        "doc_id long, text string",
    )
    n = 3

    def window_form(docs):
        t = docs.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "tok"),
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        cols = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
        out = t.select("doc_id", *[c.alias(f"t{i}") for i, c in enumerate(cols)])
        out = out.where(F.col(f"t{n - 1}").isNotNull())
        return out.select(
            "doc_id", F.concat_ws(" ", *[f"t{i}" for i in range(n)]).alias("shingle")
        ).distinct()

    from vicinity_spark.operators.dedup import shingles

    got = {(r.doc_id, r.shingle) for r in shingles(docs, n=n).collect()}
    want = {(r.doc_id, r.shingle) for r in window_form(docs).collect()}
    assert got == want
    # and the new plan is shuffle-free before the distinct: no Window,
    # exactly one Exchange (the distinct's)
    plan = shingles(docs, n=n)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2  # distinct = partial+final around 1 exchange


def test_band_buckets_rowwise_matches_reference(spark):
    """The zero-shuffle rowwise band-bucket projection must be
    row-identical to the reference row form (seed cross product +
    groupBy signatures, then per-band md5 keys) over shingles(docs)
    for every string-gram family — same seeds, same band layout, same
    keys, incl. a partial last band, a doc too short to shingle and
    in-row duplicate grams — and its plan really is a projection: no
    Exchange."""
    from dedup_reference import minhash_band_buckets, minhash_signatures

    from vicinity_spark.operators.dedup import band_buckets_rowwise, shingles
    from vicinity_spark.plans.checks import plan_summary

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "totally different words here now ok fine yes"),
            (4, "too short"),  # < 3 tokens → no shingles → no buckets
            (5, "a b c a b c a b c"),  # in-row duplicate grams
        ],
        "doc_id long, text string",
    )
    sh = shingles(docs, n=3)
    for fam in ["md5", "xxhash64", "affine", "md5_affine"]:
        for n_hashes, rpb in [(16, 2), (12, 5)]:  # incl. a partial last band
            ref = minhash_band_buckets(
                minhash_signatures(sh, "shingle", n_hashes=n_hashes, hash_fn=fam),
                rows_per_band=rpb,
            )
            row = band_buckets_rowwise(
                docs, n_hashes, rpb, shingle_n=3, hash_fn=fam
            )
            a = {(r.doc_id, r.band, r.bkey) for r in ref.collect()}
            b = {(r.doc_id, r.band, r.bkey) for r in row.collect()}
            assert a == b, (fam, n_hashes, rpb)
            assert 4 not in {d for d, _, _ in b}
    assert "Exchange" not in plan_summary(
        band_buckets_rowwise(docs, 16, 2, shingle_n=3, hash_fn="xxhash64")
    )


@pytest.mark.slow
def test_minhash_lsh_pairs_rowwise_matches(docs_df):
    """The candidate-bounded miner returns exactly the pairs (and
    jaccard values) of the reference pipeline — reference signatures,
    banding, bucket self-join, jaccard_pairs over the candidates — for
    every string-gram family; minhash_lsh_pairs_rowwise is the same
    function."""
    from dedup_reference import reference_lsh_pairs

    from vicinity_spark.operators.dedup import minhash_lsh_pairs_rowwise

    assert minhash_lsh_pairs_rowwise is minhash_lsh_pairs
    for fam in ["md5", "xxhash64", "affine", "md5_affine"]:
        ref = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in reference_lsh_pairs(
                docs_df, n_hashes=16, rows_per_band=2, min_jaccard=0.3, hash_fn=fam
            ).collect()
        }
        got = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in minhash_lsh_pairs_rowwise(
                docs_df, n_hashes=16, rows_per_band=2, min_jaccard=0.3, hash_fn=fam
            ).collect()
        }
        assert got == ref, fam
        assert (0, 1) in got  # planted exact dup survives end to end


@pytest.mark.slow
def test_simhash_rowwise_matches(spark, docs_df):
    """The zero-shuffle rowwise SimHash must be row-identical to the
    exploded reference (token votes + groupBy), including the
    empty-text and repeated-token edges, and its plan must be
    Exchange-free; simhash_fingerprints_rowwise is the same function."""
    from dedup_reference import simhash_exploded

    from vicinity_spark.operators.dedup import simhash_fingerprints_rowwise
    from vicinity_spark.plans.checks import plan_summary

    assert simhash_fingerprints_rowwise is simhash_fingerprints

    edge = spark.createDataFrame(
        [(100, ""), (101, "   "), (102, "same same same words words")],
        "doc_id long, text string",
    )
    for df in (docs_df, edge):
        a = {(r.doc_id, r.simhash) for r in simhash_exploded(df).collect()}
        b = {(r.doc_id, r.simhash) for r in simhash_fingerprints(df).collect()}
        assert a == b
    assert "Exchange" not in plan_summary(simhash_fingerprints_rowwise(docs_df))


# ---- property-based: rowwise ≡ exploded on arbitrary corpora --------
from hypothesis import given, settings
from hypothesis import strategies as st

_word = st.text(alphabet="abcdef", min_size=1, max_size=3)
_doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=6)


@pytest.fixture(scope="module")
def spark_prop(spark):
    return spark


@settings(max_examples=10, deadline=None)
@given(texts=_corpus)
@pytest.mark.slow
def test_rowwise_forms_match_exploded_property(spark_prop, texts):
    """For ARBITRARY small corpora (repeated words, empty docs,
    too-short docs — whatever hypothesis finds), the rowwise MinHash
    buckets and SimHash fingerprints must equal their reference row
    forms row-for-row."""
    from dedup_reference import (
        minhash_band_buckets,
        minhash_signatures,
        simhash_exploded,
    )

    from vicinity_spark.operators.dedup import (
        band_buckets_rowwise,
        shingles,
        simhash_fingerprints,
    )

    spark = spark_prop
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ref = minhash_band_buckets(
        minhash_signatures(shingles(docs, n=2), "shingle", n_hashes=8, hash_fn="md5"),
        rows_per_band=2,
    )
    row = band_buckets_rowwise(docs, 8, 2, shingle_n=2, hash_fn="md5")
    assert {tuple(r) for r in ref.collect()} == {tuple(r) for r in row.collect()}, texts
    a = {tuple(r) for r in simhash_exploded(docs).collect()}
    b = {tuple(r) for r in simhash_fingerprints(docs).collect()}
    assert a == b, texts


def test_affine_minhash_matches_python_reference(spark):
    """r7: the md5_affine family's signature values must equal an
    independent pure-Python computation (hashlib md5 hex prefix →
    int32 base, (a*h + b) mod P mins) — this is the exact construction
    the dedup_minhash_affine DuckDB oracle inlines, so a drift here is
    an oracle-family break even if the Spark forms agree with each
    other."""
    import hashlib

    from dedup_reference import minhash_signatures

    from vicinity_spark.operators.dedup import _AFFINE_P, affine_consts, shingles

    rows = [
        (1, "a b c d e f g h"),
        (2, "totally different words here now ok fine yes"),
        (3, "a b c a b c a b c"),  # repeated grams → distinct set
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def py_sig(text, n_hashes=8, n=3):
        toks = text.lower().split(" ")
        grams = (
            list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))
            if len(toks) >= n
            else []
        )
        out = []
        for a, b in affine_consts(n_hashes):
            vals = [
                (a * int(hashlib.md5(g.encode()).hexdigest()[:8], 16) + b) % _AFFINE_P
                for g in grams
            ]
            out.append(min(vals))
        return out

    got = minhash_signatures(shingles(docs, n=3), "shingle", n_hashes=8, hash_fn="md5_affine")
    by_doc = {}
    for r in got.collect():
        by_doc.setdefault(r.doc_id, {})[r.seed] = r.mh
    for doc_id, text in rows:
        assert [by_doc[doc_id][s] for s in range(8)] == py_sig(text), doc_id


def test_tokenroll_matches_window_reference_and_python(spark):
    """r7: the token-rolling gram-hash family (no gram strings — token
    hashes combined by index arithmetic behind a double Generate
    barrier) must equal (a) an independent exploded lead-window
    construction of the same math, and (b) a pure-Python hashlib
    reference for the portable md5_tokenroll base — the exact
    construction the dedup_minhash_tokenroll DuckDB oracle inlines."""
    import hashlib

    from pyspark.sql import Window

    from vicinity_spark.operators.dedup import (
        _AFFINE_MASK,
        _AFFINE_P,
        _ROLL_P,
        _affine_base_expr,
        _band_key_cols,
        affine_consts,
        band_buckets_rowwise,
        roll_consts,
    )

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),
        (3, "totally different words here now ok fine yes"),
        (4, "too short"),
        (5, "a b c a b c a b c"),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def reference_buckets(n_hashes, rpb, hash_fn, shingle_n=3):
        base_fam = "affine" if hash_fn == "tokenroll" else "md5_affine"
        t = docs.select(
            "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "tok")
        ).withColumn("h", _affine_base_expr(F.col("tok"), base_fam))
        w = Window.partitionBy("doc_id").orderBy("pos")
        hs = [F.col("h")] + [F.lead("h", j).over(w) for j in range(1, shingle_n)]
        acc = hs[-1]
        for r, h in zip(roll_consts(shingle_n), hs[:-1]):
            acc = acc + F.lit(r) * h
        g = (acc % F.lit(_ROLL_P)).bitwiseAND(F.lit(_AFFINE_MASK))
        t = t.select("doc_id", g.alias("gh")).where(F.col("gh").isNotNull())
        aggs = [
            F.min((F.lit(a) * F.col("gh") + F.lit(b)) % F.lit(_AFFINE_P)).alias(f"__mh{s}")
            for s, (a, b) in enumerate(affine_consts(n_hashes))
        ]
        per_doc = t.groupBy("doc_id").agg(*aggs)
        bands = _band_key_cols(n_hashes, rpb)
        return per_doc.select(
            "doc_id", F.explode(F.array(*bands)).alias("bb")
        ).select("doc_id", "bb.band", "bb.bkey")

    for fam in ["tokenroll", "md5_tokenroll"]:
        for n_hashes, rpb in [(16, 2), (12, 5)]:
            got = {
                tuple(r)
                for r in band_buckets_rowwise(
                    docs, n_hashes, rpb, shingle_n=3, hash_fn=fam
                ).collect()
            }
            want = {tuple(r) for r in reference_buckets(n_hashes, rpb, fam).collect()}
            assert got == want, (fam, n_hashes, rpb)

    # pure-Python reference for the portable base (gram hashes only,
    # via the rowwise plan's intermediate — checked through signatures)
    r1, r2 = roll_consts(3)

    def py_gram_hashes(text, n=3):
        toks = text.lower().split(" ")
        th = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
        return [
            ((r1 * th[i] + r2 * th[i + 1] + th[i + 2]) % _ROLL_P) & _AFFINE_MASK
            for i in range(len(toks) - n + 1)
        ] if len(toks) >= n else []

    def py_buckets(doc_id, text, n_hashes=16, rpb=2):
        ghs = py_gram_hashes(text)
        if not ghs:
            return set()
        sig = [
            min((a * h + b) % _AFFINE_P for h in ghs)
            for a, b in affine_consts(n_hashes)
        ]
        out = set()
        for band in range((n_hashes + rpb - 1) // rpb):
            vals = sig[band * rpb : (band + 1) * rpb]
            key = hashlib.md5("|".join(str(v) for v in vals).encode()).hexdigest()
            out.add((doc_id, band, key))
        return out

    got = {
        tuple(r)
        for r in band_buckets_rowwise(
            docs, 16, 2, shingle_n=3, hash_fn="md5_tokenroll"
        ).collect()
    }
    want = set().union(*(py_buckets(d, t) for d, t in rows))
    assert got == want


def test_tokenroll_miner_finds_planted_pairs(docs_df):
    """r7: end-to-end rowwise miner under both tokenroll bases finds
    the planted near-dup pair, and every returned jaccard is the exact
    string-shingle value (verification is family-independent)."""
    from vicinity_spark.operators.dedup import minhash_lsh_pairs_rowwise

    for fam in ["tokenroll", "md5_tokenroll"]:
        got = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in minhash_lsh_pairs_rowwise(
                docs_df, n_hashes=16, rows_per_band=2, min_jaccard=0.3, hash_fn=fam
            ).collect()
        }
        assert (0, 1) in got, fam
        assert all(0.3 <= j <= 1.0 for j in got.values()), fam


# ---- hot band-bucket cap (r7) --------------------------------------


def _cluster_corpus(spark, n_cluster):
    """n_cluster identical docs (one pathological bucket per band) plus
    the 6-doc DOCS corpus with its planted near-dup pairs, ids offset
    to 1000+."""
    cluster = [(i, "identical boilerplate page repeated across the whole crawl "
                   "with the same navigation header footer and legal text") for i in range(n_cluster)]
    normal = [(1000 + i, t) for i, t in DOCS]
    return spark.createDataFrame(cluster + normal, "doc_id long, text string")


def test_minhash_cap_bounds_identical_cluster(spark):
    """10k identical docs share EVERY band key; uncapped that is
    ~50M candidate pairs in 4 buckets. With the cap on, the miner
    completes in bounded time, drops the cluster, and still emits the
    planted near-dup pairs of the normal docs."""
    from vicinity_spark.operators.dedup import minhash_lsh_pairs_rowwise

    docs = _cluster_corpus(spark, 10_000)
    res = minhash_lsh_pairs_rowwise(
        docs, n_hashes=16, rows_per_band=2, min_jaccard=0.3, max_bucket=100
    ).collect()
    found = {(r.id_a, r.id_b) for r in res}
    assert (1000, 1001) in found  # normal planted pair survives the cap
    assert all(a >= 1000 and b >= 1000 for a, b in found)  # cluster dropped


def test_minhash_cap_is_noop_below_threshold(docs_df):
    """On a corpus where no bucket exceeds the cap, the capped miner is
    pair-set identical to the uncapped one."""
    base = {tuple(r) for r in minhash_lsh_pairs(docs_df, min_jaccard=0.3).collect()}
    capped = {
        tuple(r)
        for r in minhash_lsh_pairs(docs_df, min_jaccard=0.3, max_bucket=100).collect()
    }
    assert capped == base


def test_simhash_cap_bounds_identical_cluster(spark):
    """Identical docs have identical fingerprints → every (chunk, cval)
    block explodes; the cap drops those blocks and keeps the rest."""
    from vicinity_spark.operators.dedup import (
        simhash_fingerprints_rowwise,
        simhash_pairs,
    )

    fp = simhash_fingerprints_rowwise(_cluster_corpus(spark, 5_000))
    res = simhash_pairs(fp, max_hamming=3, max_bucket=100).collect()
    assert all(r.id_a >= 1000 and r.id_b >= 1000 for r in res)
    # and the small-corpus output is unchanged by a non-binding cap
    small = simhash_fingerprints_rowwise(
        spark.createDataFrame(DOCS, "doc_id long, text string")
    )
    uncapped = {tuple(r) for r in simhash_pairs(small, max_hamming=3).collect()}
    capped = {
        tuple(r) for r in simhash_pairs(small, max_hamming=3, max_bucket=100).collect()
    }
    assert capped == uncapped


def test_lsh_neardup_cap_bounds_identical_vectors(spark):
    """5k copies of one vector collide in every table's bucket; the cap
    drops those cells, keeps planted near-dup pairs elsewhere, and a
    non-binding cap changes nothing."""
    import numpy as np

    from vicinity_spark.backends.lsh import LSHStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 16))
    near = base[:5] + 0.001  # planted near dups of ids 0..4 → 1000..1004
    hot = np.tile(rng.standard_normal(16), (5_000, 1))  # ids 2000+
    rows = (
        [(i, [float(x) for x in base[i]]) for i in range(40)]
        + [(1000 + i, [float(x) for x in near[i]]) for i in range(5)]
        + [(2000 + i, [float(x) for x in hot[i]]) for i in range(5_000)]
    )
    corpus = spark.createDataFrame(rows, "id long, vector array<float>")
    strat = LSHStrategy(n_tables=8, n_bits=8)
    built = strat.build(corpus, Metric.COSINE, 16).localCheckpoint(eager=True)
    res = strat.neardup_pairs(built, 0.01, Metric.COSINE, max_bucket=100).collect()
    found = {(r.id_a, r.id_b) for r in res}
    assert all(not (2000 <= a < 7000 or 2000 <= b < 7000) for a, b in found)
    assert any(b == a + 1000 for a, b in found)  # planted pairs survive
    # non-binding cap ≡ uncapped on the small part
    small = strat.build(
        corpus.where(F.col("id") < 2000), Metric.COSINE, 16
    ).localCheckpoint(eager=True)
    uncapped = {tuple(r) for r in strat.neardup_pairs(small, 0.01, Metric.COSINE).collect()}
    capped = {
        tuple(r)
        for r in strat.neardup_pairs(small, 0.01, Metric.COSINE, max_bucket=100).collect()
    }
    assert capped == uncapped


def test_contamination_and_decontaminate(spark):
    """r7: n-gram benchmark-overlap detection — planted contamination
    is found with exact distinct-gram counts, clean docs survive
    decontaminate untouched, and the benchmark side is broadcast."""
    from vicinity_spark.operators.dedup import contamination, decontaminate
    from vicinity_spark.plans.checks import plan_summary

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),      # contains bench gram
            (2, "completely clean text with no overlap at all"),
            (3, "quick brown fox quick brown fox quick brown fox"),  # repeated gram -> 1 distinct + rolled grams
            (4, "ab"),                                               # too short for 3-grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox appears"), (101, "benchmark only phrase here")],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_contaminated_grams for r in contamination(train, bench, n=3).collect()}
    # bench 3-grams: {a quick brown, quick brown fox, brown fox appears, ...}
    assert hits == {1: 1, 3: 1}  # both share exactly 'quick brown fox'
    kept = sorted(r.doc_id for r in decontaminate(train, bench, n=3).collect())
    assert kept == [2, 4]
    # schema preserved
    assert decontaminate(train, bench, n=3).columns == train.columns
    plan = plan_summary(contamination(train, bench, n=3))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_repetition_scores_closed_form(spark):
    """r7: Gopher-style repetition signals against hand-computed
    values, including empty docs and the all-identical pathological
    case, and the plan is a pure projection (no Exchange)."""
    from vicinity_spark.operators.textops import repetition_scores
    from vicinity_spark.plans.checks import plan_summary

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),    # 5 toks, 3 distinct; g2: 4 with 2 distinct; g3: 3 with 2 distinct
            (2, "x y z"),
            (3, ""),
            (4, "q q q q"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_scores(docs).collect()}
    assert got[1].n_tokens == 5
    assert got[1].dup_token_frac == pytest.approx(1 - 2 / 5)
    assert got[1].dup_2gram_frac == pytest.approx(1 - 2 / 4)
    assert got[1].dup_3gram_frac == pytest.approx(round(1 - 2 / 3, 6))
    assert got[1].top_token_frac == pytest.approx(3 / 5)
    assert got[2].dup_token_frac == 0.0 and got[2].top_token_frac == pytest.approx(1 / 3)
    assert got[3].n_tokens == 0 and got[3].top_token_frac == 0.0
    assert got[4].dup_token_frac == pytest.approx(0.75)
    assert got[4].top_token_frac == pytest.approx(1.0)
    assert "Exchange" not in plan_summary(repetition_scores(docs))


# ---- incremental dedup against a corpus snapshot (r7) ---------------


def test_minhash_incremental_matches_full_miner_cross_pairs(spark, docs_df):
    """The incremental miner over a (corpus, new) split must emit
    exactly the cross-split subset of the full rowwise miner's pairs
    on the union — same pairs, same jaccards."""
    from vicinity_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_lsh_pairs_rowwise,
    )

    corpus = docs_df.where(F.col("doc_id") < 3)
    new = docs_df.where(F.col("doc_id") >= 3)
    inc = {
        (r.id_new, r.id_corpus): r.jaccard
        for r in minhash_lsh_pairs_incremental(
            corpus, new, n_hashes=16, rows_per_band=2, min_jaccard=0.3
        ).collect()
    }
    full = minhash_lsh_pairs_rowwise(
        docs_df, n_hashes=16, rows_per_band=2, min_jaccard=0.3
    ).collect()
    cross = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b)): r.jaccard
        for r in full
        if (r.id_a < 3) != (r.id_b < 3)
    }
    assert inc.keys() == cross.keys()
    for k, j in cross.items():
        assert inc[k] == pytest.approx(j)
    # sanity: the split actually crosses (doc 5 near-dups docs 0-2)
    assert any(k[0] == 5 for k in inc)


def test_minhash_incremental_overlapping_id_spaces(spark, docs_df):
    """ids need only be unique WITHIN each frame: probing the corpus
    with itself (same ids both sides) finds every doc as its own
    jaccard-1.0 duplicate, keyed by role."""
    from vicinity_spark.operators.dedup import minhash_lsh_pairs_incremental

    res = minhash_lsh_pairs_incremental(
        docs_df, docs_df, n_hashes=16, rows_per_band=2, min_jaccard=0.3
    )
    self_hits = {
        (r.id_new, r.id_corpus): r.jaccard
        for r in res.collect()
        if r.id_new == r.id_corpus
    }
    for did in range(6):
        assert self_hits[(did, did)] == pytest.approx(1.0)


def test_minhash_incremental_reuses_corpus_buckets(spark, docs_df):
    """Passing a precomputed corpus bucket table (the saved-snapshot
    reuse path) is row-identical to recomputing it from the corpus
    text."""
    from vicinity_spark.operators.dedup import (
        band_buckets_rowwise,
        minhash_lsh_pairs_incremental,
    )

    corpus = docs_df.where(F.col("doc_id") < 3)
    new = docs_df.where(F.col("doc_id") >= 3)
    pre = band_buckets_rowwise(corpus, 16, 2).localCheckpoint(eager=True)
    a = sorted(
        (r.id_new, r.id_corpus, round(r.jaccard, 9))
        for r in minhash_lsh_pairs_incremental(
            corpus, new, n_hashes=16, rows_per_band=2, min_jaccard=0.3
        ).collect()
    )
    b = sorted(
        (r.id_new, r.id_corpus, round(r.jaccard, 9))
        for r in minhash_lsh_pairs_incremental(
            corpus, new, n_hashes=16, rows_per_band=2, min_jaccard=0.3,
            corpus_buckets=pre,
        ).collect()
    )
    assert a == b


def test_minhash_incremental_cap_bounds_cross_cluster(spark):
    """A d-doc identical cluster in the corpus × an m-doc identical
    cluster in the batch is d·m candidates in one bucket; with
    max_bucket engaged on both sides the cluster contributes nothing
    while planted normal pairs survive."""
    from vicinity_spark.operators.dedup import minhash_lsh_pairs_incremental

    boiler = (
        "identical boilerplate page repeated across the whole crawl "
        "with the same navigation header footer and legal text"
    )
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(2000)] + [(10_000 + i, t) for i, t in DOCS],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(50_000 + i, boiler) for i in range(2000)]
        + [(60_000, DOCS[0][1])],  # exact text of corpus doc 10_000
        "doc_id long, text string",
    )
    res = minhash_lsh_pairs_incremental(
        corpus, new, n_hashes=16, rows_per_band=2, min_jaccard=0.3,
        max_bucket=100,
    ).collect()
    found = {(r.id_new, r.id_corpus) for r in res}
    assert (60_000, 10_000) in found  # planted cross pair survives
    assert all(n >= 50_000 and c >= 10_000 for n, c in found)  # clusters dropped


def test_keep_best_picks_quality_survivor_per_cluster(spark):
    from vicinity_spark.operators.dedup import keep_best
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 7), (5, 99)],
        "doc_id long, n_chars long",
    )
    # cluster {1,2,3}: best is 2 (longest); cluster {4,5}: best is 5;
    # no singletons here
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in keep_best(docs, pairs, [F.col("n_chars").desc()]).collect()}
    assert set(rows) == {2, 5}
    assert rows[2].cluster_id == 1 and rows[5].cluster_id == 4


def test_keep_best_keeps_singletons_and_breaks_ties_by_id(spark):
    from vicinity_spark.operators.dedup import keep_best
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, 5), (2, 5), (9, 1)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {r.doc_id for r in keep_best(docs, pairs, [F.col("n_chars").desc()]).collect()}
    # tie on n_chars -> lowest id wins; singleton 9 survives untouched
    assert got == {1, 9}


def test_shared_gram_stats_cross_doc_only(spark):
    from pyspark.sql import functions as F
    from vicinity_spark.operators.dedup import shared_gram_stats

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps"),   # shares 'the quick brown' w/ 1
         (1, "the quick brown cat sits"),
         (2, "totally unique sentence here"),
         (3, "xx yy"),                        # < 3 tokens -> no grams
         (4, "rep rep rep rep")],             # within-doc repeat, no cross match
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in shared_gram_stats(docs, n=3).collect()}
    assert rows[0].n_grams == 3 and rows[0].n_shared_grams == 1
    assert rows[0].shared_gram_frac == round(1 / 3, 6)
    assert rows[1].n_shared_grams == 1
    assert rows[2].n_shared_grams == 0 and rows[2].shared_gram_frac == 0.0
    assert rows[3].n_grams == 0 and rows[3].shared_gram_frac is None
    # within-doc repetition alone is NOT cross-doc sharing: 'rep rep
    # rep' dedupes to one gram in-doc and matches no other doc
    assert rows[4].n_grams == 1 and rows[4].n_shared_grams == 0
    import pytest
    with pytest.raises(ValueError):
        shared_gram_stats(docs, min_docs=1)


def test_keep_best_giant_cluster_bounded(spark):
    """Adversarial giant cluster: 10k docs in ONE dup cluster (star
    edges to doc 0). keep_best must return exactly one survivor — the
    highest-quality member — via the two-phase top-1, with singletons
    untouched."""
    from pyspark.sql import functions as F
    from vicinity_spark.operators.dedup import keep_best

    n = 10_000
    docs = spark.range(n + 5).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 977).cast("long").alias("n_chars"),
    )
    pairs = spark.range(1, n).select(
        F.lit(0).cast("long").alias("id_a"), F.col("id").alias("id_b")
    )
    kept = keep_best(docs, pairs, [F.col("n_chars").desc()]).collect()
    ids = sorted(r.doc_id for r in kept)
    # 1 survivor from the 10k cluster + the 5 singletons
    assert len(ids) == 6 and ids[-5:] == [10_000, 10_001, 10_002, 10_003, 10_004]
    winner = [r for r in kept if r.cluster_id == 0][0]
    # best (n_chars, -id): n_chars == 976 first occurs at doc 976
    assert winner.doc_id == 976 and winner.n_chars == 976


# ---- persisted corpus-bucket snapshot (r8) ---------------------------


def test_snapshot_probe_matches_direct_incremental(spark, tmp_path):
    """save_corpus_buckets → minhash_lsh_pairs_vs_snapshot must emit
    exactly the pairs the direct incremental miner finds, the probe's
    candidate join must carry a DynamicPartitionPruning filter on the
    snapshot's (band, bpart) partition columns (the ingest batch reads
    only the corpus files its own keys hash into — VERDICT r7 item 3),
    and the params sidecar must round-trip the banding family."""
    from vicinity_spark.operators.dedup import (
        corpus_buckets_from,
        minhash_lsh_pairs_incremental,
        minhash_lsh_pairs_vs_snapshot,
        save_corpus_buckets,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    snap = str(tmp_path / "snap")
    save_corpus_buckets(
        corpus, snap, n_hashes=16, rows_per_band=4, hash_fn="tokenroll", n_bpart=8
    )
    _, params = corpus_buckets_from(spark, snap)
    assert params == {
        "n_hashes": 16,
        "rows_per_band": 4,
        "shingle_n": 3,
        "hash_fn": "tokenroll",
        "n_bpart": 8,
    }
    seen = {}
    got = minhash_lsh_pairs_vs_snapshot(
        spark, corpus, new, snap, min_jaccard=0.3,
        _plan_observer=lambda df: seen.setdefault("cands", df),
    )
    want = minhash_lsh_pairs_incremental(
        corpus, new, n_hashes=16, rows_per_band=4, min_jaccard=0.3,
        hash_fn="tokenroll",
    )
    g = {(r.id_new, r.id_corpus, round(r.jaccard, 6)) for r in got.collect()}
    w = {(r.id_new, r.id_corpus, round(r.jaccard, 6)) for r in want.collect()}
    assert g == w and len(g) > 0
    # plan shape: the snapshot scan is partition-pruned at runtime by
    # the batch side (localCheckpoint truncates lineage after the
    # candidate join — assert on the pre-checkpoint frame)
    from vicinity_spark.plans.checks import explain_str

    plan = explain_str(seen["cands"])
    assert "dynamicpruning" in plan, plan
    # the partitioned layout is on disk: band=*/bpart=* directories
    import glob

    assert glob.glob(snap + "/band=*/bpart=*"), "missing (band, bpart) layout"


def test_snapshot_buckets_without_n_bpart_raise(spark, tmp_path):
    """A bucket frame carrying bpart but no n_bpart is a param-loss
    bug (the batch side could not derive matching keys) — refuse."""
    from vicinity_spark.operators.dedup import (
        corpus_buckets_from,
        minhash_lsh_pairs_incremental,
        save_corpus_buckets,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    snap = str(tmp_path / "snap2")
    save_corpus_buckets(docs, snap, n_bpart=4)
    bk, _ = corpus_buckets_from(spark, snap)
    with pytest.raises(ValueError, match="n_bpart"):
        minhash_lsh_pairs_incremental(docs, docs, corpus_buckets=bk)


# ---- exact-substring span dedup (r8) ---------------------------------


def _naive_strip(texts, n, min_count):
    """Spec reference: count every positioned n-gram (lowercase,
    multiplicity), mark covered token indexes, keep the rest."""
    from collections import Counter

    toks = {i: t.split(" ") for i, t in texts.items()}
    cnt = Counter()
    for ts in toks.values():
        lc = [t.lower() for t in ts]
        for i in range(len(lc) - n + 1):
            cnt[" ".join(lc[i : i + n])] += 1
    out = {}
    for i, ts in toks.items():
        lc = [t.lower() for t in ts]
        covered = set()
        for p in range(len(lc) - n + 1):
            if cnt[" ".join(lc[p : p + n])] >= min_count:
                covered.update(range(p, p + n))
        kept = [t for j, t in enumerate(ts) if j not in covered]
        out[i] = (" ".join(kept), len(ts), len(covered))
    return out


def test_strip_shared_spans_planted_boilerplate(spark):
    """The Lee-et-al case doc-level MinHash cannot catch: 40 docs share
    one 8-token boilerplate footer but are otherwise disjoint — every
    PAIR's Jaccard is ~8/38 ≈ 0.21, far below a 0.5 near-dup
    threshold, yet the footer must be stripped from every doc while
    all unique content survives verbatim."""
    from vicinity_spark.operators.dedup import minhash_lsh_pairs, strip_shared_spans

    bp = "all rights reserved contact us for licensing terms"
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(15)) + " " + bp) for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # doc-level near-dup mining finds nothing at the usual threshold
    assert minhash_lsh_pairs(docs, min_jaccard=0.5).count() == 0
    out = {r.doc_id: r for r in strip_shared_spans(docs, n=5, min_count=2).collect()}
    for i in range(40):
        assert out[i].text_clean == " ".join(f"u{i}w{j}" for j in range(15)), i
        assert out[i].n_removed == 8 and out[i].n_tokens == 23


def test_strip_shared_spans_matches_naive_reference(spark):
    """Property check vs the quadratic spec reference on an adversarial
    mix: overlapping runs, within-doc repeats, mixed case, short docs,
    duplicated prefixes/suffixes, and run-adjacency merges."""
    from vicinity_spark.operators.dedup import strip_shared_spans

    base = "the quick brown fox jumps over the lazy dog again"
    texts = {
        0: base + " extra one two three",
        1: "prefix words here " + base,
        2: base,  # exact dup of the shared sentence
        3: "short doc",
        4: "Mixed CASE the QUICK brown FOX jumps OVER the lazy DOG again",
        5: "loop loop loop loop loop loop loop loop loop loop",  # self-repeat
        6: " ".join(f"z{j}" for j in range(12)),
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    for n, mc in [(3, 2), (5, 2), (4, 3)]:
        want = _naive_strip(texts, n, mc)
        got = {
            r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
            for r in strip_shared_spans(docs, n=n, min_count=mc).collect()
        }
        assert got == want, (n, mc)


def test_strip_shared_spans_mask_and_errors(spark):
    from vicinity_spark.operators.dedup import strip_shared_spans

    docs = spark.createDataFrame(
        [(0, "a b c d e tail0"), (1, "a b c d e tail1")], "doc_id long, text string"
    )
    out = {r.doc_id: r.text_clean for r in strip_shared_spans(docs, n=5, mask="<DUP>").collect()}
    assert out == {0: "<DUP> tail0", 1: "<DUP> tail1"}
    with pytest.raises(ValueError, match="n must"):
        strip_shared_spans(docs, n=1)
    with pytest.raises(ValueError, match="min_count"):
        strip_shared_spans(docs, min_count=1)


# ---- composed neardup_dedup entry point (r8) --------------------------


def test_neardup_dedup_defaults_and_giant_cluster(spark):
    """The composed entry point ships with the production hot-bucket
    cap ON (VERDICT r7 item 5) and the exact-dedup pre-pass that makes
    it safe: 5,000 exact copies of one page (>> DEFAULT_MAX_BUCKET)
    collapse to ONE survivor — the pre-pass collapses them before the
    miner, so the binding cap cannot orphan the cluster — while
    near-dup pairs and unique docs behave as without the cap."""
    from vicinity_spark.operators.dedup import DEFAULT_MAX_BUCKET, neardup_dedup

    assert DEFAULT_MAX_BUCKET == 100
    page = "this exact page is mirrored five thousand times across the crawl today"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    uniq = [
        (100_000 + i, " ".join(f"u{i}t{j}" for j in range(12))) for i in range(20)
    ]
    rows = (
        [(i, page) for i in range(5000)]
        + [(50_000, near_a), (50_001, near_b)]
        + uniq
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = neardup_dedup(docs)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 0 in ids and len(ids & set(range(5000))) == 1  # giant cluster → one
    assert 50_000 in ids and 50_001 not in ids  # near-pair → min id
    assert {i for i, _ in uniq} <= ids
    assert len(ids) == 1 + 1 + 20


@pytest.mark.slow
def test_neardup_dedup_cap_observation(spark, caplog):
    """r10 (VERDICT r9 item 7): the composed entry point reports its
    cap drops by DEFAULT — a planted cluster of >cap NEAR-identical
    (not exact-identical, so the pre-pass cannot collapse it) docs
    must surface in the attached Observation and in a WARN log, not
    vanish silently. A caller-supplied Observation reads the same
    counts programmatically, and a corpus with no hot bucket reports
    zero."""
    import logging

    from pyspark.sql import Observation

    from vicinity_spark.operators.dedup import neardup_dedup

    def sent(base, extra):
        return " ".join(f"{base}t{i}" for i in range(20)) + f" {extra}"

    # 10 near-identical docs (one varying token) >> max_bucket=5
    rows = [(i, sent("hot", f"v{i}")) for i in range(10)]
    rows += [(100 + i, sent(f"u{i}", "x")) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    obs = Observation()
    with caplog.at_level(logging.WARNING, logger="vicinity_spark.operators.dedup"):
        out = neardup_dedup(
            docs, max_bucket=5, min_jaccard=0.5, cap_observation=obs
        )
    got = obs.get
    assert got["hot_buckets"] > 0
    assert got["hot_max"] == 10  # the planted cluster fills its buckets
    assert any(
        "cap dropped" in r.message and "max_bucket=5" in r.message
        for r in caplog.records
    )
    out.count()  # the capped plan still executes end to end

    # no caller observation → the entry point still reads+logs its own
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="vicinity_spark.operators.dedup"):
        neardup_dedup(docs, max_bucket=5, min_jaccard=0.5)
    assert any("cap dropped" in r.message for r in caplog.records)

    # clean corpus: observation reports zero, no WARN
    caplog.clear()
    clean = spark.createDataFrame(rows[-5:], "doc_id long, text string")
    obs2 = Observation()
    with caplog.at_level(logging.WARNING, logger="vicinity_spark.operators.dedup"):
        neardup_dedup(clean, max_bucket=5, min_jaccard=0.5, cap_observation=obs2)
    assert obs2.get == {"hot_buckets": 0, "hot_max": 0}
    assert not any("cap dropped" in r.message for r in caplog.records)


def test_neardup_dedup_quality_survivors(spark):
    """quality_col keeps each cluster's argmax instead of min id."""
    from vicinity_spark.operators.dedup import neardup_dedup

    near_a = "one two three four five six seven eight nine ten eleven twelve"
    near_b = "one two three four five six seven eight nine ten eleven thirteen"
    docs = spark.createDataFrame(
        [(1, near_a, 0.2), (2, near_b, 0.9), (3, "totally different words here now ok yes", 0.5)],
        "doc_id long, text string, quality double",
    )
    ids = {r.doc_id for r in neardup_dedup(docs, quality_col="quality").collect()}
    assert ids == {2, 3}


def test_hash_fn_auto_resolves_to_tokenroll(spark, docs_df):
    """hash_fn='auto' (the documented production default, r8) must be
    pair-identical to an explicit 'tokenroll' in every public miner;
    the max_df cap needs gram strings, which tokenroll never builds."""
    from vicinity_spark.operators.dedup import (
        minhash_lsh_pairs_rowwise,
        resolve_hash_fn,
    )

    assert resolve_hash_fn("auto") == "tokenroll"
    assert resolve_hash_fn("md5") == "md5"
    b = {
        tuple(r)
        for r in minhash_lsh_pairs_rowwise(
            docs_df, min_jaccard=0.3, hash_fn="tokenroll"
        ).collect()
    }
    assert len(b) > 0
    for miner in (minhash_lsh_pairs_rowwise, minhash_lsh_pairs):
        a = {
            tuple(r)
            for r in miner(docs_df, min_jaccard=0.3, hash_fn="auto").collect()
        }
        assert a == b, miner.__name__
    for fam in ("tokenroll", "md5_tokenroll", "auto"):
        with pytest.raises(ValueError, match="max_df"):
            minhash_lsh_pairs(docs_df, hash_fn=fam, max_df=3)


@pytest.mark.parametrize(
    "fam",
    ["md5"]
    + [pytest.param(f, marks=pytest.mark.slow) for f in ("xxhash64", "affine", "md5_affine")],
)
def test_minhash_max_df_cap_matches_reference(spark, fam):
    """The max_df hot-shingle cap: a boilerplate prefix shared by every
    doc is dropped from both the signatures and the verification, so
    the capped miner equals the reference pipeline over the
    hot-filtered shingles for every string-gram family — and unrelated
    docs that only share the boilerplate stop pairing."""
    from dedup_reference import reference_lsh_pairs

    boiler = "click here to subscribe now for more"
    bodies = [
        "the quick brown fox jumps over the lazy dog near the river",
        "the quick brown fox jumps over the lazy dog near the river",
        "the quick brown fox jumps over the lazy dog near the lake",
        "spark shuffles partitions across executors",
        "parquet stores columns in row groups",
        "duckdb runs analytical sql in process",
        "arrow batches move data between runtimes",
        "",  # boilerplate only: every shingle is hot → no buckets
        "x",
    ]
    docs = spark.createDataFrame(
        [(i, f"{boiler} {b}".strip()) for i, b in enumerate(bodies)],
        "doc_id long, text string",
    )
    kw = dict(n_hashes=16, rows_per_band=2, min_jaccard=0.2, hash_fn=fam)
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in minhash_lsh_pairs(docs, max_df=3, **kw).collect()
    }
    ref = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in reference_lsh_pairs(docs, max_df=3, **kw).collect()
    }
    assert got == ref
    assert got[(0, 1)] == 1.0
    assert all(a < 3 and b < 3 for a, b in got)
    # the cap binds: uncapped, the shared boilerplate pairs unrelated docs
    uncapped = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, **kw).collect()}
    assert any(b >= 3 for _, b in uncapped)
    with pytest.raises(ValueError, match="max_df"):
        minhash_lsh_pairs(docs, max_df=3, buckets=docs.select("doc_id"))


def test_dedup_lines_cross_doc_boilerplate(spark):
    """CCNet-style line dedup: lines in >= min_docs distinct docs go,
    unique lines stay byte-exact with order and empty lines preserved;
    within-doc repeats of a corpus-wide dup line are all removed."""
    from vicinity_spark.operators.dedup import dedup_lines

    nav = "home | products | about us"
    foot = "copyright 2024 example corp all rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"{nav}\nunique article one text here\n{foot}"),
            (2, f"{nav}\nsecond unique body\n\n{foot}"),
            (3, f"{nav}\nthird thing entirely"),
            (4, "standalone doc no boilerplate at all"),
            (5, f"{foot}\n{foot}\nbody five"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text_clean, r.n_lines, r.n_removed)
        for r in dedup_lines(docs, min_docs=3).collect()
    }
    assert got == {
        1: ("unique article one text here", 3, 2),
        2: ("second unique body\n", 4, 2),  # empty line preserved
        3: ("third thing entirely", 2, 1),
        4: ("standalone doc no boilerplate at all", 1, 0),
        5: ("body five", 3, 2),  # both in-doc copies removed
    }
    with pytest.raises(ValueError, match="min_docs"):
        dedup_lines(docs, min_docs=1)


def test_strip_shared_spans_hash_keys_matches_exact(spark):
    """The hashed-gram scale form must produce the identical cleaned
    corpus as the exact-string form on collision-free input (collisions
    are ~1e-10/pair; any mismatch here is a logic bug, not a hash
    accident)."""
    from vicinity_spark.operators.dedup import strip_shared_spans

    bp = "shared footer line with several tokens to strip out"
    rows = [(i, " ".join(f"d{i}w{j}" for j in range(10)) + " " + bp) for i in range(12)]
    rows.append((99, "Mixed CASE unique text that stays fully intact here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for kw in ({}, {"mask": "<DUP>"}):
        a = {tuple(r) for r in strip_shared_spans(docs, n=4, **kw).collect()}
        b = {tuple(r) for r in strip_shared_spans(docs, n=4, hash_keys=True, **kw).collect()}
        assert a == b and len(a) == 13


@pytest.mark.slow
def test_append_corpus_buckets_grows_snapshot(spark, tmp_path):
    """save(A) + append(B) must probe identically to save(A ∪ B): the
    appended rows land in the same pruning-ready layout with the
    sidecar's banding params."""
    from vicinity_spark.operators.dedup import (
        append_corpus_buckets,
        minhash_lsh_pairs_vs_snapshot,
        save_corpus_buckets,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    part_a = docs.where(F.col("doc_id") % 10 < 4)
    part_b = docs.where((F.col("doc_id") % 10 >= 4) & (F.col("doc_id") % 5 != 0))
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = part_a.unionByName(part_b)

    grown = str(tmp_path / "grown")
    save_corpus_buckets(part_a, grown, n_hashes=16, rows_per_band=4, n_bpart=4)
    append_corpus_buckets(part_b, grown)
    oneshot = str(tmp_path / "oneshot")
    save_corpus_buckets(corpus, oneshot, n_hashes=16, rows_per_band=4, n_bpart=4)

    g = {
        (r.id_new, r.id_corpus, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_vs_snapshot(
            spark, corpus, new, grown, min_jaccard=0.3
        ).collect()
    }
    w = {
        (r.id_new, r.id_corpus, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_vs_snapshot(
            spark, corpus, new, oneshot, min_jaccard=0.3
        ).collect()
    }
    assert g == w and len(g) > 0


@pytest.mark.slow
def test_compact_corpus_buckets(spark, tmp_path):
    """N appends → compact → the probe still finds identical pairs
    through a still-DPP-pruned plan, every rewritten (band, bpart)
    directory is back to ONE bkey-sorted file, and the `_params`
    sidecar survives (r9, VERDICT item 3)."""
    import glob
    import os

    from vicinity_spark.operators.dedup import (
        append_corpus_buckets,
        compact_corpus_buckets,
        minhash_lsh_pairs_vs_snapshot,
        save_corpus_buckets,
    )
    from vicinity_spark.plans.checks import explain_str

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    snap = str(tmp_path / "snap")
    save_corpus_buckets(
        corpus.where(F.col("doc_id") % 5 == 1), snap,
        n_hashes=16, rows_per_band=4, hash_fn="tokenroll", n_bpart=4,
    )
    for m in (2, 3, 4):  # three daily appends
        append_corpus_buckets(corpus.where(F.col("doc_id") % 5 == m), snap)

    def _files(d):
        return [
            f for f in os.listdir(d)
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(d, f))
        ]

    dirs = glob.glob(snap + "/band=*/bpart=*")
    assert dirs and max(len(_files(d)) for d in dirs) > 1  # fragmented

    before = {
        (r.id_new, r.id_corpus, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_vs_snapshot(
            spark, corpus, new, snap, min_jaccard=0.3
        ).collect()
    }
    n = compact_corpus_buckets(spark, snap, max_files_per_dir=1)
    assert n == sum(1 for d in dirs)  # every directory was fragmented
    assert all(len(_files(d)) == 1 for d in glob.glob(snap + "/band=*/bpart=*"))
    # idempotent: a second pass finds nothing over threshold
    assert compact_corpus_buckets(spark, snap, max_files_per_dir=1) == 0
    # in-file bkey sort preserved (row-group pruning on the probe key)
    one = glob.glob(snap + "/band=*/bpart=*/*.parquet")[0]
    keys = [r.bkey for r in spark.read.parquet(one).select("bkey").collect()]
    assert keys == sorted(keys) and len(keys) > 0

    seen = {}
    after = {
        (r.id_new, r.id_corpus, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_vs_snapshot(
            spark, corpus, new, snap, min_jaccard=0.3,
            _plan_observer=lambda df: seen.setdefault("cands", df),
        ).collect()
    }
    assert after == before and len(after) > 0
    assert "dynamicpruning" in explain_str(seen["cands"])
    with pytest.raises(ValueError, match="max_files_per_dir"):
        compact_corpus_buckets(spark, snap, max_files_per_dir=0)
    with pytest.raises(ValueError, match="_params"):
        compact_corpus_buckets(spark, str(tmp_path / "not_a_snapshot"))


def test_rowwise_precomputed_buckets_identical(spark):
    """r11 (VERDICT item 1): a caller-supplied, pre-materialized bucket
    table must yield pair-identical output to the internal signature
    pass — this is the injection point that lets the streaming ingest
    loop sign each micro-batch exactly once."""
    from vicinity_spark.operators.dedup import (
        band_buckets_rowwise,
        minhash_lsh_pairs_rowwise,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kw = dict(n_hashes=16, rows_per_band=4, shingle_n=3, hash_fn="tokenroll")
    pre = band_buckets_rowwise(docs, 16, 4, shingle_n=3, hash_fn="tokenroll")
    pre = pre.localCheckpoint(eager=True)
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_rowwise(docs, min_jaccard=0.3, **kw).collect()
    }
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_rowwise(
            docs, min_jaccard=0.3, buckets=pre, **kw
        ).collect()
    }
    assert got == want and len(got) > 0


def test_incremental_precomputed_new_buckets_identical(spark, tmp_path):
    """r11: the `new_buckets` injection (symmetric to corpus_buckets)
    must be pair-identical to the internal new-side signature pass, in
    snapshot mode (bpart derivation + DPP keys applied on top of the
    injected table)."""
    from pyspark.sql import Observation

    from vicinity_spark.operators.dedup import (
        band_buckets_rowwise,
        minhash_lsh_pairs_incremental,
        minhash_lsh_pairs_vs_snapshot,
        save_corpus_buckets,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    snap = str(tmp_path / "snap")
    save_corpus_buckets(corpus, snap, n_hashes=16, rows_per_band=4, n_bpart=4)
    pre = band_buckets_rowwise(new, 16, 4, shingle_n=3, hash_fn="md5")
    pre = pre.localCheckpoint(eager=True)
    want = {
        (r.id_new, r.id_corpus, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_vs_snapshot(
            spark, corpus, new, snap, min_jaccard=0.3
        ).collect()
    }
    obs = Observation()
    got = {
        (r.id_new, r.id_corpus, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_vs_snapshot(
            spark, corpus, new, snap, min_jaccard=0.3,
            new_buckets=pre, max_bucket=64, cap_observation_new=obs,
        ).collect()
    }
    assert got == want and len(got) > 0
    # the new-side cap observation is readable (and clean: no hot
    # buckets in this fixture)
    assert obs.get == {"hot_buckets": 0, "hot_max": 0}
    # guard: an observation without a cap would never be attached
    with pytest.raises(ValueError, match="cap_observation_new"):
        minhash_lsh_pairs_incremental(
            corpus, new, cap_observation_new=Observation()
        )


def test_neardup_dedup_observation_requires_cap(spark):
    """r10 ADVICE: cap_observation with max_bucket=None would never be
    attached — the caller's Observation.get would block forever —
    so the combination raises instead."""
    from pyspark.sql import Observation

    from vicinity_spark.operators.dedup import neardup_dedup

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError, match="cap_observation requires"):
        neardup_dedup(docs, max_bucket=None, cap_observation=Observation())
