"""Benchmark harness (driver contract: one JSON line to stdout).

Runs the headline workloads at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Per-query wall-clock seconds; the headline
metric is total seconds across the suite.

Workload mix: the vector-engine hot paths (batched exact k-NN over the
full embedding table — the reference's `query()` at full-corpus query
load, README.md:99-106 —, radius search, ANN strategies, similarity
self-join), the ★ pipeline operators (dedup, text), and the relational
heads that exercise join/agg/window at the largest table (lineitem).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from vicinity_spark import queries as Q
from vicinity_spark.session import get_spark


def _emb_all_queries(spark, sf_dir):
    return Q._t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def knn_batch_full(spark, sf_dir):
    """Every embedding queries the whole corpus, k=10, exact BLOCK-GRID
    plan (operators/grid.py): query vectors arrive through a join, so
    the plan holds at any query-table size — the honest shape for a
    full-table query load. (The bounded `auto` plan, which
    driver-collects the query batch, is benched under knn_scale_200k —
    its correct regime.)"""
    from vicinity_spark.operators.knn import knn_join

    return knn_join(
        Q._emb_corpus(spark, sf_dir),
        _emb_all_queries(spark, sf_dir),
        k=10,
        metric="cosine",
        algorithm="grid",
    )


def _ann_batch(strategy_name):
    """ANN batch query with the index pre-built and cached (untimed):
    the reference's QPS methodology times only the batched query() call
    against an in-memory index (vicinity/vicinity.py:374-380); build
    cost is a one-time ingest cost, exercised separately in tests."""
    from vicinity_spark.datatypes import Metric

    def make(spark, sf_dir):
        if strategy_name == "lsh":
            from vicinity_spark.backends.lsh import LSHStrategy

            strat = LSHStrategy(n_tables=12, n_bits=8)
        elif strategy_name == "sq":
            from vicinity_spark.backends.sq import SQStrategy

            strat = SQStrategy(refine=4)
        elif strategy_name == "pq":
            from vicinity_spark.backends.pq import PQStrategy

            strat = PQStrategy(m=8, ksub=64, refine=8)
        elif strategy_name == "ivfpq":
            from vicinity_spark.backends.ivfpq import IVFPQStrategy

            strat = IVFPQStrategy(nlist=32, nprobe=8, m=8, ksub=64, refine=8)
        elif strategy_name == "ivfsq":
            from vicinity_spark.backends.ivfsq import IVFSQStrategy

            strat = IVFSQStrategy(nlist=32, nprobe=8, refine=4)
        elif strategy_name == "ivfpqr":
            from vicinity_spark.backends.ivfpq import IVFPQStrategy

            # faiss ivfpqr: re-rank from refinement codes, no
            # full-width re-scan of true vectors
            strat = IVFPQStrategy(nlist=32, nprobe=8, m=8, ksub=64, refine=8, refine_m=16)
        elif strategy_name == "graph":
            from vicinity_spark.backends.graph import GraphStrategy

            # seed_mode="ivf" (r5) seeds each query from its nearest
            # centroids' member sets. r6 swept the QUERY-side knobs
            # (seeds/beam/rounds) to recall 0.769 at the ~4s budget;
            # r7 swept the BUILD side the r6 sweep held fixed — graph
            # degree k_build is paid in the UNTIMED build, and a
            # denser graph lifts recall far more per query-second
            # than any query knob (BENCHNOTES "build-side frontier"):
            # kb16 0.769@4.65s → kb32/beam96 0.956@5.68s (build 8.8
            # → 9.0s). kb48 reaches 0.977 at 7.8s — past the knee.
            strat = GraphStrategy(
                k_build=32, iters=2, beam=96, expansions=1,
                seed_mode="ivf", seed_probe=8, seed_members=16,
            )
        elif strategy_name == "ivf":
            from vicinity_spark.backends.ivf import IVFStrategy

            strat = IVFStrategy(nlist=32, nprobe=4)
        else:
            raise ValueError(f"unknown ANN strategy {strategy_name!r}")
        corpus = strat.build(Q._emb_corpus(spark, sf_dir), Metric.COSINE, Q.DIM).cache()
        corpus.count()
        # untimed warm-up of the strategy's query path on a bounded
        # query slice (the reference QPS methodology warms the index,
        # vicinity.py:374-380; this additionally JITs the plan so the
        # single-shot timed call measures the plan, not first-touch —
        # measured 12.7s→6.6s on ann_graph_batch rep1 vs warmed)
        strat.knn(
            corpus, _emb_all_queries(spark, sf_dir).limit(100), k=10, metric=Metric.COSINE
        ).count()
        if strategy_name == "graph":
            # r8: graph's beam loop is the one ANN query path with a
            # measurable JIT slope left after the 100-query slice
            # (isolated reps 8.5→7.2→7.5 vs 5.7 builder-clean in r7) —
            # one full-size untimed pass starts the timed reps at the
            # knee (same finding as lsh_neardup_2m; BENCHNOTES r8)
            strat.knn(
                corpus, _emb_all_queries(spark, sf_dir), k=10, metric=Metric.COSINE
            ).count()
        return lambda s, d: strat.knn(corpus, _emb_all_queries(s, d), k=10, metric=Metric.COSINE)

    return make


ann_lsh_batch = _ann_batch("lsh")
ann_sq_batch = _ann_batch("sq")
ann_pq_batch = _ann_batch("pq")
ann_ivf_batch = _ann_batch("ivf")
ann_ivfpq_batch = _ann_batch("ivfpq")
ann_ivfsq_batch = _ann_batch("ivfsq")
ann_ivfpqr_batch = _ann_batch("ivfpqr")
ann_graph_batch = _ann_batch("graph")


def _synth_vectors(spark, n=200_000, dim=64, parts=32):
    """Deterministic synthetic corpus (seeded rand per column) — the
    vector tables in testdata are small at sf0.1, so this entry shows
    the k-NN plans at a corpus size where the partial-top-k and LSH
    candidate plans actually matter."""
    from pyspark.sql import functions as F

    cols = F.array(*[F.rand(seed=1000 + i) for i in range(dim)])
    return (
        spark.range(0, n, 1, parts)
        .select(F.col("id"), cols.cast("array<float>").alias("vector"))
    )


def _knn_scale(n, parts=32):
    """100 queries × n corpus, exact partial top-k. The 2M tier (r5,
    VERDICT item 2) is the falsifiable linear-scaling evidence for the
    exact path: per-partition top-k then a bounded merge — cost ∝ n."""

    def make(spark, sf_dir):
        from vicinity_spark.operators.knn import knn_join

        corpus = _synth_vectors(spark, n=n, parts=parts).cache()
        corpus.count()
        queries = _synth_vectors(spark, n=100).select(
            F.col("id").alias("query_id"), F.col("vector").alias("qvec")
        )
        # untimed warm-up on a bounded slice: JIT/codegen for the same
        # operators, so the timed single-shot measures the plan
        knn_join(corpus.limit(5000), queries, k=10, metric="cosine", algorithm="auto").count()
        return lambda s, d: knn_join(corpus, queries, k=10, metric="cosine", algorithm="auto")

    return make


knn_scale_200k = _knn_scale(200_000)
knn_scale_2m = _knn_scale(2_000_000, parts=64)
# 5M tier (r6, VERDICT item 8): the third half-decade, promoted from
# the r5 off-suite measurement to a driver-recorded entry for the two
# cheap query paths only (~6s suite cost; the heavy pair-mining paths
# keep their documented off-suite 5M points)
knn_scale_5m = _knn_scale(5_000_000, parts=96)


def _lsh_neardup(n, n_dups, n_bits, parts=32):
    """Near-dup pair mining at n rows: (n - n_dups) base vectors +
    n_dups planted near-copies (tiny per-dim noise). The all-pairs form
    is O(n²) candidate pairs — infeasible; the LSH bucket self-join
    (backends/lsh.py neardup_pairs) finds the planted pairs through an
    equi-join whose candidate volume is bucket-bounded. Across tiers
    n_bits grows with log2(n) (16 @ 200k → 20 @ 2M) to hold bucket
    DENSITY constant — the production scaling knob: per-bucket pair
    volume stays flat, total candidate volume stays ∝ n."""

    def make(spark, sf_dir):
        from vicinity_spark.backends.lsh import LSHStrategy
        from vicinity_spark.datatypes import Metric

        n_base = n - n_dups
        base = _synth_vectors(spark, n=n_base, parts=parts)
        noise = F.array(*[(F.rand(seed=5000 + i) - 0.5) * 0.01 for i in range(64)])
        dups = base.where(F.col("id") < n_dups).select(
            (F.col("id") + n_base).alias("id"),
            F.zip_with("vector", noise, lambda x, y: x + y).cast("array<float>").alias("vector"),
        )
        strat = LSHStrategy(n_tables=6, n_bits=n_bits)
        corpus = strat.build(base.unionByName(dups), Metric.COSINE, 64).cache()
        corpus.count()
        # untimed warm-up, FULL size (r8, VERDICT r7 item 2): the r7
        # driver-vs-clean spread on this entry (33.3s vs 16.2s) is
        # long-tail JIT + Python-worker warm-up, not plan instability —
        # instrumented reps decay monotonically 24.5→16.8→13.0→~12.7s
        # PLATEAU with the corpus 128/128 cache-resident, GC deltas
        # <0.3s, and zero AQE plan changes between reps (BENCHNOTES r8
        # "heavy-tail spread"). A 0.5%-sample warm-up never drives the
        # C2 compile thresholds of the join/verify loops; one full-size
        # untimed pass does, so the timed reps start at the knee.
        strat.neardup_pairs(corpus.sample(0.005, seed=1), 0.1, Metric.COSINE).count()
        strat.neardup_pairs(corpus, 0.1, Metric.COSINE).count()
        return lambda s, d: strat.neardup_pairs(corpus, 0.1, Metric.COSINE)

    return make


lsh_neardup_200k = _lsh_neardup(200_000, 1000, 16)
lsh_neardup_2m = _lsh_neardup(2_000_000, 10_000, 20, parts=64)


def _synth_docs(spark, n=199_000, n_dups=1000, tokens=16, parts=32):
    """n base docs of `tokens` md5-derived words (unique across docs —
    cross-doc Jaccard 0) + n_dups near-copies of the first n_dups docs
    with the LAST token mutated: 15/16 tokens shared → shingle Jaccard
    ≈ 0.65, well above the 0.5 mining threshold. All generated
    executor-side from `range` — nothing driver-resident."""
    base = spark.range(0, n, 1, parts).select(
        F.col("id").alias("doc_id"), F.col("id").alias("__src")
    )
    dups = spark.range(0, n_dups, 1, max(parts // 8, 1)).select(
        (F.col("id") + n).alias("doc_id"), F.col("id").alias("__src")
    )
    toks = [
        F.substring(
            F.md5(F.concat_ws("-", F.col("__src").cast("string"), F.lit(str(j)))), 1, 8
        )
        for j in range(tokens)
    ]
    last = F.when(
        F.col("doc_id") >= n, F.concat(F.lit("zz"), F.col("doc_id").cast("string"))
    ).otherwise(toks[-1])
    return (
        base.unionByName(dups)
        .select("doc_id", F.concat_ws(" ", *toks[:-1], last).alias("text"))
    )


def _dedup_e2e(n, n_dups, parts=32):
    """The full 100 TB dedup composition at the n-row tier: MinHash-LSH
    pair mining → connected components → keep one representative per
    cluster. (n - n_dups) unique docs + n_dups planted near-copies; the
    returned survivor set must count exactly n - n_dups (asserted in
    tests/test_dedup.py::test_dedup_e2e_composition at a smaller tier).
    Every stage is equi-join/groupBy bounded — no all-pairs anywhere;
    band-bucket keys live in a 64-bit hash space, so bucket density is
    collision-driven (near-dups only) at every tier and cost stays
    ∝ n with no knob change."""
    from vicinity_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs_rowwise,
    )

    def make(spark, sf_dir):
        docs = _synth_docs(spark, n=n - n_dups, n_dups=n_dups, parts=parts).cache()
        docs.count()

        def run(s, d, _docs=None):
            base = _docs if _docs is not None else docs
            # r6: rowwise plan (signatures as a per-row projection,
            # candidate-bounded verification) — pair-identical to the
            # onepass miner, measured 24.9 vs 28.5s min-of-3
            # interleaved at 2M for the mining phase and markedly more
            # stable (BENCHNOTES r6 rowwise section).
            # r7: tokenroll family (no gram strings) — same verified
            # survivor count, e2e 24.5s → 17.4s min-of-2 same-session
            # at 2M (BENCHNOTES "tokenroll"; the isolated family twin
            # is the minhash_tokenroll_200k suite entry)
            # r8: this entry stays UNCAPPED deliberately — it is the
            # cross-round anchor for raw mining cost, and the capped
            # production default lives in the composed library entry
            # point it predates (neardup_dedup / neardup_dedup_2m,
            # VERDICT item 5). Interleaved same-session A/B at 2M puts
            # the lazy cap at parity ([27.1,23.2]s capped vs
            # [29.9,22.3]s uncapped) but one in-suite run showed a 2x
            # overage with the cap on — the cap's second bucket-frame
            # projection is the plausible term; priced in
            # neardup_dedup_2m, kept out of the anchor (BENCHNOTES r8).
            pairs = minhash_lsh_pairs_rowwise(
                base, n_hashes=16, rows_per_band=2, min_jaccard=0.5,
                hash_fn="tokenroll",
            )
            comps = connected_components(base.select("doc_id"), pairs, id_col="doc_id")
            return comps.where(F.col("rep") == F.col("id"))

        # untimed warm-up: full composition's codegen on a slice
        run(spark, sf_dir, _docs=docs.limit(4000)).count()
        return run

    return make


dedup_e2e_200k = _dedup_e2e(200_000, 1000)


def neardup_dedup_2m(spark, sf_dir):
    """r8: the COMPOSED library entry point (operators/dedup.py
    neardup_dedup) at 2M — what a user actually calls: exact-dedup
    pre-pass → tokenroll MinHash mining with the production cap ON →
    components → survivor ROWS with all columns. ~+11s over the
    mining-only dedup_e2e_2m anchor: the pre-pass hash groupBy, the
    two id semi-joins that return full rows, and the cap's second
    bucket-frame projection (BENCHNOTES r8 "lazy hot-bucket cap") —
    each linear, shuffle-bounded by |docs|, and absent from the anchor
    because the anchor times raw uncapped mining over survivor IDs
    only. Both entries stay: the anchor isolates mining cost across
    rounds; this one prices the user-facing composition."""
    docs = _synth_docs(spark, n=1_999_000, n_dups=1000, parts=64).cache()
    docs.count()
    from vicinity_spark.operators.dedup import neardup_dedup

    def run(s, d):
        return neardup_dedup(docs)

    run(spark, sf_dir).count()  # untimed warm-up (plan + codegen)
    return run
dedup_e2e_2m = _dedup_e2e(2_000_000, 10_000, parts=64)


def _lsh_scale(n, n_bits, parts=32):
    """100 queries × n corpus via LSH bucket equi-join. n_bits grows
    with log2(n) across tiers (12 @ 200k → 16 @ 2M, constant bucket
    density ≈ 30-50 rows): query cost is bucket-bounded and stays ~flat
    while the corpus grows 10× — the pruning story that makes LSH the
    scale path for single-query serving."""

    def make(spark, sf_dir):
        from vicinity_spark.backends.lsh import LSHStrategy
        from vicinity_spark.datatypes import Metric

        strat = LSHStrategy(n_tables=8, n_bits=n_bits)
        corpus = strat.build(_synth_vectors(spark, n=n, parts=parts), Metric.COSINE, 64).cache()
        corpus.count()
        queries = _synth_vectors(spark, n=100).select(
            F.col("id").alias("query_id"), F.col("vector").alias("qvec")
        )
        # untimed warm-up: bucket-probe + re-rank codegen on a slice
        strat.knn(corpus.limit(5000), queries, k=10, metric=Metric.COSINE).count()
        return lambda s, d: strat.knn(corpus, queries, k=10, metric=Metric.COSINE)

    return make


lsh_scale_200k = _lsh_scale(200_000, 12)
lsh_scale_2m = _lsh_scale(2_000_000, 16, parts=64)
lsh_scale_5m = _lsh_scale(5_000_000, 17, parts=96)  # r6: see knn_scale_5m note


def multimodal_bmp_200k(spark, sf_dir):
    """Multimodal column at the 200k tier: 200k real 24-bit BMP
    payloads (~165 MB of binary column, built+cached untimed) →
    REAL-codec decode + pooled-grid feature extraction (Arrow-batched
    mapInPandas, fake=False) → exact cosine k-NN of 100 query images
    over all 200k feature vectors (collect-free grid plan; query
    features extracted from a 100-row pushed-down slice of the media
    table, not a second full pass). Times the claim that a binary
    media column is a first-class vector source at scale."""
    from vicinity_spark.operators.knn import knn_join
    from vicinity_spark.operators.multimodal import extract_features, synthetic_bmp_media

    ids = spark.range(0, 200_000, 1, 32).select(F.col("id").alias("media_id"))
    media = synthetic_bmp_media(ids).cache()
    media.count()
    # untimed warm-up of the decode+feature kernel codegen
    extract_features(media.where(F.col("media_id") < 2000), fake=False).count()

    def run(s, d):
        corpus = extract_features(media, fake=False).select(
            F.col("media_id").alias("id"), F.col("feature").alias("vector")
        )
        queries = extract_features(
            media.where(F.col("media_id") < 100), fake=False
        ).select(F.col("media_id").alias("query_id"), F.col("feature").alias("qvec"))
        return knn_join(corpus, queries, k=10, metric="cosine", algorithm="grid", dim=16)

    return run


def minhash_longdoc_200k(spark, sf_dir):
    """MinHash mining at REALISTIC doc lengths (r6): 200k docs × 160
    tokens (~32M grams) — the tier that exposed the per-seed rowwise
    form as a regression the 15-token tiers hid (BENCHNOTES r6
    long-doc table: exploded 31.9s / per-seed 52.6s / shipped single
    fold 23.3s). Driver-recorded so signature-plan changes are always
    measured against text volume, not just doc count."""
    from vicinity_spark.operators.dedup import minhash_lsh_pairs_rowwise

    docs = _synth_docs(spark, n=199_000, n_dups=1000, tokens=160, parts=32).cache()
    docs.count()

    def run(s, d, _docs=None):
        return minhash_lsh_pairs_rowwise(
            _docs if _docs is not None else docs,
            n_hashes=16, rows_per_band=2, min_jaccard=0.5, hash_fn="xxhash64",
        )

    run(spark, sf_dir, _docs=docs.limit(4000)).count()  # untimed warm-up
    return run


def minhash_longdoc_2m(spark, sf_dir):
    """The 2M-row long-doc tier (r7, VERDICT r6 item 4): 2M docs × 160
    tokens (~320M grams) through the same rowwise miner as
    minhash_longdoc_200k. Pins the headline asymptote where it
    matters: shuffle ∝ candidates, not text. Measured 272.7s (min of
    2) vs 23.3s at 200k — 11.7× for 10× the grams (BENCHNOTES
    "long-doc tier at 2M" has the factor table). Included in the suite
    only under SPARK_GRAFT_BENCH_EXTENDED=1: a single ~270s entry
    would triple the per-round driver suite, so the default suite
    keeps the 200k point and the 2M point is recorded here + in
    BENCHNOTES with the measurement scripted for re-runs."""
    from vicinity_spark.operators.dedup import minhash_lsh_pairs_rowwise

    docs = _synth_docs(spark, n=1_990_000, n_dups=10_000, tokens=160, parts=64).cache()
    docs.count()

    def run(s, d, _docs=None):
        return minhash_lsh_pairs_rowwise(
            _docs if _docs is not None else docs,
            n_hashes=16, rows_per_band=2, min_jaccard=0.5, hash_fn="xxhash64",
        )

    run(spark, sf_dir, _docs=docs.limit(4000)).count()  # untimed warm-up
    return run


def minhash_tokenroll_200k(spark, sf_dir):
    """The r7 token-rolling family on the SAME corpus as
    minhash_longdoc_200k: gram base hashes are arithmetic combinations
    of per-token hashes behind a double Generate barrier, so the
    signature phase never allocates a gram string — the measured
    dominant cost of every string-gram family at this tier (phase
    1.45s vs 23.2s; full miner 8.2s vs 30.9s same-session, identical
    1000 planted pairs — BENCHNOTES "tokenroll"). Recorded as its own
    suite entry (minhash_longdoc_200k keeps the r6 xxhash64 fold
    untouched) so the family gap is driver-measured every round."""
    from vicinity_spark.operators.dedup import minhash_lsh_pairs_rowwise

    docs = _synth_docs(spark, n=199_000, n_dups=1000, tokens=160, parts=32).cache()
    docs.count()

    def run(s, d, _docs=None):
        return minhash_lsh_pairs_rowwise(
            _docs if _docs is not None else docs,
            n_hashes=16, rows_per_band=2, min_jaccard=0.5, hash_fn="tokenroll",
        )

    run(spark, sf_dir, _docs=docs.limit(4000)).count()  # untimed warm-up
    return run


def pack_mix_2m(spark, sf_dir):
    """The r7 training-data layout ops at the 2M tier: weighted mixing
    (2 sources, one fractional weight) → per-copy order_key → sequence
    packing over the shuffled order (the docs_training_stream
    composition at 1000× the gate corpus). Exercises the two-phase
    prefix sum where it matters — the global ordered cumsum over ~2.6M
    mixed copies — plus the mix Generate and the text join. The
    returned frame aggregates to one audit row (driver-friendly) but
    the timed work is the full per-copy coordinate computation."""
    from vicinity_spark.operators.sampling import mix_sources
    from vicinity_spark.operators.textops import pack_sequences, pack_summary

    docs = (
        _synth_docs(spark, n=1_999_000, n_dups=1000, parts=64)
        .withColumn("source", F.concat(F.lit("s"), (F.col("doc_id") % 2).cast("string")))
        .cache()
    )
    docs.count()

    def run(s, d):
        mixed = mix_sources(docs, {"s0": 2.0, "s1": 0.6})
        withtext = mixed.join(docs.select("doc_id", "text"), "doc_id")
        packed = pack_sequences(withtext, seq_len=512, id_col="order_key", num_ranges=64)
        return pack_summary(packed, 512)

    run(spark, sf_dir).collect()  # untimed warm-up (plan + codegen)
    return run


def minhash_incremental_2m(spark, sf_dir):
    """Incremental dedup at the realistic operating point: a 20k-doc
    ingest batch (10k near-copies of corpus docs + 10k novel) probed
    against a 2M-doc corpus whose bucket table is PRECOMPUTED (the
    saved-snapshot reuse path — building it is untimed, exactly like
    an ANN index build). Timed work = batch-side signatures (20k rows,
    a projection), a broadcast probe of the 16M-row corpus bucket
    table (no corpus-side shuffle — the claim that a daily ingest
    never re-shuffles the standing corpus), and candidate-bounded
    verification (~10k pairs). Contrast with dedup_e2e_2m, which pays
    the full-corpus mining cost every run."""
    from vicinity_spark.operators.dedup import (
        band_buckets_rowwise,
        minhash_lsh_pairs_incremental,
    )

    corpus = _synth_docs(spark, n=2_000_000, n_dups=0, parts=64).cache()
    corpus.count()
    pre = band_buckets_rowwise(
        corpus, 16, 2, hash_fn="tokenroll"
    ).localCheckpoint(eager=True)

    # batch: 10k near-dups of corpus docs 0..9999 (last token mutated —
    # same 15/16-shared-token recipe as _synth_docs dups, Jaccard ≈
    # 0.65) + 10k novel docs from a disjoint __src range
    def _batch():
        dup_src = spark.range(0, 10_000, 1, 8).select(
            (F.col("id") + 3_000_000).alias("doc_id"), F.col("id").alias("__src")
        )
        new_src = spark.range(0, 10_000, 1, 8).select(
            (F.col("id") + 3_100_000).alias("doc_id"),
            (F.col("id") + 5_000_000).alias("__src"),
        )
        toks = [
            F.substring(
                F.md5(F.concat_ws("-", F.col("__src").cast("string"), F.lit(str(j)))), 1, 8
            )
            for j in range(16)
        ]
        last = F.when(
            F.col("doc_id") < 3_100_000,
            F.concat(F.lit("qq"), F.col("doc_id").cast("string")),
        ).otherwise(toks[-1])
        return dup_src.unionByName(new_src).select(
            "doc_id", F.concat_ws(" ", *toks[:-1], last).alias("text")
        )

    batch = _batch().cache()
    batch.count()

    def run(s, d):
        return minhash_lsh_pairs_incremental(
            corpus,
            batch,
            n_hashes=16,
            rows_per_band=2,
            min_jaccard=0.5,
            hash_fn="tokenroll",
            corpus_buckets=pre,
            broadcast_new=True,
        )

    run(spark, sf_dir).count()  # untimed warm-up (plan + codegen)
    return run


def span_dedup_2m(spark, sf_dir):
    """r8: exact-substring span dedup at 2M docs — the Lee-et-al
    operator over ~33M positioned 5-grams. 100k docs (every 20th)
    carry one shared 8-token footer (its grams have corpus frequency
    100k — the hot-gram case: a counter in the frequency groupBy,
    then a 100k-row semi-join hit, never a row explosion), plus 1k
    planted within-doc repeats. Timed work = the positioned-gram
    projection, ONE map-side-combined frequency count filtered to the
    duplicated vocabulary, the join-back, and the in-row run-merge +
    text rebuild. The count() consumes text_clean, so the HOF
    reconstruction is genuinely executed, not pruned."""
    from vicinity_spark.operators.dedup import strip_shared_spans

    base = _synth_docs(spark, n=2_000_000, n_dups=0, parts=64)
    foot = " all rights reserved contact the licensing office today"
    docs = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 20 == 0, F.concat(F.col("text"), F.lit(foot)))
        .when(
            F.col("doc_id") % 2000 == 1,
            # within-doc repeat: doc's own first words duplicated
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).cache()
    docs.count()

    def run(s, d):
        # hash_keys: the 64-bit-key scale form (r9 re-key — full
        # xxhash64 keys, no 32-bit mask) — both gram shuffles move
        # bigints, never gram strings (exact-string twin measured
        # 19.6s vs 8.4s min-of-3 at this tier; equality pinned by
        # test_strip_shared_spans_hash_keys_matches_exact)
        out = strip_shared_spans(docs, n=5, min_count=2, hash_keys=True)
        # force full reconstruction: aggregate over the rebuilt text
        return out.where(F.length("text_clean") >= 0)

    run(spark, sf_dir).count()  # untimed warm-up (plan + codegen)
    return run


def dsir_2m(spark, sf_dir):
    """r8: DSIR importance selection at 2M raw docs × 24 tokens from a
    bounded 50k-type vocabulary (realistic LM-fit shape — _synth_docs'
    unique-vocab corpus would make the vocab scale with the corpus,
    which is the wrong asymptote for an LM) against a 20k-doc target
    domain concentrated on a 5k-type sub-vocabulary. Timed work = BOTH
    LM fits (vocab-bounded map-side groupBys), the 48M-token stream
    join against the combined (tok, lp_t, lp_r) table, the per-doc
    sum, and the TakeOrdered top-10k head — the full dsir_select call,
    since re-fitting per run is exactly what a daily curation job
    pays."""
    from vicinity_spark.operators.sampling import dsir_select

    vocab, n = 50_000, 2_000_000
    base = spark.range(0, n, 1, 64).select(F.col("id").alias("doc_id"))
    toks = [
        F.substring(
            F.md5((F.abs(F.hash(F.col("doc_id"), F.lit(j))) % vocab).cast("string")),
            1,
            8,
        )
        for j in range(24)
    ]
    raw = base.select("doc_id", F.concat_ws(" ", *toks).alias("text")).cache()
    raw.count()
    tb = spark.range(0, 20_000, 1, 8).select(F.col("id").alias("doc_id"))
    ttoks = [
        F.substring(
            F.md5(
                (F.abs(F.hash(F.col("doc_id"), F.lit(j + 100))) % 5_000).cast("string")
            ),
            1,
            8,
        )
        for j in range(24)
    ]
    target = tb.select("doc_id", F.concat_ws(" ", *ttoks).alias("text")).cache()
    target.count()

    def run(s, d):
        # explicit features= (r9): the production default moved to
        # 'auto' → hashed_ngram; this entry stays the cross-round
        # UNIGRAM anchor (dsir_hashed_2m prices the new default)
        return dsir_select(raw, target, k=10_000, features="unigram")

    # untimed warm-up on a slice (plan + codegen, not the full fit)
    dsir_select(raw.limit(20_000), target, k=100, features="unigram").count()
    return run


def dsir_hashed_1m(spark, sf_dir):
    """r9 (as dsir_hashed_2m), RIGHT-SIZED in r10 (VERDICT r9 item 6):
    DSIR under the PRODUCTION DEFAULT feature model (features='auto' →
    hashed_ngram): every uni+bigram md5-bucketed into 4096 buckets —
    2×24−1 = 47 features/doc ≈ 47M stream rows at 1M docs — while BOTH
    LM tables are hard-capped at 4096 rows and broadcast at any corpus
    size, the trade the default buys. The r9 2M tier was the suite's
    heaviest entry and recorded 1.6-2.4× its own isolated floor
    (reps [127, 194] vs 81.5s min-of-3) — memory-pressure variance,
    not plan variance; the plan (exactly two stream passes: one fit,
    one scoring) is shape-independent, so 1M docs at the identical
    24-token/47-feature shape prices the same asymptote inside the
    stable 5-90s min-of-4 rep tier (BENCHNOTES r10 "dsir_hashed
    right-sizing"). History: the 2M tier's first recording (457s)
    exposed two repeated-evaluation bugs (fit re-ran the stream 3×;
    hashed_gram_stream re-split per gram position), both fixed in r9;
    md5 is NOT the bottleneck (xxhash64 within 5%), so the
    engine-portable md5-hex bucketing stays."""
    from vicinity_spark.operators.sampling import dsir_select

    vocab, n = 50_000, 1_000_000
    base = spark.range(0, n, 1, 64).select(F.col("id").alias("doc_id"))
    toks = [
        F.substring(
            F.md5((F.abs(F.hash(F.col("doc_id"), F.lit(j))) % vocab).cast("string")),
            1,
            8,
        )
        for j in range(24)
    ]
    raw = base.select("doc_id", F.concat_ws(" ", *toks).alias("text")).cache()
    raw.count()
    tb = spark.range(0, 20_000, 1, 8).select(F.col("id").alias("doc_id"))
    ttoks = [
        F.substring(
            F.md5(
                (F.abs(F.hash(F.col("doc_id"), F.lit(j + 100))) % 5_000).cast("string")
            ),
            1,
            8,
        )
        for j in range(24)
    ]
    target = tb.select("doc_id", F.concat_ws(" ", *ttoks).alias("text")).cache()
    target.count()

    def run(s, d):
        return dsir_select(raw, target, k=10_000)  # default = 'auto'

    # untimed warm-up on a slice (plan + codegen, not the full fit)
    dsir_select(raw.limit(20_000), target, k=100).count()
    return run


def emb_projection_1024(spark, sf_dir):
    """r9 (VERDICT item 2): random projection at the docstring's own
    production shape — 200k × 1024-d → 128-d. The literal-matrix form
    is disqualified at this shape by measurement (131k Catalyst
    literals: ~99s of driver-side expression build + ~101s execution —
    the fold is O(in·out) scalar ops per row outside SIMD), so 'auto'
    routes to the Arrow twin: the 1 MB matrix ships once per executor
    in a Spark broadcast and each Arrow batch is one numpy matmul
    (BENCHNOTES r9 "projection at 1024-d"). Timed work = the full
    200k-row projection + a sum over one output coordinate (consumes
    the projected column so the matmul genuinely runs)."""
    from vicinity_spark.operators.embedding import random_projection

    cols = F.array(*[F.rand(seed=9000 + i) for i in range(1024)])
    corpus = (
        spark.range(0, 200_000, 1, 32)
        .select(F.col("id"), cols.cast("array<double>").alias("vector"))
        .cache()
    )
    corpus.count()

    def run(s, d):
        proj = random_projection(corpus, 128, in_dim=1024)
        return proj.select(F.sum(F.element_at("projected", 1)).alias("s"))

    run(spark, sf_dir).collect()  # untimed warm-up (Arrow workers + plan)
    return run


def _bm25_bench(n, vocab, parts=32):
    """r11: BM25 top-k retrieval (operators/retrieval.py bm25_topk) —
    8 query-by-example docs against n docs × 32 tokens over a shared
    `vocab`-word vocabulary (the bounded-vocab recipe: a retrieval
    bench over _synth_docs' unique-per-doc vocabulary would match
    nothing but the query doc itself — the wrong asymptote; the vocab
    scales with n so per-term selectivity — ~128 matching postings per
    query term — stays constant across tiers, making the 200k→2M pair
    a clean linear-scaling probe of the one corpus-sized stage: the
    (doc, term) tf aggregate + the broadcast-filtered score join).
    Corpus cached untimed (the retrieval serves many query batches in
    production); one untimed warm-up drives the plan's codegen."""

    def make(spark, sf_dir):
        tokens = 32
        toks = [
            F.concat(
                F.lit("w"),
                (F.abs(F.xxhash64(F.col("id"), F.lit(j))) % vocab).cast("string"),
            )
            for j in range(tokens)
        ]
        docs = (
            spark.range(0, n, 1, parts)
            .select(F.col("id").alias("doc_id"), F.concat_ws(" ", *toks).alias("text"))
            .cache()
        )
        docs.count()
        queries = docs.where(F.col("doc_id") < 8)
        from vicinity_spark.operators.retrieval import bm25_topk

        bm25_topk(docs, queries, k=10).count()  # untimed warm-up
        return lambda s, d: bm25_topk(docs, queries, k=10)

    return make


bm25_200k = _bm25_bench(200_000, 50_000)
bm25_2m = _bm25_bench(2_000_000, 500_000, parts=64)


def bm25_serve_2m(spark, sf_dir):
    """r12: the PERSISTED-index serving path priced against
    `bm25_2m`'s ad-hoc pass (same corpus recipe, same 8 queries).
    Untimed: build bm25_index over 2M docs × 32 tok (500k vocab),
    save it (term-group-partitioned parquet, bm25_index_save), load
    it back. Timed: bm25_topk against the LOADED layout — the probe
    recomputes the term-group key, so the broadcast join's dynamic
    partition pruning reads only the query terms' partition
    directories and no corpus-sized aggregate runs at query time.
    This is the steady-state cost a BM25 serving deployment pays per
    query batch; the ad-hoc entry is the build cost it pays once."""
    import atexit
    import shutil
    import tempfile

    from vicinity_spark.operators.retrieval import (
        bm25_index,
        bm25_index_load,
        bm25_index_save,
        bm25_topk,
    )

    n, vocab, tokens = 2_000_000, 500_000, 32
    toks = [
        F.concat(
            F.lit("w"),
            (F.abs(F.xxhash64(F.col("id"), F.lit(j))) % vocab).cast("string"),
        )
        for j in range(tokens)
    ]
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *toks).alias("text")
    )
    queries = docs.where(F.col("doc_id") < 8).cache()
    queries.count()
    folder = tempfile.mkdtemp(prefix="vspark_bench_bm25_")
    atexit.register(shutil.rmtree, folder, ignore_errors=True)
    bm25_index_save(*bm25_index(docs), folder)
    postings, stats = bm25_index_load(spark, folder)

    def run(s, d):
        return bm25_topk(None, queries, k=10, postings=postings, stats=stats)

    run(spark, sf_dir).count()  # untimed warm-up (plan + codegen)
    return run


def bigram_xent_2m(spark, sf_dir):
    """r11: stupid-backoff bigram quality scoring
    (textops.bigram_logprob) at 2M docs × 24 tokens over the bounded
    50k-type vocabulary (same recipe and rationale as dsir_2m: an LM
    bench needs a vocab that does NOT scale with the corpus). Timed
    work = the bigram fit (one in-row pair-zip corpus pass → 46M-pair
    aggregate → TakeOrdered 65k cap), the unigram fit, and the scoring
    pass (one event-stream corpus pass + two bounded-table joins +
    per-doc sums) — re-fitting per run is the daily curation job's
    real price. Output reduced to one aggregate row so the driver
    never collects 2M scores."""
    vocab, n = 50_000, 2_000_000
    toks = [
        F.substring(
            F.md5((F.abs(F.hash(F.col("doc_id"), F.lit(j))) % vocab).cast("string")),
            1,
            8,
        )
        for j in range(24)
    ]
    docs = (
        spark.range(0, n, 1, 64)
        .select(F.col("id").alias("doc_id"))
        .select("doc_id", F.concat_ws(" ", *toks).alias("text"))
        .cache()
    )
    docs.count()
    from vicinity_spark.operators.textops import bigram_logprob

    def run(s, d):
        scored = bigram_logprob(docs, max_bigrams=65_536)
        return scored.agg(
            F.count(F.lit(1)).alias("n"), F.round(F.avg("xent"), 4).alias("avg_xent")
        )

    return run


def semdedup_200k(spark, sf_dir):
    """r12: SemDeDup at 200k × 64-d embeddings over 64 preset
    centroids (operators/cluster.py). 2k planted duplicate pairs
    (every 100th vector is a copy of its predecessor — same cluster by
    construction, so each IS flagged). Timed work = the narrow
    closure-kernel assignment, ONE cluster-keyed equi-join pair mine
    (pair work Σ cluster_size² ≈ n²/64 slices of the corpus — the
    SemDeDup bound; the all-pairs exact form at this n would be 40B
    candidate pairs), and the connected-components closure over the
    flagged edges. Output reduced to one aggregate row (kept count +
    flagged count) so the driver never collects 200k labels."""
    from vicinity_spark.operators.cluster import semdedup

    base = _synth_vectors(spark, n=200_000, dim=64, parts=32)
    dup = F.when(
        (F.col("id") % 100 == 1) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    docs = (
        spark.range(0, 200_000, 1, 32)
        .select(F.col("id"), dup.alias("__src"))
        .join(base.select(F.col("id").alias("__src"), "vector"), "__src")
        .select("id", "vector")
        .cache()
    )
    docs.count()
    cents = [
        r["vector"]
        for r in base.where(F.col("id") < 64).orderBy("id").collect()
    ]

    def run(s, d):
        out = semdedup(docs, cents, max_distance=1e-9)
        return out.agg(
            F.sum(F.col("is_canonical").cast("long")).alias("kept"),
            F.sum((~F.col("is_canonical")).cast("long")).alias("flagged"),
        )

    run(spark, sf_dir).count()  # untimed warm-up (plan + codegen)
    return run


def semdedup_inc_20k_vs_200k(spark, sf_dir):
    """r13: incremental SemDeDup — a 20k new batch labeled against the
    200k-corpus snapshot (same 64 preset centroids). 200 of the new
    rows are planted copies of snapshot vectors, 198 are within-batch
    dup pairs. Prices the batch-bounded claim beside semdedup_200k:
    pair work is Σ nb_c × (ns_c + nb_c) — one-tenth the full rebuild's
    Σ (ns_c + nb_c)² — and the snapshot never self-mines. Timed work =
    batch assignment, snapshot prune + fold, the cross kernel, and the
    component closure; output reduced to (flagged, to_snapshot)."""
    from vicinity_spark.operators.cluster import semdedup_incremental

    base = _synth_vectors(spark, n=200_000, dim=64, parts=32)
    snap = base.cache()
    snap.count()
    fresh = _synth_vectors(spark, n=20_000, dim=64, parts=32).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.reverse("vector").alias("vector"),  # decorrelate from base
    )
    dup_cond = (F.col("id") % 100 == 51) & (F.col("id") >= 1_000_200)
    batch = (
        fresh.select(
            "id",
            F.when(dup_cond, F.col("id") - 1).otherwise(F.col("id")).alias("__fsrc"),
        )
        .join(
            fresh.select(F.col("id").alias("__fsrc"), F.col("vector").alias("__fv")),
            "__fsrc",
        )
        .withColumn(
            "__bsrc", F.when(F.col("id") < 1_000_200, F.col("id") - 1_000_000)
        )
        .join(
            base.select(F.col("id").alias("__bsrc"), F.col("vector").alias("__sv")),
            "__bsrc",
            "left",
        )
        .select("id", F.coalesce("__sv", "__fv").alias("vector"))
        .cache()
    )
    batch.count()
    cents = [
        r["vector"] for r in base.where(F.col("id") < 64).orderBy("id").collect()
    ]

    def run(s, d):
        out = semdedup_incremental(batch, snap, cents, max_distance=1e-9)
        return out.agg(
            F.sum((~F.col("is_canonical")).cast("long")).alias("flagged"),
            F.sum(
                ((~F.col("is_canonical")) & (F.col("rep_id") < 1_000_000)).cast(
                    "long"
                )
            ).alias("to_snapshot"),
        )

    run(spark, sf_dir).count()  # untimed warm-up
    return run


def cluster_curate_200k(spark, sf_dir):
    """r13 (VERDICT r12 item 8): the composed one-call curation
    pipeline at the semdedup_200k tier — same 200k × 64-d corpus, 64
    preset centroids, 2k planted dups — plus the runaway-cluster
    guard pass (max_cluster_rows, one extra assignment + k-row
    groupBy), the per-cluster md5 balanced cut to 1024 rows, and the
    broadcast payload join-back. Prices the composition against its
    dominant stage (semdedup_200k): the delta IS the guard + cut +
    join cost. Output reduced to (clusters, rows) so the driver never
    collects the curated slice."""
    from vicinity_spark.operators.cluster import cluster_curate

    base = _synth_vectors(spark, n=200_000, dim=64, parts=32)
    dup = F.when(
        (F.col("id") % 100 == 1) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    docs = (
        spark.range(0, 200_000, 1, 32)
        .select(F.col("id"), dup.alias("__src"))
        .join(base.select(F.col("id").alias("__src"), "vector"), "__src")
        .select("id", "vector")
        .cache()
    )
    docs.count()
    cents = [
        r["vector"]
        for r in base.where(F.col("id") < 64).orderBy("id").collect()
    ]

    def run(s, d):
        out = cluster_curate(
            docs, cents, 1e-9, 1024, max_cluster_rows=50_000
        )
        return out.agg(
            F.countDistinct("cluster_id").alias("clusters"),
            F.count(F.lit(1)).alias("rows"),
        )

    run(spark, sf_dir).count()  # untimed warm-up (plan + codegen)
    return run


def pca_projection_1024(spark, sf_dir):
    """r10 (VERDICT r9 item 1): PCA at the module's production shape —
    fit + apply over 200k × 1024-d → 128-d. Timed work = the full
    covariance ESTIMATION pass (one folded dim² partial per task,
    reduced through the executor-side combine stage — 32 partitions >
    combine_width 16, so 'auto' engages it, exactly the 100 TB path),
    the 1024×1024 driver-side eigh, and the Arrow-matmul APPLY over
    all 200k rows (consumed via a sum over one output coordinate).
    Distinct from emb_projection_1024, which prices apply-only with a
    training-free matrix."""
    from vicinity_spark.operators.embedding import pca_projection

    cols = F.array(*[F.rand(seed=9100 + i) for i in range(1024)])
    corpus = (
        spark.range(0, 200_000, 1, 32)
        .select(F.col("id"), cols.cast("array<double>").alias("vector"))
        .cache()
    )
    corpus.count()

    def run(s, d):
        proj = pca_projection(corpus, 128)
        return proj.select(F.sum(F.element_at("projected", 1)).alias("s"))

    # untimed warm-up on a slice (Arrow workers + plan, not the full fit)
    pca_projection(corpus.limit(5_000), 8).select(
        F.sum(F.element_at("projected", 1))
    ).collect()
    return run


def minhash_snapshot_2m(spark, sf_dir):
    """r8 (VERDICT r7 item 3): the same 20k-batch-vs-2M-corpus probe as
    minhash_incremental_2m, but the corpus bucket table is READ FROM
    ITS PERSISTED partitionBy(band, bpart) SNAPSHOT instead of a
    localCheckpoint — the daily-ingest path where the standing corpus
    was bucketed days ago by another job. Timed work = _params sidecar
    read + partition discovery + the DPP-pruned probe (the batch's
    broadcast keys prune snapshot files at runtime) + candidate-bounded
    verification. Saving the snapshot is untimed setup (it is the
    PREVIOUS day's job). The claim under test: probing cold files
    costs no more than probing a pinned in-memory bucket frame,
    because pruning reads only the files the batch actually hits."""
    import atexit
    import shutil
    import tempfile

    from vicinity_spark.operators.dedup import (
        minhash_lsh_pairs_vs_snapshot,
        save_corpus_buckets,
    )

    corpus = _synth_docs(spark, n=2_000_000, n_dups=0, parts=64).cache()
    corpus.count()
    tmp = tempfile.mkdtemp(prefix="vspark_bench_snap_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    snap = tmp + "/buckets"
    save_corpus_buckets(
        corpus, snap, n_hashes=16, rows_per_band=2, hash_fn="tokenroll", n_bpart=32
    )

    def _batch():
        dup_src = spark.range(0, 10_000, 1, 8).select(
            (F.col("id") + 3_000_000).alias("doc_id"), F.col("id").alias("__src")
        )
        new_src = spark.range(0, 10_000, 1, 8).select(
            (F.col("id") + 3_100_000).alias("doc_id"),
            (F.col("id") + 5_000_000).alias("__src"),
        )
        toks = [
            F.substring(
                F.md5(F.concat_ws("-", F.col("__src").cast("string"), F.lit(str(j)))), 1, 8
            )
            for j in range(16)
        ]
        last = F.when(
            F.col("doc_id") < 3_100_000,
            F.concat(F.lit("qq"), F.col("doc_id").cast("string")),
        ).otherwise(toks[-1])
        return dup_src.unionByName(new_src).select(
            "doc_id", F.concat_ws(" ", *toks[:-1], last).alias("text")
        )

    batch = _batch().cache()
    batch.count()

    def run(s, d):
        return minhash_lsh_pairs_vs_snapshot(
            s, corpus, batch, snap, min_jaccard=0.5
        )

    run(spark, sf_dir).count()  # untimed warm-up (plan + codegen)
    return run


def stream_ingest_200k(spark, sf_dir):
    """r9 (VERDICT item 6): the COMPOSED streaming daily-ingest loop
    (streaming/neardup.py stream_daily_ingest) priced end-to-end at
    the 200k tier — two daily micro-batches of 10k docs against a
    200k-doc persisted bucket snapshot. Day 1 = 5k near-copies of
    corpus docs + 5k novel; day 2 = exact copies of day 1 under new
    ids, so day-2's outcome (zero survivors) depends on day-1's
    appends being visible — the same cross-day property the
    integration test pins. Per trigger: DPP-pruned snapshot probe →
    survivor anti-join → bucket + text append → LM scoring (xent +
    DSIR llr against precomputed 50k-row broadcast LM tables).
    Corpus uses the bounded-vocab recipe (dsir_2m) — an LM fit over
    _synth_docs' unique-per-doc vocabulary would be corpus-sized, the
    wrong asymptote. Each rep restores the snapshot + text table from
    a pristine copy (~0.2s of the measurement, documented) so appends
    never compound across reps (the restore also clears the r10
    replay-idempotency sidecar). Since r10 the loop's defaults add a
    within-batch self-mining pass per trigger (finds nothing in this
    fixture — day batches copy DISTINCT docs — but its cost is the
    production default's price) and the per-artifact committed-batch
    sidecar writes."""
    import atexit
    import shutil
    import tempfile

    from vicinity_spark.operators.dedup import save_corpus_buckets
    from vicinity_spark.operators.textops import fit_unigram_lm
    from vicinity_spark.streaming.neardup import stream_daily_ingest

    vocab, n, tokens = 50_000, 200_000, 24

    def _docs(n_rows, id_offset, src_offset, parts=32, mutate_last=False):
        base = spark.range(0, n_rows, 1, parts)
        src = F.col("id") + src_offset
        toks = [
            F.substring(
                F.md5((F.abs(F.hash(src, F.lit(j))) % vocab).cast("string")), 1, 8
            )
            for j in range(tokens)
        ]
        if mutate_last:
            toks[-1] = F.concat(F.lit("zz"), (F.col("id") + id_offset).cast("string"))
        return base.select(
            (F.col("id") + id_offset).alias("doc_id"),
            F.concat_ws(" ", *toks).alias("text"),
        )

    corpus = _docs(n, 0, 0).cache()
    corpus.count()
    tmp = tempfile.mkdtemp(prefix="vspark_bench_ingest_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    snap0, ctext0 = tmp + "/snap0", tmp + "/ctext0"
    save_corpus_buckets(
        corpus, snap0, n_hashes=16, rows_per_band=2, hash_fn="tokenroll", n_bpart=16
    )
    corpus.write.parquet(ctext0)
    # day 1: 5k near-dups of corpus docs 0..4999 (23/24 tokens shared,
    # Jaccard ≈ 0.87) + 5k novel (disjoint src range); day 2: exact
    # copies of day 1 under new ids
    day1 = _docs(5_000, 1_000_000, 0, parts=8, mutate_last=True).unionByName(
        _docs(5_000, 1_005_000, 10_000_000, parts=8)
    )
    day2 = day1.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    src_dir = tmp + "/stream_src"
    for i, d in enumerate([day1, day2]):
        d.withColumn("ts", F.to_timestamp(F.lit(f"2024-01-0{i + 1}"))).coalesce(
            1
        ).write.parquet(f"{src_dir}/b{i}")
    lm = fit_unigram_lm(corpus).localCheckpoint(eager=True)
    lm_t = fit_unigram_lm(
        corpus.where(F.col("doc_id") % 40 == 0)
    ).localCheckpoint(eager=True)

    counts = {}

    def run(s, d):
        snap, ctext = tmp + "/snap", tmp + "/ctext"
        shutil.rmtree(snap, ignore_errors=True)
        shutil.rmtree(ctext, ignore_errors=True)
        shutil.copytree(snap0, snap)
        shutil.copytree(ctext0, ctext)
        counts.clear()
        stream = (
            s.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir + "/b*")
        )
        w = stream_daily_ingest(
            stream, snap, ctext,
            sink=lambda df, bid: counts.__setitem__(bid, df.count()),
            lm=lm, target_lm=lm_t, min_jaccard=0.5,
        )
        q = w.trigger(availableNow=True).start()
        q.awaitTermination(300)
        return s.createDataFrame(
            [(int(b), int(c)) for b, c in sorted(counts.items())],
            "batch_id int, n_survivors int",
        )

    run(spark, sf_dir).count()  # untimed warm-up (plan + codegen + workers)
    return run


def lsh_mutate_200k(spark, sf_dir):
    """Mutation at scale (r5 VERDICT item 5): reload a SAVED 200k LSH
    store, insert 1% (2,000) new rows, run the 100-query batch against
    the mutated store. Since r10 the insert bucket-assigns ONLY the
    new rows into a side postings branch (backends/lsh.py on_insert) —
    the persisted layout keeps its DPP-pruned probe and candidates are
    never lost — so this times the full mutate-and-serve path: reload
    + insert + the pruned-postings query UNIONED with the insert-batch
    branch. At this local tier the incremental plan measures ~0.7s
    over the old full-corpus-explode fallback (everything in page
    cache); at scale the fallback re-shuffles corpus×L rows per query
    batch — see BENCHNOTES r10 "lsh_mutate root-cause" for the
    same-day A/B and the expected ~4.5-6s floor. Build+save are
    untimed setup; each rep reloads fresh so the insert never
    compounds."""
    import atexit
    import shutil
    import tempfile

    import numpy as np

    from vicinity_spark.store import VectorStore

    tmp = tempfile.mkdtemp(prefix="lsh_mutate_")
    atexit.register(shutil.rmtree, tmp, True)
    folder = os.path.join(tmp, "store")
    src = _synth_vectors(spark, n=200_000).withColumn(
        "item", F.col("id").cast("string")
    )
    store = VectorStore.from_dataframe(
        src, backend_type="lsh", metric="cosine", n_tables=8, n_bits=12
    )
    store.save(folder)
    rng = np.random.default_rng(7)
    V = rng.random((2_000, 64)).astype(np.float64)
    queries = _synth_vectors(spark, n=100).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    # untimed warm-up: reload + posting-path and explode-path codegen
    warm = VectorStore.load(folder, spark)
    warm.insert(["w0"], V[:1])
    warm.query_df(queries, k=10).count()

    def run(s, d):
        st = VectorStore.load(folder, s)
        st.insert([f"new{i}" for i in range(len(V))], V)
        return st.query_df(queries, k=10)

    return run


def neardup_inmem_sweep(spark, sf_dir):
    """Embedding near-dup pairs (same semantics as the oracle-checked
    neardup_embeddings query) with the vectorized block kernel: each
    corpus partition sweeps the corpus matrix shipped in the closure.
    Valid only while the corpus fits in memory (exact all-pairs sweep)
    — benched under its own name; the HEADLINE `neardup_embeddings`
    label times the distributed block-grid pair sweep (operators/knn.py
    neardup_join — same exact output, no in-memory corpus assumption),
    which is what a 100 TB run would execute."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    e = Q._t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pdf = e.toPandas()
    ids_all = pdf["vec_id"].to_numpy()
    X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    Xh = X / np.linalg.norm(X, axis=1, keepdims=True)
    T = Q._NEARDUP_T
    schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("distance", DoubleType()),
        ]
    )

    def kernel(batches):
        for b in batches:
            if len(b) == 0:
                continue
            ids_b = b["vec_id"].to_numpy()
            Xb = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
            Xbh = Xb / np.linalg.norm(Xb, axis=1, keepdims=True)
            D = 1.0 - Xbh @ Xh.T
            mask = (ids_b[:, None] < ids_all[None, :]) & (D <= T)
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": ids_b[ai], "id_b": ids_all[bi], "distance": D[ai, bi]}
            )

    return e.repartition(32).mapInPandas(kernel, schema)


def curation_2m(spark, sf_dir):
    """Corpus curation at the 2M tier with PATHOLOGICAL source skew:
    half the corpus (1M docs) sits in ONE hot source, the rest spread
    over 9 — the exact case the per-domain cap exists for. Pipeline:
    cap every source at 50k docs preferring the longest
    (sampling.py cap_per_group — the two-phase top-N sorts the hot
    source as 32 parallel bucket tasks; the naive single window sorts
    its 1M rows in ONE task, a 2.3x straggler by the 20M tier —
    crossover measured in BENCHNOTES "curation at 2M"), then
    priority-sample 1,000 docs from the ~500k survivors weighted by
    length (TakeOrdered top-k, no global sort). All columns
    synthesized executor-side from `range`."""
    from vicinity_spark.operators.sampling import cap_per_group, weighted_sample

    n = 2_000_000
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("s0"))
        .otherwise(F.concat(F.lit("s"), ((F.col("id") % 9) + 1).cast("string")))
        .alias("source"),
        ((F.col("id") * 37) % 997).cast("long").alias("n_chars"),
    )

    def run(s, d):
        capped = cap_per_group(docs, "source", 50_000, [F.col("n_chars").desc()])
        return weighted_sample(capped, 1_000, "n_chars")

    return run


def rank_tiers_2m(spark, sf_dir):
    """Exact global rank + ntile decile binning over 2M docs
    (sampling.py quality_tiers): the two-phase range-partitioned
    prefix count, checkpointed once so the offsets collect and the
    final read share one partitioning. The naive `ntile() OVER (ORDER
    BY ...)` moves all rows to ONE partition — ~equal at this tier
    (1.4s) but 3.9x slower by 20M and an OOM at corpus scale
    (BENCHNOTES "global rank at 2M"). Aggregates to a 10-row tier
    histogram so the timed work is the full per-row rank."""
    from vicinity_spark.operators.sampling import quality_tiers

    n = 2_000_000
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 997).cast("long").alias("n_chars"),
    )

    def run(s, d):
        out = quality_tiers(
            docs, 10, [F.col("n_chars").desc(), F.col("doc_id").asc()]
        )
        return out.groupBy("tier").agg(F.count(F.lit(1)).alias("n"))

    return run


def quality_clf_2m(spark, sf_dir):
    """r14: the trained quality filter at the 2M tier — score every
    doc with `quality_classifier_score` (sigmoid over the five in-row
    features, preset weights inlined as literals: one narrow
    whole-stage-codegen projection, zero UDFs) and keep the passers.
    Text is synthesized executor-side from `range`: variable token
    count (6-45 — F.sequence is inclusive of both ends), rotating
    12-word vocab mixing stopwords and digit tokens so every feature
    varies. The filter predicate consumes quality_keep, so the count
    cannot column-prune the projection away."""
    from vicinity_spark.operators.textops import quality_classifier_score

    words = ["the", "a", "of", "and", "to", "cat", "dog", "tree",
             "42", "1999", "house", "river"]
    n = 2_000_000
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), (F.col("id") % 40) + F.lit(5)),
                lambda i: F.elt(
                    (F.pmod(F.col("id") * 7 + i, F.lit(12)) + 1).cast("int"),
                    *[F.lit(w) for w in words],
                ),
            ),
        ).alias("text"),
    )
    w = [0.8, 4.0, -0.2, 10.0, -8.0]

    def run(s, d):
        return quality_classifier_score(docs, w, -4.6).where(
            F.col("quality_keep")
        )

    return run


def curation_pipeline_2m(spark, sf_dir):
    """The ENTIRE curation chain (the docs_curation_pipeline oracle
    row) at the 2M tier: exact dedup (10k planted exact copies) →
    PII redaction (4-pattern regexp chain; every 7th doc carries
    planted PII) → type-token-ratio scoring of the redacted text →
    exact global rank + decile tiers (two-phase, checkpointed) →
    deterministic split → per-(tier, split) audit counts. One run
    prices what a daily 2M-doc curation batch costs end-to-end; the
    per-stage asymptotics are each pinned by their own entries."""
    from vicinity_spark.operators.dedup import exact_dedup
    from vicinity_spark.operators.pii import redact_pii
    from vicinity_spark.operators.sampling import hash_split, quality_tiers
    from vicinity_spark.operators.textops import _toks

    docs = _synth_docs(spark, n=1_990_000, n_dups=10_000, parts=64)
    # exact copies (not near-copies): overwrite the dup rows' text
    # with their source doc's text so the exact-dedup stage is live
    n = 1_990_000
    src = F.when(F.col("doc_id") >= n, F.col("doc_id") - n).otherwise(F.col("doc_id"))
    toks = [
        F.substring(
            F.md5(F.concat_ws("-", src.cast("string"), F.lit(str(j)))), 1, 8
        )
        for j in range(16)
    ]
    docs = docs.select(
        "doc_id",
        F.concat_ws(" ", *toks).alias("text"),
        (F.col("doc_id") % 4).cast("string").alias("lang"),
    ).cache()
    docs.count()

    def run(s, d):
        canon = exact_dedup(docs).select(F.col("canonical_id").alias("doc_id"))
        kept = docs.join(canon, "doc_id", "left_semi")
        planted = kept.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-867-5309 at 10.0."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".17 ssn 123-45-6789"),
                ),
            ).otherwise(F.col("text")),
        )
        red = redact_pii(planted)
        t = _toks("text")
        scored = red.select(
            "doc_id",
            "lang",
            (
                F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double")
            ).alias("ttr"),
        )
        tiers = quality_tiers(
            scored, 10, [F.col("ttr").desc(), F.col("doc_id").asc()], rank_col="g_rank"
        )
        out = hash_split(tiers, train_fraction=0.9)
        return out.groupBy("tier", "split").agg(F.count(F.lit(1)).alias("n"))

    return run


BENCH = {
    "knn_batch_full": knn_batch_full,
    "knn_cosine": Q._make_knn("cosine"),
    "knn_euclidean": Q._make_knn("euclidean"),
    "threshold_cosine": Q._make_threshold("cosine", 0.72),
    "neardup_embeddings": Q.neardup_embeddings,
    "neardup_inmem_sweep": neardup_inmem_sweep,
    "ann_lsh_batch": ann_lsh_batch,
    "ann_ivf_batch": ann_ivf_batch,
    "ann_sq_batch": ann_sq_batch,
    "ann_pq_batch": ann_pq_batch,
    "ann_ivfpq_batch": ann_ivfpq_batch,
    "ann_ivfsq_batch": ann_ivfsq_batch,
    "ann_ivfpqr_batch": ann_ivfpqr_batch,
    "ann_graph_batch": ann_graph_batch,
    "dedup_exact": Q.QUERIES["dedup_exact"],
    "dedup_shingle_jaccard": Q.dedup_shingle_jaccard,
    "text_quality": Q.QUERIES["text_quality"],
    "text_fingerprint": Q.QUERIES["text_fingerprint"],
    "q1_pricing_summary": Q.QUERIES["q1_pricing_summary"],
    "q3_top_revenue_orders": Q.QUERIES["q3_top_revenue_orders"],
    "regional_revenue": Q.QUERIES["regional_revenue"],
    "top_parts_per_brand": Q.QUERIES["top_parts_per_brand"],
    "events_hourly": Q.QUERIES["events_hourly"],
    "events_sessionize": Q.QUERIES["events_sessionize"],
    "knn_scale_200k": knn_scale_200k,
    "lsh_scale_200k": lsh_scale_200k,
    "lsh_neardup_200k": lsh_neardup_200k,
    "dedup_e2e_200k": dedup_e2e_200k,
    # 2M tier (r5): 10× the 200k tier on the four heavy paths — the
    # falsifiable evidence for the linear/sublinear scaling claims
    # (BENCHNOTES.md has the 200k→2M factor table). Last in the suite
    # so the 200k entries keep their historical suite positions.
    "multimodal_bmp_200k": multimodal_bmp_200k,
    "knn_scale_2m": knn_scale_2m,
    "lsh_scale_2m": lsh_scale_2m,
    "lsh_neardup_2m": lsh_neardup_2m,
    "dedup_e2e_2m": dedup_e2e_2m,
    # r6 additions, appended so every earlier entry keeps its suite
    # position (cross-round comparability, r5 VERDICT item 7)
    "lsh_mutate_200k": lsh_mutate_200k,
    "knn_scale_5m": knn_scale_5m,
    "lsh_scale_5m": lsh_scale_5m,
    "minhash_longdoc_200k": minhash_longdoc_200k,
    # r7 additions, appended (same rule as above)
    "minhash_tokenroll_200k": minhash_tokenroll_200k,
    "pack_mix_2m": pack_mix_2m,
    "minhash_incremental_2m": minhash_incremental_2m,
    "minhash_snapshot_2m": minhash_snapshot_2m,
    "neardup_dedup_2m": neardup_dedup_2m,
    "span_dedup_2m": span_dedup_2m,
    "curation_2m": curation_2m,
    "rank_tiers_2m": rank_tiers_2m,
    "curation_pipeline_2m": curation_pipeline_2m,
    "dsir_2m": dsir_2m,
    # r9 additions, appended (same rule as above); dsir_hashed_2m was
    # right-sized to dsir_hashed_1m in r10 (VERDICT r9 item 6 — same
    # feature shape, stable rep tier)
    "dsir_hashed_1m": dsir_hashed_1m,
    "emb_projection_1024": emb_projection_1024,
    "stream_ingest_200k": stream_ingest_200k,
    # r10 additions, appended (same rule as above)
    "pca_projection_1024": pca_projection_1024,
    # r11 additions, appended (same rule as above)
    "bm25_200k": bm25_200k,
    "bm25_2m": bm25_2m,
    "bm25_serve_2m": bm25_serve_2m,
    "bigram_xent_2m": bigram_xent_2m,
    "semdedup_200k": semdedup_200k,
    # r13 additions, appended (same rule as above)
    "cluster_curate_200k": cluster_curate_200k,
    "semdedup_inc_20k_vs_200k": semdedup_inc_20k_vs_200k,
    # r14 additions, appended (same rule as above)
    "quality_clf_2m": quality_clf_2m,
}

# r7: the 2M long-doc tier is a single ~270s entry — opt-in so the
# default per-round suite stays comparable across rounds (BENCHNOTES
# "long-doc tier at 2M" records the measured point)
if os.environ.get("SPARK_GRAFT_BENCH_EXTENDED"):
    BENCH["minhash_longdoc_2m"] = minhash_longdoc_2m

# r10: isolated-measurement support for the BENCHNOTES methodology —
# SPARK_GRAFT_BENCH_ONLY=a,b runs only those entries on an otherwise
# identical harness (same warm-up, rep policy, GC hygiene). The
# driver's per-round run never sets this, so the recorded suite shape
# is unchanged.
_only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
if _only:
    _keep = {k.strip() for k in _only.split(",") if k.strip()}
    _unknown = _keep - set(BENCH)
    if _unknown:
        raise SystemExit(f"unknown bench entries: {sorted(_unknown)}")
    BENCH = {k: v for k, v in BENCH.items() if k in _keep}


def _calibrate_host() -> float:
    """~1-2s probe of this host's compute speed: STEADY-STATE numpy
    1000x1000 float64 matmul seconds. Fast bare-metal hosts measure
    ~0.03-0.10s; the emulated/throttled sandboxes that timed out the
    r14 driver bench measure 0.8-1.9s. The rep policy keys off this so
    a host where min-of-4 reps cannot finish degrades to min-of-2
    instead of producing NO artifact at all (r14 VERDICT item 1).

    r15: measured in-session that some sandbox hosts ramp — the first
    1-2 matmuls run 10-200x slower than steady state (cold BLAS +
    bursty CPU scheduling: reps like [0.97, 0.80, 0.079, 0.004]), so a
    min-of-2 probe misclassified a fast host as slow and silently
    degraded its rep tier. The probe now takes the min over a ~2.5s
    wall budget (at least 2 reps, at most 12): a genuinely slow host
    fits only 2-3 reps and still reads 0.8-1.9s, while a ramping fast
    host reaches steady state within the budget."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((1000, 1000))
    b = rng.random((1000, 1000))
    best = float("inf")
    t_wall = time.perf_counter()
    for i in range(12):
        t0 = time.perf_counter()
        a @ b
        best = min(best, time.perf_counter() - t0)
        if i >= 1 and time.perf_counter() - t_wall > 2.5:
            break
    return best


def main():
    # stdout purity: the driver parses fd 1 as ONE JSON line, but the
    # Spark JVM inherits fd 1 and can write to it directly (observed: a
    # `[warning][gc,alloc] ... GCLocker` line from -Xlog's default
    # warning-level stdout sink landed BEFORE the JSON in a 2M-tier
    # run, corrupting the capture). Dup the real stdout away, point
    # fd 1 at stderr BEFORE the JVM launches, and write the final JSON
    # to the saved fd — nothing the JVM prints can interleave.
    real_stdout_fd = os.dup(1)
    os.dup2(2, 1)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # ---- r15: timeout-proof artifact emission (r14 VERDICT item 1).
    # The r10-r13 driver artifacts were unparseable (stdout-tail
    # truncation, fixed r14) and the r14 runs timed out with ZERO
    # output because the one JSON line was only written after ALL
    # entries finished. Three layers fix that without touching what is
    # measured:
    #   1. a wall-clock budget (SPARK_GRAFT_BENCH_BUDGET seconds,
    #      default 2700): entries that would start past 95% of it are
    #      recorded under "skipped" and the line is emitted normally;
    #   2. SIGTERM/SIGINT handlers (GNU timeout sends SIGTERM first)
    #      plus a self-armed SIGALRM failsafe at budget+240s emit the
    #      partial line before dying, so even a hung single entry
    #      (e.g. a crashed-worker retry loop) leaves a parseable
    #      artifact;
    #   3. after every entry a snapshot goes to a side file for
    #      post-mortem (never read back — nothing is cached across
    #      runs).
    import signal

    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2700"))
    t_start = time.monotonic()
    probe = _calibrate_host()
    slow_host = probe >= 0.3
    print(
        f"# calibration: 1kx1k matmul {probe:.3f}s -> "
        f"{'SLOW host, min-of-2 rep tier' if slow_host else 'fast host, full r9 rep policy'}; "
        f"budget {budget:.0f}s",
        file=sys.stderr,
    )

    state = {
        "timings": {},
        "reps": {},
        "failed": {},
        "skipped": [],
        "emitted": False,
        "jvm_proc": None,
    }

    def _snapshot(partial: bool) -> dict:
        out = {
            "metric": "bench_suite_seconds",
            "value": round(sum(state["timings"].values()), 3),
            "unit": "sec",
            "queries": state["timings"],
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
        if state["failed"]:
            out["failed"] = state["failed"]
        if state["skipped"]:
            out["skipped"] = state["skipped"]
        if partial:
            out["partial"] = True
        return out

    def _emit(partial: bool) -> None:
        if state["emitted"]:
            return
        state["emitted"] = True
        os.write(
            real_stdout_fd, (json.dumps(_snapshot(partial)) + "\n").encode()
        )

    partial_path = os.environ.get(
        "SPARK_GRAFT_BENCH_PARTIAL", "/tmp/vicinity_bench_partial.json"
    )

    def _write_side_file() -> None:
        try:
            with open(partial_path, "w") as pf:
                json.dump(_snapshot(partial=True), pf)
        except OSError:
            pass

    def _on_signal(signum, frame):  # noqa: ARG001
        print(
            f"# bench: signal {signum} after "
            f"{time.monotonic() - t_start:.0f}s — emitting partial artifact",
            file=sys.stderr,
        )
        _emit(partial=True)
        proc = state["jvm_proc"]
        if proc is not None:
            try:
                proc.kill()  # don't leave an orphan JVM contending with the next run
            except OSError:
                pass
        # under GNU timeout the driver sees rc=124 regardless; on a
        # self-armed alarm (no external timeout yet) exit 0 so the
        # artifact line is taken at face value
        os._exit(0 if signum == signal.SIGALRM else 128 + signum)

    for _sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(_sig, _on_signal)
    signal.alarm(int(budget + 240))

    spark = get_spark("vicinity-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        state["jvm_proc"] = spark.sparkContext._gateway.proc
    except AttributeError:
        pass

    # warm the JVM + parquet footers + the shared kernel/window/grid
    # codegen paths so per-query numbers measure the plans, not
    # first-touch costs (rep1-vs-rep2 deltas of 1.5-2x otherwise land
    # on whichever entries run first)
    spark.range(1).count()
    from vicinity_spark.operators.knn import knn_join as _warm_knn

    _warm_q = Q._emb_queries(spark, sf_dir)
    _warm_knn(Q._emb_corpus(spark, sf_dir), _warm_q, k=5, metric="cosine", algorithm="grid").count()
    _warm_knn(Q._emb_corpus(spark, sf_dir), _warm_q, k=5, metric="cosine", algorithm="window").count()

    import gc

    timings = state["timings"]
    reps_out = state["reps"]
    failed = state["failed"]
    for name, fn in BENCH.items():
        # budget guard (r15): an entry that would START past 95% of the
        # budget is recorded as skipped, not silently absent — the
        # artifact stays parseable and names what it is missing. A
        # fast host finishing the suite in-budget never hits this, so
        # the driver's normal-run suite shape is unchanged.
        if time.monotonic() - t_start > 0.95 * budget:
            state["skipped"].append(name)
            print(f"# {name}: SKIPPED (budget)", file=sys.stderr)
            continue
        try:
            if name.startswith("ann_") or name.endswith(
                ("_200k", "_1m", "_2m", "_5m", "_1024")
            ):
                fn = fn(spark, sf_dir)  # untimed index build + cache
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            rep_times = [time.perf_counter() - t0]
            # min-of-N (r5/r9): single-shot recordings on a shared host
            # swing 0.4-5x run-to-run with zero code change (BENCHNOTES
            # r5 methodology notes; dedup_e2e_200k once recorded 49.7s
            # in-suite vs 7.4-10.0s isolated n=3). min() over repeated
            # reps is the standard steady-state estimator; only a
            # runaway first rep (>=90s) stays single-shot to bound
            # suite wall-clock. Between reps, drop the prior rep's py4j
            # refs and force a JVM GC so the ContextCleaner releases
            # its localCheckpoint blocks BEFORE the next rep allocates
            # its own — without this the checkpoint-heavy 2M entries
            # carry two reps of blocks at once (measured OOM at 8g).
            # r9 (VERDICT item 1, round three of the heavy-tail
            # spread): EVERY entry whose first pass lands >=5s gets the
            # full lsh_neardup_2m treatment — the first timed pass
            # doubles as a full-size warm-up (it drives the C2 compile
            # thresholds a slice warm-up cannot; several heavy
            # factories additionally warm untimed) and THREE further
            # timed reps give a true min-of-3 past the JIT knee.
            # Per-rep times are narrated per-entry on stderr (and as
            # one "# reps:" JSON line at the end) — r14 moved them OFF
            # the stdout artifact line so it fits the driver's
            # 2000-char tail; diagnose hot first reps from the stderr
            # log, the driver record keeps only the min.
            # r9 rep policy, learned the hard way across two same-code
            # full runs hours apart (BENCHNOTES "r9 drift"): the heavy
            # shuffle entries' reps are NOISY and non-monotonic
            # ([42,23,40,92] one run, [80,42] the next) — an
            # interim min-of-2 tier recorded mid-decay values 2× the
            # entry's real floor, so everything ≥5s keeps min-of-4
            # sampling unless a single rep is so large that repeating
            # it would dominate the suite (≥150s single-shot, ≥90s
            # min-of-2).
            # r15 budget-adaptive tier (r14 VERDICT item 1): on a host
            # the calibration probe flags as slow (the class of sandbox
            # that timed out BOTH r14 driver runs), the >=5s tier
            # degrades from min-of-4 to min-of-2 — a biased-up min
            # beats five straight rounds of NO artifact. Fast hosts
            # keep the r9 policy byte-identical, so driver-host
            # numbers stay comparable across rounds.
            if rep_times[0] >= 150.0:
                n_more = 0
            elif rep_times[0] >= 90.0:
                n_more = 1
            elif rep_times[0] >= 5.0:
                n_more = 1 if slow_host else 3
            else:
                n_more = 1
            for _ in range(n_more):
                # stop re-repping when the next rep (estimated at the
                # last rep's duration) would overrun the budget
                if (
                    time.monotonic() - t_start + rep_times[-1]
                    > 0.92 * budget
                ):
                    print(
                        f"# {name}: budget — stopping after "
                        f"{len(rep_times)} rep(s)",
                        file=sys.stderr,
                    )
                    break
                gc.collect()
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                n = fn(spark, sf_dir).count()
                rep_times.append(time.perf_counter() - t0)
            timings[name] = round(min(rep_times), 3)
            reps_out[name] = [round(t, 3) for t in rep_times]
            print(
                f"# {name}: {timings[name]}s ({n} rows; reps "
                f"{reps_out[name]})",
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001 — one entry must not zero the suite
            # record the failure in its own map, NOT as a sentinel mixed
            # into the seconds (r5 ADVICE: a -1.0 in `queries` silently
            # skews any consumer that sums/averages the timings)
            failed[name] = f"{type(e).__name__}: {str(e)[:200]}"
            print(f"# {name}: FAILED {failed[name]}", file=sys.stderr)
        # drop cached indexes so entries don't contend for executor
        # memory, and nudge the JVM to actually release block-manager
        # memory (broadcast/checkpoint blocks are only freed after their
        # driver-side references are GC'd — without this, late entries
        # in the suite pay earlier entries' accumulated pressure)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        _write_side_file()

    # the driver records only the LAST 2000 chars of stdout: with the
    # per-rep arrays inline the full-suite line outgrew that window and
    # r10-r13 artifacts kept an unparseable tail (VERDICT r13 nit) —
    # so stdout carries the compact min-of-reps line (≈1.2k chars for
    # the full suite) and the rep detail goes to stderr, where every
    # per-entry line already narrates it
    print("# reps: " + json.dumps(reps_out), file=sys.stderr)
    signal.alarm(0)
    _emit(partial=bool(state["skipped"]))
    os.close(real_stdout_fd)


if __name__ == "__main__":
    main()
