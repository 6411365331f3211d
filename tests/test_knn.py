import itertools
from types import SimpleNamespace

import numpy as np
import pytest
from pyspark.sql import functions as F

from vicinity_spark.operators.knn import knn_join, threshold_join


@pytest.mark.parametrize("algorithm", ["window", "auto", "grid"])
@pytest.mark.parametrize("metric", ["cosine", "euclidean"])
def test_knn_matches_numpy_oracle(corpus_df, queries_df, np_oracle, metric, algorithm):
    k = 10
    res = (
        knn_join(corpus_df, queries_df, k=k, metric=metric, algorithm=algorithm)
        .orderBy("rank")
        .collect()
    )
    ids_expected, dists_expected = np_oracle(metric, k)
    assert [r.id for r in res] == list(ids_expected)
    np.testing.assert_allclose([r.distance for r in res], dists_expected, rtol=1e-6)
    assert all(r.distance >= 0 for r in res)
    # ascending distance (vicinity.py:114-138)
    d = [r.distance for r in res]
    assert d == sorted(d)


def test_knn_k_clamped_to_corpus(corpus_df, queries_df):
    small = corpus_df.limit(5)
    res = knn_join(small, queries_df, k=50, metric="cosine").collect()
    assert len(res) == 5  # k clamp: basic.py:191-192


def test_knn_k_below_one_raises(corpus_df, queries_df):
    with pytest.raises(ValueError):
        knn_join(corpus_df, queries_df, k=0)


@pytest.mark.parametrize("algorithm", ["window", "auto", "grid"])
def test_knn_duplicate_queries_identical(corpus_df, queries_df, algorithm):
    # determinism: duplicated query rows give identical results
    # (reference tests/test_vicinity.py:58-64)
    dup = queries_df.union(queries_df.withColumn("query_id", F.lit(1)))
    res = knn_join(corpus_df, dup, k=5, metric="cosine", algorithm=algorithm).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append((r.rank, r.id, round(r.distance, 12)))
    assert sorted(by_q[0]) == sorted(by_q[1])


def test_threshold_semantics(corpus_df, queries_df, np_oracle):
    # exact path: `distance <= t`, no candidate cap (basic.py:149-172)
    ids_expected, dists = np_oracle("cosine", 500)
    t = float(dists[49])  # threshold at the 50th smallest distance
    res = threshold_join(corpus_df, queries_df, threshold=t, metric="cosine").collect()
    got = sorted(r.id for r in res)
    want = sorted(int(i) for i, d in zip(ids_expected, dists) if d <= t + 1e-12)
    assert got == want
    assert all(r.distance <= t for r in res)


def test_knn_payload_cols(corpus_df, queries_df):
    res = knn_join(
        corpus_df, queries_df, k=3, metric="cosine", payload_cols=["item_str", "item_name"]
    ).collect()
    assert len(res) == 3
    for r in res:
        assert (r.item_str is not None) or (r.item_name is not None)


def test_pq_inner_product_recall_with_varied_norms(spark):
    """IP ADC must keep high-norm corpus rows as candidates: under the
    old normalize-everything scheme the norm information was destroyed
    before candidate selection and recall collapsed for inner product."""
    import numpy as np
    from vicinity_spark.backends.pq import PQStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(7)
    X = rng.standard_normal((400, 16))
    X *= rng.uniform(0.1, 10.0, size=(400, 1))  # norms vary 100×
    Qm = rng.standard_normal((5, 16))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))], "id long, vector array<float>"
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in Qm[i]]) for i in range(len(Qm))],
        "query_id long, qvec array<float>",
    )
    strat = PQStrategy(m=4, ksub=32, refine=8)
    built = strat.build(corpus, Metric.INNER_PRODUCT, 16)
    got = strat.knn(built, queries, k=10, metric=Metric.INNER_PRODUCT)
    # exact IP top-10 per query in numpy (float32-rounded corpus)
    Xf = np.vstack([np.asarray(r["vector"], dtype=np.float64) for r in corpus.orderBy("id").collect()])
    hits = 0
    rows = got.collect()
    for q in range(len(Qm)):
        Qf = np.asarray(queries.where(F.col("query_id") == q).collect()[0]["qvec"], dtype=np.float64)
        exact = set(np.argsort(-(Xf @ Qf))[:10].tolist())
        mine = {r["id"] for r in rows if r["query_id"] == q}
        hits += len(exact & mine)
    assert hits / 50 >= 0.8, f"IP recall {hits/50}"


def test_lsh_hamming_bit_sampling_recall(spark):
    """Hamming metric must use the bit-sampling family: binary corpus
    with planted near copies; LSH top-k vs exact top-k recall floor."""
    import numpy as np
    from vicinity_spark.backends.lsh import LSHStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(11)
    base = (rng.random((300, 32)) > 0.5).astype(np.float64)
    # 30 planted near-copies of rows 0..29 (flip 2 of 32 bits)
    planted = base[:30].copy()
    for i in range(30):
        flips = rng.choice(32, size=2, replace=False)
        planted[i, flips] = 1.0 - planted[i, flips]
    X = np.vstack([base, planted])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))], "id long, vector array<float>"
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(10)],
        "query_id long, qvec array<float>",
    )
    strat = LSHStrategy(n_tables=16, n_bits=6)
    built = strat.build(corpus, Metric.HAMMING, 32)
    got = strat.knn(built, queries, k=5, metric=Metric.HAMMING).collect()
    hits = 0
    for q in range(10):
        d = (X != base[q][None, :]).sum(axis=1)
        exact = set(np.lexsort((np.arange(len(X)), d))[:5].tolist())
        mine = {r["id"] for r in got if r["query_id"] == q}
        hits += len(exact & mine)
    assert hits / 50 >= 0.8, f"hamming LSH recall {hits/50}"


@pytest.mark.slow
def test_graph_tiny_corpus_and_k_clamp(spark):
    """Graph strategy degrades gracefully: corpus smaller than k_build,
    k larger than the corpus (clamped by rank), single-row corpus."""
    from vicinity_spark.backends.graph import GraphStrategy
    from vicinity_spark.datatypes import Metric

    corpus = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)], "id long, vector array<float>"
    )
    queries = spark.createDataFrame([(0, [0.1, 0.0])], "query_id long, qvec array<float>")
    strat = GraphStrategy(k_build=16, iters=1, beam=8, expansions=2, n_entries=2)
    built = strat.build(corpus, Metric.EUCLIDEAN, 2)
    res = strat.knn(built, queries, k=10, metric=Metric.EUCLIDEAN).collect()
    assert len(res) == 3  # k clamps to corpus size
    assert [r["id"] for r in sorted(res, key=lambda r: r["rank"])] == [0, 1, 2]

    one = spark.createDataFrame([(7, [1.0, 1.0])], "id long, vector array<float>")
    s1 = GraphStrategy(k_build=4, iters=1, beam=4, expansions=1, n_entries=1)
    b1 = s1.build(one, Metric.COSINE, 2)
    r1 = s1.knn(b1, queries, k=5, metric=Metric.COSINE).collect()
    assert len(r1) == 1 and r1[0]["id"] == 7


@pytest.mark.slow
def test_graph_non_contiguous_ids(spark):
    """Regression (r2 ADVICE): the NN-descent seed ring must not assume
    dense ids 0..n-1. With sparse/arbitrary ids (monotonically_increasing_id
    shape) every node still gets a full neighbor list and full-recall
    params still reproduce the exact top-k."""
    import numpy as np

    from vicinity_spark.backends.graph import NBRS_COL, GraphStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(7)
    n, dim = 120, 6
    X = rng.random((n, dim))
    # ids shaped like monotonically_increasing_id across partitions:
    # huge non-contiguous gaps
    ids = [(p << 33) + j for p, j in zip(rng.integers(0, 4, n).tolist(), range(n))]
    corpus = spark.createDataFrame(
        [(ids[i], [float(x) for x in X[i]]) for i in range(n)],
        "id long, vector array<float>",
    )
    strat = GraphStrategy(k_build=12, iters=2, beam=48, expansions=3, n_entries=4)
    built = strat.build(corpus, Metric.EUCLIDEAN, dim)

    # every node has a fully-populated, in-corpus neighbor list
    idset = set(ids)
    for r in built.select("id", NBRS_COL).collect():
        nbrs = r[NBRS_COL]
        assert len(nbrs) == 12, f"degenerate neighbor list for id {r['id']}"
        assert set(nbrs) <= idset and r["id"] not in nbrs

    q = X[:10]
    queries = spark.createDataFrame(
        [(i, [float(x) for x in q[i]]) for i in range(10)],
        "query_id long, qvec array<float>",
    )
    got = strat.knn(built, queries, k=5, metric=Metric.EUCLIDEAN).collect()
    hits = 0
    for qi in range(10):
        d = np.sqrt(((X - q[qi][None, :]) ** 2).sum(axis=1))
        order = np.lexsort((np.array(ids), d))
        exact = {ids[j] for j in order[:5]}
        mine = {r["id"] for r in got if r["query_id"] == qi}
        hits += len(exact & mine)
    assert hits / 50 == 1.0, f"graph recall with sparse ids {hits/50}"


@pytest.mark.slow
def test_pq_paths_never_collect_query_table(spark, monkeypatch):
    """On an unbounded query table the PQ/IVFPQ query path computes ADC
    tables executor-side from closure codebooks + joined query blocks
    (r2 VERDICT item 4). Guard the property structurally: with the
    bounded-batch ceiling patched to 0 every batch is unbounded, and the
    only driver collect allowed is the routing probe's limit(0 + 1)
    rows. The SQ code scans share the grid (grid.cell_scan) and are
    guarded the same way."""
    import numpy as np

    import vicinity_spark.operators.knn as knn_mod
    from vicinity_spark.backends.ivfpq import IVFPQStrategy
    from vicinity_spark.backends.ivfsq import IVFSQStrategy
    from vicinity_spark.backends.pq import PQStrategy
    from vicinity_spark.backends.sq import SQStrategy
    from vicinity_spark.datatypes import Metric

    orig = knn_mod.query_matrix
    collected = []

    def recording(*a, **k):
        qids, Q = orig(*a, **k)
        collected.append(len(qids))
        return qids, Q

    monkeypatch.setattr(knn_mod, "AUTO_GRID_QUERY_ROWS", 0)
    monkeypatch.setattr(knn_mod, "query_matrix", recording)

    rng = np.random.default_rng(3)
    n, dim = 300, 8
    X = rng.random((n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)], "id long, vector array<float>"
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(20)],
        "query_id long, qvec array<float>",
    )
    for strat in (
        PQStrategy(m=4, ksub=32, refine=8),
        IVFPQStrategy(nlist=8, nprobe=8, m=4, ksub=32, refine=8),
        SQStrategy(refine=8),
        IVFSQStrategy(nlist=8, nprobe=8, refine=8),
    ):
        built = strat.build(corpus, Metric.COSINE, dim)
        got = strat.knn(built, queries, k=5, metric=Metric.COSINE).collect()
        assert len(got) == 100  # 20 queries × k=5
        # self-queries find themselves at distance ~0
        top = {r["query_id"]: r["id"] for r in got if r["rank"] == 1}
        hits = sum(1 for q, i in top.items() if q == i)
        assert hits >= 18
    assert collected and max(collected) <= 1, collected


@pytest.mark.slow
def test_lsh_sparse_plane_family(spark):
    """The sparse ±1 projection family (Achlioptas-style): each plane
    has exactly one +1 and one -1 coordinate, buckets are deterministic
    across rebuilds, and self-queries still find themselves (every row
    collides with itself in every table)."""
    import numpy as np

    from vicinity_spark.backends.lsh import LSHStrategy
    from vicinity_spark.datatypes import Metric

    strat = LSHStrategy(n_tables=6, n_bits=8, plane_family="sparse", means=[0.0] * 16)
    P = strat._planes(16)
    assert P.shape == (6, 8, 16)
    assert ((P == 1.0).sum(axis=2) == 1).all()
    assert ((P == -1.0).sum(axis=2) == 1).all()
    assert ((P != 0.0).sum(axis=2) == 2).all()

    rng = np.random.default_rng(7)
    X = rng.standard_normal((200, 16))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(200)], "id long, vector array<float>"
    )
    built = strat.build(corpus, Metric.COSINE, 16)
    rebuilt = LSHStrategy(n_tables=6, n_bits=8, plane_family="sparse", means=[0.0] * 16).build(
        corpus, Metric.COSINE, 16
    )
    a = {r["id"]: r["__buckets"] for r in built.collect()}
    b = {r["id"]: r["__buckets"] for r in rebuilt.collect()}
    assert a == b
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(10)], "query_id long, qvec array<float>"
    )
    got = strat.knn(built, queries, k=3, metric=Metric.COSINE).collect()
    top = {r["query_id"]: r["id"] for r in got if r["rank"] == 1}
    assert all(top[q] == q for q in range(10))


@pytest.mark.slow
def test_ivfpqr_refinement_code_rerank(spark, tmp_path):
    """refine_m > 0 = the FAISS ivfpqr trade (faiss.py:111-113):
    candidates re-rank from centroid + PQ + refinement-PQ codes, never
    re-reading true vectors. Layout carries __rcode, recall holds a
    floor, self-queries win rank 1, and rbooks round-trip via params."""
    import numpy as np

    from vicinity_spark.backends.ivfpq import IVFPQStrategy
    from vicinity_spark.datatypes import Metric
    from vicinity_spark.operators.knn import knn_join

    rng = np.random.default_rng(11)
    n, dim = 400, 16
    X = rng.standard_normal((n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)], "id long, vector array<float>"
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(15)],
        "query_id long, qvec array<float>",
    )
    strat = IVFPQStrategy(nlist=8, nprobe=8, m=4, ksub=64, refine=16, refine_m=8)
    built = strat.build(corpus, Metric.COSINE, dim).cache()
    built.count()
    assert "__rcode" in built.columns
    got = strat.knn(built, queries, k=5, metric=Metric.COSINE).collect()
    exact = knn_join(corpus, queries, k=5, metric="cosine", algorithm="window").collect()
    es = {(r["query_id"], r["id"]) for r in exact}
    gs = {(r["query_id"], r["id"]) for r in got}
    assert len(gs & es) / len(es) >= 0.8
    top = {r["query_id"]: r["id"] for r in got if r["rank"] == 1}
    assert sum(1 for q, i in top.items() if q == i) >= 14
    # rbooks are plain params: a rebuilt strategy from to_params encodes
    # appended rows identically (train-once, add-many)
    params = strat.to_params()
    clone = IVFPQStrategy(**params)
    extra = spark.createDataFrame(
        [(n, [float(x) for x in X[0]])], "id long, vector array<float>"
    )
    enc = clone.on_insert(extra, Metric.COSINE, dim).collect()[0]
    assert enc["__rcode"] is not None and len(enc["__rcode"]) == 8
    built.unpersist()


def test_neardup_join_equals_theta_join(spark):
    """The block-grid pair sweep returns exactly the all-pairs result:
    same pairs, same distances, each unordered pair exactly once."""
    import numpy as np

    from vicinity_spark.operators.knn import neardup_join

    rng = np.random.default_rng(21)
    n, dim = 300, 8
    X = rng.standard_normal((n, dim))
    X[50] = X[10] * 1.001  # planted near-dups
    X[60] = X[20] + rng.standard_normal(dim) * 0.01
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)], "id long, vector array<float>"
    )
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in neardup_join(corpus, 0.3, "cosine").collect()}
    # numpy oracle over the float32-stored values the engine actually sees
    X = X.astype(np.float32).astype(np.float64)
    Xh = X / np.linalg.norm(X, axis=1, keepdims=True)
    D = 1.0 - Xh @ Xh.T
    ii, jj = np.nonzero(D <= 0.3)
    expect = {(int(a), int(b)) for a, b in zip(ii, jj) if a < b}
    assert set(got) == expect
    assert (10, 50) in got and (20, 60) in got
    for (a, b), d in got.items():
        assert d == pytest.approx(max(D[a, b], 0.0), abs=1e-9)


def test_threshold_grid_equals_expr(spark, corpus_df, queries_df):
    """The grid radius plan returns the same rows as the expression
    theta join (the oracle-matched form), for every metric family."""
    from vicinity_spark.operators.knn import threshold_join

    for metric, t in (("cosine", 0.4), ("euclidean", 1.0), ("manhattan", 2.0)):
        a = {
            (r["query_id"], r["id"]): r["distance"]
            for r in threshold_join(
                corpus_df, queries_df, t, metric, dim=8, algorithm="expr"
            ).collect()
        }
        b = {
            (r["query_id"], r["id"]): r["distance"]
            for r in threshold_join(
                corpus_df, queries_df, t, metric, algorithm="grid"
            ).collect()
        }
        assert set(a) == set(b), metric
        for k in a:
            assert a[k] == pytest.approx(b[k], abs=1e-9), (metric, k)


def test_knn_auto_routes_large_query_tables_to_grid(spark, monkeypatch):
    """`algorithm="auto"` sends bounded query batches through the
    bounded scan (driver-collected query matrix) but a query TABLE past
    AUTO_GRID_QUERY_ROWS through `grid` — no driver materialization of
    the query side (r3 VERDICT item 4). The large table has an
    optimizer maxRows, so its routing collects nothing."""
    import numpy as np

    import vicinity_spark.operators.knn as knn_mod
    from vicinity_spark.operators.knn import knn_join

    rng = np.random.default_rng(11)
    n, dim = 60, 4
    X = rng.random((n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "id long, vector array<float>",
    )

    # small bounded batch → bounded scan: the query-matrix collect runs
    calls = []
    orig = knn_mod.query_matrix

    def record(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(knn_mod, "query_matrix", record)
    small = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(5)],
        "query_id long, qvec array<float>",
    )
    got = knn_join(corpus, small, k=3, algorithm="auto").collect()
    assert len(got) == 15
    assert calls, "auto did not route a bounded batch to the bounded scan"

    # large query table → grid: poison the collect helpers; the whole
    # job must still run without them
    def boom(*a, **k):
        raise AssertionError("driver collect of a large query table under auto")

    monkeypatch.setattr(knn_mod, "query_matrix", boom)
    nq = knn_mod.AUTO_GRID_QUERY_ROWS + 1
    big = spark.range(nq).select(
        F.col("id").alias("query_id"),
        F.array(*[F.rand(seed=s) + F.lit(0.01) for s in range(dim)])
        .cast("array<float>")
        .alias("qvec"),
    )
    res = knn_join(corpus, big, k=3, algorithm="auto")
    assert res.count() == nq * 3


def test_queries_are_bounded_scan_fallback(spark, tmp_path, monkeypatch):
    """Parquet scans have no optimizer maxRows → the bounded router
    falls back to one limit-bounded collect, correct in both
    directions, and threshold_join's auto routes on the same answer:
    the bounded scan (no join at all) or the block grid."""
    import vicinity_spark.operators.knn as knn_mod
    from vicinity_spark.operators.knn import bounded_query_matrix

    p = str(tmp_path / "q.parquet")
    spark.range(100).select(
        F.col("id").alias("query_id"), F.array(F.col("id").cast("double")).alias("qvec")
    ).write.parquet(p)
    scan = spark.read.parquet(p)
    corpus = spark.createDataFrame([(0, [1.0])], "id long, vector array<double>")
    monkeypatch.setattr(knn_mod, "AUTO_GRID_QUERY_ROWS", 100)
    qids, Q = bounded_query_matrix(scan)
    assert sorted(qids.tolist()) == list(range(100)) and Q.shape == (100, 1)
    plan = threshold_join(corpus, scan, 0.5, "euclidean")._jdf.queryExecution()
    bounded = plan.optimizedPlan().toString()
    assert "MapInPandas" in bounded and "Join" not in bounded
    monkeypatch.setattr(knn_mod, "AUTO_GRID_QUERY_ROWS", 99)
    assert bounded_query_matrix(scan) is None
    plan = threshold_join(corpus, scan, 0.5, "euclidean")._jdf.queryExecution()
    grid = plan.optimizedPlan().toString()
    assert "MapInPandas" in grid and "Join" in grid


def test_knn_empty_query_table_all_algorithms(spark):
    """An empty query batch returns an empty, correctly-shaped result
    on every exact plan (the bounded plan used to crash on the empty
    driver-collected matrix)."""
    import numpy as np

    rng = np.random.default_rng(1)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.random(4)]) for i in range(20)],
        "id long, vector array<float>",
    )
    empty_q = spark.createDataFrame([], "query_id long, qvec array<float>")
    for algo in ("auto", "window", "grid"):
        res = knn_join(corpus, empty_q, k=3, algorithm=algo)
        assert res.count() == 0, algo
        assert res.columns == ["query_id", "id", "distance", "rank"], algo


@pytest.mark.slow
def test_graph_ivf_seeding_recall_and_param_roundtrip(spark):
    """seed_mode="ivf" (r4 VERDICT item 3): per-query centroid seeds
    replace the fixed entry-ring crossJoin. At generous params the
    seeded search reproduces near-exact top-k; the fitted seed params
    (centroids + member ids) are plain JSON so they persist through
    the store's metadata round-trip, and a strategy rebuilt from
    to_params() answers WITHOUT refitting."""
    import json

    import numpy as np

    from vicinity_spark.backends.graph import GraphStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(11)
    n, dim = 300, 8
    X = rng.standard_normal((n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "id long, vector array<float>",
    )
    strat = GraphStrategy(
        k_build=16, iters=2, beam=48, expansions=2,
        seed_mode="ivf", seed_nlist=8, seed_probe=4, seed_members=8,
    )
    built = strat.build(corpus, Metric.COSINE, dim).cache()
    assert strat.params["seed_centroids"] is not None
    assert any(strat.params["seed_member_ids"])

    q = X[:20]
    queries = spark.createDataFrame(
        [(i, [float(x) for x in q[i]]) for i in range(20)],
        "query_id long, qvec array<float>",
    )
    got = strat.knn(built, queries, k=5, metric=Metric.COSINE).collect()
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    hits = 0
    for qi in range(20):
        d = 1.0 - Xn @ Xn[qi]
        exact = set(np.lexsort((np.arange(n), d))[:5].tolist())
        mine = {r["id"] for r in got if r["query_id"] == qi}
        hits += len(exact & mine)
    assert hits / 100 >= 0.9, f"ivf-seeded graph recall {hits/100}"

    # params JSON round-trip; the rebuilt strategy must answer from the
    # persisted adjacency + seed tables alone (no refit)
    params = json.loads(json.dumps(strat.to_params()))
    reloaded = GraphStrategy(**params)

    def boom(*a, **k):
        raise AssertionError("reloaded ivf-seeded strategy refit its seeds")

    reloaded._fit_seed_clusters = boom
    reloaded.build = boom
    got2 = reloaded.knn(built, queries, k=5, metric=Metric.COSINE).collect()
    assert sorted((r["query_id"], r["id"]) for r in got2) == sorted(
        (r["query_id"], r["id"]) for r in got
    )
    built.unpersist()


@pytest.mark.slow
def test_graph_ivf_seeding_inserted_rows_reachable(spark):
    """Under seed_mode="ivf" the __inserted frontier union still makes
    appended rows reachable: a brand-new vector identical to the query
    must surface at rank 1 even though no centroid member points at it."""
    import numpy as np

    from vicinity_spark.backends.graph import GraphStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(3)
    n, dim = 200, 6
    X = rng.standard_normal((n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "id long, vector array<float>",
    )
    strat = GraphStrategy(
        k_build=8, iters=1, beam=16, expansions=1,
        seed_mode="ivf", seed_nlist=4, seed_probe=2, seed_members=4,
    )
    built = strat.build(corpus, Metric.EUCLIDEAN, dim)
    target = [9.0] * dim  # far outside the corpus cloud
    new = spark.createDataFrame([(n, target)], "id long, vector array<float>")
    appended = built.unionByName(
        strat.on_insert(new, Metric.EUCLIDEAN, dim), allowMissingColumns=True
    )
    queries = spark.createDataFrame([(0, target)], "query_id long, qvec array<float>")
    got = strat.knn(appended, queries, k=3, metric=Metric.EUCLIDEAN).collect()
    best = min(got, key=lambda r: r["rank"])
    assert best["id"] == n and best["distance"] == 0.0


def test_ivf_preset_centroids_build_assigns_argmin(spark):
    """Preset-centroid build (r5) must skip the KMeans fit and assign
    every row to its argmin-l2 centroid — the deterministic contract
    the ann_recall_summary ivf-branch oracle replicates in SQL."""
    import numpy as np

    from vicinity_spark.backends.ivf import CLUSTER_COL, IVFStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(7)
    X = rng.standard_normal((60, 8)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)], "id long, vector array<float>"
    )
    cents = [list(map(float, X[j])) for j in (5, 20, 40)]
    # a fourth centroid mirrors centroid 0 through a row p of list 0, so
    # p is EXACTLY as far from both (the float32 values are exact in
    # float64, and so are 2p - c0 and p - (2p - c0) = c0 - p): the tie
    # must go to the lower index
    def sq(i):
        return ((X[i].astype(np.float64) - np.asarray(cents)) ** 2).sum(axis=1)

    p = next(i for i in range(60) if i not in (5, 20, 40) and np.argmin(sq(i)) == 0)
    cents.append(list(2 * X[p].astype(np.float64) - np.asarray(cents[0])))
    assert sq(p)[0] == sq(p)[3] and sq(p)[0] < sq(p)[1:3].min()
    strat = IVFStrategy(nlist=4, nprobe=4, centroids=cents)
    built = strat.build(corpus, Metric.COSINE, 8)

    got = {r.id: r[CLUSTER_COL] for r in built.collect()}
    for i in range(60):
        expect = int(np.argmin(sq(i)))
        assert got[i] == expect, (i, got[i], expect)
    assert got[p] == 0

    # inserted rows follow the same rule: a facade insert (a driver-built
    # batch, assigned on the driver) and on_insert on a list-built frame
    # (the streaming-ingest path, the assignment UDF) both give each
    # vector the build's list
    from vicinity_spark.store import VectorStore

    store = VectorStore.from_vectors_and_items(
        spark, X, [f"x{i}" for i in range(60)], backend_type="ivf",
        metric="cosine", nlist=4, nprobe=4, centroids=cents,
    )
    store.insert([f"y{i}" for i in range(60)], X)
    inserted = store.df.where(F.col("id") >= 60).collect()
    assert {r.id - 60: r[CLUSTER_COL] for r in inserted} == got
    streamed = strat.on_insert(corpus, Metric.COSINE, 8).collect()
    assert {r.id: r[CLUSTER_COL] for r in streamed} == got

    # nprobe = nlist → exact recall: the preset path is a real index
    queries = corpus.where(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    res = strat.knn(built, queries, k=5, metric=Metric.COSINE)
    from vicinity_spark.operators.knn import knn_join

    exact = knn_join(corpus, queries, k=5, metric="cosine", algorithm="window", dim=8)
    a = {(r.query_id, r.rank): r.id for r in res.collect()}
    b = {(r.query_id, r.rank): r.id for r in exact.collect()}
    assert a == b


@pytest.mark.slow
def test_graph_ivf_seed_state_survives_save_reload(spark, tmp_path):
    """seed_mode='ivf' stores its centroids + member ids in params, so
    a reloaded store must answer from the persisted seed state without
    re-entering build() or the seed k-means fit."""
    import numpy as np

    from vicinity_spark.backends.graph import GraphStrategy
    from vicinity_spark.store import VectorStore

    rng = np.random.default_rng(11)
    X = rng.standard_normal((120, 12)).astype(np.float32)
    st = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(120)], backend_type="hnsw",
        metric="cosine", k_build=8, iters=1, beam=16, expansions=1,
        seed_mode="ivf", seed_nlist=4, seed_probe=2, seed_members=4,
    )
    want = st.query(X[:2], k=5)
    path = str(tmp_path / "graph_ivf_store")
    st.save(path)

    loaded = VectorStore.load(path, spark)
    assert loaded.strategy.params.get("seed_centroids") is not None
    assert loaded.strategy.params.get("seed_member_ids") is not None

    def boom(*a, **k):
        raise AssertionError("reloaded ivf-seeded graph store re-ran build/fit")

    loaded.strategy.build = boom
    loaded.strategy._fit_seed_clusters = boom
    assert loaded.query(X[:2], k=5) == want


def test_threshold_auto_routes_large_query_tables_to_grid(spark):
    """`threshold_join(algorithm="auto")` (the default) routes as
    knn_join does: a bounded query batch takes the bounded scan (one
    mapInPandas over the corpus, no join and no broadcast of a query
    relation), a query TABLE past AUTO_GRID_QUERY_ROWS the block grid
    (query vectors arrive through the block join). Routing is asserted
    on the physical plan; both return the rows of the `expr` plan."""
    import vicinity_spark.operators.knn as knn_mod
    from vicinity_spark.plans.checks import explain_str

    rng = np.random.default_rng(7)
    n, dim = 60, 4
    X = rng.random((n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "id long, vector array<float>",
    )

    # bounded batch → bounded scan: python kernel, no join at all
    small = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(5)],
        "query_id long, qvec array<float>",
    )
    res_small = threshold_join(corpus, small, threshold=0.4, metric="cosine")
    plan_small = explain_str(res_small, "simple")
    assert "MapInPandas" in plan_small
    assert "Join" not in plan_small and "CartesianProduct" not in plan_small

    # large query table → grid: python kernel over the block join
    nq = knn_mod.AUTO_GRID_QUERY_ROWS + 1
    big = spark.range(nq).select(
        F.col("id").alias("query_id"),
        F.array(*[F.rand(seed=s) + F.lit(0.01) for s in range(dim)])
        .cast("array<float>")
        .alias("qvec"),
    )
    res_big = threshold_join(corpus, big, threshold=2.0, metric="cosine")
    plan_big = explain_str(res_big, "simple")
    assert "MapInPandas" in plan_big and "Join" in plan_big
    # every query is within cosine distance 2.0 of everything → n rows each
    assert res_big.count() == nq * n

    # same rows as the expression plan on the bounded batch (routing
    # picks the plan, not the answer)
    got_expr = {
        (r["query_id"], r["id"])
        for r in threshold_join(
            corpus, small, threshold=0.4, metric="cosine", algorithm="expr"
        ).collect()
    }
    got_auto = {(r["query_id"], r["id"]) for r in res_small.collect()}
    assert got_auto == got_expr and got_auto


def test_threshold_join_rejects_unknown_algorithm(spark, corpus_df, queries_df):
    with pytest.raises(ValueError, match="unknown algorithm"):
        threshold_join(corpus_df, queries_df, 0.4, "cosine", algorithm="nope")


def test_topk_deterministic_under_duplicate_vectors_and_layouts(spark):
    """r6 hardening: exact-distance ties (duplicate vectors) used to be
    cut by argpartition's arbitrary order inside the partial/grid
    kernels, making the emitted top-k depend on partition layout. Now
    every boundary is a (distance, id) cut: with 30 of 60 rows sharing
    one vector and k landing inside the tie set, every algorithm and
    every partitioning must return the identical, id-ordered winners."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.random(8)
    rows = []
    for i in range(60):
        v = base if i % 2 == 0 else rng.random(8)  # 30 exact duplicates
        rows.append((i, [float(x) for x in v]))
    q = spark.createDataFrame(
        [(0, [float(x) for x in base])], "query_id long, qvec array<float>"
    )
    expected = None
    for parts in (1, 7, 32):
        corpus = spark.createDataFrame(rows, "id long, vector array<float>").repartition(parts)
        for algo in ("window", "auto", "grid"):
            got = [
                (r["rank"], r["id"])
                for r in knn_join(corpus, q, k=5, metric="cosine", algorithm=algo)
                .orderBy("rank")
                .collect()
            ]
            # distance-0 ties must resolve to the 5 smallest duplicate ids
            assert got == [(1, 0), (2, 2), (3, 4), (4, 6), (5, 8)], (algo, parts)
            if expected is None:
                expected = got
            assert got == expected, (algo, parts)


def test_pq_pool_deterministic_under_duplicate_codes(spark):
    """Quantized paths: duplicate PQ codes give bit-equal ADC
    distances, so the candidate-pool boundary is tie-dense. The pool
    (and hence knn) must be identical across partition layouts."""
    import numpy as np

    from vicinity_spark.backends.pq import PQStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(9)
    # 2 distinct vector values × 40 copies → codes collide massively
    vals = [rng.random(8) for _ in range(2)]
    rows = [(i, [float(x) for x in vals[i % 2]]) for i in range(80)]
    q = spark.createDataFrame(
        [(0, [float(x) for x in vals[0]])], "query_id long, qvec array<float>"
    )
    books = [[list(map(float, rng.random(4))) for _ in range(4)] for _ in range(2)]
    results = []
    for parts in (1, 5, 16):
        corpus = spark.createDataFrame(rows, "id long, vector array<float>").repartition(parts)
        strat = PQStrategy(m=2, ksub=4, refine=2, codebooks=books)
        built = strat.build(corpus, Metric.EUCLIDEAN, 8)
        got = [
            (r["rank"], r["id"], round(r["distance"], 9))
            for r in strat.knn(built, q, k=6, metric=Metric.EUCLIDEAN)
            .orderBy("rank")
            .collect()
        ]
        results.append(got)
    assert results[0] == results[1] == results[2]
    # rank-1..: the query's own duplicates, smallest ids first
    assert [r[1] for r in results[0][:3]] == [0, 2, 4]


@pytest.mark.slow
def test_codebooks_independent_of_input_layout(spark):
    """PQ, IVF-PQ and IVF-PQR train their codebooks on a driver sample.
    The sample must pick the same rows in the same order whatever the
    corpus's partitioning: _kmeans_np seeds by row position. The same
    corpus in one and in seven partitions must give bit-identical
    codebooks, refinement books and knn rows. pq and ivfpqr sample a
    subset (train_sample < n); ivfpq trains on every row."""
    from vicinity_spark.backends.ivfpq import IVFPQStrategy
    from vicinity_spark.backends.pq import PQStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(17)
    X = rng.normal(size=(600, 8))
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    q = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(5, 8)))],
        "query_id long, qvec array<float>",
    )
    C = X[:6] / np.linalg.norm(X[:6], axis=1, keepdims=True)
    pq = dict(m=4, ksub=16, refine=4)
    ivf = dict(nlist=6, nprobe=3, centroids=C.tolist())
    cases = {
        "pq": lambda: PQStrategy(train_sample=400, **pq),
        "ivfpq": lambda: IVFPQStrategy(**pq, **ivf),
        "ivfpqr": lambda: IVFPQStrategy(train_sample=400, refine_m=4, **pq, **ivf),
    }
    for name, make in cases.items():
        got = []
        for parts in (1, 7):
            corpus = spark.createDataFrame(rows, "id long, vector array<float>").repartition(parts)
            strat = make()
            built = strat.build(corpus, Metric.COSINE, 8)
            knn = sorted(
                tuple(r)
                for r in strat.knn(built, q, k=5, metric=Metric.COSINE)
                .select("query_id", "rank", "id", "distance")
                .collect()
            )
            got.append((strat.params["codebooks"], strat.params.get("rbooks"), knn))
        assert got[0][0] == got[1][0], (name, "codebooks")
        assert got[0][1] == got[1][1], (name, "rbooks")
        assert got[0][2] == got[1][2], (name, "knn")
        assert len(got[0][2]) == 25


@pytest.mark.slow
def test_lsh_expr_bucketize_matches_arrow_kernel(spark):
    """r6: the pure-Catalyst bucketize for the sparse ±1 and
    bit-sampling families must be BIT-IDENTICAL to the Arrow kernel
    (the sparse projection is the same IEEE double subtraction in both
    engines; numpy's zero plane coordinates contribute exact zeros),
    and the expr build/probe plans must contain no Python evaluation."""
    import numpy as np

    from vicinity_spark.backends.lsh import (
        BUCKETS_COL,
        LSHStrategy,
        _bucket_matrix_np,
        _expr_bucket_family,
    )
    from vicinity_spark.datatypes import Metric
    from vicinity_spark.plans.checks import explain_str

    rng = np.random.default_rng(13)
    n, dim = 300, 16
    X = rng.random((n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "id long, vector array<float>",
    )
    cases = [
        (LSHStrategy(n_tables=4, n_bits=6, plane_family="sparse"), Metric.COSINE),
        (LSHStrategy(n_tables=4, n_bits=6, plane_family="sparse"), Metric.INNER_PRODUCT),
        (LSHStrategy(n_tables=4, n_bits=6), Metric.HAMMING),  # bit-sample
    ]
    for strat, metric in cases:
        assert _expr_bucket_family(dict(strat.params, plane_family=strat.params.get("plane_family")), metric)
        built = strat.build(df, metric, dim)
        plan = explain_str(built, "simple")
        assert "Python" not in plan and "Arrow" not in plan, (metric, plan)
        got = {r["id"]: list(r[BUCKETS_COL]) for r in built.collect()}
        M = _bucket_matrix_np(dict(strat.params), X.astype(np.float64), metric)
        for i in range(n):
            assert got[i] == [int(x) for x in M[i]], (metric, i)
        # probe side too: same expr family, no Python eval
        q = df.limit(5).select(F.col("id").alias("query_id"), F.col("vector").alias("qvec"))
        probe = strat._probe_df(q, metric)
        assert "Python" not in explain_str(probe, "simple")
        res = strat.knn(built, q, k=3, metric=metric)
        assert res.count() > 0  # end-to-end query path runs

    # the gaussian default keeps the Arrow kernel
    g = LSHStrategy(n_tables=4, n_bits=6)
    gbuilt = g.build(df, Metric.COSINE, dim)
    assert "Arrow" in explain_str(gbuilt, "simple")


def test_lsh_expr_bucketize_nan_and_short_vectors(spark):
    """r6 review: NaN coordinates must hash identically to the numpy
    kernel (NaN compares false vs 0 — Spark's bare `NaN > 0` is true),
    and a vector shorter than dim must raise, not silently zero bits."""
    import numpy as np

    from vicinity_spark.backends.lsh import BUCKETS_COL, LSHStrategy, _bucket_matrix_np
    from vicinity_spark.datatypes import Metric

    dim = 8
    X = np.array(
        [[0.5, float("nan"), -0.3, 0.9, float("nan"), 0.1, -0.7, 0.2],
         [0.1] * 8],
        dtype=np.float64,
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(2)],
        "id long, vector array<float>",
    )
    strat = LSHStrategy(n_tables=3, n_bits=5, plane_family="sparse", means=[0.0] * dim)
    built = strat.build(df, Metric.COSINE, dim)
    got = {r["id"]: list(r[BUCKETS_COL]) for r in built.collect()}
    M = _bucket_matrix_np(dict(strat.params), X, Metric.COSINE)
    for i in range(2):
        assert got[i] == [int(x) for x in M[i]], i

    short = spark.createDataFrame([(0, [0.1, 0.2])], "id long, vector array<float>")
    # ANSI mode (Spark 4 default) raises from element_at itself; the
    # assert_true guard carries the explicit message when ANSI is off
    with pytest.raises(Exception, match="shorter than dim|INVALID_ARRAY_INDEX"):
        strat.build(short, Metric.COSINE, dim).collect()


SF01_DIR = "/root/testdata/sf0.1"


@pytest.mark.skipif(
    not __import__("os").path.isdir(SF01_DIR), reason="driver testdata not present"
)
@pytest.mark.slow
def test_graph_bench_operating_point_recall_floor(spark):
    """r6 VERDICT item 5, retuned in r7: the bench's graph operating
    point moved to k_build=32 / beam=96 (BENCHNOTES "build-side
    frontier") — recall@10 0.956 on the sf0.1 embeddings corpus, up
    from r6's 0.769 (which was up from r5's 0.459). This floor pins
    the NEW point: if a future change drags the SAME config back
    toward the old operating points, this trips. 0.90 leaves headroom
    for NN-descent build nondeterminism across partition layouts while
    sitting far above both regressions it guards against."""
    from vicinity_spark.backends.graph import GraphStrategy
    from vicinity_spark.datatypes import Metric

    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    corpus = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    dim = 64
    strat = GraphStrategy(
        k_build=32, iters=2, beam=96, expansions=1,
        seed_mode="ivf", seed_probe=8, seed_members=16,
    )
    built = strat.build(corpus, Metric.COSINE, dim).cache()
    try:
        nq, k = 200, 10
        queries = emb.where(F.col("vec_id") < nq).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        got = strat.knn(built, queries, k=k, metric=Metric.COSINE).collect()

        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r.vec_id for r in rows])
        X = np.array([r.embedding for r in rows], dtype=np.float32).astype(np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        qmask = ids < nq
        hits, total = 0, 0
        for qid, qv in zip(ids[qmask], Xn[qmask]):
            d = 1.0 - Xn @ qv
            exact = set(ids[np.lexsort((ids, d))[:k]].tolist())
            mine = {r.id for r in got if r.query_id == qid}
            hits += len(exact & mine)
            total += k
        recall = hits / total
        assert recall >= 0.90, f"bench-config graph recall {recall:.3f} < 0.90 floor"
    finally:
        built.unpersist()


def test_nonfinite_corpus_vectors_rank_last_all_algorithms(spark):
    """A corrupt (NaN/Inf) corpus vector must NEVER outrank a finite
    one. Regression: the Arrow boundary of the Pandas kernels turns a
    NaN distance into SQL NULL; the default NULLS FIRST window order
    then ranked the corrupt vector as the rank-1 neighbor and
    clip_distance(greatest) rewrote its NULL distance to a perfect
    0.0. Now: NULLS LAST ordering + NULL->NaN restoration, matching
    the JVM expression path's NaN-sorts-last semantics."""
    from pyspark.sql import functions as F
    from vicinity_spark.operators.knn import knn_join

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [float("nan"), 1.0]),
         (2, [float("inf"), 0.0]), (3, [0.6, 0.8])],
        "id long, vector array<double>",
    )
    q = spark.createDataFrame([(100, [1.0, 0.0])], "query_id long, qvec array<double>")
    for alg in ("window", "auto", "grid"):
        rows = knn_join(emb, q, k=4, metric="cosine", algorithm=alg).collect()
        ids = [r.id for r in sorted(rows, key=lambda r: r.rank)]
        assert ids[:2] == [0, 3], (alg, ids)
        assert all(r.distance != r.distance for r in rows if r.id in (1, 2)), (
            alg, [(r.id, r.distance) for r in rows],
        )  # reported as NaN, never 0.0


@pytest.mark.slow
def test_graph_searched_collect_visited_pool_identical(spark):
    """r8: the collect_visited diagnostics path must return the SAME
    pool as the serving path (it only changes bookkeeping/laziness),
    and visited must contain the seeds plus every scored expansion —
    the contract the ann_recall_summary graph branch leans on."""
    import numpy as np

    from vicinity_spark.backends.graph import GraphStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)],
        "id long, vector array<float>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(3)],
        "query_id long, qvec array<float>",
    )
    strat = GraphStrategy(k_build=4, iters=1, beam=6, expansions=2, n_entries=3, seed=42)
    built = strat.build(corpus, Metric.COSINE, 8).cache()
    plain = strat._searched(built, queries, Metric.COSINE, 5)
    pool, visited = strat._searched(
        built, queries, Metric.COSINE, 5, collect_visited=True
    )
    a = {(r.query_id, r.id, round(r.distance, 9)) for r in plain.collect()}
    b = {(r.query_id, r.id, round(r.distance, 9)) for r in pool.collect()}
    assert a == b and len(a) > 0
    vis = {(r.query_id, r.id) for r in visited.collect()}
    # every pooled row was scored, and all 3 entry seeds are visited
    assert {(q, i) for q, i, _ in b} <= vis
    for qid in (0, 1, 2):
        assert {(qid, 0), (qid, 1), (qid, 2)} <= vis


@pytest.mark.slow
def test_graph_build_deterministic_across_builds(spark):
    """Seeded build: two independent builds over the same rows yield
    identical adjacency (the determinism the SQL-replayed recall
    branch requires — ring offsets, window tie-breaks, rank map)."""
    import numpy as np

    from vicinity_spark.backends.graph import GraphStrategy, NBRS_COL
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(11)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(150)],
        "id long, vector array<float>",
    )

    def adjacency():
        s = GraphStrategy(k_build=4, iters=2, seed=42)
        return {
            r["id"]: list(r[NBRS_COL])
            for r in s.build(corpus, Metric.COSINE, 8).select("id", NBRS_COL).collect()
        }

    assert adjacency() == adjacency()


def test_corpus_blocks_density_default(spark):
    """r13 (VERDICT r12 item 1): corpus_blocks sizes its default block
    count by payload DENSITY — ceil(count/target_rows) — not by a
    static conf. Block count is a direct cost multiplier on every grid
    consumer (the r12 fixed-32 default regressed pq/sq ~2× on a
    2k-row corpus), so a small corpus must fold into ONE block while
    explicit n_blocks/target_rows still win."""
    from vicinity_spark.operators.grid import corpus_blocks

    small = spark.range(0, 2_000).selectExpr(
        "id", "array(cast(id as double)) as vector"
    )
    assert corpus_blocks(small, "vector").count() == 1  # 2k << 65,536
    assert corpus_blocks(small, "vector", target_rows=500).count() == 4
    assert corpus_blocks(small, "vector", n_blocks=7).count() == 7
    # every row lands in exactly one block regardless of the count
    total = (
        corpus_blocks(small, "vector", n_blocks=7)
        .selectExpr("explode(__cids) as id")
        .count()
    )
    assert total == 2_000


def test_nearest_centroids_matches_exact_brute_force():
    """Property test for grid.nearest_centroids (r13): across random
    shapes — including planted EXACT ties and ulp-near ties — the
    selected membership and order must equal the exact-arithmetic
    (squared-l2, index) ranking the SQL oracles compute. Pure numpy,
    no Spark session."""
    import numpy as np

    from vicinity_spark.operators.grid import nearest_centroids

    rng = np.random.default_rng(1234)
    for trial in range(40):
        k = int(rng.integers(2, 40))
        dim = int(rng.integers(2, 48))
        nq = int(rng.integers(1, 60))
        n = int(rng.integers(1, k + 1))
        C = rng.normal(size=(k, dim)) * rng.choice([1e-3, 1.0, 1e3])
        Q = rng.normal(size=(nq, dim)) * rng.choice([1e-3, 1.0, 1e3])
        # plant exact ties: duplicate centroids
        if k >= 4:
            C[1] = C[0]
            C[3] = C[2]
        # plant queries ON centroids (distance 0) and ulp-near pairs
        Q[0] = C[0]
        if k >= 6 and nq >= 2:
            C[5] = C[4] * (1.0 + 1e-15)
            Q[1] = C[4]
        sel, dist = nearest_centroids(Q, C, n)
        # exact reference: per-row stable sort on (exact sqdist, cid)
        D = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        ref = np.argsort(D, axis=1, kind="stable")[:, :n]
        if n == 1:
            # n=1 is fully exact: the argmin index AND its distance
            # (cluster assignment + the 'farthest' keep rule hang on
            # both)
            assert (sel == ref).all(), (trial, k, dim, nq, n)
            refd = D[np.arange(nq), ref[:, 0]]
            assert np.array_equal(dist[:, 0], refd), (trial, "exact dist")
        else:
            # n>1 contract is MEMBERSHIP (every consumer explodes /
            # uniques / masks the probe set); order within the set may
            # ulp-wobble and is not load-bearing
            for r in range(nq):
                assert set(sel[r]) == set(ref[r]), (trial, r, k, n)


def test_det_topk_idx_matches_exact_cut():
    """Property test for grid.det_topk_idx (the deterministic top-k
    every grid kernel cuts with): across random matrices with PLANTED
    duplicate values (boundary ties are the whole point) and
    NaN-poisoned rows, the selected index SET must equal the exact
    (value, index) stable-sort cut. Pure numpy, no Spark session."""
    import numpy as np

    from vicinity_spark.operators.grid import det_topk_idx

    rng = np.random.default_rng(77)
    for trial in range(60):
        n = int(rng.integers(1, 40))
        w = int(rng.integers(1, 60))
        cap = int(rng.integers(1, w + 1))
        # low-cardinality values force boundary ties in most rows
        D = rng.choice([0.0, 1.0, 2.0, 3.0, 4.5], size=(n, w)).astype(float)
        if trial % 3 == 0 and w >= 2:
            D[0, rng.integers(0, w)] = np.nan  # poisoned row
        sel = det_topk_idx(D, cap)
        ref = np.argsort(D, axis=1, kind="stable")[:, :cap]
        for r in range(n):
            assert set(map(int, sel[r])) == set(map(int, ref[r])), (
                trial, r, cap, D[r].tolist(),
            )


def test_merge_parts_cut_ignores_chunk_shape_ulp_noise():
    """r15 (r14 ADVICE): the merge cut must run on per-pair RESCORED
    values, not the per-chunk BLAS values — exact duplicates split
    across chunks of different shapes can carry ulp-different chunk
    values, and a cap boundary inside the tie set then keeps the wrong
    duplicate ids. Simulates the shape-dependent BLAS noise directly
    so the pin holds on every host."""
    import numpy as np

    from vicinity_spark.datatypes import Metric
    from vicinity_spark.operators.grid import _merge_parts

    dim = 4
    base = np.ones(dim)
    # positions 0-3 are exact duplicates of the query; 4-7 are far away
    X = np.vstack([base] * 4 + [base * 5.0] * 4).astype(np.float64)
    ids = np.arange(8, dtype=np.int64)
    qids = np.array([42], dtype=np.int64)
    Q = base[None, :]
    ulp = 1.1102230246251565e-16
    # simulated per-chunk kernel output: chunk A (positions 0, 1)
    # scored its duplicates an ulp high, chunk B (positions 2, 3)
    # exactly 0 — the true distance of every duplicate pair
    parts_d = [np.array([[ulp, ulp]]), np.array([[0.0, 0.0]])]
    parts_i = [np.array([[0, 1]]), np.array([[2, 3]])]
    out = _merge_parts(
        qids, ids, parts_d, parts_i, 3, rescore=(Q, X, Metric.L2_SQUARED)
    )
    # (distance, id) over TRUE values: the three smallest duplicate ids
    assert sorted(out["id"].tolist()) == [0, 1, 2]
    assert all(d == 0.0 for d in out["distance"].tolist())


def test_rescore_pairs_chunked_matches_unchunked():
    """rescore_pairs' query-row blocking is a pure memory bound: every
    block size must produce bit-identical values (per-row reductions
    are unaffected by row slicing)."""
    import numpy as np

    from vicinity_spark.datatypes import Metric
    from vicinity_spark.operators.grid import rescore_pairs

    rng = np.random.default_rng(3)
    Q = rng.random((37, 16))
    X = rng.random((50, 16))
    ii = rng.integers(0, 50, size=(37, 9))
    for metric in (Metric.COSINE, Metric.EUCLIDEAN, Metric.MANHATTAN):
        full = rescore_pairs(metric, Q, X, ii)
        tiny = rescore_pairs(metric, Q, X, ii, budget_bytes=1)
        assert np.array_equal(full, tiny), metric


def test_np_distances_chunked_matches_unchunked():
    """MANHATTAN and HAMMING take the query side in row blocks under a
    byte budget; the blocking is a pure memory bound, so a budget that
    forces one-row blocks gives the same matrix bit for bit."""
    import numpy as np

    from vicinity_spark.datatypes import Metric
    from vicinity_spark.operators.knn import _np_distances

    rng = np.random.default_rng(8)
    Q = rng.random((37, 16))
    X = rng.random((50, 16))
    Q[3] = X[7]  # a zero-distance pair
    for metric, (A, B) in (
        (Metric.MANHATTAN, (Q, X)),
        (Metric.HAMMING, (np.round(Q), np.round(X))),  # 0/1 bit vectors
    ):
        full = _np_distances(metric, A, B, budget_bytes=1 << 40)
        tiny = _np_distances(metric, A, B, budget_bytes=1)
        assert full.shape == (37, 50) and full.dtype == np.float64
        assert np.array_equal(full, tiny), metric
        assert full[3, 7] == 0.0 and full.max() > 0.0


class _CellsOnly:
    """Stand-in grid for the Spark-free kernel tests: scan_cells reads
    its key columns and hands back the per-partition function."""

    def __init__(self, columns):
        self.columns = list(columns)

    def mapInPandas(self, fn, schema):
        return fn


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "manhattan"])
def test_dense_cell_within_bounded_matches_brute_force(metric, monkeypatch):
    """The range kernel behind the `grid` threshold search and
    neardup_join slices both sides of a cell: with _QBLOCK and _CCHUNK
    patched small, every distance matrix stays within them, and both
    consumers still equal a numpy brute force — duplicate vectors
    included, each unordered self-join pair once (same-block cells
    hold both orientations, cross-block cells one)."""
    import numpy as np
    import pandas as pd

    import vicinity_spark.operators.knn as knn_mod
    from vicinity_spark.datatypes import Metric
    from vicinity_spark.operators import grid
    from vicinity_spark.operators.knn import _neardup_kernel, _np_pairwise

    monkeypatch.setattr(grid, "_QBLOCK", 4)
    monkeypatch.setattr(grid, "_CCHUNK", 5)
    shapes = []
    orig = knn_mod._np_distances

    def recording(m, Q, X, *a, **k):
        shapes.append((len(Q), len(X)))
        return orig(m, Q, X, *a, **k)

    monkeypatch.setattr(knn_mod, "_np_distances", recording)
    mm = Metric.from_string(metric)
    t = {"cosine": 0.05, "euclidean": 0.9, "manhattan": 1.8}[metric]
    rng = np.random.default_rng(11)
    n = 47
    ids = rng.permutation(1000)[:n].astype(np.int64)
    V = rng.random((n, 6))
    V[9] = V[3]  # exact duplicates, across and within blocks
    V[21] = V[3]
    V[30] = V[31] = V[40]
    V[12] = V[5] + 1e-3  # near copy

    def brute(rows_a, rows_b):
        A = np.repeat(V[rows_a], len(rows_b), axis=0)
        B = np.tile(V[rows_b], (len(rows_a), 1))
        return _np_pairwise(mm, A, B).reshape(len(rows_a), len(rows_b))

    # the matrix kernel's expansion error (a square root of it for
    # euclidean) may only move pairs within tol of t
    tol = 1e-6 if metric == "euclidean" else 1e-9

    def sandwich(got, truth):
        lo = {p for p, d in truth.items() if d <= t - tol}
        hi = {p for p, d in truth.items() if d <= t + tol}
        assert lo, "fixture must plant matches"
        assert lo <= set(got) <= hi
        for p, d in got.items():
            assert d == pytest.approx(max(truth[p], 0.0), abs=tol)

    # threshold-grid shape: one cell, queries distinct from the corpus
    qrows, crows = np.arange(0, 13), np.arange(13, n)
    Qv = V[qrows].copy()
    Qv[0] = V[20]  # a query equal to a corpus row
    D = brute(qrows, crows)
    D[0] = _np_pairwise(mm, np.repeat(Qv[:1], len(crows), axis=0), V[crows])
    truth = {
        (int(ids[q]), int(ids[c])): D[i, j]
        for i, q in enumerate(qrows)
        for j, c in enumerate(crows)
    }
    got = {}
    for f in grid.dense_cell_within(ids[qrows], ids[crows], V[crows], Qv, mm, t):
        for q, c, d in zip(f["query_id"], f["id"], f["distance"]):
            assert (int(q), int(c)) not in got
            got[(int(q), int(c))] = float(d)
    assert shapes and all(r <= 4 and c <= 5 for r, c in shapes)
    sandwich(got, truth)
    assert (int(ids[0]), int(ids[20])) in got

    # self-join through scan_cells: three hash blocks, cells cb <= qb,
    # members in collect_list (not id) order
    blk = rng.integers(0, 3, n)
    members = [rng.permutation(np.nonzero(blk == b)[0]) for b in range(3)]
    rows = [
        {
            "__cb": cb,
            "__cids": ids[members[cb]],
            "__ccodes": [V[i] for i in members[cb]],
            "__qb": qb,
            "__qids": ids[members[qb]],
            "__qvecs": [V[i] for i in members[qb]],
        }
        for cb in range(3)
        for qb in range(cb, 3)
    ]
    shapes.clear()
    fn = grid.scan_cells(
        _CellsOnly(rows[0]), _neardup_kernel(mm, t), knn_mod._PAIRS_SCHEMA
    )
    got = {}
    for f in fn(iter([pd.DataFrame(rows)])):
        for a, b, d in zip(f["id_a"], f["id_b"], f["distance"]):
            assert a < b and (int(a), int(b)) not in got
            got[(int(a), int(b))] = float(d)
    assert shapes and all(r <= 4 and c <= 5 for r, c in shapes)
    Dall = brute(np.arange(n), np.arange(n))
    truth = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))): Dall[i, j]
        for i in range(n)
        for j in range(i + 1, n)
    }
    sandwich(got, truth)
    for i, j in ((3, 9), (3, 21), (9, 21), (30, 31), (30, 40), (31, 40)):
        assert (int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))) in got


@pytest.mark.parametrize("seed", range(6))
def test_task_best_streams_within_bounds(monkeypatch, seed):
    """A re-rank scan task's finish (backends.base._task_best) emits
    what one concat-then-cut of all its kernel frames would — each
    query's best ``size`` rows by (distance, id), ties and NaN
    distances included, with the extras scored and the read column
    dropped — while it scores the extras in slices of at most
    _QBLOCK × _CCHUNK query-vector doubles and skips the rows its kept
    rows already beat. One query is still short of ``size`` rows when
    the worse rows of its last frame arrive."""
    import pandas as pd

    from vicinity_spark.backends import base
    from vicinity_spark.operators import grid
    from vicinity_spark.operators.knn import topk_positions

    monkeypatch.setattr(grid, "_QBLOCK", 4)
    monkeypatch.setattr(grid, "_CCHUNK", 6)
    rng = np.random.default_rng(seed)
    nq, dim, size = 24, 3, 5
    qids = np.arange(50, 50 + nq, dtype=np.int64)
    Q = rng.random((nq, dim))
    frames, pool = [], iter(rng.permutation(10**5))
    for cell in range(60):
        slice_ = rng.choice(qids[1:], rng.integers(1, 5), replace=False)
        q = np.repeat(slice_, rng.integers(1, size + 1, len(slice_)))
        d = rng.integers(0, 8, len(q)) / 4.0
        d[rng.random(len(q)) < 0.1] = np.nan
        if cell in (0, 59):
            extra = [0.0] * 2 if cell == 0 else [2.0] * size
            q, d = np.r_[q, [qids[0]] * len(extra)], np.r_[d, extra]
        ids = np.array([next(pool) for _ in q])  # ties meet ids in no order
        vecs = list(rng.random((len(q), dim)))
        frames.append(pd.DataFrame({"query_id": q, "id": ids, "distance": d, "vector": vecs}))
    scored = []

    def extras(f, Qr):
        scored.append(len(f))
        return f.assign(__exact=(Qr * np.vstack(f["vector"].to_numpy())).sum(axis=1))

    out = pd.concat(list(base._task_best(size, extras, ["vector"], iter(frames), qids, Q)))
    every = pd.concat(frames, ignore_index=True)
    keep = topk_positions(
        every["query_id"].to_numpy(), every["distance"].to_numpy(), every["id"].to_numpy(), size
    )
    want = every.iloc[keep]
    want = extras(want, Q[pd.Index(qids).get_indexer(want["query_id"])]).drop(columns="vector")
    key = ["query_id", "id"]
    pd.testing.assert_frame_equal(
        out.sort_values(key).reset_index(drop=True), want.sort_values(key).reset_index(drop=True)
    )
    assert max(scored[:-1]) <= 4 * 6 // dim
    assert sum(scored[:-1]) < len(every)


@pytest.mark.parametrize("metric", ["cosine", "euclidean"])
def test_probe_scan_bounded_matches_brute_force(metric, monkeypatch):
    """The bounded twin of the grid scan slices the broadcast queries
    into _QBLOCK blocks before any kernel runs: with _QBLOCK and
    _CCHUNK patched small, every distance matrix stays within them,
    and the top-k (distance, id) cut of the emitted rows equals a numpy
    brute force — flat and over inverted lists (only the queries that
    probe a list score its cell), duplicate vectors included, and for
    the range form (every row, kk = the cell's width) the IVF threshold
    search uses. Cells gather Arrow batches up to ``target_rows`` rows:
    one piece per cell (1), cuts between batches (20) and one cell per
    list (10**6) give the same rows, and no cell passes the target
    unless a single batch piece does."""
    import numpy as np
    import pandas as pd

    import vicinity_spark.operators.knn as knn_mod
    from vicinity_spark.datatypes import Metric
    from vicinity_spark.operators import grid
    from vicinity_spark.operators.knn import _np_pairwise

    monkeypatch.setattr(grid, "_QBLOCK", 4)
    monkeypatch.setattr(grid, "_CCHUNK", 5)
    shapes = []
    orig = knn_mod._np_distances

    def recording(m, Q, X, *a, **k):
        shapes.append((len(Q), len(X)))
        return orig(m, Q, X, *a, **k)

    monkeypatch.setattr(knn_mod, "_np_distances", recording)
    mm = Metric.from_string(metric)
    rng = np.random.default_rng(21)
    n, nq, k = 53, 13, 4
    ids = rng.permutation(1000)[:n].astype(np.int64)
    V = rng.random((n, 6))
    V[9] = V[3]  # exact duplicates, within and across Arrow batches
    V[40] = V[3]
    V[30] = V[31] = V[50]
    Q = rng.random((nq, 6))
    Q[2] = V[3]  # a query equal to three corpus rows
    qids = np.arange(100, 100 + nq, dtype=np.int64)
    lists = grid.InvertedLists(V[[0, 17, 33, 45]], nprobe=2)
    cluster = lists.probes(V)[:, 0]  # each row's nearest centroid
    probes = lists.probes(Q)
    members = {int(c): np.nonzero((probes == c).any(axis=1))[0] for c in np.unique(probes)}
    # Arrow batches in no particular order; the duplicates of V[3] lead
    # the first batch in DESCENDING id order, so a cut through their
    # tie is by id only if the cell is id-sorted
    dups = sorted((3, 9, 40), key=lambda r: -ids[r])
    order = np.array(dups + [r for r in rng.permutation(n) if r not in dups])
    frames = [
        pd.DataFrame({"id": ids[b], "vector": list(V[b]), "__cluster": cluster[b]})
        for b in np.array_split(order, 3)
    ]

    def run(kk, with_lists, target_rows):
        cells = []

        def kernel(cids, X, cq, Qb, key):
            cells.append(len(cids))
            yield grid.dense_cell_topk(cq, cids, X, Qb, mm, kk or len(cids))

        bq = SimpleNamespace(value=(qids, Q, members if with_lists else None))
        batches = [f[np.isin(f["__cluster"], list(members))] if with_lists else f for f in frames]
        shapes.clear()
        out = pd.concat(
            list(grid._probe_scan(kernel, "vector", target_rows, bq, iter(batches)))
        )
        assert shapes and all(r <= 4 and c <= 5 for r, c in shapes)
        assert max(cells) <= max(target_rows, max(len(f) for f in batches))
        assert not out.duplicated(["query_id", "id"]).any()
        return out

    for with_lists, target_rows in itertools.product((False, True), (1, 20, 10**6)):
        for qi in range(nq):
            rows = (
                np.nonzero(np.isin(cluster, probes[qi]))[0] if with_lists else np.arange(n)
            )
            d = _np_pairwise(mm, np.repeat(Q[qi : qi + 1], len(rows), axis=0), V[rows])
            truth = sorted(zip(d.tolist(), ids[rows].tolist()))
            for kk, want in ((k, truth[:k]), (2, truth[:2]), (None, truth)):
                out = run(kk, with_lists, target_rows)
                mine = out[out["query_id"] == qids[qi]]
                got = sorted(zip(mine["distance"].tolist(), mine["id"].tolist()))
                assert got[: len(want)] == want, (with_lists, target_rows, kk, qi)
                if kk is None:
                    assert len(got) == len(truth)
    # the duplicate rows tie at the query's own vector
    top = sorted(zip(*(_np_pairwise(mm, np.repeat(Q[2:3], n, axis=0), V), ids)))[:3]
    assert {int(i) for _, i in top} == {int(ids[3]), int(ids[9]), int(ids[40])}


def test_pq_codec_matches_brute_force():
    """The one product-quantizer codec (pq, ivfpq, ivfpqr): codebooks
    are per-subspace seeded Lloyd runs (subspace j seeded seed + j),
    codes are each subspace's brute-force nearest codeword, and the
    L2 ADC tables sum to the exact squared distance to the decoded
    vector."""
    import numpy as np

    from vicinity_spark.backends.pq import (
        _kmeans_np,
        decode,
        encode,
        l2_tables,
        train_codebooks,
    )

    rng = np.random.default_rng(5)
    m, dsub, ksub = 3, 4, 16
    X = rng.standard_normal((200, m * dsub))
    books_l = train_codebooks(X, m, ksub, seed=7)
    books = np.asarray(books_l)
    assert books.shape == (m, ksub, dsub)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        assert np.array_equal(books[j], _kmeans_np(sub, ksub, 7 + j))
    # books trained on fewer rows than ksub are cut to a common size
    assert np.asarray(train_codebooks(X[:10], m, ksub, seed=7)).shape == (m, 10, dsub)

    codes = encode(X, books)
    assert codes.dtype == np.int16 and codes.shape == (200, m)
    for i in range(len(X)):
        for j in range(m):
            x = X[i, j * dsub : (j + 1) * dsub]
            d = [float(((x - c) ** 2).sum()) for c in books[j]]
            assert codes[i, j] == int(np.argmin(d))

    recon = decode(codes, books)
    assert recon.shape == X.shape
    for j in range(m):
        assert np.array_equal(recon[:, j * dsub : (j + 1) * dsub], books[j][codes[:, j]])

    Q = rng.standard_normal((9, m * dsub))
    T = l2_tables(Q, books)
    assert T.shape == (9, m, ksub)
    adc = T[:, np.arange(m), codes].sum(axis=2)  # 9 × 200
    exact = ((Q[:, None, :] - recon[None, :, :]) ** 2).sum(axis=2)
    assert np.allclose(adc, exact, rtol=0.0, atol=1e-9)
