"""Facade tests mirroring the reference suite's shape
(/root/reference/tests/test_vicinity.py): invariants, determinism,
metamorphic insert/delete, roundtrip save/load, error paths, evaluate.
Backend matrix: exact / lsh / ivf (SURVEY.md §5).
"""

import numpy as np
import pytest

from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.store import VectorStore

N = 200
DIM = 8

BACKENDS = ["basic", "lsh", "ivf", "sq", "pq", "ivfpq", "ivfpqr", "ivfsq", "graph"]


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(42)
    vectors = rng.random((N, DIM))
    items = [
        f"item{i}" if i % 2 == 0 else {"name": f"item{i}", "id": i}
        for i in range(1, N + 1)
    ]
    qvec = rng.random(DIM)
    return vectors, items, qvec


def make_store(spark, data, backend, **kw):
    vectors, items, _ = data
    params = {}
    if backend == "ivf":
        params = {"nlist": 8, "nprobe": 8}  # nprobe=nlist → exhaustive
    if backend == "lsh":
        params = {"n_tables": 12, "n_bits": 6}
    if backend == "sq":
        params = {"refine": 4}
    if backend == "pq":
        params = {"m": 4, "ksub": 32, "refine": 8}  # dim 8 → 4 subspaces
    if backend == "ivfpq":
        params = {"m": 4, "ksub": 32, "refine": 8, "nlist": 8, "nprobe": 8}
    if backend == "ivfpqr":
        # refinement-code re-rank through the facade (rbooks round-trip)
        params = {"m": 4, "ksub": 32, "refine": 12, "nlist": 8, "nprobe": 8, "refine_m": 4}
    if backend == "ivfsq":
        params = {"refine": 8, "nlist": 8, "nprobe": 8}
    if backend == "graph":
        params = {"k_build": 12, "iters": 2, "beam": 48, "expansions": 3}
    params.update(kw)
    return VectorStore.from_vectors_and_items(
        spark, vectors, items, backend_type=backend, metric="cosine", **params
    )


@pytest.fixture(scope="module", params=BACKENDS)
def store(request, spark, data):
    return make_store(spark, data, request.param)


def test_init_invariants(store, data):
    assert len(store) == N
    assert store.dim == DIM
    assert store.metric == Metric.COSINE


def test_query_shape_and_order(store, data):
    _, _, qvec = data
    res = store.query(qvec, k=5)
    assert len(res) == 1
    assert 0 < len(res[0]) <= 5
    dists = [d for _, d in res[0]]
    assert dists == sorted(dists)
    assert all(d >= 0 for d in dists)


def test_query_duplicate_rows_identical(store, data):
    _, _, qvec = data
    res = store.query(np.stack([qvec, qvec]), k=5)
    assert res[0] == res[1]  # determinism, test_vicinity.py:58-64


def test_query_threshold(store, data):
    _, _, qvec = data
    res = store.query_threshold(qvec, threshold=0.7)
    assert len(res) == 1
    assert all(d <= 0.7 for _, d in res[0])


def test_query_threshold_max_k(store, data):
    """ANN strategies searching a top-max_k pool cap radius hits at
    max_k; the exact, IVF and LSH range searches ignore it."""
    from vicinity_spark.backends.exact import ExactStrategy
    from vicinity_spark.backends.ivf import IVFStrategy
    from vicinity_spark.backends.lsh import LSHStrategy

    vectors, _, qvec = data
    q = np.stack([qvec, vectors[0]])
    # every cosine distance is <= 2.0, so only a cap can bound the hits
    res = store.query_threshold(q, threshold=2.0, max_k=3)
    assert len(res) == 2
    if isinstance(store.strategy, (ExactStrategy, IVFStrategy, LSHStrategy)):
        uncapped = store.query_threshold(q, threshold=2.0, max_k=N)
        assert [sorted(map(str, r)) for r in res] == [sorted(map(str, r)) for r in uncapped]
        assert all(len(r) > 3 for r in res)
    else:
        assert all(0 < len(r) <= 3 for r in res)


def test_query_rejects_k_below_one(store, data):
    with pytest.raises(ValueError, match="k must be greater than 0"):
        store.query(data[2], k=0)


@pytest.mark.parametrize("backend", BACKENDS)
def test_insert_then_query_finds_item(spark, data, backend):
    vectors, items, qvec = data
    store = make_store(spark, data, backend)
    store.insert([f"item{N + 1}"], qvec)
    assert len(store) == N + 1
    res = store.query(qvec, k=5)
    names = [it for it, _ in res[0]]
    assert f"item{N + 1}" in names  # test_vicinity.py:83-101
    if backend == "ivfpqr":
        # code-based re-rank reports reconstruction distances (the
        # FAISS IVFPQR convention): self-distance is quantization
        # error, small but nonzero
        assert res[0][0][1] == pytest.approx(0.0, abs=1e-2)
    else:
        assert res[0][0][1] == pytest.approx(0.0, abs=1e-6)


def test_insert_validation(spark, data):
    store = make_store(spark, data, "basic")
    with pytest.raises(ValueError):
        store.insert(["a", "b"], np.random.default_rng(0).random((1, DIM)))
    with pytest.raises(ValueError):
        store.insert(["a"], np.random.default_rng(0).random((1, 3)))


@pytest.mark.parametrize("backend", BACKENDS)
def test_delete(spark, data, backend):
    vectors, items, _ = data
    # the reference supports delete only on BASIC (SURVEY §2.3); the
    # anti-join formulation works uniformly across every strategy here
    store = make_store(spark, data, backend)
    store.delete(["item2"])
    assert len(store) == N - 1
    res = store.query(vectors[1], k=3)  # item2's own vector
    assert "item2" not in [it for it, _ in res[0]]  # test_vicinity.py:104-131


def test_delete_nonexistent_raises(spark, data):
    store = make_store(spark, data, "basic")
    with pytest.raises(ValueError):
        store.delete([f"item{N + 2}"])  # test_vicinity.py:215-226


def test_delete_struct_item(spark, data):
    store = make_store(spark, data, "basic")
    store.delete([{"name": "item1", "id": 1}])
    assert len(store) == N - 1


def test_get_vector_by_index(spark, data):
    vectors, _, _ = data
    store = make_store(spark, data, "basic")
    got = store.get_vector_by_index([0, 1, 10])
    np.testing.assert_allclose(got, vectors[[0, 1, 10]], rtol=1e-6)
    with pytest.raises(ValueError):
        store.get_vector_by_index([N])
    with pytest.raises(ValueError):
        store.get_vector_by_index([-1])  # test_vicinity.py:181-199


def test_non_serializable_item_raises(spark, data):
    vectors, _, _ = data

    class Unserializable:
        pass

    with pytest.raises(ValueError):
        VectorStore.from_vectors_and_items(
            spark, vectors[:2], [Unserializable(), "x"], backend_type="basic"
        )  # ingest-time analog of test_vicinity.py:166-178


def test_save_load_roundtrip(spark, data, tmp_path):
    _, _, qvec = data
    store = make_store(spark, data, "basic")
    path = str(tmp_path / "store")
    store.save(path)
    with pytest.raises(ValueError):
        store.save(path)  # exists, no overwrite
    store.save(path, overwrite=True)
    loaded = VectorStore.load(path, spark)
    assert len(loaded) == N
    assert loaded.metric == Metric.COSINE
    assert loaded.dim == DIM
    assert loaded.query(qvec, k=3) == store.query(qvec, k=3)


@pytest.mark.parametrize("backend", BACKENDS)
def test_save_load_roundtrip_all_backends(spark, data, tmp_path, backend):
    _, _, qvec = data
    store = make_store(spark, data, backend)
    path = str(tmp_path / f"store_{backend}")
    store.save(path)
    loaded = VectorStore.load(path, spark)
    assert loaded.query(qvec, k=3) == store.query(qvec, k=3)


def test_evaluate_exact_recall_one(spark, data):
    vectors, _, _ = data
    store = make_store(spark, data, "basic")
    qps, recall = store.evaluate(vectors[:10], k=10)
    assert qps > 0
    assert recall == pytest.approx(1.0)  # exact path IS the ground truth


@pytest.mark.parametrize("backend", ["lsh", "ivf", "sq", "pq", "ivfpq", "ivfpqr", "ivfsq", "graph"])
def test_evaluate_ann_recall_floor(spark, data, backend):
    vectors, _, _ = data
    store = make_store(spark, data, backend)
    qps, recall = store.evaluate(vectors[:10], k=10)
    assert qps > 0
    assert 0.0 <= recall <= 1.0
    # declared recall floors (BASELINE.md engine-internal acceptance)
    assert recall >= 0.8, f"{backend} recall {recall} below floor"


def test_evaluate_caches_nothing(spark, data):
    """`evaluate` leaves the session's cached RDDs as it found them
    (its query batch is a LocalRelation and is not cached), and its
    recall is the fraction of returned distances within ε of each
    query's exact k-th distance, recomputed here in numpy."""
    vectors, _, _ = data
    store = make_store(spark, data, "ivf", nprobe=2)
    Q = vectors[:12] + 0.05

    def cached():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = cached()
    _, recall = store.evaluate(Q, k=5)
    assert cached() == before
    X = vectors.astype(np.float32).astype(np.float64)
    Qf = Q.astype(np.float32).astype(np.float64)
    D = 1.0 - (Qf / np.linalg.norm(Qf, axis=1)[:, None]) @ (X / np.linalg.norm(X, axis=1)[:, None]).T
    kth = np.sort(D, axis=1)[:, 4]
    hits = [
        sum(d <= kth[qi] + 1e-3 for _, d in res) / 5 for qi, res in enumerate(store.query(Q, k=5))
    ]
    assert recall == pytest.approx(float(np.mean(hits)))
    assert recall < 1.0  # nprobe=2 of 8 lists misses some neighbours


def test_evaluate_rejects_manhattan(spark, data):
    vectors, items, _ = data
    store = VectorStore.from_vectors_and_items(
        spark, vectors, items, backend_type="basic", metric="manhattan"
    )
    with pytest.raises(ValueError):
        store.evaluate(vectors[:5])  # vicinity.py:350-360


def test_ivfsq_alias():
    # faiss's `ivf_scalar` index type maps onto the IVF-SQ composite
    assert Backend.from_string("ivf_scalar") == Backend.IVFSQ
    assert Backend.from_string("ivfsq") == Backend.IVFSQ


def test_graph_backend_aliases():
    assert Backend.from_string("hnsw") == Backend.GRAPH
    assert Backend.from_string("pynndescent") == Backend.GRAPH
    assert Backend.from_string("usearch") == Backend.GRAPH
    assert Backend.from_string("voyager") == Backend.GRAPH
    assert Backend.from_string("annoy") == Backend.LSH


def test_metric_aliases():
    assert Metric.from_string("cos") == Metric.COSINE
    assert Metric.from_string("dot") == Metric.COSINE
    assert Metric.from_string("l2") == Metric.EUCLIDEAN
    assert Metric.from_string("l1") == Metric.MANHATTAN
    assert Metric.from_string("ip") == Metric.INNER_PRODUCT
    assert Metric.from_string("l2_squared") == Metric.L2_SQUARED
    with pytest.raises(ValueError):
        Metric.from_string("nope")
    with pytest.raises(ValueError):
        Backend.from_string("nope")


def test_hub_stubs_gated(spark, data):
    from vicinity_spark.sources.hub import OptionalDependencyError, load_from_hub, push_to_hub

    store = make_store(spark, data, "basic")
    try:
        import huggingface_hub  # noqa: F401

        pytest.skip("huggingface_hub installed; stub gating not applicable")
    except ImportError:
        pass
    with pytest.raises(OptionalDependencyError):
        push_to_hub(store, "nobody/nothing")
    with pytest.raises(OptionalDependencyError):
        load_from_hub("nobody/nothing", spark)


def test_ivf_save_partitions_inverted_lists(spark, data, tmp_path):
    """IVF/IVFPQ stores persist partitionBy(__cluster): inverted lists
    are parquet partition dirs, and reload + cluster filter prunes at
    the FILE level (PartitionFilters), not just rows."""
    import os

    from pyspark.sql import functions as F

    store = make_store(spark, data, "ivf")
    path = str(tmp_path / "ivf_part")
    store.save(path)
    subdirs = [
        d for d in os.listdir(os.path.join(path, "store.parquet")) if d.startswith("__cluster=")
    ]
    assert len(subdirs) >= 2, subdirs
    loaded = VectorStore.load(path, spark)
    pruned = loaded.df.where(F.col("__cluster") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cluster" in plan.split("PartitionFilters")[1][:200]
    # and query results are unchanged by the partitioned layout
    _, _, qvec = data
    assert loaded.query(qvec, k=3) == store.query(qvec, k=3)


@pytest.mark.parametrize("backend", ["ivf", "ivfsq", "ivfpq"])
def test_ivf_preset_numpy_centroids_save_load(spark, data, tmp_path, backend):
    """An IVF-family store built with preset `centroids=` as a numpy
    array saves (the params go to JSON as float lists) and reloads
    answering the same rows."""
    vectors, _, qvec = data
    store = make_store(
        spark, data, backend, centroids=np.asarray(vectors[:8], dtype=np.float32)
    )
    path = str(tmp_path / f"np_centroids_{backend}")
    store.save(path)
    loaded = VectorStore.load(path, spark)
    assert loaded.query(qvec, k=3) == store.query(qvec, k=3)


@pytest.mark.slow
def test_lsh_save_partitions_posting_lists(spark, data, tmp_path):
    """LSH stores persist an exploded posting-list layout partitioned
    by a bounded bucket-group key; reloaded probing joins it with
    dynamic partition pruning (whole __pg= dirs skipped), and results
    are unchanged. insert() bucket-assigns ONLY the new rows into a
    side postings branch (r10 — the r9 postings=None fallback
    re-exploded the full corpus per post-insert query), so the
    persisted layout keeps pruning and the inserted row is found."""
    import os

    from vicinity_spark.datatypes import Metric

    _, _, qvec = data
    store = make_store(spark, data, "lsh")
    path = str(tmp_path / "lsh_part")
    store.save(path)
    subdirs = [
        d for d in os.listdir(os.path.join(path, "postings.parquet")) if d.startswith("__pg=")
    ]
    assert len(subdirs) >= 2, subdirs
    loaded = VectorStore.load(path, spark)
    assert loaded.strategy._postings is not None
    assert loaded.query(qvec, k=3) == store.query(qvec, k=3)
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in qvec])], "query_id long, qvec array<float>"
    )
    cand = loaded.strategy._candidates(loaded.df, qdf, Metric.COSINE)
    cand.count()
    plan = cand._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2 and "dynamicpruning" in pf[1][:200], plan[:2000]
    # appended rows get their own postings branch: the persisted
    # layout stays live (and keeps its DPP subquery), the side branch
    # carries only the insert batch, and the new row is still found
    loaded.insert(["fresh"], qvec)
    assert loaded.strategy._postings is not None
    assert loaded.strategy._extra_postings is not None
    res = loaded.query(qvec, k=3)
    assert "fresh" in [it for it, _ in res[0]]
    cand2 = loaded.strategy._candidates(loaded.df, qdf, Metric.COSINE)
    plan2 = cand2._jdf.queryExecution().executedPlan().toString()
    pf2 = plan2.split("PartitionFilters", 1)
    assert len(pf2) == 2 and "dynamicpruning" in pf2[1][:200], plan2[:2000]
    # a second insert accumulates; both inserted rows stay findable
    loaded.insert(["fresh2"], qvec)
    res2 = loaded.query(qvec, k=4)
    items2 = [it for it, _ in res2[0]]
    assert "fresh" in items2 and "fresh2" in items2


def test_hub_card_and_config_artifacts(spark, data, tmp_path):
    """push_to_hub parity: the generated config.json + dataset card
    match the reference's shape (integrations/huggingface.py:82-101)
    without needing the hub client — artifacts are written locally."""
    import json
    import os

    from vicinity_spark.sources.hub import build_dataset_card, write_hub_artifacts

    store = make_store(spark, data, "basic")
    store.metadata["source"] = "unit-test"
    folder = str(tmp_path / "hubdir")
    os.makedirs(folder)
    write_hub_artifacts(store, folder, "someone/somestore")
    with open(os.path.join(folder, "config.json")) as f:
        config = json.load(f)
    assert config["backend_type"] == "basic"
    assert config["metric"] == "cosine"
    assert config["dim"] == DIM
    assert config["metadata"]["source"] == "unit-test"
    with open(os.path.join(folder, "README.md")) as f:
        card = f.read()
    assert card == build_dataset_card("someone/somestore", N, config)
    assert "someone/somestore" in card
    assert f"with {N} items" in card
    assert card.startswith("---\ntags:\n- vicinity-spark")
    assert '"backend_type": "basic"' in card


def test_push_to_hub_uploads_artifacts_with_mocked_client(spark, data, monkeypatch):
    """End-to-end push_to_hub flow against a mocked huggingface_hub
    module: create_repo + upload_folder are called, and the uploaded
    folder contains store parquet, meta sidecar, config.json, README."""
    import os
    import sys
    import types

    import vicinity_spark.sources.hub as hub_mod

    calls = {}

    class FakeApi:
        def __init__(self, token=None):
            calls["token"] = token

        def create_repo(self, repo_id, repo_type=None, private=False, exist_ok=False):
            calls["create"] = (repo_id, repo_type, private)

        def upload_folder(
            self, repo_id=None, repo_type=None, folder_path=None, delete_patterns=None
        ):
            calls["upload"] = repo_id
            calls["files"] = sorted(os.listdir(folder_path))
            calls["delete_patterns"] = delete_patterns

    fake = types.SimpleNamespace(HfApi=FakeApi)
    monkeypatch.setitem(sys.modules, "huggingface_hub", fake)
    store = make_store(spark, data, "basic")
    url = hub_mod.push_to_hub(store, "acct/repo", private=True)
    assert url == "https://huggingface.co/datasets/acct/repo"
    assert calls["create"] == ("acct/repo", "dataset", True)
    assert calls["upload"] == "acct/repo"
    assert "config.json" in calls["files"] and "README.md" in calls["files"]
    assert "_vicinity_meta.json" in calls["files"] and "store.parquet" in calls["files"]
    assert calls["delete_patterns"] == ["*"]  # re-push replaces stale shards


@pytest.mark.parametrize("backend", ["basic", "ivf", "lsh"])
def test_hub_roundtrip_local_client(spark, data, tmp_path, backend):
    """r9 (VERDICT item 8): full push → load roundtrip through the
    filesystem-backed LocalHubClient — no network, no huggingface_hub
    install. The downloaded repo is a complete store (parquet +
    sidecar + strategy extras like IVF partition dirs / LSH postings)
    plus the config.json/README the reference generates; the loaded
    store answers queries identically to the original."""
    import json
    import os

    from vicinity_spark.sources.hub import LocalHubClient, load_from_hub

    _, _, qvec = data
    client = LocalHubClient(str(tmp_path / "hub"))
    store = make_store(spark, data, backend)
    store.metadata["source"] = "roundtrip-test"
    url = store.push_to_hub(f"acct/{backend}-store", client=client)
    assert url == f"https://huggingface.co/datasets/acct/{backend}-store"

    repo = client.snapshot_download(f"acct/{backend}-store")
    with open(os.path.join(repo, "config.json")) as f:
        config = json.load(f)
    assert config["backend_type"] == backend
    assert config["metadata"]["source"] == "roundtrip-test"
    assert os.path.exists(os.path.join(repo, "README.md"))

    loaded = load_from_hub(f"acct/{backend}-store", spark, client=client)
    assert len(loaded) == len(store) and loaded.dim == store.dim
    assert loaded.metric == store.metric
    assert loaded.metadata["source"] == "roundtrip-test"
    assert loaded.query(qvec, k=3) == store.query(qvec, k=3)
    # classmethod facade + double-push idempotence (exist_ok)
    store.push_to_hub(f"acct/{backend}-store", client=client)
    again = VectorStore.load_from_hub(f"acct/{backend}-store", spark, client=client)
    assert again.query(qvec, k=3) == store.query(qvec, k=3)
    # client error paths
    with pytest.raises(FileNotFoundError):
        client.snapshot_download("acct/missing")
    with pytest.raises(ValueError):
        client.snapshot_download("../escape")


@pytest.mark.parametrize("backend", ["basic", "ivf", "lsh"])
def test_query_filtered_search(spark, data, backend):
    """`where` restricts the search space before candidate generation:
    results only contain matching rows, and equal brute force over the
    subset. String and Column predicates both work."""
    from pyspark.sql import functions as F

    vectors, items, qvec = data
    store = make_store(spark, data, backend)
    # items with even id (ids are 0-based ingest order)
    res = store.query(qvec, k=5, where="id % 2 = 0")
    assert len(res[0]) == 5
    full = store.query(qvec, k=5)
    assert res[0] != full[0] or all(
        True for _ in ()
    )  # filtered result may differ from unfiltered
    got_ids = {
        r["id"]
        for r in store.query_df(
            spark.createDataFrame(
                [(0, [float(x) for x in qvec])], "query_id long, qvec array<float>"
            ),
            k=5,
            where=F.col("id") % 2 == 0,
        ).collect()
    }
    assert all(i % 2 == 0 for i in got_ids), got_ids
    if backend == "basic":
        # exact path: equals brute force over the filtered subset
        sub = make_store(spark, data, backend)
        sub.df = sub.df.where(F.col("id") % 2 == 0)
        sub._count = None
        import json

        expect = {json.dumps(it, sort_keys=True) for it, _ in sub.query(qvec, k=5)[0]}
        got = {json.dumps(it, sort_keys=True) for it, _ in res[0]}
        assert got == expect


@pytest.mark.slow
def test_graph_save_reload_answers_without_rebuild(spark, data, tmp_path, monkeypatch):
    """The graph layout (`__nbrs` adjacency column) round-trips through
    plain parquet; a reloaded store must answer queries from the
    persisted adjacency alone — no NN-descent rebuild (r3 VERDICT item
    7). Poison build() after reload to prove it is never re-entered."""
    from vicinity_spark.backends.graph import NBRS_COL, GraphStrategy

    _, _, qvec = data
    store = make_store(spark, data, "hnsw")
    want = store.query(qvec, k=5)
    path = str(tmp_path / "graph_store")
    store.save(path)

    loaded = VectorStore.load(path, spark)
    assert NBRS_COL in loaded.df.columns

    def boom(*a, **k):
        raise AssertionError("reloaded graph store re-ran NN-descent build")

    monkeypatch.setattr(GraphStrategy, "build", boom)
    assert loaded.query(qvec, k=5) == want
    # and the ann_graph_knn-shaped DataFrame path too
    got = sorted(
        loaded.query_df(
            spark.createDataFrame(
                [(0, [float(x) for x in qvec])], "query_id long, qvec array<float>"
            ),
            k=5,
        ).collect(),
        key=lambda r: r["rank"],
    )
    assert [float(r["distance"]) for r in got] == pytest.approx(
        [d for _, d in want[0]]
    )


def test_threshold_df_filtered(spark):
    """r6: threshold_df(where=) — filtered radius search, symmetric
    with query_df's filtered k-NN: the predicate restricts the corpus
    BEFORE candidate generation, so results equal a brute-force radius
    over the subset."""
    import numpy as np
    from pyspark.sql import functions as F

    from vicinity_spark.store import VectorStore

    rng = np.random.default_rng(8)
    X = rng.random((60, 8)).astype(np.float32)
    store = VectorStore.from_vectors_and_items(
        spark, X, [{"i": i, "even": i % 2 == 0} for i in range(60)]
    )
    q = spark.createDataFrame(
        [(0, [float(x) for x in X[4]])], "query_id long, qvec array<float>"
    )
    full = {r["id"] for r in store.threshold_df(q, 0.25).collect()}
    evens = {
        r["id"]
        for r in store.threshold_df(q, 0.25, where="id % 2 = 0").collect()
    }
    assert evens == {i for i in full if i % 2 == 0}
    assert 4 in evens  # the self row survives the filter
    odd_q = store.threshold_df(q, 0.25, where=F.col("id") % 2 == 1).collect()
    assert {r["id"] for r in odd_q} == {i for i in full if i % 2 == 1}


def test_store_insert_lineage_bounded(spark, data):
    """r11 (the store-level twin of the LSH branch lifecycle): every
    insert() extends the plan by one lazy unionByName, so an
    insert-heavy session's plan depth — and every query's re-analysis
    cost — grew linearly until a save. Only the accumulated insert
    DELTA is checkpointed every _INSERT_CHECKPOINT_EVERY batches —
    never the base corpus (materializing the full corpus every 8
    row-level inserts would be the wrong trade at any real size);
    results unchanged."""
    import numpy as np

    from vicinity_spark.store import _INSERT_CHECKPOINT_EVERY

    _, _, qvec = data
    store = make_store(spark, data, "basic")
    base_ref = store._base_df
    rng = np.random.default_rng(11)
    n_inserts = 2 * _INSERT_CHECKPOINT_EVERY + 3
    for i in range(n_inserts):
        v = qvec if i == 0 else rng.random(DIM)
        store.insert([f"ins{i}"], v)
    # the base frame is untouched by the lifecycle — only the delta
    # was materialized
    assert store._base_df is base_ref
    plan = store.df._jdf.queryExecution().optimizedPlan().toString()
    # only the post-checkpoint tail unions remain (3 batches since the
    # last truncation + the base∪delta seam), never the full history
    assert plan.count("Union") < _INSERT_CHECKPOINT_EVERY, plan[:2000]
    # the pending delta is one partition, so each query scans the base
    # partitions plus one, however many batches are pending
    assert store._insert_delta.rdd.getNumPartitions() == 1
    assert len(store) == N + n_inserts
    res = store.query(qvec, k=3)
    assert "ins0" in [it for it, _ in res[0]]
    # every inserted row present, ids contiguous past the original N
    got = {r["item_json"] for r in store.df.select("item_json").collect()}
    assert all(f'"ins{i}"' in got for i in range(n_inserts))


@pytest.mark.slow
def test_lsh_insert_branch_lifecycle_and_resave(spark, data, tmp_path):
    """r11 (VERDICT item 4 + r10 ADVICE): many small inserts between
    saves must keep the side-postings plan BOUNDED (every
    _EXTRA_CHECKPOINT_EVERY batches the accumulated union is
    localCheckpointed — before this, plan depth and per-query
    re-bucketize work grew linearly with insert count), with every
    inserted row still findable; and save(same folder, overwrite=True)
    after inserts must refresh the live postings to the just-written
    layout (the stale file index over deleted part files was a
    FileNotFoundException) and clear the side branch."""
    import numpy as np

    from vicinity_spark.backends.lsh import _EXTRA_CHECKPOINT_EVERY

    _, _, qvec = data
    store = make_store(spark, data, "lsh")
    path = str(tmp_path / "lsh_lifecycle")
    store.save(path)
    loaded = VectorStore.load(path, spark)

    rng = np.random.default_rng(7)
    n_inserts = 2 * _EXTRA_CHECKPOINT_EVERY + 3
    for i in range(n_inserts):
        v = qvec if i == 0 else rng.random(DIM)
        loaded.insert([f"ins{i}"], v)
    extra = loaded.strategy._extra_postings
    assert extra is not None
    # bounded plan: only the post-checkpoint tail unions remain (3
    # batches since the last truncation), never the full insert history
    plan = extra._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Union") < _EXTRA_CHECKPOINT_EVERY, plan[:2000]
    assert len(loaded) == N + n_inserts
    res = loaded.query(qvec, k=3)
    assert "ins0" in [it for it, _ in res[0]]  # inserted rows findable

    # re-save over the SAME folder: live postings must point at the
    # fresh layout (not a stale index over deleted files) and the side
    # branch must be cleared — then the query still finds everything
    loaded.save(path, overwrite=True)
    assert loaded.strategy._extra_postings is None
    assert loaded.strategy._extra_batches == 0
    assert loaded.strategy._postings is not None
    res2 = loaded.query(qvec, k=3)
    assert "ins0" in [it for it, _ in res2[0]]
    reloaded = VectorStore.load(path, spark)
    assert len(reloaded) == N + n_inserts
    assert reloaded.query(qvec, k=3) == res2


def test_scan_reads_path_uri_safe(spark, tmp_path):
    """r13 (r12 ADVICE): the save-over-own-source predicate resolves
    both sides through the Hadoop FileSystem, so scheme-qualified
    spellings of the same local folder match and unrelated or
    prefix-sharing siblings never do (the old os.path.abspath
    substring check mangled scheme URIs and matched substrings)."""
    from vicinity_spark.session import scan_reads_path

    p = str(tmp_path / "src")
    spark.range(5).write.parquet(p)
    df = spark.read.parquet(p)
    assert scan_reads_path(df, p)
    assert scan_reads_path(df, "file:" + p)  # scheme-qualified spelling
    assert scan_reads_path(df, p + "/")  # trailing-slash spelling
    assert not scan_reads_path(df, str(tmp_path / "other"))
    # sibling sharing a name prefix: containment, not substring
    assert not scan_reads_path(df, p[: -1])
    assert not scan_reads_path(spark.range(3), p)  # no file scan at all


def test_local_frames_match_list_built_frames(spark):
    """The query, build and insert batches are built from numpy
    columns through Arrow. They must collect to the same ids,
    item_json strings and float32 vector bits as the Python-list
    frames they replace, for float64 input and nested/unicode items."""
    from vicinity_spark.store import _INGEST_SCHEMA, _QUERY_SCHEMA, _dump_item

    rng = np.random.default_rng(23)
    V = rng.normal(size=(12, 5)) * 10.0 ** rng.integers(-30, 30, size=(12, 1))
    items = [
        {"ключ": ["ü", {"deep": [i, None, 1.5]}], "emoji": "🦀" * (i % 3)} if i % 2 else f"naïve-{i}"
        for i in range(12)
    ]

    def bits(v):
        return np.asarray(v, dtype=np.float32).view(np.uint32).tolist()

    def rows(df, cols):
        out = sorted(tuple(r[c] for c in cols) for r in df.collect())
        return [tuple(bits(v) if isinstance(v, list) else v for v in r) for r in out]

    def listed(start, items_, V_):
        return spark.createDataFrame(
            [(start + i, _dump_item(it), [float(x) for x in V_[i]]) for i, it in enumerate(items_)],
            _INGEST_SCHEMA,
        )

    cols = ["id", "item_json", "vector"]
    store = VectorStore.from_vectors_and_items(spark, V[:8], items[:8], backend_type="basic")
    assert rows(store.df, cols) == rows(listed(0, items[:8], V[:8]), cols)
    store.insert(items[8:], V[8:])
    assert rows(store.df, cols) == rows(listed(0, items, V), cols)

    qdf, n = store._queries_df(V[:4])
    old = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(4)], _QUERY_SCHEMA
    )
    assert n == 4 and rows(qdf, ["query_id", "qvec"]) == rows(old, ["query_id", "qvec"])


def test_delete_counts_every_duplicate(spark, data):
    vectors, _, _ = data
    store = VectorStore.from_vectors_and_items(
        spark, vectors[:6], ["a", "b", "a", {"k": 1}, "a", "c"], backend_type="basic"
    )
    store.delete(["a", {"k": 1}])
    assert len(store) == 2
    assert sorted(r["item_json"] for r in store.df.collect()) == ['"b"', '"c"']
    with pytest.raises(ValueError, match=r"Tokens \['zz'\] were not in the store."):
        store.delete(["b", "zz"])
    assert len(store) == 2


_SCAN_STORES = {
    "basic": ("basic", {}),
    "ivf": ("ivf", {"nlist": 6, "nprobe": 2}),
    "ivfsq": ("ivfsq", {"nlist": 6, "nprobe": 2, "refine": 4}),
    "ivfpq": ("ivfpq", {"nlist": 6, "nprobe": 2, "m": 4, "ksub": 16, "refine": 4}),
    "ivfpq_flat": (
        "ivfpq",
        {"nlist": 6, "nprobe": 2, "m": 4, "ksub": 16, "refine": 4, "residual": False},
    ),
    "ivfpqr": (
        "ivfpq",
        {"nlist": 6, "nprobe": 2, "m": 4, "ksub": 16, "refine": 4, "refine_m": 4},
    ),
    "sq": ("sq", {"refine": 4}),
    "pq": ("pq", {"m": 4, "ksub": 16, "refine": 4}),
}


@pytest.mark.parametrize("name", list(_SCAN_STORES))
def test_bounded_scan_equals_unbounded(spark, monkeypatch, name):
    """A bounded query batch (one broadcast-query scan of the corpus
    partitions) returns the same rows, to the float bit, as the same
    batch forced down the unbounded plans (row limit patched to -1).
    Arrow batches of 7 rows split every inverted list across batches.
    Covers planted duplicate vectors, an empty batch, a `where` that
    removes every probed list, and k past the probed rows. Range
    search included: both plans score cells with `dense_cell_within`
    (the exact store's too), so every case is bit-equal."""
    import vicinity_spark.operators.knn as knn_mod
    from vicinity_spark.session import local_frame

    backend, params = _SCAN_STORES[name]
    rng = np.random.default_rng(17)
    n, dim = 240, 8
    X = rng.standard_normal((n, dim))
    X[11] = X[200] = X[5]  # planted duplicates
    if "nlist" in params:  # preset lists: no KMeans fit
        params = dict(params, centroids=X[20:26] / np.linalg.norm(X[20:26], axis=1)[:, None])
    store = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(n)], backend_type=backend, metric="cosine", **params
    )
    store.df.cache()
    Qv = np.vstack([X[5], rng.standard_normal((6, dim))])
    qdf, _ = store._queries_df(Qv)
    empty = local_frame(
        spark,
        {"query_id": np.empty(0, np.int64), "qvec": []},
        "query_id long, qvec array<float>",
    )
    lists = store.strategy._lists(store.metric)
    if lists is None:
        gone = "id < 0"
    else:
        probed = ", ".join(str(int(c)) for c in np.unique(lists.probes(Qv)))
        gone = f"__cluster NOT IN ({probed})"
    calls = [
        ("knn", qdf, 5, None),
        ("knn", qdf, n + 10, None),
        ("knn", qdf, 5, gone),
        ("knn", empty, 5, None),
        ("thr", qdf, 0.6, None),
        ("thr", qdf, 0.6, gone),
        ("thr", empty, 0.6, None),
    ]

    def run():
        out = []
        for what, q, arg, where in calls:
            df = (
                store.query_df(q, k=arg, where=where)
                if what == "knn"
                else store.threshold_df(q, arg, where=where)
            )
            out.append(sorted(tuple(r) for r in df.collect()))
        return out

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        bounded = run()
        monkeypatch.setattr(knn_mod, "AUTO_GRID_QUERY_ROWS", -1)
        unbounded = run()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        store.df.unpersist()
    for (what, q, arg, where), b, u in zip(calls, bounded, unbounded):
        case = (what, arg, where, q is empty)
        assert b == u, case
        assert bool(b) == (q is qdf and where is None), case
    # the query equal to the planted duplicates ranks them first, tied
    top = sorted((r[3], r[1]) for r in bounded[0] if r[0] == 0)[:3]
    assert top == [(1, 5), (2, 11), (3, 200)]


@pytest.mark.parametrize("backend", ["basic", "ivf"])
def test_from_dataframe_items_without_item_json(spark, backend):
    """A `from_dataframe` store has no item_json column: query and
    query_threshold return a dict of the row's payload columns as its
    item, and an inserted row (which has an item_json) its decoded
    item. The ivf store is queried after one insert. `delete` takes
    the items query returns, before and after an insert."""
    rng = np.random.default_rng(21)
    X = rng.standard_normal((50, 4))
    df = spark.createDataFrame(
        [(i, f"t{i}", [float(x) for x in X[i]]) for i in range(50)],
        "id long, text string, vector array<float>",
    )
    params = {"nlist": 4, "nprobe": 4, "centroids": X[:4]} if backend == "ivf" else {}
    store = VectorStore.from_dataframe(df, backend_type=backend, metric="euclidean", **params)
    gone = store.query(X[3], k=1)[0][0][0]
    assert gone == {"text": "t3"}
    store.delete([gone])
    assert len(store) == 49
    with pytest.raises(ValueError, match="were not in the store"):
        store.delete([gone])
    want = [({"text": "t7"}, 0.0)]
    if backend == "ivf":
        store.insert([{"new": 1}], X[7] + 1e-3)
        want.append(({"new": 1}, pytest.approx(2e-3, abs=1e-5)))
    assert store.query(X[7], k=len(want)) == [want]
    got = store.query_threshold(X[7], threshold=0.01)
    assert sorted(got[0], key=lambda h: h[1]) == want
    store.insert([{"new": 2}], X[9])
    hit = [item for item, _ in store.query(X[9], k=2)[0]]
    assert sorted(map(str, hit)) == ["{'new': 2}", "{'text': 't9'}"]
    store.delete(hit)
    assert len(store) == (50 if backend == "ivf" else 49) - 1
    assert not {str(item) for item, _ in store.query(X[9], k=3)[0]} & set(map(str, hit))


def _frame_answer(store, V, k=None, threshold=None, max_k=100, where=None):
    """The DataFrame plans' answer to a facade call: ``query_df`` (or
    the strategy's ``threshold`` plan) collected and nested."""
    qdf, n = store._queries_df(V)
    if threshold is None:
        rows = [r.asDict() for r in store.query_df(qdf, k=k, where=where).collect()]
        rows.sort(key=lambda r: (r["query_id"], r["rank"]))
    else:
        rows = [
            r.asDict()
            for r in store.strategy.threshold(
                store.df, qdf, threshold=threshold, metric=store.metric,
                payload_cols=store.payload_cols, max_k=max_k,
            ).collect()
        ]
    return store._nested(rows, n)


def _unordered(res):
    """Threshold hits per query in a fixed order (they are unsorted)."""
    return [sorted(hits, key=lambda h: (h[1], str(h[0]))) for hits in res]


_FACADE_STORES = {
    **{k: v for k, v in _SCAN_STORES.items() if k != "ivfpq_flat"},
    "lsh": ("lsh", {"n_tables": 6, "n_bits": 4}),
    "graph": ("graph", {"k_build": 12, "iters": 2, "beam": 48, "expansions": 3}),
}


@pytest.mark.parametrize("name", list(_FACADE_STORES))
def test_facade_equals_dataframe_path(spark, monkeypatch, name):
    """`query` and `query_threshold` (one job on the cell-scan
    strategies, the DataFrame plan on lsh and graph) return exactly
    what the DataFrame plans return, to the float bit. Four duplicate
    vectors sit in three of the four ingest partitions, and the
    queries include them, so the (distance, id) cuts — per scan task
    and on the driver — decide exact ties; covered: k past the corpus
    size, a `where` filter, a `max_k` that caps the pool strategies'
    radius search, and an insert (lsh and graph, whose facade is the
    DataFrame plan, take the first two calls only). With the row
    bound patched to 0 the facade declines and the DataFrame plan runs
    (more than one job) with the same answer."""
    import vicinity_spark.backends.base as base_mod
    from test_plans import _count_jobs

    backend, params = _FACADE_STORES[name]
    rng = np.random.default_rng(23)
    n, dim = 240, 8
    X = rng.standard_normal((n, dim))
    X[11] = X[130] = X[200] = X[5]  # ingest slices of 60 rows: 3 partitions
    if "nlist" in params:
        params = dict(params, centroids=X[20:26] / np.linalg.norm(X[20:26], axis=1)[:, None])
    store = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(n)], backend_type=backend, metric="cosine", **params
    )
    cached = store.df.cache()
    Q = np.vstack([X[5], X[130], rng.standard_normal((4, dim))])
    cells = name not in ("lsh", "graph")  # their facade is the DataFrame plan
    calls = [dict(k=5), dict(threshold=0.6, max_k=2)]
    if cells:
        calls += [dict(threshold=0.6), dict(k=n + 10), dict(k=4, where="id % 3 != 0")]

    def facade(how):
        if "threshold" in how:
            return _unordered(store.query_threshold(Q, **how))
        return store.query(Q, **how)

    def frame(how):
        got = _frame_answer(store, Q, **how)
        return _unordered(got) if "threshold" in how else got

    try:
        for how in calls:
            assert facade(how) == frame(how), how
        if backend in ("basic", "ivf", "sq", "ivfsq"):  # exact or exact re-rank of every tie
            top = store.query(Q[:1], k=4)[0]
            assert [item for item, _ in top] == ["i5", "i11", "i130", "i200"]
        if cells:
            store.insert(["new"], X[5])
            assert facade(calls[0]) == frame(calls[0]), "after an insert"
            want = facade(calls[0])
            monkeypatch.setattr(base_mod, "SERVE_ROWS", 0)
            assert _count_jobs(spark, lambda: facade(calls[0])) > 1
            assert facade(calls[0]) == want
    finally:
        cached.unpersist()


_BIG = (1 << 60) + 1  # a long that float64 does not hold


@pytest.mark.parametrize("backend", ["basic", "sq"])
def test_facade_items_of_frame_store(spark, backend):
    """A `from_dataframe` store without item_json: the facade's scan
    carries its payload columns (a string, a long with nulls and values
    past 2**53, a boolean, a double with nulls and a NaN), and `query`
    / `query_threshold` return the same payload dicts, in the same
    order, as the DataFrame plans — also after an insert, whose rows
    carry an item_json and null payload columns. (Compared by repr, so
    that NaN equals NaN.)"""
    from vicinity_spark.session import local_frame

    rng = np.random.default_rng(29)
    n, dim = 120, 6
    X = rng.standard_normal((n, dim))
    X[7] = X[90] = X[3]
    df = local_frame(
        spark,
        {
            "id": np.arange(n, dtype=np.int64),
            "text": [f"t{i}" for i in range(n)],
            "n": [None if i % 4 == 0 else _BIG + i for i in range(n)],
            "flag": [i % 2 == 0 for i in range(n)],
            "score": [None if i % 5 == 0 else float("nan") if i == 7 else i / 3 for i in range(n)],
            "vector": list(X.astype(np.float32)),
        },
        "id long, text string, n long, flag boolean, score double, vector array<float>",
    )
    store = VectorStore.from_dataframe(df, backend_type=backend, metric="euclidean")
    Q = np.vstack([X[3], rng.standard_normal((3, dim))])
    got = store.query(Q, k=4)
    # the one-job path serves this store
    assert store._serve(store._query_matrix(Q), store.df, k=4) is not None
    assert repr(got) == repr(_frame_answer(store, Q, k=4))
    assert repr([item for item, _ in got[0][:3]]) == repr([
        {
            "text": f"t{i}",
            "n": None if i % 4 == 0 else _BIG + i,
            "flag": i % 2 == 0,
            "score": None if i % 5 == 0 else float("nan") if i == 7 else i / 3,
        }
        for i in (3, 7, 90)
    ])
    store.insert([{"new": 1}], X[3])
    assert repr(store.query(Q, k=4)) == repr(_frame_answer(store, Q, k=4))
    assert {"new": 1} in [item for item, _ in store.query(Q, k=4)[0]]
    t = _unordered(store.query_threshold(Q, threshold=1.5, max_k=3))
    assert repr(t) == repr(_unordered(_frame_answer(store, Q, threshold=1.5, max_k=3)))
