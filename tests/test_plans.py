"""Plan-shape assertions: the properties that make these operators
viable at 100 TB must hold in the physical plan, not just in intent."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vicinity_spark.plans import (
    assert_no_cartesian,
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema_cols,
)

SF_DIR = "/root/testdata/sf0.001"


def test_knn_window_broadcasts_queries(spark, corpus_df, queries_df):
    from vicinity_spark.operators.knn import knn_join

    df = knn_join(corpus_df, queries_df, k=5, metric="cosine", algorithm="window")
    assert has_broadcast_join(df)  # queries side must broadcast
    assert_no_cartesian(df)


def test_parquet_filter_pushdown_and_pruning(spark):
    from vicinity_spark.queries import _t

    li = _t(spark, SF_DIR, "lineitem").where(F.col("l_quantity") > 30).select("l_orderkey")
    filters = pushed_filters(li)
    assert any("l_quantity" in f for f in filters), filters
    cols = read_schema_cols(li)
    # projection pruning: only the two referenced columns are read
    assert cols and set(cols[0]) <= {"l_orderkey", "l_quantity"}, cols


def test_knn_query_scan_prunes_payload(spark):
    from vicinity_spark.queries import QUERIES

    from vicinity_spark.queries import _make_knn

    df = _make_knn("cosine")(spark, SF_DIR)
    for cols in read_schema_cols(df):
        assert "label" not in cols  # payload not referenced → never read


def test_q3_dimension_join_broadcasts(spark):
    from vicinity_spark.queries import QUERIES

    df = QUERIES["q3_top_revenue_orders"](spark, SF_DIR)
    s = explain_str(df, "simple")
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s
    # customer filter pushed to scan
    assert any("c_mktsegment" in f for f in pushed_filters(df))


def test_lsh_candidate_plan_is_equijoin(spark, corpus_df, queries_df):
    from vicinity_spark.backends.lsh import LSHStrategy
    from vicinity_spark.datatypes import Metric

    strat = LSHStrategy(n_tables=4, n_bits=6)
    corpus = strat.build(corpus_df, Metric.COSINE, 8)
    df = strat.knn(corpus, queries_df, k=5, metric=Metric.COSINE)
    s = explain_str(df, "simple")
    # candidate generation must be a hash equi-join on (table, bucket),
    # never a nested-loop scan of the corpus
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s or "SortMergeJoin" in s


def test_simhash_pairs_plan_is_blocking_equijoin(spark):
    from vicinity_spark.operators.dedup import simhash_fingerprints, simhash_pairs
    from vicinity_spark.queries import _t

    fp = simhash_fingerprints(_t(spark, SF_DIR, "documents"))
    df = simhash_pairs(fp, max_hamming=3)
    s = explain_str(df, "simple")
    # the Hamming-ball pair search must block on bit chunks (equi-join),
    # never enumerate all fingerprint pairs
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "BroadcastHashJoin" in s or "SortMergeJoin" in s or "ShuffledHashJoin" in s


def test_partial_topk_shuffle_is_bounded(spark, corpus_df, queries_df):
    from vicinity_spark.operators.knn import knn_join

    df = knn_join(corpus_df, queries_df, k=5, metric="cosine", algorithm="auto")
    s = explain_str(df, "simple")
    # the merge window consumes the mapInPandas output (q×k×partitions
    # rows), not the raw cross product: no join at all in this plan
    assert "MapInPandas" in s
    assert "CartesianProduct" not in s and "Join" not in s.replace("MapInPandas", "")


def test_connected_components_rounds_are_equijoins(spark):
    from vicinity_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(50)], "id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long")
    df = connected_components(ids, pairs, max_iters=3)
    s = explain_str(df, "simple")
    # label propagation must shuffle on keys, never enumerate pairs
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_train_split_is_narrow(spark):
    """hash_split adds a projection only: no shuffle (Exchange), no
    join, no RNG — the property that makes it retry-stable."""
    from vicinity_spark.operators.sampling import hash_split
    from vicinity_spark.queries import _t

    df = hash_split(_t(spark, SF_DIR, "documents"))
    s = explain_str(df, "simple")
    assert "Exchange" not in s
    assert "rand" not in s.lower()


def test_vocab_counts_prune_scan(spark):
    from vicinity_spark.queries import QUERIES

    df = QUERIES["vocab_top_tokens"](spark, SF_DIR)
    for cols in read_schema_cols(df):
        # only lang + text are referenced; doc payload columns pruned
        assert set(cols) <= {"lang", "text"}, cols


@pytest.mark.parametrize("backend", ["basic", "ivf", "pq", "ivfpq", "lsh"])
def test_serving_path_scans_no_python_rdd(spark, backend, monkeypatch):
    """The facade's query and insert batches are JVM LocalRelations:
    the query, threshold and post-insert query plans have no leaf that
    runs Python tasks just to produce its rows, and the query batch has
    a maxRows, so knn routing decides without a probe job. An insert
    batch stays a LocalRelation after its layout columns are added."""
    import numpy as np

    import vicinity_spark.operators.knn as knn_mod
    from vicinity_spark.plans import python_rdd_scans
    from vicinity_spark.store import VectorStore

    rng = np.random.default_rng(3)
    params = {
        "ivf": {"nlist": 4, "nprobe": 2},
        "pq": {"m": 4, "ksub": 16},
        "ivfpq": {"nlist": 4, "nprobe": 2, "m": 4, "ksub": 16},
    }.get(backend, {})
    store = VectorStore.from_vectors_and_items(
        spark, rng.random((60, 8)), [f"d{i}" for i in range(60)],
        backend_type=backend, **params,
    )
    qdf, _ = store._queries_df(rng.random((3, 8)))
    assert qdf._jdf.queryExecution().optimizedPlan().maxRows().isDefined()
    plans = {"query_df": store.query_df(qdf, k=3), "threshold_df": store.threshold_df(qdf, 0.5)}
    for i in range(2):
        store.insert([f"ins{i}"], rng.random(8))
    plans["query_df after inserts"] = store.query_df(qdf, k=3)
    for what, df in plans.items():
        assert python_rdd_scans(df) == [], what
        assert "Scan ExistingRDD" not in explain_str(df, "simple"), what
    # the insert batches add no operator of their own to the query: the
    # layout columns (IVF lists, PQ codes, LSH buckets) are computed on
    # the driver, so no centroid cross join, no per-id window and no
    # Python UDF is re-run by each query
    before, after = (explain_str(plans[w], "simple") for w in ("query_df", "query_df after inserts"))
    for op in ("Window", "CartesianProduct", "BroadcastNestedLoopJoin", "ArrowEvalPython"):
        assert after.count(op) == before.count(op), (op, after)
    # the guard itself sees a list-built frame through a store plan. A
    # bounded batch is collected to the driver, so its plan no longer
    # holds the frame: the unbounded plan is checked
    listed = spark.createDataFrame([(0, [0.0] * 8)], "query_id long, qvec array<float>")
    monkeypatch.setattr(knn_mod, "AUTO_GRID_QUERY_ROWS", -1)
    assert python_rdd_scans(store.threshold_df(listed, 0.5))


def _count_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _serve_store(spark, backend, n=400):
    """A cached ``backend`` store over ``n`` seeded 8-d vectors, as the
    job-count tests build it (preset lists for the IVF family)."""
    from vicinity_spark.store import VectorStore

    rng = np.random.default_rng(5)
    X = rng.standard_normal((n, 8))
    C = X[:8] / np.linalg.norm(X[:8], axis=1)[:, None]
    params = {
        "basic": {},
        "ivf": {"nlist": 8, "nprobe": 2, "centroids": C},
        "sq": {"refine": 4},
        "pq": {"m": 4, "ksub": 16, "refine": 4},
        "ivfsq": {"nlist": 8, "nprobe": 2, "centroids": C, "refine": 4},
        "ivfpq": {"nlist": 8, "nprobe": 2, "centroids": C, "m": 4, "ksub": 16, "refine": 4},
        "ivfpqr": {
            "nlist": 8, "nprobe": 2, "centroids": C, "m": 4, "ksub": 16, "refine": 4,
            "refine_m": 4,
        },
    }[backend]
    backend = "ivfpq" if backend == "ivfpqr" else backend
    store = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(n)], backend_type=backend, metric="cosine", **params
    )
    store.df.cache()
    store.df.count()
    return store, rng


@pytest.mark.parametrize("backend", ["basic", "ivf", "sq", "pq", "ivfsq", "ivfpq", "ivfpqr"])
def test_bounded_query_job_count(spark, backend):
    """A bounded query batch takes one broadcast-query scan of the
    corpus partitions: every strategy runs exactly 3 jobs per collected
    query_df (the scan with its partial top-k exchange, the payload
    join, the collect) — the code-scan strategies re-rank inside the
    scan, so no pool joins back to the vectors — and exact and IVF 2
    per collected threshold_df. Counts, not times."""
    store, rng = _serve_store(spark, backend)
    qdf, _ = store._queries_df(rng.standard_normal((5, 8)))
    try:
        jobs = _count_jobs(spark, lambda: store.query_df(qdf, k=5).collect())
        thr_jobs = _count_jobs(spark, lambda: store.threshold_df(qdf, 0.5).collect())
    finally:
        store.df.unpersist()
    assert jobs == 3, jobs
    if backend in ("basic", "ivf"):
        assert thr_jobs == 2, thr_jobs


@pytest.mark.parametrize("backend", ["basic", "ivf", "sq", "pq", "ivfsq", "ivfpq"])
def test_facade_query_runs_one_job(spark, backend):
    """A bounded `store.query` and `store.query_threshold` on a cached
    cell-scan store run ONE Spark job each — one scan that carries the
    payload, the rank cut made on the driver — before any write, after
    one insert, after nine (the eighth checkpoints the insert delta)
    and after a delete."""
    from vicinity_spark.store import _INSERT_CHECKPOINT_EVERY

    store, rng = _serve_store(spark, backend)
    cached = store.df
    Q = rng.standard_normal((5, 8))

    def counts():
        return (
            _count_jobs(spark, lambda: store.query(Q, k=5)),
            _count_jobs(spark, lambda: store.query_threshold(Q, 0.5)),
        )

    try:
        assert counts() == (1, 1), "cached"
        for i in range(_INSERT_CHECKPOINT_EVERY + 1):
            store.insert([f"n{i}"], rng.standard_normal(8))
            if i in (0, _INSERT_CHECKPOINT_EVERY):
                assert counts() == (1, 1), f"after {i + 1} inserts"
        store.delete(["i3", "n0"])
        assert counts() == (1, 1), "after a delete"
    finally:
        cached.unpersist()


def test_worker_keeps_zip_directories(spark, tmp_path, monkeypatch):
    """After a library task, the Python workers keep their zip
    finders' directories when PySpark invalidates the import caches at
    the next task (`session.freeze_zip_finders`), and still import a
    pyspark module they have not loaded. The driver's zip finders
    still refresh. The probe imports the package first, as unpickling
    any library kernel does, so whichever pooled worker runs it has
    imported it."""
    import importlib
    import sys
    import zipfile
    import zipimport

    import pandas as pd

    store, rng = _serve_store(spark, "basic")
    cached, corpus = store.df, store.df.repartition(4).cache()
    store._set_df(corpus)
    try:
        assert corpus.rdd.getNumPartitions() == 4
        store.query(rng.standard_normal((5, 8)), k=5)

        def probe(batches):
            import importlib
            import zipimport

            import vicinity_spark  # noqa: F401

            before = dict(zipimport._zip_directory_cache)
            importlib.invalidate_caches()
            kept = all(zipimport._zip_directory_cache.get(a) is d for a, d in before.items())
            resolved = importlib.import_module("pyspark.ml.linalg").__name__
            for _ in batches:
                pass
            yield pd.DataFrame({"zips": [len(before)], "kept": [kept], "resolved": [resolved]})

        out = corpus.select("id").mapInPandas(probe, "zips long, kept boolean, resolved string").toPandas()
    finally:
        corpus.unpersist()
        cached.unpersist()
    assert len(out) == 4 and (out["zips"] > 0).all(), out
    assert out["kept"].all(), out
    assert (out["resolved"] == "pyspark.ml.linalg").all(), out

    archive = str(tmp_path / "zipped.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("vicinity_zip_probe.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("vicinity_zip_probe").X == 1
    finders = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
    assert finders and not [f for f in finders if "invalidate_caches" in vars(f)]
    before = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache.get(archive) is not before
    sys.modules.pop("vicinity_zip_probe", None)
    sys.path_importer_cache.pop(archive, None)


@pytest.mark.parametrize("backend", ["ivf", "ivfsq", "ivfpq", "ivfpqr"])
def test_unbounded_ivf_plan_has_no_query_id_join(spark, monkeypatch, backend):
    """An unbounded query table on IVF or an IVF composite scores on
    the cluster-keyed block grid: cells join on `__cluster`, no join
    re-attaches query vectors by query_id (the join-scored plan it
    replaces did), and the query_df plan holds exactly one
    MapInPandas — the re-rank strategies score their pools inside the
    cell scan; IVF's threshold_df filters inside it too. ivfpqr's
    codes, its payload and a column its re-rank reads, are collected
    into the block rows once."""
    import numpy as np

    import vicinity_spark.operators.knn as knn_mod
    from vicinity_spark.store import VectorStore

    rng = np.random.default_rng(4)
    X = rng.standard_normal((120, 8))
    params = {"nlist": 4, "nprobe": 2, "centroids": X[:4]}
    params.update({
        "ivf": {},
        "ivfsq": {"refine": 4},
        "ivfpq": {"m": 4, "ksub": 16, "refine": 4},
        "ivfpqr": {"m": 4, "ksub": 16, "refine": 4, "refine_m": 4},
    }[backend])
    store = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(120)],
        backend_type="ivfpq" if backend == "ivfpqr" else backend, **params,
    )
    qdf, _ = store._queries_df(rng.standard_normal((6, 8)))
    monkeypatch.setattr(knn_mod, "AUTO_GRID_QUERY_ROWS", -1)
    knn = store.query_df(qdf, k=3)
    for df in (knn, store.threshold_df(qdf, 0.5)):
        s = explain_str(df, "simple")
        assert "MapInPandas" in s and "__cluster" in s
        joins = [ln for ln in s.splitlines() if "Join" in ln]
        assert joins and not [ln for ln in joins if "query_id" in ln], joins
        assert "__carry___pqcode" not in s
    assert explain_str(knn, "simple").count("MapInPandas") == 1
    if backend == "ivf":
        _assert_kernel_filters(store.threshold_df(qdf, 0.5))


def _assert_kernel_filters(df):
    """``df``'s optimized plan scores in ONE MapInPandas and filters on
    distance nowhere outside it: the range kernel keeps the hits."""
    from vicinity_spark.session import optimized_plan

    plan = optimized_plan(df).toString()
    assert plan.count("MapInPandas") == 1, plan
    assert not [ln for ln in plan.splitlines() if "Filter" in ln and "distance" in ln], plan


@pytest.mark.parametrize("backend", ["ivf", "ivfsq", "pq", "ivfpq"])
def test_insert_runs_no_job(spark, backend):
    """A facade insert into an IVF-family or PQ store runs no Spark job
    (the batch is assigned and encoded on the driver and stays a
    LocalRelation); only
    the every-_INSERT_CHECKPOINT_EVERY-th insert runs one, its delta
    checkpoint. A bounded query after any number of inserts runs as
    many jobs as before the first."""
    import numpy as np

    from vicinity_spark.store import _INSERT_CHECKPOINT_EVERY, VectorStore

    rng = np.random.default_rng(8)
    X = rng.standard_normal((400, 8))
    C = X[:8] / np.linalg.norm(X[:8], axis=1)[:, None]
    params = {
        "ivf": {"nlist": 8, "nprobe": 2, "centroids": C},
        "ivfsq": {"nlist": 8, "nprobe": 2, "centroids": C, "refine": 4},
        "pq": {"m": 4, "ksub": 16, "refine": 4},
        "ivfpq": {"nlist": 8, "nprobe": 2, "centroids": C, "m": 4, "ksub": 16, "refine": 4},
    }[backend]
    store = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(400)], backend_type=backend, metric="cosine", **params
    )
    store.df.cache()
    store.df.count()
    qdf, _ = store._queries_df(rng.standard_normal((5, 8)))

    def query():
        return _count_jobs(spark, lambda: store.query_df(qdf, k=5).collect())

    try:
        before = query()
        for i in range(1, _INSERT_CHECKPOINT_EVERY + 2):
            jobs = _count_jobs(spark, lambda: store.insert([f"n{i}"], rng.standard_normal(8)))
            assert jobs == (1 if i == _INSERT_CHECKPOINT_EVERY else 0), (i, jobs)
            if i in (1, 3, _INSERT_CHECKPOINT_EVERY, _INSERT_CHECKPOINT_EVERY + 1):
                assert query() == before, i
    finally:
        store._base_df.unpersist()


# (backend, metric, params) of each layout codec an insert applies
_INSERT_CODECS = {
    "ivf_preset": ("ivf", "cosine", {"nlist": 6, "nprobe": 2}),
    "pq": ("pq", "cosine", {"m": 4, "ksub": 16}),
    "ivfpqr": ("ivfpq", "cosine", {"nlist": 6, "nprobe": 2, "m": 4, "ksub": 16, "refine_m": 4}),
    "lsh_gaussian_cosine": ("lsh", "cosine", {"n_tables": 4, "n_bits": 8}),
    "lsh_pstable_euclidean": ("lsh", "euclidean", {"n_tables": 4, "n_bits": 4}),
}


@pytest.mark.parametrize("name", list(_INSERT_CODECS))
def test_insert_layout_equal_on_driver_and_in_udf(spark, name):
    """`on_insert` gives the same layout columns whether the batch is a
    LocalRelation (the codec runs on the driver and the result stays
    local) or any other frame (the codec runs as one Arrow UDF): both
    paths apply one numpy function to the same float64 matrix. An
    empty local batch stays local and empty."""
    from vicinity_spark.session import local_rows
    from vicinity_spark.store import VectorStore, _ingest_frame

    backend, metric, params = _INSERT_CODECS[name]
    rng = np.random.default_rng(11)
    X = rng.standard_normal((200, 8))
    if "nlist" in params:
        params = dict(params, centroids=X[:6].tolist())
    store = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(200)], backend_type=backend, metric=metric, **params
    )
    batch = _ingest_frame(spark, 200, [f"n{i}" for i in range(40)], rng.standard_normal((40, 8)))
    on_driver = store.strategy.on_insert(batch, store.metric, store.dim)
    in_udf = store.strategy.on_insert(batch.repartition(3), store.metric, store.dim)
    assert local_rows(on_driver) is not None and local_rows(in_udf) is None
    assert "ArrowEvalPython" in explain_str(in_udf, "simple")
    layout = [c for c in on_driver.columns if c.startswith("__")]
    assert layout and on_driver.columns == in_udf.columns
    rows = [sorted(df.select("id", *layout).collect()) for df in (on_driver, in_udf)]
    assert rows[0] == rows[1] and len(rows[0]) == 40
    empty = store.strategy.on_insert(batch.limit(0), store.metric, store.dim)
    assert local_rows(empty) == [] and empty.columns == on_driver.columns


def test_bounded_ivf_plan_prunes_lists(spark, tmp_path):
    """The bounded IVF plan scores on the corpus scan: no query_id join
    carries the query vectors (they are broadcast), the range search
    filters inside the scan's kernel, and on a reloaded
    store — written partitionBy(__cluster) — the probed-list filter is
    a partition filter of the scan."""
    import numpy as np

    from vicinity_spark.store import VectorStore

    rng = np.random.default_rng(9)
    X = rng.standard_normal((120, 8))
    store = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(120)], backend_type="ivf",
        nlist=6, nprobe=2, centroids=X[:6].tolist(),
    )
    qdf, _ = store._queries_df(X[:3])
    for df in (store.query_df(qdf, k=3), store.threshold_df(qdf, 0.4)):
        s = explain_str(df, "simple")
        assert "qvec" not in s and "MapInPandas" in s
    _assert_kernel_filters(store.threshold_df(qdf, 0.4))
    path = str(tmp_path / "ivf_store")
    store.save(path)
    loaded = VectorStore.load(path, spark)
    s = explain_str(loaded.query_df(qdf, k=3), "simple")
    # the vector scan under the kernel (the payload join's scan reads
    # every list: it is keyed by id)
    scans = [ln for ln in s.splitlines() if "FileScan" in ln and "vector" in ln]
    assert len(scans) == 1 and "PartitionFilters: [__cluster" in scans[0] and " IN (" in scans[0], s
    assert len(loaded.query_df(qdf, k=3).collect()) == 9


def test_vector_udfs_come_from_one_helper():
    """Every per-row vector codec (list assignment, PQ and residual
    codes, LSH buckets, graph seeds, the float64 pack) is a numpy
    function on `session.vector_udf`. The only other scalar pandas
    UDFs are the projection that maps ragged vectors to null and the
    probe of a whole query block per row. No backend defines one."""
    import ast
    import pathlib

    import vicinity_spark

    def is_udf(node):
        f = node.func if isinstance(node, ast.Call) else node
        return getattr(f, "attr", getattr(f, "id", None)) == "pandas_udf"

    class Finder(ast.NodeVisitor):
        def __init__(self, where):
            self.where, self.stack, self.found = where, [], set()

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            if any(is_udf(d) for d in node.decorator_list):
                self.found.add(f"{self.where}:{'.'.join(self.stack)}")
            for child in node.body:
                self.visit(child)
            self.stack.pop()

        def visit_Call(self, node):
            if is_udf(node):
                self.found.add(f"{self.where}:{'.'.join(self.stack)}")
            self.generic_visit(node)

    root = pathlib.Path(vicinity_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        finder = Finder(path.relative_to(root).as_posix())
        finder.visit(ast.parse(path.read_text()))
        found |= finder.found
    assert not [f for f in found if f.startswith("backends/")], found
    assert found == {
        "session.py:vector_udf",
        "operators/embedding.py:_project_arrow._proj",
        "operators/grid.py:cluster_grid.block_probes",
    }
