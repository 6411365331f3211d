"""VectorStore — the facade, mirroring the reference's `Vicinity` class
(vicinity/vicinity.py:23-393) over a Spark DataFrame.

Data model (SURVEY.md §1): one row per vector —
    (id bigint, item_json string, vector array<float>, …layout columns)
plus a metadata dict (metric, dim, backend, params, count, next_id).
Items of any JSON-serializable shape live in `item_json` (canonical
`json.dumps(sort_keys=True)`), which is also the delete-equality key —
matching the reference's delete-by-item-equality (vicinity.py:255-283).
Non-serializable items fail at ingest (the reference fails at save:
vicinity.py:181-183; FIXTURES.md sanctions the ingest-time error).

Divergence, documented per SURVEY.md §7.5: ids are *stable* across
delete (the reference compacts positional indices, vicinity.py:281-283);
observable only through `get_vector_by_index`, which here raises on any
id that is absent rather than merely ≥ len.
"""

from __future__ import annotations

import functools
import json
import os
import time
from typing import Any, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StringType, StructField, StructType

from vicinity_spark.backends import get_strategy_class
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.session import local_frame

META_FILE = "_vicinity_meta.json"
STORE_DIR = "store.parquet"
# truncate self.df's union lineage every N insert batches (r11; same
# rationale — and same cadence — as backends/lsh.py's
# _EXTRA_CHECKPOINT_EVERY for the insert-postings branch)
_INSERT_CHECKPOINT_EVERY = 8

_INGEST_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("item_json", StringType()),
        StructField("vector", ArrayType(FloatType())),
    ]
)
_QUERY_SCHEMA = StructType(
    [StructField("query_id", LongType()), StructField("qvec", ArrayType(FloatType()))]
)


def _dump_item(item: Any) -> str:
    try:
        return json.dumps(item, sort_keys=True)
    except TypeError as e:
        # reference: orjson JSONEncodeError at save time (vicinity.py:181-183)
        raise ValueError(f"Item is not JSON-serializable: {item!r}") from e


def _ingest_frame(spark: SparkSession, start: int, items, V: np.ndarray) -> DataFrame:
    """(id, item_json, vector) rows for ``items``/``V``, ids from ``start``."""
    return local_frame(
        spark,
        {
            "id": np.arange(start, start + len(V), dtype=np.int64),
            "item_json": [_dump_item(item) for item in items],
            "vector": list(V.astype(np.float32)),
        },
        _INGEST_SCHEMA,
    )


class VectorStore:
    def __init__(
        self,
        df: DataFrame,
        metric: Metric,
        dim: int,
        backend: Backend,
        strategy,
        count: Optional[int] = None,
        next_id: Optional[int] = None,
        metadata: Optional[dict] = None,
    ):
        #: INVARIANT: self.df must always equal
        #: _base_df ⊎ _insert_delta — insert() REBUILDS self.df from
        #: those two fields, so assigning self.df directly without
        #: resetting them silently discards the change on the next
        #: insert. All replacement-style mutations go through
        #: _set_df(); only insert() updates the three fields itself.
        self._metric = Metric.from_string(metric)
        self._dim = int(dim)
        self._backend = Backend.from_string(backend)
        self.strategy = strategy
        self._count = count
        self._next_id = next_id
        self.metadata = dict(metadata or {})
        self._insert_batches = 0
        self._set_df(df)

    def _set_df(self, df: DataFrame) -> None:
        """Replace the store's frame wholesale: the new frame becomes
        the insert-lifecycle base and any pending delta is considered
        folded in (callers pass a frame that already contains it —
        self.df IS base ⊎ delta at all times)."""
        self.df = df
        self._base_df = df
        self._insert_delta: "DataFrame | None" = None

    # ---- constructors ----------------------------------------------
    @classmethod
    def from_vectors_and_items(
        cls,
        spark: SparkSession,
        vectors,
        items: Sequence[Any],
        backend_type: "str | Backend" = Backend.BASIC,
        metric: "str | Metric" = Metric.COSINE,
        metadata: Optional[dict] = None,
        **backend_params,
    ) -> "VectorStore":
        """Build entry point (reference F2: vicinity.py:74-102)."""
        V = np.asarray(vectors, dtype=np.float64)
        if V.ndim == 1:
            V = V[None, :]
        if len(items) != len(V):
            raise ValueError(
                f"Your vector space and list of items are not the same length: {len(V)} != {len(items)}"
            )
        metric = Metric.from_string(metric)
        backend = Backend.from_string(backend_type)
        df = _ingest_frame(spark, 0, items, V)
        strategy = get_strategy_class(backend)(**backend_params)
        dim = int(V.shape[1])
        df = strategy.build(df, metric, dim)
        return cls(
            df,
            metric,
            dim,
            backend,
            strategy,
            count=len(V),
            next_id=len(V),
            metadata=metadata,
        )

    @classmethod
    def from_dataframe(
        cls,
        df: DataFrame,
        vector_col: str = "vector",
        id_col: Optional[str] = "id",
        backend_type: "str | Backend" = Backend.BASIC,
        metric: "str | Metric" = Metric.COSINE,
        metadata: Optional[dict] = None,
        **backend_params,
    ) -> "VectorStore":
        """Build from an arbitrary DataFrame with an array<numeric>
        column; other columns become the payload (items)."""
        metric = Metric.from_string(metric)
        backend = Backend.from_string(backend_type)
        work = df
        if id_col is None or id_col not in df.columns:
            work = work.withColumn("id", F.monotonically_increasing_id())
            id_col = "id"
        elif id_col != "id":
            work = work.withColumnRenamed(id_col, "id")
        if vector_col != "vector":
            work = work.withColumnRenamed(vector_col, "vector")
        dim_row = work.select(F.size("vector")).first()
        if dim_row is None:
            raise ValueError("empty DataFrame")
        dim = int(dim_row[0])
        strategy = get_strategy_class(backend)(**backend_params)
        work = strategy.build(work, metric, dim)
        return cls(work, metric, dim, backend, strategy, metadata=metadata)

    # ---- properties (F6-F8) ----------------------------------------
    def __len__(self) -> int:
        if self._count is None:
            self._count = self.df.count()
        return self._count

    @property
    def dim(self) -> int:
        return self._dim

    @property
    def metric(self) -> Metric:
        return self._metric

    @property
    def backend_type(self) -> Backend:
        return self._backend

    @property
    def payload_cols(self) -> "list[str]":
        return [
            c
            for c in self.df.columns
            if c not in ("id", "vector") and not c.startswith("__")
        ]

    # ---- query (F3/F4) ---------------------------------------------
    def _query_matrix(self, vectors) -> np.ndarray:
        """The query batch as float32 rows, as the store holds vectors."""
        V = np.asarray(vectors, dtype=np.float64)
        if V.ndim == 1:  # 1-D promotion, vicinity.py:129-131
            V = V[None, :]
        if V.shape[1] != self.dim:
            # the reference fails inside the backend on a query-dim
            # mismatch; checking driver-side costs nothing (the batch
            # is local) and fails before a distributed job launches
            raise ValueError(
                f"Query vectors have dimension {V.shape[1]}, store has {self.dim}"
            )
        return V.astype(np.float32)

    def _queries_df(self, vectors) -> "tuple[DataFrame, int]":
        V = self._query_matrix(vectors)
        qdf = local_frame(
            self.df.sparkSession,
            {"query_id": np.arange(len(V), dtype=np.int64), "qvec": list(V)},
            _QUERY_SCHEMA,
        )
        return qdf, len(V)

    def _serve(self, V: np.ndarray, corpus: DataFrame, **how) -> "list[dict] | None":
        """The strategy's one-job answer (`IndexStrategy.serve`) for a
        bounded batch — at most AUTO_GRID_QUERY_ROWS rows, the rule the
        DataFrame plans route by — else None."""
        from vicinity_spark.operators import knn

        if len(V) > knn.AUTO_GRID_QUERY_ROWS:
            return None
        batch = (np.arange(len(V), dtype=np.int64), V.astype(np.float64))
        return self.strategy.serve(corpus, batch, self._metric, self.payload_cols, **how)

    def _filtered_corpus(self, where) -> DataFrame:
        """Corpus restricted by the filtered-search predicate (string
        SQL or Column) — shared by query_df and threshold_df so the
        two filtered surfaces cannot diverge."""
        if where is None:
            return self.df
        return self.df.where(F.expr(where) if isinstance(where, str) else where)

    def query_df(self, queries: DataFrame, k: int = 10, where=None) -> DataFrame:
        """DataFrame-native k-NN. `where` (Column or SQL string)
        restricts the search to matching corpus rows BEFORE candidate
        generation — filtered similarity search, which the reference's
        opaque native indexes cannot express (vicinity.py:114-135 has
        no predicate surface). Layout columns stay valid on the subset
        (IVF cluster pruning, LSH buckets, graph adjacency all filter
        row-wise), so every strategy serves the filtered search; for
        exact strategies results equal a brute-force over the subset.
        Caveat: the graph strategy seeds its beam from fixed entry
        points — a filter that excludes them empties the search; use
        an exact/IVF/LSH store for heavily filtered workloads."""
        corpus = self._filtered_corpus(where)
        return self.strategy.knn(
            corpus, queries, k=k, metric=self._metric, payload_cols=self.payload_cols
        )

    def query(self, vectors, k: int = 10, where=None) -> "list[list[tuple[Any, float]]]":
        """Batched k-NN; returns the reference's nested-list shape
        (vicinity.py:114-138). `where` enables filtered search.

        A bounded batch (at most AUTO_GRID_QUERY_ROWS vectors) on a
        cell-scan strategy (basic, ivf, sq, pq, ivfsq, ivfpq) runs ONE
        Spark job: one scan whose rows carry the payload, with each
        query's rank cut on the driver (`IndexStrategy.serve`). An
        unbounded batch, an LSH or graph store, a payload type the
        scan does not carry, or a scan whose tasks would ship more than
        `backends.base.SERVE_ROWS` rows collects ``query_df`` instead;
        both give the same rows."""
        V = self._query_matrix(vectors)
        corpus = self._filtered_corpus(where)
        rows = self._serve(V, corpus, k=k)
        if rows is None:
            qdf, _ = self._queries_df(V)
            # at most n·k rows: sorted here, not by a Spark orderBy (a
            # range-sampling job and a shuffle)
            rows = [r.asDict() for r in self.query_df(qdf, k=k, where=where).collect()]
            rows.sort(key=lambda r: (r["query_id"], r["rank"]))
        return self._nested(rows, len(V))

    def _item_of(self):
        """``item(d)``: a corpus or result row's item (``d``: the row
        as a dict), the one rule `query` returns and `delete` matches —
        its decoded ``item_json`` when it has one; otherwise (rows of a
        `from_dataframe` store) a dict of its other payload columns, or
        its id when there are none."""
        other = [c for c in self.payload_cols if c != "item_json"]

        def item(d):
            if d.get("item_json") is not None:
                return json.loads(d["item_json"])
            return {c: d[c] for c in other} if other else d["id"]

        return item

    def _item_filter(self, items) -> Column:
        """True on every row whose `_item_of` item may be in ``items``
        (and on a few more): item_json tokens, payload-column equality,
        or the id when there is no payload."""
        other = [c for c in self.payload_cols if c != "item_json"]
        json_col = "item_json" in self.df.columns
        conds = [F.col("item_json").isin([_dump_item(t) for t in items])] if json_col else []
        for t in items:
            if other and isinstance(t, dict) and set(t) == set(other):
                eq = [F.col(c).eqNullSafe(F.lit(t[c])) for c in other]
                conds.append(functools.reduce(Column.__and__, eq))
            elif not other and isinstance(t, int):
                conds.append(F.col("id") == F.lit(t))
        return functools.reduce(Column.__or__, conds, F.lit(False))

    def _nested(self, rows, n: int) -> "list[list[tuple[Any, float]]]":
        """Result rows (dicts) → the reference's per-query (item,
        distance) lists (`_item_of`)."""
        item = self._item_of()
        out: "list[list[tuple[Any, float]]]" = [[] for _ in range(n)]
        for r in rows:
            out[r["query_id"]].append((item(r), float(r["distance"])))
        return out

    def query_stream(
        self,
        query_stream: DataFrame,
        k: int = 10,
        *,
        ts_col: str = "ts",
        watermark: str = "10 minutes",
    ) -> DataFrame:
        """Streaming k-NN serving: `query_stream` is a STREAMING
        (query_id, qvec, ts) frame; returns a streaming (query_id, ts,
        id, distance, rank) frame (append mode; results for a query
        emit when the watermark passes its event time). Served by the
        equi-join-probed strategies (lsh, ivf) — see
        streaming/query.py for the plan shape. The reference's query()
        is batch-only (vicinity.py:118-141); this is the ★ streaming
        twin."""
        from vicinity_spark.streaming.query import stream_knn

        return stream_knn(
            self.df,
            query_stream,
            k=k,
            metric=self._metric,
            strategy=self.strategy,
            ts_col=ts_col,
            watermark=watermark,
        )

    def query_stream_foreachbatch(
        self,
        query_stream: DataFrame,
        sink,
        k: int = 10,
        *,
        ts_col: str = "ts",
    ):
        """Memory-bounded streaming k-NN serving: each micro-batch is
        planned as a BATCH query (foreachBatch), so AQE + dynamic
        partition pruning apply and a RELOADED store probes its
        partitioned posting layout with per-trigger file pruning — no
        in-memory static cache. `sink(result_df, batch_id)` receives
        each batch's (query_id, ts, id, distance, rank). Returns the
        DataStreamWriter; call `.trigger(...).start()`. See
        streaming/query.py stream_knn_foreachbatch for when to prefer
        this over query_stream (cached-explode footprint vs
        per-trigger planning cost)."""
        from vicinity_spark.streaming.query import stream_knn_foreachbatch

        return stream_knn_foreachbatch(
            self.df,
            query_stream,
            k=k,
            metric=self._metric,
            strategy=self.strategy,
            sink=sink,
            ts_col=ts_col,
        )

    def query_stream_threshold(
        self,
        query_stream: DataFrame,
        threshold: float = 0.5,
        *,
        ts_col: str = "ts",
        watermark: str = "10 minutes",
    ) -> DataFrame:
        """Streaming radius search — the ★ streaming twin of
        query_threshold (vicinity.py:140-165). Stateless except for an
        emit-first-seen dedup bounded by the watermark horizon, so hits
        emit in the arrival micro-batch; see streaming/query.py
        stream_threshold."""
        from vicinity_spark.streaming.query import stream_threshold

        return stream_threshold(
            self.df,
            query_stream,
            threshold=threshold,
            metric=self._metric,
            strategy=self.strategy,
            ts_col=ts_col,
            watermark=watermark,
        )

    def threshold_df(
        self, queries: DataFrame, threshold: float = 0.5, where=None
    ) -> DataFrame:
        """DataFrame-native radius search. `where` restricts the search
        to matching corpus rows BEFORE candidate generation — the same
        filtered-search surface as query_df (and the same graph-seed
        caveat documented there)."""
        corpus = self._filtered_corpus(where)
        return self.strategy.threshold(
            corpus,
            queries,
            threshold=threshold,
            metric=self._metric,
            payload_cols=self.payload_cols,
        )

    def query_threshold(
        self, vectors, threshold: float = 0.5, max_k: int = 100
    ) -> "list[list[tuple[Any, float]]]":
        """Radius search (vicinity.py:140-165). `max_k` caps the hits
        per query on the ANN strategies that search a top-`max_k` pool
        (sq, pq, ivfpq, ivfsq, graph); the exact, IVF and LSH range
        searches ignore it, like the reference's BASIC backend
        (basic.py:149-172).

        Like `query`, a bounded batch on a cell-scan strategy runs ONE
        Spark job: the exact and IVF range searches filter inside the
        scan, the capped ones cut each query's top `max_k` per scan
        task and again on the driver. Otherwise the strategy's
        ``threshold`` plan (``threshold_df``) is collected."""
        V = self._query_matrix(vectors)
        rows = self._serve(V, self.df, threshold=threshold, max_k=max_k)
        if rows is None:
            qdf, _ = self._queries_df(V)
            rows = [
                r.asDict()
                for r in self.strategy.threshold(
                    self.df,
                    qdf,
                    threshold=threshold,
                    metric=self._metric,
                    payload_cols=self.payload_cols,
                    max_k=max_k,
                ).collect()
            ]
        return self._nested(rows, len(V))

    # ---- point lookup (F5) -----------------------------------------
    def get_vector_by_index(self, index) -> np.ndarray:
        idxs = np.asarray(index)
        if idxs.ndim == 0:
            idxs = idxs[None]
        idxs = [int(i) for i in idxs]
        n = len(self)
        if any(i < 0 or i >= self._id_upper_bound() for i in idxs):
            raise ValueError(f"Index out of bounds for store of size {n}")
        rows = (
            self.df.where(F.col("id").isin(idxs))
            .select("id", "vector")
            .collect()
        )
        found = {r["id"]: r["vector"] for r in rows}
        missing = [i for i in idxs if i not in found]
        if missing:
            raise ValueError(f"Indices not present in store: {missing}")
        return np.asarray([found[i] for i in idxs], dtype=np.float64)

    def _id_upper_bound(self) -> int:
        """The first id an insert takes: one past the largest (read once
        on a `from_dataframe` store, whose count is no bound)."""
        if self._next_id is None:
            top = self.df.agg(F.max("id")).first()[0]
            self._next_id = 0 if top is None else int(top) + 1
        return self._next_id

    # ---- mutation (F9/F10) -----------------------------------------
    def insert(self, items: Sequence[Any], vectors) -> None:
        """Append items+vectors (vicinity.py:236-253)."""
        V = np.asarray(vectors, dtype=np.float64)
        if V.ndim == 1:
            V = V[None, :]
        if len(items) != len(V):
            raise ValueError(
                f"Your tokens and vectors are not the same length: {len(items)} != {len(V)}"
            )
        if V.shape[1] != self._dim:
            raise ValueError(f"The inserted vectors must have dimension {self._dim}")
        start = self._id_upper_bound()
        new_df = _ingest_frame(self.df.sparkSession, start, items, V)
        for c in self.df.columns:
            if c not in new_df.columns and not c.startswith("__"):
                new_df = new_df.withColumn(c, F.lit(None))
        new_df = self.strategy.on_insert(new_df, self._metric, self._dim)
        if self._count is not None:
            self._count += len(V)
        self._next_id = start + len(V)
        # lifecycle (r11, same shape as the LSH insert-postings
        # branch): the BASE corpus frame is never re-unioned or
        # checkpointed — only the small accumulated insert DELTA is,
        # every _INSERT_CHECKPOINT_EVERY batches. self.df stays
        # base ∪ delta, so plan depth is bounded (base + ≤8 delta
        # unions) while the periodic materialization costs work and
        # executor residency proportional to the INSERTED rows, not
        # the corpus (checkpointing self.df itself would scan and
        # store the full corpus every 8 row-level inserts — the wrong
        # trade at any real corpus size). The delta blocks live on
        # executors — on a cluster with executor churn, save()
        # periodically instead. Between checkpoints an insert runs no
        # job: the batch is a LocalRelation (IVF's on_insert assigns
        # its lists on the driver and keeps it one). The delta is
        # coalesced to ONE partition, so a later query scans the base
        # partitions plus one, not min(rows, parallelism) more per
        # pending batch, and the checkpoint is one job of one task.
        delta = (
            new_df
            if self._insert_delta is None
            else self._insert_delta.unionByName(new_df, allowMissingColumns=True)
        )
        self._insert_delta = delta.coalesce(1)
        self._insert_batches += 1
        if self._insert_batches % _INSERT_CHECKPOINT_EVERY == 0:
            self._insert_delta = self._insert_delta.localCheckpoint(eager=True)
        self.df = self._base_df.unionByName(
            self._insert_delta, allowMissingColumns=True
        )

    def delete(self, items: Sequence[Any]) -> None:
        """Delete by item equality; duplicates all removed; missing
        tokens raise (vicinity.py:255-283)."""
        by_token = {_dump_item(t): t for t in items}
        # one job collects the rows the items may name (bounded by the
        # matches); `_item_of` then decides each row, as query does
        item = self._item_of()
        hits = [
            (r["id"], token)
            for r in self.df.where(self._item_filter(list(by_token.values())))
            .select("id", *self.payload_cols)
            .collect()
            if (token := _dump_item(item(r.asDict()))) in by_token
        ]
        present = {token for _, token in hits}
        missing = [t for token, t in by_token.items() if token not in present]
        if missing:
            raise ValueError(f"Tokens {missing} were not in the store.")
        # the filtered frame (which already folds in any insert delta)
        # becomes the new base; the delta restarts empty
        self._set_df(self.df.where(~F.col("id").isin([i for i, _ in hits])))
        if self._count is not None:
            self._count -= len(hits)

    # ---- persistence (F11/F12) -------------------------------------
    def save(
        self, folder: str, overwrite: bool = False, *, adopt_layout: bool = True
    ) -> None:
        """Persist corpus + layout columns as parquet. When the layout
        has an inverted-list column (IVF/IVFPQ `__cluster`), the store
        is written `partitionBy(__cluster)`: each inverted list becomes
        its own parquet directory, so at reload the nprobe probe join
        prunes whole FILES (dynamic partition pruning), not just rows —
        at 100 TB that is the difference between scanning nprobe/nlist
        of the corpus and scanning all of it.

        ``adopt_layout=False`` writes everything without re-pointing
        live strategy state (LSH postings) at the new folder — required
        when the folder is a staging area that will not outlive the
        store (push_to_hub's temp dir)."""
        if os.path.exists(os.path.join(folder, META_FILE)) and not overwrite:
            raise ValueError(f"Store already exists at {folder} (pass overwrite=True)")
        os.makedirs(folder, exist_ok=True)
        from vicinity_spark.session import scan_reads_path

        target = os.path.join(folder, STORE_DIR)
        if overwrite and scan_reads_path(self.df, target):
            # re-saving over the folder this store was LOADED from: the
            # overwrite deletes the very part files self.df's scan (and
            # save_extra's postings write) still reference — materialize
            # first to sever that lineage (r11; URI-safe predicate in
            # session.scan_reads_path since r13; executor-storage cost,
            # so at large scale prefer saving to a fresh folder)
            self._set_df(self.df.localCheckpoint(eager=True))
        writer = self.df.write.mode("overwrite")
        from vicinity_spark.backends.ivf import CLUSTER_COL

        if CLUSTER_COL in self.df.columns:
            writer = writer.partitionBy(CLUSTER_COL)
        writer.parquet(os.path.join(folder, STORE_DIR))
        meta = {
            "engine": "vicinity_spark",
            "metric": self._metric.value,
            "dim": self._dim,
            "backend_type": self._backend.value,
            "backend_params": self.strategy.to_params(),
            "count": len(self),
            "next_id": self._id_upper_bound(),
            "metadata": self.metadata,
        }
        with open(os.path.join(folder, META_FILE), "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)
        self.strategy.save_extra(folder, self.df, adopt_layout=adopt_layout)

    @classmethod
    def load(cls, folder: str, spark: SparkSession) -> "VectorStore":
        with open(os.path.join(folder, META_FILE)) as f:
            meta = json.load(f)
        df = spark.read.parquet(os.path.join(folder, STORE_DIR))
        backend = Backend.from_string(meta["backend_type"])
        strategy = get_strategy_class(backend)(**meta.get("backend_params", {}))
        strategy.load_extra(folder, spark)
        return cls(
            df,
            Metric.from_string(meta["metric"]),
            int(meta["dim"]),
            backend,
            strategy,
            count=meta.get("count"),
            next_id=meta.get("next_id"),
            metadata=meta.get("metadata"),
        )

    # ---- hub integration (F13/F14) ---------------------------------
    def push_to_hub(
        self, repo_id: str, token=None, private: bool = False, client=None
    ) -> str:
        """Publish this store as a Hub dataset repo — the reference's
        `Vicinity.push_to_hub` (vicinity/vicinity.py:285-306). Pass a
        `sources.hub.LocalHubClient` for a filesystem-backed hub."""
        from vicinity_spark.sources.hub import push_to_hub as _push

        return _push(self, repo_id, token=token, private=private, client=client)

    @classmethod
    def load_from_hub(cls, repo_id: str, spark: SparkSession, token=None, client=None):
        """Load a store from a Hub dataset repo — the reference's
        `Vicinity.load_from_hub` (vicinity/vicinity.py:308-326)."""
        from vicinity_spark.sources.hub import load_from_hub as _load

        return _load(repo_id, spark, token=token, client=client)

    # ---- evaluation (F15) ------------------------------------------
    def evaluate(
        self, query_vectors, k: int = 10, epsilon: float = 1e-3
    ) -> "tuple[float, float]":
        """(QPS, recall@k) — ann-benchmarks methodology, mirroring
        vicinity.py:328-393: recall = fraction of returned distances
        ≤ exact kth distance + ε, averaged over queries; exact ground
        truth is the brute-force plan on the same corpus."""
        if self._metric not in (Metric.COSINE, Metric.EUCLIDEAN):
            raise ValueError(
                f"Unsupported metric for evaluation: {self._metric}"
            )  # vicinity.py:350-360
        from vicinity_spark.operators.knn import knn_join

        # the batch is a LocalRelation: caching it would add a count job,
        # slow the timed collect and leave a cached RDD behind
        qdf, n = self._queries_df(query_vectors)
        gt = (
            knn_join(self.df, qdf, k=k, metric=self._metric, algorithm="auto")
            .groupBy("query_id")
            .agg(F.max("distance").alias("gt_kth"))
        )
        t0 = time.perf_counter()
        approx = self.strategy.knn(self.df, qdf, k=k, metric=self._metric)
        approx_rows = approx.select("query_id", "distance").collect()
        elapsed = time.perf_counter() - t0
        qps = n / elapsed if elapsed > 0 else float("inf")
        gt_kth = {r["query_id"]: r["gt_kth"] for r in gt.collect()}
        hits: "dict[int, int]" = {}
        for r in approx_rows:
            if r["distance"] <= gt_kth[r["query_id"]] + epsilon:
                hits[r["query_id"]] = hits.get(r["query_id"], 0) + 1
        recall = float(np.mean([hits.get(q, 0) / k for q in gt_kth])) if gt_kth else 0.0
        return qps, recall
