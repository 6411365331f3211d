"""IVF (inverted-file) strategy — the Spark analog of FAISS's IVF
family (faiss.py:101-110: nlist KMeans cells, search restricted to the
nearest `nprobe` inverted lists; SURVEY.md §4 "partition pruning
analog").

Build = MLlib KMeans fit (the distributed equivalent of FAISS's
`train` pre-pass, faiss.py:116-118) + a `__cluster` column; the corpus
is hash-repartitioned by cluster so each inverted list is co-located.
The partition count is the session's `spark.sql.shuffle.partitions`
(sized to the parallelism), which AQE may coalesce for a small corpus:
every query runs its probe and scoring stages over that layout, and
each Python task costs a fixed worker launch whether its partition
holds one list or many. Centroids are stored in params (nlist × dim
doubles — tiny), so the index reloads from metadata alone and inserts
assign clusters without refitting (`_assign_lists`, also the preset
build): on the driver for a local frame, which stays a LocalRelation,
so an insert and every later scan of its rows run no Spark job for it.

Query: one `grid.cell_scan` over the inverted lists, the same call as
the IVF composites' code scans. A bounded batch (at most
AUTO_GRID_QUERY_ROWS rows — every facade `query`) is collected once
and probed on the driver (`nearest_centroids`), `__cluster IN (<probed
union>)` is pushed into the corpus scan (a partition filter on a
reloaded store), and ONE mapInPandas over the corpus partitions scores
each inverted list's rows against only the queries that probe it
(grid.probe_scan). An unbounded query table runs `grid.cluster_grid`:
each list folds into one block row joined only to the query blocks
that probe it. Both deliver cells to the dense cell kernel → top-k
merge. `_probe_df` (probes as rows, the same `vector_column`) stays
for the streaming serving path.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vicinity_spark.backends.base import IndexStrategy, _within_kernel
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.session import vector_column

CLUSTER_COL = "__cluster"


def _assign_lists(df: DataFrame, centroids) -> DataFrame:
    """``df`` + ``__cluster``: each vector's nearest centroid, argmin
    squared l2 with ties to the lower index (`grid.centroid_assign`)."""
    from vicinity_spark.operators.grid import centroid_assign

    return vector_column(df, CLUSTER_COL, *centroid_assign(centroids), "vector")


class IVFStrategy(IndexStrategy):
    backend = Backend.IVF
    exact = False

    def __init__(self, nlist: int = 32, nprobe: int = 8, seed: int = 42, centroids=None, **params):
        super().__init__(
            nlist=int(nlist), nprobe=int(nprobe), seed=int(seed), centroids=centroids, **params
        )

    @property
    def centroids(self) -> "np.ndarray | None":
        c = self.params.get("centroids")
        return None if c is None else np.asarray(c, dtype=np.float64)

    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        self.params["dim"] = int(dim)
        if self.params.get("centroids") is not None:
            # preset centroids (r5): skip the KMeans fit and assign each
            # row to its argmin-l2 centroid (`on_insert`'s rule).
            # Deterministic given the centroid list — which is what
            # lets an external oracle replicate cluster assignment
            # exactly, and what a production reload does after `load`
            # (centroids live in params, build never refits on reload).
            self.params["nlist"] = len(self.params["centroids"])
            out = _assign_lists(df, self.params["centroids"])
            # same session-sized inverted-list layout as the fit path
            return out.repartition(F.col(CLUSTER_COL))
        feats = df.withColumn(
            "__features", array_to_vector(F.col("vector").cast("array<double>"))
        )
        km = KMeans(
            k=self.params["nlist"],
            seed=self.params["seed"],
            featuresCol="__features",
            predictionCol=CLUSTER_COL,
        )
        model = km.fit(feats)
        self.params["centroids"] = [list(map(float, c)) for c in model.clusterCenters()]
        out = model.transform(feats).drop("__features")
        # co-locate inverted lists over a session-sized layout (module
        # docstring); at cluster scale this is the layout that makes
        # nprobe pruning an actual partition prune
        return out.repartition(F.col(CLUSTER_COL))

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        """Assign appended rows their nearest centroid — no refit (the
        reference's trainable indexes likewise train once, add many) —
        by the preset build's rule (`_assign_lists`): on the driver for
        a driver-built batch (every `VectorStore.insert`), which stays
        a LocalRelation; one Arrow UDF for any other frame."""
        return _assign_lists(new_df, self.params["centroids"])

    def _probe_df(self, queries: DataFrame, extra_cols: Sequence[str] = ()) -> DataFrame:
        """(query_id, *extra_cols, __cluster) for the nprobe nearest
        centroids (one `vector_column`, the tiny centroid matrix in the
        closure): a query table probes executor-side in parallel.
        `extra_cols` ride along for the streaming serving path (ts +
        qvec, so scoring never re-joins the query stream)."""
        probes = vector_column(queries, "__probes", "array<int>", self._lists(None).probes, "qvec")
        # _outer: see LSHStrategy._probe_df
        return probes.select(
            "query_id", *extra_cols, F.explode_outer("__probes").alias(CLUSTER_COL)
        )

    def _lists(self, metric: Metric):
        from vicinity_spark.operators.grid import InvertedLists

        return InvertedLists(self.params["centroids"], self.params["nprobe"])

    def _cells(self, metric: Metric, k: "int | None"):
        """The dense cell kernel over the probed lists: with ``k`` each
        cell keeps its per-query top ``k``, with None (range search)
        every probed row, scored in _CCHUNK-row slices so the merge
        matrix stays queries × _CCHUNK whatever the cell size."""
        from vicinity_spark.operators.grid import _CCHUNK, _CTARGET, dense_cell_topk
        from vicinity_spark.operators.knn import topk_cells

        if k is not None:
            return "vector", topk_cells(metric, k), _CTARGET

        def every(ids, X, qids, Q, key):
            X = X.astype(np.float64)
            for s in range(0, len(ids), _CCHUNK):
                e = s + _CCHUNK
                yield dense_cell_topk(qids, ids[s:e], X[s:e], Q, metric, _CCHUNK)

        return "vector", every, _CTARGET

    def _range_cells(self, metric: Metric, threshold: float):
        payload_col, kernel, target_rows = self._cells(metric, None)
        return payload_col, _within_kernel(kernel, threshold), target_rows

    # named in the class so per-class instrumentation that wraps only a
    # class's own methods (perfbench/run.py spans) still sees it
    knn = IndexStrategy.knn

    def threshold(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        threshold: float,
        metric: Metric,
        *,
        payload_cols: Optional[Sequence[str]] = None,
        max_k: int = 100,
    ) -> DataFrame:
        """Range search over the probed lists; `max_k` does not cap it."""
        return self._within(corpus, queries, threshold, metric, payload_cols)
