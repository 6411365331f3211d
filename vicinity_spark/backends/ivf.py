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
that probe it. Both deliver cells to the exact strategy's cell
kernels: the dense top-k (`topk_cells`) → top-k merge, or the range
kernel (`within_cells`), whose rows are the final hits — so a range
search is the same one scan in `threshold_df` and in the facade, with
the exact store's per-pair distances. `_probe_df` (probes as rows, the
same `vector_column`) stays for the streaming serving path.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vicinity_spark.backends.base import IndexStrategy
from vicinity_spark.backends.exact import ExactStrategy
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

    # the exact strategy's cell kernels, run over the probed lists only
    _cells = ExactStrategy._cells
    _range_cells = ExactStrategy._range_cells

    # named in the class so per-class instrumentation that wraps only a
    # class's own methods (perfbench/run.py spans) still sees them
    knn = IndexStrategy.knn
    threshold = IndexStrategy.threshold
