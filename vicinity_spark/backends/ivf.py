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
assign clusters without refitting. An insert batch built on the driver
is assigned there (`nearest_centroids`, the preset build's rule) and
stays a LocalRelation: the insert and every later scan of its rows run
no Spark job for the assignment.

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
merge. `_probe_df` (executor-side probes as rows) stays for the
streaming serving path.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from vicinity_spark.backends.base import IndexStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.session import local_frame, local_rows

CLUSTER_COL = "__cluster"


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
            # row to its argmin-l2 centroid with the same vectorized
            # kernel shape as _probe_df (tiny centroid matrix in the
            # closure, no shuffle, no row explosion). Deterministic
            # given the centroid list — which is what lets an external
            # oracle replicate cluster assignment exactly, and what a
            # production reload does after `load` (centroids live in
            # params, build never refits on reload).
            from vicinity_spark.operators.grid import centroid_assign_udf

            self.params["nlist"] = len(self.params["centroids"])
            assign = centroid_assign_udf(self.params["centroids"])
            out = df.withColumn(CLUSTER_COL, assign(F.col("vector")))
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
        by the preset-centroid build's rule: argmin squared l2, ties to
        the lower index (`nearest_centroids`). A driver-built batch (a
        LocalRelation: every `VectorStore.insert`) is assigned on the
        driver and comes back as a LocalRelation, so neither the insert
        nor a later scan of the rows runs a job or a Python task for
        it; any other frame (a streaming micro-batch) gets
        `centroid_assign_udf`."""
        from vicinity_spark.operators.grid import centroid_assign_udf, nearest_centroids

        rows = local_rows(new_df)
        if rows is None:
            assign = centroid_assign_udf(self.params["centroids"])
            return new_df.withColumn(CLUSTER_COL, assign(F.col("vector")))
        schema = new_df.schema
        cols = {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}
        X = np.asarray(cols["vector"], dtype=np.float64).reshape(len(rows), dim)
        cols[CLUSTER_COL] = nearest_centroids(X, self.centroids)[0][:, 0].astype(np.int32)
        out = StructType(schema.fields + [StructField(CLUSTER_COL, IntegerType())])
        return local_frame(new_df.sparkSession, cols, out)

    def _probe_df(self, queries: DataFrame, extra_cols: Sequence[str] = ()) -> DataFrame:
        """(query_id, *extra_cols, __cluster) for the nprobe nearest
        centroids — computed *executor-side* in an Arrow-vectorized
        pandas UDF with the tiny centroid matrix riding in the closure
        (same pattern as LSH's _probe_df): no driver collect, so a
        10M-row query table probes in parallel instead of bottlenecking
        the driver. `extra_cols` ride along for the streaming serving
        path (ts + qvec, so scoring never re-joins the query stream)."""
        from pyspark.sql.types import ArrayType

        lists = self._lists(None)

        @F.pandas_udf(ArrayType(IntegerType()))
        def probe(v: pd.Series) -> pd.Series:
            Q = np.vstack(v.to_numpy()).astype(np.float64)
            return pd.Series(list(lists.probes(Q).astype(np.int32)))

        return queries.select(
            "query_id", *extra_cols, F.explode(probe(F.col("qvec"))).alias(CLUSTER_COL)
        )

    def _lists(self, metric: Metric):
        from vicinity_spark.operators.grid import InvertedLists

        return InvertedLists(self.params["centroids"], self.params["nprobe"])

    def _scored(
        self, corpus: DataFrame, queries: DataFrame, k: "int | None", metric: Metric
    ) -> DataFrame:
        """Probed-list rows scored by the dense cell kernel over
        `grid.cell_scan` cells (`probe_scan` for a bounded batch,
        `cluster_grid` for an unbounded table); with ``k`` each cell
        keeps its per-query top ``k``, with None (range search) every
        probed row, scored in _CCHUNK-row slices so the merge matrix
        stays queries × _CCHUNK whatever the cell size."""
        from vicinity_spark.operators.grid import _CCHUNK, cell_scan, dense_cell_topk
        from vicinity_spark.operators.knn import _KNN_SCHEMA

        def kernel(ids, X, qids, Q, key):
            X = X.astype(np.float64)
            if k is not None:
                yield dense_cell_topk(qids, ids, X, Q, metric, k)
                return
            for s in range(0, len(ids), _CCHUNK):
                e = s + _CCHUNK
                yield dense_cell_topk(qids, ids[s:e], X[s:e], Q, metric, _CCHUNK)

        return cell_scan(
            corpus, queries, "vector", kernel, _KNN_SCHEMA, lists=self._lists(metric)
        )

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
