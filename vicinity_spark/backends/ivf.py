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
assign clusters without refitting.

Query = probe the nprobe nearest centroids per query (executor-side
pandas UDF; the tiny centroid matrix rides in the closure) → equi-join
corpus on `__cluster` (Catalyst prunes every other cluster's
partitions) → exact re-rank.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vicinity_spark.backends.base import IndexStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.functions.metrics import clip_distance, distance_expr
from vicinity_spark.session import local_frame

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
        """Assign nearest centroid to appended rows — no refit (the
        reference's trainable indexes likewise train once, add many)."""
        cent = self._centroid_df(new_df.sparkSession)
        d = distance_expr(Metric.EUCLIDEAN, F.col("vector"), F.col("__cvec"))
        w = Window.partitionBy("id").orderBy(d, F.col(CLUSTER_COL))
        return (
            new_df.crossJoin(F.broadcast(cent))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__cvec")
        )

    def _centroid_df(self, spark) -> DataFrame:
        C = self.centroids
        return local_frame(
            spark,
            {CLUSTER_COL: np.arange(len(C), dtype=np.int32), "__cvec": list(C)},
            f"{CLUSTER_COL} int, __cvec array<double>",
        )

    def _probe_df(self, queries: DataFrame, extra_cols: Sequence[str] = ()) -> DataFrame:
        """(query_id, *extra_cols, __cluster) for the nprobe nearest
        centroids — computed *executor-side* in an Arrow-vectorized
        pandas UDF with the tiny centroid matrix riding in the closure
        (same pattern as LSH's _probe_df): no driver collect, so a
        10M-row query table probes in parallel instead of bottlenecking
        the driver. `extra_cols` ride along for the streaming serving
        path (ts + qvec, so scoring never re-joins the query stream)."""
        from pyspark.sql.types import ArrayType, IntegerType

        C = self.centroids
        nprobe = min(self.params["nprobe"], len(C))

        from vicinity_spark.operators.grid import nearest_centroids

        Csq = (C * C).sum(axis=1)

        @F.pandas_udf(ArrayType(IntegerType()))
        def probe(v: pd.Series) -> pd.Series:
            Q = np.vstack(v.to_numpy()).astype(np.float64)
            sel, _ = nearest_centroids(Q, C, nprobe, Csq)
            return pd.Series(list(sel.astype(np.int32)))

        return queries.select(
            "query_id", *extra_cols, F.explode(probe(F.col("qvec"))).alias(CLUSTER_COL)
        )

    def _scored(self, corpus: DataFrame, queries: DataFrame, metric: Metric) -> DataFrame:
        """Probed-cluster rows re-scored by the shared vectorized kernel
        (operators/knn.py score_joined). The probe side carries only
        (query_id, __cluster); query vectors ride in the kernel closure.
        Downstream shuffles carry only (query_id, id, distance)."""
        from vicinity_spark.operators.knn import score_joined

        probe = self._probe_df(queries)
        # no broadcast hint: probe is nq×nprobe (scales with the query
        # batch); AQE broadcasts it at runtime when it is actually small
        joined = corpus.join(probe, CLUSTER_COL)
        return score_joined(joined, queries, metric)

    def knn(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int,
        metric: Metric,
        *,
        payload_cols: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        if k < 1:
            raise ValueError("k must be greater than 0")
        scored = self._scored(corpus, queries, metric)
        w = Window.partitionBy("query_id").orderBy(F.col("distance").asc_nulls_last(), F.col("id"))
        out = (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .withColumn("distance", clip_distance(F.col("distance")))
        )
        if payload_cols:
            out = out.join(corpus.select("id", *payload_cols), "id", "left")
        return out.select("query_id", "id", "distance", "rank", *(payload_cols or []))

    def threshold(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        threshold: float,
        metric: Metric,
        *,
        payload_cols: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        scored = (
            self._scored(corpus, queries, metric)
            .where(F.col("distance") <= F.lit(float(threshold)))
            .withColumn("distance", clip_distance(F.col("distance")))
        )
        if payload_cols:
            scored = scored.join(corpus.select("id", *payload_cols), "id", "left")
        return scored.select("query_id", "id", "distance", *(payload_cols or []))
