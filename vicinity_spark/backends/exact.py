"""Exact brute-force strategy — the analog of the reference's BASIC
backend (vicinity/backends/basic.py:98-247): flat layout, exact
distances, the ground truth every ANN strategy is measured against
(vicinity/vicinity.py:363-368).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

from vicinity_spark.backends.base import IndexStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.operators.knn import knn_join, threshold_join


class ExactStrategy(IndexStrategy):
    backend = Backend.BASIC
    exact = True

    def knn(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int,
        metric: Metric,
        *,
        payload_cols: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        return knn_join(
            corpus,
            queries,
            k=k,
            metric=metric,
            payload_cols=payload_cols,
            algorithm=self.params.get("algorithm", "auto"),
            dim=self.params.get("dim"),
        )

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
        # exact range search: max_k does not cap it (basic.py:149-172).
        # params["algorithm"] names a KNN plan (window/partial/grid/auto);
        # only "grid" has a threshold twin — map everything else to the
        # auto router so an unbounded query table is never force-broadcast
        algo = self.params.get("threshold_algorithm") or (
            "grid" if self.params.get("algorithm") == "grid" else "auto"
        )
        return threshold_join(
            corpus,
            queries,
            threshold=threshold,
            metric=metric,
            payload_cols=payload_cols,
            dim=self.params.get("dim"),
            algorithm=algo,
        )
