"""Exact brute-force strategy — the analog of the reference's BASIC
backend (vicinity/backends/basic.py:98-247): flat layout, exact
distances, the ground truth every ANN strategy is measured against
(vicinity/vicinity.py:363-368). Both queries take `knn_join` /
`threshold_join` with their default `auto` plan: one `grid.cell_scan`
of the kernels `_cells` / `_range_cells` hand the facade's scan.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

from vicinity_spark.backends.base import IndexStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.operators.grid import _CTARGET
from vicinity_spark.operators.knn import knn_join, threshold_join, topk_cells, within_cells


class ExactStrategy(IndexStrategy):
    backend = Backend.BASIC
    exact = True

    def _cells(self, metric: Metric, k: int):
        return "vector", topk_cells(metric, k), _CTARGET

    def _range_cells(self, metric: Metric, threshold: float):
        return "vector", within_cells(metric, threshold), _CTARGET

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
        # exact range search: max_k does not cap it (basic.py:149-172)
        return threshold_join(
            corpus,
            queries,
            threshold=threshold,
            metric=metric,
            payload_cols=payload_cols,
            dim=self.params.get("dim"),
        )
