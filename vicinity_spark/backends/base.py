"""Strategy contract — the Spark analog of the reference's backend ABC
(vicinity/backends/base.py:42-107). A strategy owns the *physical
layout* of the vector DataFrame (extra columns such as LSH buckets or
IVF cluster ids) and the *candidate plan* used for k-NN / threshold
queries; `IndexStrategy` owns the rest of the query pipeline, so every
strategy returns results of one shape with one tie order.

The contract:

- `_scored(corpus, queries, k, metric)` is the one hook a strategy
  supplies: scored candidate rows `(query_id, id, distance)` with RAW
  (unclipped) distances, at most one row per (query_id, id). `k` is the
  result size the caller asked for; strategies that prune internally
  (code scans, beam pools) size their pools from it. The range-search
  strategies (IVF, LSH) ignore it, and `_within` passes None.
- Dense scans: the exact, IVF, SQ/PQ and IVF-SQ/PQ candidate scans
  are one `grid.cell_scan` call each, which alone picks the plan. A
  query batch of at most AUTO_GRID_QUERY_ROWS rows is scored in one
  broadcast-query scan of the corpus partitions (`grid.probe_scan`;
  IVF strategies probe on the driver and push the probed lists into
  the scan); a larger query table runs the block grid (`cluster_grid`
  for IVF strategies), which never collects it. LSH and graph join
  their own candidates.
- `knn` rejects `k < 1`, keeps each query's top `k` by
  `(distance, id)` — the id tiebreak makes the cut independent of the
  physical layout at exact ties — and only then clips the returned
  distances to ≥ 0 (clip-after-rank, the reference's argsort-then-clip
  order). Payload columns are left-joined by id last. Output columns:
  `query_id, id, distance, rank, *payload`.
- `threshold` returns `query_id, id, distance, *payload` for
  `distance <= threshold`. By default it is the reference's ANN radius
  search: the top `max_k` by the same cut, then the `<=` filter
  (hnsw.py:107-114, usearch.py:131-139) — sq, pq, ivfpq, ivfsq and
  graph. IVF and LSH override it with a range search over their probed
  candidates (`_within`), and the exact strategy with an exact range
  search; those three ignore `max_k`, as the reference's BASIC and
  range-search backends do (basic.py:149-172).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.functions.metrics import clip_distance
from vicinity_spark.operators.knn import (
    KNN_COLS,
    RADIUS_COLS,
    clipped_topk,
    join_payload,
    score_joined,
    topk_by_distance,
)


class IndexStrategy:
    """Base: build layout columns at ingest, plan queries at read time.

    Mirrors the abstract contract at base.py:42-107 (`from_vectors`,
    `query`, `threshold`, `insert`, `delete`) reshaped for DataFrames:
    build() decorates the corpus with layout columns; knn()/threshold()
    return result DataFrames; on_insert() re-decorates appended rows.
    """

    backend = Backend.BASIC
    #: strategies that guarantee exact results (recall 1.0)
    exact = True

    def __init__(self, **params):
        self.params = dict(params)

    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        """Add layout columns. Default: none (flat layout)."""
        self.params["dim"] = int(dim)
        return df

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        """Decorate appended rows with layout columns (F9 analog)."""
        return self.build(new_df, metric, dim)

    def _lists(self, metric: Metric):
        """The inverted lists a cell scan probes (grid.InvertedLists);
        None: a flat scan."""
        return None

    def _scored(
        self, corpus: DataFrame, queries: DataFrame, k: "int | None", metric: Metric
    ) -> DataFrame:
        """(query_id, id, distance) scored candidates, RAW distances."""
        raise NotImplementedError

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
        ranked = clipped_topk(self._scored(corpus, queries, k, metric), k)
        return join_payload(ranked, corpus, payload_cols, KNN_COLS)

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
        res = self.knn(corpus, queries, k=max_k, metric=metric, payload_cols=payload_cols)
        return res.where(F.col("distance") <= F.lit(float(threshold))).drop("rank")

    def _within(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        threshold: float,
        metric: Metric,
        payload_cols: Optional[Sequence[str]],
    ) -> DataFrame:
        """Range search: every scored candidate with a RAW distance
        `<= threshold`, uncapped."""
        hits = (
            self._scored(corpus, queries, None, metric)
            .where(F.col("distance") <= F.lit(float(threshold)))
            .withColumn("distance", clip_distance(F.col("distance")))
        )
        return join_payload(hits, corpus, payload_cols, RADIUS_COLS)

    # persistence of strategy state (e.g. fitted MLlib models, derived
    # index layouts such as LSH posting lists) ------------------------
    def save_extra(
        self, path: str, df: Optional[DataFrame] = None, *, adopt_layout: bool = True
    ) -> None:
        """``adopt_layout=False`` writes the layout without re-pointing
        any live strategy state at it — for saves into a staging folder
        that will not outlive the store (push_to_hub's temp dir)."""
        pass

    def load_extra(self, path: str, spark) -> None:
        pass

    def to_params(self) -> dict:
        """JSON-ready params: numpy arrays (preset ``centroids=``)
        become nested float lists."""
        return {
            k: v.astype(np.float64).tolist() if isinstance(v, np.ndarray) else v
            for k, v in self.params.items()
        }


class RerankStrategy(IndexStrategy):
    """Two-phase scoring for the code-scan strategies (sq, pq and their
    IVF composites): approximate candidates over compact codes, each
    query's top `k × refine` of them by `(distance, id)`, then an exact
    re-score of only those rows against the true vectors. Recall is
    governed by `refine`."""

    def _candidates(
        self, corpus: DataFrame, queries: DataFrame, kk: int, metric: Metric
    ) -> DataFrame:
        """(query_id, id, approximate distance) — at least each query's
        top `kk` over the codes (more rows are allowed; _pool cuts)."""
        raise NotImplementedError

    def _pool(
        self, corpus: DataFrame, queries: DataFrame, k: int, metric: Metric
    ) -> DataFrame:
        """(query_id, id) — each query's top `k × refine` candidates."""
        kk = max(k * self.params["refine"], k)
        cand = self._candidates(corpus, queries, kk, metric)
        return topk_by_distance(cand, kk, "__r0").select("query_id", "id")

    def _scored(
        self, corpus: DataFrame, queries: DataFrame, k: int, metric: Metric
    ) -> DataFrame:
        # no broadcast hint: the pool scales with the query batch; AQE
        # broadcasts it at runtime when it is actually small
        joined = self._pool(corpus, queries, k, metric).join(
            corpus.select("id", "vector"), "id"
        )
        return score_joined(joined, queries, metric)
