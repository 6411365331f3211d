"""Scalar-quantization (SQ8) strategy — the Spark analog of FAISS's
compressed indexes (`scalar` SQ8 faiss.py:93-95, and the design slot
for `pq`/`ivfpq` faiss.py:96-110; SURVEY.md §4 "Compression" row).

Build: one aggregation pass computes per-dimension min/max; vectors are
quantized to uint8 codes (`__code: array<smallint>`), a 4× byte
reduction of the scan payload — at 100 TB that is the difference
between scanning 25 TB and 100 TB per query sweep. The codebook
(mins/scales, 2×dim doubles) lives in params/metadata.

Query: two-phase. Phase 1 scans only (id, __code), dequantizes in the
vectorized partial-top-k kernel, and keeps k×refine candidates per
query. Phase 2 re-ranks candidates with exact distances on the true
vectors — a join against the corpus touching only the candidate
rows (RerankStrategy). Recall is governed by `refine` (evaluate() gates it).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vicinity_spark.backends.base import RerankStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.operators.knn import _KNN_SCHEMA

CODE_COL = "__code"


class SQStrategy(RerankStrategy):
    backend = Backend.SQ
    exact = False

    def __init__(self, refine: int = 4, mins=None, scales=None, **params):
        super().__init__(refine=int(refine), mins=mins, scales=scales, **params)

    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        self.params["dim"] = int(dim)
        if self.params.get("mins") is None or self.params.get("scales") is None:
            # fit once; PRESET bounds are honored (the constructor
            # accepts mins=/scales= — same contract as LSH's preset
            # means; the recall-summary branch and reloaded stores
            # depend on build not clobbering them)
            # one mapInPandas partial-agg pass (functions/stats.py):
            # plan width independent of dim, unlike 2×dim aggregates
            from vicinity_spark.functions.stats import vector_stats

            stats = vector_stats(df, "vector")
            mins = [float(x) for x in stats.min]
            maxs = [float(x) for x in stats.max]
            scales = [
                (mx - mn) / 255.0 if mx > mn else 1.0 for mn, mx in zip(mins, maxs)
            ]
            self.params["mins"], self.params["scales"] = mins, scales
        return df.withColumn(CODE_COL, self._encode_expr())

    def _encode_expr(self):
        mins = F.array(*[F.lit(m) for m in self.params["mins"]])
        scales = F.array(*[F.lit(s) for s in self.params["scales"]])
        return F.transform(
            F.col("vector"),
            lambda x, i: F.least(
                F.greatest(
                    F.round(
                        (x.cast("double") - F.element_at(mins, i + 1))
                        / F.element_at(scales, i + 1)
                    ),
                    F.lit(0.0),
                ),
                F.lit(255.0),
            ).cast("short"),
        )

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        # codebook trained once at build (FAISS trains once, adds many:
        # faiss.py:24-32); new rows are encoded with the existing ranges
        return new_df.withColumn(CODE_COL, self._encode_expr())

    # ---- phase 1: approximate candidates over codes ------------------
    def _candidates(
        self, corpus: DataFrame, queries: DataFrame, kk: int, metric: Metric
    ) -> DataFrame:
        """Block-grid quantized scan (same shape as the PQ path): corpus
        code blocks × query blocks, dequantize + chunked partial top-k
        inside each grid cell. The codebook (2×dim doubles) rides in the
        closure; query vectors arrive through the join — no driver
        collect of the query table."""
        from vicinity_spark.operators.grid import (
            cell_arrays,
            corpus_blocks,
            dense_cell_topk,
            query_blocks,
        )

        mins = np.asarray(self.params["mins"])
        scales = np.asarray(self.params["scales"])
        grid = corpus_blocks(corpus, CODE_COL).crossJoin(query_blocks(queries))

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for i in range(len(pdf)):
                    ids, codes, qids, Q = cell_arrays(pdf, i)
                    X = codes.astype(np.float64) * scales[None, :] + mins[None, :]
                    yield dense_cell_topk(qids, ids, X, Q, metric, kk)

        return grid.mapInPandas(fn, _KNN_SCHEMA)
