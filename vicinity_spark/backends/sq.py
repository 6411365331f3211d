"""Scalar-quantization (SQ8) strategy — the Spark analog of FAISS's
compressed indexes (`scalar` SQ8 faiss.py:93-95, and the design slot
for `pq`/`ivfpq` faiss.py:96-110; SURVEY.md §4 "Compression" row).

Build: one aggregation pass computes per-dimension min/max; vectors are
quantized to uint8 codes (`__code: array<smallint>`), a 4× byte
reduction of what the first phase ranks on. The codebook (mins/scales,
2×dim doubles) lives in params/metadata.

Query: two-phase, in one scan. Phase 1 ranks on (id, __code),
dequantized in the vectorized partial-top-k kernel, and keeps k×refine
candidates per query. Phase 2 re-ranks those candidates with exact
distances on the true vectors, which the scan reads beside the codes
for every scanned row; the task scores only its local pool, and
nothing joins back to the corpus (RerankStrategy). So the 4× byte
reduction is in what the ranking decodes and compares, not in what
the scan reads. Recall is governed by `refine` (evaluate() gates it).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vicinity_spark.backends.base import RerankStrategy
from vicinity_spark.datatypes import Backend, Metric

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
    def _cells(self, metric: Metric, kk: int):
        """Quantized cell kernel (same shape as the PQ path): dequantize
        + chunked partial top-kk inside each cell. The codebook (2×dim
        doubles) rides in the closure."""
        from vicinity_spark.operators.grid import _CTARGET, dense_cell_topk

        mins = np.asarray(self.params["mins"])
        scales = np.asarray(self.params["scales"])

        def kernel(ids, codes, qids, Q, key):
            X = codes.astype(np.float64) * scales[None, :] + mins[None, :]
            yield dense_cell_topk(qids, ids, X, Q, metric, kk)

        return CODE_COL, kernel, _CTARGET
