"""IVF-SQ composite strategy — the Spark analog of FAISS `ivf_scalar`
(reference faiss.py:103-104: IVF coarse quantizer over SQ8-encoded
vectors, the IndexIVFScalarQuantizer design).

Build: MLlib KMeans coarse clustering (`__cluster` inverted-list
layout + centroids in metadata, exactly backends/ivf.py) composed with
the per-dimension min/max scalar quantizer (`__code: array<smallint>`,
exactly backends/sq.py). Scan payload per row: 4 bytes cluster + dim
bytes of codes — the IVF prune and the 4-8× SQ byte reduction stack.

Query: a cluster-keyed block grid (the shape backends/ivfpq.py uses
for PQ codes). Each inverted list's SQ codes fold into one block row;
query blocks join ONLY the clusters they probe (nprobe pruning
expressed at the block level — an unprobed list ships nowhere). Each
grid cell dequantizes with the closure-resident codebook (2×dim
doubles) and runs the chunked dense partial top-k; the exact re-rank
on true vectors follows (RerankStrategy phase 2). No driver collect of
the query table anywhere, so the path holds at any query-batch size.
The grid itself is grid.cluster_grid, shared with backends/ivfpq.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from vicinity_spark.backends.ivf import CLUSTER_COL, IVFStrategy
from vicinity_spark.backends.sq import CODE_COL, SQStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.operators.knn import _KNN_SCHEMA


class IVFSQStrategy(SQStrategy):
    backend = Backend.IVFSQ
    exact = False

    def __init__(
        self,
        nlist: int = 32,
        nprobe: int = 8,
        seed: int = 42,
        centroids=None,
        refine: int = 4,
        mins=None,
        scales=None,
        **params,
    ):
        super().__init__(refine=refine, mins=mins, scales=scales, **params)
        self.params["nlist"] = int(nlist)
        self.params["nprobe"] = int(nprobe)
        self.params["seed"] = int(seed)
        self.params["centroids"] = centroids
        self._ivf = IVFStrategy(
            nlist=int(nlist), nprobe=int(nprobe), seed=int(seed), centroids=centroids
        )

    # ---- build -------------------------------------------------------
    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        out = self._ivf.build(df, metric, dim)
        self.params["centroids"] = self._ivf.params["centroids"]
        # SQStrategy.build trains the scalar codebook and adds __code
        return super().build(out, metric, dim)

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        # train once, add many: cluster assignment from stored centroids,
        # codes from the stored min/scale ranges
        self._ivf.params["centroids"] = self.params["centroids"]
        return super().on_insert(self._ivf.on_insert(new_df, metric, dim), metric, dim)

    # ---- query -------------------------------------------------------
    def _candidates(
        self, corpus: DataFrame, queries: DataFrame, kk: int, metric: Metric
    ) -> DataFrame:
        """Cluster-keyed block grid over SQ codes (grid.cluster_grid):
        each cell dequantizes its inverted list with the closure-resident
        codebook and scores only the queries that probe it."""
        from vicinity_spark.operators.grid import cell_arrays, cluster_grid, dense_cell_topk

        mins = np.asarray(self.params["mins"])
        scales = np.asarray(self.params["scales"])
        grid, probe_mask = cluster_grid(
            corpus, queries, self.params["centroids"], self.params["nprobe"], CODE_COL
        )

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for i in range(len(pdf)):
                    ids, codes, qids, Q = cell_arrays(pdf, i)
                    mask = probe_mask(Q, int(pdf[CLUSTER_COL].iloc[i]))
                    if not mask.any():
                        continue
                    X = codes.astype(np.float64) * scales[None, :] + mins[None, :]
                    yield dense_cell_topk(qids[mask], ids, X, Q[mask], metric, kk)

        return grid.mapInPandas(fn, _KNN_SCHEMA)
