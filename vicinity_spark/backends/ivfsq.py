"""IVF-SQ composite strategy — the Spark analog of FAISS `ivf_scalar`
(reference faiss.py:103-104: IVF coarse quantizer over SQ8-encoded
vectors, the IndexIVFScalarQuantizer design).

Build: MLlib KMeans coarse clustering (`__cluster` inverted-list
layout + centroids in metadata, exactly backends/ivf.py) composed with
the per-dimension min/max scalar quantizer (`__code: array<smallint>`,
exactly backends/sq.py). Scan payload per row: 4 bytes cluster + dim
bytes of codes — the IVF prune and the 4-8× SQ byte reduction stack.

Query: SQStrategy's code scan over the inverted lists — the one hook
this class takes from IVF is `_lists` (grid.InvertedLists), and
`grid.cell_scan` routes the scan exactly as it routes IVF's: a bounded
batch is probed on the driver and scanned in one corpus pass
restricted to the probed lists (grid.probe_scan); a larger query table
folds each inverted list's SQ codes into one block row that joins ONLY
the query blocks probing it (grid.cluster_grid — an unprobed list
ships nowhere). Either way each cell gets only the
queries that probe its list, dequantizes with the closure-resident
codebook (2×dim doubles) and runs the chunked dense partial top-k; the
exact re-rank on true vectors follows (RerankStrategy phase 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from vicinity_spark.backends.ivf import IVFStrategy
from vicinity_spark.backends.sq import SQStrategy
from vicinity_spark.datatypes import Backend, Metric


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
    _lists = IVFStrategy._lists
