"""IVF-SQ composite strategy — the Spark analog of FAISS `ivf_scalar`
(reference faiss.py:103-104: IVF coarse quantizer over SQ8-encoded
vectors, the IndexIVFScalarQuantizer design).

Build: MLlib KMeans coarse clustering (`__cluster` inverted-list
layout + centroids in metadata: `IVFStrategy.build` itself, run on
this strategy's params, and likewise `on_insert`) composed with
the per-dimension min/max scalar quantizer (`__code: array<smallint>`,
exactly backends/sq.py). Scan payload per row: 4 bytes cluster + dim
bytes of codes, ranked by the IVF prune and the SQ decode; the
re-rank reads each probed row's vector as well.

Query: SQStrategy's code scan over the inverted lists — the one hook
this class takes from IVF is `_lists` (grid.InvertedLists), and
`grid.cell_scan` routes the scan exactly as it routes IVF's: a bounded
batch is probed on the driver and scanned in one corpus pass
restricted to the probed lists (grid.probe_scan); a larger query table
folds each inverted list's SQ codes and vectors into one block row
that joins ONLY the query blocks probing it (grid.cluster_grid — an
unprobed list ships nowhere). Either way each cell gets only the
queries that probe its list, dequantizes with the closure-resident
codebook (2×dim doubles) and runs the chunked dense partial top-k; the
exact re-rank on the true vectors the scan carries follows in the same
task (RerankStrategy phase 2), with no join back to the corpus.
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

    # ---- build -------------------------------------------------------
    # IVF's methods run on this strategy's own params (centroids, nlist,
    # nprobe, seed), as `_lists` does
    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        # SQStrategy.build trains the scalar codebook and adds __code
        return super().build(IVFStrategy.build(self, df, metric, dim), metric, dim)

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        # train once, add many: cluster assignment from stored centroids,
        # codes from the stored min/scale ranges
        return super().on_insert(IVFStrategy.on_insert(self, new_df, metric, dim), metric, dim)

    # ---- query -------------------------------------------------------
    _lists = IVFStrategy._lists
