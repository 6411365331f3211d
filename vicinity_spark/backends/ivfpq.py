"""IVF-PQ composite strategy — the Spark analog of FAISS `ivfpq`
(faiss.py:105-110: coarse KMeans inverted lists + product-quantized
RESIDUAL codes, the IndexIVFPQ design).

Build: the corpus is transformed into the metric space (cosine →
unit-normalized, L2 family → identity), coarse-clustered there (MLlib
KMeans, `__cluster` layout + centroids in metadata), and each row's
*residual* (transformed vector − its centroid) is product-quantized to
`__pqcode`. Residual encoding is what makes IVFPQ better than plain PQ
at the same byte budget: residual magnitudes are much smaller than
vector magnitudes, so the per-subspace codebooks spend their 8 bits on
the fine structure instead of re-describing the coarse position.
Insert: IVF's list assignment, then the residual (and refinement)
codes with the stored centroids and codebooks — each layout column one
`session.vector_column`, so a driver-built insert batch is assigned
and encoded on the driver and stays a LocalRelation. The IVF half is
`IVFStrategy.build` / `on_insert` called on this strategy's own params.

Query: PQStrategy's ADC scan over the inverted lists — this class
overrides its `_lists` and `_cell_tables` hooks (and, for IVFPQR, the
stage plan `_stages`). A bounded batch
is probed on the driver and scanned in one corpus pass restricted to
the probed lists (grid.probe_scan); a larger query table folds each
inverted list's rows into one block row joined ONLY to the query
blocks that probe it (grid.cluster_grid). Each cell computes its
queries' residual ADC tables against that single centroid
executor-side — centroids and codebooks ride in the task closure. The
usual exact re-rank on true vectors follows inside the same scan
(RerankStrategy): the ADC ranks 4 bytes cluster + m bytes code per
row, independent of dim, and the scan also reads each probed row's
true vector, which the task scores for its local pool only. Nothing
joins back to the corpus, in `query_df` as in the facade.

Metrics without a clean residual-L2 decomposition (inner product,
hamming, tanimoto, manhattan) fall back to the non-residual path of
the parent PQStrategy (metric-aware ADC on whole vectors, same probed-
list masking), so every metric stays served.

IVFPQR (`refine_m > 0`): a second, finer PQ on the post-reconstruction
residual re-ranks candidates from codes alone, inside the scan task,
from the carried (cluster, pqcode, rcode), where FAISS IndexIVFPQR
would otherwise need a full-width second scan (faiss.py:111-113). NOTE
a deliberate default-on divergence: with `final_refine` (default 2)
the scan also reads the probed rows' true vectors, each task scores
its pool exactly, and only each query's final_refine·k code re-rank
winners keep that score, so emitted distances are exact
(hash-checkable against the exact-kNN oracle). Set `final_refine=0` for FAISS IndexIVFPQR
parity (pure reconstruction distances; the scan reads codes only, no
vector). The recall-floor test (test_evaluate_ann_recall_floor) is
the stated backstop if params/testdata regeneration ever stops the
code re-rank from containing the true top-k at the gate params.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vicinity_spark.backends.ivf import CLUSTER_COL, IVFStrategy
from vicinity_spark.backends.pq import (
    CODE_COL,
    CODES_TYPE,
    PQStrategy,
    _normalized,
    _train_sample,
    decode,
    encode,
    l2_tables,
    train_codebooks,
)
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.functions.metrics import normalize_expr
from vicinity_spark.operators.knn import _np_pairwise
from vicinity_spark.session import vector_column

_RESIDUAL_METRICS = (Metric.COSINE, Metric.EUCLIDEAN, Metric.L2_SQUARED)

RCODE_COL = "__rcode"


class IVFPQStrategy(PQStrategy):
    backend = Backend.IVFPQ
    exact = False

    def __init__(
        self,
        nlist: int = 32,
        nprobe: int = 4,
        residual: bool = True,
        centroids=None,
        refine_m: int = 0,
        rbooks=None,
        **params,
    ):
        """refine_m > 0 enables the FAISS `ivfpqr` re-rank
        (faiss.py:111-113, IndexIVFPQR): a second, finer product
        quantizer encodes the residual left AFTER the primary PQ
        reconstruction, and the candidate re-rank reconstructs x̂ ≈
        centroid + decode(pqcode) + decode(rcode) from codes alone —
        m + refine_m bytes per candidate row instead of the dim×4-byte
        true vector; with ``final_refine=0`` the scan reads no vector
        at all. refine_m == 0 (default) keeps the exact-vector re-rank:
        higher fidelity, and the scan reads each probed row's vector."""
        super().__init__(centroids=centroids, **params)
        self.params["nlist"] = int(nlist)
        self.params["nprobe"] = int(nprobe)
        self.params["residual"] = bool(residual)
        self.params["refine_m"] = int(refine_m)
        self.params["rbooks"] = rbooks

    # ---- residual machinery -----------------------------------------
    def _use_residual(self, metric: Metric) -> bool:
        return self.params["residual"] and metric in _RESIDUAL_METRICS

    def _residual_codes(self, out: DataFrame, dim: int) -> DataFrame:
        """``out`` (metric-space ``__tvec`` plus ``__cluster``) with
        ``__pqcode``, the residual to the row's centroid under the
        stored codebooks, and with ``refine_m`` ``__rcode``, the
        residual left after decoding it — the IndexIVFPQR layout;
        ``__tvec`` dropped. Each code is one `session.vector_column`."""
        books = self._codebooks()
        C = np.asarray(self.params["centroids"], dtype=np.float64)
        enc = lambda X, cl: encode(X - C[cl], books)  # noqa: E731
        out = vector_column(out, CODE_COL, CODES_TYPE, enc, "__tvec", CLUSTER_COL)
        if self.params["refine_m"]:
            self._train_refinement(out, dim)
            rbooks = self._rbooks()
            renc = lambda X, cl, c1: encode(X - self._decode_primary(cl, c1), rbooks)  # noqa: E731
            out = vector_column(out, RCODE_COL, CODES_TYPE, renc, "__tvec", CLUSTER_COL, CODE_COL)
        return out.drop("__tvec")

    def _metric_space(self, df: DataFrame, metric: Metric, assign) -> DataFrame:
        """``assign(df')`` (IVF's build or insert: ``__cluster`` added)
        for ``df'`` = ``df`` with its vectors moved to the metric space
        (the unit sphere for cosine, else unchanged); then ``__tvec``
        holds those vectors and ``vector`` the original column again
        (kept for the exact re-rank and the payload)."""
        v = F.col("vector")
        t = normalize_expr(v) if metric is Metric.COSINE else v.cast("array<double>")
        tdf = (
            df.withColumn("__tvec", t)
            .withColumnRenamed("vector", "__orig")
            .withColumnRenamed("__tvec", "vector")
        )
        out = assign(tdf)
        return out.withColumnRenamed("vector", "__tvec").withColumnRenamed("__orig", "vector")

    # ---- build -------------------------------------------------------
    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        if not self._use_residual(metric):
            return super().build(IVFStrategy.build(self, df, metric, dim), metric, dim)
        self.params["dim"] = int(dim)
        m = self.params["m"]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
        # coarse-cluster the metric-space vectors
        out = self._metric_space(df, metric, lambda t: IVFStrategy.build(self, t, metric, dim))
        if self.params.get("codebooks") is None:
            sample = _train_sample(
                out, ["__tvec", CLUSTER_COL], self.params["train_sample"], self.params["seed"]
            )
            S = np.vstack(sample["__tvec"].to_numpy()).astype(np.float64)
            C = np.asarray(self.params["centroids"], dtype=np.float64)
            R = S - C[sample[CLUSTER_COL].to_numpy().astype(int)]
            self.params["codebooks"] = train_codebooks(
                R, m, self.params["ksub"], self.params["seed"]
            )
        return self._residual_codes(out, dim)

    # ---- ivfpqr refinement codes (faiss.py:111-113) ------------------
    def _decode_primary(self, cl: np.ndarray, code1: np.ndarray) -> np.ndarray:
        """x̂₁ = centroid + primary-PQ decode of the residual codes."""
        C = np.asarray(self.params["centroids"], dtype=np.float64)
        return C[cl.astype(int)] + decode(code1, self._codebooks())

    def _rbooks(self) -> np.ndarray:
        return np.asarray(self.params["rbooks"], dtype=np.float64)

    def _train_refinement(self, out: DataFrame, dim: int) -> None:
        """Train the refinement quantizer, once, on the
        residual-of-residual (x_t − x̂₁) of ``out``'s rows."""
        rm = self.params["refine_m"]
        if dim % rm != 0:
            raise ValueError(f"dim {dim} not divisible by refine_m={rm} subspaces")
        if self.params.get("rbooks") is None:
            sample = _train_sample(
                out,
                ["__tvec", CLUSTER_COL, CODE_COL],
                self.params["train_sample"],
                self.params["seed"] + 101,
            )
            S = np.vstack(sample["__tvec"].to_numpy()).astype(np.float64)
            cl = sample[CLUSTER_COL].to_numpy()
            c1 = np.vstack(sample[CODE_COL].to_numpy()).astype(np.int64)
            R2 = S - self._decode_primary(cl, c1)
            self.params["rbooks"] = train_codebooks(
                R2, rm, self.params["ksub"], self.params["seed"] + 1000
            )

    def _recon_distance(self, metric: Metric):
        """``distance(frame, Qrows)``: each row's distance from its
        query (a row of ``Qrows``) to the two-stage reconstruction of
        the frame's (cluster, pqcode, rcode) — the code re-rank score
        of `_stages`."""
        rbooks = self._rbooks()

        def distance(f: pd.DataFrame, Qr: np.ndarray) -> np.ndarray:
            code1 = np.vstack(f[CODE_COL].to_numpy()).astype(np.int64)
            code2 = np.vstack(f[RCODE_COL].to_numpy()).astype(np.int64)
            recon = self._decode_primary(f[CLUSTER_COL].to_numpy(), code1) + decode(code2, rbooks)
            return _np_pairwise(metric, _normalized(Qr, metric), recon)

        return distance

    def _refines(self, metric: Metric) -> bool:
        """True when candidates re-rank on the refinement codes."""
        return bool(self.params["refine_m"]) and self._use_residual(metric)

    def _stages(self, k: int, metric: Metric):
        """The ivfpqr cuts: the pool by code distance, then by
        reconstruction distance (`_recon_distance`, from the carried
        codes), then, with ``final_refine``, the
        ``final_refine × k`` winners by exact distance (from the carried
        vector). On a metric without the residual decomposition,
        ``refine_m`` falls back to the exact re-rank."""
        if not self._refines(metric):
            return super()._stages(k, metric)
        fr = int(self.params.get("final_refine", 2))
        exact = super()._stages(k, metric)[2] if fr else None
        distance = self._recon_distance(metric)

        def extras(f, Qr):
            f = f.assign(**{"__recon": distance(f, Qr)})
            return f if exact is None else exact(f, Qr)

        read = (CLUSTER_COL, CODE_COL, RCODE_COL)
        if not fr:
            return [("distance", self._kk(k)), ("__recon", k)], read, extras
        stages = [("distance", self._kk(k)), ("__recon", max(k * fr, k)), ("__exact", k)]
        return stages, read + ("vector",), extras

    # named in the class so per-class instrumentation that wraps only a
    # class's own methods (perfbench/run.py spans) still sees it
    knn = PQStrategy.knn

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        # lists, codebooks and refinement books trained at build;
        # appended rows are assigned and encoded with them
        if not self._use_residual(metric):
            return super().on_insert(IVFStrategy.on_insert(self, new_df, metric, dim), metric, dim)
        out = self._metric_space(
            new_df, metric, lambda t: IVFStrategy.on_insert(self, t, metric, dim)
        )
        return self._residual_codes(out, dim)

    # ---- query -------------------------------------------------------
    def _lists(self, metric: Metric):
        """Probing runs in the space the lists were clustered in:
        metric space in residual mode, raw for the fallback. Each cell
        then scores only the queries that probe its inverted list — no
        +inf masking, a cell only ever scores its own list."""
        from vicinity_spark.operators.grid import InvertedLists

        space = (lambda Q: _normalized(Q, metric)) if self._use_residual(metric) else None
        return InvertedLists(self.params["centroids"], self.params["nprobe"], space)

    def _cell_tables(self, metric: Metric):
        """Residual mode: squared-L2 tables of each probing query's
        metric-space residual against the cell's own centroid. Other
        metrics: the parent's whole-vector tables."""
        if not self._use_residual(metric):
            return super()._cell_tables(metric)
        books = self._codebooks()
        C = np.asarray(self.params["centroids"], dtype=np.float64)
        return lambda Q, key: l2_tables(_normalized(Q, metric) - C[key[CLUSTER_COL]], books)
