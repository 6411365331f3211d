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

Query: a cluster-keyed block grid. Each inverted list's codes fold
into one block row; query blocks join ONLY the clusters they probe
(nprobe pruning expressed at the block level), and each grid cell
computes its queries' residual ADC tables against that single centroid
executor-side — centroids and codebooks ride in the task closure, the
query vectors arrive through the join. Nothing collects to the driver,
so the path holds at any query-batch size. The usual exact re-rank on
true vectors follows. Scan payload per row: 4 bytes cluster + m bytes
code, independent of dim.

Metrics without a clean residual-L2 decomposition (inner product,
hamming, tanimoto, manhattan) fall back to the non-residual path of
the parent PQStrategy (metric-aware ADC on whole vectors, same probed-
list masking), so every metric stays served.

IVFPQR (`refine_m > 0`): a second, finer PQ on the post-reconstruction
residual re-ranks candidates from codes alone — the full-width second
scan FAISS IndexIVFPQR avoids (faiss.py:111-113) never happens here
either. NOTE a deliberate default-on divergence: `final_refine`
(default 2) exact-rescores ONLY the nq×(final_refine·k) re-rank
winners via a tiny join back to the true vectors, so emitted distances
are exact (hash-checkable against the exact-kNN oracle). Set
`final_refine=0` for FAISS IndexIVFPQR parity (pure reconstruction
distances). The recall-floor test (test_evaluate_ann_recall_floor) is
the stated backstop if params/testdata regeneration ever stops the
code re-rank from containing the true top-k at the gate params.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, ShortType

from vicinity_spark.backends.ivf import CLUSTER_COL, IVFStrategy
from vicinity_spark.backends.pq import CODE_COL, PQStrategy, _kmeans_np, _train_sample
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.functions.metrics import normalize_expr
from vicinity_spark.operators.knn import _KNN_SCHEMA

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
        m + refine_m bytes per candidate row instead of a dim×4-byte
        second scan of the true vectors. refine_m == 0 (default) keeps
        the exact-vector re-rank: higher fidelity, but at 100 TB it
        re-reads the full-width vector column for the candidate set."""
        super().__init__(centroids=centroids, **params)
        self.params["nlist"] = int(nlist)
        self.params["nprobe"] = int(nprobe)
        self.params["residual"] = bool(residual)
        self.params["refine_m"] = int(refine_m)
        self.params["rbooks"] = rbooks
        self._ivf = IVFStrategy(
            nlist=int(nlist), nprobe=int(nprobe), seed=self.params["seed"], centroids=centroids
        )

    # ---- residual machinery -----------------------------------------
    def _use_residual(self, metric: Metric) -> bool:
        return self.params["residual"] and metric in _RESIDUAL_METRICS

    def _t_expr(self, col, metric: Metric):
        """Metric-space transform: unit sphere for cosine, identity else."""
        c = F.col(col) if isinstance(col, str) else col
        return normalize_expr(c) if metric is Metric.COSINE else c.cast("array<double>")

    def _t_np(self, X: np.ndarray, metric: Metric) -> np.ndarray:
        if metric is Metric.COSINE:
            n = np.linalg.norm(X, axis=1, keepdims=True)
            return np.divide(X, n, out=np.zeros_like(X), where=n != 0)
        return X

    def _residual_encode_kernel(self):
        m = self.params["m"]
        books = self._codebooks()
        C = np.asarray(self.params["centroids"], dtype=np.float64)

        @F.pandas_udf(ArrayType(ShortType()))
        def encode(tv: pd.Series, cl: pd.Series) -> pd.Series:
            X = np.vstack(tv.to_numpy()).astype(np.float64)
            R = X - C[cl.to_numpy().astype(int)]
            dsub = R.shape[1] // m
            codes = np.empty((len(R), m), dtype=np.int16)
            for j in range(m):
                sub = R[:, j * dsub : (j + 1) * dsub]
                d = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1).astype(np.int16)
            return pd.Series(list(codes))

        return encode

    # ---- build -------------------------------------------------------
    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        if not self._use_residual(metric):
            out = self._ivf.build(df, metric, dim)
            self.params["centroids"] = self._ivf.params["centroids"]
            return super().build(out, metric, dim)
        self.params["dim"] = int(dim)
        m = self.params["m"]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
        # coarse-cluster the metric-space vectors; keep the original
        # vector column untouched for the exact re-rank / payload
        tdf = (
            df.withColumn("__tvec", self._t_expr("vector", metric))
            .withColumnRenamed("vector", "__orig")
            .withColumnRenamed("__tvec", "vector")
        )
        out = self._ivf.build(tdf, metric, dim)
        self.params["centroids"] = self._ivf.params["centroids"]
        out = out.withColumnRenamed("vector", "__tvec").withColumnRenamed("__orig", "vector")
        if self.params.get("codebooks") is None:
            sample = _train_sample(
                out, ["__tvec", CLUSTER_COL], self.params["train_sample"], self.params["seed"]
            )
            S = np.vstack(sample["__tvec"].to_numpy()).astype(np.float64)
            C = np.asarray(self.params["centroids"], dtype=np.float64)
            R = S - C[sample[CLUSTER_COL].to_numpy().astype(int)]
            dsub = dim // m
            books = [
                _kmeans_np(
                    R[:, j * dsub : (j + 1) * dsub],
                    self.params["ksub"],
                    self.params["seed"] + j,
                )
                for j in range(m)
            ]
            ksub = min(self.params["ksub"], min(len(b) for b in books))
            self.params["codebooks"] = [
                [[float(x) for x in c] for c in b[:ksub]] for b in books
            ]
        enc = self._residual_encode_kernel()
        out = out.withColumn(CODE_COL, enc(F.col("__tvec"), F.col(CLUSTER_COL)))
        if self.params["refine_m"]:
            out = self._add_refinement_codes(out, dim)
        return out.drop("__tvec")

    # ---- ivfpqr refinement codes (faiss.py:111-113) ------------------
    def _decode_primary(self, cl: np.ndarray, code1: np.ndarray) -> np.ndarray:
        """x̂₁ = centroid + primary-PQ decode of the residual codes."""
        books = self._codebooks()
        C = np.asarray(self.params["centroids"], dtype=np.float64)
        m = self.params["m"]
        dsub = C.shape[1] // m
        recon = C[cl.astype(int)].copy()
        for j in range(m):
            recon[:, j * dsub : (j + 1) * dsub] += books[j][code1[:, j]]
        return recon

    def _rbooks(self) -> np.ndarray:
        return np.asarray(self.params["rbooks"], dtype=np.float64)

    def _add_refinement_codes(self, out: DataFrame, dim: int) -> DataFrame:
        """Train the refinement quantizer on the residual-of-residual
        (x_t − x̂₁) and encode `__rcode` — the IndexIVFPQR layout."""
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
            rdsub = dim // rm
            rbooks = [
                _kmeans_np(
                    R2[:, j * rdsub : (j + 1) * rdsub],
                    self.params["ksub"],
                    self.params["seed"] + 1000 + j,
                )
                for j in range(rm)
            ]
            ksub = min(self.params["ksub"], min(len(b) for b in rbooks))
            self.params["rbooks"] = [
                [[float(x) for x in c] for c in b[:ksub]] for b in rbooks
            ]
        strat = self
        rm_ = rm
        rbooks = self._rbooks()

        @F.pandas_udf(ArrayType(ShortType()))
        def rencode(tv: pd.Series, cl: pd.Series, c1: pd.Series) -> pd.Series:
            X = np.vstack(tv.to_numpy()).astype(np.float64)
            code1 = np.vstack(c1.to_numpy()).astype(np.int64)
            R2 = X - strat._decode_primary(cl.to_numpy(), code1)
            rdsub = X.shape[1] // rm_
            codes = np.empty((len(X), rm_), dtype=np.int16)
            for j in range(rm_):
                sub = R2[:, j * rdsub : (j + 1) * rdsub]
                d = ((sub[:, None, :] - rbooks[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1).astype(np.int16)
            return pd.Series(list(codes))

        return out.withColumn(
            RCODE_COL, rencode(F.col("__tvec"), F.col(CLUSTER_COL), F.col(CODE_COL))
        )

    def _recon_scored(
        self, cand: DataFrame, corpus: DataFrame, queries: DataFrame, metric: Metric
    ) -> DataFrame:
        """Candidate re-rank from codes alone (the ivfpqr trade): the
        join reads (cluster, pqcode, rcode) — m + refine_m bytes + 4 —
        per candidate instead of the dim×4-byte true vector, and scores
        the metric-space query against the two-stage reconstruction."""
        from vicinity_spark.operators.knn import _np_pairwise

        strat = self
        rm = self.params["refine_m"]
        rbooks = self._rbooks()

        joined = (
            cand.join(corpus.select("id", CLUSTER_COL, CODE_COL, RCODE_COL), "id")
            .join(queries.select("query_id", F.col("qvec").alias("__qvec")), "query_id")
        )

        def kernel(batches):
            for b in batches:
                if len(b) == 0:
                    continue
                Q = np.vstack(b["__qvec"].to_numpy()).astype(np.float64)
                Qt = strat._t_np(Q, metric)
                cl = b[CLUSTER_COL].to_numpy()
                code1 = np.vstack(b[CODE_COL].to_numpy()).astype(np.int64)
                code2 = np.vstack(b[RCODE_COL].to_numpy()).astype(np.int64)
                recon = strat._decode_primary(cl, code1)
                rdsub = recon.shape[1] // rm
                for j in range(rm):
                    recon[:, j * rdsub : (j + 1) * rdsub] += rbooks[j][code2[:, j]]
                d = _np_pairwise(metric, Qt, recon)
                yield pd.DataFrame(
                    {
                        "query_id": b["query_id"].to_numpy(),
                        "id": b["id"].to_numpy(),
                        "distance": d,
                    }
                )

        return joined.mapInPandas(kernel, _KNN_SCHEMA)

    def _scored(
        self, corpus: DataFrame, queries: DataFrame, k: int, metric: Metric
    ) -> DataFrame:
        if not (self.params["refine_m"] and self._use_residual(metric)):
            # refine_m on a non-residual metric falls back to the exact
            # re-rank (no clean two-stage decomposition exists there)
            return super()._scored(corpus, queries, k, metric)
        scored = self._recon_scored(
            self._pool(corpus, queries, k, metric), corpus, queries, metric
        )
        fr = int(self.params.get("final_refine", 2))
        if fr:
            # Final exact touch-up: the code-based re-rank narrows the
            # nq×kk candidate pool to nq×(final_refine·k) winners, and
            # ONLY those rows join back to the true vector column for an
            # exact re-score. This preserves the ivfpqr property — the
            # full-width second scan of the kk-candidate set that
            # refine_m exists to avoid (faiss.py:111-113) never happens;
            # what does happen is a tiny O(nq·k) join — while making the
            # emitted distances exact (hash-checkable against the exact
            # k-NN oracle). final_refine=0 restores pure reconstruction
            # distances (FAISS IndexIVFPQR parity).
            from vicinity_spark.operators.knn import score_joined, topk_by_distance

            winners = topk_by_distance(scored, max(k * fr, k), "__r1").select("query_id", "id")
            scored = score_joined(
                winners.join(corpus.select("id", "vector"), "id"), queries, metric
            )
        return scored

    # named in the class so per-class instrumentation that wraps only a
    # class's own methods (perfbench/run.py spans) still sees it
    knn = PQStrategy.knn

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        self._ivf.params["centroids"] = self.params["centroids"]
        if not self._use_residual(metric):
            return super().on_insert(self._ivf.on_insert(new_df, metric, dim), metric, dim)
        tdf = (
            new_df.withColumn("__tvec", self._t_expr("vector", metric))
            .withColumnRenamed("vector", "__orig")
            .withColumnRenamed("__tvec", "vector")
        )
        out = self._ivf.on_insert(tdf, metric, dim)
        out = out.withColumnRenamed("vector", "__tvec").withColumnRenamed("__orig", "vector")
        enc = self._residual_encode_kernel()
        out = out.withColumn(CODE_COL, enc(F.col("__tvec"), F.col(CLUSTER_COL)))
        if self.params["refine_m"]:
            # rbooks trained at build; appended rows encode with them
            out = self._add_refinement_codes(out, dim)
        return out.drop("__tvec")

    # ---- query -------------------------------------------------------
    def _candidates(
        self, corpus: DataFrame, queries: DataFrame, kk: int, metric: Metric
    ) -> DataFrame:
        """Cluster-keyed block grid over PQ codes (grid.cluster_grid):
        each cell scores only the queries that probe its inverted list,
        with residual ADC tables against that single centroid — no +inf
        masking, a cell only ever scores its own list. Probing runs in
        the space the lists were clustered in: metric space in residual
        mode, raw for the fallback."""
        from vicinity_spark.backends.pq import _cell_arrays
        from vicinity_spark.operators.grid import cell_topk, cluster_grid

        m = self.params["m"]
        residual = self._use_residual(metric)
        strat = self
        C = np.asarray(self.params["centroids"], dtype=np.float64)
        grid, probe_mask = cluster_grid(
            corpus,
            queries,
            C,
            self.params["nprobe"],
            CODE_COL,
            probe_space=(lambda Q: strat._t_np(Q, metric)) if residual else None,
        )

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            books = strat._codebooks()
            for pdf in batches:
                for i in range(len(pdf)):
                    ids, codes, qids, Q = _cell_arrays(pdf, i)
                    cluster = int(pdf[CLUSTER_COL].iloc[i])
                    mask = probe_mask(Q, cluster)
                    if not mask.any():
                        continue
                    if residual:
                        R = strat._t_np(Q[mask], metric) - C[cluster]
                        dsub = R.shape[1] // m
                        tables = np.stack(
                            [
                                (
                                    (
                                        R[:, j * dsub : (j + 1) * dsub][:, None, :]
                                        - books[j][None, :, :]
                                    )
                                    ** 2
                                ).sum(axis=2)
                                for j in range(m)
                            ],
                            axis=1,
                        )
                    else:
                        tables = strat._adc_tables(Q[mask], metric)
                    yield cell_topk(qids[mask], ids, codes, tables, m, kk)

        return grid.mapInPandas(fn, _KNN_SCHEMA)
