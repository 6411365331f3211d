"""Product-quantization (PQ) strategy — the Spark analog of FAISS's
`pq`/`ivfpq` indexes (faiss.py:96-110; SURVEY.md §4 "Compression:
product quantization … per-subspace KMeans codebooks + byte codes").

Train: sample the corpus to the driver (PQ codebooks are always trained
on a sample), run seeded Lloyd iterations per subspace in numpy, store
the m × ksub × dsub codebook in params (it reloads from metadata, no
binary files). Encode: one Arrow pass assigns each subvector its
nearest centroid id → `__pqcode: array<smallint>` (m bytes per vector —
a dim×4/m byte reduction, 32× at dim=64, m=8).

Query: ADC (asymmetric distance computation) as a BLOCK GRID — corpus
code blocks × query blocks via crossJoin, every ADC table computed
*executor-side* inside the grid kernel from the broadcast codebooks
(they ride in the task closure: m × ksub × dsub doubles, ≤ a few
hundred KB) and the block's own query vectors. No driver collect of
the query table anywhere on the path, so a 10M-row query batch
distributes instead of materializing nq×dim on the driver. Each grid
cell emits its per-query top-k×refine candidates pre-ranked (the
chunked argpartition runs inside the kernel); the only later shuffle
is the bounded candidate merge (≤ kk × n_corpus_blocks rows per
query — the same partial-top-k merge shape as the exact plan) followed
by the exact re-rank on true vectors. Cosine is served by normalizing
at train/encode/query time: squared-euclidean ADC ranking on unit
vectors is cosine ranking (‖q−x‖² = 2·(1−cos) on the unit sphere).

Scale envelope: the grid replicates the compact code blocks once per
query block (ceil(nq/512)); with m-byte codes that is a dim·4/m-fold
smaller payload than replicating vectors, and it beats the broadcast
alternative (nq × m × ksub tables to every executor) as soon as the
query batch is large. For full-corpus × huge-query sweeps prefer
IVFPQ, whose grid joins only probed (cluster, query-block) pairs.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, ShortType

from vicinity_spark.backends.base import IndexStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.functions.metrics import clip_distance
from vicinity_spark.operators.knn import _KNN_SCHEMA

CODE_COL = "__pqcode"


def _cell_arrays(pdf: pd.DataFrame, i: int):
    """Grid-cell row → (ids, int codes, qids, Q) numpy arrays."""
    from vicinity_spark.operators.grid import cell_arrays

    ids, payload, qids, Q = cell_arrays(pdf, i)
    return ids, payload.astype(np.int64), qids, Q

# Only cosine is served by unit-normalization (‖q−x‖² = 2·(1−cos) on
# the unit sphere). INNER_PRODUCT must NOT be normalized: the high-norm
# corpus vectors that dominate the true IP top-k would be pruned before
# the exact re-rank ever sees them — IP gets sign-flipped dot-product
# ADC tables instead. TANIMOTO uses raw-space L2 ADC as a candidate
# heuristic (no exact subspace decomposition exists); its recall is
# governed by `refine` and gated in evaluate()/tests like any ANN path.
_NORMALIZED = (Metric.COSINE,)


_SAMPLE_BUCKETS = 1 << 30


def _train_sample(df: DataFrame, cols: Sequence[str], target: int, seed: int) -> pd.DataFrame:
    """About ``target`` rows of ``df[cols]`` for codebook / seed
    training, as pandas sorted by ``id``.

    Rows are kept on a seeded hash of ``id``, not by Spark's
    per-partition Bernoulli sampler, and arrive in id order, not
    partition order. _kmeans_np seeds by row position, so both are
    needed for the trained codebooks to be the same whatever the
    input's partitioning (shuffle partitions, AQE, cpu count)."""
    n = df.count()
    frac = min(1.0, target / max(n, 1))
    sample = df.select("id", *cols)
    if frac < 1.0:
        bucket = F.pmod(F.xxhash64(F.col("id"), F.lit(int(seed))), F.lit(_SAMPLE_BUCKETS))
        sample = sample.where(bucket < F.lit(int(frac * _SAMPLE_BUCKETS)))
    return sample.toPandas().sort_values("id", kind="stable", ignore_index=True)


def _kmeans_np(X: np.ndarray, k: int, seed: int, iters: int = 12) -> np.ndarray:
    """Seeded Lloyd iterations (kmeans++-lite init via distinct sample)."""
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


class PQStrategy(IndexStrategy):
    backend = Backend.PQ
    exact = False

    def __init__(
        self,
        m: int = 8,
        ksub: int = 256,
        refine: int = 8,
        train_sample: int = 20_000,
        seed: int = 42,
        codebooks=None,
        **params,
    ):
        super().__init__(
            m=int(m),
            ksub=int(ksub),
            refine=int(refine),
            train_sample=int(train_sample),
            seed=int(seed),
            codebooks=codebooks,
            **params,
        )

    # ---- helpers -----------------------------------------------------
    def _normalize_if_angular(self, X: np.ndarray, metric: Metric) -> np.ndarray:
        if metric in _NORMALIZED:
            n = np.linalg.norm(X, axis=1, keepdims=True)
            return np.divide(X, n, out=np.zeros_like(X), where=n != 0)
        return X

    def _codebooks(self) -> np.ndarray:
        return np.asarray(self.params["codebooks"], dtype=np.float64)

    def _encode_kernel(self, metric: Metric):
        m = self.params["m"]
        books = self._codebooks()  # m × ksub × dsub
        strat = self

        @F.pandas_udf(ArrayType(ShortType()))
        def encode(v: pd.Series) -> pd.Series:
            X = np.vstack(v.to_numpy()).astype(np.float64)
            X = strat._normalize_if_angular(X, metric)
            dsub = X.shape[1] // m
            codes = np.empty((len(X), m), dtype=np.int16)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                d = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1).astype(np.int16)
            return pd.Series(list(codes))

        return encode

    # ---- build -------------------------------------------------------
    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        self.params["dim"] = int(dim)
        m = self.params["m"]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
        if self.params.get("codebooks") is None:
            sample = _train_sample(
                df, ["vector"], self.params["train_sample"], self.params["seed"]
            )
            S = np.vstack(sample["vector"].to_numpy()).astype(np.float64)
            S = self._normalize_if_angular(S, metric)
            dsub = dim // m
            books = [
                _kmeans_np(
                    S[:, j * dsub : (j + 1) * dsub],
                    self.params["ksub"],
                    self.params["seed"] + j,
                )
                for j in range(m)
            ]
            ksub = min(self.params["ksub"], min(len(b) for b in books))
            self.params["codebooks"] = [
                [[float(x) for x in c] for c in b[:ksub]] for b in books
            ]
        return df.withColumn(CODE_COL, self._encode_kernel(metric)(F.col("vector")))

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        # codebooks train once (faiss.py:24-32); new rows encode with them
        return new_df.withColumn(CODE_COL, self._encode_kernel(metric)(F.col("vector")))

    # ---- query: ADC candidates + exact re-rank -----------------------
    def _adc_tables(self, Q: np.ndarray, metric: Metric) -> np.ndarray:
        """Per-query ADC lookup tables, nq × m × ksub.

        COSINE: squared-L2 tables on unit-normalized vectors (ranking ≡
        cosine). INNER_PRODUCT: sign-flipped dot tables — Σ_j −q_j·c ≈
        −q·x̂, so ascending order is descending approximate IP and
        high-norm corpus rows keep their rightful candidate slots.
        Everything else: squared-L2 on the raw space."""
        books = self._codebooks()
        m = self.params["m"]
        Q = self._normalize_if_angular(Q, metric)
        dsub = Q.shape[1] // m
        if metric is Metric.INNER_PRODUCT:
            return np.stack(
                [-(Q[:, j * dsub : (j + 1) * dsub] @ books[j].T) for j in range(m)],
                axis=1,
            )
        return np.stack(
            [
                ((Q[:, j * dsub : (j + 1) * dsub][:, None, :] - books[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                for j in range(m)
            ],
            axis=1,
        )

    def _candidates(
        self, corpus: DataFrame, queries: DataFrame, k: int, metric: Metric
    ) -> DataFrame:
        """Block-grid ADC scan: corpus code blocks × query blocks.

        Corpus codes fold into ceil(n/262144) density-sized hash blocks
        (narrow shuffle of m-byte codes — the compact payload affords
        4× the dense default, and every extra block re-computes the
        per-cell ADC tables and widens the candidate merge); the grid
        is a crossJoin against the query blocks. Each cell computes its
        queries' ADC tables from the closure codebooks —
        D[q, n] = Σ_j tables[q, j, codes[n, j]], pure lookups — and
        emits per-query top-kk via chunked argpartition. No driver
        collect of the query table."""
        from vicinity_spark.operators.grid import cell_topk, corpus_blocks, query_blocks

        m = self.params["m"]
        kk = max(k * self.params["refine"], k)
        strat = self
        grid = corpus_blocks(corpus, CODE_COL, target_rows=262_144).crossJoin(
            query_blocks(queries)
        )

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for i in range(len(pdf)):
                    ids, codes, qids, Q = _cell_arrays(pdf, i)
                    tables = strat._adc_tables(Q, metric)
                    yield cell_topk(qids, ids, codes, tables, m, kk)

        return grid.mapInPandas(fn, _KNN_SCHEMA)

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
        cand = self._candidates(corpus, queries, k, metric)
        w0 = Window.partitionBy("query_id").orderBy(F.col("distance").asc_nulls_last(), F.col("id"))
        kk = max(k * self.params["refine"], k)
        cand = cand.withColumn("__r0", F.row_number().over(w0)).where(F.col("__r0") <= kk)
        from vicinity_spark.operators.knn import score_joined

        # no broadcast hint: cand is nq×k×refine (scales with the query
        # batch); AQE broadcasts it at runtime when it is actually small
        joined = cand.select("query_id", "id").join(
            corpus.select("id", "vector"), "id"
        )
        exact = score_joined(joined, queries, metric)
        w = Window.partitionBy("query_id").orderBy(F.col("distance").asc_nulls_last(), F.col("id"))
        out = (
            exact.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .withColumn("distance", clip_distance(F.col("distance")))
        )
        if payload_cols:
            out = out.join(corpus.select("id", *payload_cols), "id", "left")
        return out.select("query_id", "id", "distance", "rank", *(payload_cols or []))

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
        """Top-max_k candidate pool then exact `<=` filter (ANN threshold
        semantics: hnsw.py:107-114, usearch.py:131-139)."""
        res = self.knn(corpus, queries, k=max_k, metric=metric, payload_cols=payload_cols)
        return res.where(F.col("distance") <= F.lit(float(threshold))).drop("rank")
