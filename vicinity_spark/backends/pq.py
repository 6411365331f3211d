"""Product-quantization (PQ) strategy — the Spark analog of FAISS's
`pq`/`ivfpq` indexes (faiss.py:96-110; SURVEY.md §4 "Compression:
product quantization … per-subspace KMeans codebooks + byte codes").

Train: sample the corpus to the driver (PQ codebooks are always trained
on a sample), run seeded Lloyd iterations per subspace in numpy, store
the m × ksub × dsub codebook in params (it reloads from metadata, no
binary files). Encode assigns each subvector its nearest centroid id →
`__pqcode: array<smallint>` (m bytes per vector — a dim×4/m byte
reduction, 32× at dim=64, m=8) through one `session.vector_column`:
on the driver for a local frame (every insert batch, which stays a
LocalRelation), as one Arrow UDF otherwise. The codec itself —
`train_codebooks`, `encode`, `l2_tables`, `decode` — is module-level
and shared with backends/ivfpq.py (residual codes, ivfpqr refinement).

Query: ADC (asymmetric distance computation) over grid.cell_scan
cells, every ADC table computed *executor-side* inside the cell kernel
from the codebooks (they ride in the task closure: m × ksub × dsub
doubles, ≤ a few hundred KB). A bounded batch (≤ AUTO_GRID_QUERY_ROWS
rows) is broadcast into one scan of the corpus partitions; a larger
query table runs as a BLOCK GRID — corpus code blocks × query blocks
via crossJoin, the query vectors arriving through the join — so a
10M-row query table distributes instead of materializing nq×dim on the
driver. Each cell emits its per-query top-k×refine candidates
pre-ranked (the chunked argpartition runs inside the kernel); the only
later shuffle is the bounded candidate merge followed by the exact
re-rank on true vectors. Cosine is served by normalizing
at train/encode/query time: squared-euclidean ADC ranking on unit
vectors is cosine ranking (‖q−x‖² = 2·(1−cos) on the unit sphere).

Scale envelope (unbounded tables): the grid replicates the compact code
blocks once per query block (ceil(nq/512)); with m-byte codes that is a
dim·4/m-fold smaller payload than replicating vectors. For full-corpus
× huge-query sweeps prefer IVFPQ, whose grid joins only probed
(cluster, query-block) pairs.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, ShortType

from vicinity_spark.backends.base import RerankStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.operators.knn import _KNN_SCHEMA
from vicinity_spark.session import vector_column

CODE_COL = "__pqcode"
CODES_TYPE = ArrayType(ShortType())

# Only cosine is served by unit-normalization (‖q−x‖² = 2·(1−cos) on
# the unit sphere). INNER_PRODUCT must NOT be normalized: the high-norm
# corpus vectors that dominate the true IP top-k would be pruned before
# the exact re-rank ever sees them — IP gets sign-flipped dot-product
# ADC tables instead. TANIMOTO uses raw-space L2 ADC as a candidate
# heuristic (no exact subspace decomposition exists); its recall is
# governed by `refine` and gated in evaluate()/tests like any ANN path.
_NORMALIZED = (Metric.COSINE,)


_SAMPLE_BUCKETS = 1 << 30


def _normalized(X: np.ndarray, metric: Metric) -> np.ndarray:
    """Rows scaled to unit norm for the _NORMALIZED metrics (zero rows
    stay zero); X unchanged otherwise."""
    if metric in _NORMALIZED:
        n = np.linalg.norm(X, axis=1, keepdims=True)
        return np.divide(X, n, out=np.zeros_like(X), where=n != 0)
    return X


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


# ---- the product-quantizer codec (pq, ivfpq, ivfpqr) -----------------
# A codebook set is m × ksub × dsub: subspace j of a vector is columns
# j·dsub … (j+1)·dsub, coded by its nearest of that subspace's ksub
# codewords.


def train_codebooks(X: np.ndarray, m: int, ksub: int, seed: int) -> list:
    """m subspace codebooks for the rows of X: seeded Lloyd iterations
    per subspace (subspace j seeded ``seed + j``), every book cut to
    the smallest trained size, as nested float lists (params and
    metadata hold them verbatim)."""
    dsub = X.shape[1] // m
    books = [_kmeans_np(X[:, j * dsub : (j + 1) * dsub], ksub, seed + j) for j in range(m)]
    k = min(ksub, min(len(b) for b in books))
    return [[[float(x) for x in c] for c in b[:k]] for b in books]


def _sub_l2(X: np.ndarray, books: np.ndarray, j: int) -> np.ndarray:
    """n × ksub squared-L2 distances of X's subspace j to book j."""
    dsub = books.shape[2]
    sub = X[:, j * dsub : (j + 1) * dsub]
    return ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)


def encode(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """n × m int16 codes: each subspace's nearest codeword (ties to the
    lower index)."""
    codes = np.empty((len(X), len(books)), dtype=np.int16)
    for j in range(len(books)):
        codes[:, j] = _sub_l2(X, books, j).argmin(axis=1).astype(np.int16)
    return codes


def l2_tables(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """n × m × ksub squared-L2 ADC tables: Σ_j T[i, j, codes[j]] is
    ‖X[i] − decode(codes)‖²."""
    return np.stack([_sub_l2(X, books, j) for j in range(len(books))], axis=1)


def decode(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """n × (m·dsub) reconstruction: each subspace's codeword."""
    return np.concatenate([books[j][codes[:, j]] for j in range(len(books))], axis=1)


def adc_tables(Q: np.ndarray, books: np.ndarray, metric: Metric) -> np.ndarray:
    """Per-query ADC lookup tables, nq × m × ksub.

    COSINE: squared-L2 tables on unit-normalized vectors (ranking ≡
    cosine). INNER_PRODUCT: sign-flipped dot tables — Σ_j −q_j·c ≈
    −q·x̂, so ascending order is descending approximate IP and
    high-norm corpus rows keep their rightful candidate slots.
    Everything else: squared-L2 on the raw space."""
    Q = _normalized(Q, metric)
    if metric is Metric.INNER_PRODUCT:
        dsub = books.shape[2]
        return np.stack(
            [-(Q[:, j * dsub : (j + 1) * dsub] @ books[j].T) for j in range(len(books))],
            axis=1,
        )
    return l2_tables(Q, books)


class PQStrategy(RerankStrategy):
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
    def _codebooks(self) -> np.ndarray:
        return np.asarray(self.params["codebooks"], dtype=np.float64)

    def _encoded(self, df: DataFrame, metric: Metric) -> DataFrame:
        """``df`` + ``__pqcode``: each vector's codes under the stored
        codebooks (`encode`, in the metric's space), on the driver for
        a local batch (`session.vector_column`)."""
        books = self._codebooks()  # m × ksub × dsub
        return vector_column(
            df, CODE_COL, CODES_TYPE, lambda X: encode(_normalized(X, metric), books), "vector"
        )

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
            self.params["codebooks"] = train_codebooks(
                _normalized(S, metric), m, self.params["ksub"], self.params["seed"]
            )
        return self._encoded(df, metric)

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        # codebooks train once (faiss.py:24-32); new rows encode with them
        return self._encoded(new_df, metric)

    # ---- query: ADC candidates (RerankStrategy re-ranks them) --------
    def _cell_tables(self, metric: Metric):
        """``tables(Q, key)`` → the ADC tables one cell (``key``: its
        cell key columns) scores its queries with. The function closes
        over the converted codebooks, not the strategy: one conversion
        per query plan and a closure no larger than the books."""
        books = self._codebooks()
        return lambda Q, key: adc_tables(Q, books, metric)

    def _candidates(
        self, corpus: DataFrame, queries: DataFrame, kk: int, metric: Metric
    ) -> DataFrame:
        """ADC scan over `grid.cell_scan` cells: each cell builds its
        queries' tables (`_cell_tables`) and emits per-query top-kk by
        pure lookups — D[q, n] = Σ_j tables[q, j, codes[n, j]] — via
        chunked argpartition (grid.cell_topk). On the unbounded grid,
        codes fold into ceil(n/262144) density-sized hash blocks: the
        m-byte payload affords 4× the dense default, and every extra
        block re-computes the per-cell ADC tables and widens the
        candidate merge."""
        from vicinity_spark.operators.grid import cell_scan, cell_topk

        m = self.params["m"]
        tables = self._cell_tables(metric)

        def kernel(ids, codes, qids, Q, key):
            yield cell_topk(qids, ids, codes, tables(Q, key), m, kk)

        return cell_scan(
            corpus,
            queries,
            CODE_COL,
            kernel,
            _KNN_SCHEMA,
            lists=self._lists(metric),
            target_rows=262_144,
        )
