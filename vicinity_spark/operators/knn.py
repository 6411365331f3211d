"""Exact k-NN top-k and radius (threshold) search as Spark plans.

Reference semantics mirrored (citations into /root/reference/):
- `query(vectors, k)` — batched top-k, ascending distance, distances
  clipped ≥ 0, k clamped to corpus size, k<1 raises
  (vicinity/vicinity.py:114-138, vicinity/backends/basic.py:187-204).
- `query_threshold(vectors, t)` — radius search, `distance <= t`,
  unsorted output, no candidate cap on the exact path
  (vicinity/vicinity.py:140-165, basic.py:149-172; SURVEY.md §2.3
  threshold-semantics note: we standardize on the exact backend's `<=`).

Two physical strategies for top-k:

- ``window``: broadcast(queries) ⋈ corpus → distance column →
  `row_number() over (partition by query_id order by distance, id)`.
  Pure Catalyst, bit-deterministic (left-folded double arithmetic, see
  functions/metrics.py) — this is the oracle-checked path. The window
  shuffles all q×n candidate rows by query_id, so it is the right plan
  only when q×n is modest or q is large relative to n.

- ``partial``: per-corpus-partition vectorized top-k inside
  `mapInPandas` (numpy matrix kernel — the distributed analog of the
  reference's 1024-row batched matmul, basic.py:195-204), then a final
  merge window over the surviving q×k×num_partitions rows. The shuffle
  is bounded by q×k×partitions regardless of corpus size — this is the
  plan that survives a 100 TB corpus: the full cross product is never
  materialized and never shuffled.

Payload columns ride along: ``window`` carries them through the rank
in-row; ``partial`` and ``grid`` re-join the corpus payload onto the
merged q×k result (join_payload — AQE broadcasts the small side).
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from vicinity_spark.datatypes import Metric
from vicinity_spark.functions.metrics import clip_distance, distance_expr
from vicinity_spark.operators.grid import dense_cell_topk


def _np_distances(metric: Metric, Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Vectorized distance matrix (len(Q) × len(X)), float64.

    Kernels match functions/metrics.py (and the reference kernels they
    mirror: basic.py:218-222, 241-247; usearch.py:27-34).
    """
    if metric is Metric.COSINE:
        qn = np.linalg.norm(Q, axis=1, keepdims=True)
        xn = np.linalg.norm(X, axis=1, keepdims=True)
        qh = np.divide(Q, qn, out=np.zeros_like(Q), where=qn != 0)
        xh = np.divide(X, xn, out=np.zeros_like(X), where=xn != 0)
        return 1.0 - qh @ xh.T
    if metric is Metric.INNER_PRODUCT:
        return 1.0 - Q @ X.T
    if metric in (Metric.EUCLIDEAN, Metric.L2_SQUARED):
        q2 = (Q * Q).sum(axis=1)[:, None]
        x2 = (X * X).sum(axis=1)[None, :]
        d2 = np.clip(q2 + x2 - 2.0 * (Q @ X.T), 0.0, None)
        return d2 if metric is Metric.L2_SQUARED else np.sqrt(d2)
    if metric is Metric.MANHATTAN:
        return np.abs(Q[:, None, :] - X[None, :, :]).sum(axis=2)
    if metric is Metric.HAMMING:
        return (Q[:, None, :] != X[None, :, :]).sum(axis=2).astype(np.float64)
    if metric is Metric.TANIMOTO:
        dot = Q @ X.T
        denom = (Q * Q).sum(axis=1)[:, None] + (X * X).sum(axis=1)[None, :] - dot
        sim = np.divide(dot, denom, out=np.zeros_like(dot), where=denom != 0)
        return 1.0 - sim
    raise ValueError(f"unsupported metric {metric}")


def _np_pairwise(metric: Metric, A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise distances between aligned matrices (n × dim each) —
    the vectorized kernel for re-scoring candidate pairs."""
    if metric is Metric.COSINE:
        an = np.linalg.norm(A, axis=1)
        bn = np.linalg.norm(B, axis=1)
        denom = an * bn
        dot = (A * B).sum(axis=1)
        sim = np.divide(dot, denom, out=np.zeros_like(dot), where=denom != 0)
        return 1.0 - sim
    if metric is Metric.INNER_PRODUCT:
        return 1.0 - (A * B).sum(axis=1)
    if metric is Metric.EUCLIDEAN:
        return np.sqrt(((A - B) ** 2).sum(axis=1))
    if metric is Metric.L2_SQUARED:
        return ((A - B) ** 2).sum(axis=1)
    if metric is Metric.MANHATTAN:
        return np.abs(A - B).sum(axis=1)
    if metric is Metric.HAMMING:
        return (A != B).sum(axis=1).astype(np.float64)
    if metric is Metric.TANIMOTO:
        dot = (A * B).sum(axis=1)
        denom = (A * A).sum(axis=1) + (B * B).sum(axis=1) - dot
        sim = np.divide(dot, denom, out=np.zeros_like(dot), where=denom != 0)
        return 1.0 - sim
    raise ValueError(f"unsupported metric {metric}")


_KNN_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("id", LongType()),
        StructField("distance", DoubleType()),
    ]
)


def score_joined(
    joined: DataFrame,
    queries: DataFrame,
    metric: "str | Metric",
    *,
    id_col: str = "id",
    vector_col: str = "vector",
) -> DataFrame:
    """(query_id, id, vector) rows → (query_id, id, distance), scored by
    the vectorized row-wise numpy kernel (Arrow batches). Used by every
    ANN strategy to re-score its candidate set: candidate volumes are
    queries × bucket/list sizes, where per-row JVM evaluation of a
    dim-wide expression dominates. Query vectors arrive by *joining* the
    query DataFrame on query_id — no driver collect, so the plan holds
    at any query count (AQE broadcasts the query side when it is small).
    Distances are RAW (callers rank on them first and clip only the
    returned values, the reference's argsort-then-clip order,
    basic.py:202 / vicinity.py:135 — clipping before the rank would tie
    every dot>1 inner-product hit at 0)."""
    metric = Metric.from_string(metric)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            X = np.vstack(b[vector_col].to_numpy()).astype(np.float64)
            A = np.vstack(b["__qvec"].to_numpy()).astype(np.float64)
            d = _np_pairwise(metric, A, X)
            yield pd.DataFrame(
                {
                    "query_id": b["query_id"].to_numpy(),
                    "id": b[id_col].to_numpy(),
                    "distance": d,
                }
            )

    q = queries.select("query_id", F.col("qvec").alias("__qvec"))
    withq = joined.select("query_id", F.col(id_col).alias("id"), vector_col).join(
        q, "query_id"
    )
    return withq.mapInPandas(kernel, _KNN_SCHEMA)


def query_matrix(queries: DataFrame, id_col: str = "query_id", vec_col: str = "qvec"):
    """(qids, Q) numpy arrays of the query batch, via the Arrow path.
    An empty batch yields (0,)-shaped ids and a (0, 0) matrix."""
    qpdf = queries.select(id_col, vec_col).toPandas()
    if len(qpdf) == 0:
        return np.empty(0, np.int64), np.empty((0, 0), np.float64)
    qids = qpdf[id_col].to_numpy().astype(np.int64)
    Q = np.vstack([np.asarray(v, dtype=np.float64) for v in qpdf[vec_col]])
    return qids, Q


def collect_query_matrix(queries: DataFrame, id_col: str = "query_id", vec_col: str = "qvec"):
    """Collect the query batch (Arrow path) and ship it as a torrent
    broadcast: one copy per executor instead of a pickled closure copy
    per task — the pattern that holds for large query batches."""
    return queries.sparkSession.sparkContext.broadcast(
        query_matrix(queries, id_col, vec_col)
    )


def score_pairs(
    pairs: DataFrame,
    metric: "str | Metric",
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    va_col: str = "va",
    vb_col: str = "vb",
) -> DataFrame:
    """(id_a, id_b, va, vb) rows → (id_a, id_b, distance) via the
    row-wise vectorized kernel — the re-scorer for candidate *pairs*
    (near-dup verification, NN-descent edges), sibling of
    score_joined's query/corpus form. Distances are RAW — callers rank
    or filter first and clip only returned values (see score_joined)."""
    metric = Metric.from_string(metric)
    schema = StructType(
        [
            StructField(a_col, LongType()),
            StructField(b_col, LongType()),
            StructField("distance", DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            A = np.vstack(b[va_col].to_numpy()).astype(np.float64)
            B = np.vstack(b[vb_col].to_numpy()).astype(np.float64)
            d = _np_pairwise(metric, A, B)
            yield pd.DataFrame(
                {
                    a_col: b[a_col].to_numpy(),
                    b_col: b[b_col].to_numpy(),
                    "distance": d,
                }
            )

    return pairs.select(a_col, b_col, va_col, vb_col).mapInPandas(kernel, schema)


KNN_COLS = ("query_id", "id", "distance", "rank")
RADIUS_COLS = ("query_id", "id", "distance")


def topk_by_distance(df: DataFrame, k: int, rank_col: str = "rank") -> DataFrame:
    """The ``k`` best rows of each query by (distance, id), numbered
    1..k in ``rank_col`` — the one top-k cut, for final results and
    intermediate candidate prunes alike. The id tiebreak makes the cut
    layout-independent at exact-distance ties (duplicate vectors or
    quantization codes), matching the oracles' ORDER BY d, id; NaN
    distances rank last."""
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc_nulls_last(), F.col("id"))
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def clipped_topk(scored: DataFrame, k: int) -> DataFrame:
    """topk_by_distance on the RAW distances, then clip the returned
    values — the reference's argsort-then-clip order (basic.py:202,
    vicinity.py:135): clipping before the rank would tie every dot>1
    inner-product hit at 0."""
    return topk_by_distance(scored, k).withColumn("distance", clip_distance(F.col("distance")))


def join_payload(
    out: DataFrame,
    corpus: DataFrame,
    payload_cols: Optional[Sequence[str]],
    cols: Sequence[str],
    *,
    id_col: str = "id",
) -> DataFrame:
    """``out[cols]`` plus the corpus payload columns, left-joined on id.
    No broadcast hint: ``out`` scales with the query batch, and AQE
    broadcasts it at runtime when it is actually small."""
    if payload_cols:
        out = out.join(
            corpus.select(F.col(id_col).alias("id"), *payload_cols), "id", "left"
        )
    return out.select(*cols, *(payload_cols or []))


def _partial_topk(
    corpus: DataFrame,
    id_col: str,
    vector_col: str,
    bq,  # Broadcast[(qids, Q)]
    k: int,
    metric: Metric,
) -> DataFrame:
    """Per-partition vectorized top-k: emits ≤ q×k rows per Arrow batch."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, Q = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf[vector_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            # sort the batch by id: the kernel breaks exact-distance ties
            # (duplicate vectors) by position, so the emitted pool — and
            # therefore the final window result — is deterministic and
            # matches the oracle's ORDER BY d, id at any layout; emitted
            # distances are per-pair rescored (see grid._merge_parts)
            order = np.argsort(ids, kind="stable")
            yield dense_cell_topk(qids, ids[order], X[order], Q, metric, k)

    return corpus.select(id_col, vector_col).mapInPandas(fn, _KNN_SCHEMA)


# Past this many query rows, `auto` routes to the block-grid plan:
# `partial` materializes the nq×dim query matrix on the driver
# (collect_query_matrix), which stops being a bounded structure once
# the query side is itself a large table. 8192 × dim=1024 × 8 B ≈
# 64 MB is a comfortable driver/broadcast ceiling; past it, grid's
# join-delivered query blocks are the plan that holds.
AUTO_GRID_QUERY_ROWS = 8192


def _queries_are_bounded(queries: DataFrame, limit: int) -> bool:
    """Is the query table provably ≤ limit rows — cheaply?

    First consults the optimizer's ``maxRows`` (free: defined for
    LocalRelation — e.g. ``session.local_frame`` batches — and LIMIT'd
    plans; a ``createDataFrame(<list>)`` frame has none). Unknown → a
    limit-bounded count job (scans only until limit+1 rows surface,
    never the full table).
    """
    try:
        mr = queries._jdf.queryExecution().optimizedPlan().maxRows()
        if mr.isDefined():
            return int(mr.get()) <= limit
    except Exception:
        pass  # Spark Connect / plan shapes without maxRows
    return queries.limit(limit + 1).count() <= limit


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: "str | Metric" = Metric.COSINE,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "qvec",
    payload_cols: Optional[Sequence[str]] = None,
    algorithm: str = "auto",
    dim: Optional[int] = None,
) -> DataFrame:
    """Top-k nearest neighbors of every query row over the corpus.

    Returns (query_id, id, distance, rank[, payload…]) with rank 1..k by
    ascending distance (ties broken by id — the reference's argsort is
    positional-stable, basic.py:200-204).

    ``algorithm="auto"`` routing note: deciding partial-vs-grid may run
    an EAGER bounded probe on the query side at plan-construction time —
    free when the optimizer's ``maxRows`` is defined (local batches,
    LIMIT'd plans), otherwise a ``limit(n+1).count()`` job that executes
    the query-side pipeline once up to n+1 rows. If the query side is an
    expensive lazily-derived pipeline, pass ``algorithm="partial"`` or
    ``"grid"`` explicitly to skip the probe.
    """
    if k < 1:
        raise ValueError("k must be greater than 0")  # basic.py:187-188
    metric = Metric.from_string(metric)
    if algorithm == "auto":
        # bounded batch → `partial` (driver-collected query matrix,
        # shuffle bounded by q×k×partitions); large/unbounded query
        # table → `grid` (query blocks arrive by join, no driver
        # materialization). See AUTO_GRID_QUERY_ROWS.
        algorithm = (
            "partial"
            if _queries_are_bounded(queries, AUTO_GRID_QUERY_ROWS)
            else "grid"
        )

    if algorithm == "window":
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("__qvec"),
        )
        pairs = corpus.crossJoin(F.broadcast(q))
        dist = distance_expr(metric, "__qvec", vector_col, dim)
        # project the vectors away BEFORE the window: the rank shuffle
        # then moves (query_id, id, distance[, payload]) rows, not the
        # full arrays — at dim=1024 that is a ~100× shuffle-byte cut
        local = pairs.select(
            "query_id",
            F.col(id_col).alias("id"),
            dist.alias("distance"),
            *(payload_cols or []),
        )
    elif algorithm == "partial":
        bq = collect_query_matrix(queries, query_id_col, query_vector_col)
        if bq.value[0].size == 0:
            local = corpus.sparkSession.createDataFrame([], _KNN_SCHEMA)
        else:
            local = _partial_topk(corpus, id_col, vector_col, bq, k, metric)
    elif algorithm == "grid":
        # exact block grid (operators/grid.py): same kernel math and
        # bounded-merge shape as `partial`, but the query batch arrives
        # through a join instead of a driver collect + broadcast — the
        # plan for UNBOUNDED query tables (a 10M-row query side would
        # materialize nq×dim on the driver under `partial`).
        from vicinity_spark.operators.grid import cell_arrays, corpus_blocks, query_blocks

        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("qvec"),
        )
        grid = corpus_blocks(
            corpus.select(F.col(id_col).alias("id"), F.col(vector_col).alias("vector")),
            "vector",
        ).crossJoin(query_blocks(q))

        def cell_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for i in range(len(pdf)):
                    ids, X, qids, Q = cell_arrays(pdf, i)
                    yield dense_cell_topk(qids, ids, X.astype(np.float64), Q, metric, k)

        local = grid.mapInPandas(cell_fn, _KNN_SCHEMA)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    ranked = clipped_topk(local, k)
    if algorithm == "window":  # the payload rode through the window in-row
        return ranked.select(*KNN_COLS, *(payload_cols or []))
    return join_payload(ranked, corpus, payload_cols, KNN_COLS, id_col=id_col)


def threshold_join(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.5,
    metric: "str | Metric" = Metric.COSINE,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "qvec",
    payload_cols: Optional[Sequence[str]] = None,
    dim: Optional[int] = None,
    algorithm: str = "auto",
) -> DataFrame:
    """Radius search: all corpus rows with distance <= threshold.

    `expr`: filter-only plan — no window, no sort (output unsorted,
    matching vicinity.py:147). The filter sits directly on the scan
    side of the broadcast join, so Catalyst prunes columns and the
    cross product streams without materialization. The JVM expression
    chain is bit-comparable to the DuckDB oracle; the bounded-batch
    facade path. Force-broadcasts the QUERY side — only safe when the
    query table is bounded.

    `grid`: corpus blocks × query blocks scored by the chunked
    vectorized kernel (operators/grid.py) — the plan for UNBOUNDED
    query tables: no broadcast of the query side, no dim-wide JVM
    expression (which falls out of codegen at large dim), same rows
    (asserted by test_threshold_grid_equals_expr).

    `auto` (default): bounded query batch (≤ AUTO_GRID_QUERY_ROWS,
    decided exactly like `knn_join` — optimizer maxRows when defined,
    else a limit-bounded count probe) → `expr`; otherwise `grid`. The
    same eager-probe caveat as `knn_join` applies: pass an explicit
    algorithm to skip the probe on expensive lazily-derived query
    pipelines.
    """
    metric = Metric.from_string(metric)
    if algorithm == "auto":
        # mirror knn_join's routing: a query table past the broadcast
        # ceiling must never be force-broadcast
        algorithm = (
            "expr"
            if _queries_are_bounded(queries, AUTO_GRID_QUERY_ROWS)
            else "grid"
        )
    if algorithm == "grid":
        from vicinity_spark.operators.grid import (
            _CCHUNK,
            cell_arrays,
            corpus_blocks,
            query_blocks,
        )

        t = float(threshold)
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("qvec"),
        )
        grid = corpus_blocks(
            corpus.select(F.col(id_col).alias("id"), F.col(vector_col).alias("vector")),
            "vector",
        ).crossJoin(query_blocks(q))

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for i in range(len(pdf)):
                    ids, X, qids, Q = cell_arrays(pdf, i)
                    X = X.astype(np.float64)
                    for s in range(0, len(ids), _CCHUNK):
                        D = _np_distances(metric, Q, X[s : s + _CCHUNK])
                        qi, ci = np.nonzero(D <= t)
                        if not len(qi):
                            continue
                        yield pd.DataFrame(
                            {
                                "query_id": qids[qi],
                                "id": ids[s : s + _CCHUNK][ci],
                                "distance": np.maximum(D[qi, ci], 0.0),
                            }
                        )

        out = grid.mapInPandas(fn, _KNN_SCHEMA)
        return join_payload(out, corpus, payload_cols, RADIUS_COLS, id_col=id_col)
    if algorithm != "expr":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vector_col).alias("__qvec"),
    )
    dist = clip_distance(distance_expr(metric, "__qvec", vector_col, dim))
    out = (
        corpus.crossJoin(F.broadcast(q))
        .withColumn("distance", dist)
        .where(F.col("distance") <= F.lit(float(threshold)))  # basic.py:168 `<=`
    )
    cols = ["query_id", F.col(id_col).alias("id"), "distance"]
    if payload_cols:
        cols += [F.col(c) for c in payload_cols]
    return out.select(*cols)


_PAIRS_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("distance", DoubleType()),
    ]
)


def neardup_join(
    corpus: DataFrame, threshold: float, metric: "str | Metric"
) -> DataFrame:
    """EXACT similarity self-join (distance <= threshold) as a BLOCK
    GRID: fold the corpus into hash blocks, enumerate only the upper
    triangle of block pairs, and score each grid cell with the chunked
    vectorized kernel. Same output as the all-pairs theta join; the
    O(n²) work is split across ~P²/2 bounded numpy cells instead of
    evaluated per-row by dim-wide JVM expressions (which fall out of
    codegen at large dim — functions/metrics.py). Nothing collects to
    the driver, so the plan holds at any corpus size; for corpora where
    O(n²) itself is the problem, the LSH-bucketed
    `LSHStrategy.neardup_pairs` is the sub-quadratic path."""
    from vicinity_spark.operators.grid import _CCHUNK, corpus_blocks

    m = Metric.from_string(metric)
    t = float(threshold)
    a = corpus_blocks(corpus.select("id", "vector"), "vector")
    b = a.select(
        F.col("__cb").alias("__cb2"),
        F.col("__cids").alias("__cids2"),
        F.col("__ccodes").alias("__ccodes2"),
    )
    grid = a.join(b, F.col("__cb") <= F.col("__cb2"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in range(len(pdf)):
                ia = np.asarray(pdf["__cids"].iloc[i], dtype=np.int64)
                XA = np.vstack([np.asarray(v) for v in pdf["__ccodes"].iloc[i]]).astype(
                    np.float64
                )
                ib = np.asarray(pdf["__cids2"].iloc[i], dtype=np.int64)
                XB = np.vstack([np.asarray(v) for v in pdf["__ccodes2"].iloc[i]]).astype(
                    np.float64
                )
                same = int(pdf["__cb"].iloc[i]) == int(pdf["__cb2"].iloc[i])
                for s in range(0, len(ib), _CCHUNK):
                    D = _np_distances(m, XA, XB[s : s + _CCHUNK])
                    ii, jj = np.nonzero(D <= t)
                    if not len(ii):
                        continue
                    id1 = ia[ii]
                    id2 = ib[s : s + _CCHUNK][jj]
                    d = np.maximum(D[ii, jj], 0.0)
                    if same:
                        # full matrix: keep one orientation only
                        keep = id1 < id2
                    else:
                        # each unordered pair appears once; orient it
                        keep = id1 != id2
                        lo = np.minimum(id1, id2)
                        hi = np.maximum(id1, id2)
                        id1, id2 = lo, hi
                    yield pd.DataFrame(
                        {"id_a": id1[keep], "id_b": id2[keep], "distance": d[keep]}
                    )

    return grid.mapInPandas(fn, _PAIRS_SCHEMA)
