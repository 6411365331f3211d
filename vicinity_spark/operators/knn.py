"""Exact k-NN top-k and radius (threshold) search as Spark plans.

Reference semantics mirrored (citations into /root/reference/):
- `query(vectors, k)` — batched top-k, ascending distance, distances
  clipped ≥ 0, k clamped to corpus size, k<1 raises
  (vicinity/vicinity.py:114-138, vicinity/backends/basic.py:187-204).
- `query_threshold(vectors, t)` — radius search, `distance <= t`,
  unsorted output, no candidate cap on the exact path
  (vicinity/vicinity.py:140-165, basic.py:149-172; SURVEY.md §2.3
  threshold-semantics note: we standardize on the exact backend's `<=`).

Three physical strategies for top-k:

- ``window``: broadcast(queries) ⋈ corpus → distance column →
  `row_number() over (partition by query_id order by distance, id)`.
  Pure Catalyst, bit-deterministic (left-folded double arithmetic, see
  functions/metrics.py) — this is the oracle-checked path. The window
  shuffles all q×n candidate rows by query_id, so it is the right plan
  only when q×n is modest or q is large relative to n.

- ``auto`` (the default): the bounded broadcast-query scan
  (grid.probe_scan). A batch of at most AUTO_GRID_QUERY_ROWS rows is
  collected to the driver once (`bounded_query_matrix`) and
  broadcast; ONE mapInPandas over the corpus partitions runs the
  vectorized top-k kernel (grid.dense_cell_topk — the distributed
  analog of the reference's 1024-row batched matmul,
  basic.py:195-204) per cell of up to _CTARGET rows of a partition,
  the queries in _QBLOCK slices so every distance matrix stays within
  _QBLOCK × _CCHUNK doubles. Each cell
  emits q×k rows; the merge window's partial limit (WindowGroupLimit)
  keeps q×k of them per scan task before the shuffle, so the shuffle
  is q×k×partitions whatever the corpus size — the q×n cross product
  is neither materialized nor shuffled, the plan that survives a
  100 TB corpus. A larger query table runs as ``grid``.

- ``grid``: corpus blocks × query blocks (operators/grid.py), each
  cell scored by the same chunked kernel as ``auto``, then the same
  merge. Query vectors arrive through the join instead of a driver
  collect — the plan for UNBOUNDED query tables.

Payload columns ride along: ``window`` carries them through the rank
in-row; ``auto`` and ``grid`` re-join the corpus payload onto the
merged q×k result (join_payload — AQE broadcasts the small side).
The facade (`VectorStore.query` / `query_threshold`) skips that join
and the merge exchange: its one `grid.probe_scan` carries the payload
columns in the kernel rows (looked up by id in each cell), each task
keeps each query's top k by (distance, id) (`topk_positions`), and the
driver makes the final cut and clips — one Spark job per bounded
batch. It collects this module's plans instead when the batch is
unbounded, or when partitions × q × k rows would pass
`backends.base.SERVE_ROWS`.

Radius search has the same two cell plans (``auto``, ``grid``) over
the one dense range kernel (grid.dense_cell_within, also IVF's and the
self-joins': `neardup_join` and SemDeDup's cluster folds in
operators/cluster.py, which share one keep rule, `self_join_pairs`):
the matrix kernel preselects each pair within a band of the
threshold, and the ``<=`` cut and the clip run on the pair's per-pair
distance, so hits and distances do not depend on the cell or chunk
shape. ``expr`` is the JVM reference plan, as ``window`` is for
top-k.

``bounded_query_matrix`` is the one bounded/unbounded router, called
only by `grid.cell_scan`: every dense query scan (exact top-k and
radius, IVF, the code scans) decides (and collects) there.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from vicinity_spark.datatypes import Metric
from vicinity_spark.functions.metrics import clip_distance, distance_expr
from vicinity_spark.operators.grid import (
    cell_scan,
    corpus_blocks,
    dense_cell_topk,
    dense_cell_within,
    scan_cells,
)
from vicinity_spark.session import local_rows, optimized_plan


def _np_distances(
    metric: Metric, Q: np.ndarray, X: np.ndarray, budget_bytes: int = 32 << 20
) -> np.ndarray:
    """Vectorized distance matrix (len(Q) × len(X)), float64.

    Kernels match functions/metrics.py (and the reference kernels they
    mirror: basic.py:218-222, 241-247; usearch.py:27-34). MANHATTAN and
    HAMMING broadcast a rows × len(X) × dim temporary, so Q is taken in
    row blocks that keep it within ``budget_bytes``; each value is a
    per-pair reduction, so the blocking never changes a bit.
    """
    if metric in (Metric.MANHATTAN, Metric.HAMMING):
        out = np.empty((len(Q), len(X)), dtype=np.float64)
        rows = max(1, budget_bytes // max(1, X.size * 8))
        for s in range(0, len(Q), rows):
            Qb = Q[s : s + rows, None, :]
            if metric is Metric.MANHATTAN:
                out[s : s + rows] = np.abs(Qb - X[None, :, :]).sum(axis=2)
            else:
                out[s : s + rows] = (Qb != X[None, :, :]).sum(axis=2)
        return out
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
    the vectorized row-wise numpy kernel (Arrow batches). The scorer of
    the candidate sets that are joined, not scanned: LSH's bucket
    candidates (`LSHStrategy._scored`), the graph beam's frontiers, and
    the pq and sq branches of the registered `ann_recall_summary`
    query; the cell-scan strategies score inside their scan instead
    (`IndexStrategy._stage_scan`). Candidate volumes are queries ×
    bucket sizes, where per-row JVM evaluation of a dim-wide expression
    dominates. Query vectors arrive by *joining* the
    query DataFrame on query_id — no driver collect, so the plan holds
    at any query count (AQE broadcasts the query side when it is small).
    Distances are RAW (callers rank on them first and clip only the
    returned values, the reference's argsort-then-clip order,
    basic.py:202 / vicinity.py:135 — clipping before the rank would tie
    every dot>1 inner-product hit at 0)."""
    q = queries.select("query_id", F.col("qvec").alias("__qvec"))
    withq = joined.select("query_id", F.col(id_col).alias("id"), vector_col).join(
        q, "query_id"
    )
    return score_pairs(
        withq, metric, a_col="query_id", b_col="id", va_col="__qvec", vb_col=vector_col
    )


def query_matrix(queries: DataFrame, id_col: str = "query_id", vec_col: str = "qvec"):
    """(qids, Q) numpy arrays of the query batch. A ``LocalRelation``
    (``session.local_frame`` batches) is read without a Spark job
    (``session.local_rows``); any other plan comes through the Arrow
    path (one job). An empty batch yields (0,)-shaped ids and a (0, 0)
    matrix."""
    q = queries.select(id_col, vec_col)
    rows = local_rows(q)
    if rows is not None:
        qids = [r[0] for r in rows]
        vecs = [r[1] for r in rows]
    else:
        qpdf = q.toPandas()
        qids, vecs = qpdf[id_col].to_numpy(), qpdf[vec_col]
    if len(qids) == 0:
        return np.empty(0, np.int64), np.empty((0, 0), np.float64)
    Q = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
    return np.asarray(qids, dtype=np.int64), Q


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


def topk_positions(qids: np.ndarray, d: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """`topk_by_distance` on numpy columns: the positions of each
    query's ``k`` best rows by (d, id), NaN last, in (query, d, id)
    order — the same cut for the facade's per-task and driver merges."""
    order = np.lexsort((ids, d, qids))
    q = qids[order]
    first = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    rank = np.arange(len(q)) - np.repeat(first, np.diff(np.r_[first, len(q)]))
    return order[rank < k]


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


# Past this many query rows, a batch is unbounded and routes to the
# block-grid plan: the bounded scan materializes the nq×dim query
# matrix on the driver (bounded_query_matrix), which stops being a
# bounded structure once the query side is itself a large table.
# 8192 × dim=1024 × 8 B ≈ 64 MB is a comfortable driver/broadcast
# ceiling; past it, grid's join-delivered query blocks are the plan
# that holds.
AUTO_GRID_QUERY_ROWS = 8192


def _max_rows(df: DataFrame):
    """The optimizer's ``maxRows`` bound, or None when it has none
    (defined for LocalRelation — ``session.local_frame`` batches — and
    LIMIT'd plans; a ``createDataFrame(<list>)`` or cached frame has
    none)."""
    plan = optimized_plan(df)
    if plan is None or not plan.maxRows().isDefined():
        return None
    return int(plan.maxRows().get())


def bounded_query_matrix(
    queries: DataFrame, id_col: str = "query_id", vec_col: str = "qvec"
):
    """The one bounded/unbounded router: ``(qids, Q)`` when the batch
    has at most AUTO_GRID_QUERY_ROWS rows, else None (the caller then
    plans for an unbounded query table).

    With a defined ``maxRows`` the decision is free and only a bounded
    batch is collected (a ``local_frame`` batch without a job, see
    `query_matrix`). Otherwise ``limit(AUTO_GRID_QUERY_ROWS + 1)`` is
    collected once — one job that both decides and delivers — and the
    batch is unbounded exactly when that many rows came back."""
    mr = _max_rows(queries)
    if mr is not None:
        if mr > AUTO_GRID_QUERY_ROWS:
            return None
        return query_matrix(queries, id_col, vec_col)
    qids, Q = query_matrix(queries.limit(AUTO_GRID_QUERY_ROWS + 1), id_col, vec_col)
    return None if len(qids) > AUTO_GRID_QUERY_ROWS else (qids, Q)


def topk_cells(metric: Metric, k: int):
    """The exact top-k cell kernel: each query's best ``k`` rows of a
    cell by (distance, id), distances re-scored per pair
    (grid.dense_cell_topk)."""
    return lambda ids, X, qids, Q, key: [dense_cell_topk(qids, ids, X.astype(np.float64), Q, metric, k)]


def within_cells(metric: Metric, t: float):
    """The exact range cell kernel (the exact and IVF stores'): every
    (query, row) pair of a cell with distance ``<= t``, clipped,
    distances scored per pair (grid.dense_cell_within)."""
    return lambda ids, X, qids, Q, key: dense_cell_within(qids, ids, X.astype(np.float64), Q, metric, t)


def _dense_scan(corpus, queries, cols, kernel, algorithm: str) -> DataFrame:
    """The exact cell scans: the cell ``kernel`` (`topk_cells`,
    `within_cells`) over `grid.cell_scan` cells of the corpus
    (``cols``: id, vector, query id and query vector column names);
    ``grid`` skips the bounded route."""
    id_col, vector_col, query_id_col, query_vector_col = cols
    return cell_scan(
        corpus.select(F.col(id_col).alias("id"), F.col(vector_col).alias("vector")),
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vector_col).alias("qvec")
        ),
        "vector",
        kernel,
        _KNN_SCHEMA,
        bounded=algorithm != "grid",
    )


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

    ``algorithm="auto"`` routes a batch to the bounded scan or the
    grid (`bounded_query_matrix`). Routing may run one EAGER job on
    the query side at plan-construction time: none when the
    optimizer's ``maxRows`` is defined (local batches, LIMIT'd
    plans), otherwise a ``limit(n+1)`` collect that executes the
    query-side pipeline once up to n+1 rows and delivers the batch. If
    the query side is an expensive lazily-derived table, pass
    ``algorithm="grid"`` to skip it.
    """
    if k < 1:
        raise ValueError("k must be greater than 0")  # basic.py:187-188
    metric = Metric.from_string(metric)
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
    elif algorithm in ("auto", "grid"):
        # `auto`: the bounded broadcast-query scan when the batch is
        # bounded (driver-collected query matrix), else — and always
        # for `grid` — the block grid, whose query blocks arrive by
        # join: a 10M-row query side would materialize nq×dim on the
        # driver. Same kernel either way.
        local = _dense_scan(
            corpus,
            queries,
            (id_col, vector_col, query_id_col, query_vector_col),
            topk_cells(metric, k),
            algorithm,
        )
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
    """Radius search: all corpus rows with distance <= threshold,
    unsorted (vicinity.py:147).

    `auto` (default) and `grid` route exactly as `knn_join` does: one
    `grid.cell_scan` over the chunked range kernel (grid.
    dense_cell_within: per-pair distances, so the hits and their
    values do not depend on the partition layout) — the bounded
    broadcast-query scan for a batch
    of at most AUTO_GRID_QUERY_ROWS rows, else (and always for `grid`)
    the block grid; no dim-wide JVM expression, which falls out of
    whole-stage codegen at large dim. The same eager-probe caveat as
    `knn_join` applies.

    `expr`: the JVM reference plan, bit-comparable to the DuckDB
    oracle and run only on request (as `window` is for top-k): a
    filter on the scan side of a broadcast cross join. Force-broadcasts
    the QUERY side — only safe when the query table is bounded.
    """
    metric = Metric.from_string(metric)
    if algorithm in ("auto", "grid"):
        t = float(threshold)
        out = _dense_scan(
            corpus,
            queries,
            (id_col, vector_col, query_id_col, query_vector_col),
            within_cells(metric, t),
            algorithm,
        )
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
    triangle of block pairs (the second block of each pair rides in the
    cell's query-block columns), and score each grid cell with the
    chunked range kernel (grid.dense_cell_within). Same output as the all-pairs theta join; the
    O(n²) work is split across ~P²/2 bounded numpy cells instead of
    evaluated per-row by dim-wide JVM expressions (which fall out of
    codegen at large dim — functions/metrics.py). Nothing collects to
    the driver, so the plan holds at any corpus size; for corpora where
    O(n²) itself is the problem, the LSH-bucketed
    `LSHStrategy.neardup_pairs` is the sub-quadratic path.

    The corpus folds into at least the fewest blocks whose upper
    triangle has a cell per task slot (Spark's defaultParallelism), and
    the cells are dealt round-robin over the slots, so a corpus under
    one _CTARGET-row block still runs on every slot (the join alone
    leaves the cells in the few partitions the fold coalesces to)."""
    slots = corpus.sparkSession.sparkContext.defaultParallelism
    tri = math.ceil((math.sqrt(8 * slots + 1) - 1) / 2)
    a = corpus_blocks(corpus.select("id", "vector"), "vector", n_blocks=tri)
    b = a.select(
        F.col("__cb").alias("__qb"),
        F.col("__cids").alias("__qids"),
        F.col("__ccodes").alias("__qvecs"),
    )
    grid = a.join(b, F.col("__cb") <= F.col("__qb")).repartition(slots)
    return scan_cells(
        grid, _neardup_kernel(Metric.from_string(metric), float(threshold)), _PAIRS_SCHEMA
    )


def _neardup_kernel(metric: Metric, t: float):
    """scan_cells kernel for one block pair of the self-join: the range
    kernel's hits under `self_join_pairs`, the cell being ``same`` when
    both sides are one hash block."""

    def kernel(ids, X, qids, Q, key):
        hits = dense_cell_within(qids, ids, X.astype(np.float64), Q, metric, t)
        for a, b, d in self_join_pairs(hits, key["__cb"] == key["__qb"]):
            yield pd.DataFrame({"id_a": a, "id_b": b, "distance": d})

    return kernel


def self_join_pairs(hits, same: bool):
    """The one self-join keep rule, of `neardup_join` and the SemDeDup
    folds (operators/cluster.py): the range kernel's hit frames of one
    cell (grid.dense_cell_within) as (id_a, id_b, distance) arrays,
    each unordered pair once with id_a < id_b. A ``same`` cell (its
    query rows are its rows) holds both orientations of every pair, so
    it keeps the one with the query side lower; a cross cell (disjoint
    row sets) holds each pair once, so it only drops self pairs."""
    for f in hits:
        qi, ci = f["query_id"].to_numpy(), f["id"].to_numpy()
        keep = qi < ci if same else qi != ci
        yield np.minimum(qi, ci)[keep], np.maximum(qi, ci)[keep], f["distance"].to_numpy()[keep]
