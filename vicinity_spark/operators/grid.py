"""Cell scans shared by the quantized strategies (backends/sq.py,
pq.py and their IVF composites ivfsq.py, ivfpq.py), IVF
(backends/ivf.py), the exact `auto` / `grid` top-k and range
algorithms and the `neardup_join` self-join in operators/knn.py; the
range kernel `dense_cell_within` also scores SemDeDup's cluster folds
(operators/cluster.py `_pair_kernel`).

Every scan hands cells to a kernel ``kernel(ids, payload, qids, Q,
key)`` — id-sorted corpus ids and payload, the queries scored against
them, the cell's key columns — and the kernels are chunked so a
distance matrix never exceeds _QBLOCK × _CCHUNK doubles. Two plans
deliver the cells; `cell_scan`, the one entry of every dense query
scan, routes between them (knn.bounded_query_matrix decides):

- The block grid, for UNBOUNDED query tables: fold the corpus scan
  payload into block rows (collect_list), fold the query table into
  ~512-query block rows, join the two block relations (crossJoin for
  full scans, an equi-join on cluster for pruned scans —
  `cluster_grid` —, a block-pair theta join for the self-join), and
  run the kernel per grid cell through `scan_cells`. Query vectors
  arrive through the join — no driver collect, so the plan holds at
  any query-table size.
- Its bounded twin `probe_scan`, for a batch of at most
  AUTO_GRID_QUERY_ROWS rows (every facade query): the batch is
  collected once and broadcast, IVF lists are probed on the driver and
  pushed into the corpus scan as ``__cluster IN (...)``, and ONE
  mapInPandas over the corpus partitions gathers each task's Arrow
  batches into cells of up to the grid's block size (per inverted
  list, or flat) with the queries in _QBLOCK slices — no fold, no
  join, no count job. Consumers: the exact ``auto`` top-k and radius
  search (also IVF's, whose cell kernels are the exact ones), the
  re-ranked code scans of sq, pq, ivfsq, ivfpq and ivfpqr, and the
  facade's one-job queries (`IndexStrategy.serve`), whose scan rows
  carry the payload.

Both plans take a ``carry`` (corpus columns each kernel row gets by
id; a carried payload column comes from the payload, not held twice)
and a ``finish`` (what a cell or task emits from its kernel frames):
how a re-rank scores its pool inside the scan on either plan
(`IndexStrategy._stage_scan`) and how the facade's rows carry the
payload.

Everything a kernel needs beyond its cell (codebooks, centroids) is
closure-small.

Reference analog: none (vicinity scores one in-memory matrix,
basic.py:195-204); this is the distributed decomposition of the same
scan.
"""

from __future__ import annotations

import math
from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_QBLOCK = 512  # queries per grid block
_CCHUNK = 8_192  # corpus rows scored per in-kernel slice
_CTARGET = 65_536  # corpus rows per hash block (density default)


def nearest_centroids(Q: np.ndarray, C: np.ndarray, n: int = 1, Csq=None):
    """(idx nq×n, dist nq×n) — each row's n nearest centroids,
    BLAS-computed, with exact-arithmetic SELECTION: the returned SET
    always equals the exact (squared-l2, index) top-n (the SQL
    oracles' ranking); for n == 1 the single index and its distance
    are fully exact, while for n > 1 the ORDER of two ulp-near
    entries WITHIN the set may follow the BLAS values — every
    consumer treats the probe set as a set (explode / unique /
    membership mask), so selection, not order, is the contract
    (property-pinned in test_nearest_centroids_matches_exact_brute_
    force).

    The distance matrix comes from the expansion
    ‖q‖² + ‖c‖² − 2·q·cᵀ — ONE matmul producing nq×k doubles. The
    broadcasting form ((Q[:,None,:]−C[None,:,:])²).sum(2) every
    centroid-argmin kernel in this engine used before r13
    materializes nq×k×dim doubles instead: ~670 MB per 4096-row Arrow
    batch at k=320/dim=64 (measured: a 1M-row SemDeDup assignment ran
    29× its constant-density scaling target), and at the SemDeDup
    paper's k in the tens of thousands it is simply impossible.

    Exactness contract (the oracles replay selection as
    `ORDER BY exact_sqdist, cid`): the expansion can wobble distances
    by an ulp, so rows whose selection BOUNDARY has candidates within
    a relative tolerance band are re-resolved by exact per-candidate
    recomputation (tiny sets — only real ties and ulp-near ties pay).
    For n == 1 the returned distance is additionally recomputed
    exactly for every row (one k-free vectorized pass — SemDeDup's
    'farthest' keep rule ranks on it); for n > 1 distances beyond the
    boundary repair stay BLAS-valued and callers use only the index
    MEMBERSHIP (probe sets)."""
    if Csq is None:
        Csq = (C * C).sum(axis=1)
    n = min(n, C.shape[0])
    Qsq = (Q * Q).sum(axis=1)
    D = Qsq[:, None] + Csq[None, :] - 2.0 * (Q @ C.T)
    np.maximum(D, 0.0, out=D)
    # O(k) selection (argpartition, never a full sort) + O(1)-column
    # boundary probe: "count(D <= kth+tol) > n" is equivalent to
    # "(n+1)th smallest <= kth+tol", and argpartition pins exactly
    # those two order statistics — so tie DETECTION costs one column
    # compare instead of an nq×k boolean matrix and a full argsort
    # (the constant the r13 kernel swap had added to the ivfsq probe
    # path, ~1.25× on ann_ivfsq_batch)
    if n == 1:
        sel = np.argmin(D, axis=1)[:, None]
        kth = np.take_along_axis(D, sel, axis=1)[:, 0]
        nxt = (
            np.partition(D, 1, axis=1)[:, 1]
            if C.shape[0] > 1
            else np.full_like(kth, np.inf)
        )
    elif n < C.shape[0]:
        part = np.argpartition(D, (n - 1, n), axis=1)
        sel = part[:, :n]
        kth = np.take_along_axis(D, part[:, n - 1 : n], axis=1)[:, 0]
        nxt = np.take_along_axis(D, part[:, n : n + 1], axis=1)[:, 0]
    else:  # n == k: the set is every centroid — nothing to repair
        sel = np.broadcast_to(np.arange(n), (Q.shape[0], n)).copy()
        kth = D.max(axis=1)
        nxt = np.full_like(kth, np.inf)
    dist = np.take_along_axis(D, sel, axis=1)
    # the expansion's cancellation error scales with eps*(|q|²+|c|²),
    # not with the (possibly tiny) distance itself — a band sized only
    # by kth misses genuine near-ties on large-norm vectors whose
    # nearest distances are small relative to their norms, so the band
    # is sized by the computation's magnitude per row
    tol = 1e-9 * (1.0 + Qsq + (float(Csq.max()) if Csq.size else 0.0))
    multi = nxt <= kth + tol
    for r in np.nonzero(multi)[0]:
        cand = np.nonzero(D[r] <= kth[r] + tol[r])[0]  # ascending cid
        d_exact = ((Q[r][None, :] - C[cand]) ** 2).sum(axis=1)
        order = np.argsort(d_exact, kind="stable")[:n]
        sel[r] = cand[order]
        dist[r] = d_exact[order]
    if n == 1:
        clean = ~multi
        if clean.any():
            diff = Q[clean] - C[sel[clean, 0]]
            dist[clean, 0] = (diff * diff).sum(axis=1)
    return sel, dist


def centroid_assign(centroids, *, with_dist: bool = False, with_packed: bool = False):
    """``(dtype, fn)`` of the one nearest-centroid assignment column
    (cluster assignment, SemDeDup's folds, the IVF build and insert),
    for `session.vector_column`: vector → nearest centroid id by
    `nearest_centroids` (argmin squared l2, ties to the lower index —
    `ORDER BY dist, cid`).

    With neither flag the column is the int id alone. Otherwise it is
    a struct of ``cluster_id`` plus, on request, ``cdist`` (the exact
    squared-l2 distance to that centroid — SemDeDup's 'farthest' rule
    and cluster_stats rank on it) and ``packed`` (the row's vector as
    float64 bytes, so a cluster fold ships one flat binary cell per
    row; the pack rides the assignment's Arrow crossing). The k×dim
    centroid matrix rides in the closure — no shuffle, no join."""
    cents = [list(map(float, c)) for c in centroids]
    if not cents:
        raise ValueError("centroids must be non-empty")
    C = np.asarray(cents, dtype=np.float64)
    Csq = (C * C).sum(axis=1)

    def assign(Q):
        idx, best = nearest_centroids(Q, C, 1, Csq)
        return {"cluster_id": idx[:, 0], "cdist": best[:, 0], "packed": Q}

    if not (with_dist or with_packed):
        return "int", lambda Q: assign(Q)["cluster_id"]
    fields = ["cluster_id int"] + ["cdist double"] * with_dist + ["packed binary"] * with_packed
    return ", ".join(fields), assign


def _has_python_stage(df: DataFrame) -> bool:
    """True when df's optimized plan contains a Python-worker stage
    (MapInPandas / ArrowEvalPython / BatchEvalPython / FlatMap*Pandas)
    — the lineages for which an extra count() pass is expensive. Plan
    INSPECTION only (no job runs); unreadable plans report True, the
    conservative side (one bounded checkpoint beats a silent double
    kernel pass)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return True
    return ("Python" in plan) or ("Pandas" in plan)


def query_blocks(queries: DataFrame, qblock: int = _QBLOCK) -> DataFrame:
    """(__qb, __qids, __qvecs) — the query table folded into
    ceil(nq/qblock) block rows by hashing query_id. Built with one
    distributed count + one groupBy; nothing touches the driver."""
    nq = queries.count()
    nqb = max(1, math.ceil(nq / qblock))
    return (
        queries.select(
            F.pmod(F.xxhash64("query_id"), F.lit(nqb)).cast("int").alias("__qb"),
            "query_id",
            "qvec",
        )
        .groupBy("__qb")
        .agg(
            F.collect_list("query_id").alias("__qids"),
            F.collect_list("qvec").alias("__qvecs"),
        )
    )


def _collected(carry) -> list:
    """collect_list of each ``carry`` column, named as `cell_arrays`
    reads it back."""
    return [F.collect_list(c).alias(f"__carry_{c}") for c in carry]


def _held(carry, payload_col: str) -> tuple:
    """The ``carry`` columns a cell holds beside its payload."""
    return tuple(c for c in carry if c != payload_col)


def corpus_blocks(
    corpus: DataFrame,
    payload_col: str,
    n_blocks: int = 1,
    target_rows: int = _CTARGET,
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """(__cb, __cids, __ccodes) — the corpus scan payload folded into
    hash blocks (one narrow shuffle of the compact payload), plus one
    collected list per ``carry`` column.

    Block count is a DIRECT cost multiplier on every consumer: the
    crossJoin against query_blocks ships each query block once per
    corpus block, PQ recomputes its ADC tables per cell, and the
    per-query merge handles kk × n_blocks candidates. So the default
    sizes blocks by payload DENSITY — ceil(count/target_rows), one
    distributed count (the twin of query_blocks' own count) — which
    folds a small corpus into few blocks (the r12 fixed-32 default
    regressed pq/sq ~2× on a 2k-row corpus) while a huge corpus still
    gets memory-bounded cells whose block count grows with the data,
    not with a static conf. Callers size target_rows by a block row's
    width: m-byte pq codes afford denser blocks than dim×8-byte vectors
    (`IndexStrategy._stage_scan` keeps the dense default once the
    vector rides along), or floor the count at n_blocks (the
    self-join's task slots).

    The count never doubles the corpus work: a cached or file-scan
    corpus counts directly (column-pruned, ~free), but a lineage with
    Python-worker stages would re-run its whole kernel chain for the
    count, so there the compact projection is materialized once (eager
    localCheckpoint) and both the count and the fold read it (a 200k
    decode→grid-knn chain ran its decode twice, 3.3s → 7.4s, when the
    count hit the raw lineage)."""
    compact = corpus.select(*dict.fromkeys(["id", payload_col, *carry]))
    cached = corpus.storageLevel.useMemory or corpus.storageLevel.useDisk
    if not cached and _has_python_stage(compact):
        compact = compact.localCheckpoint(eager=True)
    ncb = max(1, n_blocks, math.ceil(compact.count() / max(1, target_rows)))
    return (
        compact
        .withColumn("__cb", F.pmod(F.xxhash64("id"), F.lit(ncb)).cast("int"))
        .groupBy("__cb")
        .agg(
            F.collect_list("id").alias("__cids"),
            F.collect_list(payload_col).alias("__ccodes"),
            *_collected(carry),
        )
    )


class InvertedLists:
    """The probe side of an IVF index: each query probes its ``nprobe``
    nearest centroids (`nearest_centroids`), taken in ``space`` — the
    space the lists were clustered in (identity when None). Small
    enough to ride in a task closure."""

    def __init__(self, centroids, nprobe: int, space=None):
        self.C = np.asarray(centroids, dtype=np.float64)
        self.Csq = (self.C * self.C).sum(axis=1)
        self.nprobe = min(int(nprobe), len(self.C))
        self.space = space

    def probes(self, Q: np.ndarray) -> np.ndarray:
        """nq × nprobe probed list ids."""
        if self.space is not None:
            Q = self.space(Q)
        return nearest_centroids(Q, self.C, self.nprobe, self.Csq)[0]


def cluster_grid(
    corpus: DataFrame, queries: DataFrame, lists: InvertedLists, payload_col: str, carry=()
):
    """Cluster-keyed block grid for IVF and its composites (ivfsq, ivfpq):
    one block row per inverted list (`__cluster` plus the collected
    ids, `payload_col` and ``carry``), joined ONLY to the query blocks
    that probe it — nprobe pruning at the block level, so an unprobed
    list ships nowhere. The (query block → probed clusters) pairs come from an
    executor-side pandas UDF over the block's own query vectors; the
    centroids ride in the closure.

    Returns ``(grid, probe_mask)``. A cell holds the whole query
    block, so ``probe_mask(Q, cluster)`` re-derives each query's probe
    set (cheap) and marks the queries that probe the cell's cluster —
    the only ones `scan_cells` hands the cell's kernel."""
    from pyspark.sql.types import ArrayType, IntegerType

    from vicinity_spark.backends.ivf import CLUSTER_COL

    lists_df = (
        corpus.select(*dict.fromkeys(["id", payload_col, CLUSTER_COL, *carry]))
        .groupBy(CLUSTER_COL)
        .agg(
            F.collect_list("id").alias("__cids"),
            F.collect_list(payload_col).alias("__ccodes"),
            *_collected(carry),
        )
    )

    @F.pandas_udf(ArrayType(IntegerType()))
    def block_probes(qv: pd.Series) -> pd.Series:
        out = []
        for vecs in qv:
            Q = np.vstack([np.asarray(v) for v in vecs]).astype(np.float64)
            out.append(np.unique(lists.probes(Q)).astype(np.int32))
        return pd.Series(out)

    grid = (
        query_blocks(queries)
        .withColumn("__probes", block_probes("__qvecs"))
        .select("*", F.explode("__probes").alias(CLUSTER_COL))
        .drop("__probes")
        .join(lists_df, CLUSTER_COL)
    )

    def probe_mask(Q: np.ndarray, cluster: int) -> np.ndarray:
        return (lists.probes(Q) == cluster).any(axis=1)

    return grid, probe_mask


def cell_arrays(pdf: pd.DataFrame, i: int, carry=()):
    """Decode one grid-cell row back to numpy (ids, payload, qids, Q,
    carried): ``carried`` maps each ``carry`` column to its values,
    row-aligned with ``ids``.

    Corpus entries come back SORTED BY id: collect_list order is
    nondeterministic, and the top-k kernels below break exact-distance
    ties by array position — sorting here makes position order ≡ id
    order, so every cut is a deterministic (distance, id) cut that
    matches the SQL oracles' ORDER BY d, id regardless of partition
    layout (ties are real: duplicate vectors, duplicate quantization
    codes)."""
    ids = np.asarray(pdf["__cids"].iloc[i], dtype=np.int64)
    payload = np.vstack([np.asarray(c) for c in pdf["__ccodes"].iloc[i]])
    order = np.argsort(ids, kind="stable")
    ids, payload = ids[order], payload[order]
    carried = {c: np.asarray(pdf[f"__carry_{c}"].iloc[i])[order] for c in carry}
    qids = np.asarray(pdf["__qids"].iloc[i], dtype=np.int64)
    Q = np.vstack([np.asarray(v) for v in pdf["__qvecs"].iloc[i]]).astype(np.float64)
    return ids, payload, qids, Q, carried


def scan_cells(
    grid: DataFrame, kernel, schema, probe_mask=None, *, carry=(), finish=None, payload_col=None
) -> DataFrame:
    """The one mapInPandas over grid cells. Each cell row is decoded by
    `cell_arrays` (id-sorted corpus ids and payload, query ids, float64
    Q) and handed to ``kernel(ids, payload, qids, Q, key)``, which
    yields frames of ``schema``; ``key`` maps the cell's key columns
    (``__cluster``, ``__cb``, ``__qb`` — those the grid has) to ints.
    With a `cluster_grid` ``probe_mask``, the kernel sees only the
    queries that probe the cell's cluster, and cells no query probes
    are skipped. ``carry``, ``payload_col`` and ``finish`` act per cell
    as in `probe_scan`. The loop is a module function bound by
    `partial`, so a task's closure carries only the kernel, the key
    names, the mask and ``finish``."""
    from vicinity_spark.backends.ivf import CLUSTER_COL

    keys = [c for c in (CLUSTER_COL, "__cb", "__qb") if c in grid.columns]
    fn = partial(
        _scan, kernel, keys, probe_mask, carry=tuple(carry), finish=finish, payload_col=payload_col
    )
    fn.__name__ = "scan_cells"  # the UDF's name in plan dumps
    return grid.mapInPandas(fn, schema)


def _scan(
    kernel, keys, probe_mask, batches: Iterator[pd.DataFrame], carry=(), finish=None,
    payload_col=None,
):
    from vicinity_spark.backends.ivf import CLUSTER_COL

    for pdf in batches:
        for i in range(len(pdf)):
            ids, payload, qids, Q, carried = cell_arrays(pdf, i, _held(carry, payload_col))
            if payload_col in carry:
                carried[payload_col] = payload
            key = {c: int(pdf[c].iloc[i]) for c in keys}
            if probe_mask is not None:
                mask = probe_mask(Q, key[CLUSTER_COL])
                if not mask.any():
                    continue
                qids, Q = qids[mask], Q[mask]
            frames = _sliced(kernel, ids, payload, qids, Q, key, carried)
            yield from frames if finish is None else finish(frames, qids, Q)


def _sliced(kernel, ids, payload, qids, Q, key, carried):
    """The kernel over one cell with the queries in _QBLOCK slices, so
    its matrices stay within _QBLOCK × _CCHUNK doubles, the ``carried``
    columns looked up on each frame (`_with_carry`)."""
    for s in range(0, len(qids), _QBLOCK):
        b = slice(s, s + _QBLOCK)
        yield from _with_carry(kernel(ids, payload, qids[b], Q[b], key), ids, carried)


def _with_carry(frames, ids: np.ndarray, carried: dict):
    """``frames`` with each ``carried`` column (row-aligned with the
    id-sorted cell ``ids``; the payload matrix row by row) looked up
    by the row's ``id``."""
    for f in frames:
        if carried:
            at = np.searchsorted(ids, f["id"].to_numpy())
            f = f.assign(**{n: v[at] if v.ndim == 1 else list(v[at]) for n, v in carried.items()})
        yield f


def cell_scan(
    corpus: DataFrame,
    queries: DataFrame,
    payload_col: str,
    kernel,
    schema,
    *,
    lists: "InvertedLists | None" = None,
    target_rows: int = _CTARGET,
    bounded: bool = True,
    carry: "tuple[str, ...]" = (),
    finish=None,
) -> DataFrame:
    """The query scan of every cell kernel: ``kernel(ids, payload, qids,
    Q, key)`` over ``corpus`` (``id`` plus ``payload_col``, and
    ``__cluster`` when ``lists`` is given) against ``queries``
    (``query_id``, ``qvec``). A bounded batch (`bounded_query_matrix`)
    runs `probe_scan` (cells of up to ``target_rows`` rows); an
    unbounded one — or any batch when ``bounded`` is False — runs the
    block grid: `cluster_grid` with ``lists``, else ``corpus_blocks``
    (``target_rows`` per block) × `query_blocks`, through
    `scan_cells`. ``carry`` and ``finish`` are `probe_scan`'s; the
    block grid honours them per cell."""
    from vicinity_spark.operators.knn import bounded_query_matrix

    batch = bounded_query_matrix(queries) if bounded else None
    if batch is not None:
        return probe_scan(
            corpus, batch, payload_col, kernel, schema,
            lists=lists, target_rows=target_rows, carry=carry, finish=finish,
        )
    held = _held(carry, payload_col)
    if lists is None:
        blocks = corpus_blocks(corpus, payload_col, target_rows=target_rows, carry=held)
        grid, probe_mask = blocks.crossJoin(query_blocks(queries)), None
    else:
        grid, probe_mask = cluster_grid(corpus, queries, lists, payload_col, held)
    return scan_cells(
        grid, kernel, schema, probe_mask, carry=carry, finish=finish, payload_col=payload_col
    )


def probe_scan(
    corpus: DataFrame,
    batch,
    payload_col: str,
    kernel,
    schema,
    *,
    lists: "InvertedLists | None" = None,
    target_rows: int = _CTARGET,
    carry: "tuple[str, ...]" = (),
    finish=None,
) -> DataFrame:
    """The bounded twin of `cluster_grid` + `scan_cells`: ONE
    mapInPandas over the corpus partitions, with the driver-collected
    batch ``(qids, Q)`` broadcast — no query fold, no corpus fold, no
    join. With ``lists`` the queries are probed on the driver and
    ``__cluster IN (<probed union>)`` is pushed into the corpus scan
    (a partition filter on a reloaded ``partitionBy(__cluster)``
    store); each task then gathers its rows into one cell per inverted
    list, handed only the queries that probe that list. Without
    ``lists`` a task's rows form flat cells with every query.

    ``carry`` names corpus columns each kernel output row gets, looked
    up by its ``id`` in the cell that emitted it (the facade's payload,
    or the columns a re-rank scores; ``payload_col`` row by row from
    the cell's payload). ``finish(frames, qids, Q)``, a
    generator over all of a task's kernel frames, shapes what the task
    emits (a re-rank's per-task cut); ``schema`` is then its output's.

    A cell is cut once adding the next Arrow batch (or a list's share
    of it) would pass ``target_rows`` rows, so cells are as coarse as
    the grid's corpus blocks: a kernel's per-cell cost (PQ's ADC
    tables, the per-query candidate merge, q × kk rows shipped per
    cell) is paid per ~target_rows rows, not per Arrow batch. Cells are
    id-sorted like `cell_arrays`' and the queries go to the kernel in
    ``_QBLOCK`` slices, so a kernel's matrices stay within _QBLOCK ×
    _CCHUNK doubles as on the grid."""
    from vicinity_spark.backends.ivf import CLUSTER_COL
    from vicinity_spark.session import local_frame

    qids, Q = batch
    spark = corpus.sparkSession
    if len(qids) == 0:
        return local_frame(spark, {f.name: [] for f in schema.fields}, schema)
    cols, members = ["id", payload_col], None
    if lists is not None:
        probes = lists.probes(Q)
        union = np.unique(probes)
        members = {int(c): np.nonzero((probes == c).any(axis=1))[0] for c in union}
        # one SQL string, not one py4j literal per probed list
        corpus = corpus.where(f"{CLUSTER_COL} IN ({', '.join(str(int(c)) for c in union)})")
        cols.append(CLUSTER_COL)
    bq = spark.sparkContext.broadcast((qids, Q, members))
    fn = partial(
        _probe_scan, kernel, payload_col, target_rows, bq, carry=tuple(carry), finish=finish
    )
    fn.__name__ = "probe_scan"  # the UDF's name in plan dumps
    return corpus.select(*dict.fromkeys(cols + list(carry))).mapInPandas(fn, schema)


def _probe_scan(
    kernel, payload_col, target_rows, bq, batches: Iterator[pd.DataFrame], carry=(), finish=None
):
    qids, Q, members = bq.value
    frames = _probe_cells(kernel, payload_col, target_rows, carry, qids, Q, members, batches)
    yield from frames if finish is None else finish(frames, qids, Q)


def _probe_cells(kernel, payload_col, target_rows, carry, qids, Q, members, batches):
    from vicinity_spark.backends.ivf import CLUSTER_COL

    held = _held(carry, payload_col)
    # cell (list id, or None when flat) → [ids parts, payload parts, carry parts, rows]
    pending = {}

    def cut(c):
        id_parts, pay_parts, carry_parts, _ = pending.pop(c)
        ids, payload = np.concatenate(id_parts), np.concatenate(pay_parts)
        order = np.argsort(ids, kind="stable")
        ids, payload = ids[order], payload[order]
        carried = {n: np.concatenate([p[n] for p in carry_parts])[order] for n in held}
        if payload_col in carry:
            carried[payload_col] = payload
        qs, key = (slice(None), {}) if c is None else (members[c], {CLUSTER_COL: c})
        yield from _sliced(kernel, ids, payload, qids[qs], Q[qs], key, carried)

    for pdf in batches:
        if not len(pdf):
            continue
        ids = pdf["id"].to_numpy().astype(np.int64)
        payload = np.vstack(pdf[payload_col].to_numpy())
        extra = {n: pdf[n].to_numpy() for n in held}
        if members is None:
            pieces = [(None, ids, payload, extra)]
        else:
            cl = pdf[CLUSTER_COL].to_numpy()
            pieces = []
            for c in np.unique(cl):
                m = cl == c
                pieces.append((int(c), ids[m], payload[m], {n: v[m] for n, v in extra.items()}))
        for c, pids, ppay, pextra in pieces:
            if c in pending and pending[c][3] + len(pids) > target_rows:
                yield from cut(c)
            cell = pending.setdefault(c, [[], [], [], 0])
            cell[0].append(pids)
            cell[1].append(ppay)
            cell[2].append(pextra)
            cell[3] += len(pids)
    for c in list(pending):
        yield from cut(c)


def det_topk_idx(D: np.ndarray, cap: int) -> np.ndarray:
    """Per-row index SETS of the top-`cap` entries by (value, index) —
    DETERMINISTIC at equal values, where argpartition's tie order is
    arbitrary (and real: duplicate vectors / quantization codes tie
    bit-exactly, so an argpartition boundary is partition-layout-
    dependent). The selected SET is deterministic; order within a row
    is unspecified (every caller re-cuts by (distance, id) downstream).
    Rows whose boundary is tie-free keep the pure O(n) argpartition
    result; only tie-straddling (or NaN-poisoned) rows pay an exact
    per-row resolution. Column index order must equal id order
    (cell_arrays sorts by id)."""
    n, w = D.shape
    cap = min(cap, w)
    if cap == w:
        return np.broadcast_to(np.arange(w, dtype=np.int64), (n, w))
    part = np.argpartition(D, cap - 1, axis=1)[:, :cap]
    kth = np.take_along_axis(D, part, axis=1).max(axis=1)
    counts = (D <= kth[:, None]).sum(axis=1)
    out = part.astype(np.int64)
    for r in np.nonzero(counts != cap)[0]:
        if counts[r] > cap:  # boundary ties — resolve by (value, index)
            cand = np.nonzero(D[r] <= kth[r])[0]  # ascending index order
            out[r] = cand[np.argsort(D[r, cand], kind="stable")[:cap]]
        else:  # NaNs poisoned the kth compare
            out[r] = np.argsort(D[r], kind="stable")[:cap]
    return out


def rescore_pairs(metric, Q: np.ndarray, X: np.ndarray, qi: np.ndarray, ci: np.ndarray,
                  budget_bytes: int = 512 << 10) -> np.ndarray:
    """Exact distances of the pairs (Q[qi[p]], X[ci[p]]) by the per-pair
    kernel (`_np_pairwise` — per-row reductions, so the value depends
    only on the pair, never on batch shape). The pairs are gathered in
    blocks so the gathered Q and X temporaries stay ≤ budget_bytes each
    (r14 ADVICE: the unchunked form materialized two nq·cap × dim
    float64 matrices — ~800 MB each at 1k queries × cap 100 × dim
    1024 — a peak-memory term outside the _CCHUNK discipline, and the
    prime suspect for the r14 32-worker crashes). The blocks are sized
    to stay in a core's cache: on a 4-core Xeon with 2 MiB of L2 per
    core, 40,000 cosine pairs re-scored in 11.8-12.9 ms at dim 64 and
    156-170 ms at dim 1024 with 512 KB blocks, against 25-37 ms and
    441-512 ms with 32 MB blocks."""
    from vicinity_spark.operators.knn import _np_pairwise

    Q = np.asarray(Q, dtype=np.float64)
    step = max(1, budget_bytes // max(1, (X.shape[1] if X.ndim == 2 else 1) * 8))
    parts = [
        _np_pairwise(metric, Q[qi[s : s + step]], X[ci[s : s + step]])
        for s in range(0, len(qi), step)
    ]
    return np.concatenate(parts) if parts else np.empty(0)


def _merge_parts(qids, ids, parts_d, parts_i, kk: int, rescore=None) -> pd.DataFrame:
    Dall = np.concatenate(parts_d, axis=1)
    Iall = np.concatenate(parts_i, axis=1)
    cap = min(kk, Dall.shape[1])
    # deterministic (distance, index) cut: pre-order columns by index
    # (index ≡ id rank — cell_arrays sorts by id), then det_topk_idx
    # breaks exact-distance ties by id. The merge matrix is small
    # (cap × n_chunks wide), so the full column re-order is cheap.
    ordI = np.argsort(Iall, axis=1, kind="stable")
    D2 = np.take_along_axis(Dall, ordI, axis=1)
    I2 = np.take_along_axis(Iall, ordI, axis=1)
    if rescore is not None:
        # layout-independent distances (r14, re-sited r15): BLAS matrix
        # kernels are free to pick different micro-kernels for
        # different batch SHAPES, so the same (query, vector) pair can
        # score an ulp apart in different partitions/cells/chunks
        # (observed live on the r14 host: exact duplicates at 0.0 in
        # one partition and 1.11e-16 in another — the downstream
        # (distance, id) cut then kept the WRONG duplicate ids).
        # Re-scoring every surviving per-chunk candidate (≤ kk ×
        # n_chunks wide) with the per-pair kernel — whose reduction
        # runs over each row alone, hence shape-independent — makes
        # the values a function of the pair only. r15 (ADVICE): the
        # rescore moved BEFORE the merge cut — the r14 form rescored
        # only the post-cut winners, so duplicates split across
        # DIFFERENT-SHAPED chunks of one cell could still tie-break on
        # ulp-different per-chunk values at the cap boundary; cutting
        # on the rescored matrix closes that hole. Selection inside a
        # chunk is untouched (one BLAS call scores identical vectors
        # identically); cost is nq × kk·n_chunks pair scores beside
        # the nq × n matrix already computed (<1%).
        Q, X, metric = rescore
        qi = np.repeat(np.arange(len(I2)), I2.shape[1])
        D2 = rescore_pairs(metric, Q, X, qi, I2.ravel()).reshape(I2.shape)
    sel = det_topk_idx(D2, cap)
    dd = np.take_along_axis(D2, sel, axis=1)
    ii = np.take_along_axis(I2, sel, axis=1)
    return pd.DataFrame(
        {
            "query_id": np.repeat(np.asarray(qids, dtype=np.int64), cap),
            "id": np.asarray(ids, dtype=np.int64)[ii.ravel()],
            "distance": dd.ravel(),
        }
    )


def cell_topk(qids, ids, codes, tables, m: int, kk: int) -> pd.DataFrame:
    """Per-query top-kk of one grid cell via PQ ADC lookups —
    D[q, n] = Σ_j tables[q, j, codes[n, j]] — chunked so the distance
    matrix stays bounded. Emits pre-ranked candidate rows; downstream
    only merges bounded per-cell winners."""
    parts_d, parts_i = [], []
    for s in range(0, len(ids), _CCHUNK):
        D = tables[:, np.arange(m), codes[s : s + _CCHUNK]].sum(axis=2)
        cap = min(kk, D.shape[1])
        # chunk columns are in ascending-id order (cell arrays are
        # id-sorted), so det_topk_idx's index tiebreak is an id tiebreak
        idx = det_topk_idx(D, cap)
        parts_d.append(np.take_along_axis(D, idx, axis=1))
        parts_i.append(idx + s)
    return _merge_parts(qids, ids, parts_d, parts_i, kk)


def dense_cell_topk(qids, ids, X: np.ndarray, Q: np.ndarray, metric, kk: int) -> pd.DataFrame:
    """Per-query top-kk of one grid cell over DENSE vectors (the SQ /
    exact-grid sibling of cell_topk). Emitted distances are re-scored
    per-pair so they are independent of cell/chunk shape — see the
    rescore note in _merge_parts (cell_topk's ADC sums are already
    shape-independent: fixed-m reductions per row)."""
    from vicinity_spark.operators.knn import _np_distances

    parts_d, parts_i = [], []
    for s in range(0, len(ids), _CCHUNK):
        D = _np_distances(metric, Q, X[s : s + _CCHUNK])
        cap = min(kk, D.shape[1])
        idx = det_topk_idx(D, cap)  # ties cut by id (see cell_topk)
        parts_d.append(np.take_along_axis(D, idx, axis=1))
        parts_i.append(idx + s)
    return _merge_parts(qids, ids, parts_d, parts_i, kk, rescore=(Q, X, metric))


def dense_cell_within(qids, ids, X: np.ndarray, Q: np.ndarray, metric, t: float):
    """Every (query, corpus row) pair of one grid cell with distance
    ``<= t``, as (query_id, id, distance) frames, distances clipped to
    ≥ 0 — the one dense range kernel (exact and IVF range search, and
    the self-joins: `neardup_join` and SemDeDup's cluster folds, under
    one keep rule, knn.self_join_pairs). The matrix kernel only
    preselects the pairs
    within a band of ``t``; the cut and the clip run on their per-pair
    distances (`rescore_pairs`), so a hit and its distance never depend
    on the cell or chunk shape (see the rescore note in `_merge_parts`).
    The band is sized by the computation's magnitude, 1e-9 × (1 + ‖q‖²
    + ‖x‖²) as in `nearest_centroids`, on the squared distance for
    euclidean and on unit vectors for cosine, where the expansion's
    error lives. Both sides are sliced (_QBLOCK queries × _CCHUNK rows),
    so no distance matrix exceeds that many doubles."""
    from vicinity_spark.datatypes import Metric
    from vicinity_spark.operators.knn import _np_distances

    squared, unit = metric is Metric.EUCLIDEAN, metric is Metric.COSINE
    mm, bound = (Metric.L2_SQUARED, math.copysign(t * t, t)) if squared else (metric, t)
    q2 = np.ones(len(Q)) if unit else (Q * Q).sum(axis=1)
    for s in range(0, len(ids), _CCHUNK):
        Xs, cs = X[s : s + _CCHUNK], ids[s : s + _CCHUNK]
        # fmax: a NaN row must not void the band of its whole chunk
        x2 = 1.0 if unit else float(np.fmax.reduce((Xs * Xs).sum(axis=1), initial=0.0))
        for r in range(0, len(qids), _QBLOCK):
            Qr = Q[r : r + _QBLOCK]
            band = bound + 1e-9 * (1.0 + q2[r : r + _QBLOCK] + x2)
            qi, ci = np.nonzero(_np_distances(mm, Qr, Xs) <= band[:, None])
            d = rescore_pairs(metric, Qr, Xs, qi, ci)
            hit = d <= t
            if hit.any():
                yield pd.DataFrame(
                    {
                        "query_id": qids[r : r + _QBLOCK][qi[hit]],
                        "id": cs[ci[hit]],
                        "distance": np.maximum(d[hit], 0.0),
                    }
                )
