"""Strategy contract — the Spark analog of the reference's backend ABC
(vicinity/backends/base.py:42-107). A strategy owns the *physical
layout* of the vector DataFrame (extra columns such as LSH buckets or
IVF cluster ids) and the *candidate plan* used for k-NN / threshold
queries; `IndexStrategy` owns the rest of the query pipeline, so every
strategy returns results of one shape with one tie order.

The contract:

- `_scored(corpus, queries, k, metric)` gives the DataFrame plans
  their scored candidate rows `(query_id, id, distance)` with RAW
  (unclipped) distances, at most one row per (query_id, id). `k` is the
  result size the caller asked for; strategies that prune internally
  (code scans, beam pools) size their pools from it; the exact and
  IVF kernels cut each cell at it, and LSH ignores it. A cell
  strategy supplies `_cells` (its cell kernel), `_lists` (IVF probes)
  and `_stages` (its cuts after the scan); the base `_scored` runs them.
  LSH and graph override `_scored` and join their own candidates.
- Dense scans: the exact, IVF, SQ/PQ and IVF-SQ/PQ candidate scans
  are one `grid.cell_scan` call each, which alone picks the plan. A
  query batch of at most AUTO_GRID_QUERY_ROWS rows is scored in one
  broadcast-query scan of the corpus partitions (`grid.probe_scan`;
  IVF strategies probe on the driver and push the probed lists into
  the scan); a larger query table runs the block grid (`cluster_grid`
  for IVF strategies), which never collects it.
- `knn` rejects `k < 1`, keeps each query's top `k` by
  `(distance, id)` — the id tiebreak makes the cut independent of the
  physical layout at exact ties — and only then clips the returned
  distances to ≥ 0 (clip-after-rank, the reference's argsort-then-clip
  order). Payload columns are left-joined by id last. Output columns:
  `query_id, id, distance, rank, *payload`.
- `threshold` returns `query_id, id, distance, *payload` for
  `distance <= threshold`. A strategy with a range cell kernel
  (`_range_cells`: exact and IVF, both `knn.within_cells`) runs
  one `grid.cell_scan` of it, the scan `serve` probes too: the kernel
  keeps the hits and clips them, with no cut and no Spark filter.
  Otherwise it is the reference's ANN radius search: the top `max_k`
  by the same cut, then the `<=` filter (hnsw.py:107-114,
  usearch.py:131-139) — sq, pq, ivfpq, ivfsq and graph. LSH overrides
  it with a range search over its bucket-matched candidates. Exact,
  IVF and LSH ignore `max_k`, as the reference's BASIC and
  range-search backends do (basic.py:149-172).
- One stage plan (`_stages`, scanned by `_stage_scan`) feeds the
  DataFrame plans and the facade. The scan carries the columns the
  later stages read (a re-rank's vector, ivfpqr's codes); each task —
  each cell on the block grid — keeps each query's best first-stage
  rows and scores the later stages on them. `_scored` then cuts as
  Spark windows; `serve` (`VectorStore.query` / `query_threshold`)
  runs it as ONE `grid.probe_scan` job whose rows also carry the
  payload, and cuts on the driver. A strategy without cells (LSH,
  graph), a payload type outside `_CARRY`, or a top-k scan whose tasks
  would ship more than SERVE_ROWS rows makes `serve` return None, and
  the facade collects the DataFrame plan.
"""

from __future__ import annotations

from functools import partial
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.operators.knn import (
    _KNN_SCHEMA,
    KNN_COLS,
    RADIUS_COLS,
    _np_pairwise,
    clipped_topk,
    join_payload,
    topk_by_distance,
    topk_positions,
)

#: The facade's bound on the rows its scan tasks ship to the driver:
#: corpus partitions × queries × first-stage rows (`_stages`), each
#: task's per-query cut. Past it `serve` declines and the facade
#: collects the DataFrame plan, which cuts in Spark and ships queries ×
#: k rows. Measured on a cached 20k × 64 cosine IVF store in 4
#: partitions, 4 cpus (ROADMAP item 2): the facade is faster up to
#: 32,768 such rows and slower from 65,536, where collecting and
#: merging the rows on the driver outweighs the jobs it saves.
SERVE_ROWS = 1 << 15
#: The payload column types the scan carries exactly, each with the
#: driver's decode of its carried form: a string or boolean column as
#: it is (None), an integral or double column as its string cast
#: (pandas would turn a nullable integral column that holds a null into
#: float64, and a double NaN comes back from pandas as null). A store
#: with another payload type takes the DataFrame plan.
_CARRY = {
    "string": None,
    "boolean": None,
    "bigint": int,
    "int": int,
    "smallint": int,
    "tinyint": int,
    "double": float,
}


def _task_best(size: int, extras, drop, frames, qids, Q):
    """What a scan task (a cell, on the block grid) emits: each query's
    best ``size`` rows by (distance, id) — a superset of the task's
    share of the global cut — with the columns ``extras(frame, Qrows)``
    adds and without the ``drop`` columns. Frames are scored as they
    come, in slices of at most _QBLOCK × _CCHUNK query-vector doubles,
    and drop their read columns at once (a carried vector pins its
    Arrow batch). The kept rows are re-cut once most of them lie past
    their query's ``size``-th, and a row beyond its query's
    ``size``-th kept distance is then skipped unscored."""
    from vicinity_spark.operators.grid import _CCHUNK, _QBLOCK

    at = pd.Index(qids)
    step = max(1, _QBLOCK * _CCHUNK // max(1, Q.shape[1]))
    bound = np.full(len(qids), np.inf)
    count = np.zeros(len(qids), dtype=np.int64)
    kept = []
    for f in frames:
        pos = at.get_indexer(f["query_id"])
        live = ~(f["distance"].to_numpy() > bound[pos])
        f, pos = f[live], pos[live]
        for s in range(0, len(f), step):
            part = f.iloc[s : s + step]
            if extras is not None:
                part = extras(part, Q[pos[s : s + step]])
            kept.append(part.drop(columns=list(drop)))
        count += np.bincount(pos, minlength=len(qids))
        if 2 * np.maximum(count - size, 0).sum() > count.sum():
            kept, count = [_best(kept, size)], np.minimum(count, size)
            q, d = kept[0]["query_id"].to_numpy(), kept[0]["distance"].to_numpy()
            u, first, n = np.unique(q, return_index=True, return_counts=True)
            full = n == size
            bound[at.get_indexer(u[full])] = d[(first + n - 1)[full]]
    if (count > size).any():
        kept = [_best(kept, size)]
    yield from (f for f in kept if len(f))


def _best(frames, size: int) -> pd.DataFrame:
    """Each query's best ``size`` rows of ``frames`` by (distance, id),
    in (query_id, distance, id) order."""
    f = pd.concat(frames, ignore_index=True)
    keep = topk_positions(
        f["query_id"].to_numpy(), f["distance"].to_numpy(), f["id"].to_numpy(), size
    )
    return f.iloc[keep].reset_index(drop=True)


def _merged(rows, stages, payload) -> "list[dict]":
    """The facade's driver merge of the scan tasks' rows: every stage's
    (column, id) cut (`topk_positions`), then the last column clipped
    as the result distance (`clipped_topk`'s order; a NaN crossed the
    Arrow boundary as null, and stays NaN). ``payload`` maps each
    payload column to its `_CARRY` decode."""
    qid = np.array([r["query_id"] for r in rows], dtype=np.int64)
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    keep = np.arange(len(rows))
    for col, size in stages:
        d = np.array([rows[i][col] for i in keep], dtype=np.float64)
        keep = keep[topk_positions(qid[keep], d, ids[keep], size)]
    return [_hit(rows[i], stages[-1][0], payload) for i in keep]


def _hit(r, col: str, payload) -> dict:
    """A scan row as a result dict: query_id, id, ``col`` clipped as
    the distance, the payload columns decoded."""
    d = r[col]
    hit = {"query_id": r["query_id"], "id": r["id"]}
    hit["distance"] = float("nan") if d is None else max(d, 0.0)
    for c, decode in payload.items():
        hit[c] = r[c] if decode is None or r[c] is None else decode(r[c])
    return hit


class IndexStrategy:
    """Base: build layout columns at ingest, plan queries at read time.

    Mirrors the abstract contract at base.py:42-107 (`from_vectors`,
    `query`, `threshold`, `insert`, `delete`) reshaped for DataFrames:
    build() decorates the corpus with layout columns; knn()/threshold()
    return result DataFrames; on_insert() re-decorates appended rows.
    """

    backend = Backend.BASIC
    #: strategies that guarantee exact results (recall 1.0)
    exact = True

    def __init__(self, **params):
        self.params = dict(params)

    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        """Add layout columns. Default: none (flat layout)."""
        self.params["dim"] = int(dim)
        return df

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        """Decorate appended rows with layout columns (F9 analog)."""
        return self.build(new_df, metric, dim)

    def _lists(self, metric: Metric):
        """The inverted lists a cell scan probes (grid.InvertedLists);
        None: a flat scan."""
        return None

    def _cells(self, metric: Metric, k: int):
        """The strategy's one cell kernel: ``(payload_col, kernel,
        target_rows)``, where ``kernel(ids, payload, qids, Q, key)``
        yields (query_id, id, RAW distance) frames, each query's top
        ``k`` of the cell by (distance, id). None: the strategy scans
        no cells (LSH, graph)."""
        return None

    def _range_cells(self, metric: Metric, threshold: float):
        """The range-search cell kernel, as `_cells`, whose rows are
        final hits (distance ``<= threshold``, clipped). None: the
        strategy's `threshold` is not a range search over cells."""
        return None

    def _range_scan(self, metric: Metric, threshold: float, carry=(), fields=()):
        """The scan of `_range_cells`: ``(args, kwargs)`` for
        ``grid.cell_scan(corpus, queries, *args, **kwargs)`` or
        ``grid.probe_scan(corpus, batch, ...)``, emitting the hits
        (query_id, id, clipped distance) and the ``carry`` columns typed
        by ``fields``. None when the strategy has no range kernel."""
        cells = self._range_cells(metric, float(threshold))
        if cells is None:
            return None
        payload_col, kernel, target_rows = cells
        schema = StructType(_KNN_SCHEMA.fields + list(fields))
        kwargs = dict(lists=self._lists(metric), target_rows=target_rows, carry=tuple(carry))
        return (payload_col, kernel, schema), kwargs

    def _stages(self, k: int, metric: Metric):
        """The strategy's top-``k`` plan after the cell scan, the one
        both `serve` and `_scored` run: ``(stages, read, extras)``.
        ``stages`` are (column, rows per query) cuts, each query's best
        rows by (column, id) kept stage after stage; the first ranks
        the cell kernel's ``distance`` and sizes its ``k``, the last
        column is the result distance. ``extras(frame, Qrows)`` (None:
        none) adds the later stages' columns in the scan task from the
        corpus columns ``read``."""
        return [("distance", k)], (), None

    def _stage_scan(self, metric: Metric, k: int, carry=(), fields=(), cut=False):
        """The scan of `_stages`: ``(stages, args, kwargs)`` for
        ``grid.cell_scan(corpus, queries, *args, **kwargs)`` or
        ``grid.probe_scan(corpus, batch, ...)``, emitting (query_id,
        id, distance, the later stages' columns, the ``carry`` columns
        typed by ``fields``). With extras or ``cut``, each task cuts
        and scores through `_task_best`. A scan that carries the vector
        is as wide as a dense one, so its cells take at most the dense
        _CTARGET rows. None when the strategy scans no cells."""
        from vicinity_spark.operators.grid import _CTARGET

        stages, read, extras = self._stages(k, metric)
        size = stages[0][1]
        cells = self._cells(metric, size)
        if cells is None:
            return None
        payload_col, kernel, target_rows = cells
        if "vector" in read:
            target_rows = min(target_rows, _CTARGET)
        dists = [StructField(c, DoubleType()) for c, _ in stages[1:]]
        schema = StructType(_KNN_SCHEMA.fields + dists + list(fields))
        finish = None
        if cut or extras is not None:
            finish = partial(_task_best, size, extras, [c for c in read if c not in carry])
        kwargs = dict(
            lists=self._lists(metric),
            target_rows=target_rows,
            carry=tuple(dict.fromkeys([*carry, *read])),
            finish=finish,
        )
        return stages, (payload_col, kernel, schema), kwargs

    def _scored(
        self, corpus: DataFrame, queries: DataFrame, k: int, metric: Metric
    ) -> DataFrame:
        """(query_id, id, distance) scored candidates, RAW distances:
        `_stage_scan` over `grid.cell_scan` cells, then each stage but
        the last cut by its (column, id) window; the last stage's
        column comes back as ``distance``, and its cut is `knn`'s. A
        single-stage strategy (exact, IVF) returns the scan as it is."""
        from vicinity_spark.operators.grid import cell_scan

        plan = self._stage_scan(metric, k)
        if plan is None:
            raise NotImplementedError
        stages, args, kwargs = plan
        scored = cell_scan(corpus, queries, *args, **kwargs)
        for (_, size), (col, _) in zip(stages, stages[1:]):
            scored = (
                topk_by_distance(scored, size, "__cut")
                .drop("__cut", "distance")
                .withColumnRenamed(col, "distance")
            )
        return scored

    def serve(
        self,
        corpus: DataFrame,
        batch,
        metric: Metric,
        payload_cols: Sequence[str],
        *,
        k: "int | None" = None,
        threshold: "float | None" = None,
        max_k: int = 100,
    ) -> "list[dict] | None":
        """The facade's one-job query of a bounded batch ``(qids, Q)``:
        top ``k`` (the rows of `knn`, in rank order) or, with
        ``threshold``, the rows of `threshold` — as dicts of query_id,
        id, distance and the payload columns. One `grid.probe_scan` of
        the cell kernel carries the payload; for a top-k each task
        keeps each query's best first-stage rows and the driver makes
        every cut. None when the strategy scans no cells, a payload
        column has a type the scan does not carry (`_CARRY`), or the
        tasks of a top-k scan would ship more than SERVE_ROWS rows; the
        caller then collects the DataFrame plan."""
        from vicinity_spark.operators.grid import probe_scan

        fields = {f.name: f.dataType for f in corpus.schema.fields}
        types = {c: fields[c].simpleString() for c in payload_cols}
        if any(t not in _CARRY for t in types.values()):
            return None
        payload = {c: _CARRY[t] for c, t in types.items()}
        carried = {c: F.col(c).cast("string") for c, decode in payload.items() if decode}
        scan = corpus.withColumns(carried)
        out_fields = [
            StructField(c, StringType() if c in carried else fields[c]) for c in payload_cols
        ]
        if threshold is not None:
            plan = self._range_scan(metric, threshold, payload_cols, out_fields)
            if plan is not None:
                # a range search ships its hits only, as the DataFrame
                # plan's collect does: no cut, no bound
                args, kwargs = plan
                out = probe_scan(scan, batch, *args, **kwargs)
                return [_hit(r, "distance", payload) for r in out.collect()]
            k = max_k
        plan = self._stage_scan(metric, k, tuple(payload_cols), out_fields, cut=True)
        if plan is None:
            return None
        if k < 1:
            raise ValueError("k must be greater than 0")
        stages, args, kwargs = plan
        if corpus.rdd.getNumPartitions() * len(batch[0]) * stages[0][1] > SERVE_ROWS:
            return None
        hits = _merged(probe_scan(scan, batch, *args, **kwargs).collect(), stages, payload)
        if threshold is not None:
            hits = [h for h in hits if h["distance"] <= float(threshold)]
        return hits

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
        ranked = clipped_topk(self._scored(corpus, queries, k, metric), k)
        return join_payload(ranked, corpus, payload_cols, KNN_COLS)

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
        from vicinity_spark.operators.grid import cell_scan

        plan = self._range_scan(metric, threshold)
        if plan is None:
            res = self.knn(corpus, queries, k=max_k, metric=metric, payload_cols=payload_cols)
            return res.where(F.col("distance") <= F.lit(float(threshold))).drop("rank")
        args, kwargs = plan
        hits = cell_scan(corpus, queries, *args, **kwargs)
        return join_payload(hits, corpus, payload_cols, RADIUS_COLS)

    # persistence of strategy state (e.g. fitted MLlib models, derived
    # index layouts such as LSH posting lists) ------------------------
    def save_extra(
        self, path: str, df: Optional[DataFrame] = None, *, adopt_layout: bool = True
    ) -> None:
        """``adopt_layout=False`` writes the layout without re-pointing
        any live strategy state at it — for saves into a staging folder
        that will not outlive the store (push_to_hub's temp dir)."""
        pass

    def load_extra(self, path: str, spark) -> None:
        pass

    def to_params(self) -> dict:
        """JSON-ready params: numpy arrays (preset ``centroids=``)
        become nested float lists."""
        return {
            k: v.astype(np.float64).tolist() if isinstance(v, np.ndarray) else v
            for k, v in self.params.items()
        }


class RerankStrategy(IndexStrategy):
    """Two-phase scoring for the code-scan strategies (sq, pq and their
    IVF composites): approximate candidates over compact codes (the
    strategy's `_cells` kernel), each query's top `k × refine` of them
    by `(distance, id)`, then an exact re-score of only those rows
    against the true vectors. Recall is governed by `refine`.

    Both plans re-rank inside the scan, which carries each row's
    vector: a task keeps its local top `k × refine` by approximate
    distance and scores it exactly. The global pool lies in the union
    of the local ones, so the later cuts give each query's global pool,
    scored exactly (`_np_pairwise` reduces each row alone)."""

    def _kk(self, k: int) -> int:
        return max(k * self.params["refine"], k)

    def _stages(self, k: int, metric: Metric):
        def exact(f, Qr):
            return f.assign(**{"__exact": _np_pairwise(metric, Qr, _vectors(f["vector"]))})

        return [("distance", self._kk(k)), ("__exact", k)], ("vector",), exact


def _vectors(col: pd.Series) -> np.ndarray:
    """A carried array column as a float64 matrix (as score_pairs
    decodes it)."""
    return np.concatenate(col.to_numpy()).reshape(len(col), -1).astype(np.float64)
