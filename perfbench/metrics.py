"""Turn one run's spans and counters into the metrics BENCHMARK.json
names. Every run reports every metric of its mode: the end-to-end ones
untraced, the per-layer ones traced. A layer a workload never calls
reads 0 in the traced output."""

from __future__ import annotations

from tracing import median

END_TO_END_UNITS = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "query_s": "s",
}

# layer metric -> unit; the span-derived ones are computed in
# ``Metrics.per_layer``, the rest come from the workload or the tracer
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.gc_s": "s",
    "session.peak_rss_mb": "MB",
    "store.query_df.plan_s": "s",
    "store.query_df.exec_s": "s",
    "store.query.jobs": "count",
    "store.query.tasks": "count",
    "store.insert_s": "s",
    "store.delete_s": "s",
    "store.insert.jobs": "count",
    "store.delete.jobs": "count",
    "store.query_after_write_ratio": "ratio",
    "backends.ivf.build_s": "s",
    "backends.ivfpq.build_s": "s",
    "backends.ivf.build.jobs": "count",
    "backends.ivfpq.build.jobs": "count",
    "backends.ivf.knn_s": "s",
    "backends.ivfpq.knn_s": "s",
    "backends.ivf.knn.tasks": "count",
    "backends.ivfpq.knn.tasks": "count",
    "backends.ivf.knn.shuffle_bytes": "bytes",
    "backends.ivfpq.knn.shuffle_bytes": "bytes",
    "backends.ivf.candidates_per_result": "ratio",
    "backends.ivf.recall_at_10": "ratio",
    "backends.ivfpq.recall_at_10": "ratio",
    "operators.knn.knn_join_s": "s",
    "operators.knn.knn_join.jobs": "count",
    "operators.dedup.neardup_dedup_s": "s",
    "operators.dedup.neardup_dedup.tasks": "count",
    "operators.dedup.neardup_dedup.shuffle_bytes": "bytes",
    "operators.dedup.neardup_dedup.removed": "count",
    "operators.cluster.semdedup_s": "s",
    "operators.cluster.semdedup.shuffle_bytes": "bytes",
    "operators.cluster.pairs_per_flag": "ratio",
    "setup.self_s": "s",
    "op.self_s": "s",
    "session.self_s": "s",
    "store.self_s": "s",
    "backends.self_s": "s",
    "operators.self_s": "s",
    "trace.cost_s": "s",
    "traced.setup_s": "s",
    "traced.work_per_s": "1/s",
    "traced.query_s": "s",
}


class Metrics:
    def __init__(self, workload: str, traced: bool):
        self.name = workload
        self.traced = traced
        self.session_start_s = 0.0
        self.setup_reps: "list[float]" = []
        self.measured_s = 0.0
        self.gc_s = 0.0
        self.peak_rss_mb = 0.0
        self.workload = None
        # per span id: its own jobs, tasks and shuffle bytes
        self._jobs: "dict[int, int]" = {}
        self._tasks: "dict[int, int]" = {}
        self._shuffle: "dict[int, int]" = {}

    # ---- collection --------------------------------------------------
    def collect_counts(self, tracer, counters) -> None:
        for s in tracer.spans:
            jobs = counters.jobs(s.group)
            self._jobs[s.id] = len(jobs)
            self._tasks[s.id] = counters.tasks(jobs)

    def collect_shuffle(self, tracer, counters) -> None:
        for s in tracer.spans:
            self._shuffle[s.id] = counters.shuffle_bytes(s.group)

    # ---- end to end --------------------------------------------------
    def end_to_end(self) -> "dict[str, float]":
        out = {}
        if self.setup_reps:
            out["setup_s"] = self.session_start_s + median(self.setup_reps)
        if self.workload is not None and self.measured_s:
            out.update(self.workload.end_to_end(self.measured_s))
        return out

    # ---- per layer ---------------------------------------------------
    def per_layer(self, tracer) -> "dict[str, float]":
        spans = tracer.spans

        def incl(span, table) -> int:
            return sum(table.get(d.id, 0) for d in tracer.descendants(span))

        def timed(name):
            """Spans ``name`` inside timed calls (not set-up or warm-up)."""
            return [s for s in tracer.named(name) if spans[s.op].layer == "op"]

        def from_store(name):
            """Timed spans ``name`` called by the store itself, not by
            another backend (IVF-PQ builds through the IVF backend)."""
            return [s for s in timed(name) if spans[s.parent].layer == "store"]

        def ops_of(inner):
            """The timed calls (``op.*`` spans) that contain spans ``inner``."""
            return [spans[i] for i in sorted({s.op for s in inner}) if spans[i].layer == "op"]

        v: "dict[str, float]" = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        v["session.start_s"] = self.session_start_s
        v["session.gc_s"] = self.gc_s
        v["session.peak_rss_mb"] = self.peak_rss_mb

        plan = timed("store.query_df")
        v["store.query_df.plan_s"] = median(s.duration for s in plan)
        v["store.query_df.exec_s"] = median(spans[s.parent].duration - s.duration for s in plan)
        q = timed("store.query")
        v["store.query.jobs"] = median(incl(s, self._jobs) for s in q)
        v["store.query.tasks"] = median(incl(s, self._tasks) for s in q)
        for w in ("insert", "delete"):
            calls = timed(f"store.{w}")
            v[f"store.{w}_s"] = median(s.duration for s in calls)
            v[f"store.{w}.jobs"] = sum(incl(s, self._jobs) for s in calls) / max(1, len(calls))

        for b in ("ivf", "ivfpq"):
            builds = from_store(f"backends.{b}.build")
            v[f"backends.{b}.build_s"] = median(s.duration for s in builds)
            v[f"backends.{b}.build.jobs"] = median(incl(s, self._jobs) for s in builds)
            calls = ops_of(from_store(f"backends.{b}.knn"))
            v[f"backends.{b}.knn_s"] = median(s.duration for s in calls)
            v[f"backends.{b}.knn.tasks"] = median(incl(s, self._tasks) for s in calls)
            v[f"backends.{b}.knn.shuffle_bytes"] = median(incl(s, self._shuffle) for s in calls)

        joins = ops_of(tracer.named("operators.knn.knn_join"))
        v["operators.knn.knn_join_s"] = median(s.duration for s in joins)
        v["operators.knn.knn_join.jobs"] = median(incl(s, self._jobs) for s in joins)
        nd = ops_of(tracer.named("operators.dedup.neardup_dedup"))
        v["operators.dedup.neardup_dedup_s"] = median(s.duration for s in nd)
        v["operators.dedup.neardup_dedup.tasks"] = median(incl(s, self._tasks) for s in nd)
        v["operators.dedup.neardup_dedup.shuffle_bytes"] = median(incl(s, self._shuffle) for s in nd)
        sd = ops_of(tracer.named("operators.cluster.semdedup"))
        v["operators.cluster.semdedup_s"] = median(s.duration for s in sd)
        v["operators.cluster.semdedup.shuffle_bytes"] = median(incl(s, self._shuffle) for s in sd)

        if self.workload is not None:
            v.update(self.workload.per_layer())
        for layer, t in tracer.layer_self_times().items():
            if f"{layer}.self_s" in v:
                v[f"{layer}.self_s"] = t
        v["trace.cost_s"] = tracer.cost_s
        for name, value in self.end_to_end().items():
            v[f"traced.{name}"] = value
        return v

    # ---- output ------------------------------------------------------
    def values(self, tracer) -> "tuple[dict[str, float], dict[str, str]]":
        if self.traced:
            return self.per_layer(tracer), PER_LAYER_UNITS
        return self.end_to_end(), END_TO_END_UNITS

    def metrics(self, tracer) -> "dict[str, dict]":
        values, units = self.values(tracer)
        return {k: {"value": float(values[k]), "unit": units[k]} for k in units if k in values}

    def lines(self, tracer) -> "list[str]":
        """Human-readable report printed before the JSON line."""
        out = [f"workload {self.name}: measured {self.measured_s:.2f} s; set-up runs "
               + ", ".join(f"{t:.2f}" for t in self.setup_reps)
               + f" s after a {self.session_start_s:.2f} s session start"]
        values, units = self.values(tracer)
        out += [f"  {k} = {values[k]:.6g} {units[k]}" for k in units if k in values]
        if self.workload is not None and self.measured_s:
            out += [f"  {line}" for line in self.workload.report(self.measured_s)]
        out += [f"  {line}" for line in tracer.call_summary()]
        return out
