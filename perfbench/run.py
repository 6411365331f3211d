"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve|batch --seed N \
        --seconds S --trace 0|1

Run from the repository root. The library is imported from the
repository; the benchmark only hands it inputs generated from
``--seed``. Set-up (data generation and caching, plus the ``serve``
index build) runs three times and is reported as the session start plus
the median; after an untimed warm-up (one query on ``serve``), whole
units of work (a serving session, one
pass of the offline pipeline) run until at least ``--seconds`` have been
measured.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps every
public library call in a span, runs each span under its own Spark job
group, enables the Spark event log, writes the spans to
``.perfbench/spans-<workload>-<seed>.jsonl`` and prints the per-layer
metrics. Readable lines come first; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 1
when a workload crashes or an output check fails (every metric measured
so far is still printed), and 2, with no JSON line, when the library
cannot be imported or the workload is unknown.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3
SPARK_MEMORY = "3g"


def _configure_environment(work: str, traced: bool) -> None:
    """Keep every file Spark and its workers write under ``work`` and
    pass the benchmark's Spark settings to the JVM it launches."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    events = os.path.join(work, "events")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = SPARK_MEMORY
    # every JVM Spark starts (its launcher too): no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def _install_spans(tracer) -> None:
    """Wrap the public entry points of each layer in spans (traced run)."""
    from vicinity_spark.backends import exact, ivf, ivfpq
    from vicinity_spark.operators import cluster, dedup, knn
    from vicinity_spark.store import VectorStore

    for attr in ("from_dataframe", "query", "query_df", "query_threshold", "threshold_df", "insert", "delete"):
        tracer.wrap(VectorStore, attr, f"store.{attr}")
    for cls, name in ((ivf.IVFStrategy, "ivf"), (ivfpq.IVFPQStrategy, "ivfpq"), (exact.ExactStrategy, "basic")):
        for attr in ("build", "knn", "threshold", "on_insert"):
            if attr in vars(cls):
                tracer.wrap(cls, attr, f"backends.{name}.{attr}")
    # the exact backend calls the joins through its own module globals
    for module in (knn, exact):
        tracer.wrap(module, "knn_join", "operators.knn.knn_join")
        tracer.wrap(module, "threshold_join", "operators.knn.threshold_join")
    tracer.wrap(dedup, "neardup_dedup", "operators.dedup.neardup_dedup")
    tracer.wrap(cluster, "semdedup", "operators.cluster.semdedup")
    tracer.wrap(cluster, "cluster_stats", "operators.cluster.cluster_stats")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    sys.path[:0] = [ROOT, HERE]
    try:
        from vicinity_spark import session
        from workloads import WORKLOADS, Ledger
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from metrics import Metrics
    from tracing import SparkCounters, Tracer, peak_rss_mb

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_environment(work, traced)
    tracer = Tracer(traced)
    if traced:
        _install_spans(tracer)
    ledger = Ledger(tracer)
    out = Metrics(args.workload, traced)
    spark = counters = None
    crashed = None
    try:
        cpus = len(os.sched_getaffinity(0))
        with tracer.span("session.get_spark") as s:
            spark = session.get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        counters = SparkCounters(spark)
        out.session_start_s = s.duration

        wl = WORKLOADS[args.workload](spark, ledger, args.seed)
        for _ in range(SETUP_REPEATS):
            with tracer.span("setup.data") as s:
                wl.setup()
            out.setup_reps.append(s.duration)
        wl.warm()

        gc0 = counters.gc_seconds()
        t0 = time.perf_counter()
        while out.measured_s < args.seconds:
            wl.unit()
            # metrics cover whole units only
            out.workload, out.measured_s = wl, time.perf_counter() - t0
        out.gc_s = counters.gc_seconds() - gc0
        out.peak_rss_mb = peak_rss_mb(counters.jvm_pid())
        if traced:
            counters.drain()
            out.collect_counts(tracer, counters)
    except Exception:
        crashed = traceback.format_exc()
    finally:
        if spark is not None:
            try:
                _stop(spark)
            except Exception:
                crashed = crashed or traceback.format_exc()
    if traced and counters is not None:
        try:
            counters.load_event_log(os.path.join(work, "events"))
            out.collect_shuffle(tracer, counters)
        except Exception:
            crashed = crashed or traceback.format_exc()
        tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    for line in out.lines(tracer):
        print(line)
    print(f"  ops_failed_ratio = {ledger.failed / max(1, ledger.attempted):.6g} "
          f"({ledger.failed} failed of {ledger.attempted} attempted)")
    for msg in ledger.messages:
        print(f"check failed: {msg}")
    if crashed:
        print(crashed, file=sys.stderr)
    correct = crashed is None and ledger.failed == 0
    failed = ledger.failed + (1 if crashed and ledger.failed == 0 else 0)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ledger.attempted),
        "failed": failed,
        "metrics": out.metrics(tracer),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
