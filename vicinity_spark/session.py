"""SparkSession factory tuned for the local[32] harness but configured
the way a 1000-executor cluster run would be: AQE on (runtime re-plan,
skew-join splitting), Arrow on (vectorized pandas exchange), shuffle
partitions sized to the parallelism.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DataType, StructField, StructType


def _default_driver_mem() -> str:
    """24g where the host affords it, else ~half of physical memory.

    24g suits the 128 GiB bench host (the 2M bench tier OOM'd at 8g —
    r5 repro), but a blanket 24g default would set Xmx ABOVE physical
    memory on small hosts, risking host-level OOM/swap instead of a
    clean Spark OOM (r5 ADVICE). Half of physical memory, floored at
    2g, keeps small hosts safe; SPARK_GRAFT_DRIVER_MEM overrides.
    Physical memory via sysconf (Linux AND macOS), /proc/meminfo as
    backup; if neither is readable, fall back to 8g — conservative,
    never above-physical on any plausible host — not 24g. Inside a
    memory-capped container the cgroup limit, not host physical
    memory, is what the kernel enforces — take the min with
    cgroup v2 memory.max / v1 memory.limit_in_bytes when present
    (r6 ADVICE)."""
    total_b = None
    try:
        total_b = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemTotal:"):
                        total_b = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    for cgroup_path in (
        "/sys/fs/cgroup/memory.max",  # v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # v1
    ):
        try:
            with open(cgroup_path) as f:
                raw = f.read().strip()
            if raw != "max":
                limit = int(raw)
                # v1 reports ~2^63 when unlimited; ignore absurd values
                if 0 < limit < (1 << 60):
                    total_b = min(total_b, limit) if total_b else limit
            break
        except (OSError, ValueError):
            continue
    if not total_b:
        return "8g"
    total_gib = total_b / (1024**3)
    return f"{max(2, min(24, int(total_gib / 2)))}g"


def get_spark(
    app_name: str = "vicinity-spark",
    cpus: "int | str | None" = None,
    shuffle_partitions: "int | None" = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    # Python workers unpickle mapInPandas kernels by module reference;
    # make vicinity_spark importable for them regardless of driver cwd.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + py_path if py_path else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r15 (VERDICT r14 item 2): the r14 driver bench died with
        # "Python worker exited unexpectedly (crashed)" and no Python
        # traceback. Faulthandler in the workers turns the next such
        # crash into an actionable stack (negligible steady-state
        # cost: one signal-handler registration per worker). The
        # crash-class memory term itself — unchunked pair-rescore
        # temporaries in the knn/grid kernels — is fixed at the
        # kernel level (grid.rescore_pairs); JVM→Python Arrow batches
        # were already byte-bounded by Spark 4.1's 64m
        # spark.sql.execution.arrow.maxBytesPerBatch default
        # (BatchedPythonArrowInput honors it for mapInPandas).
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode shares one JVM between driver and executors, so
        # this caps ALL storage+execution memory. Xmx is a cap, not a
        # reservation; see _default_driver_mem for the sizing rule.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        # UI off: library and benchmark runs need no HTTP server; per-stage
        # metrics come from the statusTracker and the offline event log
        .config("spark.ui.enabled", "false")
    )
    # SPARK_GRAFT_STATE_STORE=rocksdb switches streaming state to the
    # RocksDB provider (bundled with Spark 4) — the production choice
    # when keyed state outgrows executor heap (long watermark horizons,
    # high-cardinality dedup/serving buckets). Default stays the
    # HDFS-backed in-memory provider: state in every test and bench
    # here is small, and the in-memory provider avoids RocksDB's
    # per-batch snapshot/compaction overhead at that scale. Verified
    # working in this build (streaming agg runs with RocksDB custom
    # metrics reported).
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, columns: dict, schema: "StructType | str"
) -> DataFrame:
    """A small driver-built frame (query batch, insert batch, centroid
    or offset table) as a JVM ``LocalRelation``.

    ``columns`` maps each schema field to a numpy array or list (one
    entry per row; a vector column is a list of 1-D arrays). The rows
    go to the JVM as one Arrow table, so evaluating the frame runs no
    Python task and the optimizer knows its ``maxRows``.
    ``createDataFrame`` on a Python list instead plans a Python-RDD
    scan, which runs ``defaultParallelism`` Python tasks every time
    the frame is evaluated. Frames past
    ``spark.sql.execution.arrow.localRelationThreshold`` become a JVM
    RDD scan, still with no Python task."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.table(columns, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def optimized_plan(df: DataFrame):
    """df's optimized JVM logical plan (None where there is none to
    read: Spark Connect)."""
    try:
        return df._jdf.queryExecution().optimizedPlan()
    except Exception:
        return None


def local_rows(df: DataFrame):
    """``df``'s rows when its optimized plan is a ``LocalRelation`` (a
    ``local_frame`` batch, or a projection the optimizer folds into
    one): they are already on the driver, so ``collect()`` reads them
    without a Spark job. None for any other plan."""
    plan = optimized_plan(df)
    if plan is None or plan.getClass().getSimpleName() != "LocalRelation":
        return None
    return df.collect()


#: numpy dtype of each Spark numeric type a vector column emits
_NUMPY_TYPES = {
    "smallint": np.int16,
    "int": np.int32,
    "bigint": np.int64,
    "double": np.float64,
}


def _vector_out(out, dtype: DataType):
    """A vector function's result as ``dtype`` column values: a struct
    from a dict of arrays, a binary column as each row's float64 bytes
    (the one pack rule; cluster.py's `_unpack_vecs` reads it), an array
    column as one 1-D array per row, a scalar column as a 1-D array."""
    if isinstance(dtype, StructType):
        return {f.name: _vector_out(out[f.name], f.dataType) for f in dtype.fields}
    if isinstance(dtype, BinaryType):
        return [row.tobytes() for row in np.asarray(out, dtype=np.float64)]
    if isinstance(dtype, ArrayType):
        return list(np.asarray(out, dtype=_NUMPY_TYPES[dtype.elementType.simpleString()]))
    return np.asarray(out, dtype=_NUMPY_TYPES[dtype.simpleString()])


def _vector_apply(fn, dtype: DataType, columns):
    """``fn`` over the input columns' values, as ``dtype`` column values.
    An array column reaches ``fn`` as one row matrix (float64, or int64
    for integer codes), a scalar column as a 1-D array. An empty batch
    gives an empty column without calling ``fn``."""
    if not len(columns[0]):
        return {f.name: [] for f in dtype.fields} if isinstance(dtype, StructType) else []
    args = []
    for values in columns:
        if isinstance(values[0], (list, np.ndarray)):
            values = np.vstack(values)
            values = values.astype(np.int64 if values.dtype.kind in "iu" else np.float64)
        args.append(np.asarray(values))
    return _vector_out(fn(*args), dtype)


def vector_udf(fn, dtype: "DataType | str"):
    """The one Arrow wrapper for a vector codec: a scalar pandas UDF
    that runs the numpy function ``fn`` (`_vector_apply`) per batch.
    ``fn`` returns an array, or a dict of arrays for a struct
    ``dtype``. `vector_column` skips it for rows already on the
    driver."""
    dtype = DataType.fromDDL(dtype) if isinstance(dtype, str) else dtype

    def codec(*cols: pd.Series) -> pd.Series:  # a struct column returns a DataFrame
        out = _vector_apply(fn, dtype, [c.to_numpy() for c in cols])
        return pd.DataFrame(out) if isinstance(dtype, StructType) else pd.Series(out)

    return F.pandas_udf(codec, dtype)


def vector_column(df: DataFrame, name: str, dtype: "DataType | str", fn, *cols: str) -> DataFrame:
    """``df`` with column ``name`` = ``fn`` over the columns ``cols``.
    When ``df``'s optimized plan is a LocalRelation (`local_rows`: an
    insert or query batch, a small Arrow ``createDataFrame``) ``fn``
    runs on the driver and the result is again a LocalRelation: no
    Spark job or Python task computes the column, now or in a later
    scan. Any other frame gets it through `vector_udf`. Both paths
    give ``fn`` the same float64 matrix, so the values are equal."""
    dtype = DataType.fromDDL(dtype) if isinstance(dtype, str) else dtype
    rows = local_rows(df)
    if rows is None:
        return df.withColumn(name, vector_udf(fn, dtype)(*cols))
    data = {f.name: [r[i] for r in rows] for i, f in enumerate(df.schema.fields)}
    out = _vector_apply(fn, dtype, [data[c] for c in cols])
    data[name] = [dict(zip(out, v)) for v in zip(*out.values())] if isinstance(out, dict) else out
    fields = [f for f in df.schema.fields if f.name != name] + [StructField(name, dtype)]
    return local_frame(df.sparkSession, data, StructType(fields))


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver's parquet tables (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def scan_reads_path(df, target: str) -> bool:
    """True when ``df``'s file scan reads from under ``target`` — the
    predicate behind every save-over-own-source guard (store.save,
    bm25_index_save): an overwrite of a folder the plan still scans
    deletes the part files mid-read, so the callers materialize first.

    Both sides resolve through the Hadoop ``FileSystem``
    (``makeQualified``), NOT ``os.path.abspath``: abspath mangles
    scheme-qualified URIs (``s3a://bucket/x`` becomes a nonsense local
    path), so on object storage the old string guard never matched and
    the documented load→append→save-to-the-same-folder cycle would
    delete the files the postings plan still scans (r12 ADVICE). The
    local-FS behavior is unchanged — Hadoop's LocalFileSystem
    qualifies relative paths against the JVM working directory, the
    same base abspath used."""
    files = df.inputFiles()
    if not files:
        return False
    jvm = df.sparkSession._jvm
    conf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()

    def _qualify(p: str) -> str:
        jp = jvm.org.apache.hadoop.fs.Path(p)
        return jp.getFileSystem(conf).makeQualified(jp).toString()

    prefix = _qualify(target).rstrip("/") + "/"
    return any(_qualify(f).startswith(prefix) for f in files)
