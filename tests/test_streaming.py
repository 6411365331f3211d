"""Structured Streaming: windowed agg with watermark and streaming
vector ingest with strategy layout decoration (availableNow trigger →
deterministic, bounded micro-batch run)."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from vicinity_spark.streaming import (
    stream_events,
    stream_vector_ingest,
    windowed_event_counts,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def test_windowed_event_counts(spark, tmp_path):
    import datetime as dt

    src = tmp_path / "events_src"
    rows = [
        (i, dt.datetime(2024, 1, 1, hour, minute, 0), "click" if i % 2 == 0 else "view", float(i))
        for i, (hour, minute) in enumerate(
            [(0, 5), (0, 25), (0, 45), (1, 10), (1, 30), (2, 0)]
        )
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(str(src))

    stream = stream_events(spark, str(src), EVENTS_SCHEMA)
    assert stream.isStreaming
    agg = windowed_event_counts(stream, window="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("select * from win_counts").collect()
    got = {(r.window_start.hour, r.event_type): r.n_events for r in res}
    assert got[(0, "click")] == 2  # events 0,2 in hour 0
    assert got[(0, "view")] == 1
    assert sum(r.n_events for r in res) == 6


def test_stream_vector_ingest_with_strategy(spark, tmp_path):
    from vicinity_spark.backends.ivf import IVFStrategy
    from vicinity_spark.datatypes import Metric

    rng = np.random.default_rng(3)
    schema = StructType(
        [StructField("id", LongType()), StructField("vector", ArrayType(FloatType()))]
    )
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.random(4)]) for i in range(64)], schema
    )
    strat = IVFStrategy(nlist=4, nprobe=4)
    strat.build(base, Metric.EUCLIDEAN, 4).count()  # fit centroids

    src = tmp_path / "vec_src"
    out = tmp_path / "vec_store"
    ck = tmp_path / "ck"
    new_rows = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.random(4)]) for i in range(8)], schema
    )
    new_rows.coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    q = stream_vector_ingest(
        stream,
        str(out),
        strategy=strat,
        metric=Metric.EUCLIDEAN,
        dim=4,
        checkpoint=str(ck),
    )
    q.awaitTermination(120)
    stored = spark.read.parquet(str(out))
    assert stored.count() == 8
    assert "__cluster" in stored.columns  # layout decorated per micro-batch
    assert stored.where(F.col("__cluster").isNull()).count() == 0


def test_sessionize_stream_stateful(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): gap-closed
    sessions emitted in append mode; state carries the open session."""
    import datetime as dt

    from vicinity_spark.streaming import sessionize_stream

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: two sessions split by a 60-min silence
        (1, at(0), 1.0),
        (1, at(10), 2.0),
        (1, at(70), 4.0),  # closes session 1 (gap 60 > 30)
        (1, at(75), 8.0),
        # user 2: one long session, never closed in-batch
        (2, at(0), 1.0),
        (2, at(20), 1.0),
    ]
    src = tmp_path / "sess_src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))

    stream = stream_events(spark, str(src), schema)
    sessions = sessionize_stream(stream, gap_minutes=30, watermark="10 minutes")
    out = tmp_path / "sess_out"
    q = (
        sessions.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out)).collect()
    by_key = {(r["key"], r["session_start"]): r for r in got}
    # user 1's first session closed by the in-batch gap
    r = by_key[(1, at(0))]
    assert r["session_end"] == at(10)
    assert r["n_events"] == 2
    assert r["total_value"] == pytest.approx(3.0)
    # user 2's session is flushed by the EVENT-TIME TIMEOUT: the final
    # watermark (max_ts 75 - 10min = 65) passes its last_ts+gap (50)
    r2 = by_key[(2, at(0))]
    assert r2["session_end"] == at(20)
    assert r2["n_events"] == 2
    assert r2["total_value"] == pytest.approx(2.0)
    # user 1's second session stays open (timeout 75+30=105 > watermark)
    assert (1, at(70)) not in by_key


def test_sessionize_late_event_does_not_regress_session(spark, tmp_path):
    """Regression (r2 ADVICE): a watermark-admitted LATE event arriving
    in a later micro-batch must fold into the open session with min/max
    bounds — it extends session_start backwards and must NOT drag
    session_end (and the event-time flush timeout) backwards."""
    import datetime as dt
    import os
    import time

    from vicinity_spark.streaming import sessionize_stream

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    src = tmp_path / "late_src"
    src.mkdir()
    # batch 1: open session [40, 50] for user 1
    spark.createDataFrame(
        [(1, at(40), 1.0), (1, at(50), 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)  # distinct mtimes -> deterministic file order
    # batch 2: late event at 35 (> watermark 50-20=30, admitted) plus a
    # watermark pusher on another key at 105
    spark.createDataFrame(
        [(1, at(35), 4.0), (9, at(105), 0.5)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))
    now = time.time()
    for i, d in enumerate(["b1", "b2"]):
        for f in (src / d).iterdir():
            os.utime(f, (now + i, now + i))

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src) + "/*")
    )
    sessions = sessionize_stream(stream, gap_minutes=30, watermark="20 minutes")
    out = tmp_path / "late_out"
    q = (
        sessions.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["key"]: r for r in spark.read.parquet(str(out)).collect()}
    # user 1 flushed by timeout (watermark 105-20=85 > last 50 + gap 30)
    r = got[1]
    assert r["session_start"] == at(35)  # extended backwards by the late event
    assert r["session_end"] == at(50)  # NOT dragged back to 35
    assert r["n_events"] == 3
    assert r["total_value"] == pytest.approx(7.0)


def test_stream_exact_dedup(spark, tmp_path):
    """Streaming exact dedup: duplicate texts across micro-batch files
    collapse to first-seen; distinct texts all survive."""
    import datetime as dt

    from pyspark.sql.types import StringType, TimestampType

    from vicinity_spark.streaming.dedup import stream_exact_dedup

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = tmp_path / "docs_src"
    rows = [
        (1, "alpha beta", t0),
        (2, "gamma delta", t0 + dt.timedelta(minutes=1)),
        (3, "alpha beta", t0 + dt.timedelta(minutes=2)),  # dup of 1
        (4, "epsilon", t0 + dt.timedelta(minutes=3)),
        (5, "gamma delta", t0 + dt.timedelta(minutes=4)),  # dup of 2
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    deduped = stream_exact_dedup(stream, ts_col="ts", watermark="30 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_docs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("select * from dedup_docs").collect()
    texts = sorted(r.text for r in res)
    assert texts == ["alpha beta", "epsilon", "gamma delta"]
    assert "__dedup_key" not in spark.sql("select * from dedup_docs").columns
    # stateless twin for finite backfills
    batch = spark.createDataFrame(rows, schema)
    got = stream_exact_dedup(batch.drop("ts")).count()
    assert got == 3


def test_stateless_minhash_matches_batch_family(spark):
    """The streaming-side stateless signature must equal the batch
    xxhash64 MinHash family (operators/dedup.py) component-for-
    component — it is the same estimator, so streaming candidates and
    batch verification agree on est_jaccard."""
    from dedup_reference import minhash_signatures

    from vicinity_spark.operators.dedup import shingles
    from vicinity_spark.streaming import stateless_minhash

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    batch = (
        minhash_signatures(shingles(docs, n=3), "shingle", n_hashes=16, hash_fn="xxhash64")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "mh"))), lambda x: x["mh"]
            ).alias("sig")
        )
    )
    got_batch = {r.doc_id: list(r.sig) for r in batch.collect()}
    got_stream = {
        r.doc_id: list(r.sig)
        for r in docs.select(
            "doc_id", stateless_minhash("text", n_hashes=16, shingle=3).alias("sig")
        ).collect()
    }
    assert got_batch == got_stream


def test_stream_neardup_candidates(spark, tmp_path):
    """Near-dup candidates surface across micro-batches from bounded
    per-bucket state; unrelated docs emit nothing."""
    import datetime as dt

    from vicinity_spark.streaming import stream_neardup_candidates

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"  # 1 token off
    other = "one two three four five six seven eight nine ten"
    src = tmp_path / "docs_src"
    schema = "doc_id long, ts timestamp, text string"
    # batch 1: the original + an unrelated doc; batch 2: the near-copy
    spark.createDataFrame(
        [(1, t0, base), (2, t0 + dt.timedelta(seconds=30), other)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(minutes=1), near)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    cand = stream_neardup_candidates(stream, min_est_jaccard=0.3)
    q = (
        cand.writeStream.format("memory")
        .queryName("neardup_cand")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from neardup_cand").collect()
    pairs = {(r.doc_id, r.matched_doc_id) for r in rows}
    assert pairs == {(3, 1)}  # the cross-batch near-copy, nothing else
    # a true near-dup collides in many bands with a high estimate
    assert max(r.est_jaccard for r in rows) >= 0.5
    assert len(rows) >= 2

def test_stream_neardup_candidates_tokenroll(spark, tmp_path):
    """r7: the same cross-batch near-dup scenario under
    family='tokenroll' — the staged two-Generate signature projection
    (11.6× faster materialization than the per-seed string-gram form;
    BENCHNOTES) — finds the planted pair and nothing else, and the
    query still plans exactly one stateful operator."""
    import datetime as dt

    from vicinity_spark.streaming import stream_neardup_candidates

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    other = "one two three four five six seven eight nine ten"
    src = tmp_path / "docs_src_tr"
    schema = "doc_id long, ts timestamp, text string"
    spark.createDataFrame(
        [(1, t0, base), (2, t0 + dt.timedelta(seconds=30), other)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(minutes=1), near)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    cand = stream_neardup_candidates(stream, min_est_jaccard=0.3, family="tokenroll")
    q = (
        cand.writeStream.format("memory")
        .queryName("neardup_cand_tr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from neardup_cand_tr").collect()
    pairs = {(r.doc_id, r.matched_doc_id) for r in rows}
    assert pairs == {(3, 1)}
    assert max(r.est_jaccard for r in rows) >= 0.5
    with pytest.raises(ValueError):
        stream_neardup_candidates(stream, family="nope")


@pytest.mark.parametrize("backend", ["lsh", "ivf"])
def test_stream_knn_matches_batch(spark, tmp_path, backend):
    """Streaming k-NN serving (stream-static candidate join + one
    watermarked top-k aggregation) returns exactly the batch strategy's
    top-k for the same corpus, params, and queries — candidate
    generation is the identical probe kernel, so parity is structural,
    not statistical."""
    import datetime as dt

    from vicinity_spark.datatypes import Metric
    from vicinity_spark.streaming import stream_knn

    rng = np.random.default_rng(11)
    n, dim, k = 200, 8, 5
    corpus_rows = [(i, [float(x) for x in rng.random(dim)]) for i in range(n)]
    corpus_df = spark.createDataFrame(corpus_rows, "id long, vector array<float>")
    if backend == "lsh":
        from vicinity_spark.backends.lsh import LSHStrategy

        strat = LSHStrategy(n_tables=8, n_bits=4)
    else:
        from vicinity_spark.backends.ivf import IVFStrategy

        strat = IVFStrategy(nlist=4, nprobe=2)
    built = strat.build(corpus_df, Metric.COSINE, dim).cache()
    built.count()

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    qrows = [(i, [float(x) for x in rng.random(dim)], t0) for i in range(5)]
    # the flush row advances the final watermark past t0 so the t0
    # groups emit in the trailing no-data batch; its own group stays
    # open and is excluded from the assertion
    flush = [(99, [float(x) for x in rng.random(dim)], t0 + dt.timedelta(hours=1))]
    qschema = "query_id long, qvec array<float>, ts timestamp"
    src = tmp_path / f"knn_queries_{backend}"
    spark.createDataFrame(qrows + flush, qschema).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(qschema).parquet(str(src))
    res = stream_knn(built, stream, k=k, metric="cosine", strategy=strat, watermark="10 minutes")
    q = (
        res.writeStream.format("memory")
        .queryName(f"stream_knn_{backend}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # the serving plan's ONLY stateful operator is the top-k aggregate:
    # candidate generation is a stateless stream-static join (this is
    # the bounded-state claim, asserted at runtime, not by reading code)
    assert len(q.lastProgress["stateOperators"]) == 1
    got = spark.sql(f"select * from stream_knn_{backend}").collect()
    got = [r for r in got if r.query_id != 99]

    batch_q = spark.createDataFrame([(i, v) for i, v, _ in qrows], "query_id long, qvec array<float>")
    expected = strat.knn(built, batch_q, k=k, metric=Metric.COSINE).collect()

    got_keys = {(r.query_id, r.rank): (r.id, r.distance) for r in got}
    exp_keys = {(r.query_id, r.rank): (r.id, r.distance) for r in expected}
    assert set(got_keys) == set(exp_keys)
    for key, (gid, gdist) in got_keys.items():
        eid, edist = exp_keys[key]
        assert gid == eid, (key, gid, eid)
        assert gdist == pytest.approx(edist, abs=1e-9)
    # every emitted query got a full (or bucket-bounded) result set
    assert all(r.rank <= k for r in got)

def test_store_query_stream_facade(spark, tmp_path):
    """VectorStore.query_stream wires the streaming serving path: a
    streaming result frame in append mode, row-identical to the batch
    query_df for the same store; exact backends are rejected."""
    import datetime as dt

    from vicinity_spark.store import VectorStore

    rng = np.random.default_rng(23)
    vecs = rng.random((150, 8)).astype(np.float32)
    items = [f"it-{i}" for i in range(150)]
    s = VectorStore.from_vectors_and_items(
        spark, vecs, items, metric="cosine", backend_type="lsh", n_tables=8, n_bits=4
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    qrows = [(i, [float(x) for x in rng.random(8)], t0) for i in range(3)]
    flush = [(99, [float(x) for x in rng.random(8)], t0 + dt.timedelta(hours=1))]
    qschema = "query_id long, qvec array<float>, ts timestamp"
    src = tmp_path / "facade_queries"
    spark.createDataFrame(qrows + flush, qschema).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(qschema).parquet(str(src))
    res = s.query_stream(stream, k=4)
    assert res.isStreaming
    q = (
        res.writeStream.format("memory")
        .queryName("facade_knn")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [r for r in spark.sql("select * from facade_knn").collect() if r.query_id != 99]

    batch_q = spark.createDataFrame(
        [(i, v) for i, v, _ in qrows], "query_id long, qvec array<float>"
    )
    exp = {(r.query_id, r.rank): r.id for r in s.query_df(batch_q, k=4).collect()}
    assert {(r.query_id, r.rank): r.id for r in got} == exp

    s_exact = VectorStore.from_vectors_and_items(
        spark, vecs[:20], items[:20], metric="cosine", backend_type="basic"
    )
    with pytest.raises(ValueError, match="equi-join-probed"):
        s_exact.query_stream(stream, k=2)

def test_stream_threshold_matches_batch(spark, tmp_path):
    """Streaming radius search: stateless candidate join + distance
    filter + watermark-bounded emit-first-seen dedup — same hit set as
    the batch strategy's threshold() for the same corpus and queries,
    and hits emit in the arrival micro-batch (no watermark wait)."""
    import datetime as dt

    from vicinity_spark.backends.lsh import LSHStrategy
    from vicinity_spark.datatypes import Metric
    from vicinity_spark.streaming import stream_threshold

    rng = np.random.default_rng(31)
    n, dim, t = 200, 8, 0.35
    corpus_df = spark.createDataFrame(
        [(i, [float(x) for x in rng.random(dim)]) for i in range(n)],
        "id long, vector array<float>",
    )
    strat = LSHStrategy(n_tables=8, n_bits=4)
    built = strat.build(corpus_df, Metric.COSINE, dim).cache()
    built.count()

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    qrows = [(i, [float(x) for x in rng.random(dim)], t0) for i in range(4)]
    qschema = "query_id long, qvec array<float>, ts timestamp"
    src = tmp_path / "thr_queries"
    # NO flush file: radius hits must emit without the watermark
    # advancing past the query's event time (dedup is emit-first-seen)
    spark.createDataFrame(qrows, qschema).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(qschema).parquet(str(src))
    res = stream_threshold(built, stream, threshold=t, metric="cosine", strategy=strat)
    q = (
        res.writeStream.format("memory")
        .queryName("stream_thr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # one stateful operator (the emit-first-seen dedup) — the join and
    # the distance filter are stateless
    assert len(q.lastProgress["stateOperators"]) == 1
    got = spark.sql("select * from stream_thr").collect()

    batch_q = spark.createDataFrame(
        [(i, v) for i, v, _ in qrows], "query_id long, qvec array<float>"
    )
    exp = strat.threshold(built, batch_q, threshold=t, metric=Metric.COSINE).collect()
    assert {(r.query_id, r.id) for r in got} == {(r.query_id, r.id) for r in exp}
    assert len(got) == len(exp)  # no surviving duplicates
    gd = {(r.query_id, r.id): r.distance for r in got}
    for r in exp:
        assert gd[(r.query_id, r.id)] == pytest.approx(r.distance, abs=1e-9)

def test_streaming_media_feature_extraction(spark, tmp_path):
    """The multimodal feature kernel is stateless mapInPandas, so it
    runs unchanged inside a streaming query: media parquet stream →
    REAL-codec decode+features (all five codecs in one mixed
    stream) → append sink, row-identical to the batch pass."""
    from vicinity_spark.operators.multimodal import (
        extract_features,
        synthetic_avi_media,
        synthetic_bmp_media,
        synthetic_jpeg_media,
        synthetic_png_media,
        synthetic_wav_media,
    )

    ids = lambda lo, hi: spark.range(lo, hi).select(F.col("id").alias("media_id"))  # noqa: E731
    media = (
        synthetic_bmp_media(ids(0, 6))
        .unionByName(synthetic_wav_media(ids(6, 12)))
        .unionByName(synthetic_avi_media(ids(12, 18), n_frames=3))
        .unionByName(synthetic_png_media(ids(18, 24)))
        .unionByName(synthetic_jpeg_media(ids(24, 30)))
    )
    src = tmp_path / "media_src"
    media.coalesce(2).write.parquet(str(src))

    stream = spark.readStream.schema(media.schema).parquet(str(src))
    q = (
        extract_features(stream, fake=False)
        .writeStream.format("memory")
        .queryName("stream_media_feats")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.media_id: (r.media_type, tuple(r.feature))
        for r in spark.sql("select * from stream_media_feats").collect()
    }
    want = {
        r.media_id: (r.media_type, tuple(r.feature))
        for r in extract_features(media, fake=False).collect()
    }
    assert got == want
    assert {t for t, _ in got.values()} == {"image", "audio", "video"}


def test_serving_static_cache_memoized(spark):
    """r5 ADVICE: repeated serving calls on the same store must reuse
    ONE cached static side (keyed on the corpus plan), not stack a
    fresh (n_rows × n_tables)-row cache per call — and
    unpersist_serving_cache releases it."""
    from vicinity_spark.backends.lsh import LSHStrategy
    from vicinity_spark.datatypes import Metric
    from vicinity_spark.streaming.query import _stream_scored, unpersist_serving_cache

    rng = np.random.default_rng(3)
    corpus_df = spark.createDataFrame(
        [(i, [float(x) for x in rng.random(8)]) for i in range(50)],
        "id long, vector array<float>",
    )
    strat = LSHStrategy(n_tables=4, n_bits=4)
    built = strat.build(corpus_df, Metric.COSINE, 8)
    q = spark.createDataFrame(
        [(0, [0.5] * 8, None)], "query_id long, qvec array<float>, ts timestamp"
    )

    _stream_scored(built, q, Metric.COSINE, strat, "ts", persist_static=True)
    assert len(strat._serving_cache) == 1
    first = next(iter(strat._serving_cache.values()))[1]
    _stream_scored(built, q, Metric.COSINE, strat, "ts", persist_static=True)
    # same corpus plan → the SAME cached DataFrame object, not a new one
    assert len(strat._serving_cache) == 1
    assert next(iter(strat._serving_cache.values()))[1] is first

    # a different corpus plan gets its OWN entry; the first stays
    # cached — a running serving query may still be probing it
    built2 = built.where(F.col("id") < 25)
    _stream_scored(built2, q, Metric.COSINE, strat, "ts", persist_static=True)
    assert len(strat._serving_cache) == 2
    caches = [c for _, c in strat._serving_cache.values()]
    assert first in caches and first.is_cached

    unpersist_serving_cache(strat)
    assert strat._serving_cache is None
    assert all(not c.is_cached for c in caches)


def test_stream_knn_foreachbatch_matches_batch(spark, tmp_path):
    """The memory-bounded serving fallback (foreachBatch: each
    micro-batch planned as a BATCH query) returns exactly the batch
    strategy's top-k — here against a RELOADED store, so candidate
    generation runs the DPP-prunable posting-layout path, the layout
    the fallback exists to serve from."""
    import datetime as dt

    from vicinity_spark.datatypes import Metric
    from vicinity_spark.store import VectorStore
    from vicinity_spark.streaming import stream_knn_foreachbatch

    rng = np.random.default_rng(21)
    n, dim, k = 300, 8, 5
    X = rng.random((n, dim)).astype(np.float32)
    store = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(n)],
        backend_type="lsh", metric="cosine", n_tables=8, n_bits=4,
    )
    folder = str(tmp_path / "store")
    store.save(folder)
    loaded = VectorStore.load(folder, spark)
    assert loaded.strategy._postings is not None  # posting-layout path

    t0 = dt.datetime(2024, 1, 1)
    qrows = [
        (i, [float(x) for x in rng.random(dim)], t0 + dt.timedelta(minutes=i))
        for i in range(6)
    ]
    qschema = "query_id long, qvec array<float>, ts timestamp"
    src = tmp_path / "fb_queries"
    spark.createDataFrame(qrows[:3], qschema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(qrows[3:], qschema).coalesce(1).write.mode("append").parquet(str(src))

    got_batches = []

    def sink(df, batch_id):
        got_batches.append(df.collect())

    stream = (
        spark.readStream.schema(qschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    writer = stream_knn_foreachbatch(
        loaded.df, stream, k=k, metric="cosine", strategy=loaded.strategy, sink=sink
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(180)
    assert len(got_batches) >= 2  # one sink call per data micro-batch

    got = {
        (r.query_id, r.rank): (r.id, r.distance, r.ts)
        for b in got_batches
        for r in b
    }
    batch_q = spark.createDataFrame(
        [(i, v) for i, v, _ in qrows], "query_id long, qvec array<float>"
    )
    expected = loaded.strategy.knn(loaded.df, batch_q, k=k, metric=Metric.COSINE).collect()
    exp = {(r.query_id, r.rank): (r.id, r.distance) for r in expected}
    assert set(got) == set(exp)
    ts_by_qid = {i: t for i, _, t in qrows}
    for key, (gid, gdist, gts) in got.items():
        eid, edist = exp[key]
        assert gid == eid and gdist == pytest.approx(edist, abs=1e-9)
        assert gts == ts_by_qid[key[0]]  # event time rides through


def test_store_query_stream_foreachbatch_facade(spark, tmp_path):
    """Facade twin of stream_knn_foreachbatch on VectorStore."""
    import datetime as dt

    from vicinity_spark.store import VectorStore

    rng = np.random.default_rng(31)
    n, dim, k = 120, 8, 3
    X = rng.random((n, dim)).astype(np.float32)
    store = VectorStore.from_vectors_and_items(
        spark, X, [f"i{i}" for i in range(n)],
        backend_type="ivf", metric="cosine", nlist=4, nprobe=2,
    )
    t0 = dt.datetime(2024, 1, 1)
    qrows = [(i, [float(x) for x in X[i]], t0) for i in range(4)]
    qschema = "query_id long, qvec array<float>, ts timestamp"
    src = tmp_path / "fb_facade_q"
    spark.createDataFrame(qrows, qschema).coalesce(1).write.parquet(str(src))

    got = []
    writer = store.query_stream_foreachbatch(
        spark.readStream.schema(qschema).parquet(str(src)),
        sink=lambda df, bid: got.extend(df.collect()),
        k=k,
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(180)
    # self-queries: rank 1 is the row itself at distance ~0
    best = {r.query_id: (r.id, r.distance) for r in got if r.rank == 1}
    assert set(best) == {0, 1, 2, 3}
    for qid, (rid, d) in best.items():
        assert rid == qid and d < 1e-6
    assert all(r.ts == t0 for r in got)


def test_stream_clean_pipeline(spark, tmp_path):
    """Streaming cleaning twin (r6): quality + language projection
    filters and first-seen exact dedup over micro-batches. The
    predicate columns must agree row-for-row with the batch scorers
    (quality_scores / langid_scores_rowwise), and the stream must keep
    the first-arrived copy of cross-micro-batch exact duplicates."""
    import datetime as dt

    from vicinity_spark.operators.textops import langid_scores_rowwise, quality_scores
    from vicinity_spark.streaming import (
        predicted_lang_col,
        quality_pass_col,
        stream_clean,
    )

    good = "the quick brown fox jumps over the lazy dog and runs to the river bank again today with a friend"
    t0 = dt.datetime(2024, 1, 1)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    b1 = [
        (0, good, at(0)),                      # survivor
        (1, "short text", at(0)),              # fails quality (<20 toks)
        (2, "palabras sin ingles " * 8, at(0)),  # fails language
        (3, good + " extra", at(0)),           # survivor
    ]
    b2 = [
        (4, good, at(5)),                      # exact dup of 0 → dropped
        (5, good + " fresh words", at(5)),     # survivor
    ]
    schema = "doc_id long, text string, ts timestamp"
    src = tmp_path / "clean_src"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    import time as _t

    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        stream_clean(stream, watermark="1 minute")
        .writeStream.format("memory")
        .queryName("stream_clean_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(q.lastProgress["stateOperators"]) == 1  # dedup only
    got = {r.doc_id for r in spark.sql("select * from stream_clean_out").collect()}
    assert got == {0, 3, 5}

    # predicate columns ≡ batch scorers on the same rows
    batch = spark.createDataFrame(b1 + b2, schema)
    via_cols = batch.select(
        "doc_id",
        quality_pass_col("text").alias("qp"),
        predicted_lang_col("text").alias("pl"),
    ).collect()
    qs = {r.doc_id: r.quality_pass for r in quality_scores(batch).collect()}
    ls = {r.doc_id: r.predicted_lang for r in langid_scores_rowwise(batch).collect()}
    for r in via_cols:
        assert int(r.qp) == qs[r.doc_id]
        assert r.pl == ls[r.doc_id]


@pytest.mark.slow
def test_stream_clean_then_neardup_composition(spark, tmp_path):
    """Capstone composition (r6): stream_clean's output (one
    dropDuplicatesWithinWatermark) feeds stream_neardup_candidates'
    keyed bucket state IN THE SAME streaming query — two chained
    stateful operators in append mode. A planted near-dup pair that
    both pass cleaning must surface as a candidate; an exact dup must
    be consumed by the dedup before reaching the miner; a low-quality
    doc must never enter a bucket."""
    import datetime as dt
    import time as _t

    from vicinity_spark.streaming import stream_clean, stream_neardup_candidates

    base = (
        "the quick brown fox jumps over the lazy dog and runs to the river "
        "bank again today with a good friend nearby watching everything happen"
    )
    near = base.replace("everything", "something")  # high-Jaccard near-dup
    t0 = dt.datetime(2024, 1, 1)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    schema = "doc_id long, text string, ts timestamp"
    src = tmp_path / "cc_src"
    spark.createDataFrame(
        [(0, base, at(0)), (1, "too short", at(0))], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    _t.sleep(1.1)
    spark.createDataFrame(
        [(2, base, at(2)), (3, near, at(2))], schema  # 2 = exact dup of 0
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    cleaned = stream_clean(stream, watermark="1 minute")
    cands = stream_neardup_candidates(
        cleaned, watermark=None, horizon_minutes=30, min_est_jaccard=0.4
    )  # None: the watermark is already defined by stream_clean
    q = (
        cands.writeStream.format("memory")
        .queryName("clean_mine")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(q.lastProgress["stateOperators"]) == 2  # dedup + bucket state
    got = spark.sql("select * from clean_mine").collect()
    pairs = {(r.doc_id, r.matched_doc_id) for r in got}
    assert (3, 0) in pairs  # the near-dup found its cleaned predecessor
    # the exact dup (2) was consumed by the dedup stage: it neither
    # matched nor was matched
    assert not any(2 in p for p in pairs)
    assert not any(1 in p for p in pairs)  # low-quality never bucketed


@pytest.mark.slow
def test_stream_neardup_rocksdb_state_store(spark, tmp_path):
    """r6 VERDICT item 6: the 100 TB streaming claim leans on state
    eviction — run the near-dup stateful operator once on the
    PRODUCTION state backend (RocksDBStateStoreProvider, bundled with
    Spark 4). A cloned session scopes the provider conf so the shared
    fixture keeps the default HDFS-backed provider. Asserts (a) the
    candidate pairs are identical to the default-provider run above,
    and (b) the progress actually reports RocksDB custom metrics —
    i.e. the provider engaged, the conf didn't silently no-op.
    BENCHNOTES.md "RocksDB state store" has the measured 100k-doc
    comparison against the in-memory provider."""
    import datetime as dt

    from vicinity_spark.streaming import stream_neardup_candidates

    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    other = "one two three four five six seven eight nine ten"
    src = tmp_path / "docs_src_rocks"
    schema = "doc_id long, ts timestamp, text string"
    s2.createDataFrame(
        [(1, t0, base), (2, t0 + dt.timedelta(seconds=30), other)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    s2.createDataFrame(
        [(3, t0 + dt.timedelta(minutes=1), near)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    cand = stream_neardup_candidates(stream, min_est_jaccard=0.3)
    q = (
        cand.writeStream.format("memory")
        .queryName("neardup_rocks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_rocks"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = s2.sql("select * from neardup_rocks").collect()
    assert {(r.doc_id, r.matched_doc_id) for r in rows} == {(3, 1)}
    assert max(r.est_jaccard for r in rows) >= 0.5

    saw_rocksdb = False
    for p in q.recentProgress:
        for so in p.get("stateOperators", []):
            if any("rocksdb" in k.lower() for k in so.get("customMetrics", {})):
                saw_rocksdb = True
    assert saw_rocksdb, "RocksDB provider conf did not engage (no rocksdb metrics)"


@pytest.mark.slow
def test_stream_clean_redacts_pii(spark, tmp_path):
    """stream_clean(redact=True): PII is scrubbed from emitted
    survivors by a stateless projection — the query still has exactly
    one stateful operator, and dedup keys on the PRE-redaction text
    (docs differing only inside a redacted span stay distinct)."""
    import datetime as dt

    from vicinity_spark.streaming import stream_clean

    base = (
        "the quick brown fox jumps over the lazy dog and runs to the "
        "river bank again today with a friend"
    )
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, base + " mail alice@example.com now", t0),
        # same text modulo a different email: distinct pre-redaction →
        # BOTH emitted (then identical post-redaction, by design)
        (1, base + " mail bob@example.org now", t0),
        (2, base, t0),
    ]
    schema = "doc_id long, text string, ts timestamp"
    src = tmp_path / "clean_pii_src"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        stream_clean(stream, watermark="1 minute", redact=True)
        .writeStream.format("memory")
        .queryName("stream_clean_pii_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(q.lastProgress["stateOperators"]) == 1
    got = {r.doc_id: r.text for r in spark.sql("select * from stream_clean_pii_out").collect()}
    assert set(got) == {0, 1, 2}
    assert got[0] == base + " mail <EMAIL> now"
    assert got[1] == base + " mail <EMAIL> now"
    assert got[2] == base


def test_stateless_minhash_tokenroll_shingle_one(spark):
    """ADVICE r7: shingle=1 crashed with AttributeError — the short-doc
    CASE chain is empty at shingle=1 (every 1-token doc already emits
    its gram) and `short.otherwise(...)` dereferenced None. Guarded:
    the projection runs, identical texts agree component-for-component,
    and disjoint token sets diverge."""
    from vicinity_spark.streaming.neardup import stateless_minhash_tokenroll

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "one two three four"),
            (4, "single"),
        ],
        "doc_id long, text string",
    )
    out = stateless_minhash_tokenroll(docs, n_hashes=8, shingle=1)
    sigs = {r.doc_id: list(r.sig) for r in out.collect()}
    assert all(len(s) == 8 for s in sigs.values())
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    # shingle=1 signature is the per-token minhash — a 1-token doc's
    # signature is just that token's transforms (no short-doc tier)
    assert len(sigs[4]) == 8


@pytest.mark.slow
def test_stream_neardup_vs_snapshot_matches_batch(spark, tmp_path):
    """r8: streaming daily-ingest dedup against the PERSISTED corpus
    bucket snapshot — every micro-batch is planned as a BATCH query
    (foreachBatch), so the snapshot probe carries the same
    DynamicPartitionPruning filter as the batch path, and the union of
    per-trigger results equals one batch probe over all the docs."""
    import datetime as dt

    from pyspark.sql import functions as F

    from vicinity_spark.operators.dedup import (
        minhash_lsh_pairs_vs_snapshot,
        save_corpus_buckets,
    )
    from vicinity_spark.streaming.neardup import stream_neardup_vs_snapshot

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(
        F.col("doc_id") % 5 != 0
    )
    new = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(
        F.col("doc_id") % 5 == 0
    )
    snap = str(tmp_path / "snap")
    save_corpus_buckets(corpus, snap, n_hashes=16, rows_per_band=4, n_bpart=8)

    t0 = dt.datetime(2024, 1, 1)
    src = tmp_path / "stream_src"
    halves = [
        new.where(F.col("doc_id") % 2 == 0),
        new.where(F.col("doc_id") % 2 == 1),
    ]
    for i, h in enumerate(halves):
        h.select("doc_id", "text").withColumn(
            "ts", F.lit(t0 + dt.timedelta(minutes=i)).cast("timestamp")
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    got = []
    seen_plans = []
    w = stream_neardup_vs_snapshot(
        stream,
        corpus,
        snap,
        sink=lambda df, bid: got.extend(
            (r.id_new, r.id_corpus, round(r.jaccard, 6)) for r in df.collect()
        ),
        min_jaccard=0.3,
        _plan_observer=lambda df: seen_plans.append(df),
    )
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(180)
    want = {
        (r.id_new, r.id_corpus, round(r.jaccard, 6))
        for r in minhash_lsh_pairs_vs_snapshot(
            spark, corpus, new, snap, min_jaccard=0.3
        ).collect()
    }
    assert set(got) == want and len(want) > 0
    assert len(got) == len(set(got))  # triggers partition the batch — no dup pairs
    # the per-trigger probe is batch-planned: DPP filter present
    from vicinity_spark.plans.checks import explain_str

    assert seen_plans and any(
        "dynamicpruning" in explain_str(df) for df in seen_plans
    )


@pytest.mark.slow
def test_stream_lm_scores_matches_batch(spark, tmp_path):
    """r8: streaming LM scoring against precomputed LM tables — the
    union of per-trigger (xent, llr) rows equals one batch scoring
    pass over the same docs, and llr from the precomputed tables
    equals dsir_weights' fit-and-score (raw LM fit on the raw corpus
    covers every raw token, so the from_lms unk-floor generalization
    must be value-invisible there)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from vicinity_spark.operators.sampling import dsir_weights, dsir_weights_from_lms
    from vicinity_spark.operators.textops import fit_unigram_lm, unigram_logprob
    from vicinity_spark.streaming.clean import stream_lm_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.where(F.col("source") == "src0")
    lm_raw = fit_unigram_lm(docs).cache()
    lm_t = fit_unigram_lm(target).cache()

    # precomputed-vs-fit parity on the full corpus
    got_w = {
        r["doc_id"]: (r["n_tokens"], r["llr"])
        for r in dsir_weights_from_lms(
            docs, lm_raw, lm_t, features="unigram"
        ).collect()
    }
    want_w = {
        r["doc_id"]: (r["n_tokens"], r["llr"])
        for r in dsir_weights(docs, target, features="unigram").collect()
    }
    assert got_w == want_w

    t0 = dt.datetime(2024, 1, 1)
    src = tmp_path / "lm_stream_src"
    halves = [docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)]
    for i, h in enumerate(halves):
        h.select("doc_id", "text").withColumn(
            "ts", F.lit(t0 + dt.timedelta(minutes=i)).cast("timestamp")
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    got = []
    batches = []
    w = stream_lm_scores(
        stream,
        lm_raw,
        sink=lambda df, bid: (
            got.extend((r.doc_id, r.n_tokens, r.xent, r.llr) for r in df.collect()),
            batches.append(bid),
        ),
        target_lm=lm_t,
    )
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(180)
    assert len(batches) >= 2  # maxFilesPerTrigger=1 → one trigger per half
    want_x = {
        r["doc_id"]: (r["n_tokens"], r["xent"])
        for r in unigram_logprob(docs).collect()
    }
    assert len(got) == docs.count()
    for doc_id, n_tokens, xent, llr in got:
        assert (n_tokens, xent) == want_x[doc_id]
        assert llr == want_w[doc_id][1]


def test_stream_lm_scores_bigram_matches_batch(spark, tmp_path):
    """r11: the lm_bi slot — streaming micro-batch scoring under the
    stupid-backoff bigram model equals one batch bigram_logprob pass
    with the same precomputed tables (fit daily in batch, score the
    crawl — now with the better model)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from vicinity_spark.operators.textops import (
        bigram_logprob,
        fit_bigram_lm,
        fit_unigram_lm,
    )
    from vicinity_spark.streaming.clean import stream_lm_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lm_uni = fit_unigram_lm(docs).cache()
    # small cap so BOTH the table-hit and the backoff paths stream
    lm_bi = fit_bigram_lm(docs, max_bigrams=500).cache()

    want = {
        r["doc_id"]: (r["n_tokens"], r["xent"])
        for r in bigram_logprob(docs, lm_bi=lm_bi, lm_uni=lm_uni).collect()
    }

    t0 = dt.datetime(2024, 1, 1)
    src = tmp_path / "bigram_stream_src"
    halves = [docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)]
    for i, h in enumerate(halves):
        h.select("doc_id", "text").withColumn(
            "ts", F.lit(t0 + dt.timedelta(minutes=i)).cast("timestamp")
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    got = []
    w = stream_lm_scores(
        stream,
        lm_uni,
        sink=lambda df, bid: got.extend(
            (r.doc_id, r.n_tokens, r.xent) for r in df.collect()
        ),
        lm_bi=lm_bi,
    )
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(180)
    assert len(got) == docs.count()
    for doc_id, n_tokens, xent in got:
        assert (n_tokens, xent) == want[doc_id]


@pytest.mark.slow
def test_stream_daily_ingest_loop(spark, tmp_path):
    """r9 (VERDICT item 6): the COMPOSED daily-ingest loop — probe →
    filter survivors → append their buckets + text → score — as one
    exercised path. The load-bearing assertion is cross-day: day-2 is
    exact copies (new ids) of day-1, so a day-2 copy of a day-1
    SURVIVOR can only be flagged if day-1's append landed in both the
    bucket snapshot and the verification text table; without the
    append those copies would sail through as survivors."""
    import datetime as dt

    from vicinity_spark.operators.dedup import (
        minhash_lsh_pairs_vs_snapshot,
        save_corpus_buckets,
    )
    from vicinity_spark.operators.sampling import dsir_weights_from_lms
    from vicinity_spark.operators.textops import fit_unigram_lm, unigram_logprob
    from vicinity_spark.streaming.neardup import stream_daily_ingest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    day1 = docs.where(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    day2 = day1.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")

    snap = str(tmp_path / "snap")
    save_corpus_buckets(corpus, snap, n_hashes=16, rows_per_band=4, n_bpart=8)
    ctext = str(tmp_path / "corpus_text")
    corpus.select("doc_id", "text").write.parquet(ctext)
    lm = fit_unigram_lm(docs).cache()
    lm_t = fit_unigram_lm(docs.where(F.col("source") == "src0")).cache()

    # expected day-1 outcome, computed against the PRISTINE snapshot
    want_dup1 = {
        r.id_new
        for r in minhash_lsh_pairs_vs_snapshot(
            spark, corpus, day1, snap, min_jaccard=0.3
        ).collect()
    }
    day1_ids = {r.doc_id for r in day1.select("doc_id").collect()}
    want_surv1 = day1_ids - want_dup1
    assert want_dup1 and want_surv1  # both paths live, or the test is vacuous

    t0 = dt.datetime(2024, 1, 1)
    src = tmp_path / "ingest_src"
    for i, d in enumerate([day1, day2]):
        d.withColumn(
            "ts", F.lit(t0 + dt.timedelta(minutes=i)).cast("timestamp")
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    got = {}
    w = stream_daily_ingest(
        stream,
        snap,
        ctext,
        sink=lambda df, bid: got.setdefault(
            bid, [(r.doc_id, r.n_tokens, r.xent, r.llr) for r in df.collect()]
        ),
        lm=lm,
        target_lm=lm_t,
        min_jaccard=0.3,
        # this test's expected-survivor math is vs the pristine
        # snapshot only; the within-batch pass has its own test
        within_batch=False,
    )
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(240)

    all_rows = [r for rows in got.values() for r in rows]
    got_day1 = {r[0] for r in all_rows if r[0] < 1_000_000}
    got_day2 = {r[0] for r in all_rows if r[0] >= 1_000_000}
    assert got_day1 == want_surv1
    assert got_day2 == set()  # every day-2 copy flagged — appends are live
    # the growing artifacts carry exactly corpus + day-1 survivors
    ctext_ids = {r.doc_id for r in spark.read.parquet(ctext).select("doc_id").collect()}
    corpus_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert ctext_ids == corpus_ids | want_surv1
    # scoring parity with the batch ops on the same survivors
    surv = day1.join(
        spark.createDataFrame([(i,) for i in want_surv1], "doc_id long"), "doc_id"
    )
    want_x = {
        r.doc_id: (r.n_tokens, r.xent) for r in unigram_logprob(surv, lm=lm).collect()
    }
    want_l = {
        r.doc_id: r.llr
        for r in dsir_weights_from_lms(surv, lm, lm_t, features="unigram").collect()
    }
    for doc_id, n_tokens, xent, llr in all_rows:
        assert (n_tokens, xent) == want_x[doc_id]
        assert llr == want_l[doc_id]
    # lm-table validation is eager at build time
    with pytest.raises(ValueError, match="__unk__"):
        stream_daily_ingest(
            stream, snap, ctext, sink=lambda df, bid: None,
            lm=lm.where(F.col("tok") != "__unk__"),
        )
    with pytest.raises(ValueError, match="target_lm requires"):
        stream_daily_ingest(stream, snap, ctext, sink=lambda df, bid: None, target_lm=lm_t)
    with pytest.raises(ValueError, match="compact_every_n_batches"):
        stream_daily_ingest(
            stream, snap, ctext, sink=lambda df, bid: None,
            compact_every_n_batches=0,
        )


def _ingest_fixture(spark, tmp_path, tag, hash_fn="md5"):
    """Controlled corpus + snapshot + text table for the ingest-loop
    hardening tests: 8 corpus docs of disjoint vocabulary, so batch
    dup/survivor outcomes are exact by construction."""
    from vicinity_spark.operators.dedup import save_corpus_buckets

    def sentence(base, n=15):
        return " ".join(f"{base}w{i}" for i in range(n))

    corpus = spark.createDataFrame(
        [(i, sentence(f"c{i}")) for i in range(8)], "doc_id long, text string"
    )
    snap = str(tmp_path / f"snap_{tag}")
    save_corpus_buckets(
        corpus, snap, n_hashes=16, rows_per_band=4, n_bpart=8, hash_fn=hash_fn
    )
    ctext = str(tmp_path / f"ctext_{tag}")
    corpus.write.parquet(ctext)
    # batch: U1/U2 unique, D1 copies corpus doc 1, W1<W2 copy each other
    batch_rows = [
        (100, sentence("u1")),
        (101, sentence("u2")),
        (102, sentence("c1")),  # D1 — snapshot dup
        (103, sentence("wb")),  # W1 — within-batch canonical
        (104, sentence("wb")),  # W2 — within-batch dup of W1
    ]
    return corpus, snap, ctext, batch_rows


def _run_ingest_once(spark, src_dir, snap, ctext, got, **kw):
    import datetime as dt

    from vicinity_spark.streaming.neardup import stream_daily_ingest

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    w = stream_daily_ingest(
        stream,
        snap,
        ctext,
        sink=lambda df, bid: got.append((bid, sorted(r.doc_id for r in df.collect()))),
        min_jaccard=0.5,
        **kw,
    )
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(240)


@pytest.mark.slow
def test_stream_daily_ingest_within_batch_replay_compaction(spark, tmp_path):
    """r10 hardening of the composed ingest loop, three properties:

    1. **within-batch dedup** (r9 ADVICE): two near-identical docs in
       the SAME trigger — only the smaller id survives; without the
       batch-self pass both would enter the corpus forever.
    2. **replay idempotency** (r9 ADVICE, the at-least-once retry):
       re-delivering the committed batch appends NOTHING (per-artifact
       batch_id sidecar) and the recomputed survivor set is identical
       even though the batch's own buckets now sit in the snapshot
       (self-pairs are anti-joined out).
    3. **compaction wiring** (VERDICT r9 item 4): with
       compact_every_n_batches set, the loop itself runs
       compact_corpus_buckets — every (band, bpart) dir is back to one
       file after the trigger, and the snapshot still probes
       pair-identically.

    The snapshot is built with hash_fn='tokenroll' — the production
    family — which pins that the within-batch pass runs through the
    rowwise miner: the r10 bench caught the onepass miner rejecting
    tokenroll snapshots ('unknown minhash family') that the md5-family
    test fixture had missed."""
    import datetime as dt
    import glob as pyglob

    from vicinity_spark.operators.dedup import minhash_lsh_pairs_vs_snapshot

    corpus, snap, ctext, batch_rows = _ingest_fixture(
        spark, tmp_path, "wb", hash_fn="tokenroll"
    )
    day1 = spark.createDataFrame(batch_rows, "doc_id long, text string")
    src = str(tmp_path / "src_wb")
    day1.withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    ).coalesce(1).write.parquet(src)

    got = []
    _run_ingest_once(
        spark, src, snap, ctext, got,
        compact_every_n_batches=1, compact_max_files_per_dir=1,
    )
    assert got == [(0, [100, 101, 103])]  # W2 (104) and D1 (102) dropped
    text_ids = sorted(
        r.doc_id for r in spark.read.parquet(ctext).select("doc_id").collect()
    )
    assert text_ids == [0, 1, 2, 3, 4, 5, 6, 7, 100, 101, 103]
    snap_count = spark.read.parquet(snap).count()
    # compaction fired from inside the loop: one file per bucket dir
    for d in pyglob.glob(f"{snap}/band=*/bpart=*"):
        files = [f for f in pyglob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, d
    # the appended buckets still probe: a fresh copy of W1's text is
    # flagged against 103
    probe = spark.createDataFrame(
        [(900, batch_rows[3][1])], "doc_id long, text string"
    )
    flagged = minhash_lsh_pairs_vs_snapshot(
        spark, spark.read.parquet(ctext), probe, snap, min_jaccard=0.5
    ).collect()
    assert {(r.id_new, r.id_corpus) for r in flagged} == {(900, 103)}

    # replay: a fresh checkpoint re-delivers the same files as batch 0;
    # the survivor set recomputes identically (batch's own buckets in
    # the snapshot are self-filtered) and nothing is appended twice
    got2 = []
    _run_ingest_once(spark, src, snap, ctext, got2)
    assert got2 == [(0, [100, 101, 103])]
    assert spark.read.parquet(snap).count() == snap_count
    assert sorted(
        r.doc_id for r in spark.read.parquet(ctext).select("doc_id").collect()
    ) == text_ids


def test_stream_daily_ingest_partial_commit_recovery(spark, tmp_path):
    """The exact at-least-once failure window the r9 ADVICE flagged:
    the trigger died AFTER the bucket append committed but BEFORE the
    text append. The replay must (a) recompute the same survivors —
    the batch's own buckets are already in the snapshot, so without
    the self-id filter every survivor would flag against itself and
    the text rows would be lost — (b) skip the bucket append (sidecar
    says batch 0 committed) and (c) run the text append exactly
    once."""
    import datetime as dt

    from vicinity_spark.operators.dedup import append_corpus_buckets
    from vicinity_spark.streaming.neardup import (
        _read_ingest_committed,
        _write_ingest_committed,
    )

    corpus, snap, ctext, batch_rows = _ingest_fixture(spark, tmp_path, "pc")
    day1 = spark.createDataFrame(batch_rows, "doc_id long, text string")
    src = str(tmp_path / "src_pc")
    day1.withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    ).coalesce(1).write.parquet(src)

    # simulate the half-committed trigger: survivors' buckets landed,
    # sidecar recorded them, text never made it
    survivors = day1.where(F.col("doc_id").isin([100, 101, 103]))
    append_corpus_buckets(survivors, snap)
    _write_ingest_committed(spark, snap, {"buckets": 0, "text": -1})
    snap_count = spark.read.parquet(snap).count()

    got = []
    _run_ingest_once(spark, src, snap, ctext, got)
    assert got == [(0, [100, 101, 103])]  # identical survivors on replay
    assert spark.read.parquet(snap).count() == snap_count  # no re-append
    text_ids = sorted(
        r.doc_id for r in spark.read.parquet(ctext).select("doc_id").collect()
    )
    assert text_ids == [0, 1, 2, 3, 4, 5, 6, 7, 100, 101, 103]
    committed = _read_ingest_committed(spark, snap)
    assert committed == {"buckets": 0, "text": 0}


@pytest.mark.slow
def test_stream_daily_ingest_single_signature_pass(spark, tmp_path, monkeypatch, caplog):
    """r11 (VERDICT items 1 + 6): the composed loop signs each
    micro-batch exactly ONCE — band_buckets_rowwise (the only entry to
    the signature phase; both miners resolve it through the dedup
    module namespace) runs once per trigger while the outcome stays
    identical to the two-pass r10 path — and the per-trigger cap
    observations surface a planted hot bucket as a WARN from inside
    the loop."""
    import datetime as dt

    from vicinity_spark.operators import dedup as dedup_mod

    corpus, snap, ctext, batch_rows = _ingest_fixture(
        spark, tmp_path, "ssp", hash_fn="tokenroll"
    )
    day1 = spark.createDataFrame(batch_rows, "doc_id long, text string")
    src = str(tmp_path / "src_ssp")
    day1.withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    ).coalesce(1).write.parquet(src)

    calls = []
    real = dedup_mod.band_buckets_rowwise

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(dedup_mod, "band_buckets_rowwise", counting)
    got = []
    with caplog.at_level("WARNING", logger="vicinity_spark.streaming.neardup"):
        _run_ingest_once(spark, src, snap, ctext, got, max_bucket=8)
    assert calls == [1]  # ONE signature pass for the whole trigger
    assert got == [(0, [100, 101, 103])]  # outcome identical to the two-pass path
    assert not [r for r in caplog.records if "hot bucket" in r.message]

    # second trigger carries a >cap cluster of NEAR-identical docs (the
    # one shape exact dedup cannot collapse): the loop must WARN with
    # the observed drop count instead of dropping silently
    base = batch_rows[3][1]
    hot = [(200 + i, base + f" zz{i}") for i in range(12)]
    spark.createDataFrame(hot, "doc_id long, text string").withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 2)).cast("timestamp")
    ).coalesce(1).write.parquet(str(tmp_path / "src_ssp2"))
    caplog.clear()
    got2 = []
    with caplog.at_level("WARNING", logger="vicinity_spark.streaming.neardup"):
        _run_ingest_once(spark, str(tmp_path / "src_ssp2"), snap, ctext, got2, max_bucket=8)
    warns = [r for r in caplog.records if "hot bucket" in r.message]
    assert warns and "within-batch self-mine" in warns[0].message


@pytest.mark.slow
def test_stream_daily_ingest_append_committed_sidecar_unwritten(spark, tmp_path):
    """r11 (VERDICT item 3): the residual double-append window — the
    trigger crashed AFTER both parquet appends committed but BEFORE
    the sidecar write. The replay (fresh checkpoint here — harder than
    a same-run replay, since the committed marks are also run-scoped
    away) must recompute the same survivors and append ZERO duplicate
    rows to either artifact: the content filters certify presence, not
    the sidecar."""
    import datetime as dt

    corpus, snap, ctext, batch_rows = _ingest_fixture(spark, tmp_path, "acw")
    day1 = spark.createDataFrame(batch_rows, "doc_id long, text string")
    src = str(tmp_path / "src_acw")
    day1.withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    ).coalesce(1).write.parquet(src)

    got = []
    _run_ingest_once(spark, src, snap, ctext, got)
    assert got == [(0, [100, 101, 103])]
    snap_rows = sorted(
        (r.doc_id, r.band, r.bkey) for r in spark.read.parquet(snap).collect()
    )
    text_ids = sorted(
        r.doc_id for r in spark.read.parquet(ctext).select("doc_id").collect()
    )
    assert len(set(snap_rows)) == len(snap_rows)  # baseline: no dupes

    # simulate the crash: appends committed, sidecar never written
    jp = spark._jvm.org.apache.hadoop.fs.Path(snap + "/_ingest_committed.json")
    fs = jp.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.delete(jp, False)

    got2 = []
    _run_ingest_once(spark, src, snap, ctext, got2)
    assert got2 == [(0, [100, 101, 103])]  # identical survivors
    assert sorted(
        (r.doc_id, r.band, r.bkey) for r in spark.read.parquet(snap).collect()
    ) == snap_rows  # zero duplicate bucket rows
    assert sorted(
        r.doc_id for r in spark.read.parquet(ctext).select("doc_id").collect()
    ) == text_ids  # zero duplicate text rows


@pytest.mark.slow
def test_stream_daily_ingest_checkpoint_reset_new_data(spark, tmp_path):
    """r10 ADVICE (medium): a fresh checkpoint restarts batch ids at
    0, so NEW data arrives under a batch_id the sidecar already marked
    committed — before r11 its appends were silently skipped and its
    near-duplicates never caught again. The run-scoped sidecar must
    ignore the stale marks and append the new docs."""
    import datetime as dt

    from vicinity_spark.operators.dedup import minhash_lsh_pairs_vs_snapshot

    corpus, snap, ctext, batch_rows = _ingest_fixture(spark, tmp_path, "ckr")
    day1 = spark.createDataFrame(batch_rows, "doc_id long, text string")
    src1 = str(tmp_path / "src_ckr1")
    day1.withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    ).coalesce(1).write.parquet(src1)
    got = []
    _run_ingest_once(spark, src1, snap, ctext, got)  # commits batch 0
    assert got == [(0, [100, 101, 103])]

    # new run (fresh checkpoint), new unique docs, reused batch_id 0
    def sentence(base, n=15):
        return " ".join(f"{base}w{i}" for i in range(n))

    day2 = spark.createDataFrame(
        [(300, sentence("n1")), (301, sentence("n2"))], "doc_id long, text string"
    )
    src2 = str(tmp_path / "src_ckr2")
    day2.withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 2)).cast("timestamp")
    ).coalesce(1).write.parquet(src2)
    got2 = []
    _run_ingest_once(spark, src2, snap, ctext, got2)
    assert got2 == [(0, [300, 301])]
    text_ids = {r.doc_id for r in spark.read.parquet(ctext).select("doc_id").collect()}
    assert {300, 301} <= text_ids  # text appended despite the stale mark
    # and their buckets are live: a copy of 300's text is flagged
    probe = spark.createDataFrame(
        [(900, sentence("n1"))], "doc_id long, text string"
    )
    flagged = minhash_lsh_pairs_vs_snapshot(
        spark, spark.read.parquet(ctext), probe, snap, min_jaccard=0.5
    ).collect()
    assert {(r.id_new, r.id_corpus) for r in flagged} == {(900, 300)}


def _bm25_stream_fixture(spark, tmp_path, tag):
    """Saved base layout (docs 0-3, incl a zero-token doc) + two
    stream batches (4-5, 6-8 incl another zero-token doc) as
    one-file-per-trigger parquet dirs."""
    import datetime as dt

    from vicinity_spark.operators.retrieval import (
        bm25_doclens,
        bm25_index,
        bm25_index_save,
    )

    base_rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the log"),
        (2, "cats and dogs living together"),
        (3, ""),  # zero-token: no postings rows, counts in stats
    ]
    b1_rows = [(4, "the cat and the dog"), (5, "spark shuffles the data")]
    b2_rows = [(6, "dogs on the mat"), (7, "big data the spark way"), (8, "")]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    layout = str(tmp_path / f"bm25_ing_{tag}")
    bm25_index_save(*bm25_index(base), layout, doclens=bm25_doclens(base))
    src = str(tmp_path / f"bm25_src_{tag}")
    t0 = dt.datetime(2024, 1, 1)
    for i, rows in enumerate([b1_rows, b2_rows]):
        spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "ts", F.lit(t0 + dt.timedelta(minutes=i)).cast("timestamp")
        ).coalesce(1).write.parquet(f"{src}/b{i}")
    full = spark.createDataFrame(
        base_rows + b1_rows + b2_rows, "doc_id long, text string"
    )
    return layout, src, full


def _run_bm25_ingest_once(spark, src, layout, **kw):
    from vicinity_spark.streaming.query import stream_bm25_ingest

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = stream_bm25_ingest(stream, layout, **kw).trigger(availableNow=True).start()
    q.awaitTermination(180)


@pytest.mark.slow
def test_stream_bm25_ingest_grows_layout(spark, tmp_path):
    """r12: the BM25 maintenance twin — after two streamed batches the
    loaded layout scores EXACTLY like a batch rebuild over the full
    corpus (postings rows, zero-token-doc-aware stats, ranks), and
    in-loop compaction leaves one file per touched term-group dir."""
    import glob as pyglob

    from vicinity_spark.operators.retrieval import (
        bm25_index,
        bm25_index_load,
        bm25_topk,
    )

    layout, src, full = _bm25_stream_fixture(spark, tmp_path, "grow")
    seen = []
    _run_bm25_ingest_once(
        spark, src, layout,
        sink=lambda df, bid: seen.append((bid, sorted(r.doc_id for r in df.collect()))),
        compact_every_n_batches=1, compact_max_files_per_dir=1,
    )
    assert seen == [(0, [4, 5]), (1, [6, 7, 8])]
    lp, ls = bm25_index_load(spark, layout)
    rp, rs = bm25_index(full)
    assert ls.collect() == rs.collect()  # stats algebra exact incl empty docs
    qdf = full.where("doc_id in (0, 4, 6)")
    want = sorted(
        map(tuple, bm25_topk(None, qdf, k=10, postings=rp, stats=rs).collect())
    )
    got = sorted(
        map(tuple, bm25_topk(None, qdf, k=10, postings=lp, stats=ls).collect())
    )
    assert got == want
    for d in pyglob.glob(f"{layout}/bm25_postings/__tg=*"):
        assert len(pyglob.glob(f"{d}/*.parquet")) == 1, d


@pytest.mark.slow
def test_stream_bm25_ingest_replay_appends_nothing(spark, tmp_path):
    """At-least-once redelivery under a FRESH checkpoint (harder than
    same-run: batch ids restart and the run-scoped marks reset) — the
    presence filters must append zero duplicate rows and leave the
    stats byte-identical."""
    from vicinity_spark.operators.retrieval import bm25_index_load

    layout, src, full = _bm25_stream_fixture(spark, tmp_path, "replay")
    _run_bm25_ingest_once(spark, src, layout)
    lp1, ls1 = bm25_index_load(spark, layout)
    p_rows = sorted(map(tuple, lp1.collect()))
    s_row = ls1.collect()
    dl_rows = sorted(
        map(tuple, spark.read.parquet(f"{layout}/bm25_doclens").collect())
    )
    _run_bm25_ingest_once(spark, src, layout)  # fresh checkpoint replay
    lp2, ls2 = bm25_index_load(spark, layout)
    assert sorted(map(tuple, lp2.collect())) == p_rows
    assert ls2.collect() == s_row
    assert (
        sorted(map(tuple, spark.read.parquet(f"{layout}/bm25_doclens").collect()))
        == dl_rows
    )


@pytest.mark.slow
def test_stream_bm25_ingest_partial_commit_recovery(spark, tmp_path):
    """The crash window: a prior attempt appended batch 0's POSTINGS
    but died before the doclens append and the sidecar write. The
    replay must append only the missing doclens rows, detect the
    partial state, and recompute the stats EXACTLY from the doclens
    artifact — matching the full rebuild in the end."""
    from vicinity_spark.operators.retrieval import (
        BM25_TGROUP_COL,
        _tgroup_col,
        bm25_index,
        bm25_index_load,
        bm25_topk,
    )

    layout, src, full = _bm25_stream_fixture(spark, tmp_path, "crash")
    # simulate the dead trigger: batch 0 (docs 4-5) postings committed,
    # doclens + sidecar never written
    b1 = full.where("doc_id in (4, 5)")
    bp, _ = bm25_index(b1)
    bp.withColumn(BM25_TGROUP_COL, _tgroup_col()).write.mode("append").partitionBy(
        BM25_TGROUP_COL
    ).parquet(f"{layout}/bm25_postings")
    _run_bm25_ingest_once(spark, src, layout)
    lp, ls = bm25_index_load(spark, layout)
    rp, rs = bm25_index(full)
    assert sorted(map(tuple, lp.drop(BM25_TGROUP_COL).collect())) == sorted(
        map(tuple, rp.collect())
    )
    assert ls.collect() == rs.collect()
    qdf = full.where("doc_id in (4, 6)")
    want = sorted(
        map(tuple, bm25_topk(None, qdf, k=10, postings=rp, stats=rs).collect())
    )
    got = sorted(
        map(tuple, bm25_topk(None, qdf, k=10, postings=lp, stats=ls).collect())
    )
    assert got == want


def test_stream_bm25_ingest_requires_doclens(spark, tmp_path):
    """A layout saved without the doclens artifact cannot be grown —
    fail at build time with the fix in the message."""
    import pytest as _pytest

    from vicinity_spark.operators.retrieval import bm25_index, bm25_index_save
    from vicinity_spark.streaming.query import stream_bm25_ingest

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    layout = str(tmp_path / "bm25_nodl")
    bm25_index_save(*bm25_index(docs), layout)
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(str(tmp_path / "nope*"))
    with _pytest.raises(ValueError, match="doclens"):
        stream_bm25_ingest(stream, layout)


@pytest.mark.slow
def test_bm25_index_save_invalidates_ingest_sidecar(spark, tmp_path):
    """A fresh bm25_index_save over a previously-ingested path is a
    REBUILD: the leftover ingest sidecar (old corpus's running totals
    + batch marks) must be deleted, or the next ingest would fold the
    new corpus's batches into the old totals. After rebuild + re-feed
    the layout equals the rebuild-corpus ∪ stream rebuild exactly."""
    import os

    from vicinity_spark.operators.retrieval import (
        BM25_INGEST_MARKER,
        bm25_doclens,
        bm25_index,
        bm25_index_load,
        bm25_index_save,
    )

    layout, src, full = _bm25_stream_fixture(spark, tmp_path, "resave")
    _run_bm25_ingest_once(spark, src, layout)
    marker = os.path.join(layout, BM25_INGEST_MARKER)
    assert os.path.exists(marker)
    # rebuild over a DIFFERENT base corpus (2 docs instead of 4)
    base2 = spark.createDataFrame(
        [(100, "fresh corpus one"), (101, "")], "doc_id long, text string"
    )
    bm25_index_save(*bm25_index(base2), layout, doclens=bm25_doclens(base2))
    assert not os.path.exists(marker)
    _run_bm25_ingest_once(spark, src, layout)
    lp, ls = bm25_index_load(spark, layout)
    streamed = full.where("doc_id >= 4")
    rp, rs = bm25_index(base2.unionByName(streamed))
    assert ls.collect() == rs.collect()
    assert sorted(map(tuple, lp.drop("__tg").collect())) == sorted(
        map(tuple, rp.collect())
    )


def test_stream_bm25_serve_from_loaded_layout(spark, tmp_path):
    """The documented serving deployment end-to-end: persist the index
    once (bm25_index_save), pass bm25_index_load's frames into
    stream_bm25_serve — per-trigger results equal the in-session batch
    pass, with no corpus aggregate at serve time."""
    import datetime as dt

    from vicinity_spark.operators.retrieval import (
        bm25_index,
        bm25_index_load,
        bm25_index_save,
        bm25_topk,
    )
    from vicinity_spark.streaming.query import stream_bm25_serve

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    queries = docs.where("doc_id < 3").select(
        F.col("doc_id").alias("query_id"), "text"
    )
    want = sorted(
        (r["query_id"], r["doc_id"], r["bm25"], r["rank"])
        for r in bm25_topk(docs, queries, k=5, query_id_col="query_id").collect()
    )
    layout = str(tmp_path / "bm25_serve_layout")
    bm25_index_save(*bm25_index(docs), layout)
    lp, ls = bm25_index_load(spark, layout)
    ls = ls.localCheckpoint(eager=True)  # pin the one-row stats (docs contract)
    src = tmp_path / "bm25_serve_src"
    queries.withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    ).coalesce(1).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema("query_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    got = []
    w = stream_bm25_serve(
        None,
        stream,
        k=5,
        postings=lp,
        stats=ls,
        sink=lambda df, bid: got.extend(
            (r.query_id, r.doc_id, r.bm25, r.rank) for r in df.collect()
        ),
    )
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(180)
    assert sorted(got) == want


@pytest.mark.slow
def test_stream_bm25_ingest_legacy_sidecar_distrusted(spark, tmp_path):
    """r13 (r12 ADVICE): a sidecar whose run id is missing cannot
    CERTIFY its high-water batch mark — a later run must distrust the
    mark and fall through to the idempotent presence filters, instead
    of letting a stale mark silently drop genuinely new batches.
    Planted: a run-unscoped sidecar with batch=99; a rerun over three
    source files (one brand NEW) must still fold the new docs in and
    land byte-identical to a full rebuild."""
    from vicinity_spark.operators.dedup import _read_sidecar, _write_sidecar
    from vicinity_spark.operators.retrieval import (
        BM25_INGEST_MARKER,
        bm25_index,
        bm25_index_load,
    )

    layout, src, full = _bm25_stream_fixture(spark, tmp_path, "legacy")
    _run_bm25_ingest_once(spark, src, layout)
    marker = layout.rstrip("/") + "/" + BM25_INGEST_MARKER
    got = _read_sidecar(spark, marker)
    assert "run_id" in got
    del got["run_id"]  # legacy / run-unscoped sidecar
    got["batch"] = 99  # stale high-water mark covering every batch id
    _write_sidecar(spark, marker, got)
    extra = [(9, "entirely fresh vocabulary here")]
    spark.createDataFrame(extra, "doc_id long, text string").withColumn(
        "ts", F.lit("2024-01-01 00:05:00").cast("timestamp")
    ).coalesce(1).write.parquet(f"{src}/b2")
    _run_bm25_ingest_once(spark, src, layout)
    lp, ls = bm25_index_load(spark, layout)
    full2 = full.unionByName(
        spark.createDataFrame(extra, "doc_id long, text string")
    )
    rp, rs = bm25_index(full2)
    assert ls.collect() == rs.collect()
    assert sorted(map(tuple, lp.drop("__tg").collect())) == sorted(
        map(tuple, rp.collect())
    )


def test_stream_bm25_ingest_first_seed_exact_on_inexact_avgdl(spark, tmp_path):
    """r13 (r12 ADVICE): the first-ingest totals seed recomputes
    (count, sum(dl)) from the doclens artifact instead of deriving
    sum_dl = n·avgdl from the stats row — n·(sum/n) drifts by an ulp
    whenever avgdl is not exactly representable. Base corpus: 7 docs
    with dl summing to 29 — 7·(29/7) = 29.000000000000004 ≠ 29.0 in
    doubles, so the old seed fails this test's byte-identical stats
    assertion."""
    import datetime as dt

    from vicinity_spark.operators.retrieval import (
        bm25_doclens,
        bm25_index,
        bm25_index_load,
        bm25_index_save,
    )

    assert 7 * (29 / 7) != 29.0  # the ulp this test exists for
    base_rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(dl)))
        for i, dl in enumerate([5, 5, 5, 5, 5, 2, 2])
    ]
    b1_rows = [(100, "h i j k")]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    layout = str(tmp_path / "bm25_ing_ulp")
    bm25_index_save(*bm25_index(base), layout, doclens=bm25_doclens(base))
    src = str(tmp_path / "bm25_src_ulp")
    spark.createDataFrame(b1_rows, "doc_id long, text string").withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    ).coalesce(1).write.parquet(f"{src}/b0")
    _run_bm25_ingest_once(spark, src, layout)
    _, ls = bm25_index_load(spark, layout)
    full = spark.createDataFrame(
        base_rows + b1_rows, "doc_id long, text string"
    )
    _, rs = bm25_index(full)
    assert ls.collect() == rs.collect()  # byte-identical, no ulp drift


def _semdedup_stream_fixture(spark, tmp_path, tag):
    """Saved canonical snapshot (4 rows, 2 clusters) + two stream
    batches as one-file-per-trigger parquet dirs: batch 0 has one dup
    of history + one novel row; batch 1 has a dup of batch 0's
    survivor, a new-new dup pair, and a novel row."""
    import datetime as dt

    from vicinity_spark.operators.cluster import (
        assign_clusters,
        cluster_snapshot_save,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    snap_rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, -0.3]),
        (2, [0.0, 1.0]),
        (3, [0.2, 0.9]),
    ]
    snap = spark.createDataFrame(snap_rows, "id long, vector array<double>")
    layout = str(tmp_path / f"sd_ing_{tag}")
    cluster_snapshot_save(assign_clusters(snap, cents), cents, layout)
    b0 = [(100, [1.0, 0.0]), (101, [0.6, 0.8])]          # dup-of-0, novel
    b1 = [
        (200, [0.6, 0.8]),   # dup of batch-0 survivor 101
        (201, [-0.9, 0.35]), # novel (cluster 1 side)
        (202, [-0.9, 0.35]), # new-new dup of 201
    ]
    src = str(tmp_path / f"sd_src_{tag}")
    t0 = dt.datetime(2024, 1, 1)
    for i, rows in enumerate([b0, b1]):
        spark.createDataFrame(rows, "id long, vector array<double>").withColumn(
            "ts", F.lit(t0 + dt.timedelta(minutes=i)).cast("timestamp")
        ).coalesce(1).write.parquet(f"{src}/b{i}")
    return layout, src, cents, snap


def _run_semdedup_ingest_once(spark, src, layout, **kw):
    from vicinity_spark.streaming.query import stream_semdedup_ingest

    stream = (
        spark.readStream.schema("id long, vector array<double>, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        stream_semdedup_ingest(stream, layout, 1e-9, **kw)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


@pytest.mark.slow
def test_stream_semdedup_ingest_grows_snapshot(spark, tmp_path):
    """r13: after two streamed batches the layout holds exactly the
    canonical survivors (dups of history and within-batch dups
    appended nothing), equal to folding semdedup_incremental
    sequentially; the sink saw every label."""
    from vicinity_spark.operators.cluster import cluster_snapshot_load

    layout, src, cents, snap = _semdedup_stream_fixture(spark, tmp_path, "grow")
    seen = []
    _run_semdedup_ingest_once(
        spark, src, layout,
        sink=lambda df, bid: seen.append(
            (bid, sorted((r["id"], r["rep_id"], r["is_canonical"]) for r in df.collect()))
            if df is not None else (bid, None)
        ),
    )
    assert seen == [
        (0, [(100, 0, False), (101, 101, True)]),
        (1, [(200, 101, False), (201, 201, True), (202, 201, False)]),
    ]
    members, loaded_cents = cluster_snapshot_load(spark, layout)
    assert loaded_cents == cents
    got_ids = sorted(r["id"] for r in members.collect())
    assert got_ids == [0, 1, 2, 3, 101, 201]  # snapshot + the two survivors


@pytest.mark.slow
def test_stream_semdedup_ingest_replay_appends_nothing(spark, tmp_path):
    """Fresh-checkpoint redelivery: batch ids restart, the run-scoped
    mark is distrusted, and the presence filter drops every
    already-appended id BEFORE mining — so nothing is re-appended AND
    no replayed survivor is wrongly flagged against itself."""
    from vicinity_spark.operators.cluster import cluster_snapshot_load

    layout, src, cents, snap = _semdedup_stream_fixture(spark, tmp_path, "replay")
    _run_semdedup_ingest_once(spark, src, layout)
    m1, _ = cluster_snapshot_load(spark, layout)
    rows1 = sorted(map(tuple, m1.collect()))
    _run_semdedup_ingest_once(spark, src, layout)  # fresh checkpoint
    m2, _ = cluster_snapshot_load(spark, layout)
    assert sorted(map(tuple, m2.collect())) == rows1


@pytest.mark.slow
def test_stream_semdedup_ingest_guards(spark, tmp_path):
    """Missing layout is rejected with the save-first message; a fresh
    cluster_snapshot_save invalidates a leftover ingest sidecar (the
    bm25_index_save rule)."""
    from vicinity_spark.operators.cluster import (
        CLUSTER_INGEST_MARKER,
        assign_clusters,
        cluster_snapshot_save,
    )
    from vicinity_spark.operators.dedup import _read_sidecar
    from vicinity_spark.streaming.query import stream_semdedup_ingest

    (tmp_path / "empty_src").mkdir()
    stream = (
        spark.readStream.schema("id long, vector array<double>, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "empty_src"))
    )
    with pytest.raises(ValueError, match="save one first"):
        stream_semdedup_ingest(stream, str(tmp_path / "no_layout"), 0.1)
    layout0, _, _, _ = _semdedup_stream_fixture(spark, tmp_path, "guard0")
    with pytest.raises(ValueError, match="compact_every_n_batches"):
        stream_semdedup_ingest(stream, layout0, 0.1, compact_every_n_batches=0)
    layout, src, cents, snap = _semdedup_stream_fixture(spark, tmp_path, "inv")
    _run_semdedup_ingest_once(spark, src, layout)
    marker = layout + "/" + CLUSTER_INGEST_MARKER
    assert _read_sidecar(spark, marker)["batch"] == 1
    cluster_snapshot_save(assign_clusters(snap, cents), cents, layout)
    with pytest.raises(ValueError):
        _read_sidecar(spark, marker)  # sidecar invalidated by the save

@pytest.mark.slow
def test_stream_semdedup_ingest_empty_bootstrap(spark, tmp_path):
    """r14 (ADVICE r13): starting from a ZERO-row saved snapshot — the
    bootstrap the docstring promises — the first trigger loads the
    empty layout via its schema sidecar and the stream grows the
    canonical set from nothing."""
    from vicinity_spark.operators.cluster import (
        cluster_snapshot_load,
        cluster_snapshot_save,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    layout = str(tmp_path / "sd_boot")
    cluster_snapshot_save(
        spark.createDataFrame([], "id long, vector array<double>, cluster_id int"),
        cents,
        layout,
    )
    import datetime as dt

    b0 = [(100, [1.0, 0.0]), (101, [1.0, 0.0]), (102, [0.0, 1.0])]
    src = str(tmp_path / "sd_boot_src")
    spark.createDataFrame(b0, "id long, vector array<double>").withColumn(
        "ts", F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    ).coalesce(1).write.parquet(f"{src}/b0")
    _run_semdedup_ingest_once(spark, src, layout)
    members, _ = cluster_snapshot_load(spark, layout)
    # 101 is a within-batch dup of 100 and appends nothing
    assert sorted(r["id"] for r in members.collect()) == [100, 102]


@pytest.mark.slow
def test_stream_semdedup_ingest_compaction_cadence(spark, tmp_path):
    """r14 (VERDICT r13 item 5): with compact_every_n_batches=1 every
    committed trigger compacts overgrown cluster directories in-loop,
    and the grown layout's rows equal the uncompacted run's."""
    import os

    from vicinity_spark.operators.cluster import cluster_snapshot_load

    layout, src, cents, snap = _semdedup_stream_fixture(spark, tmp_path, "cmp")
    _run_semdedup_ingest_once(
        spark, src, layout,
        compact_every_n_batches=1, compact_max_files_per_dir=1,
    )
    members, _ = cluster_snapshot_load(spark, layout)
    assert sorted(r["id"] for r in members.collect()) == [0, 1, 2, 3, 101, 201]
    mdir = os.path.join(layout, "cluster_members")
    for d in os.listdir(mdir):
        if d.startswith("cluster_id="):
            files = [
                f
                for f in os.listdir(os.path.join(mdir, d))
                if not f.startswith(("_", "."))
            ]
            assert len(files) <= 1, (d, files)
