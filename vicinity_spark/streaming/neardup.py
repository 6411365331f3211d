"""Streaming near-duplicate candidate mining (★ extension — the
reference has no streaming surface; SURVEY.md §2.5): the streaming
twin of operators/dedup.py minhash_lsh_pairs.

A production corpus ingested continuously needs near-dup detection AT
INGEST, not only in nightly batch sweeps. Design constraints and how
this operator meets them:

- **One stateful operator.** The signature is computed STATELESSLY
  per row, like the batch miners' band_buckets_rowwise projection
  (pure column expressions: shingle array → per-seed
  `array_min(transform(xxhash64(seed, _)))`, or the tokenroll
  family's dedup.affine_signature), so the only stateful operator in
  the query is the keyed bucket state — a per-doc groupBy signature
  would be a second stateful aggregation in streaming.
- **Bounded state.** Docs explode to one row per signature band;
  per-(band, bucket) state keeps only the MOST RECENT prior doc
  (id, event time, signature). Buckets are 64-bit hashes, so non-dup
  collisions are rare and one-deep state loses almost nothing; state
  is evicted by event-time timeout once the watermark passes
  last_ts + horizon — state size ∝ live-bucket arrival rate ×
  horizon, never corpus history.
- **Detect streaming, verify in batch.** On a bucket collision the
  operator emits a CANDIDATE pair with the signature-estimated
  jaccard (mean equal minhash components — the standard unbiased
  estimate). Exact confirmation belongs to the downstream batch
  verify (operators/dedup.py), mirroring how production pipelines
  split cheap streaming detection from exact batch confirmation.
"""

from __future__ import annotations

import logging
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

NEARDUP_SCHEMA = "doc_id bigint, matched_doc_id bigint, band int, est_jaccard double"
_STATE_SCHEMA = "doc_id bigint, last_ts timestamp, sig array<bigint>"


def stateless_minhash(
    text_col: str = "text", n_hashes: int = 16, shingle: int = 3
) -> Column:
    """array<bigint>[n_hashes] MinHash signature as a pure column
    expression (xxhash64 family, same estimator as the batch
    operators/dedup.py `hash_fn="xxhash64"` family): word-`shingle`
    n-grams of the lowercased text, min over shingles of
    xxhash64(seed, shingle) per seed. Stateless → usable in a
    streaming projection with no aggregation state."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n = F.size(toks)
    grams = F.when(
        n >= shingle,
        F.transform(
            F.sequence(F.lit(1), n - shingle + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, shingle)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array(
        *[
            # seed cast matters: xxhash64 hashes by input type, and the
            # batch family's seed column is bigint (spark.range)
            F.array_min(F.transform(grams, lambda x: F.xxhash64(F.lit(s).cast("bigint"), x)))
            for s in range(n_hashes)
        ]
    )


def stateless_minhash_tokenroll(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    shingle: int = 3,
    sig_col: str = "sig",
) -> DataFrame:
    """Append an array<bigint>[n_hashes] MinHash signature column
    computed with the r7 batch ``tokenroll`` family (operators/dedup:
    per-token 32-bit hashes, Rabin–Karp gram combine, affine minhash
    transforms) — the fast streaming signature (measured 8.0s → 0.9s
    per 100k-doc materialization vs stateless_minhash; BENCHNOTES
    "tokenroll"). Unlike `stateless_minhash` this is a DataFrame→
    DataFrame stage, not a single Column: the token-hash and gram-hash
    arrays each sit behind a Generate barrier (explode(array(..)))
    so they evaluate ONCE per row — a lone Column expression would
    re-evaluate the gram construction per seed (the O(tokens²)-class
    trap measured in batch). Both Generates are stateless projections,
    so the streaming query still has only its keyed-bucket stateful
    operator. Docs shorter than `shingle` tokens hash their full
    token-hash prefix as one gram (the short-doc analog of
    stateless_minhash's whole-text gram). Signature values equal the
    batch tokenroll family component-for-component on single-space
    text (the streaming tokenizer trims and splits on runs of
    whitespace; the batch one splits on single spaces)."""
    from vicinity_spark.operators.dedup import (
        _affine_base_expr,
        _roll_combine,
        _tokenroll_gram_hashes,
        affine_signature,
    )

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok_h = F.transform(toks, lambda t: _affine_base_expr(t, "affine"))
    staged = docs.select("*", F.explode(F.array(tok_h)).alias("__th"))
    n = F.size("__th")
    gram_h = _tokenroll_gram_hashes(shingle, "__th")
    # short docs: one gram over however many tokens exist. shingle=1 has
    # no short tier (every 1-token doc already yields its one gram), so
    # the CASE chain is skipped entirely (ADVICE r7: `short` would stay
    # None and crash).
    short = None
    for k in range(1, shingle):
        combined = _roll_combine([F.element_at("__th", i + 1) for i in range(k)])
        short = (
            F.when(n == k, F.array(combined))
            if short is None
            else short.when(n == k, F.array(combined))
        )
    if short is not None:
        gram_h = short.otherwise(gram_h)
    staged = staged.select("*", F.explode(F.array(gram_h)).alias("__gh")).drop("__th")
    sig = F.array(*affine_signature("__gh", n_hashes))
    return staged.select("*", sig.alias(sig_col)).drop("__gh")


def stream_neardup_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: "str | None" = "10 minutes",
    horizon_minutes: int = 10,
    n_hashes: int = 16,
    rows_per_band: int = 2,
    shingle: int = 3,
    min_est_jaccard: float = 0.5,
    family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, matched_doc_id, band, est_jaccard) — one candidate row
    per signature-band collision between an arriving doc and the most
    recent prior doc in that band bucket within the state horizon.

    A true near-dup pair collides in ~every band (rows_per_band
    consecutive equal minhashes per band), so it emits multiple
    candidate rows — downstream keeps max(est_jaccard) per pair. A
    chance single-band collision between unrelated docs emits one row
    whose est_jaccard sits far below any sane threshold; the
    min_est_jaccard gate drops it in-operator."""
    nbands = n_hashes // rows_per_band
    if family == "tokenroll":
        # r7 fast family: staged stateless projections (two Generate
        # barriers), signature values = the batch tokenroll family
        keyed = stateless_minhash_tokenroll(
            docs.select(F.col(id_col).alias("doc_id"), F.col(ts_col).alias("ts"),
                        F.col(text_col).alias("__text")),
            "__text", n_hashes=n_hashes, shingle=shingle,
        ).select("doc_id", "ts", "sig")
    elif family == "xxhash64":
        keyed = docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(ts_col).alias("ts"),
            stateless_minhash(text_col, n_hashes=n_hashes, shingle=shingle).alias("sig"),
        )
    else:
        raise ValueError(f"unknown streaming minhash family {family!r}")
    band_structs = [
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.xxhash64(
                *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
            ).alias("bkey"),
        )
        for b in range(nbands)
    ]
    bands = keyed.select(
        "doc_id", "ts", "sig", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "ts", "sig", "bb.band", "bb.bkey")
    horizon_ms = horizon_minutes * 60 * 1000
    min_est = float(min_est_jaccard)

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "matched_doc_id", "band", "est_jaccard"]
        if state.hasTimedOut:
            state.remove()
            return
        band = int(key[0])
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        if state.exists:
            pid, pts, psig = state.get
            psig = list(psig)
        else:
            pid, pts, psig = None, None, None
        out = []
        for doc_id, ts, sig in zip(rows["doc_id"], rows["ts"], rows["sig"]):
            sig = [int(x) for x in sig]
            if pid is not None and int(doc_id) != pid:
                est = sum(a == b for a, b in zip(sig, psig)) / float(len(sig))
                if est >= min_est:
                    out.append([int(doc_id), pid, band, est])
            pid, pts, psig = int(doc_id), ts, sig
        state.update((pid, pts.to_pydatetime(), psig))
        state.setTimeoutTimestamp(int(pts.value // 1_000_000) + horizon_ms)
        if out:
            yield pd.DataFrame(out, columns=cols)

    # watermark=None: the input stream already carries a watermark
    # (e.g. stream_clean upstream) — Spark disallows redefining it in
    # a multi-stateful-operator query, so compose with None here
    if watermark is not None:
        bands = bands.withWatermark("ts", watermark)
    return (
        bands.groupBy("band", "bkey")
        .applyInPandasWithState(
            fn,
            NEARDUP_SCHEMA,
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_neardup_vs_snapshot(
    doc_stream: DataFrame,
    corpus: DataFrame,
    snapshot_path: str,
    sink,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: "int | None" = None,
    _plan_observer=None,
):
    """Streaming daily-ingest dedup against a PERSISTED corpus bucket
    snapshot (r8): each arriving micro-batch of documents is probed
    against the save_corpus_buckets layout via foreachBatch, so every
    trigger is planned by the BATCH planner — AQE and dynamic
    partition pruning apply (neither does inside a pure streaming
    plan), and the probe reads ONLY the snapshot files the batch's own
    band keys hash into (the minhash_lsh_pairs_vs_snapshot three-key
    join). This is the streaming face of the incremental-ingest story:
    the standing corpus is never re-shuffled, never re-hashed, and now
    never even fully re-READ per trigger.

    `corpus` supplies candidate-verification TEXT only (semi-joined
    down to candidate docs per batch). `sink(pairs_df, batch_id)`
    receives (id_new, id_corpus, jaccard) per trigger. Cross-batch
    near-dups WITHIN the stream are stream_neardup_candidates' job —
    this operator prices new-vs-standing-corpus only, which is why it
    needs no state at all.

    Returns the DataStreamWriter — call `.trigger(...).start()`."""
    from vicinity_spark.operators.dedup import minhash_lsh_pairs_vs_snapshot

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # Null-text rows cannot be mined — and this filter is ALSO what
        # arms dynamic partition pruning: Catalyst's PartitionPruning
        # rule only prunes when the filtering side carries a selective
        # predicate, and a materialized micro-batch source has no
        # Filter node at all (the batch path naturally has one from its
        # role split). length(text) >= 0 is a BinaryComparison, so the
        # heuristic accepts it; semantics are "skip unminable rows".
        batch = batch_df.where(
            F.col(text_col).isNotNull() & (F.length(text_col) >= 0)
        )
        pairs = minhash_lsh_pairs_vs_snapshot(
            batch_df.sparkSession,
            corpus,
            batch,
            snapshot_path,
            min_jaccard=min_jaccard,
            text_col=text_col,
            id_col=id_col,
            max_bucket=max_bucket,
            _plan_observer=_plan_observer,
        )
        sink(pairs, batch_id)

    return doc_stream.writeStream.foreachBatch(_process).outputMode("append")


_INGEST_MARKER = "_ingest_committed.json"

_log = logging.getLogger("vicinity_spark.streaming.neardup")


def _warn_cap_drops(obs, where: str, batch_id: int, max_bucket) -> None:
    """Per-trigger hot-bucket drop reporting for the ingest loop (r11,
    VERDICT item 6): both miners cap hot buckets when ``max_bucket`` is
    set, and the composed loop must surface any non-zero drop instead
    of leaving it to a listener the caller never registered. The
    observations are created FRESH per trigger (a pyspark Observation
    is single-use) and are readable immediately — cap_hot_buckets
    evaluates the observed hot table eagerly. Only batch-bounded caps
    are observed (within-batch self-mine + the probe's new side); the
    corpus-side cap keeps its lazy named observe, since an eager
    corpus-side observation would aggregate the full snapshot bucket
    table every trigger."""
    if obs is None:
        return
    stats = obs.get
    if stats["hot_buckets"]:
        _log.warning(
            "stream_daily_ingest batch %d: %s dropped %d hot bucket(s) "
            "(largest %d rows > max_bucket=%d) — pairs co-bucketed ONLY "
            "there are lost",
            batch_id,
            where,
            stats["hot_buckets"],
            stats["hot_max"],
            int(max_bucket),
        )


def _streaming_run_id(spark) -> "str | None":
    """The streaming query id, readable from inside foreachBatch (the
    MicroBatchExecution thread sets it as a SparkContext local
    property). The id is persisted in the checkpoint's metadata, so it
    is STABLE across restarts of the same checkpoint and FRESH when
    the checkpoint is reset — exactly the scope the committed-batch_id
    sidecar needs (r10 ADVICE: batch ids restart at 0 with a fresh
    checkpoint, and a high-water mark from a prior run must never
    skip new data delivered under a reused low batch_id)."""
    return spark.sparkContext.getLocalProperty("sql.streaming.queryId")


def _read_ingest_committed(spark, snapshot_path: str, run_id=None) -> dict:
    """Last committed batch_id per growing artifact (``-1`` = none).
    Underscore-prefixed sidecar under the snapshot, so Spark's file
    listing skips it when reading the bucket table. When ``run_id`` is
    given and the sidecar was written by a DIFFERENT streaming run,
    the marks are reset to -1 — batch ids are only meaningful within
    one checkpoint's lifetime (sidecars written before r11 carry no
    run_id and are trusted as-is)."""
    from vicinity_spark.operators.dedup import _read_sidecar

    try:
        got = _read_sidecar(spark, snapshot_path.rstrip("/") + "/" + _INGEST_MARKER)
    except ValueError:
        got = {}
    stored_run = got.get("run_id")
    if run_id is not None and stored_run is not None and stored_run != run_id:
        _log.info(
            "ingest sidecar at %s belongs to streaming run %s (current %s) "
            "— checkpoint was reset; committed marks ignored",
            snapshot_path, stored_run, run_id,
        )
        return {"buckets": -1, "text": -1}
    return {"buckets": int(got.get("buckets", -1)), "text": int(got.get("text", -1))}


def _write_ingest_committed(
    spark, snapshot_path: str, committed: dict, run_id=None
) -> None:
    from vicinity_spark.operators.dedup import _write_sidecar

    out = dict(committed)
    if run_id is not None:
        out["run_id"] = run_id
    _write_sidecar(spark, snapshot_path.rstrip("/") + "/" + _INGEST_MARKER, out)


def stream_daily_ingest(
    doc_stream: DataFrame,
    snapshot_path: str,
    corpus_text_path: str,
    sink,
    *,
    lm: "DataFrame | None" = None,
    target_lm: "DataFrame | None" = None,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: "int | None" = None,
    within_batch: bool = True,
    compact_every_n_batches: "int | None" = None,
    compact_max_files_per_dir: int = 4,
    _plan_observer=None,
):
    """The FULL daily-ingest loop as one exercised path (r9, VERDICT
    item 6), composing the pieces the r8 surfaces left separate: per
    micro-batch —

      0. **sign once** (r11): the micro-batch's MinHash bucket table
         (doc_id, band, bkey) is computed ONCE per trigger with the
         snapshot's banding params, materialized, and shared by steps
         1 and 2 — the signature pass is the dominant per-batch
         compute, and before r11 each miner recomputed it;
      1. **within-batch dedup** (``within_batch``, default on — r9
         ADVICE): mine the micro-batch against ITSELF with the
         snapshot's own banding params (``minhash_lsh_pairs``
         — the candidate-bounded miner, which supports every hash
         family a snapshot can be built with, tokenroll included) and
         keep, of every flagged pair, the smaller id — without this,
         two near-duplicate docs arriving in the same trigger would
         both survive the snapshot probe and both enter the corpus
         forever;
      2. **probe** the arriving docs against the persisted bucket
         snapshot (``minhash_lsh_pairs_vs_snapshot`` — batch-planned
         under foreachBatch, so the scan is DPP-pruned to the files
         the batch's own band keys hash into). Pairs whose corpus id
         belongs to the batch itself are discarded: doc ids are unique
         across the snapshot's history (append_corpus_buckets
         contract), so such a pair can only be the batch's OWN buckets
         from a partially-committed earlier attempt — filtering them
         makes the survivor set identical on replay;
      3. **filter** to survivors (docs with no pair ≥ min_jaccard,
         one anti-join);
      4. **append** the survivors' buckets to the snapshot AND their
         text to the corpus text table, so TOMORROW'S probe sees
         today's accepted docs — the property the integration test
         pins (a day-2 copy of a day-1 survivor is flagged against
         the day-1 id, which only the append can explain). Appends are
         EXACTLY-ONCE per artifact at row level, via two layers (r11):
         a per-artifact last-committed-batch_id sidecar
         (``_ingest_committed.json``, scoped to the streaming run id
         so a reset checkpoint's reused batch ids never skip new
         data) short-circuits fully-committed replays, and whenever
         the marks cannot certify a commit the append itself filters
         out rows its artifact already holds (a DPP-pruned presence
         probe for buckets; a broadcast semi-join over the text
         table's doc_id column for text) — so even a crash between an
         append committing and the sidecar write, or a partially
         committed append job, replays to zero duplicate rows. The
         sidecar assumes a single writer per snapshot;
      5. **maintain**: when ``compact_every_n_batches`` is set, every
         n-th batch_id runs ``compact_corpus_buckets`` after the
         appends (batch_id-keyed, so the cadence survives restarts;
         compaction is idempotent, so a replayed trigger re-running it
         is harmless) — without this the probe's DPP-pruned scan
         degrades to hundreds of tiny files per directory;
      6. **score** the survivors against precomputed LM tables when
         given (per-doc cross-entropy, + the DSIR log importance
         ratio when ``target_lm`` is also given — same split as
         ``stream_lm_scores``: fit daily in batch, score the crawl).

    ``corpus_text_path`` is a plain parquet dir of (doc_id, text) for
    the snapshot's full history — read fresh each trigger for
    candidate verification text, appended with each trigger's
    survivors. Both growing artifacts are restart-safe on-disk state,
    not driver memory — including across replayed triggers (step 4's
    sidecar). The sidecar's run scope comes from the streaming query
    id (stable across restarts of one checkpoint, fresh when the
    checkpoint is reset); if the loop body is ever driven outside a
    streaming query (no query id available), the marks fall back to
    batch_id-only scoping — the content filters still prevent
    duplicate rows, but delete the sidecar if you re-feed data under
    reused batch ids that way. The sink is the CALLER'S side of the
    contract: it receives each batch at-least-once and must be
    idempotent in batch_id, like any foreachBatch sink.

    ``sink(scored_df, batch_id)`` receives the survivors
    (id, text[, n_tokens, xent[, llr]]) per trigger. Returns the
    DataStreamWriter — call ``.trigger(...).start()``."""
    from pyspark.sql import Observation

    from vicinity_spark.operators import dedup as _dedup
    from vicinity_spark.operators.dedup import (
        _params_path,
        _read_sidecar,
        append_corpus_buckets,
        compact_corpus_buckets,
        minhash_lsh_pairs,
        minhash_lsh_pairs_vs_snapshot,
    )

    if compact_every_n_batches is not None and compact_every_n_batches < 1:
        raise ValueError(
            f"compact_every_n_batches must be >= 1, got {compact_every_n_batches}"
        )

    if lm is not None:
        from vicinity_spark.operators.sampling import _require_unk

        # pin + validate ONCE at build time (same rationale as
        # stream_lm_scores: a lazy LM table would re-run its fit
        # corpus several times per micro-batch)
        lm = lm.localCheckpoint(eager=True)
        _require_unk(lm, "lm")
        if target_lm is not None:
            target_lm = target_lm.localCheckpoint(eager=True)
            _require_unk(target_lm, "target_lm")
    elif target_lm is not None:
        raise ValueError("target_lm requires lm (the raw-corpus LM)")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        corpus = spark.read.parquet(corpus_text_path)
        # same DPP-arming null filter as stream_neardup_vs_snapshot
        batch = batch_df.where(
            F.col(text_col).isNotNull() & (F.length(text_col) >= 0)
        )
        # ONE signature pass per trigger (r11, VERDICT item 1): the
        # micro-batch's (doc_id, band, bkey) bucket table — computed
        # with the snapshot's own banding params and materialized once
        # — feeds BOTH the within-batch self-mine and the snapshot
        # probe. Before this the batch was shingled + signed twice per
        # trigger (once inside each miner), and the signature pass is
        # the dominant per-batch compute.
        params = _read_sidecar(spark, _params_path(snapshot_path))
        batch_buckets = _dedup.band_buckets_rowwise(
            batch,
            int(params["n_hashes"]),
            int(params["rows_per_band"]),
            shingle_n=int(params["shingle_n"]),
            text_col=text_col,
            id_col=id_col,
            hash_fn=params["hash_fn"],
        ).localCheckpoint(eager=True)
        if within_batch:
            # mine the batch against ITSELF with the snapshot's own
            # banding params (identical LSH sensitivity); of each
            # flagged pair keep the smaller id — deterministic, and a
            # chain a~b~c keeps exactly its minimum
            obs_wb = Observation() if max_bucket is not None else None
            wb = minhash_lsh_pairs(
                batch,
                n_hashes=int(params["n_hashes"]),
                rows_per_band=int(params["rows_per_band"]),
                shingle_n=int(params["shingle_n"]),
                min_jaccard=min_jaccard,
                text_col=text_col,
                id_col=id_col,
                hash_fn=params["hash_fn"],
                max_bucket=max_bucket,
                cap_observation=obs_wb,
                buckets=batch_buckets,
            )
            _warn_cap_drops(obs_wb, "within-batch self-mine", batch_id, max_bucket)
            wb_dups = wb.select(F.col("id_b").alias(id_col)).distinct()
            batch = batch.join(wb_dups, id_col, "left_anti")
            # the probe's bucket rows: the shared table filtered to the
            # self-mine survivors — a semi-join of the (materialized,
            # batch-sized) table, never a re-hash
            probe_buckets = batch_buckets.join(
                batch.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi"
            )
        else:
            probe_buckets = batch_buckets
        obs_new = Observation() if max_bucket is not None else None
        pairs = minhash_lsh_pairs_vs_snapshot(
            spark, corpus, batch, snapshot_path,
            min_jaccard=min_jaccard, text_col=text_col, id_col=id_col,
            max_bucket=max_bucket, new_buckets=probe_buckets,
            cap_observation_new=obs_new, _plan_observer=_plan_observer,
        )
        _warn_cap_drops(obs_new, "snapshot-probe new side", batch_id, max_bucket)
        # replay determinism: ids are unique across the snapshot's
        # history, so a pair against the batch's OWN ids can only be
        # this batch's buckets from a partially-committed earlier
        # attempt — never a legitimate prior doc
        pairs = pairs.join(
            batch.select(F.col(id_col).alias("id_corpus")), "id_corpus", "left_anti"
        )
        dup_ids = pairs.select(F.col("id_new").alias(id_col)).distinct()
        # materialize ONCE: the survivors feed two writes + the scoring
        # sink, and the bucket append writes into the very snapshot the
        # probe plan reads — the checkpoint severs that lineage.
        # (localCheckpoint blocks live on executors: on a cluster with
        # executor churn / dynamic deallocation, configure a reliable
        # checkpoint dir or persist(DISK_ONLY) instead)
        survivors = batch.join(dup_ids, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        canon = survivors.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        if canon.take(1):
            # per-artifact exactly-once, two layers (r11, VERDICT item
            # 3 + r10 ADVICE): the sidecar's committed-batch_id marks
            # are the FAST path (a fully-committed trigger's replay
            # skips the append work entirely) and are scoped to the
            # streaming run id, so a fresh checkpoint's reused batch
            # ids never skip genuinely-new data; whenever the marks do
            # NOT certify a commit, the append itself is made
            # idempotent by CONTENT — each artifact's rows are
            # anti-joined against what that artifact already holds
            # (ids are unique across the snapshot's history), so the
            # crash window between an append committing and the
            # sidecar write closes: the replay re-appends only the
            # rows that are actually missing, including completing a
            # partially-committed earlier attempt.
            run_id = _streaming_run_id(spark)
            committed = _read_ingest_committed(spark, snapshot_path, run_id)
            # the survivors' bucket rows come from the trigger's shared
            # signature table (semi-join, not a third re-hash)
            surv_buckets = batch_buckets.join(
                canon.select("doc_id"), "doc_id", "left_semi"
            )
            if committed["buckets"] < batch_id:
                append_corpus_buckets(
                    canon, snapshot_path, buckets=surv_buckets, skip_existing=True
                )
                committed["buckets"] = batch_id
                _write_ingest_committed(spark, snapshot_path, committed, run_id)
            if committed["text"] < batch_id:
                # same content filter for the text table: probe which
                # survivor ids already landed (broadcast semi-join —
                # the corpus side scans only its doc_id column and
                # never shuffles), append the rest
                present_ids = corpus.join(
                    F.broadcast(canon.select("doc_id")), "doc_id", "left_semi"
                ).select("doc_id")
                canon.join(F.broadcast(present_ids), "doc_id", "left_anti").write.mode(
                    "append"
                ).parquet(corpus_text_path)
                committed["text"] = batch_id
                _write_ingest_committed(spark, snapshot_path, committed, run_id)
        if (
            compact_every_n_batches is not None
            and (batch_id + 1) % compact_every_n_batches == 0
        ):
            compact_corpus_buckets(
                spark, snapshot_path, max_files_per_dir=compact_max_files_per_dir
            )
        out = survivors
        if lm is not None:
            from vicinity_spark.operators.textops import unigram_logprob

            # both scorers emit their id as literal "doc_id" — realias
            # to the caller's id_col before joining back
            scores = unigram_logprob(
                survivors, text_col=text_col, id_col=id_col, lm=lm
            ).select(F.col("doc_id").alias(id_col), "n_tokens", "xent")
            out = survivors.join(scores, id_col, "left")
            if target_lm is not None:
                from vicinity_spark.operators.sampling import dsir_weights_from_lms

                w = dsir_weights_from_lms(
                    survivors, lm, target_lm, text_col=text_col,
                    id_col=id_col, features="unigram", validate=False,
                )
                out = out.join(
                    w.select(F.col("doc_id").alias(id_col), "llr"), id_col, "left"
                )
        sink(out, batch_id)

    return doc_stream.writeStream.foreachBatch(_process).outputMode("append")
