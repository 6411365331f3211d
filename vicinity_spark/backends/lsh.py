"""Random-projection LSH strategy — the Spark-native stand-in for the
reference's hash/tree ANN backends (faiss-lsh faiss.py:91-92, annoy's
random-projection forest annoy.py:21-68; SURVEY.md §2.3 B2/B4).

Design (100 TB posture):
- Hyperplanes are derived from a seed (`np.random.default_rng`), so the
  index is *reproducible from params alone* — nothing binary to persist,
  and inserted rows hash identically forever.
- Build decorates the corpus with one `__buckets: array<bigint>` column
  (L tables): a pure Catalyst expression for the sparse-plane and
  bit-sampling families, else one `session.vector_column` — on the
  driver for a local frame (every insert batch and facade query batch
  stays a LocalRelation), one Arrow UDF otherwise. Inserts and probes
  hash through the same `_buckets`.
- Query is a pure equi-join plan: posexplode corpus buckets ⋈ probe
  buckets on (table, bucket) → distinct candidate pairs → exact distance
  re-rank. No cross product anywhere; the candidate join shuffles only
  bucket-matched rows, which is what makes LSH the scale path.

Metrics: cosine/inner-product use sign-bit hashing (SimHash family);
euclidean/l2sq/manhattan use p-stable floor((a·x+b)/w) hashing combined
polynomially per table; hamming/tanimoto use bit-sampling (each table
hashes n_bits sampled coordinates — the classic Hamming LSH family;
the reference treats these as first-class metrics, usearch.py:27-34).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vicinity_spark.backends.base import IndexStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.functions.metrics import clip_distance
from vicinity_spark.session import vector_column

BUCKETS_COL = "__buckets"
POSTINGS_DIR = "postings.parquet"
_N_PGROUPS = 64  # bounded partition-dir count for the postings layout
#: insert batches between lineage truncations of the side postings
#: branch (r11, VERDICT item 4): each on_insert extends a lazy
#: unionByName chain, so an insert-heavy session between saves would
#: grow plan depth (and re-bucketize work) linearly without a cap
_EXTRA_CHECKPOINT_EVERY = 8
_MOD = (1 << 61) - 1
_PRIME = 1_000_003


def _pgroup_col():
    """Bounded bucket-group partition key for the postings layout:
    deterministic over (table, bucket), so the probe side recomputes it
    and the probe join becomes a dynamic-partition-pruned file scan."""
    return F.pmod(F.xxhash64("table", "bucket"), F.lit(_N_PGROUPS)).cast("int")


def _sparse_pairs(L: int, B: int, dim: int, seed: int):
    """(a, b) coordinate index matrices, shape (L, B), a != b — the
    nonzero coordinates of the sparse ±1 projection planes. Seeded and
    shared with the SQL oracle generator (queries.py), which embeds the
    same indices as literals."""
    rng = np.random.default_rng(seed + 3)
    a = rng.integers(0, dim, size=(L, B))
    step = rng.integers(1, dim, size=(L, B))
    return a, (a + step) % dim


def _planes_np(params: dict, dim: int) -> np.ndarray:
    L, B = params["n_tables"], params["n_bits"]
    if params.get("plane_family") == "sparse":
        # Achlioptas-style sparse random projections (one +1/-1
        # coordinate pair per plane): O(1) work per bit instead of
        # O(dim) — at 100 TB the hashing pass is a real cost, and
        # database-friendly: each bit is a two-coordinate compare,
        # expressible in plain SQL (the ann_recall_summary oracle
        # replicates it bit-exactly in DuckDB)
        a, b = _sparse_pairs(L, B, dim, params["seed"])
        P = np.zeros((L, B, dim))
        li, bi = np.meshgrid(np.arange(L), np.arange(B), indexing="ij")
        P[li, bi, a] = 1.0
        P[li, bi, b] = -1.0
        return P
    rng = np.random.default_rng(params["seed"])
    return rng.standard_normal((L, B, dim))


def _offsets_np(params: dict) -> np.ndarray:
    rng = np.random.default_rng(params["seed"] + 1)
    w = params["bucket_width"]
    return rng.uniform(0.0, w, (params["n_tables"], params["n_bits"]))


def _sampled_coords_np(params: dict, dim: int) -> np.ndarray:
    """(L, B) coordinate indices for bit-sampling (Hamming LSH)."""
    rng = np.random.default_rng(params["seed"] + 2)
    return rng.integers(0, dim, size=(params["n_tables"], params["n_bits"]))


def _bucket_matrix_np(params: dict, X: np.ndarray, metric: Metric) -> np.ndarray:
    """(n, L) int64 bucket ids."""
    L, B = params["n_tables"], params["n_bits"]
    if metric in (Metric.HAMMING, Metric.TANIMOTO):
        # bit-sampling on the RAW (binary-ish) coordinates: two
        # vectors within Hamming radius r collide on a table with
        # prob (1 - r/dim)^B — no centering, no projections
        coords = _sampled_coords_np(params, X.shape[1])
        bits = (X[:, coords] > 0).astype(np.int64)  # n × L × B
        weights = (1 << np.arange(B, dtype=np.int64))[None, None, :]
        return (bits * weights).sum(axis=2)
    planes = _planes_np(params, X.shape[1])
    means = params.get("means")
    if means is not None:
        # mean-centering before sign hashing: without it, corpora
        # that live in one orthant (e.g. all-positive features) hash
        # into a handful of buckets and candidate sets explode
        X = X - np.asarray(means, dtype=np.float64)[None, :]
    proj = np.einsum("nd,lbd->nlb", X, planes)  # n × L × B
    if metric in (Metric.EUCLIDEAN, Metric.L2_SQUARED, Metric.MANHATTAN):
        w = params["bucket_width"]
        h = np.floor((proj + _offsets_np(params)[None, :, :]) / w).astype(np.int64)
        # polynomial combine per table, mod a Mersenne prime
        out = np.zeros((X.shape[0], L), dtype=np.int64)
        for b in range(B):
            out = (out * _PRIME + (h[:, :, b] % _MOD)) % _MOD
        return out
    # sign-bit (SimHash) for cosine / inner-product / everything else
    bits = (proj > 0).astype(np.int64)
    weights = (1 << np.arange(B, dtype=np.int64))[None, None, :]
    return (bits * weights).sum(axis=2)


def _expr_bucket_family(params: dict, metric: Metric) -> "str | None":
    """Which pure-Catalyst bucketize applies, if any.

    "sign-sparse": sparse ±1 planes + sign-bit hashing (cosine/IP/
    default metrics) — each bit is a two-coordinate compare.
    "bit-sample": hamming/tanimoto bit-sampling — each bit is one raw
    coordinate compare. The gaussian-plane and euclidean bucket-width
    families keep the Arrow kernel (dim-wide dots / floor-mod combines
    that don't reduce to a small expression)."""
    if metric in (Metric.HAMMING, Metric.TANIMOTO):
        return "bit-sample"
    if metric in (Metric.EUCLIDEAN, Metric.L2_SQUARED, Metric.MANHATTAN):
        return None
    if params.get("plane_family") == "sparse":
        return "sign-sparse"
    return None


def _bucket_expr(params: dict, dim: int, vec_col, metric: Metric):
    """array<long> per-table buckets as a PURE Catalyst expression —
    the JVM twin of _bucket_matrix_np for the families
    _expr_bucket_family admits. Bit-identical to the Arrow kernel
    (test-pinned): the sparse projection is IEEE double subtraction in
    both engines, and the plane's exact-zero coordinates contribute
    exact zeros to numpy's dot, which never change the sum. Keeping
    the hashing in codegen removes the Python worker from the build
    and probe paths — on streaming serving, probe-worker spin-up was
    a measured part of the per-micro-batch fixed cost."""
    L, B = params["n_tables"], params["n_bits"]
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    family = _expr_bucket_family(params, metric)

    def pos(x):
        # numpy semantics: NaN compares FALSE against 0 — Spark's
        # NaN > 0.0 is TRUE (NaN sorts greatest), which would flip
        # bits for corrupt coordinates vs the Arrow kernel
        return (x > 0.0) & ~F.isnan(x)

    # the Arrow kernel projects via a dense dot, where 0·NaN = NaN and
    # 0·±Inf = NaN — ONE NaN *or Inf* coordinate poisons every plane's
    # projection, zeroing the whole row's sign buckets. Replicate that
    # row-level semantic for the sparse family (bit-sampling reads raw
    # coordinates, so only the sampled coordinate matters there —
    # pos() covers it).
    nan_row = F.exists(
        F.slice(v, 1, int(dim)),
        lambda x: F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )

    if family == "bit-sample":
        coords = _sampled_coords_np(params, dim)
        bit = lambda t, j: pos(F.element_at(v, int(coords[t, j]) + 1).cast("double"))  # noqa: E731
    elif family == "sign-sparse":
        a, b = _sparse_pairs(L, B, dim, params["seed"])
        means = params.get("means") or [0.0] * dim

        def bit(t, j):
            ai, bi = int(a[t, j]), int(b[t, j])
            proj = (
                F.element_at(v, ai + 1).cast("double") - F.lit(float(means[ai]))
            ) - (F.element_at(v, bi + 1).cast("double") - F.lit(float(means[bi])))
            return pos(proj)
    else:
        raise ValueError("no expression bucketize for this family")
    tables = []
    for t in range(L):
        acc = None
        for j in range(B):
            term = F.when(bit(t, j), F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            acc = term if acc is None else acc + term
        if family == "sign-sparse":
            acc = F.when(nan_row, F.lit(0).cast("long")).otherwise(acc)
        tables.append(acc)
    # fail LOUDLY on short vectors: element_at past the array end is
    # NULL in non-ANSI mode, which would silently zero the affected
    # bits — the Arrow kernel raised on ragged input, so must this path.
    # assert_true yields NULL on success; casting to long and folding
    # it into table 0's accumulator via coalesce (NULL → +0) makes the
    # check a data dependency of the RESULT, so no optimizer rule can
    # prune it as an identical-branch conditional.
    guard = F.assert_true(
        F.size(v) >= F.lit(int(dim)),
        F.lit(f"LSH expr bucketize: vector shorter than dim={dim}"),
    )
    tables[0] = tables[0] + F.coalesce(guard.cast("long"), F.lit(0).cast("long"))
    return F.array(*tables)


def _buckets(df: DataFrame, params: dict, vec_col: str, metric: Metric):
    """``(df', buckets)``: ``vec_col``'s L per-table bucket ids — the
    pure-Catalyst `_bucket_expr` over ``df`` for the families it covers
    (no Python worker), else `_bucket_matrix_np` as the ``__buckets``
    column of ``df'`` = one `session.vector_column` (on the driver for
    a local frame, one Arrow UDF otherwise). The UDF closure holds the
    params dict, never a strategy and its postings."""
    dim = params.get("dim")
    if dim is not None and _expr_bucket_family(params, metric) is not None:
        return df, _bucket_expr(params, int(dim), vec_col, metric)
    fn = lambda X: _bucket_matrix_np(params, X, metric)  # noqa: E731
    return vector_column(df, BUCKETS_COL, "array<bigint>", fn, vec_col), F.col(BUCKETS_COL)


class LSHStrategy(IndexStrategy):
    backend = Backend.LSH
    exact = False

    def __init__(self, n_tables: int = 8, n_bits: int = 14, bucket_width: float = 1.0, seed: int = 42, **params):
        super().__init__(
            n_tables=int(n_tables),
            n_bits=int(n_bits),
            bucket_width=float(bucket_width),
            seed=int(seed),
            **params,
        )
        #: reloaded posting-list layout (save_extra/load_extra); when
        #: present, candidate generation probes it with file-level
        #: dynamic partition pruning instead of exploding the corpus
        self._postings: "DataFrame | None" = None
        #: postings of rows inserted AFTER the persisted layout was
        #: written (on_insert): probed as a separate small branch so
        #: the parquet branch keeps its DPP file pruning — a union
        #: under the join would defeat the PartitionPruning rule
        self._extra_postings: "DataFrame | None" = None
        #: insert batches accumulated in the side branch since the last
        #: layout write / lineage truncation (the _EXTRA_CHECKPOINT_EVERY
        #: cadence counter)
        self._extra_batches = 0

    def _planes(self, dim: int) -> np.ndarray:
        return _planes_np(self.params, dim)

    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        self.params["dim"] = int(dim)
        if self.params.get("means") is None:
            # one mapInPandas partial-agg pass (functions/stats.py): plan
            # width independent of dim; means persist in params so probes
            # and inserted rows hash identically forever
            from vicinity_spark.functions.stats import vector_stats

            self.params["means"] = [float(m) for m in vector_stats(df, "vector").mean]
        out, buckets = _buckets(df, dict(self.params), "vector", metric)
        return out.withColumn(BUCKETS_COL, buckets)

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        """Hash the appended rows and, when a persisted posting layout
        is live, bucket-assign ONLY the inserted rows into a side
        postings frame instead of invalidating the whole layout (r9
        regression `lsh_mutate_200k`: the old postings=None fallback
        re-exploded the full corpus on every post-insert query — at
        100 TB that turns a 1%-batch insert into a full-index rebuild
        per probe). The side frame stays a lazy plan over the (small)
        insert batch; repeated inserts union incrementally, and a
        re-save rewrites the full layout.

        Lifecycle (r11, VERDICT item 4): every _EXTRA_CHECKPOINT_EVERY
        insert batches the accumulated union is localCheckpointed —
        plan depth and per-query re-bucketize work stay bounded for
        insert-heavy sessions (before this, each probe re-hashed EVERY
        insert batch since the last save through a linearly-growing
        union plan). The checkpointed blocks live on executors: on a
        cluster with executor churn / dynamic deallocation, re-save
        the layout more often or configure a reliable checkpoint
        dir."""
        built = self.build(new_df, metric, dim)
        if self._postings is not None:
            posts = built.select(
                "id", F.posexplode(BUCKETS_COL).alias("table", "bucket")
            ).withColumn("__pg", _pgroup_col())
            self._extra_postings = (
                posts
                if self._extra_postings is None
                else self._extra_postings.unionByName(posts)
            )
            self._extra_batches += 1
            if self._extra_batches % _EXTRA_CHECKPOINT_EVERY == 0:
                self._extra_postings = self._extra_postings.localCheckpoint(
                    eager=True
                )
        return built

    # ---- persistence -------------------------------------------------
    def save_extra(
        self, path: str, df: Optional[DataFrame] = None, *, adopt_layout: bool = True
    ) -> None:
        """Write the exploded posting-list layout (id, table, bucket)
        partitioned by the bounded bucket-group key — the inverted-index
        twin of IVF's partitionBy(__cluster) (store.py save): reload
        probing becomes a file prune, not a corpus explode.

        With ``adopt_layout=True`` (default) the written layout
        immediately REPLACES any live postings state (r10 ADVICE): `df`
        covers the full corpus including inserted rows, and the
        overwrite just deleted the part files a stale ``self._postings``
        file index would still reference — the sequence insert →
        save(same folder, overwrite) → query must probe the fresh
        layout, not FileNotFoundException. ``adopt_layout=False`` is for
        saves into a folder that will NOT outlive the store
        (push_to_hub stages into a TemporaryDirectory): adopting that
        layout would point the live store at files deleted moments
        later, so the in-memory state is left untouched instead."""
        import os

        if df is None or BUCKETS_COL not in df.columns:
            return
        posts = df.select(
            "id", F.posexplode(BUCKETS_COL).alias("table", "bucket")
        ).withColumn("__pg", _pgroup_col())
        target = os.path.join(path, POSTINGS_DIR)
        posts.write.mode("overwrite").partitionBy("__pg").parquet(target)
        if adopt_layout:
            self._postings = df.sparkSession.read.parquet(target)
            self._extra_postings = None
            self._extra_batches = 0

    def load_extra(self, path: str, spark) -> None:
        import os

        p = os.path.join(path, POSTINGS_DIR)
        if os.path.isdir(p):
            self._postings = spark.read.parquet(p)
            # a fresh layout supersedes any accumulated insert postings
            self._extra_postings = None
            self._extra_batches = 0

    # ---- query plans ------------------------------------------------
    def _probe_df(
        self, queries: DataFrame, metric: Metric, extra_cols: Sequence[str] = ()
    ) -> DataFrame:
        """(query_id, *extra_cols, table, bucket) probes — hashed with
        the same family as build (`_buckets`: executor-side for a
        query table, on the driver for a local batch). `extra_cols`
        ride along for callers that need the query's payload past the
        probe (the streaming serving path carries ts + qvec so scoring
        never re-joins the query stream). Sparse/bit-sample families
        probe with the pure-Catalyst `_bucket_expr` — no Python worker
        per micro-batch."""
        probes, buckets = _buckets(queries, dict(self.params), "qvec", metric)
        # a column of a new frame explodes _outer (the same rows: a
        # bucket array is never empty, a null one joins nothing): an
        # inner explode of a column makes the optimizer infer a
        # non-empty filter on it and push that below the projection,
        # which computes the column twice
        explode = F.posexplode if probes is queries else F.posexplode_outer
        return probes.select("query_id", *extra_cols, explode(buckets).alias("table", "bucket"))

    def _candidates(self, corpus: DataFrame, queries: DataFrame, metric: Metric) -> DataFrame:
        probe = self._probe_df(queries, metric)
        if self._postings is not None:
            # posting-list path (reloaded stores): the probe equi-join
            # carries the partition key, so the broadcast join prunes
            # whole __pg= parquet directories (dynamic partition
            # pruning) — at 100 TB the probe reads ~probed/64 of the
            # postings files instead of re-exploding the corpus.
            # Postings may be stale w.r.t. delete() (extra ids are
            # dropped by the downstream corpus join); insert() appends
            # the new rows' postings to a side frame (on_insert) so
            # candidates are never lost and the persisted layout keeps
            # pruning. The (true-by-construction) range predicate on
            # the probe side is what lets Catalyst's PartitionPruning
            # rule judge the broadcast side selective and insert the
            # DPP subquery.
            probe = probe.withColumn("__pg", _pgroup_col()).where(
                (F.col("table") >= 0) & (F.col("table") < F.lit(self.params["n_tables"]))
            )
            hits = self._postings.join(
                F.broadcast(probe), ["__pg", "table", "bucket"]
            ).select("query_id", "id")
            if self._extra_postings is not None:
                # separate join per branch (NOT a union under the join):
                # the parquet branch keeps its DPP subquery, and the
                # insert-batch branch is a small in-memory equi-join
                hits = hits.unionByName(
                    self._extra_postings.join(
                        F.broadcast(probe), ["__pg", "table", "bucket"]
                    ).select("query_id", "id")
                )
            return hits.distinct()
        exploded = corpus.select(
            "id", F.posexplode(BUCKETS_COL).alias("table", "bucket")
        )
        return (
            # no broadcast hint: probe is nq×L (scales with the query
            # batch); AQE broadcasts it at runtime when actually small
            exploded.join(probe, ["table", "bucket"])
            .select("query_id", "id")
            .distinct()
        )

    def _scored(
        self, corpus: DataFrame, queries: DataFrame, k: int, metric: Metric
    ) -> DataFrame:
        """Candidates re-scored by the shared vectorized kernel
        (operators/knn.py score_joined): candidate volume is queries ×
        bucket sizes, where per-row JVM evaluation of the dim-wide
        distance expression dominates. Downstream shuffles carry only
        (query_id, id, distance)."""
        from vicinity_spark.operators.knn import score_joined

        cand = self._candidates(corpus, queries, metric)
        joined = cand.join(corpus.select("id", "vector"), "id")
        return score_joined(joined, queries, metric)

    def neardup_pairs(
        self,
        corpus: DataFrame,
        threshold: float,
        metric: Metric,
        max_bucket: "int | None" = None,
    ) -> DataFrame:
        """(id_a, id_b, distance) — near-duplicate pairs of a *built*
        corpus with distance <= threshold, as a bucket self-join.

        The scale path for embedding near-dup: candidates are corpus
        rows sharing an LSH bucket in any table (equi-join on (table,
        bucket) — never an all-pairs theta join), verified by the exact
        vectorized distance. Recall is governed by (n_tables, n_bits);
        candidates that survive verification are exact, so with
        full-recall parameters the output is identical to the all-pairs
        form while the plan stays equi-join shaped.

        Plan shape (r5): both sides of the bucket self-join CARRY their
        vectors, so verification is map-side right after the join and
        the only post-join shuffle is the groupBy dedup of VERIFIED
        pairs (tiny). The previous shape deduped the full candidate
        set first and then re-attached both vectors via two more
        equi-joins — at the 2M tier that second attach shuffled the
        whole candidate volume wide (candidate_rows × vector bytes);
        measured 112s → 69s steady on lsh_neardup_2m, identical row
        set. A pair sharing
        buckets in t tables is now scored t times instead of once —
        map-side arithmetic, strictly cheaper than shuffling the
        un-deduped volume through two joins.

        max_bucket (hot-BUCKET guard, r7): drop (table, bucket) cells
        with more than max_bucket member vectors before the self-join —
        a cluster of d identical vectors shares every table's bucket
        and yields ~d²/2 candidates without the cap (the count pass
        reads only the narrow key columns; see
        operators.dedup.cap_hot_buckets for semantics and logging).
        """
        from vicinity_spark.operators.dedup import cap_hot_buckets
        from vicinity_spark.operators.knn import score_pairs

        exploded = corpus.select("id", "vector", F.posexplode(BUCKETS_COL).alias("table", "bucket"))
        if max_bucket is not None:
            exploded = cap_hot_buckets(
                exploded, ("table", "bucket"), max_bucket, "lsh.neardup_pairs"
            )
        a = exploded.select(
            F.col("id").alias("id_a"), F.col("vector").alias("va"), "table", "bucket"
        )
        b = exploded.select(
            F.col("id").alias("id_b"), F.col("vector").alias("vb"), "table", "bucket"
        )
        joined = a.join(b, ["table", "bucket"]).where(F.col("id_a") < F.col("id_b"))
        hits = score_pairs(joined.select("id_a", "id_b", "va", "vb"), metric).where(
            F.col("distance") <= F.lit(float(threshold))
        )
        return (
            hits.groupBy("id_a", "id_b")
            # the same pair scores bit-identically in every co-bucketed
            # table, so min() is pure dedup, not a value change
            .agg(F.min("distance").alias("distance"))
            .withColumn("distance", clip_distance(F.col("distance")))
        )

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
        """Range search over the bucket-matched candidates, every one
        scored (`_scored` ignores its ``k``); `max_k` does not cap it."""
        from vicinity_spark.operators.knn import RADIUS_COLS, join_payload

        hits = (
            self._scored(corpus, queries, max_k, metric)
            .where(F.col("distance") <= F.lit(float(threshold)))
            .withColumn("distance", clip_distance(F.col("distance")))
        )
        return join_payload(hits, corpus, payload_cols, RADIUS_COLS)
