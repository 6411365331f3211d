"""Graph ANN strategy — the Spark-native answer to the reference's
graph-backed indexes (hnsw.py, pynndescent.py, usearch/voyager: all
k-NN-graph searchers; SURVEY.md §2.3 B3-B7).

A literal HNSW port would be wrong here: its build and search are
sequential pointer-chasing, the opposite of a shuffle-friendly plan.
Instead:

- **Build = NN-descent as an iterative DataFrame program** (Dong et
  al., WWW'11 — the algorithm behind PyNNDescent): start from a seeded
  pseudo-random neighbor ring, then repeat "score neighbors-of-
  neighbors, keep the K best" — each round is explode → equi-join →
  vectorized re-score (score_pairs kernel) → per-node top-K window.
  Every step shuffles at most n×K² candidate edges; nothing is ever
  all-pairs. The finished graph is one `__nbrs: array<bigint>` layout
  column (distance-sorted), so it persists with the corpus parquet and
  reloads from metadata alone.

- **Query = batched beam expansion**: all queries advance together.
  Score the seeded entry points, then repeat "expand the current best
  `beam` rows through their adjacency lists, score the newly touched
  rows" (`expansions` rounds). Each round is a join corpus⋈frontier +
  one Arrow-vectorized scoring pass over |queries|×beam×K candidate
  rows — a bounded, shuffle-bounded plan that serves an arbitrarily
  large query batch in parallel (single-query greedy descent would
  serialize on the driver).

- **Seeding** (`seed_mode`): "ring" starts every query from the same
  `n_entries` fixed entry points (HNSW's single-entry analog);
  "ivf" fits `seed_nlist` k-means centroids at build and seeds each
  query from the member sets of its `seed_probe` nearest centroids —
  round 0 then scores pairs already inside the query's neighborhood,
  so the same recall needs fewer expansion rounds (each intermediate
  round is a materialization barrier). Angular metrics cluster and
  probe on the unit sphere.

Inserted rows (on_insert) get entry-point adjacency and an
`__inserted` flag; the flagged rows join every search frontier so they
stay reachable without rewiring stored rows' neighbor lists. Like any
incremental graph index, heavy insert churn degrades locality —
rebuild periodically (the reference's trainable backends share this
train-once posture, faiss.py:24-32).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vicinity_spark.backends.base import IndexStrategy
from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.functions.metrics import clip_distance
from vicinity_spark.session import local_frame

NBRS_COL = "__nbrs"
INSERTED_COL = "__inserted"


class GraphStrategy(IndexStrategy):
    backend = Backend.GRAPH
    exact = False

    def __init__(
        self,
        k_build: int = 16,
        iters: int = 2,
        beam: int = 64,
        expansions: int = 3,
        n_entries: int = 8,
        seed: int = 42,
        entry_ids=None,
        seed_mode: str = "ring",
        seed_nlist: int = 32,
        seed_probe: int = 2,
        seed_members: int = 4,
        train_sample: int = 20_000,
        seed_centroids=None,
        seed_member_ids=None,
        **params,
    ):
        super().__init__(
            k_build=int(k_build),
            iters=int(iters),
            beam=int(beam),
            expansions=int(expansions),
            n_entries=int(n_entries),
            seed=int(seed),
            entry_ids=entry_ids,
            seed_mode=str(seed_mode),
            seed_nlist=int(seed_nlist),
            seed_probe=int(seed_probe),
            seed_members=int(seed_members),
            train_sample=int(train_sample),
            seed_centroids=seed_centroids,
            seed_member_ids=seed_member_ids,
            **params,
        )

    # ---- build: NN-descent ------------------------------------------
    def _scored_edges(self, cand: DataFrame, vectors: DataFrame, metric: Metric) -> DataFrame:
        from vicinity_spark.operators.knn import score_pairs

        pairs = cand.join(
            vectors.select("id", F.col("vector").alias("va")), "id"
        ).join(
            vectors.select(F.col("id").alias("nbr"), F.col("vector").alias("vb")), "nbr"
        )
        return score_pairs(pairs, metric, a_col="id", b_col="nbr")

    @staticmethod
    def _dense_rank_map(df: DataFrame) -> DataFrame:
        """(id, __rank) with __rank dense in 0..n-1, for ARBITRARY ids.

        Scale-safe: per-partition row_number + broadcast cumulative
        partition offsets — the driver collects one row per partition,
        never per data row (no global single-partition sort). The
        numbered frame is localCheckpoint'ed so the partition ids seen
        by the offsets job and the downstream join are the same
        materialization.
        """
        part = df.select("id").withColumn("__part", F.spark_partition_id())
        w = Window.partitionBy("__part").orderBy("id")
        numbered = part.withColumn("__pr", F.row_number().over(w)).localCheckpoint(eager=True)
        counts = numbered.groupBy("__part").agg(F.count("*").alias("__cnt")).collect()
        counts = sorted(counts, key=lambda r: r["__part"])
        sizes = np.array([int(r["__cnt"]) for r in counts], dtype=np.int64)
        offsets = local_frame(
            df.sparkSession,
            {
                "__part": [int(r["__part"]) for r in counts],
                "__base": np.cumsum(sizes) - sizes,
            },
            "__part int, __base bigint",
        )
        return numbered.join(F.broadcast(offsets), "__part").select(
            "id", (F.col("__pr") - 1 + F.col("__base")).alias("__rank")
        )

    def build(self, df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        self.params["dim"] = int(dim)
        K = self.params["k_build"]
        n = df.count()
        vectors = df.select("id", "vector")
        rng = np.random.default_rng(self.params["seed"])
        k0 = min(K, max(n - 1, 1))
        offsets = (rng.choice(max(n - 1, 1), size=k0, replace=False) + 1).tolist()
        # seeded pseudo-random ring in DENSE-RANK space (ids may be
        # arbitrary/non-contiguous — e.g. monotonically_increasing_id):
        # nbr of the node ranked r is the node ranked (r + off_j) mod n.
        # One bounded equi-join (n×k0 edges) translates ranks back to
        # real ids; ring targets therefore always exist.
        rank_map = self._dense_rank_map(df)
        edges = (
            rank_map.select(
                "id",
                F.explode(F.array(*[F.lit(int(o)) for o in offsets])).alias("__off"),
                "__rank",
            )
            .select("id", F.pmod(F.col("__rank") + F.col("__off"), F.lit(int(n))).alias("__nr"))
            .join(
                rank_map.select(F.col("__rank").alias("__nr"), F.col("id").alias("nbr")),
                "__nr",
            )
            .select("id", "nbr")
        )
        scored = self._scored_edges(edges, vectors, metric)
        w = Window.partitionBy("id").orderBy(F.col("distance").asc_nulls_last(), F.col("nbr"))
        for _ in range(self.params["iters"]):
            top = (
                scored.withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") <= K)
                .select("id", "nbr")
                .localCheckpoint(eager=True)  # bound the iterative lineage
            )
            rev = top.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"))
            two_hop = (
                top.alias("e1")
                .join(rev.alias("e2"), F.col("e1.nbr") == F.col("e2.id"))
                .select(F.col("e1.id").alias("id"), F.col("e2.nbr").alias("nbr"))
            )
            cand = (
                top.unionByName(rev)
                .unionByName(two_hop)
                .where(F.col("id") != F.col("nbr"))
                .distinct()
            )
            scored = self._scored_edges(cand, vectors, metric)
        final = scored.withColumn("__r", F.row_number().over(w)).where(F.col("__r") <= K)
        nbrs = final.groupBy("id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("distance", "nbr"))),
                lambda s: s["nbr"],
            ).alias(NBRS_COL)
        )
        if self.params.get("entry_ids") is None:
            m = self.params["n_entries"]
            self.params["entry_ids"] = [
                int(r["id"]) for r in df.select("id").orderBy("id").limit(m).collect()
            ]
        if self.params.get("seed_mode") == "ivf" and self.params.get("seed_centroids") is None:
            self._fit_seed_clusters(vectors, metric)
        return (
            df.join(nbrs, "id", "left")
            .withColumn(NBRS_COL, F.coalesce(F.col(NBRS_COL), F.array().cast("array<bigint>")))
            .withColumn(INSERTED_COL, F.lit(False))
        )

    # ---- IVF-centroid seeding (seed_mode="ivf") ---------------------
    # The ring entry points seed EVERY query with the same n_entries
    # ids, so round 0 scores nq×m mostly-far pairs and beam search pays
    # expansion rounds just to walk into the query's neighborhood.
    # Per-query centroid seeding starts the beam inside it instead:
    # fit seed_nlist k-means centroids at build (sampled, untimed),
    # keep the seed_members corpus rows nearest each centroid, and at
    # query time probe each query's seed_probe nearest centroids
    # (Arrow-vectorized, centroid matrix in the closure — same pattern
    # as ivf.py _probe_df) and seed from those centroids' member sets.
    # Round-0 volume stays nq×(seed_probe·seed_members) but the pairs
    # are CLOSE, so the same recall needs fewer expansion rounds —
    # and each intermediate round is a materialization barrier.
    @staticmethod
    def _seed_space(X: np.ndarray, angular: bool) -> np.ndarray:
        """Angular metrics cluster/probe on the unit sphere — L2 on raw
        vectors disagrees with cosine neighborhoods whenever norms vary,
        which makes raw-space centroid seeds land far from the query's
        cosine neighborhood."""
        if not angular:
            return X
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        return X / nrm

    def _fit_seed_clusters(self, vectors: DataFrame, metric: Metric) -> None:
        from vicinity_spark.backends.pq import _kmeans_np, _train_sample

        angular = metric == Metric.COSINE
        self.params["seed_angular"] = bool(angular)
        sample = _train_sample(
            vectors, ["vector"], self.params["train_sample"], self.params["seed"]
        )
        S = np.vstack(sample["vector"].to_numpy()).astype(np.float64)
        from vicinity_spark.operators.grid import nearest_centroids

        C = _kmeans_np(self._seed_space(S, angular), self.params["seed_nlist"], self.params["seed"])
        nlist = len(C)
        space = self._seed_space
        Csq = (C * C).sum(axis=1)

        @F.pandas_udf("__scl int, __sd double")
        def assign(v: pd.Series) -> pd.DataFrame:
            # BLAS argmin (grid.py:35) — never the nq×k×dim broadcasting
            # form; n=1 distances are exact (the member cut ranks on them)
            Q = space(np.vstack(v.to_numpy()).astype(np.float64), angular)
            sel, dist = nearest_centroids(Q, C, n=1, Csq=Csq)
            return pd.DataFrame(
                {"__scl": sel[:, 0].astype(np.int32), "__sd": dist[:, 0]}
            )

        a = vectors.select("id", assign(F.col("vector")).alias("s")).select(
            "id", "s.__scl", "s.__sd"
        )
        w = Window.partitionBy("__scl").orderBy(F.col("__sd"), F.col("id"))
        # nlist × seed_members rows — a bounded structure, like entry_ids
        members = (
            a.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= self.params["seed_members"])
            .select("__scl", "id")
            .collect()
        )
        by_cl: "list[list[int]]" = [[] for _ in range(nlist)]
        for r in members:
            by_cl[int(r["__scl"])].append(int(r["id"]))
        self.params["seed_centroids"] = [list(map(float, c)) for c in C]
        self.params["seed_member_ids"] = by_cl

    def _seed_frontier(self, queries: DataFrame) -> DataFrame:
        """(query_id, id) per-query seeds from the probed centroids'
        member sets. The probe is executor-side (no driver collect);
        the member table is nlist×seed_members rows — broadcast."""
        from pyspark.sql.types import ArrayType, IntegerType

        from vicinity_spark.operators.grid import nearest_centroids

        C = np.asarray(self.params["seed_centroids"], dtype=np.float64)
        p = min(self.params["seed_probe"], len(C))
        angular = bool(self.params.get("seed_angular"))
        space = self._seed_space
        Csq = (C * C).sum(axis=1)

        @F.pandas_udf(ArrayType(IntegerType()))
        def probe(v: pd.Series) -> pd.Series:
            # BLAS top-p (grid.py:35); the probed set feeds a distinct
            # member join, so the n>1 set contract is exactly what the
            # consumer needs
            Q = space(np.vstack(v.to_numpy()).astype(np.float64), angular)
            sel, _ = nearest_centroids(Q, C, n=p, Csq=Csq)
            return pd.Series(list(sel.astype(np.int32)))

        probed = queries.select("query_id", F.explode(probe(F.col("qvec"))).alias("__scl"))
        members = self.params["seed_member_ids"]
        mdf = local_frame(
            queries.sparkSession,
            {
                "__scl": [cl for cl, ids in enumerate(members) for _ in ids],
                "id": [int(i) for ids in members for i in ids],
            },
            "__scl int, id bigint",
        )
        return probed.join(F.broadcast(mdf), "__scl").select("query_id", "id").distinct()

    def on_insert(self, new_df: DataFrame, metric: Metric, dim: int) -> DataFrame:
        entries = F.array(*[F.lit(int(i)) for i in self.params["entry_ids"]])
        return new_df.withColumn(NBRS_COL, entries.cast("array<bigint>")).withColumn(
            INSERTED_COL, F.lit(True)
        )

    # ---- query: batched beam expansion ------------------------------
    def _searched(
        self, corpus: DataFrame, queries: DataFrame, metric: Metric, k: int,
        collect_visited: bool = False,
    ) -> "DataFrame | tuple[DataFrame, DataFrame]":
        """(query_id, id, distance) — the per-query top-max(beam, k)
        pool after beam search (sufficient for any final top-k ≤ k:
        a row outside the pool was beaten by ≥ max(beam, k) rows the
        round it was scored, and the pool only improves); with
        ``collect_visited=True`` the return is the ``(pool, visited)``
        tuple described below instead of the single pool frame.

        ``collect_visited=True`` (r8, the ann_recall_summary graph
        branch) returns ``(pool, visited)`` where visited is every
        (query_id, id) pair the search scored — the candidate-set
        accounting the recall summary reports. It forces the final
        round to materialize its delta (normally fused into the
        caller's single job), so it is a diagnostics surface, not the
        serving path.

        Round structure keeps three disjoint sets instead of one
        monotone visited blob:
        - ``pool``   — top-B scored rows per query (B = max(beam, k)),
          re-trimmed each round; the ONLY rows carried forward for
          ranking, so the per-round window never re-sorts the whole
          visit history.
        - ``visited``— (query_id, id) pairs ever scored (2 narrow
          columns, union of checkpointed deltas) — anti-join target
          that guarantees a node is scored at most once per query.
        - ``expanded`` — beam members whose adjacency was already
          exploded. A converged beam re-expands nothing (its members
          are all in ``expanded``), so its candidate volume is zero —
          per-query early exit for free, global early exit when no
          query produces new rows.
        """
        from vicinity_spark.operators.knn import score_joined

        spark = corpus.sparkSession
        qids = queries.select("query_id")
        # project once per job; both feed every expansion round
        vec = corpus.select("id", "vector")
        nbrs = corpus.select("id", NBRS_COL)
        B = max(self.params["beam"], int(k))
        rounds = self.params["expansions"]
        if self.params.get("seed_mode") == "ivf" and self.params.get("seed_centroids"):
            inserted = corpus.where(F.col(INSERTED_COL)).select("id").distinct()
            frontier = self._seed_frontier(queries).unionByName(
                qids.crossJoin(F.broadcast(inserted))
            )
        else:
            entry_df = local_frame(
                spark, {"id": [int(i) for i in self.params["entry_ids"]]}, "id bigint"
            )
            seeds = entry_df.unionByName(corpus.where(F.col(INSERTED_COL)).select("id"))
            frontier = qids.crossJoin(F.broadcast(seeds.distinct()))
        w = Window.partitionBy("query_id").orderBy(F.col("distance").asc_nulls_last(), F.col("id"))
        scored = score_joined(frontier.join(vec, "id"), queries, metric)
        if rounds >= 2:
            # the seed scores feed every later round's visited/pool —
            # materialize once. With ≤1 round the whole search is a
            # single fused job and re-deriving the (tiny) seed scoring
            # inside it is cheaper than a separate checkpoint job.
            scored = scored.localCheckpoint(eager=True)
        pool = scored.withColumn("__r", F.row_number().over(w)).where(F.col("__r") <= B)
        visited = scored.select("query_id", "id")
        expanded = None
        unchk = 0  # rounds since the pool lineage was last truncated
        for rnd in range(rounds):
            beam = pool.where(F.col("__r") <= self.params["beam"]).select("query_id", "id")
            to_expand = (
                beam
                if expanded is None
                else beam.join(expanded, ["query_id", "id"], "left_anti")
            )
            nxt = (
                to_expand.join(nbrs, "id")
                .select("query_id", F.explode(NBRS_COL).alias("id"))
                .distinct()
                .join(visited, ["query_id", "id"], "left_anti")
            )
            newly = score_joined(nxt.join(vec, "id"), queries, metric)
            last = rnd == rounds - 1 and not collect_visited
            if not last:
                # intermediate rounds materialize: the scored delta
                # feeds three consumers (early-exit probe, visited,
                # pool) and bounds the iterative lineage
                newly = newly.localCheckpoint(eager=True)
                # global early-exit: every beam converged
                if not newly.take(1):
                    break
                visited = visited.unionByName(newly.select("query_id", "id"))
                expanded = (
                    to_expand if expanded is None else expanded.unionByName(to_expand)
                )
            pool = (
                pool.select("query_id", "id", "distance")
                .unionByName(newly)
                .withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") <= B)
            )
            unchk += 1
            if not last and unchk >= 2:
                # truncate pool lineage every OTHER intermediate round:
                # between checkpoints the union chain is at most two
                # windows deep over per-round checkpointed deltas, so
                # re-deriving it costs one extra window shuffle —
                # cheaper than a materialization job per round
                pool = pool.localCheckpoint(eager=True)
                unchk = 0
            # the FINAL round runs lazily end-to-end: its delta feeds
            # only the output pool, so visited/expanded bookkeeping,
            # the convergence probe, and both checkpoint jobs are dead
            # work there — the caller's one action executes
            # expand→score→merge as a single fused job
        if collect_visited:
            return pool.select("query_id", "id", "distance"), visited
        return pool.select("query_id", "id", "distance")

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
        visited = self._searched(corpus, queries, metric, k)
        w = Window.partitionBy("query_id").orderBy(F.col("distance").asc_nulls_last(), F.col("id"))
        out = (
            visited.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .withColumn("distance", clip_distance(F.col("distance")))
        )
        if payload_cols:
            # no broadcast hint: out is nq×k (scales with the query batch);
            # AQE broadcasts it at runtime when it is actually small
            out = out.join(corpus.select("id", *payload_cols), "id", "left")
        return out.select("query_id", "id", "distance", "rank", *(payload_cols or []))

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
        """ANN threshold: top-max_k pool then exact `<=` filter (the
        reference's graph backends cap the same way, hnsw.py:107-114)."""
        res = self.knn(corpus, queries, k=max_k, metric=metric, payload_cols=payload_cols)
        return res.where(F.col("distance") <= F.lit(float(threshold))).drop("rank")
