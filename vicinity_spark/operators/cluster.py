"""Embedding-cluster curation: distributed k-means centroids,
closure-kernel cluster assignment, cluster-scoped semantic dedup
(SemDeDup, Abbas et al. 2023, arXiv:2303.09540), and cluster-balanced
sampling.

These are the cluster-side curation steps of a large-scale training
pipeline: partition the corpus by embedding similarity, drop semantic
duplicates WITHIN each cluster, and draw diversity-preserving subsets
per cluster. The engine already has the exact all-pairs semantic dedup
(`queries.semantic_dedup`: block-grid pair sweep → connected
components) — that form is O(n²) over the whole corpus and is the
right tool up to a few million rows. SemDeDup is its scale form: the
pair search is CONFINED to clusters, so the quadratic term is
Σ cluster_size² ≈ n²/k instead of n², at the cost of missing
cross-cluster duplicate pairs (the documented SemDeDup trade; pick k
so n/k stays bounded — the paper uses k in the tens of thousands at
LAION scale, keeping clusters ~10⁴ rows).

Scale shape:
- assignment is a NARROW projection (Arrow-vectorized argmin against
  the k×dim centroid matrix riding in the closure — the one
  `grid.centroid_assign_udf` the IVF backend also builds with, so
  labels share its tie rule); no shuffle, no join, replayable by an
  `ORDER BY dist, cid` oracle;
- the pair mine is ONE equi-join shuffle keyed on cluster id — pair
  work per task is bounded by that cluster's size, never all-pairs;
  a single runaway cluster is the failure mode (quadratic in ITS
  size): that is a k-sizing decision, not a plan property, so size k
  to the corpus as the paper does;
- component closure and the final label join reuse
  `dedup.connected_components` (|edges|+|ids|-bounded iterations);
- `cluster_balanced_sample` keeps a deterministic per-cluster cut by
  the engine's portable md5 key (operators/sampling.py), so the kept
  set is engine-replayable and stable under retries.

No reference analog: vicinity stops at pair search
(vicinity/vicinity.py:118-141); cluster curation is pipeline-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vicinity_spark.operators.grid import centroid_assign_udf
from vicinity_spark.session import local_frame

#: rows of the per-cluster distance matrix computed per kernel slice —
#: bounds kernel memory at _PCHUNK × cluster_size doubles (the grid
#: module's _CCHUNK discipline, operators/grid.py)
_PCHUNK = 4_096

#: cluster_curate join-back: broadcast the kept (id, cluster_id) set
#: only when its ALGEBRAIC bound k × n_per_cluster fits this many
#: rows (~tens of MB hashed); above it, a plain equi-join — the bound
#: is known before any job runs, so the choice costs nothing
_CURATE_BROADCAST_ROWS = 1_000_000


def kmeans_centroids(
    df: DataFrame,
    k: int,
    *,
    vector_col: str = "vector",
    seed: int = 42,
    max_iter: int = 20,
) -> "list[list[float]]":
    """k×dim centroid list from Spark ML's distributed KMeans (the
    same fit the IVF backend uses, backends/ivf.py:67). Returned as a
    plain Python list — k×dim is closure-small at any corpus size, so
    downstream assignment never shuffles. Deterministic given (data,
    k, seed, max_iter). For an externally-replayable pipeline (the
    oracle pattern), pass PRESET centroids to the consumers instead —
    k-means itself is iterative and not SQL-replayable."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    feats = df.select(
        array_to_vector(F.col(vector_col).cast("array<double>")).alias("__features")
    )
    km = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="__features")
    model = km.fit(feats)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _unpack_vecs(cell) -> "np.ndarray":
    """Folded packed-vector cell (sequence of float64-byte rows) →
    (m, dim) float64 matrix via ONE frombuffer over the concatenated
    buffer. Replaces the per-member ndarray conversion loop the array
    fold forced on the kernels (~cluster_size small-object
    conversions per cluster — measured r15: the conversion, not the
    BLAS, dominated the 200k-tier kernel at ~21 s vs ~7 s packed)."""
    return np.frombuffer(b"".join(cell), dtype=np.float64).reshape(
        len(cell), -1
    )


def _pack_udf():
    """vector → float64 bytes, for paths whose cluster labels are
    already computed (``batch_cluster_col``/``snapshot_cluster_col``)
    and therefore have no assignment pass to amortize the pack into.
    Same packed layout as `centroid_assign_udf(..., with_packed=True)`."""
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def pack(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        Q = np.vstack(v.to_numpy()).astype(np.float64)
        return pd.Series([Q[i].tobytes() for i in range(len(Q))])

    return pack


def assign_clusters(
    df: DataFrame,
    centroids,
    *,
    vector_col: str = "vector",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """`df` + an integer ``cluster_col`` = index of the nearest
    centroid (squared-euclidean argmin, ties to the lower index).
    Narrow projection — the k×dim matrix rides in the closure; no
    shuffle, no join, so this composes into any scan."""
    return df.withColumn(
        cluster_col, centroid_assign_udf(centroids)(F.col(vector_col))
    )


def _packed_rows(df, centroids, id_col, vector_col, cluster_col=None):
    """(id, cluster_id, __packed) for a pair-kernel fold: the vector
    as float64 bytes, packed inside the assignment's own Arrow pass —
    or, when ``cluster_col`` names precomputed labels, in a dedicated
    one-column pack pass (nothing to amortize it into)."""
    if cluster_col is not None:
        return df.select(
            F.col(id_col).alias("id"),
            _pack_udf()(F.col(vector_col)).alias("__packed"),
            F.col(cluster_col).cast("int").alias("cluster_id"),
        )
    assign = centroid_assign_udf(centroids, with_packed=True)
    return df.select(
        F.col(id_col).alias("id"), assign(F.col(vector_col)).alias("__a")
    ).select(
        "id",
        F.col("__a.cluster_id").alias("cluster_id"),
        F.col("__a.packed").alias("__packed"),
    )


def _oversize_clusters(asg, max_cluster_rows, *, raise_for=None):
    """The enforced k-sizing guard: one map-side-combined groupBy over
    the assigned rows (k rows to the driver) BEFORE any pair work.
    With ``raise_for=(caller, advice)`` it raises naming the five
    largest clusters over ``max_cluster_rows``; without, it returns
    every flagged (cluster_id, n_rows) row — driver-bounded by
    n / max_cluster_rows rows — for the chunked fold."""
    over_q = (
        asg.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") > max_cluster_rows)
    )
    if raise_for is None:
        return over_q.collect()
    over = over_q.orderBy(F.col("n_rows").desc()).limit(5).collect()
    if over:
        caller, advice = raise_for
        worst = ", ".join(
            f"cluster {r['cluster_id']}: {r['n_rows']} rows" for r in over
        )
        raise ValueError(
            f"{caller}: cluster(s) exceed max_cluster_rows="
            f"{max_cluster_rows} ({worst}) — {advice}"
        )
    return []


def _pair_kernel(metric: str, max_distance: float):
    """mapInPandas kernel over cluster-folded rows (__ids, __vecs =
    packed float64-byte rows): per row, a distance matrix in
    _PCHUNK-row slices, emitting only the (id_a, id_b) edges with
    distance ≤ the threshold. A MATRIX kernel, not a per-pair row
    expansion — at cluster sizes in the thousands a join that expands
    both vectors per candidate pair moves cluster_size² × dim doubles
    through the shuffle (measured: the 200k/64-cluster bench tier ran
    >10 min join-expanded vs seconds here); one BLAS product per slice
    moves nothing. Zero vectors under cosine produce NaN distances
    (excluded at any threshold) — the same contract as the Catalyst
    distance expression.

    The folded row's columns pick the matrix shape and keep rule;
    every unordered pair is emitted once:

    | row carries                  | drive rows | columns    | keep           |
    |------------------------------|------------|------------|----------------|
    | __ids, __vecs only           | all        | all        | i < j          |
    | + __sides (1 new, 0 snapshot)| new rows   | all        | new-new i < j, |
    |                              |            |            | new-snap i != j|
    | + __blks, __ti == __tj       | all        | all        | i < j          |
    | + __blks, __ti != __tj       | block __ti | block __tj | all            |

    The incremental (__sides) shape costs new×(ns+nb) FLOPs, never the
    snapshot's ns² (snapshot-snapshot pairs were settled when the
    snapshot was built). The block shape is the over-budget chunked
    fold: blocks are id-ordered, so every cross pair lives in exactly
    one off-diagonal task and peak memory is two blocks plus a
    _PCHUNK × block_size slice."""
    if metric not in ("cosine", "euclidean", "l2sq"):
        raise ValueError(
            f"semdedup supports cosine/euclidean/l2sq, got {metric!r}"
        )

    def fn(it):
        for pdf in it:
            for i in range(len(pdf)):
                ids = np.asarray(pdf["__ids"].iloc[i], dtype=np.int64)
                m = len(ids)
                if m < 2:
                    continue
                # collect_list order is nondeterministic; id-sort so
                # slice boundaries (and thus float paths) are stable
                order = np.argsort(ids, kind="stable")
                ids = ids[order]
                # drive/cols None = every row, as plain s:e slices
                drive = cols = new = None
                if "__sides" in pdf.columns:
                    new = np.asarray(pdf["__sides"].iloc[i])[order] == 1
                    drive = np.nonzero(new)[0]
                elif "__blks" in pdf.columns:
                    ti, tj = int(pdf["__ti"].iloc[i]), int(pdf["__tj"].iloc[i])
                    if ti != tj:
                        blks = np.asarray(pdf["__blks"].iloc[i])[order]
                        drive = np.nonzero(blks == ti)[0]
                        cols = np.nonzero(blks == tj)[0]
                n_drive = m if drive is None else len(drive)
                if not n_drive or (cols is not None and not len(cols)):
                    continue
                V = _unpack_vecs(pdf["__vecs"].iloc[i])[order]
                if metric == "cosine":
                    nrm = np.linalg.norm(V, axis=1)
                    nrm[nrm == 0.0] = np.nan  # zero vector → NaN row
                    W = V / nrm[:, None]
                else:
                    W = V
                    sq = (V * V).sum(axis=1)
                    sqc = sq if cols is None else sq[cols]
                Wc = W if cols is None else W[cols]
                out_a, out_b = [], []
                for s in range(0, n_drive, _PCHUNK):
                    if drive is None:
                        rows = slice(s, s + _PCHUNK)
                    else:
                        rows = drive[s : s + _PCHUNK]
                    if metric == "cosine":
                        D = 1.0 - W[rows] @ Wc.T
                    else:
                        D = sq[rows, None] + sqc[None, :] - 2.0 * (W[rows] @ Wc.T)
                        if metric == "euclidean":
                            D = np.sqrt(np.maximum(D, 0.0))
                    with np.errstate(invalid="ignore"):
                        ii, jj = np.nonzero(D <= max_distance)
                    gi = ii + s if drive is None else rows[ii]
                    gj = jj if cols is None else cols[jj]
                    if new is not None:  # new-new once; new-snapshot always
                        keep = np.where(new[gj], gi < gj, gi != gj)
                        gi, gj = gi[keep], gj[keep]
                    elif cols is None:
                        keep = gi < gj  # upper triangle: each pair once
                        gi, gj = gi[keep], gj[keep]
                    if len(gi):
                        out_a.append(ids[gi])
                        out_b.append(ids[gj])
                if out_a:
                    yield pd.DataFrame(
                        {
                            "id_a": np.concatenate(out_a),
                            "id_b": np.concatenate(out_b),
                        }
                    )

    return fn


def semdedup(
    df: DataFrame,
    centroids,
    max_distance: float,
    *,
    metric: str = "cosine",
    vector_col: str = "vector",
    id_col: str = "id",
    keep: str = "min_id",
    max_cluster_rows: "int | None" = None,
    on_oversize: str = "raise",
) -> DataFrame:
    """SemDeDup: (id, cluster_id, rep_id, is_canonical) — semantic
    dedup with the pair search confined to embedding clusters. Rows
    whose ``metric`` distance is ≤ ``max_distance`` AND that share a
    cluster are duplicate-pair edges; connected components pick the
    minimum id as each group's representative; a pipeline keeps
    ``is_canonical`` rows. Cross-cluster near-dups are NOT flagged —
    that is the SemDeDup trade that turns the all-pairs O(n²) sweep
    (`neardup_join`) into Σ cluster_size² work; size k so clusters
    stay bounded (see module docstring).

    Plan: assignment (narrow) → ONE groupBy(cluster) shuffle folding
    each cluster into a block row → the chunked matrix kernel emits
    flagged edges (Σ cluster_size² FLOPs but only |edges| rows) →
    `connected_components` closure. Distance semantics match the
    engine's near-dup family (cosine DISTANCE ≤ t, i.e. similarity ≥
    1−t).

    ``keep`` picks each duplicate group's canonical row:
    ``"min_id"`` (default) matches `connected_components`' rep rule —
    so at equal clustering this refines to exactly `semantic_dedup`'s
    answer restricted to within-cluster edges, which is what the
    oracle replays; ``"farthest"`` is the paper's rule — keep the
    member with the LARGEST squared-l2 distance to its cluster
    centroid (Abbas et al. §3: low-similarity-to-centroid examples
    preserve diversity), ties to the lower id. The re-pick is one
    window per duplicate group (group sizes are edge-bounded), on
    the centroid distance the assignment kernel already computed.

    ``max_cluster_rows`` ENFORCES the k-sizing contract instead of
    just documenting it: the fold materializes one whole cluster per
    block row, so a runaway cluster (a catch-all centroid) OOMs its
    task quadratically in ITS size. When set, a k-row size pass (the
    `cluster_stats` shape — one map-side-combined groupBy, k rows to
    the driver) runs BEFORE any pair work and raises naming the
    offending clusters, so the failure is a one-line re-fit-with-
    larger-k message rather than an executor OOM mid-fold. Costs one
    extra assignment pass over the corpus — opt-in for that reason
    (the dedup family's hot-bucket cap got the same treatment in
    r10).

    ``on_oversize`` picks what happens to the clusters that size pass
    flags: ``"raise"`` (default) keeps the re-fit-or-fail contract;
    ``"chunk"`` degrades gracefully instead — the over-budget
    clusters are split into ``max_cluster_rows``-row blocks by id
    order and mined block-PAIR by block-pair (`_pair_kernel`'s block
    shape), so peak task memory is two blocks, not the cluster,
    while total FLOPs stay the same Σ size² and the emitted edge set
    (hence the labels) is IDENTICAL to the unguarded all-pairs fold.
    The cost of the degradation is shuffle duplication: each over-
    budget row is shipped once per block of its cluster (size/B
    copies) — acceptable for a handful of runaways, which is exactly
    the failure mode; a corpus where MOST clusters chunk needs a
    bigger k, and `cluster_stats` still shows it."""
    if keep not in ("min_id", "farthest"):
        raise ValueError(f"keep must be 'min_id' or 'farthest', got {keep!r}")
    if on_oversize not in ("raise", "chunk"):
        raise ValueError(
            f"on_oversize must be 'raise' or 'chunk', got {on_oversize!r}"
        )
    if on_oversize == "chunk" and max_cluster_rows is None:
        raise ValueError(
            "on_oversize='chunk' needs max_cluster_rows — it is both the "
            "oversize threshold and the block size"
        )
    if max_cluster_rows is not None and max_cluster_rows < 2:
        raise ValueError(
            f"max_cluster_rows must be >= 2, got {max_cluster_rows}"
        )
    base = df.select(
        F.col(id_col).alias("id"), F.col(vector_col).alias("vector")
    )
    # r15 (guide §4.2): ONE packed-assignment pass replaces
    # assign-then-fold-arrays — the Arrow crossing the assignment
    # already pays also emits the row's vector as float64 bytes, so
    # every downstream fold ships a flat binary cell per row and the
    # pair kernel rebuilds each cluster with one frombuffer (values
    # bit-identical: the kernels widened members to float64 before).
    farthest = keep == "farthest"
    assign = centroid_assign_udf(centroids, with_dist=farthest, with_packed=True)
    asg = base.withColumn("__a", assign(F.col("vector"))).select(
        "id",
        F.col("__a.cluster_id").alias("cluster_id"),
        *([F.col("__a.cdist").alias("__cdist")] if farthest else []),
        F.col("__a.packed").alias("__packed"),
    )
    over = []
    if max_cluster_rows is not None:
        # chunk mode mines ALL flagged clusters block-pair-wise, so it
        # needs their sizes; raise mode fails naming the worst
        advice = (
            "the per-cluster fold materializes one whole cluster per task "
            "and pair work is quadratic in ITS size; re-fit with a larger k "
            "(cluster_stats has the size/inertia report, or pass "
            "on_oversize='chunk' to mine them block-pair-wise)"
        )
        over = _oversize_clusters(
            asg,
            max_cluster_rows,
            raise_for=None if on_oversize == "chunk" else ("semdedup", advice),
        )
    asg_ok = asg
    pairs_over = None
    if over:
        from pyspark.sql import Window

        # the chunk branch consumes asg from FOUR subtrees (the ok
        # fold, the block-task explode, the component universe, the
        # final label join) on top of the size pass — checkpoint once
        # so the Arrow assignment kernel runs a single corpus pass
        # instead of re-executing per subtree
        asg = asg.localCheckpoint(eager=True)
        B = int(max_cluster_rows)
        sizes = local_frame(
            df.sparkSession,
            {
                "cluster_id": [int(r["cluster_id"]) for r in over],
                "__m": [-(-int(r["n_rows"]) // B) for r in over],
            },
            "cluster_id int, __m int",
        )
        over_ids = [int(r["cluster_id"]) for r in over]
        if len(over_ids) <= 4096:
            asg_ok = asg.where(~F.col("cluster_id").isin(over_ids))
            asg_ov = asg.where(F.col("cluster_id").isin(over_ids))
        else:
            asg_ok = asg.join(
                F.broadcast(sizes.select("cluster_id")), "cluster_id", "left_anti"
            )
            asg_ov = asg.join(F.broadcast(sizes.select("cluster_id")), "cluster_id")
        # deterministic B-row blocks in id order: block i's ids all
        # precede block j's (i < j), so the task space is the upper
        # block triangle and every unordered pair lives in exactly one
        # task — (blk_a, blk_b) with blk_a <= blk_b
        wblk = Window.partitionBy("cluster_id").orderBy("id")
        tasks = (
            asg_ov.select("cluster_id", "id", "__packed")
            .join(F.broadcast(sizes), "cluster_id")
            .withColumn(
                "__blk", ((F.row_number().over(wblk) - 1) / F.lit(B)).cast("int")
            )
            .select(
                "cluster_id",
                "id",
                "__packed",
                "__blk",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.col("__m") - 1),
                        lambda o: F.struct(
                            F.least(F.col("__blk"), o).alias("ti"),
                            F.greatest(F.col("__blk"), o).alias("tj"),
                        ),
                    )
                ).alias("__t"),
            )
            .select(
                "cluster_id",
                F.col("__t.ti").alias("__ti"),
                F.col("__t.tj").alias("__tj"),
                "id",
                "__packed",
                "__blk",
            )
        )
        folded_ov = tasks.groupBy("cluster_id", "__ti", "__tj").agg(
            F.collect_list("id").alias("__ids"),
            F.collect_list("__packed").alias("__vecs"),
            F.collect_list("__blk").alias("__blks"),
        )
        pairs_over = folded_ov.mapInPandas(
            _pair_kernel(metric, float(max_distance)),
            "id_a long, id_b long",
        )
    folded = asg_ok.groupBy("cluster_id").agg(
        F.collect_list("id").alias("__ids"),
        F.collect_list("__packed").alias("__vecs"),
    )
    pairs = folded.mapInPandas(
        _pair_kernel(metric, float(max_distance)),
        "id_a long, id_b long",
    )
    if pairs_over is not None:
        pairs = pairs.unionByName(pairs_over)
    from vicinity_spark.operators.dedup import connected_components

    comp = connected_components(asg.select("id"), pairs)
    labeled = asg.join(comp, "id")
    if farthest:
        from pyspark.sql import Window

        # re-pick each group's rep: farthest from its centroid, ties
        # to the lower id. One window per duplicate group — group
        # sizes are bounded by the edge graph, never the corpus.
        w = Window.partitionBy("rep").orderBy(
            F.col("__cdist").desc(), F.col("id").asc()
        )
        newrep = (
            labeled.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(F.col("rep"), F.col("id").alias("__newrep"))
        )
        labeled = labeled.join(newrep, "rep").withColumn(
            "rep", F.col("__newrep")
        )
    return labeled.select(
        "id",
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.col("rep").cast("long").alias("rep_id"),
        (F.col("id") == F.col("rep")).alias("is_canonical"),
    )


def semdedup_incremental(
    new_df: DataFrame,
    snapshot: DataFrame,
    centroids,
    max_distance: float,
    *,
    metric: str = "cosine",
    vector_col: str = "vector",
    id_col: str = "id",
    snapshot_cluster_col: "str | None" = None,
    batch_cluster_col: "str | None" = None,
    max_cluster_rows: "int | None" = None,
    prune_snapshot: bool = True,
) -> DataFrame:
    """Incremental SemDeDup — the cluster family's batch-vs-snapshot
    lifecycle step, mirroring the dedup family's
    `minhash_lsh_pairs_incremental` (r7) and the BM25 layout's append
    (r12): label a NEW batch against an existing corpus of canonical
    rows without ever re-mining the corpus against itself.

    Returns (id, cluster_id, rep_id, is_canonical) for the NEW rows
    only. Edges are new-vs-snapshot and new-vs-new pairs within shared
    clusters at ``metric`` distance ≤ ``max_distance``; the component
    closure runs over the new rows plus the touched clusters' snapshot
    rows, and ``rep_id`` is the component minimum id — so with
    time-ordered ids (snapshot older = lower) a new near-copy of a
    snapshot row resolves to the snapshot id and ``is_canonical`` is
    False. Id spaces must be disjoint across the two frames (same
    contract as the dedup snapshot path).

    The incremental trade, documented like minhash-vs-snapshot's: the
    snapshot holds only CANONICAL rows, so a new row that would have
    bridged two already-merged corpus duplicates cannot re-split
    history, and snapshot-snapshot pairs are never re-examined —
    Σ_touched (nb_c × (ns_c + nb_c)) FLOPs, batch-bounded, never the
    corpus's ns².

    Scale shape: the batch assigns narrowly; the snapshot is pruned to
    the BATCH's clusters by a broadcast semi-join BEFORE the fold —
    pass ``snapshot_cluster_col`` naming a precomputed cluster column
    (e.g. a reload of rows written ``partitionBy(cluster_id)``, the
    IVF layout discipline) and that semi-join prunes whole partition
    directories at the file scan, so a trickle batch touching 3 of
    50k clusters reads 3 directories, not the corpus. Without it the
    snapshot is assigned on the fly (one narrow pass over the
    snapshot — correct, but no file pruning). A caller that ALREADY
    restricted the snapshot to the batch's clusters (the streaming
    twin filters the member scan itself) passes
    ``prune_snapshot=False`` and skips this pass's distinct-cluster
    collect + filter entirely. ``batch_cluster_col``
    is the batch-side twin: a caller that already assigned the batch
    (stream_semdedup_ingest checkpoints its labels for the presence
    filter) names that column and the batch skips its re-assignment
    Arrow pass — the labels MUST come from this layout's own
    centroids, same contract as ``snapshot_cluster_col``.
    ``max_cluster_rows`` guards the fold on the UNION sizes (the
    enforced k-sizing contract, as in `semdedup`)."""
    if max_cluster_rows is not None and max_cluster_rows < 2:
        raise ValueError(
            f"max_cluster_rows must be >= 2, got {max_cluster_rows}"
        )
    # r15: both sides carry the vector as packed float64 bytes for the
    # fold (see `_packed_rows`).
    nb = _packed_rows(
        new_df, centroids, id_col, vector_col, batch_cluster_col
    ).withColumn("__side", F.lit(1).cast("tinyint"))
    sb = _packed_rows(snapshot, centroids, id_col, vector_col, snapshot_cluster_col)
    if prune_snapshot:
        # prune the snapshot to the batch's clusters. Up to 4096
        # distinct clusters are inlined as LITERALS (bounded driver
        # collect) so a cluster-partitioned snapshot scan prunes
        # partition directories STATICALLY — measured on a 1M-row
        # layout: the broadcast semi-join alone left the narrow-batch
        # scan reading the full layout (13.6s) where the literal
        # filter reads only the touched directories; above the cap,
        # fall back to the semi-join (the bm25_topk ≤4096-term inline
        # discipline, retrieval.py)
        bcl = nb.select("cluster_id").distinct()
        bclusters = [int(r["cluster_id"]) for r in bcl.limit(4097).collect()]
        if len(bclusters) <= 4096:
            sb = sb.where(F.col("cluster_id").isin(bclusters))
        else:
            sb = sb.join(F.broadcast(bcl), "cluster_id")
    sb = sb.withColumn("__side", F.lit(0).cast("tinyint"))
    un = nb.unionByName(sb.select(*nb.columns))
    if max_cluster_rows is not None:
        _oversize_clusters(
            un,
            max_cluster_rows,
            raise_for=(
                "semdedup_incremental",
                "re-fit with a larger k (cluster_stats has the size/inertia "
                "report)",
            ),
        )
    folded = un.groupBy("cluster_id").agg(
        F.collect_list("id").alias("__ids"),
        F.collect_list("__packed").alias("__vecs"),
        F.collect_list("__side").alias("__sides"),
    )
    pairs = folded.mapInPandas(
        _pair_kernel(metric, float(max_distance)),
        "id_a long, id_b long",
    )
    from vicinity_spark.operators.dedup import connected_components

    comp = connected_components(un.select("id"), pairs)
    return (
        nb.join(comp, "id")
        .select(
            "id",
            F.col("cluster_id").cast("int").alias("cluster_id"),
            F.col("rep").cast("long").alias("rep_id"),
            (F.col("id") == F.col("rep")).alias("is_canonical"),
        )
    )


def cluster_balanced_sample(
    df: DataFrame,
    n_per_cluster: int,
    *,
    cluster_col: str = "cluster_id",
    id_col: str = "id",
    salt: str = "cluster_sample",
) -> DataFrame:
    """At most ``n_per_cluster`` rows from each cluster — the
    diversity-preserving subset step (train on a balanced slice of
    embedding space instead of letting head clusters dominate). The
    cut is a per-cluster row_number over the engine's PORTABLE md5
    key (operators/sampling.py: md5 over the salted textual id —
    Spark and DuckDB agree on it, unlike their native hashes) with an
    id tie-break, so the kept set is deterministic, engine-replayable,
    and stable under retries. The window partitions by cluster —
    per-task work is bounded by cluster size, the same k-sizing
    contract as the rest of this module."""
    from pyspark.sql import Window

    from vicinity_spark.operators.sampling import split_key

    if n_per_cluster < 1:
        raise ValueError(f"n_per_cluster must be >= 1, got {n_per_cluster}")
    w = Window.partitionBy(cluster_col).orderBy(
        split_key(id_col, salt).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_cluster)
        .drop("__rn")
    )


def cluster_curate(
    df: DataFrame,
    centroids,
    max_distance: float,
    n_per_cluster: int,
    *,
    metric: str = "cosine",
    vector_col: str = "vector",
    id_col: str = "id",
    keep: str = "min_id",
    max_cluster_rows: "int | None" = None,
    on_oversize: str = "raise",
    seed: int = 42,
) -> DataFrame:
    """The one-call cluster-curation pipeline (the composed entry
    point the dedup family got in r8 with `neardup_dedup`): assign →
    SemDeDup within clusters → keep each duplicate group's canonical
    row → cluster-balanced subset. Returns ``df``'s surviving rows
    with their ``cluster_id`` attached — the curated, diversity-
    preserving training slice.

    ``centroids`` is either a preset k×dim list (the replayable form —
    pass this when an oracle or a rerun must reproduce the exact
    output) or an int k, in which case `kmeans_centroids` fits on
    ``df`` first (iterative, NOT SQL-replayable; deterministic given
    (data, k, seed)). ``max_cluster_rows`` applies the semdedup
    runaway-cluster guard before any quadratic work.

    Plan: narrow assignment → one groupBy(cluster) fold + matrix
    kernel → component closure → canonical filter → one per-cluster
    window cut on the portable md5 key → a join back to ``df`` for
    the payload columns. The kept set is at most k × n_per_cluster
    ids — known ALGEBRAICALLY before any job runs — so the join-back
    broadcasts only when that bound fits ``_CURATE_BROADCAST_ROWS``
    and otherwise runs as a plain equi-join (AQE still broadcasts at
    runtime if the actual kept set turns out small): at k=50k ×
    n_per_cluster=1024 the bound is 51M ids, past any sane broadcast.
    A pre-existing ``cluster_id`` column on ``df`` is REPLACED by the
    curation's own assignment (the reserved-name contract
    `assign_clusters` documents for ``cluster_col``). Every stage is
    the already-benched shape of its standalone operator; nothing new
    shuffles."""
    if isinstance(centroids, int):
        centroids = kmeans_centroids(
            df, centroids, vector_col=vector_col, seed=seed
        )
    sem = semdedup(
        df,
        centroids,
        max_distance,
        metric=metric,
        vector_col=vector_col,
        id_col=id_col,
        keep=keep,
        max_cluster_rows=max_cluster_rows,
        on_oversize=on_oversize,
    )
    kept = cluster_balanced_sample(
        sem.where(F.col("is_canonical")).select("id", "cluster_id"),
        n_per_cluster,
        cluster_col="cluster_id",
        id_col="id",
    ).withColumnRenamed("id", id_col)
    if "cluster_id" in df.columns and id_col != "cluster_id":
        df = df.drop("cluster_id")
    bound = len(centroids) * int(n_per_cluster)
    if bound <= _CURATE_BROADCAST_ROWS:
        kept = F.broadcast(kept)
    return df.join(kept, id_col)


CLUSTER_MEMBERS_DIR = "cluster_members"
CLUSTER_CENTROIDS_DIR = "cluster_centroids"
CLUSTER_INGEST_MARKER = "_semdedup_ingest.json"
CLUSTER_SCHEMA_MARKER = "_members_schema.json"


def cluster_snapshot_save(
    snapshot: DataFrame,
    centroids,
    path: str,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    cluster_col: str = "cluster_id",
) -> None:
    """Persist a canonical-member snapshot layout: (id, vector,
    cluster_id) rows written ``partitionBy(cluster_id)`` — one
    directory per cluster, so an incremental batch touching 3 of 50k
    clusters READS 3 directories (static partition prune on the
    batch's cluster literals, the IVF store layout discipline) — plus
    the centroid table as its own parquet artifact (k×dim — the
    assignment contract that produced ``cluster_id``; a layout without
    its centroids cannot assign new batches consistently). A fresh
    save REBUILDS the layout, so a leftover streaming-ingest sidecar
    is invalidated (the bm25_index_save rule). Save-over-own-source is
    guarded by the URI-safe scan_reads_path.

    The members schema is persisted as a JSON sidecar: a ZERO-row
    snapshot's partitionBy write emits no data files, so a later scan
    has nothing to infer from — the sidecar makes the empty canonical
    set the valid bootstrap the streaming ingest documents."""
    import json as _json
    import os

    from vicinity_spark.operators.dedup import _write_sidecar
    from vicinity_spark.session import scan_reads_path

    spark = snapshot.sparkSession
    cents = [list(map(float, c)) for c in centroids]
    if not cents:
        raise ValueError("centroids must be non-empty")
    members = snapshot.select(
        F.col(id_col).alias("id"),
        F.col(vector_col).alias("vector"),
        F.col(cluster_col).cast("int").alias("cluster_id"),
    )
    mdir = os.path.join(path, CLUSTER_MEMBERS_DIR)
    if scan_reads_path(members, mdir):
        members = members.localCheckpoint(eager=True)
    members.write.mode("overwrite").partitionBy("cluster_id").parquet(mdir)
    _write_sidecar(
        spark,
        path.rstrip("/") + "/" + CLUSTER_SCHEMA_MARKER,
        {"schema": _json.loads(members.schema.json())},
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, CLUSTER_CENTROIDS_DIR)
    )
    jmarker = spark._jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + "/" + CLUSTER_INGEST_MARKER
    )
    fs = jmarker.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(jmarker):
        fs.delete(jmarker, False)


def cluster_snapshot_load(
    spark, path: str
) -> "tuple[DataFrame, list[list[float]]]":
    """(members, centroids) back from a ``cluster_snapshot_save``
    folder. The members frame keeps its ``cluster_id`` partition
    column lazy — consumers filter it with the batch's cluster
    literals and the scan prunes whole directories; the centroid
    table is collected (k×dim, closure-small by the module's design
    contract — it rides in every assignment kernel's closure
    anyway). The members scan reads with the schema sidecar the save
    wrote, so a zero-row layout (partitionBy wrote no data files —
    the documented empty-canonical-set bootstrap) loads as an empty
    frame of the right shape instead of failing schema inference;
    pre-sidecar layouts fall back to plain inference."""
    import os

    from pyspark.sql.types import StructType

    from vicinity_spark.operators.dedup import _read_sidecar

    mdir = os.path.join(path, CLUSTER_MEMBERS_DIR)
    try:
        sidecar = _read_sidecar(
            spark, path.rstrip("/") + "/" + CLUSTER_SCHEMA_MARKER
        )
        schema = StructType.fromJson(sidecar["schema"])
    except ValueError:
        schema = None
    if schema is not None:
        members = spark.read.schema(schema).parquet(mdir)
    else:
        members = spark.read.parquet(mdir)
    cents = [
        list(map(float, r["cvec"]))
        for r in spark.read.parquet(os.path.join(path, CLUSTER_CENTROIDS_DIR))
        .orderBy("cid")
        .collect()
    ]
    return members, cents


def cluster_snapshot_compact(
    spark, path: str, max_files_per_dir: int = 4
) -> int:
    """Small-file maintenance for a ``cluster_snapshot_save`` layout:
    every ``stream_semdedup_ingest`` trigger appends one file set to
    each touched ``cluster_id=`` directory, so after ~100 trickle
    triggers the incremental probe's pruned scan degrades to hundreds
    of tiny files per directory — the exact hazard
    ``bm25_index_compact`` (operators/retrieval.py) exists for, and
    the same fix: rewrite ONLY the directories whose non-hidden file
    count exceeds ``max_files_per_dir`` back to one id-sorted file
    each (id order keeps the presence filter's id probes row-group-
    prunable), through dynamic partition overwrite so untouched
    directories, the centroid artifact, and the ingest sidecar are
    never rewritten. Returns how many directories were compacted.
    Offline maintenance: run between ingest batches (the streaming
    loop's ``compact_every_n_batches`` hook does), never concurrently
    with another writer of the same layout."""
    import os

    if max_files_per_dir < 1:
        raise ValueError(f"max_files_per_dir must be >= 1, got {max_files_per_dir}")
    target = os.path.join(path, CLUSTER_MEMBERS_DIR)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(target)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise ValueError(f"no cluster snapshot layout at {target!r}")
    to_compact = []
    for cl_st in fs.listStatus(jpath):
        if not cl_st.isDirectory() or not cl_st.getPath().getName().startswith(
            "cluster_id="
        ):
            continue
        n_files = sum(
            1
            for f in fs.listStatus(cl_st.getPath())
            if f.isFile() and not f.getPath().getName().startswith(("_", "."))
        )
        if n_files > max_files_per_dir:
            to_compact.append(cl_st.getPath().toString())
    if not to_compact:
        return 0
    sub = (
        spark.read.option("basePath", target)
        .parquet(*to_compact)
        .repartition(F.col("cluster_id"))
        .sortWithinPartitions("id")
        .localCheckpoint(eager=True)
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        sub.write.mode("overwrite").partitionBy("cluster_id").parquet(target)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    return len(to_compact)


def cluster_stats(
    df: DataFrame,
    centroids,
    *,
    vector_col: str = "vector",
) -> DataFrame:
    """(cluster_id, n_rows, mean_sq_dist, max_sq_dist) — the
    observability tool for the k-sizing contract the rest of this
    module documents: `semdedup`'s pair work is Σ cluster_size², so a
    single runaway cluster is the failure mode, and this is how you
    SEE it before paying for it (run stats, check max(n_rows), re-fit
    with a larger k if a cluster outgrows the budget). The distance
    columns are the per-cluster inertia terms — the k-means quality
    signal (falling mean_sq_dist with growing k = normal; a cluster
    with huge n_rows AND huge mean_sq_dist = a catch-all centroid).

    One narrow assignment pass (the same closure kernel) + one
    map-side-combined groupBy, output bounded by k rows — safe to run
    at any corpus size."""
    assign = centroid_assign_udf(centroids, with_dist=True)
    asg = df.withColumn("__a", assign(F.col(vector_col)))
    return (
        asg.groupBy(F.col("__a.cluster_id").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("__a.cdist"), 6).alias("mean_sq_dist"),
            F.round(F.max("__a.cdist"), 6).alias("max_sq_dist"),
        )
    )
