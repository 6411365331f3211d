"""Embedding-cluster curation (operators/cluster.py): assignment,
SemDeDup (cluster-scoped semantic dedup), cluster-balanced sampling.

The oracle rows (`emb_semdedup`, `docs_cluster_sample`) replay the
same programs in DuckDB with PRESET data-point centroids; these tests
pin the closed-form semantics the oracles rely on."""

import pytest
from pyspark.sql import functions as F

from vicinity_spark.operators.cluster import (
    assign_clusters,
    cluster_balanced_sample,
    kmeans_centroids,
    semdedup,
)


def test_assign_clusters_closed_form(spark):
    df = spark.createDataFrame(
        [(0, [0.1, 0.0]), (1, [9.8, 10.1]), (2, [0.0, 0.2]), (3, [10.0, 9.9])],
        "id long, vector array<double>",
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in assign_clusters(df, [[0.0, 0.0], [10.0, 10.0]]).collect()
    }
    assert got == {0: 0, 2: 0, 1: 1, 3: 1}
    # exact tie → lower centroid index (np.argmin first-minimum rule,
    # the ORDER BY dist, cid oracle tie-break)
    tie = spark.createDataFrame([(9, [5.0, 5.0])], "id long, vector array<double>")
    assert assign_clusters(tie, [[0.0, 0.0], [10.0, 10.0]]).collect()[0][
        "cluster_id"
    ] == 0
    with pytest.raises(ValueError):
        assign_clusters(df, [])


def test_semdedup_within_cluster_only(spark):
    """The SemDeDup trade, pinned: a near-dup pair INSIDE a cluster is
    flagged (one canonical row), an equally-near pair STRADDLING two
    clusters is not — both survive as canonical."""
    df = spark.createDataFrame(
        [
            # cluster 0: 10/11 identical (flagged), 12 distinct
            (10, [1.0, 0.0]),
            (11, [1.0, 0.0]),
            (12, [0.9, -0.3]),
            # 20/21: cosine-near (sim ≈ 0.99995) but on OPPOSITE sides
            # of the centroids' perpendicular bisector (x = y), so the
            # pair straddles the cluster boundary
            (20, [0.71, 0.703]),
            (21, [0.703, 0.71]),
        ],
        "id long, vector array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    asg = {
        r["id"]: r["cluster_id"] for r in assign_clusters(df, cents).collect()
    }
    assert asg[20] == 0 and asg[21] == 1  # the straddle the test needs
    rows = {
        r["id"]: (r["rep_id"], r["is_canonical"])
        for r in semdedup(df, cents, max_distance=0.01).collect()
    }
    assert rows[10] == (10, True) and rows[11] == (10, False)  # in-cluster dup
    assert rows[12] == (12, True)
    assert rows[20] == (20, True) and rows[21] == (21, True)  # straddle: missed
    # tighter threshold: nothing flagged at all
    rows2 = semdedup(df, cents, max_distance=-1.0).collect()
    assert all(r["is_canonical"] for r in rows2)


def test_semdedup_matches_allpairs_when_one_cluster(spark):
    """With k=1 every pair is in-cluster, so SemDeDup degrades to the
    exact all-pairs semantic dedup (connected components over the
    full near-dup graph) — equality with the neardup_join program."""
    import numpy as np

    from vicinity_spark.operators.dedup import connected_components
    from vicinity_spark.operators.knn import neardup_join

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 8))
    vecs = [list(map(float, v)) for v in base]
    # plant two dup groups
    vecs[5] = vecs[3]
    vecs[11] = [x * 1.0000001 for x in vecs[9]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, vector array<double>"
    )
    t = 0.05
    got = {
        (r["id"], r["rep_id"], r["is_canonical"])
        for r in semdedup(df, [[0.0] * 8], max_distance=t).collect()
    }
    pairs = neardup_join(df, t, "cosine")
    comp = connected_components(df.select("id"), pairs)
    want = {
        (r["id"], r["rep"], r["id"] == r["rep"]) for r in comp.collect()
    }
    assert got == want


def test_cluster_balanced_sample_deterministic(spark):
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, cluster_id int"
    )
    a = sorted(map(tuple, cluster_balanced_sample(df, 4).collect()))
    b = sorted(map(tuple, cluster_balanced_sample(df.repartition(7), 4).collect()))
    assert a == b  # deterministic under repartitioning
    counts = (
        cluster_balanced_sample(df, 4)
        .groupBy("cluster_id")
        .count()
        .collect()
    )
    assert all(r["count"] == 4 for r in counts)
    # n larger than a cluster keeps the whole cluster
    assert len(cluster_balanced_sample(df, 100).collect()) == 30
    with pytest.raises(ValueError):
        cluster_balanced_sample(df, 0)


def test_kmeans_centroids_separated_blobs(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    pts = [
        (i, list(map(float, rng.normal(0, 0.1, 4)))) for i in range(40)
    ] + [
        (100 + i, list(map(float, rng.normal(8, 0.1, 4)))) for i in range(40)
    ]
    df = spark.createDataFrame(pts, "id long, vector array<double>")
    cents = kmeans_centroids(df, 2, seed=1)
    assert len(cents) == 2 and len(cents[0]) == 4
    means = sorted(sum(c) / len(c) for c in cents)
    assert abs(means[0] - 0.0) < 0.5 and abs(means[1] - 8.0) < 0.5
    # fitted centroids drive assignment end-to-end
    asg = assign_clusters(df, cents)
    sizes = sorted(r["count"] for r in asg.groupBy("cluster_id").count().collect())
    assert sizes == [40, 40]
    with pytest.raises(ValueError):
        kmeans_centroids(df, 0)


def test_semdedup_keep_farthest(spark):
    """The paper's keep rule (Abbas et al. §3): each duplicate group
    keeps the member FARTHEST from its cluster centroid. Cosine
    ignores magnitude, so colinear vectors of different lengths are an
    exact dup group with distinct centroid distances — the farthest
    (largest) must win; singletons stay canonical either way."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 1.0]),
            (2, [2.0, 2.0]),
            (3, [3.0, 3.0]),  # farthest from [0, 0] in the dup group
            (7, [-1.0, 0.5]),  # singleton
        ],
        "id long, vector array<double>",
    )
    rows = {
        r["id"]: (r["rep_id"], r["is_canonical"])
        for r in semdedup(
            df, [[0.0, 0.0]], max_distance=1e-9, keep="farthest"
        ).collect()
    }
    assert rows[1] == (3, False) and rows[2] == (3, False)
    assert rows[3] == (3, True)
    assert rows[7] == (7, True)
    # default rule on the same data keeps the min id
    rows2 = {
        r["id"]: r["rep_id"]
        for r in semdedup(df, [[0.0, 0.0]], max_distance=1e-9).collect()
    }
    assert rows2[1] == rows2[2] == rows2[3] == 1
    with pytest.raises(ValueError):
        semdedup(df, [[0.0, 0.0]], max_distance=0.1, keep="best")


def test_kmeans_to_semdedup_composition(spark):
    """The fitted path end-to-end: kmeans_centroids → semdedup finds
    the planted duplicate inside each blob and nothing across blobs
    (the blobs are far apart, so no cross-blob pair is near anyway —
    the assertion is that the composition runs and flags exactly the
    planted pairs)."""
    import numpy as np

    rng = np.random.default_rng(3)
    pts = []
    for b, center in enumerate([0.0, 8.0]):
        for i in range(20):
            pts.append(
                (b * 100 + i, list(map(float, rng.normal(center, 0.05, 4))))
            )
        pts.append((b * 100 + 50, pts[b * 21][1]))  # exact dup of blob row 0
    df = spark.createDataFrame(pts, "id long, vector array<double>")
    cents = kmeans_centroids(df, 2, seed=5)
    rows = semdedup(df, cents, max_distance=1e-9).collect()
    flagged = sorted(r["id"] for r in rows if not r["is_canonical"])
    assert flagged == [50, 150]
    reps = {r["id"]: r["rep_id"] for r in rows}
    assert reps[50] == 0 and reps[150] == 100


def test_cluster_stats(spark):
    """Sizes and inertia per cluster — the runaway-cluster detector
    the semdedup k-sizing contract points at. Closed form: cluster 0
    holds {[0,0]×2, [0,3]} (sq dists 0, 0, 9), cluster 1 holds
    {[10,10]} (sq dist 0)."""
    from vicinity_spark.operators.cluster import cluster_stats

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 3.0]), (3, [10.0, 10.0])],
        "id long, vector array<double>",
    )
    got = {
        r["cluster_id"]: (r["n_rows"], r["mean_sq_dist"], r["max_sq_dist"])
        for r in cluster_stats(df, [[0.0, 0.0], [10.0, 10.0]]).collect()
    }
    assert got == {0: (3, 3.0, 9.0), 1: (1, 0.0, 0.0)}
    with pytest.raises(ValueError):
        cluster_stats(df, [])


@pytest.mark.slow
def test_semdedup_runaway_cluster_guard(spark):
    """r13 (VERDICT r12 item 6): `max_cluster_rows` turns the
    documented k-sizing contract into an enforced one — a planted
    catch-all cluster fails BEFORE any quadratic pair work, naming
    the cluster and its size; a sufficient budget runs normally and
    matches the unguarded answer."""
    rows = [(i, [0.0 + i * 1e-6, 0.0]) for i in range(40)]  # runaway cluster 0
    rows += [(100, [10.0, 10.0]), (101, [10.0, 10.0])]  # small cluster 1
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    cents = [[0.0, 0.0], [10.0, 10.0]]
    with pytest.raises(ValueError, match=r"cluster 0: 40 rows"):
        semdedup(df, cents, max_distance=0.01, max_cluster_rows=10)
    # the farthest path assigns through a different kernel — guard too
    with pytest.raises(ValueError, match="max_cluster_rows"):
        semdedup(
            df, cents, max_distance=0.01, keep="farthest", max_cluster_rows=10
        )
    want = sorted(
        map(tuple, semdedup(df, cents, max_distance=0.01).collect())
    )
    got = sorted(
        map(
            tuple,
            semdedup(
                df, cents, max_distance=0.01, max_cluster_rows=40
            ).collect(),
        )
    )
    assert got == want
    with pytest.raises(ValueError, match="must be >= 2"):
        semdedup(df, cents, max_distance=0.01, max_cluster_rows=1)


@pytest.mark.slow
def test_cluster_curate_composition(spark):
    """r13 (VERDICT r12 item 8): the one-call pipeline — preset
    centroids, planted in-cluster dups, a head cluster bigger than
    n_per_cluster. Expected = canonical rows of each cluster cut to
    n_per_cluster by the portable md5 key, with payload columns
    joined back."""
    from vicinity_spark.operators.cluster import cluster_curate

    # cluster 0: distinct ANGLES (cosine cares about direction — a
    # shared direction would make every row one dup group)
    rows = [(i, [1.0, 0.001 * i], f"p{i}") for i in range(8)]
    rows.append((50, [1.0, 0.0], "dup"))  # exact dup of id 0 → not canonical
    rows += [(60, [0.0, 1.0], "q0"), (61, [0.0, 1.0], "q1")]  # cluster 1 dups
    df = spark.createDataFrame(rows, "id long, vector array<double>, payload string")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = cluster_curate(df, cents, 1e-9, 3, max_cluster_rows=50)
    rows_got = got.collect()
    assert set(got.columns) == {"id", "vector", "payload", "cluster_id"}
    by_cluster = {}
    for r in rows_got:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["id"])
    # dup ids 50 and 61 can never appear (not canonical)
    assert 50 not in by_cluster.get(0, set())
    assert 61 not in by_cluster.get(1, set())
    assert len(by_cluster[0]) == 3  # head cluster cut to n_per_cluster
    assert by_cluster[1] == {60}  # lone canonical survives
    # replay the expected md5 cut for cluster 0 (ids 0..7 canonical)
    import hashlib

    keyed = sorted(
        (hashlib.md5(f"cluster_sample:{i}".encode()).hexdigest(), i)
        for i in range(8)
    )
    assert by_cluster[0] == {i for _, i in keyed[:3]}
    # int form fits k-means first (smoke: runs and returns rows)
    fitted = cluster_curate(df, 2, 1e-9, 3, seed=11)
    assert fitted.count() > 0
    # the guard propagates through the composed form
    with pytest.raises(ValueError, match="max_cluster_rows"):
        cluster_curate(df, cents, 1e-9, 3, max_cluster_rows=5)


def test_semdedup_incremental_closed_form(spark):
    """r13: batch-vs-snapshot labels — a new copy of a snapshot row
    resolves to the snapshot id (min-id rep across the component), a
    new-new dup group keeps its own min id, and an unmatched new row
    is canonical. Snapshot-snapshot pairs are never mined."""
    from vicinity_spark.operators.cluster import semdedup_incremental

    snap = spark.createDataFrame(
        [(10, [1.0, 0.0]), (12, [0.9, -0.3]), (20, [0.0, 1.0])],
        "id long, vector array<double>",
    )
    new = spark.createDataFrame(
        [
            (100, [1.0, 0.0]),     # exact copy of snapshot 10
            (101, [0.6, 0.8]),     # novel direction
            (102, [0.6, 0.8]),     # new-new dup of 101
            (103, [-1.0, -0.2]),   # lone novel row
        ],
        "id long, vector array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    rows = {
        r["id"]: (r["rep_id"], r["is_canonical"])
        for r in semdedup_incremental(new, snap, cents, 1e-9).collect()
    }
    assert set(rows) == {100, 101, 102, 103}  # new rows only
    assert rows[100] == (10, False)  # resolved to the snapshot rep
    assert rows[101] == (101, True)
    assert rows[102] == (101, False)
    assert rows[103] == (103, True)


@pytest.mark.slow
def test_semdedup_incremental_matches_full_on_clean_snapshot(spark):
    """When the snapshot has no internal near-pairs (it is the
    canonical survivor set by construction), every edge of the full
    rebuild is new-involved — so the incremental labels for the new
    rows must EQUAL the full semdedup's labels over snapshot ∪ batch
    restricted to the batch."""
    import numpy as np

    from vicinity_spark.operators.cluster import semdedup, semdedup_incremental

    rng = np.random.default_rng(17)
    snap_rows = [(i, list(map(float, rng.normal(size=8)))) for i in range(30)]
    new_rows = [(100 + i, list(map(float, rng.normal(size=8)))) for i in range(15)]
    new_rows[3] = (103, snap_rows[7][1])          # dup of snapshot 7
    new_rows[9] = (109, new_rows[8][1])           # new-new dup of 108
    snap = spark.createDataFrame(snap_rows, "id long, vector array<double>")
    new = spark.createDataFrame(new_rows, "id long, vector array<double>")
    cents = [[0.0] * 8, [2.0] * 8]
    t = 1e-9
    inc = {
        (r["id"], r["rep_id"], r["is_canonical"])
        for r in semdedup_incremental(new, snap, cents, t).collect()
    }
    full = {
        (r["id"], r["rep_id"], r["is_canonical"])
        for r in semdedup(snap.unionByName(new), cents, t).collect()
        if r["id"] >= 100
    }
    assert inc == full
    # precomputed-cluster path (the partition-pruned reload shape)
    from vicinity_spark.operators.cluster import assign_clusters

    snap_asg = assign_clusters(snap, cents)
    inc2 = {
        (r["id"], r["rep_id"], r["is_canonical"])
        for r in semdedup_incremental(
            new, snap_asg, cents, t, snapshot_cluster_col="cluster_id"
        ).collect()
    }
    assert inc2 == inc


@pytest.mark.slow
def test_semdedup_incremental_guard_and_cross_cluster_trade(spark):
    """The union-sized runaway guard fires; an equally-near pair
    straddling two clusters stays unflagged (the documented SemDeDup
    trade, unchanged by the incremental form)."""
    from vicinity_spark.operators.cluster import semdedup_incremental

    snap = spark.createDataFrame(
        [(i, [0.0 + i * 1e-6, 0.0]) for i in range(30)],
        "id long, vector array<double>",
    )
    new = spark.createDataFrame(
        [(100, [0.703, 0.71]), (101, [0.0001, 0.0])],
        "id long, vector array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    with pytest.raises(ValueError, match="max_cluster_rows"):
        semdedup_incremental(new, snap, cents, 0.01, max_cluster_rows=10)
    # new 100 lands in cluster 1; its cosine-near snapshot rows all sit
    # in cluster 0 — the straddling near-pair is missed by design
    near = spark.createDataFrame(
        [(200, [0.71, 0.703])], "id long, vector array<double>"
    )
    rows = {
        r["id"]: r["is_canonical"]
        for r in semdedup_incremental(
            near, spark.createDataFrame(
                [(1, [0.703, 0.71])], "id long, vector array<double>"
            ).crossJoin(spark.range(1).drop("id")).select("id", "vector"),
            cents, 0.01,
        ).collect()
    }
    assert rows == {200: True}


def test_cluster_snapshot_pruned_scan(spark, tmp_path):
    """The layout's 100 TB claim, plan-checked: filtering the member
    scan with a batch's cluster literals reads ONLY the touched
    partition directories' files (static partition pruning), and the
    save → load roundtrip preserves rows and centroids exactly."""
    from pyspark.sql import functions as F

    from vicinity_spark.operators.cluster import (
        assign_clusters,
        cluster_snapshot_load,
        cluster_snapshot_save,
    )

    cents = [[float(i), 0.0] for i in range(8)]
    rows = [(i, [float(i % 8), 0.001 * i]) for i in range(80)]
    snap = spark.createDataFrame(rows, "id long, vector array<double>")
    layout = str(tmp_path / "snap")
    cluster_snapshot_save(assign_clusters(snap, cents), cents, layout)
    members, loaded = cluster_snapshot_load(spark, layout)
    assert loaded == cents
    assert members.count() == 80
    touched = members.where(F.col("cluster_id").isin([2, 5]))
    plan = touched._jdf.queryExecution().executedPlan().toString()
    # the cluster literals land in PartitionFilters — directory-level
    # pruning at the scan, not a post-scan row filter
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cluster_id" in pf[0], plan
    assert touched.count() == 20

@pytest.mark.slow
def test_semdedup_incremental_batch_cluster_col(spark):
    """r14 (VERDICT r13 item 8): passing precomputed batch labels via
    batch_cluster_col yields identical labels to the assign-on-the-fly
    path, and with BOTH cluster columns precomputed the plan contains
    no Arrow assignment stage at all — the streaming twin's
    one-assignment-per-trigger contract."""
    import numpy as np

    from vicinity_spark.operators.cluster import semdedup_incremental

    rng = np.random.default_rng(23)
    snap_rows = [(i, list(map(float, rng.normal(size=6)))) for i in range(20)]
    new_rows = [(100 + i, list(map(float, rng.normal(size=6)))) for i in range(10)]
    new_rows[2] = (102, snap_rows[5][1])  # dup of snapshot 5
    snap = spark.createDataFrame(snap_rows, "id long, vector array<double>")
    new = spark.createDataFrame(new_rows, "id long, vector array<double>")
    cents = [[0.0] * 6, [2.0] * 6]
    base = {
        (r["id"], r["rep_id"], r["is_canonical"])
        for r in semdedup_incremental(new, snap, cents, 1e-9).collect()
    }
    new_asg = assign_clusters(new, cents)
    snap_asg = assign_clusters(snap, cents)
    pre = semdedup_incremental(
        new_asg,
        snap_asg,
        cents,
        1e-9,
        snapshot_cluster_col="cluster_id",
        batch_cluster_col="cluster_id",
    )
    got = {(r["id"], r["rep_id"], r["is_canonical"]) for r in pre.collect()}
    assert got == base
    # checkpoint both inputs so the plan holds only semdedup_incremental's
    # own stages, then assert it added NO Arrow assignment pass
    pre2 = semdedup_incremental(
        new_asg.localCheckpoint(eager=True),
        snap_asg.localCheckpoint(eager=True),
        cents,
        1e-9,
        snapshot_cluster_col="cluster_id",
        batch_cluster_col="cluster_id",
    )
    plan = pre2._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_cluster_snapshot_empty_bootstrap(spark, tmp_path):
    """r14 (ADVICE r13): a ZERO-row snapshot is the documented valid
    start — save writes the schema sidecar, load returns an empty
    members frame of the layout's shape, and semdedup_incremental
    against it labels every new row canonical."""
    from vicinity_spark.operators.cluster import (
        cluster_snapshot_load,
        cluster_snapshot_save,
        semdedup_incremental,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    empty = spark.createDataFrame([], "id long, vector array<double>, cluster_id int")
    layout = str(tmp_path / "empty_snap")
    cluster_snapshot_save(empty, cents, layout)
    members, loaded = cluster_snapshot_load(spark, layout)
    assert loaded == cents
    assert members.columns == ["id", "vector", "cluster_id"]
    assert members.count() == 0
    new = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
        "id long, vector array<double>",
    )
    rows = {
        r["id"]: (r["rep_id"], r["is_canonical"])
        for r in semdedup_incremental(
            new, members, cents, 1e-9, snapshot_cluster_col="cluster_id"
        ).collect()
    }
    assert rows == {1: (1, True), 2: (2, True), 3: (3, True)}


@pytest.mark.slow
def test_cluster_snapshot_compact(spark, tmp_path):
    """r14 (VERDICT r13 item 5): compaction rewrites ONLY overgrown
    cluster directories back to one file, preserves every row and the
    static partition prune, and leaves under-threshold directories'
    files untouched (dynamic partition overwrite)."""
    import os

    from vicinity_spark.operators.cluster import (
        assign_clusters,
        cluster_snapshot_compact,
        cluster_snapshot_load,
        cluster_snapshot_save,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    base = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "id long, vector array<double>"
    )
    layout = str(tmp_path / "compact_snap")
    cluster_snapshot_save(assign_clusters(base, cents), cents, layout)
    mdir = os.path.join(layout, "cluster_members")
    # 6 trickle appends into cluster 0 only — one file set each
    for i in range(6):
        spark.createDataFrame(
            [(10 + i, [1.0, 0.001 * (i + 1)], 0)],
            "id long, vector array<double>, cluster_id int",
        ).coalesce(1).write.mode("append").partitionBy("cluster_id").parquet(mdir)

    def data_files(cl):
        d = os.path.join(mdir, f"cluster_id={cl}")
        return sorted(
            f for f in os.listdir(d) if not f.startswith(("_", "."))
        )

    assert len(data_files(0)) == 7
    before1 = data_files(1)
    members, _ = cluster_snapshot_load(spark, layout)
    rows_before = sorted(map(tuple, members.collect()))
    assert cluster_snapshot_compact(spark, layout, max_files_per_dir=4) == 1
    assert len(data_files(0)) == 1          # overgrown dir rewritten
    assert data_files(1) == before1          # untouched dir keeps its files
    members2, _ = cluster_snapshot_load(spark, layout)
    assert sorted(map(tuple, members2.collect())) == rows_before
    # the prune survives compaction
    plan = (
        members2.where(F.col("cluster_id").isin([0]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cluster_id" in pf[0], plan
    assert cluster_snapshot_compact(spark, layout, max_files_per_dir=4) == 0
    with pytest.raises(ValueError, match="max_files_per_dir"):
        cluster_snapshot_compact(spark, layout, max_files_per_dir=0)
    with pytest.raises(ValueError, match="no cluster snapshot layout"):
        cluster_snapshot_compact(spark, str(tmp_path / "nope"))


@pytest.mark.slow
def test_cluster_curate_joinback_paths(spark, monkeypatch):
    """r14 (VERDICT r13 item 6 + ADVICE): the join-back picks
    broadcast vs plain equi-join from the ALGEBRAIC k x n_per_cluster
    bound — both paths return identical rows even with the session's
    auto-broadcast disabled — and a pre-existing cluster_id column on
    df is replaced, not duplicated."""
    import vicinity_spark.operators.cluster as cl
    from vicinity_spark.operators.cluster import cluster_curate

    rows = [(i, [1.0, 0.001 * i], f"p{i}") for i in range(8)]
    rows += [(60, [0.0, 1.0], "q0"), (61, [0.0, 1.0], "q1")]
    df = spark.createDataFrame(rows, "id long, vector array<double>, payload string")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bcast = cluster_curate(df, cents, 1e-9, 3)
        assert "ResolvedHint" in bcast._jdf.queryExecution().analyzed().toString()
        got_b = sorted((r["id"], r["cluster_id"]) for r in bcast.collect())
        monkeypatch.setattr(cl, "_CURATE_BROADCAST_ROWS", 0)
        plain = cluster_curate(df, cents, 1e-9, 3)
        assert "ResolvedHint" not in plain._jdf.queryExecution().analyzed().toString()
        assert sorted((r["id"], r["cluster_id"]) for r in plain.collect()) == got_b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # pre-existing cluster_id on df: replaced by the curation's own
    pre = df.withColumn("cluster_id", F.lit(99))
    out = cluster_curate(pre, cents, 1e-9, 3)
    assert out.columns.count("cluster_id") == 1
    assert {r["cluster_id"] for r in out.collect()} <= {0, 1}


@pytest.mark.slow
def test_semdedup_chunked_oversize_fold(spark):
    """r14 (VERDICT r13 item 7): a planted 10x over-budget cluster
    completes under on_oversize='chunk' with labels EQUAL to the
    unguarded all-pairs fold, for both keep rules — the guard degrades
    gracefully instead of demanding a re-fit."""
    import numpy as np

    from vicinity_spark.operators.cluster import semdedup

    rng = np.random.default_rng(31)
    # cluster 0: 100 rows (10x the 10-row budget) with several planted
    # dup groups; cluster 1: a handful of rows, one dup pair
    rows = []
    for i in range(100):
        v = rng.normal(size=5) + np.array([50.0, 0, 0, 0, 0])
        rows.append((i, list(map(float, v))))
    for a, b in [(3, 57), (12, 80), (12, 99)]:  # dup groups span blocks
        rows[b] = (rows[b][0], rows[a][1])
    rows += [(200, [0.0, 30.0, 0.0, 0.0, 0.0]), (201, [0.0, 30.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    cents = [[50.0, 0.0, 0.0, 0.0, 0.0], [0.0, 30.0, 0.0, 0.0, 0.0]]
    for keep in ("min_id", "farthest"):
        exact = {
            (r["id"], r["rep_id"], r["is_canonical"])
            for r in semdedup(df, cents, 1e-9, keep=keep).collect()
        }
        chunked = {
            (r["id"], r["rep_id"], r["is_canonical"])
            for r in semdedup(
                df, cents, 1e-9, keep=keep,
                max_cluster_rows=10, on_oversize="chunk",
            ).collect()
        }
        assert chunked == exact, keep
    # raise mode still raises, and mentions the chunk escape hatch
    with pytest.raises(ValueError, match="on_oversize='chunk'"):
        semdedup(df, cents, 1e-9, max_cluster_rows=10)
    with pytest.raises(ValueError, match="on_oversize"):
        semdedup(df, cents, 1e-9, max_cluster_rows=10, on_oversize="nope")
    with pytest.raises(ValueError, match="needs max_cluster_rows"):
        semdedup(df, cents, 1e-9, on_oversize="chunk")


def test_cluster_snapshot_load_without_schema_sidecar(spark, tmp_path):
    """A pre-r14 layout (no schema sidecar) still loads through plain
    inference — the fallback path of cluster_snapshot_load."""
    import os

    from vicinity_spark.operators.cluster import (
        CLUSTER_SCHEMA_MARKER,
        assign_clusters,
        cluster_snapshot_load,
        cluster_snapshot_save,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    snap = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "id long, vector array<double>"
    )
    layout = str(tmp_path / "legacy_snap")
    cluster_snapshot_save(assign_clusters(snap, cents), cents, layout)
    os.remove(os.path.join(layout, CLUSTER_SCHEMA_MARKER))
    members, loaded = cluster_snapshot_load(spark, layout)
    assert loaded == cents
    assert sorted(r["id"] for r in members.collect()) == [0, 1]


def test_packed_assignment_matches_plain_and_roundtrips(spark):
    """Packed fold internals: the assignment builder's packed form must
    emit the SAME cluster ids (and centroid distances) as its plain
    forms, and its packed bytes must `_unpack_vecs` back to the exact
    float64 widening of the input vectors — the pair kernel's
    bit-identity contract."""
    import numpy as np

    from vicinity_spark.operators.cluster import _unpack_vecs
    from vicinity_spark.operators.grid import centroid_assign_udf

    rows = [
        (0, [0.1, 0.0]),
        (1, [9.8, 10.1]),
        (2, [0.0, 0.2]),
        (3, [10.0, 9.9]),
        (4, [5.0, 5.0]),  # exact tie -> lower centroid index
    ]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    cents = [[0.0, 0.0], [10.0, 10.0]]
    packed = {
        r["id"]: r
        for r in df.select(
            "id",
            centroid_assign_udf(cents, with_dist=True, with_packed=True)(
                F.col("vector")
            ).alias("a"),
        )
        .select("id", "a.cluster_id", "a.cdist", "a.packed")
        .collect()
    }
    plain = {
        r["id"]: r
        for r in df.select(
            "id",
            centroid_assign_udf(cents, with_dist=True)(F.col("vector")).alias("a"),
            centroid_assign_udf(cents)(F.col("vector")).alias("cid"),
        )
        .select("id", "a.cluster_id", "a.cdist", "cid")
        .collect()
    }
    assert {i: p["cluster_id"] for i, p in packed.items()} == {
        i: p["cluster_id"] for i, p in plain.items()
    }
    assert {i: p["cid"] for i, p in plain.items()} == {
        i: p["cluster_id"] for i, p in plain.items()
    }
    for i in packed:
        assert packed[i]["cdist"] == plain[i]["cdist"]  # bit-identical
    cell = [packed[i]["packed"] for i in sorted(packed)]
    V = _unpack_vecs(cell)
    want = np.asarray([v for _, v in rows], dtype=np.float64)
    assert V.shape == want.shape and (V == want).all()


def test_empty_centroids_rejected(spark):
    """Every assigning entry point goes through the one assignment
    builder, which rejects an empty centroid list before any job."""
    from vicinity_spark.operators.cluster import cluster_stats, semdedup_incremental

    df = spark.createDataFrame([(0, [1.0, 0.0])], "id long, vector array<double>")
    snap = spark.createDataFrame(
        [(1, [0.0, 1.0], 0)], "id long, vector array<double>, cluster_id int"
    )
    calls = [
        lambda: assign_clusters(df, []),
        lambda: cluster_stats(df, []),
        lambda: semdedup(df, [], 0.1),
        lambda: semdedup(df, [], 0.1, keep="farthest"),
        lambda: semdedup_incremental(df, snap, [], 0.1),
        lambda: semdedup_incremental(
            df, snap, [], 0.1, snapshot_cluster_col="cluster_id"
        ),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="centroids must be non-empty"):
            call()


# --- the pair kernel, driven directly on pandas frames (no Spark job) ---

_THRESH = {"cosine": 0.05, "euclidean": 0.5, "l2sq": 0.25}


def _kernel_cluster(seed: int, m: int, dim: int = 6):
    """m rows with unsorted ids unique across seeds, planted
    near-duplicates and two zero vectors (distance 0 to each other
    under l2, NaN under cosine)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    ids = (rng.permutation(10 * m)[:m] + 10_000 * seed).astype(np.int64)
    V = rng.normal(size=(m, dim))
    for k in range(0, m - 3, 5):
        V[k + 1] = V[k] + 1e-3 * rng.normal(size=dim)
    V[-2:] = 0.0
    return ids, V


def _brute_pairs(ids, V, metric, t):
    """Unordered id pairs at exact per-pair distance <= t."""
    import numpy as np

    out = set()
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            x, y = V[a], V[b]
            if metric == "cosine":
                nx, ny = np.linalg.norm(x), np.linalg.norm(y)
                if nx == 0.0 or ny == 0.0:
                    continue  # zero vector: NaN distance, never a match
                d = 1.0 - float(x @ y) / (nx * ny)
            else:
                d = float(((x - y) ** 2).sum())
                if metric == "euclidean":
                    d = d**0.5
            if d <= t:
                out.add(frozenset((int(ids[a]), int(ids[b]))))
    return out


def _kernel_rows(rows, metric):
    """Run the pair kernel over one pandas frame of folded rows; the
    emitted edges as unordered pairs, each asserted emitted once."""
    import pandas as pd

    from vicinity_spark.operators.cluster import _pair_kernel

    out = list(_pair_kernel(metric, _THRESH[metric])(iter([pd.DataFrame(rows)])))
    edges = [
        frozenset((int(a), int(b)))
        for f in out
        for a, b in zip(f["id_a"], f["id_b"])
    ]
    assert all(len(e) == 2 for e in edges)  # no self pairs
    assert len(edges) == len(set(edges))  # each unordered pair once
    return set(edges)


def _fold(ids, V, order, **member_cols):
    """One folded row holding the ``order`` members, in that order."""
    return {
        "__ids": ids[order],
        "__vecs": [V[i].tobytes() for i in order],
        **{k: v[order] for k, v in member_cols.items()},
    }


def _assert_brute(got, ids, V, metric, keep=lambda pair: True):
    """Sandwich against the exact brute force: ulp-level expansion
    error may only move pairs within 1e-9 of the threshold."""
    t = _THRESH[metric]
    lo = {p for p in _brute_pairs(ids, V, metric, t - 1e-9) if keep(p)}
    hi = {p for p in _brute_pairs(ids, V, metric, t + 1e-9) if keep(p)}
    assert lo, "fixture must plant matches"
    assert lo <= got <= hi


@pytest.mark.parametrize("chunk", [None, 7], ids=["pchunk", "pchunk7"])
@pytest.mark.parametrize("metric", ["cosine", "euclidean", "l2sq"])
def test_pair_kernel_shapes_match_brute_force(metric, chunk, monkeypatch):
    """Within, cross (new vs snapshot) and split-cluster block shapes
    of the one pair kernel against a numpy brute force, with the chunk
    size at its real value and at 7 rows so every shape crosses slice
    boundaries; a zero vector under cosine never matches."""
    import numpy as np

    from vicinity_spark.operators import cluster

    if chunk is not None:
        monkeypatch.setattr(cluster, "_PCHUNK", chunk)
    zero, edges = set(), set()

    # within: two clusters in one frame (rows arrive in collect_list
    # order, not id order) plus a singleton that must emit nothing
    ids1, V1 = _kernel_cluster(1, 40)
    ids2, V2 = _kernel_cluster(2, 23)
    rng = np.random.default_rng(0)
    got = _kernel_rows(
        [
            _fold(ids1, V1, rng.permutation(len(ids1))),
            _fold(ids2, V2, rng.permutation(len(ids2))),
            _fold(ids2[:1], V2[:1], [0]),
        ],
        metric,
    )
    _assert_brute({p for p in got if p <= set(ids1.tolist())}, ids1, V1, metric)
    _assert_brute({p for p in got if p <= set(ids2.tolist())}, ids2, V2, metric)
    edges |= got
    zero |= {int(i) for i in ids1[-2:]} | {int(i) for i in ids2[-2:]}

    # cross: only new-involved pairs (snapshot-snapshot ones are settled)
    ids, V = _kernel_cluster(3, 37)
    sides = rng.integers(0, 2, len(ids)).astype(np.int8)
    sides[:2] = [1, 0]
    new = {int(i) for i, sd in zip(ids, sides) if sd == 1}
    row = _fold(ids, V, rng.permutation(len(ids)), __sides=sides)
    got = _kernel_rows([row], metric)
    _assert_brute(got, ids, V, metric, keep=lambda p: bool(p & new))
    edges |= got
    zero |= {int(i) for i in ids[-2:]}

    # split cluster: B-row blocks in id order, one task per block pair
    # (ti <= tj); the union emits each unordered pair exactly once
    ids, V = _kernel_cluster(4, 31)
    B = 9
    blk = np.empty(len(ids), dtype=np.int32)
    blk[np.argsort(ids)] = np.arange(len(ids)) // B
    nblk = int(blk.max()) + 1
    tasks = []
    for ti in range(nblk):
        for tj in range(ti, nblk):
            members = np.nonzero((blk == ti) | (blk == tj))[0]
            row = _fold(ids, V, rng.permutation(members), __blks=blk)
            tasks.append({**row, "__ti": ti, "__tj": tj})
    got = _kernel_rows(tasks, metric)
    _assert_brute(got, ids, V, metric)
    edges |= got
    zero |= {int(i) for i in ids[-2:]}

    # the zero pair is distance 0 under l2 but NaN under cosine
    assert any(p <= zero for p in edges) == (metric != "cosine")
    if metric == "cosine":
        assert not any(p & zero for p in edges)
