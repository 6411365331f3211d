"""The benchmark workloads: seeded inputs, timed public calls and output
checks.

Each workload has ``setup()`` (repeated to time set-up), ``warm()`` (run
once, untimed, before measuring), ``unit()`` (one whole unit of measured
work: a serving session or one pass of the offline pipeline), ``end_to_end()`` and ``per_layer()`` (the values
only the workload itself knows) and ``report()`` (readable lines).

Every timed call runs through ``Ledger.call`` inside a span named
``op.<name>``; it counts as one attempted operation, and as failed when
it raises or its output fails a check. Library functions are looked up
through their modules at call time, so the traced run's span wrappers
see every call.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tracing import median, tail
from vicinity_spark.operators import cluster, dedup
from vicinity_spark.store import VectorStore

DIM = 64
K = 10


class Ledger:
    """Operations attempted and failed, with the first few failures."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.messages: "list[str]" = []
        self.last_s = 0.0

    def call(self, name: str, fn, layer: str = "op"):
        self.attempted += 1
        try:
            with self.tracer.span(f"{layer}.{name}") as span:
                result = fn()
        except Exception:
            self.failed += 1
            raise
        self.last_s = span.duration
        return result

    def verify(self, problems: "list[str]", what: str) -> None:
        """Mark the last call failed when its output checks found problems."""
        if problems:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(f"{what}: {problems[0]} ({len(problems)} problem(s))")


def clustered_vectors(rng, n: int, centers: np.ndarray, spread: float) -> np.ndarray:
    pick = rng.integers(0, len(centers), size=n)
    noise = spread * rng.standard_normal((n, centers.shape[1]))
    return (centers[pick] + noise).astype(np.float32)


def unit_rows(X: np.ndarray) -> np.ndarray:
    X = X.astype(np.float64)
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def cosine_dist(q: np.ndarray, x: np.ndarray) -> float:
    q = q.astype(np.float64)
    x = x.astype(np.float64)
    return float(1.0 - q @ x / (np.linalg.norm(q) * np.linalg.norm(x)))


def vector_frame(spark, vectors: np.ndarray, items=None):
    pdf = pd.DataFrame({"id": np.arange(len(vectors), dtype=np.int64), "vector": list(vectors)})
    schema = "id long, vector array<float>"
    if items is not None:
        pdf.insert(1, "item_json", [json.dumps(it) for it in items])
        schema = "id long, item_json string, vector array<float>"
    return spark.createDataFrame(pdf, schema)


def materialize(df) -> int:
    """Cache a frame and compute it once, returning its row count."""
    df.cache()
    return df.count()


class Workload:
    def warm(self) -> None:
        """Untimed work after set-up, before measuring; none by default."""


# ---------------------------------------------------------------------------
class Serve(Workload):
    """Interactive top-k session over a cached IVF store: one closed-loop
    client issues a fixed pattern of facade calls (query, query_threshold,
    insert, delete) with seeded data. The index is built in set-up from
    preset centroids (a sample of the corpus), as a server loads a
    trained index. Each measured unit is one session on a fresh
    ``VectorStore`` over the same cached index, so the insert delta
    starts empty and every session sees the same write history."""

    N = 5_000
    NLIST, NPROBE = 32, 4
    BATCH_Q, INSERT_ROWS, DELETE_ITEMS = 16, 64, 16
    THRESHOLD = 0.35
    # Q query, T query_threshold, D delete, I insert. The delete removes
    # the last query's top hits and the query after it asks the same
    # vectors again. The eighth insert makes the store's every-8th-insert
    # delta checkpoint fire and the ninth leaves one batch on top of it;
    # a query after an insert asks for the vector it inserted.
    PATTERN = "QQTDQIIIIIIIIQIQ"

    def __init__(self, spark, ledger, seed: int):
        self.spark, self.ledger = spark, ledger
        self.rng = np.random.default_rng(seed)
        self.centers = self.rng.standard_normal((48, DIM))
        self.store = None
        self.query_lat_before: "list[float]" = []
        self.query_lat_after: "list[float]" = []
        self.write_lat: "list[float]" = []
        self.units = 0
        self.ops = 0

    def setup(self) -> None:
        if self.store is not None:
            self.store.df.unpersist()
        V = clustered_vectors(self.rng, self.N, self.centers, 0.7)
        items = [f"doc-{i}" for i in range(self.N)]
        centroids = V[self.rng.choice(self.N, size=self.NLIST, replace=False)].astype(np.float64)
        store = VectorStore.from_dataframe(
            vector_frame(self.spark, V, items),
            backend_type="ivf", metric="cosine", nprobe=self.NPROBE, centroids=centroids,
        )
        materialize(store.df)
        self.store, self.V, self.items = store, V, items

    def warm(self) -> None:
        """One query, so that the first measured one does not pay the
        query path's one-time start-up."""
        Q = self._vectors(self.BATCH_Q)
        res = self.ledger.call("query", lambda: self.store.query(Q, k=K), layer="warm")
        self.ledger.verify(self._check_knn(Q, res, dict(zip(self.items, self.V)), set(), None), "warm-up query")

    def _vectors(self, n: int) -> np.ndarray:
        return clustered_vectors(self.rng, n, self.centers, 0.7)

    def unit(self) -> None:
        base = self.store
        store = VectorStore(
            base.df, base.metric, base.dim, base.backend_type, base.strategy,
            count=self.N, next_id=self.N,
        )
        vec_of = dict(zip(self.items, self.V))
        deleted: "set[str]" = set()
        probe = None  # (item, vector) inserted last, asked for next
        repeat = False  # ask the last query's vectors again
        inserts = 0
        for op in self.PATTERN:
            self.ops += 1
            if op == "Q":
                if not repeat:
                    Q = self._vectors(self.BATCH_Q)
                if probe is not None:
                    Q[0] = probe[1]
                res = self.ledger.call("query", lambda: store.query(Q, k=K))
                (self.query_lat_after if inserts else self.query_lat_before).append(self.ledger.last_s)
                self.ledger.verify(self._check_knn(Q, res, vec_of, deleted, probe), "query")
                probe, repeat = None, False
            elif op == "T":
                T = self._vectors(self.BATCH_Q)
                hits = self.ledger.call(
                    "query_threshold", lambda: store.query_threshold(T, threshold=self.THRESHOLD)
                )
                self.ledger.verify(self._check_threshold(T, hits, vec_of, deleted), "query_threshold")
            elif op == "I":
                X = self._vectors(self.INSERT_ROWS)
                new = [f"ins-{self.units}-{inserts}-{j}" for j in range(self.INSERT_ROWS)]
                self.ledger.call("insert", lambda: store.insert(new, X))
                self.write_lat.append(self.ledger.last_s)
                vec_of.update(zip(new, X))
                probe = (new[0], X[0])
                inserts += 1
            elif op == "D":
                # the last query's top hit per vector: the next query
                # repeats those vectors and must not see them again
                gone = list(dict.fromkeys(r[0][0] for r in res if r))[: self.DELETE_ITEMS]
                self.ledger.call("delete", lambda: store.delete(gone))
                self.write_lat.append(self.ledger.last_s)
                deleted.update(gone)
                repeat = True
        self.units += 1

    def _check_knn(self, Q, res, vec_of, deleted, probe) -> "list[str]":
        if len(res) != len(Q):
            return [f"{len(res)} result lists for {len(Q)} queries"]
        problems = []
        for qi, hits in enumerate(res):
            if len(hits) != K:
                problems.append(f"query {qi}: {len(hits)} rows, expected {K}")
                continue
            dists = [d for _, d in hits]
            if dists != sorted(dists):
                problems.append(f"query {qi}: distances not ascending")
            for item, d in hits:
                if item in deleted:
                    problems.append(f"query {qi}: deleted item {item} returned")
                elif item not in vec_of:
                    problems.append(f"query {qi}: unknown item {item}")
                elif abs(d - cosine_dist(Q[qi], vec_of[item])) > 1e-4:
                    problems.append(f"query {qi}: distance of {item} is {d}")
        if probe is not None and res[0] and (res[0][0][0] != probe[0] or res[0][0][1] > 1e-6):
            problems.append(f"just-inserted {probe[0]} not at rank 1: {res[0][0]}")
        return problems

    def _check_threshold(self, Q, res, vec_of, deleted) -> "list[str]":
        if len(res) != len(Q):
            return [f"{len(res)} result lists for {len(Q)} queries"]
        problems = []
        for qi, hits in enumerate(res):
            for item, d in hits:
                if item in deleted:
                    problems.append(f"threshold {qi}: deleted item {item} returned")
                elif item not in vec_of:
                    problems.append(f"threshold {qi}: unknown item {item}")
                elif d > self.THRESHOLD + 1e-6 or abs(d - cosine_dist(Q[qi], vec_of[item])) > 1e-4:
                    problems.append(f"threshold {qi}: distance of {item} is {d}")
        return problems

    # ---- metrics ------------------------------------------------------
    def end_to_end(self, measured_s: float) -> "dict[str, float]":
        return {
            "work_per_s": self.ops / measured_s,
            "query_s": median(self.query_lat_before + self.query_lat_after),
        }

    def per_layer(self) -> "dict[str, float]":
        if not (self.query_lat_before and self.query_lat_after):
            return {}
        return {"store.query_after_write_ratio": median(self.query_lat_after) / median(self.query_lat_before)}

    def report(self, measured_s: float) -> "list[str]":
        q = self.query_lat_before + self.query_lat_after
        p, tv, n = tail(q)
        return [
            f"query_p50_s = {median(q):.6g} s",
            f"query_tail_s = {tv:.6g} s (p{p:g} of {n} queries)",
            f"write_p50_s = {median(self.write_lat):.6g} s ({len(self.write_lat)} inserts and deletes)",
            f"ops_per_s = {self.ops / measured_s:.6g} 1/s ({self.ops} facade calls)",
        ]


# ---------------------------------------------------------------------------
class Batch(Workload):
    """Offline pipeline over a document corpus: curate it, index the
    survivors' embeddings and answer a batch of queries.

    Curation is text near-dup removal (``neardup_dedup``) and then
    semantic dedup (``semdedup``) of the survivors' embeddings against
    preset centroids; planted text groups and embedding pairs fix the
    expected survivors exactly. IVF and IVF-PQ stores are then built over
    the curated vectors with ``VectorStore.from_dataframe`` and one batch
    of queries is answered with ``query_df`` on each of them and on an
    exact store, all with the library's default routing. The IVF-PQ
    store takes the IVF store's coarse centroids (normalised, as IVF-PQ
    clusters unit vectors for cosine), so KMeans is timed once per round
    and the IVF-PQ build times codebook training and encoding."""

    N, NQ = 6_000, 200
    TOKENS, VOCAB = 30, 50_000
    TEXT_GROUPS = 600  # each: a base doc, 1-2 one-token edits, sometimes an exact copy
    EMB_PAIRS = 300
    N_CENTROIDS = 64
    MAX_DISTANCE = 0.02
    IVF = dict(nlist=64, nprobe=8)
    IVFPQ = dict(nlist=64, nprobe=8, m=8, ksub=64, refine=8)
    CHECKED_QUERIES = 20

    def __init__(self, spark, ledger, seed: int):
        self.spark, self.ledger = spark, ledger
        self.rng = np.random.default_rng(seed)
        self.docs = self.qdf = None
        self.stage_s: "dict[str, list[float]]" = {"neardup": [], "semdedup": [], "build": []}
        self.exact_s: "list[float]" = []
        self.ann_s: "list[float]" = []
        self.removed: "list[int]" = []
        self.pairs_per_flag: "list[float]" = []
        self.recall: "dict[str, list[float]]" = {"ivf": [], "ivfpq": []}
        self.candidates: "list[float]" = []
        self.units = 0

    def _generate(self):
        rng, n = self.rng, self.N
        toks = rng.integers(0, self.VOCAB, size=(n, self.TOKENS))
        group = np.arange(n)  # text group = id of the group's base doc
        cursor = 0
        for _ in range(self.TEXT_GROUPS):
            base = cursor
            edits = int(rng.integers(1, 3))
            exact = int(rng.random() < 0.3)
            for j in range(1, edits + exact + 1):
                toks[base + j] = toks[base]
                if j <= edits:  # edit the last, or the first, token
                    toks[base + j, -1 if j == 1 else 0] = rng.integers(0, self.VOCAB)
                group[base + j] = base
            cursor += edits + exact + 1
        texts = [" ".join(f"w{t}" for t in row) for row in toks]
        C = rng.standard_normal((self.N_CENTROIDS, DIM))
        E = clustered_vectors(rng, n, C, 1.0)
        # embedding pairs among text singletons: the later doc is a
        # near-copy of the earlier one, so semdedup keeps the earlier
        pick = rng.choice(np.arange(cursor, n), size=2 * self.EMB_PAIRS, replace=False).reshape(-1, 2)
        pick.sort(axis=1)
        E[pick[:, 1]] = E[pick[:, 0]] + 1e-3 * rng.standard_normal((self.EMB_PAIRS, DIM))
        self.expected_text = {int(i) for i in np.flatnonzero(group == np.arange(n))}
        self.expected_final = self.expected_text - {int(i) for i in pick[:, 1]}
        self.centroids, self.E = C, E
        self.Q = clustered_vectors(rng, self.NQ, C, 1.0)
        pdf = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts, "emb": list(E)})
        return self.spark.createDataFrame(pdf, "doc_id long, text string, emb array<float>")

    def setup(self) -> None:
        for df in (self.docs, self.qdf):
            if df is not None:
                df.unpersist()
        self.docs = self._generate()
        self.qdf = self.spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(self.NQ, dtype=np.int64), "qvec": list(self.Q)}),
            "query_id long, qvec array<float>",
        )
        materialize(self.docs)
        materialize(self.qdf)

    def unit(self) -> None:
        surv = self._neardup()
        corpus = self._semdedup(surv)
        stores = {}
        for name, params in (("ivf", self.IVF), ("ivfpq", self.IVFPQ)):
            if name == "ivfpq":
                params = dict(params, centroids=unit_rows(stores["ivf"].strategy.centroids))

            def build(name=name, params=params):
                s = VectorStore.from_dataframe(corpus, backend_type=name, metric="cosine", **params)
                materialize(s.df)
                return s

            stores[name] = self.ledger.call(f"build.{name}", build)
            self.stage_s["build"].append(self.ledger.last_s)
            n = stores[name].df.count()
            if n != len(self.expected_final):
                self.ledger.verify([f"index holds {n} rows, expected {len(self.expected_final)}"], f"build.{name}")

        exact = self.ledger.call(
            "knn.basic", lambda: self._knn(VectorStore.from_dataframe(corpus, backend_type="basic", metric="cosine"))
        )
        self.exact_s.append(self.ledger.last_s)
        self.ledger.verify(self._check_exact(exact), "knn.basic")
        for name, store in stores.items():
            ann = self.ledger.call(f"knn.{name}", lambda store=store: self._knn(store))
            self.ann_s.append(self.ledger.last_s)
            hits = [len({i for i, _ in ann.get(q, [])} & {i for i, _ in exact[q]}) / K for q in exact]
            self.recall[name].append(float(np.mean(hits)))
            self.ledger.verify(self._check_rows(ann), f"knn.{name}")
        self.candidates.append(self._ivf_candidates_per_result(stores["ivf"]))
        for df in [surv, corpus] + [s.df for s in stores.values()]:
            df.unpersist()
        self.units += 1

    def _neardup(self):
        def near():
            surv = dedup.neardup_dedup(self.docs, text_col="text", id_col="doc_id")
            materialize(surv)
            return surv

        surv = self.ledger.call("neardup_dedup", near)
        self.stage_s["neardup"].append(self.ledger.last_s)
        got = {r[0] for r in surv.select("doc_id").collect()}
        self.removed.append(self.N - len(got))
        self.ledger.verify(self._diff(got, self.expected_text), "neardup_dedup")
        return surv

    def _semdedup(self, surv):
        """The canonical survivors' embeddings as an (id, vector) corpus."""
        def sem():
            labels = cluster.semdedup(surv, self.centroids, self.MAX_DISTANCE, vector_col="emb", id_col="doc_id")
            canonical = labels.where("is_canonical").select(F.col("id").alias("doc_id"))
            corpus = surv.join(canonical, "doc_id").select(F.col("doc_id").alias("id"), F.col("emb").alias("vector"))
            materialize(corpus)
            return corpus

        corpus = self.ledger.call("semdedup", sem)
        self.stage_s["semdedup"].append(self.ledger.last_s)
        kept = {r[0] for r in corpus.select("id").collect()}
        self.ledger.verify(self._diff(kept, self.expected_final), "semdedup")
        if self.ledger.tracer.traced:
            sizes = cluster.cluster_stats(surv, self.centroids, vector_col="emb").select("n_rows").collect()
            flagged = self.N - self.removed[-1] - len(kept)
            self.pairs_per_flag.append(sum(r[0] ** 2 for r in sizes) / max(1, flagged))
        return corpus

    def _knn(self, store) -> "dict[int, list[tuple[int, float]]]":
        rows = store.query_df(self.qdf, k=K).select("query_id", "id", "distance", "rank").collect()
        out: "dict[int, list[tuple[int, float]]]" = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append((r["id"], r["distance"]))
        return out

    def _ivf_candidates_per_result(self, store) -> float:
        """Summed sizes of the probed inverted lists per (query × k),
        from the index's public ``__cluster`` column and centroids."""
        sizes = dict(store.df.groupBy("__cluster").count().collect())
        C = store.strategy.centroids
        nprobe = min(self.IVF["nprobe"], len(C))
        d = ((self.Q.astype(np.float64)[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        probed = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return sum(sizes.get(int(c), 0) for c in probed.ravel()) / (self.NQ * K)

    @staticmethod
    def _diff(got: set, want: set) -> "list[str]":
        if got == want:
            return []
        return [f"{len(got)} survivors, expected {len(want)}; "
                f"{len(got - want)} unexpected, {len(want - got)} missing"]

    def _check_rows(self, res) -> "list[str]":
        problems = []
        if sorted(res) != list(range(self.NQ)):
            problems.append(f"{len(res)} queries answered, expected {self.NQ}")
        for qi, hits in res.items():
            if len(hits) != K:
                problems.append(f"query {qi}: {len(hits)} rows")
            for i, d in hits:
                if i not in self.expected_final:
                    problems.append(f"query {qi}: id {i} is not in the curated corpus")
                elif abs(d - cosine_dist(self.Q[qi], self.E[i])) > 1e-4:
                    problems.append(f"query {qi}: distance of {i} is {d}")
        return problems

    def _check_exact(self, res) -> "list[str]":
        """Rows are well formed, and a sample of queries match a numpy
        brute-force top-k (ids within float tolerance of the k-th)."""
        problems = self._check_rows(res)
        ids = np.array(sorted(self.expected_final))
        Vn = unit_rows(self.E[ids])
        for qi in self.rng.choice(self.NQ, size=self.CHECKED_QUERIES, replace=False):
            d = dict(zip(ids.tolist(), 1.0 - Vn @ unit_rows(self.Q[qi : qi + 1])[0]))
            kth = np.partition(list(d.values()), K - 1)[K - 1]
            got = [i for i, _ in res.get(int(qi), [])]
            if len(got) != K or any(d.get(i, np.inf) > kth + 1e-6 for i in got):
                problems.append(f"query {qi}: exact top-{K} differs from numpy")
        return problems

    # ---- metrics ------------------------------------------------------
    def end_to_end(self, measured_s: float) -> "dict[str, float]":
        return {
            "work_per_s": self.N * self.units / measured_s,
            "query_s": (sum(self.exact_s) + sum(self.ann_s)) / self.units,
        }

    def per_layer(self) -> "dict[str, float]":
        out = {f"backends.{b}.recall_at_10": median(r) for b, r in self.recall.items() if r}
        if self.candidates:
            out["backends.ivf.candidates_per_result"] = median(self.candidates)
        if self.removed:
            out["operators.dedup.neardup_dedup.removed"] = median(self.removed)
        if self.pairs_per_flag:
            out["operators.cluster.pairs_per_flag"] = median(self.pairs_per_flag)
        return out

    def report(self, measured_s: float) -> "list[str]":
        curate_s = sum(self.stage_s["neardup"]) + sum(self.stage_s["semdedup"])
        return [
            f"docs_per_s = {self.N * self.units / curate_s:.6g} 1/s (N={self.N} docs, two curation stages)",
            f"build_s = {sum(self.stage_s['build']) / self.units:.6g} s "
            f"(IVF plus IVF-PQ over {len(self.expected_final)} curated vectors)",
            f"exact_qps = {self.NQ * len(self.exact_s) / sum(self.exact_s):.6g} 1/s",
            f"ann_qps = {self.NQ * len(self.ann_s) / sum(self.ann_s):.6g} 1/s",
            f"recall_at_10 = {min(median(v) for v in self.recall.values()):.6g} (lower of IVF, IVF-PQ)",
        ]


WORKLOADS = {"serve": Serve, "batch": Batch}
