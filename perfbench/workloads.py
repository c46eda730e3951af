"""The three workloads.  Each is a closed loop with one client: the next
operation is sent only after the previous one returned and was checked.

A run sets up ``SETUP_REPEATS`` times (the last set-up is kept), then
repeats whole rounds of the same operations until ``seconds`` have passed,
so every run attempts the same mix.  Timings are taken around the calls
into the engine's public functions; checks run outside the timed region.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np

from checks import (
    CheckFailed,
    check_dedup,
    check_finds_self,
    check_index_info,
    check_knn,
    check_same_rows,
)
from gen import Corpus, DocGen, centers, clustered, write_vectors
from spans import median

K = 10
BATCH = 256
DIM = 64
SETUP_REPEATS = 3
# cluster spread against unit-variance centres: wide enough that the
# approximate indexes miss some true neighbours, so recall can move
SPREAD = 0.7


class Run:
    """Operation accounting, timings and the loop for one run."""

    def __init__(self, spark, eng, workdir, seed, seconds, tracer, sentinel, memory):
        self.spark, self.eng, self.workdir = spark, eng, workdir
        self.seed, self.seconds = seed, seconds
        self.tracer, self.sentinel, self.memory = tracer, sentinel, memory
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.rounds: list[float] = []
        self.setup_s: list[float] = []
        self.build_s: dict[str, list[float]] = defaultdict(list)
        self.recall = [0, 0]  # true neighbours returned, rows returned
        self.files: dict[str, list[int]] = defaultdict(list)
        self.extra: dict[str, float] = {}
        self.recording = True  # False during the warm-up round

    # ---------------------------------------------------------- operations
    def op(self, kind: str, run, check=None):
        """Time ``run()``, then ``check`` its output.  An exception or a
        failed check marks this one operation failed; the run goes on."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.span("op." + kind, spark=True):
                out = run()
            dt = time.perf_counter() - t0
            if check is not None:
                check(out)
        except Exception as e:  # noqa: BLE001 - the loop must keep running
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:400])
            return None
        if self.recording:
            self.lat[kind].append(dt)
        return out

    def collect(self, api: str, call):
        """The engine call (until a DataFrame is returned), then collect."""
        with self.tracer.span("engine.call", api=api):
            df = call()
        with self.tracer.span("spark.collect"):
            return df.collect()

    def build(self, kind: str, fn) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("index.build", kind=kind):
            fn()
        self.build_s[kind].append(time.perf_counter() - t0)

    def setups(self, fn) -> None:
        """Set up ``SETUP_REPEATS`` times; ``fn()`` sets up from scratch.
        The last set-up is the one the rounds run on."""
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                fn()
            self.setup_s.append(time.perf_counter() - t0)
            self.memory.sample()

    def loop(self, round_fn, warm: bool = True) -> None:
        """An optional warm-up round (checked and counted, not timed or
        traced), then whole rounds while at least half of the next one,
        judged by the last, fits in ``seconds``; at least one round."""
        if warm:
            tracing, self.tracer.enabled, self.recording = self.tracer.enabled, False, False
            round_fn(0)
            self.tracer.enabled, self.recording = tracing, True
        t_end = time.perf_counter() + self.seconds
        i = 1
        while True:
            self.sentinel.tick()
            self.memory.sample()
            t0 = time.perf_counter()
            with self.tracer.span("round", spark=True):
                round_fn(i)
            t1 = time.perf_counter()
            self.rounds.append(t1 - t0)
            i += 1
            if t1 + 0.5 * self.rounds[-1] > t_end:
                break
        self.sentinel.tick()
        self.memory.sample()

    # ------------------------------------------------------------ checks
    def knn_check(self, corpus: Corpus, q, kth, exact: bool):
        """A check for one query's (id, _distance) rows."""

        def check(rows):
            hits = check_knn(
                [r["id"] for r in rows], [r["_distance"] for r in rows],
                q, kth, corpus, K, exact,
            )
            if self.recording:
                self.recall[0] += hits
                self.recall[1] += K

        return check

    def batch_check(self, corpus: Corpus, qs, kths, exact: bool, key: str = "query_idx"):
        def check(rows):
            per_q = defaultdict(list)
            for r in rows:
                per_q[int(r[key])].append(r)
            if sorted(per_q) != list(range(len(qs))):
                raise CheckFailed(f"results for {len(per_q)} of {len(qs)} queries")
            for i, q in enumerate(qs):
                group = per_q[i]
                if key != "query_idx":  # table output order is not per query
                    group = sorted(group, key=lambda r: (r["_distance"], r["id"]))
                self.knn_check(corpus, q, kths[i], exact)(group)

        return check


def _sql_vector(q) -> str:
    return "array(" + ", ".join(f"CAST({float(v)!r} AS FLOAT)" for v in q) + ")"


def sql_statement(table: str, q) -> str:
    return f"SELECT * FROM {table} ORDER BY array_distance(vec, {_sql_vector(q)}) LIMIT {K}"


def _register(run: Run, name: str, path: str) -> None:
    run.eng.register_table(name, run.spark.read.parquet(path), row_id="id")


def _drop_all(run: Run) -> None:
    for m in run.eng.catalog.all():
        run.eng.drop_index(m.name)


# ================================================================ serve_local
LOCAL_N = 50_000
LOCAL_SINGLES_PER_ROUND = 6


def serve_local(run: Run) -> dict:
    """Single queries and 256-query batches answered in-process
    (``local=True``) from a FAISS Flat index's driver snapshot."""
    rng = np.random.default_rng(run.seed)
    c = centers(rng, 64, DIM)
    x = clustered(rng, c, LOCAL_N, SPREAD)
    ids = np.arange(LOCAL_N, dtype=np.int64)
    path = f"{run.workdir}/serve_local.parquet"
    write_vectors(path, ids, x)
    corpus = Corpus(ids, x)
    singles = clustered(rng, c, 32, SPREAD)
    batches = [clustered(rng, c, BATCH, SPREAD) for _ in range(2)]
    kth_single = corpus.kth(singles, K)
    kth_batch = [corpus.kth(b, K) for b in batches]
    eng = run.eng

    def setup():
        _drop_all(run)
        _register(run, "vecs", path)
        run.build("flat", lambda: eng.create_index(
            "flat", "vecs", "vec", engine="faiss", index_type="Flat"))
        eng.ann_search("vecs", "flat", singles[0].tolist(), K, local=True).collect()

    run.setups(setup)
    state = dict(single=0)

    def round_fn(i):
        for _ in range(LOCAL_SINGLES_PER_ROUND):
            j = state["single"] % len(singles)
            state["single"] += 1
            q = singles[j]
            run.op("query", lambda: run.collect("ann_search", lambda: eng.ann_search(
                "vecs", "flat", q.tolist(), K, local=True)),
                run.knn_check(corpus, q, kth_single[j], exact=True))
        b = i % len(batches)
        run.op("batch", lambda: run.collect("ann_search_batch", lambda: eng.ann_search_batch(
            "vecs", "flat", batches[b].tolist(), K, local=True)),
            run.batch_check(corpus, batches[b], kth_batch[b], exact=True))

    run.loop(round_fn)
    info = {r["name"]: r for r in eng.ann_index_info().collect()}
    final_ok = int(info["flat"]["num_vectors"]) == LOCAL_N
    return dict(corpus_x=x, sql=sql_statement("vecs", singles[0]), final_ok=final_ok,
                batch_op="batch")


# ================================================================ serve_spark
SPARK_N = 5_000
GRAPH_PARAMS = dict(max_degree=24, build_complexity=48)
TABLE_QUERIES = 64
SPARK_SINGLES_PER_ROUND = 6


def serve_spark(run: Run) -> dict:
    """Single queries, 256-query batches, table-input search and the SQL
    rewrite, all on the distributed path against one DiskANN graph."""
    rng = np.random.default_rng(run.seed)
    c = centers(rng, 64, DIM)
    x = clustered(rng, c, SPARK_N, SPREAD)
    ids = np.arange(SPARK_N, dtype=np.int64)
    path = f"{run.workdir}/serve_spark.parquet"
    write_vectors(path, ids, x)
    corpus = Corpus(ids, x)
    singles = clustered(rng, c, 32, SPREAD)
    batch = clustered(rng, c, BATCH, SPREAD)
    table_q = clustered(rng, c, TABLE_QUERIES, SPREAD)
    kth_single = corpus.kth(singles, K)
    kth_batch = corpus.kth(batch, K)
    kth_table = corpus.kth(table_q, K)
    eng, spark = run.eng, run.spark
    qdf_rows = [(i, q.tolist()) for i, q in enumerate(table_q)]

    def setup():
        _drop_all(run)
        _register(run, "vecs", path)
        run.build("graph", lambda: eng.create_index(
            "graph", "vecs", "vec", engine="diskann", **GRAPH_PARAMS))
        eng.ann_search("vecs", "graph", singles[0].tolist(), K).collect()

    run.setups(setup)
    qdf = spark.createDataFrame(qdf_rows, "qid int, q array<float>").cache()
    qdf.count()
    state = dict(single=0)
    sql_hits = [0, 0]

    def round_fn(i):
        served = []
        for _ in range(SPARK_SINGLES_PER_ROUND):
            j = state["single"] % len(singles)
            state["single"] += 1
            q = singles[j]
            rows = run.op("query", lambda: run.collect("ann_search", lambda: eng.ann_search(
                "vecs", "graph", q.tolist(), K)),
                run.knn_check(corpus, q, kth_single[j], exact=False))
            served.append((j, rows))
        run.op("batch", lambda: run.collect("ann_search_batch", lambda: eng.ann_search_batch(
            "vecs", "graph", batch.tolist(), K)),
            run.batch_check(corpus, batch, kth_batch, exact=False))
        run.op("table", lambda: run.collect("ann_search_table", lambda: eng.ann_search_table(
            qdf, "vecs", "graph", K, query_col="q")),
            run.batch_check(corpus, table_q, kth_table, exact=False, key="qid"))
        for j, rows in served[:2]:
            stmt = sql_statement("vecs", singles[j])
            explain: dict = {}

            def check(out, rows=rows, explain=explain):
                sql_hits[1] += 1
                if not explain.get("rewritten"):
                    raise CheckFailed(f"SQL not rewritten: {explain.get('reason')}")
                sql_hits[0] += 1
                if rows is None:
                    raise CheckFailed("no ann_search result to compare with")
                check_same_rows([r["id"] for r in out], [r["id"] for r in rows],
                                "SQL rewrite vs ann_search")

            run.op("sql", lambda stmt=stmt, explain=explain: run.collect(
                "sql", lambda: eng.sql(stmt, explain=explain)), check)

    run.loop(round_fn)
    qdf.unpersist()
    run.extra["plans.rewrite_hits"] = sql_hits[0]
    run.extra["plans.statements"] = sql_hits[1]
    info = {r["name"]: r for r in eng.ann_index_info().collect()}
    final_ok = int(info["graph"]["num_vectors"]) == SPARK_N
    return dict(corpus_x=x, sql=sql_statement("vecs", singles[0]), final_ok=final_ok,
                batch_op="batch")


# ===================================================================== ingest
INGEST_N = 5_000
IVF_PARAMS = dict(ivf_nlist=32)
NPROBE = 2
FAMILIES, SINGLETONS = 30, 60
DELETE_PER_ROUND = 60
DEDUP = dict(threshold=0.8, num_hashes=16, bands=8)


def _count_files(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(
        1 for _root, _dirs, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def ingest(run: Run) -> dict:
    """An LLM-data ingest loop writing beside reads on one table that
    carries a Flat and an IVF-Flat index."""
    from duckdb_annsearch_spark import dedup_fuzzy

    rng = np.random.default_rng(run.seed)
    c = centers(rng, 64, DIM)
    x0 = clustered(rng, c, INGEST_N, SPREAD)
    ids0 = np.arange(INGEST_N, dtype=np.int64)
    path = f"{run.workdir}/ingest.parquet"
    write_vectors(path, ids0, x0)
    reads = clustered(rng, c, 64, SPREAD)
    docs = DocGen(rng, first_id=1_000_000)
    eng, spark = run.eng, run.spark
    names = ["flat", "ivf"]

    def setup():
        _drop_all(run)
        _register(run, "docs", path)
        run.build("flat", lambda: eng.create_index(
            "flat", "docs", "vec", engine="faiss", index_type="Flat"))
        run.build("ivf", lambda: eng.create_index(
            "ivf", "docs", "vec", engine="faiss", index_type="IVFFlat", **IVF_PARAMS))
        eng.ann_search("docs", "ivf", reads[0].tolist(), K, nprobe=NPROBE).collect()

    run.setups(setup)
    live = {"ids": ids0.copy(), "x": x0.copy()}
    model = {"corpus": Corpus(ids0, x0)}
    state = dict(read=0, compact=0)
    dedup_stats = defaultdict(list)

    def read(q=None, self_id=None):
        if q is None:
            j = state["read"] % len(reads)
            state["read"] += 1
            q = reads[j]
        corpus = model["corpus"]
        kth = corpus.kth(q[None, :], K)[0]
        knn = run.knn_check(corpus, q, kth, exact=False)

        def check(rows):
            knn(rows)
            if self_id is not None:
                check_finds_self([r["id"] for r in rows], [r["_distance"] for r in rows], self_id)

        run.op("query", lambda: run.collect("ann_search", lambda: eng.ann_search(
            "docs", "ivf", q.tolist(), K, nprobe=NPROBE)), check)

    def set_live(ids, x):
        live["ids"], live["x"] = ids, x
        model["corpus"] = Corpus(ids, x)

    def round_fn(i):
        rows, family = docs.batch(FAMILIES, SINGLETONS)
        ddf = spark.createDataFrame(rows, "doc_id long, text string")
        out = run.op("dedup", lambda: run.collect("dedup_fuzzy", lambda: dedup_fuzzy(
            ddf, "text", "doc_id", **DEDUP)), lambda out: dedup_stats["out"].append(
            check_dedup([(r["doc_id"], r["cluster"], r["keep"]) for r in out], family)))
        if out is not None:
            survivors, recall = dedup_stats["out"][-1]
            dedup_stats["pair_recall"].append(recall)
        else:  # keep the round whole: go on with the planted survivors
            survivors = sorted(set(family.values()))
        dedup_stats["docs"].append(len(rows))
        new_ids = np.asarray(survivors, dtype=np.int64)
        new_x = clustered(rng, c, len(new_ids), SPREAD)
        new_df = spark.createDataFrame(
            [(int(a), v.tolist()) for a, v in zip(new_ids, new_x)], "id long, vec array<float>")
        run.op("insert", lambda: eng.insert("docs", new_df))
        set_live(np.concatenate([live["ids"], new_ids]), np.concatenate([live["x"], new_x]))
        run.files["delta"].append(_count_files(eng.catalog.delta_path("ivf")))
        read(q=new_x[0], self_id=int(new_ids[0]))
        read()
        gone = live["ids"][:DELETE_PER_ROUND].tolist()
        run.op("delete", lambda: eng.delete("docs", gone))
        set_live(live["ids"][DELETE_PER_ROUND:], live["x"][DELETE_PER_ROUND:])
        run.files["tombstone"].append(_count_files(eng.catalog.tombstone_path("ivf")))
        read()

        def vacuum():
            for n in names:
                eng.vacuum(n)

        run.op("vacuum", vacuum, lambda _: check_index_info(
            eng.ann_index_info().collect(), names, len(live["ids"])))
        # insert/delete rebind the registered relation as a union /
        # anti-join chain that vacuum leaves in place; rewriting it keeps
        # every round's plans the same size
        state["compact"] += 1
        compact_path = f"{run.workdir}/docs-{state['compact']}.parquet"
        run.op("compact", lambda: (
            eng.table("docs").df.write.parquet(compact_path),
            _register(run, "docs", compact_path)))

    # one round costs about the whole window, so there is no warm-up
    # round: the first round pays the write paths' first-use cost, as a
    # freshly started ingest job does
    run.loop(round_fn, warm=False)
    run.extra["dedup_pair_recall"] = median(dedup_stats["pair_recall"])
    run.extra["dedup_docs"] = median(dedup_stats["docs"])
    n_table = eng.table("docs").df.count()
    final_ok = n_table == len(live["ids"])
    return dict(corpus_x=x0, sql=sql_statement("docs", reads[0]), final_ok=final_ok,
                batch_op="dedup", docgen=docs, dedup_kw=DEDUP)


WORKLOADS = {"serve_local": serve_local, "serve_spark": serve_spark, "ingest": ingest}
