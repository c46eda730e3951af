"""Metrics from one run: end-to-end (tracing off) and per-layer (traced)."""

from __future__ import annotations

import time

import numpy as np

from spans import median
from workloads import BATCH, FAMILIES, K, SINGLETONS, TABLE_QUERIES

SPARK_KEYS = ("jobs", "stages", "tasks", "shuffle_bytes", "executor_cpu_ms", "nonjob_ms")


def _p50_ms(run, kind: str) -> float:
    return median(run.lat[kind]) * 1e3


def _per_setup_build(run) -> list[float]:
    """Index build seconds of each set-up (all of its indexes)."""
    return [sum(v) for v in zip(*run.build_s.values())]


def _batch_items_per_s(run, info) -> float:
    """Items per second through the workload's batch operation: queries
    of a 256-query search batch, or documents through ``dedup_fuzzy``."""
    if info["batch_op"] == "dedup":
        return run.extra["dedup_docs"] / median(run.lat["dedup"])
    return BATCH / median(run.lat["batch"])


def _op_detail(run) -> dict:
    """The workload's own operations, by name."""
    d = {}
    lat = run.lat
    if lat.get("table"):
        d["table_qps"] = TABLE_QUERIES / median(lat["table"])
    if lat.get("sql"):
        d["sql_p50_ms"] = _p50_ms(run, "sql")
    for kind in ("insert", "delete"):
        if lat.get(kind):
            d[f"{kind}_p50_ms"] = _p50_ms(run, kind)
    if lat.get("vacuum"):
        d["vacuum_s"] = median(lat["vacuum"])
    if lat.get("dedup"):
        d["dedup_docs_per_s"] = run.extra["dedup_docs"] / median(lat["dedup"])
        d["dedup_pair_recall"] = run.extra["dedup_pair_recall"]
    return {k: round(v, 6) for k, v in d.items()}


def end_to_end(run, info) -> tuple[dict, dict]:
    values = dict(
        setup_s=median(run.setup_s),
        build_s=median(_per_setup_build(run)),
        query_p50_ms=_p50_ms(run, "query"),
        batch_items_per_s=_batch_items_per_s(run, info),
        round_s=median(run.rounds),
        recall_at_10=run.recall[0] / max(1, run.recall[1]),
        peak_rss_mib=run.memory.peak_mib,
    )
    return values, _op_detail(run)


def _time_us(fn, reps: int) -> float:
    fn()
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts) * 1e6


def _kernel_metrics(x: np.ndarray, seed: int) -> dict:
    """``pairwise_distances`` and ``local_topk`` at the workload's shape."""
    from duckdb_annsearch_spark.index import kernels

    rng = np.random.default_rng(seed)
    q1 = x[rng.integers(0, len(x), 1)] + np.float32(0.01)
    qb = x[rng.integers(0, len(x), BATCH)] + np.float32(0.01)
    ids = np.arange(len(x), dtype=np.int64)
    row = kernels.pairwise_distances(q1, x, "l2")[0]
    return {
        "kernels.pairwise_us": _time_us(lambda: kernels.pairwise_distances(q1, x, "l2"), 200),
        "kernels.topk_us": _time_us(lambda: kernels.local_topk(row, K, ids=ids), 200),
        "kernels.pairwise_batch_ms": _time_us(
            lambda: kernels.pairwise_distances(qb, x, "l2"), 5) / 1e3,
    }


def _spark_per(tracer, span: str, role: str) -> dict:
    return {f"spark.{key}_per_{role}": median(tracer.spark(span, key)) for key in SPARK_KEYS}


def _match_ms(spark, stmt: str) -> float:
    from duckdb_annsearch_spark.plans import match_topk_sql

    return _time_us(lambda: match_topk_sql(spark, stmt), 20) / 1e3


def _pipeline_stages(run, info) -> dict:
    """The dedup pipeline's public stages, each forced in turn on a fresh
    batch, its input materialised as a driver-made frame."""
    from duckdb_annsearch_spark.pipeline.dedup import (
        duplicate_clusters,
        lsh_duplicate_pairs,
        minhash_signatures,
        verify_jaccard_pairs,
    )

    kw = info["dedup_kw"]
    spark, tracer = run.spark, run.tracer
    rows, _family = info["docgen"].batch(FAMILIES, SINGLETONS)
    ddf = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}

    def stage(name, fn):
        t0 = time.perf_counter()
        with tracer.span("pipeline." + name, spark=True):
            res = fn().collect()
        out[f"pipeline.{name}_ms"] = (time.perf_counter() - t0) * 1e3
        return res

    stage("minhash", lambda: minhash_signatures(ddf, "text", "doc_id", kw["num_hashes"]))
    cand = stage("lsh_pairs", lambda: lsh_duplicate_pairs(
        ddf, "text", "doc_id", kw["num_hashes"], kw["bands"]))
    cand_df = spark.createDataFrame([(r[0], r[1]) for r in cand], "doc_a long, doc_b long")
    ver = stage("verify", lambda: verify_jaccard_pairs(
        ddf, cand_df, "text", "doc_id", kw["threshold"]))
    ver_df = spark.createDataFrame([(r[0], r[1]) for r in ver], "doc_a long, doc_b long")
    stage("clusters", lambda: duplicate_clusters(ddf.select("doc_id"), ver_df, "doc_id"))
    out["pipeline.candidate_pairs"] = len(cand)
    out["pipeline.verified_pairs"] = len(ver)
    out["pipeline.verify_yield"] = len(ver) / max(1, len(cand))
    return out


def per_layer(run, info) -> tuple[dict, dict]:
    tracer = run.tracer
    values = dict(_kernel_metrics(info["corpus_x"], run.seed))
    batch = "op." + info["batch_op"]
    values["engine.call_ms"] = median(tracer.children("op.query", "engine.call"))
    values["engine.batch_call_ms"] = median(tracer.children(batch, "engine.call"))
    values["spark.collect_ms_per_query"] = median(tracer.children("op.query", "spark.collect"))
    values["spark.collect_ms_per_batch"] = median(tracer.children(batch, "spark.collect"))
    for span, role in (("op.query", "query"), (batch, "batch"), ("round", "round")):
        values.update(_spark_per(tracer, span, role))
    values["plans.match_ms"] = _match_ms(run.spark, info["sql"])
    values["plans.rewrite_hits"] = run.extra.get("plans.rewrite_hits", 0)
    values["index.build_s"] = median(_per_setup_build(run))
    values["catalog.delta_files"] = max(run.files["delta"], default=0)
    values["catalog.tombstone_files"] = max(run.files["tombstone"], default=0)

    detail = {f"index.build_{k}_s": median(v) for k, v in run.build_s.items()}
    for kind in sorted(run.lat):
        if kind in ("query", "batch"):
            continue
        detail.update(_spark_per(tracer, "op." + kind, kind))
        calls = tracer.children("op." + kind, "engine.call")
        if calls:
            detail[f"engine.{kind}_call_ms"] = median(calls)
    if "plans.statements" in run.extra:
        detail["plans.statements"] = run.extra["plans.statements"]
    if "docgen" in info:
        detail.update(_pipeline_stages(run, info))
    detail.update(_op_detail(run))
    # the end-to-end figures as this traced run saw them: set beside an
    # untraced run of the same seed they give the tracing overhead
    detail.update({"traced." + k: v for k, v in end_to_end(run, info)[0].items()})
    return values, {k: round(float(v), 6) for k, v in detail.items()}
