"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of this repository.  Prints a ``# host``
line (the host-speed sentinel), a ``# detail`` line (the workload's own
operation metrics, attempted/failed counts and, with ``--trace 1``, the
per-operation layer breakdown) and, last, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Spans of a traced run are written to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

# one BLAS thread everywhere: the client, the JVM's Python workers (they
# inherit this environment) and the host sentinel
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"

SPARK_CORES = min(4, os.cpu_count() or 4)
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(workdir: str):
    """The engine's own session on ``SPARK_CORES`` cores in a fresh JVM,
    with every scratch directory inside ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join([
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={tmp}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
    ])
    from duckdb_annsearch_spark.session import get_spark

    return get_spark("perfbench", SPARK_CORES)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each process has ended."""
    from pyspark import SparkContext

    from spans import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def declared_metrics(root: str) -> tuple[dict, dict]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(os.path.join(root, "duckdb_annsearch_spark")):
        print(f"no engine package under {root}: run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [here, root]
    try:
        import duckdb_annsearch_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_metrics(root)

    import metrics
    from spans import HostSentinel, SparkCounters, Tracer, TreeMemory
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(root, ".perfbench")
    workdir = os.path.join(out_dir, f"work-{os.getpid()}")
    sentinel, memory = HostSentinel(), TreeMemory()
    sentinel.tick()
    spark = start_spark(workdir)
    try:
        from duckdb_annsearch_spark import AnnEngine

        eng = AnnEngine(spark, workdir=os.path.join(workdir, "engine"))
        tracer = Tracer(SparkCounters(spark.sparkContext), enabled=bool(args.trace))
        run = Run(spark, eng, workdir, args.seed, args.seconds, tracer, sentinel, memory)
        info = WORKLOADS[args.workload](run)
        if args.trace:
            values, detail = metrics.per_layer(run, info)
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
        else:
            values, detail = metrics.end_to_end(run, info)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    units = layer_units if args.trace else e2e_units
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    detail.update(attempted=run.attempted, failed=run.failed, rounds=len(run.rounds),
                  ops={k: len(v) for k, v in sorted(run.lat.items())}, errors=run.errors[:5])
    print("# host " + json.dumps({"host.gemm_ms": sentinel.summary()}))
    print("# detail " + json.dumps(detail))
    print(json.dumps(dict(
        correct=bool(info["final_ok"]),
        attempted=run.attempted,
        failed=run.failed,
        metrics={n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    )))
    return 0


if __name__ == "__main__":
    sys.exit(main())
