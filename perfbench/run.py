"""Benchmark of iceberg_playground_spark: one workload, one seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the repository root. It starts one Spark driver with
``local[nproc]``, sets the workload up from the seed, then repeats the
workload's round (one closed-loop client, the next operation sent when
the previous one returned) for ``--seconds`` seconds, finishing the
round in progress. Afterwards it checks the outputs and prints, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it holds the
workload's own figures (read and write latencies, ingest rate, stored
bytes) with their sample counts.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root and is removed at exit. Without the package next to
it the benchmark exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "iceberg_playground_spark", "__init__.py")
DRIVER_MEM = "1g"

WORKLOADS = ("ingest_microbatch", "query_cells")

END_TO_END = {
    "setup_s": "s",
    "run_wall_s": "s",
    "op_latency_p50_ms": "ms",
    "op_latency_tail_ms": "ms",
    "peak_rss_mb": "MB",
}

# layers whose calls the timed rounds make (session and loadgen run in set-up)
LAYERS = ("bench", "kafkawire", "ingest", "tables", "queries")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. A workload that does not
    call a layer reports 0 for that layer's metrics."""
    from wl_cells import CELLS

    units = {
        "session.get_spark_s": "s",
        "loadgen.gen_assets_s": "s",
        "kafkawire.decode_ms": "ms",
        "kafkawire.records": "count",
        "ingest.decode_construct_ms": "ms",
        "ingest.violations": "count",
        "tables.stage_append_ms": "ms",
        "tables.stage_append.jobs": "count",
        "tables.stage_append.tasks": "count",
        "tables.stage_append.executor_cpu_ms": "ms",
        "tables.commit_ms": "ms",
        "tables.commit_ms_tail": "ms",
        "tables.commit_ms_growth": "ratio",
        "tables.commit.distributed_footer_commits": "count",
        "tables.snapshot_bytes_head": "bytes",
        "tables.metadata_bytes_total": "bytes",
        "tables.data_file_entries": "count",
        "tables.commits": "count",
        "tables.read_construct_ms": "ms",
        "tables.read.jobs": "count",
        "tables.read.tasks": "count",
        "tables.read.executor_run_ms": "ms",
        "tables.read.driver_gap_ms": "ms",
        "tables.plan_files_ms": "ms",
        "tables.plan_files.pruned_ratio": "ratio",
    }
    for cell in CELLS:
        units[f"queries.{cell}_s"] = "s"
        units[f"queries.{cell}.jobs"] = "count"
        units[f"queries.{cell}.tasks"] = "count"
        units[f"queries.{cell}.shuffle_bytes"] = "bytes"
        units[f"queries.{cell}.max_task_over_median"] = "ratio"
        units[f"queries.{cell}.driver_gap_ms"] = "ms"
    for layer in LAYERS:
        units[f"self_ms.{layer}"] = "ms"
    units["trace.overhead_s"] = "s"
    units["trace.spans_per_round"] = "count"
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Point every temporary and warehouse path of Spark, the JVM and
    Python into ``work``; must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "iceberg-warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # executor-side Python workers import the package too
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
        # the tracer reads finished jobs back from the status store
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple[dict, dict]:
    from common import Bench, cpu_ticks, median, peak_rss_mb, timed_phase
    from tracer import Tracer

    t_start = time.perf_counter()
    from iceberg_playground_spark import session

    spark = session.get_spark(
        app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(work)
    )
    session_s = time.perf_counter() - t_start
    jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_pid = jvm_pid.pid if jvm_pid is not None else None
    try:
        if args.workload == "ingest_microbatch":
            from wl_ingest import IngestMicrobatch as W
        else:
            from wl_cells import QueryCells as W
        bench = Bench(
            spark=spark,
            tracer=Tracer(spark, enabled=False),
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            work=work,
            root=ROOT,
        )
        bench.layer_values["session.get_spark_s"] = session_s
        wl = W()
        wl.setup(bench)
        setup_s = time.perf_counter() - t_start
        steal0, total0 = cpu_ticks()
        timed_phase(bench, lambda i: wl.round(bench, i), wl.min_rounds)
        steal1, total1 = cpu_ticks()
        wl.verify(bench)
        rss = peak_rss_mb(jvm_pid)
    finally:
        _stop_spark(spark)

    walls = bench.round_walls[False]
    wall_s = sum(walls) + sum(bench.round_walls[True])
    timings = wl.timings(bench)
    failed = sum(1 for o in bench.ops if not o.ok)
    attempted = len(bench.ops)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "rounds": len(walls) + len(bench.round_walls[True]),
        "round_walls_s": [round(w, 3) for w in walls],
        "ops": timings["op_samples"],
        "op_latency_tail_pct": timings["op_latency_tail_pct"],
        "failed_op_ratio": failed / attempted if attempted else 0.0,
        # CPU time stolen from this machine while timing: a run that
        # reads slow with a high share met a busy host, not slow code
        "host_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        **wl.detail(bench, wall_s),
        "problems": bench.problems[:20],
    }
    if not args.trace:
        values = {**timings, "setup_s": setup_s, "peak_rss_mb": rss}
        units = END_TO_END
    else:
        units = per_layer_units()
        measured = {**bench.layer_values, **wl.layers(bench)}
        values = {k: measured.get(k, 0.0) for k in units}
        tr = bench.tracer
        rounds = tr.named("bench.round")
        for layer, ms in tr.self_ms_by_layer(rounds).items():
            values[f"self_ms.{layer}"] = ms / len(rounds)
        # the first round still warms up, so it is left out when there
        # are untraced rounds after it
        untraced = walls[1:] or walls
        values["trace.overhead_s"] = median(bench.round_walls[True]) - median(untraced)
        values["trace.spans_per_round"] = len(tr.spans) / len(rounds)
        detail["untraced_round_s"] = median(untraced)
        detail["traced_round_s"] = median(bench.round_walls[True])
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    return detail, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(PACKAGE):
        print(f"perfbench: no package at {PACKAGE}; nothing to measure", file=sys.stderr)
        return 2
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    cwd = os.getcwd()
    try:
        _environment(work)
        os.chdir(work)  # Spark and Derby drop files into the cwd
        detail, result = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
