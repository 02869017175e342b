"""Workload ``query_cells``: registered operators over the shipped sf0.1
tables (``perfbench/data/sf0.1``), each run to the noop sink.

A round is one pass over ``CELLS`` in an order the seed permutes. A run
makes at least ``min_rounds`` passes, and its figures come from each
cell's fastest untraced run: load from other guests on the host only
adds time, so the minimum is the figure it disturbs least. The cells
and what each one stands for:

- ``p24_substring_strip``: a heavy per-row map on a single-split scan
  (it runs ``c43_substring_dedup``'s digest lineage and more);
- ``c54_kmeans_lloyd``: a driver loop whose cost is the number of
  jobs it launches;
- ``b149_tpch_q21``: TPC-H Q21, shuffle joins;
- ``c02_minhash_lsh_dedup``: the LSH dedup pipeline.

Set-up runs every cell once and checks its rows against the cell's
DuckDB oracle with the comparator of ``tests/oracle_harness.py``; a
cell without an oracle must return rows. That pass is also the
warm-up: the timed passes then measure warm cells.

Left out on purpose (see ``perfbench/README.md``): cells whose measured
work runs inside a (session, sf)-cached build, since a repeat times a
cache hit; ``b54_stream_lakehouse_sink``, which writes its stream
checkpoint to ``/dev/shm`` when that is writable, outside the
benchmark's directory; and, to keep a run short, ``c43``, ``c91`` and
``b97``, whose shapes ``p24``, ``c54`` and ``b149`` already carry.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

from common import Bench, Op, median

CELLS = [
    "p24_substring_strip",
    "c54_kmeans_lloyd",
    "b149_tpch_q21",
    "c02_minhash_lsh_dedup",
]
SF = "sf0.1"


def _oracle_harness(root: str):
    path = os.path.join(root, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryCells:
    name = "query_cells"
    # The first pass after the oracle pass still warms up (5-20% slower
    # than later ones); with two passes, each cell's minimum is nearly
    # always from the second, and a burst of host noise in one pass
    # does not set a run's figures.
    min_rounds = 2

    def setup(self, bench: Bench) -> None:
        from iceberg_playground_spark import registry

        registry.load_all()
        self.queries = registry.QUERIES
        self.sf_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", SF)
        self.order = list(CELLS)
        random.Random(bench.seed).shuffle(self.order)
        harness = _oracle_harness(bench.root)
        con = harness.duck_connection(self.sf_dir)
        try:
            for cell in self.order:
                self._check(bench, harness, con, registry.ORACLES.get(cell), cell)
        finally:
            con.close()
        self.cell_s: dict[str, list[float]] = {c: [] for c in CELLS}

    def _check(self, bench, harness, con, oracle, cell) -> None:
        t0 = time.perf_counter()
        try:
            df = self.queries[cell](bench.spark, self.sf_dir)
            if oracle is not None:
                problems = harness.compare(df, con, oracle)
            else:
                problems = [] if df.count() > 0 else ["rows-only cell returned no rows"]
        except Exception as e:  # a failed check is counted, set-up goes on
            problems = [f"raised {type(e).__name__}: {e}"[:500]]
        bench.ops.append(Op("check", time.perf_counter() - t0, not problems))
        for p in problems:
            bench.fail(f"{cell}: {p}")

    def round(self, bench: Bench, _i: int) -> None:
        tr = bench.tracer
        for cell in self.order:
            t0 = time.perf_counter()
            ok = True
            try:
                with tr.span(f"queries.{cell}"):
                    self.queries[cell](bench.spark, self.sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
            except Exception as e:  # counted as a failed op; the loop goes on
                ok = False
                bench.fail(f"{cell} raised {type(e).__name__}: {e}"[:500])
            dt = time.perf_counter() - t0
            bench.ops.append(Op("cell", dt, ok))
            if ok and not tr.enabled:
                self.cell_s[cell].append(dt)

    def verify(self, bench: Bench) -> None:
        """Outputs were checked against the oracles in set-up."""

    def timings(self, bench: Bench) -> dict:
        """End-to-end timings from each cell's fastest untraced run:
        ``run_wall_s`` is their sum (one pass of undisturbed cell runs),
        ``op_latency_p50_ms`` their median and ``op_latency_tail_ms``
        the largest, i.e. the slowest cell."""
        best = [min(v, default=0.0) for v in self.cell_s.values()]
        return {
            "run_wall_s": sum(best),
            "op_latency_p50_ms": median(best) * 1000.0,
            "op_latency_tail_ms": max(best) * 1000.0,
            "op_latency_tail_pct": 100.0,
            "op_samples": sum(len(v) for v in self.cell_s.values()),
        }

    def detail(self, bench: Bench, wall_s: float) -> dict:
        return {f"{c}_s": [round(x, 3) for x in v] for c, v in self.cell_s.items()}

    def layers(self, bench: Bench) -> dict:
        tr = bench.tracer
        out = {}
        for cell in CELLS:
            spans = tr.named(f"queries.{cell}")
            inc = [tr.inclusive(s) for s in spans]
            out[f"queries.{cell}_s"] = median([s.wall_ms / 1000.0 for s in spans])
            for key in (
                "jobs", "tasks", "shuffle_bytes", "max_task_over_median", "driver_gap_ms"
            ):
                vals = [c[key] for c in inc]
                out[f"queries.{cell}.{key}"] = sum(vals) / len(vals) if vals else 0.0
        return out
