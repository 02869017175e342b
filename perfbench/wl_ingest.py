"""Workload ``ingest_microbatch``: the reference's Kafka-to-lake loop,
on a table with a deep snapshot history.

Set-up generates asset rows with ``loadgen.gen_assets`` (the id range
offset by the seed). The first ``HISTORY_COMMITS * HISTORY_ROWS`` rows
become the table's history: one partitioned write job stages one
directory per history batch, and each directory is committed on its
own through ``BatchedCommitter.add``/``flush``, so HEAD starts at
``HISTORY_COMMITS`` snapshots without a Spark job per snapshot. The
rest of the rows are rendered as JSON documents and encoded, in runs
of ``RECORDS_PER_FRAME``, as Kafka RecordBatch v2 frames.

Each timed step then hands one frame to the consumer path:

1. ``kafkawire.decode_record_batch`` (CRC check and record parse);
2. ``createDataFrame``, ``ingest.strict_json_decode`` and
   ``ingest.validated`` (schema-directed decode with the strictness
   observation);
3. ``LakeTable.stage_append`` (the parquet write job);
4. the observation check, then ``BatchedCommitter.add``/``flush``:
   one snapshot per step, on top of the history.

A round is ``READ_EVERY`` steps followed by a read-back of those
frames through ``scan_where`` on their event-id range (read your
writes: bounds pruning keeps only the files of those frames, and the
planner walks every history entry to find them). Steps take the
frames in order and wrap around after ``N_FRAMES``, so a frame may be
committed more than once; the benchmark counts each frame's commits
and expects its rows that many times.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import functions as F

from common import (
    Bench,
    Op,
    dir_bytes,
    growth,
    latency_summary,
    mean,
    median,
    tail,
)

TOPIC = "assets"
KAFKA_PARTITIONS = 10
RECORDS_PER_FRAME = 250
N_FRAMES = 32
READ_EVERY = 4  # steps per round
HISTORY_COMMITS = 200
HISTORY_ROWS = 40  # rows per history snapshot
# The first stage_append of a session costs about 9x a warm one, and
# the steps after it keep getting faster for a few read-back cycles
# (JIT compilation on both sides of py4j).
WARMUP_ROUNDS = 2

VALUE_DDL = (
    "asset_id STRING, event_id BIGINT, created_time TIMESTAMP, "
    "account STRING, cloud_region STRING, platform STRING, "
    "network_interface STRING, contributing_sources ARRAY<STRING>, "
    "custom_field1 ARRAY<STRUCT<source: STRING, values: ARRAY<STRING>>>, "
    "cpu_usage DOUBLE, is_active BOOLEAN"
)
REQUIRED = ["asset_id", "event_id", "created_time"]
WIRE_DDL = "topic STRING, partition INT, offset BIGINT, value STRING"
TABLE_DDL = "topic STRING, partition INT, offset BIGINT, " + VALUE_DDL


def id_offset(seed: int) -> int:
    """First generated event id for a seed: the seed moves the id range."""
    return (seed % 10) * 1_000


class IngestMicrobatch:
    name = "ingest_microbatch"
    min_rounds = 6  # 30 ops, so the tail is a percentile, not the maximum

    def setup(self, bench: Bench) -> None:
        from iceberg_playground_spark import kafkawire, loadgen
        from iceberg_playground_spark.tables import BatchedCommitter, LakeCatalog

        spark = bench.spark
        lo = id_offset(bench.seed)
        self.hist_lo = lo
        self.first_id = lo + HISTORY_COMMITS * HISTORY_ROWS  # first frame id
        n = self.first_id + N_FRAMES * RECORDS_PER_FRAME
        t0 = time.perf_counter()
        gen = loadgen.gen_assets(spark, n).where(F.col("event_id") >= lo)
        docs = (
            gen.where(F.col("event_id") >= self.first_id)
            .select("event_id", F.to_json(F.struct("*")).alias("value"))
            .collect()
        )
        docs.sort(key=lambda r: r.event_id)
        bench.layer_values["loadgen.gen_assets_s"] = time.perf_counter() - t0
        self.frames: list[tuple[int, bytes]] = []  # (kafka partition, frame)
        # expected (count, sum(event_id), json bytes) per frame
        self.expect: list[tuple[int, int, int]] = []
        next_offset = [0] * KAFKA_PARTITIONS
        for i in range(N_FRAMES):
            chunk = docs[i * RECORDS_PER_FRAME : (i + 1) * RECORDS_PER_FRAME]
            part = i % KAFKA_PARTITIONS
            recs = [(str(r.event_id).encode(), r.value.encode()) for r in chunk]
            self.frames.append(
                (part, kafkawire.encode_record_batch(recs, next_offset[part]))
            )
            next_offset[part] += len(recs)
            self.expect.append(
                (
                    len(chunk),
                    sum(r.event_id for r in chunk),
                    sum(len(v) for _, v in recs),
                )
            )

        self.catalog = LakeCatalog(spark, bench.work + "/warehouse")
        self.table = self.catalog.create_table("bench", "assets", TABLE_DDL)
        self.committer = BatchedCommitter(self.table, interval_s=3600.0)
        self.commit_s: list[float] = []  # every commit, in order
        self.n_commits = 0
        self._history(bench, gen)
        self.violations = 0
        self.records = 0
        self.payload_bytes = 0
        self.step_no = 0
        self.committed = [0] * N_FRAMES  # acknowledged commits per frame
        self.timed_rounds = 0
        self.write_commit_s: list[tuple[float, float]] = []  # (step, commit)
        # (files pruned, files considered) of each traced read-back
        self.plan_stats: list[tuple[int, int]] = []
        for _ in range(WARMUP_ROUNDS):
            self._round(bench, "warmup")

    def _history(self, bench: Bench, gen) -> None:
        """``HISTORY_COMMITS`` snapshots of ``HISTORY_ROWS`` rows each:
        one write job stages a directory per batch, then each directory
        is committed alone, in batch order."""
        value = bench.spark.createDataFrame([], VALUE_DDL).schema
        ids = F.col("event_id")
        batch = F.floor((ids - self.hist_lo) / HISTORY_ROWS).alias("h")
        rows = gen.where(ids < self.first_id).select(
            F.lit(TOPIC).alias("topic"),
            (ids % KAFKA_PARTITIONS).cast("int").alias("partition"),
            ids.alias("offset"),
            *[F.col(f.name).cast(f.dataType) for f in value.fields],
            batch,
        )
        base = os.path.join(self.table.root, "data", "history")
        rows.write.partitionBy("h").parquet(base)
        self.history_dirs = [os.path.join(base, f"h={k}") for k in range(HISTORY_COMMITS)]
        for d in self.history_dirs:
            t0 = time.perf_counter()
            self.committer.add(d)
            v = self.committer.flush()
            self.commit_s.append(time.perf_counter() - t0)
            self.n_commits += 1
            if v != self.n_commits:
                raise RuntimeError(f"history commit landed as v{v}")

    def _step(self, bench: Bench, kind: str) -> None:
        """One frame from hand-in to committed snapshot, recorded as an
        op of ``kind``."""
        from iceberg_playground_spark import ingest, kafkawire

        tr, table = bench.tracer, self.table
        f = self.step_no % N_FRAMES
        self.step_no += 1
        part, frame = self.frames[f]
        t0 = time.perf_counter()
        try:
            with tr.span("kafkawire.decode_record_batch", f):
                recs = kafkawire.decode_record_batch(frame)
            self.records += len(recs)
            with tr.span("ingest.decode_construct", f):
                df = bench.spark.createDataFrame(
                    [(TOPIC, part, r.offset, r.value.decode()) for r in recs],
                    WIRE_DDL,
                )
                decoded = ingest.strict_json_decode(df, "value", VALUE_DDL, REQUIRED)
                observed, check = ingest.validated(decoded)
                rows = observed.select("topic", "partition", "offset", "_decoded.*")
            with tr.span("tables.stage_append", f):
                staged = table.stage_append(rows)
            with tr.span("ingest.check", f):
                try:
                    check()
                except ValueError as e:
                    m = re.search(r"(\d+) row", str(e))
                    self.violations += int(m.group(1)) if m else 1
                    raise
            c0 = time.perf_counter()
            with tr.span("tables.commit", f):
                self.committer.add(staged)
                version = self.committer.flush()
            c1 = time.perf_counter()
            if version != self.n_commits + 1:
                raise RuntimeError(f"commit landed as v{version}, not v{self.n_commits + 1}")
        except Exception as e:  # counted as a failed op; the loop goes on
            bench.ops.append(Op(kind, time.perf_counter() - t0, False))
            bench.fail(f"ingest {kind} frame {f}: {type(e).__name__}: {e}"[:500])
            return
        self.n_commits += 1
        self.committed[f] += 1
        self.payload_bytes += self.expect[f][2]
        self.commit_s.append(c1 - c0)
        bench.ops.append(Op(kind, c1 - t0, True))
        if kind == "write":
            self.write_commit_s.append((c1 - t0, c1 - c0))

    def round(self, bench: Bench, _i: int) -> None:
        self.timed_rounds += 1
        self._round(bench, "write")

    def _round(self, bench: Bench, kind: str) -> None:
        """``READ_EVERY`` steps, then a read-back of those frames'
        event-id range."""
        first = self.step_no % N_FRAMES
        for _ in range(READ_EVERY):
            self._step(bench, kind)
        self._read_back(bench, first, first + READ_EVERY, "read" if kind == "write" else kind)

    def _read_back(self, bench: Bench, f_lo: int, f_hi: int, kind: str) -> None:
        """Count and ``sum(event_id)`` of frames ``[f_lo, f_hi)`` through
        ``scan_where``, checked against the acknowledged commits. A
        traced round also times the scan planning on its own through
        ``plan_files`` (``scan_where`` plans again inside)."""
        tr, t = bench.tracer, self.table
        lo, hi = self._id_range(f_lo, f_hi)
        expected = self._expected(f_lo, f_hi)
        if tr.enabled:
            with tr.span("tables.plan_files"):
                kept, pruned = t.plan_files("event_id", lo, hi)
            files = sum(len(e.get("paths") or [e["path"]]) for e in kept)
            self.plan_stats.append((pruned, pruned + files))
        t0 = time.perf_counter()
        try:
            with tr.span("tables.read.range"):
                with tr.span("tables.read_construct"):
                    df = t.scan_where("event_id", lo, hi)
                r = df.agg(F.count("*"), F.coalesce(F.sum("event_id"), F.lit(0))).first()
            ok = (r[0], r[1]) == expected
            if not ok:
                bench.fail(f"read-back of frames {f_lo}-{f_hi - 1}: {tuple(r)}, expected {expected}")
        except Exception as e:  # counted as a failed op; the loop goes on
            ok = False
            bench.fail(f"read-back raised {type(e).__name__}: {e}"[:500])
        bench.ops.append(Op(kind, time.perf_counter() - t0, ok))

    def _id_range(self, f_lo: int, f_hi: int) -> tuple[int, int]:
        """Event ids of frames ``[f_lo, f_hi)``, inclusive bounds."""
        return (
            self.first_id + f_lo * RECORDS_PER_FRAME,
            self.first_id + f_hi * RECORDS_PER_FRAME - 1,
        )

    def _expected(self, f_lo: int, f_hi: int) -> tuple[int, int]:
        """(count, sum(event_id)) the table holds for frames ``[f_lo, f_hi)``."""
        n = s = 0
        for f in range(f_lo, f_hi):
            n += self.expect[f][0] * self.committed[f]
            s += self.expect[f][1] * self.committed[f]
        return n, s

    def verify(self, bench: Bench) -> None:
        """Durability and read-back gate. Through a freshly loaded table,
        HEAD is one snapshot per acknowledged commit, each frame's rows
        are present once per acknowledged commit of it (count and sum of
        event ids), and the history batches are committed once each and
        hold their rows; no strict-decode violation was seen."""
        from iceberg_playground_spark.tables import LakeCatalog

        catalog = LakeCatalog(bench.spark, self.catalog.warehouse)
        t = catalog.load_table("bench", "assets")
        head = t.current_version()
        bench.check(head == self.n_commits, f"HEAD v{head}, acknowledged {self.n_commits}")
        lo, hi = self._id_range(0, N_FRAMES)
        bucket = F.floor((F.col("event_id") - self.first_id) / RECORDS_PER_FRAME)
        got = {
            int(r.b): (r.n, r.s)
            for r in t.scan_where("event_id", lo, hi)
            .groupBy(bucket.alias("b"))
            .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
            .collect()
        }
        self.readable_rows = 0
        for f in range(N_FRAMES):
            want = self._expected(f, f + 1)
            ok = got.pop(f, (0, 0)) == want
            bench.check(ok, f"frame {f}: committed rows not readable")
            self.readable_rows += want[0] if ok else 0
        bench.check(not got, f"rows outside any frame: {sorted(got)[:5]}")
        hist = set(self.history_dirs)
        paths = [e["path"] for e in t.snapshot(head)["data_files"]]
        bench.check(
            sorted(p for p in paths if p in hist) == sorted(hist),
            "history batches not committed once each",
        )
        n_hist = HISTORY_COMMITS * HISTORY_ROWS
        r = (
            bench.spark.read.schema(TABLE_DDL)
            .parquet(*self.history_dirs)
            .agg(F.count("*"), F.sum("event_id"))
            .first()
        )
        want = (n_hist, sum(range(self.hist_lo, self.hist_lo + n_hist)))
        bench.check((r[0], r[1]) == want, f"history holds {tuple(r)}, expected {want}")
        bench.check(
            self.violations == 0,
            f"{self.violations} strict-decode violations on clean input",
        )
        self.stored_bytes = dir_bytes(t.root)
        snap_dir = os.path.join(t.root, "snapshots")
        # exact size counts of the committed state
        self.state = {
            "tables.snapshot_bytes_head": os.path.getsize(
                os.path.join(snap_dir, f"v{head:08d}.json")
            ),
            "tables.metadata_bytes_total": dir_bytes(snap_dir),
            "tables.data_file_entries": len(t.snapshot(head)["data_files"]),
            "tables.commits": head,
        }

    def timings(self, bench: Bench) -> dict:
        """End-to-end timings: the median untraced round, and the
        median and tail over every timed step and read-back."""
        ops = [o.latency_s for o in bench.ops if o.kind in ("read", "write")]
        pct, tail_s, n = tail(ops)
        return {
            "run_wall_s": median(bench.round_walls[False]),
            "op_latency_p50_ms": median(ops) * 1000.0,
            "op_latency_tail_ms": tail_s * 1000.0,
            "op_latency_tail_pct": pct,
            "op_samples": n,
        }

    def detail(self, bench: Bench, wall_s: float) -> dict:
        writes = [o.latency_s for o in bench.ops if o.kind == "write"]
        reads = [o.latency_s for o in bench.ops if o.kind == "read"]
        step_s = sum(s for s, _ in self.write_commit_s)
        return {
            **latency_summary("write_latency", writes),
            **latency_summary("read_latency", reads),
            "ingest_rows_per_s": RECORDS_PER_FRAME * len(self.write_commit_s) / wall_s if wall_s else 0.0,
            # over the whole table, history included: bytes under the
            # table root per JSON byte of the ingested frames and rows
            "stored_bytes_per_input_byte": self.stored_bytes / self.payload_bytes,
            "readable_rows": self.readable_rows,
            "history_commits": HISTORY_COMMITS,
            # share of a timed step's latency spent in the commit
            "commit_share": sum(c for _, c in self.write_commit_s) / step_s if step_s else 0.0,
        }

    def layers(self, bench: Bench) -> dict:
        tr = bench.tracer
        stage_spans = tr.named("tables.stage_append")
        stage = [tr.inclusive(s) for s in stage_spans]
        timed = [c * 1000.0 for _, c in self.write_commit_s]
        rounds = max(1, self.timed_rounds)
        return {
            "kafkawire.decode_ms": median(
                [s.wall_ms for s in tr.named("kafkawire.decode_record_batch")]
            ),
            "kafkawire.records": self.records / (rounds + WARMUP_ROUNDS),
            "ingest.decode_construct_ms": median(
                [s.wall_ms for s in tr.named("ingest.decode_construct")]
            ),
            "ingest.violations": self.violations / (rounds + WARMUP_ROUNDS),
            "tables.stage_append_ms": median([s.wall_ms for s in stage_spans]),
            "tables.stage_append.jobs": mean([c["jobs"] for c in stage]),
            "tables.stage_append.tasks": mean([c["tasks"] for c in stage]),
            "tables.stage_append.executor_cpu_ms": mean(
                [c["executor_cpu_ms"] for c in stage]
            ),
            "tables.commit_ms": median(timed),
            "tables.commit_ms_tail": tail(timed)[1],
            # history commits included: the first tenth commits onto a
            # near-empty table, the last tenth onto the full history
            "tables.commit_ms_growth": growth(self.commit_s),
            # the footer-bounds pass runs as a Spark job only past the
            # driver-side file-count threshold
            "tables.commit.distributed_footer_commits": sum(
                1 for s in tr.named("tables.commit") if tr.inclusive(s)["jobs"] > 0
            ),
            **self._read_layers(tr),
            **self.state,
        }

    def _read_layers(self, tr) -> dict:
        """Read-path metrics from the traced read-backs."""
        inc = [tr.inclusive(s) for s in tr.named("tables.read.range")]
        pruned = sum(p for p, _ in self.plan_stats)
        considered = sum(c for _, c in self.plan_stats)
        return {
            "tables.read_construct_ms": median(
                [s.wall_ms for s in tr.named("tables.read_construct")]
            ),
            "tables.read.jobs": mean([c["jobs"] for c in inc]),
            "tables.read.tasks": mean([c["tasks"] for c in inc]),
            "tables.read.executor_run_ms": mean([c["executor_run_ms"] for c in inc]),
            "tables.read.driver_gap_ms": mean([c["driver_gap_ms"] for c in inc]),
            "tables.plan_files_ms": median(
                [s.wall_ms for s in tr.named("tables.plan_files")]
            ),
            "tables.plan_files.pruned_ratio": pruned / considered if considered else 0.0,
        }
