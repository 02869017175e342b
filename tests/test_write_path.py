"""Layer A write-path semantics (SURVEY §5.3): append → read-back,
equality delete → keys absent, commit batching → snapshot count,
optimistic-commit CAS, strict JSON ingest asymmetry.

Fixture rows are the reference's own canonical batch
(/root/reference/src/main.rs:58-67; duplicate-"A" delete case from
src/bin/deletes.rs:33-42,75) — see FIXTURES.md §2.
"""

from __future__ import annotations

import pytest

from iceberg_playground_spark.ingest import strict_json_decode, validate
from iceberg_playground_spark.tables import BatchedCommitter, LakeCatalog

DDL = "name STRING, size STRING, count INT"
ROWS = [
    ("A", "small", 2),
    ("B", "medium", 15),
    ("C", "medium", 10),
    ("D", "small", 20),
    ("E", "large", 20),
]


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


def _table(catalog, spark, name="t1", rows=ROWS):
    t = catalog.create_table("test_ns", name, DDL, drop_if_exists=True)
    t.append(spark.createDataFrame(rows, DDL))
    return t


def test_ddl_lifecycle(catalog):
    assert not catalog.table_exists("test_ns", "t0")
    catalog.create_table("test_ns", "t0", DDL)
    assert catalog.table_exists("test_ns", "t0")
    with pytest.raises(ValueError):
        catalog.create_table("test_ns", "t0", DDL)
    catalog.drop_table("test_ns", "t0")
    assert not catalog.table_exists("test_ns", "t0")


def test_append_readback(catalog, spark):
    t = _table(catalog, spark)
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == sorted(ROWS)
    assert t.current_version() == 1


def test_fast_append_accumulates(catalog, spark):
    t = _table(catalog, spark)
    t.append(spark.createDataFrame([("F", "large", 7)], DDL))
    assert t.read().count() == 6
    # v1 still serves the original 5 (snapshot isolation / time travel)
    assert t.read(version=1).count() == 5
    snap = t.snapshot(2)
    assert len(snap["data_files"]) == 2  # no rewrite of v1's files


def test_equality_delete_mor(catalog, spark):
    # deletes.rs scenario: a duplicate "A" row exists; deleting name='A'
    # removes BOTH (equality semantics, not positional).
    t = _table(catalog, spark, rows=ROWS + [("A", "large", 99)])
    t.delete_where("name = 'A'", ["name"])
    names = {r["name"] for r in t.read().collect()}
    assert names == {"B", "C", "D", "E"}
    # merge-on-read: the data files of v1 are untouched
    assert t.snapshot(2)["data_files"] == t.snapshot(1)["data_files"]
    # pre-delete snapshot still shows the As
    assert t.read(version=1).filter("name = 'A'").count() == 2


def test_delete_then_append_same_key(catalog, spark):
    # Iceberg sequence-number rule: a delete masks only data files with
    # a strictly lower sequence, so re-appending a deleted key makes it
    # visible again — the old rows stay masked, the new row is not.
    t = _table(catalog, spark)
    t.delete_where("name = 'B'", ["name"])
    assert t.read().filter("name = 'B'").count() == 0
    t.append(t.spark.createDataFrame([("B", "tiny", 1)], DDL))
    rows = t.read().filter("name = 'B'").collect()
    assert [(r["size"], r["count"]) for r in rows] == [("tiny", 1)]


def test_batched_committer_coalesces(catalog, spark):
    t = catalog.create_table("test_ns", "bulk", DDL)
    c = BatchedCommitter(t, interval_s=3600)  # never auto-flush
    for i in range(5):
        c.add(t.stage_append(spark.createDataFrame([(f"W{i}", "small", i)], DDL)))
    assert t.current_version() == 0  # nothing committed yet
    c.flush()
    assert t.current_version() == 1  # ONE snapshot for 5 staged writes
    assert t.read().count() == 5
    assert c.commits == 1
    assert c.flush() is None  # empty flush is a no-op


def test_commit_is_crash_atomic(catalog, spark):
    # a torn commit leaves only a .tmp file -> invisible to readers
    t = _table(catalog, spark)
    staged = t.stage_append(spark.createDataFrame([("Z", "small", 1)], DDL))
    assert staged  # staged but never committed
    assert t.read().count() == 5
    assert t.current_version() == 1


def test_compaction_applies_deletes_and_replaces_files(catalog, spark):
    t = _table(catalog, spark, rows=ROWS + [("A", "large", 99)])
    t.append(spark.createDataFrame([("F", "large", 7)], DDL))
    t.delete_where("name = 'A'", ["name"])
    before = sorted(tuple(r) for r in t.read().collect())
    v = t.compact(target_files=1)
    snap = t.snapshot(v)
    assert len(snap["data_files"]) == 1  # replaced, not extended
    assert snap["delete_files"] == []  # deletes folded in
    assert sorted(tuple(r) for r in t.read().collect()) == before
    # pre-compaction history intact (time travel)
    assert t.read(version=1).count() == 6


def test_optimistic_commit_retries_on_conflict(catalog, spark):
    # the conflict case the reference's missing concurrent_writes.rs bin
    # would have explored (Cargo.toml:53-55): a racing committer claims
    # the next version; ours must CAS-retry onto the one after.
    t = _table(catalog, spark)
    racing = t._snap_file(2)
    import json as _json

    with open(racing, "w") as f:
        _json.dump(
            {"version": 2, "parent": 1,
             "data_files": t.snapshot(1)["data_files"],
             "delete_files": [], "summary": {"operation": "race"}},
            f,
        )
    v = t.append(spark.createDataFrame([("R", "small", 1)], DDL))
    assert v == 3  # retried past the stolen version
    assert t.read().count() == 6


def test_strict_json_missing_required_raises(spark):
    df = spark.createDataFrame(
        [('{"name": "A", "count": 2}',), ('{"count": 3}',)], "raw STRING"
    )
    decoded = strict_json_decode(df, "raw", "name STRING, count INT", ["name"])
    with pytest.raises(ValueError, match="1 row"):
        validate(decoded)


def test_strict_json_wrong_type_nulls(spark):
    # kafka-bench.rs:295-299 — present-but-wrong-typed coerces to null,
    # NOT an error; only missing required fields abort (:277-284).
    df = spark.createDataFrame(
        [('{"name": "A", "count": "not-an-int"}',)], "raw STRING"
    )
    decoded = validate(
        strict_json_decode(df, "raw", "name STRING, count INT", ["name"])
    )
    row = decoded.select("_decoded.count").first()
    assert row[0] is None


def test_strict_json_present_null_is_not_missing(spark):
    # a present explicit null is the wrong-typed case (silent NULL via
    # the as_i64 path), NOT the missing-field error — get_json_object
    # can't tell the two apart; json_object_keys can
    df = spark.createDataFrame(
        [('{"name": null, "count": 2}',), ('{"count": 3}',)], "raw STRING"
    )
    decoded = strict_json_decode(df, "raw", "name STRING, count INT", ["name"])
    with pytest.raises(ValueError, match="1 row"):  # only the absent one
        validate(decoded)


def test_strict_json_malformed_raises(spark):
    df = spark.createDataFrame([("{nope",)], "raw STRING")
    decoded = strict_json_decode(df, "raw", "name STRING, count INT", ["name"])
    with pytest.raises(ValueError):
        validate(decoded)


def test_scan_planning_prunes_by_bounds(catalog, spark):
    # three appends with disjoint count ranges -> a bounded scan keeps
    # only the overlapping file set, decided from metadata alone
    t = catalog.create_table("test_ns", "skip", DDL, drop_if_exists=True)
    mk = lambda rows: spark.createDataFrame(rows, DDL).coalesce(1)  # noqa: E731
    t.append(mk([("A", "s", 1), ("B", "s", 9)]))
    t.append(mk([("C", "m", 10), ("D", "m", 19)]))
    t.append(mk([("E", "l", 20), ("F", "l", 29)]))
    kept, pruned = t.plan_files("count", 12, 15)
    assert pruned == 2 and len(kept) == 1
    rows = t.scan_where("count", 10, 19).collect()
    assert sorted(r["name"] for r in rows) == ["C", "D"]
    # unbounded column name -> conservatively scans everything
    kept_all, pruned_none = t.plan_files("nonexistent", 0, 1)
    assert pruned_none == 0 and len(kept_all) == 3


def test_commit_reads_no_footers_on_driver(catalog, spark, monkeypatch):
    # VERDICT r3 item 2 + round-16 refinement: bounds collection is
    # scale-adaptive. ABOVE _BOUNDS_DRIVER_MAX files the footer opens
    # must happen in executor Python workers (separate processes), so
    # poisoning pyarrow.parquet.ParquetFile in THIS (driver) process
    # must not be observed — while bounds still land. (At or below the
    # cutoff the driver reads the footers itself: metadata-sized work,
    # covered by every other test in this file.)
    import pyarrow.parquet as pq

    from iceberg_playground_spark import tables as _tables

    def _boom(*a, **k):
        raise AssertionError("driver-side parquet footer read at commit")

    monkeypatch.setattr(pq, "ParquetFile", _boom)
    monkeypatch.setattr(_tables, "_BOUNDS_DRIVER_MAX", 0)
    t = catalog.create_table("test_ns", "nodriverio", DDL, drop_if_exists=True)
    t.append(spark.createDataFrame([("A", "s", 1), ("B", "l", 9)], DDL))
    files = t.snapshot(t.current_version())["data_files"]
    assert files and all(f["bounds"] for f in files)
    counts = [
        b["count"] for pf in files for b in pf["bounds"].values()
        if "count" in b
    ]
    assert min(lo for lo, _ in counts) == 1
    assert max(hi for _, hi in counts) == 9


def test_pruned_scan_still_applies_deletes(catalog, spark):
    t = catalog.create_table("test_ns", "skipdel", DDL, drop_if_exists=True)
    t.append(spark.createDataFrame([("A", "s", 1), ("B", "s", 5)], DDL))
    t.append(spark.createDataFrame([("C", "m", 50), ("D", "m", 55)], DDL))
    t.delete_where("name = 'B'", ["name"])
    rows = t.scan_where("count", 0, 10).collect()
    assert sorted(r["name"] for r in rows) == ["A"]  # pruned AND deleted


def test_compaction_rewrites_bounds(catalog, spark):
    t = catalog.create_table("test_ns", "skipc", DDL, drop_if_exists=True)
    t.append(spark.createDataFrame([("A", "s", 1)], DDL))
    t.append(spark.createDataFrame([("B", "l", 100)], DDL))
    t.compact(target_files=1)
    files = t.snapshot(t.current_version())["data_files"]
    assert len(files) == 1
    merged = [
        b["count"] for b in files[0]["bounds"].values() if "count" in b
    ]
    assert min(lo for lo, _ in merged) == 1
    assert max(hi for _, hi in merged) == 100


def test_sorted_compaction_tightens_per_file_bounds(catalog, spark):
    # sort-order rewrite: each output file covers a narrow key range,
    # so a bounded scan opens a handful of files within the ONE
    # compacted file set (Iceberg's rewrite_data_files with sort order)
    t = catalog.create_table("test_ns", "zsort", DDL, drop_if_exists=True)
    rows = [(f"R{i}", "s", i) for i in range(400)]
    t.append(spark.createDataFrame(rows, DDL))
    t.compact(target_files=4, sort_by=["count"])
    kept, pruned = t.plan_files("count", 10, 20)
    n_kept = sum(len(e.get("paths", [])) or 1 for e in kept)
    assert pruned >= 2  # most files skipped on metadata alone
    assert n_kept <= 2
    got = sorted(r["count"] for r in t.scan_where("count", 10, 20).collect())
    assert got == list(range(10, 21))


def test_upsert_single_transaction(catalog, spark):
    # deletes.rs:94-110: delete + append commit as ONE snapshot; the
    # txn's own appended rows are not masked by its own delete
    t = _table(catalog, spark)
    v = t.upsert(
        spark.createDataFrame([("A", "upserted", 42), ("Z", "new", 1)], DDL),
        ["name"],
    )
    assert v == 2  # one snapshot for delete+append
    rows = {r["name"]: (r["size"], r["count"]) for r in t.read().collect()}
    assert rows["A"] == ("upserted", 42)  # replaced, not duplicated
    assert rows["Z"] == ("new", 1)  # inserted
    assert len(rows) == 6  # B..E untouched + A + Z
    # time travel: pre-upsert state intact
    assert t.read(version=1).filter("name = 'A'").first()["size"] == "small"


def test_incremental_read_tails_appends(catalog, spark):
    t = _table(catalog, spark)  # v1: 5 rows
    t.append(spark.createDataFrame([("F", "l", 7)], DDL))  # v2
    t.append(spark.createDataFrame([("G", "l", 8)], DDL))  # v3
    inc = sorted(r["name"] for r in t.read_incremental(1, 3).collect())
    assert inc == ["F", "G"]  # only the window's appends
    assert t.read_incremental(0, 1).count() == 5  # bootstrap window
    # a delete inside the window masks the window's earlier appends
    t.delete_where("name = 'F'", ["name"])  # v4
    assert sorted(
        r["name"] for r in t.read_incremental(1, 4).collect()
    ) == ["G"]


def test_schema_evolution_add_column(catalog, spark):
    t = _table(catalog, spark)  # v1, 3-col schema
    t.add_column("origin", "STRING")  # v2: metadata-only
    t.append(
        spark.createDataFrame(
            [("F", "l", 7, "evolved")], DDL + ", origin STRING"
        )
    )  # v3
    rows = {r["name"]: r["origin"] for r in t.read().collect()}
    assert rows["F"] == "evolved"
    assert all(v is None for k, v in rows.items() if k != "F")  # backfill NULL
    # time travel replays the pre-evolution schema
    assert "origin" not in t.read(version=1).columns
    assert "origin" in t.read(version=3).columns


def test_expire_snapshots_removes_orphans(catalog, spark):
    t = _table(catalog, spark)  # v1
    t.append(spark.createDataFrame([("F", "l", 7)], DDL))  # v2
    t.compact(target_files=1)  # v3: v1/v2 files now unreferenced by HEAD
    before = t.read().count()
    out = t.expire_snapshots(keep_last=1)
    assert out["expired_versions"] == [1, 2]
    assert out["removed_dirs"] == 2  # the two pre-compaction appends
    assert t.read().count() == before  # live read untouched
    with pytest.raises(FileNotFoundError):
        t.read(version=1)  # expired history is gone by design


def test_compact_conflicts_instead_of_erasing_concurrent_commit(
    catalog, spark
):
    # a replace commit whose read predates a concurrent append must NOT
    # land (it would erase the append's rows — lost update); Iceberg's
    # rewrite_data_files validates the same way
    from iceberg_playground_spark.tables import CommitConflict

    t = _table(catalog, spark)  # v1
    base = t.current_version()
    rewritten = t.read(version=base).coalesce(1)
    staged = t.stage_append(rewritten)
    # concurrent append lands between compaction's read and its commit
    t.append(spark.createDataFrame([("F", "l", 7)], DDL))  # v2
    with pytest.raises(CommitConflict, match="concurrent commit"):
        t._commit(
            [staged], [], {"operation": "compact"}, replace=True, base=base
        )
    assert t.read().count() == 6  # the concurrent append survived
    # re-read and re-compact succeeds and keeps everything
    t.compact(target_files=1)
    assert t.read().count() == 6


def test_replace_without_base_refused_before_footer_pass(catalog, spark):
    # the refusal must fire before the footer pass, which deletes empty
    # part files from the staged dirs it reads
    import os
    import shutil

    t = _table(catalog, spark)  # v1
    staged = t.stage_append(spark.createDataFrame(ROWS, DDL).coalesce(1))
    empty = t.stage_append(spark.createDataFrame([], DDL).coalesce(1))
    (part,) = [f for f in os.listdir(empty) if f.endswith(".parquet")]
    shutil.copy(
        os.path.join(empty, part), os.path.join(staged, "empty-" + part)
    )
    before = sorted(os.listdir(staged))
    with pytest.raises(ValueError, match="requires base"):
        t._commit([staged], [], {"operation": "compact"}, replace=True)
    assert sorted(os.listdir(staged)) == before
    assert t.current_version() == 1


def test_schema_metadata_published_only_after_commit(
    catalog, spark, monkeypatch
):
    # a failed add_column commit must leave schema.json (and a concurrent
    # reader's view) untouched — commit-then-publish ordering
    import json as _json
    import os

    from iceberg_playground_spark import tables as tables_mod
    from iceberg_playground_spark.tables import CommitConflict

    t = _table(catalog, spark)  # v1

    def always_lose(src, dst):
        raise FileExistsError(dst)  # every CAS attempt loses its race

    monkeypatch.setattr(tables_mod.os, "link", always_lose)
    with pytest.raises(CommitConflict):
        t.add_column("origin", "STRING")
    monkeypatch.undo()
    with open(os.path.join(t.root, "schema.json")) as f:
        on_disk = _json.load(f)
    assert "origin" not in on_disk["ddl"]  # metadata not pre-published
    assert "origin" not in t.ddl


def test_expire_spares_staged_uncommitted_dirs(catalog, spark):
    # stage_append output pending in a BatchedCommitter must survive
    # retention: it's referenced by no snapshot yet, but deleting it
    # would destroy the data before its commit (remove_orphan_files
    # olderThan grace)
    t = _table(catalog, spark)  # v1
    t.append(spark.createDataFrame([("F", "l", 7)], DDL))  # v2
    c = BatchedCommitter(t, interval_s=3600)
    c.add(t.stage_append(spark.createDataFrame([("G", "l", 8)], DDL)))
    out = t.expire_snapshots(keep_last=1)
    assert out["expired_versions"] == [1]
    assert out["removed_dirs"] == 0  # staged dir is untracked + recent
    v = c.flush()  # the pending stage still commits intact
    assert v == 3
    assert t.read().count() == 7


def test_concurrent_committers_both_land(catalog, spark):
    # two real committers racing on the SAME table: optimistic CAS means
    # both snapshots land (one retries onto the next version) and no
    # rows are lost — the multi-writer case the reference sidesteps
    # with its single-committer design (decouple.rs:22-24)
    import threading

    t = _table(catalog, spark)
    errs = []

    def commit(tag):
        try:
            staged = t.stage_append(
                spark.createDataFrame([(tag, "x", 1)], DDL)
            )
            t._commit([staged], [], {"operation": "race", "tag": tag})
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [
        threading.Thread(target=commit, args=(f"T{i}",)) for i in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.current_version() == 5  # 1 base + 4 serialized commits
    names = {r["name"] for r in t.read().collect()}
    assert {"T0", "T1", "T2", "T3"} <= names  # nothing lost


def test_partitioned_table_layout_and_pruning(catalog, spark):
    # identity partition spec: hive-style col=value dirs, partition
    # columns recovered on read, whole partitions pruned from the path
    t = catalog.create_table(
        "test_ns", "parted", DDL, drop_if_exists=True,
        partition_by=["size"],
    )
    t.append(spark.createDataFrame(ROWS, DDL))
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == sorted(ROWS)  # partition col round-trips
    kept, pruned = t.plan_files("size", "small", "small")
    assert pruned >= 1  # medium/large partitions never opened
    rows = t.scan_where("size", "small", "small").collect()
    assert sorted(r["name"] for r in rows) == ["A", "D"]
    # MoR delete still applies on the partitioned layout
    t.delete_where("name = 'A'", ["name"])
    assert sorted(
        r["name"] for r in t.scan_where("size", "small", "small").collect()
    ) == ["D"]


def test_partition_evolution_mixed_layouts(catalog, spark):
    # Iceberg partition evolution: spec changes apply to FUTURE appends;
    # old unpartitioned files stay readable untouched, and both layouts
    # serve one coherent table
    t = _table(catalog, spark)  # v1: unpartitioned
    t.set_partition_spec(["size"])  # v2: metadata-only
    t.append(spark.createDataFrame([("F", "large", 7), ("G", "small", 3)], DDL))
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == sorted(ROWS + [("F", "large", 7), ("G", "small", 3)])
    # pruning: the old entry has footer bounds, the new one path bounds
    kept, pruned = t.plan_files("size", "large", "large")
    assert pruned >= 1  # at least the new entry's small partition
    rows = t.scan_where("size", "large", "large").collect()
    assert sorted(r["name"] for r in rows) == ["E", "F"]
    # deletes still span both layouts
    t.delete_where("size = 'large'", ["name"])
    assert t.read().filter("size = 'large'").count() == 0


def test_zorder_compaction_clusters_both_columns(catalog, spark):
    # z-order: files cover hyper-rectangles, so BOTH columns prune; a
    # single-key sort clusters only its own column
    ddl2 = "x INT, y INT"
    grid = [(x, y) for x in range(32) for y in range(32)]
    tz = catalog.create_table("test_ns", "zt", ddl2, drop_if_exists=True)
    tz.append(spark.createDataFrame(grid, ddl2))
    tz.compact(target_files=16, zorder_by=["x", "y"])
    _, px = tz.plan_files("x", 0, 3)
    _, py = tz.plan_files("y", 0, 3)
    assert px >= 8 and py >= 8  # both dimensions skip most files
    assert sorted(
        (r["x"], r["y"]) for r in tz.scan_where("x", 0, 3).collect()
    ) == sorted((x, y) for x, y in grid if x <= 3)
    # control: sort by x only -> y bounds stay full-range in every file
    ts = catalog.create_table("test_ns", "st", ddl2, drop_if_exists=True)
    ts.append(spark.createDataFrame(grid, ddl2))
    ts.compact(target_files=16, sort_by=["x"])
    _, py_sorted = ts.plan_files("y", 0, 3)
    assert py_sorted == 0


def test_catalog_listing(catalog, spark):
    _table(catalog, spark, name="la")
    _table(catalog, spark, name="lb")
    assert "test_ns" in catalog.list_namespaces()
    assert {"la", "lb"} <= set(catalog.list_tables("test_ns"))
    assert catalog.list_tables("nope") == []


def test_append_commits_no_empty_part_files(catalog, spark):
    # A zero-row part file (empty upstream task) has no column stats,
    # which would poison bounds planning into conservatively keeping
    # its whole set — Iceberg writers never commit empty data files,
    # and neither does the commit path (observed: b61's set-level
    # pruning broke whenever a parallel append landed an empty part).
    import glob
    import os

    import pyarrow.parquet as pq

    t = catalog.create_table("test_ns", "noempty", DDL, drop_if_exists=True)
    # 1 row spread over 8 shuffle partitions => 7 empty write tasks
    t.append(spark.createDataFrame([("A", "s", 1)], DDL).repartition(8))
    [entry] = t.snapshot(t.current_version())["data_files"]
    on_disk = glob.glob(os.path.join(entry["path"], "**", "*.parquet"),
                        recursive=True)
    assert on_disk, "append must leave at least one file"
    for f in on_disk:
        assert pq.ParquetFile(f).metadata.num_rows > 0
    assert set(entry["bounds"]) == {
        os.path.relpath(f, entry["path"]) for f in on_disk
    }
    assert all(b.get("count") for b in entry["bounds"].values())
    # bounded scans now prune the OTHER sets entirely (the b61 shape)
    t.append(spark.createDataFrame([("B", "l", 100)], DDL).repartition(8))
    kept, _ = t.plan_files("count", 90, 110)
    assert len(kept) == 1
    assert t.scan_where("count", 90, 110).count() == 1


def test_all_empty_append_stays_readable(catalog, spark):
    # An append of zero rows keeps ONE (empty) file so the set still
    # reads with a schema; the table remains queryable end-to-end.
    t = catalog.create_table("test_ns", "allempty", DDL, drop_if_exists=True)
    t.append(spark.createDataFrame([], DDL))
    assert t.read().count() == 0
    t.append(spark.createDataFrame([("A", "s", 1)], DDL))
    assert t.read().count() == 1


def test_tags_pin_snapshots_through_expiration(catalog, spark):
    # Iceberg tag semantics: named, immutable, and retention-proof —
    # expire_snapshots drops untagged old versions but never a tagged
    # one; the tag read replays the pinned snapshot exactly.
    t = _table(catalog, spark, name="tagged")  # v1: the 5 canonical rows
    t.create_tag("baseline")
    t.append(spark.createDataFrame([("F", "large", 7)], DDL))  # v2
    t.append(spark.createDataFrame([("G", "small", 3)], DDL))  # v3
    assert t.tags() == {"baseline": 1}
    assert t.read(tag="baseline").count() == 5
    with pytest.raises(ValueError):
        t.create_tag("baseline")  # immutable
    with pytest.raises(ValueError):
        t.create_tag("nope", version=99)  # uncommitted version
    out = t.expire_snapshots(keep_last=1, orphan_older_than_s=0)
    assert out["expired_versions"] == [2]  # v1 pinned by tag, v3 is HEAD
    assert t.read(tag="baseline").count() == 5  # still readable
    assert t.read().count() == 7
    t.drop_tag("baseline")
    out = t.expire_snapshots(keep_last=1, orphan_older_than_s=0)
    assert out["expired_versions"] == [1]  # unpinned -> expired
    with pytest.raises(FileNotFoundError):
        t.read(version=1).count()


def test_branch_wap_publish(catalog, spark):
    # Write-audit-publish: appends on the audit branch never move main;
    # the branch view = base + staged; fast_forward publishes all of it
    # as ONE snapshot and drops the branch.
    t = _table(catalog, spark, name="wap")  # v1: 5 rows
    base = t.create_branch("audit")
    assert base == 1
    t.append_to_branch("audit", spark.createDataFrame([("F", "large", 7)], DDL))
    t.append_to_branch("audit", spark.createDataFrame([("G", "small", 3)], DDL))
    assert t.read().count() == 5            # main untouched
    assert t.current_version() == 1
    assert t.read_branch("audit").count() == 7  # audit view
    assert t.branches() == {"audit": {"base": 1, "n_appends": 2}}
    v = t.fast_forward("audit")
    assert v == 2 and t.current_version() == 2
    assert t.read().count() == 7            # one publish commit
    assert t.branches() == {}
    # the publish is a single snapshot: both files share seq 2
    assert {f["seq"] for f in t.snapshot(2)["data_files"]} == {1, 2}


def test_branch_publish_conflicts_if_main_moved(catalog, spark):
    from iceberg_playground_spark.tables import CommitConflict

    t = _table(catalog, spark, name="wapc")
    t.create_branch("audit")
    t.append_to_branch("audit", spark.createDataFrame([("F", "large", 7)], DDL))
    t.append(spark.createDataFrame([("Z", "small", 1)], DDL))  # main moves
    with pytest.raises(CommitConflict):
        t.fast_forward("audit")
    assert t.read().count() == 6  # main intact, nothing merged
    t.drop_branch("audit")
    with pytest.raises(ValueError):
        t.read_branch("audit")


def test_branch_name_rules_and_duplicates(catalog, spark):
    t = _table(catalog, spark, name="wapn")
    t.create_branch("audit")
    with pytest.raises(ValueError):
        t.create_branch("audit")  # exists
    with pytest.raises(ValueError):
        t.create_branch("../escape")  # ref-name shape
    t.drop_branch("audit")
    with pytest.raises(KeyError):
        t.drop_branch("audit")


def test_branch_deletes_do_not_mask_branch_appends(catalog, spark):
    # Base-scoped MoR deletes apply to base files only: a branch append
    # re-adding a deleted key stays visible in the branch view.
    t = _table(catalog, spark, name="wapd")
    t.delete_where("name = 'A'", ["name"])  # v2 masks base A
    t.create_branch("fix")
    t.append_to_branch("fix", spark.createDataFrame([("A", "tiny", 1)], DDL))
    rows = {r["name"]: r["size"] for r in t.read_branch("fix").collect()}
    assert rows["A"] == "tiny"  # branch row visible, base A masked
    assert t.read().filter("name = 'A'").count() == 0


def test_files_metadata_table(catalog, spark):
    t = catalog.create_table("test_ns", "ft", DDL, drop_if_exists=True)
    t.append(spark.createDataFrame(ROWS, DDL).repartition(2, "name"))
    t.append(spark.createDataFrame([("F", "large", 7)], DDL))
    got = t.files().collect()
    assert sum(r["n_rows"] for r in got) == 6
    assert {r["seq"] for r in got} == {1, 2}
    assert all(r["n_bounded_cols"] == 3 for r in got if r["n_rows"] > 0)
    # time travel: v1's files only
    assert sum(r["n_rows"] for r in t.files(version=1).collect()) == 5


def test_metadata_count_and_fallback(catalog, spark):
    t = _table(catalog, spark, name="mc")
    assert t.metadata_count() == 5          # append-only: pure metadata
    t.append(spark.createDataFrame([("F", "large", 7)], DDL))
    assert t.metadata_count() == 6
    t.delete_where("size = 'medium'", ["name"])
    assert t.metadata_count() is None       # MoR delete: must scan
    assert t.read().count() == 4
    t.compact(target_files=1)               # rewrite folds deletes in
    assert t.metadata_count() == 4          # metadata answer restored
    assert t.metadata_count(version=1) == 5  # per-version stats


def test_merge_with_delete_clause(catalog, spark):
    # WHEN MATCHED AND flag THEN DELETE / MATCHED THEN UPDATE /
    # NOT MATCHED THEN INSERT — all in one snapshot
    t = _table(catalog, spark, name="mrg")
    src = spark.createDataFrame(
        [("A", "tiny", 1, False),   # matched -> update
         ("B", None, 0, True),      # matched -> delete
         ("Z", "large", 9, False)], # not matched -> insert
        "name STRING, size STRING, count INT, is_delete BOOLEAN",
    )
    v = t.merge(src, ["name"], delete_col="is_delete")
    assert v == 2
    rows = {r["name"]: (r["size"], r["count"]) for r in t.read().collect()}
    assert rows["A"] == ("tiny", 1)      # updated
    assert "B" not in rows               # deleted
    assert rows["Z"] == ("large", 9)     # inserted
    assert rows["C"] == ("medium", 10)   # untouched passthrough
    assert len(rows) == 5
    # time travel: v1 still has the originals
    assert t.read(version=1).filter("name = 'B'").count() == 1


def test_rollback_restores_content_and_keeps_history(catalog, spark):
    t = _table(catalog, spark, name="rb")  # v1
    t.append(spark.createDataFrame([("BAD", "x", -1)], DDL))  # v2: oops
    t.delete_where("name = 'A'", ["name"])  # v3: worse
    v = t.rollback(1)
    assert v == 4 and t.current_version() == 4
    assert sorted(tuple(r) for r in t.read().collect()) == sorted(ROWS)
    # history stays append-only: the bad snapshots remain auditable
    assert t.read(version=2).filter("name = 'BAD'").count() == 1
    assert t.read(version=3).filter("name = 'A'").count() == 0
    # a rollback can itself be rolled back
    t.rollback(3)
    assert t.read().filter("name = 'A'").count() == 0
    assert t.current_version() == 5


def test_rollback_replays_old_schema(catalog, spark):
    t = _table(catalog, spark, name="rbs")  # v1
    t.add_column("flag", "INT")  # v2
    t.append(
        spark.createDataFrame([("F", "l", 7, 1)], DDL + ", flag INT")
    )  # v3
    t.rollback(1)  # v4: back to 3 columns
    assert t.read().columns == ["name", "size", "count"]
    assert t.read().count() == 5
    # forward again: schema returns with the data
    t.rollback(3)
    assert t.read().columns == ["name", "size", "count", "flag"]
    assert t.read().count() == 6


def test_timestamp_time_travel(catalog, spark):
    import time as _time

    t = _table(catalog, spark, name="ts_tt")  # v1
    t_mid = _time.time()
    t.append(spark.createDataFrame([("F", "large", 7)], DDL))  # v2
    assert t.version_at(t_mid) == 1
    assert t.version_at(_time.time()) == 2
    assert t.read(as_of_ts=t_mid).count() == 5
    assert t.read(as_of_ts=_time.time()).count() == 6
    with pytest.raises(ValueError):
        t.version_at(0.0)  # before the first commit
    with pytest.raises(ValueError):
        t.read(version=1, as_of_ts=t_mid)  # mutually exclusive


def test_concurrent_branch_appends_all_land(catalog, spark):
    # four writers racing onto the SAME branch: the os.link entry CAS
    # serializes them — every staged append survives into the publish
    import threading

    t = _table(catalog, spark, name="wapr")
    t.create_branch("audit")
    errs = []

    def stage(tag):
        try:
            t.append_to_branch(
                "audit", spark.createDataFrame([(tag, "x", 1)], DDL)
            )
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [
        threading.Thread(target=stage, args=(f"B{i}",)) for i in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.branches()["audit"]["n_appends"] == 4
    t.fast_forward("audit")
    names = {r["name"] for r in t.read().collect()}
    assert {"B0", "B1", "B2", "B3"} <= names  # nothing lost
    assert t.current_version() == 2  # ONE publish snapshot


def test_position_delete_mor(catalog, spark):
    # positional deletes pin EXACT physical rows: with duplicate "A"
    # rows, a predicate delete removes both (they both match), but a
    # later re-append of the same key is untouched — even though an
    # equality delete at the same sequence would NOT mask it either,
    # the position kind can never mask anything it didn't list.
    t = _table(catalog, spark, rows=ROWS + [("A", "large", 99)])
    t.delete_where_positional("name = 'A'")
    names = [r["name"] for r in t.read().collect()]
    assert sorted(names) == ["B", "C", "D", "E"]
    # data files untouched (merge-on-read)
    assert t.snapshot(2)["data_files"] == t.snapshot(1)["data_files"]
    # pre-delete snapshot still shows both As
    assert t.read(version=1).filter("name = 'A'").count() == 2
    # re-append after the positional delete: visible (new file, new rows)
    t.append(spark.createDataFrame([("A", "tiny", 1)], DDL))
    rows = t.read().filter("name = 'A'").collect()
    assert [(r["size"], r["count"]) for r in rows] == [("tiny", 1)]


def test_position_delete_only_listed_rows(catalog, spark):
    # two equal-valued rows in DIFFERENT files: deleting where count=2
    # removes both copies; a narrower predicate touching one file's row
    # leaves the twin alone — the by-position not by-key contract.
    t = catalog.create_table("test_ns", "pd2", DDL, drop_if_exists=True)
    t.append(spark.createDataFrame([("X", "s", 1), ("Y", "s", 2)], DDL))
    t.append(spark.createDataFrame([("X", "s", 1)], DDL))  # twin of v1's X
    t.delete_where_positional("name = 'X' AND count = 1")
    assert t.read().filter("name = 'X'").count() == 0  # both listed
    t2 = catalog.create_table("test_ns", "pd3", DDL, drop_if_exists=True)
    t2.append(spark.createDataFrame([("X", "s", 1)], DDL))
    t2.append(spark.createDataFrame([("X", "s", 1)], DDL))
    # delete only the SECOND file's copy via a positional file built
    # from the incremental view of v2
    v = t2.current_version()
    hits = (
        t2._assemble(
            [f for f in t2.snapshot(v)["data_files"] if f["seq"] == 2],
            v,
            with_pos=True,
        )
        .filter("name = 'X'")
        .select("__f", "__p")
    )
    import json as _json
    import os as _os
    import uuid as _uuid

    d = _os.path.join(t2.root, "deletes", _uuid.uuid4().hex)
    hits.write.mode("overwrite").parquet(d)
    t2._commit(
        [], [_json.dumps({"path": d, "pos": True})], {"operation": "delete-pos"}
    )
    assert t2.read().filter("name = 'X'").count() == 1  # twin survives


def test_position_delete_compaction_and_changelog(catalog, spark):
    t = _table(catalog, spark, name="pdc")
    t.delete_where_positional("name = 'B'")  # v2
    rows = {
        (r["commit_version"], r["change_type"], r["name"])
        for r in t.changelog(1, 2).collect()
    }
    assert rows == {(2, "delete", "B")}
    before = sorted(tuple(r) for r in t.read().collect())
    t.compact(target_files=1)  # folds the positional delete in
    snap = t.snapshot(t.current_version())
    assert snap["delete_files"] == []
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_mixed_equality_and_position_deletes(catalog, spark):
    t = _table(catalog, spark, name="pdm")
    t.delete_where("name = 'A'", ["name"])          # equality
    t.delete_where_positional("name = 'B'")          # positional
    names = sorted(r["name"] for r in t.read().collect())
    assert names == ["C", "D", "E"]
    # metadata count correctly refuses under either kind
    assert t.metadata_count() is None


def test_position_delete_on_empty_table_is_noop(catalog, spark):
    t = catalog.create_table("test_ns", "pd0", DDL, drop_if_exists=True)
    v = t.delete_where_positional("name = 'A'")  # nothing to match
    assert v == 1 and t.read().count() == 0
    t.append(spark.createDataFrame([("A", "s", 1)], DDL))
    # the empty positional delete masks nothing, incl. same-key appends
    assert t.read().count() == 1


def test_position_delete_on_partitioned_table(catalog, spark):
    # hive layout: positions are per physical file inside partition
    # dirs; the partition column recovers from the path and the
    # positional mask still pins exact rows
    t = catalog.create_table(
        "test_ns", "pdpart", DDL, partition_by=["size"],
        drop_if_exists=True,
    )
    t.append(spark.createDataFrame(ROWS, DDL))
    t.delete_where_positional("size = 'medium' AND count > 10")
    rows = sorted((r["name"], r["size"]) for r in t.read().collect())
    assert ("B", "medium") not in rows          # count 15: deleted
    assert ("C", "medium") in rows              # count 10: kept
    assert len(rows) == 4


def test_merge_null_flag_is_not_a_delete(catalog, spark):
    # a WHEN MATCHED AND <cond> clause with a NULL condition does not
    # fire: the row updates, it is not silently deleted
    t = _table(catalog, spark, name="mrgnull")
    src = spark.createDataFrame(
        [("A", "tiny", 1, None), ("B", None, 0, True)],
        "name STRING, size STRING, count INT, is_delete BOOLEAN",
    )
    t.merge(src, ["name"], delete_col="is_delete")
    rows = {r["name"]: (r["size"], r["count"]) for r in t.read().collect()}
    assert rows["A"] == ("tiny", 1)  # NULL flag: updated, not deleted
    assert "B" not in rows


def test_rename_column_metadata_only(catalog, spark):
    t = _table(catalog, spark, name="rn")  # v1 under (name,size,count)
    v = t.rename_column("size", "bucket")
    assert v == 2
    # zero files moved; old rows read under the NEW name
    assert t.snapshot(2)["data_files"] == t.snapshot(1)["data_files"]
    assert t.read().columns == ["name", "bucket", "count"]
    assert t.read().filter("bucket = 'medium'").count() == 2
    # time travel replays the OLD name
    assert t.read(version=1).columns == ["name", "size", "count"]
    # appends under the new schema mix with old-generation files
    t.append(
        spark.createDataFrame(
            [("F", "huge", 7)], "name STRING, bucket STRING, count INT"
        )
    )
    assert t.read().filter("bucket = 'huge'").count() == 1
    assert t.read().count() == 6


def test_rename_column_validation(catalog, spark):
    t = _table(catalog, spark, name="rnv")
    with pytest.raises(ValueError):
        t.rename_column("nope", "x")  # unknown
    with pytest.raises(ValueError):
        t.rename_column("size", "name")  # collision
    tp = catalog.create_table(
        "test_ns", "rnp", DDL, partition_by=["size"], drop_if_exists=True
    )
    with pytest.raises(ValueError):
        tp.rename_column("size", "bucket")  # partition column


def test_rename_after_delete_keeps_masking(catalog, spark):
    # an equality delete committed BEFORE the rename must keep masking
    # after it: the delete file's key names translate forward
    t = _table(catalog, spark, name="rnd")
    t.delete_where("size = 'medium'", ["size"])  # masks B and C
    t.rename_column("size", "bucket")
    names = sorted(r["name"] for r in t.read().collect())
    assert names == ["A", "D", "E"]
    # and a delete AFTER the rename works under the new name
    t.delete_where("bucket = 'small'", ["name"])
    assert sorted(r["name"] for r in t.read().collect()) == ["E"]


def test_rename_then_add_then_rename(catalog, spark):
    # evolution chain: rename -> add -> rename; every generation reads
    t = _table(catalog, spark, name="rnc")
    t.rename_column("count", "qty")
    t.add_column("flag", "INT")
    t.rename_column("flag", "marker")
    assert t.read().columns == ["name", "size", "qty", "marker"]
    assert t.read().filter("marker IS NULL").count() == 5
    t.append(
        spark.createDataFrame(
            [("Z", "s", 1, 9)],
            "name STRING, size STRING, qty INT, marker INT",
        )
    )
    assert t.read().filter("marker = 9").count() == 1
    # compaction folds everything into the current shape
    t.compact(target_files=1)
    assert t.read().count() == 6
    # rollback to v1 replays the ORIGINAL schema
    t.rollback(1)
    assert t.read().columns == ["name", "size", "count"]


def test_changelog_conforms_across_schema_evolution(catalog, spark):
    # every changelog row emits in the WINDOW-END schema: renamed
    # columns under their current names, later-added columns NULL
    t = catalog.create_table("test_ns", "clrn", "k INT, v STRING")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING"))
    t.rename_column("v", "val")
    t.delete_where("val = 'a'", ["k"])
    t.add_column("n", "INT")
    t.append(
        spark.createDataFrame([(3, "c", 7)], "k INT, val STRING, n INT")
    )
    log = t.changelog(0, t.current_version())
    assert log.columns == ["commit_version", "change_type", "k", "val", "n"]
    rows = sorted(tuple(r) for r in log.collect())
    assert rows == [
        (1, "insert", 1, "a", None),
        (1, "insert", 2, "b", None),
        (3, "delete", 1, "a", None),
        (5, "insert", 3, "c", 7),
    ]


def test_null_partition_value_keeps_bounds_planning_alive(catalog, spark):
    # ADVICE r6 (medium): a merge_schema append missing the partition
    # column lands under __HIVE_DEFAULT_PARTITION__; recording that
    # sentinel STRING as the int column's [min,max] poisoned every
    # later bounds comparison (TypeError in plan_files / scan_where /
    # delete_range). The sentinel must record NO bound — the file is
    # conservatively kept — and range planning must keep working.
    t = catalog.create_table(
        "test_ns", "nullpart", "name STRING, count INT",
        partition_by=["count"], drop_if_exists=True,
    )
    t.append(
        spark.createDataFrame([("A", 1), ("B", 2)], "name STRING, count INT")
    )
    t.append(
        spark.createDataFrame([("Z", "drifted")], "name STRING, extra STRING"),
        merge_schema=True,
    )
    kept, _ = t.plan_files("count", 2, 2)
    assert kept  # planning survives; sentinel file kept conservatively
    assert sorted(
        r["name"] for r in t.scan_where("count", 2, 2).collect()
    ) == ["B"]
    _, summary = t.delete_range("count", 1, 1)
    assert summary["files_dropped"] >= 0  # planning completed
    # A (count=1) deleted; B kept; Z's NULL count is outside any range
    assert sorted(r["name"] for r in t.read().collect()) == ["B", "Z"]


def test_delete_range_lost_race_reclaims_residual_dir(
    catalog, spark, monkeypatch
):
    # ADVICE r6 (low): a lost CAS race used to orphan the fully
    # written residual positional-delete dir until the 3-day orphan
    # grace; the loser must reclaim it immediately before replanning.
    import os

    t = catalog.create_table(
        "test_ns", "drrace", DDL, drop_if_exists=True
    )
    # one data file so the range [12,16] is a PARTIAL overlap (bounds
    # [2,20]) and a residual delete dir is written on every attempt
    t.append(spark.createDataFrame(ROWS, DDL).coalesce(1))

    real_link = os.link
    fails = {"n": 1}

    def flaky_link(src, dst, *a, **kw):
        if fails["n"] and os.sep + "snapshots" + os.sep in dst:
            fails["n"] -= 1
            raise FileExistsError(dst)
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr("os.link", flaky_link)
    _, summary = t.delete_range("count", 12, 16)
    assert summary["files_partial"] == 1
    deletes_dir = os.path.join(t.root, "deletes")
    # exactly ONE delete dir remains: the committed one; the loser's
    # dir was reclaimed on retry
    assert len(os.listdir(deletes_dir)) == 1
    assert sorted(r["name"] for r in t.read().collect()) == [
        "A", "C", "D", "E",
    ]  # only B (count 15) fell in [12,16]
