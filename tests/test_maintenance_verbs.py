"""Round-13 maintenance verbs (VERDICT r12 items 3/4 + ADVICE r12 high):

- expire_snapshots after rewrite_manifests must NOT reclaim staged
  dirs the current snapshot still reads through merged ``paths``
  entries (ADVICE r12 high — reproduced live data loss before the
  _entry_dirs fix);
- remove_orphan_files reclaims at FILE grain what retention_forecast
  counts (the delete_range-carve gap expire's dir grain leaves), with
  the Iceberg older_than refusal and dry_run;
- rewrite_position_delete_files compacts N positional delete files
  into one, preserving sequence scoping (read row-identical) and
  pruning dangling rows;
- every verb that mints a version writes the same snapshot entry
  shape, and a lost CAS race makes rollback retry and the HEAD-pinned
  rewrites refuse.
"""

from __future__ import annotations

import json
import os

import pytest

from iceberg_playground_spark.tables import (
    BatchedCommitter,
    CommitConflict,
    LakeCatalog,
)

DDL = "k BIGINT, par BIGINT"


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


def _rows(spark, ks):
    return spark.createDataFrame([(k, k % 2) for k in ks], DDL)


def _two_file_append(t, spark, ks):
    """One staged dir holding TWO files with disjoint ``par`` bounds
    (range partitioning on a two-valued key with two partitions can
    only split 0|1): file 0 = evens (par 0..0), file 1 = odds
    (par 1..1)."""
    return t.append(_rows(spark, ks).repartitionByRange(2, "par"))


def test_expire_after_rewrite_keeps_merged_paths_live(catalog, spark):
    # ADVICE r12 high: pre-fix this read failed PATH_NOT_FOUND — the
    # merged entry's path is the data root, its files live in the
    # pre-rewrite staged dirs, and dir liveness judged by path alone
    # rmtree'd them with the expired snapshots.
    t = catalog.create_table("m", "rwm_expire", DDL, drop_if_exists=True)
    staged = [
        t.stage_append(_rows(spark, range(a, a + 10)).coalesce(1))
        for a in (0, 10)
    ]
    t._commit(staged, [], {"operation": "append", "added": 2})
    v = t.rewrite_manifests()  # the two same-seq entries merge
    entry = t.snapshot(v)["data_files"][0]
    assert len(entry["paths"]) == 2  # merged multi-path entry
    before = sorted(tuple(r) for r in t.read().collect())
    res = t.expire_snapshots(keep_last=1)
    assert res["expired_versions"] == [1]
    assert res["removed_dirs"] == 0  # both staged dirs still live
    after = sorted(tuple(r) for r in t.read().collect())
    assert after == before and len(after) == 20


def test_expire_keeps_partitioned_carve_live(catalog, spark):
    # ADVICE r13 high: a hive-partitioned carve's ``paths`` point at
    # NESTED partition dirs; pre-fix _entry_dirs marked only those
    # nested dirs live, the expired pre-carve snapshot put the
    # TOP-LEVEL staged dir in dead, and rmtree deleted partitions the
    # current snapshot still reads (PATH_NOT_FOUND on the next read).
    t = catalog.create_table(
        "m", "part_expire", DDL, drop_if_exists=True, partition_by=["par"]
    )
    t.append(_rows(spark, range(0, 20)).coalesce(1))
    v, plan = t.delete_range("par", 0, 0)  # drops the par=0 partition
    assert plan["metadata_only"]
    entry = t.snapshot(v)["data_files"][0]
    assert entry["paths"] and all("par=1" in p for p in entry["paths"])
    before = sorted(tuple(r) for r in t.read().collect())
    assert before == [(k, 1) for k in range(1, 20, 2)]
    res = t.expire_snapshots(keep_last=1)
    assert res["expired_versions"] == [1]
    assert res["removed_dirs"] == 0  # the staged dir is still live
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_remove_orphans_reclaims_carved_file(catalog, spark):
    t = catalog.create_table("m", "orph", DDL, drop_if_exists=True)
    _two_file_append(t, spark, range(0, 20))
    v, plan = t.delete_range("par", 0, 0)  # wholly drops the evens file
    assert plan["files_dropped"] == 1 and plan["metadata_only"]
    fc = t.retention_forecast([1]).collect()[0]
    assert fc["n_reclaim_files"] == 1 and fc["reclaim_rows"] == 10
    t.expire_snapshots(keep_last=1)
    # dir grain can't see the carved file: it is still on disk
    dry = t.remove_orphan_files(older_than_s=0, dry_run=True)
    assert dry["orphans_removed"] == 1
    assert all(os.path.exists(p) for p in dry["removed_paths"])
    res = t.remove_orphan_files(older_than_s=0)
    assert res["removed_paths"] == dry["removed_paths"]
    assert not any(os.path.exists(p) for p in res["removed_paths"])
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(k, 1) for k in range(1, 20, 2)]
    # second sweep: nothing left to reclaim
    assert t.remove_orphan_files(older_than_s=0)["orphans_removed"] == 0


def test_remove_orphans_refuses_recent_files(catalog, spark):
    t = catalog.create_table("m", "orph_recent", DDL, drop_if_exists=True)
    _two_file_append(t, spark, range(0, 20))
    t.delete_range("par", 0, 0)
    t.expire_snapshots(keep_last=1)
    res = t.remove_orphan_files()  # default 3-day grace: file too young
    assert res["orphans_removed"] == 0 and res["kept_recent"] == 1
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(k, 1) for k in range(1, 20, 2)]


def test_remove_orphans_never_touches_live_files(catalog, spark):
    t = catalog.create_table("m", "orph_live", DDL, drop_if_exists=True)
    t.append(_rows(spark, range(0, 10)).coalesce(1))
    t.rewrite_manifests()  # no-op (1 entry) or merged: either way live
    before = sorted(tuple(r) for r in t.read().collect())
    res = t.remove_orphan_files(older_than_s=0)
    assert res["orphans_removed"] == 0
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_rewrite_position_deletes_row_identical(catalog, spark):
    t = catalog.create_table("m", "rpd", DDL, drop_if_exists=True)
    t.append(_rows(spark, range(0, 10)).coalesce(1))
    t.delete_where_positional("k < 2")
    t.append(_rows(spark, range(10, 20)).coalesce(1))
    t.delete_where_positional("k IN (5, 15)")
    t.delete_where_positional("k = 19")
    before = sorted(tuple(r) for r in t.read().collect())
    assert len(before) == 20 - 5
    head = t.current_version()
    snap = t.snapshot(head)
    assert len(snap["delete_files"]) == 3
    v = t.rewrite_position_delete_files()
    assert v == head + 1
    merged = t.snapshot(v)
    assert len(merged["delete_files"]) == 1
    assert merged["summary"]["merged_from"] == 3
    after = sorted(tuple(r) for r in t.read().collect())
    assert after == before
    # time travel: the pre-rewrite snapshot still reads identically
    assert sorted(tuple(r) for r in t.read(version=head).collect()) == before


def test_rewrite_position_deletes_prunes_dangling(catalog, spark):
    t = catalog.create_table("m", "rpd_dangle", DDL, drop_if_exists=True)
    _two_file_append(t, spark, range(0, 20))
    t.delete_where_positional("k IN (0, 1)")  # one row per file
    t.delete_where_positional("k IN (2, 3)")
    t.delete_range("par", 0, 0)  # drops the evens file: its rows dangle
    before = sorted(tuple(r) for r in t.read().collect())
    assert before == [(k, 1) for k in range(5, 20, 2)]
    v = t.rewrite_position_delete_files()
    merged_paths = [
        __import__("json").loads(d["entry"])["path"]
        for d in t.snapshot(v)["delete_files"]
    ]
    assert len(merged_paths) == 1
    kept = spark.read.parquet(merged_paths[0]).count()
    assert kept == 2  # k=1 and k=3 survive; k=0/2 danged with their file
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_rewrite_position_deletes_refuses_noop(catalog, spark):
    t = catalog.create_table("m", "rpd_noop", DDL, drop_if_exists=True)
    t.append(_rows(spark, range(0, 10)).coalesce(1))
    t.delete_where_positional("k = 0")
    head = t.current_version()
    # lone entry, nothing dangling: no-op (no version minted)
    assert t.rewrite_position_delete_files() == head
    assert t.current_version() == head


def test_rewrite_lone_dangling_entry(catalog, spark):
    # ADVICE r13: a SINGLE positional delete file full of dangling
    # rows must still be rewritten (the count-only refusal left it
    # uncompacted forever).
    t = catalog.create_table("m", "rpd_lone", DDL, drop_if_exists=True)
    _two_file_append(t, spark, range(0, 20))
    t.delete_where_positional("k IN (0, 1)")  # one row per file
    t.delete_range("par", 0, 0)  # evens file dropped: k=0 row dangles
    before = sorted(tuple(r) for r in t.read().collect())
    assert before == [(k, 1) for k in range(3, 20, 2)]
    head = t.current_version()
    v = t.rewrite_position_delete_files()
    assert v == head + 1  # lone entry WITH dangling rows: rewritten
    merged_paths = [
        __import__("json").loads(d["entry"])["path"]
        for d in t.snapshot(v)["delete_files"]
    ]
    assert len(merged_paths) == 1
    assert spark.read.parquet(merged_paths[0]).count() == 1  # k=1 only
    assert sorted(tuple(r) for r in t.read().collect()) == before
    # second call: lone entry, nothing dangling now — refuse
    assert t.rewrite_position_delete_files() == v


def _publish_lifecycle(t, spark) -> list[str]:
    """One pass over every verb that mints a version, in an order where
    each one has work to do. Returns the operations in commit order."""
    _two_file_append(t, spark, range(0, 20))
    c = BatchedCommitter(t, interval_s=3600)
    for a in (20, 30):
        c.add(t.stage_append(_rows(spark, range(a, a + 10)).coalesce(1)))
    c.flush()  # two same-seq entries for rewrite_manifests to merge
    t.rewrite_manifests()
    t.delete_where("k = 3", ["k"])
    t.delete_where_positional("k IN (4, 5)")
    t.delete_where_positional("k = 6")
    t.rewrite_position_delete_files()
    t.delete_range("k", 8, 9)  # partial overlap: residual delete dir
    t.upsert(_rows(spark, [10, 40]).coalesce(1), ["k"])
    t.rollback(t.current_version() - 1)
    t.create_tag("pre-evolution")
    t.add_column("note", "STRING")
    t.compact(target_files=1)
    t.create_branch("audit")
    t.append_to_branch("audit", _rows(spark, [50]).coalesce(1))
    t.fast_forward("audit")
    return [
        t.snapshot(v)["summary"]["operation"] for v in t.versions()
    ]


def test_snapshot_format_contract(catalog, spark):
    # every verb that mints a version writes the same entry shape,
    # chained parent -> version with no gaps
    t = catalog.create_table("m", "contract", DDL, drop_if_exists=True)
    ops = _publish_lifecycle(t, spark)
    assert ops == [
        "append", "append", "rewrite-manifests", "delete", "delete-pos",
        "delete-pos", "rewrite-position-deletes", "delete-aligned",
        "upsert", "rollback", "add-column", "compact", "fast-forward",
    ]
    snap_dir = os.path.join(t.root, "snapshots")
    names = sorted(os.listdir(snap_dir))
    assert names == [f"v{v:08d}.json" for v in range(1, len(ops) + 1)]
    for v, fn in enumerate(names, start=1):
        with open(os.path.join(snap_dir, fn)) as f:
            entry = json.load(f)
        assert set(entry) == {
            "version", "parent", "ts", "ddl",
            "data_files", "delete_files", "summary",
        }
        assert entry["version"] == v
        assert entry["parent"] == v - 1


@pytest.mark.parametrize(
    "verb", ["rollback", "rewrite_manifests", "rewrite_position_delete_files"]
)
def test_publish_lost_race(catalog, spark, monkeypatch, verb):
    # one lost CAS race: rollback retries and lands on the next
    # version; the rewrites are pinned to the HEAD they read, so they
    # refuse with CommitConflict and HEAD stays put
    t = catalog.create_table("m", f"race_{verb}", DDL, drop_if_exists=True)
    staged = [
        t.stage_append(_rows(spark, range(a, a + 10)).coalesce(1))
        for a in (0, 10)
    ]
    t._commit(staged, [], {"operation": "append", "added": 2})  # v1
    target_rows = sorted(tuple(r) for r in t.read().collect())
    t.delete_where_positional("k < 2")  # v2
    t.delete_where_positional("k = 15")  # v3
    head = t.current_version()

    real_link = os.link
    fails = {"n": 1}

    def flaky_link(src, dst, *a, **kw):
        if fails["n"] and os.sep + "snapshots" + os.sep in dst:
            fails["n"] -= 1
            raise FileExistsError(dst)
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr("os.link", flaky_link)
    if verb == "rollback":
        assert t.rollback(1) == head + 1
        assert sorted(tuple(r) for r in t.read().collect()) == target_rows
    else:
        with pytest.raises(CommitConflict, match="landed concurrently"):
            getattr(t, verb)()
        assert t.current_version() == head
    assert fails["n"] == 0  # the race was actually lost once
    leftovers = [
        f for f in os.listdir(os.path.join(t.root, "snapshots"))
        if ".tmp." in f
    ]
    assert leftovers == []
