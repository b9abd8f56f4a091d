"""Unit tests for the icelite snapshot table layer (tables.py): append/
overwrite snapshots, time travel, state commits, lineage counts, GC."""

import os

import pytest

from disco_crawl_spark import tables
from disco_crawl_spark.tables import Catalog, Table


def test_append_overwrite_timetravel(spark, tmp_warehouse):
    t = Catalog(tmp_warehouse).table("t1")
    assert t.read(spark) is None
    sid0, _ = t.append(spark.range(5).selectExpr("id", "id*2 as v"), round_no=0)
    sid1, _ = t.append(spark.range(5, 8).selectExpr("id", "id*2 as v"),
                       round_no=1)
    assert t.read(spark).count() == 8
    # time travel to the first snapshot
    assert t.read(spark, snapshot_id=sid0).count() == 5
    sid2, _ = t.overwrite(spark.range(2).selectExpr("id", "id*2 as v"),
                          round_no=2)
    assert t.read(spark).count() == 2
    assert t.read(spark, snapshot_id=sid1).count() == 8  # history intact
    hist = t.history()
    assert [s["op"] for s in hist] == ["append", "append", "overwrite"]
    # per-file lineage row counts recorded
    assert hist[0]["rows"] == 5 and hist[1]["rows"] == 8
    files = t.snapshot(sid1)["files"]
    assert all(set(f) == {"file", "rows"} for f in files)
    assert sum(f["rows"] for f in files) == 8


def test_state_commit_and_gc(spark, tmp_warehouse):
    t = Catalog(tmp_warehouse).table("t2")
    t.append(spark.range(3), round_no=0)
    sid, _ = t.append(spark.range(3, 6), round_no=1)
    st = t.commit_state(1, {"round": 1, "cursor": {"a": 2}})
    snap = t.current_snapshot()
    assert snap["op"] == "state" and snap["state"]["cursor"]["a"] == 2
    assert t.read(spark).count() == 6  # state commit keeps data
    # expire everything before the state snapshot: reads still work
    t.expire_before(st)
    assert t.read(spark).count() == 6
    assert all(s["id"] >= st for s in t.history())


def test_atomic_manifest_swap(spark, tmp_warehouse):
    t = Catalog(tmp_warehouse).table("t3")
    t.append(spark.range(4), round_no=0)
    # no temp manifests left behind
    leftovers = [f for f in os.listdir(t.path) if ".tmp." in f]
    assert leftovers == []


def test_append_footer_failure_commits_nothing(spark, tmp_warehouse,
                                              monkeypatch):
    # a footer read failing partway through the new files must abort the
    # append: committing the files read so far would leave a snapshot whose
    # lineage lists only some of them, so its row count would come up short
    t = Table(tmp_warehouse, "hosts")

    def hosts_df(lo, hi):
        return (spark.range(lo, hi)
                .selectExpr("concat('h', cast(id % 4 as string)) as host",
                            "id as n")
                .repartitionByRange(4, "host"))

    t.append(hosts_df(0, 40), round_no=0)
    before = t.history()
    real = tables.papq.ParquetFile
    calls = []

    def flaky(path, *a, **kw):
        calls.append(path)
        if len(calls) == 2:
            raise OSError("injected footer read failure")
        return real(path, *a, **kw)

    monkeypatch.setattr(tables.papq, "ParquetFile", flaky)
    with pytest.raises(OSError, match="injected"):
        t.append(hosts_df(40, 80), round_no=1)
    monkeypatch.undo()
    assert t.history() == before
    assert t.read(spark).count() == 40


def test_compact_rewrites_small_files(spark, tmp_warehouse):
    # Iceberg rewrite_data_files parity: many per-append delta files
    # collapse to target_files, rows identical, history/time travel
    # intact
    t = Table(tmp_warehouse, "log")
    for batch in range(4):
        df = (spark.range(batch * 50, batch * 50 + 50)
              .selectExpr("concat('h', lpad(cast(id as string), 4, '0')) as host",
                          "id as n")
              .repartition(4))  # 4 files per append, like a wide writer
        t.append(df, round_no=batch)
    pre = t.current_snapshot()
    assert len(pre["files"]) == 16
    rows_pre = {(r["host"], r["n"]) for r in t.read(spark).collect()}
    sid = t.compact(spark, round_no=4, target_files=2, sort_cols=["host"])
    snap = t.current_snapshot()
    assert snap["id"] == sid and snap["op"] == "compact"
    assert len(snap["files"]) == 2          # lineage reset to the rewrite
    assert snap["rows"] == 200
    rows_post = {(r["host"], r["n"]) for r in t.read(spark).collect()}
    assert rows_post == rows_pre
    # time travel to the pre-compaction snapshot still reads the old files
    assert t.read(spark, snapshot_id=pre["id"]).count() == 200
    # expire pre-compaction history: compacted head survives, old dirs GC'd
    t.expire_before(sid)
    assert t.read(spark).count() == 200
    assert [s["op"] for s in t.history()] == ["compact"]


def test_compact_empty_table_noop(spark, tmp_warehouse):
    t = Table(tmp_warehouse, "empty")
    assert t.compact(spark) is None
