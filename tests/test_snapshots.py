"""Snapshot-table semantics: atomic commits, append file-sharing, time
travel, rollback, optimistic-concurrency conflicts, expiry."""

from __future__ import annotations

import json
import os

import pytest

from pmcanalysis_spark.snapshots import CommitConflict, SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 10 as v")


def test_append_overwrite_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 0, 5), mode="append")
    v2 = t.commit(_df(spark, 5, 8), mode="append")
    v3 = t.commit(_df(spark, 100, 102), mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert t.current_version() == 3
    # time travel reads every retained snapshot
    assert sorted(r.id for r in t.read(1).collect()) == list(range(5))
    assert sorted(r.id for r in t.read(2).collect()) == list(range(8))
    assert sorted(r.id for r in t.read().collect()) == [100, 101]
    # appends share the parent's files: snapshot 2 references both commits
    assert len(t.snapshot(2)["files"]) == 2
    assert t.snapshot(2)["row_count"] == 8


def test_crashed_commit_invisible(spark, tmp_path):
    """Data files written but no snapshot json (a crash before the commit
    point): readers still see the previous snapshot only."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3))
    # simulate the orphaned half-commit
    _df(spark, 50, 60).write.parquet(str(tmp_path / "t" / "data" / "orphan"))
    assert t.current_version() == 1
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2]


def test_commit_conflict_raises_and_cleans(spark, tmp_path):
    """Two writers racing from the same parent: the second create of the
    same snapshot version fails with CommitConflict and its data files are
    removed (retry would re-read the new current and commit as v3)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3))
    # writer A wins version 2 out-of-band
    snap_path = str(tmp_path / "t" / "snapshots" / "v000002.json")
    with open(snap_path, "w") as f:
        json.dump({"snapshot_id": 2, "parent": 1, "operation": "append",
                   "files": t.snapshot(1)["files"], "row_count": 3}, f)
    before = set(os.listdir(tmp_path / "t" / "data"))
    with pytest.raises(CommitConflict):
        t.commit(_df(spark, 3, 6))
    after = set(os.listdir(tmp_path / "t" / "data"))
    assert before == after  # loser's files cleaned up


def test_rollback_preserves_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 4))
    t.commit(_df(spark, 100, 101), mode="overwrite")
    v3 = t.rollback(1)
    assert v3 == 3 and t.current_version() == 3
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3]
    # the overwritten snapshot is still readable (history not rewritten)
    assert [r.id for r in t.read(2).collect()] == [100]


def test_expire_snapshots(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3))
    t.commit(_df(spark, 100, 102), mode="overwrite")
    t.commit(_df(spark, 200, 201), mode="overwrite")
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2]
    # current still reads; expired snapshot gone, its orphan data deleted
    assert [r.id for r in t.read().collect()] == [200]
    with pytest.raises(FileNotFoundError):
        t.snapshot(1)
    remaining = set(os.listdir(tmp_path / "t" / "data"))
    assert remaining == set(t.snapshot(3)["files"])


def test_commit_retry_after_conflict(spark, tmp_path):
    """The documented retry protocol: after CommitConflict, re-invoking
    commit re-reads the new current version and lands as the next snapshot
    with the winner's rows included (append semantics preserved)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3))
    # writer A wins version 2 out-of-band (same files, fake append)
    with open(str(tmp_path / "t" / "snapshots" / "v000002.json"), "w") as f:
        json.dump({"snapshot_id": 2, "parent": 1, "operation": "append",
                   "files": t.snapshot(1)["files"], "row_count": 3}, f)
    with open(str(tmp_path / "t" / "_current.json"), "w") as f:
        json.dump({"current": 2}, f)
    with_retry = None
    for _ in range(2):  # the retry loop a caller writes
        try:
            with_retry = t.commit(_df(spark, 10, 12), mode="append")
            break
        except CommitConflict:
            continue
    assert with_retry == 3
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 10, 11]


def _count_parquet_files(t):
    snap = t.snapshot(t.current_version())
    return sum(
        1
        for d in snap["files"]
        for name in os.listdir(os.path.join(t.root, "data", d))
        if name.endswith(".parquet")
    )


def test_compact_rewrites_small_files_preserving_content_and_history(spark, tmp_path):
    """rewrite_data_files semantics: many small append commits collapse to
    one commit dir with identical content; pre-compaction snapshots still
    time-travel; expiry then reclaims the small files."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.commit(_df(spark, i * 5, i * 5 + 5).repartition(3), mode="append")
    pre_version = t.current_version()
    pre_files = _count_parquet_files(t)
    assert pre_files >= 4
    v = t.compact(target_file_size_bytes=1 << 30)  # everything fits one file
    assert v == pre_version + 1
    snap = t.snapshot(v)
    assert snap["operation"] == "compact" and len(snap["files"]) == 1
    assert _count_parquet_files(t) == 1
    assert sorted((r.id, r.v) for r in t.read().collect()) == [
        (i, i * 10) for i in range(20)
    ]
    # time travel to pre-compaction still reads the old files
    assert sorted(r.id for r in t.read(pre_version).collect()) == list(range(20))
    # expiry reclaims the small-file dirs no retained snapshot references
    t.expire_snapshots(keep_last=1)
    remaining = set(os.listdir(os.path.join(t.root, "data")))
    assert remaining == set(snap["files"])


def test_compact_noop_and_conflict_cleanup(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 5).coalesce(1))
    assert t.compact() is None  # single file already — nothing to do
    t.commit(_df(spark, 5, 10).coalesce(1), mode="append")
    # a racing writer takes the next version out-of-band
    nxt = t.current_version() + 1
    with open(
        os.path.join(t.root, "snapshots", f"v{nxt:06d}.json"), "w"
    ) as f:
        json.dump({"snapshot_id": nxt, "parent": t.current_version(),
                   "operation": "append",
                   "files": t.snapshot(t.current_version())["files"],
                   "row_count": 10}, f)
    before = set(os.listdir(os.path.join(t.root, "data")))
    with pytest.raises(CommitConflict):
        t.compact(target_file_size_bytes=1 << 30)
    # the loser's rewritten dir was removed
    assert set(os.listdir(os.path.join(t.root, "data"))) == before


def test_diff_between_snapshots(spark, tmp_path):
    """Advancing a pinned consumer: append shows as pure adds; overwrite
    shows removed+added; multiset semantics count duplicates."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3))                                  # v1: 0,1,2
    t.commit(_df(spark, 3, 5), mode="append")                   # v2: +3,4
    d12 = {(r.id, r._change) for r in t.diff(1, 2).collect()}
    assert d12 == {(3, "added"), (4, "added")}
    t.commit(_df(spark, 2, 4), mode="overwrite")                # v3: 2,3
    d23 = {(r.id, r._change) for r in t.diff(2, 3).collect()}
    assert d23 == {(0, "removed"), (1, "removed"), (4, "removed")}
    # duplicate-count change surfaces under exceptAll
    dup = _df(spark, 2, 3)
    t.commit(dup, mode="append")                                # v4: 2,3,2
    d34 = [(r.id, r._change) for r in t.diff(3, 4).collect()]
    assert d34 == [(2, "added")]


def test_compact_aborts_on_lost_rows(spark, tmp_path):
    """The rewritten copy's footer total must equal the parent's row_count;
    a mismatch aborts the compaction and removes the rewritten files."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 5).coalesce(1))
    v = t.commit(_df(spark, 5, 10).coalesce(1), mode="append")
    path = os.path.join(t.root, "snapshots", f"v{v:06d}.json")
    snap = t.snapshot(v)
    snap["row_count"] = 11
    with open(path, "w") as f:
        json.dump(snap, f)
    before = set(os.listdir(os.path.join(t.root, "data")))
    with pytest.raises(RuntimeError, match=r"lost rows \(10 != 11\)"):
        t.compact(target_file_size_bytes=1 << 30)
    assert set(os.listdir(os.path.join(t.root, "data"))) == before
    assert t.current_version() == v
