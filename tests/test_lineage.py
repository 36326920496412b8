from __future__ import annotations

import pytest

import json
import os

from pmcanalysis_spark.lineage import materialize_stage, read_lineage


def test_materialize_writes_lineage_and_resumes(spark, tmp_path):
    base = str(tmp_path / "stages")
    df = spark.range(1000).selectExpr("id", "id % 7 as k")

    out, res = materialize_stage(df, "stage_a", base, key_col="id")
    assert not res.resumed
    assert res.row_count == 1000
    assert out.count() == 1000

    lin = read_lineage(spark, base, "stage_a")
    rows = lin.collect()
    assert sum(r.row_count for r in rows) == 1000
    assert res.n_partitions == len(rows)
    assert {r.stage for r in rows} == {"stage_a"}
    assert all(r.run_id == res.run_id for r in rows)
    # min/max key per partition recorded
    assert all(r.min_key is not None and r.max_key is not None for r in rows)

    # same input -> resume (no rewrite, same data)
    out2, res2 = materialize_stage(df, "stage_a", base, key_col="id")
    assert res2.resumed
    assert res2.run_id == res.run_id
    assert out2.count() == 1000


def test_changed_input_invalidates_snapshot(spark, tmp_path):
    base = str(tmp_path / "stages")
    df1 = spark.range(100).selectExpr("id")
    _, r1 = materialize_stage(df1, "s", base, key_col="id")
    df2 = spark.range(200).selectExpr("id")
    out2, r2 = materialize_stage(df2, "s", base, key_col="id")
    assert not r2.resumed
    assert out2.count() == 200


def test_uncommitted_snapshot_is_rebuilt(spark, tmp_path):
    base = str(tmp_path / "stages")
    df = spark.range(50).selectExpr("id")
    _, r1 = materialize_stage(df, "s", base, key_col="id")
    # corrupt: mark uncommitted (simulates a crash before manifest rename)
    mpath = os.path.join(base, "s", "_lineage_manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["committed"] = False
    with open(mpath, "w") as f:
        json.dump(m, f)
    out, r2 = materialize_stage(df, "s", base, key_col="id")
    assert not r2.resumed
    assert out.count() == 50


def test_fingerprint_stable_across_identical_plans(spark):
    """Regression (ADVICE r1): two identical plans built in the same session
    must fingerprint identically (expression ids are canonicalized away),
    so implicit-fingerprint callers can actually resume."""
    from pmcanalysis_spark.lineage import _fingerprint

    df1 = spark.range(10).selectExpr("id", "id * 2 AS v").filter("v > 4")
    df2 = spark.range(10).selectExpr("id", "id * 2 AS v").filter("v > 4")
    assert _fingerprint(df1) == _fingerprint(df2)


def test_fingerprint_distinguishes_data_literals(spark):
    """Regression (ADVICE r2): literals that LOOK like expression ids or
    addresses ('tag#1', hex strings) must NOT be canonicalized away — two
    different filters fingerprinting equal would resume a stale snapshot
    with wrong data."""
    from pyspark.sql import functions as F

    from pmcanalysis_spark.lineage import _fingerprint

    d = spark.createDataFrame([("tag#1",), ("tag#2",), ("0xAB",)], "tag string")
    assert _fingerprint(d.filter(F.col("tag") == "tag#1")) != _fingerprint(
        d.filter(F.col("tag") == "tag#2")
    )
    assert _fingerprint(d.filter(F.col("tag") == "0xAB")) != _fingerprint(
        d.filter(F.col("tag") == "0xCD")
    )


def test_fingerprint_stable_across_udf_rebuild(spark):
    """mapInPandas closures repr with an object address; rebuilding the same
    plan (fresh function object each call in real jobs) must still
    fingerprint-match or UDF stages never resume."""
    import pandas as pd  # noqa: F401

    from pmcanalysis_spark.lineage import _fingerprint

    def build():
        def ident(batches):
            for pdf in batches:
                yield pdf

        return spark.range(10).mapInPandas(ident, "id long")

    assert _fingerprint(build()) == _fingerprint(build())



def test_changed_local_map_does_not_resume(spark, tmp_path):
    """A canonical map is an Arrow LocalRelation whose plan prints no rows:
    its rows are part of the fingerprint, so a stage over a changed map is
    rebuilt instead of resuming the stale snapshot, and an unchanged map
    still resumes."""
    from pmcanalysis_spark.canonicalize import canonicalize_terms, rewrite_triples_canonical
    from pmcanalysis_spark.lineage import _fingerprint

    base = str(tmp_path / "stages")
    triples = spark.createDataFrame(
        [("HP:2", "p", "DOID:1", 3, 10, 5, 0.5), ("MP:2", "p", "DOID:1", 4, 8, 5, 0.7)],
        "subj string, pred string, obj string, nab long, na long, nb long, npmi double",
    )

    def stage(rows):
        lex = spark.createDataFrame(rows, "name string, term_id string, kind string")
        canon = rewrite_triples_canonical(triples, canonicalize_terms(lex))
        return materialize_stage(canon, "triples_canonical", base, key_col="subj")

    merged = [("tremor", "HP:2", "name"), ("tremor", "MP:2", "name"), ("x", "DOID:1", "name")]
    apart = [("tremor", "HP:2", "name"), ("tremble", "MP:2", "name"), ("x", "DOID:1", "name")]
    out, r1 = stage(merged)
    assert [(r.subj, r.nab) for r in out.collect()] == [("HP:2", 7)]
    with pytest.warns(UserWarning, match="replacing it"):
        out, r2 = stage(apart)
    assert not r2.resumed and r2.input_fingerprint != r1.input_fingerprint
    assert sorted((r.subj, r.nab) for r in out.collect()) == [("HP:2", 3), ("MP:2", 4)]
    _, r3 = stage(apart)
    assert r3.resumed and r3.run_id == r2.run_id
    # the rows, not the plan text, tell two driver-local maps apart
    import pyarrow as pa

    def local(v):
        return spark.createDataFrame(pa.table({"k": ["a", "b"], "v": ["x", v]}))

    assert _fingerprint(local("y")) == _fingerprint(local("y"))
    assert _fingerprint(local("y")) != _fingerprint(local("z"))


def _spark_lineage(spark, base, stage, key_col):
    """The lineage a full scan would give: count/min/max of ``key_col`` per
    written file, keyed by the partition id in the file name."""
    from pyspark.sql import functions as F

    pid = F.regexp_extract(F.input_file_name(), r"part-(\d+)-", 1).cast("int")
    rows = (
        spark.read.parquet(os.path.join(base, stage, "data"))
        .groupBy(pid.alias("partition_id"))
        .agg(
            F.count("*").alias("n"),
            F.min(key_col).cast("string").alias("lo"),
            F.max(key_col).cast("string").alias("hi"),
        )
        .collect()
    )
    return {r.partition_id: (r.n, r.lo, r.hi) for r in rows}


def _footer_rows(spark, base, stage):
    return {
        r.partition_id: (r.row_count, r.min_key, r.max_key)
        for r in read_lineage(spark, base, stage).collect()
    }


def test_footer_lineage_equals_scan_long_key(spark, tmp_path):
    base = str(tmp_path / "stages")
    df = spark.range(0, 5000, 7, numPartitions=5).selectExpr("id * 1000003 AS k", "id")
    _, res = materialize_stage(df, "s", base, key_col="k")
    want = _spark_lineage(spark, base, "s", "k")
    assert _footer_rows(spark, base, "s") == want
    assert len(want) == 5 == res.n_partitions
    assert res.row_count == sum(n for n, _, _ in want.values()) == df.count()


def test_footer_lineage_equals_scan_non_ascii_string_key(spark, tmp_path):
    """Bounds order by UTF-8 bytes, as Spark's string min/max does; NULL
    keys count as rows but not as bounds."""
    base = str(tmp_path / "stages")
    words = ["abc", "Zeta", "é", "日本語", "\uffff", "😀", "ß", "a\u0301", None]
    rows = [(w if w is None else f"{w}{i % 3}", i) for i, w in enumerate(words * 20)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), "name string, i int")
    _, res = materialize_stage(df, "s", base, key_col="name")
    want = _spark_lineage(spark, base, "s", "name")
    assert _footer_rows(spark, base, "s") == want
    assert res.row_count == len(rows) and res.n_partitions == 4
    assert max(hi for _, _, hi in want.values()) == "😀2"


def test_key_over_statistics_limit_gives_null_bounds(spark, tmp_path):
    """Parquet keeps no footer min/max for a value over 4 KB, so that
    partition's bounds are NULL; its count, and the other partition's
    bounds, are still exact."""
    base = str(tmp_path / "stages")
    rows = [("k" * 5000, 0), ("a", 1), ("b", 2), ("c", 3)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), "name string, i int")
    _, res = materialize_stage(df, "s", base, key_col="name")
    assert _footer_rows(spark, base, "s") == {0: (2, None, None), 1: (2, "b", "c")}
    assert (res.row_count, res.n_partitions) == (4, 2)


def test_empty_stage_lineage(spark, tmp_path):
    from pmcanalysis_spark.schemas import LINEAGE

    base = str(tmp_path / "stages")
    df = spark.range(100).selectExpr("id").filter("id < 0")
    out, res = materialize_stage(df, "s", base, key_col="id")
    assert (res.row_count, res.n_partitions) == (0, 0)
    assert out.count() == 0
    lin = read_lineage(spark, base, "s")
    assert lin.columns == LINEAGE.fieldNames()
    assert lin.count() == 0


def test_several_files_per_partition_merge_into_one_row(spark, tmp_path):
    base = str(tmp_path / "stages")
    df = spark.range(0, 1000, 1, numPartitions=2).selectExpr("id")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 100)
    try:
        _, res = materialize_stage(df, "s", base, key_col="id")
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    files = [f for f in os.listdir(os.path.join(base, "s", "data")) if f.startswith("part-")]
    assert len(files) == 10
    assert _footer_rows(spark, base, "s") == {0: (500, "0", "499"), 1: (500, "500", "999")}
    assert (res.row_count, res.n_partitions) == (1000, 2)


def test_non_string_non_integer_key_rejected_before_write(spark, tmp_path):
    base = str(tmp_path / "stages")
    df = spark.range(10).selectExpr("id", "id / 2 AS score")
    with pytest.raises(TypeError, match="score"):
        materialize_stage(df, "s", base, key_col="score")
    assert not os.path.exists(base)


def _jobs_started(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_materialize_runs_no_job_beyond_the_write(spark, tmp_path):
    """Lineage costs no extra scan: materializing a stage starts no more
    Spark jobs than writing the same DataFrame."""
    df = spark.range(2000).selectExpr("id % 50 AS k", "id").groupBy("k").count()
    write = _jobs_started(
        spark, "lineage-write", lambda: df.write.parquet(str(tmp_path / "plain"))
    )
    stage = _jobs_started(
        spark, "lineage-stage",
        lambda: materialize_stage(df, "s", str(tmp_path / "stages"), key_col="k"),
    )
    assert write >= 1
    assert stage <= write


def test_snapshot_commit_starts_only_the_write_jobs(spark, tmp_path):
    """SnapshotTable counts a commit's rows from the Parquet footers: the
    commit starts no Spark job beyond writing the same DataFrame."""
    from pmcanalysis_spark.snapshots import SnapshotTable

    df = spark.range(2000).selectExpr("id % 50 AS k", "id").groupBy("k").count()
    write = _jobs_started(
        spark, "snapshot-write", lambda: df.write.parquet(str(tmp_path / "plain"))
    )
    t = SnapshotTable(spark, str(tmp_path / "t"))
    commit = _jobs_started(spark, "snapshot-commit", lambda: t.commit(df))
    assert write >= 1
    assert commit == write
    assert t.snapshot(t.current_version())["row_count"] == 50


def test_snapshot_read_and_diff_start_no_job(spark, tmp_path):
    """SnapshotTable reads with the schema stored in each snapshot json, so
    building a read or a diff starts no Spark job; rollback and compact
    keep the schema, and a snapshot json without one is still read, by
    inference."""
    import json

    from pmcanalysis_spark.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(0, 3).selectExpr("id", "id * 10 AS v"))
    t.commit(spark.range(3, 5).selectExpr("id", "id * 10 AS v"), mode="append")
    assert _jobs_started(spark, "snapshot-read", t.read) == 0
    assert _jobs_started(spark, "snapshot-diff", lambda: t.diff(1, 2)) == 0
    inferred = spark.read.parquet(*[f"{t.root}/data/{d}" for d in t.snapshot(2)["files"]])
    assert t.read().schema == inferred.schema
    assert sorted(r.id for r in t.diff(1, 2).collect()) == [3, 4]

    schema = t.snapshot(2)["schema"]
    assert t.snapshot(t.rollback(1))["schema"] == schema
    t.commit(spark.range(5, 6).selectExpr("id", "id * 10 AS v"), mode="append")
    assert t.snapshot(t.compact(target_file_size_bytes=1 << 30))["schema"] == schema

    path = f"{t.root}/snapshots/v000002.json"
    legacy = t.snapshot(2)
    del legacy["schema"]
    with open(path, "w") as f:
        json.dump(legacy, f)
    assert _jobs_started(spark, "snapshot-read-legacy", lambda: t.read(2)) == 1
    assert sorted((r.id, r.v) for r in t.read(2).collect()) == [(i, i * 10) for i in range(5)]


def test_resume_starts_no_job(spark, tmp_path):
    """A resumed stage reads its snapshot with the schema stored in the
    manifest, so resuming starts no Spark job at all."""
    df = spark.range(2000).selectExpr("id % 50 AS k", "id").groupBy("k").count()
    base = str(tmp_path / "stages")
    materialize_stage(df, "s", base, key_col="k")
    resumed = {}

    def resume():
        resumed["out"], resumed["res"] = materialize_stage(df, "s", base, key_col="k")

    assert _jobs_started(spark, "lineage-resume", resume) == 0
    assert resumed["res"].resumed
    assert resumed["out"].schema == spark.read.parquet(f"{base}/s/data").schema
    assert resumed["out"].count() == 50


def test_replacing_a_committed_snapshot_warns(spark, tmp_path):
    """A batch stage whose input fingerprint changed replaces its committed
    snapshot, and says so."""
    base = str(tmp_path / "stages")
    materialize_stage(spark.range(5), "s", base, key_col="id", fingerprint="a")
    with pytest.warns(UserWarning, match=r"stage 's': committed snapshot .* replacing it"):
        out, res = materialize_stage(spark.range(7), "s", base, key_col="id", fingerprint="b")
    assert not res.resumed and res.row_count == 7 and out.count() == 7


def test_manifest_without_schema_is_recomputed(spark, tmp_path):
    """A committed manifest that predates the stored schema does not resume:
    the stage is rebuilt once and the new manifest carries the schema."""
    base = str(tmp_path / "stages")
    df = spark.range(50).selectExpr("id")
    materialize_stage(df, "s", base, key_col="id")
    mpath = os.path.join(base, "s", "_lineage_manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["schema"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    out, res = materialize_stage(df, "s", base, key_col="id")
    assert not res.resumed and out.count() == 50
    with open(mpath) as f:
        assert "schema" in json.load(f)
    _, res2 = materialize_stage(df, "s", base, key_col="id")
    assert res2.resumed


@pytest.mark.slow
def test_resume_completes_downstream_stages(tmp_path):
    """Regression (ADVICE r1, medium): rerunning after a crash between the
    triples commit and the entities stage must complete the missing stages,
    not print resumed and exit."""
    import json
    import shutil
    import subprocess
    import sys

    outdir = str(tmp_path / "kgout")
    cmd = [
        sys.executable, "scripts/run_pipeline.py",
        "--synthetic", "300", "--output", outdir, "--cores", "4",
    ]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-2000:]
    # simulate a crash after 'triples' committed: drop the downstream stages
    shutil.rmtree(f"{outdir}/entities")
    shutil.rmtree(f"{outdir}/triples_canonical")
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-2000:]
    out = json.loads(r2.stdout.strip().splitlines()[-1])
    assert out["resumed"] is True  # triples stage resumed
    assert out["n_entities"] > 0  # ...but downstream stages were rebuilt
    assert out["n_canonical_triples"] > 0
    import os
    assert os.path.exists(f"{outdir}/entities/_lineage_manifest.json")
    assert os.path.exists(f"{outdir}/triples_canonical/_lineage_manifest.json")
