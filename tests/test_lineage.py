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
