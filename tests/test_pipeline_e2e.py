"""End-to-end: Spark pipeline triples == miniature oracle triples (P/R = 1.0)
on the deterministic fixture corpus (SURVEY.md §5, §7.2 step 2-3)."""

from __future__ import annotations

import pytest

from pmcanalysis_spark.fixtures import (
    build_hierarchy_terms,
    build_lexicon,
    build_web_pages,
)
from pmcanalysis_spark.oracle import MiniOracle, approx_equal
from pmcanalysis_spark.pipeline import PipelineConfig, build_mentions, build_triples
from pmcanalysis_spark.schemas import HIERARCHY, WEB_PAGES


# measured-stress / e2e tier: excluded from the default profile (pytest.ini), run with -m slow
pytestmark = pytest.mark.slow

@pytest.fixture(scope="module")
def corpus():
    return build_web_pages(200)


@pytest.fixture(scope="module")
def lexicon():
    return build_lexicon()


def test_mentions_match_oracle(spark, corpus, lexicon):
    df = spark.createDataFrame(corpus, WEB_PAGES)
    entries = [(e.name, e.term_id) for e in lexicon]
    got = {
        (r.url, r.sent_idx, r.term_id, r.name, r.begin, r.end)
        for r in build_mentions(df, entries).collect()
    }
    oracle = MiniOracle(lexicon)
    expected = set()
    for p in corpus:
        if p["lang"] != "en":
            continue
        expected.update(tuple(m) for m in oracle.mentions_for_text(p["url"], p["text"]))
    assert expected, "fixture must plant at least some mentions"
    assert got == expected


@pytest.mark.parametrize("use_hierarchy", [False, True])
def test_triples_match_oracle(spark, corpus, lexicon, use_hierarchy):
    _, closure = build_hierarchy_terms()
    df = spark.createDataFrame(corpus, WEB_PAGES)
    entries = [(e.name, e.term_id) for e in lexicon]
    hier_df = (
        spark.createDataFrame(closure, HIERARCHY) if use_hierarchy else None
    )
    cfg = PipelineConfig()
    got_rows = build_triples(df, entries, hierarchy=hier_df, cfg=cfg).collect()

    oracle = MiniOracle(lexicon, hierarchy=closure if use_hierarchy else None)
    exp_rows = oracle.triples(corpus)

    got = {(r.subj, r.obj): r for r in got_rows}
    exp = {(r[0], r[2]): r for r in exp_rows}
    assert set(got) == set(exp), (
        f"pair sets differ: only_spark={set(got) - set(exp)} "
        f"only_oracle={set(exp) - set(got)}"
    )
    assert got, "fixture must produce at least one scored pair"
    for key, er in exp.items():
        gr = got[key]
        assert gr.pred == er[1]
        assert (gr.nab, gr.na, gr.nb) == (er[8], er[9], er[10]), key
        for i, col in enumerate(["tscore", "zscore", "lmi", "npmi", "lgl"]):
            assert approx_equal(gr[col], er[3 + i]), (key, col, gr[col], er[3 + i])


def test_run_pipeline_neardup_stage(tmp_path):
    """--neardup materializes the cluster stage (one row per page; the
    deterministic fixture corpus has no near-dups, so all singletons) and
    resumes from its manifest on rerun."""
    import json
    import subprocess
    import sys

    outdir = str(tmp_path / "kgout_nd")
    cmd = [
        sys.executable, "scripts/run_pipeline.py",
        "--synthetic", "200", "--output", outdir, "--cores", "4", "--neardup",
    ]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-2000:]
    s1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert s1["n_neardup_rows"] == 200 and not s1["neardup_resumed"]
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["n_neardup_rows"] == 200 and s2["neardup_resumed"]


def test_run_pipeline_clean_and_snapshot(tmp_path):
    """--clean gates pages through keep_filter (strict defaults drop the
    deliberately repetitive fixture corpus entirely; a relaxed dup bound
    lets it through unchanged), and --snapshot-table commits the canonical
    triples as a versioned snapshot."""
    import json
    import subprocess
    import sys

    outdir = str(tmp_path / "kgout_clean")
    table = str(tmp_path / "kgtable")
    base = [
        sys.executable, "scripts/run_pipeline.py",
        "--synthetic", "200", "--cores", "4", "--clean",
        "--snapshot-table", table,
    ]
    r1 = subprocess.run(
        base + ["--output", outdir, "--clean-max-dup-frac", "0.95"],
        capture_output=True, text=True, timeout=600,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    s1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert s1["n_triples"] > 0 and s1["snapshot_id"] == 1
    r2 = subprocess.run(
        base + ["--output", str(tmp_path / "kgout_strict"),
                "--compact-target-mb", "256"],
        capture_output=True, text=True, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    # strict defaults: the synthetic corpus is all bigram-repetitive
    assert s2["n_triples"] == 0 and s2["snapshot_id"] == 2
    # --compact-target-mb wires table.compact() after the commit: either a
    # compaction snapshot landed (3) or the snapshot was already one file
    # group (no-op -> None); both prove the hook ran without error
    assert s2["compacted_snapshot_id"] in (None, 3)


def test_run_pipeline_media_decoder_hook(tmp_path):
    """VERDICT r4 #3: the codec hook is reachable from the spark-submit job.
    --media-synthetic + --decoder routes FAKE-codec payloads through
    codecs.fake_fast_decoder inside the Arrow worker while PGM rows keep the
    built-in tier; the materialized stage carries BOTH paths in one schema,
    and the oracle recomputes every row from the construction rule alone."""
    import json
    import subprocess
    import sys

    import pandas as pd

    outdir = str(tmp_path / "kgout_media")
    cmd = [
        sys.executable, "scripts/run_pipeline.py",
        "--synthetic", "50", "--output", outdir, "--cores", "4",
        "--media-synthetic", "30", "--frame-every", "2",
        "--decoder", "pmcanalysis_spark.codecs:fake_fast_decoder",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    s = json.loads(r.stdout.strip().splitlines()[-1])
    assert s["media_decoder"] == "pmcanalysis_spark.codecs:fake_fast_decoder"

    feats = pd.read_parquet(f"{outdir}/media_features/data")
    # schema parity: decoder rows and built-in rows share one schema
    assert list(feats.columns) == [
        "media_id", "frame_idx", "width", "height", "features"]

    from pmcanalysis_spark.fixtures import build_media_rows

    expected_rows = 0
    by_id = {}
    for mid, kind, _m, _n, payload in build_media_rows(30, include_fake=True):
        by_id[mid] = (kind, payload)
        if payload.startswith(b"FAKE"):
            n_frames = int(payload.split(b"\n")[0].split(b" ")[3])
            step = 2 if kind == "video" else max(n_frames, 1)
            expected_rows += len(range(0, max(n_frames, 1), step))
        else:
            expected_rows += 1
    assert s["n_media_features"] == expected_rows == len(feats)
    for _, row in feats.iterrows():
        kind, payload = by_id[row["media_id"]]
        head = payload.split(b"\n")[0].decode().split(" ")
        w, h = int(head[1]), int(head[2])
        assert (row["width"], row["height"]) == (w, h)
        if payload.startswith(b"FAKE"):
            # decoder-claimed row: features from the fake codec's rule
            assert list(row["features"]) == [
                float(w * h), float(row["frame_idx"]), float(len(payload))]
        else:
            # built-in PGM tier: normalized solid-gray mean in slot 2
            mid_i = int(row["media_id"][1:])
            assert abs(row["features"][2] - float(mid_i % 2)) < 1e-4

    # resume: second run skips the stage off the manifest
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["media_resumed"] and s2["n_media_features"] == expected_rows


def test_resolve_decoder_specs():
    from pmcanalysis_spark.codecs import (
        fake_fast_decoder, passthrough_decoder, resolve_decoder)

    assert resolve_decoder(
        "pmcanalysis_spark.codecs:fake_fast_decoder") is fake_fast_decoder
    assert resolve_decoder(
        "pmcanalysis_spark.codecs.passthrough_decoder") is passthrough_decoder
    import pytest as _pytest
    with _pytest.raises(ImportError):
        resolve_decoder("no_such_module:fn")
    with _pytest.raises(AttributeError):
        resolve_decoder("pmcanalysis_spark.codecs:no_such_fn")


def test_decoder_fallthrough_schema_parity(spark):
    """A decoder that declines every row (passthrough) must yield the
    byte-identical frame as no decoder at all — the hook adds a branch, not
    a schema or value change."""
    from pmcanalysis_spark.codecs import passthrough_decoder
    from pmcanalysis_spark.fixtures import build_media_rows
    from pmcanalysis_spark.multimodal import MEDIA, extract_media_features

    media = spark.createDataFrame(build_media_rows(20, include_fake=False), MEDIA)
    base = extract_media_features(media).orderBy("media_id", "frame_idx").collect()
    hooked = extract_media_features(
        media, decoder=passthrough_decoder
    ).orderBy("media_id", "frame_idx").collect()
    assert base == hooked


def test_run_pipeline_authors_stage_mega_key_lineage(tmp_path):
    """--authors-synthetic with a sub-cap --author-max-group: the mega key
    is REPORTED in the author_mega_keys lineage stage, its records all
    survive into author_entities (blocking, not dropping), and the coauthor
    sub-entities are recovered."""
    import json
    import subprocess
    import sys

    import pandas as pd

    outdir = str(tmp_path / "kgout_auth")
    cmd = [
        sys.executable, "scripts/run_pipeline.py",
        "--synthetic", "50", "--output", outdir, "--cores", "4",
        "--authors-synthetic", "400", "--author-max-group", "50",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    s = json.loads(r.stdout.strip().splitlines()[-1])
    assert s["n_author_entities"] == 400
    assert s["n_mega_keys"] == 1

    mega = pd.read_parquet(f"{outdir}/author_mega_keys/data")
    assert mega.iloc[0]["author_key"] == "j smith"
    assert mega.iloc[0]["n_records"] == 200

    ents = pd.read_parquet(f"{outdir}/author_entities/data")
    smith = ents[ents.author_key == "j smith"]
    assert len(smith) == 200                      # nothing vanished
    assert smith.entity_id.nunique() == 8         # sub-entities recovered


def test_run_pipeline_serve_tables(spark, tmp_path):
    """--serve-tables materializes the point-lookup snapshot from the run's
    own NER pass; KGIndex answers lookups over it and KGServer fronts it
    over HTTP — the reference's index-build -> servlet flow end to end."""
    import json
    import subprocess
    import sys
    import urllib.request

    outdir = str(tmp_path / "kgout_serve")
    servedir = str(tmp_path / "serving")
    r = subprocess.run(
        [sys.executable, "scripts/run_pipeline.py",
         "--synthetic", "150", "--cores", "4",
         "--output", outdir, "--serve-tables", servedir],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    s = json.loads(r.stdout.strip().splitlines()[-1])
    paths = s["serving_tables"]
    assert set(paths) == {"inverted", "lexicon", "hierarchy"}

    from pmcanalysis_spark.serving import KGIndex
    from pmcanalysis_spark.server import KGServer

    idx = KGIndex(spark, paths)
    # the synthetic corpus always mentions the fixture ontology: a root
    # expansion must return docs, ranked by distinct matched terms
    roots = [t for t in (r_["term_id"] for r_ in idx.lexicon.collect())
             if t.startswith("DOID:")]
    assert roots
    hits = idx.lookup([roots[0]]).collect()
    assert hits and hits[0]["n_matched"] >= 1
    with KGServer(idx) as srv:
        got = json.loads(urllib.request.urlopen(
            srv.url + f"/lookup?term={roots[0]}", timeout=60).read())
        assert got == [
            {"doc_id": h["doc_id"], "n_matched": h["n_matched"]} for h in hits
        ]


def test_run_pipeline_train_bpe_stage(tmp_path):
    """--train-bpe learns the merge table from the job's own page text,
    materializes it as the bpe_merges stage, and resumes from the manifest
    on rerun; the merges must equal a direct train_bpe over the same
    fixture corpus."""
    import json
    import subprocess
    import sys

    outdir = str(tmp_path / "kgout_bpe")
    cmd = [
        sys.executable, "scripts/run_pipeline.py",
        "--synthetic", "120", "--output", outdir, "--cores", "4",
        "--train-bpe", "6",
    ]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-2000:]
    s1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert s1["n_bpe_merges"] == 6 and not s1["bpe_resumed"]
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["n_bpe_merges"] == 6 and s2["bpe_resumed"]


def test_train_bpe_stage_matches_direct_run(spark, tmp_path):
    """The materialized stage content == train_bpe on the same corpus."""
    import json
    import subprocess
    import sys

    from pmcanalysis_spark.fixtures import bench_pages_df
    from pmcanalysis_spark.operators.bpe import train_bpe
    from pmcanalysis_spark.pipeline import ingest

    outdir = str(tmp_path / "kgout_bpe2")
    cmd = [
        sys.executable, "scripts/run_pipeline.py",
        "--synthetic", "80", "--output", outdir, "--cores", "4",
        "--train-bpe", "5",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    expect = train_bpe(
        ingest(bench_pages_df(spark, 80)).select("url", "text"), n_merges=5
    )
    got = sorted(
        (r_.rank, r_.left, r_.right, r_["count"])
        for r_ in spark.read.parquet(f"{outdir}/bpe_merges/data").collect()
    )
    assert got == sorted(expect)
