"""Incremental KG maintenance: streamed drops re-score to exactly the batch
result, and a drain that adds nothing resumes the triples stage."""

from __future__ import annotations

import warnings

from pmcanalysis_spark.fixtures import (
    build_hierarchy_terms,
    build_lexicon,
    build_web_pages,
)
from pmcanalysis_spark.pipeline import build_triples
from pmcanalysis_spark.schemas import HIERARCHY, WEB_PAGES
from pmcanalysis_spark.streaming.incremental import run_incremental_kg


def test_incremental_matches_batch_and_resumes(spark, tmp_path):
    pages = build_web_pages(200)
    lex = [(e.name, e.term_id) for e in build_lexicon()]
    _, closure = build_hierarchy_terms()
    hier = spark.createDataFrame(closure, HIERARCHY)

    src = str(tmp_path / "drops")
    spark.createDataFrame(pages[:120], WEB_PAGES).coalesce(2).write.parquet(
        src + "/d=0"
    )
    work = str(tmp_path / "work")

    # drain drop 0
    out1, res1 = run_incremental_kg(
        spark, src + "/d=*", work, lex, hierarchy=hier
    )
    assert not res1.resumed and res1.row_count > 0

    # drop 1 arrives; drain again -> triples over ALL pages
    spark.createDataFrame(pages[120:], WEB_PAGES).coalesce(2).write.parquet(
        src + "/d=1"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out2, res2 = run_incremental_kg(
            spark, src + "/d=*", work, lex, hierarchy=hier
        )
    assert not res2.resumed
    # a grown accumulator is the normal case: no snapshot-replaced warning
    assert not [w for w in caught if "committed snapshot" in str(w.message)]

    batch = build_triples(
        spark.createDataFrame(pages, WEB_PAGES), lex, hierarchy=hier
    )
    cols = ["subj", "pred", "obj", "nab", "na", "nb"]
    got = {tuple(r) for r in out2.select(cols).collect()}
    exp = {tuple(r) for r in batch.select(cols).collect()}
    assert got == exp and got

    # third drain with no new files: exactly-once NER skips everything and
    # the triples stage RESUMES off the unchanged accumulator snapshot
    out3, res3 = run_incremental_kg(
        spark, src + "/d=*", work, lex, hierarchy=hier
    )
    assert res3.resumed
    assert res3.row_count == res2.row_count
