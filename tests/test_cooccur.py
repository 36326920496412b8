"""Co-occurrence over per-doc term sets: the fused kernel's set output and
the back half's set semantics."""

from __future__ import annotations

from collections import defaultdict

from pmcanalysis_spark.fixtures import build_hierarchy_terms, build_lexicon, build_web_pages
from pmcanalysis_spark.nlp import detect_doc_term_sets
from pmcanalysis_spark.oracle import MiniOracle
from pmcanalysis_spark.pipeline import ancestor_map, triples_from_doc_terms
from pmcanalysis_spark.schemas import HIERARCHY, WEB_PAGES


def test_set_kernel_one_row_per_matched_page(spark):
    """One (doc_id, term_ids) row per page that matched any term, ids sorted
    and closed over the hierarchy."""
    pages = build_web_pages(60)
    lexicon = build_lexicon()
    _, closure = build_hierarchy_terms()
    hier = spark.createDataFrame(closure, HIERARCHY)
    rows = detect_doc_term_sets(
        spark.createDataFrame(pages, WEB_PAGES),
        [(e.name, e.term_id) for e in lexicon],
        ancestors=ancestor_map(hier),
    ).collect()

    expected: dict[str, set[str]] = defaultdict(set)
    for term, docs in MiniOracle(lexicon, hierarchy=closure).run(pages)["by_term"].items():
        for d in docs:
            expected[d].add(term)
    assert expected, "fixture must plant at least some mentions"
    assert len(rows) == len({r.doc_id for r in rows}) == len(expected)
    assert {r.doc_id: r.term_ids for r in rows} == {
        d: sorted(ts) for d, ts in expected.items()
    }


def test_triples_from_doc_terms_ignores_duplicate_rows(spark):
    """Re-crawl duplicates of (term_id, doc_id) change no count or score."""
    distinct = [
        ("DOID:1", "d1"), ("HP:1", "d1"), ("MP:1", "d1"),
        ("DOID:1", "d2"), ("HP:1", "d2"),
        ("DOID:2", "d3"), ("HP:1", "d3"), ("HP:2", "d3"),
        ("HP:2", "d4"),
    ]
    duplicated = distinct + distinct[:4] + distinct[5:7] * 3
    schema = "term_id string, doc_id string"
    want = triples_from_doc_terms(spark.createDataFrame(distinct, schema)).collect()
    got = triples_from_doc_terms(spark.createDataFrame(duplicated, schema)).collect()
    assert want
    assert sorted(got) == sorted(want)
