from __future__ import annotations

import math

from pmcanalysis_spark.operators.evaluate import (
    pr_auc_df,
    precision_recall_by_cutoff,
    triple_set_pr,
)


def test_precision_recall_by_cutoff(spark):
    scored = spark.createDataFrame(
        [
            ("d1", "p1", 0.9), ("d1", "p2", 0.8), ("d1", "p3", 0.7),
            ("d2", "q1", 0.9), ("d2", "q2", 0.5),
        ],
        "subj string, obj string, npmi double",
    )
    gold = spark.createDataFrame(
        [("d1", "p1"), ("d1", "p3"), ("d2", "q2")], "subj string, obj string"
    )
    pr = {r.cutoff: r for r in precision_recall_by_cutoff(scored, gold, max_cutoff=3).collect()}
    # cutoff 1: predictions {d1p1, d2q1} -> tp=1, precision=0.5, recall=1/3
    assert pr[1].tp == 1 and math.isclose(pr[1].precision, 0.5)
    assert math.isclose(pr[1].recall, 1 / 3)
    # cutoff 3: all 5 predicted -> tp=3, precision=0.6, recall=1.0
    assert pr[3].tp == 3 and math.isclose(pr[3].precision, 0.6)
    assert math.isclose(pr[3].recall, 1.0)
    # cutoff 2: {d1p1, d1p2, d2q1, d2q2} -> tp=2, precision=0.5, recall=2/3;
    # trapezoids (1/3)(0.5+0.5)/2 + (1/3)(0.5+0.6)/2 = 0.35
    [row] = pr_auc_df(precision_recall_by_cutoff(scored, gold, max_cutoff=3)).collect()
    assert math.isclose(row.auc, 0.35)


def test_triple_set_pr(spark):
    got = spark.createDataFrame(
        [("a", "r", "b"), ("a", "r", "c"), ("x", "r", "y")], "subj string, pred string, obj string"
    )
    exp = spark.createDataFrame(
        [("a", "r", "b"), ("a", "r", "c"), ("a", "r", "d")], "subj string, pred string, obj string"
    )
    pr = triple_set_pr(got, exp)
    assert math.isclose(pr["precision"], 2 / 3)
    assert math.isclose(pr["recall"], 2 / 3)


def test_pipeline_triples_pr_is_one(spark):
    """The BASELINE acceptance gate at fixture scale: P/R vs the miniature
    oracle must be 1.0 (>= 0.95 required)."""
    from pmcanalysis_spark.fixtures import build_lexicon, build_web_pages
    from pmcanalysis_spark.oracle import MiniOracle
    from pmcanalysis_spark.pipeline import build_triples
    from pmcanalysis_spark.schemas import WEB_PAGES

    corpus = build_web_pages(120)
    lexicon = build_lexicon()
    df = spark.createDataFrame(corpus, WEB_PAGES)
    got = build_triples(df, [(e.name, e.term_id) for e in lexicon])
    exp_rows = [(r[0], r[1], r[2]) for r in MiniOracle(lexicon).triples(corpus)]
    exp = spark.createDataFrame(exp_rows, "subj string, pred string, obj string")
    pr = triple_set_pr(got, exp)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0
