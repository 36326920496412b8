"""Evaluation DAG (SURVEY.md §3.4): the reference's cross-process pipeline
(filter_rankList.pl -> 100x FilterDOPheno -> phenomeblast -> GetAUC)
collapsed into one Spark job:

  scored pairs -> rank sweep (W1 over all cutoffs at once)
               -> gold label join (J8 semi/anti semantics)
               -> per-cutoff precision/recall -> trapezoid AUC (A9)

Plus triple-set P/R — the BASELINE.json acceptance metric (P/R >= 0.95 vs
reference triples).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ranking import rank_cutoff_sweep


def precision_recall_by_cutoff(
    scored: DataFrame,
    gold: DataFrame,
    key: str = "subj",
    item: str = "obj",
    order_col: str = "npmi",
    max_cutoff: int = 100,
    tiebreak: str | None = None,
) -> DataFrame:
    """(cutoff, tp, n_pred, n_gold, precision, recall) for every cutoff in
    one pass — the 100-process sweep as a single DAG.

    ``gold``: (key, item) positive pairs (MGI-DOID.gold.txt shape).
    """
    swept = rank_cutoff_sweep(scored, key, order_col, max_cutoff, tiebreak).select(
        "cutoff", F.col(key).alias("k"), F.col(item).alias("i")
    )
    g = gold.select(F.col(key).alias("k"), F.col(item).alias("i"), F.lit(1).alias("pos"))
    # gold size rides along as a broadcast 1-row scalar instead of a
    # separate blocking .count() job — when gold derives from the scored
    # pairs themselves (kg_cutoff_auc), the count re-ran that whole
    # subtree before the real query even started (r6, guide §5)
    n_gold_df = gold.agg(F.count("*").alias("n_gold"))
    labeled = swept.join(g, ["k", "i"], "left")
    return (
        labeled.groupBy("cutoff")
        .agg(
            F.sum(F.coalesce(F.col("pos"), F.lit(0))).alias("tp"),
            F.count("*").alias("n_pred"),
        )
        .crossJoin(F.broadcast(n_gold_df))
        .withColumn("precision", F.col("tp") / F.col("n_pred"))
        .withColumn("recall", F.col("tp") / F.col("n_gold"))
    )


def pr_auc_df(pr: DataFrame) -> DataFrame:
    """Trapezoid area under the (recall, precision) curve as a 1-row
    DataFrame (``auc``) — the GetAUC integration over the sweep output.
    Ordering is the deterministic (recall asc, cutoff asc): equal recalls at
    different cutoffs would otherwise make the lag — and hence the AUC —
    order-ambiguous. Each trapezoid term is ROUND(x, 6) then summed through
    DECIMAL(28,6) so the sum is bit-stable across engines."""
    w = Window.orderBy(F.asc("recall"), F.asc("cutoff"))
    lagged = (
        pr.select("cutoff", "precision", "recall")
        .withColumn("pr_", F.lag("recall").over(w))
        .withColumn("pp_", F.lag("precision").over(w))
    )
    area = F.round(
        F.when(
            F.col("pr_").isNotNull(),
            (F.col("recall") - F.col("pr_"))
            * (F.col("precision") + F.col("pp_"))
            / F.lit(2.0),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return lagged.agg(
        F.round(F.sum(area.cast("decimal(28,6)")).cast("double"), 6).alias("auc")
    )


def triple_set_pr(
    got: DataFrame, expected: DataFrame, cols: tuple[str, ...] = ("subj", "pred", "obj")
) -> dict[str, float]:
    """Set precision/recall of emitted triples vs a reference set — the
    BASELINE.json acceptance gate (P/R >= 0.95). Computed with semi/anti
    joins, no collect of the big sides."""
    g = got.select(*cols).distinct()
    e = expected.select(*cols).distinct()
    n_got = g.count()
    n_exp = e.count()
    tp = g.join(e, list(cols), "left_semi").count()
    return {
        "precision": tp / n_got if n_got else 0.0,
        "recall": tp / n_exp if n_exp else 0.0,
        "n_got": float(n_got),
        "n_expected": float(n_exp),
    }
