"""Per-key ranking / top-k / evaluation operators (SURVEY.md §2.5, A8-A9).

The reference implements these as sorted-file streaming group-change detection
(/root/reference/FilterDOPheno.groovy:13-43), a bounded PriorityQueue
(/root/reference/FilterMatrix.groovy:1-14), and 100 GNU-parallel processes for
the cutoff sweep (/root/reference/README.md:37-50, filter_rankList.pl). In
Spark all of it is one window pass — the 100-process sweep collapses into a
single ``row_number`` evaluation filtered at any cutoff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk_per_key(
    df: DataFrame,
    key: str,
    order_col: str,
    k: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """W1/W3: rank within each key by descending ``order_col``, keep top-k.

    Ties broken deterministically by ``tiebreak`` (the reference's
    PriorityQueue breaks ties by id compare, FilterMatrix.groovy:5-9).
    Window-based top-k does a single shuffle on ``key``; AQE handles any
    skewed key by splitting its partition.
    """
    order = [F.desc(order_col)]
    if tiebreak:
        order.append(F.asc(tiebreak))
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def normalized_rank(
    df: DataFrame,
    key: str,
    order_col: str,
    cutoff: float,
    tiebreak: str | None = None,
) -> DataFrame:
    """W2 (FilterDOPhenoOld.groovy:26-45): score = (rank-1)/group_size,
    rank by descending ``order_col``; keep rows with score < cutoff. Pass ``tiebreak`` for a deterministic
    total order (required for oracle comparisons)."""
    order = [F.desc(order_col)]
    if tiebreak:
        order.append(F.asc(tiebreak))
    w = Window.partitionBy(key).orderBy(*order)
    wsize = Window.partitionBy(key)
    return (
        df.withColumn(
            "nrank",
            (F.row_number().over(w) - F.lit(1)).cast("double")
            / F.count("*").over(wsize),
        )
        .filter(F.col("nrank") < cutoff)
    )


def trapezoid_auc(df: DataFrame, x: str = "x", y: str = "y") -> DataFrame:
    """A9/W6 (GetAUC.groovy:8-20): ROC trapezoid integration via lag window.

    Returns a 1-row DataFrame (auc double). The global orderBy window is fine
    here: rate curves are tiny (one row per cutoff), never big data.
    """
    w = Window.orderBy(F.asc("_x"))
    return (
        df.select(
            F.col(x).cast("double").alias("_x"),
            F.col(y).cast("double").alias("_y"),
        )
        .withColumn("_px", F.lag("_x").over(w))
        .withColumn("_py", F.lag("_y").over(w))
        .withColumn(
            "_area",
            F.when(
                F.col("_px").isNotNull(),
                (F.col("_x") - F.col("_px")) * (F.col("_y") + F.col("_py")) / 2.0,
            ).otherwise(F.lit(0.0)),
        )
        .agg(F.sum("_area").alias("auc"))
    )


def rank_cutoff_sweep(
    df: DataFrame,
    key: str,
    order_col: str,
    max_cutoff: int = 100,
    tiebreak: str | None = None,
) -> DataFrame:
    """The reference's 100-process cutoff sweep in one pass: emit
    (cutoff, key, ...) rows for every cutoff in 1..max_cutoff by retaining
    rank and exploding the cutoff range lazily at evaluation time.

    Output keeps one row per (row, cutoff>=rank) — downstream evaluation
    groups by cutoff. This is the single-DAG replacement for
    filter_rankList.pl + 100x FilterDOPheno (README.md:37-50). Pass
    ``tiebreak`` for a deterministic total order (oracle comparisons).
    """
    order = [F.desc(order_col)]
    if tiebreak:
        order.append(F.asc(tiebreak))
    w = Window.partitionBy(key).orderBy(*order)
    ranked = df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= max_cutoff
    )
    return ranked.withColumn(
        "cutoff", F.explode(F.sequence(F.col("rank"), F.lit(max_cutoff)))
    )
