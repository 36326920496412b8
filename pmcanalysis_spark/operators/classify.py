"""Document quality classification — the learned counterpart of the
heuristic ``textstats.keep_filter``: CCNet / LLaMA-style pipelines train a
lightweight text classifier on a seed of good-vs-bad documents and score
the whole corpus with it. The classifier here is multinomial Naive Bayes,
chosen deliberately: training is PURE COUNTING (one explode + one
groupBy(token)), scoring is one join + a decimal-summed aggregate — every
stage is Column algebra with an exact DuckDB oracle (registry query
``cls_nb_quality``), unlike an SGD model whose training order would never
reproduce across engines.

Model: w(tok) = ln P(tok|pos) - ln P(tok|neg) with add-alpha smoothing,
ROUNDED to 6 decimals AT TRAINING TIME so both engines join bit-identical
weights; score(doc) = prior + Σ_occurrences w(tok) with the sum routed
through DECIMAL(28,6) (order-independent — the repo-wide recipe for
cross-engine float sums); pred = score > 0.

Scale notes: training shuffles once on token (map-side partial counts; a
stopword is one combiner cell). Scoring joins exploded tokens to the
model on token — the model is |vocab| rows (MBs at web scale after any
frequency floor), so Spark broadcasts it at bench scale and AQE picks the
join at 100 TB; the per-doc aggregate shuffles on doc_id (unique key).
Empty documents survive via explode_outer (score = prior alone). Tokens
unseen in training contribute 0 (left join + coalesce) — the standard NB
convention when train and score corpora differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def _tokens(df: DataFrame, id_col: str, text_col: str, outer: bool) -> DataFrame:
    toks = tokens(F.col(text_col))
    ex = F.explode_outer(toks) if outer else F.explode(toks)
    keep = [F.col(c) for c in df.columns if c not in (id_col, text_col)]
    return df.select(F.col(id_col).alias("doc_id"), *keep, ex.alias("token"))


def nb_train(
    labeled_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "keep",
    alpha: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Train on (doc, 0/1-label) rows; label 1 = positive/keep. Returns
    (model, prior): model = (token, w) with w the ROUND(6) log-likelihood
    ratio; prior = 1 row (p,) with the smoothed ROUND(6) log class prior.
    Pass the label INLINE on the doc row (e.g. keep_filter output joined
    once, or a seed-set flag) — training then needs no per-token label
    join."""
    from pyspark.storagelevel import StorageLevel

    pos = F.when(F.col(label_col).cast("int") == 1, F.lit(1)).otherwise(F.lit(0))
    tok = _tokens(
        labeled_docs.select(id_col, text_col, label_col), id_col, text_col, outer=False
    )
    cnt = tok.groupBy("token").agg(
        F.sum(pos).alias("n_pos"),
        F.sum(1 - pos).alias("n_neg"),
    )
    # the totals row and the model both read cnt; without a persist the
    # whole corpus-scan+explode+agg subtree executes TWICE (Catalyst does
    # not CSE across the crossJoin) — same recipe as the CC edge projection
    cnt = cnt.persist(StorageLevel.MEMORY_AND_DISK)
    tot = cnt.select(
        F.sum("n_pos").alias("tp"),
        F.sum("n_neg").alias("tn"),
        F.count("*").alias("v"),
    )
    a = float(alpha)
    model = cnt.crossJoin(F.broadcast(tot)).select(
        "token",
        F.round(
            F.log((F.col("n_pos") + a) / (F.col("tp") + a * F.col("v")))
            - F.log((F.col("n_neg") + a) / (F.col("tn") + a * F.col("v"))),
            6,
        ).alias("w"),
    )
    prior = labeled_docs.select(
        F.round(
            F.log(
                (F.sum(F.col(label_col).cast("long")) + a)
                / (F.count("*") - F.sum(F.col(label_col).cast("long")) + a)
            ),
            6,
        ).alias("p")
    )
    return model, prior


def nb_score(
    docs: DataFrame,
    model: DataFrame,
    prior: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score, pred): score = prior + decimal-exact sum of the
    doc's token weights (every occurrence counts — multinomial NB), pred =
    score > 0. One explode_outer, one token join, one doc_id aggregate."""
    tok = _tokens(docs.select(id_col, text_col), id_col, text_col, outer=True)
    joined = tok.join(model, "token", "left").select(
        "doc_id", F.coalesce("w", F.lit(0.0)).alias("w")
    )
    agg = joined.groupBy("doc_id").agg(
        F.sum(F.col("w").cast("decimal(28,6)")).alias("_s")
    )
    total = F.col("p") + F.col("_s").cast("double")  # exact sum, then one
    # double add — the oracle does the same two steps, so pred can't flip
    return agg.crossJoin(F.broadcast(prior)).select(
        "doc_id",
        F.round(total, 6).alias("score"),
        (total > 0).alias("pred"),
    )
