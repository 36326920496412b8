"""Document-level co-occurrence — the heart of the engine (SURVEY.md J4/A1-A3).

The reference builds per-class OpenBitSets over dense doc indices and takes
pairwise ``intersectionCount`` in a nested loop
(/root/reference/FindDiseasePhenotypes2.groovy:196-231). Here the unit is the
per-doc term set ``(doc_id, term_ids)``: every pair of a doc's terms is one
co-occurrence, so a pair's count is the number of sets holding both terms.
Each count has one implementation, over sets:

- corpus size = number of sets (A3);
- doc frequency = ``explode`` + ``count(*)`` (A1);
- pair counts = ``explode`` of the a-family members × ``explode`` of the
  b-family members + ``count(*)`` (A2).

No join on doc_id is needed — the set already is the doc's row — and only
nonzero pairs ever materialize (the sparse-matrix property comes free).
The long-form functions take ``(term_id, doc_id)`` rows and group them into
sets first (``doc_term_sets``), which also dedupes them.

Scale notes (10^12-doc design):
- The pair fan-out per doc is bounded by the number of *distinct* terms in
  the doc, not mention count.
- Family prefix filters are applied to each set before the explode — J5.
- Head terms ("disease"-like labels that hit a large share of docs) make the
  (a_id, b_id) aggregation skewed. We rely on partial aggregation + AQE and
  expose an explicit ``salt_buckets`` two-phase aggregate (salted on doc_id)
  for the worst head-pair skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def doc_term_sets(dt: DataFrame) -> DataFrame:
    """doc_terms(term_id, doc_id) -> (doc_id, term_ids): one row per doc,
    its distinct terms as an array. Set-insert semantics of the reference
    (``id2pmid[k].add(pmid)``, FindDiseasePhenotypes2.groovy:163-169): a doc
    counts once per term no matter how many rows name the pair."""
    return dt.groupBy("doc_id").agg(F.collect_set("term_id").alias("term_ids"))


def close_over_hierarchy(
    dt: DataFrame, hierarchy: DataFrame, distinct: bool = True
) -> DataFrame:
    """Subclass closure: ancestor's doc set ∪= descendant's doc set (J3/U2).

    ``hierarchy(term_id, ancestor_id)`` is the transitive closure (small —
    ontologies are ~1e5 edges), so one broadcast join + union + distinct
    replaces the reference's per-class set-union loop
    (FindDiseasePhenotypes2.groovy:172-183). Distinct, not sum: doc sets
    deduplicate across descendants. ``distinct=False`` skips that exchange
    for consumers that re-deduplicate anyway (a downstream
    COUNT(DISTINCT doc_id) — r6): values are identical, one full shuffle
    of the unioned table cheaper.
    """
    inherited = (
        dt.join(F.broadcast(hierarchy), "term_id")
        .select(F.col("ancestor_id").alias("term_id"), "doc_id")
    )
    out = dt.unionByName(inherited)
    return out.distinct() if distinct else out


def set_term_stats(sets: DataFrame) -> DataFrame:
    """Per-term doc frequency over term sets: na = |docs(term)| (A1)."""
    return (
        sets.select(F.explode("term_ids").alias("term_id"))
        .groupBy("term_id")
        .agg(F.count("*").alias("n"))
    )


def term_stats(dt: DataFrame) -> DataFrame:
    """``set_term_stats`` over doc_terms(term_id, doc_id) rows."""
    return set_term_stats(doc_term_sets(dt))


def corpus_size_df(dt: DataFrame) -> DataFrame:
    """Distinct docs in doc_terms(term_id, doc_id) (A3) as a 1-row
    DataFrame (column ``t``), for use as a broadcast scalar inside the
    scoring job — saves one blocking job."""
    return doc_term_sets(dt).agg(F.count("*").alias("t"))


def _has_prefix(col: Column, prefixes: "str | tuple[str, ...]") -> Column:
    if isinstance(prefixes, str):
        prefixes = (prefixes,)
    cond = col.startswith(prefixes[0])
    for p in prefixes[1:]:
        cond = cond | col.startswith(p)
    return cond


def set_pair_counts(
    sets: DataFrame,
    a_prefix: str | None = None,
    b_prefix: "str | tuple[str, ...] | None" = None,
    salt_buckets: int = 0,
) -> DataFrame:
    """Term sets -> (a_id, b_id, nab) with nab > 0 only (J4/A2/P5).

    ``a_prefix``/``b_prefix`` restrict the two sides (J5: e.g. "DOID:" ×
    "HP:"): each set keeps its a-family and b-family members, and the two
    are exploded against each other. ``b_prefix`` may be a tuple of
    prefixes — one pass covers every b family. With both prefixes None the
    pairing is symmetric: canonical orientation ``a_id < b_id``, no
    self-pairs.

    ``salt_buckets > 0`` enables an explicit two-phase aggregate for skewed
    head pairs: groupBy(a, b, salt) partial -> groupBy(a, b) final, the salt
    a hash of doc_id.
    """

    def members(prefix):
        if not prefix:
            return F.col("term_ids")
        return F.filter("term_ids", lambda t: _has_prefix(t, prefix))

    pairs = (
        sets.select("doc_id", members(a_prefix).alias("_a"), members(b_prefix).alias("_b"))
        .select("doc_id", F.explode("_a").alias("a_id"), "_b")
        .select("doc_id", "a_id", F.explode("_b").alias("b_id"))
    )
    if a_prefix is None and b_prefix is None:
        pairs = pairs.filter(F.col("a_id") < F.col("b_id"))
    if salt_buckets > 0:
        salted = pairs.withColumn("_salt", F.pmod(F.hash("doc_id"), F.lit(salt_buckets)))
        partial = salted.groupBy("a_id", "b_id", "_salt").agg(F.count("*").alias("_c"))
        return partial.groupBy("a_id", "b_id").agg(F.sum("_c").alias("nab"))
    return pairs.groupBy("a_id", "b_id").agg(F.count("*").alias("nab"))


def pair_counts(
    dt: DataFrame,
    a_prefix: str | None = None,
    b_prefix: "str | tuple[str, ...] | None" = None,
    salt_buckets: int = 0,
) -> DataFrame:
    """``set_pair_counts`` over doc_terms(term_id, doc_id) rows."""
    return set_pair_counts(doc_term_sets(dt), a_prefix, b_prefix, salt_buckets)


def scored_pairs(
    pairs: DataFrame,
    stats: DataFrame,
    total: "int | DataFrame",
    pred: str = "associated-with",
    round_to: int | None = None,
) -> DataFrame:
    """Decorate pairs with na/nb and the five corpus-statistics scores
    (F1-F5), emitting the triples table (subj, pred, obj, scores...).

    ``stats`` is tiny (one row per ontology term) -> broadcast joins.
    ``total`` may be an int (pre-computed) or a 1-row DataFrame with column
    ``t`` — the latter folds the corpus-size aggregate into this same job as
    a broadcast scalar instead of a separate driver-blocking count.
    All score math is JVM-side Column algebra (whole-stage codegen).
    """
    from ..functions.scores import score_columns

    na = F.broadcast(stats.select(F.col("term_id").alias("a_id"), F.col("n").alias("na")))
    nb = F.broadcast(stats.select(F.col("term_id").alias("b_id"), F.col("n").alias("nb")))
    df = pairs.join(na, "a_id").join(nb, "b_id")
    if isinstance(total, DataFrame):
        df = df.crossJoin(F.broadcast(total))
        tot = F.col("t").cast("double")
    else:
        tot = F.lit(float(total))
    x, y, xy = F.col("na").cast("double"), F.col("nb").cast("double"), F.col("nab").cast("double")
    scores = score_columns(tot, x, y, xy)
    if round_to is not None:
        scores = {k: F.round(v, round_to) for k, v in scores.items()}
    return df.select(
        F.col("a_id").alias("subj"),
        F.lit(pred).alias("pred"),
        F.col("b_id").alias("obj"),
        scores["tscore"].alias("tscore"),
        scores["zscore"].alias("zscore"),
        scores["lmi"].alias("lmi"),
        scores["npmi"].alias("npmi"),
        scores["lgl"].alias("lgl"),
        F.col("nab").cast("long").alias("nab"),
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
    )
