"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG query at sf0.001. ``queries()`` /
``oracle_sql()`` register one pair per implemented operator from
SURVEY.md §2 plus the training-data-pipeline operators; the driver runs both
sides at sf=0.01 and compares row-count + schema + order-insensitive
value-hash.

Design notes:
- The KG queries run over the driver's ``documents`` table with an *inline*
  word lexicon / hierarchy (single source of truth: the ``LEX`` / ``HIER``
  constants below generate both the Spark DataFrame and the SQL VALUES
  clause), standing in for the ontology dims of the real pipeline.
- All float outputs are rounded to 6 decimals on BOTH sides so libm-vs-JVM
  1-ulp differences can't break the value hash; all aggregation chains use
  identical fold orders.
- Every aggregate/computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# inline dims: single source of truth for Spark and DuckDB
# ---------------------------------------------------------------------------

# word -> term id; families: OP (subject side, "DOID"-like) / DS (object side)
LEX: list[tuple[str, str]] = [
    ("scan", "OP:0000001"),
    ("join", "OP:0000002"),
    ("sort", "OP:0000003"),
    ("merge", "OP:0000004"),
    ("hash", "OP:0000005"),
    ("filter", "OP:0000006"),
    ("agg", "OP:0000007"),
    ("group", "OP:0000008"),
    ("spark", "OP:0000009"),  # ambiguous name: two ids (J1 multimap)
    ("table", "DS:0000001"),
    ("window", "DS:0000002"),
    ("stream", "DS:0000003"),
    ("batch", "DS:0000004"),
    ("query", "DS:0000005"),
    ("row", "DS:0000006"),
    ("column", "DS:0000007"),
    ("vector", "DS:0000008"),
    ("spark", "DS:0000009"),
]

# transitive-closure hierarchy rows (term_id, ancestor_id)
HIER: list[tuple[str, str]] = (
    [(f"OP:000000{i}", "OP:0000000") for i in range(1, 10)]
    + [(f"DS:000000{i}", "DS:0000000") for i in range(1, 10)]
    + [("OP:0000001", "OP:0000010"), ("OP:0000002", "OP:0000010"),
       ("OP:0000010", "OP:0000000"),
       ("DS:0000001", "DS:0000010"), ("DS:0000002", "DS:0000010"),
       ("DS:0000010", "DS:0000000")]
)


# linking lexicon: LEX + multiword synonyms for the ambiguous 'spark' term so
# candidate scores actually differentiate (context overlap with stream/window
# favors DS:0000009; join/sort favors OP:0000009)
LINK_LEX: list[tuple[str, str]] = LEX + [
    ("spark stream window", "DS:0000009"),
    ("spark join sort", "OP:0000009"),
]


def _lex_df(spark: SparkSession) -> DataFrame:
    _ensure_confs(spark)
    return spark.createDataFrame(LEX, "name string, term_id string")


def _hier_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(HIER, "term_id string, ancestor_id string")


def _lex_values() -> str:
    return ", ".join(f"('{n}', '{t}')" for n, t in LEX)


def _hier_values() -> str:
    return ", ".join(f"('{t}', '{a}')" for t, a in HIER)


def _ensure_confs(spark: SparkSession) -> None:
    """The driver supplies its own SparkSession; pin the runtime confs the
    queries' semantics depend on (Spark 4 defaults ANSI ON, which turns the
    intentional x/0 -> NULL of the score math into an exception)."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_confs(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_confs(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct (doc_id, term_id) via word-grain dictionary match (J1:
    broadcast hash join of exploded tokens against the tiny lexicon)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.join(F.broadcast(_lex_df(spark)), toks.tok == F.col("name"))
        .select("doc_id", "term_id")
        .distinct()
    )


_MENTIONS_SQL = f"""
  WITH lex(name, term_id) AS (VALUES {_lex_values()}),
  toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ),
  mentions AS (
    SELECT DISTINCT toks.doc_id, lex.term_id
    FROM toks JOIN lex ON lex.name = toks.tok AND toks.tok <> ''
  )
"""


# ---------------------------------------------------------------------------
# KG-core queries (SURVEY.md §2: J1/J3/J4/J5, A1-A3/A6, F1-F5, P2-P7, W1-W6)
# ---------------------------------------------------------------------------

def q_kg_mentions_docfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-term document frequency."""
    return (
        _mentions(spark, sf_dir)
        .groupBy("term_id")
        .agg(F.countDistinct("doc_id").alias("df"))
    )


def q_kg_corpus_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: distinct docs mentioning any term."""
    return _mentions(spark, sf_dir).agg(
        F.countDistinct("doc_id").alias("corpus_size")
    )


def q_kg_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5/A2: OP x DS co-occurrence self-join on doc_id."""
    m = _mentions(spark, sf_dir)
    a = m.filter(F.col("term_id").startswith("OP:")).select(
        F.col("term_id").alias("a_id"), "doc_id"
    )
    b = m.filter(F.col("term_id").startswith("DS:")).select(
        F.col("term_id").alias("b_id"), "doc_id"
    )
    return a.join(b, "doc_id").groupBy("a_id", "b_id").agg(F.count("*").alias("nab"))


def _kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.cooccur import (
        doc_term_sets,
        scored_pairs,
        set_pair_counts,
        set_term_stats,
    )

    # the per-doc term sets feed THREE consumers (total, stats, pairs):
    # persist them so the scan+explode+join runs once (released by LRU /
    # the caller's clearCache). Corpus size rides along as a broadcast
    # scalar instead of a separate blocking .count() job (r6, guide §5: no
    # driver-blocking actions on the query path). Same value, same scores.
    sets = doc_term_sets(_mentions(spark, sf_dir)).persist()
    total = sets.agg(F.count("*").alias("t"))
    stats = set_term_stats(sets)
    pairs = set_pair_counts(sets, a_prefix="OP:", b_prefix="DS:")
    return scored_pairs(pairs, stats, total, pred="co-occurs-with", round_to=6)


def q_kg_triples_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (F1-F5 over J4): five corpus-statistics scores per pair."""
    return _kg_triples(spark, sf_dir)


_TRIPLES_SQL_BODY = """
  stats AS (
    SELECT term_id, COUNT(DISTINCT doc_id) AS n FROM mentions GROUP BY term_id
  ),
  total AS (SELECT COUNT(DISTINCT doc_id) AS t FROM mentions),
  pairs AS (
    SELECT a.term_id AS a_id, b.term_id AS b_id, COUNT(*) AS nab
    FROM mentions a JOIN mentions b ON a.doc_id = b.doc_id
    WHERE a.term_id LIKE 'OP:%' AND b.term_id LIKE 'DS:%'
    GROUP BY 1, 2
  ),
  scored AS (
    SELECT
      p.a_id AS subj, 'co-occurs-with' AS pred, p.b_id AS obj,
      CAST(p.nab AS DOUBLE) AS xy, CAST(sa.n AS DOUBLE) AS x,
      CAST(sb.n AS DOUBLE) AS y, CAST(total.t AS DOUBLE) AS tt,
      p.nab AS nab, sa.n AS na, sb.n AS nb
    FROM pairs p
    JOIN stats sa ON sa.term_id = p.a_id
    JOIN stats sb ON sb.term_id = p.b_id
    CROSS JOIN total
  )
  SELECT subj, pred, obj,
    ROUND((xy - x*y/(tt*tt)) / sqrt(xy), 6) AS tscore,
    ROUND((xy - x*y/(tt*tt)) / sqrt(x*y/(tt*tt)), 6) AS zscore,
    ROUND(xy * ln(tt*xy/(x*y)), 6) AS lmi,
    ROUND(ln((xy/tt)/((x/tt)*(y/tt))) / (-1 * (CASE WHEN xy/tt > 0 AND xy/tt <> 1 THEN ln(xy/tt) END)), 6) AS npmi,
    ROUND(CASE WHEN xy < x*y/tt THEN -2 * (CASE WHEN lam > 0 THEN ln(lam) END)
               ELSE 2 * (CASE WHEN lam > 0 THEN ln(lam) END) END, 6) AS lgl,
    nab, na, nb
  FROM (
    SELECT *,
      tt*ln(tt) - x*ln(x) - y*ln(y) + xy*ln(xy)
      + (CASE WHEN tt-x-y+xy > 0 THEN (tt-x-y+xy)*ln(tt-x-y+xy) WHEN tt-x-y+xy = 0 THEN NULL END)
      + (CASE WHEN x-xy > 0 THEN (x-xy)*ln(x-xy) WHEN x-xy = 0 THEN NULL END)
      + (CASE WHEN y-xy > 0 THEN (y-xy)*ln(y-xy) WHEN y-xy = 0 THEN NULL END)
      - (CASE WHEN tt-x > 0 THEN (tt-x)*ln(tt-x) WHEN tt-x = 0 THEN NULL END)
      - (CASE WHEN tt-y > 0 THEN (tt-y)*ln(tt-y) WHEN tt-y = 0 THEN NULL END) AS lam
    FROM scored
  )
"""


def q_kg_closure_docfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/U2: doc frequency after subclass-closure set union."""
    from pmcanalysis_spark.operators.cooccur import close_over_hierarchy

    m = _mentions(spark, sf_dir).select("term_id", "doc_id")
    # distinct=False: the COUNT(DISTINCT doc_id) below re-deduplicates, so
    # the closure's own distinct exchange would be pure cost (r6)
    closed = close_over_hierarchy(m, _hier_df(spark), distinct=False)
    return closed.groupBy("term_id").agg(F.countDistinct("doc_id").alias("df"))


def q_kg_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: ancestor count roll-up (sum of descendant doc-freqs + own)."""
    from pmcanalysis_spark.operators.sentence_grain import rollup_counts

    m = _mentions(spark, sf_dir)
    base = m.groupBy("term_id").agg(F.countDistinct("doc_id").alias("cnt"))
    return rollup_counts(base, _hier_df(spark)).withColumnRenamed("cnt", "rolled")


def q_kg_leaf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: terms that are nobody's ancestor (leaf-only dictionary filter)."""
    lex = _lex_df(spark).select("term_id").distinct()
    parents = _hier_df(spark).select(F.col("ancestor_id").alias("term_id")).distinct()
    return lex.join(parents, "term_id", "left_anti")


def q_kg_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W3: top-3 DS terms per OP term by co-occurrence count."""
    from pmcanalysis_spark.operators.ranking import topk_per_key

    return topk_per_key(
        q_kg_pair_counts(spark, sf_dir), "a_id", "nab", 3, tiebreak="b_id"
    )


def q_kg_normalized_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: per-key normalized rank < 0.5."""
    from pmcanalysis_spark.operators.ranking import normalized_rank

    return normalized_rank(
        q_kg_pair_counts(spark, sf_dir), "a_id", "nab", 0.5, tiebreak="b_id"
    ).withColumn("nrank", F.round("nrank", 6))


def q_kg_npmi_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: keep pairs with 0.001 <= npmi <= 1 (band filter)."""
    t = _kg_triples(spark, sf_dir)
    return t.filter(F.col("npmi").between(0.001, 1.0)).select("subj", "obj", "npmi")


def q_kg_min_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: pairs with nab >= 10."""
    return q_kg_pair_counts(spark, sf_dir).filter(F.col("nab") >= 10)


def q_kg_cutoff_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole evaluation pipeline in ONE DAG (README.md:
    26-135: filter_rankList.pl -> 100x FilterDOPheno -> GetAUC): rank-cutoff
    sweep over the co-occurrence pairs, gold-label join, per-cutoff
    precision/recall, trapezoid AUC. Gold is a deterministic pseudo-random
    third of the pairs (portable md5 hash % 3), reproducible verbatim in
    SQL."""
    from pmcanalysis_spark.operators.evaluate import (
        precision_recall_by_cutoff,
        pr_auc_df,
    )

    pairs = q_kg_pair_counts(spark, sf_dir)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("a_id"), F.lit("|"), F.col("b_id"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    gold = pairs.filter(h % 3 == 0).select("a_id", "b_id")
    pr = precision_recall_by_cutoff(
        pairs, gold, key="a_id", item="b_id", order_col="nab",
        max_cutoff=5, tiebreak="b_id",
    )
    return pr_auc_df(pr)


def q_kg_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W6: lag-window trapezoid over a deterministic curve."""
    from pmcanalysis_spark.operators.ranking import trapezoid_auc

    li = _t(spark, sf_dir, "lineitem")
    curve = li.groupBy("l_linenumber").agg(
        F.round(F.avg("l_quantity"), 6).alias("y")
    ).select(F.col("l_linenumber").cast("double").alias("x"), "y")
    return trapezoid_auc(curve).select(F.round("auc", 6).alias("auc"))


def q_kg_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: connected components by iterative min-label propagation over a
    deterministic doc-chain edge set (doc i -- i+1 when i%10 in 0..2)."""
    from pmcanalysis_spark.canonicalize import connected_components

    docs = _docs(spark, sf_dir).select("doc_id")
    edges = (
        docs.filter((F.col("doc_id") % 10) < 3)
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
        .join(docs.select(F.col("doc_id").alias("dst")), "dst", "left_semi")
    )
    verts = docs.select(F.col("doc_id").alias("id"))
    return connected_components(edges, vertices=verts)


# ---------------------------------------------------------------------------
# training-data pipeline queries (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

def q_dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_docs + a repartition to defaultParallelism: the sf parquet is ONE
    file (one scan task), so the shingle/ngram EXPLODE map side of the dedup
    queries would otherwise run single-threaded. The repartition ships 5k
    short rows (~ms) and unlocks cores x parallel explode. At 100 TB the
    scan has thousands of splits and the explode parallelizes off the scan
    itself — this shuffle exists because of the tiny-input edge, and its
    cost stays O(rows), never O(exploded rows)."""
    docs = _docs(spark, sf_dir)
    return docs.repartition(spark.sparkContext.defaultParallelism)


def q_dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs_parallel(spark, sf_dir), threshold=0.5).withColumn(
        "jaccard", F.round("jaccard", 6)
    )


def q_dd_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(_docs_parallel(spark, sf_dir), num_hashes=8)
    return sig.select("doc_id", F.posexplode("sig").alias("hash_idx", "minhash"))


def q_dd_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH banding (the near-dedup scale path's candidate step):
    8 hashes, 4 bands of 2 — docs colliding on any full band pair up."""
    from pmcanalysis_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs_parallel(spark, sf_dir), num_hashes=8, bands=4)


def q_dd_text_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster collapse of the text near-dup scale path: confirmed pairs ->
    connected components -> (doc_id, cluster_id = min doc of the component);
    every doc gets a row (singletons map to themselves) — the canonical-id
    assignment a dedup pipeline actually keeps."""
    from pmcanalysis_spark.operators.dedup import neardup_text_clusters

    return neardup_text_clusters(
        _docs_parallel(spark, sf_dir), threshold=0.5, num_hashes=8, bands=4
    )


def q_dd_text_neardup_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE text near-dup scale path end-to-end: MinHash-LSH candidates ->
    exact n-gram-Jaccard confirm on candidates only (the text twin of
    dd_embedding_neardup_scalable). Same banding as dd_minhash_lsh_pairs,
    same threshold as dd_ngram_jaccard — the output is the candidate-recall
    subset of the latter."""
    from pmcanalysis_spark.operators.dedup import neardup_text_scalable

    return neardup_text_scalable(
        _docs_parallel(spark, sf_dir), threshold=0.5, num_hashes=8, bands=4
    ).withColumn("jaccard", F.round("jaccard", 6))


def q_dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.dedup import simhash64

    return simhash64(_docs_parallel(spark, sf_dir))


def q_dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold tuned so the synthetic
    embeddings yield a non-empty set)."""
    from pmcanalysis_spark.operators.dedup import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(emb, threshold=0.4)
    return out.select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))


def _aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings + deterministic planted near-dups: vectors with vec_id<50
    duplicated as vec_id+100000 with coordinate 0 scaled by 1.2 (cosine vs
    the original ≈0.98-0.999). Reproducible verbatim in SQL, so both engines
    see the same corpus."""
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    aug = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.col("vec")[0] * 1.2), F.slice(F.col("vec"), 2, 63)
        ).alias("vec"),
    )
    return emb.unionByName(aug)


def q_dd_embedding_neardup_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE verified scale path for embedding near-dup (r2): multi-table
    hyperplane-LSH candidates -> exact cosine confirm at 0.95, over the
    corpus with planted near-dups. Work ∝ bucket collisions, never n²."""
    from pmcanalysis_spark.operators.dedup import embedding_neardup_scalable

    out = embedding_neardup_scalable(
        _aug_embeddings(spark, sf_dir), id_col="vec_id", vec_col="vec",
        threshold=0.95, dim=64, num_planes=8, num_tables=4,
    )
    return out.select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))


def q_ts_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.textstats import token_count

    return token_count(_docs(spark, sf_dir))


def q_ts_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_ts_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_ts_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.textstats import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir))


def q_ts_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc n-gram repetition fraction (quality filter)."""
    from pmcanalysis_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), n=2)


def q_ts_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate candidates: top-20 trigrams by doc frequency."""
    from pmcanalysis_spark.operators.textstats import top_ngrams

    return top_ngrams(_docs_parallel(spark, sf_dir), n=3, k=20)


def q_ts_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization-to-ids end-to-end: top-100 frequency vocabulary
    (count desc, token asc; ids 1-based, 0 = OOV) then every document
    encoded as its comma-joined id sequence in text order."""
    from pmcanalysis_spark.operators.textstats import build_vocab, encode_docs

    docs = _docs_parallel(spark, sf_dir)
    vocab = build_vocab(docs, k=100)
    return encode_docs(docs, vocab)


def q_ts_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (training-data hygiene): deterministic emails/IPs/phones
    appended per doc (so both engines see PII-bearing text built by the
    same rule), then redact_pii's regexp chain + per-kind counts."""
    from pmcanalysis_spark.operators.textstats import redact_pii

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel 555-01"), F.format_string("%02d", (F.col("doc_id") % 100).cast("int")),
            F.lit("-4242 end"),
        ).alias("text"),
    )
    return redact_pii(docs)


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmcanalysis_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    # bounded query set (vec_id < 200): keeps the oracle compare O(q*n)
    out = cosine_topk(emb, queries=emb.filter(F.col("vec_id") < 200), k=3)
    return out.select("query_id", "item_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_kg_doc_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: sorted distinct tag set per doc (ParseMedlineForAllTags semantics),
    emitted as a joined string so value comparison is list-order-proof."""
    m = _mentions(spark, sf_dir)
    return m.groupBy("doc_id").agg(
        F.array_join(F.sort_array(F.collect_set("term_id")), ",").alias("tags")
    )


def q_kg_mention_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: total (non-distinct) mention count across the corpus."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.join(F.broadcast(_lex_df(spark)), toks.tok == F.col("name"))
        .agg(F.count("*").alias("total_mentions"))
    )


SERVING_GROUPS: list[tuple[str, str]] = [
    # (group_id, term_id): a doc qualifies if it matches >=1 term of EVERY group
    ("g1", "OP:0000001"), ("g1", "OP:0000002"),
    ("g2", "DS:0000001"), ("g2", "DS:0000002"),
]


def q_kg_serving_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: OWL-query-expansion serving semantics — conjunction of
    term-disjunction boxes (DermoServlet.groovy:56-86): docs matching at
    least one term in each of the n groups."""
    m = _mentions(spark, sf_dir)
    groups = spark.createDataFrame(SERVING_GROUPS, "group_id string, term_id string")
    n_groups = len({g for g, _ in SERVING_GROUPS})
    return (
        m.join(F.broadcast(groups), "term_id")
        .groupBy("doc_id")
        .agg(F.countDistinct("group_id").alias("n_matched"))
        .filter(F.col("n_matched") == n_groups)
        .select("doc_id", "n_matched")
    )


def q_join_left_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: left-outer enrichment with coalesce fallback (Orcid2PMID
    semantics): every customer, order count 0 when none."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    return (
        c.join(per, c.c_custkey == per.o_custkey, "left")
        .select("c_custkey", F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"))
    )


def q_join_anti_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: anti-join (gold-standard eval shape): customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey")


def q_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: systematic sampling + heuristic filters (MakeTrainingSet
    semantics): every 7th doc, dropping docs whose text contains 'dup'."""
    d = _docs(spark, sf_dir)
    return d.filter(
        (F.pmod(F.col("doc_id"), F.lit(7)) == 0)
        & (~F.col("text").contains("dup"))
    ).select("doc_id", "n_chars")


def q_limit_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 parity mode: the reference truncates hit lists at top-N
    (Lucene search cap); deterministic global top-100 by n_chars."""
    d = _docs(spark, sf_dir)
    return (
        d.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(100)
        .select("doc_id", "n_chars")
    )


def q_f_iri_curie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: IRI<->CURIE regex rewrites round-trip over the lexicon terms."""
    lex = _lex_df(spark).select("term_id").distinct()
    iri = F.concat(
        F.lit("<http://purl.obolibrary.org/obo/"),
        F.regexp_replace(F.col("term_id"), ":", "_"),
        F.lit(">"),
    )
    back = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(iri, "<http://purl\\.obolibrary\\.org/obo/", ""), ">", ""
        ),
        "_",
        ":",
    )
    return lex.select("term_id", iri.alias("iri"), back.alias("curie"))


def _chunk_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-grain stand-in over documents: fixed 10-token chunks act as
    sentences (testdata text has no sentence delimiters)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    return (
        toks.withColumn("chunk", F.floor(F.col("pos") / 10))
        .join(F.broadcast(_lex_df(spark)), F.col("tok") == F.col("name"))
        .select("doc_id", "chunk", "term_id")
    )


def q_kg_sent_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-term mention occurrence counts at sentence(chunk) grain —
    every mention counts, multimapped ids each increment."""
    from pmcanalysis_spark.operators.sentence_grain import mention_occurrence_counts

    return mention_occurrence_counts(_chunk_mentions(spark, sf_dir))


def q_kg_sent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-grain co-occurrence (ParseMedline3 §3.2): pair counts over
    distinct (doc, chunk, term) units, OP x DS."""
    from pmcanalysis_spark.operators.sentence_grain import sentence_pair_counts

    m = _chunk_mentions(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("chunk").cast("int").alias("sent_idx"),
        "term_id",
    )
    return sentence_pair_counts(m, "OP:", "DS:")


_CHUNK_MENTIONS_SQL = f"""
  WITH lex(name, term_id) AS (VALUES {_lex_values()}),
  toks AS (
    SELECT doc_id,
      unnest(range(0, len(string_split(text, ' ')))) AS pos,
      unnest(string_split(text, ' ')) AS tok
    FROM documents
  ),
  cm AS (
    SELECT doc_id, pos // 10 AS chunk, term_id
    FROM toks JOIN lex ON lex.name = toks.tok AND toks.tok <> ''
  )
"""


def q_kg_pair_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 with explicit skew salting (two-phase aggregate): must produce
    byte-identical counts to the unsalted plan — same oracle as
    kg_pair_counts proves it in the driver gate."""
    from pmcanalysis_spark.operators.cooccur import pair_counts

    m = _mentions(spark, sf_dir).select("term_id", "doc_id")
    return pair_counts(m, a_prefix="OP:", b_prefix="DS:", salt_buckets=8)


def q_kg_triples_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: decorate pairs with human-readable names (broadcast dim join);
    names sorted+joined so the 1:N name multimap hashes stably."""
    pc = q_kg_pair_counts(spark, sf_dir)
    lex = _lex_df(spark)
    an = lex.groupBy(F.col("term_id").alias("a_id")).agg(
        F.array_join(F.sort_array(F.collect_set("name")), "|").alias("a_name")
    )
    bn = lex.groupBy(F.col("term_id").alias("b_id")).agg(
        F.array_join(F.sort_array(F.collect_set("name")), "|").alias("b_name")
    )
    return pc.join(F.broadcast(an), "a_id").join(F.broadcast(bn), "b_id")


def q_lex_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: prefix top-k suggestions weighted 10000 - len(name)
    (DoPhenoServer.groovy:81,109 SuggestTree semantics)."""
    lex = _lex_df(spark).select("name").distinct()
    return (
        lex.filter(F.col("name").startswith("s"))
        .withColumn("weight", F.lit(10000) - F.length("name"))
        .orderBy(F.desc("weight"), F.asc("name"))
        .limit(5)
    )


def q_kg_term_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 over terms: xref/name-shared terms merged by a driver
    union-find; min term_id elected canonical (entities table shape)."""
    from pmcanalysis_spark.canonicalize import canonicalize_terms

    lex = _lex_df(spark).withColumn("kind", F.lit("name"))
    return canonicalize_terms(lex)


# ANN + linking queries (r2: every one carries a SQL oracle — numpy/BLAS
# float-order differences are absorbed by ROUND(x, 6) on both sides)

def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: 8 deterministic centroids (the vectors with vec_id < 8),
    single-probe cell search, exact cosine top-3 within the cell."""
    from pmcanalysis_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    out = ivf_topk(emb, cents, k=3)
    return out.select("query_id", "item_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a TRAINED coarse quantizer (r5): two distributed
    Lloyd's iterations from the vec_id<8 seed (decimal-sum means — order-
    independent, so the oracle replays the exact same centroids), then the
    same single-probe cell search as sim_ivf_topk."""
    from pmcanalysis_spark.operators.similarity import ivf_topk, train_centroids

    emb = _t(spark, sf_dir, "embeddings")
    init = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    cents = train_centroids(emb, init, n_iter=2)
    out = ivf_topk(emb, cents, k=3)
    return out.select("query_id", "item_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (the bucket-join scale path). The md5-derived
    planes are regenerated bit-for-bit by the oracle (``_lsh_bucket_sql``,
    DuckDB's list_dot_product over the same hashlib constants)."""
    from pmcanalysis_spark.operators.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_bucketed_topk(emb, dim=64, num_planes=6, k=3)
    return out.select(
        "query_id", "item_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_link_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-link scoring (north_star): rank the ambiguous 'spark' mention's
    candidates by context tf-idf cosine. The whole tf-idf profile + cosine
    chain is re-expressed in the SQL oracle."""
    from pmcanalysis_spark.linking import link_mentions

    docs = _docs(spark, sf_dir)
    mentions = docs.filter(F.col("text").contains("spark")).select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(0).alias("sent_idx"),
        F.lit("spark").alias("name"),
        F.col("text").alias("sentence"),
    )
    out = link_mentions(mentions, LINK_LEX)
    return out.select(
        "url", "sent_idx", "name", "term_id",
        F.round("link_score", 6).alias("link_score"), "link_rank",
    )


# ---------------------------------------------------------------------------
# general relational coverage (scan/filter/join/agg/window over the star schema)
# ---------------------------------------------------------------------------

def _dsum(col) -> F.Column:
    """Order-independent sum of a double column: sum over DECIMAL(28,6) is
    exact, so Spark and DuckDB agree bit-for-bit regardless of partial-agg
    order (raw double sums differ in the last ulp across engines/partition
    orders and can cross the rounding boundary)."""
    return F.sum(col.cast("decimal(28,6)")).cast("double")


def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_dsum(F.col("l_quantity")), 6).alias("sum_qty"),
            F.round(_dsum(F.col("l_extendedprice")), 6).alias("sum_base_price"),
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("sum_disc_price"),
            F.round(_dsum(F.col("l_quantity")) / F.count("*"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(_dsum(F.col("o_totalprice")), 6).alias("revenue"),
        )
    )


def q_ev_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"), F.round(_dsum(F.col("value")), 6).alias("total_value"))
    )


def q_ev_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 global top-5: orderBy().limit() — TakeOrderedAndProject runs
    per-partition bounded heaps + one 5-row merge on the driver side of the
    exchange. (The r2 version routed this through a window partitioned on a
    constant key, which makes ONE task sort every user at scale; the
    row_number below runs over the 5 surviving rows only.)"""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.round(_dsum(F.col("value")), 6).alias("total"))
    top = per_user.orderBy(F.desc("total"), F.asc("user_id")).limit(5)
    w = Window.orderBy(F.desc("total"), F.asc("user_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "user_id", "total", "rank"
    )


# ---------------------------------------------------------------------------
# multimodal queries: constructed payloads whose ground truth is
# SQL-expressible (single source of truth = the construction rule)
# ---------------------------------------------------------------------------

def q_mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata fast path through the driver gate: a media table
    derived from documents (kind by doc_id % 3, payload = the text bytes);
    media_metadata aggregates kind/n_bytes WITHOUT touching payload (the
    binary column prunes out of the scan — plan-contract tested in
    tests/test_multimodal.py)."""
    from pmcanalysis_spark.multimodal import media_metadata

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.lit(None).cast("string").alias("mime"),
        F.octet_length("text").alias("n_bytes"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    out = media_metadata(media)
    return out.select(
        "kind", "n", "total_bytes", F.round("avg_bytes", 6).alias("avg_bytes")
    )


def q_mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the driver gate: per doc, a constructed
    PNG (doc_id % 4 == 0; RGB, scanline filters 0-4 cycling, zlib-deflated),
    a baseline JPEG (doc_id % 4 == 2; solid gray, DC-only entropy segment
    through the full Huffman+IDCT path), a GIF (doc_id % 4 == 3; solid
    gray through the full LZW path) or a binary PGM (doc_id % 4 == 1),
    dimensions and solid color derived from doc_id.
    extract_media_features must recover width/height and exact 0/1 channel
    means through the real decoders — the oracle recomputes the truth from
    the construction rule alone."""
    import pandas as pd

    from pmcanalysis_spark.fixtures import const_gray_gif, const_gray_jpeg, solid_rgb_png
    from pmcanalysis_spark.multimodal import extract_media_features

    def build(batches):
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "mime": [], "n_bytes": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = doc_id % 7 + 2, doc_id % 5 + 2
                v = 255 * (doc_id % 3 == 0)
                if doc_id % 4 == 2:  # baseline JPEG, solid gray
                    payload, mime = const_gray_jpeg(w, h, v), "image/jpeg"
                elif doc_id % 2 == 0:  # PNG, filters cycle 0..4 per scanline
                    rgb = bytes([255 * (doc_id % 3 == c) for c in range(3)])
                    payload, mime = solid_rgb_png(w, h, rgb), "image/png"
                elif doc_id % 4 == 3:  # GIF, solid gray via 2-entry palette
                    payload, mime = const_gray_gif(w, h, v), "image/gif"
                else:  # binary PGM, solid gray 0 or 255
                    payload = f"P5 {w} {h} 255\n".encode() + bytes([v]) * (w * h)
                    mime = "image/x-portable-graymap"
                rows["media_id"].append(str(doc_id))
                rows["kind"].append("image")
                rows["mime"].append(mime)
                rows["n_bytes"].append(len(payload))
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    docs = _docs_parallel(spark, sf_dir).select("doc_id")
    media = docs.mapInPandas(
        build,
        "media_id string, kind string, mime string, n_bytes int, payload binary",
    )
    feats = extract_media_features(media)
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "width",
        "height",
        F.round(F.col("features")[2].cast("double"), 6).alias("r_mean"),
        F.round(F.col("features")[3].cast("double"), 6).alias("g_mean"),
        F.round(F.col("features")[4].cast("double"), 6).alias("b_mean"),
    )


def q_mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode through the driver gate: per doc a constant-sample
    PCM-16 mono WAV (rate 1024, n = 64 + doc_id % 50 samples, constant
    c = (doc_id % 5)/8) — every emitted feature is an exact binary fraction
    (c*32768 is an integer, sqrt(c²) == |c|, n/1024 is dyadic), so the
    float32 feature slots carry exact values the oracle recomputes from the
    construction rule."""
    import pandas as pd

    from pmcanalysis_spark.fixtures import const_pcm16_wav
    from pmcanalysis_spark.multimodal import extract_media_features

    def build(batches):
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "mime": [], "n_bytes": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                # c * 32768 with c = (doc_id%5)/8
                payload = const_pcm16_wav(64 + doc_id % 50, (doc_id % 5) * 4096)
                rows["media_id"].append(str(doc_id))
                rows["kind"].append("audio")
                rows["mime"].append("audio/wav")
                rows["n_bytes"].append(len(payload))
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    docs = _docs_parallel(spark, sf_dir).select("doc_id")
    media = docs.mapInPandas(
        build,
        "media_id string, kind string, mime string, n_bytes int, payload binary",
    )
    feats = extract_media_features(media)
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("width").alias("n_samples"),
        F.col("height").alias("channels"),
        F.round(F.col("features")[0].cast("double"), 6).alias("duration"),
        F.round(F.col("features")[1].cast("double"), 6).alias("rms"),
        F.round(F.col("features")[2].cast("double"), 6).alias("peak"),
        F.round(F.col("features")[3].cast("double"), 6).alias("zcr"),
    )


def q_mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling through the driver gate: per doc a
    Motion-JPEG AVI of (doc_id % 3 + 1) constant-gray frames (frame i gray
    255 iff (doc_id + i) % 2 == 0); extract_media_features walks the RIFF
    tree and decodes every frame through the baseline JPEG path — the
    oracle regenerates (frame_idx, dims, mean) from the rule."""
    import pandas as pd

    from pmcanalysis_spark.fixtures import const_gray_jpeg
    from pmcanalysis_spark.multimodal import extract_media_features

    def build(batches):
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "mime": [], "n_bytes": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = doc_id % 7 + 2, doc_id % 5 + 2
                movi = b"movi"
                for i in range(doc_id % 3 + 1):
                    fr = const_gray_jpeg(w, h, 255 * ((doc_id + i) % 2 == 0))
                    movi += b"00dc" + len(fr).to_bytes(4, "little") + fr
                    if len(fr) & 1:
                        movi += b"\x00"
                body = b"AVI " + b"LIST" + len(movi).to_bytes(4, "little") + movi
                payload = b"RIFF" + len(body).to_bytes(4, "little") + body
                rows["media_id"].append(str(doc_id))
                rows["kind"].append("video")
                rows["mime"].append("video/x-msvideo")
                rows["n_bytes"].append(len(payload))
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    docs = _docs_parallel(spark, sf_dir).select("doc_id")
    media = docs.mapInPandas(
        build,
        "media_id string, kind string, mime string, n_bytes int, payload binary",
    )
    feats = extract_media_features(media, frame_every=1)
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "frame_idx",
        "width",
        "height",
        F.round(F.col("features")[0].cast("double"), 6).alias("mean"),
    )


# ---------------------------------------------------------------------------
# S6 production side: OBO -> is_a edges -> transitive closure (builder)
# ---------------------------------------------------------------------------

# direct is_a edges; their transitive closure equals HIER. The redundant
# OP:0000002 -> OP:0000000 edge makes a diamond (exercises closure dedup).
OBO_IS_A: list[tuple[str, str]] = (
    [("OP:0000001", "OP:0000010"), ("OP:0000002", "OP:0000010"),
     ("OP:0000002", "OP:0000000"), ("OP:0000010", "OP:0000000")]
    + [(f"OP:000000{i}", "OP:0000000") for i in range(3, 10)]
    + [("DS:0000001", "DS:0000010"), ("DS:0000002", "DS:0000010"),
       ("DS:0000010", "DS:0000000")]
    + [(f"DS:000000{i}", "DS:0000000") for i in range(3, 10)]
)

# interior/root terms get names outside the documents vocabulary;
# DS:0000003 gets synonym "batch" (= DS:0000004's name) to exercise the
# name->set multimap through the OBO path (J1 semantics).
_OBO_EXTRA = {
    "OP:0000000": "oproot", "OP:0000010": "opmid",
    "DS:0000000": "dsroot", "DS:0000010": "dsmid",
}


def _obo_text() -> str:
    """Literal OBO document — the single source for the Spark parse AND the
    oracle VALUES; includes an obsolete stanza (skipped for edges)."""
    by_term: dict[str, str] = dict(_OBO_EXTRA)
    for n, t in LEX:
        by_term[t] = n
    parents: dict[str, list[str]] = {}
    for c, p in OBO_IS_A:
        parents.setdefault(c, []).append(p)
    out = ["format-version: 1.2", ""]
    for t in sorted(by_term):
        out.append("[Term]")
        out.append(f"id: {t}")
        out.append(f"name: {by_term[t]}")
        if t == "DS:0000003":
            out.append('synonym: "batch" EXACT []')
        for p in parents.get(t, ()):
            out.append(f"is_a: {p} ! {by_term.get(p, '')}")
        out.append("")
    out += [
        "[Term]",
        "id: OP:0000099",
        "name: obsoletescan",
        "is_a: OP:0000000 ! oproot",
        "is_obsolete: true",
        "",
        "[Typedef]",
        "id: part_of",
        "name: part of",
        "",
    ]
    return "\n".join(out)


def _lsh_bucket_sql(num_planes: int = 6, dim: int = 64, plane_offset: int = 0) -> str:
    """DuckDB expression for the hyperplane-LSH bucket of column ``vec``.

    Plane coefficients are regenerated here with hashlib md5 — the same
    int(hex[:8],16)/2^32 - 0.5 mapping similarity.plane_component_py
    computes for the numpy kernel — and repr() literals round-trip doubles
    exactly, so both engines use identical planes. The sign bit can only
    differ for a dot product within rounding of 0, since the kernel's BLAS
    sum and list_dot_product's fold add in different orders."""
    import hashlib

    parts = []
    for p in range(num_planes):
        coeffs = [
            int(hashlib.md5(f"{plane_offset + p}:{d}".encode()).hexdigest()[:8], 16)
            / float(1 << 32)
            - 0.5
            for d in range(dim)
        ]
        lit = "[" + ", ".join(repr(c) for c in coeffs) + "]"
        parts.append(
            f"(CASE WHEN list_dot_product(vec, {lit}) >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(parts)


def _kmeans_assign_sql(cent_cte: str) -> str:
    """DuckDB CTE body assigning every vector in ``v`` to its max-cosine
    centroid from ``cent_cte`` (cell, cvec) — the exact ivf_assign rule
    (ties to the lowest cell id)."""
    return f"""
            SELECT vec_id, vec, cell FROM (
              SELECT v.vec_id, v.vec, c.cell,
                ROW_NUMBER() OVER (
                  PARTITION BY v.vec_id
                  ORDER BY list_dot_product(v.vec, c.cvec)
                        / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                    c.cell ASC
                ) AS rn
              FROM v CROSS JOIN {cent_cte} c
            ) WHERE rn = 1
    """


def _kmeans_means_sql(assign_cte: str, dim: int = 64) -> str:
    """DuckDB CTE body for the Lloyd's update: per-cell elementwise mean as
    an order-independent DECIMAL(28,12) sum divided in DOUBLE — the exact
    arithmetic similarity.train_centroids runs, so the replayed centroids
    are value-identical. Empty cells simply produce no group (dropped)."""
    return f"""
            SELECT cell, list(m ORDER BY pos) AS cvec FROM (
              SELECT cell, g.pos AS pos,
                     CAST(SUM(CAST(vec[g.pos] AS DECIMAL(28, 12))) AS DOUBLE)
                       / COUNT(*) AS m
              FROM {assign_cte} CROSS JOIN generate_series(1, {dim}) AS g(pos)
              GROUP BY cell, g.pos
            ) GROUP BY cell
    """


def _pq_assign_sql(cw_cte: str, d_sub: int = 8) -> str:
    """DuckDB CTE body assigning every (item, subspace) row of ``sub`` to
    its argmin-L2 codeword from ``cw_cte`` (s, code, cvec) — the exact
    ``pq_encode`` rule (distances ROUND(6), ties to the lowest code).
    Carries svec so the Lloyd's means CTE needs no re-join."""
    return f"""
            SELECT item_id, s, code, svec FROM (
              SELECT sub.item_id, sub.s, c.code, sub.svec,
                ROW_NUMBER() OVER (
                  PARTITION BY sub.item_id, sub.s
                  ORDER BY ROUND(list_dot_product(
                      list_transform(range(1, {d_sub + 1}), i -> sub.svec[i] - c.cvec[i]),
                      list_transform(range(1, {d_sub + 1}), i -> sub.svec[i] - c.cvec[i])), 6) ASC,
                    c.code ASC
                ) AS rn
              FROM sub JOIN {cw_cte} c ON c.s = sub.s
            ) WHERE rn = 1
    """


def _pq_means_sql(assign_cte: str, prev_cw_cte: str, d_sub: int = 8) -> str:
    """DuckDB CTE body for the per-subspace Lloyd's update: elementwise
    mean as an order-independent DECIMAL(28,12) sum divided in DOUBLE —
    the exact arithmetic ``train_pq_codebooks`` runs. A codeword with no
    assigned vectors KEEPS its previous value (PQ codes index fixed-size
    codebooks; dropping would renumber every encoded item)."""
    return f"""
            SELECT p.s, p.code, COALESCE(mm.mvec, p.cvec) AS cvec
            FROM {prev_cw_cte} p LEFT JOIN (
              SELECT s, code, list(m ORDER BY pos) AS mvec FROM (
                SELECT s, code, g.pos AS pos,
                       CAST(SUM(CAST(svec[g.pos] AS DECIMAL(28, 12))) AS DOUBLE)
                         / COUNT(*) AS m
                FROM {assign_cte} CROSS JOIN generate_series(1, {d_sub}) AS g(pos)
                GROUP BY s, code, g.pos
              ) GROUP BY s, code
            ) mm ON mm.s = p.s AND mm.code = p.code
    """


def _link_lex_values() -> str:
    return ", ".join(f"('{n}', '{t}')" for n, t in LINK_LEX)


def _obo_edge_values() -> str:
    return ", ".join(f"('{c}', '{p}')" for c, p in OBO_IS_A)


def _obo_lex_values() -> str:
    from pmcanalysis_spark.sources.obo import parse_obo_text

    rows = [
        (n, t) for n, t, k in parse_obo_text(_obo_text()) if k in ("name", "synonym")
    ]
    return ", ".join(f"('{n}', '{t}')" for n, t in rows)


def q_kg_obo_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 builder: OBO text -> is_a edges -> strict transitive closure.

    The Spark side is the driver-side BFS (sources/obo.py:transitive_closure,
    mirroring ELK's flattened closure, ref FindDiseasePhenotypes2.groovy:
    112-139); the oracle recomputes it with a recursive CTE in DuckDB."""
    from pmcanalysis_spark.sources.obo import hierarchy_from_obo

    _ensure_confs(spark)
    return hierarchy_from_obo(spark, _obo_text())


def _owl_text() -> str:
    """Literal OWL RDF/XML carrying the SAME subclass edges as _obo_text()
    (single source of truth: OBO_IS_A generates the XML and the oracle
    VALUES), plus a deprecated class and an anonymous-Restriction
    superclass that the parser must skip."""
    parents: dict[str, list[str]] = {}
    for c, p in OBO_IS_A:
        parents.setdefault(c, []).append(p)
    terms = sorted({t for e in OBO_IS_A for t in e})

    def iri(t: str) -> str:
        return "http://purl.obolibrary.org/obo/" + t.replace(":", "_")

    out = [
        '<?xml version="1.0"?>',
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"',
        '         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"',
        '         xmlns:owl="http://www.w3.org/2002/07/owl#">',
    ]
    for t in terms:
        out.append(f'  <owl:Class rdf:about="{iri(t)}">')
        for p in parents.get(t, ()):
            out.append(f'    <rdfs:subClassOf rdf:resource="{iri(p)}"/>')
        out.append("  </owl:Class>")
    out += [
        # deprecated class: contributes NO edges (parser skip path)
        f'  <owl:Class rdf:about="{iri("OP:0000099")}">',
        f'    <rdfs:subClassOf rdf:resource="{iri("OP:0000000")}"/>',
        '    <owl:deprecated rdf:datatype="http://www.w3.org/2001/XMLSchema#boolean">true</owl:deprecated>',
        "  </owl:Class>",
        # anonymous Restriction superclass: no rdf:resource, skipped
        f'  <owl:Class rdf:about="{iri("DS:0000001")}">',
        "    <rdfs:subClassOf><owl:Restriction/></rdfs:subClassOf>",
        "  </owl:Class>",
        "</rdf:RDF>",
    ]
    return "\n".join(out)


def q_kg_owl_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 OWL-format source: RDF/XML rdfs:subClassOf -> strict transitive
    closure — what the reference gets from ELK over the README workflow's
    .owl downloads (FindDiseasePhenotypes2.groovy:112-139). Same edge set
    as kg_obo_closure, loaded through the OWL parser instead."""
    from pmcanalysis_spark.sources.obo import hierarchy_from_owl

    _ensure_confs(spark)
    return hierarchy_from_owl(spark, _owl_text())


def q_kg_serving_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Servlet-style ranked point lookup (DermoServlet.groovy:440-447): the
    OWL query 'OP:0000000' expands to itself + all subclasses; docs rank by
    number of distinct matched terms, doc_id tie-break, top 100."""
    from pyspark.sql import Window

    m = _mentions(spark, sf_dir)
    hier = _hier_df(spark)
    expansion = (
        hier.filter(F.col("ancestor_id") == "OP:0000000")
        .select("term_id")
        .unionByName(spark.createDataFrame([("OP:0000000",)], "term_id string"))
    )
    hits = m.join(F.broadcast(expansion), "term_id")
    ranked = hits.groupBy("doc_id").agg(
        F.countDistinct("term_id").alias("n_matched")
    )
    w = Window.orderBy(F.desc("n_matched"), F.asc("doc_id"))
    return (
        ranked.orderBy(F.desc("n_matched"), F.asc("doc_id"))
        .limit(100)
        .withColumn("rank", F.row_number().over(w))
    )


def q_kg_obo_docfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+S6 end-to-end: lexicon AND hierarchy both built from the OBO file,
    then the flagship closure-docfreq over documents — what a reference user
    runs from an ontology download."""
    from pmcanalysis_spark.operators.cooccur import close_over_hierarchy
    from pmcanalysis_spark.sources.obo import hierarchy_from_obo, parse_obo_text

    text = _obo_text()
    lex_rows = [(n, t) for n, t, k in parse_obo_text(text) if k in ("name", "synonym")]
    lex = spark.createDataFrame(lex_rows, "name string, term_id string")
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    m = (
        toks.join(F.broadcast(lex), toks.tok == F.col("name"))
        .select("term_id", "doc_id")
        .distinct()
    )
    closed = close_over_hierarchy(m, hierarchy_from_obo(spark, text))
    return closed.groupBy("term_id").agg(F.countDistinct("doc_id").alias("df"))


def q_ts_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing manifest (r4): documents laid end to end in doc-id
    order, cut every 64 tokens -> (chunk_id, n_docs, n_tokens). The Spark
    side runs the two-phase (per-partition offsets) global cumsum; the
    oracle runs DuckDB's ordered window — identical manifests prove the
    distributed offset scheme."""
    from pmcanalysis_spark.operators.textstats import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=64)


def q_ts_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-stratified downsampling (r4): keep en at 50%,
    de at 25%, zh fully; fr/es fall to default_rate=0. The keep rule is the
    portable md5 bucket, recomputed verbatim by the oracle."""
    from pmcanalysis_spark.operators.textstats import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        rates={"en": 0.5, "de": 0.25, "zh": 1.0},
        strata_col="lang",
        seed=7,
    )


def q_dd_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalize + dedup (r4): synthetic crawl URLs built per doc by
    a shared rule — mixed-case scheme/host, default :443 port, tracking
    query, fragment, and a path shared by doc pairs (doc_id // 2) — then
    url_dedup's regexp canonicalization + groupBy. The oracle recomputes
    the canonical form from the construction rule (regex goldens live in
    tests/test_dedup.py), so a canonicalization bug breaks the hash."""
    from pmcanalysis_spark.operators.dedup import url_dedup

    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.upper("source"),
            F.lit(".Example.com:443/doc/"),
            F.floor(F.col("doc_id") / 2).cast("string"),
            F.lit("/?utm_source=feed&page="),
            F.col("doc_id").cast("string"),
            F.lit("#frag"),
        ).alias("url"),
    )
    return url_dedup(pages)


def q_link_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 term-document relevance over the standard lexicon (r4):
    (doc_id, term_id, tf, bm25) — Lucene's default ranking function as one
    DataFrame DAG (tf/df/dl aggregates + two broadcast 1-row stats)."""
    from pmcanalysis_spark.linking import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), LEX, k1=1.2, b=0.75)


def _term_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-occurring term pairs (a < b, no prefix split) — the
    undirected KG edge table the graph stats run on."""
    m = _mentions(spark, sf_dir)
    a = m.select("doc_id", F.col("term_id").alias("a"))
    b = m.select("doc_id", F.col("term_id").alias("b"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def q_kg_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree centrality of the co-occurrence KG (r4): distinct-neighbor
    count per term — the hub-entity report a KG consumer asks for first."""
    from pmcanalysis_spark.operators.graph import degree_centrality

    e = _term_pairs(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    return degree_centrality(e).select(
        F.col("id").alias("term_id"), "degree"
    )


def q_kg_pagerank2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, two fixed power iterations over the DIRECTED (a < b)
    co-occurrence edges (r5): exact_sums=True routes the per-iteration
    inflow/dangling SUMs through DECIMAL(28,12), so the DuckDB oracle
    unrolls the same two iterations value-exactly — the previously
    fixture-only iterative op now carries a full oracle. The greatest term
    has no out-edge, so the dangling-mass path is live in the gate."""
    from pmcanalysis_spark.operators.graph import pagerank

    e = _term_pairs(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    pr = pagerank(e, max_iter=2, tol=-1.0, exact_sums=True)
    return pr.select(
        F.col("id").alias("term_id"), F.round("rank", 6).alias("rank")
    )


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic crawl pages over the documents table (the WARC-query
    construction pattern): doc i lives at https://site{i%20}.example.org
    and links to site{(7i+3)%20} (absolute), site{(13i+5)%20}
    (scheme-relative //), itself (path-relative), plus a mailto: that must
    be dropped. Pages on site19 emit NO anchors, making site19 a pure
    sink — the PageRank dangling-mass path is live in the gate."""
    docs = _docs_parallel(spark, sf_dir)
    i = F.col("doc_id")
    s = lambda e: e.cast("string")
    url = F.concat(
        F.lit("https://site"), s(i % 20), F.lit(".example.org/p/"), s(i)
    )
    anchors = F.concat(
        F.lit('<a href="https://site'), s((i * 7 + 3) % 20),
        F.lit('.example.org/x/'), s(i), F.lit('">first <b>link</b></a>'),
        F.lit('<a href="//site'), s((i * 13 + 5) % 20),
        F.lit('.example.org/y">scheme relative</a>'),
        F.lit('<a href="/local/page">within site</a>'),
        F.lit('<a href="mailto:crawl@example.org">mail</a>'),
    )
    html = F.concat(
        F.lit("<html><body><p>intro</p>"),
        F.when(i % 20 == 19, F.lit("")).otherwise(anchors),
        F.lit("</body></html>"),
    )
    return docs.select(url.alias("url"), html.alias("html"))


def q_kg_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level web graph (r5): extract_links (pure JVM regexp column
    algebra, no Python crossing) over the constructed crawl pages →
    host_graph's resolution rule (absolute→authority, //→host,
    other-scheme→drop, relative→source host) → (src_host, dst_host,
    n_links). The oracle rebuilds the edges from the construction rule
    alone, so the Spark side's actual HTML parse must be exact."""
    from pmcanalysis_spark.extract import extract_links
    from pmcanalysis_spark.operators.graph import host_graph

    return host_graph(extract_links(_link_pages(spark, sf_dir)))


def q_kg_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host reputation (r5): the RefinedWeb/CCNet quality signal — two
    exact-sums PageRank iterations over the DISTINCT host edges of
    kg_host_graph (site19 is a pure dangling sink by construction). Same
    decimal-unroll oracle recipe as kg_pagerank2."""
    from pmcanalysis_spark.extract import extract_links
    from pmcanalysis_spark.operators.graph import host_graph, pagerank

    e = host_graph(extract_links(_link_pages(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    pr = pagerank(e, max_iter=2, tol=-1.0, exact_sums=True)
    return pr.select(
        F.col("id").alias("host"), F.round("rank", 6).alias("rank")
    )


def q_kg_host_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic host centrality (r5): radius-2 harmonic centrality over
    the host graph — THE published Common Crawl host-ranking signal
    (their host ranks are harmonic centrality, not PageRank). Self-edges
    (relative links) contribute nothing by definition; site19 keeps
    rank > 0 (it has in-links) while emitting none."""
    from pmcanalysis_spark.extract import extract_links
    from pmcanalysis_spark.operators.graph import harmonic_centrality, host_graph

    e = host_graph(extract_links(_link_pages(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    hc = harmonic_centrality(e, max_hops=2)
    return hc.select(F.col("id").alias("host"), "rank")


def q_link_anchor_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text entity linking (r5): doc i's page carries one link to
    site (3i+1)%20 whose anchor is 'see {LEX[i % |LEX|].name} docs' — the
    full chain extract_links → resolve_hosts → whole-token lexicon match
    (the reference's name2id MULTIMAP: every 'spark' anchor yields both
    OP:0000009 and DS:0000009 edges) → (term_id, dst_host, n_links).
    The oracle replays the construction arithmetic and the multimap join,
    never the HTML — the parse and resolution must be exact."""
    from pmcanalysis_spark.extract import extract_links
    from pmcanalysis_spark.linking import anchor_entity_links
    from pmcanalysis_spark.operators.graph import resolve_hosts

    docs = _docs(spark, sf_dir)
    i = F.col("doc_id")
    s = lambda e: e.cast("string")
    names = F.array(*[F.lit(n) for n, _ in LEX])
    pages = docs.select(
        F.concat(
            F.lit("https://site"), s(i % 20), F.lit(".example.org/p/"), s(i)
        ).alias("url"),
        F.concat(
            F.lit('<html><body><a href="https://site'), s((i * 3 + 1) % 20),
            F.lit('.example.org/t/'), s(i), F.lit('">see '),
            F.element_at(names, (i % len(LEX)).cast("int") + 1),
            F.lit(" docs</a></body></html>"),
        ).alias("html"),
    )
    return anchor_entity_links(
        resolve_hosts(extract_links(pages)), _lex_df(spark)
    )


def q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-occurrence KG (r4): oriented-wedge join,
    each triangle counted exactly once."""
    from pmcanalysis_spark.operators.graph import triangle_count

    e = _term_pairs(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    return triangle_count(e)


# every 8-token window occurrence with its start position (1-based i),
# NOT deduplicated — the substring-dedup oracles build on this
_SPAN_OCC_SQL = """
  WITH occ AS (
    SELECT doc_id, i, array_to_string(toks[i : i + 7], ' ') AS span
    FROM (
      SELECT doc_id, string_split(text, ' ') AS toks,
             unnest(range(1, greatest(len(string_split(text, ' ')) - 8, 0) + 2)) AS i
      FROM documents
    )
    WHERE i + 7 <= len(toks)
  )
"""

# host edges rebuilt from _link_pages' construction rule (no HTML parsing):
# doc i on site i%20 → absolute link to site (7i+3)%20, scheme-relative to
# site (13i+5)%20, path-relative self-edge; mailto dropped; site19 emits
# no anchors (pure dangling sink)
_HOST_EDGES_SQL = """
  WITH d AS (
    SELECT 'site' || (doc_id % 20) || '.example.org' AS src_host,
           'site' || ((doc_id * 7 + 3) % 20) || '.example.org' AS t1,
           'site' || ((doc_id * 13 + 5) % 20) || '.example.org' AS t2
    FROM documents WHERE doc_id % 20 <> 19
  ),
  edges AS (
    SELECT src_host, t1 AS dst_host FROM d
    UNION ALL SELECT src_host, t2 FROM d
    UNION ALL SELECT src_host, src_host FROM d
  )
"""


def q_dd_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup signal (r4): every 8-token window occurring
    >= 2 times corpus-wide, with doc and occurrence counts — the
    fixed-length-span stand-in for suffix-array substring dedup."""
    from pmcanalysis_spark.operators.dedup import repeated_spans

    return repeated_spans(_docs_parallel(spark, sf_dir), span_len=8, min_count=2)


def q_dd_span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-corpus duplication fraction (r4): which documents are
    assembled from text that exists elsewhere (the actionable cut)."""
    from pmcanalysis_spark.operators.dedup import span_dup_stats

    return span_dup_stats(_docs_parallel(spark, sf_dir), span_len=8, min_count=2)


def q_dd_repeated_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length substring dedup (r5): adjacent repeated 8-token
    windows coalesce into MAXIMAL repeated runs per doc — what a cutter
    needs (one boilerplate block = one row with exact token boundaries)."""
    from pmcanalysis_spark.operators.dedup import repeated_runs

    return repeated_runs(_docs_parallel(spark, sf_dir), span_len=8, min_count=2)


def q_dd_cut_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable cut (r5): remove every repeated run's tokens from the
    text — (doc_id, clean_text, n_tokens_cut), deterministic all-copies
    semantics, pure column algebra (F.filter with index lambda)."""
    from pmcanalysis_spark.operators.dedup import cut_repeated_runs

    return cut_repeated_runs(_docs_parallel(spark, sf_dir), span_len=8, min_count=2)


def q_dd_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (r5): docs with doc_id % 37 == 0 act as
    the held-out eval/benchmark set; every remaining training doc is
    flagged if it shares any 8-token window with it — the GPT-3
    Appendix-C / Pile n-gram overlap filter. The corpus's planted
    duplicates guarantee live contaminated rows. Eval grams are broadcast
    (benchmarks are MBs against the corpus); training grams never
    shuffle — the only exchange is the per-doc count on doc_id."""
    from pmcanalysis_spark.operators.dedup import decontaminate

    docs = _docs_parallel(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    tr = docs.filter(F.col("doc_id") % 37 != 0)
    return decontaminate(tr, ev, n=8)


def q_dd_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (r5, arXiv:2303.09540): k-means cells from the vec_id<8
    deterministic quantizer (same as sim_ivf_topk), within-cell cosine
    prune at 0.95 over the corpus with planted near-dups — the lowest id
    in a semantic-duplicate group wins, so keep=false rows are exactly
    the planted +100000 twins that share a cell with their original."""
    from pmcanalysis_spark.operators.dedup import semantic_dedup

    aug = _aug_embeddings(spark, sf_dir)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["vec"]])
        for r in aug.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    return semantic_dedup(
        aug, cents, id_col="vec_id", vec_col="vec", threshold=0.95
    )


def q_dd_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-grain decontamination (r5): every corpus vector's max
    ROUND(6) cosine against the eval set (vec_id<50 of the augmented
    corpus) — the planted +100000 scaled twins are paraphrase-shaped
    leakage (no shared surface form, cosine 0.98+) and must flag; the
    numpy path is one mapInPandas matmul against the broadcast eval
    matrix, no shuffle at all."""
    from pmcanalysis_spark.operators.dedup import semantic_decontaminate

    aug = _aug_embeddings(spark, sf_dir)
    ev = aug.filter(F.col("vec_id") < 50)
    return semantic_decontaminate(aug, ev, threshold=0.95)


def q_ts_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global epoch shuffle (r5): the training-order
    manifest — global rank under ORDER BY (md5 shuffle key, doc_id),
    seed 11, computed by the two-phase zipWithIndex scheme (range
    partition + broadcast prefix offsets), never a one-task sort."""
    from pmcanalysis_spark.operators.textstats import shuffle_order

    return shuffle_order(_docs(spark, sf_dir), seed=11)


def q_cls_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier (r5): CCNet/LLaMA-style — train the
    exact-counting Naive Bayes model on keep_filter's own keep/drop
    decision (the heuristic seed set), score every document. (doc_id,
    score, pred); weights are ROUND(6) at training time and the per-doc
    sum is decimal-exact, so the whole train+score chain replays
    value-identically in SQL."""
    from pmcanalysis_spark.operators.classify import nb_score, nb_train
    from pmcanalysis_spark.operators.textstats import keep_filter

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    labels = keep_filter(docs).select("doc_id", "keep")
    model, prior = nb_train(docs.join(labels, "doc_id"))
    return nb_score(docs, model, prior)


def q_ts_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest (r5): docs in epoch-shuffle order (seed 11)
    greedily cut into ~500-token output shards — whole-doc assignment,
    the WebDataset/tar-shard layout. One two-phase-offsets pass; the
    oracle's single ordered window IS the semantics."""
    from pmcanalysis_spark.operators.textstats import shard_manifest

    return shard_manifest(_docs(spark, sf_dir), tokens_per_shard=500, seed=11)


def q_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training iteration, distributed half (r5): top-20
    adjacent character pairs over the corpus word-frequency table in the
    trainer's exact merge order — the cross-engine anchor for
    operators/bpe.py's pair-count stage (the sequential merge application
    is pytest-pinned to a scalar reference; see tests/test_bpe.py)."""
    from pmcanalysis_spark.operators.bpe import top_pairs

    return top_pairs(_docs(spark, sf_dir), k=20)


def q_dd_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-grain exact dedup (r5): the RefinedWeb / CCNet
    boilerplate remover — any normalized line appearing in >= 2 distinct
    docs is stripped from every doc. The flat synthetic docs are
    single-line, so the probe plants the structure the operator must
    remove: every page gets the shared cookie-banner header, one of two
    nav footers (doc_id parity), and every 31st doc's body is replaced by
    a shared subscribe-blurb (so the all-lines-removed -> text='' path is
    live in the gated query, not just in pytest). Document-grain dedup
    (dd_exact_dedup / dd_minhash) cannot see this: the pages are NOT
    near-dups, yet 2-3 of their lines are pure duplication."""
    from pmcanalysis_spark.operators.dedup import line_dedup

    docs = _docs_parallel(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("Accept cookies to continue\n"),
            F.when(
                F.col("doc_id") % 31 == 0, F.lit("Subscribe to our newsletter")
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("\nCopyright Example Corp")
            ).otherwise(F.lit("\nAbout | Contact | Privacy")),
        ).alias("text"),
    )
    return line_dedup(docs, min_docs=2)


def q_ts_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (r5, arXiv:2302.03169): hashed unigram+
    bigram bag log-likelihood ratio of every raw doc under an in-domain
    target (docs with doc_id % 17 == 0 act as the target corpus) vs the
    raw corpus itself — the data-selection score LLaMA-class pipelines
    rank by. Bucket space fixed at 4096 (bounded groupBy keys, broadcast
    log-ratio table, no raw-side shuffle until the per-doc sum)."""
    from pmcanalysis_spark.operators.textstats import dsir_weights

    docs = _docs_parallel(spark, sf_dir).select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 17 == 0)
    return dsir_weights(docs, target, n_buckets=4096, alpha=0.5, seed=1)


def q_kg_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving snippet highlighting (r5): +-30-char fragment around the
    first occurrence of each lexicon name, match wrapped in <b></b> — the
    DataFrame half of the reference's Lucene highlighter
    (DermoServlet.groovy:443-502). Broadcast lexicon x doc scan, zero
    shuffle, pure string algebra."""
    from pmcanalysis_spark.serving import highlight_snippets

    return highlight_snippets(_docs(spark, sf_dir), _lex_df(spark), width=30)


def _bar_images(spark: SparkSession, sf_dir: str):
    """8×8 grayscale PGM per doc: a vertical 255-bar of width doc_id % 9
    against black — the aHash of a bar image has closed form
    (2^w − 1) · 0x0101010101010101 for 0 < w < 8 (strict-above-mean bits
    are exactly the bar columns) and 0 for the flat images w ∈ {0, 8}."""
    import pandas as pd

    def build(batches):
        for pdf in batches:
            mids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                w = int(doc_id) % 9
                row = bytes([255] * w + [0] * (8 - w))
                mids.append(str(int(doc_id)))
                payloads.append(b"P5 8 8 255\n" + row * 8)
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    return _docs_parallel(spark, sf_dir).select("doc_id").mapInPandas(
        build, "media_id string, payload binary"
    )


def q_mm_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash through the REAL PGM decode (r5): the
    oracle replays only the closed-form hash of the bar construction, so
    decode → luma → thumbnail → strict-above-mean bits → LSB-first packing
    must all be exact."""
    from pmcanalysis_spark.multimodal import image_ahash

    return image_ahash(_bar_images(spark, sf_dir)).select(
        F.col("media_id").cast("long").alias("media_id"), "ahash"
    )


def q_dd_image_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs (r5): image aHash + the SAME banded
    Hamming machinery as text SimHash (`dedup.hamming_pairs`, 64 bits,
    16 bands, d<=8 — pigeonhole recall exactly 1, so the banded plan must
    equal the oracle's brute-force all-pairs scan). Bar images at widths
    w and w±1 differ in exactly 8 bits (one column), so the planted
    near-dup structure is live at every SF."""
    from pmcanalysis_spark.multimodal import image_ahash
    from pmcanalysis_spark.operators.dedup import hamming_pairs

    sigs = image_ahash(_bar_images(spark, sf_dir)).select(
        F.col("media_id").cast("long").alias("media_id"), "ahash"
    )
    # both banded join sides reference the signature subtree, which here is
    # TWO Python crossings (image build + real PGM decode) — persist so the
    # decode runs once (r6; same rationale as simhash_pairs' materialize)
    sigs = sigs.persist()
    return hamming_pairs(
        sigs, id_col="media_id", sig_col="ahash",
        n_bits=64, max_hamming=8, bands=16,
    ).select("a_id", "b_id", F.col("hamming").cast("int").alias("hamming"))


def q_ts_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (r5): α=0.5 sampling weights over
    per-source token mass, 10k-token target — the mT5/XLM-R mixing rule.
    Every float on the rate path is cross-engine exact (IEEE sqrt,
    decimal weight total, one double mul/div chain), so the oracle
    replays the keep decision bucket-for-bucket."""
    from pmcanalysis_spark.operators.textstats import temperature_mix

    return temperature_mix(_docs(spark, sf_dir), target_tokens=10_000, alpha=0.5)


def q_ts_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram perplexity signal (r5): mean -ln(0.7·p2 +
    0.3·p1) per document over the corpus's own add-0.5-smoothed bigram /
    unigram counts — the word-order-aware upgrade of ts_unigram_logppl.
    All probability arithmetic is forced double on both sides (the SQL
    literal 0.5 is DECIMAL in DuckDB; the oracle casts), nll terms
    ROUND(9), per-doc mean through the DECIMAL(28,9) sum recipe."""
    from pmcanalysis_spark.operators.textstats import bigram_logppl

    return bigram_logppl(_docs(spark, sf_dir), alpha=0.5, lam=0.7)


def q_sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (r5, arXiv:1102.3828): 64-dim
    vectors → 8 subspace codes against the deterministic vec_id<16
    codebooks (same seed-rows trick as the IVF quantizer), then top-10
    per query (vec_id<3) by asymmetric distance — the memory-compression
    scale path of web-scale ANN. Distances ROUND(6) tie-to-lowest-code at
    encode, in-engine ROUND(9) LUT terms + DECIMAL(28,9) item sums at
    search, so the whole index+scan replays value-exactly in SQL."""
    from pmcanalysis_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_vectors,
    )

    emb = _t(spark, sf_dir, "embeddings")
    seeds = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    cbs = pq_codebooks_from_vectors(seeds, m=8)
    queries = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    return pq_adc_topk(emb, cbs, queries, k=10)


def q_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (r5, FAISS IVF-PQ, arXiv:1102.3828 §IV): vec_id<8 cells
    (the sim_ivf quantizer), residual PQ against the vec_id<16 codebooks,
    nprobe=2 of 8 cells per query (vec_id<3), top-10 by asymmetric
    distance — routing + compression + ADC composed, the trillion-vector
    index shape, replayed value-exactly in SQL."""
    from pmcanalysis_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebooks_from_vectors,
    )

    emb = _t(spark, sf_dir, "embeddings")
    rows = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).collect()
    }
    cents = [(i, rows[i]) for i in range(8)]
    cbs = pq_codebooks_from_vectors([rows[i] for i in range(16)], m=8)
    queries = [(i, rows[i]) for i in range(3)]
    return ivfpq_topk(emb, cents, cbs, queries, k=10, nprobe=2)


def q_sim_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ over TRAINED codebooks (r5): two distributed per-subspace
    Lloyd's iterations from the vec_id<16 seed slices (assignment = the
    same ROUND(6)-tie-lowest ``pq_encode`` used at index time; means =
    DECIMAL(28,12) sums — order-independent, so the oracle replays the
    exact codebooks by unrolling the iterations), then the same ADC
    top-10 scan as sim_pq_adc. Completes the trained-index family:
    sim_ivf_trained trains the router, this trains the compressor."""
    from pmcanalysis_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_vectors,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    seeds = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    init = pq_codebooks_from_vectors(seeds, m=8)
    cbs = train_pq_codebooks(emb, init, n_iter=2)
    queries = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    return pq_adc_topk(emb, cbs, queries, k=10)


def q_dd_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup (r5): docs with doc_id % 5 == 0 arrive as
    the NEW batch; the rest were admitted earlier and exist only as
    signature-store rows (band buckets + 60-bit shingle-hash sets — the
    old text is never re-read). Emits confirmed Jaccard >= 0.5 pairs
    touching at least one new doc. The oracle replays the store build,
    the new-side banding join and the hash-set confirm verbatim."""
    from pmcanalysis_spark.operators.dedup import (
        neardup_incremental,
        neardup_signature_store,
    )

    docs = _docs_parallel(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    store = neardup_signature_store(old, n=3, num_hashes=8, bands=4)
    pairs, _ = neardup_incremental(
        new, store, n=3, threshold=0.5, num_hashes=8, bands=4
    )
    return pairs.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


def q_src_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest round-trip (r5): documents are packed 10-per-chunk into
    real ISO 28500 archives (odd chunks record-per-gzip-member — the
    Common Crawl layout), then `parse_warc_records` recovers every record
    via the one-crossing mapInPandas parser. The oracle recomputes URI,
    date, HTTP block length and body md5 from the construction rule alone
    — the parse must be byte-faithful for the hashes to meet."""
    from pmcanalysis_spark.sources.warc import build_warc_record, parse_warc_records

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    chunked = docs.withColumn("chunk_id", (F.col("doc_id") / 10).cast("long"))

    def build(key, pdf):
        import pandas as pd

        cid = int(key[0])
        pdf = pdf.sort_values("doc_id")
        blob = b"".join(
            build_warc_record(
                f"https://example.org/doc/{int(r.doc_id)}",
                f"2024-01-01T00:00:{int(r.doc_id) % 60:02d}Z",
                str(r.text).encode(),
                gzip_member=(cid % 2 == 1),
            )
            for r in pdf.itertuples()
        )
        return pd.DataFrame({"chunk_id": [cid], "payload": [blob]})

    chunks = chunked.groupBy("chunk_id").applyInPandas(
        build, "chunk_id long, payload binary"
    )
    recs = parse_warc_records(chunks)
    return recs.select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long").alias("doc_id"),
        "rec_idx",
        "target_uri",
        "warc_date",
        "http_status",
        "content_length",
        F.md5("body").alias("body_md5"),
    )


def q_src_warc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC SINK round-trip (r5): docs shard by doc_id % 8, each shard
    becomes one gzip-membered archive (`write_warc_shards`), and the
    archives are re-parsed record-by-record. rec_idx must follow the
    sink's uri STRING sort (zero-padding-free, so '.../10' < '.../2'),
    and every body md5 must survive the build→gzip→parse cycle — the
    oracle recomputes all of it from the shard rule alone."""
    from pmcanalysis_spark.sources.warc import parse_warc_records, write_warc_shards

    docs = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 8).alias("shard_id"),
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id")).alias("uri"),
        F.lit("2024-01-01T00:00:00Z").alias("date"),
        "text",
    )
    shards = write_warc_shards(docs)
    recs = parse_warc_records(
        shards.select(F.col("shard_id").alias("chunk_id"), "payload")
    )
    return recs.select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("chunk_id").alias("shard_id"),
        "rec_idx",
        F.md5("body").alias("body_md5"),
    )


def q_ts_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (r5): md5 bucket vs cumulative
    thresholds (test 5% / train 90% / val 5% in sorted-name order), a
    pure function of (seed, doc_id) — stable under corpus growth, which
    is what leakage audits depend on. Zero-shuffle narrow select."""
    from pmcanalysis_spark.operators.textstats import dataset_split

    return dataset_split(_docs(spark, sf_dir), seed=31)


def q_ts_keep_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/Gopher-style keep/drop endgame (r4): all cleaning rules in
    one narrow zero-shuffle select, reasons recorded per doc."""
    from pmcanalysis_spark.operators.textstats import keep_filter

    return keep_filter(_docs(spark, sf_dir))


def q_ts_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health over the keep decision (r4): which crawl
    sources are worth fetching (kept fraction + quality mass)."""
    from pmcanalysis_spark.operators.textstats import keep_filter, source_stats

    docs = _docs(spark, sf_dir)
    return source_stats(docs, keep_filter(docs))


def q_ts_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram log-perplexity quality signal (r4): mean
    negative log corpus-frequency per token, add-0.5 smoothed."""
    from pmcanalysis_spark.operators.textstats import unigram_logppl

    return unigram_logppl(_docs(spark, sf_dir), alpha=0.5)


def q_ts_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length quantiles (r5): the corpus-shape report
    behind sequence-length/truncation budgets. exact=True here (the
    percentile anchor, value-identical to DuckDB quantile_cont); the
    default approx GK-sketch path is the mergeable 100 TB plan, pinned
    within rank error by pytest."""
    from pmcanalysis_spark.operators.textstats import length_quantiles

    return length_quantiles(_docs(spark, sf_dir), exact=True)


def q_ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (r4): 30-min inactivity starts a new
    session; per-user ordered window, deterministic (ts, event_id) order."""
    from pmcanalysis_spark.operators.events import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_seconds=1800).select(
        "event_id", "user_id", "session_seq", "session_id"
    )


def q_ev_asof_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (r4): every event joined to the user's most recent
    strictly-prior 'click' — the trade⋈quote shape as one per-key window,
    no join operator at all."""
    from pmcanalysis_spark.operators.events import asof_join_prior

    return asof_join_prior(_t(spark, sf_dir, "events"), match_type="click").select(
        "event_id", "user_id", "asof_event_id", "asof_value"
    )


def q_ev_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (r4): events whose value falls inside the
    [value, value+2] band of an early-user error event — executed as an
    equi-join on bins (plan-contract: no nested loop), oracle is the naive
    theta join."""
    from pmcanalysis_spark.operators.events import range_join_binned

    ev = _t(spark, sf_dir, "events")
    points = ev.select(F.col("event_id").alias("pid"), F.col("value").alias("x"))
    intervals = ev.filter(
        (F.col("event_type") == "error") & (F.col("user_id") < 3)
    ).select(
        F.col("event_id").alias("iid"),
        F.col("value").alias("lo"),
        (F.col("value") + 2.0).alias("hi"),
    )
    out = range_join_binned(points, intervals, bin_width=2.0)
    return out.select(
        "pid", "iid", F.round("x", 6).alias("x"), F.round("lo", 6).alias("lo")
    )


def q_ev_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup (r4): hour + day + grand-total grains from
    ONE pass (GROUP BY ROLLUP), labeled by grain."""
    from pmcanalysis_spark.operators.events import rollup_multigrain

    return rollup_multigrain(_t(spark, sf_dir, "events"))


def q_dd_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch similarity signal (r4): agreeing-slot fraction over
    the LSH candidate pairs — the zero-extra-scan ranking tier between
    candidates and the exact confirm."""
    from pmcanalysis_spark.operators.dedup import minhash_jaccard_estimate

    return minhash_jaccard_estimate(_docs_parallel(spark, sf_dir), num_hashes=16, bands=4)


def q_ts_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget subsampling (r4): greedy prefix in md5-hash
    order until 400 tokens per source — the data-mixing cap."""
    from pmcanalysis_spark.operators.textstats import token_budget_sample

    return token_budget_sample(_docs(spark, sf_dir), budget_tokens=400)


def q_dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (r4): banded candidates + one bit_count(XOR)
    confirm; recall exactly 1 for max_hamming < bands (pigeonhole), so the
    brute-force oracle must match row-for-row."""
    from pmcanalysis_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs_parallel(spark, sf_dir), max_hamming=3, bands=4)


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_kg_triples_scored(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        "kg_mentions_docfreq": q_kg_mentions_docfreq,
        "kg_corpus_size": q_kg_corpus_size,
        "kg_pair_counts": q_kg_pair_counts,
        "kg_triples_scored": q_kg_triples_scored,
        "kg_closure_docfreq": q_kg_closure_docfreq,
        "kg_obo_closure": q_kg_obo_closure,
        "kg_owl_closure": q_kg_owl_closure,
        "kg_serving_ranked": q_kg_serving_ranked,
        "kg_auc": q_kg_auc,
        "kg_cutoff_auc": q_kg_cutoff_auc,
        "kg_connected_components": q_kg_connected_components,
        "kg_serving_conjunction": q_kg_serving_conjunction,
        "ev_topk_users": q_ev_topk_users,
        "ts_pii_redact": q_ts_pii_redact,
        "ts_vocab_encode": q_ts_vocab_encode,
        "mm_metadata": q_mm_metadata,
        "mm_image_features": q_mm_image_features,
        "mm_audio_features": q_mm_audio_features,
        "mm_video_frames": q_mm_video_frames,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_lsh_topk": q_sim_lsh_topk,
        "link_scores": q_link_scores,
        "dd_minhash_lsh_pairs": q_dd_minhash_lsh_pairs,
        "dd_text_neardup_scalable": q_dd_text_neardup_scalable,
        "dd_text_neardup_clusters": q_dd_text_neardup_clusters,
        "dd_embedding_neardup_scalable": q_dd_embedding_neardup_scalable,
        "ts_top_ngrams": q_ts_top_ngrams,
        "ts_pack_sequences": q_ts_pack_sequences,
        "ts_stratified_sample": q_ts_stratified_sample,
        "dd_url_dedup": q_dd_url_dedup,
        "link_bm25": q_link_bm25,
        "kg_degree": q_kg_degree,
        "kg_triangles": q_kg_triangles,
        "dd_repeated_spans": q_dd_repeated_spans,
        "dd_span_dup_stats": q_dd_span_dup_stats,
        "ts_keep_filter": q_ts_keep_filter,
        "ts_source_stats": q_ts_source_stats,
        "ts_unigram_logppl": q_ts_unigram_logppl,
        "dd_simhash_pairs": q_dd_simhash_pairs,
        "ev_sessionize": q_ev_sessionize,
        "ev_asof_prior": q_ev_asof_prior,
        "ev_range_join": q_ev_range_join,
        "ev_rollup_multigrain": q_ev_rollup_multigrain,
        "ts_token_budget": q_ts_token_budget,
        "dd_minhash_est": q_dd_minhash_est,
        "dd_repeated_runs": q_dd_repeated_runs,
        "dd_cut_runs": q_dd_cut_runs,
        "kg_snippets": q_kg_snippets,
        "ts_length_quantiles": q_ts_length_quantiles,
        "kg_hierarchy_rollup": q_kg_hierarchy_rollup,
        "kg_obo_docfreq": q_kg_obo_docfreq,
        "kg_leaf_terms": q_kg_leaf_terms,
        "kg_topk_pairs": q_kg_topk_pairs,
        "kg_normalized_rank": q_kg_normalized_rank,
        "kg_npmi_band": q_kg_npmi_band,
        "kg_min_cooc": q_kg_min_cooc,
        "kg_doc_tags": q_kg_doc_tags,
        "kg_mention_totals": q_kg_mention_totals,
        "join_anti_gold": q_join_anti_gold,
        "kg_pair_counts_salted": q_kg_pair_counts_salted,
        "kg_term_canonical": q_kg_term_canonical,
        "kg_sent_occurrence": q_kg_sent_occurrence,
        "kg_sent_pairs": q_kg_sent_pairs,
        "dd_exact_dedup": q_dd_exact_dedup,
        "dd_ngram_jaccard": q_dd_ngram_jaccard,
        "dd_minhash": q_dd_minhash,
        "dd_simhash": q_dd_simhash,
        "ts_token_count": q_ts_token_count,
        "ts_quality": q_ts_quality,
        "ts_lang_id": q_ts_lang_id,
        "ts_fingerprint": q_ts_fingerprint,
        "ts_repetition": q_ts_repetition,
        "sim_cosine_topk": q_sim_cosine_topk,
        "tpch_pricing_summary": q_tpch_pricing_summary,
        "tpch_join_agg": q_tpch_join_agg,
        "ev_daily_counts": q_ev_daily_counts,
        "join_left_outer_coalesce": q_join_left_outer_coalesce,
        "sample_systematic": q_sample_systematic,
        "limit_parity": q_limit_parity,
        "f_iri_curie": q_f_iri_curie,
        "kg_triples_named": q_kg_triples_named,
        "lex_autocomplete": q_lex_autocomplete,
        "dd_embedding_neardup": q_dd_embedding_neardup,
        "sim_ivf_trained": q_sim_ivf_trained,
        "kg_pagerank2": q_kg_pagerank2,
        "dd_decontaminate": q_dd_decontaminate,
        "dd_semdedup": q_dd_semdedup,
        "ts_shuffle_order": q_ts_shuffle_order,
        "bpe_top_pairs": q_bpe_top_pairs,
        "ts_shard_manifest": q_ts_shard_manifest,
        "cls_nb_quality": q_cls_nb_quality,
        "ts_temperature_mix": q_ts_temperature_mix,
        "ts_bigram_logppl": q_ts_bigram_logppl,
        "sim_pq_adc": q_sim_pq_adc,
        "sim_ivfpq": q_sim_ivfpq,
        "sim_pq_trained": q_sim_pq_trained,
        "dd_incremental_neardup": q_dd_incremental_neardup,
        "ts_dataset_split": q_ts_dataset_split,
        "src_warc_roundtrip": q_src_warc_roundtrip,
        "src_warc_sink": q_src_warc_sink,
        "dd_line_dedup": q_dd_line_dedup,
        "ts_dsir_weights": q_ts_dsir_weights,
        "kg_host_graph": q_kg_host_graph,
        "kg_host_rank": q_kg_host_rank,
        "link_anchor_entities": q_link_anchor_entities,
        "kg_host_harmonic": q_kg_host_harmonic,
        "dd_semantic_decontam": q_dd_semantic_decontam,
        "mm_image_ahash": q_mm_image_ahash,
        "dd_image_ahash_pairs": q_dd_image_ahash_pairs,
    }
    gated = {k: base[k] for k in _GATE}
    assert len(gated) == 50
    return {**gated, **{k: v for k, v in base.items() if k not in gated}}


# The driver gates the first 50 registry entries: queries() puts _GATE first,
# in this order, then every other entry in registry order. Every entry, gated
# or not, runs against its DuckDB oracle in tests/test_entry.py. COVERAGE.md
# "Driver-gate rotation" records how the list is chosen.
_GATE = [
    "kg_mentions_docfreq",
    "kg_pair_counts",
    "kg_triples_scored",
    "kg_connected_components",
    "ts_pack_sequences",
    "ts_stratified_sample",
    "dd_url_dedup",
    "link_bm25",
    "kg_degree",
    "kg_triangles",
    "dd_repeated_spans",
    "dd_span_dup_stats",
    "ts_keep_filter",
    "ts_source_stats",
    "ts_unigram_logppl",
    "dd_simhash_pairs",
    "ev_sessionize",
    "ev_asof_prior",
    "ev_range_join",
    "ev_rollup_multigrain",
    "ts_token_budget",
    "dd_minhash_est",
    "dd_repeated_runs",
    "dd_cut_runs",
    "kg_snippets",
    "ts_length_quantiles",
    "sim_ivf_trained",
    "kg_pagerank2",
    "dd_decontaminate",
    "dd_semdedup",
    "ts_shuffle_order",
    "bpe_top_pairs",
    "ts_shard_manifest",
    "cls_nb_quality",
    "ts_temperature_mix",
    "ts_bigram_logppl",
    "sim_pq_adc",
    "sim_ivfpq",
    "sim_pq_trained",
    "dd_incremental_neardup",
    "ts_dataset_split",
    "src_warc_roundtrip",
    "src_warc_sink",
    "dd_line_dedup",
    "ts_dsir_weights",
    "kg_host_graph",
    "kg_host_rank",
    "link_anchor_entities",
    "kg_host_harmonic",
    "dd_semantic_decontam",
]


def oracle_sql() -> dict[str, str]:
    pair_counts_sql = """
      SELECT a.term_id AS a_id, b.term_id AS b_id, COUNT(*) AS nab
      FROM mentions a JOIN mentions b ON a.doc_id = b.doc_id
      WHERE a.term_id LIKE 'OP:%' AND b.term_id LIKE 'DS:%'
      GROUP BY 1, 2
    """
    return {
        "kg_mentions_docfreq": _MENTIONS_SQL
        + "SELECT term_id, COUNT(DISTINCT doc_id) AS df FROM mentions GROUP BY term_id",
        "kg_corpus_size": _MENTIONS_SQL
        + "SELECT COUNT(DISTINCT doc_id) AS corpus_size FROM mentions",
        "kg_pair_counts": _MENTIONS_SQL + pair_counts_sql,
        "kg_triples_scored": _MENTIONS_SQL + "," + _TRIPLES_SQL_BODY,
        "kg_closure_docfreq": _MENTIONS_SQL
        + f""",
          hier(term_id, ancestor_id) AS (VALUES {_hier_values()}),
          closed AS (
            SELECT term_id, doc_id FROM mentions
            UNION
            SELECT h.ancestor_id AS term_id, m.doc_id
            FROM mentions m JOIN hier h ON h.term_id = m.term_id
          )
          SELECT term_id, COUNT(DISTINCT doc_id) AS df FROM closed GROUP BY term_id
        """,
        "kg_serving_ranked": _MENTIONS_SQL + f""",
          hier(term_id, ancestor_id) AS (VALUES {_hier_values()}),
          expansion AS (
            SELECT term_id FROM hier WHERE ancestor_id = 'OP:0000000'
            UNION SELECT 'OP:0000000'
          ),
          ranked AS (
            SELECT m.doc_id, COUNT(DISTINCT m.term_id) AS n_matched
            FROM mentions m JOIN expansion e ON e.term_id = m.term_id
            GROUP BY m.doc_id
          )
          SELECT doc_id, n_matched,
            CAST(ROW_NUMBER() OVER (ORDER BY n_matched DESC, doc_id ASC) AS INT) AS rank
          FROM ranked
          ORDER BY n_matched DESC, doc_id ASC
          LIMIT 100
        """,
        "kg_obo_closure": f"""
          WITH RECURSIVE
          edges(child, parent) AS (VALUES {_obo_edge_values()}),
          anc(term_id, ancestor_id) AS (
            SELECT child, parent FROM edges
            UNION
            SELECT a.term_id, e.parent
            FROM anc a JOIN edges e ON e.child = a.ancestor_id
          )
          SELECT DISTINCT term_id, ancestor_id FROM anc
          WHERE term_id <> ancestor_id
        """,
        # same recursive-CTE oracle as kg_obo_closure: the OWL file carries
        # the identical OBO_IS_A edge set (single source of truth), so the
        # closure must match regardless of the load format
        "kg_owl_closure": f"""
          WITH RECURSIVE
          edges(child, parent) AS (VALUES {_obo_edge_values()}),
          anc(term_id, ancestor_id) AS (
            SELECT child, parent FROM edges
            UNION
            SELECT a.term_id, e.parent
            FROM anc a JOIN edges e ON e.child = a.ancestor_id
          )
          SELECT DISTINCT term_id, ancestor_id FROM anc
          WHERE term_id <> ancestor_id
        """,
        "kg_obo_docfreq": f"""
          WITH RECURSIVE
          olex(name, term_id) AS (VALUES {_obo_lex_values()}),
          edges(child, parent) AS (VALUES {_obo_edge_values()}),
          anc(term_id, ancestor_id) AS (
            SELECT child, parent FROM edges
            UNION
            SELECT a.term_id, e.parent
            FROM anc a JOIN edges e ON e.child = a.ancestor_id
          ),
          toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
          ),
          m AS (
            SELECT DISTINCT toks.doc_id, olex.term_id
            FROM toks JOIN olex ON olex.name = toks.tok AND toks.tok <> ''
          ),
          closed AS (
            SELECT term_id, doc_id FROM m
            UNION
            SELECT a.ancestor_id AS term_id, m.doc_id
            FROM m JOIN anc a ON a.term_id = m.term_id
          )
          SELECT term_id, COUNT(DISTINCT doc_id) AS df FROM closed GROUP BY term_id
        """,
        "kg_hierarchy_rollup": _MENTIONS_SQL
        + f""",
          hier(term_id, ancestor_id) AS (VALUES {_hier_values()}),
          base AS (
            SELECT term_id, COUNT(DISTINCT doc_id) AS cnt FROM mentions GROUP BY term_id
          ),
          inherited AS (
            SELECT h.ancestor_id AS term_id, CAST(SUM(b.cnt) AS BIGINT) AS cnt
            FROM base b JOIN hier h ON h.term_id = b.term_id GROUP BY 1
          )
          SELECT term_id, CAST(SUM(cnt) AS BIGINT) AS rolled
          FROM (SELECT * FROM base UNION ALL SELECT * FROM inherited)
          GROUP BY term_id
        """,
        "kg_leaf_terms": f"""
          WITH lex(name, term_id) AS (VALUES {_lex_values()}),
          hier(term_id, ancestor_id) AS (VALUES {_hier_values()})
          SELECT DISTINCT term_id FROM lex
          WHERE term_id NOT IN (SELECT ancestor_id FROM hier)
        """,
        "kg_topk_pairs": _MENTIONS_SQL
        + f""", pc AS ({pair_counts_sql})
          SELECT a_id, b_id, nab, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY nab DESC, b_id ASC) AS INT) AS rank
            FROM pc
          ) WHERE rank <= 3
        """,
        "kg_normalized_rank": _MENTIONS_SQL
        + f""", pc AS ({pair_counts_sql})
          SELECT a_id, b_id, nab, nrank FROM (
            SELECT *,
              ROUND(CAST(ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY nab DESC, b_id ASC) - 1 AS DOUBLE)
                    / COUNT(*) OVER (PARTITION BY a_id), 6) AS nrank
            FROM pc
          ) WHERE nrank < 0.5
        """,
        "kg_npmi_band": _MENTIONS_SQL
        + ","
        + _TRIPLES_SQL_BODY.replace(
            "SELECT subj, pred, obj,",
            "SELECT subj, obj, npmi FROM (SELECT subj, pred, obj,",
        )
        + ") WHERE npmi BETWEEN 0.001 AND 1.0",
        "kg_min_cooc": _MENTIONS_SQL + pair_counts_sql + " HAVING COUNT(*) >= 10",
        "kg_cutoff_auc": _MENTIONS_SQL
        + f""", pc AS ({pair_counts_sql}),
          gold AS (
            SELECT a_id, b_id FROM pc
            WHERE CAST(concat('0x', substr(md5(concat(a_id, '|', b_id)), 1, 15)) AS BIGINT) % 3 = 0
          ),
          ranked AS (
            SELECT a_id, b_id,
                   ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY nab DESC, b_id ASC) AS rank
            FROM pc
          ),
          swept AS (
            SELECT r.a_id, r.b_id, CAST(c AS INT) AS cutoff
            FROM ranked r CROSS JOIN range(1, 6) AS t(c)
            WHERE r.rank <= c
          ),
          pr AS (
            SELECT cutoff,
                   SUM(CASE WHEN g.a_id IS NOT NULL THEN 1 ELSE 0 END) AS tp,
                   COUNT(*) AS n_pred
            FROM swept s LEFT JOIN gold g ON g.a_id = s.a_id AND g.b_id = s.b_id
            GROUP BY cutoff
          ),
          curve AS (
            SELECT cutoff,
                   CAST(tp AS DOUBLE) / n_pred AS prec,
                   CAST(tp AS DOUBLE) / (SELECT COUNT(*) FROM gold) AS recall
            FROM pr
          ),
          lagged AS (
            SELECT recall, prec, cutoff,
                   LAG(recall) OVER (ORDER BY recall, cutoff) AS pr_,
                   LAG(prec) OVER (ORDER BY recall, cutoff) AS pp_
            FROM curve
          )
          SELECT ROUND(CAST(SUM(CAST(ROUND(
                   CASE WHEN pr_ IS NOT NULL
                        THEN (recall - pr_) * (prec + pp_) / 2.0
                        ELSE 0.0 END, 6) AS DECIMAL(28,6))) AS DOUBLE), 6) AS auc
          FROM lagged
        """,
        "kg_auc": """
          WITH curve AS (
            SELECT CAST(l_linenumber AS DOUBLE) AS x, ROUND(AVG(l_quantity), 6) AS y
            FROM lineitem GROUP BY l_linenumber
          ),
          lagged AS (
            SELECT x, y, LAG(x) OVER (ORDER BY x) AS px, LAG(y) OVER (ORDER BY x) AS py
            FROM curve
          )
          SELECT ROUND(CAST(SUM(CASE WHEN px IS NOT NULL THEN (x - px) * (y + py) / 2.0 ELSE 0.0 END) AS DOUBLE), 6) AS auc
          FROM lagged
        """,
        "kg_connected_components": """
          WITH RECURSIVE edges AS (
            SELECT d.doc_id AS src, d.doc_id + 1 AS dst
            FROM documents d
            WHERE d.doc_id % 10 < 3
              AND EXISTS (SELECT 1 FROM documents e WHERE e.doc_id = d.doc_id + 1)
          ),
          sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
          reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id
          )
          SELECT id, MIN(r) AS component FROM reach GROUP BY id
        """,
        "kg_doc_tags": _MENTIONS_SQL
        + """
          SELECT doc_id, string_agg(term_id, ',' ORDER BY term_id) AS tags
          FROM (SELECT DISTINCT doc_id, term_id FROM mentions)
          GROUP BY doc_id
        """,
        "kg_mention_totals": f"""
          WITH lex(name, term_id) AS (VALUES {_lex_values()}),
          toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
          )
          SELECT COUNT(*) AS total_mentions
          FROM toks JOIN lex ON lex.name = toks.tok AND toks.tok <> ''
        """,
        "kg_serving_conjunction": _MENTIONS_SQL
        + f""",
          grp(group_id, term_id) AS (VALUES {", ".join(f"('{g}', '{t}')" for g, t in SERVING_GROUPS)})
          SELECT doc_id, COUNT(DISTINCT group_id) AS n_matched
          FROM mentions JOIN grp USING (term_id)
          GROUP BY doc_id
          HAVING COUNT(DISTINCT group_id) = {len({g for g, _ in SERVING_GROUPS})}
        """,
        "join_left_outer_coalesce": """
          SELECT c_custkey, COALESCE(n, 0) AS n_orders
          FROM customer
          LEFT JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey) o
            ON c_custkey = o.o_custkey
        """,
        "join_anti_gold": """
          SELECT c_custkey FROM customer
          WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "sample_systematic": """
          SELECT doc_id, n_chars FROM documents
          WHERE doc_id % 7 = 0 AND text NOT LIKE '%dup%'
        """,
        "limit_parity": """
          SELECT doc_id, n_chars FROM documents
          ORDER BY n_chars DESC, doc_id ASC LIMIT 100
        """,
        "f_iri_curie": f"""
          WITH lex(name, term_id) AS (VALUES {_lex_values()}),
          t AS (SELECT DISTINCT term_id FROM lex),
          i AS (
            SELECT term_id,
              concat('<http://purl.obolibrary.org/obo/', replace(term_id, ':', '_'), '>') AS iri
            FROM t
          )
          SELECT term_id, iri,
            replace(replace(regexp_replace(iri, '<http://purl\\.obolibrary\\.org/obo/', ''), '>', ''), '_', ':') AS curie
          FROM i
        """,
        "kg_pair_counts_salted": _MENTIONS_SQL + pair_counts_sql,
        "kg_sent_occurrence": _CHUNK_MENTIONS_SQL
        + "SELECT term_id, COUNT(*) AS cnt FROM cm GROUP BY term_id",
        "kg_sent_pairs": _CHUNK_MENTIONS_SQL
        + """
          , units AS (SELECT DISTINCT doc_id, chunk, term_id FROM cm)
          SELECT a.term_id AS a_id, b.term_id AS b_id, COUNT(*) AS nab
          FROM units a JOIN units b ON a.doc_id = b.doc_id AND a.chunk = b.chunk
          WHERE a.term_id LIKE 'OP:%' AND b.term_id LIKE 'DS:%'
          GROUP BY 1, 2
        """,
        "kg_triples_named": _MENTIONS_SQL
        + f""",
          pc AS ({pair_counts_sql}),
          an AS (
            SELECT term_id AS a_id, string_agg(name, '|' ORDER BY name) AS a_name
            FROM (SELECT DISTINCT term_id, name FROM lex) GROUP BY term_id
          ),
          bn AS (
            SELECT term_id AS b_id, string_agg(name, '|' ORDER BY name) AS b_name
            FROM (SELECT DISTINCT term_id, name FROM lex) GROUP BY term_id
          )
          SELECT pc.a_id, pc.b_id, pc.nab, an.a_name, bn.b_name
          FROM pc JOIN an USING (a_id) JOIN bn USING (b_id)
        """,
        "lex_autocomplete": f"""
          WITH lex(name, term_id) AS (VALUES {_lex_values()})
          SELECT name, CAST(10000 - length(name) AS INT) AS weight
          FROM (SELECT DISTINCT name FROM lex)
          WHERE name LIKE 's%'
          ORDER BY weight DESC, name ASC LIMIT 5
        """,
        "kg_term_canonical": f"""
          WITH RECURSIVE lex(name, term_id) AS (VALUES {_lex_values()}),
          keys AS (SELECT DISTINCT name, term_id FROM lex),
          edges AS (
            SELECT a.term_id AS src, b.term_id AS dst
            FROM keys a JOIN keys b ON a.name = b.name AND a.term_id < b.term_id
          ),
          sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
          verts AS (SELECT DISTINCT term_id AS id FROM lex),
          reach(id, r) AS (
            SELECT id, id FROM verts
            UNION
            SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id
          )
          SELECT id AS term_id, MIN(r) AS canonical_id FROM reach GROUP BY id
        """,
        "dd_exact_dedup": """
          SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id,
                 COUNT(*) AS cluster_size
          FROM documents GROUP BY md5(text)
        """,
        "dd_ngram_jaccard": """
          WITH sh_all AS (
            SELECT DISTINCT doc_id, shingle FROM (
              SELECT doc_id,
                array_to_string(toks[i : i + 2], ' ') AS shingle
              FROM (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 2)) AS i
                FROM documents
              )
              WHERE i + 2 <= len(toks)
            )
          ),
          -- max_shingle_df="auto": boilerplate shingles in > half the docs
          -- are dropped BEFORE sizes/intersection (the default bound)
          hot AS (
            SELECT shingle FROM sh_all GROUP BY shingle
            HAVING COUNT(*) * 2 > (SELECT COUNT(DISTINCT doc_id) FROM documents)
          ),
          sh AS (
            SELECT * FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM hot)
          ),
          sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
          )
          SELECT a_id, b_id,
                 ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = a_id
          JOIN sizes sb ON sb.doc_id = b_id
          WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        """,
        "dd_text_neardup_clusters": """
          WITH RECURSIVE sh_all AS (
            SELECT DISTINCT doc_id, shingle FROM (
              SELECT doc_id,
                array_to_string(toks[i : i + 2], ' ') AS shingle
              FROM (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 2)) AS i
                FROM documents
              )
              WHERE i + 2 <= len(toks)
            )
          ),
          hashed AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
              CAST(concat('0x', substr(md5(shingle), 16, 15)) AS BIGINT) % (1::BIGINT << 57) AS h2
            FROM sh_all
          ),
          sig AS (
            SELECT doc_id, CAST(seed AS INT) AS hash_idx,
                   MIN((h1 + seed * h2) % 2305843009213693951) AS mh
            FROM hashed CROSS JOIN range(8) AS t(seed)
            GROUP BY doc_id, seed
          ),
          banded AS (
            SELECT doc_id, hash_idx // 2 AS band,
                   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY hash_idx) AS bucket
            FROM sig GROUP BY doc_id, hash_idx // 2
          ),
          cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          ),
          hot AS (
            SELECT shingle FROM sh_all GROUP BY shingle
            HAVING COUNT(*) * 2 > (SELECT COUNT(DISTINCT doc_id) FROM documents)
          ),
          sh AS (
            SELECT * FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM hot)
          ),
          sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          inter AS (
            SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.a_id
            JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
            GROUP BY 1, 2
          ),
          pairs AS (
            SELECT a_id, b_id
            FROM inter
            JOIN sizes sa ON sa.doc_id = a_id
            JOIN sizes sb ON sb.doc_id = b_id
            WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
          ),
          sym AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION SELECT b_id, a_id FROM pairs
          ),
          reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id
          )
          SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
        """,
        "dd_text_neardup_scalable": """
          WITH sh_all AS (
            SELECT DISTINCT doc_id, shingle FROM (
              SELECT doc_id,
                array_to_string(toks[i : i + 2], ' ') AS shingle
              FROM (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 2)) AS i
                FROM documents
              )
              WHERE i + 2 <= len(toks)
            )
          ),
          -- candidate step: MinHash-LSH banding over the UNFILTERED shingles
          -- (identical to the dd_minhash_lsh_pairs oracle)
          hashed AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
              CAST(concat('0x', substr(md5(shingle), 16, 15)) AS BIGINT) % (1::BIGINT << 57) AS h2
            FROM sh_all
          ),
          sig AS (
            SELECT doc_id, CAST(seed AS INT) AS hash_idx,
                   MIN((h1 + seed * h2) % 2305843009213693951) AS mh
            FROM hashed CROSS JOIN range(8) AS t(seed)
            GROUP BY doc_id, seed
          ),
          banded AS (
            SELECT doc_id, hash_idx // 2 AS band,
                   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY hash_idx) AS bucket
            FROM sig GROUP BY doc_id, hash_idx // 2
          ),
          cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          ),
          -- confirm step: exact Jaccard over the hot-bounded shingle space,
          -- computed ONLY on candidate pairs
          hot AS (
            SELECT shingle FROM sh_all GROUP BY shingle
            HAVING COUNT(*) * 2 > (SELECT COUNT(DISTINCT doc_id) FROM documents)
          ),
          sh AS (
            SELECT * FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM hot)
          ),
          sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          inter AS (
            SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.a_id
            JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
            GROUP BY 1, 2
          )
          SELECT a_id, b_id,
                 ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = a_id
          JOIN sizes sb ON sb.doc_id = b_id
          WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        """,
        "dd_minhash": """
          WITH sh AS (
            SELECT DISTINCT doc_id, shingle FROM (
              SELECT doc_id,
                array_to_string(toks[i : i + 2], ' ') AS shingle
              FROM (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 2)) AS i
                FROM documents
              )
              WHERE i + 2 <= len(toks)
            )
          )
          , hashed AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
              CAST(concat('0x', substr(md5(shingle), 16, 15)) AS BIGINT) % (1::BIGINT << 57) AS h2
            FROM sh
          )
          SELECT doc_id, CAST(seed AS INT) AS hash_idx,
                 MIN((h1 + seed * h2) % 2305843009213693951) AS minhash
          FROM hashed CROSS JOIN range(8) AS t(seed)
          GROUP BY doc_id, seed
        """,
        "dd_minhash_lsh_pairs": """
          WITH sh AS (
            SELECT DISTINCT doc_id, shingle FROM (
              SELECT doc_id,
                array_to_string(toks[i : i + 2], ' ') AS shingle
              FROM (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 2)) AS i
                FROM documents
              )
              WHERE i + 2 <= len(toks)
            )
          ),
          hashed AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
              CAST(concat('0x', substr(md5(shingle), 16, 15)) AS BIGINT) % (1::BIGINT << 57) AS h2
            FROM sh
          ),
          sig AS (
            SELECT doc_id, CAST(seed AS INT) AS hash_idx,
                   MIN((h1 + seed * h2) % 2305843009213693951) AS mh
            FROM hashed CROSS JOIN range(8) AS t(seed)
            GROUP BY doc_id, seed
          ),
          banded AS (
            SELECT doc_id, hash_idx // 2 AS band,
                   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY hash_idx) AS bucket
            FROM sig GROUP BY doc_id, hash_idx // 2
          )
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        """,
        # incremental crawl dedup: banding identical to dd_minhash_lsh_pairs;
        # the candidate join requires a NEW (doc_id % 5 = 0) side; confirm is
        # exact Jaccard over the 60-bit h1 shingle-hash sets the store keeps
        # (no hot-df filter — the confirm never self-joins the shingle table)
        "dd_incremental_neardup": """
          WITH sh AS (
            SELECT DISTINCT doc_id, shingle FROM (
              SELECT doc_id,
                array_to_string(toks[i : i + 2], ' ') AS shingle
              FROM (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 2)) AS i
                FROM documents
              )
              WHERE i + 2 <= len(toks)
            )
          ),
          hashed AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
              CAST(concat('0x', substr(md5(shingle), 16, 15)) AS BIGINT) % (1::BIGINT << 57) AS h2
            FROM sh
          ),
          dsh AS (SELECT DISTINCT doc_id, h1 FROM hashed),
          sig AS (
            SELECT doc_id, CAST(seed AS INT) AS hash_idx,
                   MIN((h1 + seed * h2) % 2305843009213693951) AS mh
            FROM hashed CROSS JOIN range(8) AS t(seed)
            GROUP BY doc_id, seed
          ),
          banded AS (
            SELECT doc_id, hash_idx // 2 AS band,
                   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY hash_idx) AS bucket
            FROM sig GROUP BY doc_id, hash_idx // 2
          ),
          cand AS (
            SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
                            greatest(a.doc_id, b.doc_id) AS b_id
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
            WHERE a.doc_id % 5 = 0
          ),
          sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
          inter AS (
            SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
            FROM cand c
            JOIN dsh a ON a.doc_id = c.a_id
            JOIN dsh b ON b.doc_id = c.b_id AND b.h1 = a.h1
            GROUP BY 1, 2
          )
          SELECT a_id, b_id,
                 ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = a_id
          JOIN sizes sb ON sb.doc_id = b_id
          WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        """,
        "dd_simhash": _SIMHASH_SQL,
        # brute-force all-pairs scan — legitimate as an ORACLE because for
        # max_hamming=3 < bands=4 the pigeonhole principle makes the banded
        # Spark path's recall exactly 1, so banded == brute by theorem
        "dd_simhash_pairs": f"""
          WITH sh AS ({_SIMHASH_SQL})
          SELECT a_id, b_id, hamming FROM (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          ) WHERE hamming <= 3
        """,
        "dd_embedding_neardup": """
          WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
          )
          , p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              list_dot_product(a.vec, b.vec)
              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
          )
          SELECT a_id, b_id, ROUND(cosine, 6) AS cosine FROM p WHERE cosine >= 0.4
        """,
        "ts_token_count": """
          SELECT doc_id,
            len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
            CAST(list_sum(list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                 t -> (length(t) + 3) // 4)) AS BIGINT) AS n_subtokens
          FROM documents
        """,
        "ts_quality": _QUALITY_SQL,
        "ts_lang_id": _LANG_ID_SQL,
        "ts_fingerprint": """
          SELECT doc_id,
            list_reduce(
              list_transform(range(1, len(toks) + 1),
                i -> CAST(concat('0x', substr(md5(concat(CAST(i AS VARCHAR), '@', toks[i])), 1, 15)) AS BIGINT)),
              (a, b) -> xor(a, b)) AS fingerprint
          FROM (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
          )
        """,
        "sim_cosine_topk": """
          WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
          ),
          pairs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS item_id,
              list_dot_product(a.vec, b.vec)
              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) AS cosine
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < 200
          )
          SELECT query_id, item_id, ROUND(cosine, 6) AS cosine, rank FROM (
            SELECT query_id, item_id, cosine,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS INT) AS rank
            FROM pairs
          ) WHERE rank <= 3
        """,
        # double sums go through DECIMAL(28,6) (exact, order-independent)
        "sim_ivf_topk": """
          WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
          ),
          c AS (SELECT vec_id AS cell, vec AS cvec FROM v WHERE vec_id < 8),
          assign AS (
            SELECT vec_id, vec, cell FROM (
              SELECT v.vec_id, v.vec, c.cell,
                ROW_NUMBER() OVER (
                  PARTITION BY v.vec_id
                  ORDER BY list_dot_product(v.vec, c.cvec)
                        / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                    c.cell ASC
                ) AS rn
              FROM v CROSS JOIN c
            ) WHERE rn = 1
          ),
          pairs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS item_id,
              list_dot_product(a.vec, b.vec)
              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) AS cosine
            FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
          )
          SELECT query_id, item_id, ROUND(cosine, 6) AS cosine, rank FROM (
            SELECT query_id, item_id, cosine,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS INT) AS rank
            FROM pairs
          ) WHERE rank <= 3
        """,
        # the two Lloyd's iterations unrolled: assign -> decimal-mean ->
        # assign -> decimal-mean, then the same single-probe search as
        # sim_ivf_topk over the trained cells
        "sim_ivf_trained": f"""
          WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
          ),
          c0 AS (SELECT vec_id AS cell, vec AS cvec FROM v WHERE vec_id < 8),
          a0 AS ({_kmeans_assign_sql("c0")}),
          c1 AS ({_kmeans_means_sql("a0")}),
          a1 AS ({_kmeans_assign_sql("c1")}),
          c2 AS ({_kmeans_means_sql("a1")}),
          a2 AS ({_kmeans_assign_sql("c2")}),
          pairs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS item_id,
              list_dot_product(a.vec, b.vec)
              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) AS cosine
            FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id <> b.vec_id
          )
          SELECT query_id, item_id, ROUND(cosine, 6) AS cosine, rank FROM (
            SELECT query_id, item_id, cosine,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS INT) AS rank
            FROM pairs
          ) WHERE rank <= 3
        """,
        "sim_lsh_topk": f"""
          WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
          ),
          bucketed AS (
            SELECT vec_id, vec, {_lsh_bucket_sql(num_planes=6, dim=64)} AS bucket
            FROM v
          ),
          pairs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS item_id,
              list_dot_product(a.vec, b.vec)
              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) AS cosine
            FROM bucketed a JOIN bucketed b
              ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
          )
          SELECT query_id, item_id, ROUND(cosine, 6) AS cosine, rank FROM (
            SELECT query_id, item_id, cosine,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS INT) AS rank
            FROM pairs
          ) WHERE rank <= 3
        """,
        "link_scores": f"""
          WITH lex(name, term_id) AS (VALUES {_link_lex_values()}),
          tt AS (
            SELECT term_id, tok, COUNT(*) AS tf
            FROM (
              SELECT term_id,
                     unnest(regexp_extract_all(lower(name), '[a-z0-9_]+')) AS tok
              FROM lex
            ) GROUP BY term_id, tok
          ),
          nt AS (SELECT COUNT(DISTINCT term_id) AS n_terms FROM tt),
          dfc AS (SELECT tok, COUNT(DISTINCT term_id) AS dfn FROM tt GROUP BY tok),
          w AS (
            SELECT tt.term_id, tt.tok,
                   tt.tf * ln((1.0 + nt.n_terms) / (1.0 + dfc.dfn)) AS wt
            FROM tt CROSS JOIN nt JOIN dfc ON dfc.tok = tt.tok
          ),
          norms AS (
            SELECT term_id,
                   CASE WHEN sqrt(SUM(wt * wt)) = 0 THEN 1.0
                        ELSE sqrt(SUM(wt * wt)) END AS nrm
            FROM w GROUP BY term_id
          ),
          prof AS (
            SELECT w.term_id, w.tok, w.wt / norms.nrm AS p
            FROM w JOIN norms USING (term_id)
          ),
          m AS (
            SELECT CAST(doc_id AS VARCHAR) AS url, text
            FROM documents WHERE text LIKE '%spark%'
          ),
          ctx AS (
            SELECT url, tok, COUNT(*) AS tf
            FROM (
              SELECT url,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
              FROM m
            ) WHERE tok <> 'spark' GROUP BY url, tok
          ),
          cnorm AS (
            SELECT url,
                   CASE WHEN sqrt(SUM(tf * tf)) = 0 THEN 1.0
                        ELSE sqrt(SUM(tf * tf)) END AS cn
            FROM ctx GROUP BY url
          ),
          cands AS (
            SELECT DISTINCT term_id FROM lex WHERE lower(name) = 'spark'
          ),
          scores AS (
            SELECT m.url, c.term_id,
              COALESCE(SUM((ctx.tf / cnorm.cn) * prof.p), 0.0) AS link_score
            FROM m
            CROSS JOIN cands c
            LEFT JOIN ctx ON ctx.url = m.url
            LEFT JOIN cnorm ON cnorm.url = m.url
            LEFT JOIN prof ON prof.term_id = c.term_id AND prof.tok = ctx.tok
            GROUP BY m.url, c.term_id
          )
          SELECT url, 0 AS sent_idx, 'spark' AS name, term_id,
            ROUND(link_score, 6) AS link_score,
            CAST(ROW_NUMBER() OVER (
              PARTITION BY url ORDER BY link_score DESC, term_id ASC
            ) AS INT) AS link_rank
          FROM scores
        """,
        "dd_embedding_neardup_scalable": f"""
          WITH base AS (
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
          ),
          v AS (
            SELECT vec_id, vec FROM base
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_prepend(vec[1] * 1.2, vec[2:]) AS vec
            FROM base WHERE vec_id < 50
          ),
          banded AS (
            {" UNION ALL ".join(
                f"SELECT vec_id, {t} AS tbl, "
                f"{_lsh_bucket_sql(num_planes=8, dim=64, plane_offset=t * 8)} AS bucket FROM v"
                for t in range(4)
            )}
          ),
          cands AS (
            SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
            FROM banded a JOIN banded b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
          ),
          pairs AS (
            SELECT c.a_id, c.b_id,
              list_dot_product(va.vec, vb.vec)
              / (sqrt(list_dot_product(va.vec, va.vec)) * sqrt(list_dot_product(vb.vec, vb.vec))) AS cosine
            FROM cands c
            JOIN v va ON va.vec_id = c.a_id
            JOIN v vb ON vb.vec_id = c.b_id
          )
          SELECT a_id, b_id, ROUND(cosine, 6) AS cosine
          FROM pairs WHERE cosine >= 0.95
        """,
        "ts_repetition": _REPETITION_SQL,
        "ts_top_ngrams": """
          WITH sh AS (
            SELECT doc_id, ngram FROM (
              SELECT doc_id, array_to_string(toks[i : i + 2], ' ') AS ngram
              FROM (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       unnest(range(1, greatest(len(string_split(text, ' ')) - 3, 0) + 2)) AS i
                FROM documents
              )
              WHERE i + 2 <= len(toks)
            )
          ),
          per_doc AS (
            SELECT doc_id, ngram, COUNT(*) AS occ FROM sh GROUP BY doc_id, ngram
          ),
          agg AS (
            SELECT ngram, COUNT(*) AS df, CAST(SUM(occ) AS BIGINT) AS total_occ
            FROM per_doc GROUP BY ngram
          )
          SELECT ngram, df, total_occ,
            CAST(ROW_NUMBER() OVER (ORDER BY df DESC, total_occ DESC, ngram ASC) AS INT) AS rank
          FROM agg
          ORDER BY df DESC, total_occ DESC, ngram ASC
          LIMIT 20
        """,
        "tpch_pricing_summary": """
          SELECT l_returnflag, l_linestatus,
            ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_qty,
            ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_base_price,
            ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_disc_price,
            ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
            COUNT(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= DATE '1998-09-02'
          GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_join_agg": """
          SELECT n_name, COUNT(*) AS n_orders,
                 ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name
        """,
        "ev_daily_counts": """
          SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
                 ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS total_value
          FROM events GROUP BY 1, 2
        """,
        "ev_topk_users": """
          SELECT user_id, total, rank FROM (
            SELECT user_id, total,
              CAST(ROW_NUMBER() OVER (ORDER BY total DESC, user_id ASC) AS INT) AS rank
            FROM (
              SELECT user_id,
                     ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS total
              FROM events GROUP BY user_id
            )
          ) WHERE rank <= 5
        """,
        "ts_vocab_encode": """
          WITH toks AS (
            SELECT doc_id, i AS pos, arr[i] AS token FROM (
              SELECT doc_id, string_split(text, ' ') AS arr,
                     unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
              FROM documents
            )
            WHERE arr[i] <> ''
          ),
          counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
          vocab AS (
            SELECT token, token_id FROM (
              SELECT token,
                     CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS INT) AS token_id
              FROM counts
            ) WHERE token_id <= 100
          )
          SELECT t.doc_id,
                 string_agg(CAST(COALESCE(v.token_id, 0) AS VARCHAR), ','
                            ORDER BY t.pos) AS ids
          FROM toks t LEFT JOIN vocab v ON v.token = t.token
          GROUP BY t.doc_id
        """,
        "ts_pii_redact": """
          WITH built AS (
            SELECT doc_id,
              concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                     '@example.com or 10.0.0.', CAST(doc_id % 256 AS VARCHAR),
                     ' tel 555-01', printf('%02d', CAST(doc_id % 100 AS INT)),
                     '-4242 end') AS text
            FROM documents
          )
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
                '\\b\\d{3}[- ]\\d{3,4}[- ]\\d{4}\\b', '<PHONE>', 'g') AS redacted,
            CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
            CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
            CAST(len(regexp_extract_all(text, '\\b\\d{3}[- ]\\d{3,4}[- ]\\d{4}\\b')) AS INT) AS n_phone
          FROM built
        """,
        "mm_metadata": """
          SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                 COUNT(*) AS n,
                 CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
                 ROUND(AVG(strlen(text)), 6) AS avg_bytes
          FROM documents GROUP BY 1
        """,
        # truth recomputed from the construction rule alone: the Spark side
        # must round-trip it through REAL PNG/PGM encode -> decode
        "mm_image_features": """
          SELECT doc_id AS media_id,
            CAST(doc_id % 7 + 2 AS INT) AS width,
            CAST(doc_id % 5 + 2 AS INT) AS height,
            ROUND(CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END, 6) AS r_mean,
            -- doc_id %4=0: PNG (solid RGB); %4=2: baseline JPEG (solid
            -- gray); odd: PGM (solid gray) — gray rows have g=b=r
            ROUND(CASE WHEN doc_id % 4 = 0
                       THEN (CASE WHEN doc_id % 3 = 1 THEN 1.0 ELSE 0.0 END)
                       ELSE (CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END)
                  END, 6) AS g_mean,
            ROUND(CASE WHEN doc_id % 4 = 0
                       THEN (CASE WHEN doc_id % 3 = 2 THEN 1.0 ELSE 0.0 END)
                       ELSE (CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END)
                  END, 6) AS b_mean
          FROM documents
        """,
        # exact binary fractions by construction: c = (doc_id%5)/8,
        # duration = n/1024 — float32-exact on the Spark side
        "mm_audio_features": """
          SELECT doc_id AS media_id,
            CAST(64 + doc_id % 50 AS INT) AS n_samples,
            CAST(1 AS INT) AS channels,
            ROUND(CAST(64 + doc_id % 50 AS DOUBLE) / 1024, 6) AS duration,
            ROUND(CAST(doc_id % 5 AS DOUBLE) / 8, 6) AS rms,
            ROUND(CAST(doc_id % 5 AS DOUBLE) / 8, 6) AS peak,
            ROUND(0.0, 6) AS zcr
          FROM documents
        """,
        "mm_video_frames": """
          SELECT media_id, CAST(i AS INT) AS frame_idx,
            CAST(media_id % 7 + 2 AS INT) AS width,
            CAST(media_id % 5 + 2 AS INT) AS height,
            ROUND(CASE WHEN (media_id + i) % 2 = 0 THEN 1.0 ELSE 0.0 END, 6) AS mean
          FROM (
            SELECT doc_id AS media_id,
                   unnest(range(doc_id % 3 + 1)) AS i
            FROM documents
          )
        """,
        # the oracle's single-window ordered cumsum vs Spark's two-phase
        # per-partition offsets: identical manifests prove the offset scheme
        "ts_pack_sequences": """
          WITH d AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
            FROM documents
          ),
          c AS (
            SELECT doc_id, n_tok,
                   SUM(n_tok) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
            FROM d WHERE n_tok > 0
          ),
          x AS (
            -- SUM() OVER on BIGINT widens to HUGEINT in DuckDB; narrow back
            SELECT doc_id, CAST(e - n_tok AS BIGINT) AS s, CAST(e AS BIGINT) AS e
            FROM c
          ),
          ch AS (
            SELECT s, e, unnest(generate_series(s // 64, (e - 1) // 64)) AS chunk_id
            FROM x
          )
          SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
                 COUNT(*) AS n_docs,
                 CAST(SUM(LEAST(e, (chunk_id + 1) * 64)
                          - GREATEST(s, chunk_id * 64)) AS BIGINT) AS n_tokens
          FROM ch GROUP BY chunk_id
        """,
        # the keep rule recomputed verbatim: md5 bucket < rate * 1e6
        "ts_stratified_sample": """
          WITH rates(lang, keep_lt) AS (
            VALUES ('en', 500000), ('de', 250000), ('zh', 1000000)
          ),
          b AS (
            SELECT doc_id, lang,
              CAST(concat('0x', substr(md5(concat('7', '|',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS bucket
            FROM documents
          )
          SELECT b.doc_id, b.lang AS stratum, b.bucket
          FROM b JOIN rates USING (lang)
          WHERE b.bucket < rates.keep_lt
        """,
        # oracle recomputes the canonical form from the construction rule —
        # a canonicalization bug on the Spark side breaks the value hash
        "dd_url_dedup": """
          SELECT concat('https://www.', lower(source), '.example.com/doc/',
                        CAST(doc_id // 2 AS VARCHAR)) AS canonical_url,
                 MIN(doc_id) AS canonical_id,
                 COUNT(*) AS n_dups
          FROM documents GROUP BY 1
        """,
        "link_bm25": f"""
          WITH lex(name, term_id) AS (VALUES {_lex_values()}),
          t2 AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
          ),
          toks AS (SELECT * FROM t2 WHERE tok <> ''),
          dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
          stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
          hits AS (
            SELECT toks.doc_id, lex.term_id FROM toks JOIN lex ON lex.name = toks.tok
          ),
          tf AS (SELECT doc_id, term_id, COUNT(*) AS tf FROM hits GROUP BY 1, 2),
          dfx AS (
            SELECT term_id, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, term_id FROM hits) GROUP BY 1
          )
          SELECT tf.doc_id, tf.term_id, tf.tf,
                 ROUND(ln(1 + (stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)),
                       6) AS bm25
          FROM tf JOIN dfx USING (term_id) JOIN dl USING (doc_id)
          CROSS JOIN stats
        """,
        "kg_degree": _MENTIONS_SQL + """,
          pairs AS (
            SELECT DISTINCT a.term_id AS a, b.term_id AS b
            FROM mentions a JOIN mentions b
              ON a.doc_id = b.doc_id AND a.term_id < b.term_id
          ),
          sym AS (
            SELECT a AS id, b AS nbr FROM pairs
            UNION
            SELECT b AS id, a AS nbr FROM pairs
          )
          SELECT id AS term_id, COUNT(*) AS degree FROM sym GROUP BY 1
        """,
        "kg_triangles": _MENTIONS_SQL + """,
          pairs AS (
            SELECT DISTINCT a.term_id AS a, b.term_id AS b
            FROM mentions a JOIN mentions b
              ON a.doc_id = b.doc_id AND a.term_id < b.term_id
          )
          SELECT COUNT(*) AS n_triangles
          FROM pairs ab
          JOIN pairs bc ON ab.b = bc.a
          JOIN pairs ac ON ac.a = ab.a AND ac.b = bc.b
        """,
        # the two power iterations unrolled; the DECIMAL(28,12) inflow and
        # dangling sums replay graph.pagerank(exact_sums=True) value-exactly,
        # and every scalar op keeps the operator's exact order ((1.0-0.85)/n,
        # 0.85 * (inflow + d/n)) so the doubles agree bit for bit
        "kg_pagerank2": _MENTIONS_SQL + """,
          pairs AS (
            SELECT DISTINCT a.term_id AS a, b.term_id AS b
            FROM mentions a JOIN mentions b
              ON a.doc_id = b.doc_id AND a.term_id < b.term_id
          ),
          e AS (SELECT a AS src, b AS dst FROM pairs),
          verts AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
          nn AS (SELECT COUNT(*) AS n FROM verts),
          outdeg AS (SELECT src, COUNT(*) AS out FROM e GROUP BY src),
          r0 AS (SELECT v.id, 1.0 / nn.n AS rank FROM verts v CROSS JOIN nn),
          c1 AS (
            SELECT e.dst AS id,
                   CAST(SUM(CAST(r.rank / o.out AS DECIMAL(28, 12))) AS DOUBLE) AS inflow
            FROM r0 r JOIN outdeg o ON r.id = o.src JOIN e ON e.src = o.src
            GROUP BY e.dst
          ),
          d1 AS (
            SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(28, 12))) AS DOUBLE), 0.0) AS d
            FROM r0 r LEFT JOIN outdeg o ON r.id = o.src WHERE o.src IS NULL
          ),
          r1 AS (
            SELECT v.id,
                   (1.0 - 0.85) / nn.n
                     + 0.85 * (COALESCE(c.inflow, 0.0) + d1.d / nn.n) AS rank
            FROM verts v CROSS JOIN nn CROSS JOIN d1
            LEFT JOIN c1 c ON c.id = v.id
          ),
          c2 AS (
            SELECT e.dst AS id,
                   CAST(SUM(CAST(r.rank / o.out AS DECIMAL(28, 12))) AS DOUBLE) AS inflow
            FROM r1 r JOIN outdeg o ON r.id = o.src JOIN e ON e.src = o.src
            GROUP BY e.dst
          ),
          d2 AS (
            SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(28, 12))) AS DOUBLE), 0.0) AS d
            FROM r1 r LEFT JOIN outdeg o ON r.id = o.src WHERE o.src IS NULL
          ),
          r2 AS (
            SELECT v.id,
                   (1.0 - 0.85) / nn.n
                     + 0.85 * (COALESCE(c.inflow, 0.0) + d2.d / nn.n) AS rank
            FROM verts v CROSS JOIN nn CROSS JOIN d2
            LEFT JOIN c2 c ON c.id = v.id
          )
          SELECT id AS term_id, ROUND(ROUND(rank, 9), 6) AS rank FROM r2
        """,
        "dd_repeated_spans": _SPAN_OCC_SQL + """
          SELECT span, COUNT(DISTINCT doc_id) AS n_docs,
                 COUNT(*) AS n_occurrences
          FROM occ GROUP BY span HAVING COUNT(*) >= 2
        """,
        "dd_span_dup_stats": _SPAN_OCC_SQL + """,
          rep AS (SELECT span FROM occ GROUP BY span HAVING COUNT(*) >= 2),
          per_doc AS (SELECT doc_id, COUNT(*) AS n_spans FROM occ GROUP BY 1),
          per_rep AS (
            SELECT doc_id, COUNT(*) AS n_repeated
            FROM occ WHERE span IN (SELECT span FROM rep) GROUP BY 1
          )
          SELECT d.doc_id, d.n_spans,
                 COALESCE(r.n_repeated, 0) AS n_repeated,
                 ROUND(CAST(COALESCE(r.n_repeated, 0) AS DOUBLE) / d.n_spans, 6)
                   AS dup_frac
          FROM per_doc d LEFT JOIN per_rep r ON r.doc_id = d.doc_id
        """,
        "dd_repeated_runs": _SPAN_OCC_SQL + """,
          rep AS (SELECT span FROM occ GROUP BY span HAVING COUNT(*) >= 2),
          flagged AS (
            SELECT doc_id, i - 1 AS pos FROM occ
            WHERE span IN (SELECT span FROM rep)
          ),
          marked AS (
            SELECT doc_id, pos,
              CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                        > 8 THEN 1 ELSE 0 END AS new_run
            FROM flagged
          ),
          runs AS (
            SELECT doc_id, pos,
              SUM(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
            FROM marked
          )
          SELECT doc_id,
                 CAST(MIN(pos) AS BIGINT) AS start_token,
                 CAST(MAX(pos) + 8 AS BIGINT) AS end_token,
                 CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS n_tokens
          FROM runs GROUP BY doc_id, run_id
        """,
        "dd_cut_runs": _SPAN_OCC_SQL + """,
          rep AS (SELECT span FROM occ GROUP BY span HAVING COUNT(*) >= 2),
          flagged AS (
            SELECT doc_id, i - 1 AS pos FROM occ
            WHERE span IN (SELECT span FROM rep)
          ),
          marked AS (
            SELECT doc_id, pos,
              CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                        > 8 THEN 1 ELSE 0 END AS new_run
            FROM flagged
          ),
          runs AS (
            SELECT doc_id, pos,
              SUM(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
            FROM marked
          ),
          run_intervals AS (
            SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e
            FROM runs GROUP BY doc_id, run_id
          ),
          toks AS (
            SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
          ),
          kept AS (
            SELECT tk.doc_id, tk.tok, tk.i FROM toks tk
            WHERE NOT EXISTS (
              SELECT 1 FROM run_intervals ri
              WHERE ri.doc_id = tk.doc_id
                AND tk.i - 1 >= ri.s AND tk.i - 1 < ri.e
            )
          ),
          agg AS (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id
          ),
          tot AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_toks
            FROM documents
          )
          SELECT t.doc_id,
                 COALESCE(a.clean_text, '') AS clean_text,
                 CAST(t.n_toks - COALESCE(a.n_kept, 0) AS BIGINT)
                   AS n_tokens_cut
          FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
        """,
        "kg_snippets": f"""
          WITH lex(name, term_id) AS (VALUES {_lex_values()}),
          hits AS (
            SELECT d.doc_id, l.term_id, l.name, d.text,
                   strpos(d.text, l.name) AS pos
            FROM documents d JOIN lex l ON strpos(d.text, l.name) > 0
          )
          SELECT doc_id, term_id,
                 concat(
                   substr(text, greatest(1, pos - 30),
                          pos - greatest(1, pos - 30)),
                   '<b>', name, '</b>',
                   substr(text, pos + length(name), 30)
                 ) AS snippet
          FROM hits
        """,
        "ts_keep_filter": _KEEP_SQL,
        "ev_sessionize": """
          SELECT event_id, user_id,
                 session_seq,
                 concat(CAST(user_id AS VARCHAR), '#',
                        CAST(session_seq AS VARCHAR)) AS session_id
          FROM (
            SELECT event_id, user_id,
              CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS session_seq
            FROM (
              SELECT event_id, user_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          IS NULL
                     OR CAST(floor(epoch(ts)) AS BIGINT)
                        - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id))) AS BIGINT) > 1800
                     THEN 1 ELSE 0 END AS new_s
              FROM events
            )
          )
        """,
        "ev_asof_prior": """
          SELECT event_id, user_id,
            last_value(CASE WHEN event_type = 'click' THEN event_id END
                       IGNORE NULLS) OVER w AS asof_event_id,
            ROUND(last_value(CASE WHEN event_type = 'click' THEN value END
                             IGNORE NULLS) OVER w, 6) AS asof_value
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """,
        # the naive theta join IS the oracle; the Spark side must produce
        # the identical pair set via the binned equi-join
        "ev_range_join": """
          SELECT p.event_id AS pid, i.event_id AS iid,
                 ROUND(p.value, 6) AS x, ROUND(i.value, 6) AS lo
          FROM events p
          JOIN (SELECT * FROM events
                WHERE event_type = 'error' AND user_id < 3) i
            ON p.value >= i.value AND p.value <= i.value + 2
        """,
        "dd_minhash_est": """
          WITH sh AS (
            SELECT DISTINCT doc_id, shingle FROM (
              SELECT doc_id,
                array_to_string(toks[i : i + 2], ' ') AS shingle
              FROM (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 2)) AS i
                FROM documents
              )
              WHERE i + 2 <= len(toks)
            )
          ),
          hashed AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
              CAST(concat('0x', substr(md5(shingle), 16, 15)) AS BIGINT) % (1::BIGINT << 57) AS h2
            FROM sh
          ),
          slots AS (
            SELECT doc_id, CAST(seed AS INT) AS i,
                   MIN((h1 + seed * h2) % 2305843009213693951) AS mh
            FROM hashed CROSS JOIN range(16) AS t(seed)
            GROUP BY doc_id, seed
          ),
          buckets AS (
            SELECT doc_id, i // 4 AS band,
                   array_to_string(list(CAST(mh AS VARCHAR) ORDER BY i), ',') AS bucket
            FROM slots GROUP BY doc_id, i // 4
          ),
          cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          )
          SELECT c.a_id, c.b_id,
                 ROUND(CAST(COUNT(*) FILTER (WHERE sa.mh = sb.mh) AS DOUBLE) / 16, 6)
                   AS est_jaccard
          FROM cand c
          JOIN slots sa ON sa.doc_id = c.a_id
          JOIN slots sb ON sb.doc_id = c.b_id AND sb.i = sa.i
          GROUP BY c.a_id, c.b_id
        """,
        "ts_token_budget": """
          WITH base AS (
            SELECT doc_id, source,
              len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
              CAST(concat('0x', substr(md5(concat('17', '|',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
            FROM documents
          ),
          c AS (
            SELECT doc_id, source, n_tokens,
              CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cum_tokens
            FROM base
          )
          SELECT doc_id, source, n_tokens, cum_tokens
          FROM c WHERE cum_tokens <= 400
        """,
        "ev_rollup_multigrain": """
          SELECT day, hour,
                 CASE WHEN day IS NULL THEN 'total'
                      WHEN hour IS NULL THEN 'day'
                      ELSE 'hour' END AS grain,
                 COUNT(*) AS n_events,
                 ROUND(CAST(SUM(CAST(value AS DECIMAL(28, 6))) AS DOUBLE), 6)
                   AS sum_value
          FROM (
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   CAST(hour(ts) AS INT) AS hour, value
            FROM events
          )
          GROUP BY ROLLUP(day, hour)
        """,
        "ts_unigram_logppl": """
          WITH t AS (
            SELECT doc_id, token FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents
            ) WHERE token <> ''
          ),
          counts AS (SELECT token, COUNT(*) AS n FROM t GROUP BY 1),
          totals AS (
            SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS vocab FROM counts
          ),
          logp AS (
            SELECT token, ROUND(-ln((n + 0.5) / (total + 0.5 * vocab)), 9) AS nll
            FROM counts CROSS JOIN totals
          )
          SELECT t.doc_id, COUNT(*) AS n_tokens,
                 ROUND(CAST(SUM(CAST(l.nll AS DECIMAL(28, 9))) AS DOUBLE)
                       / COUNT(*), 6) AS logppl
          FROM t JOIN logp l USING (token) GROUP BY 1
        """,
        "ts_source_stats": f"""
          WITH k AS ({_KEEP_SQL})
          SELECT d.source, COUNT(*) AS n_docs,
                 CAST(SUM(k.keep) AS BIGINT) AS n_kept,
                 ROUND(CAST(SUM(CAST(k.quality AS DECIMAL(28, 6))) AS DOUBLE), 6)
                   AS sum_quality
          FROM documents d JOIN k ON k.doc_id = d.doc_id
          GROUP BY d.source
        """,
        # quantile_cont == Spark's exact `percentile` (both linear
        # interpolation over the sorted group); ROUND(x, 6) on both sides
        "ts_length_quantiles": """
          SELECT source, COUNT(*) AS n_docs,
                 ROUND(quantile_cont(n_tokens, 0.25), 6) AS p25,
                 ROUND(quantile_cont(n_tokens, 0.5), 6) AS p50,
                 ROUND(quantile_cont(n_tokens, 0.9), 6) AS p90,
                 ROUND(quantile_cont(n_tokens, 0.99), 6) AS p99
          FROM (SELECT source,
                       len(list_filter(string_split(text, ' '), x -> x <> ''))
                         AS n_tokens
                FROM documents)
          GROUP BY source
        """,
        # eval set = doc_id % 37 == 0; the oracle recomputes the same
        # 8-token windows (_SPAN_OCC_SQL) and the same broadcast-semi
        # semantics as one JOIN USING (span)
        "dd_decontaminate": _SPAN_OCC_SQL + """,
          ev AS (SELECT DISTINCT span FROM occ WHERE doc_id % 37 = 0),
          tr AS (SELECT doc_id, span FROM occ WHERE doc_id % 37 <> 0),
          per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id),
          hits AS (
            SELECT tr.doc_id, COUNT(*) AS n_contaminated
            FROM tr JOIN ev USING (span) GROUP BY tr.doc_id
          )
          SELECT d.doc_id,
                 COALESCE(p.n_grams, 0) AS n_grams,
                 COALESCE(h.n_contaminated, 0) AS n_contaminated,
                 ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
                       / greatest(COALESCE(p.n_grams, 0), 1), 6) AS contam_frac,
                 COALESCE(h.n_contaminated, 0) >= 1 AS contaminated
          FROM (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0) d
          LEFT JOIN per_doc p ON p.doc_id = d.doc_id
          LEFT JOIN hits h ON h.doc_id = d.doc_id
        """,
        # same augmented corpus as dd_embedding_neardup_scalable, same
        # vec_id<8 quantizer + tie order as sim_ivf_topk; the keep rule
        # compares on ROUND(cosine, 6) exactly like the Spark kernel
        "dd_semdedup": """
          WITH base AS (
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
          ),
          v AS (
            SELECT vec_id, vec FROM base
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_prepend(vec[1] * 1.2, vec[2:]) AS vec
            FROM base WHERE vec_id < 50
          ),
          c AS (SELECT vec_id AS cell, vec AS cvec FROM v WHERE vec_id < 8),
          assign AS (
            SELECT vec_id, vec, cell FROM (
              SELECT v.vec_id, v.vec, c.cell,
                ROW_NUMBER() OVER (
                  PARTITION BY v.vec_id
                  ORDER BY list_dot_product(v.vec, c.cvec)
                        / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                    c.cell ASC
                ) AS rn
              FROM v CROSS JOIN c
            ) WHERE rn = 1
          ),
          dropped AS (
            SELECT DISTINCT b.vec_id
            FROM assign a JOIN assign b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ROUND(
              list_dot_product(a.vec, b.vec)
              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 6
            ) >= 0.95
          )
          SELECT s.vec_id, s.cell, d.vec_id IS NULL AS keep
          FROM assign s LEFT JOIN dropped d ON d.vec_id = s.vec_id
        """,
        # the epoch-shuffle manifest: rank under ORDER BY (md5 key, id) —
        # the oracle's one global sort IS the semantics the two-phase
        # Spark scheme must reproduce exactly
        "ts_shuffle_order": """
          SELECT doc_id, shuffle_key,
                 CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1
                      AS BIGINT) AS order_idx
          FROM (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(concat('11', '|',
                        CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                     AS shuffle_key
            FROM documents
          )
        """,
        # the first BPE iteration's pair counts: chars + trailing </w>,
        # every adjacent position weighted by word frequency, the trainer's
        # (count DESC, pair ASC) merge order
        "bpe_top_pairs": """
          WITH wf AS (
            SELECT word, COUNT(*) AS freq FROM (
              SELECT unnest(list_filter(string_split(text, ' '),
                            x -> x <> '')) AS word
              FROM documents
            ) GROUP BY word
          ),
          syms AS (
            SELECT list_append(string_split(word, ''), '</w>') AS s, freq
            FROM wf
          ),
          pairs AS (
            SELECT s[i] AS a, s[i + 1] AS b, freq
            FROM (SELECT s, freq, unnest(range(1, len(s))) AS i FROM syms)
          ),
          agg AS (
            SELECT a, b, CAST(SUM(freq) AS BIGINT) AS count
            FROM pairs GROUP BY a, b
          )
          SELECT a, b, count,
            CAST(ROW_NUMBER() OVER (ORDER BY count DESC, a ASC, b ASC)
                 AS INT) AS rank
          FROM agg
          ORDER BY count DESC, a ASC, b ASC
          LIMIT 20
        """,
        # greedy whole-doc sharding under the epoch-shuffle order: the
        # exclusive prefix sum of token counts over ORDER BY (md5 key, id)
        "ts_shard_manifest": """
          SELECT doc_id,
                 CAST(floor(start_offset / 500) AS BIGINT) AS shard_id,
                 start_offset, n_tok
          FROM (
            SELECT doc_id, n_tok,
              CAST(COALESCE(SUM(n_tok) OVER (
                ORDER BY shuffle_key, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_offset
            FROM (
              SELECT doc_id,
                CAST(concat('0x', substr(md5(concat('11', '|',
                     CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                  AS shuffle_key,
                len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS n_tok
              FROM documents
            ) WHERE n_tok > 0
          )
        """,
        # Naive Bayes train+score unrolled: counting, ROUND(6) weights,
        # decimal-exact per-doc sums — the same recipe that oracle-ized
        # pagerank and the k-means trainer
        "cls_nb_quality": f"""
          WITH kf AS ({{keep}}),
          lab AS (
            SELECT d.doc_id, d.text, kf.keep
            FROM documents d JOIN kf ON kf.doc_id = d.doc_id
          ),
          tok AS (
            SELECT doc_id, keep,
                   unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS token
            FROM lab
          ),
          cnt AS (
            SELECT token,
                   SUM(CASE WHEN keep = 1 THEN 1 ELSE 0 END) AS n_pos,
                   SUM(CASE WHEN keep = 0 THEN 1 ELSE 0 END) AS n_neg
            FROM tok GROUP BY token
          ),
          tot AS (SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn, COUNT(*) AS v FROM cnt),
          model AS (
            SELECT token,
              ROUND(ln((n_pos + 0.5) / (tp + 0.5 * v))
                    - ln((n_neg + 0.5) / (tn + 0.5 * v)), 6) AS w
            FROM cnt CROSS JOIN tot
          ),
          prior AS (
            SELECT ROUND(ln((SUM(keep) + 0.5)
                          / (COUNT(*) - SUM(keep) + 0.5)), 6) AS p
            FROM kf
          ),
          s AS (
            SELECT t.doc_id, SUM(CAST(COALESCE(m.w, 0.0) AS DECIMAL(28, 6))) AS sm
            FROM tok t LEFT JOIN model m ON m.token = t.token
            GROUP BY t.doc_id
          )
          SELECT d.doc_id,
            ROUND(p + CAST(COALESCE(sm, 0) AS DOUBLE), 6) AS score,
            (p + CAST(COALESCE(sm, 0) AS DOUBLE)) > 0 AS pred
          FROM (SELECT doc_id FROM documents) d
          LEFT JOIN s ON s.doc_id = d.doc_id
          CROSS JOIN prior
        """.replace("{keep}", _KEEP_SQL),
        # Temperature mixing: the whole rate path is cross-engine exact —
        # integer token sums, IEEE sqrt ROUND(9), DECIMAL(28,9) weight
        # total, one double mul/div chain ROUND(6) — so the oracle replays
        # the md5-bucket keep decision verbatim.
        "ts_temperature_mix": """
          WITH b AS (
            SELECT doc_id, source,
              len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
              CAST(concat('0x', substr(md5(concat('23', '|',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS bucket
            FROM documents
          ),
          tot AS (
            SELECT source, SUM(n_tokens) AS src_tokens FROM b
            GROUP BY source HAVING SUM(n_tokens) > 0
          ),
          w AS (
            SELECT source, src_tokens,
                   ROUND(sqrt(CAST(src_tokens AS DOUBLE)), 9) AS w
            FROM tot
          ),
          ws AS (
            SELECT CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE) AS wsum FROM w
          ),
          r AS (
            SELECT source,
              ROUND(LEAST(1.0,
                w * CAST(10000 AS DOUBLE)
                  / (CAST(src_tokens AS DOUBLE) * ws.wsum)), 6) AS rate
            FROM w CROSS JOIN ws
          )
          SELECT b.doc_id, b.source, b.n_tokens, r.rate
          FROM b JOIN r USING (source)
          WHERE b.bucket < CAST(ROUND(r.rate * 1000000, 0) AS BIGINT)
        """,
        # Interpolated-bigram perplexity: every probability is forced
        # DOUBLE (DuckDB's bare 0.5/0.7 literals are DECIMAL — decimal
        # division would round differently); (1 - 0.7) is computed in
        # binary64 on both sides so the backoff weight's last ulp matches.
        "ts_bigram_logppl": """
          WITH b2 AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS arr
            FROM documents
            WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) > 0
          ),
          toks AS (
            SELECT doc_id, i - 1 AS pos, arr[i] AS token
            FROM (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i
                  FROM b2)
          ),
          uni AS (SELECT token, COUNT(*) AS n1 FROM toks GROUP BY token),
          tot AS (SELECT SUM(n1) AS total, COUNT(*) AS vocab FROM uni),
          p1 AS (
            SELECT token,
              (CAST(n1 AS DOUBLE) + CAST(0.5 AS DOUBLE))
              / (CAST(total AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(vocab AS DOUBLE)) AS p1
            FROM uni CROSS JOIN tot
          ),
          pairs AS (
            SELECT doc_id, arr[i] AS v, arr[i + 1] AS w
            FROM (SELECT doc_id, arr, unnest(range(1, len(arr))) AS i
                  FROM b2)
          ),
          big AS (SELECT v, w, COUNT(*) AS n2 FROM pairs GROUP BY v, w),
          ctx AS (SELECT v, SUM(n2) AS nc FROM big GROUP BY v),
          p2 AS (
            SELECT big.v, big.w,
              (CAST(n2 AS DOUBLE) + CAST(0.5 AS DOUBLE))
              / (CAST(nc AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(vocab AS DOUBLE)) AS p2
            FROM big JOIN ctx USING (v) CROSS JOIN tot
          ),
          nll AS (
            SELECT doc_id, ROUND(-ln(p1.p1), 9) AS nll
            FROM toks JOIN p1 USING (token) WHERE pos = 0
            UNION ALL
            SELECT pairs.doc_id,
              ROUND(-ln(CAST(0.7 AS DOUBLE) * p2.p2
                        + (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * p1.p1), 9) AS nll
            FROM pairs
            JOIN p2 ON p2.v = pairs.v AND p2.w = pairs.w
            JOIN p1 ON p1.token = pairs.w
          )
          SELECT doc_id, COUNT(*) AS n_tokens,
            ROUND(CAST(SUM(CAST(nll AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
              AS logppl
          FROM nll GROUP BY doc_id
        """,
        # PQ-ADC unrolled: codebooks reconstructed from the vec_id<16 rows
        # by pure list slicing; encode argmin under ROUND(6)+lowest-code;
        # LUT terms as the same left-to-right diff-dot fold Spark computes
        # (list_dot_product), item sums DECIMAL(28,9) — value-exact replay
        # of the full index-build + scan.
        "sim_pq_adc": """
          WITH cw AS (
            SELECT s.s AS s, e.vec_id AS code,
                   e.embedding[s.s * 8 + 1 : s.s * 8 + 8] AS cvec
            FROM embeddings e, generate_series(0, 7) s(s)
            WHERE e.vec_id < 16
          ),
          sub AS (
            SELECT e.vec_id AS item_id, s.s AS s,
                   e.embedding[s.s * 8 + 1 : s.s * 8 + 8] AS svec
            FROM embeddings e, generate_series(0, 7) s(s)
          ),
          dist AS (
            SELECT item_id, sub.s, code,
              ROUND(list_dot_product(
                list_transform(range(1, 9), i -> CAST(svec[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)),
                list_transform(range(1, 9), i -> CAST(svec[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))), 6) AS d2
            FROM sub JOIN cw ON cw.s = sub.s
          ),
          codes AS (
            SELECT item_id, s, code FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY item_id, s
                                           ORDER BY d2, code) AS rn
              FROM dist
            ) WHERE rn = 1
          ),
          lut AS (
            SELECT q.vec_id AS query_id, cw.s, cw.code,
              ROUND(list_dot_product(
                list_transform(range(1, 9), i -> CAST(q.embedding[cw.s * 8 + i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)),
                list_transform(range(1, 9), i -> CAST(q.embedding[cw.s * 8 + i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))), 9) AS term
            FROM embeddings q CROSS JOIN cw
            WHERE q.vec_id < 3
          ),
          score AS (
            SELECT query_id, item_id,
              ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS adist
            FROM codes JOIN lut ON lut.s = codes.s AND lut.code = codes.code
            GROUP BY query_id, item_id
          )
          SELECT query_id, item_id, adist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adist, item_id) AS rank
            FROM score
          ) WHERE rank <= 10
        """,
        # split thresholds in sorted-name order: test 50000, train 950000,
        # val 1000000 (cumulative) — the oracle replays the CASE chain
        "ts_dataset_split": """
          SELECT doc_id,
            CASE WHEN bucket < 50000 THEN 'test'
                 WHEN bucket < 950000 THEN 'train'
                 ELSE 'val' END AS split,
            bucket
          FROM (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(concat('31', '|',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS bucket
            FROM documents
          )
        """,
        # trained-PQ unrolled: seed books are the vec_id<16 slices; two
        # Lloyd's iterations (assign = pq_encode's ROUND(6)-tie-lowest rule,
        # means = DECIMAL(28,12) keep-old-on-empty), then the sim_pq_adc
        # LUT + ADC tail over the trained books.
        "sim_pq_trained": f"""
          WITH sub AS (
            SELECT e.vec_id AS item_id, s.s AS s,
                   list_transform(e.embedding[s.s * 8 + 1 : s.s * 8 + 8],
                                  x -> CAST(x AS DOUBLE)) AS svec
            FROM embeddings e, generate_series(0, 7) s(s)
          ),
          cw0 AS (
            SELECT s, item_id AS code, svec AS cvec FROM sub WHERE item_id < 16
          ),
          a0 AS ({_pq_assign_sql("cw0")}),
          cw1 AS ({_pq_means_sql("a0", "cw0")}),
          a1 AS ({_pq_assign_sql("cw1")}),
          cw2 AS ({_pq_means_sql("a1", "cw1")}),
          codes AS ({_pq_assign_sql("cw2")}),
          lut AS (
            SELECT qs.item_id AS query_id, c.s, c.code,
              ROUND(list_dot_product(
                list_transform(range(1, 9), i -> qs.svec[i] - c.cvec[i]),
                list_transform(range(1, 9), i -> qs.svec[i] - c.cvec[i])), 9) AS term
            FROM (SELECT * FROM sub WHERE item_id < 3) qs
            JOIN cw2 c ON c.s = qs.s
          ),
          score AS (
            SELECT lut.query_id, k.item_id,
              ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS adist
            FROM codes k JOIN lut ON lut.s = k.s AND lut.code = k.code
            GROUP BY lut.query_id, k.item_id
          )
          SELECT query_id, item_id, adist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adist, item_id) AS rank
            FROM score
          ) WHERE rank <= 10
        """,
        # WARC round-trip: the parse must be byte-faithful, so the oracle
        # rebuilds every field from the construction rule (HTTP block
        # measured by constructing the same string; body via md5)
        "src_warc_roundtrip": """
          SELECT doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY doc_id // 10 ORDER BY doc_id)
                 AS INT) - 1 AS rec_idx,
            'https://example.org/doc/' || doc_id AS target_uri,
            '2024-01-01T00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
              || 'Z' AS warc_date,
            200 AS http_status,
            CAST(octet_length(encode(
              'HTTP/1.1 200 OK' || chr(13) || chr(10)
              || 'Content-Type: text/plain' || chr(13) || chr(10)
              || 'Content-Length: ' || octet_length(encode(text))
              || chr(13) || chr(10) || chr(13) || chr(10) || text
            )) AS BIGINT) AS content_length,
            md5(text) AS body_md5
          FROM documents
        """,
        # WARC sink round-trip: rec_idx follows the sink's uri STRING sort
        "src_warc_sink": """
          SELECT doc_id,
            doc_id % 8 AS shard_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 8
                 ORDER BY 'https://example.org/doc/' || doc_id) AS INT) - 1
              AS rec_idx,
            md5(text) AS body_md5
          FROM documents
        """,
        # IVFADC unrolled: assignment = the semdedup oracle's raw-cosine
        # ROW_NUMBER rule; residuals are exact IEEE subtractions; encode
        # and LUT reuse the sim_pq_adc recipes over the residual space.
        "sim_ivfpq": """
          WITH base AS (
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
          ),
          c AS (SELECT vec_id AS cell, vec AS centv FROM base WHERE vec_id < 8),
          assign AS (
            SELECT vec_id, vec, cell FROM (
              SELECT b.vec_id, b.vec, c.cell,
                ROW_NUMBER() OVER (PARTITION BY b.vec_id
                  ORDER BY list_dot_product(b.vec, c.centv)
                        / (sqrt(list_dot_product(b.vec, b.vec))
                           * sqrt(list_dot_product(c.centv, c.centv))) DESC,
                    c.cell ASC) AS rn
              FROM base b CROSS JOIN c
            ) WHERE rn = 1
          ),
          res AS (
            SELECT a.vec_id AS item_id, a.cell,
                   list_transform(range(1, 65), i -> a.vec[i] - c.centv[i]) AS rvec
            FROM assign a JOIN c USING (cell)
          ),
          cw AS (
            SELECT s.s AS s, b.vec_id AS code,
                   list_transform(range(1, 9), i -> b.vec[s.s * 8 + i]) AS cvec
            FROM base b, generate_series(0, 7) s(s)
            WHERE b.vec_id < 16
          ),
          dist AS (
            SELECT item_id, res.cell, cw.s, cw.code,
              ROUND(list_dot_product(
                list_transform(range(1, 9), i -> rvec[cw.s * 8 + i] - cvec[i]),
                list_transform(range(1, 9), i -> rvec[cw.s * 8 + i] - cvec[i])), 6) AS d2
            FROM res CROSS JOIN cw
          ),
          codes AS (
            SELECT item_id, cell, s, code FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY item_id, s
                                           ORDER BY d2, code) AS rn
              FROM dist
            ) WHERE rn = 1
          ),
          probe AS (
            SELECT query_id, cell, vec FROM (
              SELECT q.vec_id AS query_id, c.cell, q.vec,
                ROW_NUMBER() OVER (PARTITION BY q.vec_id
                  ORDER BY list_dot_product(q.vec, c.centv)
                        / (sqrt(list_dot_product(q.vec, q.vec))
                           * sqrt(list_dot_product(c.centv, c.centv))) DESC,
                    c.cell ASC) AS pr
              FROM (SELECT * FROM base WHERE vec_id < 3) q CROSS JOIN c
            ) WHERE pr <= 2
          ),
          lut AS (
            SELECT p.query_id, p.cell, cw.s, cw.code,
              ROUND(list_dot_product(
                list_transform(range(1, 9), i -> (p.vec[cw.s * 8 + i] - c.centv[cw.s * 8 + i]) - cvec[i]),
                list_transform(range(1, 9), i -> (p.vec[cw.s * 8 + i] - c.centv[cw.s * 8 + i]) - cvec[i])), 9) AS term
            FROM probe p JOIN c USING (cell) CROSS JOIN cw
          ),
          score AS (
            SELECT l.query_id, k.item_id,
              ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS adist
            FROM codes k
            JOIN lut l ON l.cell = k.cell AND l.s = k.s AND l.code = k.code
            GROUP BY l.query_id, k.item_id
          )
          SELECT query_id, item_id, adist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adist, item_id) AS rank
            FROM score
          ) WHERE rank <= 10
        """,
        # same planted header/footer/subscribe-body construction as the
        # query; a line is boilerplate when its lower(trim) form appears in
        # >= 2 DISTINCT docs; survivors rejoin in original position order
        # (COALESCE(.., '') because DuckDB string_agg over all-NULL is NULL
        # while Spark array_join over the empty array is '')
        "dd_line_dedup": """
          WITH src AS (
            SELECT doc_id,
                   concat('Accept cookies to continue', chr(10),
                          CASE WHEN doc_id % 31 = 0
                               THEN 'Subscribe to our newsletter' ELSE text END,
                          chr(10),
                          CASE WHEN doc_id % 2 = 0 THEN 'Copyright Example Corp'
                               ELSE 'About | Contact | Privacy' END) AS text
            FROM documents
          ),
          occ AS (
            SELECT doc_id, pos, line, lower(trim(line)) AS key FROM (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
              FROM src
            ) WHERE lower(trim(line)) <> ''
          ),
          common AS (
            SELECT key FROM (
              SELECT key, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY key
            ) WHERE df >= 2
          )
          SELECT o.doc_id, COUNT(*) AS n_lines,
                 CAST(SUM(CASE WHEN c.key IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_removed,
                 COALESCE(string_agg(CASE WHEN c.key IS NULL THEN o.line END,
                                     chr(10) ORDER BY o.pos), '') AS text
          FROM occ o LEFT JOIN common c USING (key)
          GROUP BY o.doc_id
        """,
        # unigram+bigram bag, portable-hash64(seed 1) % 4096 buckets,
        # add-0.5 smoothing over the FIXED 4096-bucket space; per-bucket
        # log-ratios ROUND(9), per-doc sums DECIMAL(28,9) (repo float
        # recipe). Target corpus = doc_id % 17 == 0.
        "ts_dsir_weights": """
          WITH base AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS arr
            FROM documents
          ), nz AS (SELECT doc_id, arr FROM base WHERE len(arr) > 0),
          grams AS (
            SELECT doc_id, unnest(arr) AS gram FROM nz
            UNION ALL
            SELECT doc_id,
                   unnest(list_transform(range(1, len(arr)),
                                         i -> arr[i] || ' ' || arr[i + 1])) AS gram
            FROM nz
          ),
          occ AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(concat('1', '|', gram)), 1, 15))
                        AS BIGINT) % 4096 AS bucket
            FROM grams
          ),
          rawc AS (SELECT bucket, COUNT(*) AS nq FROM occ GROUP BY 1),
          tgtc AS (SELECT bucket, COUNT(*) AS np FROM occ
                   WHERE doc_id % 17 = 0 GROUP BY 1),
          tots AS (SELECT (SELECT SUM(nq) FROM rawc) AS nq_tot,
                          (SELECT SUM(np) FROM tgtc) AS np_tot),
          lr AS (
            SELECT bucket,
                   ROUND(ln((COALESCE(np, 0) + 0.5) / (np_tot + 0.5 * 4096))
                         - ln((nq + 0.5) / (nq_tot + 0.5 * 4096)), 9) AS lr
            FROM rawc LEFT JOIN tgtc USING (bucket) CROSS JOIN tots
          )
          SELECT o.doc_id, COUNT(*) AS n_grams,
                 ROUND(CAST(SUM(CAST(l.lr AS DECIMAL(28, 9))) AS DOUBLE), 6)
                   AS log_w
          FROM occ o JOIN lr l USING (bucket)
          GROUP BY 1
        """,
        # the oracle NEVER parses HTML: it rebuilds the host edges from the
        # page-construction rule alone (doc i on site i%20 links absolute to
        # site (7i+3)%20, scheme-relative to site (13i+5)%20, relative to
        # itself; mailto dropped; site19 pages emit no anchors), so the
        # Spark side's regexp link extraction must be exact
        "kg_host_graph": _HOST_EDGES_SQL + """
          SELECT src_host, dst_host, COUNT(*) AS n_links
          FROM edges GROUP BY 1, 2
        """,
        # distinct host edges -> two unrolled exact-sums PageRank
        # iterations (the kg_pagerank2 decimal recipe verbatim)
        "kg_host_rank": _HOST_EDGES_SQL + """,
          e AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM edges),
          verts AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
          nn AS (SELECT COUNT(*) AS n FROM verts),
          outdeg AS (SELECT src, COUNT(*) AS out FROM e GROUP BY src),
          r0 AS (SELECT v.id, 1.0 / nn.n AS rank FROM verts v CROSS JOIN nn),
          c1 AS (
            SELECT e.dst AS id,
                   CAST(SUM(CAST(r.rank / o.out AS DECIMAL(28, 12))) AS DOUBLE) AS inflow
            FROM r0 r JOIN outdeg o ON r.id = o.src JOIN e ON e.src = o.src
            GROUP BY e.dst
          ),
          d1 AS (
            SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(28, 12))) AS DOUBLE), 0.0) AS d
            FROM r0 r LEFT JOIN outdeg o ON r.id = o.src WHERE o.src IS NULL
          ),
          r1 AS (
            SELECT v.id,
                   (1.0 - 0.85) / nn.n
                     + 0.85 * (COALESCE(c.inflow, 0.0) + d1.d / nn.n) AS rank
            FROM verts v CROSS JOIN nn CROSS JOIN d1
            LEFT JOIN c1 c ON c.id = v.id
          ),
          c2 AS (
            SELECT e.dst AS id,
                   CAST(SUM(CAST(r.rank / o.out AS DECIMAL(28, 12))) AS DOUBLE) AS inflow
            FROM r1 r JOIN outdeg o ON r.id = o.src JOIN e ON e.src = o.src
            GROUP BY e.dst
          ),
          d2 AS (
            SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(28, 12))) AS DOUBLE), 0.0) AS d
            FROM r1 r LEFT JOIN outdeg o ON r.id = o.src WHERE o.src IS NULL
          ),
          r2 AS (
            SELECT v.id,
                   (1.0 - 0.85) / nn.n
                     + 0.85 * (COALESCE(c.inflow, 0.0) + d2.d / nn.n) AS rank
            FROM verts v CROSS JOIN nn CROSS JOIN d2
            LEFT JOIN c2 c ON c.id = v.id
          )
          SELECT id AS host, ROUND(ROUND(rank, 9), 6) AS rank FROM r2
        """,
        # construction-rule replay (never parses HTML): doc i's single
        # anchor names LEX[i % |LEX|], linking to site (3i+1)%20; the
        # name->id join is the reference's name2id multimap, so 'spark'
        # anchors fan out to both candidate ids
        "link_anchor_entities": f"""
          WITH lex(name, term_id) AS (VALUES {_lex_values()}),
          slots(i, name) AS (VALUES {
              ", ".join(f"({i}, '{n}')" for i, (n, _) in enumerate(LEX))
          }),
          d AS (
            SELECT CAST(doc_id % {len(LEX)} AS INT) AS li,
                   'site' || ((doc_id * 3 + 1) % 20) || '.example.org' AS dst_host
            FROM documents
          ),
          m AS (
            SELECT l.term_id, d.dst_host
            FROM d JOIN slots n ON n.i = d.li JOIN lex l ON l.name = n.name
          )
          SELECT term_id, dst_host, COUNT(*) AS n_links
          FROM m GROUP BY 1, 2
        """,
        # radius-2 harmonic centrality over the host edges: d=1 pairs are
        # the distinct non-self edges, d=2 pairs the 2-hop closures not
        # already at d=1; rank = Σ ROUND(1/d, 9) through DECIMAL(28,9);
        # unreached vertices rank 0
        "kg_host_harmonic": _HOST_EDGES_SQL + """,
          e AS (
            SELECT DISTINCT src_host AS u, dst_host AS v FROM edges
            WHERE src_host <> dst_host
          ),
          verts AS (SELECT u AS id FROM e UNION SELECT v FROM e),
          d2 AS (
            SELECT DISTINCT a.u, b.v
            FROM e a JOIN e b ON a.v = b.u
            WHERE a.u <> b.v
              AND NOT EXISTS (SELECT 1 FROM e x WHERE x.u = a.u AND x.v = b.v)
          ),
          pairs AS (
            SELECT u, v, 1 AS d FROM e
            UNION ALL SELECT u, v, 2 AS d FROM d2
          ),
          r AS (
            SELECT v, ROUND(CAST(SUM(CAST(ROUND(1.0 / d, 9) AS DECIMAL(28, 9)))
                                 AS DOUBLE), 6) AS rank
            FROM pairs GROUP BY v
          )
          SELECT verts.id AS host, COALESCE(r.rank, 0.0) AS rank
          FROM verts LEFT JOIN r ON r.v = verts.id
        """,
        # same augmented corpus as dd_semdedup; eval = vec_id < 50; each
        # pairwise cosine ROUND(6) BEFORE the per-item max (the module's
        # ANN recipe), so the flag replays value-exactly
        "dd_semantic_decontam": """
          WITH base AS (
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
          ),
          v AS (
            SELECT vec_id, vec FROM base
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_prepend(vec[1] * 1.2, vec[2:]) AS vec
            FROM base WHERE vec_id < 50
          ),
          ev AS (SELECT vec FROM v WHERE vec_id < 50),
          sims AS (
            SELECT a.vec_id,
                   ROUND(list_dot_product(a.vec, e.vec)
                         / (sqrt(list_dot_product(a.vec, a.vec))
                            * sqrt(list_dot_product(e.vec, e.vec))), 6) AS c
            FROM v a CROSS JOIN ev e
          )
          SELECT vec_id, MAX(c) AS max_sim, MAX(c) >= 0.95 AS contaminated
          FROM sims GROUP BY 1
        """,
        # closed-form aHash of the bar construction: strict-above-mean
        # bits are exactly the bar columns for 0 < w < 8; flat images
        # (w in {0, 8}) hash to 0. 72340172838076673 = 0x0101010101010101
        # (one bit per row at the same column).
        "mm_image_ahash": """
          SELECT doc_id AS media_id,
                 CASE WHEN doc_id % 9 = 0 OR doc_id % 9 = 8 THEN 0
                      ELSE ((1::BIGINT << (doc_id % 9)) - 1)
                           * 72340172838076673 END AS ahash
          FROM documents
        """,
        # brute-force all-pairs Hamming scan — the banded plan's pigeonhole
        # guarantee (d=8 < 16 bands) says the outputs must be identical
        "dd_image_ahash_pairs": """
          WITH h AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 9 = 0 OR doc_id % 9 = 8 THEN 0
                        ELSE ((1::BIGINT << (doc_id % 9)) - 1)
                             * 72340172838076673 END AS ahash
            FROM documents
          )
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
          FROM h a JOIN h b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.ahash, b.ahash)) <= 8
        """,
    }


_QUALITY_SQL = """
  SELECT doc_id,
    length(text) AS n_chars,
    len(toks) AS n_tokens,
    ROUND(CASE WHEN len(toks) > 0 THEN CAST(length(text) AS DOUBLE) / len(toks) ELSE 0.0 END, 6) AS mean_token_len,
    ROUND(CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS punct_ratio,
    ROUND(CASE WHEN len(toks) > 0 THEN CAST(n_stop AS DOUBLE) / len(toks) ELSE 0.0 END, 6) AS stopword_ratio,
    ROUND(
      least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
      + CASE WHEN len(toks) > 0 AND CAST(length(text) AS DOUBLE) / len(toks) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
      + least((CASE WHEN len(toks) > 0 THEN CAST(n_stop AS DOUBLE) / len(toks) ELSE 0.0 END) * 5.0, 1.0) * 0.2
      + CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) <= 0.1 THEN 0.1 ELSE 0.0 END
    , 6) AS quality
  FROM (
    SELECT doc_id, text,
      list_filter(string_split(text, ' '), t -> t <> '') AS toks,
      len(list_filter(string_split(text, ' '),
          t -> t <> '' AND list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS n_stop
    FROM documents
  )
"""

_LANG_PROFILE_SQL = {
    "de": "['der','die','das','und','ist','nicht','ein','mit','für','auf']",
    "en": "['the','and','of','to','a','in','is','it','that','for']",
    "es": "['el','la','los','y','es','un','una','para','en','que']",
    "fr": "['le','la','les','et','est','un','une','pour','dans','que']",
}

_LANG_ID_SQL = f"""
  SELECT doc_id,
    CASE WHEN best <= 0 THEN 'und'
         WHEN h_de = best THEN 'de'
         WHEN h_en = best THEN 'en'
         WHEN h_es = best THEN 'es'
         WHEN h_fr = best THEN 'fr'
    END AS pred_lang,
    CAST(best AS BIGINT) AS lang_score
  FROM (
    SELECT doc_id, h_de, h_en, h_es, h_fr,
           greatest(h_de, h_en, h_es, h_fr) AS best
    FROM (
      SELECT doc_id,
        len(list_filter(toks, t -> list_contains({_LANG_PROFILE_SQL['de']}, t))) AS h_de,
        len(list_filter(toks, t -> list_contains({_LANG_PROFILE_SQL['en']}, t))) AS h_en,
        len(list_filter(toks, t -> list_contains({_LANG_PROFILE_SQL['es']}, t))) AS h_es,
        len(list_filter(toks, t -> list_contains({_LANG_PROFILE_SQL['fr']}, t))) AS h_fr
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
      )
    )
  )
"""

_SIMHASH_SQL = """
  WITH toks AS (
    SELECT DISTINCT doc_id, tok FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ) WHERE tok <> ''
  ),
  hashed AS (
    SELECT doc_id,
      CAST(concat('0x', substr(md5(concat('0', '|', tok)), 1, 15)) AS BIGINT) AS h
    FROM toks
  ),
  votes AS (
    SELECT doc_id, CAST(bit AS INT) AS bit,
           CAST(SUM(((h >> CAST(bit AS INT)) & 1) * 2 - 1) AS BIGINT) AS v
    FROM hashed CROSS JOIN range(60) AS t(bit)
    GROUP BY doc_id, bit
  )
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
"""

_REPETITION_SQL = """
  WITH g AS (
    SELECT doc_id, grams FROM (
      SELECT doc_id,
        list_filter(
          [array_to_string(toks[i : i + 1], ' ')
           FOR i IN range(1, greatest(len(toks) - 1, 0) + 1)],
          x -> len(string_split(x, ' ')) = 2
        ) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
  )
  SELECT doc_id,
    len(grams) AS n_ngrams,
    len(list_distinct(grams)) AS n_distinct,
    ROUND(CASE WHEN len(grams) > 0
          THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
          ELSE 0.0 END, 6) AS dup_frac
  FROM g
"""

# the keep/drop endgame: compose the quality / repetition / lang-id oracle
# bodies and apply the rules on the ROUND(6) values (same arithmetic as the
# Spark side, so a last-ulp difference cannot flip keep)
_KEEP_SQL = f"""
  WITH q AS ({_QUALITY_SQL}),
  r AS ({_REPETITION_SQL}),
  l AS ({_LANG_ID_SQL}),
  j AS (
    SELECT q.doc_id, q.n_tokens, q.quality, r.dup_frac, l.pred_lang
    FROM q JOIN r ON r.doc_id = q.doc_id JOIN l ON l.doc_id = q.doc_id
  )
  SELECT doc_id, n_tokens, quality, dup_frac, pred_lang,
    CASE WHEN reasons = '' THEN 1 ELSE 0 END AS keep, reasons
  FROM (
    SELECT *, concat_ws(',',
      CASE WHEN n_tokens < 20 THEN 'short' END,
      CASE WHEN dup_frac > 0.3 THEN 'repetitive' END,
      CASE WHEN quality < 0.5 THEN 'low_quality' END,
      CASE WHEN pred_lang NOT IN ('de', 'en', 'es', 'fr') THEN 'lang' END
    ) AS reasons FROM j
  )
"""
