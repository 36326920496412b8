"""Text analysis operators for training-data pipelines.

All native Column algebra (oracle-checkable in DuckDB, zero Python):

- token_count: whitespace tokens + a BPE-ish sub-token estimate.
- quality_score: length / punctuation / stopword-ratio heuristics.
- lang_id: stopword-overlap n-gram heuristic over a small built-in
  profile per language (deterministic; not a model).
- doc_fingerprint: order-sensitive rolling hash of the token stream
  (position-salted portable hashes combined with bitwise XOR — unlike the
  unordered minhash, permuted texts get different fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import draw, ngrams, portable_hash64, tokens

# tiny deterministic stopword profiles (heuristic language ID)
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "para", "en", "que"),
}


def token_count(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_subtokens): whitespace tokens plus a BPE-ish
    estimate = ceil(chars/4) per token summed (the usual ~4 chars/token
    rule of thumb), both as pure column math."""
    nonempty = tokens(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(nonempty).alias("n_tokens"),
        F.aggregate(
            nonempty,
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("long"),
        ).alias("n_subtokens"),
    )


def _stop_hits(toks: Column, lang: str) -> Column:
    """How many of the tokens are in ``lang``'s stopword profile."""
    prof = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(prof, t)))


def _quality(text: Column, toks: Column) -> tuple[Column, ...]:
    """(n_chars, n_tokens, mean_len, punct_ratio, stop_ratio, quality), all
    unrounded: the signals behind ``quality_score`` and ``keep_filter``."""
    n_tok = F.size(toks)
    n_chars = F.length(text)
    mean_len = F.when(n_tok > 0, n_chars.cast("double") / n_tok).otherwise(F.lit(0.0))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    n_stop = _stop_hits(toks, "en")
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(F.lit(0.0))
    quality = (
        F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + F.when((mean_len >= 3.0) & (mean_len <= 10.0), 0.3).otherwise(0.0)
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2
        + F.when(punct_ratio <= 0.1, 0.1).otherwise(0.0)
    )
    return n_chars, n_tok, mean_len, punct_ratio, stop_ratio, quality


def _pred_lang(toks: Column) -> tuple[Column, Column]:
    """(pred_lang, best hit count): argmax of the per-language stopword
    hits, 'und' when none hits, ties to the alphabetically first language
    — the same CASE order as the oracle."""
    langs = sorted(LANG_PROFILES)
    hit_cols = {lang: _stop_hits(toks, lang) for lang in langs}
    best = F.greatest(*hit_cols.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(hit_cols[lang] == best, F.lit(lang))
    return pred, best


def _dup_frac(text: Column, n: int) -> tuple[Column, Column, Column]:
    """(n_ngrams, n_distinct, ROUND(dup_frac, 6)) over the doc's word
    n-grams: dup_frac = 1 - distinct/total, 0 for a doc with no n-gram."""
    grams = ngrams(text, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    dup_frac = F.round(
        F.when(total > 0, 1.0 - distinct.cast("double") / total).otherwise(0.0), 6
    )
    return total, distinct, dup_frac


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_tokens, mean_token_len, punct_ratio,
    stopword_ratio, quality): heuristic in [0,1] — longer docs with
    plausible token lengths and some stopwords score higher. Deterministic
    column math; thresholds are engineering choices, not learned."""
    n_chars, n_tok, mean_len, punct_ratio, stop_ratio, quality = _quality(
        F.col(text_col), tokens(F.col(text_col))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, lang_score): argmax over per-language stopword
    hit counts; 'und' (undetermined) when no profile hits. Deterministic
    tie-break by language code order."""
    pred, best = _pred_lang(tokens(F.col(text_col)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        pred.alias("pred_lang"),
        best.cast("long").alias("lang_score"),
    )


def doc_fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint): order-sensitive 60-bit rolling fingerprint.

    fingerprint = XOR over tokens of hash(position || token) — permutation
    of tokens changes the fingerprint (unlike bag-of-words hashes). Pure
    fold via ``aggregate``; bit-identical in DuckDB via list_reduce.
    """
    toks = tokens(F.col(text_col))
    indexed = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
        lambda t, i: F.concat(i.cast("string"), F.lit("@"), t),
    )
    fp = F.aggregate(
        indexed,
        F.lit(0).cast("long"),
        lambda acc, s: acc.bitwiseXOR(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        ),
    )
    return docs.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style repetition signal: per doc, the fraction of word
    n-grams that are repeats (1 - distinct/total). High dup_frac marks
    degenerate or boilerplate-heavy documents — a standard pre-training
    quality filter.

    Pure Column algebra, narrow plan (no shuffle before the final project):
    the n-gram array is built once via sequence+transform and the distinct
    count via array_distinct — nothing explodes to rows.
    """
    total, distinct, dup_frac = _dup_frac(F.col(text_col), n)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        total.alias("n_ngrams"),
        distinct.alias("n_distinct"),
        dup_frac.alias("dup_frac"),
    )


def top_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide boilerplate detection: the k most document-frequent word
    n-grams (ngram, df, total_occurrences). The df ranking is what a
    dedup/cleaning pipeline feeds back as a strip-list (cf. the
    max_shingle_df drop in ngram_jaccard_pairs).

    Plan: explode -> two-level aggregate (per-doc distinct handled by the
    groupBy(doc, ngram) partial) -> global top-k. The explode inflates rows
    by ~tokens/doc, but the first groupBy combines map-side, so the shuffle
    carries (doc, ngram) distinct pairs, not raw occurrences. The top-k is
    orderBy+limit (TakeOrderedAndProject — per-partition heaps, never a
    single-task global window over the full ngram cardinality); the rank
    window then runs over just k rows.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ngrams(F.col(text_col), n)).alias("ngram"),
    )
    per_doc = sh.groupBy("doc_id", "ngram").agg(F.count("*").alias("occ"))
    agg = per_doc.groupBy("ngram").agg(
        F.count("*").alias("df"),
        F.sum("occ").alias("total_occ"),
    )
    from pyspark.sql import Window

    topk = agg.orderBy(F.desc("df"), F.desc("total_occ"), F.asc("ngram")).limit(k)
    w = Window.orderBy(F.desc("df"), F.desc("total_occ"), F.asc("ngram"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("ngram", "df", "total_occ", "rank")
    )


# PII redaction (training-data hygiene): patterns chosen to mean the same
# thing in Java regex (Spark) and RE2 (DuckDB) — char classes, bounded
# quantifiers, \b and \d only; no alternation/backreference where the
# dialects could diverge. Replacement order is part of the contract
# (applied top to bottom).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b", "<PHONE>"),
]


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, redacted, n_email, n_ipv4, n_phone): emails / IPv4 literals /
    phone-shaped numbers replaced by typed placeholder tokens, with per-doc
    match counts. Pure Column algebra (regexp_count + chained
    regexp_replace) — narrow, zero shuffle, whole-stage-codegen'd; exactly
    the shape a 100 TB pre-training scrub pass wants (runs inside the scan
    projection, no extra stage). Counts are taken BEFORE redaction so a
    phone inside an email would never double-count after substitution."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = F.col(text_col)
    for _name, pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    return docs.select(
        F.col(id_col).alias("doc_id"), red.alias("redacted"), *counts
    )


def build_vocab(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 1000
) -> DataFrame:
    """Frequency vocabulary: the k most frequent tokens as (token, token_id,
    n) with token_id = 1-based frequency rank (ties broken by token text;
    id 0 is reserved for OOV). The tokenizer-table half of a training-data
    pipeline.

    Plan: explode -> groupBy(token) with map-side combine (shuffle carries
    distinct tokens, not occurrences) -> orderBy+limit
    (TakeOrderedAndProject per-partition heaps, never a global window over
    the full vocabulary) -> rank window over the k survivors only."""
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    topk = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return topk.withColumn("token_id", F.row_number().over(w)).select(
        "token", "token_id", "n"
    )


def encode_docs(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, ids): the document as its token-id sequence (text order,
    OOV -> 0), ids emitted as a comma-joined string so cross-engine value
    hashing is order-exact. The encode half of tokenization-to-ids.

    Plan: posexplode -> ONE broadcast join against the (small) vocab ->
    re-assemble per doc via sort_array over (pos, id) structs — order
    restored deterministically after the shuffle, no window needed."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"),
    ).filter(F.col("token") != "")
    joined = toks.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        F.coalesce(F.col("token_id"), F.lit(0)).alias("tid"),
                    )
                )
            ).alias("seq")
        )
        .select(
            "doc_id",
            F.concat_ws(
                ",", F.transform(F.col("seq"), lambda s: s["tid"].cast("string"))
            ).alias("ids"),
        )
    )


def _two_phase_offsets(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """Global running-sum bounds of ``weight_col`` under ORDER BY
    ``order_cols`` WITHOUT a single-task sort — the shared two-phase
    zipWithIndex scheme (pack_sequences / shuffle_order / shard_manifest):
    range-partition on the order columns, persist the ranged stage
    (repartitionByRange samples boundaries PER EXECUTION — the offsets job
    and the main job must read the SAME partitioning), collect the tiny
    P-row per-partition totals, broadcast the prefix offsets back, and
    cumsum WITHIN each partition. Returns the input columns plus
    (_start, _end) exclusive-prefix / inclusive bounds; output depends
    only on the order columns, never on the partition count."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(p, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = {
        r["_pid"]: r["s"]
        for r in ranged.groupBy("_pid").agg(F.sum(weight_col).alias("s")).collect()
    }
    offs, acc = [], 0
    for pid in sorted(totals):
        offs.append((pid, acc))
        acc += int(totals[pid])
    off_df = spark.createDataFrame(offs or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn("_end", F.col("_off") + F.sum(weight_col).over(w))
        .withColumn("_start", F.col("_end") - F.col(weight_col))
        .drop("_pid", "_off")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the step that turns a cleaned
    corpus into fixed-length training sequences: documents are laid end to
    end in doc-id order and cut every ``seq_len`` tokens. Returns one row
    per chunk: (chunk_id, n_docs, n_tokens) — how many documents touch the
    chunk and how many tokens it holds (== seq_len everywhere except the
    tail), i.e. the packing manifest a loader materializes from.

    The global running offset comes from ``_two_phase_offsets`` (the shared
    zipWithIndex scheme — range partition + persisted ranged stage + tiny
    P-row collect + broadcast prefix offsets + within-partition cumsum;
    at production scale the ranged stage is a checkpoint). Output is
    independent of the partition count — only the doc-id order defines
    the packing.
    """
    n_tok = F.size(tokens(F.col(text_col)))
    d = (
        docs.select(F.col(id_col).alias("doc_id"), n_tok.alias("n_tok"))
        .filter(F.col("n_tok") > 0)
    )
    spans = _two_phase_offsets(d, ["doc_id"], "n_tok", partitions)
    ch = spans.select(
        "_start",
        "_end",
        F.explode(
            F.sequence(
                F.floor(F.col("_start") / seq_len),
                F.floor((F.col("_end") - 1) / seq_len),
            )
        ).alias("chunk_id"),
    )
    return ch.groupBy("chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.least(F.col("_end"), (F.col("chunk_id") + 1) * seq_len)
            - F.greatest(F.col("_start"), F.col("chunk_id") * seq_len)
        ).alias("n_tokens"),
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 42,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the domain/language mixing
    step of a training-data pipeline: keep a document iff its hash bucket
    falls under its stratum's rate. (doc_id, stratum, bucket) for kept rows.

    The keep decision is a pure function of (seed, doc id): bucket =
    portable_hash64(seed || doc_id) mod 1e6 < rate * 1e6 — reproducible
    across runs/engines (same md5 arithmetic as the dedup operators, so the
    DuckDB oracle recomputes it verbatim), no RNG state, no sampleBy
    (whose Bernoulli draw is partitioning-dependent). Narrow: a broadcast
    rate lookup + a filter; no shuffle at any scale."""
    bucket = draw(F.col(id_col), seed)
    entries = [(k, int(round(v * 1_000_000))) for k, v in sorted(rates.items())]
    spark = docs.sparkSession
    rate_df = spark.createDataFrame(
        entries or [("__none__", 0)], f"{strata_col} string, _keep_lt long"
    )
    return (
        docs.join(F.broadcast(rate_df), strata_col, "left")
        .withColumn("_bucket", bucket)
        .filter(
            F.col("_bucket")
            < F.coalesce(F.col("_keep_lt"), F.lit(int(round(default_rate * 1_000_000))))
        )
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(strata_col).alias("stratum"),
            F.col("_bucket").alias("bucket"),
        )
    )


def keep_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_dup_frac: float = 0.3,
    min_quality: float = 0.5,
    allowed_langs: tuple[str, ...] = ("de", "en", "es", "fr"),
) -> DataFrame:
    """The keep/drop endgame of a C4/Gopher-style cleaning pipeline: every
    rule evaluated per document in ONE narrow select — (doc_id, n_tokens,
    quality, dup_frac, pred_lang, keep, reasons), where ``reasons`` is the
    comma-joined list of failed rules (deterministic order: short,
    repetitive, low_quality, lang) and keep = 1 iff none failed.

    The signals are the column builders behind ``quality_score`` /
    ``repetition_stats`` (n=2) / ``lang_id``, selected side by side, so at
    100 TB the keep decision costs one scan with zero shuffles and zero
    joins — not three derived tables joined on doc_id. Rule comparisons
    use the ROUND(6) values, matching the oracle's arithmetic exactly (a
    last-ulp quality difference must not flip keep).
    """
    toks = tokens(F.col(text_col))
    _, n_tok, _, _, _, quality = _quality(F.col(text_col), toks)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tokens"),
        F.round(quality, 6).alias("quality"),
        _dup_frac(F.col(text_col), 2)[2].alias("dup_frac"),
        _pred_lang(toks)[0].alias("pred_lang"),
    )
    conds = [
        ("short", F.col("n_tokens") < min_tokens),
        ("repetitive", F.col("dup_frac") > max_dup_frac),
        ("low_quality", F.col("quality") < min_quality),
        ("lang", ~F.col("pred_lang").isin(*allowed_langs)),
    ]
    reasons = F.concat_ws(",", *[F.when(c, F.lit(nm)) for nm, c in conds])
    return base.select(
        "doc_id",
        "n_tokens",
        "quality",
        "dup_frac",
        "pred_lang",
        F.when(reasons == "", 1).otherwise(0).cast("int").alias("keep"),
        reasons.alias("reasons"),
    )


def source_stats(
    docs: DataFrame,
    keep: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source corpus health report over a ``keep_filter`` result:
    (source, n_docs, n_kept, sum_quality) — the dashboard a pipeline
    operator reads to see which crawl sources are worth fetching.
    sum_quality goes through DECIMAL(28,6) (the cross-engine float-sum
    recipe); one broadcast-free groupBy on the source key."""
    j = docs.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")).join(
        keep.select("doc_id", "quality", "keep"), "doc_id"
    )
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.round(
            F.sum(F.col("quality").cast("decimal(28,6)")).cast("double"), 6
        ).alias("sum_quality"),
    )


def _mean_nll(nll: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, logppl) from per-token (doc_id, nll) rows, nll
    already ROUND(9): decimal-sum (order-independent) -> double -> divide
    -> ROUND(6), the same operation order as the oracles, so the hash
    cannot drift on decimal-division scale rules."""
    return nll.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.sum(F.col("nll").cast("decimal(28,9)")).cast("double") / F.count("*"),
            6,
        ).alias("logppl"),
    )


def unigram_logppl(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style perplexity quality signal with the LM replaced by the
    corpus's own unigram distribution: (doc_id, n_tokens, logppl) where
    logppl = mean over tokens of -ln p(token), p estimated from corpus
    counts with add-``alpha`` smoothing over the observed vocabulary.
    Deterministic (no trained artifact) yet ranks documents the way a
    perplexity filter does: common-word prose scores low, rare-token noise
    scores high — the standard "middle band keeps" signal.

    Plan: one explode -> token-count aggregate (map-side combine) -> ONE
    1-row total cross-joined -> join token logprobs back to occurrences ->
    per-doc mean. The logprob table is vocabulary-sized; at web scale the
    occurrence-side join keys on token (same well-distributed key as every
    shingle join). ln() stays positive-argument by construction; the
    per-doc mean goes through ROUND(SUM(ROUND(term,9)) via DECIMAL, 6)
    so the oracle's summation order can't drift the hash.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    totals = counts.agg(
        F.sum("n").alias("total"), F.count("*").alias("vocab")
    )
    logp = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            -F.log(
                (F.col("n") + F.lit(alpha))
                / (F.col("total") + F.lit(alpha) * F.col("vocab"))
            ),
            9,
        ).alias("nll"),
    )
    return _mean_nll(toks.join(logp, "token"))


def bigram_logppl(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated-bigram perplexity quality signal — the CCNet-style
    filter one order up from ``unigram_logppl``: per document, the mean
    negative log of p(w_i | w_{i-1}) = λ·p2 + (1−λ)·p1, where p2 is the
    add-α bigram model (context counts over observed adjacencies,
    smoothed over the unigram vocabulary) and p1 the add-α unigram model
    (the first token of every doc backs off to p1 alone). Catches the
    word-soup failure mode unigram ppl cannot: a document of common words
    in implausible ORDER scores high here and low there.

    Output (doc_id, n_tokens, logppl), deterministic — both "models" are
    the corpus's own counts, no trained artifact. Plan: bigram pairs are
    built ARRAY-side (transform over the token array — narrow, no
    self-join on position), counted with map-side partial aggs on the
    (v,w) key; probability tables are vocabulary-/bigram-vocabulary-sized
    and join back on the same well-distributed token keys as every
    shingle join; per-doc mean via the DECIMAL(28,9) sum recipe. At
    100 TB the bigram table is the one sized artifact (≈|V|² worst case,
    in practice Heaps-law sublinear); it joins on its own key and never
    sits in driver memory.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("arr")
    ).filter(
        F.size("arr") > 0
    )
    toks = base.select("doc_id", F.posexplode("arr").alias("pos", "token"))
    uni = toks.groupBy("token").agg(F.count("*").alias("n1"))
    tot = uni.agg(F.sum("n1").alias("total"), F.count("*").alias("vocab"))
    p1 = uni.crossJoin(F.broadcast(tot)).select(
        "token",
        (
            (F.col("n1") + F.lit(alpha))
            / (F.col("total") + F.lit(alpha) * F.col("vocab"))
        ).alias("p1"),
    )
    pairs = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.slice(F.col("arr"), 1, F.size("arr") - 1),
                lambda v, i: F.struct(
                    v.alias("v"), F.col("arr")[i + 1].alias("w")
                ),
            )
        ).alias("pos", "pr"),
    ).select("doc_id", "pos", F.col("pr.v").alias("v"), F.col("pr.w").alias("w"))
    big = pairs.groupBy("v", "w").agg(F.count("*").alias("n2"))
    ctx = big.groupBy("v").agg(F.sum("n2").alias("nc"))
    p2 = (
        big.join(ctx, "v")
        .crossJoin(F.broadcast(tot))
        .select(
            "v",
            "w",
            (
                (F.col("n2") + F.lit(alpha))
                / (F.col("nc") + F.lit(alpha) * F.col("vocab"))
            ).alias("p2"),
        )
    )
    first_nll = (
        toks.filter(F.col("pos") == 0)
        .join(p1, "token")
        .select("doc_id", F.round(-F.log(F.col("p1")), 9).alias("nll"))
    )
    rest_nll = (
        pairs.join(p2, ["v", "w"])
        .join(p1.withColumnRenamed("token", "w"), "w")
        .select(
            "doc_id",
            F.round(
                -F.log(
                    F.lit(lam) * F.col("p2") + F.lit(1.0 - lam) * F.col("p1")
                ),
                9,
            ).alias("nll"),
        )
    )
    return _mean_nll(first_nll.unionByName(rest_nll))


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 17,
) -> DataFrame:
    """Per-source token-budget subsampling — the data-mixing step that caps
    each source's contribution to a training mix: within every source,
    documents are taken in a deterministic pseudo-random order (the md5
    bucket of the doc id — reshuffling the corpus cannot change the
    selection) until the NEXT document would exceed ``budget_tokens``;
    (doc_id, source, n_tokens, cum_tokens) for the selected docs.

    The greedy prefix is exact, not approximate: a per-source window cumsum
    over the hash order, filter cum <= budget. One shuffle on the source
    key; a source's rows sort within its own partitions (the window is
    per-source, so no global ordering bottleneck — skewed sources bound by
    their own row count). A doc larger than the remaining budget blocks
    the prefix there (standard greedy-prefix semantics: budget is a hard
    cap, not a target)."""
    from pyspark.sql import Window

    n_tok = F.size(tokens(F.col(text_col)))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("source"),
        n_tok.alias("n_tokens"),
        portable_hash64(F.col(id_col).cast("string"), seed).alias("_h"),
    )
    w = Window.partitionBy("source").orderBy("_h", "doc_id")
    return (
        base.withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def temperature_mix(
    docs: DataFrame,
    target_tokens: int,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 23,
) -> DataFrame:
    """Temperature-based source mixing — the α-sampling rule of
    multilingual / multi-source LLM training mixes (mT5/XLM-R style):
    a source with T_s tokens gets weight w_s = T_s^α / Σ_t T_t^α, so its
    token share of a ``target_tokens`` mix is w_s·target and its document
    keep-rate is rate_s = min(1, w_s·target / T_s). α < 1 upsamples the
    tail sources relative to proportional sampling (α=1) without the hard
    cliff of a per-source cap (``token_budget_sample``). Rows kept:
    (doc_id, source, n_tokens, rate).

    The keep decision reuses ``stratified_sample``'s pure-function rule —
    md5 bucket of the doc id under ``seed`` < rate·1e6 — so the selection
    is reproducible across engines and partitionings. Every float on the
    path is cross-engine exact: T_s is an integer SUM; T_s^0.5 is IEEE
    sqrt (correctly rounded in both engines — the reason α defaults to
    0.5; arbitrary α goes through pow(), whose last ulp is libm-specific,
    fine for production, not for a value-hash oracle) rounded to 9; the
    weight total is a DECIMAL(28,9) sum (order-independent); the rate is
    one double mul/div chain (IEEE-deterministic) rounded to 6.

    Plan shape at 100 TB: one scan → per-source token totals (map-side
    partial agg on the low-cardinality source key), a sources-sized rate
    table broadcast back, one narrow filter. No wide shuffle anywhere —
    the only exchange carries |sources| rows.
    """
    n_tok = F.size(tokens(F.col(text_col)))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        n_tok.alias("n_tokens"),
        draw(F.col(id_col), seed).alias("_bucket"),
    )
    totals = (
        base.groupBy("source")
        .agg(F.sum("n_tokens").alias("src_tokens"))
        .filter(F.col("src_tokens") > 0)
    )
    if alpha == 0.5:
        w_expr = F.sqrt(F.col("src_tokens").cast("double"))
    elif alpha == 1.0:
        w_expr = F.col("src_tokens").cast("double")
    else:
        w_expr = F.pow(F.col("src_tokens").cast("double"), F.lit(float(alpha)))
    weights = totals.select(
        "source", "src_tokens", F.round(w_expr, 9).alias("w")
    )
    wsum = weights.agg(
        F.sum(F.col("w").cast("decimal(28,9)")).cast("double").alias("wsum")
    )
    rates = weights.crossJoin(F.broadcast(wsum)).select(
        "source",
        F.round(
            F.least(
                F.lit(1.0),
                F.col("w")
                * F.lit(float(target_tokens))
                / (F.col("src_tokens").cast("double") * F.col("wsum")),
            ),
            6,
        ).alias("rate"),
    )
    return (
        base.join(F.broadcast(rates), "source")
        .filter(
            F.col("_bucket")
            < F.round(F.col("rate") * 1_000_000, 0).cast("long")
        )
        .select("doc_id", "source", "n_tokens", "rate")
    )


def dataset_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: int = 31,
) -> DataFrame:
    """Deterministic train/validation/test assignment: (doc_id, split,
    bucket). A document's split is a pure function of (seed, id) — the
    md5 bucket against CUMULATIVE integer thresholds — so the partition
    is stable across runs, engines, repartitionings and corpus growth
    (a doc keeps its split when neighbors are added/removed, unlike any
    count-based or RNG split; the property leakage audits depend on).
    Splits are assigned in sorted-name order of ``weights`` (default
    test 5% / train 90% / val 5%), thresholds = round(cum·1e6).

    Narrow: zero shuffles, zero joins — one hash + a CASE chain; the
    100 TB cost is the scan itself."""
    ws = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    names = sorted(ws)
    cum, bounds = 0.0, []
    for n in names:
        cum += float(ws[n])
        bounds.append((n, int(round(cum * 1_000_000))))
    if abs(cum - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {cum}")
    bucket = draw(F.col(id_col), seed)
    expr = None
    for n, b in bounds:
        cond = bucket < F.lit(b)
        expr = F.when(cond, F.lit(n)) if expr is None else expr.when(cond, F.lit(n))
    # bucket == 999999 with float-rounded bounds: last named split wins
    expr = expr.otherwise(F.lit(bounds[-1][0]))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        expr.alias("split"),
        bucket.alias("bucket"),
    )


def length_quantiles(
    docs: DataFrame,
    probs: tuple = (0.25, 0.5, 0.9, 0.99),
    group_col: str = "source",
    text_col: str = "text",
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-source token-length distribution quantiles: (source, n_docs,
    p25, p50, ...) — the corpus-shape report that sets sequence-length /
    truncation budgets and flags degenerate sources (a crawl feed whose p99
    collapses to a boilerplate length) before training-mix decisions.

    Two modes with one contract (exact anchor + sketch scale path):

    - ``exact=True``: ``percentile`` — buffers every group's values in the
      aggregation state, so it is the small-scale correctness anchor and
      the oracle-parity mode (linear interpolation matches DuckDB's
      ``quantile_cont`` value-exactly; parity-tested at sf0.01).
    - ``exact=False`` (default): ``percentile_approx`` — the
      Greenwald-Khanna sketch is MERGEABLE with bounded state
      (O(accuracy) per group, not O(rows)), so map-side partial
      aggregation holds and the plan survives 100 TB groups; rank error
      <= 1/accuracy of the group size.

    One groupBy on the source key (tens of sources — tiny result); the
    token count is the same split-on-space/non-empty expression as
    ``token_count``, computed scan-side so only (source, n_tokens) ever
    shuffles. Quantiles are ROUND(x, 6) per the cross-engine float rule.
    """
    n_tok = F.size(tokens(F.col(text_col)))
    base = docs.select(F.col(group_col).alias("source"), n_tok.alias("n_tokens"))

    def q(p: float):
        fn = (
            f"percentile(n_tokens, {p})"
            if exact
            else f"percentile_approx(n_tokens, {p}, {accuracy})"
        )
        return F.round(F.expr(fn).cast("double"), 6).alias(f"p{round(p * 100)}")

    return base.groupBy("source").agg(
        F.count("*").alias("n_docs"), *[q(p) for p in probs]
    )


def shuffle_order(
    docs: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic global training order — the epoch-shuffle manifest:
    (doc_id, shuffle_key, order_idx) where order_idx is the 0-based global
    rank under ORDER BY (shuffle_key, doc_id) and shuffle_key =
    portable_hash64(seed || doc_id). A loader streams the corpus in
    order_idx order and gets a reproducible uniform shuffle; a new seed is
    a new epoch permutation. Pure function of (seed, id): no RNG state, no
    partitioning dependence, identical across engines (the DuckDB oracle
    recomputes the hash and a ROW_NUMBER verbatim).

    The global rank is computed WITHOUT a single-task sort (the naive
    ``Window.orderBy(key)`` collapses 100 TB onto one core): the shared
    ``_two_phase_offsets`` scheme over (shuffle_key, doc_id) — md5-uniform
    keys, so ranges balance by construction — with unit weights, so the
    exclusive prefix sum IS the 0-based rank."""
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        portable_hash64(F.col(id_col).cast("string"), seed).alias("shuffle_key"),
        F.lit(1).cast("long").alias("_one"),
    )
    return _two_phase_offsets(
        d, ["shuffle_key", "doc_id"], "_one", partitions
    ).select("doc_id", "shuffle_key", F.col("_start").alias("order_idx"))


def shard_manifest(
    docs: DataFrame,
    tokens_per_shard: int = 100_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """Training-shard assignment — the manifest a writer materializes
    output files from: (doc_id, shard_id, start_offset, n_tok) where
    documents are laid out in the deterministic epoch-shuffle order
    (md5(seed|id), id) and shard_id = floor(start_offset /
    tokens_per_shard) — the greedy whole-doc sharding (every doc lands
    wholly in one shard; shard sizes vary around the target by at most
    one document, the standard WebDataset/tar-shard layout). Composes the
    epoch shuffle with pack_sequences' offset machinery: reshuffling the
    corpus cannot change the manifest, a new seed re-deals the shards.

    Plan: ONE ``_two_phase_offsets`` pass over (md5-uniform key, id) with
    token-count weights — range Exchange + P-row collect + broadcast
    offsets; no single-task sort, no join. Docs with zero tokens are
    excluded (they have no bytes to shard)."""
    n_tok = F.size(tokens(F.col(text_col)))
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        portable_hash64(F.col(id_col).cast("string"), seed).alias("shuffle_key"),
        n_tok.alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    return _two_phase_offsets(
        d, ["shuffle_key", "doc_id"], "n_tok", partitions
    ).select(
        "doc_id",
        F.floor(F.col("_start") / tokens_per_shard).alias("shard_id"),
        F.col("_start").alias("start_offset"),
        "n_tok",
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    alpha: float = 0.5,
    seed: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling — DSIR (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much more likely its
    hashed n-gram bag is under a small in-domain ``target`` corpus than under
    the raw corpus itself. Output (doc_id, n_grams, log_w) where
    log_w = Σ_grams [ln p_target(bucket) − ln p_raw(bucket)] — the importance
    log-weight a selection step ranks (or resamples) by; positive means
    "looks like the target domain".

    Features are the paper's: unigrams + bigrams, hashed into ``n_buckets``
    buckets via the engine-portable md5 hash (`functions.text.portable_hash64`), each
    distribution add-``alpha`` smoothed over the FIXED bucket space (a
    constant, so cross-engine exact). Deterministic end to end: counting +
    log arithmetic, no RNG, no trained artifact — the per-bucket log-ratio
    terms are ROUND(9) and per-doc sums DECIMAL(28,9) (the repo-standard
    float recipe), so a DuckDB oracle replays it value-exactly.

    Scale shape (100 TB raw, MB-scale target): exactly TWO passes over the
    raw corpus (stats + scoring — the DSIR-inherent minimum). Both corpora
    are tagged and UNIONED into ONE bucket aggregation (no raw/target count
    join at all) on a key space BOUNDED by n_buckets (map-side partials
    collapse each partition to <= n_buckets rows — the hot-bucket skew
    ceiling is one combiner cell per partition); corpus totals come from a
    window over that bounded counts table (a SinglePartition exchange of
    <= n_buckets rows, a constant), NEVER a re-aggregation of the raw
    stream; the log-ratio table is <= n_buckets rows and BROADCAST, so the
    raw-side occurrence stream never shuffles on gram/bucket — the only
    wide exchange is the final per-doc sum on the unique doc_id key. Zero
    Python UDFs.
    """
    from pyspark.sql import Window

    def occurrences(df: DataFrame) -> DataFrame:
        base = df.select(
            F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("arr")
        ).filter(
            F.size("arr") > 0
        )
        unis = base.select("doc_id", F.explode("arr").alias("gram"))
        bis = base.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.slice(F.col("arr"), 1, F.size("arr") - 1),
                    lambda v, i: F.concat_ws(" ", v, F.col("arr")[i + 1]),
                )
            ).alias("gram"),
        )
        return unis.unionByName(bis).select(
            "doc_id",
            F.pmod(portable_hash64(F.col("gram"), seed), F.lit(n_buckets)).alias(
                "bucket"
            ),
        )

    raw_occ = occurrences(docs)
    counts = (
        raw_occ.select("bucket", F.lit(1).alias("_q"), F.lit(0).alias("_p"))
        .unionByName(
            occurrences(target).select(
                "bucket", F.lit(0).alias("_q"), F.lit(1).alias("_p")
            )
        )
        .groupBy("bucket")
        .agg(F.sum("_q").alias("nq"), F.sum("_p").alias("np"))
    )
    denom = F.lit(float(alpha)) * F.lit(float(n_buckets))
    whole = Window.partitionBy()
    lr = counts.select(
        "bucket",
        F.round(
            F.log(
                (F.col("np") + F.lit(float(alpha)))
                / (F.sum("np").over(whole) + denom)
            )
            - F.log(
                (F.col("nq") + F.lit(float(alpha)))
                / (F.sum("nq").over(whole) + denom)
            ),
            9,
        ).alias("lr"),
    )
    return (
        raw_occ.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(
                F.sum(F.col("lr").cast("decimal(28,9)")).cast("double"), 6
            ).alias("log_w"),
        )
    )
