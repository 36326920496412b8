"""End-to-end KG construction: web_pages -> triples (SURVEY.md §3.1, §7.2).

Stages:
  scan(web_pages) -> fused extract + NER + hierarchy closure
                     -> one (doc_id, term_ids) set per matched page
                                                 [narrow, one Arrow-batched UDF]
  -> persist the sets; corpus size = their count [one job]
  -> doc frequency: explode + count(*)           [shuffle on term_id]
  -> pairs: explode a-family × explode b-family
     + count(*)                                  [shuffle on (a, b)]
  -> broadcast na/nb + score exprs               [narrow]

A materialized doc_terms(term_id, doc_id) table enters the same back half
after one groupBy(doc_id) into sets (``triples_from_doc_terms``).

Equivalent of /root/reference/FindDiseasePhenotypes2.groovy end-to-end, with
the documented improvements: no 32768-hit truncation (W5), exact doc sets,
NaN-filter fixed (P6), and all-candidate entity links preserved (J1).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import extract_text_udf
from .nlp import MINLENGTH, detect_doc_term_sets, detect_mentions
from .operators.cooccur import (
    doc_term_sets,
    scored_pairs,
    set_pair_counts,
    set_term_stats,
)


@dataclass
class PipelineConfig:
    lang: str | None = "en"
    a_prefix: str = "DOID:"
    b_prefixes: tuple[str, ...] = ("HP:", "MP:")
    pred: str = "has-phenotype"
    min_name_len: int = MINLENGTH


def ingest(web_pages: DataFrame, range_partitions: int | None = None) -> DataFrame:
    """Ingest normalization (SURVEY.md §7.2 step 7): optional explicit
    range partitioning on url so (a) every downstream partition covers a
    contiguous url range — the lineage rows' (min_key, max_key) become
    disjoint, resumable spans — and (b) pages from one site co-locate
    (compresses better, and per-site skew is visible per partition).
    Skip when the Iceberg table is already sorted/partitioned on url."""
    if range_partitions:
        return web_pages.repartitionByRange(range_partitions, F.col("url"))
    return web_pages


def extract_stage(web_pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """web_pages -> extracted(url, text). Column pruning means the parquet
    scan reads only (url, html, lang) here — ``text``/``warc_ts`` never leave
    storage unless asked for."""
    df = web_pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df.select("url", extract_text_udf(F.col("html")).alias("text"))


def build_mentions(
    web_pages: DataFrame,
    lexicon_entries: list[tuple[str, str]],
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    cfg = cfg or PipelineConfig()
    extracted = extract_stage(web_pages, cfg.lang)
    return detect_mentions(extracted, lexicon_entries, cfg.min_name_len)


def ancestor_map(hierarchy: DataFrame | None) -> dict[str, tuple[str, ...]] | None:
    """hierarchy(term_id, ancestor_id) closure -> {term: sorted ancestors},
    collected once on the driver for the scan's broadcast ancestor map."""
    if hierarchy is None:
        return None
    anc: dict[str, set[str]] = {}
    for r in hierarchy.select("term_id", "ancestor_id").collect():
        anc.setdefault(r["term_id"], set()).add(r["ancestor_id"])
    return {k: tuple(sorted(v)) for k, v in anc.items()}


def build_triples(
    web_pages: DataFrame,
    lexicon_entries: list[tuple[str, str]],
    hierarchy: DataFrame | None = None,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """The flagship query. Returns triples(subj, pred, obj, 5 scores, nab, na, nb).

    One fused scan (``detect_doc_term_sets``) emits each matched page's
    term set, with the hierarchy closure folded in as a per-doc ancestor
    expansion; the sets go straight to the back half.
    """
    cfg = cfg or PipelineConfig()
    sets = detect_doc_term_sets(
        web_pages,
        lexicon_entries,
        lang=cfg.lang,
        min_name_len=cfg.min_name_len,
        ancestors=ancestor_map(hierarchy),
    )
    return triples_from_term_sets(sets, cfg)


def triples_from_doc_terms(
    dt: DataFrame,
    cfg: PipelineConfig | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """doc_terms(term_id, doc_id) -> scored triples: the back half of the
    flagship, exposed so callers holding a MATERIALIZED doc_terms table
    (e.g. the incremental streaming accumulator) can re-score without
    re-running NER. Duplicate rows (re-crawls accumulated across appends)
    are harmless: grouping into sets dedupes them. ``assume_distinct`` has
    no effect and is kept only for callers that pass it.
    """
    return triples_from_term_sets(doc_term_sets(dt), cfg)


def triples_from_term_sets(
    sets: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Term sets (doc_id, term_ids) -> scored triples. The sets feed every
    count (corpus size, doc frequency, pairs), so they are persisted and
    materialized once; the count that materializes them is the corpus size.
    Doc frequency feeds both the na and the nb side of scoring, so it is
    persisted too and aggregates once. The caller materializes the result
    (write/count)."""
    cfg = cfg or PipelineConfig()
    sets = sets.persist()
    total = sets.count()
    stats = set_term_stats(sets).persist()
    # all b families in ONE pass over the sets (OR of prefixes)
    pairs = set_pair_counts(sets, a_prefix=cfg.a_prefix, b_prefix=cfg.b_prefixes)
    return scored_pairs(pairs, stats, total, pred=cfg.pred)
