"""Incremental KG maintenance: stream new pages in, re-score triples over
the accumulated doc-term table (SURVEY.md §2.9 + the north_rule resume
contract, combined).

Design: the EXPENSIVE stage (html extract + NER) is streaming — each page is
processed exactly once, appended to a parquet doc_terms accumulator under
the streaming checkpoint's exactly-once contract. The CHEAP stage (pair
counting + scoring over the distinct doc-term set) is a batch re-aggregation
over the accumulator: association scores are corpus-global (na/nb/corpus
size change with every new doc), so no per-pair incremental update is
sound — but the re-score input is O(distinct doc-terms), orders of magnitude
smaller than the raw pages, and its lineage fingerprint is the accumulator's
file snapshot, so a drain that added nothing resumes the triples stage
instead of recomputing it.

This is the engine's one streaming path. The reference is batch-only; the
scan stage is the one streaming-shaped part, because ``detect_doc_terms`` is
a stateless mapInPandas and runs unchanged on ``spark.readStream`` over the
web_pages schema.
"""

from __future__ import annotations

import hashlib
import os
import warnings

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import PipelineConfig, ancestor_map, triples_from_doc_terms
from ..schemas import WEB_PAGES


def read_web_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a directory of web-page parquet drops.
    In production: ``readStream.format("iceberg")`` on the same table."""
    return (
        spark.readStream.schema(WEB_PAGES)
        .option("maxFilesPerTrigger", 16)
        .parquet(path)
    )


def _snapshot_fingerprint(spark: SparkSession, path: str) -> str:
    """Identity of the accumulated doc_terms: the sorted data-file listing.
    Same files => same accumulator => the triples stage may resume."""
    files = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files.append(os.path.join(os.path.relpath(root, path), n))
    return hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()


def run_incremental_kg(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    lexicon_entries: list[tuple[str, str]],
    hierarchy=None,
    cfg: PipelineConfig | None = None,
):
    """Drain new page files (availableNow), append their doc_terms, then
    re-score triples over the full accumulator. Returns (triples_df,
    StageResult); result.resumed is True when the drain added no new pages
    AND the prior triples snapshot is intact.
    """
    from ..lineage import materialize_stage
    from ..nlp import detect_doc_terms

    cfg = cfg or PipelineConfig()
    dt_path = os.path.join(work_dir, "doc_terms")
    ckpt = os.path.join(work_dir, "_doc_terms_ckpt")
    pages = read_web_pages_stream(spark, input_path)
    dt_stream = detect_doc_terms(
        pages,
        lexicon_entries,
        lang=cfg.lang,
        min_name_len=cfg.min_name_len,
        ancestors=ancestor_map(hierarchy),
    )
    q = (
        dt_stream.writeStream.format("parquet")
        .option("path", dt_path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    acc = spark.read.parquet(dt_path)
    fp = _snapshot_fingerprint(spark, dt_path)
    triples = triples_from_doc_terms(acc, cfg=cfg)
    with warnings.catch_warnings():
        # a drain that added pages changes the accumulator by design, so
        # replacing the committed triples snapshot is the normal case here
        warnings.filterwarnings(
            "ignore", message=r"stage 'triples': committed snapshot .* replacing it"
        )
        return materialize_stage(
            triples, "triples", work_dir, key_col="subj", fingerprint=fp
        )
