"""The traced run: times each layer from outside, through its public functions.

Every traced run covers every layer, fed from the workload's own inputs where
the workload has them (kg_build: its pages; kg_rescore and kg_serve: their
doc_terms, lexicon and closure) and from a fixed seeded sample of fixture
pages otherwise. A lazy layer is materialized on its own: its output is
persisted and written to a ``noop`` sink inside its span, and the next layer
reads that persisted output. Spark's counters for a span come from the event
log, through the job description the tracer sets.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from pmcanalysis_spark.schemas import WEB_PAGES
from pyspark.sql import functions as F

from . import inputs
from .workloads import LOOKUP_LIMIT, KgBuild, KgRescore, KgServe, fetch_json

KERNEL_PAGES = 150
KERNEL_REPEATS = 3
LOOKUPS = 25
WARM_LOOKUPS = 5

# name -> (unit, the end-to-end metric it should move). Every one is better
# lower. A layer should leave the other workloads' metrics unchanged.
PER_LAYER = {
    "session.start_s": ("s", "none: session start is outside setup_s"),
    "extract.ms_per_page": ("ms", "kg_build job_s"),
    "nlp.split_ms_per_page": ("ms", "kg_build job_s"),
    "nlp.tokenize_ms_per_page": ("ms", "kg_build job_s"),
    "nlp.trie_ms_per_page": ("ms", "kg_build job_s"),
    "nlp.detect_doc_terms_s": ("s", "kg_build job_s, items_per_s"),
    "nlp.task_s": ("s", "kg_build job_s, items_per_s"),
    "nlp.rows_out": ("rows/page", "kg_build job_s, items_per_s"),
    "cooccur.term_stats_s": ("s", "kg_rescore job_s"),
    "cooccur.pair_counts_s": ("s", "kg_rescore job_s"),
    "cooccur.join_rows": ("count", "kg_rescore job_s"),
    "cooccur.pairs": ("count", "kg_rescore job_s"),
    "scores.scored_pairs_s": ("s", "kg_rescore job_s"),
    "pipeline.back_half_s": ("s", "kg_rescore job_s; kg_build's back-half share"),
    "pipeline.jobs": ("count", "kg_rescore job_s, peak_rss_mb"),
    "pipeline.exchanges": ("count", "kg_rescore job_s, peak_rss_mb"),
    "pipeline.shuffle_write_mb": ("MB", "kg_rescore job_s, peak_rss_mb"),
    "pipeline.shuffle_read_mb": ("MB", "kg_rescore job_s, peak_rss_mb"),
    "pipeline.spill_mb": ("MB", "kg_rescore job_s, peak_rss_mb"),
    "pipeline.gc_s": ("s", "kg_rescore job_s, peak_rss_mb"),  # JVM GC for the traced job
    "pipeline.task_skew": ("ratio", "kg_rescore job_s"),
    "lineage.materialize_s": ("s", "kg_rescore job_s; kg_serve setup_s"),
    "lineage.jobs_per_stage": ("count", "kg_rescore job_s; kg_serve setup_s"),
    "lineage.bytes_written_mb": ("MB", "kg_rescore job_s"),
    "canonicalize.terms_s": ("s", "kg_rescore job_s"),
    "canonicalize.rewrite_s": ("s", "kg_rescore job_s"),
    "serving.build_s": ("s", "kg_serve setup_s"),
    "serving.lookup_direct_p50_ms": ("ms", "kg_serve job_s, items_per_s"),
    "serving.jobs_per_lookup": ("count", "kg_serve job_s, items_per_s"),
    "serving.files_read_per_lookup": ("count", "kg_serve job_s, items_per_s"),
    "server.http_overhead_p50_ms": ("ms", "kg_serve job_s"),
    "trace.overhead_frac": ("ratio", "none: the cost of tracing"),
    "trace.unattributed_frac": ("ratio", "none: job time no layer span covers"),
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialized(df):
    """Persist ``df`` and compute it fully, through a noop write."""
    df = df.persist()
    noop(df)
    return df


class Sweep:
    def __init__(self, w, tracer):
        from pmcanalysis_spark import fixtures
        from pmcanalysis_spark.pipeline import PipelineConfig
        from pmcanalysis_spark.schemas import LEXICON

        self.w = w
        self.t = tracer
        self.spark = w.spark
        self.cfg = PipelineConfig()
        self.fixture_lexicon = fixtures.build_lexicon()
        self.lex_pairs = [(e.name, e.term_id) for e in self.fixture_lexicon]
        # the term -> ancestors map build_triples makes from the hierarchy
        anc: dict[str, set[str]] = {}
        for term, ancestor in fixtures.build_hierarchy_terms()[1]:
            anc.setdefault(term, set()).add(ancestor)
        self.ancestors = {k: tuple(sorted(v)) for k, v in anc.items()}
        # the first pages of the seeded corpus, as fixtures.bench_pages_df makes them
        start = inputs.page_offset(w.seed)
        self.sample = [fixtures._page_row(i, self.fixture_lexicon, 120)
                       for i in range(start, start + KERNEL_PAGES)]
        if isinstance(w, KgBuild):
            self.lexicon_df = self.spark.createDataFrame(
                [(e.name, e.term_id, e.kind) for e in self.fixture_lexicon], LEXICON)
            self.closure_df = w.hierarchy
        else:
            self.lexicon_df, self.closure_df = w.lexicon_df, w.closure_df
        self.v: dict[str, float] = {}
        self.detected = None  # nlp.detect_doc_terms output, and its input page count
        self.n_pages = 0

    # ------------------------------------------------------------ the sweep

    def run(self) -> None:
        self.kernel()
        if isinstance(self.w, KgBuild):
            dt = self.build_job()
        else:
            self.detect(self.spark.createDataFrame(self.sample, WEB_PAGES), len(self.sample))
            dt = self.rescore_job() if isinstance(self.w, KgRescore) else self.serve_back_half()
        self.v["nlp.rows_out"] = self.detected.count() / self.n_pages
        scored = self.back_half_layers(dt)
        if not isinstance(self.w, KgRescore):
            self.write_stages(scored, os.path.join(self.w.work, "trace_stages"))
        self.serving(dt)
        self.spark.catalog.clearCache()

    def kernel(self) -> None:
        """Single-thread Python kernel on the fixed page sample."""
        from pmcanalysis_spark.extract import extract_text_py
        from pmcanalysis_spark.nlp import TokenTrie, split_sentences_py, tokenize_py

        trie = TokenTrie.from_lexicon(self.lex_pairs)
        htmls = [p["html"] for p in self.sample]
        for _ in range(KERNEL_REPEATS):
            with self.t.span("extract.kernel"):
                texts = [extract_text_py(h) for h in htmls]
            with self.t.span("nlp.split"):
                sents = [split_sentences_py(x) for x in texts]
            with self.t.span("nlp.tokenize"):
                toks = [[tokenize_py(s) for s in doc] for doc in sents]
            with self.t.span("nlp.trie"):
                for doc in toks:
                    for sent in doc:
                        trie.find(sent)

    def detect(self, pages, n_pages: int):
        """nlp.detect_doc_terms over fixture pages, as build_triples calls it."""
        from pmcanalysis_spark.nlp import detect_doc_terms

        with self.t.span("nlp.detect_doc_terms"):
            self.detected = materialized(detect_doc_terms(
                pages, self.lex_pairs, lang=self.cfg.lang, ancestors=self.ancestors))
        self.n_pages = n_pages
        return self.detected

    def jvm_gc_s(self) -> float:
        """Collection time of every JVM garbage collector so far. In local
        mode the driver JVM runs the tasks too; task metrics' own GC time
        read 0 in every back half measured."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def job_gc_s(self, gc0: float) -> float:
        """GC time since ``gc0``, including a full collection of what the
        job left: with the heap pinned, a kg_build job often fits in the
        young generation and triggers no collection of its own."""
        self.spark._jvm.System.gc()
        return self.jvm_gc_s() - gc0

    def plain_op(self) -> None:
        """The workload's own operation, untraced, for trace.overhead_frac."""
        self.w.reset()
        with self.t.span("plain"):
            self.w.op()
        self.w.reset()

    def build_job(self):
        """kg_build's operation split into layers under a root span ``job``."""
        from pmcanalysis_spark.pipeline import triples_from_doc_terms

        self.plain_op()
        gc0 = self.jvm_gc_s()
        with self.t.span("job"):
            dt = self.detect(self.spark.read.parquet(self.w.pages_path), self.w.cfg["pages"])
            with self.t.span("pipeline.back_half"):
                noop(triples_from_doc_terms(dt, cfg=self.cfg, assume_distinct=True))
        self.v["pipeline.gc_s"] = self.job_gc_s(gc0)
        return dt

    def rescore_job(self):
        """kg_rescore's operation split into layers under a root span ``job``."""
        from pmcanalysis_spark.pipeline import triples_from_doc_terms

        self.plain_op()
        d = self.w.next_stage_dir()
        gc0 = self.jvm_gc_s()
        with self.t.span("job"):
            with self.t.span("scan.doc_terms"):
                dt = materialized(self.spark.read.parquet(self.w.dt_path))
            with self.t.span("pipeline.back_half"):
                triples = materialized(triples_from_doc_terms(dt, cfg=self.cfg))
            self.write_stages(triples, d)
        self.v["pipeline.gc_s"] = self.job_gc_s(gc0)
        return dt

    def serve_back_half(self):
        """kg_serve has no batch job: the back half over its doc_terms."""
        from pmcanalysis_spark.pipeline import triples_from_doc_terms

        gc0 = self.jvm_gc_s()
        with self.t.span("scan.doc_terms"):
            dt = materialized(self.spark.read.parquet(self.w.dt_path))
        with self.t.span("pipeline.back_half"):
            noop(triples_from_doc_terms(dt, cfg=self.cfg))
        self.v["pipeline.gc_s"] = self.job_gc_s(gc0)
        return dt

    def back_half_layers(self, dt):
        """triples_from_doc_terms taken apart: the cooccur operators and the
        scores, each over the persisted output of the one before."""
        from pmcanalysis_spark.operators.cooccur import (
            corpus_size_df, pair_counts, scored_pairs, term_stats,
        )

        if not isinstance(self.w, KgBuild):
            dt = dt.select("term_id", "doc_id").distinct()
        with self.t.span("cooccur.prepare"):
            dtx = materialized(dt.select("term_id", F.xxhash64("doc_id").alias("doc_id")))
        with self.t.span("cooccur.term_stats"):
            stats = materialized(term_stats(dtx))

        def pairs():
            return pair_counts(dtx, a_prefix=self.cfg.a_prefix, b_prefix=self.cfg.b_prefixes)

        with self.t.span("cooccur.pair_counts"):
            # not persisted, so the join node and its row count are in the plan
            noop(pairs())
        cached = pairs().persist()
        self.v["cooccur.pairs"] = cached.count()
        with self.t.span("scores.scored_pairs"):
            return materialized(scored_pairs(cached, stats, corpus_size_df(dtx),
                                             pred=self.cfg.pred))

    def write_stages(self, triples, d: str) -> None:
        """The write side of kg_rescore: materialize 'triples', canonicalize,
        materialize 'triples_canonical'."""
        from pmcanalysis_spark.canonicalize import canonicalize_terms, rewrite_triples_canonical
        from pmcanalysis_spark.lineage import materialize_stage

        with self.t.span("lineage.materialize"):
            out, _ = materialize_stage(triples, "triples", d, key_col="subj")
        with self.t.span("canonicalize.terms"):
            ents = materialized(canonicalize_terms(self.lexicon_df))
        with self.t.span("canonicalize.rewrite"):
            canon = materialized(rewrite_triples_canonical(
                out.select("subj", "pred", "obj", "nab", "na", "nb", "npmi"), ents))
        with self.t.span("lineage.materialize"):
            materialize_stage(canon, "triples_canonical", d, key_col="subj")

    def serving(self, dt) -> None:
        """Index build, direct lookups, then the same lookups over HTTP."""
        from pmcanalysis_spark.server import KGServer
        from pmcanalysis_spark.serving import KGIndex, build_serving_tables

        base = os.path.join(self.w.work, "trace_serving")
        with self.t.span("serving.build"):
            paths = build_serving_tables(dt, self.lexicon_df, self.closure_df, base)
        index = KGIndex(self.spark, paths)
        terms = sorted(r["term_id"] for r in index.inverted.select("term_id").distinct().collect())
        sample = random.Random(self.w.seed).choices(terms, k=LOOKUPS)
        server = KGServer(index).start()
        plain = []
        try:
            for term in sample[:WARM_LOOKUPS]:
                fetch_json(f"{server.url}/lookup?term={term}&limit={LOOKUP_LIMIT}")
            # interleaved, so that drift and warm-up hit all three alike
            for term in sample:
                url = f"{server.url}/lookup?term={term}&limit={LOOKUP_LIMIT}"
                with self.t.span("serving.lookup_direct"):
                    index.lookup([term], "or", LOOKUP_LIMIT).collect()
                t0 = time.perf_counter()
                fetch_json(url)
                plain.append(time.perf_counter() - t0)
                with self.t.span("server.http"):
                    fetch_json(url)
        finally:
            server.stop()
        self.v["server.plain_p50_s"] = statistics.median(plain)

    # -------------------------------------------------------------- metrics

    def job_breakdown(self) -> dict[str, float]:
        """Self time by span name inside the traced job; the job span's own
        self time is the part no layer accounts for."""
        jobs = self.t.named("job")
        if not jobs:
            return {}
        out: dict[str, float] = {}
        todo = [jobs[0]]
        while todo:
            span = todo.pop()
            name = "unattributed" if span is jobs[0] else span["name"]
            out[name] = out.get(name, 0.0) + self.t.self_time(span)
            todo.extend(c for c in self.t.spans if c["parent"] == span["id"])
        return out

    def metrics(self, ev, session_s: float) -> dict:
        t = self.t

        def keys(name):
            return [t.key(s) for s in t.named(name)]

        def med(name):
            return statistics.median(t.durations(name))

        def per_page_ms(name):
            return med(name) * 1000.0 / KERNEL_PAGES

        back = ev.counters(keys("pipeline.back_half"))
        lineage = ev.counters(keys("lineage.materialize"))
        n_stages = len(t.named("lineage.materialize"))
        lookups = keys("serving.lookup_direct")
        direct_p50 = med("serving.lookup_direct")
        http_p50 = med("server.http")
        if isinstance(self.w, KgServe):
            overhead = http_p50 / self.v["server.plain_p50_s"] - 1.0
            unattributed = 1.0 - direct_p50 / http_p50
        else:
            job = t.named("job")[0]
            overhead = (job["end"] - job["start"]) / med("plain") - 1.0
            unattributed = t.self_time(job) / (job["end"] - job["start"])
        values = {
            "session.start_s": session_s,
            "extract.ms_per_page": per_page_ms("extract.kernel"),
            "nlp.split_ms_per_page": per_page_ms("nlp.split"),
            "nlp.tokenize_ms_per_page": per_page_ms("nlp.tokenize"),
            "nlp.trie_ms_per_page": per_page_ms("nlp.trie"),
            "nlp.detect_doc_terms_s": med("nlp.detect_doc_terms"),
            "nlp.task_s": ev.counters(keys("nlp.detect_doc_terms"))["task_s"],
            "nlp.rows_out": self.v["nlp.rows_out"],
            "cooccur.term_stats_s": med("cooccur.term_stats"),
            "cooccur.pair_counts_s": med("cooccur.pair_counts"),
            "cooccur.join_rows": ev.metric_sum(keys("cooccur.pair_counts"), "Join",
                                               "number of output rows"),
            "cooccur.pairs": self.v["cooccur.pairs"],
            "scores.scored_pairs_s": med("scores.scored_pairs"),
            "pipeline.back_half_s": med("pipeline.back_half"),
            "pipeline.jobs": back["jobs"],
            "pipeline.exchanges": ev.count_nodes(keys("pipeline.back_half"), "Exchange"),
            "pipeline.shuffle_write_mb": back["shuffle_write_mb"],
            "pipeline.shuffle_read_mb": back["shuffle_read_mb"],
            "pipeline.spill_mb": back["spill_mb"],
            "pipeline.gc_s": self.v["pipeline.gc_s"],
            "pipeline.task_skew": back["task_skew"],
            "lineage.materialize_s": sum(t.durations("lineage.materialize")),
            "lineage.jobs_per_stage": lineage["jobs"] / n_stages,
            "lineage.bytes_written_mb": lineage["bytes_written_mb"],
            "canonicalize.terms_s": med("canonicalize.terms"),
            "canonicalize.rewrite_s": med("canonicalize.rewrite"),
            "serving.build_s": med("serving.build"),
            "serving.lookup_direct_p50_ms": direct_p50 * 1000.0,
            "serving.jobs_per_lookup": ev.counters(lookups)["jobs"] / len(lookups),
            "serving.files_read_per_lookup": ev.metric_sum(lookups, "Scan", "number of files read")
            / len(lookups),
            "server.http_overhead_p50_ms": (http_p50 - direct_p50) * 1000.0,
            "trace.overhead_frac": overhead,
            "trace.unattributed_frac": unattributed,
        }
        return {name: {"value": values[name], "unit": unit}
                for name, (unit, _moves) in PER_LAYER.items()}
