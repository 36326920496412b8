#!/usr/bin/env python
"""spark-submit entry point for the TRAINING-DATA pipeline: the LLM-corpus
counterpart of run_pipeline.py (reference analog: the MakeTrainingSet
intent — assemble a clean, deduplicated, decontaminated, mixed and sharded
training set from a raw document table).

    documents(doc_id, text, lang, source)
      → host-rank gate     (optional, WARC mode: link-graph host PageRank
                            over the crawl, bottom-fraction hosts dropped)
      → keep_filter        (C4/Gopher keep decisions, reasons recorded)
      → line_dedup         (optional: corpus-common boilerplate lines cut)
      → exact_dedup        (md5 clusters, canonical-id survivors)
      → neardup clusters   (optional: MinHash-LSH → confirm → CC)
      → decontaminate      (optional: n-gram overlap vs an eval corpus)
      → dsir select        (optional: importance-weight top fraction vs a
                            target corpus, arXiv:2302.03169)
      → temperature_mix    (α-sampling to a token target across sources)
      → shuffle_order      (deterministic global epoch order)
      → shard_manifest     (whole-doc greedy shards a writer materializes)

Every stage checkpoints through lineage.materialize_stage (per-partition
lineage rows, rename-last commit): re-running with identical inputs
resumes from the committed snapshots — kill the job at any stage and it
picks up where it stopped, the north_rule resume contract.

Usage (cluster):
    zip -r pmcanalysis_spark.zip pmcanalysis_spark
    spark-submit --py-files pmcanalysis_spark.zip scripts/run_datapipe.py \
        --input <documents parquet> --output <stage dir> \
        [--eval <benchmark parquet>] [--neardup] [--line-dedup] \
        [--dsir-target <parquet> --dsir-keep-frac 0.5] \
        [--target-tokens N] [--alpha 0.5] [--tokens-per-shard N] [--seed 11]

Local smoke: --input /root/testdata/sf0.001/documents.parquet --cores 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text, lang, source)")
    ap.add_argument("--input-format", choices=("parquet", "warc"), default="parquet",
                    help="warc: --input is a directory of .warc/.warc.gz files; "
                         "records parse via sources/warc.py, doc_id = 64-bit "
                         "hash of (uri, chunk, rec), source = URI host, lang "
                         "via the n-gram lang_id signal")
    ap.add_argument("--output", required=True, help="stage/checkpoint base dir")
    ap.add_argument("--eval", default=None,
                    help="benchmark/eval parquet (doc_id, text); training docs "
                         "sharing any --contam-n-gram window are dropped")
    ap.add_argument("--contam-n", type=int, default=8)
    ap.add_argument("--neardup", action="store_true",
                    help="also collapse MinHash-LSH near-duplicate clusters "
                         "(keep the lowest doc_id per cluster)")
    ap.add_argument("--neardup-threshold", type=float, default=0.8)
    ap.add_argument("--incremental-store", default=None,
                    help="snapshot-table dir for the near-dup signature "
                         "store: this run's docs are near-dup'd against "
                         "every previously admitted batch (without their "
                         "text), survivors' signatures are committed as a "
                         "new store version")
    ap.add_argument("--host-rank-drop-frac", type=float, default=None,
                    help="WARC mode only: link-graph host PageRank over the "
                         "crawl itself; docs from hosts in this bottom rank "
                         "fraction are dropped (RefinedWeb-style host "
                         "reputation gate)")
    ap.add_argument("--line-dedup", action="store_true",
                    help="strip corpus-common lines (boilerplate appearing "
                         "in >= --line-min-docs distinct docs) from every "
                         "doc before document-grain dedup")
    ap.add_argument("--line-min-docs", type=int, default=2)
    ap.add_argument("--dsir-target", default=None,
                    help="in-domain target parquet (doc_id, text): score "
                         "every surviving doc by DSIR importance log-weight "
                         "and keep the top --dsir-keep-frac fraction")
    ap.add_argument("--dsir-keep-frac", type=float, default=0.5)
    ap.add_argument("--dsir-buckets", type=int, default=4096)
    ap.add_argument("--target-tokens", type=int, default=None,
                    help="temperature-mix token target (default: skip mixing)")
    ap.add_argument("--alpha", type=float, default=0.5)
    ap.add_argument("--tokens-per-shard", type=int, default=100_000)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from pmcanalysis_spark.lineage import materialize_stage
    from pmcanalysis_spark.operators.dedup import (
        decontaminate,
        exact_dedup,
        neardup_text_clusters,
    )
    from pmcanalysis_spark.operators.textstats import (
        keep_filter,
        shard_manifest,
        shuffle_order,
        temperature_mix,
    )
    from pmcanalysis_spark.session import get_spark

    spark = get_spark(app_name="datapipe", cores=args.cores)
    t0 = time.perf_counter()
    summary: dict[str, dict] = {}

    def record(name, res, df):
        summary[name] = {
            "rows": res.row_count,
            "resumed": res.resumed,
            "wall_ms": res.wall_ms,
        }
        return df

    if args.input_format == "warc":
        from pmcanalysis_spark.functions.text import portable_hash64
        from pmcanalysis_spark.operators.textstats import lang_id
        from pmcanalysis_spark.sources.warc import parse_warc_records

        chunks = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc*")
            .load(args.input)
            .select(
                portable_hash64(F.col("path")).alias("chunk_id"),
                F.col("content").alias("payload"),
            )
        )
        recs = parse_warc_records(chunks).filter(
            (F.col("warc_type") == "response") & (F.col("http_status") == 200)
        )
        pages = recs.select(
            portable_hash64(
                F.concat_ws("|", "target_uri", "chunk_id", "rec_idx")
            ).alias("doc_id"),
            F.col("body").cast("string").alias("text"),
            F.regexp_extract("target_uri", r"^[a-z]+://([^/]+)", 1).alias("source"),
        )
        docs = pages.join(
            lang_id(pages.select("doc_id", "text")).select(
                "doc_id", F.col("pred_lang").alias("lang")
            ),
            "doc_id",
        )
        # optional host-reputation gate (WARC only — needs URLs + raw
        # bodies): link graph over the crawl's own pages → host PageRank →
        # drop docs whose host sits in the bottom --host-rank-drop-frac.
        # Hosts absent from the graph (no in/out links) are kept: unknown
        # is not low-reputation.
        if args.host_rank_drop_frac:
            from pmcanalysis_spark.extract import extract_links
            from pmcanalysis_spark.operators.graph import host_graph, pagerank

            links = extract_links(
                recs.select(F.col("target_uri").alias("url"), F.col("body").alias("html"))
            )
            hg = host_graph(links)
            pr = pagerank(
                hg.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst")),
                max_iter=10,
            )
            thr = pr.agg(
                F.percentile_approx("rank", args.host_rank_drop_frac).alias("t")
            ).first()["t"]
            low = pr.filter(F.col("rank") <= thr).select(
                F.col("id").alias("source")
            )
            n_before = docs.count()
            docs = docs.join(F.broadcast(low), "source", "left_anti")
            summary["host_rank"] = {
                "threshold": thr,
                "dropped": n_before - docs.count(),
            }
    else:
        docs = spark.read.parquet(args.input)
    fp_base = f"input={args.input}|seed={args.seed}"

    # 1. keep/drop gate (reasons recorded — the auditable cleaning decision)
    keep, res = materialize_stage(
        keep_filter(docs, min_tokens=args.min_tokens),
        "keep", args.output, "doc_id",
        input_fingerprint_extra=fp_base + f"|min_tokens={args.min_tokens}",
    )
    record("keep", res, keep)
    kept = docs.join(keep.filter(F.col("keep") == 1).select("doc_id"), "doc_id")

    # 1b. optional corpus-common line removal (boilerplate cut BEFORE
    # document-grain dedup: two pages differing only in nav/footer lines
    # become exact duplicates once the shared lines are gone)
    if args.line_dedup:
        from pmcanalysis_spark.operators.dedup import line_dedup

        ld, res = materialize_stage(
            line_dedup(kept, min_docs=args.line_min_docs),
            "line_dedup", args.output, "doc_id",
            input_fingerprint_extra=fp_base + f"|line_min={args.line_min_docs}",
        )
        record("line_dedup", res, ld)
        kept = kept.drop("text").join(
            ld.filter(F.length("text") > 0).select("doc_id", "text"), "doc_id"
        )

    # 2. exact dedup — survivors are each cluster's canonical (min) id
    clusters, res = materialize_stage(
        exact_dedup(kept),
        "exact_dedup", args.output, "canonical_id",
        input_fingerprint_extra=fp_base,
    )
    record("exact_dedup", res, clusters)
    surv = kept.withColumn("_h", F.md5("text")).join(
        clusters.select(F.col("text_hash").alias("_h"), "canonical_id"), "_h"
    ).filter(F.col("doc_id") == F.col("canonical_id")).drop("_h", "canonical_id")

    # 3. optional near-dup collapse (lowest id per confirmed cluster wins)
    if args.neardup:
        nd, res = materialize_stage(
            neardup_text_clusters(surv, threshold=args.neardup_threshold),
            "neardup", args.output, "doc_id",
            input_fingerprint_extra=fp_base + f"|thr={args.neardup_threshold}",
        )
        record("neardup", res, nd)
        surv = surv.join(
            nd.filter(F.col("doc_id") != F.col("cluster")).select("doc_id"),
            "doc_id",
            "left_anti",
        )

    # 3b. optional INCREMENTAL near-dup against a persisted signature store
    # (the multi-run shape: each job run is one crawl batch; the store is a
    # snapshot-versioned table — rollback = undo a bad crawl's admission)
    if args.incremental_store:
        from pmcanalysis_spark.operators.dedup import neardup_incremental
        from pmcanalysis_spark.snapshots import SnapshotTable

        st = SnapshotTable(spark, args.incremental_store)
        if st.current_version() is None:
            from pmcanalysis_spark.operators.dedup import neardup_signature_store

            v = st.commit(neardup_signature_store(surv))
            summary["incremental"] = {"bootstrap_version": v, "dropped": 0}
        else:
            store_df = st.read()
            old_ids = store_df.select("doc_id").distinct()
            pairs, new_rows = neardup_incremental(
                surv, store_df, threshold=args.neardup_threshold
            )
            pairs = pairs.persist()
            # drop a new doc if it near-dups anything already admitted
            # (either pair side), or the greater id of a new-new pair
            vs_old_a = pairs.join(
                old_ids.withColumnRenamed("doc_id", "a_id"), "a_id"
            ).select(F.col("b_id").alias("doc_id"))
            vs_old_b = pairs.join(
                old_ids.withColumnRenamed("doc_id", "b_id"), "b_id"
            ).select(F.col("a_id").alias("doc_id"))
            new_new_hi = (
                pairs.join(old_ids.withColumnRenamed("doc_id", "a_id"), "a_id", "left_anti")
                .join(old_ids.withColumnRenamed("doc_id", "b_id"), "b_id", "left_anti")
                .select(F.col("b_id").alias("doc_id"))
            )
            drops = vs_old_a.unionByName(vs_old_b).unionByName(new_new_hi).distinct()
            n_drop = drops.count()
            surv = surv.join(drops, "doc_id", "left_anti")
            # admit ONLY the survivors' signatures — dropped docs never
            # entered the corpus, so they must not veto future batches
            v = st.commit(
                new_rows.join(drops, "doc_id", "left_anti")
            )
            pairs.unpersist()
            summary["incremental"] = {"store_version": v, "dropped": n_drop}

    # 4. optional decontamination against the eval corpus
    if args.eval:
        ev = spark.read.parquet(args.eval)
        flags, res = materialize_stage(
            decontaminate(surv, ev, n=args.contam_n),
            "decontam", args.output, "doc_id",
            input_fingerprint_extra=fp_base + f"|eval={args.eval}|n={args.contam_n}",
        )
        record("decontam", res, flags)
        surv = surv.join(
            flags.filter(F.col("contaminated")).select("doc_id"),
            "doc_id",
            "left_anti",
        )

    # 4b. optional DSIR selection toward an in-domain target corpus: keep
    # the top --dsir-keep-frac fraction by importance log-weight. The
    # threshold is the approx (1-frac) quantile of log_w — a mergeable GK
    # sketch (map-side partials, no global sort), the 100 TB path; the
    # materialized stage records every doc's weight for the audit trail.
    if args.dsir_target:
        from pmcanalysis_spark.operators.textstats import dsir_weights

        tgt = spark.read.parquet(args.dsir_target)
        wts, res = materialize_stage(
            dsir_weights(surv, tgt, n_buckets=args.dsir_buckets, seed=args.seed),
            "dsir", args.output, "doc_id",
            input_fingerprint_extra=fp_base
            + f"|dsir={args.dsir_target}|b={args.dsir_buckets}",
        )
        record("dsir", res, wts)
        thr = wts.agg(
            F.percentile_approx("log_w", 1.0 - args.dsir_keep_frac).alias("t")
        ).first()["t"]
        surv = surv.join(
            wts.filter(F.col("log_w") >= thr).select("doc_id"), "doc_id"
        )
        summary["dsir"]["threshold"] = thr

    # 5. optional temperature mixing toward the token target
    if args.target_tokens:
        mix, res = materialize_stage(
            temperature_mix(
                surv, target_tokens=args.target_tokens, alpha=args.alpha,
                seed=args.seed,
            ),
            "mix", args.output, "doc_id",
            input_fingerprint_extra=fp_base
            + f"|target={args.target_tokens}|alpha={args.alpha}",
        )
        record("mix", res, mix)
        surv = surv.join(mix.select("doc_id"), "doc_id")

    # 6+7. deterministic epoch order → whole-doc greedy shard layout
    order, res = materialize_stage(
        shuffle_order(surv, seed=args.seed),
        "order", args.output, "doc_id",
        input_fingerprint_extra=fp_base,
    )
    record("order", res, order)
    shards, res = materialize_stage(
        shard_manifest(surv, tokens_per_shard=args.tokens_per_shard, seed=args.seed),
        "shards", args.output, "doc_id",
        input_fingerprint_extra=fp_base + f"|tps={args.tokens_per_shard}",
    )
    record("shards", res, shards)

    n_shards = shards.agg(F.countDistinct("shard_id")).first()[0] or 0
    n_tokens = shards.agg(F.sum("n_tok")).first()[0] or 0
    out = {
        "stages": summary,
        "final_docs": summary["shards"]["rows"],
        "final_tokens": int(n_tokens),
        "n_shards": int(n_shards),
        "wall_s": round(time.perf_counter() - t0, 3),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
