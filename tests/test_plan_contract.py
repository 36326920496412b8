"""Plan-contract regression tests: the flagship plan must keep the shape
reviewed in PLANS.md — exactly one python crossing, broadcast dims, partial
aggregation, salted agg equivalence. Catching a regression here is catching
a 10x at 100 TB."""

from __future__ import annotations

from pmcanalysis_spark.fixtures import build_hierarchy_terms, build_lexicon, build_web_pages
from pmcanalysis_spark.operators.cooccur import pair_counts
from pmcanalysis_spark.pipeline import build_triples
from pmcanalysis_spark.schemas import HIERARCHY, WEB_PAGES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_single_python_crossing(spark):
    pages = build_web_pages(50)
    lex = [(e.name, e.term_id) for e in build_lexicon()]
    _, closure = build_hierarchy_terms()
    hier = spark.createDataFrame(closure, HIERARCHY)
    df = spark.createDataFrame(pages, WEB_PAGES)
    t = build_triples(df, lex, hierarchy=hier)
    plan = _plan(t)
    # the python scan is fused and CACHED: consumers read InMemoryTableScan,
    # and no chained scalar pandas UDF stage (ArrowEvalPython) exists.
    # (MapInPandas appears repeatedly in the string only because the cached
    # subtree is printed inside every InMemoryRelation reference.)
    assert "InMemoryTableScan" in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_flagship_plan_has_no_doc_id_join(spark):
    """Co-occurrence is counted over per-doc term sets: the executed plan
    of the flagship joins only the broadcast dims (na/nb), never doc_id."""
    import re

    pages = build_web_pages(50)
    lex = [(e.name, e.term_id) for e in build_lexicon()]
    df = spark.createDataFrame(pages, WEB_PAGES)
    t = build_triples(df, lex)
    t.collect()
    plan = _plan(t)
    joins = re.findall(r"\w*Join \[[^\]]*\]", plan)
    assert joins, plan
    assert not [j for j in joins if "doc_id#" in j], joins


def test_flagship_doc_frequency_aggregates_once(spark):
    """Doc frequency feeds both the na and the nb broadcast; it must be
    aggregated once per job. Every materialized term_id shuffle stage of
    the executed plan is the same exchange (one plan_id; a cached subtree
    prints once per reference), where computing it per side runs two."""
    import re

    pages = build_web_pages(200)
    lex = [(e.name, e.term_id) for e in build_lexicon()]
    _, closure = build_hierarchy_terms()
    df = spark.createDataFrame(pages, WEB_PAGES)
    t = build_triples(df, lex, hierarchy=spark.createDataFrame(closure, HIERARCHY))
    t.collect()
    plan = _plan(t)
    stages = set(re.findall(
        r"ShuffleQueryStage \d+\n[ :]*\+- Exchange hashpartitioning\(term_id#\d+, \d+\)"
        r".*plan_id=(\d+)\]",
        plan,
    ))
    assert len(stages) == 1, plan


def test_dim_joins_are_broadcast_not_shuffled(spark):
    pages = build_web_pages(50)
    lex = [(e.name, e.term_id) for e in build_lexicon()]
    df = spark.createDataFrame(pages, WEB_PAGES)
    t = build_triples(df, lex)
    plan = _plan(t)
    # na/nb/corpus scalar must come in via broadcast, never SortMergeJoin
    assert "SortMergeJoin" not in plan


def test_parquet_scan_pushes_filters_and_prunes_columns(spark, tmp_path):
    """Filters and projections must reach the parquet scan (PushedFilters /
    ReadSchema) — the free 100 TB optimization Catalyst gives a declarative
    plan."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"text {i}", "en" if i % 2 else "de") for i in range(100)],
        "doc_id long, text string, lang string",
    ).write.parquet(path)
    df = (
        spark.read.parquet(path)
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema  # untouched wide column never read


def test_salted_agg_equals_unsalted(spark):
    dt = spark.createDataFrame(
        [(f"DOID:{i % 3}", f"d{j}") for i in range(3) for j in range(40)]
        + [(f"HP:{i % 2}", f"d{j}") for i in range(2) for j in range(40)],
        "term_id string, doc_id string",
    ).distinct()
    plain = {
        (r.a_id, r.b_id): r.nab
        for r in pair_counts(dt, "DOID:", "HP:").collect()
    }
    salted = {
        (r.a_id, r.b_id): r.nab
        for r in pair_counts(dt, "DOID:", "HP:", salt_buckets=7).collect()
    }
    assert plain == salted and plain


def test_multi_prefix_single_join_equals_union(spark):
    dt = spark.createDataFrame(
        [("DOID:1", "d1"), ("HP:1", "d1"), ("MP:1", "d1"), ("HP:2", "d2"), ("DOID:1", "d2")],
        "term_id string, doc_id string",
    )
    single = {
        (r.a_id, r.b_id): r.nab
        for r in pair_counts(dt, "DOID:", ("HP:", "MP:")).collect()
    }
    union = {}
    for b in ("HP:", "MP:"):
        for r in pair_counts(dt, "DOID:", b).collect():
            union[(r.a_id, r.b_id)] = r.nab
    assert single == union
    # no prefixes: every unordered pair of distinct terms, once, a_id < b_id
    symmetric = {(r.a_id, r.b_id): r.nab for r in pair_counts(dt).collect()}
    assert symmetric == {
        ("DOID:1", "HP:1"): 1, ("DOID:1", "MP:1"): 1, ("HP:1", "MP:1"): 1,
        ("DOID:1", "HP:2"): 1,
    }


def test_neardup_scalable_never_cartesian(spark):
    """The verified near-dup scale path must plan bucket equi-joins — a
    CartesianProduct/BroadcastNestedLoop anywhere means the all-pairs
    regression came back."""
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.dedup import embedding_neardup_scalable

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = embedding_neardup_scalable(emb, threshold=0.95)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_text_neardup_scalable_never_cartesian(spark):
    """The r3 text near-dup composition must stay candidate-restricted:
    equi-joins on (band, bucket) then (doc, shingle) — a CartesianProduct /
    nested-loop anywhere means the quadratic all-pairs regression is back."""
    from pmcanalysis_spark.operators.dedup import neardup_text_scalable

    import re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(neardup_text_scalable(docs, threshold=0.5))
    assert "CartesianProduct" not in plan
    # the ONLY tolerated nested-loop is the 1-row scalar broadcast of the
    # auto hot-shingle bound (condition references _n_docs); any other
    # nested loop would be the all-pairs regression
    for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
        assert "_n_docs" in m.group(0), m.group(0)


def test_serving_lookup_pushes_term_filter(spark, tmp_path):
    """The point-lookup's IN-filter must reach the inverted-index parquet
    scan (PushedFilters: In(term_id, ...)) — the O(selected terms) cost
    claim of serving.KGIndex.lookup."""
    from pmcanalysis_spark.serving import KGIndex, build_serving_tables

    doc_terms = spark.createDataFrame(
        [(f"T:{i % 20}", f"d{i}") for i in range(200)],
        "term_id string, doc_id string",
    )
    lexicon = spark.createDataFrame([("n", "T:1")], "name string, term_id string")
    paths = build_serving_tables(doc_terms, lexicon, None, str(tmp_path))
    idx = KGIndex(spark, paths)
    plan = _plan(idx.lookup(["T:1", "T:2"]))
    assert "PushedFilters: [In(term_id" in plan, plan[:2000]


def test_top_ngrams_uses_distributed_topk(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    heaps), never a single-task global-window over all ngrams."""
    from pmcanalysis_spark.operators.textstats import top_ngrams

    docs = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(top_ngrams(docs, n=3, k=5))
    assert "TakeOrderedAndProject" in plan


def test_ev_topk_users_uses_distributed_topk(spark):
    """Regression (VERDICT r2): the global top-5 must plan as
    TakeOrderedAndProject — the r2 version windowed over a constant key,
    which serializes every user onto one task at scale. The row_number
    window that remains runs over the 5 surviving rows only."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["ev_topk_users"](spark, "/root/testdata/sf0.001")
    assert "TakeOrderedAndProject" in _plan(df)


def test_pack_sequences_no_single_partition_exchange(spark):
    """The whole point of the two-phase offset scheme: the manifest plan
    must contain NO SinglePartition exchange (a global ordered window would
    put one there and serialize the corpus through one task)."""
    from pmcanalysis_spark.operators.textstats import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pack_sequences(docs, seq_len=64, partitions=8))
    assert "SinglePartition" not in plan


def test_stratified_sample_no_shuffle(spark):
    """Broadcast rate lookup + filter: zero Exchange in the whole plan (the
    only acceptable data movement is the rate-table broadcast)."""
    from pmcanalysis_spark.operators.textstats import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(stratified_sample(docs, rates={"en": 0.5}, strata_col="lang"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "broadcast" in line.lower(), line


def test_bm25_broadcasts_lexicon_and_stats(spark):
    """The lexicon join and both 1-row stat joins must be broadcasts; the
    only hash shuffles key on doc_id/term_id aggregates."""
    from pmcanalysis_spark.linking import bm25_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bm25_scores(docs, [("spark", "X:1"), ("table", "X:2")]))
    assert plan.count("BroadcastHashJoin") >= 2 or (
        "BroadcastHashJoin" in plan and "BroadcastNestedLoopJoin" in plan
    )
    assert "CartesianProduct" not in plan


def test_length_quantiles_approx_partial_aggregates(spark):
    """The default (sketch) quantile path must partial-aggregate map-side —
    partial_percentile_approx below ONE exchange on the group key — and the
    scan must prune to (text, source). The exact anchor buffers whole
    groups by design, so only the default path carries the scale contract."""
    from pmcanalysis_spark.operators.textstats import length_quantiles

    docs = spark.createDataFrame(
        [(f"d{i}", "tok " * (i % 7 + 1), f"s{i % 3}", "en", 4) for i in range(60)],
        "doc_id string, text string, source string, lang string, n_chars int",
    )
    plan = _plan(length_quantiles(docs))
    assert "partial_percentile_approx" in plan
    assert plan.count("Exchange") == 1


def test_pagerank_iteration_never_cartesian(spark):
    """Each power iteration is equi-joins + grouped aggregation; the only
    nested-loop allowed is the 1-row dangling-mass broadcast scalar. A
    CartesianProduct here would be the O(V·E) disaster plan."""
    from pmcanalysis_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        "src string, dst string",
    )
    out = pagerank(edges, max_iter=2, tol=-1.0, exact_sums=True)
    plan = _plan(out)
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval n-gram set must reach the training side as a BROADCAST
    hit-marking join (benchmarks are MBs against a 100 TB corpus —
    shuffling training grams against them would be the scale killer), and
    the whole plan must hold at ONE exchange: the per-doc agg. The
    explode_outer design means no join back to the base table, so no
    SortMergeJoin may appear anywhere."""
    from pmcanalysis_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, f"tok{i} a b c d e f g h") for i in range(40)],
        "doc_id long, text string",
    )
    out = decontaminate(docs.filter("doc_id % 4 != 0"),
                        docs.filter("doc_id % 4 = 0"), n=4)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # one data exchange (the doc_id agg) + one BroadcastExchange; the eval
    # gram DISTINCT adds its own small exchange on the broadcast side only
    assert plan.count("Exchange hashpartitioning(doc_id") == 1


def test_shuffle_order_no_single_partition_exchange(spark):
    """The global rank must come from the two-phase scheme: no
    SinglePartition exchange anywhere (a naive Window.orderBy would
    collapse the corpus onto one task)."""
    from pmcanalysis_spark.operators.textstats import shuffle_order

    docs = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = shuffle_order(docs, seed=3, partitions=4)
    plan = _plan(out)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_nb_train_counts_scan_once(spark):
    """The token-count stage feeds both the model and the 1-row totals;
    it must be persisted so the corpus scan runs ONCE (InMemoryTableScan
    in the plan), and the totals reach the model as a broadcast."""
    from pmcanalysis_spark.operators.classify import nb_score, nb_train

    docs = spark.createDataFrame(
        [(i, f"tok{i % 9} alpha beta gamma", i % 2) for i in range(40)],
        "doc_id long, text string, keep int",
    )
    model, prior = nb_train(docs)
    plan = _plan(nb_score(docs.select("doc_id", "text"), model, prior))
    assert "InMemoryTableScan" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_temperature_mix_broadcasts_rates_no_wide_shuffle(spark):
    """temperature_mix's only exchange may carry |sources| rows (the token
    totals); the doc-side join must be broadcast, never sort-merge, and
    nothing in the plan may be a cartesian product."""
    from pmcanalysis_spark.operators.textstats import temperature_mix

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(temperature_mix(docs, target_tokens=5_000))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pq_adc_broadcasts_lut_and_partial_aggregates(spark):
    """The ADC scan must broadcast the q·m·k-row LUT (never shuffle the
    exploded item codes against it with a sort-merge join) and the
    per-item sum must partial-aggregate map-side."""
    from pmcanalysis_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_vectors,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        [float(x) for x in r.embedding]
        for r in emb.filter("vec_id < 16").orderBy("vec_id").collect()
    ]
    cbs = pq_codebooks_from_vectors(seeds, m=8)
    q = [(0, seeds[0])]
    plan = _plan(pq_adc_topk(emb, cbs, q, k=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan  # map-side combine on the decimal item sum


def test_incremental_neardup_never_cartesian_and_store_joins_on_ids(spark):
    """Incremental dedup must stay collision-proportional: band-bucket
    equi-join for candidates, doc-id equi-joins for the confirm — a
    CartesianProduct/nested-loop anywhere means new×corpus went all-pairs.
    The confirm must also be array_intersect over stored sets (no shingle
    re-explode of the store side)."""
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.dedup import (
        neardup_incremental,
        neardup_signature_store,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store = neardup_signature_store(
        docs.filter(F.col("doc_id") % 5 != 0), num_hashes=8, bands=4
    )
    pairs, _ = neardup_incremental(
        docs.filter(F.col("doc_id") % 5 == 0), store,
        threshold=0.5, num_hashes=8, bands=4,
    )
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan


def test_train_pq_codebooks_bounded_groups_partial_agg(spark):
    """The PQ trainer's per-iteration mean must partial-aggregate on the
    bounded (s, code, pos) key space — the shuffle carries per-task
    partials, not component rows. Inspect the aggregate the trainer runs
    (same shape it collects) for map-side partial_avg over the three
    keys."""
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.similarity import (
        pq_codebooks_from_vectors, pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        [float(x) for x in r.embedding]
        for r in emb.filter("vec_id < 16").orderBy("vec_id").collect()
    ]
    books = pq_codebooks_from_vectors(seeds, m=8)
    prepped = emb.select(
        "vec_id", "embedding",
        F.col("embedding").cast("array<double>").alias("vec_d"),
    )
    enc = pq_encode(prepped, books, carry_cols=("vec_d",))
    comp = enc.select(
        F.posexplode("codes").alias("s", "code"), F.col("vec_d").alias("vec")
    ).select(
        "s", "code", F.posexplode(F.expr("slice(vec, s * 8 + 1, 8)")).alias("pos", "val")
    )
    agg = comp.groupBy("s", "code", "pos").agg(
        (F.sum(F.col("val").cast("decimal(28,12)")).cast("double") / F.count("*")).alias("m")
    )
    plan = _plan(agg)
    assert "partial" in plan.lower()        # map-side combine before the exchange
    assert plan.lower().count("exchange") <= 2  # one shuffle for the agg (+AQE read)


def test_line_dedup_no_cartesian_partial_agg(spark):
    """line_dedup's common-line detection must stay a keyed flag join
    (never Cartesian), and the per-key doc-frequency count must carry a
    map-side partial aggregate — the property that keeps a hot 'accept
    cookies' line from funnelling into one reducer at 100 TB."""
    from pmcanalysis_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(i, f"nav bar\nbody {i}\nfooter") for i in range(40)],
        "doc_id long, text string",
    )
    plan = line_dedup(docs, min_docs=2)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_dsir_log_ratio_table_is_broadcast(spark):
    """dsir_weights' per-bucket log-ratio table (<= n_buckets rows) must
    reach the raw occurrence stream via broadcast — the raw side (the
    100 TB side) must never SortMergeJoin on bucket."""
    from pmcanalysis_spark.operators.textstats import dsir_weights

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(40)],
        "doc_id long, text string",
    )
    tgt = docs.filter("doc_id % 5 = 0")
    plan = (
        dsir_weights(docs, tgt, n_buckets=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_canonicalize_terms_reads_the_lexicon_once(spark):
    """canonicalize_terms reads the lexicon with ONE Spark job, merges on
    the driver, and hands back an Arrow LocalRelation: collecting the map
    (as each broadcast of rewrite_triples_canonical does) starts none."""
    from test_lineage import _jobs_started

    from pmcanalysis_spark.canonicalize import canonicalize_terms
    from pmcanalysis_spark.schemas import LEXICON

    lex = spark.createDataFrame([(e.name, e.term_id, e.kind) for e in build_lexicon()], LEXICON)
    built = []
    assert _jobs_started(spark, "canon-build", lambda: built.append(canonicalize_terms(lex))) == 1
    assert _plan(built[0]).startswith("LocalTableScan")
    assert _jobs_started(spark, "canon-collect", lambda: built[0].collect()) == 0
