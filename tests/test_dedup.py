from __future__ import annotations

from pmcanalysis_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
)

TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog near the old barn"),
    (2, "the quick brown fox jumps over the lazy dog near the old barn"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the old fence"),  # near dup
    (4, "completely different words about spark dataframes and shuffles here"),
]


def _docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark)).collect()
    sizes = sorted(r.cluster_size for r in out)
    assert sizes == [1, 1, 2]
    dup = [r for r in out if r.cluster_size == 2][0]
    assert dup.canonical_id == 1


def test_shingles_distinct_and_sized(spark):
    out = shingles(_docs(spark).filter("doc_id = 4"), "doc_id", "text", 3).collect()
    assert all(len(r.shingle.split(" ")) == 3 for r in out)
    # 9 tokens -> 7 trigrams, all distinct here
    assert len(out) == 7


def test_ngram_jaccard_finds_near_dup(spark):
    # max_shingle_df=None: raw Jaccard semantics (this 4-doc corpus's shared
    # shingles span 3/4 docs, which the default auto bound rightly drops)
    pairs = ngram_jaccard_pairs(
        _docs(spark), threshold=0.5, max_shingle_df=None
    ).collect()
    got = {(r.a_id, r.b_id) for r in pairs}
    assert (1, 2) in got  # exact dup has jaccard 1.0
    assert (1, 3) in got and (2, 3) in got  # near dup
    assert not any(4 in p for p in got)
    j12 = [r.jaccard for r in pairs if (r.a_id, r.b_id) == (1, 2)][0]
    assert j12 == 1.0


def test_auto_hot_shingle_bound_drops_boilerplate(spark):
    """Default max_shingle_df="auto": a boilerplate shingle present in >50%
    of docs is excluded BEFORE the self-join, so (a) two docs sharing ONLY
    boilerplate never pair, (b) the join's exploded size is bounded by real
    content, (c) genuinely near-dup docs still pair on their content."""
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.dedup import _drop_hot_shingles

    boiler = "subscribe to our newsletter for updates"
    rows = [
        (1, f"{boiler} alpha beta gamma delta epsilon zeta"),
        (2, f"{boiler} alpha beta gamma delta epsilon eta"),   # near dup of 1
        (3, f"{boiler} one two three four five six"),
        (4, f"{boiler} seven eight nine ten eleven twelve"),
        (5, f"{boiler} red green blue cyan magenta yellow"),
        (6, f"{boiler} do re mi fa sol la"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = _drop_hot_shingles(
        shingles(docs, "doc_id", "text", 3), docs, "doc_id", "auto"
    )
    # every shingle fully inside the boilerplate prefix (df=6 > 3) is gone
    kept = {r.shingle for r in sh.collect()}
    assert "subscribe to our" not in kept
    assert "newsletter for updates" not in kept
    hot_df = sh.groupBy("shingle").count().agg(F.max("count")).first()[0]
    assert hot_df <= 3  # bounded join fan-out: no key above n_docs/2

    pairs = {(r.a_id, r.b_id): r.jaccard
             for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in pairs            # real near-dup survives on content
    assert (3, 4) not in pairs        # boilerplate-only overlap: no pair
    assert (3, 5) not in pairs and (5, 6) not in pairs


def test_minhash_identical_sigs_for_identical_text(spark):
    sigs = {r.doc_id: tuple(r.sig) for r in minhash_signatures(_docs(spark)).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    # near-dup shares most minhashes
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree >= 8


def test_minhash_lsh_candidates(spark):
    got = {(r.a_id, r.b_id) for r in minhash_lsh_pairs(_docs(spark)).collect()}
    assert (1, 2) in got
    assert all(4 not in p for p in got)  # unrelated doc never pairs


def test_simhash_equal_for_equal_and_close_for_near(spark):
    hs = {r.doc_id: r.simhash for r in simhash64(_docs(spark)).collect()}
    assert hs[1] == hs[2]

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 60) - 1)).count("1")

    assert hamming(hs[1], hs[3]) < hamming(hs[1], hs[4])


def test_exact_dedup_full_text_confirm_splits_collisions(spark):
    """confirm_full_text=True: a hash collision (injected via a degenerate
    hash_expr) yields separate clusters per distinct text, where the default
    hash-only mode silently merges them."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    collide = F.lit("collide")  # every doc "collides"
    merged = exact_dedup(docs, hash_expr=collide).collect()
    assert len(merged) == 1 and merged[0].cluster_size == 4
    split = exact_dedup(docs, hash_expr=collide, confirm_full_text=True).collect()
    assert sorted(r.cluster_size for r in split) == [1, 1, 2]
    assert all(r.text_hash == "collide" for r in split)
    # on a non-degenerate hash the flag changes nothing
    a = sorted(tuple(r) for r in exact_dedup(docs).collect())
    b = sorted(tuple(r) for r in exact_dedup(docs, confirm_full_text=True).collect())
    assert a == b


def test_text_neardup_scalable_subset_and_recall(spark):
    """The LSH-candidates -> exact-Jaccard-confirm composition (the text
    twin of embedding_neardup_scalable): output is an exact subset of
    ngram_jaccard_pairs with identical jaccard values; candidate recall on
    the sf0.001 documents is asserted at a floor (pairs at threshold 0.5
    sit high on the 8-hash/4-band S-curve)."""
    from pmcanalysis_spark.operators.dedup import neardup_text_scalable

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    scal = {
        (r.a_id, r.b_id): r.jaccard
        for r in neardup_text_scalable(
            docs, threshold=0.5, num_hashes=8, bands=4
        ).collect()
    }
    assert len(full) > 0
    for k, v in scal.items():
        assert k in full and abs(v - full[k]) < 1e-12
    recall = len(scal) / len(full)
    assert recall >= 0.6, f"candidate recall {recall:.3f} below floor"


def test_embedding_neardup_scalable_recall(spark):
    """The LSH->confirm scale path recovers most of the brute-force pairs
    (recall < 1 by design — a pair is missed only if it separates in every
    table). On the sf0.001 corpus with planted near-dups, measured recall is
    asserted at a floor; confirmed pairs must be an exact subset with
    identical cosines."""
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_scalable,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    aug = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(F.array(F.col("vec")[0] * 1.2), F.slice(F.col("vec"), 2, 63)).alias("vec"),
    )
    corpus = emb.unionByName(aug)
    brute = {
        (r["a_id"], r["b_id"]): r["cosine"]
        for r in embedding_neardup_pairs(
            corpus, id_col="vec_id", vec_col="vec", threshold=0.95
        ).collect()
    }
    scal = {
        (r["a_id"], r["b_id"]): r["cosine"]
        for r in embedding_neardup_scalable(
            corpus, id_col="vec_id", vec_col="vec",
            threshold=0.95, dim=64, num_planes=8, num_tables=4,
        ).collect()
    }
    assert len(brute) >= 25  # planted pairs exist
    # exact subset with identical cosine values
    for k, v in scal.items():
        assert k in brute and abs(v - brute[k]) < 1e-12
    recall = len(scal) / len(brute)
    assert recall >= 0.85, f"candidate recall {recall:.3f} below floor"


def test_embedding_neardup_mega_bucket_chunked_identical(spark):
    """Planted mega-bucket: near-identical vectors land in the SAME LSH
    bucket by design; with a small max_group_size the confirm runs as
    bounded chunk-pair blocks (cross blocks included) and must emit exactly
    the pairs a numpy brute force finds: same bucket in some table (planes
    from ``plane_component_py``), cosine >= threshold, cosines equal after
    ROUND 6."""
    import numpy as np
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.dedup import embedding_neardup_scalable
    from pmcanalysis_spark.operators.similarity import plane_component_py

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    # 200 copies of one vector with per-copy jitter on coord 1: one mega
    # cluster that every LSH table buckets together
    base = emb.filter(F.col("vec_id") == 0)
    clones = (
        spark.range(200)
        .crossJoin(base.select("vec"))
        .select(
            (F.col("id") + 500000).alias("vec_id"),
            F.concat(
                F.array(F.col("vec")[0]),
                F.array(F.col("vec")[1] + F.col("id") * 0.0001),
                F.slice(F.col("vec"), 3, 62),
            ).alias("vec"),
        )
    )
    corpus = emb.unionByName(clones)

    out = embedding_neardup_scalable(
        corpus, id_col="vec_id", vec_col="vec",
        threshold=0.99, dim=64, num_planes=8, num_tables=4,
        max_group_size=32,
    ).select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))
    capped = sorted(tuple(r) for r in out.collect())

    rows = sorted((int(r.vec_id), list(r.vec)) for r in corpus.collect())
    ids = np.asarray([i for i, _ in rows])
    X = np.asarray([v for _, v in rows])
    P = np.asarray(
        [[plane_component_py(p, d) for d in range(64)] for p in range(4 * 8)]
    )
    B = ((X @ P.T) >= 0.0).reshape(len(X), 4, 8) @ (1 << np.arange(8))
    share = (B[:, None, :] == B[None, :, :]).any(axis=2)
    n = np.sqrt((X * X).sum(axis=1))
    S = (X @ X.T) / np.outer(n, n)
    a, b = np.nonzero(np.triu(share & (S >= 0.99), 1))
    want = sorted(
        (int(ids[x]), int(ids[y]), round(float(S[x, y]), 6)) for x, y in zip(a, b)
    )
    assert capped == want
    assert len(capped) >= 200 * 199 // 2  # the planted clique is confirmed


def test_text_neardup_clusters_collapse(spark):
    """Cluster collapse: every doc gets exactly one row; exact dups share a
    cluster labeled by the min doc id; unrelated docs stay singletons."""
    from pmcanalysis_spark.operators.dedup import neardup_text_clusters

    out = {r.doc_id: r.cluster_id
           for r in neardup_text_clusters(
               _docs(spark), threshold=0.5, num_hashes=8, bands=4
           ).collect()}
    assert len(out) == 4                    # one row per doc
    assert out[1] == 1 and out[2] == 1      # identical docs collapse to min
    assert out[4] == 4                      # unrelated doc is a singleton


def test_canonical_url_goldens(spark):
    from pmcanalysis_spark.operators.dedup import canonical_url
    from pyspark.sql import functions as F

    cases = [
        ("HTTP://Site.com/a?utm_source=x#top", "http://site.com/a"),
        ("http://site.com/a/", "http://site.com/a"),
        ("https://Example.COM:443/p/q?x=1&y=2", "https://example.com/p/q"),
        ("http://example.com:80/", "http://example.com"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        ("https://h.io", "https://h.io"),
        ("https://h.io/#frag", "https://h.io"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [c for _, c in cases]


def test_url_dedup(spark):
    from pmcanalysis_spark.operators.dedup import url_dedup

    rows = [
        (1, "HTTP://Site.com/a?utm_source=x#top"),
        (2, "http://site.com/a/"),
        (3, "http://site.com/b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.canonical_url: (r.canonical_id, r.n_dups) for r in url_dedup(df).collect()}
    assert out == {
        "http://site.com/a": (1, 2),
        "http://site.com/b": (3, 1),
    }


def test_repeated_spans_and_dup_stats(spark):
    """Constructed corpus: a 4-token span planted in two docs and twice in a
    third; an all-unique doc; a doc shorter than the span length."""
    from pmcanalysis_spark.operators.dedup import repeated_spans, span_dup_stats

    boiler = "all rights reserved worldwide"
    rows = [
        (1, f"alpha beta {boiler} gamma"),
        (2, f"{boiler} delta epsilon zeta"),
        (3, f"{boiler} and again {boiler}"),
        (4, "totally unique words nothing shared here"),
        (5, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    reps = {
        r.span: (r.n_docs, r.n_occurrences)
        for r in repeated_spans(docs, span_len=4, min_count=2).collect()
    }
    assert reps[boiler] == (3, 4)
    # within-doc-only repeats still count ("again all rights reserved" etc.
    # appear once; the only >=2-occurrence spans must all involve boiler)
    for span, (nd, no) in reps.items():
        assert no >= 2

    stats = {
        r.doc_id: (r.n_spans, r.n_repeated, r.dup_frac)
        for r in span_dup_stats(docs, span_len=4, min_count=2).collect()
    }
    # doc 1: 7 tokens -> 4 spans, 1 repeated
    assert stats[1] == (4, 1, 0.25)
    # doc 4: unique -> 0 repeated
    assert stats[4][1] == 0 and stats[4][2] == 0.0
    # doc 3 is boilerplate-dominated: both planted spans repeated
    assert stats[3][1] >= 2
    # doc 5 has no 4-token span -> no row
    assert 5 not in stats


def test_simhash_pairs_equals_bruteforce(spark):
    """With max_hamming < bands the banded path has guaranteed recall 1
    (pigeonhole), so its output must EQUAL the brute-force all-pairs scan
    on the sf0.001 corpus — including the hamming values."""
    from pmcanalysis_spark.operators.dedup import simhash64, simhash_pairs
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(
        tuple(r)
        for r in simhash_pairs(docs, max_hamming=3, bands=4).collect()
    )
    sig = simhash64(docs)
    a = sig.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("sb"))
    brute = sorted(
        tuple(r)
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    )
    assert got == brute and len(got) > 0


def test_minhash_jaccard_estimate(spark):
    """The estimate covers exactly the LSH candidate pairs; it is accurate
    on similar pairs (MAE bound at exact >= 0.4) and monotone enough to
    rank (hi-Jaccard group's mean estimate clearly above the lo group) —
    the documented contract given the affine family's slot correlation."""
    import statistics

    from pmcanalysis_spark.operators.dedup import (
        minhash_jaccard_estimate,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    est = {
        (r.a_id, r.b_id): r.est_jaccard
        for r in minhash_jaccard_estimate(docs, num_hashes=16, bands=4).collect()
    }
    cand = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_pairs(docs, num_hashes=16, bands=4).collect()
    }
    assert set(est) == cand and len(est) > 0
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0, max_shingle_df=None).collect()
    }
    hi = [k for k in est if exact.get(k, 0.0) >= 0.4]
    lo = [k for k in est if exact.get(k, 0.0) < 0.1]
    assert hi and lo
    hi_mae = statistics.mean(abs(est[k] - exact[k]) for k in hi)
    assert hi_mae < 0.2, hi_mae
    assert (
        statistics.mean(est[k] for k in hi)
        > statistics.mean(est[k] for k in lo) + 0.25
    )
    # every estimate is a multiple of 1/16 in [0, 1]
    assert all(0.0 <= v <= 1.0 and round(v * 16, 6) == round(v * 16) for v in est.values())


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_repeated_runs_planted_boilerplate_exact_boundaries(spark):
    """A planted 6-token boilerplate block shared by two docs collapses to
    ONE maximal run per doc with exact token boundaries (VERDICT r4 #4
    'done' criterion)."""
    from pmcanalysis_spark.operators.dedup import repeated_runs

    block = "B1 B2 B3 B4 B5 B6"
    docs = _docs_df(spark, [
        ("a", f"u1 u2 u3 {block} u4 u5"),
        ("b", f"v1 {block} v2 v3 v4 v5 v6"),
    ])
    runs = {r["doc_id"]: (r["start_token"], r["end_token"], r["n_tokens"])
            for r in repeated_runs(docs, span_len=4).collect()}
    # doc a: block occupies tokens 3..8 -> repeated windows at pos 3,4,5
    # merge into [3, 9)
    assert runs["a"] == (3, 9, 6)
    # doc b: block occupies tokens 1..6 -> [1, 7)
    assert runs["b"] == (1, 7, 6)


def test_repeated_runs_gap_semantics(spark):
    """Two repeated windows merge iff their token intervals overlap or
    adjoin (gap in start positions <= span_len); a 1-token gap of unique
    text splits the run."""
    from pmcanalysis_spark.operators.dedup import repeated_runs

    blk1, blk2 = "C1 C2 C3 C4", "D1 D2 D3 D4"
    # doc 'x': blk1 at tokens 0-3, one unique token, blk2 at tokens 5-8
    docs = _docs_df(spark, [
        ("x", f"{blk1} uniq {blk2}"),
        ("y", f"{blk1} other tokens here {blk2}"),
    ])
    got = sorted(
        (r["doc_id"], r["start_token"], r["end_token"])
        for r in repeated_runs(docs, span_len=4).collect()
    )
    # doc x: runs [0,4) and [5,9) — windows at pos 0 and 5, gap 5 > 4 keeps
    # them separate even though only one token between them is unique
    assert (("x", 0, 4) in got) and (("x", 5, 9) in got)
    # doc y: blk2 starts after 4 + 3 unique tokens -> [0,4) and [7,11)
    assert (("y", 0, 4) in got) and (("y", 7, 11) in got)
    assert len(got) == 4


def test_repeated_runs_adjoining_windows_merge(spark):
    """Back-to-back duplicated blocks (window-start gap == span_len) fuse
    into one run covering both."""
    from pmcanalysis_spark.operators.dedup import repeated_runs

    blk1, blk2 = "C1 C2 C3 C4", "D1 D2 D3 D4"
    docs = _docs_df(spark, [
        ("p", f"{blk1} {blk2}"),
        ("q", f"w1 {blk1} w2 w3 w4 w5 {blk2} w6"),
    ])
    runs = {r["doc_id"]: (r["start_token"], r["end_token"])
            for r in repeated_runs(docs, span_len=4).collect()
            if r["doc_id"] == "p"}
    assert runs["p"] == (0, 8)


def test_cut_repeated_runs_removes_exactly_the_block(spark):
    from pmcanalysis_spark.operators.dedup import cut_repeated_runs

    block = "B1 B2 B3 B4 B5 B6"
    docs = _docs_df(spark, [
        ("a", f"u1 u2 u3 {block} u4 u5"),
        ("b", f"v1 {block} v2 v3 v4 v5 v6"),
        ("c", "entirely unique text with no duplication anywhere at all"),
    ])
    got = {r["doc_id"]: (r["clean_text"], r["n_tokens_cut"])
           for r in cut_repeated_runs(docs, span_len=4).collect()}
    assert got["a"] == ("u1 u2 u3 u4 u5", 6)
    assert got["b"] == ("v1 v2 v3 v4 v5 v6", 6)
    assert got["c"][1] == 0
    assert got["c"][0] == "entirely unique text with no duplication anywhere at all"


def test_decontaminate_flags_eval_overlap(spark):
    """Planted contamination: a training doc shares a 4-gram with the eval
    set; clean docs and sub-n docs stay unflagged; min_hits raises the bar."""
    from pmcanalysis_spark.operators.dedup import decontaminate

    leak = "the quick brown fox"
    train = spark.createDataFrame(
        [
            (1, f"intro words {leak} trailing text here"),
            (2, "completely clean training document with original words"),
            (3, "short doc"),  # < n tokens: no grams, never contaminated
            (4, f"{leak} {leak} padded out with more tokens"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"benchmark question mentioning {leak} verbatim")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_contaminated, r.contaminated)
        for r in decontaminate(train, ev, n=4).collect()
    }
    assert len(got) == 4  # one row per training doc, always
    assert got[1][1] == 1 and got[1][2] is True
    assert got[2] == (4, 0, False)  # 7 tokens -> 4 windows of 4
    assert got[3] == (0, 0, False)
    # doc 4 hits the eval gram at two positions
    assert got[4][1] >= 2 and got[4][2] is True

    # min_hits=2: the single-hit doc drops back to clean
    strict = {
        r.doc_id: r.contaminated
        for r in decontaminate(train, ev, n=4, min_hits=2).collect()
    }
    assert strict[1] is False and strict[4] is True


def test_semantic_dedup_within_cell_lowest_id_wins(spark):
    """Two well-separated cells; exact duplicates planted in each cell.
    The lowest id of each duplicate group keeps, its twins drop, and a
    cross-cell near-dup is NOT dropped (the SemDeDup recall tradeoff —
    pruning only sees within-cell pairs)."""
    from pmcanalysis_spark.operators.dedup import semantic_dedup

    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    rows = [
        (10, [1.0, 0.01, 0.0]),   # cell 0, original
        (11, [1.0, 0.01, 0.0]),   # cell 0, exact dup of 10 -> dropped
        (12, [0.8, 0.3, 0.5]),    # cell 0, cosine vs 10 ~0.81 -> kept
        (20, [0.0, 1.0, 0.02]),   # cell 1, original
        (21, [0.0, 1.0, 0.02]),   # cell 1, exact dup of 20 -> dropped
        (22, [0.0, 1.0, 0.021]),  # cell 1, near-dup of 20 -> dropped
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.cell, r.keep) for r in
           semantic_dedup(emb, cents, threshold=0.99).collect()}
    assert len(got) == 6
    assert got[10] == (0, True) and got[11] == (0, False)
    assert got[12] == (0, True)
    assert got[20] == (1, True) and got[21] == (1, False)
    assert got[22] == (1, False)


def test_semantic_dedup_chunked_identical(spark):
    """The mega-cell chunk-pair guard must not change a single verdict:
    max_group_size=3 (forces multi-chunk cells, cross blocks included)
    equals a Python replay of lowest-id-wins per cell, on a corpus where
    one cell holds many near-identical vectors."""
    import math

    from pmcanalysis_spark.operators.dedup import semantic_dedup

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows = [(i, [1.0, 0.001 * i]) for i in range(20)] + [
        (100 + i, [0.001 * i, 1.0]) for i in range(5)
    ]
    # a near-dup pair in cell 1 (7 rows -> 3 chunks) whose lower id sits in
    # the higher chunk (203 % 3 == 2, 210 % 3 == 0): only the cross block's
    # transposed side can drop 210
    rows += [(203, [0.6, 1.0]), (210, [0.6, 1.0005])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    chunked = sorted(
        (r.vec_id, r.cell, r.keep)
        for r in semantic_dedup(emb, cents, threshold=0.999,
                                max_group_size=3).collect()
    )

    def cos(u, v):
        return sum(a * b for a, b in zip(u, v)) / (math.hypot(*u) * math.hypot(*v))

    # nearest centroid, ties to the first; dropped iff a lower-id cellmate
    # has ROUND(cosine, 6) >= threshold
    cell = {i: max(cents, key=lambda c: cos(v, c[1]))[0] for i, v in rows}
    replay = sorted(
        (i, cell[i], not any(
            j < i and cell[j] == cell[i] and round(cos(u, v), 6) >= 0.999
            for j, u in rows
        ))
        for i, v in rows
    )
    assert chunked == replay
    # sanity: the dense cell really did drop someone, and id 0 survived
    kept0 = [v for v, c, k in chunked if c == 0 and k]
    assert 0 in kept0 and len(kept0) < 20


def test_neardup_incremental_admits_batches(spark):
    """Incremental dedup: batch 2 near-dups against the store built from
    batches 0+1 without their text; pairs always touch a new doc (old×old
    excluded — they were emitted at admission time); values equal a
    python replica of the hash-set Jaccard; appending store rows admits
    the next batch."""
    from pmcanalysis_spark.operators.dedup import (
        neardup_incremental,
        neardup_signature_store,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (0, base),
        (1, base + " extra tail"),               # near-dup of 0
        (2, "completely different words " * 3),
        (10, base),                              # new: dup of old 0 and 1
        (11, "completely different words " * 3), # new: dup of old 2
        (12, "utterly unrelated content nothing shared here at all ok"),
        (13, base),                              # new: dup of old 0 AND new 10
    ]
    old = spark.createDataFrame([d for d in docs if d[0] < 10], "doc_id long, text string")
    new = spark.createDataFrame([d for d in docs if d[0] >= 10], "doc_id long, text string")

    store = neardup_signature_store(old, num_hashes=8, bands=4)
    pairs, new_rows = neardup_incremental(new, store, threshold=0.5, num_hashes=8, bands=4)
    got = {(r.a_id, r.b_id): round(r.jaccard, 6) for r in pairs.collect()}

    assert all(a >= 10 or b >= 10 for a, b in got)          # touches a new doc
    assert (0, 10) in got and got[(0, 10)] == 1.0           # new x old exact dup
    assert (2, 11) in got and got[(2, 11)] == 1.0
    assert (10, 13) in got and got[(10, 13)] == 1.0         # new x new
    assert (0, 13) in got
    assert not any(a < 10 and b < 10 for a, b in got)       # old x old never
    assert all(12 not in p for p in got)                    # unrelated doc clean

    # replica of the hash-set Jaccard for the (1, 10) near-pair
    import hashlib
    def hset(text):
        toks = text.split(" ")
        grams = {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 3, 0) + 1)
                 if len(toks[i:i + 3]) == 3}
        return {int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams}
    a, b = hset(docs[1][1]), hset(docs[3][1])
    exp = round(len(a & b) / len(a | b), 6)
    assert got[(1, 10)] == exp

    # admit the batch, then a later batch dups against a batch-2 doc
    store2 = store.unionByName(new_rows)
    b3 = spark.createDataFrame([(20, base)], "doc_id long, text string")
    pairs3, _ = neardup_incremental(b3, store2, threshold=0.5, num_hashes=8, bands=4)
    got3 = {(r.a_id, r.b_id) for r in pairs3.collect()}
    assert (13, 20) in got3 and (0, 20) in got3


def test_neardup_incremental_store_through_snapshots(spark, tmp_path):
    """The signature store lives naturally in the snapshot layer: each
    crawl batch appends its store rows as a commit; admitting batch N
    reads the current snapshot; a rollback re-admits against the older
    corpus (a bad-crawl undo). Sorted sh arrays make store rows stable
    across re-commits."""
    from pmcanalysis_spark.operators.dedup import (
        neardup_incremental,
        neardup_signature_store,
    )
    from pmcanalysis_spark.snapshots import SnapshotTable

    base = "the quick brown fox jumps over the lazy dog again and again"
    b0 = spark.createDataFrame([(0, base)], "doc_id long, text string")
    b1 = spark.createDataFrame([(10, base)], "doc_id long, text string")
    b2 = spark.createDataFrame([(20, base)], "doc_id long, text string")

    st = SnapshotTable(spark, str(tmp_path / "store"))
    st.commit(neardup_signature_store(b0, num_hashes=8, bands=4))

    p1, rows1 = neardup_incremental(b1, st.read(), threshold=0.5,
                                    num_hashes=8, bands=4)
    assert {(r.a_id, r.b_id) for r in p1.collect()} == {(0, 10)}
    v2 = st.commit(rows1)

    p2, _ = neardup_incremental(b2, st.read(), threshold=0.5,
                                num_hashes=8, bands=4)
    assert {(r.a_id, r.b_id) for r in p2.collect()} == {(0, 20), (10, 20)}

    # bad crawl: roll back past batch 1, re-admit batch 2 against v1 only
    st.rollback(v2 - 1)
    p3, _ = neardup_incremental(b2, st.read(), threshold=0.5,
                                num_hashes=8, bands=4)
    assert {(r.a_id, r.b_id) for r in p3.collect()} == {(0, 20)}


def test_line_dedup_strips_corpus_common_lines(spark):
    """RefinedWeb-style boilerplate removal: the shared nav/footer lines
    vanish from every doc, unique body lines survive in original order,
    and a doc made entirely of boilerplate comes back with text=''."""
    from pmcanalysis_spark.operators.dedup import line_dedup

    nav = "Home | About | Contact"
    cookie = "Accept Cookies"
    rows = [
        (1, f"{nav}\nalpha article body\nmiddle unique line\n{cookie}"),
        (2, f"{nav}\nbeta article body\n{cookie}"),
        (3, f"{nav}\n{cookie}"),  # pure boilerplate page
        (4, "standalone page with no shared lines"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in line_dedup(docs, min_docs=2).collect()}

    assert got[1].text == "alpha article body\nmiddle unique line"
    assert (got[1].n_lines, got[1].n_removed) == (4, 2)
    assert got[2].text == "beta article body"
    assert got[3].text == "" and got[3].n_removed == 2
    assert got[4].text == rows[3][1] and got[4].n_removed == 0


def test_line_dedup_normalizes_and_skips_blank_lines(spark):
    """Matching is on lower(trim(line)); blank / whitespace-only lines are
    dropped from counting AND from the rebuilt text."""
    from pmcanalysis_spark.operators.dedup import line_dedup

    rows = [
        (1, "  Accept COOKIES  \n\nreal content one\n   "),
        (2, "accept cookies\nreal content two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in line_dedup(docs, min_docs=2).collect()}
    assert got[1].text == "real content one" and got[1].n_lines == 2
    assert got[2].text == "real content two"


def test_line_dedup_min_docs_is_distinct_doc_count(spark):
    """A line repeated many times WITHIN one doc is not corpus-common:
    the threshold counts distinct documents, not occurrences."""
    from pmcanalysis_spark.operators.dedup import line_dedup

    rows = [
        (1, "echo\necho\necho\nunique body"),
        (2, "other body"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in line_dedup(docs, min_docs=2).collect()}
    assert got[1].text == "echo\necho\necho\nunique body"
    assert got[1].n_removed == 0


def test_line_dedup_partition_invariance(spark):
    """Identical output under any input partitioning (the property the
    driver-gate hash compare relies on at every SF)."""
    from pmcanalysis_spark.operators.dedup import line_dedup

    rows = [
        (i, f"shared header\nbody {i % 7} text\nshared footer") for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one = {
        tuple(r) for r in line_dedup(docs.coalesce(1), min_docs=2).collect()
    }
    many = {
        tuple(r) for r in line_dedup(docs.repartition(13), min_docs=2).collect()
    }
    assert one == many


def test_apply_line_cut_consumes_common_line_set(spark):
    """Detect-once / cut-many: a precomputed common-line table drives
    apply_line_cut through one broadcast join, and the result equals the
    one-shot line_dedup."""
    from pmcanalysis_spark.operators.dedup import apply_line_cut, common_lines, line_dedup

    nav = "Home | About | Contact"
    cookie = "Accept Cookies"
    rows = [
        (1, f"{nav}\nalpha article body\n{cookie}"),
        (2, f"{nav}\nbeta article body"),
        (3, f"{cookie}\ngamma article body"),
        (4, "echo\necho\necho\ndelta body"),
        (5, f"{nav}\n{cookie}\nepsilon body"),
        (6, "echo\nzeta body"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    common = spark.createDataFrame(common_lines(docs, min_docs=2).collect(), "line_key string")
    assert {r.line_key for r in common.collect()} == {nav.lower(), cookie.lower(), "echo"}

    cut = apply_line_cut(docs, common)
    via_cut = {r.doc_id: (r.n_lines, r.n_removed, r.text) for r in cut.collect()}
    via_batch = {
        r.doc_id: (r.n_lines, r.n_removed, r.text)
        for r in line_dedup(docs, min_docs=2).collect()
    }
    assert via_cut == via_batch
    assert via_cut[5] == (3, 2, "epsilon body")
    plan = cut._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_semantic_decontaminate_flags_planted_paraphrases(spark):
    """An eval vector's scaled near-copy (no shared tokens needed) is
    flagged; an orthogonal vector is not; every max_sim equals the max over
    the eval set of the ROUND(6) cosine computed here in plain Python."""
    import math

    from pmcanalysis_spark.operators.dedup import semantic_decontaminate

    evs = [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])]
    docs = [
        (1, [2.0, 0.1, 0.0, 0.0]),   # near eval 100 (cos ~0.999)
        (2, [0.0, 0.0, 1.0, 0.0]),   # orthogonal to both
        (3, [0.0, 3.0, 0.0, 0.0]),   # exact direction of eval 101
    ]
    ev = spark.createDataFrame(evs, "vec_id long, vec array<double>")
    corpus = spark.createDataFrame(docs, "vec_id long, vec array<double>")
    got = {
        r.vec_id: (r.max_sim, r.contaminated)
        for r in semantic_decontaminate(corpus, ev, threshold=0.95).collect()
    }

    def cos(u, v):
        norm = lambda x: math.sqrt(sum(a * a for a in x))
        return sum(a * b for a, b in zip(u, v)) / (norm(u) * norm(v))

    want = {i: max(round(cos(v, e), 6) for _, e in evs) for i, v in docs}
    assert want == {1: 0.998752, 2: 0.0, 3: 1.0}
    assert got == {i: (m, m >= 0.95) for i, m in want.items()}


def test_semantic_decontaminate_empty_eval_set(spark):
    """With no eval vectors nothing can be near one: every corpus row comes
    back with max_sim -inf and not contaminated."""
    from pmcanalysis_spark.operators.dedup import semantic_decontaminate

    ev = spark.createDataFrame([], "vec_id long, vec array<double>")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [0.0, 0.0])], "vec_id long, vec array<double>"
    )
    got = {
        r.vec_id: (r.max_sim, r.contaminated)
        for r in semantic_decontaminate(corpus, ev).collect()
    }
    assert got == {i: (float("-inf"), False) for i in (1, 2, 3)}


def test_minhash_signatures_duplicate_invariant_raw_path(spark):
    """The raw-gram path (no per-doc distinct) must produce the signature of
    the DISTINCT shingle set — a min over permuted hashes cannot see
    duplicates. Doc 1 repeats each of its three shingles, doc 4 holds the
    same three once each; both equal a Python replay over the distinct set."""
    import hashlib

    from pmcanalysis_spark.operators.dedup import MERSENNE61, minhash_signatures

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "x y z w v u t s"), (3, "a b c d"),
         (4, "a b c a b")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: list(r["sig"])
           for r in minhash_signatures(docs, num_hashes=8).collect()}

    def sig(shingles):
        hexes = [hashlib.md5(s.encode()).hexdigest() for s in shingles]
        hs = [(int(h[0:15], 16), int(h[15:30], 16) % (1 << 57)) for h in hexes]
        return [min((h1 + i * h2) % MERSENNE61 for h1, h2 in hs) for i in range(8)]

    expect = sig({"a b c", "b c a", "c a b"})
    assert got[1] == got[4] == expect
    assert got[3] == sig({"a b c", "b c d"}) != expect


def test_hamming_pairs_first_band_dedup_on_duplicate_heavy_input(spark):
    """r6: with many IDENTICAL signatures (collide in every band), the
    first-shared-band filter must still emit each qualifying pair exactly
    once — the set a brute-force all-pairs scan produces."""
    from itertools import combinations

    from pmcanalysis_spark.operators.dedup import hamming_pairs

    sigs = [(i, 0b1111000) for i in range(6)] + [(i, 0b1111001) for i in range(6, 10)]
    df = spark.createDataFrame(sigs, "doc_id long, sig long")
    got = {(r["a_id"], r["b_id"], r["hamming"])
           for r in hamming_pairs(df, n_bits=64, max_hamming=2, bands=16).collect()}
    exp = set()
    for (a, sa), (b, sb) in combinations(sigs, 2):
        h = bin(sa ^ sb).count("1")
        if h <= 2:
            exp.add((min(a, b), max(a, b), h))
    assert got == exp and len(got) == len(exp)


def test_caller_arguments_raise_value_error(spark):
    """Bad caller arguments raise ValueError — a check that survives
    ``python -O``: more than 16 MinHash slots (the affine family is sized
    for 16), a band count that does not divide the slots (the trailing
    slots would silently drop out of every band key), and Hamming banding
    without the pigeonhole guarantee or with uneven bands."""
    import pytest

    from pmcanalysis_spark.operators.dedup import (
        hamming_pairs,
        minhash_jaccard_estimate,
        neardup_incremental,
        neardup_signature_store,
    )

    docs = _docs(spark)
    with pytest.raises(ValueError):
        minhash_signatures(docs, num_hashes=17)
    with pytest.raises(ValueError):
        neardup_signature_store(docs, num_hashes=20, bands=4)
    for op in (minhash_lsh_pairs, neardup_signature_store, minhash_jaccard_estimate):
        with pytest.raises(ValueError):
            op(docs, num_hashes=8, bands=3)
    with pytest.raises(ValueError):
        neardup_incremental(docs, neardup_signature_store(docs, num_hashes=8, bands=4),
                            num_hashes=8, bands=3)
    sigs = spark.createDataFrame([(1, 5), (2, 7)], "doc_id long, sig long")
    with pytest.raises(ValueError):
        hamming_pairs(sigs, n_bits=64, max_hamming=4, bands=4)
    with pytest.raises(ValueError):
        hamming_pairs(sigs, n_bits=64, max_hamming=2, bands=6)


def test_incremental_neardup_agrees_with_batch(spark):
    """Admitting the new docs (doc_id % 5 == 0) against the store of the
    old ones yields exactly the batch near-dup pairs that touch a new doc:
    both paths band the same signatures and confirm over the same h1
    shingle-hash sets, so pairs and Jaccard values match (the batch side
    runs without the hot-shingle drop, which the incremental confirm does
    not apply)."""
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.dedup import (
        neardup_incremental,
        neardup_signature_store,
        neardup_text_scalable,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    args = dict(n=3, threshold=0.5, num_hashes=8, bands=4)
    store = neardup_signature_store(old, n=3, num_hashes=8, bands=4)
    inc, _ = neardup_incremental(new, store, **args)
    got = {(r.a_id, r.b_id): r.jaccard for r in inc.collect()}
    batch = {
        (r.a_id, r.b_id): r.jaccard
        for r in neardup_text_scalable(docs, max_shingle_df=None, **args).collect()
        if r.a_id % 5 == 0 or r.b_id % 5 == 0
    }
    assert len(batch) > 0
    assert got == batch


def test_incremental_neardup_refuses_a_store_built_with_other_params(spark):
    """A store row records the n/num_hashes/bands it was built with; admitting
    against it with other ones bands and hashes in another space, so it must
    fail loudly instead of returning no near-dups. With matching ones the
    exact duplicate is found."""
    import pytest

    from pmcanalysis_spark.operators.dedup import (
        neardup_incremental,
        neardup_signature_store,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame([(1, text)], "doc_id long, text string")
    new = spark.createDataFrame([(2, text)], "doc_id long, text string")
    store = neardup_signature_store(old, num_hashes=8, bands=4)
    pairs, _ = neardup_incremental(new, store, num_hashes=8, bands=4)
    assert [(r.a_id, r.b_id) for r in pairs.collect()] == [(1, 2)]
    for args in (dict(num_hashes=16, bands=4), dict(num_hashes=8, bands=2), dict(n=2)):
        kw = {"num_hashes": 8, "bands": 4, **args}
        pairs, _ = neardup_incremental(new, store, **kw)
        with pytest.raises(Exception, match="signature store row built with n=3 num_hashes=8"):
            pairs.collect()
    # a store written before rows recorded their params
    with pytest.raises(ValueError, match="no params column"):
        neardup_incremental(new, store.drop("params"), num_hashes=8, bands=4)
