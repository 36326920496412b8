from __future__ import annotations

import math

from pmcanalysis_spark.operators.textstats import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)


def test_token_count(spark):
    df = spark.createDataFrame([(1, "a bb ccc dddd eeeee")], "doc_id long, text string")
    r = token_count(df).first()
    assert r.n_tokens == 5
    # ceil(1/4)+ceil(2/4)+ceil(3/4)+ceil(4/4)+ceil(5/4) = 1+1+1+1+2
    assert r.n_subtokens == 6


def test_lang_id_english_vs_german(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house in a boat"),
            (2, "der hund und die katze ist nicht mit der maus"),
            (3, "zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is a fine day for all of us"),
         (2, "x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in quality_score(df).collect()}
    assert 0.0 <= out[2].quality < out[1].quality <= 1.0
    assert out[1].stopword_ratio > 0


def test_fingerprint_order_sensitive_and_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fingerprint for r in doc_fingerprint(df).collect()}
    assert out[1] == out[3]
    assert out[1] != out[2]


def test_redact_pii(spark):
    from pmcanalysis_spark.operators.textstats import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org thanks"),
            (2, "server 192.168.1.254 and backup 10.0.0.1"),
            (3, "call 555-0199-4242 or 555 123 4567 today"),
            (4, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert rows[1].redacted == "mail me at <EMAIL> thanks"
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_phone) == (1, 0, 0)
    assert rows[2].redacted == "server <IP> and backup <IP>"
    assert rows[2].n_ipv4 == 2
    assert rows[3].redacted == "call <PHONE> or <PHONE> today"
    assert rows[3].n_phone == 2
    assert rows[4].redacted == "nothing sensitive here"
    assert (rows[4].n_email, rows[4].n_ipv4, rows[4].n_phone) == (0, 0, 0)


def test_vocab_build_and_encode(spark):
    from pmcanalysis_spark.operators.textstats import build_vocab, encode_docs

    docs = spark.createDataFrame(
        [
            (1, "a b a c a b"),
            (2, "b c d"),
            (3, "zzz a"),
        ],
        "doc_id long, text string",
    )
    vocab = {r.token: (r.token_id, r.n) for r in build_vocab(docs, k=3).collect()}
    # counts: a=4, b=3, c=2, d=1, zzz=1 -> top-3 with rank by (count, token)
    assert vocab == {"a": (1, 4), "b": (2, 3), "c": (3, 2)}
    enc = {r.doc_id: r.ids
           for r in encode_docs(docs, build_vocab(docs, k=3)).collect()}
    assert enc[1] == "1,2,1,3,1,2"
    assert enc[2] == "2,3,0"      # d is OOV -> 0
    assert enc[3] == "0,1"        # zzz OOV, order preserved


def test_pack_sequences_manifest(spark):
    """Known layout: docs of 3/4/2 tokens at seq_len=5 concat to 9 tokens ->
    chunk 0 holds d1 fully + d2 partially (5 tokens), chunk 1 the rest."""
    from pmcanalysis_spark.operators.textstats import pack_sequences

    rows = [(1, "a b c"), (2, "d e f g"), (3, "h i"), (4, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.chunk_id: (r.n_docs, r.n_tokens)
        for r in pack_sequences(docs, seq_len=5).collect()
    }
    assert out == {0: (2, 5), 1: (2, 4)}


def test_pack_sequences_partition_invariant(spark):
    """The two-phase offset scheme must produce the identical manifest at
    any partition count — only doc-id order defines the packing."""
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.textstats import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def rows(p):
        return sorted(
            tuple(r)
            for r in pack_sequences(docs, seq_len=64, partitions=p).collect()
        )

    r1, r8 = rows(1), rows(8)
    assert r1 == r8 and len(r1) > 2
    # conservation: total tokens across chunks == corpus token count
    total = docs.select(
        F.sum(F.size(F.filter(F.split("text", " "), lambda t: t != "")))
    ).collect()[0][0]
    assert sum(r[2] for r in r1) == total
    # every chunk except the last is exactly full
    full = [r for r in r1[:-1]]
    assert all(r[2] == 64 for r in full)


def test_stratified_sample_deterministic_rule(spark):
    """The keep decision is a pure function of (seed, doc_id): recompute the
    md5 rule in Python and compare row sets; rate 1.0 keeps everything in
    the stratum, absent strata use default_rate (0 -> dropped)."""
    import hashlib

    from pmcanalysis_spark.operators.textstats import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = stratified_sample(
        docs, rates={"en": 1.0, "de": 0.25}, strata_col="lang", seed=7
    )
    got = {(r.doc_id, r.stratum, r.bucket) for r in out.collect()}

    def bucket(doc_id):
        h = hashlib.md5(f"7|{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % 1_000_000

    exp = set()
    for r in docs.select("doc_id", "lang").collect():
        b = bucket(r.doc_id)
        rate = {"en": 1.0, "de": 0.25}.get(r.lang, 0.0)
        if b < rate * 1_000_000:
            exp.add((r.doc_id, r.lang, b))
    assert got == exp and len(got) > 0
    # en kept in full, some de kept, everything else dropped
    langs = {s for _, s, _ in got}
    assert "en" in langs


def test_keep_filter_consistent_with_standalone_signals(spark):
    """keep_filter's quality/dup_frac/pred_lang (the builders it shares
    with the standalone operators) must equal those operators row-for-row
    in its one fused scan, and the keep/reasons logic must follow."""
    from pmcanalysis_spark.operators.textstats import (
        keep_filter,
        lang_id,
        quality_score,
        repetition_stats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kf = {r.doc_id: r for r in keep_filter(docs).collect()}
    q = {r.doc_id: r for r in quality_score(docs).collect()}
    rep = {r.doc_id: r for r in repetition_stats(docs).collect()}
    li = {r.doc_id: r for r in lang_id(docs).collect()}
    assert set(kf) == set(q)
    for d, r in kf.items():
        assert r.quality == q[d].quality
        assert r.dup_frac == rep[d].dup_frac
        assert r.pred_lang == li[d].pred_lang
        assert r.n_tokens == q[d].n_tokens
        failed = []
        if r.n_tokens < 20:
            failed.append("short")
        if r.dup_frac > 0.3:
            failed.append("repetitive")
        if r.quality < 0.5:
            failed.append("low_quality")
        if r.pred_lang not in ("de", "en", "es", "fr"):
            failed.append("lang")
        assert r.reasons == ",".join(failed)
        assert r.keep == (1 if not failed else 0)
    assert any(r.keep == 1 for r in kf.values())
    assert any(r.keep == 0 for r in kf.values())


def test_keep_filter_single_scan_no_shuffle(spark):
    """The fused keep decision must be one narrow select: no Exchange of
    any kind in the physical plan."""
    from pmcanalysis_spark.operators.textstats import keep_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = keep_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_source_stats(spark):
    from pmcanalysis_spark.operators.textstats import keep_filter, source_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = {r.source: (r.n_docs, r.n_kept) for r in
           source_stats(docs, keep_filter(docs)).collect()}
    total = sum(n for n, _ in out.values())
    assert total == docs.count()
    assert all(0 <= k <= n for n, k in out.values())


def test_unigram_logppl_reference(spark):
    """Straight Python reimplementation on a tiny corpus: common-word docs
    score lower than rare-token docs."""
    import math
    from collections import Counter

    from pmcanalysis_spark.operators.textstats import unigram_logppl

    rows = [
        (1, "the the the and and of"),
        (2, "zyzzyva qwertyuiop xylophone"),
        (3, "the and of to"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.logppl)
           for r in unigram_logppl(docs, alpha=0.5).collect()}
    toks = {d: t.split() for d, t in [(r[0], r[1]) for r in rows]}
    counts = Counter(w for ws in toks.values() for w in ws)
    total, vocab = sum(counts.values()), len(counts)
    nll = {w: round(-math.log((c + 0.5) / (total + 0.5 * vocab)), 9)
           for w, c in counts.items()}
    for d, ws in toks.items():
        exp = round(sum(nll[w] for w in ws) / len(ws), 6)
        assert got[d] == (len(ws), exp), (d, got[d], exp)
    # the rare-token doc is the most "perplexing"
    assert got[2][1] > got[1][1] and got[2][1] > got[3][1]


def test_token_budget_sample(spark):
    """Greedy per-source prefix under the hash order: budget respected
    exactly, selection deterministic and independent of input order."""
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.textstats import token_budget_sample

    rows = [(i, f"s{i % 2}", "tok " * (10 + i % 3)) for i in range(40)]
    docs = spark.createDataFrame(
        [(i, t.strip(), s) for i, s, t in rows], "doc_id long, text string, source string"
    )
    out = token_budget_sample(docs, budget_tokens=60).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    for src, sel in by_src.items():
        assert max(r.cum_tokens for r in sel) <= 60
        # cum is consistent with the selected docs' own sizes
        assert sum(r.n_tokens for r in sel) == max(r.cum_tokens for r in sel)
    # deterministic under reshuffle
    out2 = token_budget_sample(docs.orderBy(F.rand(123)), budget_tokens=60).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))



def test_length_quantiles_exact_golden(spark):
    """Exact mode: linear-interpolation quantiles on a known distribution,
    empty docs count as 0-token rows, singleton groups collapse to the value."""
    from pmcanalysis_spark.operators.textstats import length_quantiles

    rows = [("a", " ".join(["t"] * n)) for n in range(1, 101)]  # 1..100 tokens
    rows += [("b", "x y z"), ("c", "")]
    docs = spark.createDataFrame(
        [(f"d{i}", t, s) for i, (s, t) in enumerate(rows)],
        "doc_id string, text string, source string",
    )
    got = {
        r["source"]: r.asDict()
        for r in length_quantiles(docs, probs=(0.5, 0.9), exact=True).collect()
    }
    # 1..100: p50 = 50.5, p90 = 90.1 (linear interpolation)
    assert got["a"]["n_docs"] == 100
    assert got["a"]["p50"] == 50.5 and got["a"]["p90"] == 90.1
    assert got["b"] == {"source": "b", "n_docs": 1, "p50": 3.0, "p90": 3.0}
    assert got["c"]["p50"] == 0.0  # empty text -> 0 tokens, still a row


def test_length_quantiles_approx_within_rank_error(spark):
    """The GK-sketch scale path lands within its rank-error bound of the
    exact anchor on a skewed (power-law-ish) planted distribution."""
    from pmcanalysis_spark.operators.textstats import length_quantiles

    lengths = [1 + (i % 7) for i in range(900)] + [500 + i for i in range(100)]
    docs = spark.createDataFrame(
        [(f"d{i}", " ".join(["t"] * n), "s") for i, n in enumerate(lengths)],
        "doc_id string, text string, source string",
    )
    probs = (0.5, 0.9, 0.99)
    exact = length_quantiles(docs, probs=probs, exact=True).collect()[0]
    approx = length_quantiles(docs, probs=probs, accuracy=10000).collect()[0]
    srt = sorted(lengths)
    n = len(srt)
    for p in probs:
        col = f"p{round(p * 100)}"
        # rank error 1/accuracy of n -> at n=1000, accuracy=10000 the
        # approx value must be AT a rank within +-1 of the target rank
        lo = srt[max(0, int(p * n) - 1)]
        hi = srt[min(n - 1, int(p * n) + 1)]
        assert lo <= approx[col] <= hi, (col, approx[col], lo, hi)
        assert exact[col] >= lo - 1 and exact[col] <= hi + 1


def test_shuffle_order_is_md5_permutation(spark):
    """order_idx is exactly 0..n-1; the order matches a Python replica of
    the md5 rank rule; the result is partitioning-invariant (the two-phase
    offsets describe the same global order at any parallelism); a new seed
    is a different permutation."""
    import hashlib

    from pmcanalysis_spark.operators.textstats import shuffle_order

    ids = list(range(200))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def key(seed, i):
        return int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:15], 16)

    expect = {
        i: rank
        for rank, (_, i) in enumerate(sorted((key(11, i), i) for i in ids))
    }
    got = {r.doc_id: r.order_idx for r in shuffle_order(docs, seed=11).collect()}
    assert got == expect
    assert sorted(got.values()) == list(range(200))

    # partition-count invariance: 1 partition and 7 partitions, same order
    one = {
        r.doc_id: r.order_idx
        for r in shuffle_order(docs.coalesce(1), seed=11, partitions=1).collect()
    }
    seven = {
        r.doc_id: r.order_idx
        for r in shuffle_order(docs.repartition(7), seed=11, partitions=7).collect()
    }
    assert one == expect and seven == expect

    other = {r.doc_id: r.order_idx for r in shuffle_order(docs, seed=12).collect()}
    assert sorted(other.values()) == list(range(200))
    assert other != got


def test_shard_manifest_greedy_whole_doc(spark):
    """Shards hold consecutive shuffle-order docs; every doc lands wholly
    in one shard; offsets are the exclusive prefix sum; partition-count
    invariant; conservation: sum(n_tok) == last start + last n_tok."""
    import hashlib

    from pmcanalysis_spark.operators.textstats import shard_manifest

    rows = [(i, " ".join(["w"] * (5 + i % 7))) for i in range(60)]
    rows.append((999, ""))  # zero tokens: excluded
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.shard_id, r.start_offset, r.n_tok)
           for r in shard_manifest(docs, tokens_per_shard=40, seed=5).collect()}
    assert 999 not in got and len(got) == 60

    def key(i):
        return int(hashlib.md5(f"5|{i}".encode()).hexdigest()[:15], 16)

    order = sorted(range(60), key=lambda i: (key(i), i))
    off = 0
    for i in order:
        n = 5 + i % 7
        assert got[i] == (off // 40, off, n), i
        off += n
    assert off == sum(5 + i % 7 for i in range(60))

    again = {r.doc_id: (r.shard_id, r.start_offset, r.n_tok)
             for r in shard_manifest(docs.repartition(7), tokens_per_shard=40,
                                     seed=5, partitions=3).collect()}
    assert again == got


def test_temperature_mix_python_replica(spark):
    """The whole α-sampling chain — per-source token mass, sqrt weights,
    rates, md5 keep rule — recomputed in straight Python; row sets must
    match exactly. Also pins the semantics: α=1 gives proportional rates
    (all equal when target < total), rates never exceed 1, and a bigger α
    narrows the tail-vs-head rate gap."""
    import hashlib
    import math

    from pmcanalysis_spark.operators.textstats import temperature_mix

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = temperature_mix(docs, target_tokens=3_000, alpha=0.5, seed=23)
    got = {(r.doc_id, r.source, r.n_tokens, r.rate) for r in out.collect()}

    rows = [
        (r.doc_id, r.source, len([t for t in r.text.split(" ") if t]))
        for r in docs.select("doc_id", "source", "text").collect()
    ]
    totals: dict[str, int] = {}
    for _, s, n in rows:
        totals[s] = totals.get(s, 0) + n
    w = {s: round(math.sqrt(float(t)), 9) for s, t in totals.items() if t > 0}
    wsum = float(sum(w.values()))  # 9-dp values: float sum is exact enough
    rate = {
        s: round(min(1.0, w[s] * 3000.0 / (float(totals[s]) * wsum)), 6)
        for s in w
    }
    exp = set()
    for doc_id, s, n in rows:
        b = int(hashlib.md5(f"23|{doc_id}".encode()).hexdigest()[:15], 16) % 1_000_000
        if s in rate and b < int(round(rate[s] * 1_000_000)):
            exp.add((doc_id, s, n, rate[s]))
    assert got == exp and len(got) > 0
    assert all(r <= 1.0 for r in rate.values())

    # α=1 is proportional sampling: every source gets the same rate
    prop = {r.source: r.rate for r in
            temperature_mix(docs, target_tokens=3_000, alpha=1.0, seed=23)
            .select("source", "rate").distinct().collect()}
    assert len(set(prop.values())) == 1


def test_bigram_logppl_reference_and_order_sensitivity(spark):
    """Straight-Python replica of the interpolated-bigram formula on a tiny
    corpus, plus the property that motivates the operator: a document with
    the same BAG of words in implausible order (identical unigram ppl)
    scores strictly higher bigram logppl."""
    import math

    from pmcanalysis_spark.operators.textstats import (
        bigram_logppl,
        unigram_logppl,
    )

    texts = {
        1: "the cat sat",
        2: "the cat sat",
        3: "the cat sat",
        4: "sat cat the",  # same bag, reversed order
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.logppl) for r in bigram_logppl(df).collect()}

    # python replica
    docs = {k: v.split() for k, v in texts.items()}
    uni: dict[str, int] = {}
    big: dict[tuple, int] = {}
    for t in docs.values():
        for w in t:
            uni[w] = uni.get(w, 0) + 1
        for v, w in zip(t, t[1:]):
            big[(v, w)] = big.get((v, w), 0) + 1
    total, V = sum(uni.values()), len(uni)
    ctx: dict[str, int] = {}
    for (v, _), n in big.items():
        ctx[v] = ctx.get(v, 0) + n
    p1 = {w: (n + 0.5) / (total + 0.5 * V) for w, n in uni.items()}
    for k, t in docs.items():
        terms = [round(-math.log(p1[t[0]]), 9)]
        for v, w in zip(t, t[1:]):
            p2 = (big.get((v, w), 0) + 0.5) / (ctx[v] + 0.5 * V)
            terms.append(round(-math.log(0.7 * p2 + (1.0 - 0.7) * p1[w]), 9))
        assert got[k][0] == len(t)
        assert abs(got[k][1] - round(sum(terms) / len(terms), 6)) < 1e-9, k

    # order sensitivity: reversed doc ranks worse under bigram ppl …
    assert got[4][1] > got[1][1]
    # … yet identically under unigram ppl
    u = {r.doc_id: r.logppl for r in unigram_logppl(df).collect()}
    assert u[4] == u[1]


def test_dataset_split_stable_and_partitioned(spark):
    """The split is a pure function of (seed, doc_id): stable under corpus
    growth (subset rows keep their split), exhaustive + disjoint, rough
    proportions honored, and a bad weight sum raises."""
    import pytest

    from pmcanalysis_spark.operators.textstats import dataset_split

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    full = {r.doc_id: r.split for r in dataset_split(docs, seed=31).collect()}
    half = {
        r.doc_id: r.split
        for r in dataset_split(docs.filter("doc_id % 2 = 0"), seed=31).collect()
    }
    assert half == {k: v for k, v in full.items() if k % 2 == 0}

    assert set(full.values()) <= {"train", "val", "test"}
    n = len(full)
    frac_train = sum(1 for v in full.values() if v == "train") / n
    assert 0.8 < frac_train < 0.97  # 90% nominal, 500-doc sample noise

    with pytest.raises(ValueError):
        dataset_split(docs, weights={"a": 0.5, "b": 0.2}).collect()

    # a different seed reshuffles membership
    other = {r.doc_id: r.split for r in dataset_split(docs, seed=32).collect()}
    assert other != full


def _dsir_expected(docs, target, n_buckets=64, alpha=0.5, seed=1):
    """Scalar replication of dsir_weights: hashlib md5 bucket, add-alpha
    smoothing over the fixed bucket space, ROUND(9) terms, per-doc sums."""
    import hashlib
    from collections import Counter
    from decimal import Decimal

    def grams(text):
        toks = [t for t in text.split(" ") if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(g):
        h = hashlib.md5(f"{seed}|{g}".encode()).hexdigest()[:15]
        return int(h, 16) % n_buckets

    raw = Counter(bucket(g) for _, t in docs for g in grams(t))
    tgt = Counter(bucket(g) for _, t in target for g in grams(t))
    nq_tot, np_tot = sum(raw.values()), sum(tgt.values())
    lr = {
        b: round(
            math.log((tgt.get(b, 0) + alpha) / (np_tot + alpha * n_buckets))
            - math.log((nq + alpha) / (nq_tot + alpha * n_buckets)),
            9,
        )
        for b, nq in raw.items()
    }
    out = {}
    for did, t in docs:
        gs = grams(t)
        if gs:
            s = sum(Decimal(str(lr[bucket(g)])) for g in gs)
            out[did] = (len(gs), round(float(s), 6))
    return out


def test_dsir_weights_matches_scalar_replication(spark):
    """Value-exact vs a pure-Python hashlib replication of the hashed
    n-gram importance weights (Xie et al. 2023)."""
    from pmcanalysis_spark.operators.textstats import dsir_weights

    docs = [
        (1, "spark shuffle join window spark"),
        (2, "gene protein disease phenotype pathway"),
        (3, "gene protein disease gene protein"),
        (4, "spark scan filter project"),
        (5, ""),
    ]
    target = [d for d in docs if d[0] in (2, 3)]
    got = {
        r.doc_id: (r.n_grams, r.log_w)
        for r in dsir_weights(
            spark.createDataFrame(docs, "doc_id long, text string"),
            spark.createDataFrame(target, "doc_id long, text string"),
            n_buckets=64,
            alpha=0.5,
            seed=1,
        ).collect()
    }
    exp = _dsir_expected(docs, target, n_buckets=64)
    assert got == exp
    assert 5 not in got  # empty doc contributes no grams, emits no row


def test_dsir_weights_ranks_in_domain_higher(spark):
    """The point of the score: docs that look like the target corpus get
    a higher log-weight than off-domain docs."""
    from pmcanalysis_spark.operators.textstats import dsir_weights

    bio = [(i, "gene protein disease phenotype pathway enzyme") for i in range(5)]
    web = [(i + 100, "click here buy now free shipping sale") for i in range(5)]
    docs = spark.createDataFrame(bio + web, "doc_id long, text string")
    target = spark.createDataFrame(bio[:2], "doc_id long, text string")
    got = dsir_weights(docs, target, n_buckets=256).collect()
    bio_w = [r.log_w for r in got if r.doc_id < 100]
    web_w = [r.log_w for r in got if r.doc_id >= 100]
    assert min(bio_w) > max(web_w)


def test_dsir_weights_partition_invariance(spark):
    from pmcanalysis_spark.operators.textstats import dsir_weights

    docs = spark.createDataFrame(
        [(i, f"alpha w{i % 11} beta w{(i * 3) % 11} gamma") for i in range(60)],
        "doc_id long, text string",
    )
    tgt = docs.filter("doc_id % 5 = 0")
    one = {
        tuple(r)
        for r in dsir_weights(docs.coalesce(1), tgt, n_buckets=64).collect()
    }
    many = {
        tuple(r)
        for r in dsir_weights(docs.repartition(13), tgt, n_buckets=64).collect()
    }
    assert one == many
