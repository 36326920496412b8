"""Graph statistics: degree centrality and oriented-wedge triangle count."""

from __future__ import annotations

from pmcanalysis_spark.operators.graph import degree_centrality, triangle_count


def _edges(spark):
    # triangle 1-2-3, pendant 3-4, plus noise: duplicate edge, reversed
    # duplicate, and a self-loop — all must not change the counts
    rows = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 1), (1, 2), (4, 4)]
    return spark.createDataFrame(rows, "src long, dst long")


def test_degree_centrality(spark):
    deg = {r.id: r.degree for r in degree_centrality(_edges(spark)).collect()}
    assert deg == {1: 2, 2: 2, 3: 3, 4: 1}


def test_triangle_count(spark):
    assert triangle_count(_edges(spark)).collect()[0].n_triangles == 1


def test_triangle_count_k4(spark):
    # K4 has exactly 4 triangles; feed edges in mixed orientations
    rows = [(1, 2), (3, 1), (1, 4), (2, 3), (4, 2), (3, 4)]
    e = spark.createDataFrame(rows, "src long, dst long")
    assert triangle_count(e).collect()[0].n_triangles == 4
    deg = {r.id: r.degree for r in degree_centrality(e).collect()}
    assert deg == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_free(spark):
    # a path graph and a star: zero triangles
    rows = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13)]
    e = spark.createDataFrame(rows, "src long, dst long")
    assert triangle_count(e).collect()[0].n_triangles == 0


def test_triangle_count_matches_brute_force(spark):
    """The id-order orientation counts exactly the triangles a Python brute
    force finds on K4, a planted-hub star+triangles graph, and a
    deterministic pseudo-random graph with self-loops and repeated edges."""
    import random
    from itertools import combinations

    rows = [(1, 2), (3, 1), (1, 4), (2, 3), (4, 2), (3, 4)]  # K4
    # hub vertex 0 connected to everything + a few triangles through it
    rows += [(0, i) for i in range(10, 30)] + [(10, 11), (12, 13), (14, 15)]
    rng = random.Random(99)
    rows += [(rng.randrange(50), rng.randrange(50)) for _ in range(200)]
    e = spark.createDataFrame(rows, "src long, dst long")
    adj = {}
    for s, d in rows:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    brute = sum(
        1 for a, b, c in combinations(sorted(adj), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    assert brute >= 7  # K4's 4 + the three hub triangles
    assert triangle_count(e).collect()[0].n_triangles == brute


def _py_pagerank(edges, damping=0.85, iters=60):
    nodes = sorted({v for e in edges for v in e})
    n = len(nodes)
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dang = sum(r[v] for v in nodes if v not in out)
        new = {}
        for v in nodes:
            new[v] = (1 - damping) / n + damping * dang / n
        for s, ds in out.items():
            for d in ds:
                new[d] += damping * r[s] / len(ds)
        r = new
    return r


def test_pagerank_cycle_uniform(spark):
    from pmcanalysis_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    got = {r.id: r.rank for r in pagerank(e).collect()}
    for v in (1, 2, 3):
        assert abs(got[v] - 1 / 3) < 1e-6


def test_pagerank_matches_python_power_iteration(spark):
    """Chain with a dangling sink + a hub: ranks match an independent
    Python power iteration to 1e-5, and sum to 1."""
    from pmcanalysis_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 4), (1, 3), (5, 1), (5, 2), (5, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(e, max_iter=60, tol=1e-9).collect()}
    exp = _py_pagerank(edges)
    assert abs(sum(got.values()) - 1.0) < 1e-6
    for v, rv in exp.items():
        assert abs(got[v] - rv) < 1e-5, (v, got[v], rv)


def test_pagerank_exact_sums_matches_default(spark):
    """The DECIMAL(28,12) sum mode is the same algorithm, just
    order-independent: ranks agree with the default float path to well
    under the decimal quantum on a fixture graph with dangling mass."""
    from pmcanalysis_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("e", "a")],
        "src string, dst string",
    )
    base = {r["id"]: r["rank"] for r in
            pagerank(edges, max_iter=3, tol=-1.0).collect()}
    exact = {r["id"]: r["rank"] for r in
             pagerank(edges, max_iter=3, tol=-1.0, exact_sums=True).collect()}
    assert set(base) == set(exact)
    for k in base:
        assert abs(base[k] - exact[k]) < 1e-9, (k, base[k], exact[k])
    assert abs(sum(exact.values()) - 1.0) < 1e-6


def test_host_graph_resolution_rules(spark):
    """absolute -> authority, scheme-relative -> host, other scheme ->
    dropped, path-relative -> source host (self-edge), hosts lowercased,
    parallel links counted."""
    from pmcanalysis_spark.operators.graph import host_graph

    links = spark.createDataFrame(
        [
            ("https://Src.Example.org/p/1", "https://DST.example.org/x", "a"),
            ("https://src.example.org/p/2", "https://dst.example.org/y", "b"),
            ("https://src.example.org/p/1", "//proto.example.org/z", "c"),
            ("https://src.example.org/p/1", "/local/page", "d"),
            ("https://src.example.org/p/1", "mailto:x@y.z", "e"),
            ("https://src.example.org/p/1", "javascript:void(0)", "f"),
            ("https://src.example.org/p/1", "ftp://files.example.org/g", "g"),
        ],
        "url string, href string, anchor string",
    )
    got = {
        (r.src_host, r.dst_host): r.n_links for r in host_graph(links).collect()
    }
    assert got == {
        ("src.example.org", "dst.example.org"): 2,
        ("src.example.org", "proto.example.org"): 1,
        ("src.example.org", "src.example.org"): 1,
    }


def test_extract_links_plan_stays_jvm_side_and_host_graph_partial_agg(spark):
    """extract_links must fuse into the page scan: zero Exchange, zero
    Python crossing (the whole point vs the pandas-UDF text extractor);
    host_graph's one exchange carries a map-side partial count."""
    from pmcanalysis_spark.extract import extract_links
    from pmcanalysis_spark.operators.graph import host_graph

    pages = spark.createDataFrame(
        [(f"https://s{i % 3}.example.org/p/{i}",
          f'<a href="https://s{(i + 1) % 3}.example.org/">n</a>')
         for i in range(30)],
        "url string, html string",
    )
    links = extract_links(pages)
    lp = links._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in lp
    assert "EvalPython" not in lp and "MapInPandas" not in lp
    hp = host_graph(links)._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in hp and "CartesianProduct" not in hp


def test_harmonic_centrality_hand_computed(spark):
    """Path a->b->c->d with a shortcut a->c, radius 2:
    d(a,b)=1; d(a,c)=1 (shortcut beats the 2-hop path); d(b,c)=1;
    d(b,d)=2; d(a,d)=2; d(c,d)=1. rank(b)=1, rank(c)=2, rank(d)=2,
    rank(a)=0 (no in-edges). Self-loop on a ignored."""
    from pmcanalysis_spark.operators.graph import harmonic_centrality

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("a", "a")],
        "src string, dst string",
    )
    got = {r.id: r.rank for r in harmonic_centrality(e, max_hops=2).collect()}
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 2.0}


def test_harmonic_centrality_radius_and_dedup(spark):
    """A 2-hop pair reachable two ways counts ONCE; radius 3 adds 1/3
    terms through the decimal recipe (cycle of 4)."""
    from pmcanalysis_spark.operators.graph import harmonic_centrality

    # diamond: a->b->d, a->c->d  (d(a,d)=2, one contribution)
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],
        "src string, dst string",
    )
    got = {r.id: r.rank for r in harmonic_centrality(e, max_hops=2).collect()}
    assert got["d"] == 1.0 + 1.0 + 0.5  # from b(1), c(1), a(2) once

    # 4-cycle at radius 3: every vertex sees the other three at d=1,2,3
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    got3 = {r.id: r.rank for r in harmonic_centrality(cyc, max_hops=3).collect()}
    expect = round(1.0 + 0.5 + round(1.0 / 3, 9), 6)
    assert set(got3.values()) == {expect}


def test_pagerank_driver_path_bit_identical_to_distributed(spark):
    """r6: the small-graph driver fast path must reproduce the distributed
    plan's exact_sums ranks BIT-exactly (DECIMAL(28,12) HALF_UP quantized
    sums + shortest-repr ROUND replicated operation-for-operation)."""
    from pmcanalysis_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("e", "a"),
         ("d", "b"), ("b", "a")],
        "src string, dst string",
    )
    fast = {r["id"]: r["rank"] for r in
            pagerank(edges, max_iter=3, tol=-1.0, exact_sums=True).collect()}
    dist = {r["id"]: r["rank"] for r in
            pagerank(edges, max_iter=3, tol=-1.0, exact_sums=True,
                     driver_threshold=0).collect()}
    assert fast == dist  # exact float equality, not a tolerance
