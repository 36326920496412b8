"""Graph statistics over the materialized knowledge graph.

After canonicalization the KG is an edge table; the first questions a
consumer asks of it are structural — hub entities (degree), clustering
(triangles), reachability (components — already in ``canonicalize``). These
are the DataFrame-native versions: every step is an equi-join or
aggregation on a vertex key, so the plans shuffle on well-distributed ids
and broadcast nothing but counters.

Scale notes: degree is one groupBy. Triangle counting uses the standard
oriented-edge trick (count each triangle once by ordering vertices, join
work ∝ Σ_v deg_out(v)² with out-edges oriented low->high id; a hub whose
id is low pays deg(v)² wedges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_centrality(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(id, degree): distinct-neighbor count in the undirected view of the
    edge table (self-loops ignored, multi-edges counted once)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("degree")
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One row (n_triangles): triangles in the undirected simple graph.

    Orient every edge from the smaller vertex id to the larger (each
    triangle a<b<c then exists exactly once as the wedge a->b, b->c closed
    by a->c): two self-joins, no post-hoc division by 6, no duplicate wedge
    explosion.

    The oriented edge table is referenced by all three join sides (ab, bc,
    ac) and Catalyst does not CSE across them, so it is persisted: whatever
    produced the edges executes once, not three times."""
    from pyspark.storagelevel import StorageLevel

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ab = e
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    wedges = ab.join(bc, "b")
    closed = wedges.join(
        ac, (wedges.a == ac.a2) & (wedges.c == ac.c2)
    )
    return closed.agg(F.count("*").alias("n_triangles"))


def _round_half_up(x: float, scale: int) -> float:
    """Replicate Spark's ROUND(double, scale): shortest decimal repr
    (BigDecimal.valueOf == repr — shortest round-trip strings are unique),
    then HALF_UP at ``scale``. Used by the pagerank driver fast path so its
    values are bit-identical to the distributed plan's."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-scale), rounding=decimal.ROUND_HALF_UP
        )
    )


def _pagerank_driver(
    edge_rows, damping: float, max_iter: int, tol: float, exact_sums: bool
):
    """Single-pass Python replica of the iterative plan for SMALL collected
    edge lists (the compressed host/term graphs the operator is documented
    for are often tiny relative to the corpus). Arithmetic mirrors the
    distributed expressions operation-for-operation: per-edge contribution
    rank/out in double; inflow and dangling sums either plain float
    (exact_sums=False — the distributed sum is partition-order-dependent
    there, so any order is equally valid) or DECIMAL(28,12)-quantized
    HALF_UP then exactly summed and converted back (exact_sums=True — the
    bit-reproducible mode the unrolled DuckDB oracles replay); final
    ROUND(rank, 9) via the same shortest-repr HALF_UP rule as Spark."""
    import decimal

    q12 = decimal.Decimal(1).scaleb(-12)
    ctx = decimal.Context(prec=50)

    def _sum(values):
        if exact_sums:
            acc = decimal.Decimal(0)
            for v in values:
                acc = ctx.add(
                    acc,
                    decimal.Decimal(repr(v)).quantize(
                        q12, rounding=decimal.ROUND_HALF_UP
                    ),
                )
            return float(acc)
        total = 0.0
        for v in values:
            total += v
        return total

    out_deg: dict = {}
    in_edges: dict = {}
    verts: set = set()
    for s, d in edge_rows:
        verts.add(s)
        verts.add(d)
        out_deg[s] = out_deg.get(s, 0) + 1
        in_edges.setdefault(d, []).append(s)
    n = len(verts)
    if n == 0:
        return []
    order = sorted(verts)
    ranks = {v: 1.0 / n for v in order}
    base = (1.0 - damping) / n
    for _ in range(max_iter):
        new_ranks = {}
        d_mass = _sum([ranks[v] for v in order if v not in out_deg])
        for v in order:
            srcs = in_edges.get(v)
            inflow = _sum([ranks[s] / out_deg[s] for s in srcs]) if srcs else 0.0
            new_ranks[v] = base + damping * (inflow + d_mass / n)
        if tol >= 0:
            delta = 0.0
            for v in order:
                delta += abs(new_ranks[v] - ranks[v])
            ranks = new_ranks
            if delta <= tol:
                break
        else:
            ranks = new_ranks
    return [(v, _round_half_up(ranks[v], 9)) for v in order]


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 30,
    tol: float = 1e-6,
    src: str = "src",
    dst: str = "dst",
    exact_sums: bool = False,
    driver_threshold: int = 10_000,
) -> DataFrame:
    """(id, rank): PageRank over the DIRECTED edge table by power
    iteration expressed as DataFrame joins — rank flows src -> dst,
    dangling mass redistributes uniformly, ranks sum to 1.

    Each iteration: contributions = ranks ⋈ out-degree ⋈ edges (shuffle on
    vertex ids), then groupBy(dst) sum — two shuffles, the GraphFrames
    shape. Convergence = L1 delta <= tol (one 1-row aggregate per
    iteration); lineage truncated via localCheckpoint every 5 iterations
    exactly like ``canonicalize.connected_components``. Verified against
    hand-computed fixtures in pytest; ``exact_sums=True`` additionally
    routes the two per-iteration SUMs (inflow, dangling mass) through
    DECIMAL(28,12) so every iteration's ranks are order-independent —
    bit-reproducible under any partitioning, and replayable by a SQL
    oracle with the iterations unrolled (``kg_pagerank2``), the same
    recipe as ``similarity.train_centroids``. All other per-row arithmetic
    is plain double on both sides, so identical inputs stay identical.
    """

    def _sum(col):
        if exact_sums:
            return F.sum(col.cast("decimal(28,12)")).cast("double")
        return F.sum(col)
    from pyspark.storagelevel import StorageLevel

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Small-graph fast path (same shape as connected_components'
    # driver_threshold): compressed host/term graphs are often thousands of
    # edges while the corpus is terabytes — the iterative join plan then
    # costs ~10 tiny stages per iteration of pure scheduling overhead.
    # Collect AT MOST driver_threshold+1 edge rows (bounded memory), and if
    # the graph fits, run the bit-identical Python replica; otherwise fall
    # through to the distributed loop. Results are value-identical in
    # exact_sums mode (DECIMAL(28,12) is order-independent) — proven by the
    # unrolled DuckDB oracles — and within float-sum reordering noise
    # otherwise (the distributed sum is partition-order-dependent anyway).
    if driver_threshold:
        probe = e.limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            spark = edges.sparkSession
            rows = _pagerank_driver(
                [(r["src"], r["dst"]) for r in probe],
                damping, max_iter, tol, exact_sums,
            )
            e.unpersist()
            from pyspark.sql.types import DoubleType, StructField, StructType

            schema = StructType(
                [
                    StructField("id", e.schema["src"].dataType),
                    StructField("rank", DoubleType()),
                ]
            )
            return spark.createDataFrame(rows, schema)
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.count("*").alias("out"))
    ranks = verts.select("id", F.lit(1.0 / n).alias("rank")).persist()
    for i in range(max_iter):
        contrib = (
            ranks.join(outdeg, ranks.id == outdeg.src)
            .join(e, "src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("out")).alias("c"))
            .groupBy("id")
            .agg(_sum(F.col("c")).alias("inflow"))
        )
        # dangling vertices (no out-edges) spread their rank uniformly
        dangling = (
            ranks.join(outdeg, ranks.id == outdeg.src, "left_anti")
            .agg(F.coalesce(_sum(F.col("rank")), F.lit(0.0)).alias("d"))
        )
        new_ranks = (
            verts.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + damping
                    * (F.coalesce("inflow", F.lit(0.0)) + F.col("d") / n)
                ).alias("rank"),
            )
        )
        if (i + 1) % 5 == 0:
            new_ranks = new_ranks.localCheckpoint(eager=True)
        else:
            new_ranks = new_ranks.persist()
        # fixed-iteration mode (tol < 0, e.g. the oracle-unrolled
        # kg_pagerank2/kg_host_rank): the L1 delta could never trigger the
        # break, yet its join + .first() forced a full blocking job per
        # iteration — skip the convergence probe entirely (r6, guide §5)
        if tol >= 0:
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "id")
                .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("l1"))
                .first()["l1"]
            )
            ranks.unpersist()
            ranks = new_ranks
            if delta is not None and delta <= tol:
                break
        else:
            ranks.unpersist()
            ranks = new_ranks
    return ranks.select("id", F.round("rank", 9).alias("rank"))


def host_graph(
    links: DataFrame,
    url_col: str = "url",
    href_col: str = "href",
) -> DataFrame:
    """(src_host, dst_host, n_links) — the host-level web graph from a
    page-level link table (`extract.extract_links` output). Resolution
    rule (portable, replayed verbatim by the oracle):

    - absolute http(s) href → its own lowercased authority;
    - any other scheme (mailto:, javascript:, ftp:, ...) → dropped;
    - scheme-relative (//host/...) → that host;
    - path-relative → the SOURCE page's host (a self-edge when a page
      links within its own site — kept: self-reputation is real signal).

    This is the edge table the RefinedWeb/CCNet host-reputation signal
    (PageRank / in-degree over hosts) runs on. At 100 TB the page-level
    link table is ~10^13 rows but hosts are ~10^8, so the ONE exchange
    here (groupBy on the host pair, map-side partials) is also the 10^5×
    compression step — everything downstream (pagerank, degree) works on
    the small graph. Head hosts (everyone links wikipedia) are absorbed
    by the partial aggregation: per-partition one cell per (src,dst)."""
    return (
        resolve_hosts(links, url_col, href_col)
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def resolve_hosts(
    links: DataFrame,
    url_col: str = "url",
    href_col: str = "href",
) -> DataFrame:
    """links + (src_host, dst_host) under `host_graph`'s resolution rule,
    one row per resolvable link (other-scheme hrefs dropped), all original
    columns kept — the narrow, shuffle-free building block `host_graph`
    aggregates and `linking.anchor_entity_links` joins entities onto."""
    host_of = lambda c: F.lower(
        F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    )
    href = F.col(href_col)
    src_host = host_of(F.col(url_col))
    dst_host = (
        F.when(href.rlike(r"^https?://"), host_of(href))
        .when(href.rlike(r"^//"), F.lower(F.regexp_extract(href, r"^//([^/?#]+)", 1)))
        .when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:"), F.lit(None))
        .otherwise(src_host)
    )
    return (
        links.withColumn("src_host", src_host)
        .withColumn("dst_host", dst_host)
        .filter(F.col("dst_host").isNotNull() & (F.col("dst_host") != ""))
        .filter(F.col("src_host") != "")
    )


def harmonic_centrality(
    edges: DataFrame,
    max_hops: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, rank): bounded-radius harmonic centrality over the DIRECTED
    edge table — rank(v) = Σ_{u != v, d(u→v) <= max_hops} 1/d(u→v). THE
    published Common Crawl host-ranking signal (their host-level ranks are
    harmonic centrality, not PageRank); the radius bound is how it stays
    computable: exact harmonic centrality needs all-pairs distances, while
    nearly all of the mass sits in the first few hops.

    Multi-source frontier BFS as DataFrame joins: reach_d =
    (reach_{d-1} ⋈ edges) minus already-seen pairs; self-loops dropped
    (d(v,v) = 0 contributes nothing). Per-distance 1/d terms are ROUND(9)
    and summed through DECIMAL(28,9) (the repo float recipe) so any hop
    count replays value-exactly cross-engine; unreached vertices emit
    rank 0. Intended input is a COMPRESSED graph (host_graph output or
    the co-occurrence KG): pair materialization is bounded by
    |V| × avg |ball(max_hops)| — on the host graph that is the point, on
    a raw page graph it would not be, and that trade is documented here
    rather than hidden."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    verts = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
    )
    seen = e
    frontier = e
    parts = [e.withColumn("d", F.lit(1))]
    for d in range(2, max_hops + 1):
        step = (
            frontier.alias("f")
            .join(e.alias("g"), F.col("f.v") == F.col("g.u"))
            .select(F.col("f.u").alias("u"), F.col("g.v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .join(seen, ["u", "v"], "left_anti")
            .persist()
        )
        parts.append(step.withColumn("d", F.lit(d)))
        seen = seen.unionByName(step)
        frontier = step
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    ranks = pairs.groupBy(F.col("v").alias("id")).agg(
        F.round(
            F.sum(
                F.round(F.lit(1.0) / F.col("d"), 9).cast("decimal(28,9)")
            ).cast("double"),
            6,
        ).alias("rank")
    )
    return verts.join(ranks, "id", "left").select(
        "id", F.coalesce("rank", F.lit(0.0)).alias("rank")
    )
