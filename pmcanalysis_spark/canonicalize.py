"""Entity canonicalization: similarity edges + connected components.

Reference (/root/reference/Author2PMID.groovy): per author_key, all pmid
pairs are scored with four Jaccard features (coauthors minus the shared
author, mesh, title tokens, affiliation tokens; :4-49), then greedily
attached to the first cluster with any score over threshold (:126-159 —
coauthor>0 ∨ mesh>0.1 ∨ title>0.1 ∨ affiliation>0.3).

Spark-native redesign (SURVEY.md A10/J6, documented divergence): the greedy
attach is order-dependent and irreproducible; we take the *transitive
closure* of the "similar" relation — connected components via iterative
min-label propagation joins (GraphFrames-style). Permutation-invariant and
a superset of any greedy clustering of the same edge set.

Scale notes: the pairwise scorer self-joins within author_key — groups are
small (papers per author name), so the join explodes only within groups and
the shuffle key is author_key. A "j smith" mega-key (> max_group_size
records) is never dropped and never fully crossed: it is sub-keyed by a
coauthor-MinHash block so the n² is per block, with `mega_key_stats` as the
lineage surface for which keys took that path (see pair_scores). Label
propagation with the pointer-doubling compression step converges in
O(log d) iterations for diameter d; each iteration is two shuffles and
a localCheckpoint that truncates lineage.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema


def _jaccard(a, b):
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    # reference jaccard returns 0 on empty input sets (Author2PMID.groovy:4-10)
    return F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)


def author_records_from_raw(raw: DataFrame) -> DataFrame:
    """Raw article records -> per-(doc, author) feature rows.

    Mirrors the feature extraction of /root/reference/Author2PMID.groovy:51-87:
    one row per (pmid, author name) with the author's coauthor set (all the
    article's authors minus this one), mesh set (descriptor + qualifier,
    already merged upstream into one array), title tokens split on whitespace,
    and affiliation tokens split on whitespace (all LinkedHashSet semantics ->
    array_distinct).

    Input schema: (doc_id, authors array<string>, title string,
    mesh array<string>, affiliation string).
    Output schema matches AUTHOR_RECORDS minus true_entity:
    (doc_id, author_key, coauthors, mesh, title_tokens, affiliation_tokens).

    Narrow (no shuffle): one explode + per-row array ops, all JVM-side.
    """
    tok = lambda c: F.array_distinct(
        F.filter(F.split(F.coalesce(c, F.lit("")), r"\s+"), lambda x: x != "")
    )
    return (
        raw.select(
            "doc_id",
            F.array_distinct(F.col("authors")).alias("_authors"),
            tok(F.col("title")).alias("title_tokens"),
            F.array_distinct(F.coalesce(F.col("mesh"), F.array())).alias("mesh"),
            tok(F.col("affiliation")).alias("affiliation_tokens"),
        )
        .select(
            "doc_id",
            F.explode("_authors").alias("author_key"),
            F.col("_authors"),
            "title_tokens",
            "mesh",
            "affiliation_tokens",
        )
        .select(
            "doc_id",
            "author_key",
            # coauthors = authors minus the shared author (Author2PMID.groovy:13)
            F.array_remove(F.col("_authors"), F.col("author_key")).alias("coauthors"),
            "mesh",
            "title_tokens",
            "affiliation_tokens",
        )
    )


def _feature_sides(recs: DataFrame):
    """Project the feature columns into the two join sides of the pairwise
    scorer (src/dst naming)."""
    a = recs.select(
        F.col("author_key"),
        F.col("doc_id").alias("src"),
        F.col("coauthors").alias("co_a"),
        F.col("mesh").alias("mesh_a"),
        F.col("title_tokens").alias("ti_a"),
        F.col("affiliation_tokens").alias("af_a"),
    )
    b = recs.select(
        F.col("author_key"),
        F.col("doc_id").alias("dst"),
        F.col("coauthors").alias("co_b"),
        F.col("mesh").alias("mesh_b"),
        F.col("title_tokens").alias("ti_b"),
        F.col("affiliation_tokens").alias("af_b"),
    )
    return a, b


def _score_pairs(pairs: DataFrame) -> DataFrame:
    """Append the four Jaccard feature scores + the F6 geometric-mean simm
    to a joined pair frame carrying co_a..af_b.

    F6 (/root/reference/Author2PMID.groovy:30-40): simm = geometric mean of
    the NONZERO features only — pow(prod(nonzero), 1/count(nonzero)), 0 when
    all four are zero. Computed as exp(mean(ln x)) over the filtered array:
    pure Column algebra, stays inside codegen.
    """
    co = _jaccard(F.col("co_a"), F.col("co_b"))
    me = _jaccard(F.col("mesh_a"), F.col("mesh_b"))
    ti = _jaccard(F.col("ti_a"), F.col("ti_b"))
    af = _jaccard(F.col("af_a"), F.col("af_b"))
    nonzero = F.filter(
        F.array(F.col("coauthorscore"), F.col("meshscore"),
                F.col("titlescore"), F.col("affiliationscore")),
        lambda x: x > 0,
    )
    simm = F.when(F.size(nonzero) == 0, F.lit(0.0)).otherwise(
        F.exp(
            F.aggregate(nonzero, F.lit(0.0), lambda acc, x: acc + F.log(x))
            / F.size(nonzero)
        )
    )
    return (
        pairs.select(
            "author_key",
            "src",
            "dst",
            co.alias("coauthorscore"),
            me.alias("meshscore"),
            ti.alias("titlescore"),
            af.alias("affiliationscore"),
        )
        .withColumn("simm", simm)
    )


def _band_min(b: int, blocking_col: str):
    """Band ``b``'s 1-permutation MinHash of the blocking token set (the
    hash salted with b; NULL for an empty set)."""
    # NB: the lambda must stay single-parameter — F.transform treats a 2-arg
    # lambda as (element, index), so a `_b=b` default would bind the array
    # index, not the band salt, collapsing every band into one block
    return F.array_min(F.transform(F.col(blocking_col), lambda c: F.xxhash64(F.lit(b), c)))


def _block_expr(n_bands: int, blocking_col: str = "coauthors"):
    """Blocking keys for a mega author_key record: one 1-permutation MinHash
    of the blocking token set per band (band b salts the hash with b, so the
    bands are independent permutations). A record with an EMPTY blocking set
    gets a per-(doc, band) unique key — it can never meet a partner, i.e. it
    degrades to a singleton rather than joining a catch-all mega block."""
    return F.array(*[
        F.coalesce(_band_min(b, blocking_col), F.xxhash64(F.lit(-1 - b), F.col("doc_id")))
        for b in range(n_bands)
    ])


def mega_key_stats(records: DataFrame, max_group_size: int = 10000) -> DataFrame:
    """Lineage surface for the mega-key path: (author_key, n_records) for
    every author_key whose group exceeds ``max_group_size`` — the keys that
    go through MinHash blocking instead of the full within-key cross product.
    Callers materialize this next to the edges stage so a 'J. Smith' at
    100x scale is visible in lineage, never silently re-routed."""
    return (
        records.groupBy("author_key")
        .agg(F.count("*").alias("n_records"))
        .filter(F.col("n_records") > max_group_size)
    )


def pair_scores(
    records: DataFrame,
    max_group_size: int = 10000,
    n_blocking_bands: int = 4,
    blocking_col: str = "coauthors",
) -> DataFrame:
    """author_records -> within-key doc pairs with the four Jaccard features
    and the F6 combined score (see ``_score_pairs``).

    Groups up to ``max_group_size`` records take the full within-key cross
    product (reference semantics, Author2PMID.groovy:110-119). MEGA groups
    (a 'J. Smith' at 100x scale) are NOT dropped: they are sub-keyed by a
    coauthor MinHash block (``n_blocking_bands`` independent 1-perm bands),
    pairs are generated only within (author_key, block), and the n² cost is
    per block instead of per key. Recall on mega keys is bounded by blocking:
    a pair is scored iff the two records share a min-coauthor-hash in some
    band (P = coauthor-Jaccard per band) — same-person papers share
    coauthors, which is exactly the reference's strongest attach signal
    (coauthorscore > 0). Records with no coauthors degrade to singletons.
    A block that is itself over ``max_group_size`` (a hub coauthor) is cut,
    never partially exploded — surface those via ``mega_key_stats`` lineage;
    a pair that shares such a hot block is still scored through any other
    band it shares.
    """
    wcount = F.count("*").over(Window.partitionBy("author_key"))
    sized = records.withColumn("_gs", wcount)
    small = sized.filter(F.col("_gs") <= max_group_size).drop("_gs")
    a, b = _feature_sides(small)
    scored = _score_pairs(a.join(b, "author_key").filter(F.col("src") < F.col("dst")))
    if n_blocking_bands <= 0:
        return scored

    # ---- mega-key path (r6 restructure) ----------------------------------
    # Two independent wins over the r5 candidates->distinct->two-feature-join
    # chain:
    # 1. FIRST-SHARED-BAND dedup: each side of the block self-join carries
    #    its full band array, and a pair colliding in several bands is kept
    #    only in the lowest shared band — a narrow in-stage filter replaces
    #    the .distinct() shuffle of the multi-band candidate stream.
    # 2. PROFILE dictionary-encoding: the four Jaccards + simm are pure
    #    functions of the FEATURE VALUES, and real author records repeat
    #    feature vectors heavily (same coauthor list, same mesh set), so
    #    score each key's DISTINCT (coauthors, mesh, title, affiliation)
    #    profile pair once and attach by profile id — the expensive array
    #    math runs on |profile pairs| rows, not |record pairs|, and the
    #    record-pair stream stays narrow (ids only) end to end. Worst case
    #    (all profiles unique) degrades to exactly the old per-pair cost.
    # The scorer is shared with the small-group path, so scores stay
    # bit-identical (pure function of the same feature arrays).
    mega = sized.filter(F.col("_gs") > max_group_size).drop("_gs")
    pid = F.xxhash64("coauthors", "mesh", "title_tokens", "affiliation_tokens")
    recs = mega.withColumn("_pid", pid)
    banded = recs.withColumn("_bands", _block_expr(n_blocking_bands, blocking_col))
    # hot blocks (over the cap) per key: at most |mega| * bands / cap of
    # them, so the set is broadcast. A record's band vector keeps only its
    # LIVE blocks (hot ones become NULL): the cap cuts those rows here, and
    # the first-shared-band filter below then skips a band whose block was
    # cut, so a pair is kept in its lowest shared live band.
    hot = (
        banded.select("author_key", F.explode("_bands").alias("_block"))
        .groupBy("author_key", "_block")
        .count()
        .filter(F.col("count") > max_group_size)
        .groupBy("author_key")
        .agg(F.collect_set("_block").alias("_hot"))
    )
    live = F.transform(
        "_bands",
        lambda blk: F.when(F.array_contains("_hot", blk), F.lit(None)).otherwise(blk),
    )
    blocked = (
        banded.join(F.broadcast(hot), "author_key", "left")
        .select("author_key", "doc_id", "_pid", live.alias("_bands"))
        .select(
            "author_key", "doc_id", "_pid", "_bands",
            F.posexplode("_bands").alias("_bi", "_block"),
        )
        .filter(F.col("_block").isNotNull())
    )
    # explicit width: the banded table is only ~bands x |mega| SMALL rows,
    # so AQE's size-based coalescing would happily run the whole n²/block
    # pair EXPANSION in one or two tasks (partition sizing sees join INPUT
    # bytes, not output rows). A user repartition is exempt from AQE
    # coalescing and (author_key, _block) ⊆ join keys, so the self-join
    # reuses this exchange on both sides without adding one.
    blocked = blocked.repartition(
        records.sparkSession.sparkContext.defaultParallelism,
        "author_key", "_block",
    )
    a = blocked.select(
        "author_key", "_bi", "_block",
        F.col("doc_id").alias("src"),
        F.col("_pid").alias("_pa"),
        F.col("_bands").alias("_ba"),
    )
    b = blocked.select(
        "author_key", "_bi", "_block",
        F.col("doc_id").alias("dst"),
        F.col("_pid").alias("_pb"),
        F.col("_bands").alias("_bb"),
    )
    # scalar first-shared-band predicate: OR over the (fixed, small) band
    # count of indexed compares — higher-order exists/zip_with/slice runs
    # INTERPRETED per row, which at candidate-stream volume costs more
    # than the shuffle it replaces (same lesson as hamming_pairs, r6)
    # (a NULL band is a cut hot block: it never counts as shared)
    earlier_band_matched = F.lit(False)
    for _j in range(n_blocking_bands - 1):
        earlier_band_matched = earlier_band_matched | (
            (F.col("_bi") > _j)
            & F.coalesce(F.col("_ba")[_j] == F.col("_bb")[_j], F.lit(False))
        )
    cand = (
        a.join(b, ["author_key", "_bi", "_block"])
        .filter(F.col("src") < F.col("dst"))
        .filter(~earlier_band_matched)
        .select("author_key", "src", "dst", "_pa", "_pb")
    )
    # profile-pair score table from PROFILE-level banding (a tiny replay of
    # the same banding over distinct profiles — a profile's band vector IS
    # its records' band vector when the blocking set is non-empty, and
    # empty-set records can never pair with anyone) — so this branch never
    # touches the record-pair stream, sidestepping a second execution of
    # the block self-join that a candidates.distinct() would have forced.
    # Ordered pairs incl. self-pairs, since cand's (_pa, _pb) follows
    # src < dst doc order, not profile order; a superset is harmless (the
    # attach join below is inner).
    prof = recs.select(
        "author_key", "_pid",
        "coauthors", "mesh", "title_tokens", "affiliation_tokens",
    ).distinct()

    profile_bands = F.array(*[_band_min(b_, blocking_col) for b_ in range(n_blocking_bands)])
    pblocked = (
        prof.filter(F.size(F.col(blocking_col)) > 0)
        .withColumn("_bands", profile_bands)
        .select(
            "author_key", "_pid", "_bands",
            "coauthors", "mesh", "title_tokens", "affiliation_tokens",
            F.posexplode("_bands").alias("_bi", "_block"),
        )
    )
    ppa = pblocked.select(
        "author_key", "_bi", "_block",
        F.col("_pid").alias("_pa"), F.col("_bands").alias("_ba"),
        F.col("coauthors").alias("co_a"), F.col("mesh").alias("mesh_a"),
        F.col("title_tokens").alias("ti_a"),
        F.col("affiliation_tokens").alias("af_a"),
    )
    ppb = pblocked.select(
        "author_key", "_bi", "_block",
        F.col("_pid").alias("_pb"), F.col("_bands").alias("_bb"),
        F.col("coauthors").alias("co_b"), F.col("mesh").alias("mesh_b"),
        F.col("title_tokens").alias("ti_b"),
        F.col("affiliation_tokens").alias("af_b"),
    )
    ppairs = (
        ppa.join(ppb, ["author_key", "_bi", "_block"])
        .filter(~earlier_band_matched)
        .select(
            "author_key",
            F.col("_pa").alias("src"), F.col("_pb").alias("dst"),
            "co_a", "mesh_a", "ti_a", "af_a",
            "co_b", "mesh_b", "ti_b", "af_b",
        )
    )
    pscored = _score_pairs(ppairs).select(
        "author_key",
        F.col("src").alias("_pa"), F.col("dst").alias("_pb"),
        "coauthorscore", "meshscore", "titlescore", "affiliationscore", "simm",
    )
    mega_scored = cand.join(
        pscored, ["author_key", "_pa", "_pb"]
    ).select(
        "author_key", "src", "dst",
        "coauthorscore", "meshscore", "titlescore", "affiliationscore", "simm",
    )
    return scored.unionByName(mega_scored)


def similarity_edges(
    records: DataFrame,
    coauthor_thresh: float = 0.0,
    mesh_thresh: float = 0.1,
    title_thresh: float = 0.1,
    affil_thresh: float = 0.3,
    max_group_size: int = 10000,
    n_blocking_bands: int = 4,
) -> DataFrame:
    """author_records -> edges(src, dst, simm) where any feature clears its
    threshold (the reference's attach condition, Author2PMID.groovy:134-144).

    Input schema: (doc_id, author_key, coauthors, mesh, title_tokens,
    affiliation_tokens). Self-join within author_key with src < dst (mega
    keys via coauthor-MinHash blocking — see ``pair_scores``). The simm
    column (F6 geometric mean) rides along as the edge weight.
    """
    scored = pair_scores(
        records, max_group_size=max_group_size, n_blocking_bands=n_blocking_bands
    )
    similar = (
        (F.col("coauthorscore") > coauthor_thresh)
        | (F.col("meshscore") > mesh_thresh)
        | (F.col("titlescore") > title_thresh)
        | (F.col("affiliationscore") > affil_thresh)
    )
    return scored.filter(similar).select("author_key", "src", "dst", "simm")


def _union_find(pairs) -> dict:
    """Driver union-find over (a, b) id pairs -> {id: min id of its
    component} for every id on a pair."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {k: find(k) for k in parent}


def _local_map(df: DataFrame, key: str, value: str, ids, labels: dict) -> DataFrame:
    """Rows ``(i, labels.get(i, i))`` for ``i`` in ``ids`` as an Arrow
    LocalRelation typed like ``df[key]``: collecting it starts no Spark job."""
    schema = to_arrow_schema(df.select(F.col(key), F.col(key).alias(value)).schema)
    table = pa.table({key: ids, value: [labels.get(i, i) for i in ids]}, schema=schema)
    return df.sparkSession.createDataFrame(table)


def _label_with_union_find(edge_rows, vertices: DataFrame) -> DataFrame:
    """Driver-side union-find over collected (src, dst) rows -> vertices
    labeled (id, component) with the min id of their component, broadcast
    back; a vertex on no edge labels itself."""
    labels = _union_find((r["src"], r["dst"]) for r in edge_rows)
    lmap = _local_map(vertices, "id", "component", list(labels), labels)
    return vertices.join(F.broadcast(lmap), "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """edges(src, dst) -> (id, component) by iterative min-label propagation
    with pointer-doubling compression.

    Each iteration: (1) every vertex adopts the min label among itself and
    its neighbors, then (2) every vertex shortcuts through its label's own
    label (component values are vertex ids, so the label table doubles as
    the lookup). Step 2 is what makes convergence O(log diameter) rather
    than O(diameter) — a chain of length 2^k resolves in ~k iterations.
    Converges when no label changes; raises RuntimeError if max_iter is
    exhausted without convergence (silent wrong components are worse than a
    loud failure). Driver loop, executor data — nothing is collected except
    the 1-row convergence count.

    Small-graph fast path: when the EDGE count is under ``driver_threshold``
    (vertices may still be huge), collect only the edges, run union-find on
    the driver, and broadcast the resulting label map back — isolated
    vertices label themselves via coalesce without ever being collected.
    Saves ~2 jobs per iteration x O(diameter) iterations; at real scale the
    iterative path runs. Results identical (both are min-id components).

    The operator drives several actions over the edges (size probe, then the
    collect or the iterative joins), so the edge projection is persisted
    internally — the upstream that produced the edges executes ONCE, however
    expensive (a caller handing the confirmed-pair output of a whole
    candidates->confirm chain must not pay that chain per action). The
    persisted projection is narrow (two id columns) and is released by LRU
    eviction.
    """
    from pyspark.storagelevel import StorageLevel

    e = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    # ONE bounded job decides the path AND feeds the driver fast path:
    # collect at most driver_threshold+1 rows — when the graph fits, these
    # ARE the edges (union-find is duplicate-tolerant, so no distinct is
    # needed; the limit bounds driver traffic). When it does not fit, the
    # iterative path continues and the persist materializes on its first
    # full pass.
    probe_rows = e.limit(driver_threshold + 1).collect()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if vertices is None:
        vertices = sym.select(F.col("src").alias("id")).distinct()

    if len(probe_rows) <= driver_threshold:
        return _label_with_union_find(probe_rows, vertices)
    # ---- star-contraction pre-pass (r6) ----------------------------------
    # One round of f(v) = min(v ∪ N(v)) contraction before the generic loop:
    # every vertex is connected to f(v) (itself or a neighbor), so replacing
    # the graph by the f-image — edges {(f(u), f(v))}, self-loops dropped,
    # duplicates collapsed — preserves the component partition exactly, and
    # labels unwind through v -> f(v) at the end. Similarity edge sets are
    # near-clique-dense (a k-duplicate cluster is ~k² edges); the contracted
    # graph is then tiny (a clique contracts to nothing), usually under
    # driver_threshold, so the O(log d) join loop runs on a graph orders of
    # magnitude smaller — or not at all. Cost: one bounded-key aggregation
    # and one distinct over the remapped edges, both a single shuffle of
    # well-distributed vertex keys.
    fmap = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(F.col("src").alias("v"), F.least("src", "_m").alias("f"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fa = fmap.select(F.col("v").alias("src"), F.col("f").alias("_fa"))
    fb = fmap.select(F.col("v").alias("dst"), F.col("f").alias("_fb"))
    contracted = (
        sym.join(fa, "src")
        .join(fb, "dst")
        .filter(F.col("_fa") != F.col("_fb"))
        .select(
            F.least("_fa", "_fb").alias("src"),
            F.greatest("_fa", "_fb").alias("dst"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n2 = contracted.count()
    cverts = fmap.select(F.col("f").alias("id")).distinct()

    def _unwind(comp: DataFrame) -> DataFrame:
        lab = comp.select(F.col("id").alias("f"), "component")
        return (
            vertices.join(fmap, vertices.id == fmap.v, "left")
            .join(lab, "f", "left")
            .select(
                "id",
                F.coalesce("component", F.col("id")).alias("component"),
            )
        )

    if n2 <= driver_threshold:
        # the contracted graph fits the driver: finish with union-find
        out = _unwind(_label_with_union_find(contracted.collect(), cverts))
        sym.unpersist()
        return out
    # ---- generic O(log d) loop on the contracted graph -------------------
    sym.unpersist()
    sym = contracted.unionByName(
        contracted.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = cverts.select("id", F.col("id").alias("component"))
    # hash-partition the (bigger) symmetrized edge side by the join key ONCE:
    # the persisted partitioning satisfies every iteration's join requirement,
    # so per-iteration shuffles touch only the (smaller) label table
    sym = sym.repartition("dst").persist()
    labels = labels.persist()
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.col("component").alias("_old"),
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer doubling: shortcut each label through its own label
        lk = stepped.select(
            F.col("id").alias("_cid"), F.col("component").alias("_cc")
        )
        new_full = (
            stepped.join(lk, stepped.component == lk._cid, "left")
            .select(
                "id",
                "_old",
                F.least(
                    F.col("component"), F.coalesce(F.col("_cc"), F.col("component"))
                ).alias("component"),
            )
        )
        # each iteration reads ``labels`` four times (neighbor_min, stepped,
        # lk), so an untruncated plan grows ~4^i; truncate it every time
        new_full = new_full.localCheckpoint(eager=True)
        # convergence check straight off the carried old label — labels only
        # ever decrease, so "any row where new != old" needs no old-vs-new
        # join (one full shuffle join per iteration saved)
        changed = (
            new_full.filter(F.col("component") != F.col("_old")).limit(1).count()
        )
        labels.unpersist()
        labels = new_full.drop("_old")
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "labels would be wrong — raise max_iter"
        )
    return _unwind(labels)


def canonicalize_terms(lexicon: DataFrame) -> DataFrame:
    """Ontology-term entity canonicalization: terms that share an xref or an
    exact name are the same real-world entity; merge them and elect the min
    term_id as canonical.

    Input: lexicon(name, term_id, kind). Output: (term_id, canonical_id) for
    EVERY distinct term_id (singletons map to themselves, NULL to NULL).
    ``name`` and ``xref`` rows share one key space; other kinds and NULL
    names never merge. The lexicon is driver-sized by contract
    (``build_triples`` builds its trie on the driver): it is read once with
    ``toArrow()`` (one Spark job), merged by a driver union-find and returned
    as an Arrow LocalRelation, which ``rewrite_triples_canonical``'s two
    broadcasts read without rescanning the lexicon.
    """
    t = lexicon.select("name", "term_id", "kind").toArrow().to_pydict()
    by_key: dict = {}
    for name, tid, kind in zip(t["name"], t["term_id"], t["kind"]):
        if kind in ("xref", "name") and name is not None and tid is not None:
            by_key.setdefault(name, []).append(tid)
    labels = _union_find((g[0], i) for g in by_key.values() for i in g[1:])
    return _local_map(lexicon, "term_id", "canonical_id", list(dict.fromkeys(t["term_id"])), labels)


def rewrite_triples_canonical(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite (subj, obj) through the canonical map (broadcast, 1:1) and
    re-aggregate counts for merged pairs. Scores must be recomputed after a
    merge (na/nb change); here we keep max-score semantics for the merged
    row — callers needing exact re-scoring re-run scored_pairs on the
    canonical doc_terms."""
    cs = F.broadcast(canon.select(F.col("term_id").alias("subj"), F.col("canonical_id").alias("c_subj")))
    co = F.broadcast(canon.select(F.col("term_id").alias("obj"), F.col("canonical_id").alias("c_obj")))
    return (
        triples.join(cs, "subj", "left")
        .join(co, "obj", "left")
        .select(
            F.coalesce("c_subj", "subj").alias("subj"),
            "pred",
            F.coalesce("c_obj", "obj").alias("obj"),
            "nab", "na", "nb", "npmi",
        )
        .groupBy("subj", "pred", "obj")
        .agg(
            F.sum("nab").alias("nab"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
            F.max("npmi").alias("npmi"),
        )
    )


def canonicalize_authors(records: DataFrame, **thresholds) -> DataFrame:
    """author_records -> (doc_id, author_key, entity_id).

    entity_id = author_key + '#' + min doc_id of the component (the minted
    IRI analog of Author2PMID.groovy:163-167). Singleton docs (no similar
    neighbor) each get their own entity.

    The component graph is namespaced PER author_key — vertex =
    author_key|doc_id — because the reference clusters each author name's
    pmid set independently (Author2PMID.groovy:108). A multi-author paper
    appears under several keys; without the namespace, one key's edges would
    bridge another key's docs and silently merge distinct people.
    """
    edges = similarity_edges(records, **thresholds)
    nedges = edges.select(
        F.concat("author_key", F.lit("|"), "src").alias("src"),
        F.concat("author_key", F.lit("|"), "dst").alias("dst"),
    )
    verts = records.select(
        F.concat("author_key", F.lit("|"), "doc_id").alias("id")
    ).distinct()
    comp = connected_components(nedges, vertices=verts)
    joined = records.join(
        comp,
        F.concat(records.author_key, F.lit("|"), records.doc_id) == comp.id,
        "left",
    )
    # component = "<author_key>|<min doc_id>"; strip the key prefix by length
    # (robust even if doc_id itself contains '|')
    comp_doc = F.expr("substring(component, length(author_key) + 2)")
    return joined.select(
        "doc_id",
        "author_key",
        F.concat(
            F.col("author_key"),
            F.lit("#"),
            F.coalesce(comp_doc, F.col("doc_id")),
        ).alias("entity_id"),
    )
