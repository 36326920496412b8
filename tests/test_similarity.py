from __future__ import annotations

import math

from pmcanalysis_spark.operators.similarity import (
    cosine_topk,
    lsh_bucketed_topk,
    plane_component_py,
)

VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),   # closest to 1
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [0.0, 0.95, 0.05, 0.0]),  # closest to 3
    (5, [-1.0, 0.0, 0.0, 0.0]),   # anti-parallel to 1
]


def _emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<double>")


def test_cosine_topk_nearest(spark):
    out = cosine_topk(_emb(spark), queries=_emb(spark), k=1).collect()
    nearest = {r.query_id: r.item_id for r in out}
    assert nearest[1] == 2 and nearest[2] == 1
    assert nearest[3] == 4 and nearest[4] == 3


def test_cosine_value_exact(spark):
    out = cosine_topk(_emb(spark), queries=_emb(spark), k=4).collect()
    c15 = [r.cosine for r in out if r.query_id == 1 and r.item_id == 5][0]
    assert math.isclose(c15, -1.0)


def test_ivf_assignment_and_topk(spark):
    from pmcanalysis_spark.operators.similarity import ivf_assign, ivf_topk

    emb = _emb(spark)
    # centroids: axis vectors -> cells are the axes
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    cells = {r.id: r.cell for r in ivf_assign(emb, cents).collect()}
    assert cells[1] == 0 and cells[2] == 0      # x-ish vectors
    assert cells[3] == 1 and cells[4] == 1      # y-ish vectors
    out = ivf_topk(emb, cents, k=1).collect()
    nearest = {r.query_id: r.item_id for r in out}
    assert nearest[1] == 2 and nearest[3] == 4  # within-cell exact search


def test_lsh_buckets_parallel_vectors_together(spark):
    out = lsh_bucketed_topk(_emb(spark), dim=4, num_planes=4, k=3).collect()
    # identical-direction vectors always share every hyperplane sign
    pairs = {(r.query_id, r.item_id) for r in out}
    assert (1, 2) in pairs or (2, 1) in pairs
    # recall may be <1 for others; but results must be a subset of brute force order
    brute = cosine_topk(_emb(spark), queries=_emb(spark), k=4)
    bvals = {(r.query_id, r.item_id): r.cosine for r in brute.collect()}
    for r in out:
        assert math.isclose(bvals[(r.query_id, r.item_id)], r.cosine, rel_tol=1e-9)


def test_chunk_pairs_bounded_and_exact(spark):
    """_chunk_pairs (the applyInPandas mega-group guard): every chunk-pair
    group is bounded by 2*max_group_size rows AND every unordered pair of
    the original group meets in exactly one chunk-pair group."""
    from itertools import combinations

    from pmcanalysis_spark.operators.similarity import _chunk_pairs

    n, cap = 100, 10
    df = spark.createDataFrame([(i, 0) for i in range(n)], "id long, grp int")
    rows = _chunk_pairs(df, ["grp"], cap).collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault((r.grp, r.ci, r.cj), []).append((r.id, r._c))
    assert max(len(v) for v in by_group.values()) <= 2 * cap
    seen: dict = {}
    for key, members in by_group.items():
        _, ci, cj = key
        a = [i for i, c in members if c == ci]
        b = [i for i, c in members if c == cj]
        pairs = (
            combinations(sorted(a), 2)
            if ci == cj
            else ((min(x, y), max(x, y)) for x in a for y in b)
        )
        for p in pairs:
            seen[p] = seen.get(p, 0) + 1
    assert len(seen) == n * (n - 1) // 2
    assert set(seen.values()) == {1}  # each pair exactly once


def _sf_vectors(emb):
    return [(int(r.vec_id), [float(x) for x in r.embedding]) for r in emb.collect()]


def _rounded_topk(df):
    from pyspark.sql import functions as F

    out = df.select("query_id", "item_id", F.round("cosine", 6).alias("cosine"), "rank")
    return sorted(tuple(r) for r in out.collect())


def test_ivf_topk_mega_cell_chunked_identical(spark):
    """Planted mega-cell: ONE centroid puts all 1500 sf0.001 vectors in one
    cell; with max_group_size=64 the search runs as ~24x24 bounded
    chunk-pair tasks (cross blocks included) and its rows equal (after
    ROUND 6) a numpy brute force over all pairs."""
    from pmcanalysis_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [(0, [1.0] * 64)]
    capped = _rounded_topk(ivf_topk(emb, cents, k=3, max_group_size=64))
    assert capped == _brute_topk(_sf_vectors(emb), 3)
    assert len(capped) == 3 * emb.count()


def test_lsh_topk_chunked_matches_sql(spark):
    """The chunked LSH path equals a numpy brute force within buckets
    computed from ``plane_component_py`` (the bucket assignment itself is
    pinned by the ``sim_lsh_topk`` DuckDB oracle)."""
    from collections import Counter

    import numpy as np

    from pmcanalysis_spark.operators.similarity import lsh_bucketed_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = _sf_vectors(emb)
    P = np.asarray([[plane_component_py(p, d) for d in range(64)] for p in range(4)])
    X = np.asarray([v for _, v in vecs])
    bits = ((X @ P.T) >= 0.0) @ (1 << np.arange(4))
    bucket = {i: int(b) for (i, _), b in zip(vecs, bits)}
    # 4 planes over 1500 vectors -> buckets of ~90; cap 32 forces chunking
    capped = _rounded_topk(
        lsh_bucketed_topk(emb, dim=64, num_planes=4, k=3, max_group_size=32)
    )
    assert capped == _brute_topk(vecs, 3, bucket) and len(capped) == 3 * len(vecs)
    assert max(Counter(bucket.values()).values()) > 32


def _brute_topk(vecs, k, group=None):
    """Reference top-k by cosine in plain numpy: (query, item, ROUND(cos, 6),
    rank) over every pair in the same ``group`` (all pairs when None),
    self-pairs excluded, zero norms guarded to 1, ties to the lower id."""
    import numpy as np

    ids = [i for i, _ in vecs]
    X = np.asarray([v for _, v in vecs], dtype="float64")
    n = np.sqrt((X * X).sum(axis=1))
    n[n == 0.0] = 1.0
    S = (X @ X.T) / np.outer(n, n)
    out = []
    for a, q in enumerate(ids):
        cand = sorted(
            (-S[a, b], i)
            for b, i in enumerate(ids)
            if b != a and (group is None or group[q] == group[i])
        )[:k]
        out += [(q, i, round(-c, 6), r) for r, (c, i) in enumerate(cand, 1)]
    return sorted(out)


def test_zero_vector_impls_agree(spark):
    """Regression: a degenerate all-zero vector must score cosine 0
    (zero-norm guard) in every kernel — unguarded, the numpy kernels
    emitted NaNs that were silently dropped, and a NaN ranks FIRST under
    Spark's descending order. Each kernel's rows equal a numpy brute force
    over the same candidate groups."""
    import numpy as np
    from pyspark.sql import functions as F

    from pmcanalysis_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_topk,
        lsh_bucketed_topk,
        plane_component_py,
    )

    vecs = VECS + [(6, [0.0, 0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    def rows(df):
        out = df.select(
            F.col("query_id").cast("long"), F.col("item_id").cast("long"),
            F.round("cosine", 6).alias("cosine"), F.col("rank").cast("int"),
        )
        return sorted(tuple(r) for r in out.collect())

    got = rows(cosine_topk(emb, queries=emb, k=3))
    assert all(c == c for (_, _, c, _) in got)  # no NaNs survive
    # the zero vector scores 0 against everything, and never ranks first
    assert [c for (q, _, c, _) in got if q == 6] == [0.0, 0.0, 0.0]
    assert all(i != 6 for (_, i, _, r) in got if r == 1)
    assert got == _brute_topk(vecs, 3)

    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    cell = {r["id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    assert cell[6] == 0  # all-zero cosines: ties go to the first centroid
    assert rows(ivf_topk(emb, cents, k=3)) == _brute_topk(vecs, 3, cell)

    P = np.asarray([[plane_component_py(p, d) for d in range(4)] for p in range(4)])
    bucket = {
        i: int(((np.asarray(v) @ P.T) >= 0.0) @ (1 << np.arange(4))) for i, v in vecs
    }
    assert rows(lsh_bucketed_topk(emb, dim=4, num_planes=4, k=3)) == _brute_topk(
        vecs, 3, bucket
    )


def test_train_centroids_matches_numpy_lloyds(spark):
    """Distributed trainer == independent scalar Lloyd's (same init, same
    fixed iterations, cosine assignment + plain mean update) within the
    decimal-vs-float sum ulp; lowest-cell tie-break."""
    import numpy as np

    from pmcanalysis_spark.operators.similarity import train_centroids

    rng = np.random.RandomState(7)
    centers = np.array([[5.0, 0, 0, 0], [0, 5.0, 0, 0], [0, 0, 5.0, 0]])
    X = np.vstack([c + rng.randn(30, 4) * 0.3 for c in centers])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    init = [(0, list(map(float, X[0]))), (1, list(map(float, X[30]))),
            (2, list(map(float, X[60])))]

    def ref_lloyds(n_iter):
        cents = {c: np.array(v) for c, v in init}
        for _ in range(n_iter):
            order = sorted(cents)
            C = np.array([cents[c] for c in order])
            cn = np.sqrt((C * C).sum(axis=1)); cn[cn == 0] = 1.0
            vn = np.sqrt((X * X).sum(axis=1)); vn[vn == 0] = 1.0
            cell = np.array(order)[np.argmax((X @ C.T) / np.outer(vn, cn), axis=1)]
            cents = {
                c: X[cell == c].mean(axis=0) for c in order if (cell == c).any()
            }
        return cents

    got = dict(train_centroids(emb, init, n_iter=2))
    want = ref_lloyds(2)
    assert sorted(got) == sorted(want)
    for c in got:
        assert np.allclose(got[c], want[c], atol=1e-9), c


def test_train_centroids_exact_and_empty_cell(spark):
    """Integer data -> decimal means are exact; a centroid that captures
    nothing is dropped, not NaN-propagated."""
    from pmcanalysis_spark.operators.similarity import train_centroids

    emb = spark.createDataFrame(
        [(0, [4.0, 0.0]), (1, [8.0, 0.0]), (2, [0.0, 2.0]), (3, [0.0, 6.0])],
        "vec_id long, embedding array<double>",
    )
    init = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, -1.0])]
    got = dict(train_centroids(emb, init, n_iter=1))
    assert got == {0: [6.0, 0.0], 1: [0.0, 4.0]}  # cell 2 captured nothing


def test_train_centroids_improves_single_probe_recall(spark):
    """On skew-clustered data (the real-world shape), training moves cells
    onto the true clusters: single-probe recall@3 vs brute-force cosine
    must improve materially over the untrained deterministic pick. (On
    isotropic data training is a measured no-op — PLANS.md 'IVF quantizer
    training'.)"""
    import numpy as np

    from pmcanalysis_spark.operators.similarity import ivf_topk, train_centroids

    rng = np.random.RandomState(42)
    sizes = [800, 400, 200, 100, 50, 25]
    centers = rng.randn(6, 16) * 3
    X = np.vstack([centers[i] + rng.randn(s, 16) for i, s in enumerate(sizes)])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    init = [(i, [float(x) for x in X[i]]) for i in range(6)]  # all from cluster 0

    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    np.fill_diagonal(S, -2)
    truth = {q: set(np.argsort(-S[q])[:3]) for q in range(len(X))}

    def recall(cents):
        got: dict = {}
        for r in ivf_topk(emb, cents, k=3).collect():
            got.setdefault(r["query_id"], set()).add(r["item_id"])
        return sum(len(got.get(q, set()) & truth[q]) for q in truth) / (3 * len(truth))

    r0 = recall(init)
    r2 = recall(train_centroids(emb, init, n_iter=2))
    assert r2 > r0 + 0.1, (r0, r2)


def test_pq_encode_impls_agree_and_adc_python_replica(spark):
    """PQ: every vector's codes equal a straight-Python replica of the
    ROUND(6)+lowest-code encode rule; ADC distances match a replica of
    encode + LUT-gather; and the codes actually compress (m longs per
    vector)."""
    from pmcanalysis_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_vectors,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        [float(x) for x in r.embedding]
        for r in emb.filter("vec_id < 16").orderBy("vec_id").collect()
    ]
    cbs = pq_codebooks_from_vectors(seeds, m=8)
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0][1]) == 8

    a = {r.id: list(r.codes) for r in pq_encode(emb, cbs).collect()}
    assert len(a) == emb.count()
    assert all(len(c) == 8 for c in a.values())

    # python replica of encode + ADC on a query
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding] for r in emb.collect()
    }
    def enc(v):
        out = []
        for s in range(8):
            sv = v[s * 8 : (s + 1) * 8]
            best = None
            for c, cv in cbs[s]:
                d = 0.0
                for x, y in zip(sv, cv):
                    d += (x - y) * (x - y)
                d = round(d, 6)
                if best is None or d < best[0] or (d == best[0] and c < best[1]):
                    best = (d, c)
            out.append(best[1])
        return out
    assert a == {i: enc(v) for i, v in vecs.items()}

    qid = 0
    q = vecs[qid]
    got = {
        r.item_id: r.adist
        for r in pq_adc_topk(emb, cbs, [(qid, q)], k=5).collect()
    }
    import decimal
    lut = {}
    for s in range(8):
        for c, cv in cbs[s]:
            t = 0.0
            for x, y in zip(q[s * 8 : (s + 1) * 8], cv):
                t += (x - y) * (x - y)
            lut[(s, c)] = round(t, 9)
    exp = {}
    for i, v in vecs.items():
        sm = sum(decimal.Decimal(repr(lut[(s, c)])) for s, c in enumerate(enc(v)))
        exp[i] = float(round(sm, 6))
    top = sorted(exp.items(), key=lambda kv: (kv[1], kv[0]))[:5]
    assert got == dict(top)


def test_pq_adc_recall_vs_exact(spark):
    """ADC is approximate; with 16 codewords x 8 subspaces over 500
    vectors the top-10 must still overlap the exact-L2 top-10
    substantially (the PQ promise), and the query's own row — zero
    quantization-vs-self gap aside — must land at rank 1."""
    from pmcanalysis_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_vectors,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.collect()}
    seeds = [vecs[i] for i in sorted(vecs)[:16]]
    cbs = pq_codebooks_from_vectors(seeds, m=8)
    queries = [(i, vecs[i]) for i in (0, 7, 42)]
    out = pq_adc_topk(emb, cbs, queries, k=10).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(out, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.item_id)
    recalls = []
    for qid, qv in queries:
        exact = sorted(
            vecs,
            key=lambda i: (
                sum((a - b) * (a - b) for a, b in zip(qv, vecs[i])),
                i,
            ),
        )[:10]
        recalls.append(len(set(by_q[qid]) & set(exact)) / 10.0)
    # untrained seed-row codebooks: well above the 10/500=0.02 random
    # floor (training each subspace via train_centroids is the quality
    # knob, orthogonal to the index/search semantics under test)
    assert sum(recalls) / len(recalls) >= 0.2
    assert all(by_q[qid][0] == qid for qid, _ in queries)


def test_ivfpq_impls_agree_and_probe_semantics(spark):
    """IVFADC: a query gets k rows, only items from its nprobe probed
    cells (the routing contract); with nprobe = n_cells the scan covers
    every item, and results stay identical across partitioning. The
    distances themselves are pinned by the ``sim_ivfpq`` DuckDB oracle."""
    from pmcanalysis_spark.operators.similarity import (
        ivf_assign,
        ivfpq_topk,
        pq_codebooks_from_vectors,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.collect()}
    cents = [(i, vecs[i]) for i in range(8)]
    cbs = pq_codebooks_from_vectors([vecs[i] for i in range(16)], m=8)
    queries = [(i, vecs[i]) for i in (0, 1, 2)]

    a = ivfpq_topk(emb, cents, cbs, queries, k=10, nprobe=2)
    ra = sorted((r.query_id, r.item_id, r.adist, r.rank) for r in a.collect())
    assert len(ra) == 30

    # routing contract: returned items belong to the query's 2 best cells
    cell_of = {
        int(r["id"]): int(r["cell"])
        for r in ivf_assign(emb, cents).select("id", "cell").collect()
    }
    def cos(q, c):
        num = sum(x * y for x, y in zip(q, c))
        return num / (sum(x * x for x in q) ** 0.5 * sum(x * x for x in c) ** 0.5)
    for qid, qv in queries:
        probed = {cell for _, cell in sorted(((-cos(qv, cv), cell) for cell, cv in cents))[:2]}
        items = [r.item_id for r in ra_rows(ra, qid)]
        assert all(cell_of[i] in probed for i in items)

    # full-probe run covers all cells; repartitioned input changes nothing
    full = ivfpq_topk(emb, cents, cbs, queries, k=10, nprobe=8)
    full2 = ivfpq_topk(emb.repartition(7), cents, cbs, queries, k=10, nprobe=8)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, full2.collect()))


def ra_rows(rows, qid):
    class R:  # tiny row shim for the helper above
        def __init__(self, t):
            self.query_id, self.item_id, self.adist, self.rank = t
    return [R(t) for t in rows if t[0] == qid]


def test_train_pq_codebooks(spark):
    """Per-subspace Lloyd's trainer: training reduces subspace distortion
    on planted clusters; a codeword that captures nothing keeps its previous value;
    and the decimal-mean recipe makes the result partition-invariant."""
    from pmcanalysis_spark.operators.similarity import (
        pq_codebooks_from_vectors,
        train_pq_codebooks,
    )

    # planted data: 3 clusters per 4-dim subspace, 4 subspaces (dim 16)
    def vec(i):
        base = [float((i % 3) * 10 + s) for s in range(4)]
        jitter = [((i * 7 + p) % 5) * 0.1 for p in range(4)]
        return [b + j for b, j in zip(base, jitter)] * 4

    rows = [(i, vec(i)) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = pq_codebooks_from_vectors([vec(i) for i in range(4)], m=4)
    # plant an unreachable codeword: nothing within 1e3 of it ever assigns
    far = [1e6] * 4
    init = [cb + [(len(cb), list(far))] for cb in init]

    a = train_pq_codebooks(emb, init, n_iter=2)
    assert len(a) == 4 and all(len(cb) == 5 for cb in a)
    # empty codeword kept verbatim (never renumbered, never dropped)
    assert all(cb[-1] == (4, far) for cb in a)

    import numpy as np

    V = np.asarray([v for _, v in rows])

    def distortion(books):
        tot = 0.0
        for s, cb in enumerate(books):
            C = np.asarray([cv for _, cv in cb])
            Vs = V[:, s * 4 : (s + 1) * 4]
            d2 = (Vs * Vs).sum(1, keepdims=True) - 2 * Vs @ C.T + (C * C).sum(1)
            tot += d2.min(1).sum()
        return tot

    assert distortion(a) < distortion(init) * 0.5

    c = train_pq_codebooks(emb.repartition(7), init, n_iter=2)
    assert c == a
