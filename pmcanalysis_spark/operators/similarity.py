"""Similarity search over embedding columns (array<float>).

Every operator is one vectorized numpy kernel at the Python boundary
(``mapInPandas`` / ``applyInPandas``): one BLAS matmul per Arrow batch or
candidate group. The DuckDB oracles in ``__spark_entry__``
(``sim_*``) are the reference for correctness.

- cosine_topk: brute-force cosine top-k of a bounded query side against
  the corpus (one pass over the corpus, per-batch partial top-k).
- ivf_topk / lsh_bucketed_topk: exact cosine within an IVF cell or a
  random-hyperplane LSH bucket — the scale paths (work ∝ Σ group_size², not
  n²), mega-groups bounded by ``max_group_size``.
- pq_encode / pq_adc_topk / ivfpq_topk: product quantization and IVFADC.

Hyperplanes derive from a hash of (plane index, dimension index), so both
Spark and any oracle can regenerate them bit-for-bit without a stored model.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    """Dot product, added left to right like DuckDB's list_dot_product
    fold, so the doubles match it."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    """L2 norm with the zero-vector guard (norm 0 -> 1): a degenerate
    all-zero vector then scores cosine 0 against everything instead of
    0/0 = NaN (which Spark's desc ordering ranks FIRST — the numpy kernels
    apply the same guard in ``_norms``)."""
    n = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when(n == 0.0, F.lit(1.0)).otherwise(n)


# -- shared kernel helpers: every ANN/dedup operator below and in dedup.py
# -- runs its numpy arithmetic through these, none keeps its own copy.


def _id_vec(df: DataFrame, id_col: str, vec_col: str, *carry: str) -> DataFrame:
    """(id long, vec array<double>, *carry): the rows every kernel reads."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        *[F.col(c) for c in carry],
    )


def _vec_batches(batches):
    """(batch, V) for each non-empty Arrow batch of ``_id_vec`` rows; V is
    the batch's (rows × dim) float64 matrix."""
    for pdf in batches:
        if len(pdf):
            yield pdf, np.vstack(pdf["vec"].to_numpy())


def _norms(V):
    """Row L2 norms with ``_norm``'s zero-vector guard (norm 0 -> 1)."""
    n = np.sqrt((V * V).sum(axis=1))
    n[n == 0.0] = 1.0
    return n


def _cosines(A, a_norms, B, b_norms):
    """The cosine block A @ B.T / outer(a_norms, b_norms): one BLAS matmul."""
    return (A @ B.T) / np.outer(a_norms, b_norms)


def _row_topk(q_ids, i_ids, S, k: int) -> pd.DataFrame:
    """(query_id, item_id, cosine): the top-k of each row of S, ranked by
    (-cosine, item_id) like the oracles' window; -inf entries (masked
    self-pairs) are dropped."""
    kk = min(k, S.shape[1])
    out_q, out_i, out_c = [], [], []
    for qi in range(S.shape[0]):
        row = S[qi]
        order = np.lexsort((i_ids, -row))[:kk]
        keep = row[order] > -np.inf
        out_q.extend([q_ids[qi]] * int(keep.sum()))
        out_i.extend(i_ids[order][keep])
        out_c.extend(row[order][keep])
    return pd.DataFrame(
        {
            "query_id": pd.Series(out_q, dtype="int64"),
            "item_id": pd.Series(out_i, dtype="int64"),
            "cosine": pd.Series(out_c, dtype="float64"),
        }
    )


def _top_rank(df: DataFrame, k: int, value: str, order) -> DataFrame:
    """(query_id, item_id, value, rank): each query's first k rows by
    (order, item_id). Merging partial top-ks this way IS the global top-k:
    the partials were cut on the same key."""
    w = Window.partitionBy("query_id").orderBy(order, "item_id")
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", value, "rank")
    )


def _sorted_vectors(pairs) -> list[tuple[int, list[float]]]:
    """[(int id, [float, ...])] sorted by id: the normal form of a centroid
    list and of one PQ codebook."""
    return sorted((int(c), [float(x) for x in v]) for c, v in pairs)


def _component_means(comps: DataFrame, keys: list[str]) -> dict:
    """{(*keys): [mean per pos, in pos order]} of (*keys, pos, val) rows,
    collected to the driver. Each mean is an order-independent
    DECIMAL(28,12) sum divided in DOUBLE, the repo's cross-engine float
    recipe, so it is bit-reproducible under any partitioning/retry and
    replayable by the SQL oracles."""
    rows = (
        comps.groupBy(*keys, "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
        .collect()
    )
    by_key: dict[tuple, dict[int, float]] = {}
    for r in rows:
        by_key.setdefault(tuple(int(r[c]) for c in keys), {})[int(r["pos"])] = float(r["m"])
    return {key: [m[p] for p in sorted(m)] for key, m in by_key.items()}


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k of each query against the corpus, excluding
    self-matches (same id). ``queries`` must be bounded: the query matrix is
    collected to the driver and closed over a mapInPandas that computes
    Q @ V.T per corpus Arrow batch and emits only the per-batch top-k per
    query; a final window merges partials. ONE pass over the corpus, no q×n
    row materialization — at 100 TB the corpus-side shuffle volume is
    q×k×n_batches rows, not q×n. (Top-k of a union of per-batch top-ks IS
    the global top-k; tie order preserved by the shared (-cosine, item_id)
    sort key.)"""
    qrows = _id_vec(queries, id_col, vec_col).orderBy("id").collect()
    qids = [int(r["id"]) for r in qrows]
    Q = [list(r["vec"]) for r in qrows]
    if not qids:
        return embeddings.sparkSession.createDataFrame([], _TOPK_SCHEMA)

    def part(batches):
        Qm = np.asarray(Q, dtype="float64")
        qn = _norms(Qm)
        qida = np.asarray(qids, dtype="int64")
        for pdf, V in _vec_batches(batches):
            ids = pdf["id"].to_numpy(dtype="int64")
            S = _cosines(Qm, qn, V, _norms(V))  # (q, batch)
            S[qida[:, None] == ids[None, :]] = -np.inf  # self-match
            yield _row_topk(qida, ids, S, k)

    partials = _id_vec(embeddings, id_col, vec_col).mapInPandas(part, _PARTIAL_SCHEMA)
    return _top_rank(partials, k, "cosine", F.desc("cosine"))


_TOPK_SCHEMA = "query_id long, item_id long, cosine double, rank int"

_PARTIAL_SCHEMA = "query_id long, item_id long, cosine double"


def _chunk_pairs(df: DataFrame, group_cols: list[str], max_group_size: int) -> DataFrame:
    """Sub-salt oversized groups into bounded chunk-PAIR groups (the
    applyInPandas mega-group guard: AQE cannot skew-split applyInPandas
    groups, so a skewed LSH bucket / IVF mega-cell would otherwise land an
    O(n²) matmul on one task with unbounded memory).

    Each group of size n splits into m = ceil(n / max_group_size) chunks
    (chunk = id mod m); every row is replicated into the m chunk-pairs that
    contain its chunk, so every PAIR of rows in the original group meets in
    exactly ONE (ci<=cj) chunk-pair group of at most 2*max_group_size rows.
    Total work stays O(n²) (inherent to all-pairs-within-group) but per-task
    memory and runtime are bounded, and the m² chunk-pairs of a mega group
    spread across the cluster instead of serializing on one core.

    Sizing: a COUNT window over the group key — ONE pass over the upstream
    (no second scan, no join; the group-key shuffle it introduces replaces
    the shuffle the downstream per-group kernel needed anyway).
    For n <= max_group_size: m = 1, a single (0,0) chunk-pair per group —
    one matmul over the whole group.
    Requires an ``id`` column (used for the deterministic chunk hash).
    """
    wsize = Window.partitionBy(*group_cols)
    m = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.count("*").over(wsize) / F.lit(float(max_group_size))).cast("long"),
    )
    d = (
        df.withColumn("_m", m)
        .withColumn("_c", F.pmod(F.col("id"), F.col("_m")).cast("int"))
        .withColumn("_o", F.explode(F.sequence(F.lit(0), (F.col("_m") - 1).cast("int"))))
    )
    return (
        d.withColumn("ci", F.least("_c", "_o"))
        .withColumn("cj", F.greatest("_c", "_o"))
        .drop("_m", "_o")
    )


def _chunk_pair_block(pdf: pd.DataFrame):
    """The cosine block of one (group..., ci, cj) chunk-pair group as
    (row ids, column ids, G, diagonal), or None when it holds no pair.
    ci == cj: the chunk against itself (diagonal; G is symmetric with the
    self-pairs on its diagonal). ci < cj: the ci rows against the cj rows,
    so each cross pair appears once."""
    if len(pdf) <= 1:
        return None
    ids = pdf["id"].to_numpy(dtype="int64")
    V = np.vstack(pdf["vec"].to_numpy())
    norms = pdf["norm"].to_numpy(dtype="float64")
    ci = int(pdf["ci"].iat[0])
    if ci == int(pdf["cj"].iat[0]):
        return ids, ids, _cosines(V, norms, V, norms), True
    ma = pdf["_c"].to_numpy() == ci
    if not ma.any() or ma.all():
        return None
    return ids[ma], ids[~ma], _cosines(V[ma], norms[ma], V[~ma], norms[~ma]), False


def _per_chunk_pair(
    df: DataFrame, group_cols: list[str], max_group_size: int, reduce, schema: str
) -> DataFrame:
    """All pairs within each group of (id, vec, norm, *group_cols) rows, as
    ONE BLAS matmul per bounded chunk-pair (``_chunk_pairs``): applyInPandas
    runs ``reduce(row_ids, col_ids, G, diagonal)`` on each chunk-pair's
    cosine block (``_chunk_pair_block``) and returns its ``schema`` rows.
    Each vector crosses the Arrow boundary once per chunk-pair, never once
    per pair; a chunk-pair with no pair yields no rows."""
    chunked = _chunk_pairs(
        df.select("id", "vec", "norm", *group_cols), group_cols, max_group_size
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        block = _chunk_pair_block(pdf)
        return pd.DataFrame() if block is None else reduce(*block)

    return chunked.groupBy(*group_cols, "ci", "cj").applyInPandas(fn, schema)


def _grouped_topk(
    assigned: DataFrame, group_cols: list[str], k: int, max_group_size: int
) -> DataFrame:
    """Per-group exact top-k over (id, vec, norm, *group_cols), mega-group
    safe: each chunk-pair emits a PARTIAL per-query top-k and a window
    merges them (top-k of a union of partial top-ks IS the global top-k;
    tie order preserved by the shared (-cosine, item_id) key). Ulp-level
    differences between BLAS blocked summation and the oracles' sequential
    fold are absorbed by ROUND(cosine, 6)."""

    def topk(rows, cols, G, diagonal):
        if diagonal:
            np.fill_diagonal(G, -np.inf)  # exclude self-pairs
            return _row_topk(rows, cols, G, k)
        # cross block: both sides act as queries
        return pd.concat(
            [_row_topk(rows, cols, G, k), _row_topk(cols, rows, G.T, k)],
            ignore_index=True,
        )

    partials = _per_chunk_pair(assigned, group_cols, max_group_size, topk, _PARTIAL_SCHEMA)
    return _top_rank(partials, k, "cosine", F.desc("cosine"))


def plane_component_py(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    int(md5(f'{plane}:{dim}')[:8], 16) / 2^32 - 0.5. Computed ONCE on the
    driver — the planes are index-derived constants, so folding them here
    (instead of an F.md5 expression evaluated per row) removes
    planes×dim md5 calls from every row. The ``sim_lsh_topk`` oracle
    derives the same planes with DuckDB's md5."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return h / float(1 << 32) - 0.5


def _hyperplane_buckets(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    num_planes: int,
    num_tables: int,
) -> DataFrame:
    """(id, vec, norm, buckets array<long>): bit p of table t's bucket is
    the sign of v · plane ``t * num_planes + p`` (``plane_component_py``),
    so table 0 uses planes 0..num_planes-1. All tables' bits and the norms
    come from ONE V @ P.T matmul per Arrow batch (a Column-expression bucket
    tree at 4×8×64 nodes measurably chokes plan optimization)."""
    P = [
        [plane_component_py(t * num_planes + p, d) for d in range(dim)]
        for t in range(num_tables)
        for p in range(num_planes)
    ]

    def bucketize(batches):
        Pm = np.asarray(P, dtype="float64")  # (T*planes, dim)
        w = 1 << np.arange(num_planes, dtype="int64")
        for pdf, V in _vec_batches(batches):
            S = (V @ Pm.T) >= 0.0  # (n, T*planes)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype="int64"),
                    "vec": pdf["vec"],
                    "norm": _norms(V),
                    "buckets": list(S.reshape(len(pdf), num_tables, num_planes) @ w),
                }
            )

    return _id_vec(embeddings, id_col, vec_col).mapInPandas(
        bucketize, "id long, vec array<double>, norm double, buckets array<long>"
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (argmin L2 == argmax dot for unit-ish cells; we use max cosine for
    stability). Centroids are a small driver-side list (typically k-means
    output; any deterministic pick works for the index structure itself) —
    the assignment is one narrow pass, no shuffle: a mapInPandas with the
    centroid matrix closed over, one V @ C.T per Arrow batch.
    Returns (id, vec, norm, cell). Ties (two equal cosines) break to the
    FIRST centroid in the given list (argmax first-occurrence).
    """
    cell_ids = [int(c) for c, _ in centroids]
    C = [[float(x) for x in cvec] for _, cvec in centroids]

    def assign(batches):
        Cm = np.asarray(C, dtype="float64")
        cn = _norms(Cm)
        cells = np.asarray(cell_ids, dtype="int64")
        for pdf, V in _vec_batches(batches):
            vn = _norms(V)
            scores = _cosines(V, vn, Cm, cn)
            best = cells[np.argmax(scores, axis=1)]  # first max = lowest id
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype="int64"),
                    "vec": pdf["vec"],
                    "norm": vn,
                    "cell": best,
                }
            )

    return _id_vec(embeddings, id_col, vec_col).mapInPandas(
        assign, "id long, vec array<double>, norm double, cell long"
    )


def ivf_topk(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_group_size: int = 4096,
) -> DataFrame:
    """IVF ANN (the scale path alongside LSH): candidates share a coarse
    cell; exact cosine + top-k within the cell. Work ∝ Σ cell_size², not
    n².

    One shuffle on cell, then ONE BLAS matmul per cell via applyInPandas —
    each vector crosses Arrow once per cell. applyInPandas groups can't be
    AQE-skew-split, so a mega-cell is guarded by ``max_group_size`` (default
    4096): oversized cells run as bounded chunk-pair matmuls + a
    partial-top-k merge (see _chunk_pairs); a cell under the cap is one
    chunk-pair, one matmul."""
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    return _grouped_topk(assigned, ["cell"], k, max_group_size)


def lsh_bucketed_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    k: int = 10,
    max_group_size: int = 4096,
) -> DataFrame:
    """ANN: candidates share a hyperplane-sign bucket; exact cosine + top-k
    within candidates. Recall < 1 by design; union multiple plane sets for
    higher recall (standard multi-probe trade-off).

    Bucket bits (bit p = sign of v · plane_p, planes from
    ``plane_component_py``) and norms come from ONE V @ P.T mapInPandas
    pass (``_hyperplane_buckets`` with one table), then one BLAS matmul per
    bucket, mega-buckets chunk-pair-bounded by ``max_group_size`` (see
    ivf_topk)."""
    bucketed = _hyperplane_buckets(embeddings, id_col, vec_col, dim, num_planes, 1)
    return _grouped_topk(
        bucketed.select("id", "vec", "norm", F.col("buckets")[0].alias("bucket")),
        ["bucket"],
        k,
        max_group_size,
    )


def train_centroids(
    embeddings: DataFrame,
    init: list[tuple[int, list[float]]],
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd's k-means for the IVF coarse quantizer: refine the
    ``init`` centroids with ``n_iter`` assign→mean iterations and return the
    trained ``(cell, centroid)`` list ``ivf_assign``/``ivf_topk`` take.
    Balanced cells are what makes the IVF cost model (work ∝ Σ cell_size²)
    hold — a deterministic-pick index works, a trained one bounds the tail.

    Scale shape per iteration: ONE narrow assignment pass (`ivf_assign`, the
    same mapInPandas batch-matmul used at search time — assignment is by max
    cosine, so centroid scale cancels and no re-normalization step is
    needed), then posexplode → groupBy(cell, pos): the shuffle carries
    component-grain rows on a uniform bounded key space (k × dim groups) and
    partial aggregation combines map-side; the driver holds only the k × dim
    centroid matrix between iterations (what it must broadcast anyway).

    The mean is an order-independent DECIMAL(28,12) sum divided in DOUBLE —
    the repo's cross-engine float recipe — so the trained centroids are
    bit-reproducible under any partitioning/retry AND replayable by the SQL
    oracle (`sim_ivf_trained` unrolls these iterations in DuckDB). Fixed
    ``n_iter`` (no float-noise-coupled stopping rule) for the same
    reproducibility reason. Cells that capture no vectors are dropped
    (FAISS-style empty-cell reseeding is a production knob, not index
    semantics); ties assign to the lowest cell id.
    """
    cents = _sorted_vectors(init)
    for _ in range(n_iter):
        if not cents:
            break
        assigned = ivf_assign(embeddings, cents, id_col, vec_col)
        means = _component_means(
            assigned.select("cell", F.posexplode("vec").alias("pos", "val")), ["cell"]
        )
        cents = [(cell, comps) for (cell,), comps in sorted(means.items())]
    return cents


def pq_codebooks_from_vectors(
    vectors: list[list[float]], m: int
) -> list[list[tuple[int, list[float]]]]:
    """Split ``k`` seed vectors into ``m`` per-subspace codebooks:
    codeword ``c`` of subspace ``s`` is vector ``c``'s s-th dim/m slice.
    Pure list slicing — no float arithmetic, so Spark and any SQL oracle
    reconstruct the identical codebooks from the same rows. (Production
    would train each subspace with k-means — ``train_centroids`` per
    slice; the index structure and search math are identical.)"""
    if not vectors:
        return []
    dim = len(vectors[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    return [
        [
            (code, [float(x) for x in vec[s * d_sub : (s + 1) * d_sub]])
            for code, vec in enumerate(vectors)
        ]
        for s in range(m)
    ]


def train_pq_codebooks(
    embeddings: DataFrame,
    init: list[list[tuple[int, list[float]]]],
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace Lloyd's k-means for the PQ codebooks (arXiv:1102.3828
    §III trains each subquantizer independently) — the training half that
    turns ``pq_codebooks_from_vectors``'s seed slices into codebooks that
    actually minimize subspace distortion, the same upgrade
    ``train_centroids`` gives the IVF coarse quantizer.

    Scale shape per iteration: ONE ``pq_encode`` assignment pass (the
    mapInPandas batch-matmul used at index time, distances ROUND(6) ties
    to the lowest code — so train-time and index-time assignment are the
    same function), carrying the raw vector through the batch; then
    posexplode to component grain and groupBy(s, code, pos) — a uniform
    BOUNDED key space (m·k·d_sub = k·dim groups total) with map-side
    partial aggregation, so the shuffle carries per-task partials, not
    rows. The driver holds only the m × k × d_sub codebook tensor between
    iterations (what search must broadcast anyway).

    Codeword means are order-independent DECIMAL(28,12) sums divided in
    DOUBLE — the repo's cross-engine float recipe — so training is
    bit-reproducible under any partitioning/retry and the SQL oracle
    (``sim_pq_trained``) replays the exact codebooks by unrolling the
    iterations. Fixed ``n_iter`` (no float-coupled stopping rule) for the
    same reason. A codeword that captures no vectors KEEPS its previous
    value (unlike IVF's drop policy: PQ codes index fixed-size codebooks,
    so dropping would renumber every encoded item; FAISS likewise keeps
    and optionally reseeds).
    """
    if not init:
        return []
    d_sub = len(init[0][0][1])
    books = [_sorted_vectors(cb) for cb in init]
    vec_d = f"__tpq_{vec_col}"
    prepped = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(vec_col).cast("array<double>").alias(vec_d),
    )
    for _ in range(n_iter):
        enc = pq_encode(prepped, books, id_col, vec_col, carry_cols=(vec_d,))
        comp = enc.select(
            F.posexplode("codes").alias("s", "code"), F.col(vec_d).alias("vec")
        ).select(
            "s",
            "code",
            F.posexplode(
                F.expr(f"slice(vec, s * {d_sub} + 1, {d_sub})")
            ).alias("pos", "val"),
        )
        means = _component_means(comp, ["s", "code"])
        books = [
            [(code, means.get((s, code), old)) for code, old in cb]
            for s, cb in enumerate(books)
        ]
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantization encode: each vector becomes ``m`` small codes,
    code ``s`` = the argmin-L2 codeword of subspace ``s`` (FAISS's PQ /
    IVFADC building block, arXiv:1102.3828). (id, codes array<long>).

    THE memory lever for web-scale ANN: a 64-dim float vector (256 B+)
    compresses to m=8 one-byte codes, so a 10^12-vector index fits a
    cluster's RAM and the ADC scan (``pq_adc_topk``) never touches raw
    vectors again. Encode itself is ONE narrow mapInPandas pass, no
    shuffle: a (batch × k) matmul per subspace with the codebook matrix
    closed over.

    Cross-engine determinism: distances are ROUND(6) then ties break to
    the LOWEST code id, as in the SQL oracle — same recipe as
    ``ivf_assign``. ``carry_cols`` pass through the UDF batch unchanged
    (e.g. the IVF cell id in ``ivfpq_topk``), so composing with a routing
    stage costs no extra join."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    m = len(codebooks)
    if not m:
        raise ValueError("empty codebooks")
    d_sub = len(codebooks[0][0][1])
    books = [_sorted_vectors(cb) for cb in codebooks]
    carry = list(carry_cols)

    def encode(batches):
        Cs = [np.asarray([v for _, v in cb], dtype="float64") for cb in books]
        ids_per_s = [np.asarray([c for c, _ in cb], dtype="int64") for cb in books]
        for pdf, V in _vec_batches(batches):
            codes = np.empty((len(pdf), m), dtype="int64")
            for s in range(m):
                Vs = V[:, s * d_sub : (s + 1) * d_sub]
                C = Cs[s]
                d2 = (
                    (Vs * Vs).sum(axis=1, keepdims=True)
                    - 2.0 * (Vs @ C.T)
                    + (C * C).sum(axis=1)
                )
                # ROUND(6)+lowest-code tie-break, same rule as the oracle
                d2 = np.round(d2, 6)
                codes[:, s] = ids_per_s[s][np.argmin(d2, axis=1)]
            out = {"id": pdf["id"].to_numpy(dtype="int64"), "codes": list(codes)}
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    v = _id_vec(embeddings, id_col, vec_col, *carry)
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("codes", ArrayType(LongType())),
        ]
        + [v.schema[c] for c in carry]
    )
    return v.mapInPandas(encode, schema)


def _adc_topk(codes: DataFrame, lut_rows: list[tuple], keys: list[str], k: int) -> DataFrame:
    """The ADC scoring tail of ``pq_adc_topk`` and ``ivfpq_topk``.
    ``lut_rows`` are (query_id, *keys, q_s, codeword), ``keys`` ending in
    ("s", "code") with an optional leading "cell" that also matches the
    item's IVF cell. Each LUT term = ROUND(Σ (q_s − c)², 9) folded left to
    right IN-ENGINE (the fold DuckDB's list_dot_product replays); an item's
    adist = ROUND(DECIMAL(28,9) sum of its m gathered terms, 6), an
    order-independent agg; each query keeps its k lowest by (adist,
    item_id). Plan: explode codes to (item, [cell,] s, code) →
    broadcast-join the LUT → groupBy item (map-side partials on the unique
    item key) → per-query top-k window."""
    types = {"cell": "long", "s": "int", "code": "long"}
    lut = codes.sparkSession.createDataFrame(
        lut_rows,
        ", ".join(
            ["query_id long"]
            + [f"{c} {types[c]}" for c in keys]
            + ["qsvec array<double>", "cvec array<double>"]
        ),
    ).select(
        "query_id",
        *keys,
        F.round(
            F.aggregate(
                F.zip_with(F.col("qsvec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        ).alias("term"),
    )
    exploded = codes.select(
        F.col("id").alias("item_id"), *keys[:-2], F.posexplode("codes").alias("s", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), keys)
        .groupBy("query_id", "item_id")
        .agg(
            F.round(
                F.sum(F.col("term").cast("decimal(28,9)")).cast("double"), 6
            ).alias("adist")
        )
    )
    return _top_rank(scored, k, "adist", "adist")


def pq_adc_topk(
    embeddings: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, the m·k
    lookup table term[s][code] = ||q_s − codeword||² is computed ONCE,
    and every item's approximate distance is a table-gather sum over its
    codes — no per-item float vector math, which is why a PQ scan is
    memory- (not FLOP-) bound and sustains 10^12 items. Output
    (query_id, item_id, adist, rank) with rank by ascending ROUND(adist,6),
    ties to the lower item id.

    Every float on the result path is cross-engine exact: LUT terms are
    computed IN-ENGINE (a left-to-right fold over the q/codeword diff,
    ROUND(9) — the same fold DuckDB's list_dot_product replays), the
    per-item sum of m terms is an order-independent DECIMAL(28,9) agg,
    and the final adist is ROUND(6). Plan: encode (narrow) → explode to
    (item, s, code) → broadcast-join the q·m·k-row LUT → groupBy item
    (map-side partials on the unique item key) → per-query top-k window.
    """
    d_sub = len(codebooks[0][0][1])
    books = [_sorted_vectors(cb) for cb in codebooks]
    lut_rows = [
        (int(qid), s, c, [float(x) for x in qvec[s * d_sub : (s + 1) * d_sub]], cv)
        for qid, qvec in queries
        for s, cb in enumerate(books)
        for c, cv in cb
    ]
    codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    return _adc_topk(codes, lut_rows, ["s", "code"], k)


def ivfpq_topk(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC — the canonical trillion-vector ANN design (FAISS IVF-PQ,
    arXiv:1102.3828 §IV): vectors route to an IVF cell, their RESIDUAL
    (vec − centroid) is PQ-encoded, and a query scans only its ``nprobe``
    nearest cells with a per-(query, cell) residual lookup table. Output
    (query_id, item_id, adist, rank), rank by ascending ROUND(adist, 6),
    ties to the lower item id.

    Why this is the 100 TB shape: the index holds m bytes + a cell id per
    vector (no raw floats), a query touches ~nprobe/n_cells of the data,
    and both index passes are narrow (assignment and encode fuse into one
    scan — the cell id rides through ``pq_encode(carry_cols=('cell',))``,
    no post-encode join). The only wide exchange is the per-item ADC sum
    on the unique item key.

    Cross-engine determinism mirrors the component operators: cell choice
    = raw-cosine argmax, first/lowest-cell wins (``ivf_assign``'s rule,
    replayed by the oracle's ROW_NUMBER); residual subtraction is exact
    IEEE on identical operands; encode argmin under ROUND(6)+lowest-code;
    LUT terms in-engine ROUND(9); item sums DECIMAL(28,9) then ROUND(6).
    Query routing (cosine to each centroid, top-``nprobe``) runs
    driver-side with the same left-to-right fold the SQL replays.
    """
    spark = embeddings.sparkSession
    d_sub = len(codebooks[0][0][1])
    cents = _sorted_vectors(centroids)

    assigned = ivf_assign(embeddings, cents, id_col, vec_col)
    cent_df = spark.createDataFrame(cents, "cell long, centv array<double>")
    residuals = assigned.join(F.broadcast(cent_df), "cell").select(
        "id",
        "cell",
        F.zip_with(F.col("vec"), F.col("centv"), lambda a, b: a - b).alias("rvec"),
    )
    codes = pq_encode(
        residuals, codebooks, id_col="id", vec_col="rvec", carry_cols=("cell",)
    )

    def _fold_dot(xs: list[float]) -> float:
        acc = 0.0
        for x in xs:
            acc += x * x
        return acc

    def _cos(q: list[float], c: list[float]) -> float:
        num = 0.0
        for a, b in zip(q, c):
            num += a * b
        return num / ((_fold_dot(q) ** 0.5) * (_fold_dot(c) ** 0.5))

    books = [_sorted_vectors(cb) for cb in codebooks]
    cent_of = dict(cents)
    lut_rows = []
    for qid, qvec in queries:
        qv = [float(x) for x in qvec]
        ranked = sorted(
            ((-_cos(qv, cv), cell) for cell, cv in cents)
        )[:nprobe]
        for _, cell in ranked:
            qres = [a - b for a, b in zip(qv, cent_of[cell])]
            for s, cb in enumerate(books):
                for code, cv in cb:
                    lut_rows.append(
                        (int(qid), int(cell), s, code,
                         qres[s * d_sub : (s + 1) * d_sub], cv)
                    )
    return _adc_topk(codes, lut_rows, ["cell", "s", "code"], k)
