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
    apply the same ``n[n == 0] = 1`` guard)."""
    n = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when(n == 0.0, F.lit(1.0)).otherwise(n)


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
    import numpy as np
    import pandas as pd

    qrows = (
        queries.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .orderBy("id")
        .collect()
    )
    qids = [int(r["id"]) for r in qrows]
    Q = [list(r["vec"]) for r in qrows]
    if not qids:
        spark = embeddings.sparkSession
        return spark.createDataFrame([], _TOPK_SCHEMA)

    def part(batches):
        Qm = np.asarray(Q, dtype="float64")
        qn = np.sqrt((Qm * Qm).sum(axis=1))
        qn[qn == 0.0] = 1.0
        qida = np.asarray(qids, dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["vec"].to_numpy())
            vn = np.sqrt((V * V).sum(axis=1))
            vn[vn == 0.0] = 1.0  # zero-vector guard, mirrors _norm
            ids = pdf["id"].to_numpy(dtype="int64")
            S = (Qm @ V.T) / np.outer(qn, vn)  # (q, batch)
            S[qida[:, None] == ids[None, :]] = -np.inf  # self-match
            kk = min(k, S.shape[1])
            out_q, out_i, out_c = [], [], []
            for qi in range(len(qida)):
                row = S[qi]
                order = np.lexsort((ids, -row))[:kk]
                keep = row[order] > -np.inf
                out_q.extend([qida[qi]] * int(keep.sum()))
                out_i.extend(ids[order][keep])
                out_c.extend(row[order][keep])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "item_id": pd.Series(out_i, dtype="int64"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                }
            )

    partials = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).mapInPandas(part, _PARTIAL_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "cosine", "rank")
    )


def _group_topk_fn(k: int):
    """applyInPandas kernel: within one candidate group (IVF cell / LSH
    bucket), compute the full pairwise cosine matrix with ONE BLAS matmul
    and emit per-query top-k. Each vector crosses the Arrow boundary once
    per group (O(n) transfer), not once per pair (O(n²)) — the reason this
    beats both the interpreted HOF fold and a per-pair pandas UDF.

    Ordering matches the oracles' window exactly: rank by (-cosine,
    item_id) via lexsort; ulp-level differences between BLAS blocked
    summation and the oracles' sequential fold are absorbed by ROUND(cosine,
    6)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "query_id": pd.Series([], dtype="int64"),
            "item_id": pd.Series([], dtype="int64"),
            "cosine": pd.Series([], dtype="float64"),
            "rank": pd.Series([], dtype="int32"),
        }
    )

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n <= 1:
            return empty
        ids = pdf["id"].to_numpy(dtype="int64")
        V = np.vstack(pdf["vec"].to_numpy())
        norms = pdf["norm"].to_numpy(dtype="float64")
        G = (V @ V.T) / np.outer(norms, norms)
        np.fill_diagonal(G, -np.inf)  # exclude self-pairs
        kk = min(k, n - 1)
        qs = np.repeat(ids, kk)
        its = np.empty(n * kk, dtype="int64")
        cs = np.empty(n * kk, dtype="float64")
        for i in range(n):
            row = G[i]
            order = np.lexsort((ids, -row))[:kk]
            its[i * kk : (i + 1) * kk] = ids[order]
            cs[i * kk : (i + 1) * kk] = row[order]
        return pd.DataFrame(
            {
                "query_id": qs,
                "item_id": its,
                "cosine": cs,
                "rank": np.tile(np.arange(1, kk + 1, dtype="int32"), n),
            }
        )

    return fn


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
    byte-identical grouping to the uncapped path.
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


def _chunk_pair_topk_fn(k: int):
    """applyInPandas kernel for one (group, ci, cj) chunk-pair: PARTIAL
    per-query top-k (no rank — a window merges partials across a query's
    chunk-pairs). ci == cj: pairwise within the chunk (diagonal masked);
    ci < cj: one cross matmul, both sides act as queries."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "query_id": pd.Series([], dtype="int64"),
            "item_id": pd.Series([], dtype="int64"),
            "cosine": pd.Series([], dtype="float64"),
        }
    )

    def topk_rows(q_ids, i_ids, S):
        kk = min(k, S.shape[1])
        out_q, out_i, out_c = [], [], []
        for qi in range(S.shape[0]):
            row = S[qi]
            order = np.lexsort((i_ids, -row))[:kk]
            keep = row[order] > -np.inf
            out_q.extend([q_ids[qi]] * int(keep.sum()))
            out_i.extend(i_ids[order][keep])
            out_c.extend(row[order][keep])
        return out_q, out_i, out_c

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n <= 1:
            return empty
        ci, cj = int(pdf["ci"].iat[0]), int(pdf["cj"].iat[0])
        ids = pdf["id"].to_numpy(dtype="int64")
        V = np.vstack(pdf["vec"].to_numpy())
        norms = pdf["norm"].to_numpy(dtype="float64")
        if ci == cj:
            G = (V @ V.T) / np.outer(norms, norms)
            np.fill_diagonal(G, -np.inf)
            q, i, c = topk_rows(ids, ids, G)
        else:
            ma = pdf["_c"].to_numpy() == ci
            if not ma.any() or ma.all():
                return empty
            G = (V[ma] @ V[~ma].T) / np.outer(norms[ma], norms[~ma])
            qa, ia, ca = topk_rows(ids[ma], ids[~ma], G)
            qb, ib, cb = topk_rows(ids[~ma], ids[ma], G.T)
            q, i, c = qa + qb, ia + ib, ca + cb
        return pd.DataFrame(
            {
                "query_id": pd.Series(q, dtype="int64"),
                "item_id": pd.Series(i, dtype="int64"),
                "cosine": pd.Series(c, dtype="float64"),
            }
        )

    return fn


def _grouped_topk(
    assigned: DataFrame,
    group_cols: list[str],
    k: int,
    max_group_size: int | None,
) -> DataFrame:
    """Per-group exact top-k over (id, vec, norm, *group_cols), mega-group
    safe: with ``max_group_size`` set, oversized groups run as bounded
    chunk-pair matmuls and a window merges the per-chunk-pair partial top-ks
    (top-k of a union of partial top-ks IS the global top-k; tie order
    preserved by the shared (-cosine, item_id) key). With None, one
    applyInPandas per whole group (the r2 uncapped behavior)."""
    if max_group_size is None:
        return assigned.groupBy(*group_cols).applyInPandas(
            _group_topk_fn(k), _TOPK_SCHEMA
        )
    chunked = _chunk_pairs(
        assigned.select("id", "vec", "norm", *group_cols), group_cols, max_group_size
    )
    partials = chunked.groupBy(*group_cols, "ci", "cj").applyInPandas(
        _chunk_pair_topk_fn(k), _PARTIAL_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "cosine", "rank")
    )


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
    import numpy as np
    import pandas as pd

    cell_ids = [int(c) for c, _ in centroids]
    C = [[float(x) for x in cvec] for _, cvec in centroids]

    def assign(batches):
        Cm = np.asarray(C, dtype="float64")
        cn = np.sqrt((Cm * Cm).sum(axis=1))
        cn[cn == 0.0] = 1.0
        cells = np.asarray(cell_ids, dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["vec"].to_numpy())
            vn = np.sqrt((V * V).sum(axis=1))
            vn[vn == 0.0] = 1.0  # zero-vector guard, mirrors _norm
            scores = (V @ Cm.T) / np.outer(vn, cn)
            best = cells[np.argmax(scores, axis=1)]  # first max = lowest id
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype="int64"),
                    "vec": pdf["vec"],
                    "norm": vn,
                    "cell": best,
                }
            )

    v = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return v.mapInPandas(assign, "id long, vec array<double>, norm double, cell long")


def ivf_topk(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_group_size: int | None = 4096,
) -> DataFrame:
    """IVF ANN (the scale path alongside LSH): candidates share a coarse
    cell; exact cosine + top-k within the cell. Work ∝ Σ cell_size², not
    n².

    One shuffle on cell, then ONE BLAS matmul per cell via applyInPandas —
    each vector crosses Arrow once per cell. applyInPandas groups can't be
    AQE-skew-split, so a mega-cell is guarded by ``max_group_size`` (default
    4096): oversized cells run as bounded chunk-pair matmuls + a
    partial-top-k merge (see _chunk_pairs); cells under the cap take the
    single-matmul path."""
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    return _grouped_topk(assigned, ["cell"], k, max_group_size)


def lsh_bucketed_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    k: int = 10,
    max_group_size: int | None = 4096,
) -> DataFrame:
    """ANN: candidates share a hyperplane-sign bucket; exact cosine + top-k
    within candidates. Recall < 1 by design; union multiple plane sets for
    higher recall (standard multi-probe trade-off).

    Bucket bits (bit p = sign of v · plane_p, planes from
    ``plane_component_py``) and norms come from ONE V @ P.T mapInPandas
    pass, then one BLAS matmul per bucket, mega-buckets chunk-pair-bounded
    by ``max_group_size`` (see ivf_topk)."""
    import numpy as np
    import pandas as pd

    P = [[plane_component_py(p, d) for d in range(dim)] for p in range(num_planes)]

    def bucketize(batches):
        Pm = np.asarray(P, dtype="float64")
        w = 1 << np.arange(num_planes, dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["vec"].to_numpy())
            vn = np.sqrt((V * V).sum(axis=1))
            vn[vn == 0.0] = 1.0  # zero-vector guard, mirrors _norm
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype="int64"),
                    "vec": pdf["vec"],
                    "norm": vn,
                    "bucket": ((V @ Pm.T) >= 0.0) @ w,
                }
            )

    bucketed = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).mapInPandas(bucketize, "id long, vec array<double>, norm double, bucket long")
    return _grouped_topk(bucketed, ["bucket"], k, max_group_size)


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
    cents = sorted(((int(c), [float(x) for x in v]) for c, v in init))
    for _ in range(n_iter):
        if not cents:
            break
        assigned = ivf_assign(embeddings, cents, id_col, vec_col)
        rows = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                    / F.count("*")
                ).alias("m")
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = float(r["m"])
        cents = [
            (cell, [comps[p] for p in sorted(comps)])
            for cell, comps in sorted(by_cell.items())
        ]
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
    m = len(init)
    d_sub = len(init[0][0][1])
    books = [
        sorted(((int(c), [float(x) for x in v]) for c, v in cb)) for cb in init
    ]
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
        rows = (
            comp.groupBy("s", "code", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                    / F.count("*")
                ).alias("m")
            )
            .collect()
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            means.setdefault((int(r["s"]), int(r["code"])), {})[int(r["pos"])] = (
                float(r["m"])
            )
        books = [
            [
                (
                    code,
                    [comps[p] for p in sorted(comps)]
                    if (comps := means.get((s, code)))
                    else old,
                )
                for code, old in cb
            ]
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
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    m = len(codebooks)
    if not m:
        raise ValueError("empty codebooks")
    d_sub = len(codebooks[0][0][1])
    books = [sorted(((int(c), [float(x) for x in v]) for c, v in cb)) for cb in codebooks]
    carry = list(carry_cols)

    def encode(batches):
        Cs = [np.asarray([v for _, v in cb], dtype="float64") for cb in books]
        ids_per_s = [np.asarray([c for c, _ in cb], dtype="int64") for cb in books]
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["vec"].to_numpy())
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

    v = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        *[F.col(c) for c in carry],
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("codes", ArrayType(LongType())),
        ]
        + [v.schema[c] for c in carry]
    )
    return v.mapInPandas(encode, schema)


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
    spark = embeddings.sparkSession
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    books = [sorted(((int(c), [float(x) for x in v]) for c, v in cb)) for cb in codebooks]
    lut_base = spark.createDataFrame(
        [
            (int(qid), s, c, [float(x) for x in qvec[s * d_sub : (s + 1) * d_sub]], cv)
            for qid, qvec in queries
            for s, cb in enumerate(books)
            for c, cv in cb
        ],
        "query_id long, s int, code long, qsvec array<double>, cvec array<double>",
    )
    lut = lut_base.select(
        "query_id",
        "s",
        "code",
        F.round(
            F.aggregate(
                F.zip_with(F.col("qsvec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        ).alias("term"),
    )
    codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    exploded = codes.select(
        F.col("id").alias("item_id"), F.posexplode("codes").alias("s", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), ["s", "code"])
        .groupBy("query_id", "item_id")
        .agg(
            F.round(
                F.sum(F.col("term").cast("decimal(28,9)")).cast("double"), 6
            ).alias("adist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("adist", "item_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "adist", "rank")
    )


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
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    cents = sorted(((int(c), [float(x) for x in v]) for c, v in centroids))

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

    books = [sorted(((int(c), [float(x) for x in v]) for c, v in cb)) for cb in codebooks]
    lut_rows = []
    for qid, qvec in queries:
        qv = [float(x) for x in qvec]
        ranked = sorted(
            ((-_cos(qv, cv), cell) for cell, cv in cents)
        )[:nprobe]
        for _, cell in ranked:
            centv = dict(cents)[cell]
            qres = [a - b for a, b in zip(qv, centv)]
            for s, cb in enumerate(books):
                for code, cv in cb:
                    lut_rows.append(
                        (int(qid), int(cell), s, code,
                         qres[s * d_sub : (s + 1) * d_sub], cv)
                    )
    lut = spark.createDataFrame(
        lut_rows,
        "query_id long, cell long, s int, code long, "
        "qsvec array<double>, cvec array<double>",
    ).select(
        "query_id",
        "cell",
        "s",
        "code",
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
        F.col("id").alias("item_id"), "cell", F.posexplode("codes").alias("s", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), ["cell", "s", "code"])
        .groupBy("query_id", "item_id")
        .agg(
            F.round(
                F.sum(F.col("term").cast("decimal(28,9)")).cast("double"), 6
            ).alias("adist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("adist", "item_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "adist", "rank")
    )
