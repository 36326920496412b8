"""Distributed BPE tokenizer training — the vocabulary-LEARNING step of a
training-data pipeline (textstats counts tokens and encodes against a given
vocab; this learns the subword vocab itself, Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

Spark-first shape: BPE training never needs the corpus after the first
pass — it runs on the WORD-FREQUENCY table (explode + groupBy, one corpus
scan), which is what makes it tractable at 100 TB: the iteration state is
|vocab| rows (hundreds of millions for web text — distributed, never
driver-side), not corpus tokens. Each merge iteration is:

  1. adjacent-pair counts: pure column algebra (transform over the symbol
     array + explode + groupBy(a, b) with map-side partials; the pair key
     is well-distributed — the hottest pair is one combiner cell),
  2. argmax merge: orderBy(count DESC, a ASC, b ASC).limit(1) — a 1-row
     TakeOrderedAndProject collect (deterministic tie-break),
  3. merge application: ONE mapInPandas pass rewriting only the symbol
     arrays (greedy left-to-right non-overlapping, the reference BPE
     semantics — not expressible as column algebra because each
     replacement consumes its symbols: "aaa" + (a,a) -> ["aa","a"]).

Lineage is truncated with localCheckpoint every ``CHECKPOINT_EVERY``
iterations (the pagerank recipe — n_merges chained mapInPandas otherwise
grow an unbounded plan). Production BPE implementations update pair counts
incrementally (only words containing the merged pair change); the full
recount here keeps every iteration a stateless two-stage job — the right
trade at cluster scale, where the recount is one cheap shuffle and the
incremental bookkeeping would be driver state.

Verified fixture-style (like the NER/streaming operators): pytest pins the
learned merge table and the encodings to a scalar reference implementation
of the Sennrich algorithm (tests/test_bpe.py), overlap semantics included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

END_OF_WORD = "</w>"
CHECKPOINT_EVERY = 8


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the one corpus scan BPE needs.
    At 100 TB this is the map-side-combined groupBy that shrinks the
    problem from corpus tokens to distinct words."""
    tok = F.explode(tokens(F.col(text_col))).alias("word")
    return docs.select(tok).groupBy("word").agg(F.count("*").alias("freq"))


def _init_symbols(words: DataFrame) -> DataFrame:
    """(syms, freq): each word split into single characters plus the
    trailing END_OF_WORD marker (the classic Sennrich initial alphabet)."""
    syms = F.concat(
        # split on '' -> per-char array; filter guards against the
        # trailing-empty-string behavior of some split implementations
        F.filter(F.split(F.col("word"), ""), lambda c: c != ""),
        F.array(F.lit(END_OF_WORD)),
    )
    return words.select(syms.alias("syms"), F.col("freq").alias("freq"))


def _pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency; every position
    counts (the reference get_stats semantics — 'aaa' contributes (a,a)
    twice). Pure column algebra: no Python crossing."""
    n = F.size(F.col("syms"))
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.struct(
                F.col("syms")[i].alias("a"), F.col("syms")[i + 1].alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        state.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("count"))
    )


def _apply_merge(state: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy left-to-right non-overlapping replacement of (a, b) -> a+b in
    every symbol array — the sequential consume-as-you-scan fold that makes
    this the one Python stage per iteration."""
    import pandas as pd

    merged = a + b

    def apply(batches):
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                s = list(syms)
                res, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                out.append(res)
            yield pd.DataFrame({"syms": out, "freq": pdf["freq"]})

    return state.mapInPandas(apply, "syms array<string>, freq long")


def top_pairs(
    docs: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """The first BPE iteration's candidate table: top-k adjacent symbol
    pairs over the initial character alphabet, (a, b, count, rank) in the
    trainer's exact merge order (count DESC, pair ASC). This is the
    distributed half of ``train_bpe`` anchored cross-engine (registry
    query ``bpe_top_pairs`` re-derives it in DuckDB SQL); the sequential
    merge APPLICATION is the part no SQL oracle can express and stays
    pinned to the scalar reference in tests/test_bpe.py. Plan: the same
    column-algebra pair counts as the trainer, then orderBy+limit
    (TakeOrderedAndProject — per-partition heaps) with the rank window
    over just k rows."""
    from pyspark.sql import Window

    pc = _pair_counts(_init_symbols(word_freqs(docs, text_col)))
    order = [F.desc("count"), F.asc("a"), F.asc("b")]
    topk = pc.orderBy(*order).limit(k)
    wnd = Window.orderBy(*order)
    return topk.withColumn("rank", F.row_number().over(wnd)).select(
        "a", "b", "count", "rank"
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the merge
    table [(rank, left, right, count)] in learned order — rank r merged
    (left, right) into left+right when it was the most frequent adjacent
    pair (ties broken lexicographically on (left, right), deterministic
    across partitionings). Stops early when no pair reaches
    ``min_pair_count`` (merging hapax pairs only memorizes words)."""
    state = _init_symbols(word_freqs(docs, text_col))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            _pair_counts(state)
            .orderBy(F.desc("count"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["count"] < min_pair_count:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["count"])
        merges.append((rank, a, b, c))
        state = _apply_merge(state, a, b)
        if (rank + 1) % CHECKPOINT_EVERY == 0:
            state = state.localCheckpoint(eager=False)
    return merges


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode documents with a learned merge table: (doc_id, pieces,
    n_pieces) where pieces are the word subword units in text order
    (END_OF_WORD markers kept, as in the reference encoder). ONE
    mapInPandas pass with the merge list closed over (the merge table is
    KBs — broadcast by closure); applying merges in rank order to each
    word reproduces training exactly, so a word seen in training encodes
    to its final training symbols."""
    import pandas as pd

    ranked = [(a, b) for _, a, b, _ in sorted(merges)]

    def enc_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        s = list(word) + [END_OF_WORD]
        for a, b in ranked:
            if a not in s or b not in s:
                continue
            res, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            s = res
            if len(s) == 1:
                break
        cache[word] = s
        return s

    def encode(batches):
        cache: dict = {}
        for pdf in batches:
            ids, pieces = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                out: list[str] = []
                for wd in text.split(" "):
                    if wd:
                        out.extend(enc_word(wd, cache))
                ids.append(did)
                pieces.append(out)
            yield pd.DataFrame({"doc_id": ids, "pieces": pieces})

    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    out = base.mapInPandas(encode, "doc_id long, pieces array<string>")
    return out.select(
        "doc_id", "pieces", F.size("pieces").alias("n_pieces")
    )
