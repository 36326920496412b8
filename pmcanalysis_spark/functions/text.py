"""Shared Column builders for the text operators (textstats, dedup,
classify, bpe): the word tokenizer, the word n-gram window, the portable
md5 hash and the seeded draw built on it. Every text operator takes these
from here, so a signal such as "the doc's bigrams" has one definition and
every DuckDB oracle replays the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column) -> Column:
    """Non-empty whitespace tokens: split on ' ' and drop the '' pieces
    that runs of spaces leave behind."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def ngrams(col: Column, n: int) -> Column:
    """Word n-grams of the RAW ' ' split (empty pieces kept, the shingle
    convention the oracles use), space-joined, in text order.

    Window starts run 0..size-n only when the text has at least ``n``
    tokens, else the array is EMPTY — every generated window is a full
    n-token window, so no per-gram re-tokenization filter is needed."""
    toks = F.split(col, " ")
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


def portable_hash64(col: Column, seed: int = 0) -> Column:
    """Deterministic cross-engine 60-bit hash: first 15 hex chars of
    md5(seed || '|' || value) as bigint. DuckDB equivalent:
    CAST(concat('0x', substr(md5(concat(CAST(seed AS VARCHAR), '|', v)),1,15)) AS BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed)), F.lit("|"), col)), 1, 15), 16, 10
    ).cast("long")


def draw(id_col: Column, seed: int) -> Column:
    """The seeded per-row bucket in [0, 1e6): portable_hash64 of the id's
    string form mod 1e6 — a pure function of (seed, id), so sampling and
    split decisions are reproducible across runs, partitionings and
    engines."""
    return F.pmod(portable_hash64(id_col.cast("string"), seed), F.lit(1_000_000))
