"""Seeded benchmark inputs. The same seed gives the same inputs.

Three inputs are made here; the program under test only ever sees them as
files or DataFrames:

- web pages with the flagship fixture schedule (the rows
  ``fixtures.bench_pages_df`` makes: 120 sentences per page, about 5% of
  pages not ``en``), starting at a page number drawn from the seed;
- a Zipf-skewed ``doc_terms`` table over the DOID:/HP:/MP: families, about
  13 term draws per document, with repeats so the dedup step has work;
- a lexicon and a shallow hierarchy closure over that term vocabulary.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FAMILIES = ("DOID", "HP", "MP")
FAMILY_WEIGHTS = (0.3, 0.4, 0.3)
TERMS_PER_DOC = 13
GROUP = 8  # hierarchy: every run of GROUP ranks is one parent + its children
NAME_SHARE_EVERY = 40  # every 40th term shares a name with its neighbour


def page_offset(seed: int) -> int:
    """First page number of the corpus for ``seed``."""
    return random.Random(seed).randrange(0, 10_000_000)


def write_pages(seed: int, n_pages: int, path: str, files: int) -> None:
    """Write ``n_pages`` fixture web pages as ``files`` parquet files."""
    from pmcanalysis_spark import fixtures

    lex = fixtures.build_lexicon()
    start = page_offset(seed)
    # the page rows fixtures.bench_pages_df makes, from a seeded offset
    rows = [fixtures._page_row(i, lex, 120) for i in range(start, start + n_pages)]
    schema = pa.schema([  # schemas.WEB_PAGES
        ("url", pa.string(), False), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
        ("text", pa.string()), ("lang", pa.string()),
    ])
    write_frame(pd.DataFrame(rows), path, files, schema)


def term_id(family: str, rank: int) -> str:
    return f"{family}:{rank:07d}"


def zipf(n: int) -> np.ndarray:
    """Probabilities of ranks 0..n-1, proportional to 1 / (rank + 1) ** 1.1."""
    p = 1.0 / (np.arange(n) + 1.0) ** 1.1
    return p / p.sum()


def doc_terms_frame(seed: int, n_docs: int, vocab_per_family: int) -> pd.DataFrame:
    """(term_id, doc_id) rows; each doc draws ~13 terms, Zipf over rank."""
    rng = np.random.default_rng(seed)
    counts = np.maximum(rng.poisson(TERMS_PER_DOC, n_docs), 2)
    n_rows = int(counts.sum())
    fam = rng.choice(len(FAMILIES), size=n_rows, p=FAMILY_WEIGHTS)
    rank = rng.choice(vocab_per_family, size=n_rows, p=zipf(vocab_per_family))
    doc = np.repeat(np.arange(n_docs), counts)
    fam_names = np.array(FAMILIES, dtype=object)[fam]
    terms = [f"{f}:{r:07d}" for f, r in zip(fam_names, rank)]
    docs = [f"https://bench.example/{seed}/{d:08d}" for d in doc]
    return pd.DataFrame({"term_id": terms, "doc_id": docs})


def write_frame(frame: pd.DataFrame, path: str, files: int, schema=None) -> None:
    """Write ``frame`` as ``files`` parquet files so Spark scans in parallel."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(frame)), files)):
        table = pa.Table.from_pandas(frame.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def lexicon_rows(vocab_per_family: int) -> list[tuple[str, str, str]]:
    """(name, term_id, kind): one name per term; every NAME_SHARE_EVERY-th
    term also carries its neighbour's name, so canonicalization merges it."""
    rows = []
    for f in FAMILIES:
        for r in range(vocab_per_family):
            tid = term_id(f, r)
            rows.append((f"{f.lower()} term {r}", tid, "name"))
            if r % NAME_SHARE_EVERY == 1:
                rows.append((f"{f.lower()} term {r - 1}", tid, "name"))
    return rows


def closure_rows(vocab_per_family: int) -> list[tuple[str, str]]:
    """(term_id, ancestor_id): each rank ``r`` with ``r % GROUP != 0`` has
    the group head ``r - r % GROUP`` as its only ancestor, so an expansion
    is at most GROUP terms."""
    return [
        (term_id(f, r), term_id(f, r - r % GROUP))
        for f in FAMILIES
        for r in range(vocab_per_family)
        if r % GROUP
    ]
