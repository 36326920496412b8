"""Sentence detection, tokenization, and dictionary mention detection.

Replaces the reference's OpenNLP stack (/root/reference/ParseMedline3.groovy:
32-53 SentenceDetectorME/TokenizerME, 229-230+280-294 DictionaryNameFinder)
with deterministic rule-based equivalents so goldens are byte-stable:

- sentences: split on ``[.!?]`` followed by whitespace (rule-based, not the
  opaque maxent en-sent.bin binary).
- tokens: maximal runs of ``[a-z0-9_]`` over the lowercased sentence.
- doc tokens (the fused flagship path, ``detect_doc_terms``): one
  ``findall`` over the lowercased page, of a token or a whitespace run
  after ``[.!?]``, gives every token in order plus one whitespace item at
  each sentence break, instead of a split, a ``lower()`` and a ``findall``
  per sentence. Trie keys are ``name.split()`` pieces, which never hold
  whitespace, so no match can contain a break item and the matches are
  exactly the per-sentence ones. A non-space marker such as ``"."`` would
  not be safe: a lexicon name could have it as a token.
- mentions: token-aligned, longest-match, non-overlapping dictionary scan —
  exactly DictionaryNameFinder's contract — against a token-level trie built
  once on the driver and **broadcast** to executors (SURVEY.md N3). A name
  maps to a *set* of term_ids (ambiguity is preserved: one mention row per
  candidate id, mirroring ParseMedline3.groovy:284-291 which links all
  candidates).

The Spark-side operator is a single ``mapInPandas`` pass: web page text in,
exploded mention rows out — one Arrow batch per crossing, no per-row Python.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import DOC_TERM_SETS, MENTIONS

_SENT_RE = re.compile(r"(?<=[.!?])\s+")
_TOKEN_RE = re.compile(r"[a-z0-9_]+")
_DOC_TOKEN_RE = re.compile(r"[a-z0-9_]+|(?<=[.!?])\s+")

MINLENGTH = 3  # names with len(name) <= MINLENGTH are dropped (ParsePMC.groovy:25,196)


def split_sentences_py(text: str) -> list[str]:
    if not text:
        return []
    return [s for s in _SENT_RE.split(text) if s.strip()]


def tokenize_py(sentence: str) -> list[str]:
    return _TOKEN_RE.findall(sentence.lower())


def doc_tokens_py(text: str) -> list[str]:
    """The tokens of every sentence of ``text`` in one scan, with a
    whitespace item at each sentence break; ``TokenTrie.find`` on it matches
    what it matches on each ``tokenize_py(sentence)`` (module docstring)."""
    return _DOC_TOKEN_RE.findall(text.lower())


class TokenTrie:
    """Token-level trie with greedy longest-match scanning.

    find() returns non-overlapping (begin, end, name) spans, preferring the
    longest match starting at each position and resuming after a match —
    DictionaryNameFinder semantics.
    """

    __slots__ = ("_root",)

    def __init__(self, names_to_ids: dict[str, frozenset[str]]):
        root: dict = {}
        for name, ids in names_to_ids.items():
            node = root
            for tok in name.split():
                node = node.setdefault(tok, {})
            node[None] = (name, tuple(sorted(ids)))
        self._root = root

    @classmethod
    def from_lexicon(
        cls, entries: Iterable[tuple[str, str]], min_name_len: int = MINLENGTH
    ) -> "TokenTrie":
        """entries: (name, term_id) pairs; drops names with len <= min_name_len."""
        m: dict[str, set[str]] = {}
        for name, tid in entries:
            if len(name) <= min_name_len:
                continue
            m.setdefault(name.lower(), set()).add(tid)
        return cls({k: frozenset(v) for k, v in m.items()})

    def find(self, tokens: list[str]) -> list[tuple[int, int, str, tuple[str, ...]]]:
        """Longest-match non-overlapping spans: (begin, end_exclusive, name, ids)."""
        out = []
        i, n = 0, len(tokens)
        root = self._root
        while i < n:
            node = root
            best = None
            j = i
            while j < n and tokens[j] in node:
                node = node[tokens[j]]
                j += 1
                if None in node:
                    best = (j, node[None])
            if best is not None:
                end, (name, ids) = best
                out.append((i, end, name, ids))
                i = end
            else:
                i += 1
        return out


def detect_mentions(
    extracted: DataFrame,
    lexicon_entries: list[tuple[str, str]],
    min_name_len: int = MINLENGTH,
) -> DataFrame:
    """(url, text) -> mentions(url, sent_idx, term_id, name, begin, end).

    The trie is built once on the driver and shipped via an explicit Spark
    broadcast, so each executor deserializes it once per task set rather than
    once per Arrow batch. This is the only NER pass; its output is the
    materialized "inverted index" DataFrame (SURVEY.md S4 replacement).
    """
    sc = extracted.sparkSession.sparkContext
    btrie = sc.broadcast(TokenTrie.from_lexicon(lexicon_entries, min_name_len))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trie = btrie.value
        for pdf in batches:
            urls, sidx, tids, names, begins, ends = [], [], [], [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                if text is None:
                    continue
                for si, sent in enumerate(split_sentences_py(text)):
                    toks = tokenize_py(sent)
                    for b, e, name, ids in trie.find(toks):
                        for tid in ids:
                            urls.append(url)
                            sidx.append(si)
                            tids.append(tid)
                            names.append(name)
                            begins.append(b)
                            ends.append(e)
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="object"),
                    "sent_idx": pd.Series(sidx, dtype="int32"),
                    "term_id": pd.Series(tids, dtype="object"),
                    "name": pd.Series(names, dtype="object"),
                    "begin": pd.Series(begins, dtype="int32"),
                    "end": pd.Series(ends, dtype="int32"),
                }
            )

    return extracted.select("url", "text").mapInPandas(scan, schema=MENTIONS)


def detect_doc_term_sets(
    web_pages: DataFrame,
    lexicon_entries: list[tuple[str, str]],
    lang: str | None = "en",
    min_name_len: int = MINLENGTH,
    ancestors: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Fused hot path: html -> extract -> one token scan -> trie NER ->
    per-doc term set, in ONE mapInPandas crossing.

    Rationale (measured, local[32]): chaining extract (pandas UDF) and NER
    (mapInPandas) gives every task TWO python workers — 2x processes on the
    same cores — plus a full sentence-grain mention table over Arrow. For
    the *document-level* flagship (FindDiseasePhenotypes2 semantics: a doc
    counts once per term regardless of mention count), fusing halves the
    python-process pressure and shrinks the UDF output from O(mentions) to
    one row per matched page before it ever hits the JVM — the per-doc
    dedupe happens inside the UDF for free, and the set is exactly the unit
    co-occurrence counts over (``operators.cooccur``), so no regrouping by
    doc is needed downstream.

    ``ancestors`` (term_id -> transitive ancestor ids, the small ontology
    closure) pushes the subclass-closure union (SURVEY.md J3/U2) into the
    scan itself: marking a doc with every ancestor of a matched term is
    set-identical to unioning descendant doc-sets afterwards, and costs zero
    extra shuffles (the DataFrame-side closure join would re-run this UDF or
    force a cache of its output).

    Output: (doc_id, term_ids array<string>) — one row per page that
    matched any term, ids sorted and distinct.
    """
    from .extract import extract_text_py

    sc = web_pages.sparkSession.sparkContext
    btrie = sc.broadcast(TokenTrie.from_lexicon(lexicon_entries, min_name_len))
    banc = sc.broadcast(ancestors or {})

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trie = btrie.value
        anc = banc.value
        for pdf in batches:
            docs, sets = [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                text = extract_text_py(html)
                if not text:
                    continue
                seen: set[str] = set()
                for _b, _e, _name, ids in trie.find(doc_tokens_py(text)):
                    seen.update(ids)
                if not seen:
                    continue
                if anc:
                    for tid in list(seen):
                        seen.update(anc.get(tid, ()))
                docs.append(url)
                sets.append(sorted(seen))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(docs, dtype="object"),
                    "term_ids": pd.Series(sets, dtype="object"),
                }
            )

    df = web_pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df.select("url", "html").mapInPandas(scan, schema=DOC_TERM_SETS)


def detect_doc_terms(
    web_pages: DataFrame,
    lexicon_entries: list[tuple[str, str]],
    lang: str | None = "en",
    min_name_len: int = MINLENGTH,
    ancestors: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Long form of ``detect_doc_term_sets``: (term_id, doc_id), one row per
    distinct term of each page — the same scan, exploded in the JVM. For
    consumers that keep doc-term rows (streaming accumulators, serving
    tables)."""
    sets = detect_doc_term_sets(web_pages, lexicon_entries, lang, min_name_len, ancestors)
    return sets.select(F.explode("term_ids").alias("term_id"), "doc_id")
