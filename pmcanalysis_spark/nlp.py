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
    passthrough_cols: tuple[str, ...] = (),
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

    Output: (doc_id, term_ids array<string>, *passthrough_cols) — one row
    per page that matched any term, ids sorted and distinct. With
    ``passthrough_cols`` (e.g. ("warc_ts",)), each input row's values ride
    along on its output row — this is what lets a streaming caller keep
    event time without a stream-stream join (the join needs unbounded state
    on both sides; the passthrough needs none).
    """
    from pyspark.sql.types import StructType

    from .extract import extract_text_py

    sc = web_pages.sparkSession.sparkContext
    btrie = sc.broadcast(TokenTrie.from_lexicon(lexicon_entries, min_name_len))
    banc = sc.broadcast(ancestors or {})
    extra = tuple(passthrough_cols)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trie = btrie.value
        anc = banc.value
        for pdf in batches:
            docs, sets, rows = [], [], []
            for i, (url, html) in enumerate(zip(pdf["url"], pdf["html"])):
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
                rows.append(i)
            out = {
                "doc_id": pd.Series(docs, dtype="object"),
                "term_ids": pd.Series(sets, dtype="object"),
            }
            for c in extra:
                out[c] = pdf[c].iloc[rows].reset_index(drop=True)
            yield pd.DataFrame(out)

    df = web_pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    schema = StructType(
        list(DOC_TERM_SETS.fields) + [web_pages.schema[c] for c in extra]
    )
    return df.select("url", "html", *extra).mapInPandas(scan, schema=schema)


def detect_doc_terms(
    web_pages: DataFrame,
    lexicon_entries: list[tuple[str, str]],
    lang: str | None = "en",
    min_name_len: int = MINLENGTH,
    ancestors: dict[str, tuple[str, ...]] | None = None,
    passthrough_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Long form of ``detect_doc_term_sets``: (term_id, doc_id,
    *passthrough_cols), one row per distinct term of each page — the same
    scan, exploded in the JVM. For consumers that keep doc-term rows
    (streaming accumulators, serving tables)."""
    sets = detect_doc_term_sets(
        web_pages, lexicon_entries, lang, min_name_len, ancestors, passthrough_cols
    )
    return sets.select(
        F.explode("term_ids").alias("term_id"), "doc_id", *passthrough_cols
    )


# ---------------------------------------------------------------------------
# N4: POS tag -> noun chunk -> ngram expansion -> dictionary lookup
# (ParseMedline.groovy:141-148,168-191). The reference tagged with OpenNLP's
# POSTaggerME, chunked with ChunkerME, then fed EVERY ngram (up to 5 tokens)
# of each chunk to the finder — so hits may overlap (unlike the trie's
# longest-match) but can never cross a chunk boundary. The reference's own
# later revisions dropped the whole stage (ParseMedline3.groovy:254-258
# commented out) and v1 here follows them: this operator exists for N4
# parity completeness, is OFF the default pipeline, and uses a
# deterministic rule-based tagger (closed-class boundary words + a crude
# verbish-suffix rule) as the stand-in for the maxent model binary.
# ---------------------------------------------------------------------------

_N4_BOUNDARY = frozenset(
    """a an the and or but of to in on at by for with from as if than then
    is are was were be been being am do does did has have had it its this
    that these those he she they we you i not no nor so yet while when
    where which who whom whose""".split()
)
_N4_MAX_NGRAM = 5  # the reference's ngram window (ParseMedline.groovy:177)


def pos_tag_py(tokens: list[str]) -> list[str]:
    """Rule-based tag per token: "B" (chunk boundary: closed-class word or
    verb-ish suffix) or "N" (nounish — everything else, digits included)."""
    tags = []
    for t in tokens:
        if t in _N4_BOUNDARY:
            tags.append("B")
        elif len(t) > 5 and (t.endswith("ing") or t.endswith("ed")):
            tags.append("B")
        else:
            tags.append("N")
    return tags


def noun_chunks_py(tokens: list[str]) -> list[tuple[int, list[str]]]:
    """Maximal runs of nounish tokens: [(start_index, chunk_tokens)]."""
    chunks: list[tuple[int, list[str]]] = []
    cur: list[str] = []
    start = 0
    for i, (tok, tag) in enumerate(zip(tokens, pos_tag_py(tokens))):
        if tag == "N":
            if not cur:
                start = i
            cur.append(tok)
        elif cur:
            chunks.append((start, cur))
            cur = []
    if cur:
        chunks.append((start, cur))
    return chunks


def chunk_ngram_hits_py(
    tokens: list[str],
    names_to_ids: dict[str, tuple[str, ...]],
    max_n: int = _N4_MAX_NGRAM,
) -> list[tuple[int, int, str, tuple[str, ...]]]:
    """Every ngram (1..max_n tokens) of every noun chunk that appears in the
    dictionary: (begin, end_exclusive, name, ids). Overlapping hits are
    emitted (the reference fed each ngram to the finder independently);
    hits never cross a chunk boundary."""
    out: list[tuple[int, int, str, tuple[str, ...]]] = []
    for start, chunk in noun_chunks_py(tokens):
        k = len(chunk)
        for i in range(k):
            for n in range(1, min(max_n, k - i) + 1):
                name = " ".join(chunk[i : i + n])
                ids = names_to_ids.get(name)
                if ids is not None:
                    out.append((start + i, start + i + n, name, ids))
    return out


def lexicon_name_map(
    entries: Iterable[tuple[str, str]], min_name_len: int = MINLENGTH
) -> dict[str, tuple[str, ...]]:
    """(name, term_id) pairs -> {lowercased name: sorted ids}, same
    min-length filter (P2) as TokenTrie.from_lexicon."""
    m: dict[str, set[str]] = {}
    for name, tid in entries:
        if len(name) <= min_name_len:
            continue
        m.setdefault(name.lower(), set()).add(tid)
    return {k: tuple(sorted(v)) for k, v in m.items()}


def detect_mentions_chunked(
    extracted: DataFrame,
    lexicon_entries: list[tuple[str, str]],
    min_name_len: int = MINLENGTH,
    max_n: int = _N4_MAX_NGRAM,
) -> DataFrame:
    """N4 as a Spark operator: (url, text) -> mentions via chunk-ngram
    lookup. Same MENTIONS shape as detect_mentions; the name map is a plain
    broadcast dict (no trie needed — membership tests are exact ngrams)."""
    spark = extracted.sparkSession
    bmap = spark.sparkContext.broadcast(
        lexicon_name_map(lexicon_entries, min_name_len)
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = bmap.value
        for pdf in batches:
            rows = {k: [] for k in ("url", "sent_idx", "term_id", "name", "begin", "end")}
            for url, text in zip(pdf["url"], pdf["text"]):
                for si, sent in enumerate(split_sentences_py(text or "")):
                    toks = tokenize_py(sent)
                    for b, e, name, ids in chunk_ngram_hits_py(toks, names, max_n):
                        for tid in ids:
                            rows["url"].append(url)
                            rows["sent_idx"].append(si)
                            rows["term_id"].append(tid)
                            rows["name"].append(name)
                            rows["begin"].append(b)
                            rows["end"].append(e)
            yield pd.DataFrame(
                {
                    "url": pd.Series(rows["url"], dtype="object"),
                    "sent_idx": pd.Series(rows["sent_idx"], dtype="int32"),
                    "term_id": pd.Series(rows["term_id"], dtype="object"),
                    "name": pd.Series(rows["name"], dtype="object"),
                    "begin": pd.Series(rows["begin"], dtype="int32"),
                    "end": pd.Series(rows["end"], dtype="int32"),
                }
            )

    return extracted.select("url", "text").mapInPandas(scan, schema=MENTIONS)
