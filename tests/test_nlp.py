"""DictionaryNameFinder-parity mention semantics (SURVEY.md N1-N3, P2)."""

from __future__ import annotations

from pmcanalysis_spark.fixtures import build_lexicon
from pmcanalysis_spark.nlp import TokenTrie, split_sentences_py, tokenize_py


def test_sentence_split():
    assert split_sentences_py("a b. c d! e?") == ["a b.", "c d!", "e?"]
    assert split_sentences_py("") == []


def test_tokenize_lowercases():
    assert tokenize_py("Anemia of Inflammation.") == ["anemia", "of", "inflammation"]


def test_longest_match_prefix_pair():
    trie = TokenTrie.from_lexicon(
        [("anemia", "DOID:1"), ("anemia of inflammation", "DOID:2")]
    )
    toks = "x anemia of inflammation y anemia z".split()
    spans = trie.find(toks)
    assert [(b, e, n) for b, e, n, _ in spans] == [
        (1, 4, "anemia of inflammation"),
        (5, 6, "anemia"),
    ]


def test_ambiguous_name_links_all_candidates():
    trie = TokenTrie.from_lexicon([("tremor syndrome", "HP:1"), ("tremor syndrome", "MP:1")])
    spans = trie.find("a tremor syndrome b".split())
    assert len(spans) == 1
    assert spans[0][3] == ("HP:1", "MP:1")


def test_minlength_filter_drops_short_names():
    trie = TokenTrie.from_lexicon([("flu", "DOID:9"), ("cold", "DOID:8")])
    assert trie.find(["flu"]) == []
    assert len(trie.find(["cold"])) == 1


def test_non_overlapping_resume_after_match():
    trie = TokenTrie.from_lexicon([("aaaa bbbb", "T:1"), ("bbbb cccc", "T:2")])
    spans = trie.find("aaaa bbbb cccc".split())
    # greedy longest-match consumes "aaaa bbbb"; "bbbb cccc" never fires
    assert [(s[0], s[1]) for s in spans] == [(0, 2)]


def test_fixture_lexicon_edge_cases_present():
    lex = build_lexicon()
    names = {e.name for e in lex}
    assert "anemia" in names and "anemia of inflammation" in names
    assert "flu" in names  # present in lexicon, dropped by MINLENGTH at build
    by_name = {}
    for e in lex:
        by_name.setdefault(e.name, set()).add(e.term_id)
    assert len(by_name["tremor syndrome"]) == 2  # ambiguity


# --- one token scan per page (detect_doc_terms) ------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_WORDS = ["aaaa", "bbbb", "cccc", "dddd", "ab_1", "x9", "Aaaa", "BBBB", "İbbbb", "aKaa"]
_SEPARATORS = [" ", "  ", ". ", "! ", "? ", ".\n", ".\t", ".\x1c", ".\xa0", ".",
               "?.  ", ",", " - ", "é", "Σ ", "\n"]
_texts = st.lists(st.tuples(st.sampled_from(_WORDS), st.sampled_from(_SEPARATORS)),
                  max_size=25).map(lambda ps: "".join(w + s for w, s in ps))
# names of 1-3 words: most span a sentence break somewhere in the texts
_lexicons = st.lists(
    st.tuples(st.lists(st.sampled_from(_WORDS), min_size=1, max_size=3).map(" ".join),
              st.sampled_from(["T:1", "T:2", "T:3"])),
    max_size=8)


@given(_texts, _lexicons)
@settings(derandomize=True, deadline=None, max_examples=500)
def test_one_scan_matches_per_sentence_scan(text, lexicon):
    """trie.find over doc_tokens_py(text) finds exactly the per-sentence
    matches of split_sentences_py -> tokenize_py -> trie.find, in order, so
    the per-doc term set is identical; no match crosses a sentence break."""
    from pmcanalysis_spark.nlp import doc_tokens_py

    trie = TokenTrie.from_lexicon(lexicon)
    per_sentence = [(name, ids) for sent in split_sentences_py(text)
                    for _b, _e, name, ids in trie.find(tokenize_py(sent))]
    one_scan = [(name, ids) for _b, _e, name, ids in trie.find(doc_tokens_py(text))]
    assert one_scan == per_sentence
    assert [t for t in doc_tokens_py(text) if not t.isspace()] == [
        t for sent in split_sentences_py(text) for t in tokenize_py(sent)]


def test_one_scan_break_is_never_matched():
    from pmcanalysis_spark.nlp import doc_tokens_py

    trie = TokenTrie.from_lexicon([("aaaa bbbb", "T:1"), ("bbbb", "T:2")])
    toks = doc_tokens_py("x AAAA. bbbb y")
    assert toks == ["x", "aaaa", " ", "bbbb", "y"]
    assert [m[2] for m in trie.find(toks)] == ["bbbb"]
