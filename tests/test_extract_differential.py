"""``extract_text_py`` against the ``html.parser`` extractor it replaced.

``_Extractor`` below is that extractor, kept here only as the reference:
the package's scanner must give the same text for every input on which
the reference returns one. Inputs on which the reference raises (a
malformed ``<![`` marked section) are covered by tests/test_extract.py.
"""

from __future__ import annotations

from html.parser import HTMLParser

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from pmcanalysis_spark.extract import extract_text_py
from pmcanalysis_spark.fixtures import _page_row, build_lexicon

_BOILERPLATE = {"script", "style", "nav", "footer", "header", "head", "title"}
_CONTENT = {"p"}


class _Extractor(HTMLParser):
    """Collects whitespace-collapsed text of <p> elements outside boilerplate."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._p_depth = 0
        self._chunks: list[str] = []
        self._current: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _BOILERPLATE:
            self._skip_depth += 1
        elif tag in _CONTENT and self._skip_depth == 0:
            self._p_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _BOILERPLATE:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag in _CONTENT and self._p_depth > 0:
            self._p_depth -= 1
            if self._p_depth == 0 and self._current:
                chunk = " ".join("".join(self._current).split())
                if chunk:
                    self._chunks.append(chunk)
                self._current = []

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and self._p_depth > 0:
            self._current.append(data)

    def result(self) -> str:
        if self._current:  # unterminated final <p>
            chunk = " ".join("".join(self._current).split())
            if chunk:
                self._chunks.append(chunk)
            self._current = []
        return " ".join(self._chunks).lower()


def reference_extract(html: bytes | str | None) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    p = _Extractor()
    p.feed(html)
    p.close()
    return p.result()


def _reference_or_none(html):
    try:
        return reference_extract(html)
    except AssertionError:  # _markupbase on a malformed marked section
        return None


# Fragments of markup and text; a document is a random sequence of them, so
# constructs nest, interleave and get cut off at the end of input.
_FRAGMENTS = [
    # <p>: nested, unterminated, self-closing, uppercase, junk after the name
    "<p>", "</p>", "<P>", "</P >", "<p/>", "<p />", "<p/ >", "</ p>", "</p x>",
    "<p class='a>b'>", "<p a=b/>", "<p a='b'/>",
    # raw text: "<p>" inside script/style, odd end tags
    "<script>", "</script>", "</script >", "</SCRIPT\t>", "<script/>",
    "<script a=/>", "<script a/>",
    "<style>", "</style>", "<Style x=\">\">", "</ſcript>",
    "<nav>", "</nav>", "<title>", "</title>", "<head>", "<footer>", "</header>",
    # other tags; quoted attributes holding ">"; malformed and unended tags
    "<b>", "</b>", '<a href="x>y">', "<a href='q>'>", "<a b=c/>", "<a b/>",
    '<a b ="c">', "<a =x>", '<a b="c', "<a b=", "<a\x00", "<b&amp;\x00", "<a\x0b>", "<br/>",
    "<br / >", "</>", "</ x>", "</",
    # comments, doctype, bogus comments, processing instructions
    "<!--", "-->", "<!-- x -->", "<!---->", "<!-->", "<!doctype html>",
    "<!DOCTYPE x", "<!", "<!>", "<!-x>", "<?pi>", "<?x",
    # marked sections
    "<![CDATA[", "<![CDATA[q]]>", "]]>", "]>", "<![if x]>", "<![endif]>",
    # entity and char refs with and without ";", bare "&" and "<"
    "&amp;", "&amp", "&lt", "&#65;", "&#65", "&#x41", "&#", "&", "&notin",
    "&notit;", "<", "< ", "<3", "<é>",
    # text
    "a", "b", " ", "\n", "x y.", "\t", "é", "İ", "K", "Σ", "\x1c", '"', "'",
    "=", "/", ">", "-", "?", "!", "[", "]",
]

_documents = st.lists(st.sampled_from(_FRAGMENTS), max_size=30).map("".join)
_markup_chars = st.text(alphabet="<>/!?-=[]\"' \tap&;#x\x00sScriptyle", max_size=40)


@given(st.one_of(_documents, _markup_chars.map(lambda s: "<p>" + s), _markup_chars))
@settings(derandomize=True, deadline=None, max_examples=2000)
def test_scanner_matches_html_parser_on_str(html):
    expected = _reference_or_none(html)
    assume(expected is not None)
    assert extract_text_py(html) == expected


@given(st.one_of(_documents.map(lambda s: s.encode("utf-8")), st.binary(max_size=60),
                 st.lists(st.sampled_from([b"<p>", b"</p>", b"\xff", b"\xc3", b"\xe2\x82",
                                           b"&amp;", b"a", b" ", b"<!--", b"-->"]),
                          max_size=20).map(b"".join)))
@settings(derandomize=True, deadline=None, max_examples=1000)
def test_scanner_matches_html_parser_on_bytes(html):
    """Invalid UTF-8 is decoded with U+FFFD by both sides."""
    expected = _reference_or_none(html)
    assume(expected is not None)
    assert extract_text_py(html) == expected


def test_scanner_matches_html_parser_on_fixture_pages():
    lex = build_lexicon()
    for i in range(0, 3000, 97):
        html = _page_row(i, lex, 120)["html"]
        assert extract_text_py(html) == reference_extract(html), i


def test_extract_module_does_not_use_html_parser():
    import subprocess
    import sys
    from pathlib import Path

    code = ("import sys, pmcanalysis_spark.extract; "
            "sys.exit('html.parser' in sys.modules)")
    root = Path(__file__).resolve().parents[1]
    assert subprocess.run([sys.executable, "-c", code], cwd=root).returncode == 0
