"""HTML → text extraction with a byte-identical-per-url contract.

Reference behavior (/root/reference/ParsePMC.groovy:243):
``Jsoup.parse(file.getText().replaceAll(">", "> ")).text().toLowerCase()``
— i.e. whitespace-joined visible tag text, lowercased.

Our contract (per BASELINE.json input_hint / FIXTURES.md §1): boilerplate-
stripped body text — the whitespace-collapsed text of ``<p>`` elements in
document order, joined by single spaces, lowercased. Boilerplate containers
(``script, style, nav, footer, header, head, title``) contribute nothing.

The bytes are frozen by this module's own grammar, not by an HTML library:
``_MARKUP`` is the tokenizer of CPython 3.11's ``html.parser`` (tag-end
rule, comments, declarations, processing instructions, marked sections and
the text fallback for a construct with no end) written as one regex, and
``extract_text_py`` is that parser's event loop reduced to what reaches the
output. Attribute values, line/offset bookkeeping and per-callback dispatch
are never computed. A pinned stdlib parser would move with the interpreter:
its comment and script handling changed in recent CPython patch releases.
``tests/test_extract_differential.py`` keeps that parser's extractor as
the reference this module must match. One deliberate difference: a ``<![`` marked section with an
unknown keyword, or none, on which ``html.parser`` raises, is skipped to
the next ``>`` like a bogus comment, so one malformed page cannot fail a
whole job. The Spark-side wrapper is an Arrow-batched pandas UDF (no
per-row Python round trips).
"""

from __future__ import annotations

import re
from html import unescape

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_BOILERPLATE = frozenset({"script", "style", "nav", "footer", "header", "head", "title"})

# One construct per match, at a "<"; a "<" that opens none of them is text.
# Start tags follow html.parser's locatestarttagend_tolerant: a quoted
# attribute value may hold ">", so a tag ends at the first ">" outside
# quotes. Group 3 is None when that scan stops short of a ">": a letter, "="
# or "/" (or the end of input) after it means the tag never ends, anything
# else that the text up to there is data.
_MARKUP = re.compile(r"""
<(?:
    ([a-zA-Z][^\t\n\r\f />\x00]*)                   # 1 start tag name
    (?:[\s/]*(                                      # 2 attributes
      (?:(?<=['"\s/])[^\s/>][^\s/=>]*
        (?:\s*=+\s*(?:'[^']*'|"[^"]*"|(?!['"])[^>\s]*)\s*)?
        (?:\s|/(?!>))*
      )*))?
    \s*(/?>)?                                       # 3 tag close
  | /(?:\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>            # 4 end tag name
      | ([a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>           # 5 end tag name, junk to ">"
      | [^>]*>)                                      # bogus comment, "</>"
  | !--.*?--\s*>                                    # comment
  | !\[(?:(?ai:temp|cdata|ignore|include|rcdata)(?![-_.a-zA-Z0-9]).*?]\s*]\s*>  # marked section
      | (?ai:if|else|endif)(?![-_.a-zA-Z0-9]).*?]\s*>  # MS Office section
      | (?!(?ai:temp|cdata|ignore|include|rcdata|if|else|endif)(?![-_.a-zA-Z0-9]))
        [^>]*>)          # other keyword or none: a bogus comment (html.parser raises)
  | !(?!--|\[)[^>]*>                                # doctype, bogus comment
  | \?[^>]*>                                        # processing instruction
  | (?=[/!?])                                       # one of the above, unended
)""", re.VERBOSE | re.DOTALL)

# html.parser leaves script/style at the first end tag whose name is the
# element's, in any ASCII case.
_RAW_TEXT_END = {
    "script": re.compile(r"</\s*[sS][cC][rR][iI][pP][tT]\s*>"),
    "style": re.compile(r"</\s*[sS][tT][yY][lL][eE]\s*>"),
}
_UNENDED_TAG = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/"


def extract_text_py(html: bytes | str | None) -> str:
    """Pure-Python extraction — the frozen, golden-testable function."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    s = html
    n = len(s)
    out: list[str] = []  # <p> text; " " marks the end of each outermost <p>
    skip = 0  # open boilerplate elements
    depth = 0  # open <p> elements
    pos = 0
    search = _MARKUP.search
    while pos < n:
        m = search(s, pos)
        if m is None:
            if depth and not skip:
                out.append(unescape(s[pos:]))
            break
        i, end = m.span()
        if i > pos and depth and not skip:
            out.append(unescape(s[pos:i]))
        pos = end
        name, attrs, close, end_name, end_junk = m.groups()
        if name is not None:
            if close is None:
                if s[pos:pos + 1] in _UNENDED_TAG:  # or "": the tag never ends
                    pos = _unended(s, i, out, depth and not skip)
                elif depth and not skip:
                    out.append(s[i:pos])  # html.parser passes it on unescaped
                continue
            tag = name.lower()
            # "/>" self-closes; so does "/" + ">" unless the "/" ends an
            # attribute value
            if close == ">" and (s[pos - 2] != "/" or attrs):
                if tag in _BOILERPLATE:
                    skip += 1
                    raw_end = _RAW_TEXT_END.get(tag)
                    if raw_end is not None:
                        m = raw_end.search(s, pos)
                        if m is None:
                            break
                        pos = m.end()
                        skip -= 1
                elif tag == "p" and not skip:
                    depth += 1
                continue
            # self-closing: a start tag, then an end tag
            if tag in _BOILERPLATE:
                continue
            if tag == "p" and not skip:
                depth += 1
        else:
            tag = end_name or end_junk
            if tag is None:
                if pos == i + 1:  # "<" opening a construct with no end
                    pos = _unended(s, i, out, depth and not skip)
                continue
            tag = tag.lower()
        if tag in _BOILERPLATE:
            if skip:
                skip -= 1
        elif tag == "p" and depth:
            depth -= 1
            if not depth:
                out.append(" ")
    return " ".join("".join(out).split()).lower()


def _unended(s: str, i: int, out: list[str], keep: bool) -> int:
    """html.parser's end-of-input rule for a construct at ``i`` that never
    ends: text up to and including the next ">", else up to the next "<",
    else the "<" alone. Returns where scanning resumes."""
    k = s.find(">", i + 1)
    if k >= 0:
        k += 1
    else:
        k = s.find("<", i + 1)
        if k < 0:
            k = i + 1
    if keep:
        out.append(unescape(s[i:k]))
    return k


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched wrapper; one Python→JVM crossing per batch, not per row."""
    return html.map(extract_text_py)


def extract_links(pages, url_col: str = "url", html_col: str = "html"):
    """(url, href, anchor) — one row per <a href="..."> tag, in document
    order. Pure JVM column algebra (regexp_extract_all → explode →
    per-element regexp_extract): link extraction is the highest-volume
    parse in a crawl pipeline (every page, every tag) and must not pay a
    Python crossing — unlike the boilerplate text extraction above, which
    needs the stateful HTML parser, href harvesting is regular enough for
    Tungsten. The anchor is the tag's inner text with nested markup
    stripped and whitespace collapsed. Tags without an href (or with an
    empty one) yield no row. Reference analog: the crawl-side link intent
    behind the reference's HTML handling (Dermo2Monarch.groovy extract
    chain); the consumer is `operators/graph.host_graph` → `pagerank` —
    the RefinedWeb/CCNet host-reputation signal.

    At 100 TB: narrow select + explode, zero shuffle, zero Python — the
    whole operator fuses into the page scan's WholeStageCodegen span
    (plan-contract-tested)."""
    from pyspark.sql import functions as F

    html = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(html, F.lit(r'<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>'), 0)
    return (
        pages.select(F.col(url_col).alias("url"), F.explode(tags).alias("_tag"))
        .select(
            "url",
            F.regexp_extract("_tag", r'href="([^"]*)"', 1).alias("href"),
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_extract("_tag", r">(.*)</a>$", 1), r"<[^>]*>", " "
                    ),
                    r"\s+",
                    " ",
                )
            ).alias("anchor"),
        )
        .filter(F.col("href") != "")
    )
