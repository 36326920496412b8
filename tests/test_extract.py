"""Byte-identical text extraction per url — the per-row invariant
(BASELINE.json input_hint; reference extractor ParsePMC.groovy:243)."""

from __future__ import annotations

from pmcanalysis_spark.extract import extract_text_py, extract_text_udf
from pmcanalysis_spark.fixtures import build_web_pages
from pmcanalysis_spark.schemas import WEB_PAGES


def test_pure_python_extractor_matches_fixture_text():
    pages = build_web_pages(120)
    for p in pages:
        assert extract_text_py(p["html"]) == p["text"], p["url"]


def test_extractor_strips_boilerplate_and_lowercases():
    html = (
        b"<html><head><title>IGNORED</title><script>var x=1;</script></head>"
        b"<body><nav>Nav Junk</nav><p>Hello   WORLD</p><p>Second &amp; para</p>"
        b"<footer>foot</footer></body></html>"
    )
    assert extract_text_py(html) == "hello world second & para"


def test_extractor_handles_nested_and_unclosed():
    assert extract_text_py(b"<p>outer <b>bold</b> tail") == "outer bold tail"
    assert extract_text_py(b"<script><p>never</p></script>") == ""
    assert extract_text_py(None) == ""


def test_malformed_marked_section_is_skipped_not_raised():
    """html.parser raises AssertionError on these (unknown marked-section
    keyword; no name token), which failed the whole fused task. Such a
    section is skipped to the next ">" like a bogus comment; with no ">"
    left, the rest stays text outside any <p>."""
    assert extract_text_py(b"<p>a</p><![foo[x]]><p>b</p>") == "a b"
    assert extract_text_py(b"<p>a</p><![ x") == "a"


def test_udf_bytes_match_golden_column(spark):
    pages = build_web_pages(100)
    df = spark.createDataFrame(pages, WEB_PAGES)
    got = (
        df.select("url", "text", extract_text_udf("html").alias("extracted"))
        .collect()
    )
    for r in got:
        assert r["extracted"] == r["text"], r["url"]


def test_extract_links_tags_anchors_and_edge_cases(spark):
    """href harvesting: document order, nested-markup-stripped anchors,
    empty/missing hrefs dropped, multiple links per page, attributes
    after href tolerated."""
    from pmcanalysis_spark.extract import extract_links

    html = (
        '<html><body>'
        '<a href="https://a.example.org/x" class="nav">First <b>Bold</b> link</a>'
        '<p>noise</p>'
        '<a class="x" href="/rel/path">rel  spaced</a>'
        '<a href="">empty</a>'
        '<a name="no-href">anchor-less</a>'
        '<a href="mailto:x@y.z">mail me</a>'
        '</body></html>'
    )
    df = spark.createDataFrame([("u1", html)], "url string, html string")
    rows = extract_links(df).collect()
    assert [(r.href, r.anchor) for r in rows] == [
        ("https://a.example.org/x", "First Bold link"),
        ("/rel/path", "rel spaced"),
        ("mailto:x@y.z", "mail me"),
    ]
    assert all(r.url == "u1" for r in rows)


def test_extract_links_binary_html_and_no_links(spark):
    from pmcanalysis_spark.extract import extract_links

    df = spark.createDataFrame(
        [("u1", b'<a href="https://h.example.org/">z</a>'), ("u2", b"<p>none</p>")],
        "url string, html binary",
    )
    rows = extract_links(df).collect()
    assert [(r.url, r.href) for r in rows] == [("u1", "https://h.example.org/")]
