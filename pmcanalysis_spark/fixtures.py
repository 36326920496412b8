"""Deterministic synthetic fixtures (FIXTURES.md).

Every value derives from fixed integer schedules (seed=42 spirit: pure
counter arithmetic, no RNG state) so regeneration is byte-stable across
processes — this is what makes the byte-identical extract test and the
miniature oracle possible.

Tables produced (as lists of plain-Python rows; callers wrap in
``spark.createDataFrame(rows, schema)``):
  web_pages(url, warc_ts, html, text, lang)
  lexicon(name, term_id, kind)
  hierarchy(term_id, ancestor_id)   -- transitive closure
  author_records(...)
  rates(x, y)                        -- known trapezoid AUC
and the byte-level JPEG/GIF/PNG/WAV payloads of the real-decode driver
queries.
"""

from __future__ import annotations

import datetime as _dt
import struct
import zlib
from dataclasses import dataclass

EPOCH = _dt.datetime(2024, 1, 1, 0, 0, 0)

# ~200 filler words, disjoint from lexicon vocabulary by construction.
FILLER = [f"tok{i:03d}" for i in range(200)]

# Word pool for ontology term names (disjoint from FILLER).
_NAME_WORDS = [
    "anemia", "fibrosis", "carcinoma", "lesion", "tremor", "syndrome",
    "acute", "chronic", "renal", "hepatic", "cardiac", "neural",
    "atrophy", "edema", "sclerosis", "stenosis", "dysplasia", "necrosis",
    "hyperplasia", "inflammation", "deficiency", "toxicity", "melanoma",
    "ischemia", "seizure", "ataxia", "cyanosis", "jaundice", "vertigo",
    "pallor",
]

FAMILIES = ("DOID", "HP", "MP", "CHEBI")


def _curie(family: str, n: int) -> str:
    return f"{family}:{n:07d}"


def build_hierarchy_terms() -> tuple[list[str], list[tuple[str, str]]]:
    """3-level tree per family: root -> 3 mids -> 3 leaves each.

    Returns (all term ids, transitive closure edges (term_id, ancestor_id)).
    Mirrors the ELK flattened-closure shape
    (/root/reference/FindDiseasePhenotypes2.groovy:112-139).
    """
    terms: list[str] = []
    closure: list[tuple[str, str]] = []
    for family in FAMILIES:
        root = _curie(family, 1)
        terms.append(root)
        for m in range(3):
            mid = _curie(family, 10 + m)
            terms.append(mid)
            closure.append((mid, root))
            for leaf_i in range(3):
                leaf = _curie(family, 100 + m * 10 + leaf_i)
                terms.append(leaf)
                closure.append((leaf, mid))
                closure.append((leaf, root))
    return terms, closure


@dataclass(frozen=True)
class LexiconEntry:
    name: str
    term_id: str
    kind: str


def build_lexicon() -> list[LexiconEntry]:
    """~120 (name, term_id) rows with the FIXTURES.md §2 edge cases:

    - multi-token names (1-4 tokens)
    - ambiguous names mapping to multiple term_ids
    - terms with multiple names (synonyms)
    - strict-prefix pair: "anemia" vs "anemia of inflammation"
    - a <=3-char name that the MINLENGTH filter must drop
      (/root/reference/ParsePMC.groovy:25,196)
    """
    terms, _ = build_hierarchy_terms()
    out: list[LexiconEntry] = []
    w = _NAME_WORDS
    for i, tid in enumerate(terms):
        ntok = 1 + (i * 3) % 3  # 1..3 tokens
        words = [w[(i * 5 + k) % len(w)] for k in range(ntok)]
        out.append(LexiconEntry(" ".join(words), tid, "name"))
        if i % 3 == 0:  # synonym
            syn = [w[(i * 7 + 11 + k) % len(w)] for k in range(1 + (i % 2))]
            out.append(LexiconEntry(" ".join(syn), tid, "synonym"))
    # pinned edge cases
    out.append(LexiconEntry("anemia", _curie("DOID", 100), "name"))
    out.append(LexiconEntry("anemia of inflammation", _curie("DOID", 101), "name"))
    # ambiguity: one surface form, two ids in different families
    out.append(LexiconEntry("tremor syndrome", _curie("HP", 100), "synonym"))
    out.append(LexiconEntry("tremor syndrome", _curie("MP", 100), "synonym"))
    # MINLENGTH violation (must be filtered out before matching)
    out.append(LexiconEntry("flu", _curie("DOID", 102), "synonym"))
    # dedupe exact (name, term_id) pairs, keep first kind
    seen: set[tuple[str, str]] = set()
    uniq: list[LexiconEntry] = []
    for e in out:
        if (e.name, e.term_id) not in seen:
            seen.add((e.name, e.term_id))
            uniq.append(e)
    return uniq


def _page_lang(i: int) -> str:
    if i % 20 == 7:
        return "de" if (i // 20) % 2 == 0 else "fr"
    return "en"


def build_sentences_for_page(
    i: int, lexicon: list[LexiconEntry], nsent: int | None = None
) -> list[str]:
    """3-8 sentences (or ``nsent``); sentence j plants mention names on a
    fixed schedule.

    Planted names are separated by >=1 filler word so adjacent plants can
    never merge into a longer lexicon phrase accidentally.
    """
    plantable = [e.name for e in lexicon]
    if nsent is None:
        nsent = 3 + (i * 7 + 3) % 6
    sentences = []
    for j in range(nsent):
        words: list[str] = []
        nfill = 4 + (i * 13 + j * 5) % 6
        for k in range(nfill):
            words.append(FILLER[(i * 31 + j * 17 + k * 3) % len(FILLER)])
        # plant 0-2 lexicon names
        nplant = (i + j) % 3
        for p in range(nplant):
            name = plantable[(i * 31 + j * 7 + p * 13) % len(plantable)]
            pos = (i + j + p * 2) % (len(words) + 1)
            words.insert(pos, name)
        sentences.append(" ".join(words))
    return sentences


def build_web_pages(n_pages: int = 200) -> list[dict]:
    """FIXTURES.md §1: html with boilerplate, text = expected extraction."""
    lex = build_lexicon()
    return [_page_row(i, lex) for i in range(n_pages)]


def _page_row(i: int, lex: list[LexiconEntry], nsent: int | None = None) -> dict:
    sents = build_sentences_for_page(i, lex, nsent)
    paras = "".join(f"<p>{s}.</p>" for s in sents)
    html = (
        f"<html><head><title>T{i}</title><script>junk()</script></head>"
        f"<body><nav>boilerplate nav</nav>{paras}"
        f"<footer>boilerplate footer</footer></body></html>"
    )
    return {
        "url": f"https://example.org/page/{i:08d}",
        "warc_ts": EPOCH + _dt.timedelta(seconds=i * 137),
        "html": html.encode("utf-8"),
        "text": " ".join(f"{s}." for s in sents).lower(),
        "lang": _page_lang(i),
    }


def bench_pages_df(spark, n_pages: int, sentences_per_page: int = 120, partitions: int = 64):
    """Distributed deterministic bench corpus (web-realistic page sizes).

    Generated on executors via mapInPandas from spark.range — the driver
    never materializes the corpus, so bench scale is bounded by cluster
    memory, not the driver. Same schedule arithmetic as build_web_pages, so
    still fully deterministic.
    """
    import pandas as pd

    from .schemas import WEB_PAGES

    lex = build_lexicon()

    def gen(batches):
        for pdf in batches:
            rows = [_page_row(int(i), lex, sentences_per_page) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (
        spark.range(n_pages)
        .repartition(partitions)
        .mapInPandas(gen, schema=WEB_PAGES)
    )


def build_author_records() -> list[dict]:
    """FIXTURES.md §5: 3 author_keys x 2-3 true entities x 3-6 docs.

    Within a true entity, consecutive docs share coauthors (jaccard>0) so the
    similarity edge set (thresholds from /root/reference/Author2PMID.groovy:
    134-144) connects the entity; across entities all four scores fall below
    threshold.
    """
    rows = []
    doc_n = 0
    for a in range(3):
        key = f"smith_{a}"
        n_entities = 2 + a % 2
        for e in range(n_entities):
            ent = f"{key}::E{e}"
            ndocs = 3 + (a * 3 + e) % 4
            coauthor_pool = [f"co_{a}_{e}_{t}" for t in range(4)]
            mesh_pool = [f"mesh_{a}_{e}_{t}" for t in range(6)]
            affil = [f"univ{a}{e}", f"dept{a}{e}", f"city{a}{e}", f"country{a}{e}"]
            for d in range(ndocs):
                rows.append(
                    {
                        "doc_id": f"D{doc_n:05d}",
                        "author_key": key,
                        "coauthors": [coauthor_pool[d % 4], coauthor_pool[(d + 1) % 4]],
                        "mesh": [mesh_pool[d % 6], mesh_pool[(d + 2) % 6]],
                        "title_tokens": [f"title_{a}_{e}", f"word_{a}_{e}_{d}", f"w{doc_n}"],
                        "affiliation_tokens": affil,
                        "true_entity": ent,
                    }
                )
                doc_n += 1
    return rows


def build_rates() -> list[dict]:
    """FIXTURES.md §6: ROC curve with closed-form trapezoid AUC = 0.875."""
    pts = [(0.0, 0.0), (0.25, 1.0), (1.0, 1.0)]
    return [{"x": x, "y": y} for x, y in pts]


RATES_EXPECTED_AUC = 0.875


def fixture_obo_text() -> str:
    """The fixture lexicon + hierarchy rendered as a literal OBO document:
    names/synonyms from build_lexicon, is_a edges = the direct (non-derived)
    edges of build_hierarchy_terms' closure. Running the flagship from this
    file must equal running it from the in-memory fixture dims (S5+S6
    end-to-end parity, tested in tests/test_sources.py)."""
    from collections import defaultdict

    lx = build_lexicon()
    terms, closure = build_hierarchy_terms()
    clo = set(closure)
    direct = [
        (c, p)
        for (c, p) in clo
        if not any(
            (c, m) in clo and (m, p) in clo
            for m in {x[1] for x in clo if x[0] == c}
        )
    ]
    by_id: dict[str, list[str]] = defaultdict(list)
    for e in lx:
        by_id[e.term_id].append(e.name)
    parents: dict[str, list[str]] = defaultdict(list)
    for c, p in sorted(direct):
        parents[c].append(p)
    lines = ["format-version: 1.2", ""]
    for t in sorted(set(by_id) | set(terms)):
        lines.append("[Term]")
        lines.append(f"id: {t}")
        names = by_id.get(t, [f"unnamed {t.lower()}"])
        lines.append(f"name: {names[0]}")
        for n in names[1:]:
            lines.append(f'synonym: "{n}" EXACT []')
        for p in sorted(parents.get(t, [])):
            lines.append(f"is_a: {p}")
        lines.append("")
    return "\n".join(lines)


def build_media_rows(n: int, include_fake: bool = True) -> list[tuple]:
    """Deterministic synthetic media table for the pipeline --media stage:
    codec-free binary-PGM images (the built-in REAL decode tier) and — when
    ``include_fake`` — payloads in the sandbox FAKE codec format that only
    ``codecs.fake_fast_decoder`` claims (header ``FAKE w h n_frames``),
    including multi-frame "videos" so --frame-every is exercised. Rows in
    MEDIA schema order: (media_id, kind, mime, n_bytes, payload)."""
    rows = []
    for i in range(n):
        w, h = i % 7 + 2, i % 5 + 2
        if include_fake and i % 3 == 1:
            n_frames = i % 4 + 1
            payload = f"FAKE {w} {h} {n_frames}\n".encode() + b"\x00" * (i % 11)
            rows.append((f"f{i}", "video", "application/x-fake", len(payload), payload))
        elif include_fake and i % 3 == 2:
            payload = f"FAKE {w} {h} 1\n".encode() + b"\x00" * (i % 5)
            rows.append((f"f{i}", "image", "application/x-fake", len(payload), payload))
        else:
            payload = f"P5 {w} {h} 255\n".encode() + bytes([255 * (i % 2)]) * (w * h)
            rows.append((f"p{i}", "image", "image/x-portable-graymap", len(payload), payload))
    return rows


def build_author_records_scaled(n: int) -> list[dict]:
    """Synthetic author records for the pipeline --authors stage: when
    n >= 200, the first half lands on ONE mega key ('j smith', 8 coauthor
    sub-entities the blocking path must recover and the mega-key lineage
    stage must report); the rest spread over 3-record keys sharing a
    coauthor (one entity each)."""
    rows = []
    n_mega = n // 2 if n >= 200 else 0
    for i in range(n_mega):
        rows.append({
            "doc_id": f"m{i:06d}", "author_key": "j smith",
            "coauthors": [f"co{i % 8}"], "mesh": [f"mesh{i % 8}"],
            "title_tokens": ["deep", "sequencing"],
            "affiliation_tokens": [f"dept{i % 3}"],
        })
    for i in range(n - n_mega):
        key = f"author_{i // 3}"
        rows.append({
            "doc_id": f"n{i:06d}", "author_key": key,
            "coauthors": [f"c_{key}"], "mesh": [f"m_{key}"],
            "title_tokens": ["ordinary", "paper"],
            "affiliation_tokens": ["lab"],
        })
    return rows


# ---------------------------------------------------------------------------
# Byte-level media payloads for the real-decode driver queries
# (mm_image_features, mm_audio_features, mm_video_frames)
# ---------------------------------------------------------------------------

def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else b if pb <= pc else c


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def const_gray_jpeg(w: int, h: int, v: int) -> bytes:
    """Single-MCU baseline JPEG of a solid gray v (w, h <= 8): one DC
    coefficient (v-128)*8, AC all zero — tiny hand-built canonical tables
    (DC cats 0..11 at 6 bits, AC just EOB). Shared by the image and video
    driver-gate payload builders."""
    dc = (v - 128) * 8
    t = 0
    a = abs(dc)
    while a:
        t += 1
        a >>= 1
    dcval = dc if dc >= 0 else dc + (1 << t) - 1
    bits = format(t, "06b")  # DC table: symbol s has 6-bit code s
    if t:
        bits += format(dcval, f"0{t}b")
    bits += "00"  # AC table: EOB has 2-bit code 0
    bits += "1" * ((8 - len(bits) % 8) % 8)
    ecs = bytearray(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    for i in range(len(ecs) - 1, -1, -1):  # byte stuffing
        if ecs[i] == 0xFF:
            ecs.insert(i + 1, 0x00)
    dc_bits = bytes([0, 0, 0, 0, 0, 12] + [0] * 10)
    ac_bits = bytes([0, 1] + [0] * 14)
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, bytes([0]) + bytes([1] * 64))
        + _jpeg_seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                    + bytes([1, 1, 0x11, 0]))
        + _jpeg_seg(0xC4, bytes([0x00]) + dc_bits + bytes(range(12)))
        + _jpeg_seg(0xC4, bytes([0x10]) + ac_bits + bytes([0x00]))
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes(ecs)
        + b"\xff\xd9"
    )


def const_gray_gif(w: int, h: int, v: int) -> bytes:
    """Solid-gray GIF via a 4-entry palette (black at 0, white at 1) and a
    trivially conformant LZW stream: CLEAR before every literal keeps the
    code width constant at 3 bits (min code size 2) — the decoder still
    runs its full LZW machinery."""
    idx = 1 if v else 0
    acc = nbits = 0
    data = bytearray()
    for code in [c for _ in range(w * h) for c in (4, idx)] + [5]:  # CLEAR,px..,END
        acc |= code << nbits
        nbits += 3
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x81, 0, 0])  # GCT present, depth 2 (4 entries)
    out += bytes([0, 0, 0, 255, 255, 255]) + b"\x00" * 6
    out += b"\x2c" + b"\x00\x00\x00\x00"
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
    out += bytes([2])  # LZW min code size
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        out += bytes([len(blk)]) + bytes(blk)
    return bytes(out + b"\x00\x3b")


def solid_rgb_png(w: int, h: int, rgb: bytes) -> bytes:
    """8-bit RGB PNG of one solid color whose scanline filter cycles through
    types 0..4 (None, Sub, Up, Average, Paeth), zlib-deflated."""
    def chunk(t: bytes, d: bytes) -> bytes:
        return len(d).to_bytes(4, "big") + t + d + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big")

    raw = bytearray()
    row_px = rgb * w
    prev = bytes(3 * w)
    for y in range(h):
        ft = y % 5
        raw.append(ft)
        for x in range(3 * w):
            a = row_px[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            pred = (
                0 if ft == 0 else a if ft == 1 else b if ft == 2
                else (a + b) >> 1 if ft == 3
                else _paeth(a, b, c)
            )
            raw.append((row_px[x] - pred) & 0xFF)
        prev = row_px
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


def const_pcm16_wav(n_samples: int, value: int) -> bytes:
    """Mono PCM-16 WAV at 1024 Hz holding ``n_samples`` copies of the
    sample ``value``."""
    raw = struct.pack("<h", value) * n_samples
    body = (
        b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + struct.pack("<HHIIHH", 1, 1, 1024, 2048, 2, 16)
        + b"data" + len(raw).to_bytes(4, "little") + raw
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body
