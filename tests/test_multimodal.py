from __future__ import annotations

from pmcanalysis_spark.multimodal import (
    MEDIA,
    extract_media_features,
    media_metadata,
)


def _media(spark):
    rows = [
        ("m1", "image", "image/png", 100, b"\x01" * 100),
        ("m2", "image", "image/png", 50, b"\x02" * 50),
        ("m3", "video", "video/mp4", 4096, b"\x03" * 4096),
    ]
    return spark.createDataFrame(rows, MEDIA)


def test_metadata_never_touches_payload(spark, tmp_path):
    path = str(tmp_path / "media")
    _media(spark).write.parquet(path)
    df = media_metadata(spark.read.parquet(path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # parquet scan's ReadSchema must exclude the binary payload column
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("payload" not in ln for ln in read_schema)
    rows = {r.kind: r.n for r in df.collect()}
    assert rows == {"image": 2, "video": 1}


def _synthetic_media(spark):
    from pmcanalysis_spark.fixtures import build_media_rows

    return spark.createDataFrame(build_media_rows(12), MEDIA)


def test_feature_extraction_batch_shape(spark):
    """Synthetic media through the decoder hook: FAKE-codec images and
    videos go to ``fake_fast_decoder``, the PGM images to the built-in real
    tier. Images yield one frame_idx-0 row, videos one row per sampled
    frame."""
    from pmcanalysis_spark.codecs import fake_fast_decoder

    out = extract_media_features(
        _synthetic_media(spark), frame_every=2, decoder=fake_fast_decoder
    ).collect()
    frames = {}
    for r in out:
        frames.setdefault(r.media_id, []).append((r.frame_idx, r.width, r.height))
        assert len(r.features) <= 8
    # FAKE videos f1/f4/f7/f10 hold 2/1/4/3 frames; every 2nd is sampled
    assert {m: [f[0] for f in sorted(fs)] for m, fs in frames.items()} == {
        "p0": [0], "f1": [0], "f2": [0], "p3": [0], "f4": [0], "f5": [0],
        "p6": [0], "f7": [0, 2], "f8": [0], "p9": [0], "f10": [0, 2], "f11": [0],
    }
    assert frames["p0"] == [(0, 2, 2)]  # real PGM header dims
    assert frames["f5"] == [(0, 7, 2)]  # the FAKE header's dims


def test_fake_decode_is_deterministic(spark):
    from pmcanalysis_spark.codecs import fake_fast_decoder

    def run():
        out = extract_media_features(_synthetic_media(spark), decoder=fake_fast_decoder)
        return sorted(map(str, out.collect()))

    assert run() == run()


def test_unrecognized_payload_raises_by_default(spark):
    """A payload no decoder recognizes must fail the job loudly, not emit
    byte-derived garbage features — a production pipeline fed WebP should
    find out."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(PythonException, match="NotImplementedError"):
        extract_media_features(_media(spark)).collect()


def test_decoder_hook_fast_codec(spark):
    """The pluggable decoder= hook: a 'fast codec' takes the rows it claims
    (same MEDIA_FEATURES schema/batch shape), returns None to fall through
    to the built-in tier for the rest."""
    from pmcanalysis_spark.multimodal import MEDIA

    def fast_codec(kind, payload, frame_every):
        if kind == "video":  # pretend ffmpeg handled it: 2 sampled frames
            return [(0, 320, 240, [0.5] * 8), (1, 320, 240, [0.25] * 8)]
        return None  # images fall through to the pure-Python tier

    rows = [
        ("v1", "video", "video/mp4", 4096, bytearray(b"\x03" * 4096)),
        ("i1", "image", "image/x-portable-graymap", 20,
         bytearray(b"P5 2 2 255 " + bytes([0, 64, 128, 255]))),
    ]
    df = spark.createDataFrame(rows, MEDIA)
    out = extract_media_features(df, decoder=fast_codec)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "frame_idx", "width", "height", "features"
    ]
    got = {(r.media_id, r.frame_idx): (r.width, r.height) for r in out.collect()}
    # hook rows carried through; the MP4 did NOT raise because the hook took it
    assert got[("v1", 0)] == (320, 240) and got[("v1", 1)] == (320, 240)
    # fall-through row decoded by the REAL PGM tier
    assert got[("i1", 0)] == (2, 2)


def _tiny_png(w, h):
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big") + b"IHDR"
        + w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )


def _tiny_jpeg(w, h):
    # SOI, APP0 (JFIF stub), SOF0, EOI — enough for a header walk
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _tiny_gif(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00" * 4


def test_parse_image_dims_real_headers():
    from pmcanalysis_spark.multimodal import parse_image_dims

    assert parse_image_dims(_tiny_png(640, 480)) == (640, 480)
    assert parse_image_dims(_tiny_jpeg(1024, 768)) == (1024, 768)
    assert parse_image_dims(_tiny_gif(320, 200)) == (320, 200)
    assert parse_image_dims(b"not an image") is None
    assert parse_image_dims(b"") is None
    # truncated PNG header must not crash
    assert parse_image_dims(b"\x89PNG\r\n\x1a\n\x00\x00") is None


def test_extract_media_features_real_dims(spark):
    """Real PNG/JPEG bytes through the Spark batch path yield the true
    width/height (the decode is no longer fake for recognized formats)."""
    from pmcanalysis_spark.multimodal import MEDIA, extract_media_features

    rows = [
        ("m1", "image", "image/png", 50, bytearray(_tiny_png(640, 480))),
        ("m2", "image", "image/jpeg", 50, bytearray(_tiny_jpeg(800, 600))),
    ]
    df = spark.createDataFrame(rows, MEDIA)
    got = {r["media_id"]: (r["width"], r["height"])
           for r in extract_media_features(df).collect()}
    assert got == {"m1": (640, 480), "m2": (800, 600)}


def _tiny_bmp(w, h, rgb_rows):
    """Build a 24-bit uncompressed BMP from rgb_rows[h][w] = (r,g,b)."""
    row_bytes = (w * 3 + 3) // 4 * 4
    off = 54
    size = off + row_bytes * h
    hdr = (
        b"BM" + size.to_bytes(4, "little") + b"\x00" * 4 + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)  # positive: bottom-up
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (row_bytes * h).to_bytes(4, "little")
        + b"\x00" * 16
    )
    body = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = b""
        for x in range(w):
            r, g, b = rgb_rows[y][x]
            row += bytes([b, g, r])
        body += row + b"\x00" * (row_bytes - len(row))
    return hdr + body


def _tiny_ppm(w, h, rgb_rows):
    body = bytes(c for row in rgb_rows for px in row for c in px)
    return f"P6\n# comment\n{w} {h}\n255\n".encode() + body


def test_decode_pixels_bmp_and_ppm_real():
    import numpy as np

    from pmcanalysis_spark.multimodal import decode_pixels

    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]]
    for payload in (_tiny_bmp(2, 2, rows), _tiny_ppm(2, 2, rows)):
        px = decode_pixels(payload)
        assert px is not None and px.shape == (2, 2, 3)
        assert tuple(px[0, 0]) == (255, 0, 0)
        assert tuple(px[1, 1]) == (10, 20, 30)
    assert decode_pixels(b"not an image") is None


def test_resize_nearest_real():
    import numpy as np

    from pmcanalysis_spark.multimodal import decode_pixels, resize_nearest

    rows = [[(0, 0, 0), (255, 255, 255)], [(255, 0, 0), (0, 255, 0)]]
    px = decode_pixels(_tiny_ppm(2, 2, rows))
    up = resize_nearest(px, 4, 4)
    assert up.shape == (4, 4, 3)
    assert tuple(up[0, 0]) == (0, 0, 0) and tuple(up[0, 3]) == (255, 255, 255)
    assert tuple(up[3, 0]) == (255, 0, 0) and tuple(up[3, 3]) == (0, 255, 0)


def test_extract_media_features_real_pixels(spark):
    """BMP payloads through the Spark path yield REAL stats, not fakes."""
    from pmcanalysis_spark.multimodal import MEDIA, extract_media_features

    rows = [[(255, 255, 255)] * 2] * 2  # all-white 2x2
    df = spark.createDataFrame(
        [("m1", "image", "image/bmp", 60, bytearray(_tiny_bmp(2, 2, rows)))], MEDIA
    )
    [r] = extract_media_features(df).collect()
    assert (r["width"], r["height"]) == (2, 2)
    feats = list(r["features"])
    assert abs(feats[0] - 1.0) < 1e-6  # real mean of an all-white image
    assert abs(feats[1]) < 1e-6  # zero std


def _make_png(pixels, color_type, filters, palette=None):
    """Forward-filtered PNG builder (the test-side inverse of the decoder's
    unfilter): pixels is an (h, w, c_raw) uint8 array in the color type's
    RAW channel layout (0: gray, 2: RGB, 3: palette index, 4: gray+alpha,
    6: RGBA); ``filters`` cycles per scanline over 0..4."""
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    raw = bytearray()
    prev = bytes(w * c)
    for y in range(h):
        ft = filters[y % len(filters)]
        row = bytes(px[y].reshape(-1))
        raw.append(ft)
        if ft == 0:
            raw += row
        else:
            out = bytearray()
            for x in range(len(row)):
                a = row[x - c] if x >= c else 0
                b = prev[x]
                cc = prev[x - c] if x >= c else 0
                if ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) >> 1
                else:  # paeth
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                out.append((row[x] - pred) & 0xFF)
            raw += out
        prev = row

    def chunk(t, d):
        return (
            len(d).to_bytes(4, "big") + t + d
            + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, color_type, 0, 0, 0])
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        png += chunk(b"PLTE", bytes(palette))
    return png + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_decode_all_filters_roundtrip():
    """REAL PNG pixel decode (zlib + scanline unfilter): a 7x5 RGB image
    forward-filtered with every filter type (0..4 cycling) decodes back to
    the exact pixel array."""
    import numpy as np

    from pmcanalysis_spark.multimodal import decode_pixels

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(7, 5, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = decode_pixels(_make_png(px, 2, filters))
        assert got is not None and np.array_equal(got, px), filters


def test_png_decode_color_types():
    import numpy as np

    from pmcanalysis_spark.multimodal import decode_pixels

    rng = np.random.RandomState(11)
    # grayscale (ct 0) -> (h, w, 1)
    g = rng.randint(0, 256, size=(4, 3, 1), dtype=np.uint8)
    assert np.array_equal(decode_pixels(_make_png(g, 0, [0, 2])), g)
    # gray+alpha (ct 4): alpha dropped
    ga = rng.randint(0, 256, size=(4, 3, 2), dtype=np.uint8)
    assert np.array_equal(decode_pixels(_make_png(ga, 4, [1, 4])), ga[:, :, :1])
    # RGBA (ct 6): alpha dropped
    rgba = rng.randint(0, 256, size=(4, 3, 4), dtype=np.uint8)
    assert np.array_equal(decode_pixels(_make_png(rgba, 6, [3])), rgba[:, :, :3])
    # palette (ct 3): indices map through PLTE to RGB
    pal = [10, 20, 30, 40, 50, 60, 70, 80, 90]  # 3 entries
    idx = np.array([[[0], [1]], [[2], [0]]], dtype=np.uint8)
    got = decode_pixels(_make_png(idx, 3, [0], palette=pal))
    assert tuple(got[0, 1]) == (40, 50, 60) and tuple(got[1, 0]) == (70, 80, 90)
    # out-of-range palette index -> None, not a crash
    bad = np.array([[[7]]], dtype=np.uint8)
    assert decode_pixels(_make_png(bad, 3, [0], palette=pal)) is None


def test_png_real_features_through_spark(spark):
    """A real PNG through extract_media_features yields REAL statistics
    (the r2 feature slot for PNG was a byte-derived fake)."""
    import numpy as np

    from pmcanalysis_spark.multimodal import MEDIA, extract_media_features

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:, :, 0] = 255  # pure red
    payload = _make_png(px, 2, [0, 1, 2, 3, 4])
    df = spark.createDataFrame(
        [("p1", "image", "image/png", len(payload), bytearray(payload))], MEDIA
    )
    [r] = extract_media_features(df).collect()
    assert (r["width"], r["height"]) == (4, 4)
    f = list(r["features"])
    assert abs(f[0] - 1 / 3) < 1e-6        # global mean of pure red
    assert abs(f[2] - 1.0) < 1e-6          # R channel mean
    assert abs(f[3]) < 1e-6 and abs(f[4]) < 1e-6  # G, B


def _tiny_wav(rate=8000, channels=1, bits=16, samples=None, fmt=1):
    """Hand-built RIFF/WAVE: PCM int or float-32 samples."""
    import struct

    import numpy as np

    if samples is None:
        t = np.arange(800)
        samples = np.sin(2 * np.pi * 440 * t / rate)
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = np.tile(x[:, None], (1, channels))
    if fmt == 1 and bits == 16:
        raw = np.clip(np.rint(x * 32768), -32768, 32767).astype("<i2").tobytes()
    elif fmt == 1 and bits == 8:
        raw = np.clip(np.rint(x * 128 + 128), 0, 255).astype(np.uint8).tobytes()
    elif fmt == 3 and bits == 32:
        raw = x.astype("<f4").tobytes()
    else:
        raise ValueError
    block = channels * bits // 8
    fmt_body = struct.pack(
        "<HHIIHH", fmt, channels, rate, rate * block, block, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + len(fmt_body).to_bytes(4, "little") + fmt_body
        + b"data" + len(raw).to_bytes(4, "little") + raw
    )
    return b"RIFF" + (len(body)).to_bytes(4, "little") + body


def test_wav_decode_real():
    import numpy as np

    from pmcanalysis_spark.multimodal import decode_wav_samples

    t = np.arange(1600)
    sig = 0.5 * np.sin(2 * np.pi * 440 * t / 8000)
    x, rate = decode_wav_samples(_tiny_wav(samples=sig))
    assert rate == 8000 and x.shape == (1600, 1)
    assert np.max(np.abs(x[:, 0] - sig)) < 1e-3  # 16-bit quantization
    # float-32 path is lossless up to float32 rounding
    xf, _ = decode_wav_samples(_tiny_wav(samples=sig, fmt=3, bits=32))
    assert np.max(np.abs(xf[:, 0] - sig)) < 1e-6
    # stereo + 8-bit
    xs, _ = decode_wav_samples(_tiny_wav(samples=sig, channels=2, bits=8))
    assert xs.shape == (1600, 2)
    from pmcanalysis_spark.multimodal import decode_wav_samples as d
    assert d(b"RIFFxxxxNOPE") is None and d(b"") is None


def test_audio_features_through_spark(spark):
    """kind='audio' rows take the REAL WAV path: width=n_samples,
    height=channels, duration/RMS features match the generating signal."""
    import numpy as np

    from pmcanalysis_spark.multimodal import MEDIA, extract_media_features

    t = np.arange(8000)
    sig = 0.5 * np.sin(2 * np.pi * 440 * t / 8000)  # exactly 1 second
    payload = _tiny_wav(rate=8000, samples=sig)
    df = spark.createDataFrame(
        [("a1", "audio", "audio/wav", len(payload), bytearray(payload))], MEDIA
    )
    [r] = extract_media_features(df).collect()
    assert (r["width"], r["height"]) == (8000, 1)
    f = list(r["features"])
    assert abs(f[0] - 1.0) < 1e-6          # duration
    assert abs(f[1] - 0.5 / np.sqrt(2)) < 1e-3  # RMS of a 0.5 sine
    assert abs(f[2] - 0.5) < 1e-3          # peak


def test_avi_mjpeg_frame_sampling(spark):
    """Motion-JPEG AVI: the RIFF walk extracts JPEG frames and each sampled
    frame decodes through the REAL JPEG path."""
    import numpy as np
    from test_jpeg import Q1, encode_jpeg

    from pmcanalysis_spark.multimodal import MEDIA, extract_media_features

    frames = []
    for v in (0, 255, 0, 255):  # alternating black / white 8x8 grays
        frames.append(encode_jpeg([np.full((8, 8), float(v))], [Q1], [(1, 1)]))
    movi = b"movi"
    for fr in frames:
        movi += b"00dc" + len(fr).to_bytes(4, "little") + fr
        if len(fr) & 1:
            movi += b"\x00"
    body = b"AVI " + b"LIST" + len(movi).to_bytes(4, "little") + movi
    payload = b"RIFF" + len(body).to_bytes(4, "little") + body

    df = spark.createDataFrame(
        [("v1", "video", "video/x-msvideo", len(payload), bytearray(payload))],
        MEDIA,
    )
    rows = sorted(
        extract_media_features(df, frame_every=2).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert len(rows) == 2  # every 2nd of 4 frames
    assert all((r["width"], r["height"]) == (8, 8) for r in rows)
    means = [round(list(r["features"])[0], 3) for r in rows]
    assert means == [0.0, 0.0] or means == [0.0, 1.0] or means == [1.0, 1.0]
    # frames 0 and 2 sampled: black then black (v=0, 0) per the list above
    assert means == [0.0, 0.0]


class _LZWPack:
    """LSB-first LZW bit packer for the test-side GIF encoders."""

    def __init__(self):
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def code(self, c, width):
        self.acc |= c << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def done(self):
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _gif_bytes(w, h, palette, lzw_min, data, interlace=False, screen=None,
               left=0, top=0):
    sw, sh = screen or (w, h)
    n = len(palette)
    depth = max(1, (n - 1).bit_length())
    pal = bytearray()
    for rgb in palette:
        pal += bytes(rgb)
    pal += b"\x00" * (3 * ((1 << depth) - n))
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    out += bytes([0x80 | (depth - 1), 0, 0])
    out += pal
    out += b"\x2c" + left.to_bytes(2, "little") + top.to_bytes(2, "little")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0x00])
    out += bytes([lzw_min])
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


def _encode_gif(indices, palette, interlace=False, grow=False, screen=None,
                left=0, top=0):
    """Two conformant literal-only LZW encoders: grow=False emits CLEAR
    before every literal (constant code width); grow=True emits one CLEAR
    then literals while mirroring the decoder's dictionary growth so the
    code width widens in sync — exercising the width-growth path."""
    import numpy as np

    idx = np.asarray(indices)
    h, w = idx.shape
    lzw_min = max(2, (len(palette) - 1).bit_length())
    clear = 1 << lzw_min
    end = clear + 1
    pk = _LZWPack()
    flat = idx.reshape(-1)
    if not grow:
        width = lzw_min + 1
        for v in flat:
            pk.code(clear, width)
            pk.code(int(v), width)
        pk.code(end, width)
    else:
        width = lzw_min + 1
        next_code = clear + 2
        pk.code(clear, width)
        first = True
        for v in flat:
            pk.code(int(v), width)
            if not first:
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            first = False
        pk.code(end, width)
    return _gif_bytes(w, h, palette, lzw_min, pk.done(), interlace, screen,
                      left, top)


PAL4 = [(10, 20, 30), (200, 0, 0), (0, 200, 0), (0, 0, 200)]


def test_gif_decode_literal_and_growth_paths():
    import numpy as np

    from pmcanalysis_spark.multimodal import decode_gif_pixels

    rng = np.random.RandomState(12)
    idx = rng.randint(0, 4, size=(5, 7))
    exp = np.array(PAL4, dtype=np.uint8)[idx]
    for grow in (False, True):
        got = decode_gif_pixels(_encode_gif(idx, PAL4, grow=grow))
        assert got is not None and np.array_equal(got, exp), grow


def test_gif_lzw_kwkwk_case():
    """Hand-built true-LZW stream for indices [0,0,0,0] (min 2): codes
    CLEAR, 0, 6, 0 — code 6 equals the next unassigned entry (KwKwK)."""
    import numpy as np

    from pmcanalysis_spark.multimodal import decode_gif_pixels

    pk = _LZWPack()
    for c in (4, 0, 6, 0, 5):
        pk.code(c, 3)
    payload = _gif_bytes(4, 1, PAL4, 2, pk.done())
    got = decode_gif_pixels(payload)
    exp = np.tile(np.array(PAL4[0], dtype=np.uint8), (1, 4, 1))
    assert got is not None and np.array_equal(got, exp)


def test_gif_interlaced_rows_reordered():
    import numpy as np

    from pmcanalysis_spark.multimodal import decode_gif_pixels

    logical = np.array([[r % 4] * 4 for r in range(8)])
    order = [0, 4, 2, 6, 1, 3, 5, 7]  # 4-pass storage order for ih=8
    stored = logical[order]
    got = decode_gif_pixels(_encode_gif(stored, PAL4, interlace=True))
    exp = np.array(PAL4, dtype=np.uint8)[logical]
    assert got is not None and np.array_equal(got, exp)


def test_gif_frame_offset_on_canvas():
    import numpy as np

    from pmcanalysis_spark.multimodal import decode_gif_pixels, decode_pixels

    idx = np.full((2, 2), 1)
    payload = _encode_gif(idx, PAL4, screen=(4, 4), left=1, top=1)
    got = decode_gif_pixels(payload)
    assert got.shape == (4, 4, 3)
    assert tuple(got[0, 0]) == PAL4[0]       # background = palette[0]
    assert tuple(got[1, 1]) == PAL4[1]
    assert tuple(got[2, 2]) == PAL4[1]
    assert tuple(got[3, 3]) == PAL4[0]
    # dispatch through the umbrella decoder
    assert np.array_equal(decode_pixels(payload), got)
    assert decode_gif_pixels(b"GIF89a\x00") is None


def test_wav_ragged_data_chunk_total():
    """An odd-length 16-bit data chunk must decode (trailing ragged byte
    dropped), never raise — this escaped the generic garbage property
    because random bytes rarely form both fmt and data chunks."""
    from pmcanalysis_spark.multimodal import decode_wav_samples

    payload = bytearray(_tiny_wav(samples=[0.5, -0.5, 0.25]))
    # append one ragged byte to the data chunk and patch both sizes
    payload += b"\x7f"
    data_off = payload.index(b"data")
    old = int.from_bytes(payload[data_off + 4 : data_off + 8], "little")
    payload[data_off + 4 : data_off + 8] = (old + 1).to_bytes(4, "little")
    payload[4:8] = (len(payload) - 8).to_bytes(4, "little")
    x, rate = decode_wav_samples(bytes(payload))
    assert x.shape == (3, 1) and rate == 8000


def _pgm(w, h, rows):
    return f"P5 {w} {h} 255\n".encode() + bytes(rows)


def test_image_ahash_invariances(spark):
    """The aHash properties that make it a DEDUP key: uniform brightness
    shift -> identical hash; one changed thumbnail cell -> small Hamming
    distance; flat images -> 0 (strict-above-mean); undecodable dropped."""
    from pmcanalysis_spark.multimodal import image_ahash

    bar = [255] * 4 + [0] * 4
    dim = [200] * 4 + [0] * 4           # same shape, darker bar
    onecell = list(bar)
    onecell[7] = 255                     # one extra bright cell in row 0
    rows = [
        ("bar", _pgm(8, 8, bar * 8)),
        ("dim", _pgm(8, 8, dim * 8)),
        ("one", _pgm(8, 8, bar * 7 + onecell)),
        ("flat", _pgm(8, 8, [7] * 64)),
        ("junk", b"not an image"),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r.media_id: r.ahash for r in image_ahash(df).collect()}
    assert "junk" not in got and len(got) == 4
    assert got["bar"] == got["dim"] != 0
    assert bin(got["bar"] ^ got["one"]).count("1") == 1
    assert got["flat"] == 0


def test_image_ahash_downsamples_larger_formats(spark):
    """A 16x16 BMP with the same bar pattern hashes identically to the
    8x8 PGM (nearest-neighbor thumbnail), across two real decoders."""
    from pmcanalysis_spark.multimodal import image_ahash

    # 24-bit BMP, bottom-up rows, 16 wide bar of width 8 (=> 8x8 bar of 4)
    w = h = 16
    row_px = ([255, 255, 255] * 8 + [0, 0, 0] * 8)
    row_bytes = bytes(row_px)  # 48 bytes, already 4-aligned
    header = (
        b"BM" + (54 + len(row_bytes) * h).to_bytes(4, "little") + b"\0\0\0\0"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + b"\0" * 24
    )
    bmp = header + row_bytes * h
    pgm = _pgm(8, 8, ([255] * 4 + [0] * 4) * 8)
    df = spark.createDataFrame(
        [("bmp", bmp), ("pgm", pgm)], "media_id string, payload binary"
    )
    got = {r.media_id: r.ahash for r in image_ahash(df).collect()}
    assert got["bmp"] == got["pgm"] != 0
