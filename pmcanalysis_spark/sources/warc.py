"""WARC (Web ARChive, ISO 28500) ingest — the container format web crawls
actually arrive in (Common Crawl ships WARC; the reference ingests its
corpus from pre-extracted XML dumps, ParseMedline.groovy:23 — WARC is the
webtext-era equivalent of that ingest stage).

Spark-first shape: a WARC file is a concatenation of independent records
(usually each record an independent gzip member, exactly so that archives
split byte-wise); the natural unit of parallelism is the FILE/CHUNK, and
parsing is a narrow ``mapInPandas`` over binary payloads — one Python
crossing, no shuffle, records explode out of their container the same way
the multimodal decoders unpack AVI frames. At 100 TB the chunk table comes
from `spark.read.format("binaryFile")` (or a manifest of (path, offset,
length) ranges over object storage); everything downstream of the parser
is ordinary column algebra.

Pure-Python parser (no warcio in this sandbox, and none needed): WARC
headers are RFC-822-style ``Name: value`` lines terminated by CRLFCRLF,
then exactly ``Content-Length`` bytes of block, then CRLFCRLF. For
``response`` records the block is an HTTP message; the body splits off at
the first CRLFCRLF. Gzip members are detected per record by magic
(0x1f 0x8b) and inflated with zlib — Common Crawl's record-per-member
layout decompresses incrementally with bounded memory.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame

WARC_SCHEMA = (
    "chunk_id long, rec_idx int, warc_type string, target_uri string, "
    "warc_date string, content_length long, http_status int, body binary"
)


def parse_warc_bytes(blob: bytes) -> list[dict]:
    """Parse one WARC file/chunk (possibly several concatenated records,
    possibly record-per-gzip-member) into a list of record dicts. Scalar
    reference implementation — the Spark operator applies exactly this
    per chunk, and tests pin both to constructed archives."""
    records: list[dict] = []
    pos = 0
    n = len(blob)
    while pos < n:
        # skip inter-record padding
        while pos < n and blob[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        if blob[pos : pos + 2] == b"\x1f\x8b":
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            member = d.decompress(blob[pos:])
            consumed = n - pos - len(d.unused_data)
            records.extend(parse_warc_bytes(member))
            pos += consumed
            continue
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0 or not blob[pos:].startswith(b"WARC/"):
            break  # malformed tail: stop, keep what parsed
        head = blob[pos:hdr_end].decode("utf-8", errors="replace")
        headers: dict[str, str] = {}
        for line in head.split("\r\n")[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        clen = int(headers.get("content-length", "0"))
        block = blob[hdr_end + 4 : hdr_end + 4 + clen]
        pos = hdr_end + 4 + clen
        wtype = headers.get("warc-type", "")
        status: int | None = None
        body = block
        if wtype == "response" and block.startswith(b"HTTP/"):
            http_end = block.find(b"\r\n\r\n")
            if http_end >= 0:
                status_line = block[:http_end].split(b"\r\n", 1)[0]
                parts = status_line.split(b" ")
                if len(parts) >= 2 and parts[1].isdigit():
                    status = int(parts[1])
                body = block[http_end + 4 :]
        records.append(
            {
                "warc_type": wtype,
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_length": clen,
                "http_status": status,
                "body": body,
            }
        )
    return records


def parse_warc_records(
    chunks: DataFrame, id_col: str = "chunk_id", payload_col: str = "payload"
) -> DataFrame:
    """(chunk_id, rec_idx, warc_type, target_uri, warc_date,
    content_length, http_status, body) — every WARC record in every chunk.
    ONE mapInPandas, no shuffle: chunk rows in, record rows out (a
    generator per batch, so a chunk's records stream without holding the
    whole archive's parse in memory). rec_idx is the record's position
    within its chunk — (chunk_id, rec_idx) is the stable record identity
    resumption and lineage joins key on."""
    import pandas as pd

    def parse(batches):
        for pdf in batches:
            out = {
                "chunk_id": [], "rec_idx": [], "warc_type": [],
                "target_uri": [], "warc_date": [], "content_length": [],
                "http_status": [], "body": [],
            }
            for cid, blob in zip(pdf[id_col], pdf[payload_col]):
                for i, rec in enumerate(parse_warc_bytes(bytes(blob))):
                    out["chunk_id"].append(int(cid))
                    out["rec_idx"].append(i)
                    out["warc_type"].append(rec["warc_type"])
                    out["target_uri"].append(rec["target_uri"])
                    out["warc_date"].append(rec["warc_date"])
                    out["content_length"].append(rec["content_length"])
                    out["http_status"].append(rec["http_status"])
                    out["body"].append(rec["body"])
            yield pd.DataFrame(out)

    base = chunks.select(id_col, payload_col)
    return base.mapInPandas(parse, WARC_SCHEMA)


def write_warc_shards(
    docs: DataFrame,
    shard_col: str = "shard_id",
    uri_col: str = "uri",
    date_col: str = "date",
    text_col: str = "text",
) -> DataFrame:
    """WARC sink half: (shard_id, n_records, payload) — one ISO 28500
    archive per shard, records in (uri) order within the shard, one gzip
    member per record so the output is byte-splittable
    downstream (the same property the parser exploits). Returns the
    archive table rather than writing files: the caller hands payloads to
    whatever byte store it owns (object-store put, `foreachPartition`
    writer, a snapshot commit) — same contract as the shard manifest.

    Plan: ONE groupBy(shard) + applyInPandas; a shard's archive is built
    by one task, so per-task memory is one shard's bytes — the same bound
    ``shard_manifest`` already chose when it sized shards. Round-trips
    through ``parse_warc_records`` byte-faithfully (tested)."""
    import pandas as pd

    def build(key, pdf):
        pdf = pdf.sort_values(uri_col)
        blob = b"".join(
            build_warc_record(
                str(u), str(d), str(t).encode(), gzip_member=True
            )
            for u, d, t in zip(pdf[uri_col], pdf[date_col], pdf[text_col])
        )
        return pd.DataFrame(
            {"shard_id": [key[0]], "n_records": [len(pdf)], "payload": [blob]}
        )

    return docs.groupBy(shard_col).applyInPandas(
        build, "shard_id long, n_records long, payload binary"
    )


def build_warc_record(
    uri: str, date: str, body: bytes, status: int = 200,
    content_type: str = "text/plain", gzip_member: bool = False,
) -> bytes:
    """Construct one WARC response record (the test/fixture side of the
    round-trip; also what a WARC SINK would emit per page). HTTP block =
    status line + Content-Type + Content-Length + CRLFCRLF + body; WARC
    Content-Length covers the whole HTTP block, per ISO 28500."""
    http = (
        f"HTTP/1.1 {status} OK\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    rec = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: {date}\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode() + http + b"\r\n\r\n"
    if gzip_member:
        co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
        return co.compress(rec) + co.flush()
    return rec
