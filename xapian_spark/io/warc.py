"""WARC (ISO 28500) ingestion: crawl archives → the pages table.

The reference indexes crawl output that omindex walks on a
filesystem (xapian-applications/omega/omindex.cc); the Spark-native
equivalent of "point the indexer at a crawl" is "point the pipeline
at WARC files" — the format Common Crawl actually ships, and the
missing first hop of the input_hint's pages table
(url, warc_ts, html, text, lang). This module is a pure-stdlib WARC
reader/writer (struct-free text format + gzip members):

- `write_warc(records, gzip_members=True)` — fixture builder: one
  WARC/1.0 response record per (url, ts, html), each framed as an
  HTTP/1.1 200 response payload and (by Common-Crawl convention)
  compressed as its own gzip member, members concatenated.
- `parse_warc(data)` — the inverse: splits members, parses WARC
  headers + HTTP payload, yields (url, warc_ts, html) for every
  response record, one at a time; skips request/metadata/warcinfo
  records the way a crawl consumer must. Corrupt framing raises
  ValueError when the parse reaches it.
- `warc_pages(files_df)` — the Spark operator: a binary `content`
  column of whole WARC files (e.g. from spark.read.format
  ("binaryFile")) → exploded pages rows via Arrow-batched
  mapInPandas, emitted in frames of at most PAGES_PER_FRAME records,
  so a task never holds a whole file's parsed pages at once. One task
  per WARC file — exactly how Common Crawl shards (~1 GB gzip
  members per file), so a 100 TB crawl is ~100k independent tasks
  with no shuffle at all; downstream html→text extraction chains
  narrowly.

Timestamps use the WARC-Date RFC-3339 UTC format and parse back to
naive-UTC datetimes, matching io/pages.py's warc_ts column.
"""

from __future__ import annotations

import datetime
import gzip
import itertools
from typing import Iterator, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

_CRLF = b"\r\n"

# records per pandas frame warc_pages emits
PAGES_PER_FRAME = 1000

# compressed bytes fed to the gzip decompressor per call
GZIP_SLICE = 64 * 1024


def _warc_date(ts: datetime.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def write_warc(records: Sequence[Tuple[str, datetime.datetime, bytes]],
               gzip_members: bool = True) -> bytes:
    """[(url, utc_ts, html_bytes)] → WARC bytes (one response record
    per page; each record its own gzip member when gzip_members, the
    Common-Crawl layout)."""
    out = bytearray()
    for i, (url, ts, html) in enumerate(records):
        http = (b"HTTP/1.1 200 OK" + _CRLF
                + b"Content-Type: text/html; charset=utf-8" + _CRLF
                + b"Content-Length: " + str(len(html)).encode() + _CRLF
                + _CRLF + bytes(html))
        hdr = (b"WARC/1.0" + _CRLF
               + b"WARC-Type: response" + _CRLF
               + b"WARC-Record-ID: <urn:uuid:" + f"{i:032x}".encode()
               + b">" + _CRLF
               + b"WARC-Date: " + _warc_date(ts).encode() + _CRLF
               + b"WARC-Target-URI: " + url.encode() + _CRLF
               + b"Content-Type: application/http; msgtype=response"
               + _CRLF
               + b"Content-Length: " + str(len(http)).encode() + _CRLF
               + _CRLF)
        rec = hdr + http + _CRLF + _CRLF
        out += gzip.compress(rec, mtime=0) if gzip_members else rec
    return bytes(out)


def _split_members(data: bytes) -> Iterator[bytes]:
    """Concatenated gzip members → decompressed payloads (or the raw
    stream when not gzip). A zlib.decompressobj(wbits=31) per member is
    fed GZIP_SLICE-byte views of the input until it reaches the member's
    end; the bytes it did not use (unused_data) are stepped back over,
    so each input byte is fed about once however many members follow."""
    import zlib

    if data[:2] != b"\x1f\x8b":
        yield data
        return
    view = memoryview(data)
    pos = 0
    while pos < len(data):
        if data[pos:pos + 2] != b"\x1f\x8b":
            raise ValueError("WARC: garbage between gzip members")
        d = zlib.decompressobj(wbits=31)
        parts = []
        try:
            while not d.eof and pos < len(data):
                piece = view[pos:pos + GZIP_SLICE]
                parts.append(d.decompress(piece))
                pos += len(piece)
        except zlib.error as exc:
            raise ValueError(f"WARC: corrupt gzip member ({exc})")
        if not d.eof:
            raise ValueError("WARC: truncated gzip member")
        pos -= len(d.unused_data)
        yield b"".join(parts)


def parse_warc(data: bytes
               ) -> Iterator[Tuple[str, datetime.datetime, bytes]]:
    """WARC bytes → (url, warc_ts, html) for every response record, in
    file order, as a generator. Handles per-record gzip members,
    whole-file gzip, and plain streams; non-response records are
    skipped."""
    for payload in _split_members(bytes(data)):
        pos = 0
        while pos < len(payload):
            # skip inter-record blank lines
            while payload[pos:pos + 2] == _CRLF:
                pos += 2
            if pos >= len(payload):
                break
            if not payload[pos:].startswith(b"WARC/"):
                raise ValueError("WARC: bad record header magic")
            hdr_end = payload.find(_CRLF + _CRLF, pos)
            if hdr_end < 0:
                raise ValueError("WARC: truncated record header")
            headers = {}
            for line in payload[pos:hdr_end].split(_CRLF)[1:]:
                k, _, v = line.partition(b":")
                headers[k.strip().lower()] = v.strip()
            try:
                clen = int(headers[b"content-length"])
            except (KeyError, ValueError):
                raise ValueError("WARC: missing/bad Content-Length")
            block = payload[hdr_end + 4:hdr_end + 4 + clen]
            if len(block) != clen:
                raise ValueError("WARC: truncated record block")
            pos = hdr_end + 4 + clen
            if headers.get(b"warc-type") != b"response":
                continue
            url = headers.get(b"warc-target-uri", b"").decode(
                "utf-8", "replace")
            ts = datetime.datetime.strptime(
                headers[b"warc-date"].decode(),
                "%Y-%m-%dT%H:%M:%SZ")
            # payload is an HTTP response: body follows the first
            # blank line; honor its Content-Length when present
            http_end = block.find(_CRLF + _CRLF)
            if http_end < 0:
                raise ValueError("WARC: response block missing HTTP"
                                 " header terminator")
            body = block[http_end + 4:]
            for line in block[:http_end].split(_CRLF)[1:]:
                k, _, v = line.partition(b":")
                if k.strip().lower() == b"content-length":
                    body = body[:int(v.strip())]
            yield url, ts, body


WARC_PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("html", BinaryType(), False),
])


def warc_pages(files: DataFrame,
               content_col: str = "content") -> DataFrame:
    """Binary WARC-file column → exploded (url, warc_ts, html) rows.
    Narrow Arrow-batched mapInPandas: one task per WARC file, no
    shuffle, records streamed out PAGES_PER_FRAME at a time;
    html→text extraction (analysis/htmlparse) chains directly on the
    output."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ["url", "warc_ts", "html"]
        for pdf in batches:
            for blob in pdf[content_col]:
                records = parse_warc(bytes(blob or b""))
                while True:
                    frame = list(itertools.islice(records, PAGES_PER_FRAME))
                    if not frame:
                        break
                    yield pd.DataFrame(frame, columns=cols)

    return files.select(content_col).mapInPandas(gen, WARC_PAGES_SCHEMA)
