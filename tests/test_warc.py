"""WARC (ISO 28500) reader/writer + the warc_pages Spark operator."""

import datetime
import gzip
import random

import pytest

from xapian_spark.io.warc import (
    GZIP_SLICE, parse_warc, warc_pages, write_warc,
)


def _recs(n):
    return [(f"http://ex{i}.org/p{i}",
             datetime.datetime(2024, 3, 1 + i % 20, 12, i % 60),
             f"<html><title>T{i}</title><body>doc {i}</body></html>"
             .encode()) for i in range(n)]


def test_roundtrip_gzip_members_and_plain():
    recs = _recs(5)
    for gz in (True, False):
        assert list(parse_warc(write_warc(recs, gzip_members=gz))) == recs


def test_member_larger_than_a_slice_beside_small_ones():
    # incompressible html: its gzip member spans several decompressor
    # slices, and the members after it start mid-slice
    big = random.Random(0).randbytes(3 * GZIP_SLICE)
    recs = _recs(3)
    recs.insert(1, ("http://big.org/", datetime.datetime(2024, 3, 1), big))
    blob = write_warc(recs)
    assert len(blob) > 3 * GZIP_SLICE
    assert list(parse_warc(blob)) == recs


def test_whole_file_gzip():
    recs = _recs(4)
    blob = gzip.compress(write_warc(recs, gzip_members=False))
    assert list(parse_warc(blob)) == recs


def test_non_response_records_skipped():
    recs = _recs(1)
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Length: 4\r\n\r\nabcd\r\n\r\n")
    assert list(parse_warc(info + write_warc(recs, gzip_members=False))) \
        == recs


def test_http_content_length_honored():
    # trailing junk after the HTTP body must be trimmed by the HTTP
    # Content-Length, not returned as html
    recs = _recs(1)
    blob = bytearray(write_warc(recs, gzip_members=False))
    # craft manually: body + junk, with WARC length covering both
    url, ts, html = recs[0]
    http = (b"HTTP/1.1 200 OK\r\nContent-Length: "
            + str(len(html)).encode() + b"\r\n\r\n" + html + b"JUNK")
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Date: 2024-03-01T12:00:00Z\r\n"
           b"WARC-Target-URI: " + url.encode() + b"\r\n"
           b"Content-Length: " + str(len(http)).encode()
           + b"\r\n\r\n" + http + b"\r\n\r\n")
    assert list(parse_warc(rec)) == [(url,
                                      datetime.datetime(2024, 3, 1, 12, 0),
                                      html)]


def test_truncation_and_garbage_raise():
    blob = write_warc(_recs(3))
    for cut in (5, len(blob) // 2, len(blob) - 3):
        with pytest.raises(ValueError):
            list(parse_warc(blob[:cut]))
    with pytest.raises(ValueError):
        list(parse_warc(b"\x1f\x8b\x00bogus"))
    with pytest.raises(ValueError):
        list(parse_warc(b"NOT A WARC RECORD\r\n\r\n"))


def test_records_stream_before_a_corrupt_one():
    # parse_warc yields each record as it is parsed: a valid record
    # comes out before the parse reaches the corrupt one after it
    recs = _recs(1)
    for gz, corrupt in ((True, b"\x1f\x8b\x00bogus"),
                        (False, b"WARC/1.0\r\nContent-Length: 99\r\n"
                                b"\r\nshort")):
        records = parse_warc(write_warc(recs, gzip_members=gz) + corrupt)
        assert next(records) == recs[0]
        with pytest.raises(ValueError):
            next(records)


def test_warc_pages_explodes_files(spark):
    import pandas as pd

    recs = _recs(30)
    blobs = [write_warc(recs[i:i + 10]) for i in (0, 10, 20)]
    files = spark.createDataFrame(
        pd.DataFrame({"content": blobs}))
    rows = sorted(warc_pages(files).collect(),
                  key=lambda r: r["url"])
    exp = sorted(recs)
    assert len(rows) == 30
    for r, (url, ts, html) in zip(rows, exp):
        assert (r["url"], r["warc_ts"], bytes(r["html"])) \
            == (url, ts, html)


def test_warc_to_text_extraction_chain(spark):
    # the full first hop: WARC -> pages -> byte-identical text via
    # the html extraction rules (io/pages.py builds html so that
    # extraction recovers `text` exactly)
    import pandas as pd
    from pyspark.sql import functions as F

    from xapian_spark.analysis.htmlparse import extract_text_udf
    from xapian_spark.io.pages import generate_page

    pages = [generate_page(i, seed=7) for i in range(12)]
    recs = [(p["url"],
             datetime.datetime.fromtimestamp(
                 p["warc_ts"], datetime.timezone.utc)
             .replace(tzinfo=None, microsecond=0),
             p["html"]) for p in pages]
    files = spark.createDataFrame(
        pd.DataFrame({"content": [write_warc(recs)]}))
    got = {r["url"]: r["text"] for r in warc_pages(files).select(
        "url", extract_text_udf(F.col("html")).alias("text")
    ).collect()}
    for p in pages:
        assert got[p["url"]] == p["text"]
