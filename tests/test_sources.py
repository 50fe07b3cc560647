"""WARC and sitemap source formats (go_crawler_spark/sources/)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from go_crawler_spark.sources.sitemap import sitemap_index_refs, sitemap_urls
from go_crawler_spark.sources.warc import (
    pack_segments,
    parse_warc_bytes,
    parse_warc_segments,
    to_warc_records,
)


class TestWarc:
    def test_parse_bytes_tricky_payloads(self):
        # payload containing the header delimiter + empty + non-utf8
        payloads = [b"a\r\n\r\nb", b"", bytes([0xFF, 0x00, 0x80])]
        blob = b""
        for i, p in enumerate(payloads):
            blob += (
                f"WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: u{i}\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
                f"Content-Length: {len(p)}\r\n\r\n"
            ).encode() + p + b"\r\n\r\n"
        recs = parse_warc_bytes(blob)
        assert [(u, p) for u, _, p in recs] == [
            (f"u{i}", p) for i, p in enumerate(payloads)
        ]

    def test_parse_truncated_tail_stops_cleanly(self):
        blob = b"WARC/1.0\r\nWARC-Target-URI: u\r\nContent-Length: 3\r\n\r\nabc\r\n\r\nWARC/1.0\r\ngarbage-no-delimiter"
        recs = parse_warc_bytes(blob)
        assert len(recs) == 1 and recs[0][2] == b"abc"

    def test_spark_roundtrip(self, spark):
        ts = datetime.datetime(2024, 3, 5, 12, 30, 0)
        rows = [
            (f"https://h/{i}", ts, f"content {i} \r\n\r\n body".encode())
            for i in range(50)
        ]
        pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
        records = to_warc_records(pages)
        segs = pack_segments(records, F.pmod(F.xxhash64("url"), F.lit(4)))
        assert segs.count() <= 4
        back = parse_warc_segments(segs)
        got = {r["url"]: (r["warc_date"], bytes(r["payload"])) for r in back.collect()}
        assert len(got) == 50
        for url, _, payload in rows:
            assert got[url][1] == payload
            assert got[url][0] == "2024-03-05T12:30:00Z"


class TestSitemap:
    XML = (
        "<urlset>"
        "<url><loc>https://a/1</loc><lastmod>2024-01-01</lastmod></url>"
        "<url><loc>https://a/2</loc><lastmod>2024-02-01</lastmod></url>"
        "</urlset>"
    )
    XML_NO_MOD = "<urlset><url><loc>https://b/1</loc></url><url><loc>https://b/2</loc><lastmod>2024-01-01</lastmod></url></urlset>"

    def test_urlset(self, spark):
        df = spark.createDataFrame([("s1", self.XML)], ["site", "xml"])
        rows = sitemap_urls(df).orderBy("loc").collect()
        assert [(r["site"], r["loc"], r["lastmod"]) for r in rows] == [
            ("s1", "https://a/1", "2024-01-01"),
            ("s1", "https://a/2", "2024-02-01"),
        ]

    def test_partial_lastmod_degrades_to_null(self, spark):
        df = spark.createDataFrame([("s2", self.XML_NO_MOD)], ["site", "xml"])
        rows = sitemap_urls(df).orderBy("loc").collect()
        assert [r["loc"] for r in rows] == ["https://b/1", "https://b/2"]
        assert all(r["lastmod"] is None for r in rows)

    def test_index(self, spark):
        xml = "<sitemapindex><sitemap><loc>https://x/s1.xml</loc></sitemap><sitemap><loc>https://x/s2.xml</loc></sitemap></sitemapindex>"
        df = spark.createDataFrame([("root", xml)], ["site", "xml"])
        assert sorted(
            r["loc"] for r in sitemap_index_refs(df).collect()
        ) == ["https://x/s1.xml", "https://x/s2.xml"]


def test_wet_records_header_and_octet_length(spark):
    """WET conversion record: type/content-type headers present,
    Content-Length counts UTF-8 OCTETS (multibyte text), null text kept
    as an empty record, and the generic scanner round-trips it."""
    from go_crawler_spark.sources.warc import (
        pack_segments,
        parse_warc_segments,
        to_wet_records,
    )
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [
            ("https://a/1", "2024-01-01 00:00:00", "café ü"),  # 6 chars, 8 octets
            ("https://a/2", "2024-01-01 00:00:00", None),
        ],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    recs = to_wet_records(pages).collect()
    raw = {r["url"]: bytes(r["record"]) for r in recs}
    assert b"WARC-Type: conversion\r\n" in raw["https://a/1"]
    assert b"Content-Type: text/plain\r\n" in raw["https://a/1"]
    assert b"Content-Length: 8\r\n" in raw["https://a/1"]
    assert b"Content-Length: 0\r\n" in raw["https://a/2"]

    segs = pack_segments(to_wet_records(pages), F.lit(0))
    back = {
        r["url"]: bytes(r["payload"]).decode("utf-8")
        for r in parse_warc_segments(segs).collect()
    }
    assert back == {"https://a/1": "café ü", "https://a/2": ""}


def test_cdxj_payload_is_json_for_quote_and_backslash(spark):
    """A URL holding ``"`` and ``\\`` still yields a JSON payload that
    decodes back to the URL."""
    import json

    from go_crawler_spark.sources.cdx import to_cdxj_lines
    from pyspark.sql import functions as F

    urls = ['https://a.example/q?x="y"\\z', 'https://a.example/\\"', "https://a.example/"]
    pages = spark.createDataFrame(
        [(u, "2024-01-01 00:00:00", b"b") for u in urls],
        "url string, warc_ts string, html binary",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    lines = [r["cdxj"] for r in to_cdxj_lines(pages).collect()]
    assert len(lines) == len(urls)
    got = sorted(json.loads(line.split(" ", 2)[2])["url"] for line in lines)
    assert got == sorted(urls)


def test_cdxj_line_golden_and_sorted_write_shape(spark):
    """CDXJ golden line (fixed key order, octet length, md5 digest) and
    the global-order discipline: repartitionByRange + sortWithinPartitions
    yields per-partition sorted runs whose boundaries are non-overlapping
    — the binary-searchable layout the index exists for."""
    from go_crawler_spark.sources.cdx import to_cdxj_lines
    from pyspark.sql import functions as F
    import hashlib

    pages = spark.createDataFrame(
        [
            ("https://www.example.com/a", "2024-01-01 00:00:00", b"body"),
            ("https://sub.example.com/b", "2024-01-02 03:04:05", None),
            ("https://other.org/c", "2024-01-01 00:00:00", b"x"),
        ],
        "url string, warc_ts string, html binary",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    lines = {r["surt_key"]: r for r in to_cdxj_lines(pages).collect()}
    want_digest = hashlib.md5(b"body").hexdigest()
    assert lines["com,example,www)/a"]["cdxj"] == (
        "com,example,www)/a 20240101000000 "
        '{"url": "https://www.example.com/a", '
        f'"digest": "{want_digest}", "length": 4}}'
    )
    # null payload -> empty capture, md5 of b""
    assert '"length": 0' in lines["com,example,sub)/b"]["cdxj"]

    parted = (
        to_cdxj_lines(pages)
        .repartitionByRange(2, "surt_key", "ts14")
        .sortWithinPartitions("surt_key", "ts14")
    )
    per_part = parted.select(
        F.spark_partition_id().alias("pid"), "surt_key"
    ).collect()
    by_pid: dict = {}
    for r in per_part:
        by_pid.setdefault(r["pid"], []).append(r["surt_key"])
    for keys in by_pid.values():
        assert keys == sorted(keys)  # sorted runs
    bounds = sorted((min(k), max(k)) for k in by_pid.values() if k)
    for (lo1, hi1), (lo2, _) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2  # non-overlapping ranges -> global order
