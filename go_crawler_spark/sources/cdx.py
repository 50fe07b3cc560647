"""CDXJ URL-index records [EXTENSION — crawl-product sink].

Common Crawl (and every wayback-style archive) publishes a URL INDEX next
to its WARC data: one line per capture, sorted by SURT key —

    com,example)/path 20240101000000 {"url": ..., "digest": ..., ...}

(the pywb/OpenWayback CDXJ form: SURT + 14-digit timestamp + a JSON
payload). The sort order IS the product: a binary-searchable index over
10^10 captures, and the reason the SURT key exists at all. The engine
already has every ingredient — :func:`surt_key_expr` (frontier locality),
md5 fingerprints (Q1 identity), WARC timestamps — so the index is one
map-only expression plus the range partitioning the engine uses anyway.

Divergence from CC's exact bytes, documented: the digest is the engine's
md5-hex content fingerprint (the Q1/dedup identity available in both
engines for oracle-exact verification) rather than CC's SHA1-Base32; the
JSON payload is emitted as a literal concat with a FIXED key order
(url, digest, length) so two engines produce identical bytes — generic
JSON serializers do not guarantee key order or spacing across engines.

Scale shape: record construction is map-only inside codegen. For the
sorted artifact, `df.repartitionByRange(n, "surt_key", "ts14")` +
`sortWithinPartitions` writes globally-ordered shards without a
single-task merge — the same two-pass discipline as the sequence
scheduler; the query face returns the unsorted rows (order-insensitive
oracle) and the writer owns the layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_crawler_spark.functions.urls import surt_key_expr

__all__ = ["cdx_records", "to_cdxj_lines"]


def cdx_records(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
) -> DataFrame:
    """(surt_key, ts14, url, digest, length) per capture — the CDX
    columns. ``length`` counts payload octets (a string payload is its
    UTF-8 bytes, as in ``to_wet_records``); null payload indexes as an
    empty capture (length 0), matching a failed-fetch log row."""
    payload = F.coalesce(F.col(payload_col).cast("binary"), F.lit(b""))
    return pages.select(
        surt_key_expr(F.col(url_col)).alias("surt_key"),
        F.date_format(F.col(ts_col), "yyyyMMddHHmmss").alias("ts14"),
        F.col(url_col).alias("url"),
        F.md5(payload).alias("digest"),
        F.length(payload).alias("length"),
    )


def to_cdxj_lines(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
) -> DataFrame:
    """One CDXJ line per capture: ``<surt> <ts14> {json}`` with the fixed
    key order (url, digest, length). Map-only literal concat — both
    engines emit identical bytes, unlike generic JSON serializers. The
    URL's ``\\``, ``"`` and control characters (U+0000-U+001F, as
    ``\\u00XX``) are escaped, so the payload is valid JSON for any URL."""
    r = cdx_records(pages, url_col, ts_col, payload_col)
    # a JSON string: escape the backslash first, then the quote and the
    # control characters, whose escapes carry a backslash of their own
    url_json = F.replace(
        F.replace(F.col("url"), F.lit("\\"), F.lit("\\\\")),
        F.lit('"'), F.lit('\\"'),
    )
    for c in range(0x20):
        url_json = F.replace(url_json, F.lit(chr(c)), F.lit(f"\\u{c:04x}"))
    line = F.concat(
        F.col("surt_key"),
        F.lit(" "),
        F.col("ts14"),
        F.lit(' {"url": "'),
        url_json,
        F.lit('", "digest": "'),
        F.col("digest"),
        F.lit('", "length": '),
        F.col("length").cast("string"),
        F.lit("}"),
    )
    return r.select("surt_key", "ts14", line.alias("cdxj"))
