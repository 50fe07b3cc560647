"""Unit tests for the incremental re-crawl tier (operators/revisit.py),
the SURT locality key (functions/urls.py), and stratified sampling
(operators/corpus_prep.py). The oracle-parity replica in
test_queries_oracle.py covers the end-to-end query shapes; these pin the
edge semantics directly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_crawler_spark.functions.urls import (
    registrable_domain_expr,
    surt_host_expr,
    surt_key_expr,
)
from go_crawler_spark.operators.corpus_prep import (
    sample_threshold_hex,
    stratified_sample,
)
from go_crawler_spark.operators.revisit import recrawl_schedule, snapshot_diff


# ---------------------------------------------------------------------------
# SURT key
# ---------------------------------------------------------------------------

SURT_CASES = [
    # (url, host, surt)
    ("https://www.Example.COM/a/b?q=1#frag", "www.example.com",
     "com,example,www)/a/b?q=1"),
    ("http://example.com", "example.com", "com,example)/"),
    ("https://example.com?q=1", "example.com", "com,example)/?q=1"),
    ("https://user:pw@cdn.example.org:8080/Docs/7", "cdn.example.org",
     "org,example,cdn)/Docs/7"),       # userinfo + port stripped, path case kept
    ("https://example.net./x", "example.net", "net,example)/x"),  # trailing dot
]


def test_surt_key_golden(spark):
    df = spark.createDataFrame([(u,) for u, _, _ in SURT_CASES], "url string")
    rows = (
        df.select(
            "url",
            surt_host_expr("url").alias("host"),
            surt_key_expr("url").alias("surt"),
        )
        .collect()
    )
    got = {r["url"]: (r["host"], r["surt"]) for r in rows}
    for url, host, surt in SURT_CASES:
        assert got[url] == (host, surt), url


def test_surt_prefix_groups_subdomains(spark):
    # same registrable domain ⇒ shared SURT prefix (the locality property)
    df = spark.createDataFrame(
        [("https://a.example.com/1",), ("https://b.example.com/2",),
         ("https://example.com/3",)],
        "url string",
    )
    keys = [r[0] for r in df.select(surt_key_expr("url")).collect()]
    assert all(k.startswith("com,example") for k in keys)


def test_registrable_domain_expr(spark):
    df = spark.createDataFrame(
        [("cdn.src3-site.org",), ("src3-site.org",), ("a.b.example.com",),
         ("localhost",)],
        "host string",
    )
    got = [r[0] for r in df.select(registrable_domain_expr("host")).collect()]
    # single-label host is its own registrable key (matches the DuckDB
    # oracle's CASE guard; an unguarded slice(-2,2) returned a partial list)
    assert got == ["src3-site.org", "src3-site.org", "example.com", "localhost"]


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------

def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [("u1", "f1"), ("u2", "f2"), ("u3", "f3")], "url string, fingerprint string"
    )
    new = spark.createDataFrame(
        [("u2", "f2"), ("u3", "f3x"), ("u4", "f4")], "url string, fingerprint string"
    )
    got = {
        r["url"]: r["change"] for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        "u1": "removed",
        "u2": "unchanged",
        "u3": "changed",
        "u4": "added",
    }


# ---------------------------------------------------------------------------
# recrawl schedule
# ---------------------------------------------------------------------------

def _stats(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, last_fetch_ts timestamp, fetch_count long, change_count long",
    )


def test_recrawl_interval_clamps_and_due(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    now = int(dt.datetime(2024, 1, 10).timestamp())  # host tz == UTC in CI
    df = _stats(
        spark,
        [
            ("fresh", t0, 1, 0),      # interval = base (1d) -> overdue 8d
            ("stable", t0, 100, 0),   # 100d uncapped -> capped at 30d, not due
            ("churny", t0, 10, 9),    # 1d floor -> due
            ("recent", dt.datetime(2024, 1, 9, 23), 1, 0),  # due in <1d -> not due
        ],
    )
    out = {r["url"]: r for r in recrawl_schedule(df, now).collect()}
    assert set(out) == {"fresh", "churny"}
    assert out["fresh"]["interval_s"] == 86_400
    assert out["fresh"]["overdue_s"] == 8 * 86_400
    assert out["churny"]["interval_s"] == 86_400


def test_recrawl_backoff_monotone_in_stability(spark):
    import datetime as dt

    t0 = dt.datetime(2023, 1, 1)
    df = _stats(spark, [(f"u{c}", t0, 20, c) for c in range(6)])
    now = int(dt.datetime(2024, 1, 1).timestamp())
    rows = recrawl_schedule(df, now).orderBy("change_count").collect()
    intervals = [r["interval_s"] for r in rows]
    assert intervals == sorted(intervals, reverse=True)  # more change, sooner


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------

def test_sample_threshold_hex():
    assert sample_threshold_hex(0.5) == "80000000"
    assert sample_threshold_hex(0.25) == "40000000"
    assert sample_threshold_hex(0.0) == "00000000"
    with pytest.raises(ValueError):
        sample_threshold_hex(1.0)


def test_stratified_sample_stable_under_growth(spark):
    # membership of the first 200 ids is unchanged when 300 more arrive —
    # the map-only/stateless property the docstring promises
    full = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    small = full.filter(F.col("doc_id") < 200)
    rates = {"en": 0.3, "de": 0.7}
    a = {r[0] for r in stratified_sample(small, rates).select("doc_id").collect()}
    b = {
        r[0]
        for r in stratified_sample(full, rates)
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .collect()
    }
    assert a == b
    assert 0 < len(a) < 200


def test_stratified_sample_rate_zero_and_one(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keep").otherwise("drop").alias("lang"),
    )
    out = stratified_sample(df, {"keep": 1.0, "drop": 0.0})
    langs = {r[0] for r in out.select("lang").distinct().collect()}
    assert langs == {"keep"}
    assert out.count() == 50


# ---------------------------------------------------------------------------
# tracking-param strip (query canonicalization)
# ---------------------------------------------------------------------------

STRIP_CASES = [
    ("https://e.com/p?utm_source=tw&b=2&a=1", "https://e.com/p?a=1&b=2"),
    ("https://e.com/p?fbclid=abc", "https://e.com/p"),
    ("https://e.com/p", "https://e.com/p"),          # no query at all
    ("https://e.com/p?", "https://e.com/p"),         # empty query
    ("https://e.com/p?a=1&a=0", "https://e.com/p?a=0&a=1"),  # dup keys sorted
    ("https://e.com/p?ref_src=twsrc&gclid=1&z=1", "https://e.com/p?z=1"),
]


def test_strip_tracking_params_golden(spark):
    from go_crawler_spark.functions.urls import strip_tracking_params_expr

    df = spark.createDataFrame([(u,) for u, _ in STRIP_CASES], "url string")
    got = {
        r["url"]: r["clean"]
        for r in df.select(
            "url", strip_tracking_params_expr("url").alias("clean")
        ).collect()
    }
    for url, expect in STRIP_CASES:
        assert got[url] == expect, url


# ---------------------------------------------------------------------------
# MIME sniff (magic bytes)
# ---------------------------------------------------------------------------

def test_sniff_mime_edges(spark):
    from go_crawler_spark.operators.multimodal import sniff_mime_expr

    rows = [
        (1, bytes.fromhex("89504E470D0A1A0A") + b"data", "image/png"),
        (2, b"RIFFxxxxWAVEfmt ", "audio/wav"),
        (3, b"RIFFxxxxWEBPVP8 ", "image/webp"),
        (4, b"RIFFxxxx", "application/octet-stream"),  # truncated RIFF, no tag
        (5, b"<html><body>", "text/html"),
        (6, b"", "application/octet-stream"),           # empty payload
        (7, b"\xff", "application/octet-stream"),       # 1 byte, not FFD8FF
        (8, b"\xff\xd8\xff", "image/jpeg"),             # exactly the magic
        (9, None, None),                                # fetch miss -> NULL mime
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p, _ in rows], "id long, payload binary"
    )
    got = {
        r["id"]: r["mime"]
        for r in df.select("id", sniff_mime_expr("payload").alias("mime")).collect()
    }
    for i, _, expect in rows:
        assert got[i] == expect, i


def test_training_order_dense_and_deterministic(spark):
    from go_crawler_spark.operators.corpus_prep import training_order

    docs = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    out = training_order(docs, seed=7).collect()
    assert len(out) == 300
    # shards in [0, 16); positions dense 0..n_k-1 within each shard
    by_shard = {}
    for r in out:
        assert 0 <= r["shard"] < 16
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # deterministic across runs
    again = training_order(docs, seed=7).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a different seed reshuffles (some row lands elsewhere)
    other = training_order(docs, seed=8).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_training_order_two_char_shards(spark):
    from go_crawler_spark.operators.corpus_prep import training_order

    docs = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    out = training_order(docs, shard_chars=2, seed=1).collect()
    assert {r["shard"] for r in out} <= set(range(256))
    assert len({r["shard"] for r in out}) > 100  # well spread at n=400


def test_training_order_stable_under_growth(spark):
    # relative order of surviving rows within a shard must not change
    # when the corpus grows — the resumable-epoch-schedule property
    from go_crawler_spark.operators.corpus_prep import training_order

    small = spark.range(0, 150).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    pos_s = {
        (r["shard"], r["doc_id"]): r["shard_pos"]
        for r in training_order(small, seed=3).collect()
    }
    pos_b = {
        (r["shard"], r["doc_id"]): r["shard_pos"]
        for r in training_order(big, seed=3).collect()
    }
    for shard in {s for s, _ in pos_s}:
        small_order = sorted(
            (p, d) for (s, d), p in pos_s.items() if s == shard
        )
        big_rank = {d: p for (s, d), p in pos_b.items() if s == shard}
        ranks = [big_rank[d] for _, d in small_order]
        assert ranks == sorted(ranks)


def test_domain_cap_matches_unsalted_window(spark):
    # the salted two-phase result must be IDENTICAL to the naive
    # single-window answer (a true top-cap row is in the top-cap of
    # its own salt bucket a fortiori)
    from pyspark.sql import Window

    from go_crawler_spark.operators.corpus_prep import domain_cap

    rows = [
        (i, f"d{i % 5}.org", (i * 37) % 100) for i in range(200)
    ] + [(1000 + i, "mega.org", i % 7) for i in range(300)]  # skewed
    df = spark.createDataFrame(rows, "doc_id long, domain string, n_chars int")
    order = [F.desc("n_chars"), F.col("doc_id")]
    got = sorted(
        (r["domain"], r["doc_id"])
        for r in domain_cap(df, "domain", cap=4, order_by=order).collect()
    )
    w = Window.partitionBy("domain").orderBy(*order)
    want = sorted(
        (r["domain"], r["doc_id"])
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 4")
        .collect()
    )
    assert got == want
    assert sum(1 for d, _ in got if d == "mega.org") == 4


def test_domain_cap_under_cap_domains_survive_whole(spark):
    from go_crawler_spark.operators.corpus_prep import domain_cap

    df = spark.createDataFrame(
        [(1, "a.org", 5), (2, "a.org", 9), (3, "b.org", 1)],
        "doc_id long, domain string, n_chars int",
    )
    out = domain_cap(df, "domain", cap=10).collect()
    assert len(out) == 3  # no domain exceeds the cap → nothing dropped


def test_conditional_fetch_verdicts_and_precedence(spark):
    from go_crawler_spark.operators.revisit import conditional_fetch_plan

    now = 1_000_000
    rows = [
        # (url, fetch_epoch, last_modified, etag)
        # age 100, lm 10000s before fetch -> lifetime 1000 > age -> fresh
        # even though BOTH validators exist (freshness wins precedence)
        ("u_fresh", now - 100, "1970-01-01 00:00:00", "e1"),
        # stale + etag + lm -> etag preferred (RFC 9110 §13.1.2)
        ("u_etag", now - 500_000, "1970-01-01 00:00:00", "e2"),
        # stale + lm only -> If-Modified-Since with the date validator
        ("u_ims", now - 500_000, "1970-01-01 00:00:00", None),
        # no validators -> unconditional full GET, lifetime 0
        ("u_full", now - 10, None, None),
    ]
    # make u_fresh actually fresh: fetch at 999900, lm chosen so
    # (fetch - lm)/10 > 100 — epoch 0 gives lifetime 99990
    df = spark.createDataFrame(
        rows, "url string, warc_ts long, last_modified string, etag string"
    )
    got = {
        r["url"]: r
        for r in conditional_fetch_plan(df, now_epoch_s=now).collect()
    }
    assert got["u_fresh"]["action"] == "fresh"
    assert got["u_fresh"]["validator"] is None
    assert got["u_etag"]["action"] == "revalidate_etag"
    assert got["u_etag"]["validator"] == "e2"
    assert got["u_ims"]["action"] == "revalidate_ims"
    assert got["u_ims"]["validator"] == "1970-01-01 00:00:00"
    assert got["u_full"]["action"] == "full"
    assert got["u_full"]["lifetime_s"] == 0
    assert got["u_full"]["validator"] is None


def test_adaptive_host_delay_clamps_and_exact_mean(spark):
    from go_crawler_spark.operators.politeness import adaptive_host_delay

    rows = (
        [("slow.org", 40_000)] * 3          # 1.5x mean 40000 -> cap
        + [("fast.org", 10)] * 4            # 1.5x mean 10 -> floor
        + [("mid.org", 700), ("mid.org", 900)]  # 1.5x800 = 1200 exact
    )
    df = spark.createDataFrame(rows, "host string, response_ms long")
    got = {
        r["host"]: (r["n_obs"], r["delay_ms"])
        for r in adaptive_host_delay(
            df, min_delay_ms=250, max_delay_ms=30_000
        ).collect()
    }
    assert got == {
        "slow.org": (3, 30_000),
        "fast.org": (4, 250),
        "mid.org": (2, 1200),
    }


def test_adaptive_host_delay_null_only_host_backs_off_fully(spark):
    """A host with only NULL observations has no evidence of its speed:
    n_obs 0 and the full max delay, with no divide-by-zero under ANSI."""
    from go_crawler_spark.operators.politeness import adaptive_host_delay

    df = spark.createDataFrame(
        [("dark.org", None), ("dark.org", None), ("mid.org", 800)],
        "host string, response_ms long",
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        got = {
            r["host"]: (r["n_obs"], r["delay_ms"])
            for r in adaptive_host_delay(
                df, min_delay_ms=250, max_delay_ms=30_000
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == {"dark.org": (0, 30_000), "mid.org": (1, 1200)}
