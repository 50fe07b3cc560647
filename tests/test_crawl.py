"""Engine vs pure-Python reference simulator (SURVEY §5b).

The Spark crawl must reproduce the simulator's schedule (url, kind, depth,
seq), fetch rounds + statuses, final URL-seen set, and per-round metrics
bit-for-bit under the same seed list / budget / depth limit / politeness
budget / robots rules — the north-rule correctness criterion.
"""

from __future__ import annotations

import pytest

from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.datagen import default_seeds, generate_corpus_dict, generate_pages_df
from go_crawler_spark.plans.crawl import run_crawl
from go_crawler_spark.simulator import simulate

N_PAGES = 48
SEED = 42


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus_dict(N_PAGES, SEED)


@pytest.fixture(scope="module")
def pages_df(spark):
    df = generate_pages_df(spark, N_PAGES, SEED)
    df.cache().count()
    return df


def _engine_tables(spark, pages_df, cfg, robots_rules=None, seeds=None):
    robots_df = None
    if robots_rules:
        if len(robots_rules[0]) == 3:  # RFC 9309 (host, allow, pattern)
            from go_crawler_spark.functions.robots import pattern_to_regex

            robots_df = spark.createDataFrame(
                [
                    (h, "*", a, pat, len(pat), pattern_to_regex(pat))
                    for h, a, pat in robots_rules
                ],
                "host string, agent string, allow boolean, pattern string, "
                "pattern_len int, regex string",
            )
        else:
            robots_df = spark.createDataFrame(
                robots_rules, "host string, disallow_prefix string"
            )
    res = run_crawl(spark, pages_df, seeds or default_seeds(), cfg, robots=robots_df)
    sched = {
        (r["url"], r["kind"], r["depth"], r["seq"])
        for r in res.schedule.collect()
    }
    fetched = {
        (r["url"], r["round"], r["status"]) for r in res.fetched.collect()
    }
    seen = {r["url"] for r in res.seen.collect()}
    metrics = {
        (r["round"], r["pages_crawled"], r["pages_failed"], r["links_discovered"],
         r["assets_found"], r["bytes_downloaded"])
        for r in res.metrics.collect()
    }
    return sched, fetched, seen, metrics, res


def _sim_tables(corpus, cfg, robots_rules=None, seeds=None):
    sim = simulate(corpus, seeds or default_seeds(), cfg, robots=robots_rules)
    sched = {(it.url, it.kind, it.depth, it.seq) for it in sim.schedule}
    fetched = {
        (it.url, it.fetch_round, it.status)
        for it in sim.schedule
        if it.fetch_round >= 0
    }
    metrics = {
        (m["round"], m["pages_crawled"], m["pages_failed"], m["links_discovered"],
         m["assets_found"], m["bytes_downloaded"])
        for m in sim.metrics
    }
    return sched, fetched, sim.seen, metrics


def _assert_match(spark, pages_df, corpus, cfg, robots=None, seeds=None):
    e_sched, e_fetched, e_seen, e_metrics, res = _engine_tables(
        spark, pages_df, cfg, robots, seeds
    )
    s_sched, s_fetched, s_seen, s_metrics = _sim_tables(corpus, cfg, robots, seeds)
    assert e_sched == s_sched
    assert e_fetched == s_fetched
    assert e_seen == s_seen
    assert e_metrics == s_metrics
    return res


def test_basic_bfs(spark, pages_df, corpus):
    # bloom_min_seen_rows=0 pins the FILTER path on this tiny corpus (the
    # adaptive default would leave the filter dormant below 500k seen rows)
    cfg = CrawlConfig(max_count=40, use_bloom=True, bloom_min_seen_rows=0)
    _assert_match(spark, pages_df, corpus, cfg)


def test_basic_bfs_adaptive_filter_dormant(spark, pages_df, corpus):
    # default gate: tiny corpora run the plain anti-join, same results
    cfg = CrawlConfig(max_count=40, use_bloom=True)
    _assert_match(spark, pages_df, corpus, cfg)


def test_filter_activates_mid_crawl(spark, pages_df, corpus):
    # gate crosses after the early rounds: the filter builds from the FULL
    # accumulated log once, absorbs deltas thereafter — results identical
    cfg = CrawlConfig(max_count=40, use_bloom=True, bloom_min_seen_rows=30)
    _assert_match(spark, pages_df, corpus, cfg)


def test_seen_filter_audit_log(spark, pages_df, corpus):
    """CrawlResult.seen_filter is the observable evidence of which dedup
    tier engaged (VERDICT r3 ask #7): with the filter pinned on it reports
    active rounds and a positive pruned count (rows the bloom proved new,
    skipping the exact anti-join); with the adaptive default dormant at
    this scale it reports inactive rounds and zero pruned — while both
    configs produce identical crawls (test_basic_bfs*)."""
    cfg_on = CrawlConfig(max_count=40, use_bloom=True, bloom_min_seen_rows=0)
    res_on = run_crawl(spark, pages_df, default_seeds(), cfg_on)
    assert res_on.seen_filter, "audit log must cover every loop round"
    assert all(e["active"] for e in res_on.seen_filter)
    # every round's new rows are split pruned/joined: 0 <= pruned <= candidates
    assert all(
        e["candidates"] is not None and 0 <= e["pruned"] <= e["candidates"]
        for e in res_on.seen_filter
    )
    # on a fresh filter most genuinely-new URLs are definite-new
    assert sum(e["pruned"] for e in res_on.seen_filter) > 0

    cfg_off = CrawlConfig(max_count=40, use_bloom=True)  # gate stays shut
    res_off = run_crawl(spark, pages_df, default_seeds(), cfg_off)
    assert res_off.seen_filter
    assert all(
        not e["active"] and e["pruned"] == 0 for e in res_off.seen_filter
    )


def test_tight_budget(spark, pages_df, corpus):
    """Q2: refused pages stay seen forever (queue.go:92-106)."""
    cfg = CrawlConfig(max_count=5)
    _assert_match(spark, pages_df, corpus, cfg)


def test_depth_limit(spark, pages_df, corpus):
    cfg = CrawlConfig(max_count=100, max_depth=1)
    _assert_match(spark, pages_df, corpus, cfg)


def test_politeness_slots(spark, pages_df, corpus):
    cfg = CrawlConfig(max_count=40, host_slots_per_round=2)
    _assert_match(spark, pages_df, corpus, cfg)


def test_robots(spark, pages_df, corpus):
    cfg = CrawlConfig(max_count=40)
    rules = [("big.example.com", "/img"), ("alpha.example.org", "/common")]
    _assert_match(spark, pages_df, corpus, cfg, robots=rules)


def test_robots_rfc(spark, pages_df, corpus):
    """RFC 9309 rules table through the crawl loop: wildcard + $-anchor
    blocks, a longer Allow overriding a Disallow, a whole-host block, and
    an untouched host — engine must match the simulator's independent
    segment-scanning matcher exactly."""
    cfg = CrawlConfig(max_count=60)
    rules = [
        ("big.example.com", False, "/p*1.html$"),  # p1, p11, p21, ...
        ("big.example.com", True, "/p11.html"),  # longer allow wins for p11
        ("big.example.com", False, "/img/"),
        ("big.example.com", True, "/img/p2"),  # re-allows p2*.jpg
        ("alpha.example.org", False, "/"),  # whole-host block
    ]
    _assert_match(spark, pages_df, corpus, cfg, robots=rules)


def test_crawl_delay_host_slots(spark, pages_df, corpus):
    """Per-host slot overrides (robots Crawl-delay -> slots/round) through
    the crawl loop: engine == simulator with the same override map."""
    from go_crawler_spark.plans.crawl import run_crawl as _run

    cfg = CrawlConfig(max_count=60, host_slots_per_round=6)
    overrides = {"big.example.com": 2, "alpha.example.org": 1}
    host_slots_df = spark.createDataFrame(
        list(overrides.items()), "host string, host_slots int"
    )
    res = _run(
        spark, pages_df, default_seeds(), cfg, host_slots=host_slots_df
    )
    e_sched = {
        (r["url"], r["kind"], r["depth"], r["seq"])
        for r in res.schedule.collect()
    }
    e_fetched = {
        (r["url"], r["round"], r["status"]) for r in res.fetched.collect()
    }
    sim = simulate(
        corpus, default_seeds(), cfg, host_slot_overrides=overrides
    )
    s_sched = {(it.url, it.kind, it.depth, it.seq) for it in sim.schedule}
    s_fetched = {
        (it.url, it.fetch_round, it.status)
        for it in sim.schedule
        if it.fetch_round >= 0
    }
    assert e_sched == s_sched
    assert e_fetched == s_fetched


def test_size_gate(spark, pages_df, corpus):
    """S3: oversized content → skipped_download, row preserved."""
    cfg = CrawlConfig(max_count=30, max_file_size=900)
    _assert_match(spark, pages_df, corpus, cfg)


def test_no_bloom_same_result(spark, pages_df, corpus):
    cfg = CrawlConfig(max_count=40, use_bloom=False)
    _assert_match(spark, pages_df, corpus, cfg)


def test_text_invariant(spark, pages_df, corpus):
    """input_hint: byte-identical extracted text per url — engine output
    text equals the corpus's golden text for every fetched ok page."""
    from pyspark.sql import functions as F
    from go_crawler_spark.functions.htmlx import extract_text

    cfg = CrawlConfig(max_count=20)
    res = run_crawl(spark, pages_df, default_seeds(), cfg)
    rows = res.pages_out.filter(
        (F.col("kind") == "page") & (F.col("status") == "ok")
    ).collect()
    assert rows
    for r in rows:
        assert r["text"] == extract_text(corpus[r["url"]])


def test_shuffle_fetch_same_result(spark, pages_df, corpus):
    """Size-gated fetch join: forcing the shuffle-hash fallback (as a
    billion-row round would) must not change any result table."""
    cfg = CrawlConfig(max_count=40, broadcast_fetch_max_rows=0)
    _assert_match(spark, pages_df, corpus, cfg)


def test_shuffle_fetch_plan(spark, pages_df):
    """The fallback plan joins shuffle-hash with NO broadcast of the
    frontier side (operators/fetch.py)."""
    import io
    from contextlib import redirect_stdout

    from go_crawler_spark.operators.fetch import fetch_hits

    frontier = pages_df.select("url").limit(10)
    buf = io.StringIO()
    with redirect_stdout(buf):
        fetch_hits(frontier, pages_df, broadcast_frontier=False).explain("formatted")
    plan = buf.getvalue()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastExchange" not in plan


def test_large_enqueue_path(spark, pages_df, corpus, monkeypatch):
    """Drive the distributed budget+seq path (_enqueue_large →
    assign_seq_admit_budget_bucketed) through the full simulator
    equivalence: production-scale rounds take this path, but the
    switchover needs a round's child count (observed on its fetched
    write) above SMALL_INPUT_ROWS, which a 48-page corpus never reaches —
    force it: a threshold of 0 sends every round with children there."""
    monkeypatch.setattr("go_crawler_spark.plans.crawl.SMALL_INPUT_ROWS", 0)
    cfg = CrawlConfig(max_count=40)
    _assert_match(spark, pages_df, corpus, cfg)


def test_large_enqueue_tight_budget(spark, pages_df, corpus, monkeypatch):
    """Large path under a budget cutoff mid-round: the bucketed verdict
    must refuse exactly the same pages as the sequential model."""
    monkeypatch.setattr("go_crawler_spark.plans.crawl.SMALL_INPUT_ROWS", 0)
    cfg = CrawlConfig(max_count=13)
    _assert_match(spark, pages_df, corpus, cfg)


def test_all_features_combined(spark, pages_df, corpus):
    """Politeness + robots + depth limit + tight budget + an active bloom
    seen filter, all at once — the full north-rule configuration against
    the simulator."""
    cfg = CrawlConfig(
        max_count=25,
        max_depth=2,
        host_slots_per_round=2,
        bloom_min_seen_rows=0,
    )
    rules = [("big.example.com", "/p8"), ("alpha.example.org", "/p4.html")]
    res = _assert_match(spark, pages_df, corpus, cfg, robots=rules)
    assert res.seen_filter and all(e["active"] for e in res.seen_filter)
