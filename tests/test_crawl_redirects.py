"""In-crawl redirect resolution (run_crawl(redirects=...)): aliases fetch
the final target's content under their own URL identity, budget-stopped
chains are blocked as skipped_redirect, and the default (no redirects)
path is untouched."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.plans.crawl import run_crawl

H = "https://site.example.com"
EPOCH = dt.datetime(2025, 1, 1)


def _page(links: list[str], body: str) -> bytes:
    a = "".join(f'<a href="{u}">x</a>' for u in links)
    return f"<html><body>{a}<p>{body}</p></body></html>".encode()


@pytest.fixture(scope="module")
def corpus(spark):
    # hub links to: a direct page, an ALIAS (redirects to /real.html, which
    # is also in the corpus under its final URL), a 2-cycle loop URL, and a
    # chain that exceeds the 10-request budget
    rows = {
        f"{H}/hub.html": _page(
            [f"{H}/direct.html", f"{H}/alias.html", f"{H}/loop0.html",
             f"{H}/long0.html"],
            "hub",
        ),
        f"{H}/direct.html": _page([], "direct body"),
        # content exists ONLY under the final URL — the alias must still
        # come back with this body
        f"{H}/real.html": _page([f"{H}/leaf.html"], "real body"),
        f"{H}/leaf.html": _page([], "leaf body"),
        f"{H}/long10.html": _page([], "far body"),
    }
    return spark.createDataFrame(
        [(u, EPOCH, b, "", "en") for u, b in sorted(rows.items())],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


@pytest.fixture(scope="module")
def redirect_edges(spark):
    edges = [(f"{H}/alias.html", f"{H}/real.html"),
             (f"{H}/loop0.html", f"{H}/loop1.html"),
             (f"{H}/loop1.html", f"{H}/loop0.html")]
    edges += [(f"{H}/long{i}.html", f"{H}/long{i + 1}.html")
              for i in range(10)]  # 10 hops > 9-redirect budget
    return spark.createDataFrame(edges, "src_url string, dst_url string")


@pytest.fixture(scope="module")
def result(spark, corpus, redirect_edges, tmp_path_factory):
    cfg = CrawlConfig(max_count=50)
    return run_crawl(
        spark, corpus, [f"{H}/hub.html"], cfg,
        workdir=str(tmp_path_factory.mktemp("crawl_redirects")),
        redirects=redirect_edges,
    )


def test_alias_fetches_final_content(result):
    pages = {r["url"]: r for r in result.pages_out.collect()}
    alias = pages[f"{H}/alias.html"]
    # identity stays the alias; content is the final target's
    assert alias["status"] == "ok"
    assert b"real body" in bytes(alias["html"])
    # children extracted from the final content were enqueued and fetched
    assert pages[f"{H}/leaf.html"]["status"] == "ok"


def test_loop_and_long_chain_blocked(result, spark):
    # blocked rows surface in the fetched log with the skip status (same
    # convention as skipped_robots / skipped_trap) and never carry content
    status = {r["url"]: r["status"] for r in result.fetched.collect()}
    assert status[f"{H}/loop0.html"] == "skipped_redirect"
    assert status[f"{H}/long0.html"] == "skipped_redirect"
    pages = {r["url"] for r in result.pages_out.collect()}
    assert f"{H}/loop0.html" not in pages
    assert f"{H}/long0.html" not in pages
    # and the URLs stay seen (never re-enqueued)
    seen = {r["url"] for r in result.seen.collect()}
    assert f"{H}/loop0.html" in seen and f"{H}/long0.html" in seen


def test_blocked_log_status(result, spark):
    """Gate-skipped rows land in the round's fetched_<r> checkpoint with
    their skip status, size 0 and no content."""
    from go_crawler_spark.tableio import ParquetTableIO

    io = ParquetTableIO(spark, result.workdir)
    names = io.list_names("fetched_")
    assert names
    log = io.read(*names).filter(F.col("status").startswith("skipped_r"))
    blocked = {(r["url"], r["status"]) for r in log.collect()}
    assert (f"{H}/loop0.html", "skipped_redirect") in blocked
    assert (f"{H}/long0.html", "skipped_redirect") in blocked
    assert log.filter((F.col("size") != 0) | F.col("html").isNotNull()).count() == 0


def test_direct_page_unaffected(result):
    pages = {r["url"]: r for r in result.pages_out.collect()}
    assert pages[f"{H}/direct.html"]["status"] == "ok"
    assert b"direct body" in bytes(pages[f"{H}/direct.html"]["html"])


def test_no_redirects_default_identical(spark, corpus, tmp_path_factory):
    """redirects=None must leave the plan and results exactly as before."""
    cfg = CrawlConfig(max_count=50)
    res = run_crawl(
        spark, corpus, [f"{H}/hub.html"], cfg,
        workdir=str(tmp_path_factory.mktemp("crawl_plain")),
    )
    rows = {r["url"]: r["status"] for r in res.fetched.collect()}
    # without resolution the alias/loop/long URLs are plain dead fetches
    assert rows[f"{H}/alias.html"] == "skipped_download"
    assert rows[f"{H}/loop0.html"] == "skipped_download"
    assert rows[f"{H}/direct.html"] == "ok"


def test_deferred_alias_keeps_alias_host(spark, tmp_path_factory):
    """A politeness-DEFERRED alias must re-enter the next round with its
    ALIAS host, not the redirect target's: the pre-redirect robots gate
    pairs a URL's path with its `host` column, and a carried-over target
    host wrongly matches the target's rules against the alias's path
    (only triggers with redirects + robots + host slots together).

    a.example.com/alias.html -> b.example.com/y.html, with b.example.com
    disallowing /alias (the ALIAS's path — allowed on a.example.com, and
    the target path /y.html is allowed on b). Both hub children live on
    the alias host (the parser's same-host filter would drop cross-host
    links), but BOTH redirect to b — so one slot per TARGET host forces
    the alias behind first.html for a round; on re-entry it must still
    fetch."""
    A, B = "https://a.example.com", "https://b.example.com"
    rows = {
        f"{A}/hub.html": _page(
            [f"{A}/first.html", f"{A}/alias.html"], "hub"),
        f"{B}/z.html": _page([], "z body"),
        f"{B}/y.html": _page([], "y body"),
    }
    corpus = spark.createDataFrame(
        [(u, EPOCH, b, "", "en") for u, b in sorted(rows.items())],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    edges = spark.createDataFrame(
        [(f"{A}/first.html", f"{B}/z.html"),
         (f"{A}/alias.html", f"{B}/y.html")],
        "src_url string, dst_url string",
    )
    robots = spark.createDataFrame(
        [("b.example.com", "/alias")], "host string, disallow_prefix string"
    )
    cfg = CrawlConfig(max_count=50, host_slots_per_round=1)
    res = run_crawl(
        spark, corpus, [f"{A}/hub.html"], cfg,
        workdir=str(tmp_path_factory.mktemp("crawl_deferred_alias")),
        redirects=edges, robots=robots,
    )
    status = {r["url"]: r["status"] for r in res.fetched.collect()}
    # both aliases fetch; the second is merely delayed, never blocked
    assert status[f"{A}/first.html"] == "ok"
    assert status[f"{A}/alias.html"] == "ok"
    assert "skipped_robots" not in status.values()
    pages = {r["url"]: r for r in res.pages_out.collect()}
    assert b"y body" in bytes(pages[f"{A}/alias.html"]["html"])
    # and the split really deferred the alias one round behind first.html
    rounds = {r["url"]: r["round"] for r in res.fetched.collect()}
    assert rounds[f"{A}/alias.html"] == rounds[f"{A}/first.html"] + 1


def test_robots_applies_to_redirect_target(spark, corpus, redirect_edges,
                                           tmp_path_factory):
    """robots is per-REQUEST: an allowed alias redirecting into a
    disallowed path must be blocked (and an allowed target still fetches
    through an allowed alias)."""
    robots = spark.createDataFrame(
        [("site.example.com", "/real")], "host string, disallow_prefix string"
    )
    cfg = CrawlConfig(max_count=50)
    res = run_crawl(
        spark, corpus, [f"{H}/hub.html"], cfg,
        workdir=str(tmp_path_factory.mktemp("crawl_redirects_robots")),
        redirects=redirect_edges, robots=robots,
    )
    status = {r["url"]: r["status"] for r in res.fetched.collect()}
    # /alias.html itself is allowed, but it resolves to /real.html which
    # robots disallows — blocked at the target
    assert status[f"{H}/alias.html"] == "skipped_robots"
    # unredirected allowed pages are untouched by the second check
    assert status[f"{H}/direct.html"] == "ok"
    # /real.html's child never gets discovered (the alias never fetched)
    assert f"{H}/leaf.html" not in status


def test_robots_blocks_intermediate_hop(spark, tmp_path_factory):
    """robots is per-REQUEST on EVERY hop of a chain: a chain hopping
    THROUGH a disallowed URL is aborted before that request even when the
    alias and the final target are both allowed — previously only the
    endpoints were checked (documented approximation, now implemented via
    blocked_hop_targets baked into the one-time redirect mapping). A
    sibling chain through an allowed intermediate still fetches."""
    rows = {
        f"{H}/hub2.html": _page(
            [f"{H}/via-bad.html", f"{H}/via-ok.html"], "hub2"),
        f"{H}/end-bad.html": _page([], "unreachable body"),
        f"{H}/end-ok.html": _page([], "reached body"),
    }
    corpus = spark.createDataFrame(
        [(u, EPOCH, b, "", "en") for u, b in sorted(rows.items())],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    edges = spark.createDataFrame(
        [(f"{H}/via-bad.html", f"{H}/mid-bad.html"),
         (f"{H}/mid-bad.html", f"{H}/end-bad.html"),
         (f"{H}/via-ok.html", f"{H}/mid-ok.html"),
         (f"{H}/mid-ok.html", f"{H}/end-ok.html")],
        "src_url string, dst_url string",
    )
    # /mid-bad is disallowed; both chain ENDPOINTS are allowed everywhere
    robots = spark.createDataFrame(
        [("site.example.com", "/mid-bad")],
        "host string, disallow_prefix string",
    )
    res = run_crawl(
        spark, corpus, [f"{H}/hub2.html"], CrawlConfig(max_count=50),
        workdir=str(tmp_path_factory.mktemp("crawl_redirects_hop")),
        redirects=edges, robots=robots,
    )
    status = {r["url"]: r["status"] for r in res.fetched.collect()}
    assert status[f"{H}/via-bad.html"] == "skipped_robots"
    assert status[f"{H}/via-ok.html"] == "ok"
    pages = {r["url"]: bytes(r["html"]) for r in res.pages_out.collect()}
    assert b"reached body" in pages[f"{H}/via-ok.html"]
    assert f"{H}/via-bad.html" not in pages


# ---------------------------------------------------------------------------
# engine vs simulator parity under redirects (+ robots + politeness)
# ---------------------------------------------------------------------------


def _redirect_universe():
    """A deterministic multi-host universe exercising every in-loop
    redirect interaction at once: aliases into same-host and cross-host
    chains, a budget-busting chain, a cycle, a robots-disallowed
    INTERMEDIATE hop, a robots-disallowed FINAL target, aliases to
    missing content (skipped_download), and per-host politeness pressure
    so deferred aliases roll across rounds."""
    hosts = [f"https://h{k}.example.org" for k in range(3)]
    n = 6  # pages per host
    corpus: dict[str, bytes] = {}
    edges: list[tuple[str, str]] = []

    def p(k, i):
        return f"{hosts[k]}/p{i}.html"

    def a(k, i):
        return f"{hosts[k]}/alias{i}.html"

    for k in range(3):
        for i in range(n):
            links = [p(k, (i + 1) % n), p((k + 1) % 3, i)]
            links.append(a(k, i))  # every page links one alias
            corpus[p(k, i)] = _page(links, f"body h{k} p{i}")
    # alias shapes, one per (host, index):
    for k in range(3):
        # i=0: one hop, same host
        edges.append((a(k, 0), p(k, 3)))
        # i=1: two hops crossing hosts via a /mid URL (robots-blockable)
        edges.append((a(k, 1), f"{hosts[(k + 1) % 3]}/mid{k}.html"))
        edges.append((f"{hosts[(k + 1) % 3]}/mid{k}.html", p((k + 2) % 3, 4)))
        # i=2: final target is /p5 (robots-blockable on h1)
        edges.append((a(k, 2), p(1, 5)))
        # i=3: chain that exceeds the 10-request budget
        edges.append((a(k, 3), f"{hosts[k]}/long0.html"))
        edges.extend(
            (f"{hosts[k]}/long{j}.html", f"{hosts[k]}/long{j + 1}.html")
            for j in range(10)
        )
        # i=4: 2-cycle
        edges.append((a(k, 4), f"{hosts[k]}/cycA.html"))
        edges.append((f"{hosts[k]}/cycA.html", a(k, 4)))
        # i=5: resolves to content that is NOT in the corpus
        edges.append((a(k, 5), f"{hosts[k]}/missing.html"))
    # one seed per host: the parser's same-host filter (P5) drops the
    # cross-host <a> links, so unseeded hosts are unreachable by links
    # (cross-host REDIRECTS still resolve - the fetch follows edges)
    seeds = [p(0, 0), p(1, 0), p(2, 0)]
    robots = [("h1.example.org", "/mid"), ("h1.example.org", "/p5")]
    return corpus, edges, seeds, robots


@pytest.mark.parametrize("variant", ["plain", "slots", "fullstack"])
def test_engine_matches_simulator_with_redirects(spark, tmp_path_factory,
                                                 variant):
    """fullstack = the whole gate chain at once: forced-active seen
    filter + an external spider-trap template (blocks every h2 alias
    BEFORE redirect resolution) + robots (alias, per-hop, and target) +
    politeness pressure."""
    from go_crawler_spark.datagen import EPOCH as EPOCH_TS
    from go_crawler_spark.simulator import simulate

    corpus, edges, seeds, robots = _redirect_universe()
    pages_df = spark.createDataFrame(
        [(u, EPOCH_TS, b, "", "en") for u, b in sorted(corpus.items())],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    edges_df = spark.createDataFrame(edges, "src_url string, dst_url string")
    robots_df = spark.createDataFrame(
        robots, "host string, disallow_prefix string")
    slots = 0 if variant == "plain" else 2
    cfg = CrawlConfig(
        max_count=40, host_slots_per_round=slots,
        use_bloom=(variant == "fullstack"),
        bloom_min_seen_rows=0 if variant == "fullstack" else 500_000,
    )
    traps = ["h2.example.org/alias<d>.html"] if variant == "fullstack" else None
    traps_df = (
        spark.createDataFrame([(t,) for t in traps], "template string")
        if traps else None
    )
    res = run_crawl(
        spark, pages_df, seeds, cfg,
        workdir=str(tmp_path_factory.mktemp(f"crawl_rsim_{variant}")),
        redirects=edges_df, robots=robots_df, trap_templates=traps_df,
    )
    sim = simulate(corpus, seeds, cfg, robots=robots, redirects=edges,
                   trap_templates=traps)

    e_sched = {(r["url"], r["kind"], r["depth"], r["seq"])
               for r in res.schedule.collect()}
    s_sched = {(it.url, it.kind, it.depth, it.seq) for it in sim.schedule}
    assert e_sched == s_sched
    e_fetched = {(r["url"], r["round"], r["status"], r["size"])
                 for r in res.fetched.collect()}
    s_fetched = {(it.url, it.fetch_round, it.status, it.size)
                 for it in sim.schedule if it.fetch_round >= 0}
    assert e_fetched == s_fetched
    assert {r["url"] for r in res.seen.collect()} == sim.seen
    e_metrics = {
        (r["round"], r["pages_crawled"], r["pages_failed"],
         r["links_discovered"], r["assets_found"], r["bytes_downloaded"])
        for r in res.metrics.collect()
    }
    s_metrics = {
        (m["round"], m["pages_crawled"], m["pages_failed"],
         m["links_discovered"], m["assets_found"], m["bytes_downloaded"])
        for m in sim.metrics
    }
    assert e_metrics == s_metrics
    # the universe actually exercised each shape
    statuses = {r["url"]: r["status"] for r in res.fetched.collect()}
    assert any(v == "skipped_redirect" for v in statuses.values())
    assert any(v == "skipped_robots" for v in statuses.values())
    assert any(v == "skipped_download" for v in statuses.values())
    if variant == "fullstack":
        assert any(v == "skipped_trap" for v in statuses.values())
