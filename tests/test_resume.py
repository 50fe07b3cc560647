"""Checkpoint/resume (C6 [EXTENSION]): a crawl interrupted after any round
resumes from the workdir and produces results identical to an
uninterrupted run — including after a torn write from a mid-round crash."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.datagen import default_seeds, generate_corpus_dict, generate_pages_df
from go_crawler_spark.plans.crawl import resume_crawl, run_crawl

N_PAGES = 48


@pytest.fixture(scope="module")
def pages_df(spark):
    df = generate_pages_df(spark, N_PAGES, 42)
    df.cache().count()
    return df


def _tables(res):
    sched = {(r["url"], r["kind"], r["depth"], r["seq"]) for r in res.schedule.collect()}
    fetched = {(r["url"], r["round"], r["status"]) for r in res.fetched.collect()}
    seen = {r["url"] for r in res.seen.collect()}
    metrics = {tuple(r) for r in res.metrics.collect()}
    return sched, fetched, seen, metrics


def test_resume_equals_uninterrupted(spark, pages_df):
    cfg = CrawlConfig(max_count=40, host_slots_per_round=3)

    full = run_crawl(spark, pages_df, default_seeds(), cfg)

    wd = tempfile.mkdtemp(prefix="resume_")
    partial = run_crawl(spark, pages_df, default_seeds(), cfg, workdir=wd, max_rounds=2)
    assert partial.rounds == 2

    resumed = resume_crawl(spark, pages_df, cfg, wd)
    assert resumed.rounds >= full.rounds
    assert _tables(resumed) == _tables(full)


def test_resume_cleans_torn_round(spark, pages_df):
    """A crash can leave a fetched_{r} for a round whose enqueue never
    landed; resume must discard it or those pages' children are lost."""
    cfg = CrawlConfig(max_count=40)

    full = run_crawl(spark, pages_df, default_seeds(), cfg)

    wd = tempfile.mkdtemp(prefix="resume_torn_")
    run_crawl(spark, pages_df, default_seeds(), cfg, workdir=wd, max_rounds=2)
    # simulate the torn round-2 fetch: copy round 1's fetched as round 2's
    shutil.copytree(os.path.join(wd, "fetched_1"), os.path.join(wd, "fetched_2"))

    resumed = resume_crawl(spark, pages_df, cfg, wd)
    assert _tables(resumed) == _tables(full)


def test_compact_then_resume_equals_uninterrupted(spark, pages_df):
    """Merging the per-round enqueue deltas into one bucketed table is
    row-identical: resume after compaction reproduces the uninterrupted
    crawl, including from a torn (crashed mid-round) checkpoint."""
    from go_crawler_spark.plans.crawl import compact_enqueue_log
    from go_crawler_spark.tableio import ParquetTableIO

    cfg = CrawlConfig(max_count=40, host_slots_per_round=3)
    full = run_crawl(spark, pages_df, default_seeds(), cfg)

    wd = tempfile.mkdtemp(prefix="compact_")
    run_crawl(spark, pages_df, default_seeds(), cfg, workdir=wd, max_rounds=2)
    # simulate a torn round: a fetched_ log for a round whose enqueue
    # never landed — compaction must discard it like resume does
    shutil.copytree(os.path.join(wd, "fetched_1"), os.path.join(wd, "fetched_2"))

    merged_away = compact_enqueue_log(spark, wd, cfg)
    assert merged_away >= 1
    io = ParquetTableIO(spark, wd)
    assert io.list_names("enqueue_") == ["enqueue_0"]
    assert "fetched_2" not in io.list_names("fetched_")

    resumed = resume_crawl(spark, pages_df, cfg, wd)
    assert _tables(resumed) == _tables(full)

    # second compaction over the resumed rounds is a plain no-fail merge
    compact_enqueue_log(spark, wd, cfg)
    assert io.list_names("enqueue_") == ["enqueue_0"]


# ---------------------------------------------------------------------------
# gated rounds: host slots + robots + redirects write one gate_<r> verdict
# table per round; a crash at any point of a round resumes exactly
# ---------------------------------------------------------------------------

B = "https://big.example.com"


@pytest.fixture(scope="module")
def gated(spark, pages_df):
    """A crawl that defers (2 slots a host), blocks by robots (on the
    alias and on a redirect target), resolves an alias (the dead seed
    redirects to a live page on another host) and stops a redirect loop."""
    robots = spark.createDataFrame(
        [(B[8:], "/p8"), ("alpha.example.org", "/p4.html")],
        "host string, disallow_prefix string",
    )
    redirects = spark.createDataFrame(
        [(f"{B}/deadseed.html", "https://beta.example.org/p13.html"),
         (f"{B}/p16.html", f"{B}/dead0.html"),
         (f"{B}/dead0.html", f"{B}/p16.html"),
         (f"{B}/p24.html", f"{B}/p8.html")],
        "src_url string, dst_url string",
    )
    cfg = CrawlConfig(max_count=40, host_slots_per_round=2)
    kw = dict(robots=robots, redirects=redirects)
    full = run_crawl(spark, pages_df, default_seeds(), cfg, **kw)
    return cfg, kw, full


def test_gated_crawl_exercises_every_verdict(gated):
    _, _, full = gated
    status = {r["url"]: r["status"] for r in full.fetched.collect()}
    assert status[f"{B}/deadseed.html"] == "ok"
    assert status[f"{B}/p16.html"] == "skipped_redirect"
    assert status[f"{B}/p24.html"] == "skipped_robots"
    assert status["https://alpha.example.org/p4.html"] == "skipped_robots"
    deferred = full.fetched.join(full.schedule, ["url", "seq"]).filter(
        "round > enqueue_round").count()
    assert deferred > 0
    # skipped rows are in the fetched log, not in the pages sink
    pages = {r["url"] for r in full.pages_out.collect()}
    assert f"{B}/p16.html" not in pages and f"{B}/deadseed.html" in pages


def test_gated_checkpoint_layout(spark, pages_df, gated):
    """One gate table at rest (the last round's: the next frontier reads
    it), no frontier table and no separate blocked log; the manifest
    carries the seen-row count and the frontier size."""
    from go_crawler_spark.tableio import ParquetTableIO

    cfg, kw, _ = gated
    wd = tempfile.mkdtemp(prefix="gate_layout_")
    run_crawl(spark, pages_df, default_seeds(), cfg, workdir=wd,
              max_rounds=3, **kw)
    io = ParquetTableIO(spark, wd)
    names = io.list_names()
    assert io.list_names("gate_") == ["gate_2"]
    assert "frontier" not in names and not io.list_names("blocked_")
    man = io.get_manifest()
    assert man["seen_rows"] == io.read(*io.list_names("enqueue_")).count()
    assert man["n_frontier"] > 0


@pytest.mark.parametrize("method,table", [
    ("write", "gate_1"),      # crash right after the gate write
    ("write", "fetched_1"),   # crash right after J1
    ("delete", "gate_1"),     # crash between manifest 2 and the delete
])
def test_crash_mid_gated_round_resumes_exactly(
        spark, pages_df, gated, monkeypatch, method, table):
    from go_crawler_spark import tableio

    cfg, kw, full = gated
    orig = getattr(tableio.ParquetTableIO, method)

    def crashing(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if args[1 if method == "write" else 0] == table:
            raise RuntimeError(f"crash after {method} {table}")
        return out

    wd = tempfile.mkdtemp(prefix="gate_crash_")
    with monkeypatch.context() as m:
        m.setattr(tableio.ParquetTableIO, method, crashing)
        with pytest.raises(RuntimeError, match="crash after"):
            run_crawl(spark, pages_df, default_seeds(), cfg, workdir=wd, **kw)
    resumed = resume_crawl(spark, pages_df, cfg, wd, **kw)
    assert _tables(resumed) == _tables(full)
    if method == "delete":
        # the stale gate was dropped before the resumed rounds ran
        assert "gate_1" not in os.listdir(wd)


def test_older_checkpoint_layout_does_not_resume(spark, pages_df):
    import json

    wd = tempfile.mkdtemp(prefix="old_layout_")
    with open(os.path.join(wd, "MANIFEST.json"), "w") as f:
        json.dump({"round": 0, "seq_next": 5, "pages_enqueued": 5}, f)
    with pytest.raises(ValueError, match="older layout"):
        resume_crawl(spark, pages_df, CrawlConfig(max_count=40), wd)
