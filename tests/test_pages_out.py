"""The pages sink (``CrawlResult.pages_out``) reads the page's text and
lang from the corpus, not from the fetched log.

The fetched log holds only crawl state, crawl products and the fetched
capture's warc_ts; pages_out left-joins the corpus capture each page
fetched (the redirect target's, under redirects). These tests recompute
pages_out the way the fetched log used to carry it — text where the fetch
succeeded, lang and warc_ts wherever the fetched URL has a corpus row —
from the corpus and ``res.fetched``, and compare every row and value."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.datagen import default_seeds, generate_pages_df
from go_crawler_spark.plans.crawl import GATE_SKIPS, resume_crawl, run_crawl
from go_crawler_spark.tableio import ParquetTableIO

H = "https://site.example.com"
CORPUS_META = ("text", "lang", "warc_ts")
COMPARED = ("url", "warc_ts", "text", "lang", "status", "kind", "depth", "round")


def _page(links: list[str], body: str) -> bytes:
    a = "".join(f'<a href="{u}">x</a>' for u in links)
    return f"<html><body>{a}<p>{body}</p></body></html>".encode()


# hub links to a direct page, an alias of /real.html (which has a corpus
# row of its own, so the alias must take the TARGET's metadata), an alias
# of an oversized target, a dead link and an asset
REDIRECTS = {f"{H}/alias.html": f"{H}/real.html",
             f"{H}/big.html": f"{H}/bigreal.html"}
DOCS = {
    f"{H}/hub.html": _page(
        [f"{H}/direct.html", f"{H}/alias.html", f"{H}/big.html",
         f"{H}/dead.html"], f'hub<img src="{H}/logo.png">'),
    f"{H}/direct.html": _page([], "direct body"),
    f"{H}/alias.html": _page([], "the alias's own body, never fetched"),
    f"{H}/real.html": _page([f"{H}/leaf.html"], "real body"),
    f"{H}/leaf.html": _page([], "leaf body"),
    f"{H}/bigreal.html": _page([], "x" * 3000),
    f"{H}/logo.png": b"\x89PNG" * 8,
}
MAX_FILE_SIZE = 2000  # below /bigreal.html only


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(u, dt.datetime(2025, 1, 1 + i), b, f"text of {u}", ("en", "de", "fr")[i % 3])
         for i, (u, b) in enumerate(sorted(DOCS.items()))],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(sorted(REDIRECTS.items()),
                                 "src_url string, dst_url string")


def _expected(pages, res, redirects=None) -> list:
    """pages_out as the fetched log used to store it, recomputed: one row
    per capture of the fetched URL (its d fetched rows pair with its d
    captures; all d share one status in these corpora)."""
    captures = defaultdict(list)
    for r in pages.select("url", *CORPUS_META).collect():
        captures[r["url"]].append(r)
    fetched = defaultdict(list)
    for r in res.fetched.filter(~F.col("status").isin(*GATE_SKIPS)).collect():
        fetched[r["url"]].append(r)
    out = []
    for url, rows in fetched.items():
        caps = captures.get((redirects or {}).get(url, url)) or [None] * len(rows)
        assert len(caps) == len(rows) and len({r["status"] for r in rows}) == 1
        for r, m in zip(rows, caps):
            out.append((url, m and m["warc_ts"],
                        m["text"] if m and r["status"] == "ok" else None,
                        m and m["lang"], r["status"], r["kind"], r["depth"], r["round"]))
    return sorted(out, key=repr)


def _actual(res) -> list:
    return sorted((tuple(r) for r in res.pages_out.select(*COMPARED).collect()),
                  key=repr)


def test_fetched_log_holds_no_corpus_metadata(spark, corpus, edges, tmp_path):
    res = run_crawl(spark, corpus, [f"{H}/hub.html"], CrawlConfig(max_count=50),
                    workdir=str(tmp_path), redirects=edges)
    io = ParquetTableIO(spark, res.workdir)
    names = io.list_names("fetched_")
    assert names
    for n in names:
        cols = set(io.read(n).columns)
        assert not cols & {"text", "lang"}, f"{n} copies corpus columns"
        assert {"fetch_url", "warc_ts"} <= cols  # the fetched capture


def test_pages_out_joins_corpus_metadata(spark, corpus, edges, tmp_path):
    """Oversized page, dead link, asset and a redirect alias whose text
    must be its target's."""
    res = run_crawl(spark, corpus, [f"{H}/hub.html"],
                    CrawlConfig(max_count=50, max_file_size=MAX_FILE_SIZE),
                    workdir=str(tmp_path), redirects=edges)
    got = _actual(res)
    assert got == _expected(corpus, res, REDIRECTS)
    by_url = {r[0]: r for r in got}
    assert by_url[f"{H}/alias.html"][2] == f"text of {H}/real.html"
    big = by_url[f"{H}/big.html"]  # oversized: metadata kept, text dropped
    assert big[4] == "skipped_download" and big[2] is None and big[3] is not None
    dead = by_url[f"{H}/dead.html"]
    assert dead[4] == "skipped_download" and dead[1:4] == (None, None, None)
    assert by_url[f"{H}/logo.png"][5] == "asset"


@pytest.fixture(scope="module")
def pages_df(spark):
    df = generate_pages_df(spark, 48, 42)
    df.cache().count()
    return df


CFG = CrawlConfig(max_count=40, host_slots_per_round=2, max_file_size=1100)


@pytest.fixture(scope="module")
def uninterrupted(spark, pages_df):
    return run_crawl(spark, pages_df, default_seeds(), CFG)


def test_pages_out_after_resume(spark, pages_df, uninterrupted, tmp_path):
    wd = str(tmp_path)
    run_crawl(spark, pages_df, default_seeds(), CFG, workdir=wd, max_rounds=2)
    res = resume_crawl(spark, pages_df, CFG, wd)
    assert _actual(res) == _expected(pages_df, res)
    assert any(r[4] == "skipped_download" and r[3] is not None for r in _actual(res))
    assert sorted(map(tuple, res.pages_out.collect()), key=repr) == sorted(
        map(tuple, uninterrupted.pages_out.collect()), key=repr)


def test_each_capture_keeps_its_own_metadata(spark, tmp_path):
    """A URL with two captures fetches two rows; each keeps its own
    capture's warc_ts, text and lang, paired with its own html."""
    hub, page = f"{H}/hub.html", f"{H}/twice.html"
    corpus = spark.createDataFrame(
        [(hub, dt.datetime(2025, 1, 1), _page([page], "hub"), "hub text", "en"),
         (page, dt.datetime(2025, 2, 1), _page([], "first capture"), "first text", "de"),
         (page, dt.datetime(2025, 3, 1), _page([], "second capture"), "second text", "fr")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    res = run_crawl(spark, corpus, [hub], CrawlConfig(max_count=10),
                    workdir=str(tmp_path))
    assert _actual(res) == _expected(corpus, res)
    rows = res.pages_out.filter(F.col("url") == page).collect()
    assert sorted((r["text"], r["lang"], r["warc_ts"].month) for r in rows) == [
        ("first text", "de", 2), ("second text", "fr", 3)]
    for r in rows:
        assert r["text"].split()[0].encode() in bytes(r["html"])


def _to_pre_change_layout(spark, wd: str, pages) -> None:
    """Rewrite ``fetched_0`` the way the log stored it before it stopped
    copying the corpus: text/lang/warc_ts of the fetched capture (the
    target's, under redirects), no fetch_url; drop the manifest's
    recorded schemas."""
    path = os.path.join(wd, "fetched_0")
    log = spark.read.parquet(path)
    key = F.coalesce("fetch_url", "url") if "fetch_url" in log.columns else F.col("url")
    meta = pages.select(F.col("url").alias("_src"), F.col("warc_ts").alias("_ts"),
                        "text", "lang")
    (log.withColumn("_key", key)
     .join(meta, (F.col("_key") == F.col("_src")) & F.col("warc_ts").eqNullSafe(F.col("_ts")),
           "left")
     .withColumn("text", F.when(F.col("status") == "ok", F.col("text")))
     .drop("_key", "_src", "_ts", "fetch_url")
     .write.parquet(path + "_old_layout"))
    shutil.rmtree(path)
    os.rename(path + "_old_layout", path)
    man_path = os.path.join(wd, "MANIFEST.json")
    with open(man_path) as f:
        man = json.load(f)
    del man["schemas"]
    with open(man_path, "w") as f:
        json.dump(man, f)
    cols = set(spark.read.parquet(path).columns)
    assert set(CORPUS_META) <= cols and "fetch_url" not in cols


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def test_resume_of_pre_change_layout(spark, pages_df, uninterrupted, tmp_path):
    """A workdir whose round-0 fetched log still copies the corpus's
    text/lang/warc_ts (and whose manifest records no schemas) resumes to
    the same pages_out: the stored columns are read as they are."""
    wd = str(tmp_path)
    run_crawl(spark, pages_df, default_seeds(), CFG, workdir=wd, max_rounds=1)
    _to_pre_change_layout(spark, wd, pages_df)
    res = resume_crawl(spark, pages_df, CFG, wd)
    assert _rows(res.pages_out) == _rows(uninterrupted.pages_out)


def test_resume_of_pre_change_layout_with_redirects(spark, corpus, edges, tmp_path):
    """The pre-change round 0 fetched an alias (its stored text is the
    target's, and it records no fetch_url): the resumed pages_out keeps
    that row's stored values."""
    seeds = [f"{H}/hub.html", f"{H}/alias.html"]
    cfg = CrawlConfig(max_count=50, max_file_size=MAX_FILE_SIZE)
    whole = run_crawl(spark, corpus, seeds, cfg, workdir=str(tmp_path / "whole"),
                      redirects=edges)
    wd = str(tmp_path / "resumed")
    run_crawl(spark, corpus, seeds, cfg, workdir=wd, max_rounds=1, redirects=edges)
    _to_pre_change_layout(spark, wd, corpus)
    res = resume_crawl(spark, corpus, cfg, wd, redirects=edges)
    got = _rows(res.pages_out)
    assert got == _rows(whole.pages_out)
    alias = [r for r in got if r[0] == f"{H}/alias.html"]
    assert [(r[3], r[9]) for r in alias] == [(f"text of {H}/real.html", 0)]
