"""The large-round code paths (bucketed budget + seq scheduler,
range-partitioned two-pass seq assignment) are never triggered at test
scale by the SMALL_INPUT_ROWS heuristic — force them and require identical
results to the simulator / small path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import go_crawler_spark.operators.sequence as seqmod
import go_crawler_spark.plans.crawl as crawlmod
from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.datagen import default_seeds, generate_corpus_dict, generate_pages_df
from go_crawler_spark.operators.sequence import assign_global_seq
from go_crawler_spark.plans.crawl import run_crawl
from go_crawler_spark.simulator import simulate

N_PAGES = 48


@pytest.fixture(scope="module")
def pages_df(spark):
    df = generate_pages_df(spark, N_PAGES, 42)
    df.cache().count()
    return df


def test_crawl_large_path_matches_simulator(spark, pages_df, monkeypatch):
    monkeypatch.setattr(crawlmod, "SMALL_INPUT_ROWS", -1)  # force _enqueue_large
    cfg = CrawlConfig(max_count=40)
    res = run_crawl(spark, pages_df, default_seeds(), cfg)
    sim = simulate(generate_corpus_dict(N_PAGES, 42), default_seeds(), cfg)

    e_sched = {(r["url"], r["kind"], r["depth"], r["seq"]) for r in res.schedule.collect()}
    s_sched = {(it.url, it.kind, it.depth, it.seq) for it in sim.schedule}
    assert e_sched == s_sched
    assert {r["url"] for r in res.seen.collect()} == sim.seen


def test_seq_large_path(spark, monkeypatch):
    monkeypatch.setattr(seqmod, "SMALL_INPUT_ROWS", -1)  # force range-partition path
    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 5000).alias("key")
    )
    out = assign_global_seq(df, ["key"], start=100, num_partitions=8)
    rows = sorted((r["key"], r["seq"]) for r in out.collect())
    assert [s for _, s in rows] == list(range(100, 5100))
    assert [k for k, _ in rows] == sorted(set(range(0, 5000)))


def test_seq_small_path(spark):
    df = spark.range(0, 500).select((499 - F.col("id")).alias("key"))
    out = assign_global_seq(df, ["key"], start=0)
    rows = sorted((r["key"], r["seq"]) for r in out.collect())
    assert [s for _, s in rows] == list(range(500))


def test_assign_seq_admit_budget_edges(spark):
    from go_crawler_spark.operators.sequence import (
        assign_seq_admit_budget_bucketed,
        release_pending_caches,
    )

    # interleaved pages/assets in a scrambled input order; canonical order = key
    rows = [(f"u{k}", "page" if k % 3 != 0 else "asset", k) for k in range(200)]
    df = spark.createDataFrame(rows, "url string, kind string, key int").repartition(7)
    # order-aligned: every key of bucket b precedes every key of bucket b+1
    bucket = F.floor(F.col("key") / 40)

    out = assign_seq_admit_budget_bucketed(
        df, ["key"], bucket, page_budget=50, seq_start=10, num_partitions=5
    ).collect()
    by_key = {r["key"]: r for r in out}
    budget = 50
    seq = 10
    for k in range(200):
        r = by_key[k]
        if r["kind"] == "page" and budget <= 0:
            assert not r["admitted"] and r["seq"] is None, k
        else:
            assert r["admitted"] and r["seq"] == seq, k
            seq += 1
            if r["kind"] == "page":
                budget -= 1

    # budget 0: every page refused, every asset admitted with contiguous seq
    out0 = assign_seq_admit_budget_bucketed(
        df, ["key"], bucket, page_budget=0, seq_start=0, num_partitions=3
    ).collect()
    release_pending_caches()
    assets = sorted((r["key"], r["seq"]) for r in out0 if r["kind"] == "asset")
    assert [s for _, s in assets] == list(range(len(assets)))
    assert all(r["seq"] is None and not r["admitted"] for r in out0 if r["kind"] == "page")


def test_absorb_filter_tree_merge(spark):
    """Tree-merged filter build (builders → combiners → driver) over an
    input with partitions ≫ fan_in must produce bit-identical filter state
    to a sequential single-process build over the same hashes."""
    import numpy as np
    from pyspark.sql import functions as F

    from go_crawler_spark.operators.dedup import BloomFilter
    from go_crawler_spark.plans.crawl import _absorb_filter

    enq = (
        spark.range(0, 20_000)
        .select(F.concat(F.lit("https://t.example.com/p"), F.col("id")).alias("url"))
        .repartition(64)  # 64 builders ≫ 16 combiners
    )
    tree = _absorb_filter(enq, BloomFilter(1 << 16, 5), fan_in=16)

    hashes = enq.select(
        F.xxhash64("url").alias("h1"),
        F.xxhash64("url", F.lit(0x9E3779B9)).alias("h2"),
    ).collect()
    seq = BloomFilter(1 << 16, 5)
    seq.add_many(
        np.array([r["h1"] for r in hashes], dtype=np.int64),
        np.array([r["h2"] for r in hashes], dtype=np.int64),
    )
    assert np.array_equal(tree.bits, seq.bits)

    # absorbing an empty delta leaves the filter unchanged
    empty = enq.filter(F.lit(False))
    assert np.array_equal(_absorb_filter(empty, tree).bits, tree.bits)


def test_seeds_enqueue_df_dedup_and_budget(spark):
    """Distributed seed frontier: duplicates collapse, budget admits in the
    canonical (xxhash64(url), url) order, refused seeds stay seen."""
    from pyspark.sql import functions as F

    from go_crawler_spark.config import CrawlConfig
    from go_crawler_spark.plans.crawl import seeds_enqueue_df

    urls = [f"https://h{i % 5}.example.com/p{i}.html" for i in range(200)]
    seeds = spark.createDataFrame(
        [(u,) for u in urls + urls[:50]], "url string"  # 50 dups
    )
    cfg = CrawlConfig(max_count=120)
    out = seeds_enqueue_df(seeds, cfg).collect()
    assert len(out) == 200  # deduped, refused kept
    admitted = [r for r in out if r["admitted"]]
    refused = [r for r in out if not r["admitted"]]
    assert len(admitted) == 120 and len(refused) == 80
    assert all(r["seq"] is None for r in refused)
    # canonical order: sorted by (xxhash64(url), url) — first 120 admitted
    hashed = spark.createDataFrame([(u,) for u in set(urls)], "url string") \
        .select("url", F.xxhash64("url").alias("h")).collect()
    order = [r["url"] for r in sorted(hashed, key=lambda r: (r["h"], r["url"]))]
    assert {r["url"] for r in admitted} == set(order[:120])
    seqs = sorted(r["seq"] for r in admitted)
    assert seqs == list(range(120))
    by_url = {r["url"]: r["seq"] for r in admitted}
    assert [by_url[u] for u in order[:120]] == list(range(120))


def test_seeds_unique_flag_same_result(spark):
    """cfg.seeds_unique=True (skip the seed distinct) must produce the
    identical enqueue when the seed table really is unique."""
    from go_crawler_spark.config import CrawlConfig
    from go_crawler_spark.plans.crawl import seeds_enqueue_df

    urls = [f"https://h{i % 5}.example.com/p{i}.html" for i in range(200)]
    seeds = spark.createDataFrame([(u,) for u in urls], "url string")
    base = {
        (r["url"], r["seq"], r["admitted"])
        for r in seeds_enqueue_df(seeds, CrawlConfig(max_count=120)).collect()
    }
    fast = {
        (r["url"], r["seq"], r["admitted"])
        for r in seeds_enqueue_df(
            seeds, CrawlConfig(max_count=120, seeds_unique=True)
        ).collect()
    }
    assert base == fast


def test_priority_schedule_equals_naive_topk(spark):
    """priority_schedule == ORDER BY + LIMIT + row_number on a skewed
    frontier, without a single-task ordered merge."""
    from pyspark.sql import functions as F

    from go_crawler_spark.operators.sequence import (
        priority_schedule,
        release_pending_caches,
    )

    df = spark.range(5000).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        # heavy ties: only 5 distinct priorities
        (F.col("id") % 5).alias("priority"),
        F.col("id").alias("tie"),
    )
    got = {
        r["url"]: (r["priority"], r["seq"])
        for r in priority_schedule(df, ["priority", "tie"], k=137).collect()
    }
    release_pending_caches()
    want_rows = (
        df.orderBy("priority", "tie").limit(137).collect()
    )
    assert len(got) == 137
    for i, r in enumerate(want_rows):
        assert got[r["url"]] == (r["priority"], i)


def test_crawl_large_path_bloom_active_empty_final_round(
    spark, pages_df, monkeypatch
):
    """Regression: with the seen filter active and the distributed enqueue
    path, the crawl's LAST round has a runtime-empty new-URL set; AQE's
    empty-relation propagation then eliminates the mid-plan CollectMetrics
    node the seen-filter audit observes, and the observation completes
    with a schemaless empty row. PySpark's Observation.get dies on that
    row inside PythonSQLUtils.toPyRow (GenericRowWithSchema assertion) —
    _filter_obs_counts must map it to (0, 0) instead. This is exactly the
    bench crawl_flagship_bloom configuration (bloom_min_seen_rows=0)."""
    monkeypatch.setattr(crawlmod, "SMALL_INPUT_ROWS", -1)  # force _enqueue_large
    cfg = CrawlConfig(max_count=40, use_bloom=True, bloom_min_seen_rows=0)
    res = run_crawl(spark, pages_df, default_seeds(), cfg)

    # behavior identical to the simulator regardless of the filter tier
    sim = simulate(generate_corpus_dict(N_PAGES, 42), default_seeds(), cfg)
    e_sched = {(r["url"], r["kind"], r["depth"], r["seq"]) for r in res.schedule.collect()}
    s_sched = {(it.url, it.kind, it.depth, it.seq) for it in sim.schedule}
    assert e_sched == s_sched

    # the audit log covers every loop round; rounds whose candidate set
    # was runtime-empty (AQE-collapsed plan) record zero counters
    assert res.seen_filter and all(e["active"] for e in res.seen_filter)
    assert all(e["pruned"] >= 0 for e in res.seen_filter)
