"""Bench harness smoke gate: a scaled-down headline frontier round must
finish within a generous factor of a committed floor, so a harness or
methodology regression (like round 2's corpus-access switch, which tripled
fetch_extract) is caught by pytest before the driver measures it.

The gate runs bench.frontier_round_bench through the SAME code path the
headline uses (tmpfs corpus parquet + cache_corpus=True + the headline
datagen parameters), just 10x smaller so it fits the test session's
local[4]/4g Spark. Committed floor: this round measured ~9-14 s wall for
this job on an otherwise-idle box; the bound allows 5x for VM noise and
CI contention — loose enough to never flake, tight enough that a 3x
methodology regression plus noise still trips it.
"""

from __future__ import annotations

import os
import shutil
import tempfile

# generous multiple of the measured ~9-14 s wall on this box
SMOKE_BUDGET_SEC = 70.0
N_PAGES = 12_000


def test_frontier_round_smoke_budget(spark):
    import bench

    corpus = tempfile.mkdtemp(prefix="bench_smoke_", dir=bench._fast_tmp())
    corpus_pq = os.path.join(corpus, "corpus.parquet")
    try:
        from go_crawler_spark.datagen import generate_pages_df

        generate_pages_df(
            spark, N_PAGES, **bench._HEADLINE_GEN
        ).write.mode("overwrite").parquet(corpus_pq)
        fr = bench.frontier_round_bench(
            spark, cpus=4, n_pages=N_PAGES, corpus_path=corpus_pq,
            cache_corpus=True,
        )
    finally:
        shutil.rmtree(corpus, ignore_errors=True)

    assert fr["urls_fetched"] == N_PAGES
    assert fr["urls_scheduled"] > N_PAGES  # pages + assets admitted
    assert fr["sec"] < SMOKE_BUDGET_SEC, (
        f"frontier round took {fr['sec']:.1f}s (> {SMOKE_BUDGET_SEC}s smoke "
        f"budget) — bench harness or engine regression; phases: {fr['phases']}"
    )


def test_headline_is_one_short_parseable_line():
    """The last line ``bench.py`` prints is a compact JSON headline —
    totals and both headline paths' per-phase seconds — short enough for
    a log tail to hold it whole; every query's time stays in the full
    result file."""
    import json

    import bench
    import __spark_entry__ as em

    phases = {p: 1.25 for p in ("seeds", "gate", "fetch_extract", "enqueue",
                                "absorb", "assemble")}
    path = {"sec": 33.871, "urls_scheduled": 89812, "urls_fetched": 89812,
            "urls_scheduled_per_sec": 2651.601, "pages_fetched_per_sec": 2651.601,
            "rounds": 6, "phases": phases}
    full = {
        "metric": "total_headline_seconds", "value": 321.5, "unit": "sec",
        "queries": {"frontier_round": 35.6, "crawl_flagship": 33.9,
                    "crawl_flagship_bloom": 32.5,
                    **{name: 1.234 for name in em.queries()}},
        "sf": "0.1", "cpus": 32,
        "box": {"cpu_ceiling_2_8": 0.951, "membw_ceiling_2_8": 0.311},
        "frontier_round": path, "crawl": path, "crawl_bloom": path,
    }
    n_ops = len(set(em.queries()) - {"frontier_round", "crawl_flagship",
                                     "crawl_flagship_bloom"})
    line = json.dumps(bench.headline(full, "/some/dir/bench_full.json"))
    assert "\n" not in line and len(line) <= 1500, len(line)
    head = json.loads(line)
    assert head["value"] == 321.5 and head["n_queries"] == n_ops
    assert head["queries_sec"] == round(1.234 * n_ops, 3)
    for key in ("frontier_round", "crawl_flagship"):
        assert head[key]["phases"] == phases and head[key]["sec"] == 33.871
