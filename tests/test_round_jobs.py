"""Spark jobs per crawl round, pinned.

A round's fixed cost is its Spark job count: every job is a synchronous
driver round trip (planning, scheduling, a broadcast or an adaptive
shuffle stage) that does not shrink with the data, and at small scale it
IS the runtime. The bounds below are the counts measured on the 48-page
test corpus; a new hidden action in the round loop (a count(), an
inferred checkpoint read, a shuffle that adaptive execution materializes
as its own job) raises the count and fails here. Lower them when a change
removes jobs.

Jobs are counted per crawl under a dedicated job group
(``SparkContext.statusTracker().getJobIdsForGroup``, via
``tests.conftest.spark_jobs``).
"""

from __future__ import annotations

import tempfile

import pytest

from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.datagen import default_seeds, generate_pages_df
from go_crawler_spark.plans.crawl import resume_crawl, run_crawl
from tests.conftest import spark_jobs

N_PAGES = 48
SEED = 42

# plain BFS: the enqueue_0 seed write (1) + 4 rounds x 6 jobs
# (J1 fetched write 4, J2 enqueue write 2, J3 absorb 0: filter dormant)
PLAIN_ROUNDS, PLAIN_JOBS = 4, 25
# host slots + robots + an active seen filter, 2 rounds: enqueue_0 (1) +
# 2 x 11 (gate_<r> write 4: the robots broadcast, the two slot-window
# shuffles and the write; J1 4, as in a plain round, since it reads the
# verdicts; J2 2; J3 absorb 1). The next frontier is a read of gate_<r>
# and enqueue_<r+1>, not a write.
POLITE_ROUNDS, POLITE_JOBS = 2, 23
# resume of that checkpoint for 2 more rounds: 1 before the loop (the
# filter rebuild; no schema inference: the manifest records every table's
# schema; no count() and no frontier write: it also holds the seen-row
# count and the frontier size) + 2 x 11; the result reads fetched_0-3
# with no inference either
RESUME_ROUNDS, RESUME_JOBS = 4, 23


@pytest.fixture(scope="module")
def pages_df(spark):
    df = generate_pages_df(spark, N_PAGES, SEED)
    df.cache().count()
    return df


def test_plain_round_jobs(spark, pages_df):
    res, n = spark_jobs(spark, lambda: run_crawl(
        spark, pages_df, default_seeds(), CrawlConfig(max_count=40)))
    assert res.rounds == PLAIN_ROUNDS
    assert n <= PLAIN_JOBS, f"{n} Spark jobs, pinned at {PLAIN_JOBS}"


def test_polite_round_and_resume_jobs(spark, pages_df):
    robots = spark.createDataFrame(
        [("big.example.com", "/p8"), ("alpha.example.org", "/p4.html")],
        "host string, disallow_prefix string",
    )
    cfg = CrawlConfig(max_count=40, host_slots_per_round=2,
                      bloom_min_seen_rows=10)
    wd = tempfile.mkdtemp(prefix="round_jobs_")
    res, n = spark_jobs(spark, lambda: run_crawl(
        spark, pages_df, default_seeds(), cfg, robots=robots, workdir=wd,
        max_rounds=POLITE_ROUNDS))
    assert res.rounds == POLITE_ROUNDS
    assert res.seen_filter[-1]["active"]
    assert n <= POLITE_JOBS, f"{n} Spark jobs, pinned at {POLITE_JOBS}"

    res, n = spark_jobs(spark, lambda: resume_crawl(
        spark, pages_df, cfg, wd, robots=robots, max_rounds=RESUME_ROUNDS))
    assert res.rounds == RESUME_ROUNDS
    assert n <= RESUME_JOBS, f"{n} Spark jobs, pinned at {RESUME_JOBS}"
