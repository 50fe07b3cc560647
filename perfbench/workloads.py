"""The crawl workloads.

Every corpus comes from ``datagen.generate_pages_df`` with the
benchmark's seed; the engine receives only the generated tables. Each
workload is a closed loop: one caller, one crawl at a time.

A workload is prepared once per run (inputs generated and cached, the
starting checkpoint built), then ``crawl`` is the timed call and
``reference`` the simulator's answer for the same universe.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field, replace

from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.datagen import (
    generate_corpus_dict,
    generate_pages_df,
    page_url,
)
from go_crawler_spark.plans import crawl


@dataclass(frozen=True)
class Shape:
    """Parameters of one workload (``BENCHMARK.json`` says why it exists)."""

    name: str
    n_pages: int
    branching: int
    words: tuple[int, int]
    max_rounds: int
    # untimed crawls after set-up, until the JVM is warm (a resuming
    # workload's starting-checkpoint build comes first and counts too)
    warmups: int = 0
    # timed crawls of an untraced run, whatever --seconds says
    min_crawls: int = 1
    # polite_resume only
    dead_seeds: int = 0
    bloom_min_seen_rows: int = CrawlConfig.bloom_min_seen_rows
    host_slots: int = 0
    robots: tuple = ()


# Sizes are fitted to the run budget of this benchmark: a run (Spark
# start, inputs, warm-up, timed crawls, reference) must stay near a minute
# on a 4-vCPU box, where every Spark job costs ~0.1-1 s of fixed overhead
# and a crawl only runs at its steady speed from the third one in a process.
SHAPES = {
    s.name: s
    for s in (
        Shape(
            "wide_round",
            n_pages=1000, branching=16, words=(800, 1600), max_rounds=1,
            warmups=2, min_crawls=3,
        ),
        # branching 300: the 8 seed pages link their whole host class, so
        # the resumed round starts from a ~2.4k-row frontier (the
        # scheduler's distributed path) that the slot gate mostly defers;
        # the dead seeds put the seen set above the filter threshold
        Shape(
            "polite_resume",
            n_pages=2400, branching=300, words=(20, 60), max_rounds=2,
            dead_seeds=10_000, bloom_min_seen_rows=5_000, host_slots=100,
            robots=(("alpha.example.org", "/p1"),
                    ("gamma.example.net", "/img/")),
        ),
    )
}


def toy_shape(name: str) -> Shape:
    """The same workload at a size that runs in seconds (self-test)."""
    s = SHAPES[name]
    return replace(s, n_pages=160, words=(20, 40), warmups=min(s.warmups, 1),
                   dead_seeds=min(s.dead_seeds, 300),
                   bloom_min_seen_rows=min(s.bloom_min_seen_rows, 100),
                   host_slots=min(s.host_slots, 30))


def live_seeds() -> list[str]:
    """One seed per index class, so the whole corpus is reachable."""
    return [page_url(i) for i in range(8)]


def dead_seeds(n: int) -> list[str]:
    """Seeds absent from the corpus, each on its own host, so the
    politeness gate never defers them."""
    return [f"https://d{i}.dead.example/s.html" for i in range(n)]


@dataclass
class Prepared:
    """A workload ready to crawl: its inputs live in the session cache."""

    shape: Shape
    seed: int
    spark: object
    workroot: str
    pages: object = None
    seeds: object = None       # list of urls or a DataFrame of urls
    oracle_seeds: list = field(default_factory=list)
    robots_df: object = None
    cfg: CrawlConfig = None
    start_ckpt: str | None = None  # polite_resume's starting checkpoint
    first_round: int = 0           # first round the timed call runs
    first_enqueue_round: int = 0   # first enqueue table the timed call writes
    _n: int = 0

    def new_workdir(self) -> str:
        """A fresh workdir for the next crawl (a copy of the starting
        checkpoint when the workload resumes). Untimed."""
        self._n += 1
        wd = os.path.join(self.workroot, f"crawl{self._n}")
        shutil.rmtree(wd, ignore_errors=True)
        if self.start_ckpt is not None:
            shutil.copytree(self.start_ckpt, wd)
        return wd

    def crawl(self, workdir: str):
        """The timed call."""
        s = self.shape
        if self.start_ckpt is not None:
            return crawl.resume_crawl(
                self.spark, self.pages, self.cfg, workdir,
                robots=self.robots_df, max_rounds=s.max_rounds,
            )
        return crawl.run_crawl(
            self.spark, self.pages, self.seeds, self.cfg,
            workdir=workdir, max_rounds=s.max_rounds,
        )

    def reference(self):
        """The simulator's crawl of the same universe (untimed)."""
        from perfbench.oracle import reference

        s = self.shape
        corpus = generate_corpus_dict(s.n_pages, self.seed, s.branching, s.words)
        return reference(
            corpus, self.oracle_seeds, self.cfg,
            robots=list(s.robots) or None, rounds=s.max_rounds,
        )


def _canonical_seed_order(urls: list[str]) -> list[str]:
    """The order the engine gives a seed *table*: ``(xxhash64(url), url)``
    (``plans.crawl.seeds_enqueue_df``), computed with the repository's
    pure-Python replica of Spark's hash."""
    from tools.xxh64 import xxh64_str

    return sorted(urls, key=lambda u: (xxh64_str(u), u))


def prepare(spark, s: Shape, seed: int, workroot: str) -> Prepared:
    """Generate and cache the inputs of workload ``s``; for
    ``polite_resume`` also build the starting checkpoint with the engine
    (one round over every seed, so the resumed rounds start from a seen
    set above the filter's activation threshold)."""
    p = Prepared(shape=s, seed=seed, spark=spark, workroot=workroot)
    p.pages = generate_pages_df(
        spark, s.n_pages, seed=seed, branching=s.branching, words=s.words
    ).cache()
    p.pages.count()

    if s.name == "wide_round":
        urls = [page_url(i) for i in range(s.n_pages)]
        p.seeds = spark.createDataFrame([(u,) for u in urls], "url string").cache()
        p.seeds.count()
        p.oracle_seeds = _canonical_seed_order(urls)
        # the budget also admits every child, so the cut reference
        # crawl (one round) refuses nothing
        p.cfg = CrawlConfig(max_count=2 * s.n_pages, seeds_unique=True)
    else:
        seeds = live_seeds() + dead_seeds(s.dead_seeds)
        p.oracle_seeds = seeds
        # every third page links a dead page: the budget admits those too
        p.cfg = CrawlConfig(
            max_count=len(seeds) + 2 * s.n_pages,
            host_slots_per_round=s.host_slots,
            bloom_min_seen_rows=s.bloom_min_seen_rows,
        )
        p.robots_df = spark.createDataFrame(
            list(s.robots), "host string, disallow_prefix string"
        ).cache()
        p.start_ckpt = os.path.join(workroot, "start")
        shutil.rmtree(p.start_ckpt, ignore_errors=True)
        crawl.run_crawl(spark, p.pages, seeds, p.cfg, robots=p.robots_df,
                        workdir=p.start_ckpt, max_rounds=1)
        p.first_round = 1
        p.first_enqueue_round = 2
    return p
