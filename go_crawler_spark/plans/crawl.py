"""The crawl job: iterative-batch BFS over DataFrames.

One *round* is a single declarative lineage (SURVEY §3.1 Spark lifecycle):

    frontier → [gate: traps, robots, redirects, host slots]
             → fetch join (pages corpus)
             → fused parse UDF (children + rewritten html, one pass)
             → explode → depth filter → within-round first-writer dedup
             → anti-join seen (bloom-pruned) → fused budget+seq
             → {next frontier, seen ∪, checkpoint}

which replaces the reference's goroutine pipeline (cmd/crawler/main.go:61-90)
— Spark's task scheduler replaces the hand-rolled worker pools (C2), union
replaces fan-in (C3), and the driver loop condition replaces ack-counting
termination (Q4, internal/queue.go:116-129).

Scale posture (designed for 10^10 URLs / 1000 executors, tested local):
- the fetch lookup is corpus ⋈ broadcast(frontier) (size-gated to a
  shuffle-hash join for billion-row rounds) — one full corpus scan per
  round plus one column-pruned url-only scan for the miss anti-join,
  never a corpus shuffle and never an on-heap cache of page content
  (operators/fetch.py);
- the URL-seen bloom filter is *incremental*: each round absorbs only the
  newly-seen delta (per-partition build OR-merged on the driver) — the
  seen set is never rescanned (operators/dedup.py);
- ``seen`` is the union of the per-round enqueue tables (append-only; the
  enqueue rows ARE the seen delta — admitted and budget-refused alike,
  queue.go:92-106 — so no separate seen write exists);
- the politeness window is salted two-phase (operators/politeness.py) so a
  mega-host cannot serialize a round;
- per-round state lands as parquet checkpoint tables (tableio.py:
  write-to-temp + atomic rename, the manifest last) → any round is
  resumable (C6 [EXTENSION]); lineage is truncated every round so plans
  stay O(1) deep regardless of crawl length.

The scalability constant of an iterative-batch crawler is the number of
Spark jobs per round: each is a synchronous driver round trip whose fixed
cost (planning, scheduling, a broadcast or an adaptive shuffle stage)
does not shrink with the data. A round in the common case (no
politeness/robots) runs three checkpoint steps:

  J1  fetched write   — corpus lookup + size gate + ONE fused parse per
                        page (children array + rewritten html + save_path)
                        so the heavy html column crosses the Python
                        boundary exactly once and the fetched log doubles
                        as the pages sink (pages_out = pruned view); the
                        round's child count rides it as an observed metric
                        and picks J2's scheduler path;
  J2  enqueue write   — depth gate → within-round first-writer dedup
                        (map-side min_by) → bloom-pruned anti-join
                        vs seen → budget + seq in one fused bucketed pass
                        (operators/sequence.py — no range sampling, no
                        checkpoint copy, no top-K merge); admitted and
                        refused rows land together (the seen delta); the
                        admission counters the driver loop needs ride this
                        write as OBSERVED metrics (no count() actions);
  J3  absorb          — one pass over the enqueue delta building the
                        per-partition seen-filter bitsets, tree-merged
                        (builders → ≤16 combiners → driver); zero jobs
                        when the filter tier is disabled.

A round with any gate on (traps, robots, redirects, host slots) first
writes ``gate_<r>``: every frontier row with its verdict — fetch now,
deferred, or the skip status — evaluated once, its deferred count
observed. J1 reads the fetch-now rows and appends the skipped ones to
``fetched_<r>`` (status set, size 0, no content); the next frontier is
the deferred rows ∪ the admitted enqueue rows, a read sized by the two
observed counts. ``gate_<r-1>`` is deleted once round r's manifest
lands. No count() runs inside the loop or the resume, and a checkpoint
read launches no job (tableio.py passes the schema it recorded at the
write). Measured on the 48-page test corpus (local[4], adaptive query
execution on) and pinned by tests/test_round_jobs.py:

- a plain round runs SIX Spark jobs: J1 four (the write plus the
  broadcast and shuffle stages of its joins), J2 two, J3 none while the
  seen filter is dormant;
- a round with host slots, robots rules and an active seen filter runs
  11: gate write 4 (with its broadcast and slot-window shuffle stages),
  J1 4 as in a plain round, J2 2, J3 1.

Budget+seq use a single-task ordered pass while a round's child count
(observed on J1) is at most SMALL_INPUT_ROWS and switch to the
distributed fused bucketed scheme beyond it — at 10^10-URL scale rounds
are huge and the fixed job count is noise; at small scale the fixed job
count IS the runtime.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.functions.htmlx import parse_page_udf
from go_crawler_spark.functions.urls import (
    asset_save_path_udf,
    page_save_path_udf,
    registrable_host_udf,
)
from go_crawler_spark.operators.dedup import (
    BloomFilter,
    anti_join_seen,
    bloom_prefilter,
    dedup_against_seen,
    first_writer_dedup,
    tree_build_filter,
)
from go_crawler_spark.operators.fetch import fetch_hits, fetch_round
from go_crawler_spark.operators.politeness import assign_fetch_slots, robots_blocked
from go_crawler_spark.operators.redirects import (
    STATUS_BLOCKED_HOP,
    STATUS_STOPPED,
    apply_redirect_mapping,
)
from go_crawler_spark.operators.traps import mark_traps
from go_crawler_spark.operators.sequence import (
    SMALL_INPUT_ROWS,
    assign_seq_admit_budget_bucketed,
    release_pending_caches,
    release_pending_checkpoints,
)
from go_crawler_spark.tableio import ParquetTableIO

ORDER_COLS = ["parent_seq", "pos"]  # canonical within-round discovery order

ENQUEUE_SCHEMA = (
    "url string, kind string, depth int, seq long, host string, "
    "admitted boolean, enqueue_round int"
)
FRONTIER_COLS = ["url", "kind", "depth", "seq", "host"]

# gate_<r> verdicts: fetched this round, deferred to the next by the host
# slots, or the skip status the fetched log records (the row stays seen)
FETCH, DEFER = "fetch", "defer"
GATE_SKIPS = ("skipped_trap", "skipped_robots", "skipped_redirect")


@dataclass
class CrawlResult:
    schedule: DataFrame   # url kind depth seq host enqueue_round (admitted only)
    fetched: DataFrame    # url kind depth seq host round status size
    pages_out: DataFrame  # url warc_ts html text lang status save_path kind depth round
    metrics: DataFrame    # round pages_crawled pages_failed links_discovered assets_found bytes_downloaded
    seen: DataFrame       # url
    rounds: int
    workdir: str
    # per-round seen-filter audit: [{"round", "active", "pruned",
    # "candidates"}] — "candidates" = new-URL rows that survived the
    # seen-dedup this round, "pruned" = the subset the bloom tier
    # proved new (they never touched the exact anti-join); rides the
    # enqueue write as an upstream Observation, zero extra jobs. The
    # evidence that the adaptive gate (cfg.bloom_min_seen_rows) fired.
    seen_filter: List[dict] = field(default_factory=list)


# admission counters folded into the enqueue write action (M1/Q2/Q4 driver
# bookkeeping): DataFrame.observe collects them during the write, dropping
# the separate per-round count job the loop used to run
def _admission_aggs() -> list:
    return [
        F.coalesce(
            F.sum(F.when(F.col("admitted"), 1).otherwise(0)), F.lit(0)
        ).alias("n_admitted"),
        F.coalesce(
            F.sum(
                F.when(F.col("admitted") & (F.col("kind") == "page"), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("pages_admitted"),
        # total log rows (admitted + refused): drives the adaptive seen-
        # filter activation gate (cfg.bloom_min_seen_rows) for free
        F.count(F.lit(1)).alias("n_rows"),
    ]


# child links the J1 fetched write produced (NULL children = an asset row)
def _child_aggs() -> list:
    return [
        F.coalesce(
            F.sum(F.when(F.col("children").isNotNull(), F.size("children"))),
            F.lit(0),
        ).alias("n_children"),
    ]


# Per-round checkpoint writes go through go_crawler_spark.tableio:
# write-to-temp + atomic rename under the workdir. Writes run under the
# reference's retry policy (C1, pkg/retry/retry.go:23-63) — the round-level
# analog of the reference wrapping download (main.go:150-156) and save
# (main.go:277-283) — and can carry observed-metric aggregates (a fresh
# Observation per attempt, so a retried write never reads a failed
# attempt's metrics).


def seeds_enqueue(spark: SparkSession, seeds: List[str], cfg: CrawlConfig) -> DataFrame:
    """Initial Push of the seed list (ref: main.go:93, generalized to a list
    per north rule). Seed dedup + budget follow exactly queue.go:88-114:
    duplicates dropped, budget-refused seeds stay seen (admitted=false)."""
    uniq: list[str] = []
    seen_local: set[str] = set()
    for s in seeds:
        if s not in seen_local:
            seen_local.add(s)
            uniq.append(s)
    rows = []
    for i, u in enumerate(uniq):
        admitted = i < cfg.max_count
        rows.append((u, "page", 0, i if admitted else None, None, admitted, 0))
    df = spark.createDataFrame(rows, ENQUEUE_SCHEMA)
    return df.withColumn("host", registrable_host_udf("url"))


def seeds_enqueue_df(seeds_df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Initial Push of a *distributed* seed frontier (10^10-URL regime: the
    seed list is itself a table, e.g. a prior crawl's export — it never
    touches the driver). Canonical seed order is ``(xxhash64(url), url)``
    — a deterministic total order whose top hash bits double as the
    order-aligned bucket key, so budget+seq assignment needs no range
    sampling (operators/sequence.py). Dedup + budget follow
    queue.go:88-114 like the list path."""
    uniq = seeds_df.select("url")
    if not cfg.seeds_unique:
        uniq = uniq.distinct()
    uniq = uniq.withColumn("_h", F.xxhash64("url"))
    out = assign_seq_admit_budget_bucketed(
        uniq.withColumn("kind", F.lit("page")).withColumn("depth", F.lit(0)),
        ["_h", "url"],
        bucket=F.shiftright(F.col("_h"), 58) + F.lit(32),  # top 6 bits, order-aligned
        page_budget=cfg.max_count,
        seq_start=0,
    )
    return out.select(
        "url", "kind", "depth", "seq",
        registrable_host_udf("url").alias("host"),
        "admitted",
        F.lit(0).alias("enqueue_round"),
    )


def _enqueue_small(
    new_urls: DataFrame, budget_remaining: int, seq_start: int, rnd: int
) -> DataFrame:
    """Single ordered pass: within-round first-writer dedup + admit/refuse
    + contiguous seq + host, fused (small rounds).

    Reproduces the sequential Push loop (queue.go:88-114) literally:
    iterate in canonical (parent_seq, pos) order; the first occurrence of a
    URL wins (queue.go:92-96); pages admitted while budget lasts, assets
    always admitted; every surviving row is newly seen either way.
    """
    from go_crawler_spark.functions.urls import registrable_host

    schema = ENQUEUE_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        budget = budget_remaining
        seq = seq_start
        emitted: set[str] = set()
        for pdf in batches:
            if not len(pdf):
                continue
            out = {
                "url": [], "kind": [], "depth": [], "seq": [],
                "host": [], "admitted": [], "enqueue_round": [],
            }
            for url, kind, depth in zip(pdf["url"], pdf["kind"], pdf["depth"]):
                if url in emitted:
                    continue  # first-writer-wins within the round
                emitted.add(url)
                if kind == "page" and budget <= 0:
                    adm, s = False, None
                else:
                    adm, s = True, seq
                    seq += 1
                    if kind == "page":
                        budget -= 1
                out["url"].append(url)
                out["kind"].append(kind)
                out["depth"].append(depth)
                out["seq"].append(s)
                out["host"].append(registrable_host(url))
                out["admitted"].append(adm)
                out["enqueue_round"].append(rnd)
            yield pd.DataFrame(out)

    ordered = (
        new_urls.select("url", "kind", "depth", *ORDER_COLS)
        .coalesce(1)
        .sortWithinPartitions(*ORDER_COLS)
    )
    return ordered.mapInPandas(run, schema)


def _enqueue_large(
    new_urls: DataFrame, budget_remaining: int, seq_start: int, rnd: int
) -> DataFrame:
    """Distributed path for huge rounds: budget verdict + contiguous seq in
    ONE fused pass (operators/sequence.py) — no single-task top-K merge, no
    refused anti-join, no extra count actions, and (bucketed variant) no
    range-sampling job / checkpoint copy: the canonical order key leads
    with ``parent_seq``, whose range [0, seq_start) the driver already
    knows, so order-aligned buckets are a pure expression."""
    nb = 4 * new_urls.sparkSession.sparkContext.defaultParallelism
    hi = max(seq_start, 1)
    bucket = F.least(
        F.floor(F.col("parent_seq") * F.lit(nb) / F.lit(hi)), F.lit(nb - 1)
    )
    out = assign_seq_admit_budget_bucketed(
        new_urls.select("url", "kind", "depth", *ORDER_COLS),
        ORDER_COLS,
        bucket=bucket,
        page_budget=budget_remaining,
        seq_start=seq_start,
    )
    return out.select(
        "url", "kind", "depth", "seq",
        registrable_host_udf("url").alias("host"),
        "admitted",
        F.lit(rnd).alias("enqueue_round"),
    )


def _observe_filter_pruned(new_urls: DataFrame) -> "tuple[DataFrame, Observation]":
    """Attach a free rows-pruned-by-filter counter to the round's enqueue
    plan: ``new_urls`` carries a ``_definite`` flag (True = the bloom
    tier proved the row new, so it skipped the exact anti-join); an upstream
    ``Observation`` sums it during the write action already happening — no
    extra job, no schema change (the flag is dropped here, before the
    checkpoint). ``Observation.get`` is read after the write."""
    obs = Observation()
    out = new_urls.observe(
        obs,
        F.coalesce(
            F.sum(F.when(F.col("_definite"), 1).otherwise(0)), F.lit(0)
        ).alias("filter_pruned"),
        F.count(F.lit(1)).alias("filter_candidates"),
    ).drop("_definite")
    return out, obs


def _filter_obs_counts(obs: Observation) -> "tuple[int, int]":
    """``Observation.get`` for the seen-filter audit row, tolerant of AQE
    empty-relation propagation.

    The filter observation sits MID-plan (on ``new_urls``, below the
    enqueue write), unlike the admission aggregates which ride the write
    root. When a round's candidate set turns out runtime-empty, AQE's
    empty-relation rule can eliminate the observed ``CollectMetrics`` node
    from the executed plan; the observation then completes with a
    SCHEMALESS empty row. Scala's ``Observation.get`` maps that to an
    empty Map, but PySpark's ``get`` feeds the raw row into
    ``PythonSQLUtils.toPyRow``, whose ``GenericRowWithSchema`` assertion
    fails. Zero rows flowed through the node in that case, so both
    counters are zero — exactly what the audit row should record.
    """
    jrow = obs._jo.getRow()  # blocks until the observed action finishes
    if jrow is None or jrow.schema() is None or jrow.size() == 0:
        return 0, 0
    row = obs.get  # the normal decode path (future already resolved)
    return int(row["filter_pruned"]), int(row["filter_candidates"])


def _new_seen_filter(cfg: CrawlConfig) -> Optional[BloomFilter]:
    """An empty bloom seen-prefilter, or None when ``cfg.use_bloom`` is
    off. Advisory only: the exact anti-join always confirms."""
    if not cfg.use_bloom:
        return None
    return BloomFilter(cfg.bloom_bits, cfg.bloom_hashes)


def _absorb_filter(enqueue: DataFrame, filt, fan_in: int = 16):
    """Absorb an enqueue delta into the seen filter (over ALL rows —
    refused URLs are seen too, queue.go:92-106) via the library's two-level
    tree merge (``operators.dedup.tree_build_filter``: per-partition builds
    at full parallelism, ≤``fan_in`` executor-side combiners, driver merges
    only the combiner outputs). Admission counters ride the enqueue write
    as observed metrics (``_admission_aggs``), not this pass.

    Returns the merged filter (``filt`` unchanged if the delta is empty),
    or None when filtering is disabled."""
    if filt is None:
        return None
    delta = tree_build_filter(enqueue, "url", filt, fan_in=fan_in)
    return filt.merge(delta)


def _gate_frame(
    frontier: DataFrame,
    cfg: CrawlConfig,
    traps: Optional[DataFrame],
    robots: Optional[DataFrame],
    redirect_map: Optional[DataFrame],
    host_slots: Optional[DataFrame],
) -> DataFrame:
    """Every frontier row with its round ``verdict``: the skip status of
    the first gate it fails — trap, robots on the alias, a budget-stopped
    redirect chain, a chain aborted at a robots-disallowed hop, robots on
    the resolved target — else FETCH or DEFER from the per-host slot
    windows, which rank only the rows every gate passed.

    Under redirects the row also carries the request's target:
    ``_fetch_url`` (the final URL, whose content the row fetches under its
    own identity) and ``_fetch_host``, on which the slots and the robots
    re-check key (the request lands there). The row's own ``host`` stays
    the ALIAS host, so a deferred row re-enters the next round's
    pre-redirect gates with (alias host, alias path) intact. Robots is
    enforced on every request of a chain: the alias, the intermediate
    hops (baked into the mapping, ``blocked_robots_hop``) and the final
    target (re-checking an unredirected row is idempotent)."""

    def first_skip(failed, status: str):
        return F.coalesce(F.col("verdict"), F.when(failed, F.lit(status)))

    g = frontier.withColumn("verdict", F.lit(None).cast("string"))
    if traps is not None:
        g = mark_traps(g, traps).withColumn(
            "verdict", first_skip(F.col("trapped"), "skipped_trap")
        ).drop("trapped")
    if robots is not None:
        g = robots_blocked(g, robots).withColumn(
            "verdict", first_skip(F.col("robots_blocked"), "skipped_robots")
        ).drop("robots_blocked")
    slot_host = "host"
    if redirect_map is not None:
        # ONE join against the pre-materialized source mapping; rows whose
        # URL is not a redirect source pass with NULL _final. The when()
        # sits INSIDE the UDF argument so unredirected rows ship NULL
        # across Arrow (same trick as the parse UDF).
        rstatus = F.col("_rstatus")
        redirected = F.col("_final").isNotNull()
        g = (
            apply_redirect_mapping(g, redirect_map)
            .withColumn("verdict",
                        first_skip(rstatus == STATUS_STOPPED, "skipped_redirect"))
            .withColumn("verdict",
                        first_skip(rstatus == STATUS_BLOCKED_HOP, "skipped_robots"))
            .withColumn("_fetch_url", F.coalesce("_final", "url"))
            .withColumn(
                "_fetch_host",
                F.when(
                    redirected,
                    registrable_host_udf(F.when(redirected, F.col("_final"))),
                ).otherwise(F.col("host")),
            )
            .drop("_final", "_rstatus")
        )
        if robots is not None:
            g = robots_blocked(
                g, robots, host_col="_fetch_host", url_col="_fetch_url"
            ).withColumn(
                "verdict", first_skip(F.col("robots_blocked"), "skipped_robots")
            ).drop("robots_blocked")
        slot_host = "_fetch_host"
    g = assign_fetch_slots(
        g, cfg.host_slots_per_round, cfg.politeness_salts,
        host_col=slot_host,
        host_slots=host_slots,  # e.g. robots Crawl-delay -> slots/round
        eligible=F.col("verdict").isNull(),
    )
    return g.withColumn(
        "verdict",
        F.coalesce(
            F.col("verdict"),
            F.when(F.col("fetch_now"), F.lit(FETCH)).otherwise(F.lit(DEFER)),
        ),
    ).drop("fetch_now")


def _deferred(gate: DataFrame) -> DataFrame:
    return gate.filter(F.col("verdict") == DEFER).select(*FRONTIER_COLS)


def _skip_log(gate: DataFrame, schema, rnd: int) -> DataFrame:
    """The gate-skipped rows in the fetched log's ``schema``: status = the
    verdict, size 0, no content and no children."""
    fill = {
        "round": F.lit(rnd),
        "status": F.col("verdict"),
        "size": F.lit(0).cast("long"),
    }
    return gate.filter(F.col("verdict").isin(*GATE_SKIPS)).select(*[
        F.col(f.name) if f.name in FRONTIER_COLS
        else fill.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])


def _load_manifest(io, workdir: str) -> dict:
    """The workdir's manifest. A checkpoint of the older layout (a
    ``frontier`` table and ``blocked_<r>`` logs, no ``seen_rows`` in the
    manifest) does not resume."""
    man = io.get_manifest()
    if man is None:
        raise FileNotFoundError(f"no crawl manifest in {workdir}")
    if "seen_rows" not in man:
        raise ValueError(f"{workdir} holds a checkpoint of an older layout "
                         "that cannot resume; start again in a fresh workdir")
    return man


def _drop_torn_round(io, rnd: int) -> None:
    """Delete what an interrupted round ``rnd`` left: the manifest marks
    round rnd-1 complete only after ``enqueue_<rnd>`` landed, so
    ``fetched_``/``gate_`` >= rnd and ``enqueue_`` > rnd are torn writes;
    a ``gate_`` < rnd-1 outlived a crash between the manifest and its
    delete. Orphaned parquet staging dirs go too."""
    io.cleanup_staging()
    for name in io.list_names():
        kind, _, num = name.rpartition("_")
        if not num.isdigit():
            continue
        n = int(num)
        if ((kind in ("fetched", "gate") and n >= rnd)
                or (kind == "gate" and n < rnd - 1)
                or (kind == "enqueue" and n > rnd)):
            io.delete_stale(name)


def resume_crawl(
    spark: SparkSession,
    pages: DataFrame,
    cfg: CrawlConfig,
    workdir: str,
    robots: Optional[DataFrame] = None,
    max_rounds: int = 1000,
    timing: Optional[dict] = None,
    host_slots: Optional[DataFrame] = None,
    trap_templates: Optional[DataFrame] = None,
    trap_refresh_rounds: int = 0,
    trap_min_urls: int = 20,
    redirects: Optional[DataFrame] = None,
) -> CrawlResult:
    """Resume an interrupted crawl from its workdir checkpoint (C6
    [EXTENSION] — the north rule requires any round to be resumable).

    State recovered from the table backend: the per-round enqueue tables
    (⇒ seen set, schedule), the manifest (round, seq counter, seen-row
    count, frontier size), and the current frontier: the last complete
    round's admitted enqueue rows ∪ the rows its ``gate_<r>`` deferred.
    The bloom filter is rebuilt from the
    enqueue tables; with ``trap_refresh_rounds`` enabled the persisted
    ``trap_census`` table re-arms the trap gate before the first resumed
    round.
    """
    io = ParquetTableIO(spark, workdir)
    man = _load_manifest(io, workdir)
    return run_crawl(
        spark, pages, [], cfg, robots=robots, workdir=workdir,
        max_rounds=max_rounds, timing=timing, host_slots=host_slots,
        trap_templates=trap_templates,
        trap_refresh_rounds=trap_refresh_rounds,
        trap_min_urls=trap_min_urls,
        redirects=redirects,
        _resume_from=man["round"] + 1,
    )


def compact_enqueue_log(
    spark: SparkSession,
    workdir: str,
    cfg: CrawlConfig,
    buckets: Optional[int] = None,
) -> int:
    """Checkpoint maintenance [EXTENSION — 10^10-URL housekeeping]: merge
    the per-round ``enqueue_N`` seen-log deltas into a single
    ``enqueue_0`` table, hash-bucketed on ``xxhash64(url)``.

    Why it matters at scale: the crawl appends one enqueue delta per
    round, and both the per-round seen anti-join and ``resume_crawl``
    union-scan ALL of them — after thousands of rounds that is thousands
    of small tables (file-listing cost, tiny files, no bucket locality).
    Compaction is the log-structured-merge answer: row-identical, one
    table, ``buckets`` partitions aligned with the frontier's
    ``xxhash64(url)`` layout so the anti-join's shuffle can be elided by
    a storage-partitioned join. The replace is a staged write + atomic
    renames, healed after a crash like every other checkpoint write
    (``ParquetTableIO.replace``).

    Run on a QUIESCENT checkpoint only (no crawl in flight). Torn
    artifacts of an interrupted round are pruned first — the same
    manifest-driven rule ``resume_crawl`` applies — so compacting a
    crashed workdir is safe and resume-after-compact equals
    resume-without-compact (pinned by tests/test_resume.py).

    Returns the number of delta tables that were merged away.
    """
    io = ParquetTableIO(spark, workdir)
    _drop_torn_round(io, _load_manifest(io, workdir)["round"] + 1)

    names = io.list_names("enqueue_")
    if len(names) <= 1:
        return 0
    n_buckets = buckets or cfg.frontier_buckets
    merged = io.read(*names).repartition(
        n_buckets, F.pmod(F.xxhash64("url"), F.lit(n_buckets))
    )
    # crash-safe in-place replace (tableio.replace): the merged copy fully
    # materializes to staging while every input (including the old
    # enqueue_0) stays readable — so a retry replay still finds its
    # sources — then commits via rename-aside + rename; a crash at any
    # point is healed by recover_replaces (run inside cleanup_staging),
    # so the round-0 seen/admitted log can never be lost. Input deltas
    # are deleted only after the commit lands.
    io.replace(merged, "enqueue_0", cfg.retry)
    for name in names:
        if name != "enqueue_0":
            io.delete(name)
    return len(names) - 1


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: "List[str] | DataFrame",
    cfg: CrawlConfig,
    robots: Optional[DataFrame] = None,
    workdir: Optional[str] = None,
    max_rounds: int = 1000,
    timing: Optional[dict] = None,
    host_slots: Optional[DataFrame] = None,
    trap_templates: Optional[DataFrame] = None,
    trap_refresh_rounds: int = 0,
    trap_min_urls: int = 20,
    redirects: Optional[DataFrame] = None,
    _resume_from: Optional[int] = None,
) -> CrawlResult:
    """Drive the BFS loop. ``pages`` is the (url, warc_ts, html, text, lang)
    corpus; ``robots`` an optional (host, disallow_prefix) table;
    ``trap_templates`` an optional spider-trap table (a ``url_trap_census``
    output or a raw (template) list — e.g. censused from a PRIOR crawl's
    pages) whose matching frontier URLs are blocked with status
    ``skipped_trap`` (staying seen, like robots blocks).

    ``redirects`` [EXTENSION] is an optional ``(src_url, dst_url)`` hop
    table. The loop-invariant source mapping is resolved ONCE before the
    loop (:func:`go_crawler_spark.operators.redirects.
    resolve_redirect_sources`, the Go client's 10-request budget) and
    checkpointed as ``redirect_map`` (restored on resume — NOTE the
    mapping bakes the per-hop robots enforcement of the rules passed at
    FIRST materialization, so resume legs must pass the same robots
    table; changed rules require a fresh workdir or deleting
    ``redirect_map``); each round's gate applies one hash join against it
    (:func:`_gate_frame`). Budget-stopped chains are logged
    ``skipped_redirect`` (staying seen: Go's client would error after
    burning its budget), and resolved rows fetch the FINAL target's
    content under their original URL identity (reference parity: the Go
    client returns only the body, pkg/httpclient/client.go:48-71, so
    seen/dedup/children all key on the enqueued URL).

    ``trap_refresh_rounds=R`` (0 = off) closes the trap loop IN-CRAWL: every
    R rounds the fetched-so-far log is re-censused
    (:func:`go_crawler_spark.operators.traps.url_trap_census` over the
    ``fingerprint`` column J1 stamps on every fetched row) and flagged
    templates join the gate — a trap that emerges mid-crawl is cut off at
    the next refresh without an operator round-trip or a restart. The
    census scans only (url, fingerprint) — column-pruned parquet, never
    page bytes — and its bounded output checkpoints as ``trap_census``, so
    ``resume_crawl`` restores the gate and per-round gating reads the tiny
    table instead of re-censusing. Refresh cost is one column-pruned scan
    of the fetched log every R rounds — pick R to amortize (the gate keeps
    a 10^10-URL frontier from burning budget on minted URLs, which the
    reference cannot do at all: internal/queue.go:101-106 just fills up).

    Pass ``timing={}`` to collect per-phase wall-clock totals."""

    def _tick(phase: str, t0: float) -> float:
        t1 = time.perf_counter()
        if timing is not None:
            timing[phase] = timing.get(phase, 0.0) + (t1 - t0)
        return t1

    if workdir is None:
        import tempfile

        workdir = tempfile.mkdtemp(prefix="crawl_")

    io = ParquetTableIO(spark, workdir)

    politeness_mode = (cfg.host_slots_per_round > 0 or robots is not None
                       or host_slots is not None)

    # [EXTENSION] the redirect mapping is loop-invariant: resolve the
    # redirect-SOURCE set once (operators/redirects.py::
    # resolve_redirect_sources — bounded by the redirect table, ~10^8 rows
    # at web scale vs a 10^10 frontier), checkpoint it, and let each round
    # apply ONE hash join against it. Resolving inside the loop re-derived
    # the jump tables (3 self-joins) and re-distincted the entire frontier
    # every round. A persisted mapping also restores for free on resume.
    redirect_map = None
    if redirects is not None:
        from go_crawler_spark.operators.redirects import (
            blocked_hop_targets,
            resolve_redirect_sources,
        )

        t = time.perf_counter()
        if not io.exists("redirect_map"):
            # robots per-REQUEST also covers requests 2..n of a chain:
            # hop targets robots disallows abort the chain before the
            # forbidden request (blocked_robots_hop in the mapping).
            # Robots is loop-invariant like the edges, so the enforcement
            # is baked into the one-time mapping at zero per-round cost;
            # the blocked set is bounded by the edge table's dst column.
            blocked_hops = (
                blocked_hop_targets(redirects, robots)
                if robots is not None else None
            )
            io.write(
                resolve_redirect_sources(
                    redirects, blocked_urls=blocked_hops
                ).select("url", "final_url", "status"),
                "redirect_map", cfg.retry,
            )
        redirect_map = io.read("redirect_map")
        _tick("redirect_map", t)

    # trap gate state: external templates (normalized to a template list)
    # ∪ the latest in-loop census; a persisted trap_census (resume, or a
    # prior refresh in this workdir) re-arms the gate immediately
    external_traps = None
    if trap_templates is not None:
        ext = trap_templates
        if "is_trap" in ext.columns:
            ext = ext.filter(F.col("is_trap"))
        external_traps = ext.select("template")
    trap_gate_tbl = external_traps
    if trap_refresh_rounds > 0 and io.exists("trap_census"):
        saved = io.read("trap_census").select("template")
        trap_gate_tbl = (
            saved if external_traps is None
            else external_traps.unionByName(saved).distinct()
        )

    if cfg.normalize_urls:
        # RFC 3986 identity normalization at the frontier boundary: seeds
        # here, children at the J2 explode below. The list path runs ONE
        # bounded Spark pass (seed lists are driver-sized by definition;
        # the 10^10-URL regime uses the DataFrame path, map-only); the
        # DataFrame path must re-dedup — distinct spellings may collapse.
        from dataclasses import replace as _dc_replace

        from go_crawler_spark.functions.urls import rfc3986_normalize_expr

        if isinstance(seeds, DataFrame):
            seeds = seeds.select(
                rfc3986_normalize_expr(F.col("url")).alias("url")
            )
            cfg = _dc_replace(cfg, seeds_unique=False)
        else:
            idx = spark.createDataFrame(
                [(i, s) for i, s in enumerate(seeds)], "i long, url string"
            )
            seeds = [
                r["url"]
                for r in idx.select(
                    "i", rfc3986_normalize_expr(F.col("url")).alias("url")
                ).orderBy("i").collect()
            ]

    if _resume_from is None:
        t = time.perf_counter()
        enq0_df = (
            seeds_enqueue_df(seeds, cfg)
            if isinstance(seeds, DataFrame)
            else seeds_enqueue(spark, seeds, cfg)
        )
        stats0: dict = {}
        enq0 = io.write(
            enq0_df, "enqueue_0", cfg.retry,
            observe=_admission_aggs(), obs_out=stats0,
        )
        release_pending_caches()
        # adaptive seen-filter gate: below cfg.bloom_min_seen_rows the
        # exact anti-join's build side broadcasts and the filter's Arrow
        # passes are pure overhead; it switches on (built from the full
        # log, then absorbed incrementally) once the log crosses the
        # threshold — at 10^10-URL scale that is round 0.
        seen_rows = int(stats0["n_rows"])
        bloom = None
        if seen_rows >= cfg.bloom_min_seen_rows:
            bloom = _absorb_filter(enq0, _new_seen_filter(cfg))
        t = _tick("seeds", t)
        n_frontier = int(stats0["n_admitted"])
        pages_enqueued = int(stats0["pages_admitted"])
        seq_next = n_frontier
        seen_names = ["enqueue_0"]
        frontier = enq0.filter(F.col("admitted")).select(*FRONTIER_COLS)
        rnd = 0
    else:
        man = io.get_manifest()
        rnd = _resume_from
        seq_next = man["seq_next"]
        pages_enqueued = man["pages_enqueued"]
        seen_rows = man["seen_rows"]
        n_frontier = man["n_frontier"]
        _drop_torn_round(io, rnd)
        seen_names = io.list_names("enqueue_")
        all_enq = io.read(*seen_names)
        bloom = None
        if seen_rows >= cfg.bloom_min_seen_rows:
            bloom = _absorb_filter(all_enq, _new_seen_filter(cfg))
        # the frontier round rnd-1 handed over: the rows it admitted
        # (picked by column, so a compacted enqueue_0 serves too) ∪ the
        # rows its gate deferred
        frontier = all_enq.filter(
            F.col("admitted") & (F.col("enqueue_round") == rnd)
        ).select(*FRONTIER_COLS)
        if io.exists(f"gate_{rnd - 1}"):
            frontier = _deferred(io.read(f"gate_{rnd - 1}")).unionByName(frontier)
    seen_filter_log: List[dict] = []
    while rnd < max_rounds and n_frontier > 0:
        t = time.perf_counter()

        # [EXTENSION] in-loop trap refresh (see trap_refresh_rounds above)
        if (trap_refresh_rounds > 0 and rnd > 0
                and rnd % trap_refresh_rounds == 0):
            fetched_logs = io.list_names("fetched_")
            if fetched_logs:
                from go_crawler_spark.operators.traps import url_trap_census

                fp_log = (
                    io.read(*fetched_logs)
                    .filter(F.col("fingerprint").isNotNull())
                    .select("url", "fingerprint")
                )
                flagged = url_trap_census(
                    fp_log, min_urls=trap_min_urls
                ).filter(F.col("is_trap"))
                if io.exists("trap_census"):
                    io.replace(flagged, "trap_census", cfg.retry)
                else:
                    io.write(flagged, "trap_census", cfg.retry)
                auto = io.read("trap_census").select("template")
                trap_gate_tbl = (
                    auto if external_traps is None
                    else external_traps.unionByName(auto).distinct()
                )
            t = _tick("trap_refresh", t)

        seen = io.read(*seen_names).select("url")

        # spider-trap / robots / redirect / host-slot gates [EXTENSION],
        # evaluated ONCE: gate_<rnd> holds every frontier row with its
        # verdict, and J1, the skip log and the next frontier are filtered
        # reads of it (its deferred count rides the write)
        gate, n_deferred, fetch_now = None, 0, frontier
        if (politeness_mode or trap_gate_tbl is not None
                or redirect_map is not None):
            gstats: dict = {}
            gate = io.write(
                _gate_frame(frontier, cfg, trap_gate_tbl, robots,
                            redirect_map, host_slots),
                f"gate_{rnd}", cfg.retry,
                observe=[F.count_if(F.col("verdict") == DEFER).alias("n_deferred")],
                obs_out=gstats,
            )
            n_deferred = int(gstats["n_deferred"])
            fetch_now = gate.filter(F.col("verdict") == FETCH).drop("verdict")
            if redirect_map is not None:
                # the request goes to the target, whose host the fetched
                # log records; the url identity is restored after J1's join
                fetch_now = fetch_now.select(
                    F.col("_fetch_url").alias("url"), "kind", "depth", "seq",
                    F.col("_fetch_host").alias("host"),
                    F.col("url").alias("_orig_url"),
                )
        t = _tick("gate", t)

        # J1 — fetch + size gate + ONE fused parse producing children AND
        # the rewritten page bytes (P1-P6 + T1 in a single Arrow pass — the
        # html column crosses the Python boundary once; assets skip parse,
        # main.go:207; a skipped page parses to nothing). save_path (S5)
        # lands here too, so the fetched log doubles as the pages sink —
        # pages_out is a column-pruned view of these files, not a second
        # copy. hits is deliberately NOT persisted (operators/fetch.py).
        bcast = n_frontier <= cfg.broadcast_fetch_max_rows
        hits = fetch_hits(fetch_now, pages, broadcast_frontier=bcast)
        fetched = fetch_round(
            fetch_now, hits, cfg.max_file_size, broadcast_frontier=bcast
        ).withColumn("round", F.lit(rnd))
        if redirects is not None:
            fetched = (
                fetched.withColumn("url", F.col("_orig_url"))
                .drop("_orig_url")
            )
        child_t = "array<struct<kind:string,url:string,pos:int>>"
        # Null the heavy html ARGUMENT, not the UDF result: Spark extracts
        # Python UDFs out of conditionals and evaluates them for every row,
        # so wrapping the UDF in F.when() still ships asset bodies across
        # the Arrow boundary. With the when() inside the argument, assets
        # pass NULL html and hit the UDF's cheap early-out — zero asset
        # bytes cross into Python.
        is_parsed_page = (F.col("kind") == "page") & F.col("html").isNotNull()
        parsed = parse_page_udf(
            "url", F.when(is_parsed_page, F.col("html"))
        )
        fetched = (
            fetched
            # content fingerprint of the PRE-rewrite bytes (JVM md5, rides
            # the write) — feeds the in-loop trap census; null = not fetched
            .withColumn("fingerprint", F.md5(F.col("html")))
            .withColumn("_p", parsed)
            .withColumn(
                "children",
                F.when(
                    F.col("kind") == "page",
                    F.coalesce(F.col("_p.children"), F.lit([]).cast(child_t)),
                ).otherwise(F.lit(None).cast(child_t)),
            )
            .withColumn(
                "html",
                F.when(is_parsed_page, F.col("_p.html_out")).otherwise(
                    F.col("html")
                ),
            )
            .withColumn(
                "save_path",
                F.when(F.col("kind") == "page", page_save_path_udf("url"))
                .otherwise(asset_save_path_udf("url")),
            )
            .drop("_p")
        )
        if gate is not None:
            fetched = fetched.unionByName(_skip_log(gate, fetched.schema, rnd))
        # the child count rides the write as an observed metric: it sizes
        # the J2 scheduler below without a count job
        jstats: dict = {}
        fetched = io.write(
            fetched, f"fetched_{rnd}", cfg.retry,
            observe=_child_aggs(), obs_out=jstats,
        )
        t = _tick("fetch_extract", t)

        # J2 — children explode → depth gate → within-round first-writer
        # dedup → bloom-pruned anti-join vs seen → budget + seq → enqueue
        if cfg.normalize_urls:
            from go_crawler_spark.functions.urls import rfc3986_normalize_expr

            _child_url = rfc3986_normalize_expr(F.col("c.url"))
        else:
            _child_url = F.col("c.url")
        children = (
            fetched.select(
                F.col("seq").alias("parent_seq"),
                F.col("depth").alias("parent_depth"),
                F.explode("children").alias("c"),
            )
            .select(
                _child_url.alias("url"),
                F.col("c.kind").alias("kind"),
                (F.col("parent_depth") + 1).alias("depth"),
                "parent_seq",
                F.col("c.pos").alias("pos"),
            )
        )
        candidates = children.filter(F.col("depth") <= cfg.max_depth)
        budget_remaining = max(cfg.max_count - pages_enqueued, 0)
        # the round's real child count, not the frontier's: politeness-
        # deferred frontier rows fetch nothing and have no children
        small = int(jstats["n_children"]) <= SMALL_INPUT_ROWS
        verdicts = None
        filter_obs = None
        if small:
            # first-writer dedup happens inside the fused ordered pass
            new_urls = dedup_against_seen(
                candidates, seen, "url", bloom,
                mark_definite="_definite" if bloom is not None else None,
            )
            if bloom is not None:
                new_urls, filter_obs = _observe_filter_pruned(new_urls)
            enq = _enqueue_small(new_urls, budget_remaining, seq_next, rnd + 1)
        else:
            candidates = first_writer_dedup(candidates, "url", ORDER_COLS)
            if bloom is None:
                new_urls = dedup_against_seen(candidates, seen, "url", None)
            else:
                # evaluate the filter verdict ONCE: the definite-new /
                # maybe-seen branches below would otherwise each recompute
                # the python membership pass over all candidates
                verdicts = bloom_prefilter(candidates, bloom, "url").persist()
                definitely_new = verdicts.filter(~F.col("_maybe")).drop(
                    "_h1", "_h2", "_maybe"
                ).withColumn("_definite", F.lit(True))
                maybe = verdicts.filter(F.col("_maybe")).drop("_h1", "_h2", "_maybe")
                new_urls = definitely_new.unionByName(
                    anti_join_seen(maybe, seen, "url")
                    .withColumn("_definite", F.lit(False))
                )
                new_urls, filter_obs = _observe_filter_pruned(new_urls)
            enq = _enqueue_large(new_urls, budget_remaining, seq_next, rnd + 1)
        stats: dict = {}
        enq = io.write(
            enq, f"enqueue_{rnd + 1}", cfg.retry,
            observe=_admission_aggs(), obs_out=stats,
        )
        release_pending_caches()
        if verdicts is not None:
            verdicts.unpersist()
        # seen-filter audit row: the observation is already populated (the
        # enqueue write above executed the observed plan) — zero extra jobs
        flt = {"round": rnd, "active": bloom is not None,
               "pruned": 0, "candidates": None}
        if filter_obs is not None:
            pruned, cand = _filter_obs_counts(filter_obs)
            flt["pruned"] = pruned
            flt["candidates"] = cand
        seen_filter_log.append(flt)
        seen_names.append(f"enqueue_{rnd + 1}")
        n_admitted = int(stats["n_admitted"])
        pages_enqueued += int(stats["pages_admitted"])
        seq_next += n_admitted
        t = _tick("enqueue", t)

        # J3 — absorb the delta into the seen filter (admission counters
        # already arrived as observed metrics on the J2 write; while the
        # filter is below its activation threshold — or disabled — this
        # phase costs zero jobs)
        seen_rows += int(stats["n_rows"])
        if bloom is not None:
            bloom = _absorb_filter(enq, bloom)
        elif seen_rows >= cfg.bloom_min_seen_rows:
            # threshold crossed: build from the FULL log once; later
            # rounds absorb only their delta
            bloom = _absorb_filter(io.read(*seen_names), _new_seen_filter(cfg))
        t = _tick("absorb", t)

        # next frontier: this round's admitted rows ∪ its gate-deferred
        # rows — a read, sized by the two observed counts
        frontier = enq.filter(F.col("admitted")).select(*FRONTIER_COLS)
        if gate is not None:
            frontier = _deferred(gate).unionByName(frontier)
        n_frontier = n_admitted + n_deferred

        io.put_manifest(
            {"round": rnd, "seq_next": seq_next, "pages_enqueued": pages_enqueued,
             "seen_rows": seen_rows, "n_frontier": n_frontier,
             "config": {"max_count": cfg.max_count, "max_depth": cfg.max_depth,
                        "host_slots_per_round": cfg.host_slots_per_round}},
        )
        # the previous round's gate fed only this round's frontier
        if rnd > 0:
            io.delete(f"gate_{rnd - 1}")
        # every frame that outlives the round (enq, frontier) is a parquet
        # re-read by now — free the scheduler checkpoints, or each round
        # leaks one materialized frontier copy in executor storage
        release_pending_checkpoints()
        rnd += 1

    t = time.perf_counter()
    release_pending_checkpoints()  # covers the pre-loop seeds path too
    result = _assemble_result(spark, io, workdir, rnd, cfg)
    result.seen_filter = seen_filter_log
    _tick("assemble", t)
    return result


def _assemble_result(spark: SparkSession, io, workdir: str, rounds: int, cfg: CrawlConfig) -> CrawlResult:
    """Build the result tables from the per-round checkpoint logs — metrics
    in one job over the stored extraction arrays (M1 counter names from
    internal/metrics.go:14-18)."""

    def union_all(prefix: str) -> Optional[DataFrame]:
        names = []
        for n in io.list_names(prefix):
            try:
                int(n[len(prefix):])
            except ValueError:
                continue
            names.append(n)
        if not names:
            return None
        df = None
        for n in names:
            part = io.read(n)
            df = part if df is None else df.unionByName(part)
        return df

    enqueue = union_all("enqueue_")
    schedule = enqueue.filter(F.col("admitted")).select(
        "url", "kind", "depth", "seq", "host", "enqueue_round"
    )

    # the fetched log holds the gate-skipped rows too (their skip status,
    # no content); the pages sink and the metrics count fetches only
    raw_fetched = union_all("fetched_")
    fetched = None
    if raw_fetched is not None:
        fetched = raw_fetched.select(
            "url", "kind", "depth", "seq", "host", "round", "status", "size"
        )
        raw_fetched = raw_fetched.filter(~F.col("status").isin(*GATE_SKIPS))

    # S4/S5/T1 sink: the fetched log already holds the rewritten html and
    # save_path (fused into J1), so the sink table is a column-pruned VIEW
    # of those parquet files — zero extra copy, row-preserving skip
    # (SURVEY §3.2) included.
    pages_out = None
    if raw_fetched is not None:
        pages_out = raw_fetched.select(
            "url", "warc_ts", "html", "text", "lang",
            "status", "kind", "depth", "save_path", "round",
        )

    # metrics from the stored children arrays — zero-filled per round
    all_rounds = spark.range(rounds).select(F.col("id").cast("int").alias("round"))
    if raw_fetched is not None:
        fetch_m = raw_fetched.groupBy("round").agg(
            F.sum(F.when((F.col("kind") == "page") & (F.col("status") == "ok"), 1).otherwise(0)).alias("pages_crawled"),
            F.sum(F.when((F.col("kind") == "page") & (F.col("status") != "ok"), 1).otherwise(0)).alias("pages_failed"),
            F.sum("size").alias("bytes_downloaded"),
            F.sum(F.size(F.filter("children", lambda c: c["kind"] == "page"))).alias("links_discovered"),
            F.sum(F.size(F.filter("children", lambda c: c["kind"] != "page"))).alias("assets_found"),
        )
    else:
        fetch_m = spark.createDataFrame(
            [], "round int, pages_crawled long, pages_failed long, "
            "bytes_downloaded long, links_discovered long, assets_found long"
        )
    metrics = all_rounds.join(fetch_m, on="round", how="left").select(
        "round",
        F.coalesce("pages_crawled", F.lit(0)).alias("pages_crawled"),
        F.coalesce("pages_failed", F.lit(0)).alias("pages_failed"),
        F.coalesce("links_discovered", F.lit(0)).alias("links_discovered"),
        F.coalesce("assets_found", F.lit(0)).alias("assets_found"),
        F.coalesce("bytes_downloaded", F.lit(0)).alias("bytes_downloaded"),
    )

    return CrawlResult(
        schedule=schedule,
        fetched=fetched,
        pages_out=pages_out,
        metrics=metrics,
        seen=enqueue.select("url"),
        rounds=rounds,
        workdir=workdir,
    )
