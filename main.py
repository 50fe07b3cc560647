#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (north rule: "run via
spark-submit --py-files on a multi-executor cluster").

    spark-submit --py-files go_crawler_spark.zip main.py \
        --corpus /data/pages_parquet \
        --seeds https://example.com/ https://example.org/ \
        --max-count 100000 --max-depth 8 --host-slots 16 \
        --output ./crawl_out

    # resume an interrupted crawl from its checkpoint
    spark-submit ... main.py --corpus ... --resume ./crawl_out/work

CLI flags override ``CRAWLER_*`` environment variables which override the
defaults — exactly the reference's LoadConfig layering
(internal/config.go:25-57). With no --corpus, a deterministic synthetic
Common-Crawl-style corpus is generated (sandbox mode).

The package dir itself is importable when submitted from the repo root; on
a cluster ship it with ``--py-files`` (zip of go_crawler_spark/).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# local-mode python workers inherit PYTHONPATH; on a cluster use
# --py-files with a zip of go_crawler_spark/ instead
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="PySpark crawl engine")
    p.add_argument("--corpus", help="parquet path of the pages table "
                   "(url, warc_ts, html, text, lang); omit for synthetic")
    p.add_argument("--synthetic-pages", type=int, default=4800,
                   help="synthetic corpus size when --corpus is omitted")
    p.add_argument("--seeds", nargs="*", default=None, help="seed URLs")
    p.add_argument("--seeds-file", help="file with one seed URL per line, "
                   "or a parquet path with a url column (distributed seeds)")
    p.add_argument("--max-count", type=int, default=None,
                   help="page budget (CRAWLER_MAX_COUNT; default 100)")
    p.add_argument("--max-depth", type=int, default=None)
    p.add_argument("--host-slots", type=int, default=None,
                   help="politeness: max fetches per host per round (0=off)")
    p.add_argument("--seen-filter-min-rows", type=int, default=None,
                   help="seen-log rows below which the bloom "
                        "prefilter stays dormant (exact anti-join "
                        "broadcasts anyway); 0 = always on")
    p.add_argument("--seen-filter", choices=("bloom", "none"), default=None,
                   help="bloom-prune the seen anti-join (default) or run "
                        "the exact anti-join alone")
    p.add_argument("--trap-templates", help="parquet of spider-trap "
                   "templates (a url_trap_census output or a bare "
                   "template column); matching frontier URLs are blocked "
                   "with status skipped_trap")
    p.add_argument("--normalize-urls", action="store_true",
                   help="RFC 3986 syntax-based normalization of every URL "
                        "entering the frontier (seeds + extracted children) "
                        "before the seen-check; a resumed crawl must use "
                        "the same setting")
    p.add_argument("--trap-refresh-rounds", type=int, default=0,
                   help="re-census the fetched log every N rounds and gate "
                        "newly flagged trap templates in-crawl (0=off); "
                        "composes with --trap-templates")
    p.add_argument("--trap-min-urls", type=int, default=20,
                   help="census threshold: templates with at least this "
                        "many fetched URLs (and <=1/4 distinct content) "
                        "are flagged as traps")
    p.add_argument("--redirects", help="parquet of (src_url, dst_url) "
                   "redirect hops; each round's frontier pre-resolves "
                   "through it under the Go client's 10-request budget — "
                   "budget-stopped chains are blocked as skipped_redirect, "
                   "resolved rows fetch the final target's content under "
                   "their original URL identity")
    p.add_argument("--robots", help="parquet/csv path with "
                   "(host, disallow_prefix) rules, an RFC 9309 rules "
                   "table from parse_robots_rules, or a (host, body) "
                   "table of raw robots.txt files (auto-parsed)")
    p.add_argument("--round-seconds", type=float, default=0,
                   help="with a raw robots.txt corpus (--robots host/body "
                   "table): honor Crawl-delay by granting each host "
                   "floor(round_seconds/delay) politeness slots per round")
    p.add_argument("--output", default="./crawl_out",
                   help="output dir (CRAWLER_OUTPUT_DIR)")
    p.add_argument("--resume", help="workdir of an interrupted crawl "
                   "(its parquet checkpoint tables and MANIFEST.json)")
    p.add_argument("--compact", help="workdir whose per-round enqueue "
                   "deltas to merge into one bucketed seen table "
                   "(checkpoint maintenance; exits after compacting)")
    p.add_argument("--max-rounds", type=int, default=1000)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p.parse_args(argv)


def main(argv=None) -> None:
    from pyspark.sql import SparkSession

    from go_crawler_spark.config import CrawlConfig
    from go_crawler_spark.plans.crawl import resume_crawl, run_crawl

    args = parse_args(argv)

    overrides = {}
    if args.max_count is not None:
        overrides["max_count"] = args.max_count
    if args.max_depth is not None:
        overrides["max_depth"] = args.max_depth
    if args.host_slots is not None:
        overrides["host_slots_per_round"] = args.host_slots
    if args.seen_filter is not None:
        overrides["use_bloom"] = args.seen_filter == "bloom"
    if args.seen_filter_min_rows is not None:
        overrides["bloom_min_seen_rows"] = args.seen_filter_min_rows
    if args.shuffle_partitions is not None:
        overrides["shuffle_partitions"] = args.shuffle_partitions
    if args.normalize_urls:
        overrides["normalize_urls"] = True
    overrides["output_dir"] = args.output
    cfg = CrawlConfig.from_env(**overrides)

    builder = (
        SparkSession.builder.appName("go-crawler-spark")
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # zstd checkpoint logs: round bytes are the non-scaling resource
        # (shared bus / store bandwidth); compression CPU scales with
        # cores — measured 9-13% faster rounds vs snappy (BENCH/BASELINE.md)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if "SPARK_MASTER" not in os.environ and not os.environ.get("SPARK_SUBMIT"):
        builder = builder.master(os.environ.get("CRAWLER_SPARK_MASTER", "local[*]"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.corpus:
        pages = spark.read.parquet(args.corpus)
    else:
        from go_crawler_spark.datagen import generate_pages_df

        pages = generate_pages_df(spark, args.synthetic_pages, seed=42).cache()
        pages.count()

    robots = None
    host_slots = None
    if args.robots:
        reader = spark.read
        robots = (
            reader.parquet(args.robots)
            if args.robots.endswith(".parquet") or os.path.isdir(args.robots)
            else reader.option("header", True).csv(args.robots)
        )
        if "body" in robots.columns:  # raw robots.txt corpus -> RFC rules
            from go_crawler_spark.functions.robots import (
                crawl_delay_slots,
                parse_crawl_delays,
                parse_robots_rules,
            )

            if args.round_seconds > 0:
                host_slots = crawl_delay_slots(
                    parse_crawl_delays(robots), args.round_seconds
                )
            robots = parse_robots_rules(robots)

    if args.compact:
        from go_crawler_spark.plans.crawl import compact_enqueue_log

        merged = compact_enqueue_log(spark, args.compact, cfg)
        print(f"compacted: {merged} enqueue delta tables merged into enqueue_0")
        return

    trap_templates = (
        spark.read.parquet(args.trap_templates) if args.trap_templates else None
    )
    redirects = (
        spark.read.parquet(args.redirects) if args.redirects else None
    )

    if args.resume:
        res = resume_crawl(spark, pages, cfg, args.resume,
                           robots=robots, max_rounds=args.max_rounds,
                           host_slots=host_slots,
                           trap_templates=trap_templates,
                           trap_refresh_rounds=args.trap_refresh_rounds,
                           trap_min_urls=args.trap_min_urls,
                           redirects=redirects)
    else:
        if args.seeds_file:
            if args.seeds_file.endswith(".parquet") or os.path.isdir(args.seeds_file):
                seeds = spark.read.parquet(args.seeds_file).select("url")
            else:
                with open(args.seeds_file) as f:
                    seeds = [line.strip() for line in f if line.strip()]
        elif args.seeds:
            seeds = args.seeds
        else:
            from go_crawler_spark.datagen import default_seeds

            seeds = default_seeds()
        workdir = os.path.join(args.output, "work")
        os.makedirs(args.output, exist_ok=True)
        res = run_crawl(spark, pages, seeds, cfg, robots=robots,
                        workdir=workdir, max_rounds=args.max_rounds,
                        host_slots=host_slots,
                        trap_templates=trap_templates,
                        trap_refresh_rounds=args.trap_refresh_rounds,
                        trap_min_urls=args.trap_min_urls,
                        redirects=redirects)

    # publish the user-facing tables (S4 sink + schedule + metrics);
    # pages_out/fetched are None when no round produced a fetched_ log
    # (all seeds refused by budget, robots blocking everything, or
    # --max-rounds 0) — emit zero counts instead of crashing
    if res.pages_out is not None:
        res.pages_out.write.mode("overwrite").parquet(os.path.join(args.output, "pages"))
    res.schedule.write.mode("overwrite").parquet(os.path.join(args.output, "schedule"))
    res.metrics.write.mode("overwrite").parquet(os.path.join(args.output, "metrics"))

    summary = {
        "rounds": res.rounds,
        "urls_scheduled": res.schedule.count(),
        "pages_fetched": res.fetched.filter("status = 'ok'").count() if res.fetched is not None else 0,
        "output": args.output,
        "workdir": res.workdir,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
