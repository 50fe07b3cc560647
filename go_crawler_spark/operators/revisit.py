"""Incremental re-crawl operators [EXTENSION — north-rule scale concerns].

The reference crawls once and exits (cmd/crawler/main.go drains the queue
and terminates, internal/queue.go:101-106); a 10^10-URL production frontier
is instead *maintained*: each crawl cycle must (a) diff the new snapshot
against the previous one to find changed/new/vanished pages, and (b) decide
which known URLs are due for a re-fetch, budgeting politeness toward pages
that actually change. Both operators below are pure DataFrame plans —
built-in JVM expressions only, no Python in the row path.

Scale shape:
- ``snapshot_diff`` is one full-outer join keyed on the URL. Both sides
  shuffle on the join key once; with snapshots stored in a table format
  that declares buckets on ``xxhash64(url)``, the exchange is elided
  entirely — a storage-partitioned join, the same answer as the fetch
  join's shuffle-hash fallback (operators/fetch.py). Only (key, fingerprint)
  enter the exchange — never page bytes.
- ``recrawl_schedule`` is a map-only expression over per-URL fetch stats
  (one row per URL, no shuffle at all); the caller feeds the due set into
  the existing politeness/budget operators (C4/Q2) for slotting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["snapshot_diff", "recrawl_schedule", "conditional_fetch_plan"]


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Classify every URL across two crawl snapshots.

    Returns one row per URL present in either snapshot with
    ``change ∈ {'added','removed','changed','unchanged'}`` plus both
    fingerprints (null where the side is absent). Content identity is the
    caller's fingerprint column (md5/xxhash64 of the canonicalized text —
    the same Q1 identity the dedup tier uses), so the join carries two
    short columns per side regardless of page size.
    """
    o = old.select(
        F.col(key_col).alias("_k"), F.col(fp_col).alias("old_fp")
    )
    n = new.select(
        F.col(key_col).alias("_k"), F.col(fp_col).alias("new_fp")
    )
    joined = o.join(n, "_k", "full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("_k").alias(key_col), "old_fp", "new_fp", change.alias("change")
    )


def recrawl_schedule(
    stats: DataFrame,
    now_epoch_s: int,
    url_col: str = "url",
    last_fetch_col: str = "last_fetch_ts",
    fetch_count_col: str = "fetch_count",
    change_count_col: str = "change_count",
    base_interval_s: int = 86_400,
    min_interval_s: int = 86_400,
    max_interval_s: int = 30 * 86_400,
) -> DataFrame:
    """Adaptive revisit policy (Cho & Garcia-Molina-style multiplicative
    backoff): a URL's revisit interval grows with the number of fetches
    that observed *no* change —

        interval_s = clamp(base · fetch_count / (change_count + 1),
                           min_interval_s, max_interval_s)

    so a page that changed on every fetch is revisited at ``base`` and a
    page that never changed backs off linearly in observations until the
    cap. Returns the DUE set (``last_fetch + interval ≤ now``) with
    ``interval_s`` and ``overdue_s`` (staleness — the natural re-fetch
    priority for Q2's ordered budget / the priority frontier).

    Map-only: one integer expression per row, no shuffle, no Python;
    ``now_epoch_s`` is a literal so two runs at the same logical time are
    identical (determinism the resume/checkpoint tier relies on).
    """
    # NTZ→timestamp→long = epoch seconds (UTC session tz pinned by the
    # engine config), matching DuckDB's floor(epoch(ts)) exactly
    last_epoch = F.col(last_fetch_col).cast("timestamp").cast("long")
    interval = F.floor(
        F.lit(float(base_interval_s))
        * F.col(fetch_count_col)
        / (F.col(change_count_col) + F.lit(1))
    ).cast("long")
    interval = F.greatest(
        F.lit(min_interval_s), F.least(F.lit(max_interval_s), interval)
    )
    overdue = F.lit(now_epoch_s) - (last_epoch + interval)
    return (
        stats.select(
            F.col(url_col),
            F.col(fetch_count_col),
            F.col(change_count_col),
            interval.alias("interval_s"),
            overdue.alias("overdue_s"),
        )
        .filter(F.col("overdue_s") > 0)
    )


def conditional_fetch_plan(
    log: DataFrame,
    now_epoch_s: int,
    url_col: str = "url",
    fetch_ts_col: str = "warc_ts",
    last_modified_col: str = "last_modified",
    etag_col: str = "etag",
    heuristic_divisor: int = 10,
) -> DataFrame:
    """HTTP revalidation planner [EXTENSION]: decide, per known URL, how
    the next crawl round should touch it — the standard cache-aware fetch
    discipline (RFC 9111 heuristic freshness + RFC 9110 conditional
    requests) that Heritrix/Nutch layer over a recrawl schedule so a
    10^10-URL round spends its byte budget only on content that may have
    changed.

    Verdicts, in precedence order:
    - ``fresh``            — age < heuristic lifetime (RFC 9111 §4.2.2:
                             lifetime = (fetch_ts - last_modified) /
                             ``heuristic_divisor``, the spec's "typically
                             10%" guidance); don't even revalidate.
    - ``revalidate_etag``  — stale but the origin gave a strong validator:
                             send If-None-Match (RFC 9110 §13.1.2 says
                             prefer entity tags over dates).
    - ``revalidate_ims``   — stale, date validator only: If-Modified-Since.
    - ``full``             — no validators; unconditional GET.

    A 304 answer to either revalidation costs headers only — at web scale
    the majority of a mature crawl's rounds — so the planner's output is
    exactly the byte-budget split the fetch tier schedules against.

    All arithmetic is integer epoch seconds (floor division for the
    lifetime), so the DuckDB oracle matches exactly; ``now_epoch_s`` is a
    literal, making the plan a pure function of the log (determinism the
    resume tier relies on). Map-only: one expression per row, no shuffle,
    no Python; at 10^10 rows this is a single codegen pass over the
    (url, ts, validators) projection — page bytes are never read.
    """
    fetch_epoch = F.col(fetch_ts_col).cast("timestamp").cast("long")
    lm_epoch = F.col(last_modified_col).cast("timestamp").cast("long")
    age = F.lit(now_epoch_s) - fetch_epoch
    lifetime = F.when(
        F.col(last_modified_col).isNotNull(),
        F.floor((fetch_epoch - lm_epoch) / F.lit(heuristic_divisor)).cast(
            "long"
        ),
    ).otherwise(F.lit(0))
    action = (
        F.when(age < lifetime, F.lit("fresh"))
        .when(F.col(etag_col).isNotNull(), F.lit("revalidate_etag"))
        .when(F.col(last_modified_col).isNotNull(), F.lit("revalidate_ims"))
        .otherwise(F.lit("full"))
    )
    validator = (
        F.when(action == "revalidate_etag", F.col(etag_col))
        .when(
            action == "revalidate_ims",
            F.col(last_modified_col).cast("timestamp").cast("string"),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return log.select(
        F.col(url_col),
        age.alias("age_s"),
        lifetime.alias("lifetime_s"),
        action.alias("action"),
        validator.alias("validator"),
    )
