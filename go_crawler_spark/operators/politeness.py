"""Per-host politeness slots + robots rules [EXTENSION — north rule].

The reference crawls a single host with no politeness (its Semaphore at
pkg/semaphore/semaphore.go:1-15 is defined but never used); the north rule
mandates per-host politeness buckets and robots.txt enforcement with skew
handled explicitly. Semantics (ours, documented, simulator-verified):

- per round, at most ``slots`` frontier items per canonical host are
  fetched, chosen in canonical ``seq`` order; the rest roll over to the
  next round keeping their seq (politeness delay quantized to rounds);
- robots: a ``(host, disallow_prefix)`` rules table; any frontier URL whose
  path starts with a disallowed prefix for its host is dropped with status
  'skipped_robots' (it stays in ``seen`` — it was enqueued already).

Skew: a simple ``row_number() over (partition by host order by seq)`` sends
every URL of a mega-host through one task. The salted two-phase variant
first ranks within (host, salt) — fanning a hot host across ``n_salts``
tasks and discarding all but ``slots`` rows per salt — then ranks the
survivors within host. Phase 2 sees at most ``slots * n_salts`` rows per
host regardless of host size, so the skewed window is bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def assign_fetch_slots(
    frontier: DataFrame,
    slots_per_host: int,
    n_salts: int = 8,
    host_col: str = "host",
    order_col: str = "seq",
    host_slots: DataFrame | None = None,
    eligible: Column | None = None,
) -> DataFrame:
    """``frontier`` plus a boolean ``fetch_now`` column: true for the rows
    fetched this round under per-host slots, false for the rows deferred.

    ``slots_per_host <= 0`` disables the global cap; ``host_slots`` is an
    optional per-host override table ``(host, host_slots)`` — e.g. derived
    from robots.txt Crawl-delay via
    :func:`go_crawler_spark.functions.robots.crawl_delay_slots` — joined
    broadcast (a host-level table is tiny next to the frontier). A host's
    limit is its override if present, else the global cap (unlimited when
    the global cap is off). Only ``eligible`` rows (default all) compete
    for slots; the others ride along with ``fetch_now`` false. Phase 2
    ranks a host's phase-1 survivors together while every other row stays
    in its (host, salt) partition, so no task sees a whole mega-host.

    Deterministic: ``order_col`` is a total order, and the salt is a pure
    function of the URL (xxhash64 % n_salts), not a random number.
    """
    ok = F.lit(True) if eligible is None else eligible
    if slots_per_host <= 0 and host_slots is None:
        return frontier.withColumn("fetch_now", ok)
    default_limit = slots_per_host if slots_per_host > 0 else 2**31 - 1

    base = frontier.withColumn("_ok", ok)
    if host_slots is not None:
        base = base.join(
            F.broadcast(host_slots.select(F.col("host").alias(host_col),
                                          "host_slots")),
            on=host_col, how="left",
        )
        limit = F.coalesce(F.col("host_slots"), F.lit(default_limit))
    else:
        limit = F.lit(default_limit)

    salted = base.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("url"), F.lit(7)), F.lit(n_salts))
    )
    # eligible rows rank first, so a rider never takes a slot
    order = [F.col("_ok").desc(), F.col(order_col)]
    w1 = Window.partitionBy(host_col, "_salt").orderBy(*order)
    phase1 = salted.withColumn("_r1", F.row_number().over(w1))
    survivor = F.col("_ok") & (F.col("_r1") <= limit)

    w2 = Window.partitionBy(
        host_col, F.when(survivor, F.lit(-1)).otherwise(F.col("_salt"))
    ).orderBy(*order)
    phase2 = phase1.withColumn("_r2", F.row_number().over(w2))
    drop_cols = ["_ok", "_salt", "_r1", "_r2"] + (
        ["host_slots"] if host_slots is not None else []
    )
    return phase2.withColumn(
        "fetch_now", survivor & (F.col("_r2") <= limit)
    ).drop(*drop_cols)


def robots_blocked(
    frontier: DataFrame,
    robots: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """``frontier`` plus a boolean ``robots_blocked`` column: true where
    the robots rules disallow the URL in ``url_col`` for ``host_col``.

    Two rule-table shapes are accepted:

    - ``(host, disallow_prefix)`` — the simple any-prefix-blocks model
      (historic robots.txt subset; simulator-verified in the crawl loop);
    - an RFC 9309 rules table ``(host, agent, allow, pattern, pattern_len,
      regex)`` as produced by
      :func:`go_crawler_spark.functions.robots.parse_robots_rules` —
      full longest-match semantics with wildcards/anchors and
      allow-wins-ties, evaluated by
      :func:`go_crawler_spark.functions.robots.robots_verdict`.

    Either way the rules side is a small dimension table → broadcast
    join; the frontier is never shuffled. The simple shape is grouped to
    one ``(host, prefixes)`` row per host inside one partition (being
    broadcast, the rules are driver-sized, so they are not shuffled
    either), so each frontier row meets at most one rule row and its
    verdict is a map-side ``exists`` over that host's prefixes: a NULL
    path is allowed, an empty prefix blocks every non-NULL path, and
    duplicate rules change nothing.
    """
    if "pattern" in robots.columns:
        from go_crawler_spark.functions.robots import robots_verdict

        verdict = robots_verdict(frontier, robots, url_col=url_col,
                                 host_col=host_col)
        return verdict.withColumn(
            "robots_blocked", ~F.col("robots_allowed")
        ).drop("robots_allowed")
    rules = F.broadcast(
        robots.coalesce(1)
        .groupBy(F.col("host").alias("_rhost"))
        .agg(F.collect_set("disallow_prefix").alias("_prefixes"))
    )
    path = F.parse_url(F.col(url_col), F.lit("PATH"))
    return frontier.join(
        rules, F.col(host_col) == F.col("_rhost"), how="left"
    ).select(
        *frontier.columns,
        F.coalesce(
            F.exists("_prefixes", lambda p: path.startswith(p)), F.lit(False)
        ).alias("robots_blocked"),
    )


def apply_robots(frontier: DataFrame, robots: DataFrame, host_col: str = "host") -> tuple[DataFrame, DataFrame]:
    """Split frontier into (allowed, blocked) by robots rules
    (:func:`robots_blocked` gives the verdict and its semantics)."""
    marked = robots_blocked(frontier, robots, host_col=host_col)
    cols = frontier.columns
    return (
        marked.filter(~F.col("robots_blocked")).select(*cols),
        marked.filter(F.col("robots_blocked")).select(*cols),
    )


def allocate_host_budget(
    hosts: DataFrame,
    budget: int,
    host_col: str = "host",
    weight_col: str = "weight",
    broadcast_winners_max_rows: int = 1_000_000,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a global page budget
    across hosts [EXTENSION — north rule "per-host politeness buckets" +
    Q2 budget]: (host_col, quota) with Σ quota == min(budget, handing every
    host its proportional share) and quota_h ∈ {floor(share_h),
    floor(share_h)+1}.

    A 10^10-URL frontier can't give every host ``slots`` fetches per round
    — the round budget itself must be SPLIT across hosts proportionally to
    a weight (pending-URL count, host quality, revisit pressure). Hamilton
    apportionment is the standard exact method: quota_h =
    floor(budget·w_h/W), then the budget - Σfloor leftover units go to the
    largest fractional remainders (ties: host ascending).

    Engine-exact: shares are never computed as floats — floor(budget·w/W)
    and the remainder budget·w - floor·W are INTEGER arithmetic (products
    < 2^53 for any real budget/weight), so a SQL oracle reproduces the
    allocation bit for bit.

    Scale shape: W and Σfloor are one bounded agg (two scalars to the
    driver); the leftover top-r selection runs through
    :func:`go_crawler_spark.operators.sequence.priority_schedule`'s
    range-partitioned two-pass (no single-task ordered merge — the host
    table at web scale is 10^8-10^9 rows); the +1 winners re-join the
    quota table by host hash — broadcast only while ``leftover`` ≤
    ``broadcast_winners_max_rows`` (leftover can approach the host count
    under near-uniform remainders; a forced broadcast of 10^8 winners
    would kill the driver), shuffle hash join above it. The cached host
    frame is registered with
    :func:`go_crawler_spark.operators.sequence.release_pending_caches`;
    call it after materializing the result (the crawl loop already does
    per round). Weights ≤ 0 are treated as 0 (no quota).
    """
    from go_crawler_spark.operators.sequence import (
        _PENDING_CACHES,
        priority_schedule,
    )

    # persisted: the W total, the Σfloor total, and the caller's final
    # evaluation all read this host-level frame — (host, long) scalars,
    # tiny next to the frontier, and without the cache the upstream host
    # aggregation would run once per action. Registered in _PENDING_CACHES
    # so release_pending_caches() (which the crawl loop already calls after
    # materializing each round) frees it — a bare persist leaked one cached
    # frame per call across repeated per-round invocations.
    w = hosts.select(
        F.col(host_col),
        F.greatest(F.col(weight_col).cast("long"), F.lit(0)).alias("_w"),
    ).persist()
    _PENDING_CACHES.append(w)
    tot = w.agg(F.sum("_w").alias("tw")).first()
    total_w = int(tot["tw"] or 0)
    if total_w == 0 or budget <= 0:
        return w.select(host_col, F.lit(0).cast("long").alias("quota"))

    base = w.select(
        F.col(host_col),
        "_w",
        (F.col("_w") * F.lit(budget)).alias("_num"),
    ).selectExpr(
        host_col,
        # `div` = ANSI integer division (LONG) — no double division in
        # sight; `%` on longs is the exact fractional remainder in [0, W)
        f"_num div {total_w} AS _floor",
        f"_num % {total_w} AS _rem",
    )
    floor_sum = base.agg(F.sum("_floor").alias("fs")).first()
    leftover = budget - int(floor_sum["fs"] or 0)

    if leftover <= 0:
        return base.select(host_col, F.col("_floor").alias("quota"))

    winners = priority_schedule(
        base.filter(F.col("_rem") > 0).select(
            host_col, (-F.col("_rem")).alias("_neg_rem")
        ),
        ["_neg_rem", host_col],
        k=leftover,
    ).select(
        F.col(host_col).alias("_win_host"), F.lit(True).alias("_matched")
    )
    # leftover < host count but CAN approach it (near-uniform remainders on
    # a 10^8-host table): only force the broadcast when the winner set is
    # driver-safe; above the bound let the planner hash-join on host
    if leftover <= broadcast_winners_max_rows:
        winners = F.broadcast(winners)

    return (
        base.join(
            winners,
            # null-safe: a NULL host group (frontier rows whose host
            # failed to parse) is a legitimate apportionment bucket; a
            # plain == would drop its +1 and break Σ quota == budget
            base[host_col].eqNullSafe(winners["_win_host"]),
            "left",
        )
        .select(
            host_col,
            (
                F.col("_floor")
                + F.when(F.col("_matched"), 1).otherwise(0)
            ).cast("long").alias("quota"),
        )
    )


def adaptive_host_delay(
    fetch_log: DataFrame,
    delay_factor: tuple[int, int] = (3, 2),
    min_delay_ms: int = 250,
    max_delay_ms: int = 30_000,
    host_col: str = "host",
    response_ms_col: str = "response_ms",
) -> DataFrame:
    """Latency-adaptive politeness delay [EXTENSION]: per host, the next
    round's inter-request delay scales with the host's OBSERVED response
    time — Heritrix's ``delayFactor`` discipline (its default politeness:
    wait delay-factor × last fetch duration before the next request to
    the same queue), computed over the round's fetch log:

        delay_ms(h) = clamp(factor · mean(response_ms of h),
                            min_delay_ms, max_delay_ms)

    A struggling host (slow responses) is automatically backed off;
    a fast CDN gets the floor. A host whose every ``response_ms`` is
    NULL has no evidence of its speed: it gets ``n_obs = 0`` and
    ``delay_ms = max_delay_ms`` (full back-off), with ANSI on or off.
    Feed the result into ``assign_fetch_slots(host_slots=...)`` after
    quantizing delay to slots-per-round — the engine's politeness
    currency.

    ``delay_factor`` is a rational (num, den) and the whole statistic is
    exact integer arithmetic — ``(num · Σ response) div (den · count)``
    — so two engines (and two cluster sizes) agree bit for bit; no float
    means no drift in the clamp comparison either.

    Scale shape: one two-phase aggregate to one row per host (map-side
    partial sums; the exchange carries (host, sum, count) only), then a
    map-only clamp. Mega-host skew is irrelevant — a sum/count combines
    associatively regardless of row distribution.
    """
    num, den = delay_factor
    agg = fetch_log.groupBy(F.col(host_col).alias("host")).agg(
        F.sum(F.col(response_ms_col).cast("long")).alias("_sum"),
        F.count(response_ms_col).alias("_n"),
    )
    # `div` = ANSI integer division on longs — no double division, so the
    # statistic stays exact past 2^52 (a mega-host's ms-sum at 10^10 rows
    # would already round in an IEEE double)
    raw = F.expr(f"({num} * _sum) div ({den} * _n)")
    # all-NULL host: _sum is NULL, so the division is skipped (no ANSI
    # divide-by-zero), raw is NULL, and least/greatest skip it -> max
    delay = F.greatest(
        F.lit(min_delay_ms).cast("long"),
        F.least(F.lit(max_delay_ms).cast("long"), raw),
    )
    return agg.select(
        "host",
        F.col("_n").alias("n_obs"),
        delay.alias("delay_ms"),
    )
