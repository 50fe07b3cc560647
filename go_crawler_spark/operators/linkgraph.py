"""Link-graph analytics over crawl output [EXTENSION — training-data ops].

A crawler's product is not just pages — it is the *web graph*. These
operators run on an ``edges(src, dst)`` DataFrame (one row per link), which
the engine produces naturally: ``CrawlResult.fetched`` carries the
extracted ``children`` arrays, so

    edges = fetched.select(F.col("url").alias("src"),
                           F.explode("children").alias("c"))
                   .filter(F.col("c.kind") == "page")
                   .select("src", F.col("c.url").alias("dst"))

Scale shape:
- degree counts are single map-side-combined aggregations;
- PageRank is the canonical iterative-join workload: each iteration is
  ``edges ⋈ ranks`` (shuffle on ``src``) → contribution agg (shuffle on
  ``dst``). On a cluster, bucket ``edges`` by ``src`` (a bucketed table
  or ``repartition(src)`` + persist) so the per-iteration join
  reuses one partitioning; ranks are tiny relative to edges and shuffle
  cheaply. Lineage is truncated per iteration (localCheckpoint) so the
  plan stays O(1) deep — the classic iterative-algorithm requirement.

Semantics (documented, oracle-checked in __spark_entry__):
  PR_0(v)   = 1/N
  PR_k+1(v) = (1-d)/N + d * Σ_{(u,v)∈E} PR_k(u) / outdeg(u)
Dangling-node mass (nodes with no out-links) is dropped, not
redistributed — the simplest fixed-point form, and expressible in plain
SQL so DuckDB can verify it exactly at a fixed iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_crawler_spark.operators.sequence import unpersist_local_checkpoint


def out_degrees(edges: DataFrame) -> DataFrame:
    """(node, out_degree) for nodes with ≥1 out-link."""
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_degree")
    )


def in_degrees(edges: DataFrame) -> DataFrame:
    """(node, in_degree) for nodes with ≥1 in-link."""
    return edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_degree")
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank. ``nodes`` has one column ``node`` (the
    universe — including isolated nodes); ``edges`` has (src, dst).
    Returns (node, rank).

    Deterministic for a fixed n_iter; no tolerance-based early exit, so
    the DuckDB oracle can reproduce it join-for-join.
    """
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    outd = out_degrees(edges)
    # edges ⋈ outdeg is iteration-invariant: precompute the per-edge weight
    weighted = edges.join(outd, edges["src"] == outd["node"]).select(
        "src", "dst", (F.lit(1.0) / F.col("out_degree")).alias("w")
    )
    weighted = weighted.persist()
    weighted.count()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    prev_ck = None
    for i in range(n_iter):
        contribs = (
            weighted.join(ranks, weighted["src"] == ranks["node"])
            .select("dst", (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("incoming"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce("incoming", F.lit(0.0))).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < n_iter:
            # truncate lineage on long runs (plan depth is O(iterations));
            # the PREVIOUS checkpoint is dead the moment the new one is
            # eagerly materialized — free it, or a long run holds every
            # iteration's rank table in executor storage at once
            new_ranks = ranks.localCheckpoint(eager=True)
            if prev_ck is not None:
                unpersist_local_checkpoint(prev_ck)
            ranks = prev_ck = new_ranks
    weighted.unpersist()
    return ranks


def trustrank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): biased
    PageRank whose teleport vector is uniform over a *trusted seed set*
    instead of the whole graph —

        r_{t+1}(v) = (1-α)·d(v) + α·Σ_{u→v} r_t(u)/outdeg(u),
        d(v) = 1/|S| if v ∈ S else 0,   r_0 = d.

    Trust flows outward from vetted hosts; link-farm spam that PageRank
    rewards (dense reciprocal in-links from other spam) scores ≈0 here
    because no trust path reaches it. The standard anti-spam companion to
    the crawl tier's trap census: traps.py removes *structural* crawl
    sinks, TrustRank demotes *adversarial* link neighborhoods, and the
    priority frontier (Q2/priority_frontier_topk) can schedule by either.

    ``nodes``: (node) universe; ``edges``: (src, dst); ``seeds``: (node)
    trusted set. Seed rows not in ``nodes`` are dropped before |S| is
    counted: they would get no teleport mass, so counting them would
    leave the total trust below 1. Deterministic for fixed n_iter (no
    tolerance exit), so the DuckDB oracle reproduces it join-for-join.

    Scale shape: identical to pagerank() — each iteration is one
    edges ⋈ ranks shuffle + one agg on dst; the per-edge 1/outdeg weight
    is precomputed once and persisted; the seed flag rides ``nodes`` as a
    broadcast-joinable bit (|S| ≪ |V|: a curated whitelist is ~10^4-10^6
    hosts against a 10^10 frontier). Ranks are (node, double) pairs —
    never wider. Lineage is truncated every ``checkpoint_every``
    iterations exactly as pagerank() does.
    """
    s = seeds.select("node").distinct().join(
        nodes.select("node"), "node", "left_semi"
    )
    s_count = s.count()
    if s_count == 0:
        # no trust anywhere: the fixed point is identically zero
        return nodes.withColumn("rank", F.lit(0.0))

    outd = out_degrees(edges)
    weighted = edges.join(outd, edges["src"] == outd["node"]).select(
        "src", "dst", (F.lit(1.0) / F.col("out_degree")).alias("w")
    )
    weighted = weighted.persist()
    weighted.count()

    # teleport vector d: 1/|S| on seeds, 0 elsewhere (broadcast the seed
    # bit — the whitelist is tiny next to the node universe)
    d_nodes = nodes.join(
        F.broadcast(s.withColumn("_seed", F.lit(1))), "node", "left"
    ).select(
        "node",
        F.when(F.col("_seed").isNotNull(), F.lit(1.0 / s_count))
        .otherwise(F.lit(0.0))
        .alias("d"),
    )
    d_nodes = d_nodes.persist()

    ranks = d_nodes.select("node", F.col("d").alias("rank"))
    base = 1.0 - damping
    prev_ck = None
    for i in range(n_iter):
        contribs = (
            weighted.join(ranks, weighted["src"] == ranks["node"])
            .select("dst", (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("incoming"))
        )
        ranks = (
            d_nodes.join(contribs, d_nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base) * F.col("d")
                    + F.lit(damping) * F.coalesce("incoming", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < n_iter:
            new_ranks = ranks.localCheckpoint(eager=True)
            if prev_ck is not None:
                unpersist_local_checkpoint(prev_ck)
            ranks = prev_ck = new_ranks
    weighted.unpersist()
    d_nodes.unpersist()
    return ranks


def hits(nodes: DataFrame, edges: DataFrame, n_iter: int = 2) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999), fixed iteration count.
    ``nodes`` has one column ``node``; ``edges`` has (src, dst). Returns
    (node, hub, authority) with each score L1-normalized over the graph.

    Engine-exact variant: the power iterations run UNNORMALIZED over
    integer weights — auth_k(v) = Σ_{u→v} hub_{k-1}(u), hub_k(u) =
    Σ_{u→v} auth_k(v), hub_0 ≡ 1 — which makes every intermediate an
    exact path COUNT (no floats anywhere inside the loop), so a SQL
    oracle reproduces the fixed point bit for bit; the single final
    division by the exact integer L1 total is IEEE-exact in any engine.
    Mathematically this is classic HITS with normalization deferred to
    the end (scaling commutes with the linear updates). Counts grow like
    (avg degree)^{2·n_iter}·N, so the accumulators are decimal(38,0) —
    exact to 10^38, roomy for n_iter 2-4 (where HITS rankings stabilize
    on web graphs) at any web degree — and overflow FAILS LOUDLY instead
    of wrapping: a decimal sum that overflows yields NULL in non-ANSI
    Spark, and a NULL sum under a non-NULL group key can mean nothing
    else (join-miss nulls never reach the aggregator), so the iteration
    raises right there; the final L1 totals get the same driver-side
    check.

    Scale shape: each half-iteration is edges ⋈ scores (shuffle on one
    endpoint) → agg on the other — the same iterative-join workload as
    PageRank; bucket ``edges`` by src once and both joins reuse the
    partitioning. Scores are (node, int) pairs — never wider.
    """
    if n_iter < 1:
        raise ValueError("hits() needs n_iter >= 1 (authority is undefined "
                         "before the first in-sum)")
    acc = "decimal(38,0)"

    def _guarded(group_key, val_col, name):
        # group_key non-null + NULL sum == decimal overflow (path counts
        # are never null going in); join-miss rows have a null group_key
        # and legitimately score 0
        return (
            F.when(
                group_key.isNotNull() & F.col(val_col).isNull(),
                F.raise_error(
                    F.lit(
                        f"hits(): {name} path count overflowed "
                        "decimal(38,0) — lower n_iter (rankings "
                        "stabilize by 2-4 on web graphs)"
                    )
                ).cast(acc),
            )
            .otherwise(F.coalesce(F.col(val_col), F.lit(0)).cast(acc))
        )

    hub = nodes.withColumn("h", F.lit(1).cast(acc))
    auth = None
    prev_hub_ck = None
    for i in range(n_iter):
        a_in = (
            edges.join(hub, edges["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
        )
        auth = nodes.join(a_in, nodes["node"] == a_in["dst"], "left").select(
            "node", _guarded(a_in["dst"], "a", "authority").alias("a")
        )
        h_out = (
            edges.join(auth, edges["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
        )
        hub = nodes.join(h_out, nodes["node"] == h_out["src"], "left").select(
            "node", _guarded(h_out["src"], "h", "hub").alias("h")
        )
        if (i + 1) % 5 == 0 and i + 1 < n_iter:
            new_hub = hub.localCheckpoint(eager=True)
            if prev_hub_ck is not None:
                unpersist_local_checkpoint(prev_hub_ck)
            hub = prev_hub_ck = new_hub

    # persist the joined integer scores: the totals action and the
    # returned normalization plan both read them — without this the whole
    # 2·n_iter-stage iterative DAG runs twice (same reason pagerank
    # persists `weighted`)
    scores = hub.join(auth, "node").persist()
    totals = scores.agg(
        F.sum("h").alias("th"), F.sum("a").alias("ta"), F.count("*").alias("n")
    ).first()
    if int(totals["n"]) > 0 and (totals["th"] is None or totals["ta"] is None):
        scores.unpersist()
        raise OverflowError(
            "hits(): L1 total overflowed decimal(38,0) — lower n_iter"
        )
    th = int(totals["th"] or 0) or 1
    ta = int(totals["ta"] or 0) or 1
    return scores.select(
        "node",
        (F.col("h").cast("double") / F.lit(float(th))).alias("hub"),
        (F.col("a").cast("double") / F.lit(float(ta))).alias("authority"),
    )


def edges_from_fetched(fetched: DataFrame) -> DataFrame:
    """Crawl-native edge extraction: fetched log (with children arrays) →
    (src, dst) page-link edges."""
    return (
        fetched.filter(F.col("children").isNotNull())
        .select(F.col("url").alias("src"), F.explode("children").alias("c"))
        .filter(F.col("c.kind") == "page")
        .select("src", F.col("c.url").alias("dst"))
    )


def rollup_graph(
    edges: DataFrame,
    src_key,
    dst_key,
    drop_self: bool = True,
) -> DataFrame:
    """Aggregate the page-level link graph to a coarser node key — the
    host-level / registrable-domain-level webgraph, the exact product
    Common Crawl publishes alongside its page crawls (host graph and
    domain graph releases). ``src_key``/``dst_key`` are Column
    expressions over the edge row (e.g. ``surt_host_expr('src')`` or
    ``registrable_domain_expr(...)``); same-key edges (intra-host links —
    the overwhelming majority on real sites) are dropped by default,
    matching the published graphs' cross-host semantics.

    Returns (src, dst, n_links) with n_links the multiplicity — the
    weighted edge the centrality tiers (pagerank/trustrank/hits, which
    accept duplicate edges as weight) can consume directly, or
    deduplicate via the weight column.

    Scale shape: key derivation is map-only; the single exchange carries
    (src_key, dst_key) pairs — never URLs or page bytes — and the count
    combines map-side, so a 10^11-edge page graph reduces to the ~10^8-row
    host graph with one bounded shuffle.
    """
    e = edges.select(src_key.alias("src"), dst_key.alias("dst"))
    if drop_self:
        e = e.filter(F.col("src") != F.col("dst"))
    return e.groupBy("src", "dst").agg(F.count("*").alias("n_links"))
