"""Link-graph operators: hand-computed PageRank on a tiny graph and
degree sanity (the full oracle check runs in test_queries_oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_crawler_spark.operators.linkgraph import (
    edges_from_fetched,
    in_degrees,
    out_degrees,
    pagerank,
)


def test_pagerank_hand_computed(spark):
    # graph: 0->1, 0->2, 1->2, 2->0  (classic 3-node example)
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(nodes, edges, n_iter=2).collect()}

    # manual: pr0 = 1/3 each; d=0.85, base=0.05
    pr0 = {0: 1 / 3, 1: 1 / 3, 2: 1 / 3}
    def step(pr):
        inc = {0: pr[2] / 1, 1: pr[0] / 2, 2: pr[0] / 2 + pr[1] / 1}
        return {v: 0.05 + 0.85 * inc.get(v, 0.0) for v in (0, 1, 2)}
    expect = step(step(pr0))
    for v in (0, 1, 2):
        assert abs(got[v] - expect[v]) < 1e-12, (v, got[v], expect[v])


def test_trustrank_hand_computed_and_spam_zero(spark):
    # trusted island {0,1} linking each other; spam farm {2,3} densely
    # reciprocal (the shape PageRank rewards) but with NO trust path in
    # (Gyöngyi et al. 2004's motivating case) — spam must score exactly 0
    from go_crawler_spark.operators.linkgraph import trustrank

    nodes = spark.createDataFrame([(0,), (1,), (2,), (3,)], "node long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (2, 3), (3, 2), (2, 2), (3, 3)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["rank"]
        for r in trustrank(nodes, edges, seeds, n_iter=3).collect()
    }

    # manual: d = (1,0,0,0); r0 = d
    # r_{k+1}(v) = 0.15*d(v) + 0.85*sum_in r_k(u)/outdeg(u)
    d = {0: 1.0, 1: 0.0, 2: 0.0, 3: 0.0}
    r = dict(d)
    base = 1.0 - 0.85
    for _ in range(3):
        inc = {
            0: r[1] / 1,
            1: r[0] / 1,
            2: r[3] / 2 + r[2] / 2,
            3: r[2] / 2 + r[3] / 2,
        }
        r = {v: base * d[v] + 0.85 * inc.get(v, 0.0) for v in (0, 1, 2, 3)}
    for v in (0, 1, 2, 3):
        assert abs(got[v] - r[v]) < 1e-12, (v, got[v], r[v])
    assert got[2] == 0.0 and got[3] == 0.0  # no trust path -> exactly zero


def test_trustrank_ignores_seeds_outside_nodes(spark):
    """A seed missing from ``nodes`` gets no teleport mass, so it must not
    count in |S| either: every rank is unchanged and trust still sums
    to 1 on a graph without dangling nodes."""
    from go_crawler_spark.operators.linkgraph import trustrank

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")

    def ranks(seed_ids):
        seeds = spark.createDataFrame([(s,) for s in seed_ids], "node long")
        return {r["node"]: r["rank"] for r in trustrank(nodes, edges, seeds).collect()}

    base = ranks([0])
    assert ranks([0, 99]) == base
    assert abs(sum(base.values()) - 1.0) < 1e-12


def test_trustrank_empty_seeds_all_zero(spark):
    from go_crawler_spark.operators.linkgraph import trustrank

    nodes = spark.createDataFrame([(0,), (1,)], "node long")
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    seeds = nodes.filter(F.col("node") < 0)
    got = {r["node"]: r["rank"] for r in trustrank(nodes, edges, seeds).collect()}
    assert got == {0: 0.0, 1: 0.0}


def test_degrees_and_isolated_nodes(spark):
    edges = spark.createDataFrame([(0, 1), (0, 2), (1, 2)], "src long, dst long")
    ind = {r["node"]: r["in_degree"] for r in in_degrees(edges).collect()}
    outd = {r["node"]: r["out_degree"] for r in out_degrees(edges).collect()}
    assert ind == {1: 1, 2: 2}
    assert outd == {0: 2, 1: 1}


def test_edges_from_fetched_roundtrip(spark):
    """Crawl-native edges: run a small crawl and check the edge table only
    contains page→page links from fetched pages."""
    from go_crawler_spark.config import CrawlConfig
    from go_crawler_spark.datagen import default_seeds, generate_pages_df
    from go_crawler_spark.plans.crawl import run_crawl

    pages = generate_pages_df(spark, 48, seed=42)
    res = run_crawl(spark, pages, default_seeds(), CrawlConfig(max_count=30))
    # the narrow `fetched` view drops children; read the round-0 log
    raw = spark.read.parquet(res.workdir + "/fetched_0")
    edges = edges_from_fetched(raw)
    rows = edges.collect()
    assert len(rows) > 0
    assert all(r["src"].startswith("https://") and r["dst"].startswith("https://") for r in rows)


def test_connected_components_chain(spark):
    """Chain 1-2-3-4 needs multiple propagation rounds (diameter 3);
    plus a separate pair and a separate triangle component."""
    from go_crawler_spark.operators.dedup_corpus import connected_components
    from go_crawler_spark.operators.linkgraph import hits

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6), (8, 9), (9, 10), (8, 10)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_path_graph_log_rounds(spark):
    """Diameter-independence property (the reason for large-star/
    small-star): a path graph of 2^10 nodes has diameter 1023 — min-label
    propagation needs ~1023 rounds, star-contraction must land the exact
    answer within O(log² n) (we allow 14, still ≪ diameter)."""
    from go_crawler_spark.operators.dedup_corpus import connected_components

    n = 1 << 10
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stats: dict = {}
    got = connected_components(edges, max_iter=14, stats=stats)
    agg = got.agg(
        F.count("*").alias("n"),
        F.sum((F.col("component") != 0).cast("int")).alias("bad"),
    ).collect()[0]
    assert agg["n"] == n and agg["bad"] == 0
    assert stats["rounds"] <= 14


def test_components_self_loops_and_isolated(spark):
    """Self-loop-only nodes keep their own label; duplicate/reversed edges
    collapse; roots label themselves."""
    from go_crawler_spark.operators.dedup_corpus import connected_components

    edges = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 1), (1, 2)], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {7: 7, 1: 1, 2: 1}


def test_components_exhausted_iterations_one_row_per_node(spark):
    """max_iter exhaustion contract: when the star loop stops before the
    fixed point, a node can still hold multiple outgoing edges — the final
    per-node min() must collapse them to exactly one deterministic label
    per node (the old left-join emitted duplicate conflicting rows)."""
    from go_crawler_spark.operators.dedup_corpus import connected_components

    n = 1 << 7  # path of 128 nodes; one round is nowhere near converged
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    rows = connected_components(edges, max_iter=1).collect()
    labels = {}
    for r in rows:
        assert r["node"] not in labels, "duplicate (node, component) row"
        labels[r["node"]] = r["component"]
    assert set(labels) == set(range(n))
    # labels are a reachable min: never above the node itself
    assert all(comp <= node for node, comp in labels.items())
    # determinism across plans
    again = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iter=1).collect()
    }
    assert again == labels


def test_hits_hand_computed(spark):
    """HITS on the classic 3-node graph, n_iter=2, checked against
    hand-run integer power iterations (hub_0=1; a_k = in-sum of h_{k-1};
    h_k = out-sum of a_k), L1-normalized at the end."""
    from go_crawler_spark.operators.linkgraph import hits

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0)], "src long, dst long"
    )
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(nodes, edges, n_iter=2).collect()}
    # iter1: a1 = in-degree = {0:1, 1:1, 2:2}; h1 = {0: a1or(1)+a1(2)=3, 1:2, 2:1}
    # iter2: a2 = {0: h1(2)=1, 1: h1(0)=3, 2: h1(0)+h1(1)=5}
    #        h2 = {0: a2(1)+a2(2)=8, 1: a2(2)=5, 2: a2(0)=1}; th=14, ta=9
    assert got[0] == (8 / 14, 1 / 9)
    assert got[1] == (5 / 14, 3 / 9)
    assert got[2] == (1 / 14, 5 / 9)


def test_hits_isolated_node_scores_zero(spark):
    from go_crawler_spark.operators.linkgraph import hits

    nodes = spark.createDataFrame([(0,), (1,), (9,)], "node long")
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(nodes, edges).collect()}
    assert got[9] == (0.0, 0.0)
    assert got[0][0] > 0.0 and got[1][1] > 0.0


def test_hits_overflow_fails_loudly(spark):
    """Path counts past decimal(38,0) must raise, never wrap or zero out:
    on the complete digraph over n nodes every half-iteration multiplies
    the count by n-1, so n=101, n_iter=10 reaches 100^20 = 10^40 > 10^38.
    Two failure layers, both loud: ANSI-on Spark (the 4.x default) raises
    ARITHMETIC_OVERFLOW in the sum itself; ANSI-off sums yield NULL and
    hits()' own guard raises. int64 accumulators wrapped silently under
    ANSI-off — the bug this pins."""
    import pytest

    from go_crawler_spark.operators.linkgraph import hits

    n = 101
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = (
        spark.range(n)
        .select(F.col("id").alias("src"))
        .crossJoin(spark.range(n).select(F.col("id").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            with pytest.raises(Exception, match="(?i)overflow"):
                hits(nodes, edges, n_iter=10).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_iterative_checkpoints_freed(spark):
    """pagerank/hits/components truncate lineage with eager local
    checkpoints; superseded iterations must be unpersisted as the loop
    advances — a long run may hold at most the LIVE checkpoint(s), not one
    per iteration (the pre-fix behavior leaked executor storage per round
    at crawl scale)."""
    from go_crawler_spark.operators.dedup_corpus import connected_components
    from go_crawler_spark.operators.linkgraph import hits

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    nodes = spark.createDataFrame([(i,) for i in range(8)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src long, dst long"
    )

    base = n_persistent()
    r = pagerank(nodes, edges, n_iter=6, checkpoint_every=1)
    assert len(r.collect()) == 8
    # 5 checkpoints created (i+1 < n_iter), only the last may be live
    assert n_persistent() <= base + 1

    base = n_persistent()
    h = hits(nodes, edges, n_iter=11)  # checkpoints at i+1 = 5, 10
    assert len(h.collect()) == 8
    # live: the final checkpoint + the returned persisted scores frame
    assert n_persistent() <= base + 2

    base = n_persistent()
    e2 = spark.createDataFrame(
        [(i, i + 1) for i in range(127)], "a long, b long"
    )
    comp = connected_components(e2, "a", "b")
    assert comp.count() == 128
    # a 2^7 path takes several star rounds; live = final edge set + nodes
    assert n_persistent() <= base + 2


def test_rollup_graph_weights_and_self_loops(spark):
    from go_crawler_spark.operators.linkgraph import rollup_graph

    edges = spark.createDataFrame(
        [
            ("a.org/1", "b.org/1", "a.org", "b.org"),
            ("a.org/2", "b.org/9", "a.org", "b.org"),  # same host pair -> weight 2
            ("a.org/1", "a.org/2", "a.org", "a.org"),  # intra-host -> dropped
            ("b.org/1", "a.org/1", "b.org", "a.org"),
        ],
        "src string, dst string, sh string, dh string",
    )
    got = {
        (r["src"], r["dst"]): r["n_links"]
        for r in rollup_graph(edges, F.col("sh"), F.col("dh")).collect()
    }
    assert got == {("a.org", "b.org"): 2, ("b.org", "a.org"): 1}
    kept = rollup_graph(
        edges, F.col("sh"), F.col("dh"), drop_self=False
    ).count()
    assert kept == 3  # the intra-host edge becomes its own weighted row
