"""tf-idf top-terms and DSIR importance selection: hand-computed tiny
cases, edge handling (empty/short docs), and partitioning-invariance of
the decimal score sums (the full oracle parity runs in
test_queries_oracle / tools/oracle_check.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_crawler_spark.operators.dsir import dsir_scores, dsir_select
from go_crawler_spark.operators.tfidf import tfidf_scores, top_terms


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_tfidf_hand_computed(spark):
    docs = _docs(
        spark,
        [
            (0, "apple banana apple", "en"),
            (1, "banana cherry", "en"),
            (2, "durian", "de"),
        ],
    )
    # N=3; idf = (N+1)/(df+1): apple df=1 -> 2.0; banana df=2 -> 4/3
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"])
        for r in tfidf_scores(docs).collect()
    }
    assert got[(0, "apple")] == (2, 1, 2 * 4 / 2)
    assert got[(0, "banana")] == (1, 2, 1 * 4 / 3)
    assert got[(1, "cherry")] == (1, 1, 1 * 4 / 2)
    assert got[(2, "durian")] == (1, 1, 2.0)

    top = top_terms(docs, k=1).collect()
    best = {r["doc_id"]: r["term"] for r in top}
    assert best[0] == "apple"  # 4.0 beats banana's 1.33
    assert all(r["term_rank"] == 1 for r in top)


def test_tfidf_empty_and_punct_docs_emit_nothing(spark):
    docs = _docs(spark, [(0, "", "en"), (1, "?!...", "en"), (2, "word", "en")])
    rows = tfidf_scores(docs).collect()
    assert {r["doc_id"] for r in rows} == {2}


def test_tfidf_min_df_prunes_hapax(spark):
    docs = _docs(
        spark, [(0, "common rare1", "en"), (1, "common rare2", "en")]
    )
    rows = tfidf_scores(docs, min_df=2).collect()
    assert {r["term"] for r in rows} == {"common"}


def test_tfidf_tie_breaks_lexicographic(spark):
    # both terms tf=1, df=1 -> equal score; rank must order by term asc
    docs = _docs(spark, [(0, "zebra alpha", "en")])
    got = {r["term"]: r["term_rank"] for r in top_terms(docs, k=2).collect()}
    assert got == {"alpha": 1, "zebra": 2}


def test_dsir_scores_favor_target_like_docs(spark):
    # target = lang 'tgt' docs, all about "good clean text"; doc 10 repeats
    # the target phrasing, doc 11 is junk the target never uses
    rows = [
        (0, "good clean text here", "tgt"),
        (1, "good clean text again", "tgt"),
        (10, "good clean text sample", "raw"),
        (11, "zz qq xx vv ww uu", "raw"),
    ]
    docs = _docs(spark, rows)
    got = {r["doc_id"]: r for r in dsir_scores(docs, F.col("lang") == "tgt").collect()}
    assert set(got) == {0, 1, 10, 11}
    assert got[10]["n_grams"] == 3  # 4 tokens -> 3 bigrams
    assert got[10]["score"] > got[11]["score"]


def test_dsir_short_doc_scores_zero(spark):
    docs = _docs(spark, [(0, "single", "tgt"), (1, "two tokens", "tgt")])
    got = {r["doc_id"]: r for r in dsir_scores(docs, F.lit(True)).collect()}
    assert got[0]["n_grams"] == 0 and got[0]["score"] == 0.0
    assert got[1]["n_grams"] == 1 and got[1]["score"] > 0.0


def test_dsir_scores_partitioning_invariant(spark):
    """Decimal accumulation makes scores independent of partitioning —
    the property the oracle hash relies on."""
    rows = [
        (i, f"token{i % 5} shared words token{i % 3} more shared text", "en" if i % 2 else "de")
        for i in range(40)
    ]
    docs = _docs(spark, rows)
    a = sorted(
        tuple(r) for r in dsir_scores(docs, F.col("lang") == "en").collect()
    )
    b = sorted(
        tuple(r)
        for r in dsir_scores(
            docs.repartition(7), F.col("lang") == "en"
        ).collect()
    )
    assert a == b


def test_dsir_select_topk_order_and_seq(spark):
    rows = [(i, f"alpha beta w{i} gamma delta", "en" if i < 6 else "de") for i in range(12)]
    docs = _docs(spark, rows)
    sel = dsir_select(docs, F.col("lang") == "en", k=5).collect()
    assert len(sel) == 5
    by_seq = sorted(sel, key=lambda r: r["seq"])
    assert [r["seq"] for r in by_seq] == [0, 1, 2, 3, 4]
    # seq follows (score desc, doc_id asc)
    keys = [(-r["score"], r["doc_id"]) for r in by_seq]
    assert keys == sorted(keys)


# ---------------------------------------------------------------------------
# Hamilton host-budget apportionment (operators/politeness.py)
# ---------------------------------------------------------------------------


def _alloc(spark, rows, budget, **kw):
    from go_crawler_spark.operators.politeness import allocate_host_budget

    hosts = spark.createDataFrame(rows, "host string, weight long")
    got = allocate_host_budget(hosts, budget, **kw).collect()
    return {r["host"]: r["quota"] for r in got}


def test_host_budget_hand_computed(spark):
    # classic Hamilton example: shares 10*[4,3,3]/10 -> floors 4,3,3 sum=10
    assert _alloc(spark, [("a", 4), ("b", 3), ("c", 3)], 10) == {
        "a": 4, "b": 3, "c": 3,
    }
    # budget 10, weights 5,3,1: shares 50/9=5.55, 30/9=3.33, 10/9=1.11
    # floors 5,3,1 (sum 9) -> 1 leftover to the largest remainder (a: 5/9)
    assert _alloc(spark, [("a", 5), ("b", 3), ("c", 1)], 10) == {
        "a": 6, "b": 3, "c": 1,
    }


def test_host_budget_sums_to_budget_and_ties_break_by_host(spark):
    # equal weights, budget not divisible: 3 hosts, budget 7 -> 2.33 each,
    # floors 2,2,2, leftover 1 -> equal remainders, tie-break host asc
    got = _alloc(spark, [("x", 1), ("y", 1), ("z", 1)], 7)
    assert sum(got.values()) == 7
    assert got == {"x": 3, "y": 2, "z": 2}


def test_host_budget_zero_and_negative_weights(spark):
    got = _alloc(spark, [("a", 5), ("b", 0), ("c", -3)], 9)
    assert got == {"a": 9, "b": 0, "c": 0}


def test_host_budget_zero_total_weight(spark):
    assert _alloc(spark, [("a", 0), ("b", 0)], 5) == {"a": 0, "b": 0}


def test_host_budget_exactness_property(spark):
    # 40 hosts with awkward weights: sum == budget exactly, every quota in
    # {floor(share), floor(share)+1}
    rows = [(f"h{i:02d}", (i * 7919) % 113 + 1) for i in range(40)]
    budget = 1000
    got = _alloc(spark, rows, budget)
    assert sum(got.values()) == budget
    tw = sum(w for _, w in rows)
    for h, w in rows:
        fl = (w * budget) // tw
        assert got[h] in (fl, fl + 1), (h, w, fl, got[h])


def test_host_budget_null_host_keeps_invariant(spark):
    """A NULL host group (frontier rows whose host failed to parse) is a
    legitimate bucket: its leftover +1 must not be dropped by a
    null-unsafe join (sum(quota) == budget regression test)."""
    # weights 1,1,1 with budget 7 -> floors 2 each, leftover 1 to the
    # smallest host; NULL sorts first in Spark ordering, so NULL wins
    got = _alloc(spark, [("a", 1), (None, 1), ("b", 1)], 7)
    assert sum(v for v in got.values()) == 7
    assert got[None] == 3 and got["a"] == 2 and got["b"] == 2


def test_host_budget_hash_join_path_matches_broadcast(spark):
    """broadcast_winners_max_rows=0 forces the non-broadcast winners join
    (the 10^8-host safety valve); allocation must be identical."""
    rows = [(f"h{i:02d}", (i * 7919) % 113 + 1) for i in range(40)]
    assert _alloc(spark, rows, 1000, broadcast_winners_max_rows=0) == _alloc(
        spark, rows, 1000
    )


def test_host_budget_releases_its_cache(spark):
    """allocate_host_budget persists the host-weight frame and its
    leftover top-r pass local-checkpoints the range partitioning; BOTH
    must be freed by the repo's release pair once the result is
    materialized (per-round calls previously leaked one cached frame and
    one checkpoint each) — including the total_w==0 early return."""
    from go_crawler_spark.operators.sequence import (
        _PENDING_CHECKPOINTS,
        release_pending_caches,
        release_pending_checkpoints,
    )

    release_pending_caches()
    release_pending_checkpoints()
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    _alloc(spark, [("a", 5), ("b", 3), ("c", 1)], 10)
    _alloc(spark, [("a", 0), ("b", 0)], 5)  # early-return path
    assert _PENDING_CHECKPOINTS  # the top-r pass checkpointed
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > baseline
    release_pending_caches()
    release_pending_checkpoints()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == baseline


# ---------------------------------------------------------------------------
# distribution drift (operators/dsir.py::distribution_drift)
# ---------------------------------------------------------------------------


def test_distribution_drift_identical_corpora_is_zero(spark):
    from go_crawler_spark.operators.dsir import distribution_drift

    docs = _docs(spark, [(i, "alpha beta gamma delta", "en") for i in range(6)])
    got = distribution_drift(docs, docs, k=10).collect()
    assert got and all(r["drift_num"] == 0 for r in got)


def test_distribution_drift_ranks_shifted_grams_first(spark):
    from go_crawler_spark.operators.dsir import distribution_drift

    # both corpora share "common words"; corpus b adds a gram a never has
    a = _docs(spark, [(i, "common words here", "en") for i in range(5)])
    b = _docs(
        spark,
        [(i, "common words here", "en") for i in range(5)]
        + [(9, "novel junk", "en")],
    )
    got = distribution_drift(a, b, k=3).collect()
    by_rank = sorted(got, key=lambda r: r["rank"])
    # rank 1 = the bucket only b has: n_a = 0, n_b > 0
    assert by_rank[0]["n_a"] == 0 and by_rank[0]["n_b"] == 1
    # exact integer invariant: drift_num == |n_a*Nb - n_b*Na|
    na = 5 * 2  # 3 tokens -> 2 bigrams per doc
    nb = 5 * 2 + 1
    for r in got:
        assert r["drift_num"] == abs(r["n_a"] * nb - r["n_b"] * na)


def test_drift_overflow_guard_at_int64_boundary():
    """drift_num == 2^63 must raise (int64 column would wrap silently);
    2^63 - 2^31 — one census step below — must pass. Driver-side pure
    python, no Spark needed: drift_num for disjoint single-bucket censuses
    {x: X} vs {y: Y} is X*Y on both buckets."""
    import pytest

    from go_crawler_spark.operators.dsir import drift_topk_rows

    x = 1 << 31
    ok = drift_topk_rows({"x": x}, {"y": (1 << 32) - 1}, k=2)
    assert [r[3] for r in ok] == [(1 << 63) - (1 << 31)] * 2
    with pytest.raises(OverflowError, match="exceeds int64"):
        drift_topk_rows({"x": x}, {"y": 1 << 32}, k=2)
