#!/usr/bin/env python
"""Physical-plan audit: dump .explain("formatted") for headline queries and
assert the plan properties the engine is designed around:

- parquet scans carry PushedFilters / pruned ReadSchema (no full-width scan
  for a narrow projection);
- small dimension sides broadcast (fetch lookup, robots rules);
- aggregations show partial (map-side) aggregation before the exchange;
- JVM-expressible pipeline stages sit inside WholeStageCodegen spans;
- the seen anti-join contains no distinct/extra exchange of the seen side.

Writes PLANS.md at the repo root. Run: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from bench import make_spark

    spark = make_spark(8)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em

    qs = em.queries()
    sections: list[tuple[str, str, list[str]]] = []  # (title, plan, notes)

    checks: list[tuple[str, bool]] = []

    def audit(name: str, df, expect: dict[str, bool]) -> None:
        p = plan_of(df)
        notes = []
        for needle, should_have in expect.items():
            has = needle in p
            ok = has == should_have
            checks.append((f"{name}: {'has' if should_have else 'lacks'} {needle}", ok))
            notes.append(f"- {'✓' if ok else '✗'} {'contains' if should_have else 'does not contain'} `{needle}`")
        sections.append((name, p, notes))

    # 1. narrow projection + filter → pushdown & pruning
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    narrow = docs.filter(F.col("n_chars") > 300).select("doc_id", "lang")
    audit(
        "pushdown_and_pruning (filter+project on documents)",
        narrow,
        {"PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,300)]": True,
         "text": False,  # pruned column must not appear in ReadSchema
         "codegen id": True},  # stage runs inside whole-stage codegen
    )

    # 2. fetch lookup join → broadcast, not shuffle
    from go_crawler_spark.operators.fetch import fetch_hits

    frontier = docs.limit(100).select(
        F.concat(F.lit("u"), F.col("doc_id")).alias("url"))
    corpus = docs.select(F.concat(F.lit("u"), F.col("doc_id")).alias("url"),
                         F.col("text").alias("html"),
                         F.col("text"), F.col("lang"),
                         F.current_timestamp().alias("warc_ts"))
    audit(
        "fetch_lookup (corpus ⋈ broadcast(frontier))",
        fetch_hits(frontier, corpus),
        {"BroadcastHashJoin": True, "SortMergeJoin": False},
    )

    def audit_custom(name: str, df, check_name: str, fn) -> None:
        p = plan_of(df)
        ok = fn(p)
        checks.append((f"{name}: {check_name}", ok))
        sections.append((name, p, [f"- {'✓' if ok else '✗'} {check_name}"]))

    import re

    def exchanges_exclude(p: str, colname: str) -> bool:
        """True iff no Exchange/BroadcastExchange input schema carries
        ``colname`` (formatted plans list each node's Input [...] line)."""
        inputs = re.findall(
            r"\(\d+\) (?:Exchange|BroadcastExchange)[^\n]*\n"
            r"Input \[\d+\]: \[([^\]]*)\]",
            p,
        )
        return bool(inputs) and all(colname not in cols for cols in inputs)

    # 2b. large-round fetch fallback → shuffle-hash join, NO broadcast of
    # the (billion-row) frontier, no sort-merge
    audit(
        "fetch_lookup_large (shuffle-hash fallback, frontier not broadcast)",
        fetch_hits(frontier, corpus, broadcast_frontier=False),
        {"ShuffledHashJoin": True, "BroadcastExchange": False,
         "SortMergeJoin": False},
    )

    # 2c. exact corpus dedup → only (fingerprint, id) pairs enter an
    # exchange; the document bytes never shuffle
    from go_crawler_spark.operators.dedup_corpus import exact_dedup

    audit_custom(
        "exact_dedup (losers anti-join; text never shuffles)",
        exact_dedup(docs, "text", "doc_id"),
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # 2d. CCNet chunk dedup → censuses 8-byte fingerprints; the document
    # bytes are re-cut map-side against a broadcast removed-index table,
    # so text never enters an exchange
    from go_crawler_spark.operators.corpus_prep import chunk_dedup

    audit_custom(
        "chunk_dedup (dup-chunk census on hashes; text never shuffles)",
        chunk_dedup(docs, "text", "doc_id"),
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # 2e. decontamination → benchmark gram set broadcast both ways; the
    # corpus side is never shuffled (no SortMerge/ShuffledHash join)
    from go_crawler_spark.operators.corpus_prep import decontaminate

    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    audit(
        "decontaminate (broadcast gram semi-join + broadcast anti-join)",
        decontaminate(docs, bench, ngram=5),
        {"BroadcastHashJoin": True, "SortMergeJoin": False,
         "ShuffledHashJoin": False},
    )

    # 3. seen anti-join → no distinct/aggregate on the seen build side
    from go_crawler_spark.operators.dedup import BloomFilter, dedup_against_seen

    seen = docs.select(F.col("doc_id").cast("string").alias("url"))
    cands = docs.select(F.col("doc_id").cast("string").alias("url"), "lang")
    audit(
        "seen_anti_join (left_anti, seen side un-aggregated)",
        dedup_against_seen(cands, seen),
        {"LeftAnti": True, "HashAggregate": False},
    )

    # 3b. filter-tier dedup with the pruned-rows audit: the Observation
    # rides the plan as a CollectMetrics node (the counter costs no extra
    # job), the exact anti-join decides every row, and the _definite flag
    # is projected away before any checkpoint
    from go_crawler_spark.plans.crawl import _observe_filter_pruned

    flt = BloomFilter(1 << 16, 4)
    observed, _obs = _observe_filter_pruned(
        dedup_against_seen(cands, seen, "url", flt, mark_definite="_definite")
    )
    audit(
        "seen_filter_pruned_audit (observe rides the enqueue write)",
        observed,
        {"CollectMetrics": True, "LeftAnti": True},
    )
    # the flag feeds only the metrics node: it must not reach the output
    # schema (the enqueue checkpoint) — plan text can't show this (the
    # CollectMetrics aggregate legitimately names it), so check the schema
    checks.append(
        ("seen_filter_pruned_audit: _definite dropped from output schema",
         "_definite" not in observed.columns)
    )

    # 4. groupBy agg → map-side partial aggregation
    agg = docs.groupBy("source").agg(F.count("*").alias("n"))
    audit(
        "host_group_counts (partial agg before exchange)",
        agg,
        {"partial_count": True, "Exchange": True},
    )

    # 5. first-writer dedup → min_by partial agg, no Window sort
    from go_crawler_spark.operators.dedup import first_writer_dedup

    fw = first_writer_dedup(
        docs.select(F.col("doc_id").cast("string").alias("url"),
                    F.col("doc_id").alias("parent_seq"),
                    F.lit(0).alias("pos"), "lang"),
        "url", ["parent_seq", "pos"])
    audit(
        "first_writer_dedup (map-side min_by, no window)",
        fw,
        {"partial_min_by": True, "Window": False},
    )

    # 6. TPC-H style multi-join → broadcast for the small dim
    audit(
        "revenue_by_priority (broadcast dim join)",
        qs["revenue_by_priority"](spark, SF),
        {"BroadcastHashJoin": True},
    )

    # 7. URL blocklist gate → blocklist broadcast; the URL side never
    # shuffles (equality join on registrable domain, no suffix LIKE scan)
    audit(
        "url_blocklist_gate (broadcast blocklist, no shuffle of the URL side)",
        qs["url_blocklist_gate"](spark, SF),
        {"BroadcastHashJoin": True, "SortMergeJoin": False,
         "ShuffledHashJoin": False},
    )

    # 8. snapshot diff → the full-outer join shuffles only (key,
    # fingerprint); document text never enters an exchange
    audit_custom(
        "crawl_snapshot_diff (join carries key+fingerprint only)",
        qs["crawl_snapshot_diff"](spark, SF),
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # 9. map-only operators → zero exchanges end-to-end
    audit(
        "surt_keys (map-only, whole-stage codegen, no shuffle)",
        qs["surt_keys"](spark, SF),
        {"Exchange": False, "codegen id": True},
    )
    audit(
        "stratified_sample_lang (stateless map-only, no shuffle)",
        qs["stratified_sample_lang"](spark, SF),
        {"Exchange": False, "codegen id": True},
    )

    # 10. recrawl scheduling → one partial-agg'd aggregation, then pure
    # expressions (the policy itself adds no extra shuffle)
    audit(
        "recrawl_due (map-side partial agg; policy is expression-only)",
        qs["recrawl_due"](spark, SF),
        {"partial_max": True},
    )

    # 11. DSIR selection → ≤4096-row weight table broadcast back onto the
    # grams; the corpus text never enters an exchange
    from go_crawler_spark.operators.dsir import dsir_scores

    audit_custom(
        "dsir_scores (broadcast weight table; text never shuffles)",
        dsir_scores(docs, F.col("lang") == "en"),
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#") and "BroadcastHashJoin" in p,
    )

    # 12. tf-idf → the term exchanges carry (doc_id, term[, counts]) only;
    # document text is exploded map-side and never shuffled
    from go_crawler_spark.operators.tfidf import top_terms

    audit_custom(
        "tfidf_top_terms (gram-level exchanges; text never shuffles)",
        top_terms(docs, k=3),
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # 13. host budget apportionment → the leftover winners list broadcasts
    # back to the quota table (host-level tables only; no sort-merge)
    audit(
        "host_budget_allocation (broadcast winners join)",
        qs["host_budget_allocation"](spark, SF),
        {"BroadcastHashJoin": True, "SortMergeJoin": False},
    )

    # 14. spider-trap census → the template is computed map-side; the
    # exchange carries (template, fingerprint) pairs, never the URL string
    from go_crawler_spark.operators.traps import url_trap_census

    trap_in = docs.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".com/p/"), F.col("doc_id").cast("string")).alias("url"),
        F.md5("text").alias("fingerprint"),
    )
    audit_custom(
        "url_trap_census (template map-side; url never shuffles)",
        url_trap_census(trap_in),
        "no Exchange input carries the url column",
        lambda p: exchanges_exclude(p, "url#"),
    )

    # redirect resolution: pointer-doubling walk is all-JVM (no Python
    # eval nodes) and every exchange carries URL-string/int columns only
    # (there is no page-byte column anywhere in the pipeline by design)
    from go_crawler_spark.datagen import canonical_pages_df, redirect_edges_df
    from go_crawler_spark.operators.canonical import extract_canonicals
    from go_crawler_spark.operators.redirects import resolve_redirects

    r_edges = redirect_edges_df(spark, 4)
    r_urls = r_edges.selectExpr("src_url AS url").union(
        r_edges.selectExpr("dst_url AS url"))
    audit(
        "redirect_resolve (jump-table doubling, all-JVM)",
        resolve_redirects(r_urls, r_edges),
        {"BatchEvalPython": False, "ArrowEvalPython": False,
         "SortMergeJoin": False},
    )

    # per-hop robots enforcement rides the same walk: the edge cut (one
    # semi + one anti join on the bounded edge table) and the terminal
    # relabeling join add no Python eval and no sort-merge joins — the
    # blocked set exchanges URL strings only, like everything else here
    r_blocked = r_edges.selectExpr("dst_url AS url").where(
        "url LIKE '%/fan/z' OR url LIKE '%/chain8/4'").distinct()
    audit(
        "redirect_resolve_robots (edge cut + relabel, all-JVM)",
        resolve_redirects(r_urls, r_edges, blocked_urls=r_blocked),
        {"BatchEvalPython": False, "ArrowEvalPython": False,
         "SortMergeJoin": False},
    )

    # per-round in-crawl redirect application: the round lineage joins the
    # frontier ONCE against the pre-materialized source mapping — no
    # distinct-aggregate on the frontier, no jump-table joins (the mapping
    # is loop-invariant, resolved once before the loop), no Python eval
    from go_crawler_spark.operators.redirects import (
        apply_redirect_mapping,
        resolve_redirect_sources,
    )

    import tempfile

    r_map_path = os.path.join(
        tempfile.mkdtemp(prefix="plans_"), "redirect_map.parquet")
    resolve_redirect_sources(r_edges).select(
        "url", "final_url", "status"
    ).write.mode("overwrite").parquet(r_map_path)
    r_frontier = r_edges.selectExpr("src_url AS url").union(
        r_edges.selectExpr("dst_url AS url"))
    round_joined = apply_redirect_mapping(
        r_frontier, spark.read.parquet(r_map_path))
    audit(
        "redirect_round_join (frontier ⋈ materialized mapping, once)",
        round_joined,
        {"BatchEvalPython": False, "ArrowEvalPython": False,
         "SortMergeJoin": False, "HashAggregate": False},
    )
    audit_custom(
        "redirect_round_join (no jump tables in the round lineage)",
        round_joined,
        "exactly one join node",
        # formatted plans print each join twice (tree line + detail
        # section); "Join type:" appears exactly once per join operator
        lambda p: p.count("Join type:") == 1,
    )

    # canonical extraction: regexp/concat inside whole-stage codegen; page
    # bytes never cross to Python and never enter an exchange (map-only)
    audit(
        "canonical_extract (JVM regexp, map-only)",
        extract_canonicals(canonical_pages_df(spark, 60)),
        {"BatchEvalPython": False, "ArrowEvalPython": False,
         "Exchange": False, "codegen id": True},
    )

    # exact duplicate-substring spans: gram fingerprinting is map-only JVM
    # (no Python eval) and no exchange ever carries the text column — only
    # (doc_id, pos, hash) rows shuffle
    from go_crawler_spark.operators.substring_dedup import (
        duplicate_ngram_spans,
    )

    spans_df = duplicate_ngram_spans(docs, "text", "doc_id", k=8)
    audit(
        "dup_ngram_spans (JVM grams; hash-level exchanges)",
        spans_df,
        {"BatchEvalPython": False, "ArrowEvalPython": False},
    )
    audit_custom(
        "dup_ngram_spans (text never shuffles)",
        spans_df,
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # CCNet perplexity scoring: count tables broadcast (never sort-merge),
    # the whole pipeline stays JVM-side, and the document text never
    # enters an exchange — only tokens and (doc_id, logp) rows shuffle
    from go_crawler_spark.operators.perplexity import (
        lm_counts,
        perplexity_scores,
    )

    ppl_big, ppl_uni, ppl_v = lm_counts(
        docs.filter("doc_id % 10 < 3"), min_count=2
    )
    ppl_scored = perplexity_scores(docs, ppl_big, ppl_uni, ppl_v)
    audit(
        "ccnet_perplexity (broadcast count joins, all-JVM)",
        ppl_scored,
        {"BroadcastHashJoin": True, "SortMergeJoin": False,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )
    audit_custom(
        "ccnet_perplexity (text never shuffles)",
        ppl_scored,
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # training-order shuffle: hash-partitioned per-shard window sorts
    # only — a rangepartitioning exchange would mean a global sort
    from go_crawler_spark.operators.corpus_prep import (
        domain_cap,
        training_order,
    )

    audit(
        "training_order (per-shard sort, never global)",
        training_order(docs.select("doc_id"), seed=7),
        {"rangepartitioning": False, "BatchEvalPython": False,
         "ArrowEvalPython": False, "Window": True},
    )

    # per-domain quota: the salted two-phase must materialize as TWO
    # window nodes (one per (domain,salt), one per domain) with no
    # global sort and no Python eval
    from go_crawler_spark.functions.urls import (
        registrable_domain_expr,
        surt_host_expr,
    )

    capped = domain_cap(
        docs.select("doc_id", "n_chars").withColumn(
            "domain",
            registrable_domain_expr(
                surt_host_expr(F.concat(F.lit("https://h"),
                                        (F.col("doc_id") % 9).cast("string"),
                                        F.lit(".org/p")))
            ),
        ),
        "domain",
        cap=3,
        order_by=[F.desc("n_chars"), F.col("doc_id")],
    )
    audit(
        "domain_cap (salted two-phase, no global sort)",
        capped,
        {"rangepartitioning": False, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )
    audit_custom(
        "domain_cap (two window phases materialized)",
        capped,
        "plan contains two Window nodes",
        lambda p: p.count(") Window") >= 2,
    )

    # line-level cleaning + corpus-wide line dedup: the first-writer
    # election must be a map-side-partial min aggregate (never a window
    # sort on the skewed line key), survivors recovered via semi-join on
    # the unique (id, idx) coordinates; the DOCUMENT text column never
    # enters an exchange (individual lines do, once, for reassembly)
    from go_crawler_spark.operators.lines import line_filters

    lf = line_filters(docs.select("doc_id", "text"))
    audit(
        "line_filters (partial-min first-writer, no window on line key)",
        lf,
        {"partial_min": True, "Window": False, "LeftSemi": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )
    audit_custom(
        "line_filters (document text never shuffles)",
        lf,
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # directed containment: shingles computed only for pair members
    # (semi-join gate), verify is JVM array_intersect — no Python eval
    from go_crawler_spark.operators.dedup_corpus import containment_verify

    small = docs.filter("doc_id < 40")
    cpairs = (
        small.select(F.col("doc_id").alias("id_a"))
        .join(
            small.select(F.col("doc_id").alias("id_b")),
            F.col("id_a") < F.col("id_b"),
        )
    )
    audit(
        "containment_verify (semi-join shingle gate, all-JVM)",
        containment_verify(small, cpairs, "text", "doc_id"),
        {"LeftSemi": True, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )

    # inverted index: two-phase (term, doc) counts combine map-side; the
    # document text never enters an exchange (the explode is map-side,
    # exchanges carry (term, id) pairs)
    from go_crawler_spark.operators.index import inverted_index

    inv = inverted_index(docs)
    audit(
        "inverted_index (partial counts before exchange, all-JVM)",
        inv,
        {"partial_count": True, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )
    audit_custom(
        "inverted_index (document text never shuffles)",
        inv,
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # hashed-linear quality gate: map-only — whole plan is one codegen
    # scan, no exchange, no Python
    from go_crawler_spark.operators.quality import linear_quality_score

    audit(
        "linear_quality_score (map-only codegen scoring)",
        linear_quality_score(docs),
        {"Exchange": False, "codegen id": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )

    # mirror-host detection: all-JVM, fingerprint-keyed candidate join
    # gated by the frequent-fp semi-join, partial counts before exchanges
    from go_crawler_spark.operators.mirrors import mirror_hosts

    mh_pages = docs.select(
        (F.col("doc_id") % 9).cast("string").alias("host"),
        F.md5("text").alias("fingerprint"),
    )
    audit(
        "mirror_hosts (fp-keyed pairing, frequent-fp prune, all-JVM)",
        mirror_hosts(mh_pages),
        {"LeftSemi": True, "partial_count": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )

    # BPE training inner loop: the pair-count stage (the one shuffle per
    # merge round) must combine map-side and stay all-JVM; the word
    # census is the ONLY stage that reads document text
    from go_crawler_spark.operators.bpe import _pair_counts, word_census

    bpe_vocab = word_census(docs)
    audit(
        "bpe_pair_counts (map-side partial sum per merge round, all-JVM)",
        _pair_counts(bpe_vocab),
        {"partial_sum": True, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )
    audit_custom(
        "bpe_pair_counts (document text never shuffles)",
        _pair_counts(bpe_vocab),
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # Gopher rule gate: per-row splits/higher-order aggregates/regexp
    # predicates only — one codegen span over the scan, zero exchanges,
    # zero Python
    from go_crawler_spark.operators.gopher import gopher_quality_gate

    audit(
        "gopher_rules (map-only rule metrics, zero exchanges)",
        gopher_quality_gate(docs),
        {"Exchange": False, "codegen id": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )

    # BPE encode: with a bounded merge table the whole encode is JVM fold
    # chains over the distinct-word census (no Python anywhere); the join
    # back to the token stream carries (word, int) pairs and the per-doc
    # sums combine map-side; document text never enters an exchange
    from go_crawler_spark.operators.bpe import bpe_encode_docs

    enc = bpe_encode_docs(docs, [("t", "h"), ("th", "e"), ("a", "n")])
    audit(
        "bpe_encode (JVM fold encode per distinct word, count-only join)",
        enc,
        {"partial_sum": True, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )
    audit_custom(
        "bpe_encode (document text never shuffles)",
        enc,
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # sliding-window chunker (embedding/RAG prep): MAP-ONLY — tokenize,
    # per-doc start sequence, explode, slice all inside one codegen span;
    # zero exchanges, zero Python
    from go_crawler_spark.operators.chunking import chunk_windows

    audit(
        "chunk_windows (map-only sliding windows, zero exchanges)",
        chunk_windows(docs, size=64, stride=48),
        {"Exchange": False, "codegen id": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )

    # BM25: the token explode is term-filtered before the tf aggregate
    # (only matching (doc, term) rows exchange), contributions sum with a
    # map-side partial, no Python anywhere (censuses re-enter as literals)
    from go_crawler_spark.operators.index import bm25_topk, rrf_fuse

    bm = bm25_topk(docs, ["spark", "join"], top_n=10)
    audit(
        "bm25_topk (term-filtered explode, JVM-only scoring)",
        bm,
        {"partial_sum": True, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )
    audit_custom(
        "bm25_topk (document text never shuffles)",
        bm,
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # RRF fusion: the tiers are bounded top-N lists; the fusion itself is
    # one (id)-keyed aggregate over (id, tier, rank) triples — partial
    # map-side combine, zero Python, and a TakeOrdered (never a global
    # sort materialization) for the final slice
    t1 = docs.select("doc_id", (F.col("doc_id") % 7 + 1).cast("int").alias("rank"))
    t2 = docs.select("doc_id", (F.col("doc_id") % 5 + 1).cast("int").alias("rank"))
    fused = rrf_fuse({"lex": t1, "sem": t2}, top_n=10)
    audit(
        "rrf_fuse (rank-triple aggregate, TakeOrdered slice)",
        fused,
        {"partial_min": True, "TakeOrderedAndProject": True,
         "BatchEvalPython": False, "ArrowEvalPython": False,
         "Sort ": False},
    )

    # C4 word-blocklist gate: literal-array membership filter+size per
    # row — one codegen span over the scan, zero exchanges, zero Python
    from go_crawler_spark.operators.quality import word_blocklist_gate

    audit(
        "word_blocklist (map-only literal-array gate, zero exchanges)",
        word_blocklist_gate(docs, ["dup", "stream"], max_flagged=2),
        {"Exchange": False, "codegen id": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )

    # Domain-level quality gate: map-only per-doc scoring, domain census
    # combines map-side, verdict joins back on the bounded domain key —
    # document text never enters an exchange, no Python anywhere
    from go_crawler_spark.operators.quality import domain_quality_gate

    dq = domain_quality_gate(
        docs.withColumn("domain", F.lit("d.org")), min_mean_w=-4.0
    )
    audit(
        "domain_quality (map-side census, JVM-only)",
        dq,
        {"partial_sum": True, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )
    audit_custom(
        "domain_quality (document text never shuffles)",
        dq,
        "no Exchange input carries the text column",
        lambda p: exchanges_exclude(p, "text#"),
    )

    # Mojibake repair: bounded literal replace chain — one codegen span,
    # zero exchanges, zero Python
    from go_crawler_spark.functions.text import fix_mojibake

    audit(
        "mojibake_repair (bounded JVM replace chain, map-only)",
        docs.select("doc_id", fix_mojibake(F.col("text")).alias("fixed")),
        {"Exchange": False, "codegen id": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )

    # Main-content extraction: higher-order-function block classifier —
    # page never leaves its partition, no Python
    from go_crawler_spark.operators.boilerpipe import extract_main_content

    audit(
        "main_content (block classifier, map-only, JVM higher-order)",
        docs.select(
            "doc_id", extract_main_content(F.col("text")).alias("mc")
        ),
        {"Exchange": False, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )

    # Priority sampling: the ranked cutoff runs through the scheduler's
    # range-partition + Arrow verdict pass (the RangePartitioning itself
    # sits above the scheduler's localCheckpoint, so the visible plan
    # starts at the checkpointed scan); no per-row Python anywhere
    from go_crawler_spark.operators.corpus_prep import priority_sample

    ps = priority_sample(docs, "n_chars", k=50)
    audit(
        "priority_sample (scheduler Arrow pass, no per-row Python)",
        ps,
        {"MapInPandas": True, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )

    # TrustRank: per-iteration edges⋈ranks with the seed bit broadcast
    from go_crawler_spark.operators.linkgraph import trustrank

    tr_nodes = docs.select(F.col("doc_id").alias("node"))
    tr_edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % 100).alias("dst"),
    )
    tr = trustrank(
        tr_nodes, tr_edges, tr_nodes.filter(F.col("node") % 7 == 0), n_iter=2
    )
    audit(
        "trustrank (seed teleport broadcast, no Python)",
        tr,
        {"BroadcastHashJoin": True, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )

    # Conditional-fetch planner: map-only single codegen pass
    from go_crawler_spark.operators.revisit import conditional_fetch_plan

    cf_log = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        (F.lit(1_704_067_200) + F.col("doc_id") % 1000).alias("warc_ts"),
        F.lit("2023-12-01").alias("last_modified"),
        F.lit("e").alias("etag"),
    )
    audit(
        "conditional_fetch (map-only revalidation planner)",
        conditional_fetch_plan(cf_log, now_epoch_s=1_704_153_600),
        {"Exchange": False, "codegen id": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )

    # Adaptive host delay: partial (map-side) agg before the exchange,
    # exchange carries (host, sum, count) only — no text anywhere near it
    from go_crawler_spark.operators.politeness import adaptive_host_delay

    ahd = adaptive_host_delay(
        docs.select(
            F.col("source").alias("host"),
            (F.col("doc_id") % 900 + 50).alias("response_ms"),
        )
    )
    audit(
        "adaptive_host_delay (map-side partial agg, integer statistic)",
        ahd,
        {"partial_sum": True, "Exchange": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )

    # Host-graph rollup: map-side partial count, exchange carries the
    # (src_key, dst_key) pair only
    from go_crawler_spark.operators.linkgraph import rollup_graph

    rg = rollup_graph(
        docs.select(
            F.col("source").alias("sh"),
            F.concat("source", (F.col("doc_id") % 4).cast("string")).alias(
                "dh"
            ),
        ),
        F.col("sh"),
        F.col("dh"),
    )
    audit(
        "host_graph_rollup (map-side partial count, pair-only exchange)",
        rg,
        {"partial_count": True, "Exchange": True,
         "BatchEvalPython": False, "ArrowEvalPython": False},
    )

    # RFC 3986 normalizer: map-only string algebra, zero exchanges
    from go_crawler_spark.functions.urls import rfc3986_normalize_expr

    audit(
        "url_rfc3986_normalize (map-only, zero exchanges)",
        docs.select(
            "doc_id",
            rfc3986_normalize_expr(
                F.concat(F.lit("http://H.org:80/%7e"), F.col("source"))
            ).alias("n"),
        ),
        {"Exchange": False, "BatchEvalPython": False,
         "ArrowEvalPython": False},
    )

    lines = [
        "# PLANS — physical-plan audit",
        "",
        "Generated by `tools/explain_audit.py` (re-run after plan-affecting",
        "changes). Each section asserts the plan property the engine is",
        "designed around; ✗ marks a regression.",
        "",
        "## Checklist",
        "",
    ]
    for desc, ok in checks:
        lines.append(f"- {'✅' if ok else '❌'} {desc}")
    lines.append("")
    for title, plan, notes in sections:
        lines += [f"## {title}", ""] + notes + ["", "```", plan.strip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    bad = [d for d, ok in checks if not ok]
    print(f"{len(checks) - len(bad)}/{len(checks)} plan checks pass")
    if bad:
        for b in bad:
            print("FAIL:", b)
        sys.exit(1)


if __name__ == "__main__":
    main()
