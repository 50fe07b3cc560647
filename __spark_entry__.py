"""Driver contract for the spark-graft builder (PySpark target).

``entry``   — flagship: the full BFS crawl (frontier → fetch-join →
              extract → dedup → budget → politeness) over the
              deterministic synthetic Common-Crawl-style corpus mandated by
              BASELINE.json input_hint, plus a smoke read of the sf0.001
              parquet tables.
``queries`` — one entry per implemented operator family from SURVEY.md §2
              plus the training-data-pipeline operators; each callable
              takes (spark, sf_dir).
``oracle_sql`` — a DuckDB oracle for EVERY query. SQL-expressible
              operators get exact ANSI-SQL twins (same column
              names/aliases both sides; floats rounded to 6 dp on both
              sides). Operators whose math is not closed-form SQL (crawl
              schedule, minhash/simhash/LSH banding, IVF probing,
              streaming windows, multimodal decode) compare against
              committed fixture parquet whose expected rows were computed
              by independent implementations — the pure-Python crawl
              simulator and numpy re-derivations over a from-scratch
              xxhash64 (tools/gen_fixtures.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _crawl_scale(sf_dir: str) -> int:
    base = os.path.basename(sf_dir.rstrip("/"))
    return {"sf0.001": 48, "sf0.01": 240, "sf0.1": 1200}.get(base, 48)


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TOKS_SQL = "regexp_split_to_array(trim({c}), '\\s+')"


def _rotate_by_driver_staleness(
    qdict: dict[str, Callable],
    here: str | None = None,
) -> dict[str, Callable]:
    """Order ``queries()`` so the driver's correctness gate (which hashes
    only the FIRST 50 dict entries each round) always grades the stalest
    entries first.

    Staleness is computed mechanically from the committed
    ``CORRECTNESS_r*.json`` files next to this module: an entry's key is
    the latest round in which the driver verified it GREEN (hash match, or
    a clean rows-only check for entries without an oracle). Never-green →
    -1, so brand-new queries and past red cells enter the window
    immediately. Ascending sort with the canonical dict order as the
    stable tie-break guarantees every entry gets a fresh driver row at
    least every ``ceil(W/(L-W))+1`` rounds (L≈79 entries, W=50 window →
    every 2 rounds), with no hand-curated ordering to go stale (round-3
    VERDICT ask #2). The rotated tail is still verified every pytest run
    by tests/test_queries_oracle.py (all entries, sf0.001) and on demand
    by tools/oracle_check.py (all entries, sf0.01)."""
    import glob
    import json
    import re

    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path, encoding="utf-8") as fh:
                results = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in results.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green:
                last_green[name] = max(last_green.get(name, -1), rnd)
    canon = {n: i for i, n in enumerate(qdict)}
    ordered = sorted(qdict, key=lambda n: (last_green.get(n, -1), canon[n]))
    return {n: qdict[n] for n in ordered}


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full crawl (SURVEY §3.1 lifecycle) on the synthetic corpus;
    returns the crawl schedule (url, kind, depth, seq, host, enqueue_round)."""
    from go_crawler_spark.config import CrawlConfig
    from go_crawler_spark.datagen import default_seeds, generate_pages_df
    from go_crawler_spark.plans.crawl import run_crawl

    # smoke-touch the sf0.001 tables the driver provisions
    _t(spark, "/root/testdata/sf0.001", "documents").count()

    pages = generate_pages_df(spark, 48, seed=42)
    cfg = CrawlConfig(max_count=30, host_slots_per_round=4, use_bloom=True)
    res = run_crawl(spark, pages, default_seeds(), cfg)
    return res.schedule.orderBy("seq")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from go_crawler_spark.functions import text as T
    from go_crawler_spark.operators.dedup_corpus import (
        cosine_similarity_expr,
        exact_dedup,
        minhash_near_dups,
        simhash_near_dups,
    )
    from go_crawler_spark.operators.politeness import assign_fetch_slots
    from go_crawler_spark.operators.sequence import assign_global_seq
    from go_crawler_spark.operators.similarity import brute_force_topk, ivf_topk

    # ---- crawl-operator family (SQL-checkable mappings over testdata) ----

    def dedup_exact_keep_min(spark, sf):
        # Q1 first-writer-wins at corpus scale (exact content dedup)
        docs = _t(spark, sf, "documents")
        return exact_dedup(docs, "text", "doc_id").select("doc_id", "fingerprint")

    def seen_anti_join(spark, sf):
        # Q1 cross-round anti-join: "seen" = every 10th doc
        docs = _t(spark, sf, "documents")
        seen = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
        return docs.join(seen, "doc_id", "left_anti").select("doc_id", "source")

    def budget_ordered_limit(spark, sf):
        # Q2 ordered budget cutoff (distributed top-K)
        docs = _t(spark, sf, "documents")
        return (
            docs.orderBy(F.desc("n_chars"), F.asc("doc_id"))
            .limit(50)
            .select("doc_id", "n_chars")
        )

    def fanin_union(spark, sf):
        # C3 fan-in = unionByName of two branch filters
        docs = _t(spark, sf, "documents")
        a = docs.filter((F.col("lang") == "en") & (F.col("n_chars") > 300))
        b = docs.filter((F.col("lang") == "de") & (F.col("n_chars") > 300))
        return a.unionByName(b).select("doc_id", "lang")

    def host_group_counts(spark, sf):
        # politeness host grouping (plain)
        docs = _t(spark, sf, "documents")
        return docs.groupBy("source").agg(F.count("*").alias("n_docs"))

    def salted_group_counts(spark, sf):
        # skew-defeating two-phase salted aggregation ≡ plain GROUP BY
        docs = _t(spark, sf, "documents")
        salted = docs.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(8)))
        partial = salted.groupBy("source", "_salt").agg(F.count("*").alias("_c"))
        return partial.groupBy("source").agg(F.sum("_c").alias("n_docs"))

    def host_heavy_hitters(spark, sf):
        # count-min-sketch frequency estimates next to exact counts —
        # per-host heavy-hitter state a 10^10-URL politeness/throttle tier
        # keeps as a few-MB sketch instead of an open-web-cardinality
        # exact table (operators/sketches.py; tree-merged like the seen
        # filter; all integer math, fixture pinned to an independent
        # xxh64-replica build)
        from go_crawler_spark.operators.sketches import heavy_hitters

        docs = _t(spark, sf, "documents")
        return heavy_hitters(docs, "source", depth=4, width=1 << 12)

    def semantic_dedup(spark, sf):
        # SemDeDup (Abbas et al. 2023): k-means over embeddings, then
        # within-cluster cosine pruning keeping the min id per near-dup
        # component — the cluster stage caps the quadratic stage at
        # O(sum |c|^2), the paper's web-scale trade. Bit-exact vs an
        # independent numpy replica via the operator's determinism
        # protocol (exact decimal centroid sums + 9-dp quantization).
        from go_crawler_spark.operators.semdedup import semdedup

        emb = _t(spark, sf, "embeddings")
        return semdedup(emb, "embedding", "vec_id", k=8, n_iters=4, threshold=0.4)

    def dsir_select_topk(spark, sf):
        # DSIR data selection (Xie et al. 2023): hashed-bigram importance
        # ratios of target (lang='en') vs raw corpus distributions, top-100
        # docs by score through the range-partitioned scheduler — the
        # "crawl text that reads like the target" selection stage
        # (operators/dsir.py; md5-prefix buckets and single-division
        # weights keep it bit-exact cross-engine)
        from go_crawler_spark.operators.dsir import dsir_select

        docs = _t(spark, sf, "documents")
        return dsir_select(docs, F.col("lang") == "en", k=100).select(
            "doc_id", "n_grams", "score", "seq"
        )

    def tfidf_top_terms(spark, sf):
        # tf-idf keyword extraction: top-3 terms per document under the
        # log-free smoothed idf (N+1)/(df+1) — every score ONE IEEE
        # division of exact integers (operators/tfidf.py)
        from go_crawler_spark.operators.tfidf import top_terms

        docs = _t(spark, sf, "documents")
        out = top_terms(docs, k=3)
        return out.withColumn("term_rank", F.col("term_rank").cast("long"))

    def linkgraph_hits(spark, sf):
        # HITS hubs/authorities over the synthetic link graph: integer
        # path-count power iterations (exact — normalization deferred to
        # one final division), same iterative-join workload as PageRank
        from go_crawler_spark.operators.linkgraph import hits

        docs, edges = _synthetic_edges(spark, sf)
        h = hits(docs.select(F.col("doc_id").alias("node")), edges, n_iter=2)
        return h.select(F.col("node").alias("doc_id"), "hub", "authority")

    def host_budget_allocation(spark, sf):
        # Hamilton (largest-remainder) apportionment of a round's page
        # budget across hosts proportional to pending volume — integer
        # arithmetic only, Σ quota == budget exactly
        # (operators/politeness.py::allocate_host_budget)
        from go_crawler_spark.operators.politeness import allocate_host_budget

        docs = _t(spark, sf, "documents")
        hosts = docs.groupBy("source").agg(F.sum("n_chars").alias("weight"))
        return allocate_host_budget(hosts, budget=1000, host_col="source")

    def streaming_quality_scores(spark, sf):
        # second Structured Streaming face: the documents table streamed
        # as a file source through the map-only ingest-analysis pipeline
        # (token count / quality / lang-id). Stateless, so stream ==
        # batch == the ANSI-SQL oracle bit for bit — a streaming query
        # with a full value-hash oracle, not rows-only.
        import shutil
        import tempfile
        import uuid

        from go_crawler_spark.streaming.pipeline import text_quality_stream

        src_file = os.path.join(sf, "documents.parquet")
        src_dir = tempfile.mkdtemp(prefix="stream_docs_")
        ckpt_dir = tempfile.mkdtemp(prefix="stream_qck_")
        shutil.copy(src_file, src_dir)
        schema = spark.read.parquet(src_file).schema
        st = spark.readStream.schema(schema).parquet(src_dir)
        out = text_quality_stream(st, id_cols=("doc_id",))
        qname = f"stream_q_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # the memory sink holds the rows now — the corpus copy and the
        # checkpoint are dead weight (this query runs on every gate pass;
        # leaking a corpus copy per run adds up)
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        return spark.table(qname).orderBy("doc_id")

    def streaming_seen_dedup(spark, sf):
        # third Structured Streaming face: the CUSTOM STATEFUL operator
        # (streaming/seen_state.py, applyInPandasWithState keyed on the
        # url-hash shard) — Q1's first-writer-wins contract over a
        # continuous ingest. The synthetic URL table is planted with
        # duplicate rows (every doc_id % 3 == 0 URL arrives three times);
        # the filter must emit each URL exactly once, so the output SET
        # equals SELECT DISTINCT url — a full value-hash oracle for a
        # stateful streaming operator (duplicate rows are identical, so
        # whichever copy wins first-writer, the emitted row is the same).
        import shutil
        import tempfile
        import uuid

        from go_crawler_spark.streaming.seen_state import (
            streaming_seen_filter,
        )

        docs = _t(spark, sf, "documents")
        urls = docs.select(_synth_url("doc_id").alias("url"))
        dups = docs.filter(F.col("doc_id") % 3 == 0).select(
            _synth_url("doc_id").alias("url")
        )
        feed = urls.unionByName(dups).unionByName(dups)
        src_dir = tempfile.mkdtemp(prefix="stream_seen_")
        ckpt_dir = tempfile.mkdtemp(prefix="stream_sck_")
        feed.write.mode("overwrite").parquet(src_dir)
        st = spark.readStream.schema("url string").parquet(src_dir)
        out = streaming_seen_filter(st, n_shards=8)
        qname = f"stream_seen_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        return spark.table(qname).select("url")

    def url_trap_census(spark, sf):
        # spider-trap detection (operators/traps.py): URL-template census
        # over the synthetic frontier plus an injected calendar trap —
        # prolific + content-poor templates get flagged; the verdict is an
        # integer comparison so the oracle reproduces it exactly
        from go_crawler_spark.operators.traps import url_trap_census as census

        docs = _t(spark, sf, "documents")
        d = F.col("doc_id")
        organic = docs.select(
            _synth_url("doc_id").alias("url"), F.md5("text").alias("fingerprint")
        )
        trap = docs.filter(d % 5 == 0).select(
            F.concat(
                F.lit("https://trap-site.org/cal/"),
                (d * 3 + 1).cast("string"),
                F.lit("/day/"),
                (d % 12).cast("string"),
            ).alias("url"),
            F.md5((d % 2).cast("string")).alias("fingerprint"),
        )
        return census(organic.unionByName(trap), min_urls=20)

    def corpus_drift_topk(spark, sf):
        # recrawl QA (operators/dsir.py::distribution_drift): top hashed-
        # bigram buckets by total-variation contribution between two
        # corpus snapshots (even/odd doc ids stand in for crawl N and
        # N+1) — all-integer drift terms, exact cross-engine
        from go_crawler_spark.operators.dsir import distribution_drift

        docs = _t(spark, sf, "documents")
        return distribution_drift(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            k=50,
        )

    def assets_collect_list(spark, sf):
        # T2 groupBy-collect_list (stringified for stable hashing)
        docs = _t(spark, sf, "documents")
        return docs.groupBy("lang").agg(
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("doc_ids"),
            F.count("*").alias("n_docs"),
        )

    def savepath_md5(spark, sf):
        # S5 md5 naming fallback (internal/models.go:208-211)
        docs = _t(spark, sf, "documents")
        return docs.filter(F.col("doc_id") < 50).select(
            "doc_id", F.md5(F.col("text")).alias("text_md5")
        )

    def metrics_counters(spark, sf):
        # M1 metrics aggregates over the events stream table
        ev = _t(spark, sf, "events")
        # decimal accumulation: order-independent, matches DuckDB exactly
        # (see events_sessionization)
        return ev.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,9)")), 6)
            .cast("double")
            .alias("sum_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )

    def size_gate(spark, sf):
        # S3 HEAD size gate → status column (row-preserving skip)
        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id",
            "n_chars",
            F.when(F.col("n_chars") > 400, F.lit("skipped_download"))
            .otherwise(F.lit("ok"))
            .alias("status"),
        )

    def fetch_lookup_join(spark, sf):
        # S2 fetch = frontier LEFT JOIN corpus; miss ⇔ skipped_download
        docs = _t(spark, sf, "documents")
        frontier = spark.range(0, 600, 7).select(F.col("id").alias("doc_id"))
        corpus = docs.select("doc_id", "n_chars")
        return frontier.join(corpus, "doc_id", "left").select(
            "doc_id",
            F.when(F.col("n_chars").isNull(), F.lit("skipped_download"))
            .otherwise(F.lit("ok"))
            .alias("status"),
        )

    def classify_kind(spark, sf):
        # P6 link/asset classification as when/otherwise
        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id",
            F.when(F.col("lang") == "en", F.lit("page")).otherwise(F.lit("asset")).alias("kind"),
        )

    def retry_backoff_schedule(spark, sf):
        # C1 backoff formula (retry.go:48-52), no jitter: delay·f^a capped
        return spark.range(0, 5).select(
            F.col("id").alias("attempt"),
            F.round(
                F.least(F.lit(3.0), F.lit(1.0) * F.pow(F.lit(2.0), F.col("id"))), 6
            ).alias("delay_s"),
        )

    def politeness_topk_per_host(spark, sf):
        # C4 politeness slots: first 3 per host (salted two-phase window)
        docs = _t(spark, sf, "documents")
        frontier = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.col("source").alias("host"),
            F.col("doc_id").alias("seq"),
        )
        fetch_now = assign_fetch_slots(
            frontier, slots_per_host=3, n_salts=4).filter(F.col("fetch_now"))
        return fetch_now.select(F.col("seq").alias("doc_id"), F.col("host").alias("source"))

    def global_seq_assignment(spark, sf):
        # Q3 scalable contiguous sequence (two-pass range partition)
        docs = _t(spark, sf, "documents")
        return assign_global_seq(
            docs.select("doc_id"), ["doc_id"], start=0, out_col="seq"
        ).select("doc_id", "seq")

    # ---- training-data pipeline: text analysis ----

    def token_counts(spark, sf):
        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))

    def quality_scores(spark, sf):
        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id", F.round(T.quality_score(F.col("text")), 6).alias("quality")
        )

    def lang_id_pred(spark, sf):
        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))

    def pii_scrub(spark, sf):
        # PII redaction (emails, then phone-like digit runs) — map-only
        # JVM regexp pass, no shuffle. The word-soup test corpus carries
        # no PII, so the query plants one deterministic email + phone per
        # doc (derived from doc_id) and the scrubber must remove exactly
        # those; counts are taken pre-scrub / post-email-scrub so the
        # oracle checks both pattern semantics and replacement bytes.
        docs = _t(spark, sf, "documents")
        enriched = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or call +1 (555) 01"),
                F.col("doc_id").cast("string"),
                F.lit(" now"),
            ).alias("text"),
        )
        after_email = T.scrub_email(F.col("text"))
        return enriched.select(
            "doc_id",
            T.scrub_pii(F.col("text")).alias("clean_text"),
            F.regexp_count(F.col("text"), F.lit(T.PII_EMAIL_PATTERN)).alias(
                "n_emails"
            ),
            F.regexp_count(after_email, F.lit(T.PII_PHONE_PATTERN)).alias(
                "n_phones"
            ),
        )

    def boilerplate_ngrams(spark, sf):
        # C4/RefinedWeb-style boilerplate detection: corpus-wide document
        # frequency of token 3-grams. explode -> two-phase aggregate
        # (map-side partial counts) on the gram; at 100 TB the gram key
        # space is huge but uniform (hash shuffle, no skew) and the df>=2
        # filter drops the singleton long tail before the top-k sort.
        docs = _t(spark, sf, "documents")
        grams = docs.select(
            "doc_id", F.explode(T.token_ngrams(F.col("text"), 3)).alias("gram")
        )
        return (
            grams.groupBy("gram")
            .agg(
                F.countDistinct("doc_id").alias("df"),
                F.count(F.lit(1)).alias("n_occ"),
            )
            .filter(F.col("df") >= 2)
            .orderBy(F.desc("df"), F.desc("n_occ"), F.asc("gram"))
            .limit(100)
        )

    def chunk_dedup_clean(spark, sf):
        # CCNet-style duplicated-chunk removal. The synthetic corpus has no
        # cross-doc duplicate 12-token chunks, so (as in dedup_clusters)
        # re-add every 10th doc under a shifted id: its chunks then occur
        # in 2 documents and must be cut from BOTH copies.
        from go_crawler_spark.operators.corpus_prep import chunk_dedup

        docs = _t(spark, sf, "documents").select("doc_id", "text")
        planted = docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        return chunk_dedup(docs.unionByName(planted)).select(
            "doc_id",
            "clean_text",
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_removed").cast("long").alias("n_removed"),
        )

    def decontaminate_corpus(spark, sf):
        # GPT-3-style n-gram decontamination: drop every corpus doc sharing
        # a token 5-gram with the "benchmark" slice (doc_id % 50 == 0 —
        # which also removes those docs themselves, plus any chance
        # 5-gram collision in the word-soup vocabulary).
        from go_crawler_spark.operators.corpus_prep import decontaminate

        docs = _t(spark, sf, "documents")
        bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
        return decontaminate(docs, bench, ngram=5).select(
            "doc_id", "lang", "source"
        )

    def hash_split_assign(spark, sf):
        from go_crawler_spark.operators.corpus_prep import hash_split

        docs = _t(spark, sf, "documents")
        return hash_split(docs).select("doc_id", "split")

    def pack_sequences_bins(spark, sf):
        from go_crawler_spark.operators.corpus_prep import pack_sequences

        docs = _t(spark, sf, "documents")
        return pack_sequences(docs, seq_len=256).select(
            "source",
            "bin_id",
            "n_docs",
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )

    def source_mix(spark, sf):
        # alpha=0.5: sqrt is correctly rounded IEEE in both engines, so the
        # 6-dp weights are bit-stable across Spark and the DuckDB oracle
        from go_crawler_spark.operators.corpus_prep import source_mix_weights

        docs = _t(spark, sf, "documents")
        return source_mix_weights(docs, alpha=0.5).select(
            "source",
            "n_docs",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "weight",
        )

    def priority_frontier_topk(spark, sf):
        # priority-ordered fetch-queue selection (north-star "depth/
        # priority-ordered fetch queue"): global top-100 of a synthetic
        # frontier by (priority, id) without a single-task ordered merge
        from go_crawler_spark.operators.sequence import priority_schedule

        docs = _t(spark, sf, "documents")
        frontier = docs.select(
            F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
            (F.col("n_chars") % 7).alias("priority"),
            F.col("doc_id").alias("tie"),
        )
        return priority_schedule(frontier, ["priority", "tie"], k=100).select(
            "url", "priority", "seq"
        )

    def robots_rules_parse(spark, sf):
        # RFC 9309 robots.txt parse: groups (multi-agent headers),
        # comments, unknown directives, empty values -> rules table.
        # Fixture oracle: independent parser in tools/gen_fixtures.py.
        from go_crawler_spark.functions.robots import (
            SYNTHETIC_ROBOTS_CORPUS,
            parse_robots_rules,
        )

        corpus = spark.createDataFrame(SYNTHETIC_ROBOTS_CORPUS, ["host", "body"])
        return parse_robots_rules(corpus)

    def robots_rfc_verdict(spark, sf):
        # RFC 9309 longest-match verdicts (wildcards, $-anchors,
        # allow-wins-ties, default-allow) over a synthetic frontier
        from go_crawler_spark.functions.robots import (
            SYNTHETIC_VERDICT_RULES,
            pattern_to_regex,
            robots_verdict,
        )

        docs = _t(spark, sf, "documents")
        d = F.col("doc_id").cast("string")
        path = (
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/private/doc"), d))
            .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/private/pub/doc"), d))
            .when(
                F.col("doc_id") % 5 == 2,
                F.concat(F.lit("/files/doc"), d, F.lit(".zip")),
            )
            .when(
                F.col("doc_id") % 5 == 3,
                F.concat(F.lit("/page"), d, F.lit(".htm")),
            )
            .otherwise(F.concat(F.lit("/folder/doc"), d))
        )
        host = F.concat(
            F.lit("h"), (F.col("doc_id") % 3).cast("string"), F.lit(".example.com")
        )
        frontier = docs.select(
            F.concat(F.lit("https://"), host, path).alias("url"),
            host.alias("host"),
        )
        rules = spark.createDataFrame(
            [
                (h, "*", a, p, len(p), pattern_to_regex(p))
                for h, a, p in SYNTHETIC_VERDICT_RULES
            ],
            "host string, agent string, allow boolean, pattern string, "
            "pattern_len int, regex string",
        )
        return robots_verdict(frontier, rules).select("url", "robots_allowed")

    def warc_roundtrip(spark, sf):
        # WARC container round-trip: pages -> response records -> packed
        # multi-record segments -> content-length-aware scan back. The
        # oracle is the identity on the source rows, so any framing,
        # ordering, or byte-slicing bug breaks the hash.
        from go_crawler_spark.sources.warc import (
            pack_segments,
            parse_warc_segments,
            to_warc_records,
        )

        docs = _t(spark, sf, "documents")
        pages = docs.select(
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/doc"), F.col("doc_id").cast("string"),
            ).alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
            F.encode(F.col("text"), "UTF-8").alias("html"),
        )
        segs = pack_segments(
            to_warc_records(pages), F.pmod(F.xxhash64("url"), F.lit(8))
        )
        return parse_warc_segments(segs).select(
            "url",
            "warc_date",
            F.decode(F.col("payload"), "UTF-8").alias("text"),
        )

    def wet_roundtrip(spark, sf):
        # WET derivation round-trip (sources/warc.py::to_wet_records):
        # pages -> conversion records (extracted text, UTF-8 octet
        # Content-Length) -> packed segments -> scanned back. Identity
        # oracle, same discipline as warc_roundtrip — the CC *.wet.gz
        # export path.
        from go_crawler_spark.sources.warc import (
            pack_segments,
            parse_warc_segments,
            to_wet_records,
        )

        docs = _t(spark, sf, "documents")
        pages = docs.select(
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/doc"), F.col("doc_id").cast("string"),
            ).alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
            F.col("text"),
        )
        segs = pack_segments(
            to_wet_records(pages), F.pmod(F.xxhash64("url"), F.lit(8))
        )
        return parse_warc_segments(segs).select(
            "url",
            "warc_date",
            F.decode(F.col("payload"), "UTF-8").alias("text"),
        )

    def cdx_index_lines(spark, sf):
        # CDXJ URL-index records (sources/cdx.py): SURT + ts14 + fixed-
        # key-order JSON — the wayback/CC index artifact; the writer owns
        # the global (surt, ts) range sort, the query face is the
        # order-insensitive record set.
        from go_crawler_spark.sources.cdx import to_cdxj_lines

        docs = _t(spark, sf, "documents")
        pages = docs.select(
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/doc"), F.col("doc_id").cast("string"),
            ).alias("url"),
            F.timestamp_seconds(
                F.lit(1_704_067_200) + (F.col("doc_id") % 500) * 60
            ).alias("warc_ts"),
            F.encode(F.col("text"), "UTF-8").alias("html"),
        )
        return to_cdxj_lines(pages)

    def sitemap_seed_urls(spark, sf):
        # sitemap XML seed source: per-source <urlset> docs built
        # deterministically, parsed back with JVM xpath (S1 extension)
        from go_crawler_spark.sources.sitemap import sitemap_urls

        docs = _t(spark, sf, "documents")
        entry = F.concat(
            F.lit("<url><loc>https://"), F.col("source"),
            F.lit(".example.com/doc"), F.col("doc_id").cast("string"),
            F.lit("</loc><lastmod>2024-"),
            F.lpad(((F.col("doc_id") % 12) + 1).cast("string"), 2, "0"),
            F.lit("-01</lastmod></url>"),
        )
        sitemaps = (
            docs.select("source", F.col("doc_id"), entry.alias("e"))
            .groupBy("source")
            .agg(
                F.concat(
                    F.lit("<urlset>"),
                    F.concat_ws(
                        "",
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("doc_id", "e"))
                            ),
                            lambda s: s["e"],
                        ),
                    ),
                    F.lit("</urlset>"),
                ).alias("xml")
            )
        )
        return sitemap_urls(sitemaps).select("source", "loc", "lastmod")

    def fingerprints(spark, sf):
        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", T.fingerprint_md5(F.col("text")).alias("fingerprint"))

    def bpe_token_counts(spark, sf):
        # BPE-ish subword-load estimate: word/number runs + punctuation atoms
        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id", T.word_token_count(F.col("text")).alias("n_atoms")
        )

    def ccnet_perplexity_buckets(spark, sf):
        # CCNet-style LM quality bucketing (Wenzek et al. 2020): add-one
        # bigram LM trained on the reference slice (doc_id % 10 < 3),
        # every doc scored by mean -ln p(w_i|w_{i-1}), bucketed
        # head/middle/tail at the exact 1/3 and 2/3 score percentiles.
        # Scoring is explode + two broadcast count joins + one groupBy —
        # the bucket step is a map-side CASE against fixed thresholds
        # (CCNet's precomputed-cutoff design; no global sort anywhere).
        from go_crawler_spark.operators.perplexity import (
            bucket_by_thresholds,
            lm_counts,
            perplexity_scores,
            score_thresholds,
        )

        docs = _t(spark, sf, "documents")
        big, uni, vocab = lm_counts(docs.filter("doc_id % 10 < 3"), min_count=2)
        # persisted: thresholds and the returned plan share this frame
        scored = perplexity_scores(docs, big, uni, vocab).persist()
        t1, t2 = score_thresholds(scored, exact=True)
        return bucket_by_thresholds(scored, t1, t2).select(
            "doc_id", "n_bigrams", "avg_neg_logp", "bucket"
        )

    def training_order_shards(spark, sf):
        # FineWeb-style deterministic training-order shuffle: md5(seed:id)
        # assigns 16 shards (first hex char) and a dense pseudorandom
        # position within each; per-shard window sort, no global sort.
        from go_crawler_spark.operators.corpus_prep import training_order

        docs = _t(spark, sf, "documents")
        return training_order(docs.select("doc_id"), seed=7).select(
            "doc_id", "shard", "shard_pos"
        )

    def domain_cap_select(spark, sf):
        # FineWeb-style per-domain quota: keep the top-3 docs per
        # registrable domain by (n_chars DESC, doc_id) — the
        # anti-domination stage; salted two-phase top-k, so a
        # mega-domain never lands in one task's sort
        from go_crawler_spark.functions.urls import (
            registrable_domain_expr,
            surt_host_expr,
        )
        from go_crawler_spark.operators.corpus_prep import domain_cap

        docs = (
            _t(spark, sf, "documents")
            .withColumn("url", _synth_url("doc_id"))
            .withColumn(
                "domain", registrable_domain_expr(surt_host_expr("url"))
            )
        )
        kept = domain_cap(
            docs,
            "domain",
            cap=3,
            order_by=[F.desc("n_chars"), F.col("doc_id")],
        )
        return kept.select("doc_id", "domain", "n_chars")

    def dedup_clusters(spark, sf):
        # duplicate clusters (fingerprint -> sorted member ids, size > 1).
        # The synthetic documents table has no exact dups, so re-add every
        # 10th doc under a shifted id — the clusters then actually exercise
        # the grouping (50 clusters of 2 at every sf, not an empty result).
        from go_crawler_spark.operators.dedup_corpus import exact_dup_groups

        base = _t(spark, sf, "documents").select("doc_id", "text")
        echoes = base.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
        docs = base.unionByName(echoes)
        return exact_dup_groups(docs, "text", "doc_id").select(
            "fingerprint",
            "n_members",
            F.concat_ws(",", F.transform("member_ids", lambda x: x.cast("string")))
            .alias("member_ids"),
        )

    def repetition_scores(spark, sf):
        # Gopher-style repetition quality signals (public paper; see
        # operators/quality.py docstring)
        from go_crawler_spark.operators.quality import repetition_scores as rep

        docs = _t(spark, sf, "documents")
        return rep(docs, "text", "doc_id")

    def corpus_prepare(spark, sf):
        # End-to-end training-corpus preparation — the composition a webtext
        # pipeline runs before tokenization: exact dedup -> language ID ->
        # quality gate -> per-doc token accounting, all JVM-side except the
        # dedup anti-join (itself fingerprint-only; text never shuffles).
        # Echo rows (every 7th doc re-added under doc_id-200000) make the
        # dedup stage observable: the echo wins first-writer min-id, so the
        # oracle must implement dedup, not just the filters.
        from go_crawler_spark.operators.dedup_corpus import exact_dedup

        base = _t(spark, sf, "documents").select("doc_id", "text")
        echoes = base.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") - 200000).alias("doc_id"), "text"
        )
        kept = exact_dedup(base.unionByName(echoes), "text", "doc_id")
        enriched = kept.select(
            "doc_id",
            T.lang_id(F.col("text")).alias("lang"),
            F.round(T.quality_score(F.col("text")), 6).alias("quality"),
            T.token_count(F.col("text")).alias("n_tokens"),
            T.word_token_count(F.col("text")).alias("n_atoms"),
        )
        return enriched.filter(
            (F.col("quality") >= 0.7) & (F.col("lang") != "und")
        )

    def corpus_prepare_v2(spark, sf):
        # Full round-2 composition — what a webtext pipeline runs between
        # "crawled" and "trainable": plant deterministic PII (making the
        # scrub observable) -> PII scrub -> GPT-3-style 5-gram
        # decontamination vs a benchmark slice -> language ID + quality
        # gate -> deterministic md5-band split -> per-(split, lang) doc
        # and token accounting. Quality sums go through DECIMAL(18,6) so
        # parallel summation order cannot move the 6-dp result.
        from go_crawler_spark.operators.corpus_prep import (
            decontaminate,
            hash_split,
        )

        docs = _t(spark, sf, "documents")
        enriched = docs.select(
            "doc_id",
            "source",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com now"),
            ).alias("text"),
        )
        scrubbed = enriched.select(
            "doc_id", "source", T.scrub_pii(F.col("text")).alias("text")
        )
        bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
        decon = decontaminate(scrubbed, bench, ngram=5)
        scored = decon.select(
            "doc_id",
            T.lang_id(F.col("text")).alias("lang"),
            F.round(T.quality_score(F.col("text")), 6).alias("q"),
            T.word_token_count(F.col("text")).alias("n_atoms"),
        )
        gated = scored.filter((F.col("q") >= 0.7) & (F.col("lang") != "und"))
        split = hash_split(gated)
        return split.groupBy("split", "lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_atoms").cast("long").alias("n_tokens"),
            F.sum(F.col("q").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_quality"),
        )

    def corpus_release(spark, sf):
        """End-to-end LLM corpus release [EXTENSION — the full composition
        a 100-TB webtext user runs]: crawl → canonical consolidation →
        redirect alias dedup → exact dedup → MinHash components +
        keep-best → ExactSubstr excision → quality/lang gates → 5-gram
        decontamination → hash split → sequence packing. Near-dup removal
        runs BEFORE ExactSubstr (Lee et al. 2022's own order: NearDup then
        ExactSubstr — the reverse would excise whole near-dup docs into
        stubs). Every stage is an already-oracled operator; this query
        proves the column contracts and dedup-order seams compose.

        The release universe is deterministic: each crawled page yields 8
        chunk-docs over the documents table, with planted per-chunk cases
        making every stage's drop observable — c1 declares a canonical to
        c0 (odd pages use the UPPERCASE-unquoted form), c3→c2→c0 is a
        redirect chain, c4 is an exact dup of c0, c5 a J≈0.98 near dup,
        c6 appends shared boilerplate (ExactSubstr excises exactly it),
        c7 appends a benchmark 5-gram (decontamination drops it).

        Oracle: full LIVE SQL — the crawl stage reads the independent
        simulator fixture; every other stage re-derives in DuckDB
        (recursive-CTE redirect walk, min-label component propagation,
        exact all-pairs Jaccard for the near-dup stage — planted pairs sit
        at J≈0.98 where 64-hash/16-band LSH recall is complete for this
        fixed universe, verified at all committed scales)."""
        from go_crawler_spark.config import CrawlConfig
        from go_crawler_spark.datagen import default_seeds, generate_pages_df
        from go_crawler_spark.functions.text import (
            normalize_for_fingerprint,
            tokens,
        )
        from go_crawler_spark.operators.canonical import (
            consolidate_canonicals,
        )
        from go_crawler_spark.operators.corpus_prep import (
            decontaminate,
            hash_split,
        )
        from go_crawler_spark.operators.dedup_corpus import (
            connected_components,
            exact_dedup,
        )
        from go_crawler_spark.operators.redirects import dedup_by_final_url
        from go_crawler_spark.operators.substring_dedup import (
            duplicate_ngram_spans,
            excise_duplicate_spans,
        )
        from go_crawler_spark.plans.crawl import run_crawl

        # stage 0 — crawl (flagship config; oracle = simulator fixture)
        pages = generate_pages_df(spark, _crawl_scale(sf), seed=42)
        cfg = CrawlConfig(max_count=30, host_slots_per_round=4)
        sched = run_crawl(spark, pages, default_seeds(), cfg).schedule
        crawled = (
            sched.filter(F.col("kind") == "page")
            .select("url", "seq")
            .withColumn(
                "r", F.row_number().over(Window.orderBy("seq")) - F.lit(1)
            )
        )
        docs = _t(spark, sf, "documents")

        # stage 0.5 — release universe: 8 chunk-docs per crawled page.
        # Bounded by construction (≤ 8·(max_count+seeds) rows), so it is
        # collected and re-created locally: the ten downstream stages get
        # a flat lineage instead of multiplying the crawl DAG.
        boiler = ("all rights reserved contact legal example com for "
                  "terms and conditions apply")
        contam = docs.filter(F.col("doc_id") == 50).select(
            F.concat_ws(
                " ",
                F.slice(
                    tokens(normalize_for_fingerprint(F.col("text"))), 1, 5
                ),
            ).alias("_ctam")
        )
        rel = (
            crawled.select(
                F.col("url").alias("page_url"), "r",
                F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
            )
            .withColumn("doc_id", (F.col("r") * 8 + F.col("j")).cast("long"))
            .withColumn(
                "rel_url",
                F.concat(F.col("page_url"), F.lit("?c="),
                         F.col("j").cast("string")),
            )
            .withColumn(
                "_src_doc",
                F.when(F.col("j").isin(4, 5), F.col("r") * 8)
                .otherwise(F.col("doc_id")).cast("long"),
            )
            .join(
                docs.select(F.col("doc_id").alias("_bid"),
                            F.col("text").alias("_btext")),
                F.col("_src_doc") == F.col("_bid"),
            )
            .crossJoin(F.broadcast(contam))
            .select(
                "doc_id", "rel_url", "page_url",
                F.when(
                    F.col("j") == 5,
                    F.concat("_btext", F.lit(" reld5x"),
                             F.col("r").cast("string")),
                )
                .when(F.col("j") == 6, F.concat("_btext", F.lit(" " + boiler)))
                .when(F.col("j") == 7,
                      F.concat("_btext", F.lit(" "), F.col("_ctam")))
                .otherwise(F.col("_btext")).alias("text"),
                F.concat(
                    F.lit("<html><head>"),
                    F.when(
                        (F.col("j") == 1) & (F.col("r") % 2 == 1),
                        F.concat(F.lit('<LINK REL=CANONICAL HREF="'),
                                 F.col("page_url"), F.lit('?c=0">')),
                    ).when(
                        F.col("j") == 1,
                        F.concat(F.lit('<link rel="canonical" href="'),
                                 F.col("page_url"), F.lit('?c=0">')),
                    ).otherwise(F.lit("")),
                    F.lit("</head><body></body></html>"),
                ).alias("html"),
            )
        )
        # Every inter-stage table is bounded (≤ 240 rows by construction),
        # so stages consumed by multiple downstream branches are collected
        # and re-created locally — without this each branch re-executes the
        # whole upstream composition (crawl included) once per action.
        def _localize(df):
            return spark.createDataFrame(df.collect(), df.schema)

        rel = _localize(rel)

        # stage 1 — canonical consolidation: keep group representatives
        reps = consolidate_canonicals(
            rel.select(F.col("rel_url").alias("url"), "html")
        ).select(F.col("representative").alias("rel_url"))
        s1 = rel.join(reps, "rel_url", "left_semi")

        # stage 2 — redirect alias dedup over the synthetic c3→c2→c0 chains
        pages_local = rel.select("page_url").distinct()
        edges = pages_local.select(
            F.concat("page_url", F.lit("?c=2")).alias("src_url"),
            F.concat("page_url", F.lit("?c=0")).alias("dst_url"),
        ).unionByName(pages_local.select(
            F.concat("page_url", F.lit("?c=3")).alias("src_url"),
            F.concat("page_url", F.lit("?c=2")).alias("dst_url"),
        ))
        keep2 = dedup_by_final_url(
            s1.select(F.col("rel_url").alias("url")), edges
        ).select(F.col("first_alias").alias("rel_url"))
        s2 = _localize(s1.join(keep2, "rel_url", "left_semi"))

        # stage 3 — exact dedup (keep min doc_id per content fingerprint)
        s3 = _localize(s2.join(
            exact_dedup(s2.select("doc_id", "text"), "text", "doc_id")
            .select("doc_id"),
            "doc_id", "left_semi",
        ))

        # stage 4 — MinHash near-dup components + keep-best quality
        pairs = minhash_near_dups(s3, "text", "doc_id", threshold=0.7)
        comps = connected_components(pairs)
        q = s3.select(
            "doc_id", F.round(T.quality_score(F.col("text")), 6).alias("_q")
        )
        jn = q.join(comps, q["doc_id"] == comps["node"], "left").select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("_comp"),
            "_q",
        )
        w = Window.partitionBy("_comp").orderBy(F.desc("_q"), F.asc("doc_id"))
        keep4 = (
            jn.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).select("doc_id")
        )
        s4 = _localize(s3.join(keep4, "doc_id", "left_semi"))

        # stage 5 — ExactSubstr spans + excision (k=8 over the survivors)
        spans = duplicate_ngram_spans(s4, "text", "doc_id", k=8)
        s5 = s4.join(
            excise_duplicate_spans(s4, spans, "text", "doc_id"), "doc_id"
        ).select("doc_id", "rel_url", F.col("clean_text").alias("text"))

        # stage 6 — quality/lang gates on the cleaned text
        gated = _localize(s5.select(
            "doc_id", "rel_url", "text",
            T.lang_id(F.col("text")).alias("lang"),
            F.round(T.quality_score(F.col("text")), 6).alias("quality"),
            T.word_token_count(F.col("text")).alias("n_tokens"),
        ).filter((F.col("quality") >= 0.7) & (F.col("lang") != "und")))

        # stage 7 — decontamination vs the benchmark slice
        bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
        decon = decontaminate(gated, bench, ngram=5)

        # stage 8 — split + pack (the per-doc view of pack_sequences: the
        # same cumulative-window bin rule, partitioned by split)
        w2 = Window.partitionBy("split").orderBy("doc_id")
        return (
            hash_split(decon)
            .withColumn(
                "bin_id",
                F.floor(
                    (F.sum("n_tokens").over(w2) - F.col("n_tokens")) / 256
                ).cast("long"),
            )
            .select(
                "doc_id", F.col("rel_url").alias("url"), "split", "lang",
                "quality", "n_tokens", "bin_id",
            )
            .orderBy("doc_id")
        )

    def ngram_jaccard_pairs(spark, sf):
        # exact token-3-gram Jaccard for all pairs among doc_id < 30
        docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 30)
        sh = docs.select(
            "doc_id",
            F.array_distinct(T.token_ngrams(F.col("text"), 3)).alias("sh"),
        )
        a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        return (
            a.join(b, a["id_a"] < b["id_b"])
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 6
                ).alias("jaccard"),
            )
        )

    # ---- training-data pipeline: embeddings ----

    def embedding_topk_bruteforce(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = (
            emb.filter(F.col("vec_id") < 3)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
        )
        top = brute_force_topk(emb, queries_df, k=5)
        return top.select(
            "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
        )

    def embedding_near_dup_exact(spark, sf):
        # embedding-cosine near-dup, exact brute-force tier (the baseline
        # the LSH variant is judged against); threshold tuned to the
        # near-random synthetic vectors so the result is non-empty
        emb = _t(spark, sf, "embeddings")
        vec = F.col("embedding").cast("array<double>")
        a = emb.select(F.col("vec_id").alias("id_a"), vec.alias("vec_a"))
        b = emb.select(F.col("vec_id").alias("id_b"), vec.alias("vec_b"))
        return (
            a.join(b, a["id_a"] < b["id_b"])
            .withColumn("cosine", cosine_similarity_expr("vec_a", "vec_b"))
            .filter(F.col("cosine") >= 0.4)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        )

    def embedding_near_dup_lsh(spark, sf):
        # scale path: multi-table random-hyperplane LSH + exact verify
        from go_crawler_spark.operators.dedup_corpus import embedding_near_dups

        emb = _t(spark, sf, "embeddings")
        return embedding_near_dups(
            emb, "embedding", "vec_id", dim=64, threshold=0.4
        ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))

    def embedding_lsh_recall(spark, sf):
        # recall of the LSH near-dup tier vs its exact counterpart — the
        # number a pipeline owner tunes n_planes against
        ex = embedding_near_dup_exact(spark, sf).select("id_a", "id_b")
        got = (
            embedding_near_dup_lsh(spark, sf)
            .select("id_a", "id_b")
            .withColumn("_hit", F.lit(1))
        )
        j = ex.join(got, ["id_a", "id_b"], "left")
        found = F.coalesce(F.sum("_hit"), F.lit(0))
        return j.agg(
            F.count(F.lit(1)).alias("n_exact"),
            found.alias("n_found"),
            F.round(found / F.count(F.lit(1)), 6).alias("recall"),
        )

    def ann_ivf_recall(spark, sf):
        # recall@5 of IVF ANN vs brute force (the n_probe/n_cells trade)
        bf = embedding_topk_bruteforce(spark, sf).select("query_id", "vec_id")
        iv = (
            embedding_ann_ivf(spark, sf)
            .select("query_id", "vec_id")
            .withColumn("_hit", F.lit(1))
        )
        j = bf.join(iv, ["query_id", "vec_id"], "left")
        found = F.coalesce(F.sum("_hit"), F.lit(0))
        return j.agg(
            F.count(F.lit(1)).alias("n_exact"),
            found.alias("n_found"),
            F.round(found / F.count(F.lit(1)), 6).alias("recall"),
        )

    def events_asof_join(spark, sf):
        # as-of join: for every click, the most recent view at-or-before
        # it per user — expressed as a forward-fill window (one shuffle on
        # user_id, no pairwise range join; ties broken by event_id so the
        # order is total). At 100 TB this scales as a plain windowed pass
        # per user partition; skewed users would salt the same way the
        # politeness window does.
        ev = _t(spark, sf, "events")
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        is_view = F.col("event_type") == "view"
        filled = ev.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.last(F.when(is_view, F.col("event_id")), ignorenulls=True)
            .over(w)
            .alias("view_event_id"),
            F.last(F.when(is_view, F.col("ts")), ignorenulls=True)
            .over(w)
            .alias("view_ts"),
        )
        return filled.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "view_event_id", "view_ts"
        )

    def events_sessionization(spark, sf):
        # window-function breadth: 30-min-gap sessionization per user
        # (lag → gap flag → cumulative session index → per-session rollup)
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gapped = ev.withColumn(
            "new_session",
            F.when(
                F.col("ts").cast("timestamp").cast("long")
                - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
                > 1800,
                1,
            )
            .otherwise(0)
            .cast("int"),
        ).withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        # sum as DECIMAL(38,9): float sums depend on partial-agg order, and
        # 6-dp rounding does not mask ulp drift at rounding boundaries —
        # decimal accumulation is order-independent and matches DuckDB bit
        # for bit (round-1 hash mismatch fix)
        return gapped.groupBy("user_id", "session_id").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,9)")), 6)
            .cast("double")
            .alias("sum_value"),
            F.min(F.col("ts").cast("timestamp").cast("long")).alias("session_start_epoch"),
            F.max(F.col("ts").cast("timestamp").cast("long")).alias("session_end_epoch"),
        )

    def _synth_url(doc):
        # deterministic Common-Crawl-ish URL per document: optional
        # userinfo, subdomain, port, query, fragment — every branch the
        # SURT/host expressions must handle. Mirrored verbatim in the
        # oracle SQL (_SYNTH_URL_SQL).
        d = F.col("doc_id")
        return F.concat(
            F.lit("https://"),
            F.when(d % 7 == 0, F.lit("user:pw@")).otherwise(F.lit("")),
            F.when(d % 3 == 0, F.lit("www."))
            .when(d % 3 == 1, F.lit("cdn."))
            .otherwise(F.lit("")),
            F.col("source"),
            F.lit("-site.org"),
            F.when(d % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
            F.lit("/Docs/"),
            d.cast("string"),
            F.when(d % 4 == 0, F.lit("?page=2&ref=a")).otherwise(F.lit("")),
            F.when(d % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
        )

    def surt_keys(spark, sf):
        # frontier locality key: reversed-host SURT (range-partition the
        # frontier on this and same-host URLs co-locate; see
        # functions/urls.py::surt_key_expr)
        from go_crawler_spark.functions.urls import surt_host_expr, surt_key_expr

        docs = _t(spark, sf, "documents").withColumn("url", _synth_url("doc_id"))
        return docs.select(
            "doc_id",
            "url",
            surt_host_expr("url").alias("host"),
            surt_key_expr("url").alias("surt"),
        )

    def url_blocklist_gate(spark, sf):
        # UT1-style domain blocklist: broadcast equality join on the
        # registrable domain covers every subdomain — no suffix LIKE scan
        from go_crawler_spark.functions.urls import (
            registrable_domain_expr,
            surt_host_expr,
        )

        docs = _t(spark, sf, "documents").withColumn("url", _synth_url("doc_id"))
        hosts = docs.select(
            "doc_id",
            surt_host_expr("url").alias("host"),
        ).withColumn("registrable", registrable_domain_expr("host"))
        block = spark.createDataFrame(
            [("src3-site.org",), ("src7-site.org",), ("src12-site.org",)],
            "registrable string",
        ).withColumn("blocked", F.lit(True))
        return (
            hosts.join(F.broadcast(block), "registrable", "left")
            .select(
                "doc_id",
                "host",
                F.coalesce("blocked", F.lit(False)).alias("blocked"),
            )
        )

    def crawl_snapshot_diff(spark, sf):
        # incremental recrawl: full-outer fingerprint diff of two snapshots
        from go_crawler_spark.operators.revisit import snapshot_diff

        docs = _t(spark, sf, "documents")
        fp_old = F.md5(T.normalize_for_fingerprint(F.col("text")))
        # second snapshot: every 5th doc vanished, every 3rd changed, and
        # 30 new URLs appeared
        old = docs.filter(F.col("doc_id") % 7 != 0).select(
            F.col("doc_id").alias("url_id"), fp_old.alias("fingerprint")
        )
        new_fp = F.when(
            F.col("doc_id") % 3 == 0,
            F.md5(F.concat(T.normalize_for_fingerprint(F.col("text")), F.lit("!v2"))),
        ).otherwise(fp_old)
        new = docs.filter(F.col("doc_id") % 5 != 0).select(
            F.col("doc_id").alias("url_id"), new_fp.alias("fingerprint")
        )
        return snapshot_diff(old, new, key_col="url_id")

    def recrawl_due(spark, sf):
        # adaptive revisit policy over per-URL fetch stats (events table:
        # user_id ~ url, one event ~ one observed fetch)
        from go_crawler_spark.operators.revisit import recrawl_schedule

        ev = _t(spark, sf, "events")
        stats = ev.groupBy(F.col("user_id").alias("url_id")).agg(
            F.max("ts").alias("last_fetch_ts"),
            F.count(F.lit(1)).alias("fetch_count"),
            F.countDistinct("event_type").alias("change_count"),
        )
        return recrawl_schedule(
            stats, now_epoch_s=1_707_955_200, url_col="url_id"  # 2024-02-15 UTC
        )

    def url_strip_tracking(spark, sf):
        # query canonicalization: drop tracking params, sort survivors —
        # share-link identity collapse before the Q1 seen-check
        from go_crawler_spark.functions.urls import strip_tracking_params_expr

        d = F.col("doc_id")
        qs_variant = (
            F.when(d % 4 == 0, F.lit("?utm_source=tw&b=2&a=1"))
            .when(d % 4 == 1, F.lit("?fbclid=abc"))
            .when(d % 4 == 2, F.lit("?z=9&gclid=x&y=8&utm_medium=email"))
            .otherwise(F.lit(""))
        )
        docs = _t(spark, sf, "documents").withColumn(
            "url",
            F.concat(
                F.lit("https://"), F.col("source"), F.lit("-site.org/p/"),
                d.cast("string"), qs_variant,
            ),
        )
        return docs.select(
            "doc_id", "url", strip_tracking_params_expr("url").alias("clean_url")
        )

    def domain_census(spark, sf):
        # per-domain frontier planning rollup (doc counts, volume, size
        # percentiles). Exact `percentile` here so DuckDB's quantile_cont
        # can value-check it; the 100 TB path swaps in approx_percentile
        # (t-digest sketch, map-side mergeable) with the same plan shape.
        docs = _t(spark, sf, "documents")
        return docs.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
        )

    def robots_sitemaps(spark, sf):
        # Sitemap: discovery from robots.txt (group-independent record) —
        # bridges the robots tier to the sitemap seed source
        from go_crawler_spark.functions.robots import robots_sitemap_refs

        d = F.col("doc_id")
        ds = d.cast("string")
        body = F.concat(
            F.lit("User-agent: *\nDisallow: /private\n"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit("Sitemap: https://"), F.col("source"),
                    F.lit("-site.org/sitemap.xml\n"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 4 == 0,
                F.concat(
                    F.lit("sitemap:   https://"), F.col("source"),
                    F.lit("-site.org/sm/"), ds, F.lit(".xml   # index\n"),
                ),
            ).otherwise(F.lit("")),
            F.lit("Allow: /\n"),
        )
        robots = _t(spark, sf, "documents").select(
            F.concat(F.lit("h"), ds).alias("host"), body.alias("body")
        )
        return robots_sitemap_refs(robots)

    def mime_sniff(spark, sf):
        # classify fetched payloads by magic bytes (servers lie about
        # Content-Type); synthetic payload = known magic + text bytes
        from go_crawler_spark.operators.multimodal import sniff_mime_expr

        d = F.col("doc_id")
        magic_hex = (
            F.when(d % 10 == 0, "89504E470D0A1A0A")            # PNG
            .when(d % 10 == 1, "FFD8FFE0")                     # JPEG
            .when(d % 10 == 2, "47494638")                     # GIF
            .when(d % 10 == 3, "25504446")                     # PDF
            .when(d % 10 == 4, "5249464658585858574156450000")  # RIFF/WAVE
            .when(d % 10 == 5, "524946465858585857454250")      # RIFF/WEBP
            .when(d % 10 == 6, "3C68746D6C3E")                 # <html>
            .when(d % 10 == 7, "494433")                       # ID3 mp3
            .when(d % 10 == 8, "1F8B08")                       # gzip
            .otherwise("00112233")                             # unknown
        )
        docs = _t(spark, sf, "documents").withColumn(
            "payload",
            F.concat(
                F.unhex(magic_hex),
                F.encode(F.col("text").substr(1, 32), "utf-8"),
            ),
        )
        return docs.select("doc_id", sniff_mime_expr("payload").alias("mime"))

    def stratified_sample_lang(spark, sf):
        # deterministic per-language downsampling (materializes source_mix)
        from go_crawler_spark.operators.corpus_prep import stratified_sample

        docs = _t(spark, sf, "documents")
        rates = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.0}
        return stratified_sample(
            docs, rates, strata_col="lang", default_rate=0.125
        ).select("doc_id", "lang")

    def embedding_pair_sims(spark, sf):
        emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 15)
        # compute in float64 on both sides (oracle casts to DOUBLE[] too)
        vec = F.col("embedding").cast("array<double>")
        a = emb.select(F.col("vec_id").alias("id_a"), vec.alias("vec_a"))
        b = emb.select(F.col("vec_id").alias("id_b"), vec.alias("vec_b"))
        return (
            a.join(b, a["id_a"] < b["id_b"])
            .select(
                "id_a",
                "id_b",
                F.round(cosine_similarity_expr("vec_a", "vec_b"), 6).alias("cosine"),
            )
        )

    # ---- TPC-H-style breadth (engine generality: agg + multi-join) ----

    def tpch_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("sum_disc_price"),
                F.count("*").alias("count_order"),
            )
        )

    def revenue_by_priority(spark, sf):
        li = _t(spark, sf, "lineitem")
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        rev = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
                F.count("*").alias("n_items"),
            )
        )
        return rev

    # ---- rows-only (UDF / probabilistic / crawl-native) ----

    def crawl_flagship(spark, sf):
        from go_crawler_spark.config import CrawlConfig
        from go_crawler_spark.datagen import default_seeds, generate_pages_df
        from go_crawler_spark.plans.crawl import run_crawl

        pages = generate_pages_df(spark, _crawl_scale(sf), seed=42)
        cfg = CrawlConfig(max_count=30, host_slots_per_round=4)
        return run_crawl(spark, pages, default_seeds(), cfg).schedule.orderBy("seq")

    def crawl_trap_refresh(spark, sf):
        """In-loop spider-trap defense (run_crawl(trap_refresh_rounds=1)):
        the /gen/<d>.html template becomes prolific + content-poor DURING
        the crawl, the round-2 census flags it, and its minted grandchildren
        are blocked as skipped_trap while the /real/ chain keeps fetching.
        Oracle = the pure-Python simulator over the same deterministic
        universe (fixtures/crawl_trap_refresh.parquet). Ref: the reference
        has no trap defense at all — internal/queue.go:101-106 just burns
        budget on minted URLs."""
        from go_crawler_spark.config import CrawlConfig
        from go_crawler_spark.datagen import trap_pages_df, trap_seeds
        from go_crawler_spark.plans.crawl import run_crawl

        pages = trap_pages_df(spark, _crawl_scale(sf))
        cfg = CrawlConfig(max_count=500)
        res = run_crawl(
            spark, pages, trap_seeds(), cfg,
            trap_refresh_rounds=1, trap_min_urls=20,
        )
        return res.fetched.select(
            "url", "kind", "depth", "seq", "round", "status"
        ).orderBy("seq")

    def anchor_text_agg(spark, sf):
        """Per-target anchor-text profile [EXTENSION — LLM-pipeline]: the
        link-text signal the reference's parser discards
        (internal/pageparser.go:28-68 keeps only resolved URLs). Extraction
        is one Arrow pass (functions/htmlx.py::extract_anchors_udf); the
        aggregation exchanges only (dst, anchor) string pairs — page bytes
        never shuffle — and the per-dst set is capped at 64 sorted distinct
        anchors, so a mega-indegree hub (google.com at web scale) cannot
        blow a reducer. Oracle: independent regex parse committed as
        fixtures/anchor_pairs.parquet."""
        from go_crawler_spark.datagen import generate_pages_df
        from go_crawler_spark.functions.htmlx import extract_anchors_udf

        pages = generate_pages_df(spark, _crawl_scale(sf), seed=42)
        pairs = (
            pages.filter(F.col("text") != "")
            .select(F.explode(extract_anchors_udf("url", "html")).alias("p"))
            .select(F.col("p.url").alias("dst"), F.col("p.anchor").alias("anchor"))
        )
        return pairs.groupBy("dst").agg(
            F.count(F.lit(1)).alias("n_refs"),
            F.concat_ws(
                "|", F.slice(F.sort_array(F.collect_set("anchor")), 1, 64)
            ).alias("anchors"),
        )

    def redirect_resolve(spark, sf):
        """Redirect-chain resolution under the Go client's request budget
        [EXTENSION — crawl-data]: the reference's stock http.Client follows
        Location hops silently (pkg/httpclient/client.go:24-27 → stdlib
        defaultCheckRedirect, 10-request budget); in the table model each
        hop is a row and resolution is binary pointer doubling — 3 jump-
        table compositions + 4 budgeted descent joins, (url,string) only
        exchanges, cycles fall out as budget-stopped (operators/
        redirects.py). Input: the committed deterministic edge graph
        (fixtures/redirect_edges.parquet == datagen.redirect_edges(40));
        oracle: a hop-capped RECURSIVE CTE in DuckDB — an independent
        algorithm over identical input bytes."""
        from go_crawler_spark.datagen import redirect_edges_df
        from go_crawler_spark.operators.redirects import resolve_redirects

        edges = redirect_edges_df(spark, 40)
        urls = edges.selectExpr("src_url AS url").union(
            edges.selectExpr("dst_url AS url")
        )
        return resolve_redirects(urls, edges)

    def redirect_alias_dedup(spark, sf):
        """Redirect-aware alias dedup [EXTENSION — crawl-data]: URLs whose
        chains land on one final target are ONE page, so the dedup moves
        BEFORE the fetch (the reference fetches every alias:
        pkg/httpclient/client.go:48-71 resolves per-request, and identity
        only collapses later by content). Composition of resolve_redirects
        + a groupBy on final_url; budget-stopped chains yield no page and
        are excluded (operators/redirects.py::dedup_by_final_url)."""
        from go_crawler_spark.datagen import redirect_edges_df
        from go_crawler_spark.operators.redirects import dedup_by_final_url

        edges = redirect_edges_df(spark, 40)
        urls = edges.selectExpr("src_url AS url").union(
            edges.selectExpr("dst_url AS url")
        )
        return dedup_by_final_url(urls, edges)

    def redirect_resolve_robots(spark, sf):
        """Per-hop robots on redirect chains [EXTENSION — crawl-data]: a
        policy-abiding crawler may not REQUEST a disallowed URL at ANY hop
        (RFC 9309 applies per request), so a chain hopping THROUGH a
        blocked URL aborts before that request — blocked_robots_hop, no
        page. Mechanics (operators/redirects.py): edges into blocked URLs
        are cut ONCE up front (the predecessor becomes a blocked
        terminal), the budgeted pointer-doubling walk runs unchanged, and
        one relabeling join marks walks ending on a cut terminal — per-hop
        enforcement at zero added cost per jump. The blocked URL as an
        INPUT is request 1 = the caller's gate, so it still resolves from
        itself; budget exhaustion wins over a cut reached AT the budget.
        Blocked set here: a fixed suffix list over the same committed edge
        graph, cutting chains mid-way (/chain8/4), a cycle entry
        (/rho3/c1), fan-in terminals (/fan/z), a min(dst) winner (/dup/a),
        and a beyond-budget node (/chain14/12). Oracle: hop-capped
        RECURSIVE CTE over the pre-cut edge set in DuckDB."""
        from go_crawler_spark.datagen import redirect_edges_df
        from go_crawler_spark.operators.redirects import resolve_redirects

        edges = redirect_edges_df(spark, 40)
        urls = edges.selectExpr("src_url AS url").union(
            edges.selectExpr("dst_url AS url")
        )
        suf = ("%/chain8/4", "%/rho3/c1", "%/fan/z", "%/dup/a",
               "%/chain14/12")
        blocked = urls.where(
            " OR ".join(f"url LIKE '{s}'" for s in suf)
        ).distinct()
        return resolve_redirects(urls, edges, blocked_urls=blocked)

    def canonical_consolidation(spark, sf):
        """<link rel=canonical> consolidation [EXTENSION — webtext-data]:
        the page's self-declared dedup key, discarded by the reference's
        parser (internal/pageparser.go:28-68 keeps only fetch targets).
        Extraction + resolution are pure JVM regexp/concat inside
        whole-stage codegen (plan-asserted in tests/test_canonical.py);
        the consolidation exchanges only (canonical_url, url) pairs
        (operators/canonical.py). Oracle: DuckDB re-derives the mapping
        from the raw html fixture with its own regexp engine (RE2) —
        extraction parity is additionally pinned against an independent
        attribute-dict parser in tests."""
        from go_crawler_spark.datagen import canonical_pages_df
        from go_crawler_spark.operators.canonical import consolidate_canonicals

        return consolidate_canonicals(
            canonical_pages_df(spark, _crawl_scale(sf) * 5)
        )

    def dup_ngram_spans(spark, sf):
        """Exact duplicate-substring spans (Lee et al. 2022, ExactSubstr
        side) [EXTENSION — LLM-pipeline]: maximal per-doc token spans
        covered by 8-token windows occurring ≥2 times corpus-wide —
        window fingerprints are map-only JVM md5 (bit-identical in the
        DuckDB oracle; xxhash64 is the documented 10^13-window swap),
        only (doc_id, pos, hash) rows exchange, interval merge is one
        gaps-and-islands window pass (operators/substring_dedup.py)."""
        from go_crawler_spark.operators.substring_dedup import (
            duplicate_ngram_spans,
        )

        docs = _t(spark, sf, "documents")
        return duplicate_ngram_spans(docs, "text", "doc_id", k=8)

    def excise_dup_spans(spark, sf):
        """The cleaning half of ExactSubstr [EXTENSION — LLM-pipeline]:
        remove every duplicated span's tokens from each document (all
        occurrences — the aggressive variant), with removed-token
        accounting. JVM-only index-filter HOF over the merged spans
        (operators/substring_dedup.py::excise_duplicate_spans); oracle =
        DuckDB rebuilding the text with nested list lambdas over the same
        independently recomputed spans."""
        from go_crawler_spark.operators.substring_dedup import (
            duplicate_ngram_spans,
            excise_duplicate_spans,
        )

        docs = _t(spark, sf, "documents")
        spans = duplicate_ngram_spans(docs, "text", "doc_id", k=8)
        return excise_duplicate_spans(docs, spans)

    def crawl_extract_children(spark, sf):
        from go_crawler_spark.datagen import generate_pages_df
        from go_crawler_spark.functions.htmlx import extract_resolved_udf

        pages = generate_pages_df(spark, _crawl_scale(sf), seed=42)
        return (
            pages.filter(F.col("text") != "")
            .select("url", F.explode(extract_resolved_udf("url", "html")).alias("c"))
            .select("url", "c.kind", F.col("c.url").alias("child_url"), "c.pos")
            .orderBy("url", "pos")
        )

    def minhash_near_dup_pairs(spark, sf):
        docs = _t(spark, sf, "documents")
        return minhash_near_dups(docs, "text", "doc_id", threshold=0.5).select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
        )

    def neardup_components(spark, sf):
        # near-dup pairs -> duplicate clusters: min-label propagation over
        # the LSH pair edges (fixture oracle: independent union-find over
        # the independently derived pair set)
        from go_crawler_spark.operators.dedup_corpus import (
            connected_components,
            minhash_near_dups,
        )

        docs = _t(spark, sf, "documents")
        pairs = minhash_near_dups(docs, "text", "doc_id", threshold=0.5)
        return connected_components(pairs)

    def neardup_keep_best(spark, sf):
        # the decision stage after clustering: keep the highest-quality
        # doc per near-dup component (ties -> smallest id), singletons
        # keep themselves. Quality is rounded to 6 dp BEFORE ranking so
        # the ordering is bit-stable across engines. Scale shape: the
        # component table carries (id, label) longs only; the ranking
        # window partitions by component (bounded cluster sizes).
        from go_crawler_spark.operators.dedup_corpus import (
            connected_components,
            minhash_near_dups,
        )

        docs = _t(spark, sf, "documents")
        pairs = minhash_near_dups(docs, "text", "doc_id", threshold=0.5)
        comps = connected_components(pairs)
        q = docs.select(
            "doc_id", F.round(T.quality_score(F.col("text")), 6).alias("q")
        )
        joined = q.join(comps, q.doc_id == comps.node, "left").select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
            "q",
        )
        w = Window.partitionBy("component").orderBy(F.desc("q"), F.asc("doc_id"))
        return (
            joined.withColumn("rn", F.row_number().over(w))
            .select(
                "doc_id",
                "component",
                F.col("q").alias("quality"),
                (F.col("rn") == 1).alias("kept"),
            )
        )

    def simhash_near_dup_pairs(spark, sf):
        docs = _t(spark, sf, "documents")
        return simhash_near_dups(docs, "text", "doc_id", max_hamming=3)

    def embedding_ann_ivf(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return ivf_topk(emb, queries_df, k=5, n_cells=8, n_probe=4).select(
            "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
        )

    def robots_gate(spark, sf):
        # robots disallow-prefix gate [EXTENSION]: frontier URLs vs a
        # per-host rules table (operators/politeness.py apply_robots)
        from go_crawler_spark.operators.politeness import apply_robots

        docs = _t(spark, sf, "documents")
        frontier = docs.select(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit("/d"),
                (F.col("doc_id") % 20).cast("string"), F.lit("/"),
                F.col("doc_id").cast("string"), F.lit(".html"),
            ).alias("url"),
            F.col("source").alias("host"),
            F.col("doc_id").alias("seq"),
        )
        robots = (
            docs.select(F.col("source").alias("host"))
            .distinct()
            .select(
                "host",
                F.explode(F.array(F.lit("/d3/"), F.lit("/d7/"))).alias("disallow_prefix"),
            )
        )
        allowed, _blocked = apply_robots(frontier, robots)
        return allowed.select(F.col("seq").alias("doc_id"), "host")

    def _synthetic_edges(spark, sf):
        # deterministic 2-regular out-link graph over doc_ids (0..N-1
        # contiguous): dst = (31·id+7) mod N and (17·id+3) mod N — the
        # same derivation is expressible in the DuckDB oracle
        docs = _t(spark, sf, "documents").select("doc_id")
        n = docs.count()
        e1 = docs.select(
            F.col("doc_id").alias("src"), ((F.col("doc_id") * 31 + 7) % n).alias("dst")
        )
        e2 = docs.select(
            F.col("doc_id").alias("src"), ((F.col("doc_id") * 17 + 3) % n).alias("dst")
        )
        return docs, e1.unionByName(e2)

    def linkgraph_degrees(spark, sf):
        from go_crawler_spark.operators.linkgraph import in_degrees, out_degrees

        docs, edges = _synthetic_edges(spark, sf)
        ind = in_degrees(edges)
        outd = out_degrees(edges)
        return (
            docs.join(ind, docs["doc_id"] == ind["node"], "left")
            .drop("node")
            .join(outd, docs["doc_id"] == outd["node"], "left")
            .select(
                "doc_id",
                F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
                F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            )
        )

    def linkgraph_pagerank(spark, sf):
        # fixed-iteration PageRank (operators/linkgraph.py): the canonical
        # iterative-join workload, oracle-verified join-for-join
        from go_crawler_spark.operators.linkgraph import pagerank

        docs, edges = _synthetic_edges(spark, sf)
        pr = pagerank(docs.select(F.col("doc_id").alias("node")), edges, n_iter=3)
        return pr.select(
            F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
        )

    def linkgraph_trustrank(spark, sf):
        # TrustRank (Gyöngyi et al. 2004): seed-biased PageRank — the
        # anti-link-spam companion to the trap census. Seeds are every
        # 7th doc_id (a deterministic stand-in for a curated whitelist);
        # 3 fixed iterations, oracle-verified join-for-join like
        # linkgraph_pagerank. Non-seed link neighborhoods with no trust
        # path score exactly 0 — the property the operator exists for.
        from go_crawler_spark.operators.linkgraph import trustrank

        docs, edges = _synthetic_edges(spark, sf)
        nodes = docs.select(F.col("doc_id").alias("node"))
        seeds = nodes.filter(F.col("node") % 7 == 0)
        tr = trustrank(nodes, edges, seeds, n_iter=3)
        return tr.select(
            F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
        )

    def host_graph_rollup(spark, sf):
        # host-level webgraph aggregation (operators/linkgraph.py::
        # rollup_graph): the page graph reduced to cross-host weighted
        # edges — the product Common Crawl publishes as its host/domain
        # graph releases. Hosts are synthesized 4-per-source so
        # intra-host (dropped) and cross-host (counted) edges both occur.
        from go_crawler_spark.operators.linkgraph import rollup_graph

        docs = _t(spark, sf, "documents")
        n = docs.count()
        host = F.concat(
            "source", F.lit("-"), (F.col("doc_id") % 4).cast("string")
        )
        hmap = docs.select(F.col("doc_id").alias("id"), host.alias("h"))
        edges = docs.select(
            F.col("doc_id").alias("s"),
            ((F.col("doc_id") * 31 + 7) % n).alias("d"),
        ).unionByName(
            docs.select(
                F.col("doc_id").alias("s"),
                ((F.col("doc_id") * 17 + 3) % n).alias("d"),
            )
        )
        ej = (
            edges.join(
                hmap.select(
                    F.col("id").alias("s"), F.col("h").alias("src_h")
                ),
                "s",
            )
            .join(
                hmap.select(
                    F.col("id").alias("d"), F.col("h").alias("dst_h")
                ),
                "d",
            )
        )
        return rollup_graph(ej, F.col("src_h"), F.col("dst_h"))

    def streaming_host_metrics(spark, sf):
        # Structured Streaming face (streaming/pipeline.py): corpus parquet
        # as a file-source stream -> fused extraction -> event-time windowed
        # per-host metrics with watermark; drained with availableNow and
        # returned as the final batch table (rows-only by nature)
        import shutil
        import tempfile
        import uuid

        from go_crawler_spark.datagen import generate_pages_df
        from go_crawler_spark.streaming.pipeline import (
            extract_children_stream,
            stream_pages,
            windowed_host_metrics,
        )

        src_dir = tempfile.mkdtemp(prefix="stream_src_")
        ckpt_dir = tempfile.mkdtemp(prefix="stream_ck_")
        generate_pages_df(spark, _crawl_scale(sf), seed=42).write.mode(
            "overwrite"
        ).parquet(src_dir)
        metrics = windowed_host_metrics(
            extract_children_stream(stream_pages(spark, src_dir))
        )
        qname = f"stream_hm_{uuid.uuid4().hex[:8]}"
        q = (
            metrics.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        return spark.table(qname).orderBy("win_start", "host")

    def multimodal_frame_sample(spark, sf):
        # video frame sampling plumbing: one row per sampled timestamp,
        # deterministic payload window standing in for the decoded frame
        from go_crawler_spark.operators.multimodal import (
            frame_sample,
            synthetic_media_df,
        )

        media = synthetic_media_df(spark, 64, seed=42)
        # raw binary is un-hashable by the driver's pandas canonicalizer
        # (r1-r3 red cell: TypeError unhashable bytearray) — project hex
        return frame_sample(media, every_ms=1000).select(
            "media_id",
            "ts_ms",
            F.lower(F.hex("frame_bytes")).alias("frame_hex"),
        )

    def multimodal_features(spark, sf):
        from go_crawler_spark.operators.multimodal import (
            extract_features,
            synthetic_media_df,
        )

        media = synthetic_media_df(spark, 64, seed=42)
        feats = extract_features(media)
        return feats.select(
            "media_id",
            "kind",
            "n_bytes",
            F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias(
                "feature_l1"
            ),
        )

    # ---- training-data pipeline: line-level cleaning / containment /
    # ---- inverted index / learned-quality-gate scoring (round 5) ----

    def line_dedup_filters(spark, sf):
        # C4 line rules (Raffel et al. 2020 §2.2) + RefinedWeb corpus-wide
        # exact-line dedup over a deterministically line-structured corpus:
        # 8-token lines with planted terminal punctuation / brace suffixes,
        # plus every 10th doc re-added under a shifted id so its lines are
        # corpus-wide duplicates (keep-first retains the original, cuts
        # every line of the copy — which then dies under min_lines).
        from go_crawler_spark.operators.corpus_prep import token_chunks
        from go_crawler_spark.operators.lines import line_filters

        docs = _t(spark, sf, "documents").select("doc_id", "text")
        d = F.col("doc_id")
        lines_arr = F.transform(
            token_chunks(F.col("text"), 8),
            lambda c, i: F.concat(
                c,
                F.when((d + i + 1) % 13 == 0, F.lit(" {"))
                .when((d + i + 1) % 3 == 0, F.lit("."))
                .when((d + i + 1) % 5 == 1, F.lit("!"))
                .otherwise(F.lit("")),
            ),
        )
        structured = docs.select(
            "doc_id", F.array_join(lines_arr, "\n").alias("text")
        )
        # copies carry the original's lines (all corpus-wide dups → cut by
        # keep-first) PLUS three unique tail lines, so the copy survives
        # min_lines and its n_dropped_dup accounting is visible in the
        # output instead of the whole row vanishing.
        extra = F.concat_ws(
            "\n",
            *[
                F.concat(
                    F.lit(f"extra line number {j} of copy "),
                    F.col("doc_id").cast("string"),
                    F.lit("."),
                )
                for j in (1, 2, 3)
            ],
        )
        planted = structured.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("\n"), extra).alias("text"),
        )
        return line_filters(
            structured.unionByName(planted), min_words=5, min_lines=3
        )

    def containment_pairs(spark, sf):
        # directed shingle containment (Broder 1997): plant truncated
        # copies (first half of the normalized token stream) of every 10th
        # doc under a shifted id — the copy's 3-gram set is a SUBSET of
        # the original's, so C(copy→orig) = 1.0 while symmetric Jaccard is
        # ~0.5 (below every near-dup threshold: the relation jaccard_verify
        # structurally misses). Candidates here are all pairs of a bounded
        # slice; at corpus scale they come from the MinHash/LSH bucket
        # join, exactly as in minhash_near_dup_pairs.
        from go_crawler_spark.operators.dedup_corpus import (
            containment_verify,
        )

        docs = (
            _t(spark, sf, "documents")
            .filter(F.col("doc_id") < 60)
            .select("doc_id", "text")
        )
        toks = T.tokens(T.normalize_for_fingerprint(F.col("text")))
        half = docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.slice(
                    toks, F.lit(1), F.floor(F.size(toks) / 2).cast("int")
                ),
            ).alias("text"),
        )
        corpus = docs.unionByName(half)
        pairs = (
            corpus.select(F.col("doc_id").alias("id_a"))
            .join(
                corpus.select(F.col("doc_id").alias("id_b")),
                F.col("id_a") < F.col("id_b"),
            )
        )
        return containment_verify(
            corpus, pairs, "text", "doc_id", shingle_n=3, threshold=0.8
        ).select(
            "id_a", "id_b", F.round("containment", 6).alias("containment")
        )

    def inverted_index_terms(spark, sf):
        # capped inverted index (BM25 candidate tier / vocabulary census):
        # global ranking is fully tie-broken (term is unique) so the
        # top-100 slice is deterministic. The postings head is emitted as
        # its comma-joined ascending doc ids, a scalar cell.
        from go_crawler_spark.operators.index import inverted_index

        docs = _t(spark, sf, "documents")
        return (
            inverted_index(docs, postings_cap=8, min_df=2)
            .orderBy(F.desc("df"), F.desc("cf"), F.asc("term"))
            .limit(100)
            .withColumn("postings", F.array_join(
                F.col("postings").cast("array<string>"), ","))
        )

    def bpe_learn_merges(spark, sf):
        # BPE merge TRAINING (Sennrich 2016) — the tokenizer-induction
        # job itself: one corpus pass for the word census, then 12 rounds
        # of distributed pair counting + JVM-fold merge rewriting.
        # Oracle: committed fixture from an independent pure-Python BPE
        # (tools/gen_fixtures.py::gen_bpe_merges).
        from go_crawler_spark.operators.bpe import learn_bpe_merges

        docs = _t(spark, sf, "documents")
        return learn_bpe_merges(docs, n_merges=12)

    def bm25_topk_docs(spark, sf):
        # BM25 retrieval (Lucene-form idf) over the token stream — the
        # candidate tier ahead of embedding rerank. Query-term filter is
        # pushed into the explode, censuses are bounded driver aggregates
        # re-entering as literals, top-n is TakeOrdered. Cross-engine
        # float protocol: 9-dp decimal contributions, exact sum, 6-dp
        # final round.
        from go_crawler_spark.operators.index import bm25_topk

        docs = _t(spark, sf, "documents")
        return bm25_topk(
            docs, ["spark", "join", "window", "stream"], top_n=50
        )

    def hybrid_retrieval_rrf(spark, sf):
        # hybrid retrieval: BM25 lexical tier + exact-cosine semantic tier
        # fused by reciprocal-rank fusion (Cormack 2009, k0=60) — the
        # composition a RAG stack runs per query. Both tiers are bounded
        # top-N candidate lists before fusion; the fusion exchanges only
        # (id, tier, rank) triples (operators/index.py::rrf_fuse). Tier
        # ranks re-rank on the tiers' own ROUNDED output scores (both
        # tiers are independently oracle-matched at 6 dp, so the derived
        # ranks are cross-engine stable). Semantic query = embedding 0;
        # vec_id ≡ doc_id in the synthetic tables.
        from go_crawler_spark.operators.index import bm25_topk, rrf_fuse

        docs = _t(spark, sf, "documents")
        emb = _t(spark, sf, "embeddings")
        lex = bm25_topk(
            docs, ["spark", "join", "window", "stream"], top_n=40
        ).select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .alias("rank"),
        )
        queries_df = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        # k=45 raw candidates, re-ranked on the 6-dp rounded score, kept
        # to 40 — the extra 5 absorb raw-vs-rounded order flips at the
        # tier boundary so the oracle (which ranks on rounded scores
        # directly) sees the same 40-doc set.
        sem = (
            brute_force_topk(emb, queries_df, k=45)
            .select(
                F.col("vec_id").alias("doc_id"),
                F.row_number()
                .over(
                    Window.orderBy(
                        F.desc(F.round("score", 6)), F.asc("vec_id")
                    )
                )
                .alias("rank"),
            )
            .filter(F.col("rank") <= 40)
        )
        return rrf_fuse({"lex": lex, "sem": sem}, top_n=25)

    def word_blocklist_docs(spark, sf):
        # C4-style content word-blocklist gate (Raffel et al. 2020 §2.2;
        # Dolma/FineWeb run it with a count threshold) — map-only JVM
        # filter+size per row, no explode, no shuffle
        # (operators/quality.py::word_blocklist_gate). The list here is a
        # benign stand-in drawn from the synthetic vocabulary (the real
        # gate takes the caller's policy list); max_flagged=2 exercises
        # the thresholded keep verdict in both directions.
        from go_crawler_spark.operators.quality import word_blocklist_gate

        docs = _t(spark, sf, "documents")
        return word_blocklist_gate(
            docs, ["dup", "stream"], max_flagged=2
        )

    def domain_quality_docs(spark, sf):
        # RefinedWeb/FineWeb-style DOMAIN-level quality gate: the
        # token-weighted mean of the hashed-linear logit over each
        # registrable domain's whole token stream decides the domain's
        # docs wholesale (operators/quality.py::domain_quality_gate).
        # Exact int64 sums -> engine-exact statistic; threshold -4.0 sits
        # near the synthetic domains' median logit so they split both
        # ways (measured range -9.1..-0.7).
        from go_crawler_spark.functions.urls import (
            registrable_domain_expr,
            surt_host_expr,
        )
        from go_crawler_spark.operators.quality import domain_quality_gate

        docs = (
            _t(spark, sf, "documents")
            .withColumn("url", _synth_url("doc_id"))
            .withColumn(
                "domain", registrable_domain_expr(surt_host_expr("url"))
            )
        )
        return domain_quality_gate(docs, min_mean_w=-4.0)

    def weighted_priority_sample(spark, sf):
        # Priority sampling (Duffield, Lund & Thorup, JACM 2007):
        # deterministic weight-proportional k-sample without replacement
        # ∝ n_chars, plus the variance-optimal max(w, tau) subset-sum
        # estimator (operators/corpus_prep.py::priority_sample). The
        # ranked key w/u is basic IEEE ops over an exact 52-bit md5
        # uniform, so both engines rank identical bits — no
        # transcendentals anywhere near the cutoff.
        from go_crawler_spark.operators.corpus_prep import priority_sample

        docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
        out = priority_sample(docs, "n_chars", k=120)
        return out.select(
            "doc_id",
            "n_chars",
            F.round("priority", 6).alias("priority"),
            F.round("est_weight", 6).alias("est_weight"),
        )

    def stratified_priority_sample(spark, sf):
        # per-language Duffield-Lund-Thorup k-sample ∝ n_chars with the
        # per-stratum max(w, tau) estimator (operators/corpus_prep.py::
        # priority_sample_stratified) — salted two-phase top-(k+1), so a
        # mega-language never serializes one task.
        from go_crawler_spark.operators.corpus_prep import (
            priority_sample_stratified,
        )

        docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
        out = priority_sample_stratified(docs, "lang", "n_chars", k=30)
        return out.select(
            "doc_id",
            "lang",
            "n_chars",
            F.round("priority", 6).alias("priority"),
            F.round("est_weight", 6).alias("est_weight"),
        )

    def script_mix_docs(spark, sf):
        # Unicode script-mix classification (functions/text.py::
        # script_counts/dominant_script): the pre-langid routing signal —
        # script decides which language models are even candidates.
        # Non-Latin snippets are appended with doc-id-scaled repetition
        # so dominance actually flips across the corpus.
        from go_crawler_spark.functions.text import (
            dominant_script,
            script_counts,
        )

        docs = _t(spark, sf, "documents")
        m = F.col("doc_id") % 4
        snip = (
            F.when(m == 1, F.lit("漢字文章"))
            .when(m == 2, F.lit("русский текст"))
            .when(m == 3, F.lit("نص عربي"))
            .otherwise(F.lit(""))
        )
        sampled = F.concat(
            F.col("text"),
            F.lit(" "),
            F.repeat(snip, ((F.col("doc_id") % 9) * 18).cast("int")),
        )
        counts = script_counts(sampled)
        return docs.select(
            "doc_id",
            *[c.alias(f"n_{n}") for n, c in counts],
            dominant_script(sampled).alias("script"),
        )

    def mojibake_repair(spark, sf):
        # ftfy-style UTF-8-as-cp1252 repair (functions/text.py::
        # fix_mojibake — repair table DERIVED from the encoding
        # principle, bounded JVM replace chain, map-only). Corruption is
        # planted deterministically: four mojibake'd snippets rotate by
        # doc_id, the fifth class is the clean control group where the
        # repair must be a byte-for-byte no-op.
        from go_crawler_spark.functions.text import as_mojibake, fix_mojibake

        snippets = [
            as_mojibake("Café résumé déjà vu"),
            as_mojibake("“quoted” — em dash… fin"),
            as_mojibake("naïve façade über señor"),
            as_mojibake("€ 99 · © 2024 «cite»"),
            "",
        ]
        docs = _t(spark, sf, "documents")
        raw = F.concat(
            F.element_at(
                F.array([F.lit(s) for s in snippets]),
                (F.col("doc_id") % 5 + 1).cast("int"),
            ),
            F.lit(" "),
            F.col("text"),
        )
        fixed = fix_mojibake(raw)
        return docs.select(
            "doc_id",
            F.substring(fixed, 1, 48).alias("fixed_head"),
            (F.length(raw) - F.length(fixed)).alias("shrink"),
            (raw != fixed).alias("changed"),
        )

    def main_content_blocks(spark, sf):
        # Boilerpipe/jusText block classifier (operators/boilerpipe.py):
        # NumWords/LinkDensity decision stump over block-tag-split HTML,
        # one pure JVM expression. The page template is synthesized
        # around each document's text: nav + link-farm + stub blocks
        # must be dropped, the article block kept iff it clears
        # min_words — short/empty docs flip the verdict, so n_content
        # is a real oracle target.
        from go_crawler_spark.operators.boilerpipe import extract_main_content

        docs = _t(spark, sf, "documents")
        html = F.concat(
            F.lit(
                '<div class="nav"><a href="/a">home</a> <a href="/b">about'
                '</a> <a href="/c">contact us now</a></div><p>'
            ),
            F.col("text"),
            F.lit(
                '</p><div><a href="/x">w w w w w</a> tail</div><p>tiny</p>'
                '<div class="footer"><a href="/p">privacy</a> '
                '<a href="/t">terms</a></div>'
            ),
        )
        mc = extract_main_content(html)
        return docs.select(
            "doc_id",
            F.substring(mc["main_text"], 1, 64).alias("main_head"),
            mc["n_blocks"].alias("n_blocks"),
            mc["n_content"].alias("n_content"),
        )

    def url_rfc3986_normalize(spark, sf):
        # RFC 3986 §6.2.2 syntax-based normalization (functions/urls.py::
        # rfc3986_normalize_expr) — the URL-identity pass before the Q1
        # seen-check. Six rotating spellings exercise scheme/host case,
        # default ports both schemes, userinfo preservation, empty-path,
        # unreserved decode (in the host too: lowered after decoding),
        # hex-case fold, and malformed-% passthrough.
        from go_crawler_spark.functions.urls import rfc3986_normalize_expr

        docs = _t(spark, sf, "documents")
        i = F.col("doc_id").cast("string")
        raw = (
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(
                    F.lit("HTTP://"), F.upper("source"),
                    F.lit("-Site.ORG:80/%7euser/"), i,
                ),
            )
            .when(
                F.col("doc_id") % 6 == 1,
                F.concat(
                    F.lit("https://"), F.col("source"),
                    F.lit("-site.org:443/p%3a"), i,
                ),
            )
            .when(
                F.col("doc_id") % 6 == 2,
                F.concat(
                    F.lit("https://User@"), F.col("source"),
                    F.lit("-SITE.org/A%2Fb?x=%2a"), i,
                ),
            )
            .when(
                F.col("doc_id") % 6 == 3,
                F.concat(F.lit("http://"), F.col("source"), F.lit("-s%49te.org")),
            )
            .when(
                F.col("doc_id") % 6 == 4,
                F.concat(
                    F.lit("http://"), F.col("source"),
                    F.lit("-site.org/%41%7A/"), i,
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("http://"), F.col("source"),
                    F.lit("-site.org/100%25%"),
                )
            )
        )
        return docs.select(
            "doc_id", rfc3986_normalize_expr(raw).alias("url_norm")
        )

    def conditional_fetch_actions(spark, sf):
        # RFC 9111/9110 revalidation planner (operators/revisit.py::
        # conditional_fetch_plan): heuristic freshness + validator
        # precedence decide fresh / If-None-Match / If-Modified-Since /
        # full GET per known URL. Fetch epochs, Last-Modified dates and
        # ETags are synthesized deterministically with independent
        # periods (1000/28/4/3) so every verdict class appears and the
        # fresh-vs-stale boundary lands mid-corpus.
        from go_crawler_spark.operators.revisit import conditional_fetch_plan

        docs = _t(spark, sf, "documents")
        base = 1_704_067_200  # 2024-01-01T00:00:00Z
        log = docs.select(
            F.concat(
                F.lit("https://"),
                "source",
                F.lit("-site.org/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            (F.lit(base) + (F.col("doc_id") % 1000) * 60).alias("warc_ts"),
            F.when(
                F.col("doc_id") % 4 != 0,
                F.date_add(
                    F.to_date(F.lit("2023-12-01")),
                    (F.col("doc_id") % 28).cast("int"),
                ).cast("string"),
            ).alias("last_modified"),
            F.when(
                F.col("doc_id") % 3 != 0, F.md5(F.col("doc_id").cast("string"))
            ).alias("etag"),
        )
        return conditional_fetch_plan(log, now_epoch_s=1_704_153_600)

    def adaptive_politeness_delay(spark, sf):
        # Heritrix delay-factor politeness (operators/politeness.py::
        # adaptive_host_delay): per-host mean observed latency × 3/2,
        # clamped — all-integer statistic. Latencies are biased per host
        # group so both clamp edges and the open middle all occur.
        from go_crawler_spark.operators.politeness import adaptive_host_delay

        docs = _t(spark, sf, "documents")
        log = docs.select(
            F.concat("source", (F.col("doc_id") % 7).cast("string")).alias(
                "host"
            ),
            (
                (F.col("doc_id") * 13) % 900 + 50 + (F.col("doc_id") % 7) * 300
            ).alias("response_ms"),
        )
        return adaptive_host_delay(
            log, min_delay_ms=1000, max_delay_ms=2500
        )

    def gopher_rules_gate(spark, sf):
        # the published Gopher/MassiveText document-quality rule set
        # (Rae et al. 2021, A1.1) — per-rule measured values + combined
        # verdict, map-only JVM (operators/gopher.py; PLANS.md asserts
        # zero exchanges). The synthetic vocabulary rarely carries two of
        # the eight required stop words, so every third document gets a
        # stopword-bearing sentence appended — the output then mixes
        # keep=true (planted docs long enough) with every failure mode the
        # raw corpus produces, making the verdict column a real oracle
        # target rather than a constant.
        from go_crawler_spark.operators.gopher import gopher_quality_gate

        docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" and that should be kept with the rest of it"),
                ),
            ).otherwise(F.col("text")).alias("text"),
        )
        return gopher_quality_gate(docs)

    def bpe_encode_corpus(spark, sf):
        # BPE ENCODE with the trained merge table (the other half of the
        # tokenizer story): learn 12 merges, then bill every document's
        # token stream against the per-distinct-word piece counts — the
        # merge application runs once per distinct word, the join back
        # carries (word, int) pairs only. Oracle: committed fixture from
        # the pure-Python replica (tools/gen_fixtures.py::gen_bpe_encode).
        from go_crawler_spark.operators.bpe import (
            bpe_encode_docs,
            learn_bpe_merges,
        )

        docs = _t(spark, sf, "documents")
        merges = learn_bpe_merges(docs, n_merges=12)
        return bpe_encode_docs(docs, merges)

    def chunk_windows_embed(spark, sf):
        # sliding-window chunker (embedding/RAG prep): 64-token windows
        # every 48 tokens (16-token overlap) over the documents table.
        # MAP-ONLY plan — tokenize → per-doc start sequence → explode →
        # slice, zero exchanges, whole pipeline in one codegen span
        # (operators/chunking.py; PLANS.md asserts no Exchange).
        from go_crawler_spark.operators.chunking import chunk_windows

        docs = _t(spark, sf, "documents")
        return chunk_windows(docs, size=64, stride=48)

    def mirror_host_pairs(spark, sf):
        # mirror-host detection: plant a full mirror of every source host
        # (its doc_id % 3 == 0 pages under mirror-<host>) → 20 pairs at
        # overlap = n/(n+2) ≥ 0.7. Two 'parked page' fingerprints are
        # planted on EVERY host plus two tiny hosts that share nothing
        # else: without the frequent-fingerprint prune the tiny pair
        # would score overlap 1.0 — its absence from the output is the
        # observable proof the prune works.
        from go_crawler_spark.operators.mirrors import mirror_hosts

        docs = _t(spark, sf, "documents")
        base = docs.select(
            F.concat(F.col("source"), F.lit("-site.org")).alias("host"),
            T.fingerprint_md5(F.col("text")).alias("fingerprint"),
        )
        mirr = docs.filter(F.col("doc_id") % 3 == 0).select(
            F.concat(
                F.lit("mirror-"), F.col("source"), F.lit("-site.org")
            ).alias("host"),
            T.fingerprint_md5(F.col("text")).alias("fingerprint"),
        )
        pages = base.unionByName(mirr)
        hosts = pages.select("host").distinct().unionByName(
            spark.createDataFrame(
                [("tiny-a.org",), ("tiny-b.org",)], "host string"
            )
        )
        parked = hosts.select(
            "host",
            F.explode(
                F.array(
                    F.md5(F.lit("parked page one")),
                    F.md5(F.lit("parked page two")),
                )
            ).alias("fingerprint"),
        )
        return mirror_hosts(
            pages.unionByName(parked),
            overlap_threshold=0.7,
            min_docs=2,
            max_hosts_per_fp=16,
        ).select(
            "host_a",
            "host_b",
            "shared",
            "size_a",
            "size_b",
            F.round("overlap", 6).alias("overlap"),
        )

    def quality_linear_model(spark, sf):
        # fastText-architecture quality gate: hashed-bag-of-words linear
        # scoring, weights replayed from md5 so the oracle is exact
        from go_crawler_spark.operators.quality import linear_quality_score

        docs = _t(spark, sf, "documents")
        return linear_quality_score(docs)

    # NOTE on ordering: the driver's correctness gate checks the FIRST 50
    # dict entries in insertion order. The dict below is the CANONICAL
    # order (a stable tie-break only); the actual insertion order handed to
    # the driver is computed by _rotate_by_driver_staleness, which reads
    # the committed CORRECTNESS_r*.json files and fronts never-green and
    # least-recently-green entries — every entry gets a driver row at
    # least every 2 rounds with nothing hand-curated.
    _all = {
        # -- 19 entries with no driver hash row in r1/r2 (were pos 51-69) --
        "crawl_flagship": crawl_flagship,
        "crawl_trap_refresh": crawl_trap_refresh,
        "anchor_text_agg": anchor_text_agg,
        "redirect_resolve": redirect_resolve,
        "redirect_alias_dedup": redirect_alias_dedup,
        "redirect_resolve_robots": redirect_resolve_robots,
        "canonical_consolidation": canonical_consolidation,
        "dup_ngram_spans": dup_ngram_spans,
        "excise_dup_spans": excise_dup_spans,
        "crawl_extract_children": crawl_extract_children,
        "minhash_near_dup_pairs": minhash_near_dup_pairs,
        "simhash_near_dup_pairs": simhash_near_dup_pairs,
        "neardup_components": neardup_components,
        "embedding_ann_ivf": embedding_ann_ivf,
        "streaming_host_metrics": streaming_host_metrics,
        "multimodal_features": multimodal_features,
        "multimodal_frame_sample": multimodal_frame_sample,
        "url_blocklist_gate": url_blocklist_gate,
        "crawl_snapshot_diff": crawl_snapshot_diff,
        "recrawl_due": recrawl_due,
        "url_strip_tracking": url_strip_tracking,
        "robots_sitemaps": robots_sitemaps,
        "domain_census": domain_census,
        "mime_sniff": mime_sniff,
        "stratified_sample_lang": stratified_sample_lang,
        "tpch_pricing_summary": tpch_pricing_summary,
        "revenue_by_priority": revenue_by_priority,
        # -- 3 entries red in r2 on HUGEINT cast only, fixed this round --
        "embedding_lsh_recall": embedding_lsh_recall,
        "ann_ivf_recall": ann_ivf_recall,
        "events_sessionization": events_sessionization,
        # -- new in round 3 --
        "host_heavy_hitters": host_heavy_hitters,
        "semantic_dedup": semantic_dedup,
        "dsir_select_topk": dsir_select_topk,
        "tfidf_top_terms": tfidf_top_terms,
        "linkgraph_hits": linkgraph_hits,
        "host_budget_allocation": host_budget_allocation,
        "streaming_quality_scores": streaming_quality_scores,
        "url_trap_census": url_trap_census,
        "corpus_drift_topk": corpus_drift_topk,
        # -- previously driver-green (r2), original order --
        "dedup_exact_keep_min": dedup_exact_keep_min,
        "seen_anti_join": seen_anti_join,
        "budget_ordered_limit": budget_ordered_limit,
        "fanin_union": fanin_union,
        "host_group_counts": host_group_counts,
        "salted_group_counts": salted_group_counts,
        "assets_collect_list": assets_collect_list,
        "savepath_md5": savepath_md5,
        "metrics_counters": metrics_counters,
        "size_gate": size_gate,
        "fetch_lookup_join": fetch_lookup_join,
        "classify_kind": classify_kind,
        "retry_backoff_schedule": retry_backoff_schedule,
        "politeness_topk_per_host": politeness_topk_per_host,
        "robots_gate": robots_gate,
        "linkgraph_degrees": linkgraph_degrees,
        "linkgraph_pagerank": linkgraph_pagerank,
        "linkgraph_trustrank": linkgraph_trustrank,
        "host_graph_rollup": host_graph_rollup,
        "global_seq_assignment": global_seq_assignment,
        "token_counts": token_counts,
        "ccnet_perplexity_buckets": ccnet_perplexity_buckets,
        "training_order_shards": training_order_shards,
        "domain_cap_select": domain_cap_select,
        # ---- driver window (50) ends here; tail is r2-green rotation ----
        "bpe_token_counts": bpe_token_counts,
        "dedup_clusters": dedup_clusters,
        "corpus_prepare": corpus_prepare,
        "repetition_scores": repetition_scores,
        "quality_scores": quality_scores,
        "lang_id_pred": lang_id_pred,
        "pii_scrub": pii_scrub,
        "boilerplate_ngrams": boilerplate_ngrams,
        "chunk_dedup_clean": chunk_dedup_clean,
        "decontaminate_corpus": decontaminate_corpus,
        "hash_split_assign": hash_split_assign,
        "pack_sequences_bins": pack_sequences_bins,
        "source_mix": source_mix,
        "priority_frontier_topk": priority_frontier_topk,
        "robots_rules_parse": robots_rules_parse,
        "robots_rfc_verdict": robots_rfc_verdict,
        "warc_roundtrip": warc_roundtrip,
        "wet_roundtrip": wet_roundtrip,
        "cdx_index_lines": cdx_index_lines,
        "sitemap_seed_urls": sitemap_seed_urls,
        "events_asof_join": events_asof_join,
        "neardup_keep_best": neardup_keep_best,
        "corpus_prepare_v2": corpus_prepare_v2,
        "corpus_release": corpus_release,
        "fingerprints": fingerprints,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        "embedding_topk_bruteforce": embedding_topk_bruteforce,
        "embedding_pair_sims": embedding_pair_sims,
        "embedding_near_dup_exact": embedding_near_dup_exact,
        "embedding_near_dup_lsh": embedding_near_dup_lsh,
        "surt_keys": surt_keys,
        # -- new in round 5 (never-green: rotation fronts them) --
        "line_dedup_filters": line_dedup_filters,
        "containment_pairs": containment_pairs,
        "inverted_index_terms": inverted_index_terms,
        "quality_linear_model": quality_linear_model,
        "mirror_host_pairs": mirror_host_pairs,
        "bpe_learn_merges": bpe_learn_merges,
        "streaming_seen_dedup": streaming_seen_dedup,
        "chunk_windows_embed": chunk_windows_embed,
        "bpe_encode_corpus": bpe_encode_corpus,
        "gopher_rules_gate": gopher_rules_gate,
        "bm25_topk_docs": bm25_topk_docs,
        "hybrid_retrieval_rrf": hybrid_retrieval_rrf,
        "word_blocklist_docs": word_blocklist_docs,
        "weighted_priority_sample": weighted_priority_sample,
        "mojibake_repair": mojibake_repair,
        "script_mix_docs": script_mix_docs,
        "main_content_blocks": main_content_blocks,
        "stratified_priority_sample": stratified_priority_sample,
        "url_rfc3986_normalize": url_rfc3986_normalize,
        "conditional_fetch_actions": conditional_fetch_actions,
        "adaptive_politeness_delay": adaptive_politeness_delay,
        "domain_quality_docs": domain_quality_docs,
    }
    return _rotate_by_driver_staleness(_all)


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    # Fixture-backed oracles: expected outputs computed by INDEPENDENT
    # implementations (pure-Python crawl simulator, numpy re-derivations of
    # minhash/simhash/LSH/IVF over tools/xxh64.py) and committed as parquet
    # under fixtures/ (tools/gen_fixtures.py). The running scale factor is
    # recovered from the registered lineitem view's row count (~6k/60k/600k
    # at sf 0.001/0.01/0.1) since the SQL string cannot be parameterized.
    fix = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    sf_key = (
        "(SELECT CASE WHEN count(*) < 20000 THEN '0.001' "
        "WHEN count(*) < 200000 THEN '0.01' ELSE '0.1' END FROM lineitem)"
    )
    scale_key = (
        "(SELECT CASE WHEN count(*) < 20000 THEN 48 "
        "WHEN count(*) < 200000 THEN 240 ELSE 1200 END FROM lineitem)"
    )
    norm_text = _NORM_SQL.format(c="text")
    toks_raw = _TOKS_SQL.format(c="lower(text)")
    toks_norm = _TOKS_SQL.format(c=norm_text)

    # mirrors queries()._synth_url exactly (deterministic URL per document)
    _SYNTH_URL_SQL = (
        "'https://'"
        " || CASE WHEN doc_id % 7 = 0 THEN 'user:pw@' ELSE '' END"
        " || CASE WHEN doc_id % 3 = 0 THEN 'www.'"
        "         WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END"
        " || source || '-site.org'"
        " || CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END"
        " || '/Docs/' || CAST(doc_id AS VARCHAR)"
        " || CASE WHEN doc_id % 4 = 0 THEN '?page=2&ref=a' ELSE '' END"
        " || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END"
    )

    # mirrors operators/corpus_prep.py::priority_sample's 52-bit md5
    # uniform: per-char hex fold of md5('0:' || id), seed 0 — exact
    # BIGINT arithmetic (max 16^13-1 < 2^52), same value both engines
    _prio_v = " + ".join(
        "(strpos('0123456789abcdef', substr("
        f"md5('0:' || CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (12 - i)}"
        for i in range(13)
    )

    # mirrors queries().mojibake_repair: same derived repair table
    # (functions/text.py::mojibake_pairs — longest-form-first total
    # order), same planted snippets, replayed as a literal replace chain
    from go_crawler_spark.functions.text import (
        as_mojibake as _as_moj,
        mojibake_pairs as _moj_pairs,
    )

    _moj_snips = [
        _as_moj("Café résumé déjà vu"),
        _as_moj("“quoted” — em dash… fin"),
        _as_moj("naïve façade über señor"),
        _as_moj("€ 99 · © 2024 «cite»"),
        "",
    ]
    _moj_case = (
        "CASE doc_id % 5 "
        + " ".join(
            f"WHEN {i} THEN '{s}'" for i, s in enumerate(_moj_snips[:4])
        )
        + " ELSE '' END"
    )
    _moj_fixed = "raw"
    for _bad, _good in _moj_pairs():
        _moj_fixed = f"replace({_moj_fixed}, '{_bad}', '{_good}')"

    from go_crawler_spark.functions.text import SCRIPT_CLASSES as _SCRIPTS

    def lang_hits(words: tuple[str, ...]) -> str:
        lst = ", ".join(f"'{w}'" for w in words)
        return f"len(list_filter({toks_raw}, t -> t in ({lst})))"

    from go_crawler_spark.functions.text import (
        LANG_MARKERS,
        PII_EMAIL_PATTERN as _PII_EMAIL,
        PII_PHONE_PATTERN as _PII_PHONE,
    )
    from go_crawler_spark.functions.robots import (
        SYNTHETIC_VERDICT_RULES,
        pattern_to_regex,
    )

    robots_rules_values = ", ".join(
        f"('{h}', {str(a).upper()}, '{pat}', {len(pat)}, "
        f"'{pattern_to_regex(pat)}')"
        for h, a, pat in SYNTHETIC_VERDICT_RULES
    )

    en = lang_hits(LANG_MARKERS["en"])
    de = lang_hits(LANG_MARKERS["de"])
    fr = lang_hits(LANG_MARKERS["fr"])
    es = lang_hits(LANG_MARKERS["es"])

    # shared text-analysis fragments (quality_scores, lang_id_pred and
    # streaming_quality_scores must agree on ONE formula — a drift between
    # hand-maintained copies would make one oracle silently stale)
    ql_inner = f"""
              SELECT doc_id, text,
                     CASE WHEN len(trim(text)) = 0 THEN 0
                          ELSE len({_TOKS_SQL.format(c="text")}) END AS ntok,
                     {en} AS h_en, {de} AS h_de,
                     {fr} AS h_fr, {es} AS h_es
              FROM documents"""
    quality_formula = """round(
              0.4 * (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0
                          WHEN ntok > 0 THEN 0.5 ELSE 0.0 END)
            + 0.3 * (1.0 - CASE WHEN len(text) = 0 THEN 0.0
                     ELSE len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / len(text) END)
            + 0.3 * least(1.0, 5.0 * CASE WHEN ntok = 0 THEN 0.0
                     ELSE h_en * 1.0 / ntok END), 6)"""
    lang_case = """CASE WHEN best = 0 THEN 'und'
                        WHEN h_de = best THEN 'de'
                        WHEN h_en = best THEN 'en'
                        WHEN h_es = best THEN 'es'
                        ELSE 'fr' END"""

    shingles = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks_norm}) - 2, 0)),"
        f" i -> {toks_norm}[i] || ' ' || {toks_norm}[i+1] || ' ' || {toks_norm}[i+2]))"
    )

    return {
        "dedup_exact_keep_min": f"""
            SELECT min(doc_id) AS doc_id, md5({norm_text}) AS fingerprint
            FROM documents GROUP BY md5({norm_text})
        """,
        "seen_anti_join": """
            SELECT doc_id, source FROM documents d
            WHERE NOT EXISTS (
              SELECT 1 FROM documents s WHERE s.doc_id % 10 = 0 AND s.doc_id = d.doc_id)
        """,
        "budget_ordered_limit": """
            SELECT doc_id, n_chars FROM documents
            ORDER BY n_chars DESC, doc_id ASC LIMIT 50
        """,
        "fanin_union": """
            SELECT doc_id, lang FROM documents WHERE lang='en' AND n_chars > 300
            UNION ALL
            SELECT doc_id, lang FROM documents WHERE lang='de' AND n_chars > 300
        """,
        "host_group_counts": """
            SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        """,
        "salted_group_counts": """
            SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        """,
        "assets_collect_list": """
            SELECT lang,
                   array_to_string(list_sort(list(doc_id)), ',') AS doc_ids,
                   count(*) AS n_docs
            FROM documents GROUP BY lang
        """,
        "savepath_md5": """
            SELECT doc_id, md5(text) AS text_md5 FROM documents WHERE doc_id < 50
        """,
        "metrics_counters": """
            SELECT event_type,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(38,9))), 6) AS DOUBLE) AS sum_value,
                   round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "size_gate": """
            SELECT doc_id, n_chars,
                   CASE WHEN n_chars > 400 THEN 'skipped_download' ELSE 'ok' END AS status
            FROM documents
        """,
        "fetch_lookup_join": """
            SELECT f.doc_id AS doc_id,
                   CASE WHEN d.n_chars IS NULL THEN 'skipped_download' ELSE 'ok' END AS status
            FROM (SELECT range AS doc_id FROM range(0, 600, 7)) f
            LEFT JOIN documents d ON f.doc_id = d.doc_id
        """,
        "classify_kind": """
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 'page' ELSE 'asset' END AS kind
            FROM documents
        """,
        "retry_backoff_schedule": """
            SELECT range AS attempt,
                   round(least(3.0, 1.0 * power(2.0, range)), 6) AS delay_s
            FROM range(0, 5)
        """,
        "politeness_topk_per_host": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM documents) WHERE rn <= 3
        """,
        "global_seq_assignment": """
            SELECT doc_id,
                   row_number() OVER (ORDER BY doc_id) - 1 AS seq
            FROM documents
        """,
        "events_asof_join": """
            WITH filled AS (
              SELECT event_id, user_id, ts, event_type,
                     last_value(CASE WHEN event_type = 'view'
                                     THEN event_id END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS view_event_id,
                     last_value(CASE WHEN event_type = 'view'
                                     THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS view_ts
              FROM events)
            SELECT event_id, user_id, ts, view_event_id, view_ts
            FROM filled WHERE event_type = 'click'
        """,
        "cdx_index_lines": """
            WITH p AS (
              SELECT
                'https://' || source || '.example.com/doc' || CAST(doc_id AS VARCHAR) AS url,
                strftime(make_timestamp((1704067200 + (doc_id % 500) * 60) * 1000000),
                         '%Y%m%d%H%M%S') AS ts14,
                md5(coalesce(text, '')) AS digest,
                strlen(coalesce(text, '')) AS len_b,
                'com,example,' || source || ')/doc' || CAST(doc_id AS VARCHAR) AS surt_key
              FROM documents)
            SELECT surt_key, ts14,
                   surt_key || ' ' || ts14 || ' {"url": "'
                     || replace(replace(url, '\\', '\\\\'), '"', '\\"')
                     || '", "digest": "' || digest
                     || '", "length": ' || CAST(len_b AS VARCHAR) || '}'
                     AS cdxj
            FROM p
        """,
        "wet_roundtrip": """
            SELECT 'https://' || source || '.example.com/doc'
                     || CAST(doc_id AS VARCHAR) AS url,
                   '2024-01-01T00:00:00Z' AS warc_date,
                   coalesce(text, '') AS text
            FROM documents
        """,
        "warc_roundtrip": """
            SELECT 'https://' || source || '.example.com/doc'
                     || CAST(doc_id AS VARCHAR) AS url,
                   '2024-01-01T00:00:00Z' AS warc_date,
                   text
            FROM documents
        """,
        "sitemap_seed_urls": """
            SELECT source,
                   'https://' || source || '.example.com/doc'
                     || CAST(doc_id AS VARCHAR) AS loc,
                   '2024-' || lpad(CAST((doc_id % 12) + 1 AS VARCHAR), 2, '0')
                     || '-01' AS lastmod
            FROM documents
        """,
        "robots_rules_parse": f"""
            SELECT host, agent, allow, pattern, pattern_len, regex
            FROM '{fix}/robots_rules.parquet'
        """,
        "robots_rfc_verdict": f"""
            WITH urls AS (
              SELECT doc_id,
                     'h' || CAST(doc_id % 3 AS VARCHAR) || '.example.com'
                       AS host,
                     CASE doc_id % 5
                       WHEN 0 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
                       WHEN 1 THEN '/private/pub/doc'
                                   || CAST(doc_id AS VARCHAR)
                       WHEN 2 THEN '/files/doc' || CAST(doc_id AS VARCHAR)
                                   || '.zip'
                       WHEN 3 THEN '/page' || CAST(doc_id AS VARCHAR)
                                   || '.htm'
                       ELSE '/folder/doc' || CAST(doc_id AS VARCHAR)
                     END AS path
              FROM documents
            ), rules(host, allow, pattern, pattern_len, rx) AS (
              VALUES {robots_rules_values}
            ), m AS (
              SELECT u.doc_id, r.allow, r.pattern_len
              FROM urls u JOIN rules r ON u.host = r.host
              WHERE regexp_matches(u.path, r.rx)
            ), best AS (
              SELECT doc_id, allow,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY pattern_len DESC,
                                                 allow DESC) AS rn
              FROM m
            )
            SELECT 'https://' || u.host || u.path AS url,
                   coalesce(b.allow, TRUE) AS robots_allowed
            FROM urls u
            LEFT JOIN (SELECT doc_id, allow FROM best WHERE rn = 1) b
            USING (doc_id)
        """,
        "robots_gate": """
            SELECT doc_id, source AS host FROM documents
            WHERE doc_id % 20 NOT IN (3, 7)
        """,
        "linkgraph_degrees": """
            WITH nn AS (SELECT count(*) AS n FROM documents),
            edges AS (
              SELECT doc_id AS src, (doc_id*31+7) % (SELECT n FROM nn) AS dst FROM documents
              UNION ALL
              SELECT doc_id AS src, (doc_id*17+3) % (SELECT n FROM nn) AS dst FROM documents),
            ind AS (SELECT dst AS node, count(*) AS in_degree FROM edges GROUP BY dst),
            outd AS (SELECT src AS node, count(*) AS out_degree FROM edges GROUP BY src)
            SELECT d.doc_id,
                   coalesce(i.in_degree, 0) AS in_degree,
                   coalesce(o.out_degree, 0) AS out_degree
            FROM documents d
            LEFT JOIN ind i ON d.doc_id = i.node
            LEFT JOIN outd o ON d.doc_id = o.node
        """,
        "linkgraph_pagerank": """
            WITH nn AS (SELECT count(*) AS n FROM documents),
            edges AS (
              SELECT doc_id AS src, (doc_id*31+7) % (SELECT n FROM nn) AS dst FROM documents
              UNION ALL
              SELECT doc_id AS src, (doc_id*17+3) % (SELECT n FROM nn) AS dst FROM documents),
            outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
            w AS (SELECT e.src, e.dst, 1.0/o.od AS w FROM edges e JOIN outd o ON e.src=o.src),
            pr0 AS (SELECT doc_id AS node, 1.0/(SELECT n FROM nn) AS rank FROM documents),
            pr1 AS (
              SELECT d.doc_id AS node,
                     0.15/(SELECT n FROM nn) + 0.85*coalesce(s.incoming, 0) AS rank
              FROM documents d LEFT JOIN (
                SELECT w.dst, sum(p.rank * w.w) AS incoming
                FROM w JOIN pr0 p ON w.src = p.node GROUP BY w.dst) s
              ON d.doc_id = s.dst),
            pr2 AS (
              SELECT d.doc_id AS node,
                     0.15/(SELECT n FROM nn) + 0.85*coalesce(s.incoming, 0) AS rank
              FROM documents d LEFT JOIN (
                SELECT w.dst, sum(p.rank * w.w) AS incoming
                FROM w JOIN pr1 p ON w.src = p.node GROUP BY w.dst) s
              ON d.doc_id = s.dst),
            pr3 AS (
              SELECT d.doc_id AS node,
                     0.15/(SELECT n FROM nn) + 0.85*coalesce(s.incoming, 0) AS rank
              FROM documents d LEFT JOIN (
                SELECT w.dst, sum(p.rank * w.w) AS incoming
                FROM w JOIN pr2 p ON w.src = p.node GROUP BY w.dst) s
              ON d.doc_id = s.dst)
            SELECT node AS doc_id, round(rank, 6) AS rank FROM pr3
        """,
        "host_graph_rollup": """
            WITH nn AS (SELECT count(*) AS n FROM documents),
            hm AS (
              SELECT doc_id, source || '-' || CAST(doc_id % 4 AS VARCHAR) AS h
              FROM documents),
            edges AS (
              SELECT doc_id AS s, (doc_id*31+7) % (SELECT n FROM nn) AS d FROM documents
              UNION ALL
              SELECT doc_id AS s, (doc_id*17+3) % (SELECT n FROM nn) AS d FROM documents),
            he AS (
              SELECT hs.h AS src, hd.h AS dst
              FROM edges e
              JOIN hm hs ON e.s = hs.doc_id
              JOIN hm hd ON e.d = hd.doc_id)
            SELECT src, dst, count(*) AS n_links
            FROM he WHERE src != dst GROUP BY src, dst
        """,
        "linkgraph_trustrank": """
            WITH nn AS (SELECT count(*) AS n FROM documents),
            edges AS (
              SELECT doc_id AS src, (doc_id*31+7) % (SELECT n FROM nn) AS dst FROM documents
              UNION ALL
              SELECT doc_id AS src, (doc_id*17+3) % (SELECT n FROM nn) AS dst FROM documents),
            outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
            w AS (SELECT e.src, e.dst, 1.0/o.od AS w FROM edges e JOIN outd o ON e.src=o.src),
            sn AS (SELECT count(*) AS s FROM documents WHERE doc_id % 7 = 0),
            dv AS (SELECT doc_id AS node,
                          CASE WHEN doc_id % 7 = 0
                               THEN 1.0/(SELECT s FROM sn) ELSE 0.0 END AS d
                   FROM documents),
            tr0 AS (SELECT node, d AS rank FROM dv),
            tr1 AS (
              SELECT dv.node, 0.15*dv.d + 0.85*coalesce(s.incoming, 0) AS rank
              FROM dv LEFT JOIN (
                SELECT w.dst, sum(p.rank * w.w) AS incoming
                FROM w JOIN tr0 p ON w.src = p.node GROUP BY w.dst) s
              ON dv.node = s.dst),
            tr2 AS (
              SELECT dv.node, 0.15*dv.d + 0.85*coalesce(s.incoming, 0) AS rank
              FROM dv LEFT JOIN (
                SELECT w.dst, sum(p.rank * w.w) AS incoming
                FROM w JOIN tr1 p ON w.src = p.node GROUP BY w.dst) s
              ON dv.node = s.dst),
            tr3 AS (
              SELECT dv.node, 0.15*dv.d + 0.85*coalesce(s.incoming, 0) AS rank
              FROM dv LEFT JOIN (
                SELECT w.dst, sum(p.rank * w.w) AS incoming
                FROM w JOIN tr2 p ON w.src = p.node GROUP BY w.dst) s
              ON dv.node = s.dst)
            SELECT node AS doc_id, round(rank, 6) AS rank FROM tr3
        """,
        "token_counts": f"""
            SELECT doc_id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len({_TOKS_SQL.format(c="text")}) END AS n_tokens
            FROM documents
        """,
        "quality_scores": f"""
            SELECT doc_id, {quality_formula} AS quality
            FROM ({ql_inner})
        """,
        "lang_id_pred": f"""
            SELECT doc_id, {lang_case} AS lang_pred
            FROM (
              SELECT doc_id, h_en, h_de, h_fr, h_es,
                     greatest(h_en, h_de, h_fr, h_es) AS best
              FROM ({ql_inner}))
        """,
        "streaming_quality_scores": f"""
            SELECT doc_id, ntok AS n_tokens,
                   {quality_formula} AS quality,
                   {lang_case} AS lang_pred
            FROM (
              SELECT doc_id, text, ntok, h_en, h_de, h_es,
                     greatest(h_en, h_de, h_fr, h_es) AS best
              FROM ({ql_inner}))
        """,
        "corpus_prepare_v2": f"""
            WITH enriched AS (
              SELECT doc_id, source,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail.example.com now' AS text
              FROM documents
            ), scrubbed AS (
              SELECT doc_id, source,
                     regexp_replace(
                       regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g') AS text
              FROM enriched
            ), st AS (
              SELECT doc_id, {toks_norm} AS t FROM scrubbed
            ), g AS (
              SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(t) - 4, 0)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
              FROM st
            ), bt AS (
              SELECT {toks_norm} AS t FROM documents WHERE doc_id % 50 = 0
            ), bg AS (
              SELECT DISTINCT gram FROM (
                SELECT unnest(list_transform(
                         generate_series(1, greatest(len(t) - 4, 0)),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                              || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
                FROM bt)
            ), bad AS (
              SELECT DISTINCT g.doc_id FROM g SEMI JOIN bg USING (gram)
            ), decon AS (
              SELECT s.* FROM scrubbed s ANTI JOIN bad USING (doc_id)
            ), scored AS (
              SELECT doc_id,
                     CASE WHEN best = 0 THEN 'und'
                          WHEN h_de = best THEN 'de'
                          WHEN h_en = best THEN 'en'
                          WHEN h_es = best THEN 'es'
                          ELSE 'fr' END AS lang,
                     round(
                       0.4 * (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0
                                   WHEN ntok > 0 THEN 0.5 ELSE 0.0 END)
                     + 0.3 * (1.0 - CASE WHEN len(text) = 0 THEN 0.0
                              ELSE len(regexp_replace(text,
                                   '[A-Za-z0-9\\s]', '', 'g')) * 1.0
                                   / len(text) END)
                     + 0.3 * least(1.0, 5.0 * CASE WHEN ntok = 0 THEN 0.0
                              ELSE h_en * 1.0 / ntok END), 6) AS q,
                     len(regexp_extract_all(text,
                         '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\x0b\f\r]'))
                       AS n_atoms
              FROM (
                SELECT doc_id, text,
                       CASE WHEN len(trim(text)) = 0 THEN 0
                            ELSE len({_TOKS_SQL.format(c="text")}) END AS ntok,
                       {en} AS h_en, {de} AS h_de,
                       {fr} AS h_fr, {es} AS h_es,
                       greatest({en}, {de}, {fr}, {es}) AS best
                FROM decon)
            ), gated AS (
              SELECT * FROM scored WHERE q >= 0.7 AND lang <> 'und'
            ), sp AS (
              SELECT *,
                     CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                               < 'c' THEN 'train'
                          WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                               < 'e' THEN 'val'
                          ELSE 'test' END AS split
              FROM gated
            )
            SELECT split, lang, count(*) AS n_docs,
                   CAST(sum(n_atoms) AS BIGINT) AS n_tokens,
                   CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
                     AS sum_quality
            FROM sp GROUP BY split, lang
        """,
        "pii_scrub": """
            WITH enriched AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail.example.com or call +1 (555) 01'
                          || CAST(doc_id AS VARCHAR) || ' now' AS text
              FROM documents)
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(text, '%(e)s', '<EMAIL>', 'g'),
                     '%(p)s', '<PHONE>', 'g') AS clean_text,
                   len(regexp_extract_all(text, '%(e)s')) AS n_emails,
                   len(regexp_extract_all(
                     regexp_replace(text, '%(e)s', '<EMAIL>', 'g'),
                     '%(p)s')) AS n_phones
            FROM enriched
        """
        % {"e": _PII_EMAIL, "p": _PII_PHONE},
        "boilerplate_ngrams": f"""
            WITH toks AS (
              SELECT doc_id, {toks_norm} AS t FROM documents
            ), g AS (
              SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(t) - 2, 0)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
              FROM toks)
            SELECT gram, count(DISTINCT doc_id) AS df, count(*) AS n_occ
            FROM g GROUP BY gram
            HAVING count(DISTINCT doc_id) >= 2
            ORDER BY df DESC, n_occ DESC, gram ASC LIMIT 100
        """,
        "chunk_dedup_clean": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            ), cl AS (
              SELECT doc_id,
                     CASE WHEN len({norm_text}) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE list_transform(
                            generate_series(1,
                              CAST(ceil(len({toks_norm}) / 12.0) AS INT)),
                            i -> array_to_string(
                              ({toks_norm})[(i-1)*12+1:(i-1)*12+12], ' '))
                     END AS chunks
              FROM corpus
            ), ex AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(chunks))) AS i,
                     unnest(chunks) AS chunk
              FROM cl
            ), dup AS (
              SELECT chunk FROM ex
              GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
            ), keep AS (
              SELECT ex.doc_id, ex.i, ex.chunk FROM ex
              ANTI JOIN dup USING (chunk)
            ), agg AS (
              SELECT doc_id,
                     string_agg(chunk, ' ' ORDER BY i) AS clean_text,
                     count(*) AS n_kept
              FROM keep GROUP BY doc_id
            )
            SELECT cl.doc_id,
                   coalesce(agg.clean_text, '') AS clean_text,
                   len(cl.chunks) AS n_chunks,
                   len(cl.chunks) - coalesce(agg.n_kept, 0) AS n_removed
            FROM cl LEFT JOIN agg USING (doc_id)
        """,
        "decontaminate_corpus": f"""
            WITH toks AS (
              SELECT doc_id, {toks_norm} AS t FROM documents
            ), g AS (
              SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(t) - 4, 0)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
              FROM toks
            ), bench AS (
              SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
            ), bad AS (
              SELECT DISTINCT g.doc_id FROM g SEMI JOIN bench USING (gram)
            )
            SELECT d.doc_id, d.lang, d.source
            FROM documents d ANTI JOIN bad USING (doc_id)
        """,
        "priority_frontier_topk": """
            SELECT url, priority, seq FROM (
              SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                     n_chars % 7 AS priority,
                     row_number() OVER (ORDER BY n_chars % 7, doc_id) - 1
                       AS seq
              FROM documents)
            WHERE seq < 100
        """,
        "hash_split_assign": """
            SELECT doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                             THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                             THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "pack_sequences_bins": r"""
            WITH t AS (
              SELECT source, doc_id,
                     len(regexp_extract_all(text,
                         '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\x0b\f\r]')) AS n_tok
              FROM documents
            ), c AS (
              SELECT source, doc_id, n_tok,
                     sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                       AS cum
              FROM t
            )
            SELECT source,
                   CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS bin_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens
            FROM c GROUP BY source, bin_id
        """,
        "source_mix": r"""
            WITH s AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len(regexp_extract_all(text,
                       '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\x0b\f\r]')))
                       AS BIGINT) AS n_tokens
              FROM documents GROUP BY source
            )
            SELECT source, n_docs, n_tokens,
                   round(sqrt(CAST(n_tokens AS DOUBLE))
                         / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 6)
                     AS weight
            FROM s
        """,
        "fingerprints": f"""
            SELECT doc_id, md5({norm_text}) AS fingerprint FROM documents
        """,
        "bpe_token_counts": r"""
            -- atoms = maximal word-char runs + individual non-space
            -- non-word chars (equivalent to splitting at \W boundaries
            -- and dropping whitespace atoms; RE2 has no lookarounds)
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\x0b\f\r]')) AS n_atoms
            FROM documents
        """,
        "domain_cap_select": f"""
            -- per-registrable-domain quota replica: top-3 by
            -- (n_chars DESC, doc_id); host/registrable derivation
            -- mirrors url_blocklist_gate's
            WITH u AS (SELECT doc_id, n_chars, {_SYNTH_URL_SQL} AS url
                       FROM documents),
            h AS (SELECT doc_id, n_chars,
                    regexp_replace(lower(string_split(string_split(
                        regexp_extract(regexp_replace(string_split(url, '#')[1],
                            '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?]*'),
                        '@')[-1], ':')[1]), '\\.$', '') AS host
                  FROM u),
            r AS (SELECT doc_id, n_chars,
                    CASE WHEN len(string_split(host, '.')) >= 2
                         THEN string_split(host, '.')[-2] || '.'
                              || string_split(host, '.')[-1]
                         ELSE host END AS domain
                  FROM h)
            SELECT doc_id, domain, n_chars FROM (
              SELECT doc_id, domain, n_chars,
                     row_number() OVER (PARTITION BY domain
                                        ORDER BY n_chars DESC, doc_id)
                       AS rk
              FROM r)
            WHERE rk <= 3
        """,
        "training_order_shards": """
            -- FineWeb-style shard shuffle replica: shard = first md5 hex
            -- char via 16-char lookup (string-only, the repo's md5-hex
            -- protocol), position = rank of the remaining hex string
            WITH k AS (
              SELECT doc_id,
                     md5('7:' || CAST(doc_id AS VARCHAR)) AS h
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     strpos('0123456789abcdef', substr(h, 1, 1)) - 1
                       AS shard,
                     substr(h, 2, 31) AS hrest
              FROM k
            )
            SELECT doc_id, CAST(shard AS INTEGER) AS shard,
                   CAST(row_number() OVER (PARTITION BY shard
                                           ORDER BY hrest, doc_id) - 1
                        AS INTEGER) AS shard_pos
            FROM s
        """,
        "ccnet_perplexity_buckets": f"""
            -- CCNet LM bucketing replica: add-one bigram LM over the
            -- doc_id % 10 < 3 reference slice, min_count 2; per-token
            -- logp = ln(int) - ln(int) rounded to 9 dp into
            -- DECIMAL(38,9) (exact sum), mean rounded to 6 dp; buckets
            -- at exact 1/3 and 2/3 percentiles (quantile_cont ==
            -- Spark's percentile: both R-7 linear interpolation)
            WITH reft AS (
              SELECT {toks_norm} AS t FROM documents WHERE doc_id % 10 < 3
            ),
            uni AS (
              SELECT w1, count(*) AS c1
              FROM (SELECT unnest(t) AS w1 FROM reft)
              WHERE w1 <> '' GROUP BY w1
            ),
            vs AS (SELECT count(*) AS v FROM uni),
            big AS (
              SELECT w1, w2, count(*) AS c2 FROM (
                SELECT t[i] AS w1, t[i+1] AS w2
                FROM reft,
                     unnest(generate_series(1, greatest(len(t)-1, 0))) AS u(i)
              ) WHERE w1 <> '' AND w2 <> ''
              GROUP BY w1, w2 HAVING count(*) >= 2
            ),
            pairs AS (
              SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM (
                SELECT doc_id, {toks_norm} AS t FROM documents
              ), unnest(generate_series(1, greatest(len(t)-1, 0))) AS u(i)
              WHERE t[i] <> '' AND t[i+1] <> ''
            ),
            tok AS (
              SELECT p.doc_id,
                     CAST(round(ln(COALESCE(b.c2, 0) + 1)
                                - ln(COALESCE(u.c1, 0)
                                     + (SELECT v FROM vs) + 1), 9)
                          AS DECIMAL(38,9)) AS logp
              FROM pairs p
              LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
              LEFT JOIN uni u ON p.w1 = u.w1
            ),
            perdoc AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     round(-CAST(sum(logp) AS DOUBLE) / count(*), 6)
                       AS avg_neg_logp
              FROM tok GROUP BY doc_id
            ),
            th AS (
              SELECT round(quantile_cont(avg_neg_logp, 1.0/3), 6) AS t1,
                     round(quantile_cont(avg_neg_logp, 2.0/3), 6) AS t2
              FROM perdoc
            )
            SELECT doc_id, n_bigrams, avg_neg_logp,
                   CASE WHEN avg_neg_logp <= (SELECT t1 FROM th)
                          THEN 'head'
                        WHEN avg_neg_logp <= (SELECT t2 FROM th)
                          THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM perdoc
        """,
        "dedup_clusters": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            )
            SELECT md5({norm_text}) AS fingerprint,
                   count(*) AS n_members,
                   array_to_string(list_sort(list(doc_id)), ',') AS member_ids
            FROM corpus
            GROUP BY md5({norm_text})
            HAVING count(*) > 1
        """,
        "repetition_scores": f"""
            WITH tc AS (
              SELECT doc_id, tok, count(*) AS c FROM (
                SELECT doc_id, unnest({toks_norm}) AS tok FROM documents)
              WHERE tok <> '' GROUP BY doc_id, tok
            ),
            ta AS (
              SELECT doc_id, sum(c) AS n_tok, max(c) AS max_tok,
                     count(*) AS n_distinct
              FROM tc GROUP BY doc_id
            ),
            bc AS (
              SELECT doc_id, bg, count(*) AS c FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         generate_series(1, greatest(len({toks_norm}) - 1, 0)),
                         i -> {toks_norm}[i] || ' ' || {toks_norm}[i+1])) AS bg
                FROM documents)
              GROUP BY doc_id, bg
            ),
            ba AS (
              SELECT doc_id, sum(c) AS n_bg,
                     sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_bg
              FROM bc GROUP BY doc_id
            )
            SELECT d.doc_id,
                   round(coalesce(max_tok * 1.0 / n_tok, 0.0), 6) AS top_token_frac,
                   round(coalesce(dup_bg * 1.0 / n_bg, 0.0), 6) AS dup_bigram_frac,
                   round(coalesce(n_distinct * 1.0 / n_tok, 0.0), 6) AS distinct_ratio
            FROM documents d
            LEFT JOIN ta USING (doc_id)
            LEFT JOIN ba USING (doc_id)
        """,
        "corpus_prepare": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id - 200000 AS doc_id, text FROM documents
              WHERE doc_id % 7 = 0
            ),
            fp AS (SELECT doc_id, text, md5({norm_text}) AS f FROM corpus),
            win AS (SELECT f, min(doc_id) AS w FROM fp GROUP BY f),
            kept AS (
              SELECT fp.doc_id, fp.text FROM fp
              JOIN win ON fp.f = win.f AND fp.doc_id = win.w
            ),
            s1 AS (
              SELECT doc_id, text,
                     CASE WHEN len(trim(text)) = 0 THEN 0
                          ELSE len({_TOKS_SQL.format(c="text")}) END AS ntok,
                     {en} AS h_en, {de} AS h_de, {fr} AS h_fr, {es} AS h_es,
                     len(regexp_extract_all(text,
                         '[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n\\x0b\\f\\r]')) AS n_atoms
              FROM kept
            ),
            s2 AS (
              SELECT s1.*, greatest(h_en, h_de, h_fr, h_es) AS best FROM s1
            ),
            enr AS (
              SELECT doc_id,
                     CASE WHEN best = 0 THEN 'und'
                          WHEN h_de = best THEN 'de'
                          WHEN h_en = best THEN 'en'
                          WHEN h_es = best THEN 'es'
                          ELSE 'fr' END AS lang,
                     round(
                       0.4 * (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0
                                   WHEN ntok > 0 THEN 0.5 ELSE 0.0 END)
                     + 0.3 * (1.0 - CASE WHEN len(text) = 0 THEN 0.0
                              ELSE len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / len(text) END)
                     + 0.3 * least(1.0, 5.0 * CASE WHEN ntok = 0 THEN 0.0
                              ELSE h_en * 1.0 / ntok END), 6) AS quality,
                     ntok AS n_tokens,
                     n_atoms
              FROM s2
            )
            SELECT doc_id, lang, quality, n_tokens, n_atoms FROM enr
            WHERE quality >= 0.7 AND lang <> 'und'
        """,
        # corpus_release: the full live-SQL re-derivation of the release
        # composition. Stage inputs mirror queries().corpus_release exactly:
        # the crawl stage reads the independent simulator fixture; the
        # redirect walk is a hop-capped recursive CTE; near-dup pairs are
        # exact all-pairs Jaccard (LSH recall complete for this fixed
        # universe); components are min-label propagation to fixpoint.
        "corpus_release": f"""
            WITH RECURSIVE crawled AS (
                SELECT url, seq, row_number() OVER (ORDER BY seq) - 1 AS r
                FROM read_parquet('{fix}/crawl_flagship.parquet')
                WHERE scale = {scale_key} AND kind = 'page'
            ), ctam AS (
                SELECT array_to_string(({toks_norm})[1:5], ' ') AS c
                FROM documents WHERE doc_id = 50
            ), rel AS (
                SELECT CAST(c.r * 8 + j.j AS BIGINT) AS doc_id,
                       c.url || '?c=' || CAST(j.j AS VARCHAR) AS rel_url,
                       CASE WHEN j.j = 5
                                THEN d.text || ' reld5x' || CAST(c.r AS VARCHAR)
                            WHEN j.j = 6
                                THEN d.text || ' all rights reserved contact'
                                     || ' legal example com for terms and'
                                     || ' conditions apply'
                            WHEN j.j = 7
                                THEN d.text || ' ' || (SELECT c FROM ctam)
                            ELSE d.text END AS text,
                       '<html><head>' ||
                       CASE WHEN j.j = 1 AND c.r % 2 = 1
                                THEN '<LINK REL=CANONICAL HREF="'
                                     || c.url || '?c=0">'
                            WHEN j.j = 1
                                THEN '<link rel="canonical" href="'
                                     || c.url || '?c=0">'
                            ELSE '' END
                       || '</head><body></body></html>' AS html
                FROM crawled c
                CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
                JOIN documents d
                  ON d.doc_id = CASE WHEN j.j IN (4, 5) THEN c.r * 8
                                     ELSE c.r * 8 + j.j END
            ), canon AS (
                SELECT rel_url, CASE
                    WHEN href LIKE 'http://%' OR href LIKE 'https://%'
                        THEN href
                    WHEN href LIKE '/%' THEN origin || href
                    ELSE rel_url END AS canonical_url
                FROM (
                  SELECT rel_url,
                      regexp_replace(coalesce(
                          nullif(regexp_extract(html,
                              '(?i)<link[^>]*rel=(?:["'']canonical["'']|canonical[\\s/>])[^>]*href=["'']([^"'']*)["'']',
                              1), ''),
                          nullif(regexp_extract(html,
                              '(?i)<link[^>]*href=["'']([^"'']*)["''][^>]*rel=(?:["'']canonical["'']|canonical[\\s/>])',
                              1), ''),
                          nullif(regexp_extract(html,
                              '(?i)<link[^>]*rel=(?:["'']canonical["'']|canonical[\\s/>])[^>]*href=([^"''\\s>]+)',
                              1), ''),
                          nullif(regexp_extract(html,
                              '(?i)<link[^>]*href=([^"''\\s>]+)[^>]*rel=(?:["'']canonical["'']|canonical[\\s/>])',
                              1), ''),
                          ''), '#.*$', '') AS href,
                      regexp_extract(rel_url, '^(https?://[^/]+)', 1)
                        AS origin
                  FROM rel)
            ), reps AS (
                SELECT min(rel_url) AS rel_url FROM canon
                GROUP BY canonical_url
            ), s1 AS (
                SELECT rel.* FROM rel SEMI JOIN reps USING (rel_url)
            ), e1 AS (
                SELECT src, min(dst) AS dst FROM (
                    SELECT url || '?c=2' AS src, url || '?c=0' AS dst
                    FROM crawled
                    UNION ALL
                    SELECT url || '?c=3', url || '?c=2' FROM crawled)
                GROUP BY src
            ), walk(u, cur, hops) AS (
                SELECT rel_url, rel_url, 0 FROM s1
                UNION ALL
                SELECT w.u, e1.dst, w.hops + 1
                FROM walk w JOIN e1 ON w.cur = e1.src
                WHERE w.hops < 10
            ), fin AS (
                SELECT u, max_by(cur, hops) AS final_url FROM walk GROUP BY u
            ), keep2 AS (
                SELECT min(u) AS rel_url FROM fin GROUP BY final_url
            ), s2 AS (
                SELECT s1.* FROM s1 SEMI JOIN keep2 USING (rel_url)
            ), keep3 AS (
                SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5({norm_text})
            ), s3 AS (
                SELECT s2.* FROM s2 SEMI JOIN keep3 USING (doc_id)
            ), sh AS (
                SELECT doc_id, {shingles} AS s FROM s3
            ), prs AS (
                SELECT a.doc_id AS ia, b.doc_id AS ib
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0
                           THEN 0.0
                      ELSE len(list_intersect(a.s, b.s)) * 1.0
                           / len(list_distinct(list_concat(a.s, b.s))) END
                      >= 0.7
            ), und AS (
                SELECT ia AS a, ib AS b FROM prs
                UNION ALL SELECT ib, ia FROM prs
            ), lab(node, l) AS (
                SELECT DISTINCT a, a FROM und
                UNION
                SELECT u.a, lab.l FROM und u JOIN lab ON u.b = lab.node
            ), comp AS (
                SELECT node, min(l) AS component FROM lab GROUP BY node
            ), q3 AS (
                SELECT doc_id, round(
                  0.4 * (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0
                              WHEN ntok > 0 THEN 0.5 ELSE 0.0 END)
                + 0.3 * (1.0 - CASE WHEN len(text) = 0 THEN 0.0
                         ELSE len(regexp_replace(text, '[A-Za-z0-9\\s]', '',
                              'g')) * 1.0 / len(text) END)
                + 0.3 * least(1.0, 5.0 * CASE WHEN ntok = 0 THEN 0.0
                         ELSE {en} * 1.0 / ntok END), 6) AS q
                FROM (
                  SELECT doc_id, text,
                         CASE WHEN len(trim(text)) = 0 THEN 0
                              ELSE len({_TOKS_SQL.format(c="text")}) END
                           AS ntok
                  FROM s3)
            ), keep4 AS (
                SELECT doc_id FROM (
                  SELECT q3.doc_id,
                         row_number() OVER (
                           PARTITION BY coalesce(c.component, q3.doc_id)
                           ORDER BY q3.q DESC, q3.doc_id ASC) AS rn
                  FROM q3 LEFT JOIN comp c ON q3.doc_id = c.node)
                WHERE rn = 1
            ), s4 AS (
                SELECT s3.* FROM s3 SEMI JOIN keep4 USING (doc_id)
            ), toks4 AS (
                SELECT doc_id, rel_url,
                       {_TOKS_SQL.format(c="lower(text)")} AS t FROM s4
            ), win AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(t[i:i+7], ' ')) AS h
                FROM toks4, UNNEST(generate_series(1, len(t) - 7)) AS g(i)
                WHERE len(t) >= 8
            ), dup AS (
                SELECT doc_id, pos AS s, pos + 8 AS e FROM win
                WHERE h IN (SELECT h FROM win GROUP BY h HAVING count(*) >= 2)
            ), marked AS (
                SELECT doc_id, s, e,
                       CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                            OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS ni
                FROM dup
            ), isl AS (
                SELECT doc_id, s, e,
                       sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS island
                FROM marked
            ), spans AS (
                SELECT doc_id, min(s) AS a, max(e) AS b
                FROM isl GROUP BY doc_id, island
            ), per_doc AS (
                SELECT doc_id, list(struct_pack(a := a, b := b)) AS sp
                FROM spans GROUP BY doc_id
            ), s5 AS (
                SELECT t.doc_id, t.rel_url,
                       coalesce(list_aggregate(list_filter(list_transform(
                           generate_series(1, len(t.t)),
                           i -> CASE WHEN len(list_filter(
                                    coalesce(p.sp, []),
                                    s -> i - 1 >= s.a AND i - 1 < s.b)) > 0
                                THEN NULL ELSE t.t[i] END),
                           x -> x IS NOT NULL), 'string_agg', ' '), '')
                         AS text
                FROM toks4 t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
            ), scored AS (
                SELECT doc_id, rel_url, text,
                       CASE WHEN best = 0 THEN 'und'
                            WHEN h_de = best THEN 'de'
                            WHEN h_en = best THEN 'en'
                            WHEN h_es = best THEN 'es'
                            ELSE 'fr' END AS lang,
                       round(
                         0.4 * (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0
                                     WHEN ntok > 0 THEN 0.5 ELSE 0.0 END)
                       + 0.3 * (1.0 - CASE WHEN len(text) = 0 THEN 0.0
                                ELSE len(regexp_replace(text,
                                     '[A-Za-z0-9\\s]', '', 'g')) * 1.0
                                     / len(text) END)
                       + 0.3 * least(1.0, 5.0 * CASE WHEN ntok = 0 THEN 0.0
                                ELSE h_en * 1.0 / ntok END), 6) AS quality,
                       len(regexp_extract_all(text,
                           '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\x0b\f\r]'))
                         AS n_tokens
                FROM (
                  SELECT doc_id, rel_url, text,
                         CASE WHEN len(trim(text)) = 0 THEN 0
                              ELSE len({_TOKS_SQL.format(c="text")}) END
                           AS ntok,
                         {en} AS h_en, {de} AS h_de,
                         {fr} AS h_fr, {es} AS h_es,
                         greatest({en}, {de}, {fr}, {es}) AS best
                  FROM s5)
            ), gated AS (
                SELECT * FROM scored WHERE quality >= 0.7 AND lang <> 'und'
            ), gt AS (
                SELECT doc_id, {toks_norm} AS t FROM gated
            ), gg AS (
                SELECT doc_id, unnest(list_transform(
                         generate_series(1, greatest(len(t) - 4, 0)),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                              || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
                FROM gt
            ), bt AS (
                SELECT {toks_norm} AS t FROM documents WHERE doc_id % 50 = 0
            ), bg AS (
                SELECT DISTINCT gram FROM (
                  SELECT unnest(list_transform(
                           generate_series(1, greatest(len(t) - 4, 0)),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
                  FROM bt)
            ), bad AS (
                SELECT DISTINCT gg.doc_id FROM gg SEMI JOIN bg USING (gram)
            ), decon AS (
                SELECT gated.* FROM gated ANTI JOIN bad USING (doc_id)
            ), sp AS (
                SELECT *,
                       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                                 < 'c' THEN 'train'
                            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                                 < 'e' THEN 'val'
                            ELSE 'test' END AS split
                FROM decon
            )
            SELECT doc_id, rel_url AS url, split, lang, quality, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (
                          PARTITION BY split ORDER BY doc_id)
                        - n_tokens) / 256.0) AS BIGINT) AS bin_id
            FROM sp
        """,
        "ngram_jaccard_pairs": f"""
            WITH sh AS (
              SELECT doc_id, {shingles} AS s FROM documents WHERE doc_id < 30
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                         ELSE len(list_intersect(a.s, b.s)) * 1.0
                              / len(list_distinct(list_concat(a.s, b.s))) END, 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        """,
        "embedding_topk_bruteforce": """
            SELECT query_id, vec_id, round(score, 6) AS score, rank FROM (
              SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])) AS score,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                       CAST(q.embedding AS DOUBLE[])) DESC,
                                e.vec_id ASC) AS rank
              FROM embeddings e
              CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
            ) WHERE rank <= 5
        """,
        "embedding_pair_sims": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 15 AND b.vec_id < 15
        """,
        "embedding_near_dup_exact": """
            SELECT id_a, id_b, round(cosine, 6) AS cosine FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])) AS cosine
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            WHERE cosine >= 0.4
        """,
        "events_sessionization": """
            WITH g AS (
              SELECT user_id, event_id, value, ts,
                     CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                                 OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
            ), s AS (
              SELECT user_id, value, ts,
                     CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(38,9))), 6) AS DOUBLE) AS sum_value,
                   min(CAST(floor(epoch(ts)) AS BIGINT)) AS session_start_epoch,
                   max(CAST(floor(epoch(ts)) AS BIGINT)) AS session_end_epoch
            FROM s GROUP BY user_id, session_id
        """,
        "surt_keys": f"""
            WITH u AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
            p AS (SELECT doc_id, url,
                    regexp_replace(string_split(url, '#')[1],
                                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
                  FROM u),
            a AS (SELECT *, regexp_extract(rest, '^[^/?]*') AS authority FROM p),
            h AS (SELECT *,
                    regexp_replace(lower(string_split(
                        string_split(authority, '@')[-1], ':')[1]),
                        '\\.$', '') AS host,
                    substring(rest, length(authority) + 1) AS tail
                  FROM a)
            SELECT doc_id, url, host,
                   array_to_string(list_reverse(string_split(host, '.')), ',')
                   || ')' ||
                   CASE WHEN tail = '' THEN '/'
                        WHEN tail LIKE '?%' THEN '/' || tail
                        ELSE tail END AS surt
            FROM h
        """,
        "semantic_dedup": f"""
            SELECT vec_id, cluster, keep
            FROM read_parquet('{fix}/semdedup.parquet')
            WHERE sf = {sf_key}
        """,
        "host_heavy_hitters": f"""
            WITH e AS (SELECT source, count(*) AS n_exact
                       FROM documents GROUP BY source),
            c AS (SELECT source, cms_count
                  FROM read_parquet('{fix}/cms_host_counts.parquet')
                  WHERE sf = {sf_key})
            SELECT e.source, e.n_exact, c.cms_count,
                   c.cms_count - e.n_exact AS overestimate
            FROM e JOIN c USING (source)
        """,
        "dsir_select_topk": f"""
            WITH toks AS (SELECT doc_id, lang, {toks_norm} AS t FROM documents),
            g AS (
              SELECT doc_id, lang, unnest(list_transform(
                       generate_series(1, greatest(len(t) - 1, 0)),
                       i -> substr(md5(t[i] || ' ' || t[i+1]), 1, 3))) AS bucket
              FROM toks
            ),
            pb AS (
              SELECT bucket, count(*) AS cr,
                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS BIGINT) AS ct
              FROM g GROUP BY bucket
            ),
            tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
                           CAST(sum(ct) AS BIGINT) AS nt FROM pb),
            w AS (
              SELECT bucket,
                     CAST((ct + 1) * (nr + 4096) AS DOUBLE)
                       / CAST((cr + 1) * (nt + 4096) AS DOUBLE) AS w
              FROM pb, tot
            ),
            s AS (
              SELECT g.doc_id, count(*) AS n_grams,
                     CAST(round(sum(CAST(w.w AS DECIMAL(38,9))), 6)
                          AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS score
              FROM g JOIN w USING (bucket) GROUP BY g.doc_id
            ),
            sel AS (
              SELECT d.doc_id,
                     coalesce(s.n_grams, 0) AS n_grams,
                     coalesce(s.score, 0.0) AS score
              FROM documents d LEFT JOIN s USING (doc_id)
            )
            SELECT doc_id, n_grams, score, seq FROM (
              SELECT doc_id, n_grams, score,
                     row_number() OVER (ORDER BY score DESC, doc_id) - 1
                       AS seq
              FROM sel)
            WHERE seq < 100
        """,
        "tfidf_top_terms": f"""
            WITH tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM (SELECT doc_id, unnest({toks_norm}) AS term FROM documents)
              WHERE term <> '' GROUP BY doc_id, term
            ),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            nn AS (SELECT count(*) AS n FROM documents),
            s AS (
              SELECT tf.doc_id, tf.term,
                     CAST(tf.tf * ((SELECT n FROM nn) + 1) AS DOUBLE)
                       / CAST(dfq.df + 1 AS DOUBLE) AS tfidf
              FROM tf JOIN dfq USING (term)
            )
            SELECT doc_id, term, tfidf,
                   CAST(term_rank AS BIGINT) AS term_rank FROM (
              SELECT doc_id, term, tfidf,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, term)
                       AS term_rank
              FROM s)
            WHERE term_rank <= 3
        """,
        "corpus_drift_topk": f"""
            WITH ga AS (
              SELECT substr(md5(gram), 1, 3) AS bucket, count(*) AS ca FROM (
                SELECT unnest(list_transform(
                         generate_series(1, greatest(len(t) - 1, 0)),
                         i -> t[i] || ' ' || t[i+1])) AS gram
                FROM (SELECT {toks_norm} AS t FROM documents
                      WHERE doc_id % 2 = 0))
              GROUP BY bucket
            ), gb AS (
              SELECT substr(md5(gram), 1, 3) AS bucket, count(*) AS cb FROM (
                SELECT unnest(list_transform(
                         generate_series(1, greatest(len(t) - 1, 0)),
                         i -> t[i] || ' ' || t[i+1])) AS gram
                FROM (SELECT {toks_norm} AS t FROM documents
                      WHERE doc_id % 2 = 1))
              GROUP BY bucket
            ), tot AS (
              SELECT (SELECT CAST(sum(ca) AS BIGINT) FROM ga) AS na,
                     (SELECT CAST(sum(cb) AS BIGINT) FROM gb) AS nb
            ), j AS (
              SELECT coalesce(ga.bucket, gb.bucket) AS bucket,
                     CAST(coalesce(ca, 0) AS BIGINT) AS n_a,
                     CAST(coalesce(cb, 0) AS BIGINT) AS n_b
              FROM ga FULL OUTER JOIN gb ON ga.bucket = gb.bucket
            ), d AS (
              SELECT bucket, n_a, n_b,
                     CAST(abs(n_a * (SELECT nb FROM tot)
                              - n_b * (SELECT na FROM tot)) AS BIGINT)
                       AS drift_num
              FROM j
            )
            SELECT bucket, n_a, n_b, drift_num, rank FROM (
              SELECT bucket, n_a, n_b, drift_num,
                     row_number() OVER (ORDER BY drift_num DESC, bucket)
                       AS rank
              FROM d)
            WHERE rank <= 50
        """,
        "url_trap_census": f"""
            WITH u AS (
              SELECT {_SYNTH_URL_SQL} AS url, md5(text) AS fp FROM documents
              UNION ALL
              SELECT 'https://trap-site.org/cal/' || CAST(doc_id*3+1 AS VARCHAR)
                     || '/day/' || CAST(doc_id%12 AS VARCHAR) AS url,
                     md5(CAST(doc_id % 2 AS VARCHAR)) AS fp
              FROM documents WHERE doc_id % 5 = 0
            ), p AS (
              SELECT regexp_replace(string_split(string_split(url, '#')[1], '?')[1],
                       '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest, fp
              FROM u
            ), t AS (
              SELECT regexp_replace(lower(string_split(string_split(
                         regexp_extract(rest, '^[^/?]*'), '@')[-1], ':')[1]),
                       '\\.$', '')
                     || regexp_replace(lower(
                          CASE WHEN substr(rest, len(regexp_extract(rest, '^[^/?]*')) + 1) = ''
                               THEN '/'
                               ELSE substr(rest, len(regexp_extract(rest, '^[^/?]*')) + 1) END),
                          '[0-9]+', '<d>', 'g') AS template,
                     fp
              FROM p
            ), c AS (
              SELECT template, count(*) AS n_urls,
                     CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp
              FROM t GROUP BY template
            )
            SELECT template, n_urls, n_distinct_fp,
                   (n_urls >= 20 AND n_distinct_fp * 4 <= n_urls) AS is_trap
            FROM c
        """,
        "host_budget_allocation": """
            WITH w AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS w
                       FROM documents GROUP BY source),
            tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
            base AS (SELECT source,
                       (w * 1000) // (SELECT tw FROM tot) AS fl,
                       (w * 1000) % (SELECT tw FROM tot) AS rem
                     FROM w),
            lv AS (SELECT 1000 - CAST(sum(fl) AS BIGINT) AS leftover
                   FROM base),
            rk AS (SELECT source,
                     row_number() OVER (ORDER BY rem DESC, source) AS rk
                   FROM base WHERE rem > 0)
            SELECT b.source,
                   CAST(b.fl + CASE WHEN r.rk IS NOT NULL
                                     AND r.rk <= (SELECT leftover FROM lv)
                                    THEN 1 ELSE 0 END AS BIGINT) AS quota
            FROM base b LEFT JOIN rk r ON b.source = r.source
        """,
        "linkgraph_hits": """
            WITH nn AS (SELECT count(*) AS n FROM documents),
            edges AS (
              SELECT doc_id AS src, (doc_id*31+7) % (SELECT n FROM nn) AS dst FROM documents
              UNION ALL
              SELECT doc_id AS src, (doc_id*17+3) % (SELECT n FROM nn) AS dst FROM documents),
            h0 AS (SELECT doc_id AS node, 1 AS h FROM documents),
            a1 AS (SELECT d.doc_id AS node, coalesce(s.a, 0) AS a FROM documents d
                   LEFT JOIN (SELECT e.dst, CAST(sum(h0.h) AS BIGINT) AS a
                              FROM edges e JOIN h0 ON e.src = h0.node
                              GROUP BY e.dst) s
                   ON d.doc_id = s.dst),
            h1 AS (SELECT d.doc_id AS node, coalesce(s.h, 0) AS h FROM documents d
                   LEFT JOIN (SELECT e.src, CAST(sum(a1.a) AS BIGINT) AS h
                              FROM edges e JOIN a1 ON e.dst = a1.node
                              GROUP BY e.src) s
                   ON d.doc_id = s.src),
            a2 AS (SELECT d.doc_id AS node, coalesce(s.a, 0) AS a FROM documents d
                   LEFT JOIN (SELECT e.dst, CAST(sum(h1.h) AS BIGINT) AS a
                              FROM edges e JOIN h1 ON e.src = h1.node
                              GROUP BY e.dst) s
                   ON d.doc_id = s.dst),
            h2 AS (SELECT d.doc_id AS node, coalesce(s.h, 0) AS h FROM documents d
                   LEFT JOIN (SELECT e.src, CAST(sum(a2.a) AS BIGINT) AS h
                              FROM edges e JOIN a2 ON e.dst = a2.node
                              GROUP BY e.src) s
                   ON d.doc_id = s.src),
            tot AS (SELECT (SELECT CAST(sum(h) AS BIGINT) FROM h2) AS th,
                           (SELECT CAST(sum(a) AS BIGINT) FROM a2) AS ta)
            SELECT h2.node AS doc_id,
                   CAST(h2.h AS DOUBLE) / CAST((SELECT th FROM tot) AS DOUBLE) AS hub,
                   CAST(a2.a AS DOUBLE) / CAST((SELECT ta FROM tot) AS DOUBLE) AS authority
            FROM h2 JOIN a2 ON h2.node = a2.node
        """,
        "url_blocklist_gate": f"""
            WITH u AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
            h AS (SELECT doc_id,
                    regexp_replace(lower(string_split(string_split(
                        regexp_extract(regexp_replace(string_split(url, '#')[1],
                            '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?]*'),
                        '@')[-1], ':')[1]), '\\.$', '') AS host
                  FROM u),
            r AS (SELECT doc_id, host,
                    CASE WHEN len(string_split(host, '.')) >= 2
                         THEN string_split(host, '.')[-2] || '.'
                              || string_split(host, '.')[-1]
                         ELSE host END AS registrable
                  FROM h)
            SELECT doc_id, host,
                   registrable IN ('src3-site.org', 'src7-site.org',
                                   'src12-site.org') AS blocked
            FROM r
        """,
        "crawl_snapshot_diff": f"""
            WITH oldr AS (
              SELECT doc_id AS url_id, md5({norm_text}) AS old_fp
              FROM documents WHERE doc_id % 7 <> 0
            ), newr AS (
              SELECT doc_id AS url_id,
                     CASE WHEN doc_id % 3 = 0 THEN md5({norm_text} || '!v2')
                          ELSE md5({norm_text}) END AS new_fp
              FROM documents WHERE doc_id % 5 <> 0
            )
            SELECT url_id, old_fp, new_fp,
                   CASE WHEN old_fp IS NULL THEN 'added'
                        WHEN new_fp IS NULL THEN 'removed'
                        WHEN old_fp = new_fp THEN 'unchanged'
                        ELSE 'changed' END AS change
            FROM oldr FULL OUTER JOIN newr USING (url_id)
        """,
        "recrawl_due": """
            WITH stats AS (
              SELECT user_id AS url_id,
                     max(ts) AS last_fetch_ts,
                     count(*) AS fetch_count,
                     count(DISTINCT event_type) AS change_count
              FROM events GROUP BY user_id
            ), calc AS (
              SELECT url_id, fetch_count, change_count, last_fetch_ts,
                     greatest(86400, least(2592000,
                       CAST(floor(86400.0 * fetch_count / (change_count + 1))
                            AS BIGINT))) AS interval_s
              FROM stats
            )
            SELECT url_id, fetch_count, change_count, interval_s,
                   1707955200 - (CAST(floor(epoch(last_fetch_ts)) AS BIGINT)
                                 + interval_s) AS overdue_s
            FROM calc
            WHERE 1707955200 - (CAST(floor(epoch(last_fetch_ts)) AS BIGINT)
                                + interval_s) > 0
        """,
        "url_strip_tracking": """
            WITH u AS (
              SELECT doc_id,
                     'https://' || source || '-site.org/p/'
                     || CAST(doc_id AS VARCHAR)
                     || CASE WHEN doc_id % 4 = 0 THEN '?utm_source=tw&b=2&a=1'
                             WHEN doc_id % 4 = 1 THEN '?fbclid=abc'
                             WHEN doc_id % 4 = 2 THEN '?z=9&gclid=x&y=8&utm_medium=email'
                             ELSE '' END AS url
              FROM documents
            ), s AS (
              SELECT doc_id, url, string_split(url, '?') AS parts FROM u
            ), t AS (
              SELECT doc_id, url, parts[1] AS base,
                     CASE WHEN len(parts) > 1 THEN
                       list_sort(list_filter(string_split(parts[2], '&'),
                         p -> len(p) > 0 AND NOT regexp_matches(p,
                           '^(utm_|fbclid|gclid|msclkid|mc_eid|igshid|ref_src)')))
                     ELSE NULL END AS kept
              FROM s
            )
            SELECT doc_id, url,
                   CASE WHEN kept IS NULL OR len(kept) = 0 THEN base
                        ELSE base || '?' || array_to_string(kept, '&') END
                       AS clean_url
            FROM t
        """,
        "domain_census": """
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
                   round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
            FROM documents GROUP BY source
        """,
        "robots_sitemaps": """
            WITH r AS (
              SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
                     'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)
                     || CASE WHEN doc_id % 3 = 0 THEN
                          'Sitemap: https://' || source || '-site.org/sitemap.xml' || chr(10)
                        ELSE '' END
                     || CASE WHEN doc_id % 4 = 0 THEN
                          'sitemap:   https://' || source || '-site.org/sm/'
                          || CAST(doc_id AS VARCHAR) || '.xml   # index' || chr(10)
                        ELSE '' END
                     || 'Allow: /' || chr(10) AS body
              FROM documents
            ), l AS (
              SELECT host,
                     trim(regexp_replace(unnest(string_split_regex(body, '\\r?\\n')),
                                         '#.*$', '')) AS line
              FROM r
            )
            SELECT host,
                   trim(regexp_replace(line, '^(?i)sitemap\\s*:\\s*', '')) AS sitemap_url
            FROM l
            WHERE regexp_matches(line, '^(?i)sitemap\\s*:')
              AND length(trim(regexp_replace(line, '^(?i)sitemap\\s*:\\s*', ''))) > 0
        """,
        "mime_sniff": """
            WITH u AS (
              SELECT doc_id,
                     unhex(CASE WHEN doc_id % 10 = 0 THEN '89504E470D0A1A0A'
                                WHEN doc_id % 10 = 1 THEN 'FFD8FFE0'
                                WHEN doc_id % 10 = 2 THEN '47494638'
                                WHEN doc_id % 10 = 3 THEN '25504446'
                                WHEN doc_id % 10 = 4 THEN '5249464658585858574156450000'
                                WHEN doc_id % 10 = 5 THEN '524946465858585857454250'
                                WHEN doc_id % 10 = 6 THEN '3C68746D6C3E'
                                WHEN doc_id % 10 = 7 THEN '494433'
                                WHEN doc_id % 10 = 8 THEN '1F8B08'
                                ELSE '00112233' END)
                     || encode(substring(text, 1, 32)) AS payload
              FROM documents
            ), h AS (
              SELECT doc_id, substring(hex(payload), 1, 24) AS hx FROM u
            )
            SELECT doc_id,
                   CASE WHEN hx LIKE '52494646%' AND substring(hx, 17, 8) = '57415645'
                            THEN 'audio/wav'
                        WHEN hx LIKE '52494646%' AND substring(hx, 17, 8) = '57454250'
                            THEN 'image/webp'
                        WHEN hx LIKE '89504E47%' THEN 'image/png'
                        WHEN hx LIKE 'FFD8FF%' THEN 'image/jpeg'
                        WHEN hx LIKE '47494638%' THEN 'image/gif'
                        WHEN hx LIKE '25504446%' THEN 'application/pdf'
                        WHEN hx LIKE '494433%' THEN 'audio/mpeg'
                        WHEN hx LIKE '1F8B%' THEN 'application/gzip'
                        WHEN hx LIKE '3C%' THEN 'text/html'
                        ELSE 'application/octet-stream' END AS mime
            FROM h
        """,
        "stratified_sample_lang": """
            SELECT doc_id, lang FROM documents
            WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 8) <
                  CASE lang
                    WHEN 'en' THEN '80000000'
                    WHEN 'fr' THEN '40000000'
                    WHEN 'es' THEN '00000000'
                    ELSE '20000000'
                  END
               OR lang = 'de'
        """,
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_priority": """
            SELECT o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY o_orderpriority
        """,
        # ---- fixture-backed oracles (independent expected outputs) ----
        "crawl_flagship": f"""
            SELECT url, kind, depth, seq, host, enqueue_round
            FROM read_parquet('{fix}/crawl_flagship.parquet')
            WHERE scale = {scale_key}
        """,
        "crawl_trap_refresh": f"""
            SELECT url, kind, depth, seq, round, status
            FROM read_parquet('{fix}/crawl_trap_refresh.parquet')
            WHERE scale = {scale_key}
        """,
        "anchor_text_agg": f"""
            SELECT dst, CAST(count(*) AS BIGINT) AS n_refs,
                   array_to_string(
                       list_sort(list_distinct(list(anchor)))[1:64], '|'
                   ) AS anchors
            FROM read_parquet('{fix}/anchor_pairs.parquet')
            WHERE scale = {scale_key}
            GROUP BY dst
        """,
        "redirect_resolve": f"""
            WITH RECURSIVE e AS (
                SELECT src_url AS src, min(dst_url) AS dst
                FROM read_parquet('{fix}/redirect_edges.parquet')
                GROUP BY src_url
            ), u AS (
                SELECT src_url AS url
                FROM read_parquet('{fix}/redirect_edges.parquet')
                UNION
                SELECT dst_url FROM read_parquet('{fix}/redirect_edges.parquet')
            ), walk(url, cur, hops) AS (
                SELECT url, url, 0 FROM u
                UNION ALL
                SELECT w.url, e.dst, w.hops + 1
                FROM walk w JOIN e ON w.cur = e.src
                WHERE w.hops < 10
            ), fin AS (
                SELECT url, max(hops) AS t, max_by(cur, hops) AS last
                FROM walk GROUP BY url
            )
            SELECT url,
                   CASE WHEN t >= 10 THEN NULL ELSE last END AS final_url,
                   CAST(t AS INTEGER) AS hops,
                   CASE WHEN t >= 10 THEN 'stopped_after_10_redirects'
                        ELSE 'ok' END AS status
            FROM fin
        """,
        "redirect_alias_dedup": f"""
            WITH RECURSIVE e AS (
                SELECT src_url AS src, min(dst_url) AS dst
                FROM read_parquet('{fix}/redirect_edges.parquet')
                GROUP BY src_url
            ), u AS (
                SELECT src_url AS url
                FROM read_parquet('{fix}/redirect_edges.parquet')
                UNION
                SELECT dst_url FROM read_parquet('{fix}/redirect_edges.parquet')
            ), walk(url, cur, hops) AS (
                SELECT url, url, 0 FROM u
                UNION ALL
                SELECT w.url, e.dst, w.hops + 1
                FROM walk w JOIN e ON w.cur = e.src
                WHERE w.hops < 10
            ), fin AS (
                SELECT url, max(hops) AS t, max_by(cur, hops) AS last
                FROM walk GROUP BY url
            )
            SELECT last AS final_url, CAST(count(*) AS BIGINT) AS n_aliases,
                   min(url) AS first_alias
            FROM fin WHERE t < 10 GROUP BY last
        """,
        "redirect_resolve_robots": f"""
            WITH RECURSIVE u AS (
                SELECT src_url AS url
                FROM read_parquet('{fix}/redirect_edges.parquet')
                UNION
                SELECT dst_url FROM read_parquet('{fix}/redirect_edges.parquet')
            ), blocked AS (
                SELECT url FROM u
                WHERE url LIKE '%/chain8/4' OR url LIKE '%/rho3/c1'
                   OR url LIKE '%/fan/z' OR url LIKE '%/dup/a'
                   OR url LIKE '%/chain14/12'
            ), e0 AS (
                SELECT src_url AS src, min(dst_url) AS dst
                FROM read_parquet('{fix}/redirect_edges.parquet')
                GROUP BY src_url
            ), cut AS (
                SELECT src FROM e0 WHERE dst IN (SELECT url FROM blocked)
            ), e AS (
                SELECT src, dst FROM e0
                WHERE dst NOT IN (SELECT url FROM blocked)
            ), walk(url, cur, hops) AS (
                SELECT url, url, 0 FROM u
                UNION ALL
                SELECT w.url, e.dst, w.hops + 1
                FROM walk w JOIN e ON w.cur = e.src
                WHERE w.hops < 10
            ), fin AS (
                SELECT url, max(hops) AS t, max_by(cur, hops) AS last
                FROM walk GROUP BY url
            )
            SELECT url,
                   CASE WHEN t >= 10 THEN NULL
                        WHEN last IN (SELECT src FROM cut) THEN NULL
                        ELSE last END AS final_url,
                   CAST(t AS INTEGER) AS hops,
                   CASE WHEN t >= 10 THEN 'stopped_after_10_redirects'
                        WHEN last IN (SELECT src FROM cut)
                            THEN 'blocked_robots_hop'
                        ELSE 'ok' END AS status
            FROM fin
        """,
        "canonical_consolidation": f"""
            WITH m AS (
                SELECT url,
                    regexp_replace(coalesce(
                        nullif(regexp_extract(html,
                            '(?i)<link[^>]*rel=(?:["'']canonical["'']|canonical[\\s/>])[^>]*href=["'']([^"'']*)["'']',
                            1), ''),
                        nullif(regexp_extract(html,
                            '(?i)<link[^>]*href=["'']([^"'']*)["''][^>]*rel=(?:["'']canonical["'']|canonical[\\s/>])',
                            1), ''),
                        nullif(regexp_extract(html,
                            '(?i)<link[^>]*rel=(?:["'']canonical["'']|canonical[\\s/>])[^>]*href=([^"''\\s>]+)',
                            1), ''),
                        nullif(regexp_extract(html,
                            '(?i)<link[^>]*href=([^"''\\s>]+)[^>]*rel=(?:["'']canonical["'']|canonical[\\s/>])',
                            1), ''),
                        ''), '#.*$', '') AS href,
                    regexp_extract(url, '^(https?://[^/]+)', 1) AS origin
                FROM read_parquet('{fix}/canonical_pages.parquet')
                WHERE scale = {scale_key}
            ), c AS (
                SELECT url, CASE
                    WHEN href LIKE 'http://%' OR href LIKE 'https://%'
                        THEN href
                    WHEN href LIKE '/%' THEN origin || href
                    ELSE url END AS canonical_url
                FROM m
            )
            SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_pages,
                   min(url) AS representative
            FROM c GROUP BY canonical_url
        """,
        "dup_ngram_spans": f"""
            WITH toks AS (
                SELECT doc_id, {_TOKS_SQL.format(c="lower(text)")} AS t
                FROM documents
            ), win AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(t[i:i+7], ' ')) AS h
                FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS g(i)
                WHERE len(t) >= 8
            ), dup AS (
                SELECT doc_id, pos AS s, pos + 8 AS e FROM win
                WHERE h IN (SELECT h FROM win GROUP BY h HAVING count(*) >= 2)
            ), marked AS (
                SELECT doc_id, s, e,
                       CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                            OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS ni
                FROM dup
            ), isl AS (
                SELECT doc_id, s, e,
                       sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS island
                FROM marked
            )
            SELECT doc_id, CAST(min(s) AS INTEGER) AS span_start,
                   CAST(max(e) AS INTEGER) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM isl GROUP BY doc_id, island
        """,
        "excise_dup_spans": f"""
            WITH toks AS (
                SELECT doc_id, {_TOKS_SQL.format(c="lower(text)")} AS t
                FROM documents
            ), win AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(t[i:i+7], ' ')) AS h
                FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS g(i)
                WHERE len(t) >= 8
            ), dup AS (
                SELECT doc_id, pos AS s, pos + 8 AS e FROM win
                WHERE h IN (SELECT h FROM win GROUP BY h HAVING count(*) >= 2)
            ), marked AS (
                SELECT doc_id, s, e,
                       CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                            OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS ni
                FROM dup
            ), isl AS (
                SELECT doc_id, s, e,
                       sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS island
                FROM marked
            ), spans AS (
                SELECT doc_id, min(s) AS a, max(e) AS b
                FROM isl GROUP BY doc_id, island
            ), per_doc AS (
                SELECT doc_id, list(struct_pack(a := a, b := b)) AS sp
                FROM spans GROUP BY doc_id
            ), kept AS (
                SELECT t.doc_id,
                       list_filter(list_transform(
                           generate_series(1, len(t.t)),
                           i -> CASE WHEN len(list_filter(
                                    coalesce(p.sp, []),
                                    s -> i - 1 >= s.a AND i - 1 < s.b)) > 0
                                THEN NULL ELSE t.t[i] END),
                           x -> x IS NOT NULL) AS k,
                       len(t.t) AS n
                FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
            )
            SELECT doc_id,
                   coalesce(list_aggregate(k, 'string_agg', ' '), '')
                       AS clean_text,
                   CAST(n - len(k) AS INTEGER) AS n_removed_tokens
            FROM kept
        """,
        "crawl_extract_children": f"""
            SELECT url, kind, child_url, pos
            FROM read_parquet('{fix}/crawl_children.parquet')
            WHERE scale = {scale_key}
        """,
        "simhash_near_dup_pairs": f"""
            SELECT id_a, id_b, hamming
            FROM read_parquet('{fix}/simhash_pairs.parquet')
            WHERE sf = {sf_key}
        """,
        "minhash_near_dup_pairs": f"""
            SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM read_parquet('{fix}/minhash_pairs.parquet')
            WHERE sf = {sf_key}
        """,
        "neardup_components": f"""
            SELECT node, component
            FROM read_parquet('{fix}/neardup_components.parquet')
            WHERE sf = {sf_key}
        """,
        "neardup_keep_best": f"""
            WITH q AS (
              SELECT doc_id, round(
                0.4 * (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0
                            WHEN ntok > 0 THEN 0.5 ELSE 0.0 END)
              + 0.3 * (1.0 - CASE WHEN len(text) = 0 THEN 0.0
                       ELSE len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / len(text) END)
              + 0.3 * least(1.0, 5.0 * CASE WHEN ntok = 0 THEN 0.0
                       ELSE {en} * 1.0 / ntok END), 6) AS q
              FROM (
                SELECT doc_id, text,
                       CASE WHEN len(trim(text)) = 0 THEN 0
                            ELSE len({_TOKS_SQL.format(c="text")}) END AS ntok
                FROM documents)
            ), comps AS (
              SELECT node, component
              FROM read_parquet('{fix}/neardup_components.parquet')
              WHERE sf = {sf_key}
            ), j AS (
              SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component,
                     q.q
              FROM q LEFT JOIN comps c ON q.doc_id = c.node
            ), r AS (
              SELECT doc_id, component, q,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY q DESC, doc_id ASC) AS rn
              FROM j
            )
            SELECT doc_id, component, q AS quality, rn = 1 AS kept FROM r
        """,
        "embedding_near_dup_lsh": f"""
            WITH bk AS (
              SELECT vec_id, table_idx, bucket
              FROM read_parquet('{fix}/embedding_lsh_buckets.parquet')
              WHERE sf = {sf_key}),
            pairs AS (
              SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
              FROM bk a JOIN bk c
                ON a.table_idx = c.table_idx AND a.bucket = c.bucket
               AND a.vec_id < c.vec_id),
            ev AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT p.id_a, p.id_b,
                   round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
            FROM pairs p
            JOIN ev ea ON p.id_a = ea.vec_id
            JOIN ev eb ON p.id_b = eb.vec_id
            WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4
        """,
        "embedding_ann_ivf": f"""
            WITH cand AS (
              SELECT query_id, vec_id
              FROM read_parquet('{fix}/ann_ivf_candidates.parquet')
              WHERE sf = {sf_key}),
            scored AS (
              SELECT c.query_id, c.vec_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])) AS score
              FROM cand c
              JOIN embeddings e ON c.vec_id = e.vec_id
              JOIN embeddings q ON c.query_id = q.vec_id)
            SELECT query_id, vec_id, round(score, 6) AS score, rank FROM (
              SELECT query_id, vec_id, score,
                     row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "embedding_lsh_recall": f"""
            WITH ex AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])) >= 0.4),
            bk AS (
              SELECT vec_id, table_idx, bucket
              FROM read_parquet('{fix}/embedding_lsh_buckets.parquet')
              WHERE sf = {sf_key}),
            cp AS (
              SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
              FROM bk a JOIN bk c
                ON a.table_idx = c.table_idx AND a.bucket = c.bucket
               AND a.vec_id < c.vec_id),
            ev AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            lsh AS (
              SELECT p.id_a, p.id_b
              FROM cp p
              JOIN ev ea ON p.id_a = ea.vec_id
              JOIN ev eb ON p.id_b = eb.vec_id
              WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4)
            SELECT count(*) AS n_exact,
                   CAST(sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_found,
                   round(sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                         / count(*), 6) AS recall
            FROM ex e LEFT JOIN lsh l ON e.id_a = l.id_a AND e.id_b = l.id_b
        """,
        "ann_ivf_recall": f"""
            WITH bf AS (
              SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
                       row_number() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                         CAST(q.embedding AS DOUBLE[])) DESC,
                                  e.vec_id ASC) AS rank
                FROM embeddings e
                CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
              ) WHERE rank <= 5),
            cand AS (
              SELECT query_id, vec_id
              FROM read_parquet('{fix}/ann_ivf_candidates.parquet')
              WHERE sf = {sf_key}),
            iv AS (
              SELECT query_id, vec_id FROM (
                SELECT c.query_id, c.vec_id,
                       row_number() OVER (
                         PARTITION BY c.query_id
                         ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                         CAST(q.embedding AS DOUBLE[])) DESC,
                                  c.vec_id ASC) AS rank
                FROM cand c
                JOIN embeddings e ON c.vec_id = e.vec_id
                JOIN embeddings q ON c.query_id = q.vec_id
              ) WHERE rank <= 5)
            SELECT count(*) AS n_exact,
                   CAST(sum(CASE WHEN i.query_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_found,
                   round(sum(CASE WHEN i.query_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                         / count(*), 6) AS recall
            FROM bf b LEFT JOIN iv i
              ON b.query_id = i.query_id AND b.vec_id = i.vec_id
        """,
        "streaming_host_metrics": f"""
            SELECT win_start, host, links_discovered, assets_found,
                   approx_distinct_urls
            FROM read_parquet('{fix}/streaming_host_metrics.parquet')
            WHERE scale = {scale_key}
        """,
        "multimodal_features": f"""
            SELECT media_id, kind, n_bytes,
                   round(feature_l1, 6) AS feature_l1
            FROM read_parquet('{fix}/multimodal_features.parquet')
        """,
        "multimodal_frame_sample": f"""
            SELECT media_id, ts_ms, lower(hex(frame_bytes)) AS frame_hex
            FROM read_parquet('{fix}/multimodal_frames.parquet')
        """,
        "line_dedup_filters": f"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN len({norm_text}) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE list_transform(
                            generate_series(1,
                              CAST(ceil(len({toks_norm}) / 8.0) AS INT)),
                            i -> array_to_string(
                                   ({toks_norm})[(i-1)*8+1:(i-1)*8+8], ' ')
                                 || CASE WHEN (doc_id + i) % 13 = 0 THEN ' {{'
                                         WHEN (doc_id + i) % 3 = 0 THEN '.'
                                         WHEN (doc_id + i) % 5 = 1 THEN '!'
                                         ELSE '' END)
                     END AS lines
              FROM documents
            ), texts AS (
              SELECT doc_id, array_to_string(lines, chr(10)) AS text
              FROM base
            ), corpus AS (
              SELECT doc_id, text FROM texts
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     text || chr(10)
                          || 'extra line number 1 of copy '
                          || CAST(doc_id AS VARCHAR) || '.' || chr(10)
                          || 'extra line number 2 of copy '
                          || CAST(doc_id AS VARCHAR) || '.' || chr(10)
                          || 'extra line number 3 of copy '
                          || CAST(doc_id AS VARCHAR) || '.' AS text
              FROM texts WHERE doc_id % 10 = 0
            ), ln AS (
              SELECT doc_id,
                     unnest(generate_series(
                       1, len(string_split(text, chr(10))))) AS idx,
                     unnest(string_split(text, chr(10))) AS line
              FROM corpus
            ), flagged AS (
              SELECT doc_id, idx, line,
                     (regexp_matches(trim(line), '[.!?"]$')
                      AND len(regexp_split_to_array(trim(line), '\\s+')) >= 5
                      AND NOT contains(trim(line), '{{')
                      AND NOT contains(lower(trim(line)), 'javascript'))
                     AS ok
              FROM ln
            ), kept AS (
              SELECT doc_id, idx, line FROM (
                SELECT doc_id, idx, line,
                       row_number() OVER (PARTITION BY trim(line)
                                          ORDER BY doc_id, idx) AS rn
                FROM flagged WHERE ok)
              WHERE rn = 1
            ), per_doc AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_lines,
                     CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_passed
              FROM flagged GROUP BY doc_id
            ), ka AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_kept,
                     string_agg(line, chr(10) ORDER BY idx) AS clean_text
              FROM kept GROUP BY doc_id
            )
            SELECT p.doc_id, ka.clean_text, p.n_lines, ka.n_kept,
                   p.n_lines - p.n_passed AS n_dropped_rules,
                   p.n_passed - ka.n_kept AS n_dropped_dup
            FROM per_doc p JOIN ka USING (doc_id)
            WHERE ka.n_kept >= 3
        """,
        "containment_pairs": f"""
            WITH toks AS (
              SELECT doc_id, {toks_norm} AS t FROM documents
              WHERE doc_id < 60
            ), corpus AS (
              SELECT doc_id, t FROM toks
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, t[1:(len(t) // 2)] AS t
              FROM toks WHERE doc_id % 10 = 0
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(t) - 2, 0)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
              FROM corpus
            )
            SELECT id_a, id_b, round(containment, 6) AS containment FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CASE WHEN len(a.s) = 0 THEN 0.0
                          ELSE len(list_intersect(a.s, b.s)) * 1.0
                               / len(a.s) END AS containment
              FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
            WHERE containment >= 0.8
        """,
        "chunk_windows_embed": f"""
            WITH d AS (
              SELECT doc_id, {toks_norm} AS t FROM documents
              WHERE length({norm_text}) > 0
            ), d2 AS (
              SELECT doc_id, t, len(t) AS n FROM d
            ), st AS (
              SELECT doc_id, t, n,
                     unnest(generate_series(
                       1, greatest(least(n - 64 + 48, n), 1), 48)) AS s
              FROM d2
            )
            SELECT doc_id,
                   CAST(((s - 1) // 48) + 1 AS INT) AS chunk_idx,
                   CAST(s AS INT) AS start_token,
                   CAST(least(64, n - s + 1) AS INT) AS n_tokens,
                   array_to_string(
                     list_slice(t, s, least(s + 63, n)), ' ') AS chunk_text
            FROM st
        """,
        "inverted_index_terms": f"""
            WITH td AS (
              SELECT doc_id, unnest({toks_norm}) AS term FROM documents
            ), td2 AS (
              SELECT doc_id, term FROM td WHERE length(term) > 0
            ), ptd AS (
              SELECT term, doc_id, count(*) AS tf
              FROM td2 GROUP BY term, doc_id
            ), stats AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df,
                     CAST(sum(tf) AS BIGINT) AS cf
              FROM ptd GROUP BY term
            ), head AS (
              SELECT term,
                     string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                       AS postings FROM (
                SELECT term, doc_id,
                       row_number() OVER (PARTITION BY term
                                          ORDER BY doc_id) AS rn
                FROM ptd)
              WHERE rn <= 8 GROUP BY term
            )
            SELECT s.term, s.df, s.cf, h.postings
            FROM stats s JOIN head h USING (term)
            WHERE s.df >= 2
            ORDER BY s.df DESC, s.cf DESC, s.term ASC
            LIMIT 100
        """,
        "quality_linear_model": f"""
            WITH scored AS (
              SELECT doc_id,
                     CASE WHEN length({norm_text}) = 0 THEN CAST(0 AS BIGINT)
                          ELSE CAST(list_sum(list_transform({toks_norm},
                            x -> (strpos('0123456789abcdef',
                                         substring(md5(x), 1, 1)) - 1) * 16
                               + (strpos('0123456789abcdef',
                                         substring(md5(x), 2, 1)) - 1)
                               - 128)) AS BIGINT) END AS score,
                     CASE WHEN length({norm_text}) = 0 THEN CAST(0 AS BIGINT)
                          ELSE CAST(len({toks_norm}) AS BIGINT) END
                       AS n_tokens
              FROM documents
            )
            SELECT doc_id, score, n_tokens,
                   round(CASE WHEN n_tokens = 0 THEN 0.0
                         ELSE score * 1.0 / n_tokens END, 6) AS mean_w,
                   (CASE WHEN n_tokens = 0 THEN 0.0
                         ELSE score * 1.0 / n_tokens END) > 0 AS label
            FROM scored
        """,
        "mirror_host_pairs": f"""
            WITH hosts AS (
              SELECT source || '-site.org' AS host,
                     md5({norm_text}) AS fp
              FROM documents
              UNION ALL
              SELECT 'mirror-' || source || '-site.org' AS host,
                     md5({norm_text}) AS fp
              FROM documents WHERE doc_id % 3 = 0
            ), parked AS (
              SELECT h.host, md5(v.p) AS fp
              FROM (SELECT DISTINCT host FROM hosts
                    UNION ALL SELECT 'tiny-a.org'
                    UNION ALL SELECT 'tiny-b.org') h,
                   (VALUES ('parked page one'), ('parked page two')) v(p)
            ), hf AS (
              SELECT DISTINCT host, fp FROM (
                SELECT host, fp FROM hosts
                UNION ALL SELECT host, fp FROM parked)
            ), rare AS (
              SELECT fp FROM hf GROUP BY fp
              HAVING count(*) BETWEEN 2 AND 16
            ), paired AS (
              SELECT hf.host, hf.fp FROM hf SEMI JOIN rare USING (fp)
            ), sizes AS (
              SELECT host, CAST(count(*) AS BIGINT) AS sz
              FROM hf GROUP BY host HAVING count(*) >= 2
            ), shr AS (
              SELECT a.host AS host_a, b.host AS host_b,
                     CAST(count(*) AS BIGINT) AS shared
              FROM paired a JOIN paired b
                ON a.fp = b.fp AND a.host < b.host
              GROUP BY 1, 2
            )
            SELECT host_a, host_b, shared, sa.sz AS size_a,
                   sb.sz AS size_b,
                   round(shared * 1.0 / least(sa.sz, sb.sz), 6) AS overlap
            FROM shr
            JOIN sizes sa ON host_a = sa.host
            JOIN sizes sb ON host_b = sb.host
            WHERE shared * 1.0 / least(sa.sz, sb.sz) >= 0.7
        """,
        "bpe_learn_merges": f"""
            SELECT step, "left", "right", merged, pair_count
            FROM read_parquet('{fix}/bpe_merges.parquet')
            WHERE sf = {sf_key}
        """,
        "streaming_seen_dedup": f"""
            SELECT DISTINCT {_SYNTH_URL_SQL} AS url FROM documents
        """,
        "bpe_encode_corpus": f"""
            SELECT doc_id, n_words, n_pieces
            FROM read_parquet('{fix}/bpe_encode.parquet')
            WHERE sf = {sf_key}
        """,
        "bm25_topk_docs": f"""
            WITH d AS (
              SELECT doc_id,
                     list_filter({toks_norm}, w -> length(w) > 0) AS t
              FROM documents
            ), dl AS (
              SELECT doc_id, len(t) AS dl, t FROM d WHERE len(t) > 0
            ), g AS (
              SELECT count(*) AS n, sum(dl) AS total FROM dl
            ), hits AS (
              SELECT doc_id, dl, unnest(t) AS term FROM dl
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
              FROM hits
              WHERE term IN ('spark', 'join', 'window', 'stream')
              GROUP BY doc_id, term
            ), dfs AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term
            ), idf AS (
              SELECT term,
                     round(ln((g.n - df + 0.5) / (df + 0.5) + 1.0), 9)
                       AS idf
              FROM dfs, g
            ), scored AS (
              SELECT tf.doc_id,
                     CAST(round(idf.idf * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + (0.75 * tf.dl)
                          / (g.total * 1.0 / g.n))), 9)
                       AS DECIMAL(38,9)) AS c
              FROM tf JOIN idf USING (term), g
            )
            SELECT doc_id, CAST(count(*) AS INT) AS n_hit_terms,
                   round(CAST(sum(c) AS DOUBLE), 6) AS score
            FROM scored GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 50
        """,
        "hybrid_retrieval_rrf": f"""
            WITH d AS (
              SELECT doc_id,
                     list_filter({toks_norm}, w -> length(w) > 0) AS t
              FROM documents
            ), dl AS (
              SELECT doc_id, len(t) AS dl, t FROM d WHERE len(t) > 0
            ), g AS (
              SELECT count(*) AS n, sum(dl) AS total FROM dl
            ), hits AS (
              SELECT doc_id, dl, unnest(t) AS term FROM dl
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
              FROM hits
              WHERE term IN ('spark', 'join', 'window', 'stream')
              GROUP BY doc_id, term
            ), dfs AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term
            ), idf AS (
              SELECT term,
                     round(ln((g.n - df + 0.5) / (df + 0.5) + 1.0), 9)
                       AS idf
              FROM dfs, g
            ), bscored AS (
              SELECT tf.doc_id,
                     CAST(round(idf.idf * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + (0.75 * tf.dl)
                          / (g.total * 1.0 / g.n))), 9)
                       AS DECIMAL(38,9)) AS c
              FROM tf JOIN idf USING (term), g
            ), bm AS (
              SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
              FROM bscored GROUP BY doc_id
              ORDER BY score DESC, doc_id ASC LIMIT 40
            ), lex AS (
              SELECT doc_id, row_number() OVER (
                       ORDER BY score DESC, doc_id ASC) AS rank
              FROM bm
            ), ev AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), qv AS (
              SELECT v FROM ev WHERE vec_id = 0
            ), sem AS (
              SELECT doc_id, rank FROM (
                SELECT e.vec_id AS doc_id,
                       row_number() OVER (
                         ORDER BY round(list_cosine_similarity(e.v, qv.v), 6)
                                    DESC,
                                  e.vec_id ASC) AS rank
                FROM ev e, qv
              ) WHERE rank <= 40
            ), fused AS (
              SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                     l.rank AS lex_rank, s.rank AS sem_rank
              FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
            )
            SELECT doc_id,
                   CAST(lex_rank AS INT) AS lex_rank,
                   CAST(sem_rank AS INT) AS sem_rank,
                   round(CAST(
                     COALESCE(CAST(round(1.0 / (60 + lex_rank), 9)
                                   AS DECIMAL(38,9)), 0)
                     + COALESCE(CAST(round(1.0 / (60 + sem_rank), 9)
                                     AS DECIMAL(38,9)), 0)
                   AS DOUBLE), 6) AS rrf_score
            FROM fused
            ORDER BY rrf_score DESC, doc_id ASC LIMIT 25
        """,
        "weighted_priority_sample": f"""
            WITH cand AS (
              SELECT doc_id, n_chars,
                     CAST(n_chars AS DOUBLE)
                       / ((({_prio_v}) + 1) / 4503599627370496.0)
                       AS priority
              FROM documents WHERE n_chars > 0
            ),
            ranked AS (
              SELECT doc_id, n_chars, priority,
                     row_number() OVER (ORDER BY priority DESC, doc_id)
                       AS rn
              FROM cand
            ),
            tau AS (
              SELECT coalesce(
                       max(CASE WHEN rn = 121 THEN priority END), 0.0) AS t
              FROM ranked
            )
            SELECT doc_id, n_chars,
                   round(priority, 6) AS priority,
                   round(greatest(CAST(n_chars AS DOUBLE),
                                  (SELECT t FROM tau)), 6) AS est_weight
            FROM ranked WHERE rn <= 120
        """,
        "url_rfc3986_normalize": r"""
            WITH raw AS (
              SELECT doc_id,
                CASE doc_id % 6
                  WHEN 0 THEN 'HTTP://' || upper(source) || '-Site.ORG:80/%7euser/' || CAST(doc_id AS VARCHAR)
                  WHEN 1 THEN 'https://' || source || '-site.org:443/p%3a' || CAST(doc_id AS VARCHAR)
                  WHEN 2 THEN 'https://User@' || source || '-SITE.org/A%2Fb?x=%2a' || CAST(doc_id AS VARCHAR)
                  WHEN 3 THEN 'http://' || source || '-s%49te.org'
                  WHEN 4 THEN 'http://' || source || '-site.org/%41%7A/' || CAST(doc_id AS VARCHAR)
                  ELSE 'http://' || source || '-site.org/100%25%'
                END AS u
              FROM documents),
            q1 AS (SELECT doc_id, str_split(u, '%') AS parts FROM raw),
            q2 AS (
              SELECT doc_id, parts[1] AS head,
                list_transform(parts[2:], (p, i) -> struct_pack(
                  p := p,
                  stray := length(p) < 2 AND i < len(parts) - 1,
                  hx := substr(p, 1, 2),
                  ok := regexp_matches(substr(p, 1, 2), '^[0-9A-Fa-f]{2}$'),
                  code := (strpos('0123456789abcdef', substr(lower(substr(p, 1, 2)), 1, 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substr(lower(substr(p, 1, 2)), 2, 1)) - 1)
                )) AS fx
              FROM q1),
            dec AS (
              SELECT doc_id,
                head || coalesce(array_to_string(list_transform(fx, s -> CASE
                   WHEN s.ok AND (s.code BETWEEN 48 AND 57 OR s.code BETWEEN 65 AND 90
                                  OR s.code BETWEEN 97 AND 122 OR s.code IN (45, 46, 95, 126))
                     THEN chr(CAST(s.code AS INT)) || substr(s.p, 3)
                   WHEN s.ok THEN '%' || upper(s.hx) || substr(s.p, 3)
                   WHEN s.stray THEN '%25' || s.p
                   ELSE '%' || s.p END), ''), '') AS u
              FROM q2),
            p1 AS (
              SELECT doc_id, u,
                     regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1) AS sch,
                     regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS rest
              FROM dec),
            p2 AS (
              SELECT *, regexp_extract(rest, '^[^/?#]*', 0) AS auth,
                        lower(sch) AS sl
              FROM p1),
            p3 AS (
              SELECT *, substr(rest, length(auth) + 1) AS tl,
                     CASE WHEN contains(auth, '@')
                          THEN str_split(auth, '@')[1] || '@' ELSE '' END AS ui,
                     str_split(auth, '@')[-1] AS hp
              FROM p2),
            p4 AS (
              SELECT *,
                CASE WHEN sl = 'http' AND ends_with(hp, ':80') THEN left(hp, length(hp) - 3)
                     WHEN sl = 'https' AND ends_with(hp, ':443') THEN left(hp, length(hp) - 4)
                     ELSE hp END AS hp2,
                CASE WHEN length(tl) = 0 AND sl IN ('http', 'https') THEN '/'
                     WHEN starts_with(tl, '?') AND sl IN ('http', 'https') THEN '/' || tl
                     ELSE tl END AS pq
              FROM p3),
            p5 AS (
              -- host lowered AFTER decoding, the hex of its triplets kept
              SELECT *,
                lower(str_split(hp2, '%')[1])
                  || coalesce(array_to_string(list_transform(str_split(hp2, '%')[2:],
                       p -> '%' || CASE
                         WHEN regexp_matches(substr(p, 1, 2), '^[0-9A-Fa-f]{2}$')
                           THEN substr(p, 1, 2) || lower(substr(p, 3))
                         ELSE lower(p) END), ''), '') AS hp3
              FROM p4)
            SELECT doc_id,
              CASE WHEN sch != '' THEN sl || '://' || ui || hp3 || pq ELSE u END
                AS url_norm
            FROM p5
        """,
        "conditional_fetch_actions": """
            WITH log AS (
              SELECT 'https://' || source || '-site.org/' || CAST(doc_id AS VARCHAR) AS url,
                     1704067200 + (doc_id % 1000) * 60 AS fetch_epoch,
                     CASE WHEN doc_id % 4 != 0
                          THEN DATE '2023-12-01' + CAST(doc_id % 28 AS INT)
                     END AS lm,
                     CASE WHEN doc_id % 3 != 0
                          THEN md5(CAST(doc_id AS VARCHAR))
                     END AS etag
              FROM documents
            ),
            calc AS (
              SELECT url, lm, etag,
                     1704153600 - fetch_epoch AS age_s,
                     CASE WHEN lm IS NOT NULL
                          THEN (fetch_epoch
                                - CAST(epoch(CAST(lm AS TIMESTAMP)) AS BIGINT)) // 10
                          ELSE 0 END AS lifetime_s
              FROM log
            )
            SELECT url, age_s, lifetime_s,
                   CASE WHEN age_s < lifetime_s THEN 'fresh'
                        WHEN etag IS NOT NULL THEN 'revalidate_etag'
                        WHEN lm IS NOT NULL THEN 'revalidate_ims'
                        ELSE 'full' END AS action,
                   CASE WHEN age_s < lifetime_s THEN NULL
                        WHEN etag IS NOT NULL THEN etag
                        WHEN lm IS NOT NULL THEN CAST(CAST(lm AS TIMESTAMP) AS VARCHAR)
                   END AS validator
            FROM calc
        """,
        "adaptive_politeness_delay": """
            SELECT source || CAST(doc_id % 7 AS VARCHAR) AS host,
                   count(*) AS n_obs,
                   CAST(greatest(1000, least(2500,
                     (3 * sum((doc_id * 13) % 900 + 50 + (doc_id % 7) * 300))
                       // (2 * count(*)))) AS BIGINT) AS delay_ms
            FROM documents
            GROUP BY 1
        """,
        "main_content_blocks": r"""
            WITH h AS (
              SELECT doc_id,
                     '<div class="nav"><a href="/a">home</a> <a href="/b">about</a> <a href="/c">contact us now</a></div><p>'
                     || text ||
                     '</p><div><a href="/x">w w w w w</a> tail</div><p>tiny</p><div class="footer"><a href="/p">privacy</a> <a href="/t">terms</a></div>'
                       AS html
              FROM documents
            ),
            f AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(
                         regexp_split_to_array(html,
                           '(?i)</?(?:p|div|td|li|h[1-6]|article|section|blockquote)\b[^>]*>|<br\s*/?>'),
                         x -> struct_pack(
                           t := trim(regexp_replace(regexp_replace(x, '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')),
                           nw := len(list_filter(
                                  regexp_split_to_array(trim(regexp_replace(regexp_replace(x, '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')), '\s+'),
                                  w -> w != '')),
                           lw := len(list_filter(
                                  regexp_split_to_array(trim(regexp_replace(
                                    coalesce(array_to_string(regexp_extract_all(x, '(?is)<a\b[^>]*>(.*?)</a>', 1), ' '), ''),
                                    '<[^>]+>', ' ', 'g')), '\s+'),
                                  w -> w != ''))
                         )),
                       s -> s.nw > 0) AS feats
              FROM h
            ),
            k AS (
              SELECT doc_id, feats,
                     list_filter(feats, s -> s.nw >= 5 AND s.lw * 2 <= s.nw * 1) AS kept
              FROM f
            )
            SELECT doc_id,
                   substr(coalesce(array_to_string(list_transform(kept, s -> s.t), ' '), ''), 1, 64) AS main_head,
                   CAST(len(feats) AS INT) AS n_blocks,
                   CAST(len(kept) AS INT) AS n_content
            FROM k
        """,
        "stratified_priority_sample": f"""
            WITH cand AS (
              SELECT doc_id, lang, n_chars,
                     CAST(n_chars AS DOUBLE)
                       / ((({_prio_v}) + 1) / 4503599627370496.0)
                       AS priority
              FROM documents WHERE n_chars > 0
            ),
            ranked AS (
              SELECT doc_id, lang, n_chars, priority,
                     row_number() OVER (
                       PARTITION BY lang ORDER BY priority DESC, doc_id
                     ) AS rn
              FROM cand
            ),
            tau AS (
              SELECT lang,
                     coalesce(max(CASE WHEN rn = 31 THEN priority END), 0.0)
                       AS t
              FROM ranked GROUP BY lang
            )
            SELECT r.doc_id, r.lang, r.n_chars,
                   round(r.priority, 6) AS priority,
                   round(greatest(CAST(r.n_chars AS DOUBLE), tau.t), 6)
                     AS est_weight
            FROM ranked r JOIN tau ON r.lang = tau.lang
            WHERE r.rn <= 30
        """,
        "script_mix_docs": f"""
            WITH s AS (
              SELECT doc_id,
                     text || ' ' || repeat(
                       CASE doc_id % 4
                         WHEN 1 THEN '漢字文章'
                         WHEN 2 THEN 'русский текст'
                         WHEN 3 THEN 'نص عربي'
                         ELSE '' END,
                       CAST((doc_id % 9) * 18 AS INT)) AS t
              FROM documents),
            c AS (
              SELECT doc_id,
                     {", ".join(
                        f"len(regexp_extract_all(t, '{pat}')) AS n_{name}"
                        for name, pat in _SCRIPTS)}
              FROM s)
            SELECT doc_id, n_latin, n_digit, n_cjk, n_cyrillic, n_arabic,
                   CASE
                     WHEN n_arabic > greatest(n_latin, n_digit, n_cjk, n_cyrillic) THEN 'arabic'
                     WHEN n_cyrillic > greatest(n_latin, n_digit, n_cjk) THEN 'cyrillic'
                     WHEN n_cjk > greatest(n_latin, n_digit) THEN 'cjk'
                     WHEN n_digit > n_latin THEN 'digit'
                     WHEN n_latin > 0 THEN 'latin'
                     ELSE 'und' END AS script
            FROM c
        """,
        "mojibake_repair": f"""
            WITH r AS (
              SELECT doc_id, ({_moj_case}) || ' ' || text AS raw
              FROM documents
            ),
            fx AS (
              SELECT doc_id, raw, {_moj_fixed} AS fixed FROM r
            )
            SELECT doc_id,
                   substr(fixed, 1, 48) AS fixed_head,
                   len(raw) - len(fixed) AS shrink,
                   raw != fixed AS changed
            FROM fx
        """,
        "word_blocklist_docs": f"""
            WITH d AS (
              SELECT doc_id,
                     list_filter({toks_norm}, w -> length(w) > 0) AS t
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(list_filter(t,
                        w -> list_contains(['dup', 'stream'], w)))
                     AS INT) AS n_flagged,
                   CAST(len(t) AS INT) AS n_tokens,
                   CASE WHEN len(t) = 0 THEN 0.0
                        ELSE round(len(list_filter(t,
                               w -> list_contains(['dup', 'stream'], w)))
                             * 1.0 / len(t), 6)
                   END AS flagged_frac,
                   len(list_filter(t,
                       w -> list_contains(['dup', 'stream'], w))) <= 2
                     AS keep
            FROM d
        """,
        "domain_quality_docs": f"""
            -- domain-level token-weighted linear quality: host/domain
            -- derivation mirrors domain_cap_select's; per-doc score
            -- replica mirrors quality_linear_model's
            WITH u AS (SELECT doc_id, text, {_SYNTH_URL_SQL} AS url
                       FROM documents),
            h AS (SELECT doc_id, text,
                    regexp_replace(lower(string_split(string_split(
                        regexp_extract(regexp_replace(string_split(url, '#')[1],
                            '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?]*'),
                        '@')[-1], ':')[1]), '\\.$', '') AS host
                  FROM u),
            r AS (SELECT doc_id, text,
                    CASE WHEN len(string_split(host, '.')) >= 2
                         THEN string_split(host, '.')[-2] || '.'
                              || string_split(host, '.')[-1]
                         ELSE host END AS domain
                  FROM h),
            scored AS (
              SELECT doc_id, domain,
                     CASE WHEN length({norm_text}) = 0 THEN CAST(0 AS BIGINT)
                          ELSE CAST(list_sum(list_transform({toks_norm},
                            x -> (strpos('0123456789abcdef',
                                         substring(md5(x), 1, 1)) - 1) * 16
                               + (strpos('0123456789abcdef',
                                         substring(md5(x), 2, 1)) - 1)
                               - 128)) AS BIGINT) END AS score,
                     CASE WHEN length({norm_text}) = 0 THEN CAST(0 AS BIGINT)
                          ELSE CAST(len({toks_norm}) AS BIGINT) END
                       AS n_tokens
              FROM r
            ),
            census AS (
              SELECT domain,
                     round(CASE WHEN sum(n_tokens) = 0 THEN 0.0
                           ELSE sum(score) * 1.0 / sum(n_tokens) END, 6)
                       AS domain_mean_w,
                     count(*) AS domain_docs
              FROM scored GROUP BY domain
            )
            SELECT s.doc_id, s.domain, c.domain_mean_w, c.domain_docs,
                   (c.domain_mean_w > -4.0 AND c.domain_docs >= 1) AS keep
            FROM scored s JOIN census c USING (domain)
        """,
        "gopher_rules_gate": """
            WITH planted AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN text ||
                       ' and that should be kept with the rest of it'
                     ELSE text END AS text
              FROM documents
            ), base AS (
              SELECT doc_id, text,
                     list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       w -> length(w) > 0) AS words,
                     list_filter(
                       list_transform(string_split(text, chr(10)),
                                      l -> trim(l)),
                       l -> length(l) > 0) AS lines
              FROM planted
            ), m AS (
              SELECT doc_id,
                     len(words) AS nw,
                     list_sum(list_transform(words, w -> length(w))) AS wc,
                     (length(text) - length(replace(text, '#', '')))
                     + CAST((length(text)
                             - length(replace(text, '...', ''))) / 3
                            AS BIGINT) AS nsym,
                     len(lines) AS nl,
                     len(list_filter(lines,
                         l -> left(l, 2) = '- ' OR left(l, 2) = '* '
                              OR left(l, 1) = '•')) AS nbul,
                     len(list_filter(lines,
                         l -> right(l, 3) = '...'
                              OR right(l, 1) = '…')) AS nell,
                     len(list_filter(words,
                         w -> regexp_matches(w, '[A-Za-z]'))) AS nalpha,
                     (CASE WHEN list_contains(list_transform(words,
                        w -> lower(w)), 'the') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(list_transform(words,
                        w -> lower(w)), 'be') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(list_transform(words,
                        w -> lower(w)), 'to') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(list_transform(words,
                        w -> lower(w)), 'of') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(list_transform(words,
                        w -> lower(w)), 'and') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(list_transform(words,
                        w -> lower(w)), 'that') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(list_transform(words,
                        w -> lower(w)), 'have') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(list_transform(words,
                        w -> lower(w)), 'with') THEN 1 ELSE 0 END
                     ) AS nreq
              FROM base
            ), r AS (
              SELECT doc_id,
                     CAST(nw AS BIGINT) AS n_words,
                     round(wc * 1.0 / greatest(nw, 1), 6) AS mean_word_len,
                     round(nsym * 1.0 / greatest(nw, 1), 6) AS symbol_ratio,
                     round(nbul * 1.0 / greatest(nl, 1), 6) AS bullet_frac,
                     round(nell * 1.0 / greatest(nl, 1), 6) AS ellipsis_frac,
                     round(nalpha * 1.0 / greatest(nw, 1), 6)
                       AS alpha_word_frac,
                     CAST(nreq AS INT) AS n_req_stopwords
              FROM m
            )
            SELECT *,
                   (n_words >= 50 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND symbol_ratio < 0.1
                    AND bullet_frac < 0.9
                    AND ellipsis_frac < 0.3
                    AND alpha_word_frac >= 0.8
                    AND n_req_stopwords >= 2) AS keep
            FROM r
        """,
    }
