"""Fetch stage (S2/S3): lookup equi-join against the pages corpus + size gate.

The reference does HTTP HEAD (size gate, cmd/crawler/main.go:311-343) then
GET (pkg/httpclient/client.go:48-71); non-200 or network failure marks the
item ``SetSkipped("download")`` and the item *continues through the
pipeline* (main.go:158-163). In the sandbox table model the web is the
Common-Crawl-style ``pages`` table, so:

- GET        → lookup of the frontier batch in ``pages`` (match ⇔ 200)
- HEAD gate  → ``length(html) > max_file_size`` ⇒ content dropped,
               status = 'skipped_download' (exact size known in the model)
- failure    → no match ⇒ html NULL, status = 'skipped_download'; the row
               is preserved (row-preserving skip, SURVEY §3.2)

Join strategy is SIZE-GATED (``broadcast_frontier``):

- small rounds (≤ broadcast threshold, the common steady-state case): the
  frontier is the small side, so the lookup is ``corpus INNER JOIN
  broadcast(frontier)`` — one corpus scan with a broadcast hash filter
  (Catalyst pushes a runtime bloom filter into the scan), and the misses
  are a broadcast ``left_anti`` of the frontier against the (small) hit
  set. A plain ``frontier LEFT JOIN corpus`` would instead shuffle the
  corpus on the join key.
- huge rounds (a 10^10-URL crawl's early breadth-explosion rounds hold
  billions of frontier rows — nothing to broadcast): both joins fall back
  to a SHUFFLE-HASH join on ``url`` (``hint("shuffle_hash")`` building on
  the frontier side). Both sides exchange hash-partitioned on the url —
  an all-to-all of the round's *hit* content, which is unavoidable
  without co-located storage — but never a sort, and never a driver-side
  collect. Bucketing the corpus by ``xxhash64(url)`` in a table format
  that declares buckets, and writing the frontier with the same
  bucketing, upgrades this to a storage-partitioned join (zero corpus
  shuffle); the shuffle-hash path is the format-agnostic equivalent.

The caller picks the mode from its known frontier row count
(``CrawlConfig.broadcast_fetch_max_rows``); the driver loop tracks the
count anyway, so no extra action is spent on the decision.

``fetch_round`` consumes the hits lineage twice: once in full (the union)
and once url-only (the miss anti-join). Callers should NOT cache hits:
the second pass is column-pruned down to the url at the scan, so the
recompute is a cheap JVM-only join, while an on-heap cache of the full
hit content (html) costs more in GC than the pruned rescan saves.

Only the fetched bytes and the capture's ``warc_ts`` leave the corpus:
the page's extracted ``text`` and its ``lang`` stay there, and the
crawl's pages sink joins them back at read time on the capture's
(url, warc_ts) (plans/crawl.py ``_assemble_result``), so the fetched log
holds no copy of the corpus's text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def fetch_hits(
    frontier: DataFrame, pages: DataFrame, broadcast_frontier: bool = True
) -> DataFrame:
    """One corpus scan: frontier rows found in the corpus, with content
    and the capture's timestamp."""
    corpus = pages.select("url", F.col("html").alias("_html"), "warc_ts")
    if broadcast_frontier:
        return corpus.join(F.broadcast(frontier), on="url", how="inner")
    # billion-row round: shuffle-hash, build side = frontier (no sort-merge
    # — the corpus side would pay a sort; no broadcast — nothing fits)
    return corpus.join(frontier.hint("shuffle_hash"), on="url", how="inner")


def fetch_round(
    frontier: DataFrame,
    hits: DataFrame,
    max_file_size: int,
    broadcast_frontier: bool = True,
) -> DataFrame:
    """Combine materialized ``hits`` with the frontier's misses and apply
    the size gate. Returns frontier columns + (html, warc_ts, size,
    status)."""
    hit_urls = hits.select("url")
    if broadcast_frontier:
        hit_urls = F.broadcast(hit_urls)
    else:
        hit_urls = hit_urls.hint("shuffle_hash")
    misses = (
        frontier.join(hit_urls, on="url", how="left_anti")
        .withColumn("_html", F.lit(None).cast("binary"))
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
    )
    joined = hits.unionByName(misses.select(*hits.columns))
    oversized = F.length(F.col("_html")) > F.lit(max_file_size)
    missing = F.col("_html").isNull()
    return (
        joined.withColumn(
            "status",
            F.when(missing | oversized, F.lit("skipped_download")).otherwise(F.lit("ok")),
        )
        # size gate: content never downloaded (main.go:324-330) → null out
        .withColumn("html", F.when(oversized | missing, F.lit(None)).otherwise(F.col("_html")))
        .withColumn("size", F.coalesce(F.length(F.col("html")), F.lit(0)).cast("long"))
        .drop("_html")
    )
