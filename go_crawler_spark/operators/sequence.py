"""Scalable deterministic global sequence assignment.

The reference's frontier is FIFO with a single dispatcher thread
(internal/queue.go:35-72), so every item has an implicit global arrival
index. Reproducing a *contiguous* global index in a distributed engine with
a single-partition ``row_number()`` window would serialize the whole round
through one task — unacceptable at 10^10-URL scale.

Instead: range-partition by the (total) order key, count rows per
partition, compute partition offsets on the driver (tiny — one int per
partition), then add local ranks inside each partition with ``mapInPandas``.
Two passes over the data, no global shuffle to one task.
"""

from __future__ import annotations

from typing import Iterator, List, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

# below this row count a single-task sort beats the two extra passes the
# range-partition scheme needs (sampling runs once per action)
SMALL_INPUT_ROWS = 100_000

# persisted intermediates of assign_seq_admit_budget_bucketed, alive only
# between the counts action and the caller's materializing action
_PENDING_CACHES: List = []


def release_pending_caches() -> None:
    """Unpersist the bucketed-partitioning caches once the caller has
    materialized the assignment output (e.g. written it to parquet).
    Safe at any time: a released cache recomputes through lineage."""
    while _PENDING_CACHES:
        _PENDING_CACHES.pop().unpersist()


# eager local checkpoints created by assign_global_seq's range path: each
# holds its partitioned rows in executor storage (MEMORY_AND_DISK) with NO
# lineage behind it — without an explicit release every scheduler call
# leaks one materialized frontier copy for the life of the session (disk
# fill at crawl scale: one per round).
_PENDING_CHECKPOINTS: List = []


def unpersist_local_checkpoint(ck: DataFrame) -> None:
    """Free the storage blocks behind a ``localCheckpoint(eager=True)``
    frame. DESTRUCTIVE: the checkpoint carries no lineage, so any LATER
    action on a plan that still references it fails loudly
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) — it can never silently recompute
    wrong. Best-effort: reaches the checkpointed RDD through the
    LogicalRDD plan node; a different plan shape is left alone."""
    try:
        ck._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — non-LogicalRDD plan / closed session
        pass


def release_pending_checkpoints() -> None:
    """Free every scheduler checkpoint created since the last release.
    Call ONLY once every frame derived from scheduler output has been
    durably materialized (e.g. the crawl round's enqueue/frontier tables
    are written — tableio.write hands back a parquet re-read, so nothing
    live references the checkpoint). See :func:`unpersist_local_checkpoint`
    for the failure mode of releasing too early."""
    while _PENDING_CHECKPOINTS:
        unpersist_local_checkpoint(_PENDING_CHECKPOINTS.pop())


def assign_global_seq(
    df: DataFrame,
    order_cols: Sequence[str],
    start: int = 0,
    out_col: str = "seq",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign ``out_col`` = start, start+1, ... in the total order given by
    ``order_cols`` (which must be a total order — no ties), without a
    single-partition window.
    """
    # pass 1: cheap global count (no repartition). Small inputs take the
    # single-partition fast path — range-partition sampling costs two extra
    # passes and only pays off when the batch is large.
    if df.count() <= SMALL_INPUT_ROWS:
        parted = df.coalesce(1).sortWithinPartitions(*[F.col(c) for c in order_cols])
        return _add_seq(parted, {0: start}, out_col)
    return _assign_global_seq_ranged(df, order_cols, start, out_col, num_partitions)


def _assign_global_seq_ranged(
    df: DataFrame,
    order_cols: Sequence[str],
    start: int,
    out_col: str,
    num_partitions: int | None,
) -> DataFrame:
    """The range-partitioned two-pass of :func:`assign_global_seq`, with no
    up-front count."""
    cols = [F.col(c) for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # repartitionByRange RESAMPLES boundaries on every action — the
    # count pass and the assignment pass would see different
    # partitions. Materialize the partitioning once (eager local
    # checkpoint): both passes then share identical partitions, and a
    # lost partition fails the job instead of silently resampling.
    parted = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .localCheckpoint(eager=True)
    )
    _PENDING_CHECKPOINTS.append(parted)
    counts_df = (
        parted.withColumn("_pid", F.spark_partition_id()).groupBy("_pid").count()
    )
    counts = {r["_pid"]: r["count"] for r in counts_df.collect()}
    offsets = {}
    acc = start
    for pid in range(max(counts.keys(), default=-1) + 1):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    return _add_seq(parted, offsets, out_col)


def _add_seq(parted: DataFrame, offsets: dict, out_col: str) -> DataFrame:
    """Pass 2: local cumulative index + broadcast per-partition offset
    (Arrow batches)."""
    schema = StructType(parted.schema.fields + [StructField(out_col, LongType(), False)])
    b_offsets = parted.sparkSession.sparkContext.broadcast(offsets)

    def add_seq(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        local = b_offsets.value.get(pid, 0)
        for pdf in pdf_iter:
            k = len(pdf)
            pdf = pdf.copy()
            pdf[out_col] = range(local, local + k)
            local += k
            yield pdf

    return parted.mapInPandas(add_seq, schema)


def assign_seq_admit_budget_bucketed(
    df: DataFrame,
    order_cols: Sequence[str],
    bucket: "F.Column",
    page_budget: int,
    seq_start: int,
    kind_col: str = "kind",
    num_partitions: int | None = None,
) -> DataFrame:
    """Fused Q2 (page budget) + Q3 (global FIFO seq) — deterministic-bucket
    variant, the cheapest correct scheme when the caller can derive an
    *order-aligned* integer bucket from the order key (bucket b < b' ⇒
    every row of b precedes every row of b'; ties within a bucket broken by
    ``order_cols``).

    Versus the range partitioning of :func:`assign_global_seq` this
    removes ``repartitionByRange``'s sampling job (hash-partitioning by a
    deterministic bucket expression needs no boundary sampling). The
    counts pass and the assignment pass are two separate actions, so the
    partitioned+sorted input is ``persist()``ed here — exchange reuse is per-query and would NOT carry the shuffle
    across the two actions; without the cache the full upstream lineage
    (in the crawl: fetched-parquet scan → explode → dedup → bloom →
    anti-join) would run twice. The caller should drain
    :func:`release_pending_caches` once the returned frame has been
    materialized.

    PRECONDITIONS (correctness, not just performance):
    - ``order_cols`` must be a strict total order within each bucket —
      with duplicate keys the per-bucket cumulative ranks are only defined
      up to tie order and the two passes may disagree;
    - the input lineage must be deterministic if the cache is ever evicted
      (MEMORY_AND_DISK makes eviction an executor-loss-only event).
    Both hold in the crawl: (parent_seq, pos) is unique post-dedup and the
    input is a just-written parquet checkpoint or a deterministic scan.

    In the crawl: children buckets come from ``parent_seq`` slices (the
    driver knows the frontier's seq range — FIFO order is inherited from
    the previous round); distributed seed frontiers bucket by the top bits
    of ``xxhash64(url)`` with order key (hash, url)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    sort_cols = [F.col("_bucket")] + [F.col(c) for c in order_cols]
    parted = (
        df.withColumn("_bucket", bucket.cast("long"))
        .repartition(n, "_bucket")
        .sortWithinPartitions(*sort_cols)
        .persist()
    )
    _PENDING_CACHES.append(parted)
    counts_rows = (
        parted.groupBy("_bucket")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col(kind_col) == "page", 1).otherwise(0)).alias("pages"),
        )
        .collect()
    )
    counts = {r["_bucket"]: (r["rows"], r["pages"]) for r in counts_rows}
    offs: dict[int, tuple[int, int]] = {}
    acc_pages, acc_adm = 0, seq_start
    for b in sorted(counts):
        rows_b, pages_b = counts[b]
        adm_pages_b = min(max(page_budget - acc_pages, 0), pages_b)
        offs[b] = (acc_pages, acc_adm)
        acc_adm += (rows_b - pages_b) + adm_pages_b
        acc_pages += pages_b

    schema = StructType(
        [f for f in parted.schema.fields if f.name != "_bucket"]
        + [StructField("admitted", BooleanType(), False), StructField("seq", LongType(), True)]
    )
    b_offs = df.sparkSession.sparkContext.broadcast(offs)

    def verdict(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        offsets = b_offs.value
        state: dict[int, tuple[int, int]] = {}  # bucket -> (pages_done, adm_done)
        for pdf in pdf_iter:
            buckets = pdf["_bucket"].to_numpy()
            is_page_all = (pdf[kind_col] == "page").to_numpy()
            admitted_out = np.zeros(len(pdf), dtype=bool)
            seq_out = np.zeros(len(pdf), dtype=np.int64)
            # bucket runs are contiguous (partition sorted by bucket first)
            run_starts = np.flatnonzero(np.r_[True, buckets[1:] != buckets[:-1]])
            run_ends = np.r_[run_starts[1:], len(buckets)] if len(run_starts) else []
            for s, e in zip(run_starts, run_ends):
                b = int(buckets[s])
                p_off, a_off = offsets[b]
                p_done, a_done = state.get(b, (0, 0))
                is_page = is_page_all[s:e]
                ranks = (p_off + p_done) + np.cumsum(is_page) - is_page
                admitted = (~is_page) | (ranks < page_budget)
                seqs = (a_off + a_done) + np.cumsum(admitted) - admitted
                admitted_out[s:e] = admitted
                seq_out[s:e] = seqs
                state[b] = (p_done + int(is_page.sum()), a_done + int(admitted.sum()))
            out = pdf.drop(columns=["_bucket"]).copy()
            out["admitted"] = admitted_out
            out["seq"] = pd.array(seq_out, dtype="Int64")
            out.loc[~admitted_out, "seq"] = pd.NA
            yield out

    return parted.mapInPandas(verdict, schema)


def priority_schedule(
    df: DataFrame,
    order_cols: Sequence[str],
    k: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Priority-ordered fetch-queue selection [EXTENSION]: take the global
    top-``k`` rows of a frontier in ``order_cols`` order (e.g. ``(depth,
    hash)`` for breadth-biased best-first, or an explicit priority column)
    and assign each a contiguous schedule position ``seq`` = 0..k-1.

    The reference crawler's queue is strictly FIFO (queue.go:88-114); a
    priority frontier is the standard generalization every production
    crawler layers on top, and the north-star design names a
    "depth/priority-ordered fetch queue". Semantically equal to
    ``ORDER BY order_cols LIMIT k`` + row_number, but the plan is the
    range-partitioned two-pass of :func:`assign_global_seq` at every
    input size — a ``TakeOrderedAndProject`` would merge |partitions|·k
    rows on ONE task, which at a 10^9-row frontier with k in the millions is a driver-size
    single point; here every partition numbers its own slice from the
    per-partition counts and keeps the rows numbered below ``k``.

    ``order_cols`` must be a strict total order (same precondition as
    :func:`assign_global_seq` — append a unique tiebreaker like the url
    hash).
    Rows below the cutoff are dropped (they stay in the frontier for later
    rounds; unlike the page budget, "refused by priority" does not mean
    "seen").
    """
    out = _assign_global_seq_ranged(df, order_cols, 0, "seq", num_partitions)
    return out.filter(F.col("seq") < k)
