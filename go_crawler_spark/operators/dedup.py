"""URL-seen deduplication (Q1) — anti-join + bloom pre-filter.

Reference semantics: first-writer-wins on the exact canonical URL string in
a global mutex-guarded hash set (internal/queue.go:88-96). That hash set is
the reference's single-process scalability ceiling; here it becomes:

1. within-round first-occurrence dedup: ``min_by`` over ``groupBy(url)``
   in canonical discovery order — first writer wins, parallel, shuffles
   once on url;
2. cross-round dedup: ``left_anti`` join against the accumulated ``seen``
   table, both sides hash-partitioned on ``url`` (a broadcast build side
   while ``seen`` is small);
3. [EXTENSION, north rule] a bloom filter built per partition of ``seen``
   in an Arrow batch pass, tree-merged on the executors and the driver,
   then broadcast. It is advisory: the exact anti-join decides every row,
   so a false positive — or a broken filter — can never lose or re-admit
   a URL. Its verdict on each new row (once per row, after the join)
   counts how many of them the filter alone proves new — the audit of
   what the filter tier would decide.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType


def first_writer_dedup(df: DataFrame, key: str, order_cols: Sequence[str]) -> DataFrame:
    """Keep the first row per ``key`` in the total order ``order_cols``
    (ref: queue.go:92-96 — Push returns false for later writers).

    ``min_by`` aggregation, not a window: a window must shuffle EVERY row
    and sort each partition; groupBy+min_by gets map-side partial
    aggregation, so duplicate URLs collapse before the exchange — at crawl
    scale most children are duplicates (back-links, shared assets) and the
    shuffle shrinks accordingly. Deterministic because ``order_cols`` is a
    total order (no min_by ties)."""
    others = [c for c in df.columns if c != key]
    order_struct = F.struct(*[F.col(c) for c in order_cols])
    return (
        df.groupBy(key)
        .agg(F.min_by(F.struct(*others), order_struct).alias("_w"))
        .select(key, *[F.col(f"_w.{c}").alias(c) for c in others])
    )


# ---------------------------------------------------------------------------
# bloom filter [EXTENSION]
# ---------------------------------------------------------------------------


class BloomFilter:
    """Plain numpy bloom over 64-bit hashes; k derived double-hashes from
    the two xxhash64 values Spark computes JVM-side (no Python hashing of
    URL strings — only ints cross into Python)."""

    def __init__(self, n_bits: int, n_hashes: int, bits: Optional[np.ndarray] = None):
        self.n_bits = int(n_bits)
        self.n_hashes = int(n_hashes)
        self.bits = bits if bits is not None else np.zeros((self.n_bits + 63) // 64, dtype=np.uint64)

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> Iterator[np.ndarray]:
        # double hashing: pos_i = (h1 + i*h2) mod n_bits, vectorized
        h1 = h1.astype(np.uint64)
        h2 = h2.astype(np.uint64)
        for i in range(self.n_hashes):
            yield ((h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)).astype(np.uint64)

    def add_many(self, h1: np.ndarray, h2: np.ndarray) -> None:
        for pos in self._positions(h1, h2):
            np.bitwise_or.at(self.bits, (pos >> np.uint64(6)).astype(np.int64),
                             np.uint64(1) << (pos & np.uint64(63)))

    def might_contain(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        out = np.ones(len(h1), dtype=bool)
        for pos in self._positions(h1, h2):
            word = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
            out &= (word >> (pos & np.uint64(63))) & np.uint64(1) != 0
        return out

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        return BloomFilter(self.n_bits, self.n_hashes, self.bits | other.bits)

    def fresh(self) -> "BloomFilter":
        """Empty filter of the same shape (worker-side builds)."""
        return BloomFilter(self.n_bits, self.n_hashes)


def _hashes(key: str) -> "tuple[F.Column, F.Column]":
    """The filter's two 64-bit hashes of ``key``, computed JVM-side."""
    return F.xxhash64(F.col(key)), F.xxhash64(F.col(key), F.lit(0x9E3779B9))


def tree_build_filter(df: DataFrame, key: str, proto, fan_in: int = 16):
    """Build a seen-filter (a :class:`BloomFilter`, or anything exposing
    add_many/merge/fresh) over ``df[key]`` with a TWO-LEVEL TREE merge:
    every input partition builds its own filter at full parallelism in one
    Arrow pass, partitions hash into ≤``fan_in`` combiner tasks that merge
    executor-side, and the driver merges only the ≤fan_in combiner outputs.
    A flat collect of one pickled filter per partition would push
    |partitions| × filter-size through the driver — at 10^10-URL scale a
    useful bloom is GBs and the driver fan-in is the bottleneck; the
    combiner level is the ``treeAggregate`` pattern expressed as DataFrame
    ops. Returns a filter of ``proto``'s shape (fresh copy; ``proto`` is
    not mutated), empty if ``df`` is empty.

    This is the ONLY filter builder in the library; the crawl loop's
    ``plans.crawl._absorb_filter`` delegates here so no flat-collect
    variant can be wired into a hot path."""
    import pickle

    h1, h2 = _hashes(key)
    hashed = df.select(h1.alias("_h1"), h2.alias("_h2"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        bf = proto.fresh()
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            bf.add_many(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy())
        if any_rows:
            pid = TaskContext.get().partitionId()
            yield pd.DataFrame({"_comb": [pid % fan_in], "filt": [pickle.dumps(bf)]})

    built = hashed.mapInPandas(build, "_comb int, filt binary")

    if hashed.rdd.getNumPartitions() > fan_in:

        def combine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc = None
            for pdf in batches:
                for blob in pdf["filt"]:
                    f = pickle.loads(blob)
                    acc = f if acc is None else acc.merge(f)
            if acc is not None:
                yield pd.DataFrame({"filt": [pickle.dumps(acc)]})

        built = built.repartition(fan_in, "_comb").mapInPandas(combine, "filt binary")

    merged = proto.fresh()
    for row in built.select("filt").collect():
        merged = merged.merge(pickle.loads(row["filt"]))
    return merged


def dedup_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    key: str = "url",
    bloom=None,
    mark_definite: str | None = None,
) -> DataFrame:
    """Exact cross-round dedup (ref: queue.go:92-96): the ``candidates``
    whose ``key`` is not in ``seen``, by one ``left_anti`` join. ``seen``
    need not be unique: left_anti semantics are per-probe-row, so duplicate
    build-side keys change nothing — no distinct/shuffle of the (huge,
    growing) seen table is ever needed.

    ``bloom`` (anything exposing ``might_contain(h1, h2)``) with
    ``mark_definite`` adds a boolean column of that name to the new rows:
    True on rows the filter proves new, False on the rest (every row when
    ``bloom`` is None). Callers observe ``sum(mark)`` on the downstream
    action to get a free rows-pruned-by-filter counter — the auditable
    evidence of which dedup tier engaged. A seen row is never
    definite-new, so the sum equals the count over all candidates.

    The verdict is a Python UDF the optimizer cannot see into, so the
    plan's shape fixes where it runs: one projection over the join's
    output. A definite-new / maybe-seen union of two branches would
    evaluate it once per branch, and the optimizer copies a filter on it
    across the join key onto the ``seen`` scan; persisting the verdicts to
    share them costs a cache-stage job per use under adaptive execution."""
    out = candidates.join(seen.select(key), on=key, how="left_anti")
    if not mark_definite:
        return out
    if bloom is None:
        return out.withColumn(mark_definite, F.lit(False))
    b = out.sparkSession.sparkContext.broadcast(bloom)

    @pandas_udf(BooleanType())
    def maybe_seen(h1: pd.Series, h2: pd.Series) -> pd.Series:
        return pd.Series(b.value.might_contain(h1.to_numpy(), h2.to_numpy()))

    return out.withColumn(mark_definite, ~maybe_seen(*_hashes(key)))
