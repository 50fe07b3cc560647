"""URL-seen deduplication (Q1) — anti-join + bloom pre-filter.

Reference semantics: first-writer-wins on the exact canonical URL string in
a global mutex-guarded hash set (internal/queue.go:88-96). That hash set is
the reference's single-process scalability ceiling; here it becomes:

1. within-round first-occurrence dedup: ``row_number`` over
   ``partitionBy(url)`` in canonical discovery order — first writer wins,
   parallel, shuffles once on url;
2. cross-round dedup: ``left_anti`` join against the accumulated ``seen``
   table, both sides hash-partitioned on ``url_hash`` (xxhash64);
3. [EXTENSION, north rule] a partitioned bloom filter built per partition
   of ``seen`` in an Arrow batch pass and OR-merged on the driver, then
   broadcast — prunes the anti-join's probe side before the shuffle. The
   bloom is advisory only: false positives are re-checked by the exact
   anti-join, so no URL is ever lost (bloom prunes, anti-join confirms).
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


def anti_join_seen(candidates: DataFrame, seen: DataFrame, key: str = "url") -> DataFrame:
    """Exact cross-round dedup (ref: queue.go:92-96).

    ``seen`` need not be unique: left_anti semantics are per-probe-row, so
    duplicate build-side keys change nothing — no distinct/shuffle of the
    (huge, growing) seen table is ever needed."""
    return candidates.join(seen.select(key), on=key, how="left_anti")


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


def _with_hashes(df: DataFrame, key: str) -> DataFrame:
    return df.withColumn("_h1", F.xxhash64(F.col(key))).withColumn(
        "_h2", F.xxhash64(F.col(key), F.lit(0x9E3779B9))
    )


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

    hashed = _with_hashes(df, key).select("_h1", "_h2")

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


def bloom_prefilter(candidates: DataFrame, filt, key: str) -> DataFrame:
    """Split candidates into (definitely-new, maybe-seen): rows whose hashes
    miss the filter cannot be in ``seen`` and skip the anti-join shuffle.
    ``filt`` is a seen-filter exposing ``might_contain(h1, h2)`` (a
    :class:`BloomFilter`)."""
    spark = candidates.sparkSession
    b = spark.sparkContext.broadcast(filt)

    @pandas_udf(BooleanType())
    def maybe_seen(h1: pd.Series, h2: pd.Series) -> pd.Series:
        return pd.Series(b.value.might_contain(h1.to_numpy(), h2.to_numpy()))

    hashed = _with_hashes(candidates, key).withColumn("_maybe", maybe_seen("_h1", "_h2"))
    return hashed


def dedup_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    key: str = "url",
    bloom=None,
    mark_definite: str | None = None,
) -> DataFrame:
    """Full Q1 cross-round path: optional bloom prune, exact
    anti-join confirm, union of definite-new and confirmed-new.

    ``mark_definite``: when set, the output carries a boolean column of
    that name — True on rows the filter proved new (they skipped the exact
    anti-join entirely), False on rows that went through the join (or on
    every row when ``bloom`` is None). Callers observe ``sum(mark)`` on
    the downstream action to get a free rows-pruned-by-filter counter —
    the auditable evidence of which dedup tier engaged."""
    if bloom is None:
        out = anti_join_seen(candidates, seen, key)
        if mark_definite:
            out = out.withColumn(mark_definite, F.lit(False))
        return out
    hashed = bloom_prefilter(candidates, bloom, key)
    definitely_new = hashed.filter(~F.col("_maybe")).drop("_h1", "_h2", "_maybe")
    maybe = hashed.filter(F.col("_maybe")).drop("_h1", "_h2", "_maybe")
    confirmed_new = anti_join_seen(maybe, seen, key)
    if mark_definite:
        definitely_new = definitely_new.withColumn(mark_definite, F.lit(True))
        confirmed_new = confirmed_new.withColumn(mark_definite, F.lit(False))
    return definitely_new.unionByName(confirmed_new)
