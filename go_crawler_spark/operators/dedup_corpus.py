"""Corpus-level deduplication operators for training-data pipelines.

Five dedup families, each scale-shaped for 100 TB:

- exact:          hash-groupBy on a content fingerprint (one shuffle on the
                  64/128-bit hash, never on the text itself)
- minhash + LSH:  shingles → k minhashes (vectorized numpy over Arrow
                  batches) → b bands → explode band keys → self-join on
                  (band, band_hash) buckets → candidate pairs → exact
                  Jaccard verify. Join key cardinality ≈ corpus size × b,
                  so the self-join is bucket-local, never all-pairs.
- simhash:        64-bit weighted-projection fingerprint; near-dups =
                  pairs within Hamming distance d, found by exploding 4
                  16-bit chunks (any pair at distance ≤3 shares a chunk —
                  pigeonhole) and bucket-joining on (chunk_idx, chunk).
- n-gram Jaccard: exact token-shingle Jaccard for candidate pairs
                  (verification primitive; all JVM built-ins)
- embedding:      cosine near-dup over array<float> vectors — bucketed by
                  random-hyperplane LSH sign bits, exact cosine verify
                  inside buckets (see operators/similarity.py for ANN).

Nothing here collects to the driver; every operator is a DataFrame→
DataFrame transform.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from go_crawler_spark.operators.sequence import unpersist_local_checkpoint
from go_crawler_spark.functions.text import (
    fingerprint_md5,
    normalize_for_fingerprint,
    token_ngrams,
)

# ---------------------------------------------------------------------------
# parallelism
# ---------------------------------------------------------------------------


def ensure_cpu_parallelism(df: DataFrame, factor: int = 2) -> DataFrame:
    """Text shingling / hashing is CPU-bound per *byte*, so Spark's
    byte-based input splitting (``maxPartitionBytes``) and AQE's byte-based
    shuffle coalescing both under-partition it: a 100 MB text file is one
    task but minutes of CPU. Force at least ``cores × factor`` partitions
    before a CPU-heavy stage; no-op when the scan already has enough splits
    (the 100 TB case)."""
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the smallest id per content fingerprint (deterministic
    first-writer analog of Q1 at corpus scale).

    Shuffle shape (the point of this operator at 100 TB): only
    ``(fingerprint, id)`` pairs — two small columns — ever enter an
    exchange. The winner decision is a groupBy-min over those pairs; the
    verdict is applied back to the full rows with a ``left_anti`` join
    against the LOSER id set, which is tiny (duplicates only, a few % of a
    web corpus), so AQE plans it as a broadcast anti-join and the document
    bytes never shuffle at all. A Window.partitionBy(fingerprint) +
    row_number here would instead shuffle every full row including the
    text — the difference between moving ~2% of the corpus and all of it.
    """
    fp = df.withColumn("fingerprint", fingerprint_md5(F.col(text_col)))
    keyed = fp.select("fingerprint", F.col(id_col).alias("_kid"))
    winners = keyed.groupBy("fingerprint").agg(F.min("_kid").alias("_win"))
    losers = (
        keyed.join(winners, on="fingerprint")
        .filter(F.col("_kid") != F.col("_win"))
        .select(F.col("_kid").alias(id_col))
    )
    return fp.join(losers, on=id_col, how="left_anti")


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Duplicate clusters: fingerprint → sorted member ids (size > 1)."""
    return (
        df.withColumn("fingerprint", fingerprint_md5(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_members"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("member_ids"),
        )
        .filter(F.col("n_members") > 1)
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=k, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=k, dtype=np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """``(id_col, minhash: array<long>)`` — k-permutation minhash of token
    shingles. Shingle hashing is JVM xxhash64 (explode-free: the shingle
    array stays an array); the k permutations run vectorized in numpy.

    The Python stage is ``mapInPandas`` (a plan node), NOT a pandas_udf
    expression: Spark 4.1's Python-UDF extraction silently skips UDFs whose
    argument embeds higher-order-function lambdas in some pruned-scan plan
    shapes, leaving an unevaluable PythonUDF in a Project. A plan node
    cannot be collapsed into an expression, so this is shape-proof — and
    identical in cost (one Arrow exchange of (id, shingle_hashes))."""
    a, b = _minhash_params(n_hashes, seed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        au = a.astype(np.uint64)[:, None]
        bu = b.astype(np.uint64)[:, None]
        for pdf in batches:
            out = []
            for hs in pdf["_shingle_hashes"]:
                if hs is None or len(hs) == 0:
                    out.append([int(_MERSENNE)] * n_hashes)
                    continue
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                # (a*h + b) mod p for all k at once: (k, n) broadcast
                v = (au * h[None, :] + bu) % np.uint64(_MERSENNE)
                out.append(v.min(axis=1).astype(np.int64).tolist())
            yield pd.DataFrame({"_mid": pdf["_mid"], "minhash": out})

    shingled = ensure_cpu_parallelism(df).select(
        F.col(id_col).alias("_mid"),
        F.transform(token_ngrams(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)).alias(
            "_shingle_hashes"
        ),
    )
    id_type = dict(df.dtypes)[id_col]
    return shingled.mapInPandas(
        run, f"_mid {id_type}, minhash array<long>"
    ).withColumnRenamed("_mid", id_col)


def minhash_band_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """``(id_col, band_idx, band_hash)`` — k-permutation minhash AND LSH
    banding fused in one vectorized pass.

    Banding as a JVM expression (transform over sequence + slice +
    concat_ws + xxhash64 lambdas) generates enormous whole-stage code whose
    first Janino compilation costs tens of seconds; folding the band hash
    into the numpy stage that already holds the (k, n) minhash matrix is
    both compile-cheap and one fewer pass. The band hash is a splitmix-style
    fold of the band's minhash values — deterministic across runs."""
    a, b = _minhash_params(n_hashes, seed)
    rpb = n_hashes // n_bands

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        au = a.astype(np.uint64)[:, None]
        bu = b.astype(np.uint64)[:, None]
        mers = np.uint64(_MERSENNE)
        mix1 = np.uint64(0x9E3779B97F4A7C15)
        mix2 = np.uint64(0xBF58476D1CE4E5B9)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            mins = np.empty((n, n_hashes), dtype=np.uint64)
            for j, hs in enumerate(pdf["_shingle_hashes"]):
                if hs is None or len(hs) == 0:
                    mins[j, :] = mers
                    continue
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                mins[j, :] = ((au * h[None, :] + bu) % mers).min(axis=1)
            banded = mins.reshape(n, n_bands, rpb)
            bh = np.full((n, n_bands), mix1, dtype=np.uint64)
            for r in range(rpb):
                bh = (bh ^ (banded[:, :, r] + mix1)) * mix2
            ids = np.repeat(pdf["_mid"].to_numpy(), n_bands)
            yield pd.DataFrame(
                {
                    "_mid": ids,
                    "band_idx": np.tile(np.arange(n_bands, dtype=np.int32), n),
                    "band_hash": bh.reshape(-1).astype(np.int64),
                }
            )

    shingled = ensure_cpu_parallelism(df).select(
        F.col(id_col).alias("_mid"),
        F.transform(token_ngrams(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)).alias(
            "_shingle_hashes"
        ),
    )
    id_type = dict(df.dtypes)[id_col]
    return shingled.mapInPandas(
        run, f"_mid {id_type}, band_idx int, band_hash long"
    ).withColumnRenamed("_mid", id_col)


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact token-shingle Jaccard for candidate pairs — all JVM built-ins
    (array_intersect/array_union on distinct shingle arrays).

    Shingles are computed ONLY for docs that appear in a candidate pair
    (semi-join first): at corpus scale candidates ≪ corpus, so re-shingling
    everything would dominate the verify cost."""
    pair_ids = (
        pairs.select(F.col("id_a").alias("_jid"))
        .unionByName(pairs.select(F.col("id_b").alias("_jid")))
        .distinct()
    )
    sh = (
        ensure_cpu_parallelism(
            df.join(pair_ids, df[id_col] == pair_ids["_jid"], "left_semi")
        )
        .select(
            F.col(id_col).alias("_jid"),
            F.array_distinct(token_ngrams(F.col(text_col), shingle_n)).alias("_sh"),
        )
    )
    a = sh.select(F.col("_jid").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("_jid").alias("id_b"), F.col("_sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return (
        pairs.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn(
            "jaccard",
            F.when(union == 0, F.lit(0.0)).otherwise(inter / union),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Directed shingle CONTAINMENT (Broder 1997): for each candidate pair
    C(a→b) = |S(a) ∩ S(b)| / |S(a)| — near 1.0 when document ``a`` is a
    (possibly truncated/quoted) sub-document of ``b`` even though their
    symmetric Jaccard is low. This is the dedup relation Jaccard misses:
    snippet farms, quoted articles, and pagination shards of one source
    page contain the original without resembling it.

    Same scale shape as :func:`jaccard_verify`: shingles are computed only
    for docs appearing in a candidate pair (semi-join first, candidates ≪
    corpus — at 100 TB candidates come from the MinHash/LSH bucket join,
    never all-pairs), and the verify itself is all JVM built-ins
    (array_intersect on distinct shingle arrays). Emits BOTH directions
    of a pair when both clear the threshold (a ⊆ b and b ⊆ a means an
    exact near-dup; downstream keep-best collapses it)."""
    pair_ids = (
        pairs.select(F.col("id_a").alias("_cid"))
        .unionByName(pairs.select(F.col("id_b").alias("_cid")))
        .distinct()
    )
    sh = (
        ensure_cpu_parallelism(
            df.join(pair_ids, df[id_col] == pair_ids["_cid"], "left_semi")
        )
        .select(
            F.col(id_col).alias("_cid"),
            F.array_distinct(
                token_ngrams(F.col(text_col), shingle_n)
            ).alias("_sh"),
        )
    )
    a = sh.select(F.col("_cid").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("_cid").alias("id_b"), F.col("_sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    denom = F.size("_sh_a")
    directed = pairs.select("id_a", "id_b").unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    return (
        directed.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn(
            "containment",
            F.when(denom == 0, F.lit(0.0)).otherwise(inter / denom),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Full near-dup pipeline: minhash → LSH buckets → exact verify.

    ``sigs`` and ``pairs`` are persisted AND materialized (count action)
    before their multi-branch consumers: the band self-join scans ``sigs``
    twice and the verify step scans ``pairs`` twice (candidate-id semi-join
    + the pair join). A lazy persist is not enough — both branch scans of
    one job start against a cold cache and each recomputes the full
    signature lineage (observed 3× cost). Sig cache is ~(8·k+len(id)) B/doc
    — at 10^9 docs and k=64 that is ~0.5 TB spread over the cluster, the
    standard MinHashLSH trade."""
    banded = minhash_band_hashes(
        df, text_col, id_col, n_hashes, n_bands, shingle_n, seed
    ).persist()
    banded.count()
    left = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    right = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    pairs = (
        left.join(right, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .persist()
    )
    pairs.count()
    banded.unpersist()
    return jaccard_verify(df, pairs, text_col, id_col, shingle_n, threshold)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def _simhash_from_hashes(hashes: pd.Series) -> pd.Series:
    out = []
    for hs in hashes:
        if hs is None or len(hs) == 0:
            out.append(0)
            continue
        h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
        v = (2 * bits - 1).sum(axis=0)
        sim = np.uint64(0)
        for i in range(64):
            if v[i] > 0:
                sim |= np.uint64(1) << np.uint64(i)
        out.append(int(sim.astype(np.int64)))
    return pd.Series(out, dtype="int64")


def simhash(df: DataFrame, text_col: str, id_col: str = "doc_id") -> DataFrame:
    """``(id_col, simhash)`` — 64-bit simhash over token hashes (majority
    vote per bit). Python stage is mapInPandas for the same plan-shape
    robustness as ``minhash_signatures``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"_sid": pdf["_sid"], "simhash": _simhash_from_hashes(pdf["_th"])}
            )

    toks = F.transform(
        F.split(normalize_for_fingerprint(F.col(text_col)), r"\s+"),
        lambda t: F.xxhash64(t),
    )
    projected = ensure_cpu_parallelism(df).select(
        F.col(id_col).alias("_sid"), toks.alias("_th")
    )
    id_type = dict(df.dtypes)[id_col]
    return projected.mapInPandas(
        run, f"_sid {id_type}, simhash long"
    ).withColumnRenamed("_sid", id_col)


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` (≤3 guaranteed found:
    4 chunks of 16 bits — pigeonhole). Bucket-join on matching chunks,
    then exact popcount verify via JVM bit_count.

    ``sh`` is persisted+materialized: the chunk self-join scans it twice
    and would otherwise run the simhash Python stage twice (16 B/doc)."""
    sh = simhash(df, text_col, id_col).select(F.col(id_col).alias("_id"), "simhash").persist()
    sh.count()
    chunked = sh.select(
        "_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunked.select(
        F.col("_id").alias("id_a"), F.col("simhash").alias("sim_a"), "chunk_idx", "chunk"
    )
    b = chunked.select(
        F.col("_id").alias("id_b"), F.col("simhash").alias("sim_b"), "chunk_idx", "chunk"
    )
    pairs = (
        a.join(b, on=["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_similarity_expr(a: str, b: str) -> F.Column:
    """Exact cosine via JVM higher-order functions (zip_with + aggregate) —
    no Python for the verify step."""
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(F.col(a), F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(F.col(b), F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 32,
    seed: int = 7,
) -> DataFrame:
    """MULTI-TABLE random-hyperplane LSH + exact cosine verify.

    One hash table cannot reach useful recall at moderate thresholds: a
    pair at cosine t collides under a single k-plane bucket with
    probability (1-θ/π)^k — at t=0.4, k=6 that is ~6%. Standard
    amplification: ``n_tables`` independent tables of ``n_planes`` each;
    a pair is a candidate if it shares a bucket in ANY table, lifting
    recall to 1-(1-p^k)^L (≈0.996 for t=0.4, k=4, L=32) while each
    table's buckets stay small enough for local self-joins.

    Scale shape: the bucket self-join carries only (id, table, bucket) —
    vectors never enter the candidate shuffle; candidate pairs are
    deduped across tables BEFORE the exact verify so each pair is scored
    once; the verify joins vectors back by id and runs as JVM
    higher-order functions in float64 (bit-matching an all-double
    oracle). Memory is the standard L-tables trade: n_tables bucket ids
    per vector."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim)).astype(np.float64)

    @pandas_udf(ArrayType(LongType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        out = []
        bitw = np.arange(n_planes, dtype=np.int64)
        for v in vecs:
            if v is None or len(v) == 0:
                out.append([-1] * n_tables)
                continue
            arr = np.asarray(v, dtype=np.float64)
            signs = (planes @ arr) > 0  # (n_tables, n_planes)
            out.append(((signs.astype(np.int64) << bitw).sum(axis=1)).tolist())
        return pd.Series(out, dtype=object)

    bucketed = (
        # float64 up front: the in-bucket verify must score in double so
        # the cosine matches an exact (all-double) oracle bit for bit
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_vec"),
        )
        .withColumn("_bks", buckets_udf("_vec"))
        .persist()  # scanned by the pair join and twice by the verify
    )
    bucketed.count()
    keyed = bucketed.select(
        "_id", F.posexplode("_bks").alias("table_idx", "bucket")
    )
    a = keyed.select(F.col("_id").alias("id_a"), "table_idx", "bucket")
    b = keyed.select(F.col("_id").alias("id_b"), "table_idx", "bucket")
    pairs = (
        a.join(b, on=["table_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = bucketed.select(F.col("_id").alias("id_a"), F.col("_vec").alias("vec_a"))
    vb = bucketed.select(F.col("_id").alias("id_b"), F.col("_vec").alias("vec_b"))
    return (
        pairs.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn("cosine", cosine_similarity_expr("vec_a", "vec_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# near-dup connected components (cluster assignment from pairwise edges)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    stats: Optional[dict] = None,
) -> DataFrame:
    """``(node, component)`` for every node appearing in ``edges``;
    ``component`` = the minimum node id reachable through the edge set.

    This is the cluster-assignment stage a dedup pipeline runs after LSH
    pair generation: near-dup PAIRS become duplicate GROUPS (keep one
    representative per component, drop the rest).

    Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — public paper).
    Each round rewires the edge set toward star graphs rooted at each
    component's minimum id:

    - large-star (over the symmetric view): every node ``u`` points each
      STRICTLY LARGER neighbor at ``min(Γ(u) ∪ {u})``;
    - small-star (over the larger→smaller canonical view): every node
      ``u`` points its smaller neighbors AND ITSELF at
      ``min(Γ(u) ∪ {u})``.

    Round count is O(log² n) in the WORST case and independent of graph
    diameter — the reason this replaced plain min-label propagation, whose
    O(diameter) rounds melt on the long chains web near-dup graphs grow
    (a 2^12-node path converges here in ~4 rounds where propagation needs
    4096; pinned by tests/test_linkgraph.py::test_path_graph_log_rounds).
    Shallow LSH-cluster graphs (diameter 2-3) still converge in 2-3
    rounds, so nothing is lost at the common case.

    Scale shape: each round shuffles only ``(long, long)`` edge pairs
    keyed on node id — never document content; the edge set shrinks
    toward one edge per non-root node. ``localCheckpoint`` cuts lineage
    each round (otherwise round k re-executes rounds 1..k-1).
    Convergence probe: count + ``bit_xor(xxhash64(u,v))`` fingerprint
    (bounded aggregate, no collect), confirmed exactly with one
    ``exceptAll`` on the matching round only.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    prev_fp = _fingerprint(e)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star: symmetric neighborhoods, larger neighbors -> min
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m_large = lmin.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m_large, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: canonical larger->smaller, smaller neighbors + self -> min
        c = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smin = c.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            c.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        fp = _fingerprint(small)
        converged = fp == prev_fp and small.exceptAll(e).limit(1).isEmpty()
        # the superseded round's edge checkpoint is dead once `small` is
        # materialized and compared — free it (a long contraction would
        # otherwise hold every round's edge set in executor storage)
        unpersist_local_checkpoint(e)
        e = small
        if converged:
            break
        prev_fp = fp
    if stats is not None:
        stats["rounds"] = rounds

    # at the fixed point every edge is (member, component-min); roots and
    # self-loop-only nodes carry no outgoing edge and label themselves.
    # The min() is a no-op once converged but keeps the one-row-per-node
    # contract if max_iter exhausted with multiple outgoing edges left
    # (labels may then be a reachable min rather than the global min —
    # still deterministic, never duplicated).
    labels = e.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("_comp")
    )
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("_comp", F.col("node")).alias("component")
    )
