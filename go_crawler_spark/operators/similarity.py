"""Similarity search over embedding columns (array<float>).

Two paths, as a 100 TB pipeline needs both:

- brute-force cosine top-k: exact baseline. The query set is broadcast
  (small side); each partition scores its vectors against all queries in
  one numpy matmul per Arrow batch, then a distributed top-k
  (window row_number per query — bounded by k × n_queries rows after the
  per-partition pre-trim).
- IVF (inverted-file) top-k: deterministic k-means-style centroids (seeded
  sample, a few Lloyd iterations on the driver over a bounded sample),
  vectors assigned to nearest centroid (one numpy matmul), queries probe
  only ``n_probe`` nearest cells → candidate set shrinks by
  n_cells/n_probe; exact cosine re-scoring inside probed cells.

The scale story: brute force is O(N·Q·d) FLOPs but embarrassingly
parallel and sequential-scan friendly; IVF trades recall for an
n_cells/n_probe scan reduction. Both shuffle only (query_id, vec_id,
score) triples, never the vectors.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query. Queries broadcast; scoring is one
    matmul per Arrow batch; per-partition trim to k before the global
    top-k window keeps the shuffle at k·Q rows per partition."""
    spark = df.sparkSession
    qrows = queries.select(query_id_col, query_vec_col).collect()
    qids = [r[query_id_col] for r in qrows]
    qm = _normalize(np.asarray([list(r[query_vec_col]) for r in qrows], dtype=np.float64))
    b = spark.sparkContext.broadcast((qids, qm))

    out_schema = f"{id_col} long, {query_id_col} long, score double"

    def score_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_l, qm_l = b.value
        for pdf in it:
            if not len(pdf):
                continue
            vm = _normalize(
                np.asarray([list(v) for v in pdf[vec_col]], dtype=np.float64)
            )
            scores = vm @ qm_l.T  # (n, q)
            frames = []
            for qi, qid in enumerate(qids_l):
                s = scores[:, qi]
                top = np.argsort(-s, kind="stable")[: k]
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy()[top],
                            query_id_col: qid,
                            "score": s[top],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    partial = df.select(id_col, vec_col).mapInPandas(score_partition, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(id_col)  # deterministic tie-break
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_cells: int,
    sample_rows: int = 4096,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic driver-side Lloyd iterations over a bounded seeded
    sample (sample is the standard IVF training protocol — the full data
    never leaves executors for assignment). The sample is the first
    ``sample_rows`` vectors in ``id_col`` order — a bare limit() would
    take whatever partitions answer first, making the trained centroids
    (and every downstream probe) depend on scheduling."""
    sample = np.asarray(
        [
            list(r[vec_col])
            for r in df.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(sample_rows)
            .collect()
        ],
        dtype=np.float64,
    )
    sample = _normalize(sample)
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(sample @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = _normalize(centroids)
    return centroids


def ivf_assign(df: DataFrame, centroids: np.ndarray, vec_col: str) -> DataFrame:
    """Add ``cell`` = nearest centroid (one matmul per Arrow batch)."""
    b = df.sparkSession.sparkContext.broadcast(centroids)

    @pandas_udf(IntegerType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        cents = b.value
        if not len(vecs):
            return pd.Series([], dtype="int32")
        vm = _normalize(np.asarray([list(v) for v in vecs], dtype=np.float64))
        return pd.Series(np.argmax(vm @ cents.T, axis=1).astype("int32"))

    return df.withColumn("cell", cell_udf(vec_col))


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: Optional[np.ndarray] = None,
) -> DataFrame:
    """IVF ANN: probe the n_probe nearest cells per query, exact cosine
    re-score within probed cells only."""
    if centroids is None:
        centroids = train_ivf_centroids(df, vec_col, n_cells, id_col=id_col)
    # score in float64 end-to-end (float32 per-element products would make
    # the exact re-score diverge from an all-double oracle)
    assigned = ivf_assign(
        df.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col)),
        centroids,
        vec_col,
    )

    qrows = queries.select(query_id_col, query_vec_col).collect()
    qm = _normalize(np.asarray([list(r[query_vec_col]) for r in qrows], dtype=np.float64))
    probes = np.argsort(-(qm @ centroids.T), axis=1)[:, :n_probe]
    probe_rows = [
        (int(r[query_id_col]), list(r[query_vec_col]), [int(c) for c in probes[i]])
        for i, r in enumerate(qrows)
    ]
    spark = df.sparkSession
    probe_df = spark.createDataFrame(
        probe_rows, f"{query_id_col} long, {query_vec_col} array<double>, cells array<int>"
    ).select(query_id_col, query_vec_col, F.explode("cells").alias("cell"))

    from go_crawler_spark.operators.dedup_corpus import cosine_similarity_expr

    candidates = assigned.join(F.broadcast(probe_df), on="cell")
    scored = candidates.withColumn(
        "score",
        cosine_similarity_expr(vec_col, query_vec_col),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )
