"""SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication" —
public paper): cluster document embeddings with k-means, then prune
near-identical items WITHIN each cluster by pairwise cosine similarity.

Why cluster first at 100 TB: all-pairs cosine over 10^9+ embeddings is
infeasible; k-means caps the quadratic stage at O(Σ|c|²) with |c| ≈ n/k,
and the clustering itself is linear passes (the same reason the paper
scales to LAION/CommonCrawl sizes). Cross-cluster duplicates are missed by
design — the paper's accepted trade.

Scale shape:
- normalization + assignment are map-only Arrow passes (vectors cross into
  Python once per pass; centroids broadcast, k×d doubles);
- the centroid update is a posexplode → groupBy(cluster, dim) aggregation
  (map-side combine; k·d result rows collected to the driver — bounded);
- the quadratic stage runs per cluster via applyInPandas (one shuffle on
  cluster id), with a HARD size cap per task: clusters larger than
  ``max_cluster_rows`` are recursively re-split (the paper's own "scale k
  with n" move) by a deterministic sub-k-means pass — sub-centroids are
  the smallest-id member vectors — and any cluster still oversized after
  ``max_split_rounds`` (e.g. one giant bundle of identical vectors, where
  nearest-sub-centroid assignment cannot make progress) falls back to a
  deterministic id-modulo salt split that guarantees the cap. Salted
  splits under-prune (a duplicate component split across salt buckets
  keeps one row per bucket instead of one total) — the documented,
  bounded degradation for the pathological case, mirroring the paper's
  accepted cross-cluster misses.

Per-prune-task memory bound (the 100-TB shape): O(cap·d) doubles for the
member matrix + O(cap²) bytes for the boolean adjacency + O(tile²·d)
doubles for one similarity tile (tile ≈ sqrt(tile_budget/8d)) — NOT the
old O(n²·d) dense intermediate, which allocated ~150 GB for a single
5k-row cluster at d=768. Defaults: cap 8192, tile budget 64 MB → ≤ 0.6 GB
per task at d=768 regardless of input skew.

Determinism protocol (bit-reproducible across partitionings AND vs the
independent fixture replica in tools/gen_fixtures.py):
- element sums for centroids use DECIMAL(38,15): each float64 is first
  quantized via its shortest decimal representation (what both Spark's
  float→decimal cast and python's ``Decimal(repr(v))`` produce), and
  decimal addition is exact, hence order-independent;
- centroid means are quantized to 9 dp (HALF_UP) before re-entering float
  math;
- every float reduction is ``(a*b).sum(axis=-1)`` over the fixed embedding
  dimension — numpy's pairwise summation order depends only on the reduced
  axis length, never on batch/partition row counts (no BLAS matmul, whose
  blocking varies with shape);
- dedup keeps the MINIMUM id per within-cluster duplicate component (the
  repo-wide first-writer convention; the paper keeps the item farthest
  from the centroid — same shape, different representative choice).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal, localcontext
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType

CENTROID_SCALE = "1e-9"  # centroid quantization (dp) between iterations
SUM_DECIMAL = "decimal(38,15)"  # exact, order-independent element sums


def _dots(m: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(n,d)×(k,d) → (n,k) cosine dots with a reduction order fixed by d
    alone (see determinism protocol)."""
    return (m[:, None, :] * c[None, :, :]).sum(axis=2)


def _argmax_dots(
    m: np.ndarray, c: np.ndarray, budget_bytes: int = 256 << 20
) -> np.ndarray:
    """argmax over ``_dots(m, c)`` computed in row blocks so the (b,k,d)
    float intermediate stays under ``budget_bytes`` — same elements (the
    reduction order is fixed by d alone), bounded memory for any k."""
    n, d = m.shape
    k = len(c)
    b = max(1, budget_bytes // (8 * max(k * d, 1)))
    out = np.empty(n, dtype=np.int64)
    for i0 in range(0, n, b):
        out[i0 : i0 + b] = np.argmax(_dots(m[i0 : i0 + b], c), axis=1)
    return out


def blocked_adjacency(
    m: np.ndarray, threshold: float, tile_budget_bytes: int = 64 << 20
) -> np.ndarray:
    """(n,d) normalized rows → (n,n) boolean near-dup adjacency
    (cosine ≥ threshold), computed in square tiles so the float
    intermediate never exceeds ``tile_budget_bytes``.

    Each element is ``(m[i]*m[j]).sum(-1)`` — numpy pairwise summation
    over the d axis, bit-identical to the unblocked ``(n,n,d)`` version
    for any tile size (the reduction order depends only on d), so the
    determinism protocol and the fixture oracle survive the blocking."""
    n, d = m.shape
    tile = max(1, int((tile_budget_bytes // (8 * max(d, 1))) ** 0.5))
    adj = np.zeros((n, n), dtype=bool)
    for i0 in range(0, n, tile):
        mi = m[i0 : i0 + tile]
        for j0 in range(i0, n, tile):  # symmetric: upper tiles only
            mj = m[j0 : j0 + tile]
            hit = (mi[:, None, :] * mj[None, :, :]).sum(axis=2) >= threshold
            adj[i0 : i0 + tile, j0 : j0 + tile] |= hit
            adj[j0 : j0 + tile, i0 : i0 + tile] |= hit.T
    return adj


def min_label_components(adj: np.ndarray) -> np.ndarray:
    """Connected components of a boolean adjacency: labels[i] = smallest
    member index of i's component. Fully vectorized hooking (min over
    neighbours' labels) + pointer jumping (labels = labels[labels]) —
    O(log n) rounds, no interpreted per-pair loop. Row-blocked neighbour
    min keeps the transient ≤ tile·n ints."""
    n = adj.shape[0]
    labels = np.arange(n, dtype=np.int64)
    row_tile = max(1, (16 << 20) // max(8 * n, 1))
    while True:
        nb = np.empty(n, dtype=np.int64)
        for i0 in range(0, n, row_tile):
            block = np.where(adj[i0 : i0 + row_tile], labels[None, :], n)
            nb[i0 : i0 + row_tile] = block.min(axis=1)
        new = np.minimum(labels, nb)
        while True:  # shortcut chains to their roots
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, labels):
            return labels
        labels = new


def normalize_rows(vs: np.ndarray) -> np.ndarray:
    """L2-normalize float64 rows; zero vectors stay zero."""
    nrm = np.sqrt((vs * vs).sum(axis=1))
    nrm[nrm == 0.0] = 1.0
    return vs / nrm[:, None]


def quantize_centroids(sums: dict, counts: dict, k: int, d: int,
                       prev: np.ndarray) -> np.ndarray:
    """sums[(cluster, dim)] = Decimal, counts[cluster] = int → (k,d)
    float64 centroids rounded to CENTROID_SCALE; empty clusters keep their
    previous centroid."""
    out = prev.copy()
    with localcontext() as ctx:
        ctx.prec = 50
        q = Decimal(CENTROID_SCALE)
        for c in range(k):
            n = counts.get(c, 0)
            if not n:
                continue
            for j in range(d):
                m = (sums[(c, j)] / n).quantize(q, rounding=ROUND_HALF_UP)
                out[c, j] = float(m)
    return out


def semdedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iters: int = 4,
    threshold: float = 0.4,
    max_cluster_rows: int = 8192,
    max_split_rounds: int = 3,
    tile_budget_bytes: int = 64 << 20,
) -> DataFrame:
    """(id, cluster, keep) for every row: k-means cluster id and whether
    the row survives within-cluster near-dup pruning (cosine ≥
    ``threshold`` links rows; the minimum id of each linked component is
    kept).

    ``max_cluster_rows`` bounds every prune task: oversized clusters are
    recursively sub-split (deterministic sub-k-means, then an id-modulo
    salt as the guaranteed-progress fallback — see module docstring for
    the degradation it trades). The reported ``cluster`` column is always
    the top-level k-means cluster id; sub-splits only partition the prune
    work."""
    spark = df.sparkSession
    d = len(df.select(vec_col).first()[0])

    @F.pandas_udf(ArrayType(DoubleType()))
    def norm_udf(vs: pd.Series) -> pd.Series:
        m = normalize_rows(np.asarray(vs.tolist(), dtype=np.float64))
        return pd.Series(list(m))

    nrm = df.select(
        F.col(id_col).alias("_id"), norm_udf(vec_col).alias("_v")
    )
    # many downstream passes (k assignment scans + the final dedup) —
    # normalized vectors are small (n×d doubles) and worth keeping hot
    nrm = nrm.persist()

    # deterministic init: the k smallest ids' vectors
    init = nrm.orderBy("_id").limit(k).collect()
    centroids = np.asarray([r["_v"] for r in init], dtype=np.float64)

    def assign(cents: np.ndarray) -> DataFrame:
        b = spark.sparkContext.broadcast(cents)

        @F.pandas_udf("int")
        def cluster_udf(vs: pd.Series) -> pd.Series:
            m = np.asarray(vs.tolist(), dtype=np.float64)
            return pd.Series(_argmax_dots(m, b.value).astype(np.int32))

        return nrm.withColumn("_c", cluster_udf("_v"))

    for _ in range(n_iters):
        assigned = assign(centroids)
        rows = (
            assigned.select("_c", F.posexplode("_v").alias("_j", "_x"))
            .groupBy("_c", "_j")
            .agg(
                F.sum(F.col("_x").cast(SUM_DECIMAL)).alias("_s"),
                F.count("*").alias("_n"),
            )
            .collect()
        )
        sums = {(r["_c"], r["_j"]): r["_s"] for r in rows}
        counts = {r["_c"]: int(r["_n"]) for r in rows if r["_j"] == 0}
        centroids = quantize_centroids(sums, counts, k, d, centroids)

    final = assign(centroids).withColumn("_sub", F.lit(0).cast("long"))
    final = _split_oversized(
        final, max_cluster_rows, max_split_rounds, id_col="_id"
    )

    out_schema = f"{id_col} long, cluster int, keep boolean"

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        ids = pdf["_id"].to_numpy()
        m = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        n = len(ids)
        adj = blocked_adjacency(m, threshold, tile_budget_bytes)
        labels = min_label_components(adj)
        keep = labels == np.arange(n)  # min id per component (sorted input)
        return pd.DataFrame(
            {id_col: ids, "cluster": pdf["_c"].to_numpy(), "keep": keep}
        )

    result = final.groupBy("_c", "_sub").applyInPandas(prune, out_schema)
    nrm.unpersist()
    return result


_SUB_BRANCH = 4096  # max sub-centroids per split round; 4096^3 < 2^63


def _split_oversized(
    assigned: DataFrame,
    max_cluster_rows: int,
    max_split_rounds: int,
    id_col: str = "_id",
) -> DataFrame:
    """Cap applyInPandas group sizes: while any (_c,_sub) group exceeds
    ``max_cluster_rows``, re-assign its rows to sub-centroids (the group's
    ceil(size/cap) smallest-id member vectors — deterministic, no RNG).
    After ``max_split_rounds`` any still-oversized group (sub-k-means
    makes no progress only when members are near-identical, so every row
    hooks to sub-centroid 0) is chunk-split by contiguous id rank —
    guaranteed ≤ cap, documented under-pruning (one keeper per chunk
    instead of one per component).

    Per round: one bounded groupBy count, one broadcast join marking ONLY
    the oversized rows, one window over those rows to pick sub-centroids
    (Σ ceil(size/cap) vectors collected — ≤ n/cap + #groups, the same
    budget the paper spends on its k ∝ n centroid table), one broadcast,
    one map-only Arrow re-assignment pass. The full corpus never
    reshuffles."""
    from pyspark.sql import Window

    spark = assigned.sparkSession
    out = assigned
    for rnd in range(max_split_rounds + 1):
        sizes = (
            out.groupBy("_c", "_sub")
            .count()
            .filter(F.col("count") > max_cluster_rows)
            .collect()
        )
        if not sizes:
            return out
        branch = {
            (int(r["_c"]), int(r["_sub"])): min(
                -(-int(r["count"]) // max_cluster_rows), _SUB_BRANCH
            )
            for r in sizes
        }
        bdf = F.broadcast(
            spark.createDataFrame(
                [(c, s, b) for (c, s), b in branch.items()],
                "_c int, _sub long, _branch int",
            )
        )
        over = out.join(bdf, ["_c", "_sub"])
        rest = out.join(bdf.select("_c", "_sub"), ["_c", "_sub"], "left_anti")
        w = Window.partitionBy("_c", "_sub").orderBy(id_col)

        if rnd == max_split_rounds:
            # terminal salt: contiguous ≤cap chunks by id rank; rekeyed
            # negative so salted subs can never collide with k-means subs
            dense = {kk: i for i, kk in enumerate(sorted(branch))}
            mult = 1 << 41  # chunks < 2^41 rows/cap; dense < 2^21 groups
            if len(dense) >= (1 << 21):
                raise ValueError(
                    "semdedup salt split: too many oversized groups "
                    f"({len(dense)}) — raise max_cluster_rows or k"
                )
            ddf = F.broadcast(
                spark.createDataFrame(
                    [(c, s, i) for (c, s), i in dense.items()],
                    "_c int, _sub long, _dense long",
                )
            )
            salted = (
                over.join(ddf, ["_c", "_sub"])
                .withColumn("_rn", F.row_number().over(w))
                .withColumn(
                    "_sub",
                    -(
                        F.col("_dense") * F.lit(mult)
                        + ((F.col("_rn") - 1) / F.lit(max_cluster_rows))
                        .cast("long")
                        + F.lit(1)
                    ),
                )
                .drop("_rn", "_dense")
            )
            return rest.unionByName(salted.select(*rest.columns))

        # sub-centroids: the branch-many smallest ids per oversized group
        cent_rows = (
            over.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= F.col("_branch"))
            .select("_c", "_sub", "_rn", "_v")
            .collect()
        )
        cents: dict[tuple, list] = {}
        for r in sorted(cent_rows, key=lambda r: (r["_c"], r["_sub"], r["_rn"])):
            cents.setdefault((int(r["_c"]), int(r["_sub"])), []).append(r["_v"])
        bcast = spark.sparkContext.broadcast(
            {kk: np.asarray(vv, dtype=np.float64) for kk, vv in cents.items()}
        )
        out = out.withColumn(
            "_sub", _make_subassign(bcast)("_c", "_sub", "_v")
        )
    return out


def _make_subassign(bcast):
    """Factory so each split round's UDF closes over its OWN broadcast
    (a shared loop variable would late-bind every chained pass to the
    last round's centroid table)."""

    @F.pandas_udf("long")
    def subassign(c: pd.Series, s: pd.Series, v: pd.Series) -> pd.Series:
        table = bcast.value
        su = s.to_numpy(dtype=np.int64)
        new = su.copy()
        groups = (
            pd.DataFrame({"c": c.to_numpy(), "s": su})
            .groupby(["c", "s"])
            .indices
        )
        for kk, idx in groups.items():
            cen = table.get((int(kk[0]), int(kk[1])))
            if cen is None:
                continue
            m = np.asarray(v.iloc[idx].tolist(), dtype=np.float64)
            j = _argmax_dots(m, cen)
            new[idx] = su[idx] * _SUB_BRANCH + j
        return pd.Series(new)

    return subassign
