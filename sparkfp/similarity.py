"""Similarity search over embedding columns.

- brute-force cosine top-k (exact baseline; one broadcast of the
  query set, no shuffle on the corpus side)
- random-hyperplane LSH bucketing (the scale path: candidates only
  from matching signature buckets, then exact re-rank)

The hyperplanes are deterministic (seeded numpy), shipped as literal
arrays into the plan, so results are reproducible across runs and
cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import cosine_arrow


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. ``queries`` carries
    the same ``id_col`` and ``vec_col`` columns as ``corpus``.

    Plan shape: broadcast(queries) x corpus scan -> cosine (JVM
    higher-order fns) -> per-query row_number top-k. The corpus is
    scanned once with no shuffle; only the (n_queries x k) result
    shuffles. Ties break on neighbor id for determinism.
    """
    from .session import fan_out

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # fan_out: the cosine scoring runs scan-side below the top-k
    # exchange; a single-row-group corpus would score every pair on one
    # task (guide §2.5)
    c = fan_out(corpus, key=id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return _rerank_topk(
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")), k
    )


def _rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    """The one exact re-rank of the top-k paths: candidate (query_id,
    qv, neighbor_id, cv) rows -> (query_id, neighbor_id, cos, rank),
    the k best per query by cosine rounded to 6 places, ties to the
    lower neighbor id. cosine_arrow == dedup.cosine bit-for-bit; the
    HOF form is interpreted per element and cost 3.7 s for the
    200k-pair ann_topk at sf1.0 vs ~0.4 s Arrow-batched."""
    scored = cand.withColumn(
        "cos", F.round(cosine_arrow(F.col("qv"), F.col("cv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=[np.uint64(seed), np.uint64(dim)]))
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def hyperplane_bands(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """The one random-hyperplane banding (LSH top-k and embedding
    near-dup pairs): (id, t, sig) rows, one per hash table t, where bit
    p of sig is set iff dot(vec, plane_{t,p}) > 0 (table t's planes are
    ``hyperplanes(dim, n_planes, seed + t)``). Callers fan out batch
    inputs themselves.

    The signatures are ONE Arrow-batched matmul over all tables'
    planes: a Column-expression formulation (n_tables * n_planes nested
    fold-aggregates) blows past Catalyst's codegen limits and falls
    back to interpreted eval, ~100x slower per row — the matmul is the
    scale path. Sign bits agree with any sequential-sum evaluation
    (e.g. the DuckDB oracle's list_dot_product) except for dots within
    float ulp of 0, which have measure ~1e-10 on unit-scale data.
    """
    from pyspark.sql.functions import pandas_udf

    stacked = np.vstack(
        [hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )  # (n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        m = np.stack(v.values).astype(np.float64)  # (n, dim)
        bits = (m @ stacked.T) > 0  # (n, n_tables * n_planes)
        per_table = bits.reshape(len(m), n_tables, n_planes)
        out = per_table @ weights  # (n, n_tables) int64
        return pd.Series(list(out))

    return df.select(
        F.col(id_col), F.posexplode(sigs(F.col(vec_col))).alias("t", "sig")
    )


def lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Candidate (query_id, qv, neighbor_id, cv) rows sharing an LSH
    signature in >= 1 of n_tables hash tables.

    Both sides explode to one row per (table, signature) and meet in a
    hash EQUI-join on ("t", "sig") — never an OR-of-equalities join
    condition, which Spark can only plan as a nested-loop comparing
    every corpus row to every query and defeats the bucketing. A
    pair matching in several tables is deduped by the groupBy.

    Both sides carry ``id_col`` and ``vec_col``. Requires unique ids on
    each side: vectors are re-attached to the
    deduped id pairs by an id join, so a duplicated id yields one row
    per vector under that id, including vectors that never shared a
    signature with the other side.
    """
    from .session import fan_out

    lsh = (dim, n_planes, n_tables, seed)
    # candidate generation carries ONLY ids through the dedup shuffle:
    # the old groupBy(first(qv), first(cv)) shuffled two dim-length
    # vectors per candidate row (~64x the bytes of the id pair, guide
    # §2.3 "project before the exchange"); vectors are re-attached
    # afterwards by id — same rows, same vectors, cheaper exchange.
    # fan_out applies to the signature branch only: the re-attach
    # branches are joined (often broadcast) and need no pre-shuffle.
    c = hyperplane_bands(fan_out(corpus, key=id_col), id_col, vec_col, *lsh).toDF(
        "neighbor_id", "t", "sig"
    )
    q = hyperplane_bands(queries, id_col, vec_col, *lsh).toDF(
        "query_id", "t", "sig"
    )
    pairs = (
        c.join(F.broadcast(q), ["t", "sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    return pairs.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")


def ivf_centroids(dim: int, n_centroids: int = 16, seed: int = 42) -> np.ndarray:
    """Deterministic unit-norm coarse-quantizer centroids (seeded
    Philox). Random unit directions are the train-free IVF baseline:
    on a real corpus you'd Lloyd-iterate these a few rounds and ship
    the result the same way (literal broadcast), which changes recall
    but not the query plan."""
    rng = np.random.Generator(
        np.random.Philox(key=[np.uint64(seed + 7919), np.uint64(dim)])
    )
    c = rng.standard_normal((n_centroids, dim)).astype(np.float64)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_assignments(vec: Column, centroids: np.ndarray, nprobe: int = 1) -> Column:
    """array<long>: the nprobe nearest centroid ids by dot product
    (cosine order, since centroids are unit-norm and the row norm is
    constant across centroids). One Arrow-batched matmul; ties break on
    the lower centroid id (argsort is stable on -dot)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def assign(v: pd.Series) -> pd.Series:
        m = np.stack(v.values).astype(np.float64)
        dots = m @ centroids.T  # (n, n_centroids)
        order = np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int64)))

    return assign(vec)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in one inverted list
    each (nearest centroid); a query probes its nprobe nearest lists
    and exact cosine re-ranks only those candidates.

    Scale shape: the corpus is scanned once to tag list ids (at rest
    this is the table's partition/bucket column, so probing prunes
    partitions at the scan); the probe is a hash equi-join on list_id
    with the tiny query side broadcast. Expected work per query ~
    nprobe / n_centroids of the corpus. Complements lsh_topk: IVF
    prunes by region (data-adaptive once trained), LSH by random
    projection (train-free, multi-table recall).
    """
    cents = ivf_centroids(dim, n_centroids, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(ivf_assignments(F.col(vec_col), cents, 1), 1).alias("list_id"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(ivf_assignments(F.col(vec_col), cents, nprobe)).alias("list_id"),
    )
    cand = c.join(F.broadcast(q), "list_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rerank_topk(cand, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH signature in >= 1 of
    n_tables hash tables; exact cosine re-ranks candidates only.

    At corpus scale N, expected candidates per query ~ N / 2^n_planes
    per table — the knob that makes ANN tractable at 10^12 rows.
    """
    cand = lsh_candidates(
        corpus, queries, id_col, vec_col, dim,
        n_planes=n_planes, n_tables=n_tables, seed=seed,
    )
    return _rerank_topk(cand, k)
