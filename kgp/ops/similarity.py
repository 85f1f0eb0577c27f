"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk_bruteforce` — exact top-k: broadcast the (small)
  query set, score every (query, item) with a JVM-side expression
  (``aggregate(zip_with(...))`` — whole-stage codegen, no Python), rank
  window per query. The baseline and the correctness oracle.

- :func:`cosine_topk_lsh` — scale path: random-hyperplane LSH. Each vector
  is bucketed by the sign pattern of ``n_planes`` fixed pseudo-random
  hyperplanes (deterministic from a seed, generated driver-side);
  candidates are items sharing a bucket with the query under any of
  ``n_tables`` independent tables (:func:`lsh_keys`, one equi-join on
  ``(t, bucket)``); exact rescoring only within candidates.
  Recall < 1 by design; tested against brute force for recall >= target.

- :func:`ivf_topk` — IVF-style variant: k-means-lite centroids chosen
  deterministically (first C item vectors as seeds, one Lloyd round as
  expressions), vectors assigned to nearest centroid; queries probe the
  ``nprobe`` nearest centroids only.

Dot products use double accumulation in array order on both engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    """Cosine similarity of two vector columns (double accumulation)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per query, the k best ``cos`` (ties -> lowest vec_id), ranked from 1."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_topk_bruteforce(
    items: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """items(vec_id, embedding), queries(q_id, q_emb) -> (q_id, vec_id, cos, rank)."""
    j = items.crossJoin(F.broadcast(queries))
    return _topk(j.select("q_id", "vec_id", cosine("embedding", "q_emb").alias("cos")), k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(np.random.PCG64(seed))
    return rng.standard_normal((n_planes, dim))


def lsh_keys(col, dim: int, n_planes: int, n_tables: int, seed: int):
    """``array<struct<t, bucket>>``: per table ``t`` the sign pattern of
    the vector under ``n_planes`` hyperplanes seeded ``seed + t``. Explode
    it and equi-join on ``(t, bucket)``: rows sharing a bucket in any
    table are candidates."""
    keys = []
    for t in range(n_tables):
        bits = [
            F.when(_dot(col, F.array(*[F.lit(float(v)) for v in p])) >= 0, F.lit(1 << j))
            .otherwise(F.lit(0))
            for j, p in enumerate(_hyperplanes(dim, n_planes, seed + t))
        ]
        keys.append(F.struct(F.lit(t).alias("t"), sum(bits[1:], bits[0]).alias("bucket")))
    return F.array(*keys)


def cosine_topk_lsh(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH candidate join + exact rescore."""
    keys = lambda emb: F.inline(lsh_keys(emb, dim, n_planes, n_tables, seed))  # noqa: E731
    it = items.select("vec_id", "embedding", keys("embedding"))
    qt = queries.select("q_id", "q_emb", keys("q_emb"))
    cand = it.join(F.broadcast(qt), ["t", "bucket"]).dropDuplicates(["q_id", "vec_id"])
    return _topk(cand.select("q_id", "vec_id", cosine("embedding", "q_emb").alias("cos")), k)


def _assign_nearest(items: DataFrame, cents: DataFrame) -> DataFrame:
    """Each item -> its nearest centroid by cosine (ties -> lowest c_id)."""
    assign_w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        items.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "c_id",
            cosine("embedding", "c_emb").alias("sim"),
        )
        .withColumn("rk", F.row_number().over(assign_w))
        .where(F.col("rk") == 1)
        .select("vec_id", "embedding", "c_id")
    )


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    lloyd_rounds: int = 1,
) -> DataFrame:
    """IVF probe: deterministic seed centroids (the lowest vec_ids),
    refined by ``lloyd_rounds`` rounds of Lloyd's algorithm (assign ->
    elementwise-mean recompute), items assigned to their final nearest
    centroid, queries scanning only their ``nprobe`` nearest centroid
    lists.

    The recomputed centroid means are BIT-deterministic, not merely
    rounded: per (centroid, dim) the member values are collected, sorted,
    and summed in that fixed order (a float sum's value depends on
    accumulation order, which neither Spark nor any engine fixes across
    partitionings), then divided and rounded to 6 decimals. Sort-then-sum
    makes the mean identical across runs, partitionings, and engines (the
    ANSI-SQL oracle twin folds the same sorted list), so no assignment can
    flip on a value that lands near a rounding boundary. Per-centroid
    member lists are |items|/n_centroids on average — the collect_list is
    bounded by cluster size, and at true scale a centroid's member count
    is capped by the same partitioning argument as any groupBy key.
    """
    cents = (
        items.orderBy("vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    )
    for _ in range(lloyd_rounds):
        assigned = _assign_nearest(items, cents)
        cents = (
            assigned.select("c_id", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("c_id", "pos")
            .agg(F.array_sort(F.collect_list(F.col("v").cast("double"))).alias("vs"))
            .select(
                "c_id",
                "pos",
                F.round(
                    F.aggregate("vs", F.lit(0.0), lambda a, v: a + v) / F.size("vs"), 6
                ).alias("m"),
            )
            .groupBy("c_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("c_id", F.transform("pm", lambda s: s["m"]).alias("c_emb"))
        )
    assigned = _assign_nearest(items, cents)
    probe_w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "q_emb",
            "c_id",
            cosine("q_emb", "c_emb").alias("sim"),
        )
        .withColumn("rk", F.row_number().over(probe_w))
        .where(F.col("rk") <= nprobe)
        .select("q_id", "q_emb", "c_id")
    )
    cand = assigned.join(probes, "c_id")
    return _topk(cand.select("q_id", "vec_id", cosine("embedding", "q_emb").alias("cos")), k)
