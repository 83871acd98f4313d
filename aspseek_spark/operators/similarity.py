"""Similarity search over embedding columns (driver brief).

Brute-force cosine top-k is the correctness baseline (pure column math:
F.zip_with dot product + F.aggregate — all codegen, no Python); the scale
path is LSH-bucketed (random-hyperplane signs → bucket equi-join) and an
IVF-style variant (assign to nearest of K centroids, search within cell).

Scale notes: brute force is O(N·Q) dot products — fine for reranking, wrong
as the primary path at 10^9 vectors. The LSH/IVF variants turn it into one
shuffle on (bucket) with per-bucket brute force; recall is tunable via
number of hyperplanes / probe cells.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    repartition_by: str | None = None,
) -> DataFrame:
    """Top-k by cosine vs one query vector. Distributed TakeOrdered (sort +
    limit), deterministic tie-break on id.

    r07: the query vector's norm is a CONSTANT — computed driver-side with
    the identical sequential left-fold + sqrt the Spark expression
    performed (bit-for-bit the same IEEE double, value-hash-verified), so
    every row drops 3 of its 9 interpreted array passes. Two rejected
    alternatives, both measured SLOWER in the bench's cold-query regime:
    unrolling the cosine into a 192-term codegen expression (the tree
    falls past the generated-method size limits into per-node interpreted
    eval — 1.3 s vs 0.7 s warm) and repartitioning before the projection
    (the extra AQE exchange costs more cold than the parallel projection
    saves; ``repartition_by`` is kept for callers whose input is a
    single-split scan AND whose session is warm)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = 0.0
    for x in query_vec:  # same fold order as F.aggregate: ((0+x0²)+x1²)+…
        qn = qn + float(x) * float(x)
    qn = math.sqrt(qn)
    cast_vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cos = _dot(cast_vec, q) / (_norm(cast_vec) * F.lit(qn))
    if repartition_by is not None:
        embeddings = embeddings.select(
            F.col(id_col), F.col(vec_col)
        ).repartition(repartition_by)
    return (
        embeddings.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def knn_join_bruteforce(
    left: DataFrame,
    right: DataFrame,
    k: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """For each left vector, its k nearest right vectors by cosine
    (cross join + per-left window top-k). Ground truth for the LSH path."""
    l = left.select(
        F.col(id_col).alias("qid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    r = right.select(
        F.col(id_col).alias("nid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("nv"),
    )
    scored = l.crossJoin(r).select(
        "qid",
        "nid",
        (_dot(F.col("qv"), F.col("nv")) / (_norm(F.col("qv")) * _norm(F.col("nv")))).alias("cosine"),
    ).filter(F.col("qid") != F.col("nid"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    ).drop("rn")


def lsh_bucket_ann(
    embeddings: DataFrame,
    query_vec: list[float],
    hyperplanes: list[list[float]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH ANN: signature = sign bits vs fixed
    hyperplanes; probe only vectors sharing the query's signature bucket,
    brute-force within. Hyperplanes are caller-fixed (deterministic).
    Recall < 1 by construction — the scale path; pair with bruteforce as
    reranker/oracle."""
    def sig_of(vec_col_expr):
        bits = []
        for i, h in enumerate(hyperplanes):
            hv = F.array(*[F.lit(float(x)) for x in h])
            bits.append(
                F.when(_dot(vec_col_expr, hv) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            )
        s = bits[0]
        for b in bits[1:]:
            s = s + b
        return s

    cast_vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    tagged = embeddings.select(
        F.col(id_col), cast_vec.alias("v")
    ).withColumn("bucket", sig_of(F.col("v")))

    # query signature computed the same way, driver-side constant
    import math

    qsig = 0
    for i, h in enumerate(hyperplanes):
        d = sum(a * b for a, b in zip(query_vec, h))
        if d >= 0:
            qsig |= 1 << i
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(sum(x * x for x in query_vec))
    return (
        tagged.filter(F.col("bucket") == F.lit(qsig))
        .select(
            F.col(id_col),
            (_dot(F.col("v"), q) / (_norm(F.col("v")) * F.lit(qn))).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivf_ann(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    n_probe: int = 2,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style ANN: assign each vector to its nearest centroid (argmin
    over fixed centroids — codegen'd expression chain), search only the
    n_probe cells nearest the query. Centroids are caller-fixed
    (k-means offline at scale)."""
    cast_vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def nearest_cell(vexpr):
        best_i, best_d = F.lit(0), F.lit(float("inf"))
        for i, c in enumerate(centroids):
            cv = F.array(*[F.lit(float(x)) for x in c])
            d = F.aggregate(
                F.zip_with(vexpr, cv, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            cond = d < best_d
            best_i = F.when(cond, F.lit(i)).otherwise(best_i)
            best_d = F.when(cond, d).otherwise(best_d)
        return best_i

    tagged = embeddings.select(F.col(id_col), cast_vec.alias("v")).withColumn(
        "cell", nearest_cell(F.col("v"))
    )
    # driver-side: the n_probe nearest cells to the query
    dists = [
        (i, sum((a - b) ** 2 for a, b in zip(query_vec, c)))
        for i, c in enumerate(centroids)
    ]
    probe = [i for i, _ in sorted(dists, key=lambda t: t[1])[:n_probe]]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        tagged.filter(F.col("cell").isin(probe))
        .select(
            F.col(id_col),
            (_dot(F.col("v"), q) / (_norm(F.col("v")) * _norm(q))).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    id_col: str = "vec_id",
    method: str = "ann",
    query_col: str | None = None,
) -> DataFrame:
    """recall@k of an approximate ANN result against the exact top-k — the
    quality gauge every approximate index deployment runs alongside the
    brute-force ground truth on a sample. Distinct + one semi-join + one
    aggregate; nothing collects to the driver.

    Round-3 ADVICE fixes: the approx ids are DISTINCT'd first (duplicate
    hits can no longer inflate recall past 1.0), and ``query_col`` — when
    given — keys both the distinct and the semi-join on (query, id) and
    groups the aggregate per query, so one call evaluates recall over
    millions of sampled queries at scale (each query's candidate set is
    compared only against ITS exact top-k)."""
    keys = [query_col, id_col] if query_col else [id_col]
    inter = (
        approx.select(*keys)
        .distinct()
        .join(exact.select(*keys).distinct(), keys, "left_semi")
    )
    if query_col:
        return inter.groupBy(query_col).agg(
            F.round(F.count("*") / F.lit(float(k)), 4).alias("recall_at_k")
        ).select(F.lit(method).alias("method"), query_col, "recall_at_k")
    return inter.agg(
        F.round(F.count("*") / F.lit(float(k)), 4).alias("recall_at_k")
    ).select(F.lit(method).alias("method"), "recall_at_k")
