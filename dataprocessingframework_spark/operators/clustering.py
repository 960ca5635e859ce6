"""Embedding clustering — semantic grouping for curation at scale.

Cluster-then-act is the scale pattern for semantic operations on a
100 TB corpus: k-means the embeddings once, then run expensive logic
(semantic dedup, stratified sampling, topic balancing, per-cluster
quality review) within clusters instead of across the whole corpus.
The reference has no embedding operations at all; this rounds out the
similarity stack in similarity.py, whose ivf_topk applies the same
partition-first idea to search: a coarse quantizer (hash-seeded
centroids plus Lloyd rounds) blocks the corpus into cells, and a query
scores only its probed cells.

Built on Spark MLlib's distributed KMeans (JVM, Catalyst-adjacent):
seeded and deterministic for a fixed input, tested for stability, but
still iterative floating-point — so registry exposure is rows-only,
with invariants asserted in tests rather than a value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kmeans_clusters(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """(id, cluster) assignment via MLlib KMeans over an
    ``array<float>`` embedding column. One pass converts the array to
    an ML vector (narrow); training shuffles only partial aggregates
    per iteration (centroid sums), never the corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        F.col(id_col), array_to_vector(F.col(vec_col)).alias("__features")
    )
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="__features"
    ).fit(feat)
    return model.transform(feat).select(
        F.col(id_col), F.col("prediction").alias("cluster")
    )


def cluster_representatives(
    assignments: DataFrame,
    df: DataFrame,
    id_col: str,
    order_col: str | None = None,
) -> DataFrame:
    """One representative row per cluster (min ``order_col``, default
    the id): the semantic-dedup decision step — keep one doc per
    semantic cluster. Single window shuffle on cluster."""
    from pyspark.sql import Window

    joined = df.join(assignments, id_col)
    w = Window.partitionBy("cluster").orderBy(F.col(order_col or id_col))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
