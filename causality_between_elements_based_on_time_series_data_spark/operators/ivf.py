"""IVF (inverted-file) approximate nearest neighbor — [EXT] SURVEY §2.11.

The scale path for similarity search when LSH recall is poor on the
data distribution: cluster the corpus once (KMeans — MLlib, distributed),
assign every vector to its nearest centroid, then answer queries by
searching only the ``n_probe`` closest clusters.  Candidate count drops
from N to ~N·n_probe/k, and the expensive exact cosine re-rank runs on
candidates only.

All joins here are broadcast (centroids and queries are small); the
corpus never moves after the one-time cluster assignment.  At 100 TB
the assignment is a materialized, bucketed-by-cluster table —
``ivf_bucketed_cosine_topk`` below is exactly that shape: the assigned
corpus is written ``bucketBy(cluster)`` once, and every probe joins it
co-located (zero Exchange on the corpus side, gated in
``tests/test_bucketing.py``) or, with literal probe ids, reads only
the selected buckets (bucket pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.arrays import cosine_similarity
from ..sources.catalog import local_frame

# Average inverted-list target: the cluster count must GROW with the
# corpus or every probe's list grows linearly with N and the index
# degenerates to brute force (measured on the fixed-count RP tier in
# SCALE_r7.md finding 1 — the same math applies to the KMeans tier).
TARGET_BUCKET = 256


def adaptive_n_clusters(n_rows: int, floor: int = 8) -> int:
    """max(floor, ceil(n/TARGET_BUCKET)) — keeps the average inverted
    list ~TARGET_BUCKET vectors at any corpus size."""
    return max(floor, (n_rows + TARGET_BUCKET - 1) // TARGET_BUCKET)


def ivf_assign(
    corpus: DataFrame,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """One-time IVF build: KMeans over the corpus, every vector assigned
    to its nearest centroid.  Returns ``(assigned, centers)`` where
    ``assigned`` is (nid, nvec, cluster) and ``centers`` is the tiny
    (cluster, center) table (k rows — always broadcastable).

    ``n_clusters=None`` (the default) derives the cluster count from
    the corpus size via :func:`adaptive_n_clusters`; at fixture sizes
    (<= 2048 vectors) that resolves to the historical k=8."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_clusters is None:
        n_clusters = adaptive_n_clusters(corpus.count())
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")).withColumn(
        "features", array_to_vector(F.col("nvec").cast("array<double>"))
    )
    km = KMeans(k=n_clusters, seed=seed, featuresCol="features", predictionCol="cluster")
    model = km.fit(c)
    assigned = model.transform(c).select("nid", "nvec", "cluster")

    centers = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())]
    centers_df = local_frame(corpus.sparkSession, centers, "cluster int, center array<double>")
    return assigned, centers_df


def probe_clusters(
    queries: DataFrame,
    centers_df: DataFrame,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rank clusters per query by centroid cosine, keep ``n_probe``.
    Output (qid, qvec, cluster) — #queries × n_probe rows, small by
    construction, so downstream joins against the corpus broadcast it."""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    qc = q.join(F.broadcast(centers_df)).select(
        "qid", "qvec", "cluster", cosine_similarity(F.col("qvec"), F.col("center")).alias("csim")
    )
    wq = W.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cluster"))
    return (
        qc.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= n_probe)
        .select("qid", "qvec", "cluster")
    )


def _topk_rerank(cand: DataFrame, k: int) -> DataFrame:
    """Exact cosine re-rank on candidates only; distributed top-k via
    per-query row_number (partial TakeOrdered per partition)."""
    pairs = cand.select("qid", "nid", cosine_similarity(F.col("qvec"), F.col("nvec")).alias("sim"))
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_clusters: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine neighbors via KMeans inverted lists."""
    assigned, centers_df = ivf_assign(corpus, n_clusters, id_col, vec_col, seed)
    probes = probe_clusters(queries, centers_df, n_probe, id_col, vec_col)

    # search only within probed clusters; probe side broadcasts
    cand = assigned.join(F.broadcast(probes), "cluster").filter(F.col("nid") != F.col("qid"))
    return _topk_rerank(cand, k)


def ivf_bucketed_cosine_topk(
    spark,
    corpus: DataFrame,
    queries: DataFrame,
    table: str,
    k: int = 3,
    n_clusters: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF with the 100 TB corpus layout made real: the assigned corpus
    is MATERIALIZED ``bucketBy(n_clusters, cluster)`` + ``sortBy`` into
    ``table``, then probed from the bucketed table.  The bucket write
    is the one-time build cost; after it, every probe batch joins the
    corpus on ``cluster`` with no Exchange on the corpus side (the
    bucketed layout already co-locates each inverted list), and a
    literal ``cluster IN (...)`` probe prunes unread buckets entirely —
    both plan shapes are gated in ``tests/test_bucketing.py``.

    Algorithmically identical to ``ivf_cosine_topk`` (same seed → same
    model → same answer; equivalence pytested); only the corpus layout
    and therefore the physical plan differ.
    """
    if n_clusters is None:
        n_clusters = adaptive_n_clusters(corpus.count())
    assigned, centers_df = ivf_assign(corpus, n_clusters, id_col, vec_col, seed)
    (
        assigned.write.mode("overwrite")
        .bucketBy(n_clusters, "cluster")
        .sortBy("cluster")
        .saveAsTable(table)
    )
    bucketed = spark.table(table)

    probes = probe_clusters(queries, centers_df, n_probe, id_col, vec_col)
    cand = bucketed.join(F.broadcast(probes), "cluster").filter(F.col("nid") != F.col("qid"))
    return _topk_rerank(cand, k)
