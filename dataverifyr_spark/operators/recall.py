"""ANN recall@k observability — production guardrails for the approximate
search paths (LSH / multiprobe / IVF / PQ).

At 10^12 rows nobody can eyeball whether ``nprobe=2`` or ``bits=8`` is
costing recall; the operators here measure it ON A SAMPLE with the exact
same distributed shapes as the production search:

* batch searchers (``ivf_topk_join``, ``lsh_topk_join_multiprobe``) run ALL
  sample queries in ONE equi-join job — corpus bucketed/indexed once, the
  (small) query side broadcast, per-query top-k via a window.  No per-query
  driver loop, no cartesian: candidates are same-bucket / probed-list pairs
  only.  Each hit row carries ``n_candidates`` (that query's candidate-set
  size) so the recall/cost trade-off is visible per query.
* ``recall_report`` joins an exact truth table (``similarity.topk_join``
  broadcast mode on the same sample) against the ANN results → one row per
  query: ``n_truth, n_hit, recall, n_candidates``.
* ``recall_summary`` rolls that up to a single check_data-shaped
  observability row (mean/min recall, mean candidate fraction).

Reference analog: none (dataverifyr is tabular-only); this is the graft's
scale extension, same spirit as its per-rule pass/fail summaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ivf import _sq_dist
from .similarity import _probe_masks, cosine_similarity_col, hyperplane_lsh_buckets

__all__ = [
    "ivf_topk_join",
    "lsh_topk_join_multiprobe",
    "recall_report",
    "recall_summary",
]


def _ranked_topk(
    joined: DataFrame, k: int, query_id_col: str, id_col: str, vec_col: str
) -> DataFrame:
    """Per-query exact top-k + candidate-set size over a candidate join."""
    sim = cosine_similarity_col(F.col(vec_col), F.col("__qvec"))
    scored = joined.select(
        F.col(query_id_col), F.col(id_col), sim.alias("cosine_sim")
    )
    part = Window.partitionBy(query_id_col)
    w = part.orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("n_candidates", F.count(F.lit(1)).over(part))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_topk_join(
    indexed: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batch IVF search: every query against its ``nprobe`` nearest inverted
    lists in ONE job.

    The probe-list derivation is pure Catalyst: per query, an array of
    (squared-distance, cluster-id) structs over the centroid literals is
    ``array_sort``-ed (struct order = dist then id — the same first-min
    tie-break as ``ivf.assign_clusters``), sliced to ``nprobe`` and exploded
    to (query, cluster) rows; the corpus joins on ``cluster`` equality.
    Shuffle carries only probed-list candidates — a query never touches the
    other ``ncentroids - nprobe`` lists.
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    if len({len(c) for c in centroids}) != 1:
        # a short centroid would silently truncate the zip inside _sq_dist
        # and corrupt probe selection
        raise ValueError("ragged centroids: every centroid must have the same length")
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    dists = F.array(
        *[
            F.struct(
                _sq_dist(F.col("__qvec"), cent).alias("d"), F.lit(i).alias("cluster")
            )
            for i, cent in enumerate(centroids)
        ]
    )
    probes = q.withColumn(
        "cluster",
        F.explode(
            F.transform(
                F.slice(F.array_sort(dists), 1, nprobe), lambda s: s["cluster"]
            )
        ),
    )
    joined = indexed.join(F.broadcast(probes), "cluster")
    return _ranked_topk(joined, k, query_id_col, id_col, vec_col)


def lsh_topk_join_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    bits: int = 8,
    probes: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Batch multiprobe-LSH search: every query against its sign bucket plus
    the buckets within Hamming distance ``probes``, in ONE equi-join job.

    Both sides bucket with the same deterministic hyperplanes; the query
    side explodes over the (shared, tiny) XOR-mask literal array — 1+bits
    masks at probes=1 — so a query matching m buckets is m broadcast rows,
    and the corpus join stays bucket-equality (partition pruning when the
    corpus is written partitioned by bucket).  probes=0 degenerates to the
    plain bucketed ``topk_join`` with an added ``n_candidates`` column.
    """
    if dim is None:
        raise ValueError("dim is required (hyperplanes are dim-shaped)")
    corpus_b = hyperplane_lsh_buckets(corpus, dim, bits, vec_col, seed)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    queries_b = hyperplane_lsh_buckets(
        q.withColumnRenamed("__qvec", vec_col), dim, bits, vec_col, seed
    ).withColumnRenamed(vec_col, "__qvec")

    targets = queries_b.withColumn(
        "bucket",
        F.explode(
            F.transform(
                F.array(*[F.lit(m) for m in _probe_masks(bits, probes)]),
                lambda m: F.col("bucket").bitwiseXOR(m),
            )
        ),
    )
    joined = corpus_b.join(F.broadcast(targets), "bucket")
    return _ranked_topk(joined, k, query_id_col, id_col, vec_col)


def recall_report(
    truth: DataFrame,
    approx: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall: ``(query_id, n_truth, n_hit, recall,
    n_candidates)``.

    ``truth`` is the exact result on the SAME sample (use
    ``similarity.topk_join`` broadcast mode); a query the ANN path returned
    nothing for (empty bucket) reads recall 0.0, never a missing row —
    truth drives the row set.  ``n_candidates`` is carried from ``approx``
    when present (NULL→0 for empty-bucket queries).
    """
    t = truth.select(query_id_col, id_col)
    n_truth = t.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_truth"))
    hits = (
        t.join(approx.select(query_id_col, id_col), [query_id_col, id_col], "inner")
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    out = n_truth.join(hits, query_id_col, "left").withColumn(
        "n_hit", F.coalesce(F.col("n_hit"), F.lit(0))
    )
    if "n_candidates" in approx.columns:
        cand = approx.groupBy(query_id_col).agg(
            F.max("n_candidates").alias("n_candidates")
        )
        out = out.join(cand, query_id_col, "left").withColumn(
            "n_candidates", F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long")
        )
    else:
        out = out.withColumn("n_candidates", F.lit(None).cast("long"))
    return out.withColumn(
        "recall", F.round(F.col("n_hit") / F.col("n_truth"), 4)
    ).select(query_id_col, "n_truth", "n_hit", "recall", "n_candidates")


def recall_summary(report: DataFrame, corpus_size: int | None = None) -> DataFrame:
    """One observability row over a :func:`recall_report`: ``(n_queries,
    mean_recall, min_recall, mean_candidates, candidate_frac)`` — the number
    a pipeline alarms on (mean/min recall) next to the cost it buys
    (candidate fraction of the corpus scanned per query)."""
    frac = (
        F.round(F.avg("n_candidates") / F.lit(float(corpus_size)), 6)
        if corpus_size
        else F.lit(None).cast("double")
    )
    return report.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall"), 4).alias("mean_recall"),
        F.round(F.min("recall"), 4).alias("min_recall"),
        F.round(F.avg("n_candidates"), 2).alias("mean_candidates"),
        frac.alias("candidate_frac"),
    )
