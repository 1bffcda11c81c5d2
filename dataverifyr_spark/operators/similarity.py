"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — the dot product is a single
``F.aggregate``/``zip_with`` column expression (JVM-side), and the top-k is a
global sort LIMIT which Spark executes as per-partition top-k + merge
(TakeOrderedAndProject), no full sort shuffle.

Scale path: random-hyperplane LSH — sign-bit bucket keys computed with the
same column algebra; candidate search touches only the query's bucket
(and optionally Hamming-adjacent probes), turning O(N) scans into
O(N / 2^bits) per query.  Hyperplanes are derived deterministically from a
seed via xxhash64 so driver and executors agree without broadcasting floats.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cosine_similarity_col",
    "brute_force_topk",
    "hyperplane_lsh_buckets",
    "lsh_topk",
    "lsh_topk_multiprobe",
    "embedding_near_dup_pairs",
    "topk_join",
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine_similarity_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    The query goes in as an array literal (constant-folded), so the scan is a
    single projection + TakeOrderedAndProject — no shuffle of the vectors.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    sim = cosine_similarity_col(F.col(vec_col), q)
    return (
        df.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a hash sequence (no RNG
    state, reproducible across driver restarts — resume-safe)."""
    planes = []
    for b in range(bits):
        row = []
        for d in range(dim):
            h = hash_u64(seed * 1_000_003 + b * 131 + d)
            row.append((h / 2**63) - 1.0)  # uniform-ish in [-1, 1)
        planes.append(row)
    return planes


def hash_u64(x: int) -> int:
    # splitmix64 — public-domain mixing function
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


# plane-tensor elements (bands × bits × dim) above which the sign-bit codes
# are computed by an Arrow-batched pandas UDF over a BROADCAST numpy matrix
# instead of an in-plan literal fold.  Catalyst ANALYSIS walks every element
# of a nested literal (measured in ivf.py: k=1024 × dim=128 ≈ 131k elements
# costs ~54 s of pure analysis), so production embedding dims (768–4096) with
# bits=32+ must not enter the plan as literals.  Same policy knob as
# ivf._EXPR_ASSIGN_MAX.
_EXPR_LSH_MAX = 8192


def _lsh_codes(
    vec_col: str,
    df: DataFrame,
    dim: int,
    bits: int,
    band_seeds: list[int],
) -> Column:
    """``array<long>`` of packed sign-bit codes, one entry per band seed.

    Small tensors: the WHOLE bands×bits×dim plane tensor enters the plan as a
    single nested ``array<array<array<double>>>`` literal, and each band's
    code is ONE ``aggregate`` fold pairing planes with bit weights — one
    traversal of the band's planes per row, instead of the previous
    bits-deep chain of separate dim-length literals (bits×dim literal nodes
    and bits full-vector CASE branches per band).

    Large tensors (> ``_EXPR_LSH_MAX`` elements): one Arrow-batched pandas
    UDF computes ``sign(X @ P.T)`` for all bands in a single BLAS matmul
    against a broadcast plane matrix — no per-row Python, and the floats ship
    to each executor once instead of inside every task's serialized plan.
    Sign of a near-zero dot product may differ between the two paths (fold is
    left-to-right, BLAS is pairwise), which only perturbs bucket assignment
    of boundary vectors — LSH recall math is unaffected.
    """
    if bits > 62:
        raise ValueError(f"bits must be <= 62 to pack into a signed long, got {bits}")
    bands = len(band_seeds)
    planes = [_hyperplanes(dim, bits, s) for s in band_seeds]  # bands × bits × dim

    if bands * bits * dim <= _EXPR_LSH_MAX:
        vec = F.col(vec_col)
        weights = F.lit([1 << i for i in range(bits)])  # array<long>, distinct powers

        def band_code(band_planes: list[list[float]]) -> Column:
            pairs = F.zip_with(
                F.lit(band_planes),
                weights,
                lambda p, w: F.struct(w.alias("w"), p.alias("p")),
            )

            def step(acc: Column, pr: Column) -> Column:
                d = F.aggregate(
                    F.zip_with(vec, pr["p"], lambda x, y: x.cast("double") * y),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
                # weights are distinct powers of two, so + is bitwise OR
                return acc + F.when(d >= 0, pr["w"]).otherwise(F.lit(0).cast("long"))

            return F.aggregate(pairs, F.lit(0).cast("long"), step)

        return F.array(*[band_code(bp) for bp in planes])

    mat = np.asarray(planes, dtype=np.float64).reshape(bands * bits, dim)
    bc = df.sparkSession.sparkContext.broadcast(mat)
    n_bands, n_bits = bands, bits

    @F.pandas_udf("array<long>")
    def _codes(vecs: pd.Series) -> pd.Series:
        m = bc.value
        vals = vecs.to_numpy()
        # NULL/wrong-length vectors get all-zero codes — the same bucket the
        # expression path assigns them (NULL dot → NULL ≥ 0 is false per bit)
        ok = np.array([v is not None and len(v) == m.shape[1] for v in vals])
        packed = np.zeros((len(vals), n_bands), dtype=np.int64)
        if ok.any():
            x = np.vstack(vals[ok]).astype(np.float64)
            signs = (x @ m.T) >= 0.0  # (n_ok, bands*bits)
            w = np.left_shift(np.int64(1), np.arange(n_bits, dtype=np.int64))
            packed[ok] = (signs.reshape(len(x), n_bands, n_bits) * w).sum(axis=2)
        return pd.Series([row.tolist() for row in packed])

    return _codes(F.col(vec_col))


def hyperplane_lsh_buckets(
    df: DataFrame,
    dim: int,
    bits: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Add a ``bucket`` column: sign bits of <vec, plane_b> packed into a long."""
    return df.withColumn("bucket", _lsh_codes(vec_col, df, dim, bits, [seed])[0])


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict the brute-force scan to the query's LSH
    bucket — :func:`lsh_topk_multiprobe` with ``probes=0``.  Recall improves
    with fewer bits (bigger buckets); partition the table by ``bucket`` on
    write to turn this into partition pruning."""
    return lsh_topk_multiprobe(df, query_vec, k, bits, 0, vec_col, id_col, seed)


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 16,
    bands: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: ``bands`` independent
    random-hyperplane LSH codes → within-bucket equi-join per band →
    distinct candidate pairs → exact cosine verify.

    A pair is a candidate if ANY band's full ``bits``-bit code matches —
    per-pair miss probability (1 − p^bits)^bands with p = 1 − arccos(c)/π,
    so e.g. cosine 0.999 with bits=16, bands=4 misses < 1e-6 while each
    band still splits the table into 2^16 buckets (a SINGLE 16-bit code
    would find only ~70% of such pairs; banding buys recall without
    coarsening the buckets).  The per-(band,bucket) size cap bounds the
    quadratic cost of degenerate clusters (e.g. all-zero embeddings)
    exactly like the MinHash-LSH path.  No cross join anywhere.

    ``stats``: pass a dict to receive ``n_buckets_dropped`` /
    ``n_rows_dropped`` — the same no-silent-caps accounting as
    ``dedup.lsh_candidate_pairs`` (r6).
    """
    from .dedup import _bucket_pairs

    band_seeds = [seed + 7919 * b for b in range(bands)]
    # only the narrow (id, band, bucket) codes are checkpointed and
    # self-joined; the vectors re-enter for the verify step alone
    codes = df.select(
        F.col(id_col),
        F.posexplode(_lsh_codes(vec_col, df, dim, bits, band_seeds)).alias("band", "bucket"),
    )
    cand = _bucket_pairs(codes, id_col, max_bucket_size, stats)
    vecs = df.select(F.col(id_col), F.col(vec_col))
    enriched = cand.join(
        vecs.withColumnRenamed(id_col, "id_a").withColumnRenamed(vec_col, "__va"), "id_a"
    ).join(vecs.withColumnRenamed(id_col, "id_b").withColumnRenamed(vec_col, "__vb"), "id_b")
    sim = cosine_similarity_col(F.col("__va"), F.col("__vb"))
    return (
        enriched.select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def _probe_masks(bits: int, probes: int) -> list[int]:
    """XOR masks flipping every set of at most ``probes`` of ``bits`` sign
    bits, fewest flips first (``[0]`` at probes=0; 1+bits masks at
    probes=1) — shared by the single-query and batch multiprobe searches."""
    return [
        sum(1 << b for b in flip)
        for r in range(probes + 1)
        for flip in combinations(range(bits), r)
    ]


def lsh_topk_multiprobe(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Multiprobe LSH top-k: search the query's bucket plus the buckets at
    Hamming distance ≤ ``probes`` (flip up to ``probes`` sign bits).

    probes=1 searches 1+bits buckets — recall rises steeply because the most
    likely LSH failure is a single near-boundary hyperplane flipping one bit.
    The candidate scan stays O(N·(1+bits)/2^bits); with the table written
    partitioned by ``bucket``, the isin filter becomes partition pruning.
    """
    dim = len(query_vec)
    planes = _hyperplanes(dim, bits, seed)
    qbucket = 0
    for b, plane in enumerate(planes):
        if sum(q * p for q, p in zip(query_vec, plane)) >= 0:
            qbucket |= 1 << b
    targets = {qbucket ^ m for m in _probe_masks(bits, probes)}
    bucketed = hyperplane_lsh_buckets(df, dim, bits, vec_col, seed)
    return brute_force_topk(
        bucketed.filter(F.col("bucket").isin(sorted(targets))), query_vec, k, vec_col, id_col
    )


def topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    bits: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Batch top-k: every query row against the corpus in one job.

    Default: broadcast the (small) query side into a cross join — each
    corpus partition scores all queries locally, and the per-query top-k is a
    window over (query, sim), shuffling only corpus_rows×queries score rows.
    With ``bits`` set, both sides are hyperplane-bucketed and joined on the
    bucket instead — candidates shrink to same-bucket pairs (ANN, recall per
    the LSH notes above).  ``broadcast_queries=False`` (bucketed mode only)
    shuffle-joins the two bucketed sides instead — the shape for query sets
    too large to broadcast; the unbucketed cross join requires broadcast.
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    if bits is not None:
        if dim is None:
            raise ValueError("dim is required for bucketed topk_join")
        corpus_b = hyperplane_lsh_buckets(corpus, dim, bits, vec_col, seed)
        queries_b = hyperplane_lsh_buckets(
            q.withColumnRenamed("__qvec", vec_col), dim, bits, vec_col, seed
        ).withColumnRenamed(vec_col, "__qvec")
        joined = corpus_b.join(
            F.broadcast(queries_b) if broadcast_queries else queries_b, "bucket"
        )
    else:
        if not broadcast_queries:
            raise ValueError(
                "broadcast_queries=False requires bucketed mode (set bits=...) — "
                "an unbucketed big-queries join would be an all-pairs cartesian"
            )
        joined = corpus.crossJoin(F.broadcast(q))
    sim = cosine_similarity_col(F.col(vec_col), F.col("__qvec"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        joined.select(F.col(query_id_col), F.col(id_col), sim.alias("cosine_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
