"""Distributed connected components over a pair/edge list — the step that
turns near-dup candidate PAIRS (MinHash-LSH or embedding-LSH) into dedup
GROUPS ("keep one representative per component").

Algorithm: one-hop min-label propagation to a fixpoint — each round every
node takes the minimum label among itself and its direct neighbors via a
groupBy-min message pass.  Rounds needed = graph DIAMETER (near-dup clusters
are dense, so typically 2-4; a pathological length-k chain needs k rounds —
``connected_components`` warns if ``max_iter`` is exhausted before the
fixpoint).  This is the simple cousin of alternating large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14),
which converges in O(log n) rounds by rewiring edges; for dedup-shaped
graphs (small dense clusters, tiny diameter) the one-hop pass does fewer
shuffles per round and wins.  Every step is a plain DataFrame op — no
driver-side union-find — so it runs at 10^12-edge scale.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "embedding_dedup_groups", "near_dup_groups"]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    stats: dict | None = None,
    broadcast_labels_max: int = 4_000_000,
) -> DataFrame:
    """(node, component) for every node appearing in the edge list; the
    component id is the minimum node id of the component.

    The union of own-labels and neighbor messages is min-aggregated per node
    while simultaneously carrying the node's previous label, so the "did
    anything change?" convergence probe is a trivial max over the already
    materialized round (no separate join+count scan of the inputs).

    Each round ends in a ``localCheckpoint``: iterative label
    updates reference the previous generation TWICE (message join + union),
    so without lineage truncation the logical plan doubles per round —
    ``2^diameter`` leaves, which kills the driver on long chains long before
    data size matters (cache alone does NOT truncate the logical plan).
    Checkpointing keeps the plan O(1) per round; previous generations are
    dereferenced immediately and reclaimed by Spark's ContextCleaner, so
    executor storage stays O(nodes) amortized, not O(nodes × rounds).

    Warns (and returns the partial labeling) if ``max_iter`` rounds pass
    without reaching the fixpoint — component ids may then be split.

    ``stats``: pass a dict to receive ``{"rounds": n, "converged": bool}`` —
    production observability for diameter drift (a dedup graph suddenly
    needing 20 rounds means a giant quasi-duplicate cluster appeared).

    r7 round-cost fixes (the skewed-dedup CC dominated its bench entry):

    - The first propagation round is FUSED into label initialization: one
      ``groupBy(u).agg(least(u, min(v)))`` replaces the ``distinct`` init
      scan PLUS the first join round (identical labels by construction —
      round 1's output is min over self and direct neighbors).  Round
      counting is unchanged: the fused init IS round 1.  This saves one full
      edge-list shuffle (the distinct) and one complete round per call.
    - The per-round message join carries an explicit BROADCAST hint on the
      label table when the node count (known from the init's count, which
      also settles the empty-edge case) is at most ``broadcast_labels_max``.
      Plan inspection (plans/r07/cc_round_message_join_*) showed Spark 4
      PRESERVES size statistics through ``localCheckpoint``, so small label
      tables already auto-broadcast — the hint's value is (a) label tables
      between the 10 MB auto-broadcast threshold and ~64 MB (millions of
      nodes) would otherwise sort-merge-join the full cached edge list every
      round, and (b) the choice becomes deterministic instead of
      estimate-driven.  Above the threshold the shuffle join is the right
      call and behavior is unchanged.
    """
    # undirected edge list, both directions — emitted by ONE explode per
    # edge row instead of union(fwd, reversed(fwd)): the union referenced
    # the ``edges`` plan twice, so materializing the cache re-ran the whole
    # upstream candidate-pair pipeline (banded join + distinct) once per
    # branch (r7; same duplicate-subtree class as the banded-LSH fan-out)
    both = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("__e")
        )
        .select("__e.u", "__e.v")
        .distinct()
    )
    both = both.cache()

    # fused init ≡ classic round 1: label(u) = min(u, min direct neighbor).
    # localCheckpoint(eager=False) truncates the plan at call time but lets
    # the count() materialize the checkpoint — ONE job where eager + count
    # was two (r7 "CC per-round constant"; same trick each round below).
    labels = (
        both.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("label"))
        .localCheckpoint(eager=False)
    )
    n_nodes = labels.count()
    bcast = n_nodes <= broadcast_labels_max
    converged = False
    rounds = 1
    if n_nodes == 0:
        # no edges: nothing to propagate (rounds semantics match the r6 loop,
        # which detected the empty fixpoint on its first round)
        converged = True
    for _ in range(max_iter - 1):
        if converged:
            break
        rounds += 1
        msgs = (
            both.join(F.broadcast(labels) if bcast else labels, "u")
            .select(F.col("v").alias("u"), "label")
            .withColumn("__own", F.lit(False))
        )
        fused = (
            labels.withColumn("__own", F.lit(True))
            .unionByName(msgs)
            .groupBy("u")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("__own"), F.col("label"))).alias("__prev"),
            )
            .withColumn("__chg", F.col("label") < F.col("__prev"))
            # non-eager: the convergence aggregate below computes every
            # partition, so it materializes the checkpoint in the SAME job
            # (plan still truncated here, at call time)
            .localCheckpoint(eager=False)
        )
        any_changed = fused.agg(F.max("__chg").alias("c")).collect()[0]["c"]
        labels = fused.drop("__prev", "__chg")
        if not any_changed:
            converged = True
            break
    both.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        warnings.warn(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; component labels may be split — raise max_iter",
            stacklevel=2,
        )
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def _groups(df: DataFrame, pairs: DataFrame, id_col: str, stats: dict | None) -> DataFrame:
    """(id, component, is_kept) for every row of ``df``: connected components
    over the verified ``(id_a, id_b)`` pairs, a singleton component for an
    id in no pair, and ``is_kept`` on the minimum id per component."""
    comps = connected_components(pairs.select("id_a", "id_b"), stats=stats)
    out = (
        df.select(F.col(id_col))
        .join(comps, df[id_col] == comps["node"], "left")
        .select(F.col(id_col), F.coalesce("component", F.col(id_col)).alias("component"))
    )
    keep = out.groupBy("component").agg(F.min(id_col).alias("__keep"))
    return out.join(keep, "component").select(
        id_col, "component", (F.col(id_col) == F.col("__keep")).alias("is_kept")
    )


def embedding_dedup_groups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.99,
    bits: int = 16,
    bands: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Embedding-cosine dedup groups: banded hyperplane-LSH pairs →
    connected components → (id, component, is_kept) — the embedding analog
    of :func:`near_dup_groups` ("keep one representative per cluster of
    near-identical vectors"), e.g. dropping re-embedded duplicates from a
    training corpus.  Every stage is bucketed equi-joins + the CC label
    pass; no cross join at any size.

    ``stats``: pass a dict to receive the whole pipeline's observability —
    the LSH cap's ``n_buckets_dropped``/``n_rows_dropped`` (no silent caps,
    r6) plus CC's ``rounds``/``converged``."""
    from .similarity import embedding_near_dup_pairs

    pairs = embedding_near_dup_pairs(
        df, dim, threshold, bits, bands, vec_col, id_col, seed, max_bucket_size,
        stats=stats,
    )
    return _groups(df, pairs, id_col, stats)


def near_dup_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """End-to-end near-dup detection: MinHash → LSH candidate pairs →
    exact-Jaccard verify → connected components → (id, component, is_kept).

    ``is_kept`` marks the minimum id per component — filter on it to produce
    the deduplicated corpus; everything stays distributed.

    ``stats``: pass a dict to receive the pipeline's observability — the
    LSH cap's ``n_buckets_dropped``/``n_rows_dropped`` (no silent caps, r6)
    plus CC's ``rounds``/``converged``.
    """
    from .dedup import lsh_candidate_pairs, minhash_signatures, ngram_jaccard

    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k)
    pairs = lsh_candidate_pairs(sigs, id_col, num_bands, max_bucket_size, stats=stats)
    texts = docs.select(F.col(id_col), F.col(text_col))
    enriched = (
        pairs.join(texts.withColumnRenamed(id_col, "id_a").withColumnRenamed(text_col, "text_a"), "id_a")
        .join(texts.withColumnRenamed(id_col, "id_b").withColumnRenamed(text_col, "text_b"), "id_b")
    )
    verified = ngram_jaccard(enriched, "text_a", "text_b", shingle_k).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    return _groups(docs, verified, id_col, stats)
