"""Deduplication operators for training-data pipelines.

Exact dedup is a fingerprint group-by (one shuffle, partial-agg friendly).
Near-dup is MinHash + LSH banding: shingle → per-seed min-hash →
band keys → self-join on (band, band_hash) — candidate pairs only, never the
O(n²) cross join.  SimHash gives a 64-bit similarity fingerprint whose
Hamming distance approximates cosine similarity of token frequency vectors.

Everything below is built-in ``pyspark.sql.functions`` column algebra
(xxhash64 with a per-seed salt literal, transform/array_min for the min-hash,
aggregate for simhash bit-majority) — JVM-side, no Python UDFs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "exact_dup_groups",
    "drop_exact_dupes",
    "shingles",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "lsh_pairs_against",
    "simhash",
    "md5_hash32",
    "ngram_jaccard",
]


def _norm(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fingerprint group-by: one row per distinct content with its copy count
    and the minimum id (the canonical survivor)."""
    return (
        df.select(F.xxhash64(_norm(F.col(text_col))).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def drop_exact_dupes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per distinct normalized content.

    Join back on (fingerprint, id) — two shuffles total, no window over the
    full table (a row_number window would sort every partition's worth of
    payload bytes; this joins only the small (fingerprint, keep_id) side).
    """
    keep = exact_dup_groups(df, text_col, id_col).select(
        "fingerprint", F.col("keep_id").alias(id_col)
    )
    fp = df.withColumn("fingerprint", F.xxhash64(_norm(F.col(text_col))))
    return fp.join(keep, ["fingerprint", id_col], "left_semi").drop("fingerprint")


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct).

    The token array is let-bound via transform-over-a-singleton so the
    split runs ONCE per row: Catalyst does not CSE across lambda bodies,
    and the naive inline form re-evaluated split(normalize(text)) for
    every shingle — O(tokens²) on long documents (measured 2.4× end-to-end
    on minhash_signatures at 1000 tokens/doc; the same lesson staged
    projections fix in text.winnow_fingerprints, expressed here as a pure
    Column so every caller keeps composing)."""

    def build(tk: Column) -> Column:
        n = F.size(tk)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.array_distinct(
            F.when(
                n >= k,
                F.transform(idx, lambda i: F.array_join(F.slice(tk, i + 1, k), " ")),
            ).otherwise(F.array(F.array_join(tk, " ")))
        )

    return F.element_at(F.transform(F.array(F.split(_norm(text), " ")), build), 1)


def _hashed_shingles(text: Column, k: int) -> Column:
    """Word k-gram shingles as an ``array<long>`` of 64-bit hashes — the
    identity MinHash actually consumes, built WITHOUT materializing shingle
    strings.

    Each token string is hashed ONCE (``xxhash64``); a shingle's hash is one
    fixed-width ``xxhash64`` over its k consecutive token hashes.  Versus
    hashing concatenated k-gram strings this removes, per shingle, one
    ~20-byte string allocation + copy and re-hashing every token k times —
    the r7 long-doc profile showed shingle-string construction as a third of
    the signature stage (guide §2.3: shuffle/aggregate keys, not payloads).
    Token arrays are let-bound via transform-over-a-singleton (the lambda-CSE
    guard, see :func:`shingles`).  Short texts (< k tokens) degrade to one
    shingle hashing the whole token-hash array, mirroring the whole-text
    fallback of :func:`shingles`.  Duplicate k-grams are NOT deduplicated:
    a min-aggregate is multiset-invariant, so ``array_distinct`` (an extra
    O(n) pass over every row) buys nothing downstream.
    """

    def build(th: Column) -> Column:
        n = F.size(th)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(k)]),
            ),
        ).otherwise(F.array(F.xxhash64(th)))

    token_hashes = F.transform(F.split(_norm(text), " "), lambda t: F.xxhash64(t))
    return F.element_at(F.transform(F.array(token_hashes), build), 1)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """id + minhash signature array (length num_hashes).

    Each hash family member is ``xxhash64(shingle_hash, seed_i)`` where
    ``shingle_hash`` is the 64-bit k-gram hash from
    :func:`_hashed_shingles`; min over the shingle set approximates Jaccard
    similarity between documents exactly as in the string-shingle family
    (r1–r6), but each per-seed evaluation hashes a FIXED-WIDTH pair of longs
    instead of re-walking the shingle string — on the 1000-token long-doc
    bench corpus this cut the signature stage 2.5× (2.58 s → 1.04 s
    isolated, bench_extra/OPTIMIZATION_r07.md).

    Shape: explode shingle hashes → one flat (id, hash64) row — the shuffle
    and the aggregate touch 8 bytes per shingle, never text — → groupBy(id)
    with ``num_hashes`` min aggregates (declarative, codegen HashAggregate,
    map-side partial; the shuffle carries only num_hashes longs per doc).

    Measured and REJECTED:
    - (r4, still valid) a per-row ``aggregate`` fold keeping an array of
      running minimums — interpreted HOF evaluation + per-shingle array
      allocation made the full candidate-pair query 4.8 s → 8.9 s.  (Beware
      benchmarking the signature stage under a count(): Catalyst prunes the
      unreferenced signature column and the fold computes nothing.)
    - (r7) one-permutation hashing with circular densification (the r6
      VERDICT #3 candidate): binning by ``pmod(hash, num_hashes)`` + one
      conditional min per bin + a densify pass was SLOWER than this family
      on every corpus (long docs 1.24 s vs 1.04 s; short-doc skew corpus
      1.31 s vs 0.91 s isolated): 32 null-guarded conditional mins plus an
      interpreted-HOF densification cost more than 32 codegen'd fixed-width
      hashes, and sparse-doc densification correlates band slots (more
      cross-variant candidate buckets on boilerplate corpora).
    """
    exploded = df.select(
        F.col(id_col), F.explode(_hashed_shingles(F.col(text_col), shingle_k)).alias("__h")
    )
    mins = exploded.groupBy(id_col).agg(
        *[F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"__mh{i}") for i in range(num_hashes)]
    )
    return mins.select(
        F.col(id_col), F.array(*[F.col(f"__mh{i}") for i in range(num_hashes)]).alias("signature")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 16,
    max_bucket_size: int | None = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Band the signatures and self-join on band buckets → candidate pairs.

    Rows with ANY identical band collide; output is distinct (id_a < id_b)
    pairs.  The join key is (band_index, hash(band slice)) so the shuffle key
    space is wide even when one band value is hot.

    ``max_bucket_size`` guards the quadratic blowup: a bucket of B members
    yields B²/2 pairs, so one hot bucket (boilerplate/empty documents) can
    dominate the whole job at 10^12 scale.  Buckets above the cap are dropped
    from the pair join — such clusters are better handled by exact dedup on
    the full band fingerprint (they are near-identical by construction).

    ``stats``: pass a dict to receive the cap's cost — NO SILENT CAPS
    (r5 VERDICT #4): ``n_buckets_dropped`` (over-cap (band, bucket) buckets)
    and ``n_rows_dropped`` (band-membership rows inside them; a document in
    two hot buckets counts twice).  Computed as one extra tiny aggregate on
    the already-derived bucket-size frame; dropped buckets mean candidate
    recall < 1 for pairs living only inside them.

    r7: the banded frame is MATERIALIZED once (``localCheckpoint``) before
    fan-out.  The band rows feed up to four plan consumers (bucket-size
    aggregate, cap filter, both self-join sides), and Spark's exchange-reuse
    cannot deduplicate them: plans containing lambda HOFs (the banding
    ``transform``) fail canonicalized-plan equality, so EXPLAIN showed the
    full scan→shingle→minhash pipeline FOUR times per query, zero
    ReusedExchange.  Checkpointing the (id, band, bucket) proxy — never the
    text — costs one banding pass and one executor-storage write of
    O(docs × bands) narrow rows (the guide §8 "decide with small rows"
    shape); it is freed by the ContextCleaner when the result is dropped,
    and every run still computes from the raw inputs (within-query
    materialization, not cross-run caching).
    """
    return _bucket_pairs(_banded(sigs, id_col, num_bands), id_col, max_bucket_size, stats)


def _cap_buckets(
    banded: DataFrame, max_bucket_size: int | None, stats: dict | None
) -> DataFrame:
    """The ``(…, band, bucket)`` rows materialized once, minus every bucket
    over ``max_bucket_size`` — the one hot-bucket cap behind the MinHash
    self-join, the cross-corpus join (per side) and the embedding pairs.
    ``stats`` receives ``n_buckets_dropped``/``n_rows_dropped`` (zeros when
    uncapped).

    Sequencing rule for the checkpoints: when the stats path runs, its
    _dropped_counts collect is the FIRST action and computes sizes → banded
    end to end, so both checkpoints can be non-eager and materialize inside
    that one job (plan truncation still happens here, at call time) — one
    job where three ran.  Without the sequencing collect the first consumer
    is the caller's join, whose map stages run CONCURRENTLY and would each
    compute a lazy checkpoint; that branch stays eager."""
    seq = max_bucket_size is not None and stats is not None
    banded = banded.localCheckpoint(eager=not seq)
    if max_bucket_size is None:
        if stats is not None:
            stats.update(n_buckets_dropped=0, n_rows_dropped=0)
        return banded
    # two-shuffle guard: count per bucket (partial-agg), drop hot buckets
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__bsz"))
    if stats is not None:
        # localCheckpoint (NOT persist): materializes the tiny bucket-size
        # table once so the stats collect and the cap-filter join share
        # it, and — unlike a CacheManager entry — the storage is
        # reclaimed by the ContextCleaner when the caller drops the
        # DataFrame (no per-call cache leak in long-lived sessions)
        sizes = sizes.localCheckpoint(eager=False)
        stats.update(_dropped_counts(sizes, max_bucket_size))
    return banded.join(
        sizes.filter(F.col("__bsz") <= max_bucket_size), ["band", "bucket"]
    ).drop("__bsz")


def _bucket_pairs(
    banded: DataFrame, id_col: str, max_bucket_size: int | None, stats: dict | None
) -> DataFrame:
    """Distinct ``(id_a, id_b)`` pairs, ``id_a < id_b``, sharing any capped
    ``(band, bucket)`` of ``banded`` (``id, band, bucket`` rows) — the one
    bucket self-join behind MinHash-LSH and embedding-LSH near-dups."""
    banded = _cap_buckets(banded, max_bucket_size, stats)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _dropped_counts(sizes: DataFrame, max_bucket_size: int) -> dict[str, int]:
    """(n_buckets_dropped, n_rows_dropped) from a (band, bucket, __bsz)
    frame — one single-row aggregate over the tiny bucket-size table.

    The caller localCheckpoints ``sizes`` FIRST: the stats collect then
    materializes the bucket-size table once, and the downstream cap-filter
    join reads the checkpointed copy instead of re-running the banding
    scan — so the accounting costs one tiny aggregate, not a second full
    pass over the corpus, and the storage is GC-reclaimed with the result
    (no CacheManager residency)."""
    row = (
        sizes.filter(F.col("__bsz") > max_bucket_size)
        .agg(
            F.count(F.lit(1)).alias("b"),
            F.coalesce(F.sum("__bsz"), F.lit(0)).alias("r"),
        )
        .collect()[0]
    )
    return {"n_buckets_dropped": int(row["b"]), "n_rows_dropped": int(row["r"])}


def _banded(sigs: DataFrame, id_col: str, num_bands: int) -> DataFrame:
    """(id, band, bucket) rows: the signature array sliced into bands, each
    band hashed to its bucket key — shared by the self-join and the
    cross-corpus pair paths so both see identical buckets."""
    sig = F.col("signature")
    rows_per_band = F.floor(F.size(sig) / num_bands).cast("int")
    # bucket = xxhash64 of the band's array<long> slice directly — Spark's
    # hash expressions fold array elements natively, so the previous
    # per-element cast-to-string + array_join (one string alloc per
    # signature row per band) is pure overhead with identical collision
    # behavior (slices equal ⇔ buckets equal, modulo 64-bit collisions)
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.slice(sig, b * rows_per_band + 1, rows_per_band)).alias(
                        "bucket"
                    ),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_pairs_against(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 16,
    max_bucket_size: int | None = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental dedup: candidate pairs between a NEW batch and an EXISTING
    corpus (id_new, id_corpus) — the nightly-ingest shape, where re-pairing
    the whole corpus against itself would redo O(corpus²) banding work.

    Both sides band identically (same signature family), then join on
    (band, bucket) ACROSS the two tables — the corpus side can be a
    persisted signature table, so each ingest costs O(new + matched buckets),
    never another corpus self-join.  The per-(band,bucket) cap is applied on
    BOTH sides: a degenerate hot bucket in the NEW batch (thousands of
    near-identical docs in one band bucket) would otherwise fan out against
    every matched corpus bucket — the output per (band, bucket) is bounded by
    cap², exactly like the self-join path.

    ``stats``: pass a dict to receive per-side drop accounting —
    ``{"new": {n_buckets_dropped, n_rows_dropped}, "corpus": {...}}`` — the
    same no-silent-caps contract as ``lsh_candidate_pairs``.

    Both banded sides are materialized once (``localCheckpoint``) before the
    cap/join fan-out — same rationale as :func:`lsh_candidate_pairs` (lambda
    HOFs defeat exchange reuse; without this each side's signature pipeline
    re-ran per consumer).
    """
    sides = {}
    for name, side in (("new", new_sigs), ("corpus", corpus_sigs)):
        side_stats = None if stats is None else {}
        sides[name] = _cap_buckets(_banded(side, id_col, num_bands), max_bucket_size, side_stats)
        if stats is not None:
            stats[name] = side_stats
    return (
        sides["new"].withColumnRenamed(id_col, "id_new")
        .join(sides["corpus"].withColumnRenamed(id_col, "id_corpus"), ["band", "bucket"])
        .select("id_new", "id_corpus")
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    token_hash: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """SimHash over whitespace tokens, pure column algebra: per token a
    hashed long; per bit, majority vote (±1 per token) > 0 → bit set.

    ONE ``aggregate`` traversal of the token-hash array per row: the
    accumulator is the length-``bits`` vote array, updated with ``zip_with``
    against each token's ±1 bit votes (a per-bit ``aggregate`` pass — 64
    array traversals per row — measured ~an order of magnitude slower and was
    replaced).  No shuffle, no UDF.

    ``token_hash`` swaps the per-token hash family (default ``xxhash64``) —
    e.g. an md5-derived hash reproducible in other engines for
    cross-validation (see ``md5_hash32``).
    """
    toks = F.split(_norm(F.col(text_col)), " ")
    th = token_hash if token_hash is not None else (lambda t: F.xxhash64(t))
    hashes = F.transform(toks, th)
    masks = F.array(
        *[F.lit((1 << b) if b < 63 else -(2**63)).cast("long") for b in range(bits)]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)),
            lambda a, v: a + v,
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.withColumn("simhash", sim)


def md5_hash32(c: Column) -> Column:
    """32-bit token hash derived from md5 — bit-for-bit reproducible in any
    engine with md5 + hex parsing (DuckDB: ``('0x' || substr(md5(t),1,8))::bigint``),
    used to cross-validate :func:`simhash` against an independent SQL oracle."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def ngram_jaccard(
    df_pairs: DataFrame,
    left_text: str,
    right_text: str,
    k: int = 3,
) -> DataFrame:
    """Exact word-k-gram Jaccard similarity for candidate pairs (the verify
    step after LSH)."""
    a = shingles(F.col(left_text), k)
    b = shingles(F.col(right_text), k)
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return df_pairs.withColumn(
        "jaccard", F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    )
