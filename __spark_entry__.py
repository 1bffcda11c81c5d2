"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (+ training-data-pipeline extensions); ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL over the same parquet views.  Column names and
rounding are aligned on both sides (the driver hashes values after sorting
columns by name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import dataverifyr_spark as dv
from dataverifyr_spark.check import check_data_by
from dataverifyr_spark.operators.text import STOPWORDS
from dataverifyr_spark.operators.uniqueness import distinct_count_salted


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# rule sets shared between queries() and entry()
# ---------------------------------------------------------------------------

_LINEITEM_RULES = dv.ruleset(
    dv.rule("l_quantity > 0 & l_quantity <= 30", name="q1"),
    dv.rule("l_discount >= 0 & l_discount <= 0.05", name="q2"),
    dv.rule("l_returnflag %in% c('A', 'N')", name="q3"),
    dv.rule("l_tax >= 0.05", name="q4", negate=True),
    dv.rule("l_extendedprice > 1000", name="q5", allow_na=True),
)

_CUSTOMER_RULES = dv.ruleset(
    dv.rule("c_acctbal >= 0", name="v1"),
    dv.rule(
        "c_mktsegment %in% c('MACHINERY', 'HOUSEHOLD', 'BUILDING', 'FURNITURE')", name="v2"
    ),
)

_SUMMARY_COLS = ["check_type", "name", "expr", "allow_na", "negate", "tests", "pass", "fail"]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fused 5-rule validation of sf0.001 lineitem."""
    li = _t(spark, "/root/testdata/sf0.001", "lineitem")
    return dv.check_data(li, _LINEITEM_RULES).select(*_SUMMARY_COLS)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_check_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return dv.check_data(li, _LINEITEM_RULES).select(*_SUMMARY_COLS)


def q_check_by_file_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE-FILE pass/fail summary (check_data_by_file, r6): lineitem
    is re-written as a Hive-partitioned directory with exactly ONE parquet
    file per l_returnflag (the key is repartition-hashed to a single
    partition before the write), so the file-lineage summary has a
    deterministic cross-engine truth: per-file counts == per-key counts.
    Certifies input_file_name() stamped inside the scan feeding the same
    grouped fused conditional-sum aggregate check_data_by uses — the
    north_rule's "per-rule, per-partition pass/fail summary rows" with the
    ledger's file-lineage unit.  Reference groups only by data columns
    (R/check_data.R); file lineage is the graft's scale addition."""
    import shutil
    import tempfile

    from dataverifyr_spark.check import check_data_by_file

    li = _t(spark, sf_dir, "lineitem").select("l_quantity", "l_discount", "l_returnflag")
    rules = dv.ruleset(
        dv.rule("l_quantity > 0 & l_quantity <= 30", name="q1"),
        dv.rule("l_discount >= 0 & l_discount <= 0.05", name="q2"),
    )
    root = tempfile.mkdtemp(prefix="dvfy_byfile_gate_")
    try:
        path = os.path.join(root, "li")
        li.repartition(4, "l_returnflag").write.partitionBy("l_returnflag").parquet(path)
        back = spark.read.parquet(path)
        res = check_data_by_file(back, rules, basename=False)
        rows = [
            (r["l_returnflag"], r["name"], r["tests"], r["pass"], r["fail"])
            for r in res.withColumn(
                "l_returnflag", F.regexp_extract("file", r"l_returnflag=([^/]+)", 1)
            ).collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "l_returnflag string, name string, tests bigint, pass bigint, fail bigint"
    )


def q_curate_clips_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (audio.curate_clips, r6): ONE Arrow decode
    probe → 9-rule keep-filter (decode / sr / dur / SNR≥30dB / transcript
    equality / non-emptiness / clipping / DC / audibility — filter_fails'
    exact guard algebra, so kept ∪ violations covers every row) → caption
    exact-dedup (md5 groupBy; only (fingerprint, clip_id) pairs shuffle).
    The surviving clip_id set is pure cadence arithmetic over the generated
    corpus (defect cadences %17 sr-lie, %23 dur-lie, %31 empty caption,
    %37 NULL caption, %41 truncated container; the %29 codec-liar is NOT in
    the curation ruleset; fixture captions are distinct at this n so dedup
    drops nothing) — the oracle replicates it with generate_series.
    Graft extension (reference R/ is tabular-only)."""
    from dataverifyr_spark.audio import curate_clips
    from dataverifyr_spark.audio.fixtures import clips_table

    clips = clips_table(spark, 2000)
    return curate_clips(clips).select("clip_id")


def q_violations_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return dv.filter_fails(_CUSTOMER_RULES, cust, tag=True)


def q_reference_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    datasets = {
        "orders": _t(spark, sf_dir, "orders"),
        "customer": _t(spark, sf_dir, "customer"),
    }
    rs = dv.ruleset(dv.reference_rule("o_custkey", "customer", "c_custkey", name="fk1"))
    return dv.check_data(datasets, rs).select(*_SUMMARY_COLS)


def q_reference_violations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-row materialization (check.reference_violations — the
    filter_fails complement for FK rules, which the reference skips,
    R/filters.R:42-47): every 10th order's custkey is deterministically
    shifted out of range; the left-anti join must surface EXACTLY those rows
    for triage."""
    from dataverifyr_spark.check import reference_violations

    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_custkey",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_custkey") + F.lit(1000000)
        ).otherwise(F.col("o_custkey")),
    )
    cust = _t(spark, sf_dir, "customer")
    rr = dv.reference_rule("o_custkey", "customer", "c_custkey", name="fk")
    out = reference_violations(orders, rr, {"customer": cust})
    return out.select("o_orderkey", "o_custkey")


def q_sources_jsonl_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-source round-trip (sources.load_table): events written as JSONL
    and read back through the loader must aggregate identically to the
    original parquet — certifying the non-parquet ingest path cross-engine
    (schema inference included)."""
    import shutil
    import tempfile

    from dataverifyr_spark.sources import load_table

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    root = tempfile.mkdtemp(prefix="dvfy_jsonl_gate_")
    try:
        path = os.path.join(root, "events_json")
        ev.coalesce(4).write.json(path)
        back = load_table(spark, path, fmt="json")
        rows = [
            (r["event_type"], r["n"], r["sum_value"])
            for r in back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, "event_type string, n bigint, sum_value double")


def q_describe_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    d = dv.describe(cust, top_n=0)
    return d.select(
        "var",
        "type",
        "n",
        "n_distinct",
        "n_na",
        F.round("min", 6).alias("min"),
        F.round("mean", 6).alias("mean"),
        F.round("median", 6).alias("median"),
        F.round("max", 6).alias("max"),
        F.round("sd", 6).alias("sd"),
    )


def q_uniqueness_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    total = li.count()
    distinct = distinct_count_salted(li, ["l_orderkey", "l_linenumber"])
    return spark.createDataFrame(
        [("l_orderkey.l_linenumber", total, distinct, total - distinct, distinct == total)],
        "key string, total_rows bigint, distinct_keys bigint, duplicate_rows bigint, is_unique boolean",
    )


def q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5 fingerprint (not xxhash64) so the DuckDB oracle can reproduce it
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id"))
    )


def q_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    toks = F.split(text, " ")
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    return docs.select(
        "doc_id",
        F.round(alpha.cast("double") / n_chars, 6).alias("alpha_ratio"),
        F.round((n_chars - n_tokens + 1).cast("double") / n_tokens, 6).alias("mean_token_len"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n_tokens, 6).alias(
            "distinct_token_ratio"
        ),
    )


def q_lang_scores_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    langs = sorted(STOPWORDS)
    cols = [F.col("doc_id")]
    for lang in langs:
        words = list(STOPWORDS[lang])
        cols.append(F.size(F.filter(toks, lambda t: t.isin(words))).alias(f"score_{lang}"))
    out = docs.select(*cols)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    guess = F.coalesce(*[F.when(F.col(f"score_{lang}") == best, F.lit(lang)) for lang in langs])
    return out.withColumn("lang_guess", F.when(best > 0, guess))


def q_pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (operators/pq.py) oracled end-to-end:
    FIXED codebooks (subspace slices of vec_id 1..16 — no k-means, so DuckDB
    replicates), every corpus vector PQ-encoded (per-subspace argmin,
    first-min tie-break), then the top-10 by ADC distance — m table lookups
    per row, no vector math in the scan.  The oracle recomputes assignment
    AND the LUT sum from the same fixed codebooks with window functions."""
    from dataverifyr_spark.operators.pq import pq_adc_topk, pq_encode

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id").between(1, 16)).orderBy("vec_id").collect()
    m, sub = 8, 8
    books = [
        [[float(v) for v in r["embedding"][j * sub : (j + 1) * sub]] for r in cents]
        for j in range(m)
    ]
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    enc = pq_encode(emb.filter(F.col("vec_id") > 16), books)
    top = pq_adc_topk(enc, books, qvec, k=10)
    return top.select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


def q_suggest_rules_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: rule induction over the VECTOR table — suggest_rules drafts the
    PK (vec_id exactly unique, HLL-shortlist + exact confirm), the embedding
    dimension contract (single observed element count → vec_dim == 64), and
    the not-null contracts, then check_data applies them back (all
    self-passing).  Pins the full induce→apply loop over an embedding
    column end-to-end."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rs = dv.suggest_rules(emb)
    return dv.check_data(emb, rs).select("name", "tests", "pass", "fail")


def q_embedding_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: declarative embedding-column validation (operators/vectors.py
    dialect fns — pure Catalyst aggregate/exists folds fused into the ONE
    rule scan).  Three crafted poison rows (wrong dim, NaN, zero norm) union
    the real corpus on BOTH sides, so each rule's fail count is exact and
    non-trivial; the oracle replicates the folds with len / list_filter /
    list_dot_product."""
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    bad = spark.createDataFrame(
        [
            (9000001, [1.0] * 63),
            (9000002, [float("nan")] * 64),
            (9000003, [0.0] * 64),
        ],
        "vec_id bigint, embedding array<double>",
    )
    df = emb.unionByName(bad)
    rules = dv.ruleset(
        dv.rule("vec_dim(embedding) == 64", name="dim64"),
        dv.rule("vec_has_nan(embedding)", name="no_nan", negate=True),
        dv.rule("vec_norm(embedding) > 0.001", name="nonzero"),
        dv.rule("vec_max_abs(embedding) <= 100", name="bounded"),
    )
    return dv.check_data(df, rules).select(*_SUMMARY_COLS)


def q_check_error_rows_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: the error-row CONTRACT oracled — a rule referencing a missing
    column must become an error row (pass=0, fail=tests) in the summary,
    never an exception, while sibling rules still evaluate
    (R/check_data.R:301-315).  The oracle hard-codes the contract's counts;
    the error text itself is engine-specific and excluded from the
    projection."""
    li = _t(spark, sf_dir, "lineitem")
    rs = dv.ruleset(
        dv.rule("l_quantity > 0", name="good"),
        dv.rule("no_such_column > 0", name="broken"),
        dv.rule("as.numeric(l_returnflag) > 0", name="coerces", allow_na=True),
    )
    res = dv.check_data(li, rs)
    return res.select(
        "name", "tests", "pass", "fail", (F.col("error") != "").alias("has_error")
    )


def q_quantiles_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: per-PARTITION quantile profiles (column_quantiles_by) — ONE
    groupBy(l_returnflag).agg of exact interpolated percentiles for two
    measures, in-plan explode to (group, var, prob, value).  Oracle:
    per-group quantile_cont lists unnested by index."""
    from dataverifyr_spark.operators.quantiles import column_quantiles_by

    li = _t(spark, sf_dir, "lineitem")
    q = column_quantiles_by(
        li, by="l_returnflag", cols=["l_extendedprice", "l_quantity"], approx=False
    )
    return q.select("l_returnflag", "var", "prob", F.round("value", 6).alias("value"))


def q_unique_rule_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: the UniquenessRule (PK) type oracled DIRECTLY (the suggest gates
    only assert self-pass).  Two rules in one check_data call over keys with
    DIFFERENT duplication profiles — the synthetic lineitem duplicates even
    the composite (l_orderkey, l_linenumber) key (~43% of rows at sf0.01),
    and l_orderkey alone much more — so the gate certifies non-trivial
    singleton-group row counts, not a vacuous full pass, against the
    oracle's GROUP-BY recount."""
    li = _t(spark, sf_dir, "lineitem")
    rs = dv.ruleset(
        dv.unique_rule("l_orderkey", "l_linenumber", name="pk_composite"),
        dv.unique_rule("l_orderkey", name="pk_orderkey_alone"),
    )
    return dv.check_data(li, rs).select(*_SUMMARY_COLS)


def q_bpe_token_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: REAL BPE token counting (operators/text.py bpe_train +
    bpe_token_count, VERDICT ask #9).  The gate TRAINS the 20-merge table at
    runtime — one word-count job, driver-side Sennrich merge loop over the
    distinct vocabulary (uniform=True, so the table depends only on the
    SF-invariant word set) — then counts tokens with the pure-Catalyst
    chained-replace encoder.  The oracle hard-codes the SAME merge table as
    nested REPLACEs over the space-joined character split: if training,
    tie-breaking, or the encoder's replace semantics drift, the hash
    mismatches."""
    from dataverifyr_spark.operators.text import bpe_token_count, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", num_merges=20, uniform=True)
    return docs.select(
        "doc_id", bpe_token_count(F.col("text"), merges).alias("n_bpe")
    )


def q_ivf_pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: the FULL ANN stack composed and driver-verified (VERDICT ask #8)
    — coarse quantizer (IVF, fixed centroids = vectors 1..8) routes the
    query to its 3 nearest inverted lists, and ONLY those lists' vectors are
    scored by PQ ADC distance (fixed codebooks = subspace slices of vectors
    1..16, codes are 8 bytes/vector).  The oracle replicates coarse
    assignment (window argmin, first-min tie-break), probe selection,
    per-subspace code assignment, and the LUT sum — the scan-side cost model
    of a 10^12-vector index: nprobe/ncentroids of the corpus touched, m
    byte-lookups per candidate."""
    from dataverifyr_spark.operators.ivf import ivf_index
    from dataverifyr_spark.operators.pq import pq_adc_topk, pq_encode

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = emb.filter(F.col("vec_id").between(1, 16)).orderBy("vec_id").collect()
    coarse = [list(r["embedding"]) for r in rows[:8]]
    m, sub = 8, 8
    books = [
        [[float(v) for v in r["embedding"][j * sub : (j + 1) * sub]] for r in rows]
        for j in range(m)
    ]
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    indexed = ivf_index(emb.filter(F.col("vec_id") > 16), coarse)
    dists = [
        (i, sum((q - c) ** 2 for q, c in zip(qvec, cent))) for i, cent in enumerate(coarse)
    ]
    probe = [i for i, _ in sorted(dists, key=lambda t: t[1])[:3]]
    enc = pq_encode(indexed, books)
    top = pq_adc_topk(enc.filter(F.col("cluster").isin(probe)), books, qvec, k=10)
    return top.select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


def q_topk_join_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch top-k join (similarity.topk_join, exact broadcast mode): 5
    query vectors against the rest of the corpus in ONE job — per-query
    top-5 via a window over the broadcast cross join.  Oracle: DuckDB
    QUALIFY row_number per query over the same cosine ranking."""
    from dataverifyr_spark.operators.similarity import topk_join

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    top = topk_join(corpus, queries, k=5)
    return top.select(
        "query_id", "vec_id", F.round("cosine_sim", 4).alias("cosine_sim")
    )


def q_drift_psi_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYED drift (the r3 ADVICE-fixed path, drift.py _aligned): one global
    baseline snapshot expanded across every key's buckets, per-key PSI + KS
    in one scan.  The oracle replicates the key×bucket expansion (cross join
    of distinct keys with the baseline histogram) and the per-key CDF-gap
    window — missing buckets must read as frac 0 under the RIGHT key, never
    leak into a NULL-key group."""
    from dataverifyr_spark.operators.drift import drift_check, histogram

    li = _t(spark, sf_dir, "lineitem")
    baseline = histogram(li.filter("l_returnflag = 'A'"), "l_extendedprice", 0.0, 110000.0, 20)
    return drift_check(
        li, "l_extendedprice", baseline, 0.0, 110000.0, bins=20,
        by="l_returnflag", threshold=0.2,
    )


def _embeddings_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ a jittered copy of every vector (vec_id + 100000).

    The jitter is integer arithmetic times an exact double constant —
    ``v[i] + ((vec_id*7 + i) % 11) * 5e-4`` — so Spark and DuckDB derive
    bit-identical vectors and the near-dup gate compares real numbers, not
    approximations.  Cosine(orig, dup) ≈ 0.9997; all original-original pairs
    sit below 0.52 (the table is random unit vectors), so the ground truth
    is exactly one pair per vec_id."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dups = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: x + ((F.col("vec_id") * 7 + i) % 11).cast("double") * F.lit(5e-4),
        ).alias("v"),
    )
    return emb.unionByName(dups)


def q_near_dup_pairs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs through the SCALE path: banded hyperplane-LSH
    bucketing → within-bucket equi-joins → exact cosine verify (no cross
    join anywhere; the DuckDB oracle is the O(n²) brute force, so the gate
    certifies LSH recall = 1.0 on the injected near-dups)."""
    from dataverifyr_spark.operators.similarity import embedding_near_dup_pairs

    allv = _embeddings_with_near_dups(spark, sf_dir)
    pairs = embedding_near_dup_pairs(
        allv, dim=64, threshold=0.99, bits=16, bands=6, vec_col="v"
    )
    # ids only: the claim under test is the exact pair SET (recall 1.0 vs the
    # O(n²) oracle); the cosine VALUE is engine-fold-order sensitive in its
    # 4th decimal and is value-gated separately by topk_join_embeddings
    return pairs.select("id_a", "id_b")


def q_events_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type freshness vs a fixed as_of instant (deterministic)."""
    import datetime as dt

    from dataverifyr_spark.operators.freshness import freshness

    ev = _t(spark, sf_dir, "events")
    return freshness(
        ev, "ts", as_of=dt.datetime(2024, 1, 31, 12, 0, 0), max_lag_minutes=720, by="event_type"
    )


def q_lsh_jaccard_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash→LSH candidate pairs verified by exact 3-gram Jaccard ≥ 0.7 —
    the scale path (band-bucket equi-join, hot-bucket cap), oracled against
    DuckDB's exact ALL-PAIRS Jaccard: the gate certifies the LSH stage loses
    no true pair on this corpus (32 hashes × 16 bands ⇒ per-pair miss
    ≤ (1−j²)^16 ≈ 2e-5 at j = 0.7)."""
    from dataverifyr_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=32, shingle_k=3)
    pairs = lsh_candidate_pairs(sigs, "doc_id", num_bands=16)
    texts = docs.select("doc_id", "text")
    enriched = pairs.join(
        texts.withColumnRenamed("doc_id", "id_a").withColumnRenamed("text", "text_a"), "id_a"
    ).join(
        texts.withColumnRenamed("doc_id", "id_b").withColumnRenamed("text", "text_b"), "id_b"
    )
    verified = ngram_jaccard(enriched, "text_a", "text_b", k=3)
    return verified.filter(F.col("jaccard") >= 0.7).select("id_a", "id_b", "jaccard")


def q_near_dup_groups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash→LSH→Jaccard→connected-components dedup groups, oracled by a
    DuckDB recursive-CTE reachability over the exact-Jaccard pair list."""
    from dataverifyr_spark.operators.components import near_dup_groups

    docs = _t(spark, sf_dir, "documents")
    return near_dup_groups(docs, num_hashes=32, num_bands=16, jaccard_threshold=0.7)


def q_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints with the md5-derived token-hash family so
    DuckDB reproduces the exact values (single aggregate pass per row)."""
    from dataverifyr_spark.operators.dedup import md5_hash32, simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs.select("doc_id", "text"), bits=32, token_hash=md5_hash32).select(
        "doc_id", "simhash"
    )


def q_audio_mixed_codec_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """audio_validate_clips strengthened to the full codec family (r6): the
    corpus cycles through every supported WAVE coding — linear PCM 16/8-bit,
    IEEE float32, ITU-T G.711 μ-law/A-law (audio/wav.py, pure-numpy decode
    tables) — and adds the header-vs-metadata rule ``audio_codec == codec``.
    Every codec must really decode (the SNR rule needs ≥30 dB against the
    regenerated waveform, so a wrong G.711 expansion table fails the gate),
    and the codec column's every-29th lie must be caught.  Violation cadences
    are unchanged from the base fixture, so the oracle stays pure index
    arithmetic."""
    from dataverifyr_spark.audio import (
        audio_ruleset,
        mixed_codec_clips_table,
        with_audio_features,
    )

    clips = mixed_codec_clips_table(spark, 2000)
    return dv.check_data(
        with_audio_features(clips), audio_ruleset(codec_consistent=True)
    ).select(*_SUMMARY_COLS)


def q_audio_quality_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-quality audio validation (r6): hard-clipping, DC bias, peak
    headroom and audibility over ``quality_clips_table`` — gain/bias defects
    injected at deterministic cadences (clipped %19, +0.25 DC %43, x0.01
    quiet %47, corrupt container %41).  The quality features (peak,
    clip_ratio, dc_offset) are fields of the SAME shared single-decode
    probe as audio_valid/audio_rms, so all five rules cost one
    ArrowEvalPython pass (plan-asserted in tests/test_audio_quality.py).
    Defects compose physically — attenuation defeats clipping and DC — and
    the oracle encodes exactly that with effective flags (clipped AND NOT
    quiet), still pure index arithmetic.  The reference has no audio
    support (R/ is tabular-only); graft extension."""
    from dataverifyr_spark.audio import audio_quality_ruleset, quality_clips_table

    clips = quality_clips_table(spark, 2000)
    return dv.check_data(clips, audio_quality_ruleset()).select(*_SUMMARY_COLS)


def q_transcript_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-side validation of the clip+caption pairs (r6): speaking-
    rate plausibility (``n_words(transcript) / (dur_ms/1000) <= 30``),
    CER-style bounded edit distance vs the reference-captions table
    (``edit_distance(...) <= 2`` — F.levenshtein, pure JVM), exact equality,
    and non-emptiness, all fused into the ONE-scan check aggregate with
    ZERO Python (the decode probe is not involved; ReadSchema prunes to
    transcript/dur_ms + the join key, audio bytes never read).  The
    reference-captions join is a left equi-join on clip_id — both sides are
    data-scale at 10^12 clips, so no broadcast assumption; clips missing a
    reference row keep NULL expected_transcript and FAIL the equality rules
    (NA-fails, R/check_data.R:277-280) instead of vanishing from `tests`.
    Caption defects (overlong %53, one-char typo %59, disjoint-alphabet
    garbage %61, empty %31, NULL %37 — later cadence wins) are pure index
    arithmetic for the oracle; the graded cer_bounded rule must pass typo
    rows (distance exactly 1) that transcript_exact fails — equality can't
    tell recoverable ASR noise from garbage, a bounded edit distance can.
    The reference has no text-distance functions (R/ dialect is arithmetic
    + string predicates only); graft extension."""
    from dataverifyr_spark.audio import (
        transcript_clips_table,
        transcript_expected_table,
        transcript_ruleset,
        with_expected_transcript,
    )

    clips = transcript_clips_table(spark, 2000)
    expected = transcript_expected_table(spark, 2000)
    joined = with_expected_transcript(clips, expected)
    return dv.check_data(joined, transcript_ruleset()).select(*_SUMMARY_COLS)


def q_audio_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-codec audio near-duplicate pairs (r6): every 3rd clip in the
    corpus is the PREVIOUS clip's waveform re-encoded under a different
    codec (fixtures.dup_codec_clips_table) — byte-exact/MinHash dedup can
    never pair them, but the spectral-profile fingerprint
    (audio.with_audio_band_profile: |rfft| in 512 bins, L2-normalized)
    through the SAME banded-hyperplane-LSH machinery as text embeddings
    (similarity.embedding_near_dup_pairs, broadcast-UDF arm at dim=512)
    must find EXACTLY the injected pairs: tones are 20 Hz apart (10× the
    clip's 2 Hz FFT resolution), so distinct clips sit at cosine < 0.01
    while re-encodes sit at ≥ 0.9999 (measured per codec pair in
    tests/test_audio_codecs.py).  Corrupt containers (every 41st) decode to
    NULL profiles and drop their pairs — all pure index arithmetic for the
    oracle.  The reference has no audio or dedup support (R/ is
    tabular-only); graft extension."""
    from dataverifyr_spark.audio import audio_near_dup_pairs, dup_codec_clips_table

    clips = dup_codec_clips_table(spark, 300)
    return audio_near_dup_pairs(clips).select("id_a", "id_b")


def q_audio_spectral_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral audio invariants (round 4): ``audio_dom_freq`` /
    ``audio_spec_centroid`` run one rfft inside the SAME shared single-decode
    probe as the other bytes-family dialect functions.  The fixture waveform
    is 0.45·sin(f1∈[100,250)) + 0.25·sin(f2) + 1% noise, so every decodable
    clip's dominant peak must land in [95, 260] Hz and its centroid (pulled
    up by f2 + broadband noise) must exceed the dominant — a wrong FFT fails
    en masse, while the oracle's expected failure count is exactly the
    corrupt-bytes cadence (%41)."""
    from dataverifyr_spark.audio import clips_table

    clips = clips_table(spark, 2000)
    rules = dv.ruleset(
        dv.rule(
            "audio_dom_freq(bytes) >= 95 & audio_dom_freq(bytes) <= 260",
            name="dom_in_band",
        ),
        dv.rule(
            "audio_spec_centroid(bytes) > audio_dom_freq(bytes)", name="centroid_above"
        ),
    )
    return dv.check_data(clips, rules).select(*_SUMMARY_COLS)


def q_audio_segments_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT-level long-audio validation (audio/segments.py): each clip
    windows into 1 s segments inside one Arrow decode pass; per-segment rms
    + rfft dominant frequency must track the fixture's per-segment tone
    (200 + 50·s Hz).  A clip-level aggregate cannot see a silenced minute —
    this gate proves the windowing, the per-window FFT, and the corrupt-row
    contract (one seg_valid=false row per undecodable clip) against the
    cadence oracle (corrupt %13, silenced segment %5, nseg = 3 + i%3)."""
    from dataverifyr_spark.audio.segments import audio_segments, long_clips_table

    segs = audio_segments(long_clips_table(spark, 300), window_ms=1000)
    rules = dv.ruleset(
        dv.rule("seg_valid", name="decodes"),
        dv.rule("seg_rms > 0.001", name="nonsilent"),
        dv.rule(
            "seg_dom_freq_hz >= 150 & seg_dom_freq_hz <= 460", name="freq_tracks_tone"
        ),
    )
    return dv.check_data(segs, rules).select(*_SUMMARY_COLS)


def q_audio_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-LEVEL audio violations (the filter_fails shape over decoded
    features): (clip_id, failed_rule) pairs from one tagged scan.  The
    cadence oracle enumerates the exact violating clip_ids per rule —
    the strongest audio gate (row identity, not just counts)."""
    from dataverifyr_spark.audio import clips_table, with_audio_features

    clips = clips_table(spark, 2000)
    feats = with_audio_features(clips)
    rules = dv.ruleset(
        dv.rule("audio_valid", name="decodes"),
        dv.rule("audio_sr == sr_hz", name="sr_consistent"),
        dv.rule("audio_transcript_ok", name="transcript_equal"),
    )
    return dv.filter_fails(rules, feats, tag=True).select("clip_id", "failed_rule")


def q_audio_validate_vs_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vs-REFERENCE-TABLE audio path: expectations come from a joined
    originals table (expected_bytes/expected_transcript columns) instead of
    the generator — the real-corpus shape.  Same rules, same cadence oracle
    as the generator path: the join + dual-decode SNR must reproduce the
    exact counts the generator path hits."""
    from dataverifyr_spark.audio import (
        audio_ruleset,
        clips_table,
        expected_table,
        with_audio_features_vs,
    )

    clips = clips_table(spark, 2000)
    expected = expected_table(spark, 2000)
    return dv.check_data(
        with_audio_features_vs(clips, expected), audio_ruleset()
    ).select(*_SUMMARY_COLS)


def q_reference_by_orderstatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group referential integrity: FK membership counts per
    o_orderstatus in ONE key-only join + groupBy (check_data_by with
    datasets) — the north_rule per-partition shape applied to reference
    rules, with a plain SQL join oracle."""
    orders_df = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rs = dv.ruleset(dv.reference_rule("o_custkey", "customer", "c_custkey", name="fk_by"))
    return check_data_by(orders_df, rs, by="o_orderstatus", datasets={"customer": cust})


def q_suggest_rules_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule induction certified end-to-end: suggest_rules profiles customer
    (bounds for the 3 numerics, a value-set for the 5-value c_mktsegment,
    not-null for every null-free column, and — given datasets — a DRAFT
    reference_rule for the 25-value c_nationkey whose set is contained in
    nation.n_nationkey, plus r5 PK drafts for the exactly-unique c_custkey
    and c_name — HLL-shortlisted, exact-confirmed), then check_data applies
    them back to the profiled
    tables.  The oracle pins exactly WHICH rules were induced and that every
    one self-passes (tests = rows, fail = 0)."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    rs = dv.suggest_rules(cust, datasets={"nation": nat})
    return dv.check_data({"customer": cust, "nation": nat}, rs).select(
        "name", "tests", "pass", "fail"
    )


def q_schema_drift_lineitem_vs_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract drift certified end-to-end: snapshot lineitem's schema,
    diff customer against it — every lineitem column reports removed, every
    customer column added (the tables share no names).  Driver-only math on
    df.schema; the oracle is the static expected diff."""
    import tempfile

    from dataverifyr_spark.operators.schema_drift import schema_diff, snapshot_schema

    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    snap = tempfile.mkdtemp(prefix="schema_snap_") + "/lineitem"
    snapshot_schema(li, snap)
    return schema_diff(cust, snap)


def q_image_formats_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FORMAT image validation over a fixture that cycles the SAME
    deterministic pixels through all four native decoders (PPM/BMP/PNG/JPEG)
    — one oracle certifies every container implementation, including the
    numpy JPEG and PNG codecs, via check_data_by(fmt)."""
    from dataverifyr_spark.operators.image import image_probe, mixed_images_table

    imgs = mixed_images_table(spark, 800)
    feats = image_probe(imgs).join(imgs.select("media_id", "fmt"), "media_id")
    rules = dv.ruleset(
        dv.rule("img_valid", name="decodes"),
        dv.rule("img_width <= 26", name="width_cap", allow_na=True),
        dv.rule("img_brightness > 1", name="not_black", allow_na=True),
    )
    return check_data_by(feats, rules, by="fmt")


def q_video_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-payload validation: real Y4M header math + offset-seek frame
    SAMPLING in one Arrow pass (operators/image.py video_probe), rules fused
    over the probe columns.  Oracle recomputes the fixture's injection
    cadence (VID_SHORT/DARK/CORRUPT_EVERY) from generate_series — the Spark
    side must hit the counts through real stream parsing."""
    from dataverifyr_spark.operators.image import video_probe, videos_table

    vids = videos_table(spark, 500)
    rules = dv.ruleset(
        dv.rule("vid_valid", name="decodes"),
        dv.rule("vid_n_frames >= 5", name="enough_frames", allow_na=True),
        dv.rule("vid_mean_luma > 1", name="not_black", allow_na=True),
    )
    return dv.check_data(video_probe(vids), rules).select(*_SUMMARY_COLS)


def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: ANN recall@k observability (operators/recall.py).  5 sample
    queries run through BOTH the exact batch top-k (topk_join broadcast
    cross) and the multiprobe-LSH batch searcher (bucket + Hamming-1 XOR
    masks, ONE equi-join job) — the report row per query is (n_truth, n_hit,
    recall, n_candidates).  Planes are the deterministic seed-42 set emitted
    into the oracle as literals, so DuckDB recomputes buckets, probe
    targets, per-query candidates, exact top-k and the recall fractions —
    every number here is exactly replicable, not a statistical bound."""
    from dataverifyr_spark.operators.recall import (
        lsh_topk_join_multiprobe,
        recall_report,
    )
    from dataverifyr_spark.operators.similarity import topk_join

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    truth = topk_join(corpus, queries, k=10)
    approx = lsh_topk_join_multiprobe(
        corpus, queries, k=10, dim=64, bits=4, probes=1, seed=42
    )
    return recall_report(truth, approx)


def q_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: recall@k for the BATCH IVF searcher (recall.ivf_topk_join — probe
    lists derived per query by a Catalyst array_sort over centroid literals,
    corpus joined on cluster equality, ONE job for the whole sample).  Fixed
    centroids (vectors 5..12) so the oracle replicates coarse assignment,
    per-query probe selection, candidate membership, exact truth top-k and
    the recall fractions."""
    from dataverifyr_spark.operators.ivf import ivf_index
    from dataverifyr_spark.operators.recall import ivf_topk_join, recall_report
    from dataverifyr_spark.operators.similarity import topk_join

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id").between(5, 12)).orderBy("vec_id").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    truth = topk_join(corpus, queries, k=10)
    approx = ivf_topk_join(ivf_index(corpus, cents), cents, queries, k=10, nprobe=2)
    return recall_report(truth, approx)


def q_mjpeg_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: REAL compressed-video pixel decode (operators/mjpeg.py, retires
    decode_image_stub).  The fixture alternates AVI/RIFF and bare-stream
    MJPEG carriers; video_probe walks the container by offsets, decodes only
    SAMPLED frames through the numpy baseline-JPEG codec, and the fused rules
    hit luma/frame-count/validity.  Oracle recomputes the injection cadences
    (corrupt %13, short %7, dark %11) from generate_series — Spark must reach
    the counts through real RIFF/marker walks and entropy/DCT decode."""
    from dataverifyr_spark.operators.image import video_probe
    from dataverifyr_spark.operators.mjpeg import mjpeg_videos_table

    vids = mjpeg_videos_table(spark, 400)
    rules = dv.ruleset(
        dv.rule("vid_valid", name="decodes"),
        dv.rule("vid_n_frames >= 5", name="enough_frames", allow_na=True),
        dv.rule("vid_mean_luma > 10", name="not_black", allow_na=True),
    )
    return dv.check_data(video_probe(vids), rules).select(*_SUMMARY_COLS)


def q_describe_by_most_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: keyed most_frequent (describe_by(top_n=3)) — ONE explode →
    groupBy(group, var, value) → window top-n pass whose "v (c), v2 (c2)"
    strings are assembled by pure Catalyst array ops (no collect, no per-
    group jobs), joined back to the fused stats rows.  The oracle replicates
    rank-first-then-skip-ones (R/describe.R:87-93) with a windowed
    string_agg per market segment."""
    from dataverifyr_spark.describe import describe_by

    cust = _t(spark, sf_dir, "customer")
    prof = describe_by(
        cust.select("c_mktsegment", "c_nationkey"), by="c_mktsegment", top_n=3
    )
    return prof.select("c_mktsegment", "var", "n", "n_distinct", "most_frequent")


def q_h264_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264 container-level validation (operators/h264.py): Annex-B NAL walk,
    SPS-derived resolution, frame/IDR counts from slice headers — zero pixel
    decode — through the same video_probe → fused-check path as Y4M.  The
    oracle recomputes the fixture's injection cadences (corrupt %13, short
    %7, single-IDR %11) from generate_series, so the Spark side must hit the
    counts through real NAL/SPS/Exp-Golomb parsing."""
    from dataverifyr_spark.operators.h264 import h264_videos_table
    from dataverifyr_spark.operators.image import video_probe

    vids = h264_videos_table(spark, 500)
    rules = dv.ruleset(
        dv.rule("vid_valid", name="decodes"),
        dv.rule("vid_n_frames >= 5", name="enough_frames", allow_na=True),
        dv.rule("vid_n_idr >= 2", name="has_keyframes", allow_na=True),
        dv.rule("vid_width >= 64 & vid_height >= 48", name="min_resolution", allow_na=True),
    )
    return dv.check_data(video_probe(vids), rules).select(*_SUMMARY_COLS)


def q_chunk_incremental_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: the chunk→incremental-dedup COMPOSITION as one gate (promoted
    from pytest TestChunkIncrementalDedup per r5 VERDICT #8) — the daily
    training-data-ingest shape: a NEW batch (odd doc_id) is chunked into
    8-token passages, MinHash-signed, and screened with ``lsh_pairs_against``
    against the persisted CORPUS passage signatures (even doc_id); LSH
    candidates are exact-verified with 3-gram Jaccard.  Supersedes the
    retired ``chunk_dedup_documents`` + ``lsh_pairs_against_documents``
    gates (it exercises both operators plus their composition).  Oracled
    against DuckDB's exact cross-half passage Jaccard — the banded
    incremental path must lose no true pair at passage granularity.
    Passage ids are ``doc_id*1000 + chunk_idx`` (chunk_idx < 256 everywhere,
    same bound as the chunk-window oracle)."""
    from dataverifyr_spark.operators.chunks import chunk_documents
    from dataverifyr_spark.operators.dedup import (
        lsh_pairs_against,
        minhash_signatures,
        ngram_jaccard,
    )

    docs = _t(spark, sf_dir, "documents")

    def passages(df: DataFrame) -> DataFrame:
        ch = chunk_documents(df, chunk_tokens=8)
        return ch.select(
            (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("doc_id"),
            F.col("chunk_text").alias("text"),
        )

    p_corpus = passages(docs.filter(F.col("doc_id") % 2 == 0))
    p_new = passages(docs.filter(F.col("doc_id") % 2 == 1))
    c_sigs = minhash_signatures(p_corpus, "text", "doc_id", num_hashes=32, shingle_k=3)
    n_sigs = minhash_signatures(p_new, "text", "doc_id", num_hashes=32, shingle_k=3)
    pairs = lsh_pairs_against(n_sigs, c_sigs, "doc_id", num_bands=16)
    texts = p_corpus.unionByName(p_new)
    enriched = pairs.join(
        texts.withColumnRenamed("doc_id", "id_new").withColumnRenamed("text", "text_a"),
        "id_new",
    ).join(
        texts.withColumnRenamed("doc_id", "id_corpus").withColumnRenamed("text", "text_b"),
        "id_corpus",
    )
    verified = ngram_jaccard(enriched, "text_a", "text_b", k=3)
    return verified.filter(F.col("jaccard") >= 0.7).select("id_new", "id_corpus", "jaccard")


def q_stream_to_ledger_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming→ledger bridge (validate_stream_to_ledger): events
    replayed as 3 deterministic micro-batches through foreachBatch, each
    batch validated per-partition (event_type) by the BATCH engine and
    appended to the ValidationLedger keyed (run-batch, partition).  The
    returned rollup — one row per (event_type, rule) summed across batches —
    must equal the plain static group-by oracle, proving the bridge loses no
    batch and double-counts none."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as _F

    from dataverifyr_spark.ledger import ValidationLedger
    from dataverifyr_spark.streaming import validate_stream_to_ledger

    rules = dv.ruleset(
        dv.rule("value <= 100", name="v_low"),
        dv.rule("value > 400", name="v_not_extreme", negate=True),
    )
    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 3).cast("int").alias("batch"), "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="dvfy_s2l_gate_")
    try:
        indir = os.path.join(root, "in")
        os.makedirs(indir)
        staged = []
        for b in range(3):
            stage = os.path.join(root, f"stage{b}")
            (
                ev.filter(F.col("batch") == b)
                .select("event_type", "value")
                .coalesce(1)
                .write.parquet(stage)
            )
            staged.append(glob.glob(os.path.join(stage, "part-*.parquet"))[0])
        sdf = spark.readStream.schema("event_type string, value double").parquet(indir)
        ledger_path = os.path.join(root, "ledger")
        q = validate_stream_to_ledger(
            sdf, rules, "event_type", ledger_path, os.path.join(root, "ckpt"),
            run_id="gate",
        ).start()
        try:
            for b in range(3):
                shutil.copy(staged[b], os.path.join(indir, f"b{b}.parquet"))
                q.processAllAvailable()
        finally:
            q.stop()
        led = ValidationLedger(spark, ledger_path)
        runs = (
            led._read()
            .select("run_id")
            .distinct()
            .filter(F.col("run_id").startswith("gate-b"))
            .collect()
        )
        from functools import reduce

        rolled = reduce(
            lambda a, b: a.unionByName(b),
            [led.results(r["run_id"]) for r in runs],
        )
        rows = [
            (r["part_key"], r["name"], r["tests"], r["pass"], r["fail"])
            for r in rolled.groupBy("part_key", "name")
            .agg(
                _F.sum("tests").alias("tests"),
                _F.sum("pass").alias("pass"),
                _F.sum("fail").alias("fail"),
            )
            .collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, name string, tests bigint, pass bigint, fail bigint"
    )


def q_stream_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed streaming validation (check_stream): events
    replayed as 3 deterministic micro-batches; the per-event-time-hour rule
    summary (complete-mode final snapshot, state = one row per open window ×
    rule) must equal a static hourly GROUP BY — the oracle buckets
    epoch(ts) to the same hour grid."""
    import glob
    import shutil
    import tempfile

    from dataverifyr_spark.streaming import check_stream

    rules = dv.ruleset(
        dv.rule("value <= 100", name="v_low"),
        dv.rule("value > 400", name="v_not_extreme", negate=True),
    )
    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 3).cast("int").alias("batch"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    root = tempfile.mkdtemp(prefix="dvfy_swin_gate_")
    try:
        indir = os.path.join(root, "in")
        os.makedirs(indir)
        staged = []
        for b in range(3):
            stage = os.path.join(root, f"stage{b}")
            ev.filter(F.col("batch") == b).select("ts", "value").coalesce(1).write.parquet(stage)
            staged.append(glob.glob(os.path.join(stage, "part-*.parquet"))[0])
        sdf = spark.readStream.schema("ts timestamp, value double").parquet(indir)
        out = check_stream(sdf, rules, time_col="ts", window="1 hour", watermark="0 seconds")
        q = (
            out.writeStream.format("memory")
            .queryName("dvfy_swin_gate")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .start()
        )
        try:
            for b in range(3):
                shutil.copy(staged[b], os.path.join(indir, f"b{b}.parquet"))
                q.processAllAvailable()
        finally:
            q.stop()
        snap = spark.table("dvfy_swin_gate").select(
            F.col("window_start").cast("double").alias("hour_epoch"),
            "name",
            "tests",
            "pass",
            "fail",
        )
        rows = [tuple(r) for r in snap.collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.catalog.dropTempView("dvfy_swin_gate")
    return spark.createDataFrame(
        rows, "hour_epoch double, name string, tests bigint, pass bigint, fail bigint"
    )


def q_stream_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: late-data ACCOUNTING (streaming/validate.py
    validate_stream_windowed_to_sink) — the watermark drop rule made
    explicit.  Events replay as 3 deterministic micro-batches keyed on
    hour%3; each batch classifies rows against the watermark in force
    entering it (max event time of earlier batches − 30 min), on-time rows
    feed the per-hour rule summary and dropped rows become per-hour
    _dropped_by_watermark counter rows, so tests sum to the full input.  The
    oracle recomputes per-batch watermarks and drop sets in SQL — every
    counter here is enumerable, not a lossy metric."""
    import glob
    import shutil
    import tempfile

    from dataverifyr_spark.streaming import (
        read_windowed_summary,
        validate_stream_windowed_to_sink,
    )

    rules = dv.ruleset(dv.rule("value <= 100", name="v_low"))
    ev = _t(spark, sf_dir, "events").select(
        (F.floor(F.col("ts").cast("timestamp").cast("double") / 3600) % 3)
        .cast("int")
        .alias("batch"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    root = tempfile.mkdtemp(prefix="dvfy_slate_gate_")
    try:
        indir = os.path.join(root, "in")
        os.makedirs(indir)
        staged = []
        for b in range(3):
            stage = os.path.join(root, f"stage{b}")
            ev.filter(F.col("batch") == b).select("ts", "value").coalesce(1).write.parquet(stage)
            staged.append(glob.glob(os.path.join(stage, "part-*.parquet"))[0])
        sdf = spark.readStream.schema("ts timestamp, value double").parquet(indir)
        writer = validate_stream_windowed_to_sink(
            sdf,
            rules,
            time_col="ts",
            sink_path=os.path.join(root, "sink"),
            checkpoint_path=os.path.join(root, "ckpt"),
            window="1 hour",
            watermark="30 minutes",
        )
        q = writer.start()
        try:
            for b in range(3):
                shutil.copy(staged[b], os.path.join(indir, f"b{b}.parquet"))
                q.processAllAvailable()
        finally:
            q.stop()
        summ = read_windowed_summary(spark, os.path.join(root, "sink")).select(
            F.col("window_start").cast("double").alias("hour_epoch"),
            "name",
            "tests",
            "pass",
            "fail",
        )
        rows = [tuple(r) for r in summ.collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "hour_epoch double, name string, tests bigint, pass bigint, fail bigint"
    )


def q_ledger_resume_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kill-and-resume through the ValidationLedger (ledger.py): phase 1
    "crashes" after committing only partition 'A'; phase 2 resumes with a
    FRESH ledger instance (process restart) over the full table — the
    anti-join must skip 'A' and validate only N/R; phase 3 re-invokes (0
    pending, no-op).  Final per-(partition, rule) lineage rows must equal a
    single-shot run — the DuckDB group-by oracle — proving resume loses no
    partition and double-counts none."""
    import shutil
    import tempfile

    from dataverifyr_spark.ledger import ValidationLedger

    rules = dv.ruleset(
        dv.rule("l_quantity > 0 & l_quantity <= 30", name="q1"),
        dv.rule("l_tax >= 0.05", name="q4", negate=True),
    )
    li = _t(spark, sf_dir, "lineitem")
    root = tempfile.mkdtemp(prefix="dvfy_ledger_gate_")
    try:
        path = os.path.join(root, "ledger")
        ValidationLedger(spark, path).run(
            li.filter("l_returnflag = 'A'"), rules, "l_returnflag", run_id="gate"
        )
        resumed = ValidationLedger(spark, path)
        resumed.run(li, rules, "l_returnflag", run_id="gate")
        resumed.run(li, rules, "l_returnflag", run_id="gate")  # idempotent
        rows = [
            (r["part_key"], r["name"], r["tests"], r["pass"], r["fail"])
            for r in resumed.results("gate")
            .select("part_key", "name", "tests", "pass", "fail")
            .collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "part_key string, name string, tests bigint, pass bigint, fail bigint"
    )


# Gates retired in round 6 (r5 VERDICT #1: the driver verifies a 50-query
# window; the registry must fit it so EVERY registered gate gets a driver
# CORRECTNESS row each round).  Every retirement below has (a) a green
# hash_match driver row in CORRECTNESS_r04/r05.json and (b) surviving
# coverage — a sibling gate exercising the same code path and/or dedicated
# pytest tests.  Only the one-line rationale stays here: the retired q_*
# functions and their oracle SQL are deleted (git history has them).
RETIRED_GATES: dict[str, str] = {
    "most_frequent_fused_customer": "fused single-scan variant of most_frequent_customer; describe has since had one top-k (that single all-columns pass), so the variant no longer exists and its q_* function is gone; covered by describe_by_most_frequent and tests/test_describe.py",
    "near_dup_pairs_embeddings_udf": "dim-768 broadcast-numpy arm of near_dup_pairs_embeddings; adaptive-path equality pinned in tests/test_operators.py",
    "check_by_event_type": "same grouped fused-agg path as check_by_returnflag (different table only)",
    "suggest_rules_events": "induction path covered by suggest_rules_customer + suggest_rules_embeddings",
    "image_validate": "subset of image_formats_validate (PPM/BMP/PNG/JPEG superset gate)",
    "describe_by_codec": "describe_by path covered by describe_by_most_frequent; audio decode by 5 audio gates",
    "lsh_topk_embeddings": "LSH searcher exercised inside ann_recall_lsh (stronger: vs exact truth)",
    "ivf_topk_embeddings": "IVF searcher exercised inside ann_recall_ivf + ivf_pq_topk_embeddings",
    "drift_psi_lineitem": "global drift path; keyed drift_psi_by_returnflag covers PSI/KS + aligned baselines",
    "topk_embeddings": "single-query brute top-k; topk_join_embeddings is the batch/scale path",
    "lsh_pairs_against_documents": "superseded by chunk_incremental_dedup_documents (same operator + composition)",
    "chunk_dedup_documents": "superseded by chunk_incremental_dedup_documents (same operator + composition)",
    "event_gaps": "freshness family covered by events_freshness; gap op tested in tests/test_operators.py",
    "quantiles_lineitem": "global GK-sketch path; quantiles_by_returnflag covers sketch + keyed variant",
    "audio_validate_by_codec": "grouped audio check = check_data_by (check_by_returnflag) x decode probe (audio_validate_clips)",
    "audio_validate_clips": "subset of audio_mixed_codec_validate (same 6 rules + cadences, single-codec corpus); stays the bench headline + tests/test_audio.py",
    "embedding_dedup_groups": "composition of near_dup_pairs_embeddings (gate) + connected_components (CC stage gated via near_dup_groups_documents; stress in tests/test_operators.py::TestConnectedComponentsStress); driver-green r04/r05; slot given to audio_dedup_pairs which drives the same embedding_near_dup_pairs operator (broadcast-UDF arm) end-to-end",
    "token_stats_documents": "whitespace arm of token_stats; driver-green r04/r05; bpe_token_stats_documents gates the same entrypoint's strictly stronger arm (trained merges + the whitespace pre-split), whitespace path stays green in tests/test_text.py; slot given to audio_quality_validate (clipping/DC/headroom/audibility rules, new probe fields)",
    "most_frequent_customer": "standalone top-n path; driver-green r04/r05; describe_by_most_frequent gates the strictly stronger keyed WindowGroupLimit variant and tests/test_describe.py keeps the standalone path green; slot given to transcript_validate (speaking-rate + levenshtein CER rules, new n_words/edit_distance dialect functions)",
    "check_by_returnflag": "keyed fused-agg path; driver-green r01–r05; check_by_file_lineitem gates the strictly stronger variant (same grouped conditional-sum aggregate + input_file_name lineage through a Hive-partitioned write, per-file == per-key truth cross-engine); the plain keyed path stays green in tests/test_check_data.py and inside the audio_mixed_codec_validate / image_formats_validate gates (both run check_data_by)",
    "stream_cumulative_events": "cumulative foreachBatch summary; driver-green r01–r05; covered by stream_windowed_events (same per-micro-batch rule aggregation, windowed) and stream_to_ledger_events (the cumulative bridge over the same incremental batches); stays green in tests/test_streaming.py; slot given to curate_clips_corpus (end-to-end decode→9-rule keep-filter→caption-dedup pipeline)",
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver verifies the first 50 entries.  The registry
    # is exactly 50 so every gate lands in CORRECTNESS_r{N}.json; gates the
    # driver has never seen (r5 judge-only verifications + new r6 gates)
    # lead, then the r4-window returners, then the long-green rest.
    return {
        # -- never in a driver window before r6 --
        "check_by_file_lineitem": q_check_by_file_lineitem,
        "curate_clips_corpus": q_curate_clips_corpus,
        "ann_recall_lsh": q_ann_recall_lsh,
        "ann_recall_ivf": q_ann_recall_ivf,
        "ivf_pq_topk_embeddings": q_ivf_pq_topk_embeddings,
        "stream_late_events": q_stream_late_events,
        "chunk_incremental_dedup_documents": q_chunk_incremental_dedup_documents,
        "audio_mixed_codec_validate": q_audio_mixed_codec_validate,
        "audio_dedup_pairs": q_audio_dedup_pairs,
        "audio_quality_validate": q_audio_quality_validate,
        "transcript_validate": q_transcript_validate,
        # -- outside the r5 window (last driver-verified in r4) --
        "stream_windowed_events": q_stream_windowed_events,
        "drift_psi_by_returnflag": q_drift_psi_by_returnflag,
        "topk_join_embeddings": q_topk_join_embeddings,
        "pq_adc_topk_embeddings": q_pq_adc_topk_embeddings,
        "audio_spectral_validate": q_audio_spectral_validate,
        "audio_segments_validate": q_audio_segments_validate,
        "reference_violations_orders": q_reference_violations_orders,
        "sources_jsonl_events": q_sources_jsonl_events,
        # -- r5-window keepers --
        "check_lineitem": q_check_lineitem,
        "violations_customer": q_violations_customer,
        "reference_orders_customer": q_reference_orders_customer,
        "describe_customer": q_describe_customer,
        "uniqueness_lineitem": q_uniqueness_lineitem,
        "dedup_exact_documents": q_dedup_exact_documents,
        "bpe_token_stats_documents": q_bpe_token_stats_documents,
        "unique_rule_lineitem": q_unique_rule_lineitem,
        "check_error_rows_lineitem": q_check_error_rows_lineitem,
        "embedding_validate": q_embedding_validate,
        "suggest_rules_embeddings": q_suggest_rules_embeddings,
        "quantiles_by_returnflag": q_quantiles_by_returnflag,
        "quality_documents": q_quality_documents,
        "lang_scores_documents": q_lang_scores_documents,
        "near_dup_pairs_embeddings": q_near_dup_pairs_embeddings,
        "events_freshness": q_events_freshness,
        "lsh_jaccard_pairs_documents": q_lsh_jaccard_pairs_documents,
        "near_dup_groups_documents": q_near_dup_groups_documents,
        "simhash_documents": q_simhash_documents,
        "audio_violations": q_audio_violations,
        "audio_validate_vs_reference": q_audio_validate_vs_reference,
        "image_formats_validate": q_image_formats_validate,
        "suggest_rules_customer": q_suggest_rules_customer,
        "schema_drift_lineitem_vs_customer": q_schema_drift_lineitem_vs_customer,
        "reference_by_orderstatus": q_reference_by_orderstatus,
        "video_validate": q_video_validate,
        "ledger_resume_lineitem": q_ledger_resume_lineitem,
        "h264_validate": q_h264_validate,
        "mjpeg_validate": q_mjpeg_validate,
        "describe_by_most_frequent": q_describe_by_most_frequent,
        "stream_to_ledger_events": q_stream_to_ledger_events,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _rule_row_sql(name: str, expr_label: str, pred_sql: str, allow_na: str, negate: str) -> str:
    return f"""
    SELECT 'row_rule' AS check_type, '{name}' AS name, '{expr_label}' AS expr,
           {allow_na} AS allow_na, {negate} AS negate,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(COALESCE(SUM(CASE WHEN {pred_sql} THEN 1 ELSE 0 END), 0) AS BIGINT) AS "pass",
           CAST(COUNT(*) - COALESCE(SUM(CASE WHEN {pred_sql} THEN 1 ELSE 0 END), 0) AS BIGINT) AS fail
    FROM lineitem"""


def oracle_sql() -> dict[str, str]:
    seg = "('MACHINERY', 'HOUSEHOLD', 'BUILDING', 'FURNITURE')"
    seg_expr = "c_mktsegment %in% c(''MACHINERY'', ''HOUSEHOLD'', ''BUILDING'', ''FURNITURE'')"
    check_lineitem = " UNION ALL ".join(
        [
            _rule_row_sql(
                "q1", "l_quantity > 0 & l_quantity <= 30",
                "l_quantity > 0 AND l_quantity <= 30", "FALSE", "FALSE",
            ),
            _rule_row_sql(
                "q2", "l_discount >= 0 & l_discount <= 0.05",
                "l_discount >= 0 AND l_discount <= 0.05", "FALSE", "FALSE",
            ),
            _rule_row_sql(
                "q3", "l_returnflag %in% c(''A'', ''N'')",
                "l_returnflag IN ('A', 'N')", "FALSE", "FALSE",
            ),
            _rule_row_sql("q4", "l_tax >= 0.05", "NOT (l_tax >= 0.05)", "FALSE", "TRUE"),
            _rule_row_sql(
                "q5", "l_extendedprice > 1000",
                "l_extendedprice > 1000 OR l_extendedprice IS NULL", "TRUE", "FALSE",
            ),
        ]
    )

    violations = f"""
    SELECT *, 'c_acctbal >= 0' AS failed_rule FROM customer
    WHERE NOT (c_acctbal >= 0 AND c_acctbal IS NOT NULL)
    UNION ALL
    SELECT *, '{seg_expr}' AS failed_rule FROM customer
    WHERE NOT (c_mktsegment IN {seg} AND c_mktsegment IS NOT NULL)
    """

    reference = """
    SELECT 'reference_rule' AS check_type, 'fk1' AS name,
           'o_custkey %in% customer$c_custkey' AS expr,
           FALSE AS allow_na, FALSE AS negate,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM orders
    """

    def desc_col(col: str, typ: str, numeric: bool) -> str:
        val = col if numeric else f"LENGTH(CAST({col} AS VARCHAR))"
        return f"""
        SELECT '{col}' AS var, '{typ}' AS type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT {col}) + CASE WHEN COUNT(*) > COUNT({col}) THEN 1 ELSE 0 END AS BIGINT) AS n_distinct,
               CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_na,
               ROUND(CAST(MIN({val}) AS DOUBLE), 6) AS min,
               ROUND(AVG(CAST({val} AS DOUBLE)), 6) AS mean,
               ROUND(CAST(quantile_cont(CAST({val} AS DOUBLE), 0.5) AS DOUBLE), 6) AS median,
               ROUND(CAST(MAX({val}) AS DOUBLE), 6) AS max,
               ROUND(STDDEV_SAMP(CAST({val} AS DOUBLE)), 6) AS sd
        FROM customer"""

    describe = " UNION ALL ".join(
        [
            desc_col("c_custkey", "integer", True),
            desc_col("c_name", "character", False),
            desc_col("c_nationkey", "integer", True),
            desc_col("c_acctbal", "numeric", True),
            desc_col("c_mktsegment", "character", False),
        ]
    )

    uniqueness = """
    SELECT 'l_orderkey.l_linenumber' AS key,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS total_rows,
           CAST(d.n AS BIGINT) AS distinct_keys,
           CAST((SELECT COUNT(*) FROM lineitem) - d.n AS BIGINT) AS duplicate_rows,
           (SELECT COUNT(*) FROM lineitem) = d.n AS is_unique
    FROM (SELECT COUNT(*) AS n FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) d
    """

    dedup = """
    SELECT md5(text) AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM documents GROUP BY md5(text)
    """

    quality = """
    SELECT doc_id,
           ROUND(CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / LENGTH(text), 6) AS alpha_ratio,
           ROUND(CAST(LENGTH(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / len(string_split(text, ' ')), 6) AS mean_token_len,
           ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 6) AS distinct_token_ratio
    FROM documents
    """

    langs = sorted(STOPWORDS)
    score_exprs = []
    for lang in langs:
        inlist = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        score_exprs.append(
            f"CAST(len(list_filter(string_split(text, ' '), t -> t IN ({inlist}))) AS INT) AS score_{lang}"
        )
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    guess_cases = " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    lang_scores = f"""
    SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
           CASE WHEN {best} > 0 THEN (CASE {guess_cases} END) END AS lang_guess
    FROM (SELECT doc_id, {", ".join(score_exprs)} FROM documents)
    """

    from dataverifyr_spark.operators.similarity import _hyperplanes

    _planes = _hyperplanes(64, 4, 42)
    _plane_rows = ", ".join(
        "(" + str(b) + ", [" + ", ".join(repr(v) for v in p) + "])"
        for b, p in enumerate(_planes)
    )

    # ann_recall_lsh — same seed-42 plane literals; recomputes buckets,
    # Hamming-1 probe targets (XOR masks 0,1,2,4,8), per-query candidate
    # sets, exact top-10 truth, and the recall fraction
    ann_recall_lsh_sql = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (SELECT * FROM (VALUES {_plane_rows}) p(b, pl)),
    buck AS (
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN list_dot_product(e.v, p.pl) >= 0
                           THEN 1 << p.b ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id
    ),
    q AS (SELECT e.vec_id AS qid, e.v AS qv, b.bucket AS qb
          FROM e JOIN buck b USING (vec_id) WHERE e.vec_id < 5),
    corpus AS (SELECT e.vec_id, e.v, b.bucket
               FROM e JOIN buck b USING (vec_id) WHERE e.vec_id >= 5),
    truth AS (
      SELECT q.qid, c.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(c.v, q.qv)
                        / (sqrt(list_dot_product(c.v, c.v))
                           * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                        c.vec_id ASC) AS rn
      FROM q CROSS JOIN corpus c
    ),
    masks AS (SELECT unnest([0, 1, 2, 4, 8]) AS m),
    cand AS (
      SELECT q.qid, c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
      FROM q JOIN masks ON TRUE
      JOIN corpus c ON c.bucket = xor(q.qb, CAST(m AS BIGINT))
    ),
    approx AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY qid) AS ncand
      FROM cand
    )
    SELECT t.qid AS query_id,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
           ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 4) AS recall,
           CAST(COALESCE(MAX(x.ncand), 0) AS BIGINT) AS n_candidates
    FROM truth t
    LEFT JOIN (SELECT * FROM approx WHERE rn <= 10) a
           ON t.qid = a.qid AND t.vec_id = a.vec_id
    LEFT JOIN (SELECT DISTINCT qid, ncand FROM approx) x ON t.qid = x.qid
    WHERE t.rn <= 10
    GROUP BY t.qid
    """

    # bpe_token_stats — the merge table bpe_train(uniform=True, 20) learns
    # from the SF-invariant document vocabulary, hard-coded here: training
    # drift or encoder-semantics drift breaks the hash
    _bpe_merges = [
        ("e", "r"), ("i", "n"), ("o", "r"), ("o", "w"), ("s", "t"),
        ("a", "l"), ("a", "r"), ("a", "t"), ("m", "er"), ("p", "ar"),
        ("u", "p"), ("a", "b"), ("a", "g"), ("a", "m"), ("a", "n"),
        ("a", "s"), ("ab", "l"), ("abl", "e"), ("ag", "g"), ("al", "l"),
    ]
    _bpe_expr = "TRIM(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    for _a, _b in _bpe_merges:
        _bpe_expr = f"REPLACE({_bpe_expr}, '{_a} {_b}', '{_a}{_b}')"
    bpe_token_stats_sql = f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN w = '' THEN 0
                         ELSE array_length(string_split({_bpe_expr}, ' ')) END) AS INT) AS n_bpe
    FROM words GROUP BY doc_id
    """

    # drift PSI — replicate drift.py's bucket/psi math exactly:
    # bucket = clamp(floor((v-lo)/width)), NULL→-1; psi term uses frac+eps
    drift_by = """
    WITH cur AS (
      SELECT l_returnflag AS k,
             CASE WHEN l_extendedprice IS NULL THEN -1
                  ELSE LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 0.0) / 5500.0) AS INT), 0), 19) END AS bucket,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    ), curf AS (
      SELECT k, bucket, CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY k) AS cur_frac FROM cur
    ), base AS (
      SELECT CASE WHEN l_extendedprice IS NULL THEN -1
                  ELSE LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 0.0) / 5500.0) AS INT), 0), 19) END AS bucket,
             COUNT(*) AS c
      FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
    ), basef AS (
      SELECT bucket, CAST(c AS DOUBLE) / (SELECT SUM(c) FROM base) AS base_frac FROM base
    ), expanded AS (
      SELECT keys.k, basef.bucket, basef.base_frac
      FROM (SELECT DISTINCT l_returnflag AS k FROM lineitem) keys CROSS JOIN basef
    ), j AS (
      SELECT COALESCE(curf.k, expanded.k) AS k,
             COALESCE(curf.bucket, expanded.bucket) AS bucket,
             COALESCE(cur_frac, 0.0) AS cf, COALESCE(base_frac, 0.0) AS bf
      FROM curf FULL OUTER JOIN expanded
        ON curf.k = expanded.k AND curf.bucket = expanded.bucket
    ), gaps AS (
      SELECT k, cf, bf,
             ABS(SUM(cf) OVER (PARTITION BY k ORDER BY bucket)
                 - SUM(bf) OVER (PARTITION BY k ORDER BY bucket)) AS gap
      FROM j
    )
    SELECT k AS l_returnflag,
           ROUND(SUM((cf - bf) * LN((cf + 1e-6) / (bf + 1e-6))), 6) AS psi,
           ROUND(MAX(gap), 6) AS ks,
           SUM((cf - bf) * LN((cf + 1e-6) / (bf + 1e-6))) > 0.2 AS drifted
    FROM gaps GROUP BY k
    """

    # brute-force oracle over the same derived (orig ∪ jittered-dup) table the
    # Spark LSH path reads — the jitter is integer arithmetic, bit-identical
    # in both engines (see _embeddings_with_near_dups)
    near_dup = """
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dups AS (
      SELECT vec_id + 100000 AS vec_id,
             list_transform(range(0, len(v)),
                            i -> v[i + 1] + CAST((vec_id * 7 + i) % 11 AS DOUBLE) * 0.0005) AS v
      FROM base
    ),
    allv AS (SELECT * FROM base UNION ALL SELECT * FROM dups)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM allv a, allv b
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.99
    """

    # shared shingle CTEs: 3-gram shingles over the same normalization Spark's
    # shingles() applies (lower, trim, collapse whitespace); docs shorter than
    # k collapse to one whole-text shingle
    shingle_cte = """
    docs_n AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM documents
    ),
    toks AS (SELECT doc_id, t, string_split(t, ' ') AS tk FROM docs_n),
    sh AS (
      SELECT doc_id, unnest(
        CASE WHEN len(tk) >= 3
             THEN list_distinct(list_transform(range(1, len(tk) - 1),
                                               i -> array_to_string(tk[i:i+2], ' ')))
             ELSE [t] END) AS s
      FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
      SELECT i.id_a, i.id_b,
             CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
    )"""

    lsh_jaccard = f"""
    WITH {shingle_cte}
    SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.7
    """

    # chunk→incremental-dedup composition: exact cross-half Jaccard at
    # PASSAGE granularity — 8-token windows recomputed with list_slice over
    # generate_series (same window math as the retired chunk gate), passage
    # id = doc_id*1000 + chunk_idx, then the document-level shingle/jaccard
    # CTE re-applied to passages; original-doc parity decides corpus vs new
    chunk_incremental = """
    WITH raw_toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS tk
      FROM documents
    ),
    p AS (
      SELECT t.doc_id * 1000 + i.i AS doc_id,
             array_to_string(list_slice(t.tk, i.i * 8 + 1, i.i * 8 + 8), ' ') AS text
      FROM raw_toks t
      CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS i) i
      WHERE i.i <= CASE WHEN len(t.tk) <= 0 THEN 0 ELSE (len(t.tk) - 1) // 8 END
    ),
    docs_n AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM p
    ),
    toks AS (SELECT doc_id, t, string_split(t, ' ') AS tk FROM docs_n),
    sh AS (
      SELECT doc_id, unnest(
        CASE WHEN len(tk) >= 3
             THEN list_distinct(list_transform(range(1, len(tk) - 1),
                                               i -> array_to_string(tk[i:i+2], ' ')))
             ELSE [t] END) AS s
      FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
      SELECT i.id_a, i.id_b,
             CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
    )
    SELECT CASE WHEN (id_a // 1000) % 2 = 1 THEN id_a ELSE id_b END AS id_new,
           CASE WHEN (id_a // 1000) % 2 = 1 THEN id_b ELSE id_a END AS id_corpus,
           jaccard
    FROM jac
    WHERE jaccard >= 0.7 AND ((id_a // 1000) % 2) <> ((id_b // 1000) % 2)
    """

    # components: min-reachable-id via recursive CTE over the exact-Jaccard
    # edge list; every doc seeds its own label, so isolated docs keep their id
    near_dup_groups = f"""
    WITH RECURSIVE {shingle_cte},
    edges AS (SELECT id_a AS src, id_b AS dst FROM jac WHERE jaccard >= 0.7),
    bi AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT bi.dst, reach.lab FROM reach JOIN bi ON bi.src = reach.node
    )
    SELECT node AS doc_id, MIN(lab) AS component, node = MIN(lab) AS is_kept
    FROM reach GROUP BY node
    """

    # simhash: identical md5-low-32 token hash family + per-bit majority vote
    simhash = """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashed, (SELECT unnest(generate_series(0, 31)) AS bit) b
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """

    # audio: the fixture injects violations at pure index cadences
    # (audio/fixtures.py:42-48); recompute each rule's expected counts from
    # generate_series(0, 1999) — no audio decoding needed on the oracle side
    def audio_rule_row(name: str, expr: str, pass_cond: str) -> str:
        return f"""
    SELECT 'row_rule' AS check_type, '{name}' AS name, '{expr}' AS expr,
           FALSE AS allow_na, FALSE AS negate,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN {pass_cond} THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN {pass_cond} THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM flags"""

    audio_flags = """
    WITH flags AS (
      SELECT i,
             (i > 0 AND i % 41 = 0) AS corrupt,
             (i > 0 AND i % 17 = 0) AS bad_sr,
             (i > 0 AND i % 23 = 0) AS bad_dur,
             (i > 0 AND i % 31 = 0) AS empty_t,
             (i > 0 AND i % 37 = 0) AS null_t
      FROM (SELECT unnest(generate_series(0, 1999)) AS i)
    )
    """

    # video fixture cadence (operators/image.py VID_*_EVERY): decode fails on
    # broken-magic rows (every 13th); short rows (every 7th) have 2 frames;
    # dark rows (every 11th) fail the luma rule only when they decode
    # (allow_na rescues NULL probe columns on invalid rows)
    def video_rule_row(name: str, expr: str, allow_na: str, pass_cond: str) -> str:
        return f"""
    SELECT 'row_rule' AS check_type, '{name}' AS name, '{expr}' AS expr,
           {allow_na} AS allow_na, FALSE AS negate,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN {pass_cond} THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN {pass_cond} THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM vflags"""

    video_validate = """
    WITH vflags AS (
      SELECT i,
             (i > 0 AND i % 13 = 0) AS corrupt,
             (i > 0 AND i % 7 = 0) AS short,
             (i > 0 AND i % 11 = 0) AS dark
      FROM (SELECT unnest(generate_series(0, 499)) AS i)
    )
    """ + " UNION ALL ".join(
        [
            video_rule_row("decodes", "vid_valid", "FALSE", "NOT corrupt"),
            video_rule_row("enough_frames", "vid_n_frames >= 5", "TRUE", "corrupt OR NOT short"),
            video_rule_row("not_black", "vid_mean_luma > 1", "TRUE", "corrupt OR NOT dark"),
        ]
    )

    mjpeg_validate = """
    WITH vflags AS (
      SELECT i,
             (i > 0 AND i % 13 = 0) AS corrupt,
             (i > 0 AND i % 7 = 0) AS short,
             (i > 0 AND i % 11 = 0) AS dark
      FROM (SELECT unnest(generate_series(0, 399)) AS i)
    )
    """ + " UNION ALL ".join(
        [
            video_rule_row("decodes", "vid_valid", "FALSE", "NOT corrupt"),
            video_rule_row("enough_frames", "vid_n_frames >= 5", "TRUE", "corrupt OR NOT short"),
            video_rule_row("not_black", "vid_mean_luma > 10", "TRUE", "corrupt OR NOT dark"),
        ]
    )

    h264_validate = """
    WITH vflags AS (
      SELECT i,
             (i > 0 AND i % 13 = 0) AS corrupt,
             (i > 0 AND i % 7 = 0) AS short,
             (i > 0 AND i % 11 = 0) AS noidr
      FROM (SELECT unnest(generate_series(0, 499)) AS i)
    )
    """ + " UNION ALL ".join(
        [
            video_rule_row("decodes", "vid_valid", "FALSE", "NOT corrupt"),
            video_rule_row("enough_frames", "vid_n_frames >= 5", "TRUE", "corrupt OR NOT short"),
            video_rule_row(
                "has_keyframes", "vid_n_idr >= 2", "TRUE",
                "corrupt OR (NOT short AND NOT noidr)",
            ),
            video_rule_row(
                "min_resolution", "vid_width >= 64 & vid_height >= 48", "TRUE", "TRUE"
            ),
        ]
    )

    # mixed-format fixture: fmt itself is index-derived, so per-format group
    # membership AND per-group rule counts are pure index arithmetic
    image_formats = """
    WITH mflags AS (
      SELECT i, (['ppm','bmp','png','jpeg'])[(i % 4) + 1] AS fmt,
             (i > 0 AND i % 13 = 0) AS corrupt,
             (i > 0 AND i % 11 = 0) AS dark,
             (i % 7 = 6) AS wide
      FROM (SELECT unnest(generate_series(0, 799)) AS i)
    )
    SELECT fmt, 'decodes' AS name, 'img_valid' AS expr,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM mflags GROUP BY fmt
    UNION ALL
    SELECT fmt, 'width_cap', 'img_width <= 26',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN corrupt OR NOT wide THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN corrupt OR NOT wide THEN 1 ELSE 0 END) AS BIGINT)
    FROM mflags GROUP BY fmt
    UNION ALL
    SELECT fmt, 'not_black', 'img_brightness > 1',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN corrupt OR NOT dark THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN corrupt OR NOT dark THEN 1 ELSE 0 END) AS BIGINT)
    FROM mflags GROUP BY fmt
    """

    audio = audio_flags + " UNION ALL ".join(
        [
            audio_rule_row("decodes", "audio_valid", "NOT corrupt"),
            audio_rule_row("sr_consistent", "audio_sr == sr_hz", "NOT corrupt AND NOT bad_sr"),
            audio_rule_row(
                "dur_consistent", "abs(audio_dur_ms - dur_ms) <= 2",
                "NOT corrupt AND NOT bad_dur",
            ),
            audio_rule_row("pcm_allclose_snr", "audio_snr_db >= 30.0", "NOT corrupt"),
            audio_rule_row(
                "transcript_equal", "audio_transcript_ok", "NOT empty_t AND NOT null_t"
            ),
            audio_rule_row(
                "transcript_nonempty", "nchar(trimws(transcript)) > 0",
                "NOT empty_t AND NOT null_t",
            ),
        ]
    )

    # mixed-codec corpus: same cadences + the every-29th codec-column lie
    # (the codec CYCLE changes which bytes each row carries, but not which
    # rows violate which rule — all five codecs decode above the 30 dB SNR
    # floor, so only corrupt rows fail decode/SNR, and codec_consistent
    # fails exactly on corrupt ∪ liar rows)
    audio_mixed = (
        audio_flags.replace(
            "(i > 0 AND i % 37 = 0) AS null_t",
            "(i > 0 AND i % 37 = 0) AS null_t,\n"
            "             (i > 0 AND i % 29 = 0) AS bad_codec",
        )
        + " UNION ALL ".join(
            [
                audio_rule_row("decodes", "audio_valid", "NOT corrupt"),
                audio_rule_row(
                    "sr_consistent", "audio_sr == sr_hz", "NOT corrupt AND NOT bad_sr"
                ),
                audio_rule_row(
                    "dur_consistent", "abs(audio_dur_ms - dur_ms) <= 2",
                    "NOT corrupt AND NOT bad_dur",
                ),
                audio_rule_row("pcm_allclose_snr", "audio_snr_db >= 30.0", "NOT corrupt"),
                audio_rule_row(
                    "transcript_equal", "audio_transcript_ok", "NOT empty_t AND NOT null_t"
                ),
                audio_rule_row(
                    "transcript_nonempty", "nchar(trimws(transcript)) > 0",
                    "NOT empty_t AND NOT null_t",
                ),
                audio_rule_row(
                    "codec_consistent", "audio_codec == codec",
                    "NOT corrupt AND NOT bad_codec",
                ),
            ]
        )
    )

    # signal-quality corpus (quality_clips_table): defect flags COMPOSE —
    # the x0.01 attenuation physically defeats both clipping and DC bias
    # (fixtures apply dc, then gain, then attenuation), so the effective
    # flags are (clipped AND NOT quiet) / (dc AND NOT quiet).  Every rule
    # threshold sits >3x from both verdict sides over the full index range
    # (margins pinned in tests/test_audio_quality.py)
    audio_quality = """
    WITH flags AS (
      SELECT i,
             (i > 0 AND i % 41 = 0) AS corrupt,
             (i > 0 AND i % 19 = 0 AND NOT i % 47 = 0) AS clipped,
             (i > 0 AND i % 43 = 0 AND NOT i % 47 = 0) AS dc,
             (i > 0 AND i % 47 = 0) AS quiet
      FROM (SELECT unnest(generate_series(0, 1999)) AS i)
    )
    """ + " UNION ALL ".join(
        [
            audio_rule_row("decodes", "audio_valid(bytes)", "NOT corrupt"),
            audio_rule_row(
                "not_clipped", "audio_clip_ratio(bytes) <= 0.01",
                "NOT corrupt AND NOT clipped",
            ),
            audio_rule_row(
                "no_dc_offset", "abs(audio_dc_offset(bytes)) <= 0.05",
                "NOT corrupt AND NOT dc",
            ),
            audio_rule_row(
                "peak_in_range", "audio_peak(bytes) <= 0.999",
                "NOT corrupt AND NOT clipped",
            ),
            audio_rule_row(
                "rms_audible", "audio_rms(bytes) >= 0.05",
                "NOT corrupt AND NOT quiet",
            ),
        ]
    )

    # transcript corpus (transcript_clips_table): defects REPLACE the
    # caption, later cadence winning (fixture if-chain order: overlong %53,
    # typo %59, garbage %61, empty %31, null %37), so the effective flags
    # below carry the same priority guards.  Margins pinned in
    # tests/test_transcripts.py: clean rate <= 11 w/s vs threshold 30;
    # overlong >= 120 w/s; typo edit distance exactly 1 vs bound 2; garbage
    # distance >= 40 (alphabet disjoint from the vocab, LCS = 0); the
    # shortest vocab word is 4 chars so empty captions sit at distance >= 4.
    transcript_validate = """
    WITH flags AS (
      SELECT i,
             (i > 0 AND i % 37 = 0) AS null_t,
             (i > 0 AND i % 31 = 0 AND NOT i % 37 = 0) AS empty_t,
             (i > 0 AND i % 61 = 0 AND NOT i % 31 = 0 AND NOT i % 37 = 0) AS garbage,
             (i > 0 AND i % 59 = 0 AND NOT i % 61 = 0 AND NOT i % 31 = 0
                    AND NOT i % 37 = 0) AS typo,
             (i > 0 AND i % 53 = 0 AND NOT i % 59 = 0 AND NOT i % 61 = 0
                    AND NOT i % 31 = 0 AND NOT i % 37 = 0) AS overlong
      FROM (SELECT unnest(generate_series(0, 1999)) AS i)
    )
    """ + " UNION ALL ".join(
        [
            audio_rule_row(
                "transcript_nonempty", "nchar(trimws(transcript)) > 0",
                "NOT empty_t AND NOT null_t",
            ),
            audio_rule_row(
                "rate_plausible",
                "n_words(transcript) / (dur_ms / 1000.0) <= 30.0",
                "NOT overlong AND NOT null_t",
            ),
            audio_rule_row(
                "cer_bounded",
                "edit_distance(transcript, expected_transcript) <= 2",
                "NOT garbage AND NOT overlong AND NOT empty_t AND NOT null_t",
            ),
            audio_rule_row(
                "transcript_exact", "transcript == expected_transcript",
                "NOT typo AND NOT garbage AND NOT overlong AND NOT empty_t AND NOT null_t",
            ),
        ]
    )

    # row-LEVEL audio violations: the cadence determines exactly WHICH
    # clip_ids violate each rule (corrupt rows also fail sr-consistency —
    # NULL decoded sr never equals the column)
    audio_violations = """
    WITH flags AS (
      SELECT i, 'clip-' || lpad(CAST(i AS VARCHAR), 12, '0') AS clip_id,
             (i > 0 AND i % 41 = 0) AS corrupt,
             (i > 0 AND i % 17 = 0) AS bad_sr,
             (i > 0 AND i % 31 = 0) AS empty_t,
             (i > 0 AND i % 37 = 0) AS null_t
      FROM (SELECT unnest(generate_series(0, 1999)) AS i)
    )
    SELECT clip_id, 'audio_valid' AS failed_rule FROM flags WHERE corrupt
    UNION ALL
    SELECT clip_id, 'audio_sr == sr_hz' FROM flags WHERE corrupt OR bad_sr
    UNION ALL
    SELECT clip_id, 'audio_transcript_ok' FROM flags WHERE empty_t OR null_t
    """

    # one entry per registered gate: the driver contract is oracle_sql()
    # keys == queries() keys
    return {
        "check_lineitem": check_lineitem,
        # per-file summary: one parquet file per l_returnflag dir by
        # construction, so per-file truth == per-key truth
        "check_by_file_lineitem": """
    SELECT l_returnflag, 'q1' AS name,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN l_quantity > 0 AND l_quantity <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN l_quantity > 0 AND l_quantity <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT l_returnflag, 'q2' AS name,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM lineitem GROUP BY l_returnflag
    """,
        # curation survivor set = every clip no defect cadence hits (clip 0
        # is always clean; the %29 codec-liar is not a curation rule)
        "curate_clips_corpus": """
    SELECT 'clip-' || lpad(CAST(i AS VARCHAR), 12, '0') AS clip_id
    FROM generate_series(0, 1999) t(i)
    WHERE i = 0 OR (i % 17 != 0 AND i % 23 != 0 AND i % 31 != 0
                    AND i % 37 != 0 AND i % 41 != 0)
    """,
        "events_freshness": """
    SELECT event_type, MAX(ts) AS last_ts,
           ROUND((epoch(TIMESTAMP '2024-01-31 12:00:00') - epoch(MAX(ts))) / 60.0, 3) AS lag_minutes,
           (epoch(TIMESTAMP '2024-01-31 12:00:00') - epoch(MAX(ts))) / 60.0 <= 720 AS is_fresh
    FROM events GROUP BY event_type
    """,
        "drift_psi_by_returnflag": drift_by,
        "near_dup_pairs_embeddings": near_dup,
        "lsh_jaccard_pairs_documents": lsh_jaccard,
        "chunk_incremental_dedup_documents": chunk_incremental,
        "video_validate": video_validate,
        "h264_validate": h264_validate,
        "mjpeg_validate": mjpeg_validate,
        "stream_windowed_events": """
    WITH base AS (
      SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS DOUBLE) AS hour_epoch,
             CASE WHEN value <= 100 THEN 1 ELSE 0 END AS p0,
             CASE WHEN NOT (value > 400) THEN 1 ELSE 0 END AS p1
      FROM events
    )
    SELECT hour_epoch, 'v_low' AS name, CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(p0) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(p0) AS BIGINT) AS fail
    FROM base GROUP BY hour_epoch
    UNION ALL
    SELECT hour_epoch, 'v_not_extreme' AS name, CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(p1) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(p1) AS BIGINT) AS fail
    FROM base GROUP BY hour_epoch
    """,
        "stream_late_events": """
    WITH e AS (
      SELECT ts, value,
             CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) % 3 AS batch
      FROM events
    ),
    wm AS (
      SELECT b.batch,
             (SELECT MAX(epoch(e2.ts)) FROM e e2 WHERE e2.batch < b.batch) - 1800 AS wm
      FROM (SELECT DISTINCT batch FROM e) b
    ),
    tagged AS (
      SELECT e.h, e.value,
             (wm.wm IS NOT NULL AND (e.h + 1) * 3600 <= wm.wm) AS late
      FROM e JOIN wm USING (batch)
    )
    SELECT CAST(h * 3600 AS DOUBLE) AS hour_epoch, 'v_low' AS name,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM tagged WHERE NOT late GROUP BY h
    UNION ALL
    SELECT CAST(h * 3600 AS DOUBLE) AS hour_epoch, '_dropped_by_watermark' AS name,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(0 AS BIGINT) AS "pass",
           CAST(COUNT(*) AS BIGINT) AS fail
    FROM tagged WHERE late GROUP BY h
    """,
        "stream_to_ledger_events": """
    WITH base AS (
      SELECT event_type,
             CASE WHEN value <= 100 THEN 1 ELSE 0 END AS p0,
             CASE WHEN NOT (value > 400) THEN 1 ELSE 0 END AS p1
      FROM events
    )
    SELECT event_type, 'v_low' AS name, CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(p0) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(p0) AS BIGINT) AS fail
    FROM base GROUP BY event_type
    UNION ALL
    SELECT event_type, 'v_not_extreme' AS name, CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(p1) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(p1) AS BIGINT) AS fail
    FROM base GROUP BY event_type
    """,
        "ledger_resume_lineitem": """
    WITH base AS (
      SELECT CAST(l_returnflag AS VARCHAR) AS part_key,
             CASE WHEN l_quantity > 0 AND l_quantity <= 30 THEN 1 ELSE 0 END AS p0,
             CASE WHEN NOT (l_tax >= 0.05) THEN 1 ELSE 0 END AS p1
      FROM lineitem
    )
    SELECT part_key, 'q1' AS name, CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(p0) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(p0) AS BIGINT) AS fail
    FROM base GROUP BY part_key
    UNION ALL
    SELECT part_key, 'q4' AS name, CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(p1) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(p1) AS BIGINT) AS fail
    FROM base GROUP BY part_key
    """,
        "near_dup_groups_documents": near_dup_groups,
        "simhash_documents": simhash,
        "audio_mixed_codec_validate": audio_mixed,
        "audio_quality_validate": audio_quality,
        "transcript_validate": transcript_validate,
        # re-encoded-duplicate corpus: pairs are pure index arithmetic —
        # every 3rd clip duplicates its predecessor's waveform, every 41st
        # container is truncated (NULL fingerprint, pairs drop)
        "audio_dedup_pairs": """
    SELECT 'clip-' || lpad(CAST(i - 1 AS VARCHAR), 12, '0') AS id_a,
           'clip-' || lpad(CAST(i AS VARCHAR), 12, '0') AS id_b
    FROM generate_series(1, 299) t(i)
    WHERE i % 3 = 2 AND i % 41 != 0 AND (i - 1) % 41 != 0
    """,
        "audio_spectral_validate": """
    WITH flags AS (
      SELECT i, (i > 0 AND i % 41 = 0) AS corrupt
      FROM (SELECT unnest(generate_series(0, 1999)) AS i)
    )
    SELECT 'row_rule' AS check_type, 'dom_in_band' AS name,
           'audio_dom_freq(bytes) >= 95 & audio_dom_freq(bytes) <= 260' AS expr,
           FALSE AS allow_na, FALSE AS negate,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM flags
    UNION ALL
    SELECT 'row_rule', 'centroid_above',
           'audio_spec_centroid(bytes) > audio_dom_freq(bytes)',
           FALSE, FALSE,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT)
    FROM flags
    """,
        "audio_segments_validate": """
    WITH clips AS (
      SELECT i, 3 + i % 3 AS nseg,
             (i > 0 AND i % 13 = 0) AS corrupt,
             (i > 0 AND i % 5 = 0) AS silent
      FROM (SELECT unnest(generate_series(0, 299)) AS i)
    ), counts AS (
      SELECT CAST(SUM(CASE WHEN corrupt THEN 1 ELSE nseg END) AS BIGINT) AS tests,
             CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
             CAST(SUM(CASE WHEN NOT corrupt AND silent THEN 1 ELSE 0 END) AS BIGINT) AS n_silent
      FROM clips
    )
    SELECT 'row_rule' AS check_type, 'decodes' AS name, 'seg_valid' AS expr,
           FALSE AS allow_na, FALSE AS negate,
           tests, tests - n_corrupt AS "pass", n_corrupt AS fail FROM counts
    UNION ALL
    SELECT 'row_rule', 'nonsilent', 'seg_rms > 0.001', FALSE, FALSE,
           tests, tests - n_corrupt - n_silent, n_corrupt + n_silent FROM counts
    UNION ALL
    SELECT 'row_rule', 'freq_tracks_tone',
           'seg_dom_freq_hz >= 150 & seg_dom_freq_hz <= 460', FALSE, FALSE,
           tests, tests - n_corrupt - n_silent, n_corrupt + n_silent FROM counts
    """,
        "audio_violations": audio_violations,
        "audio_validate_vs_reference": audio,
        "image_formats_validate": image_formats,
        "reference_by_orderstatus": """
    SELECT o_orderstatus, 'fk_by' AS name,
           'o_custkey %in% customer$c_custkey' AS expr,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM customer)
                         THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM customer)
                                    THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM orders GROUP BY o_orderstatus
    """,
        "schema_drift_lineitem_vs_customer": """
    SELECT * FROM (VALUES
      ('c_custkey',    'added', CAST(NULL AS VARCHAR), 'bigint'),
      ('c_name',       'added', NULL, 'string'),
      ('c_nationkey',  'added', NULL, 'int'),
      ('c_acctbal',    'added', NULL, 'double'),
      ('c_mktsegment', 'added', NULL, 'string'),
      ('l_orderkey',     'removed', 'bigint', CAST(NULL AS VARCHAR)),
      ('l_partkey',      'removed', 'bigint', NULL),
      ('l_suppkey',      'removed', 'bigint', NULL),
      ('l_linenumber',   'removed', 'int', NULL),
      ('l_quantity',     'removed', 'double', NULL),
      ('l_extendedprice','removed', 'double', NULL),
      ('l_discount',     'removed', 'double', NULL),
      ('l_tax',          'removed', 'double', NULL),
      ('l_returnflag',   'removed', 'string', NULL),
      ('l_linestatus',   'removed', 'string', NULL),
      ('l_shipdate',     'removed', 'timestamp_ntz', NULL)
    ) AS t("column", status, old_type, new_type)
    """,
        "suggest_rules_customer": """
    WITH n AS (SELECT COUNT(*) AS cnt FROM customer)
    SELECT r.name, n.cnt AS tests, n.cnt AS "pass", CAST(0 AS BIGINT) AS fail
    FROM n, (VALUES ('bounds_c_custkey'), ('unique_c_custkey'), ('notnull_c_custkey'),
                    ('unique_c_name'), ('notnull_c_name'),
                    ('bounds_c_nationkey'), ('fk_c_nationkey'), ('notnull_c_nationkey'),
                    ('bounds_c_acctbal'), ('notnull_c_acctbal'),
                    ('set_c_mktsegment'), ('notnull_c_mktsegment')) AS r(name)
    """,
        "reference_violations_orders": """
    WITH mutated AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey
      FROM orders
    )
    SELECT m.o_orderkey, m.o_custkey
    FROM mutated m
    WHERE m.o_custkey IS NULL
       OR m.o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
    """,
        "sources_jsonl_events": """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY event_type
    """,
        "describe_by_most_frequent": """
    WITH ranked AS (
      SELECT c_mktsegment, 'c_nationkey' AS var, c_nationkey AS val, COUNT(*) AS c,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY COUNT(*) DESC, c_nationkey ASC) AS rn
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, var,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           COALESCE(string_agg(CAST(val AS VARCHAR) || ' (' || c || ')', ', ' ORDER BY rn)
                      FILTER (WHERE rn <= 3 AND c > 1), '') AS most_frequent
    FROM ranked GROUP BY c_mktsegment, var
    """,
        "violations_customer": violations,
        "reference_orders_customer": reference,
        "describe_customer": describe,
        "uniqueness_lineitem": uniqueness,
        "dedup_exact_documents": dedup,
        "bpe_token_stats_documents": bpe_token_stats_sql,
        "suggest_rules_embeddings": """
    WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings)
    SELECT r.name, n.cnt AS tests, n.cnt AS "pass", CAST(0 AS BIGINT) AS fail
    FROM n, (VALUES ('bounds_vec_id'), ('notnull_vec_id'), ('dim_embedding'),
                    ('notnull_embedding'), ('unique_vec_id')) AS r(name)
    """,
        "embedding_validate": ("""
    WITH e AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL SELECT [__ONES63__]
      UNION ALL SELECT [__NANS64__]
      UNION ALL SELECT [__ZEROS64__]
    ),
    f AS (
      SELECT len(v) = 64 AS dim_ok,
             len(list_filter(v, x -> isnan(x))) = 0 AS nan_free,
             sqrt(list_dot_product(v, v)) > 0.001 AS nonzero_ok,
             list_aggregate(list_transform(v, x -> abs(x)), 'max') <= 100 AS bounded_ok
      FROM e
    )
    SELECT 'row_rule' AS check_type, 'dim64' AS name,
           'vec_dim(embedding) == 64' AS expr, FALSE AS allow_na, FALSE AS negate,
           CAST(COUNT(*) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN dim_ok THEN 1 ELSE 0 END) AS BIGINT) AS "pass",
           CAST(COUNT(*) - SUM(CASE WHEN dim_ok THEN 1 ELSE 0 END) AS BIGINT) AS fail
    FROM f
    UNION ALL
    SELECT 'row_rule', 'no_nan', 'vec_has_nan(embedding)', FALSE, TRUE,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nan_free THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN nan_free THEN 1 ELSE 0 END) AS BIGINT)
    FROM f
    UNION ALL
    SELECT 'row_rule', 'nonzero', 'vec_norm(embedding) > 0.001', FALSE, FALSE,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nonzero_ok THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN nonzero_ok THEN 1 ELSE 0 END) AS BIGINT)
    FROM f
    UNION ALL
    SELECT 'row_rule', 'bounded', 'vec_max_abs(embedding) <= 100', FALSE, FALSE,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN bounded_ok THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN bounded_ok THEN 1 ELSE 0 END) AS BIGINT)
    FROM f
    """
        .replace("__ONES63__", ", ".join(["1.0"] * 63))
        .replace("__NANS64__", ", ".join(["'NaN'::DOUBLE"] * 64))
        .replace("__ZEROS64__", ", ".join(["0.0"] * 64))),
        "check_error_rows_lineitem": """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem)
    SELECT 'good' AS name, n.cnt AS tests,
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0) AS BIGINT) AS "pass",
           n.cnt - CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0) AS BIGINT) AS fail,
           FALSE AS has_error
    FROM n
    UNION ALL
    SELECT 'broken', n.cnt, CAST(0 AS BIGINT), n.cnt, TRUE FROM n
    UNION ALL
    SELECT 'coerces', n.cnt,
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE COALESCE(TRY_CAST(l_returnflag AS DOUBLE) > 0, FALSE)
                    OR l_returnflag IS NULL) AS BIGINT),
           n.cnt - CAST((SELECT COUNT(*) FROM lineitem
                         WHERE COALESCE(TRY_CAST(l_returnflag AS DOUBLE) > 0, FALSE)
                            OR l_returnflag IS NULL) AS BIGINT),
           FALSE
    FROM n
    """,
        "quantiles_by_returnflag": """
    WITH q AS (
      SELECT l_returnflag, 'l_extendedprice' AS var,
             quantile_cont(l_extendedprice, [0.01, 0.25, 0.5, 0.75, 0.99]) AS vals
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag, 'l_quantity',
             quantile_cont(l_quantity, [0.01, 0.25, 0.5, 0.75, 0.99])
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT q.l_returnflag, q.var,
           CAST(([0.01, 0.25, 0.5, 0.75, 0.99])[i.i] AS DOUBLE) AS prob,
           ROUND(CAST(q.vals[i.i] AS DOUBLE), 6) AS value
    FROM q CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS i) i
    """,
        "unique_rule_lineitem": """
    WITH g1 AS (
      SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber
    ), g2 AS (
      SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey
    )
    SELECT 'uniqueness_rule' AS check_type, 'pk_composite' AS name,
           'is_unique(l_orderkey, l_linenumber)' AS expr,
           FALSE AS allow_na, FALSE AS negate,
           CAST(SUM(c) AS BIGINT) AS tests,
           CAST(SUM(CASE WHEN c = 1 THEN c ELSE 0 END) AS BIGINT) AS "pass",
           CAST(SUM(c) - SUM(CASE WHEN c = 1 THEN c ELSE 0 END) AS BIGINT) AS fail
    FROM g1
    UNION ALL
    SELECT 'uniqueness_rule', 'pk_orderkey_alone', 'is_unique(l_orderkey)',
           FALSE, FALSE,
           CAST(SUM(c) AS BIGINT),
           CAST(SUM(CASE WHEN c = 1 THEN c ELSE 0 END) AS BIGINT),
           CAST(SUM(c) - SUM(CASE WHEN c = 1 THEN c ELSE 0 END) AS BIGINT)
    FROM g2
    """,
        "quality_documents": quality,
        "lang_scores_documents": lang_scores,
        "topk_join_embeddings": """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
    scored AS (
      SELECT q.query_id, c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC,
               c.vec_id ASC) AS rn
      FROM c CROSS JOIN q
    )
    SELECT query_id, vec_id, ROUND(sim, 4) AS cosine_sim FROM scored WHERE rn <= 5
    """,
        "pq_adc_topk_embeddings": """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cents AS (SELECT vec_id - 1 AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 16),
    subs AS (SELECT unnest(generate_series(0, 7)) AS j),
    assigned AS (
      SELECT a.vec_id, s.j, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id, s.j
               ORDER BY
                 list_dot_product(list_slice(a.v, s.j*8+1, s.j*8+8), list_slice(a.v, s.j*8+1, s.j*8+8))
                 - 2 * list_dot_product(list_slice(a.v, s.j*8+1, s.j*8+8), list_slice(c.cv, s.j*8+1, s.j*8+8))
                 + list_dot_product(list_slice(c.cv, s.j*8+1, s.j*8+8), list_slice(c.cv, s.j*8+1, s.j*8+8)) ASC,
                 c.cid ASC
             ) AS rn
      FROM e a CROSS JOIN subs s CROSS JOIN cents c
      WHERE a.vec_id > 16
    ),
    codes AS (SELECT vec_id, j, cid FROM assigned WHERE rn = 1),
    adc AS (
      SELECT codes.vec_id,
             SUM(
               list_dot_product(list_slice(q.qv, codes.j*8+1, codes.j*8+8), list_slice(q.qv, codes.j*8+1, codes.j*8+8))
               - 2 * list_dot_product(list_slice(q.qv, codes.j*8+1, codes.j*8+8), list_slice(c.cv, codes.j*8+1, codes.j*8+8))
               + list_dot_product(list_slice(c.cv, codes.j*8+1, codes.j*8+8), list_slice(c.cv, codes.j*8+1, codes.j*8+8))
             ) AS dist
      FROM codes JOIN cents c ON c.cid = codes.cid, q
      GROUP BY codes.vec_id
    )
    SELECT vec_id, ROUND(dist, 6) AS adc_dist
    FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 10
    """,
        "ivf_pq_topk_embeddings": """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    coarse AS (SELECT vec_id - 1 AS ccid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8),
    probe AS (
      SELECT ccid FROM coarse, q
      ORDER BY list_dot_product(cv, cv) - 2 * list_dot_product(cv, qv)
               + list_dot_product(qv, qv) ASC, ccid ASC
      LIMIT 3
    ),
    cassign AS (
      SELECT a.vec_id, c.ccid,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.cv)
                        + list_dot_product(c.cv, c.cv) ASC, c.ccid ASC
             ) AS rn
      FROM e a CROSS JOIN coarse c WHERE a.vec_id > 16
    ),
    inlists AS (
      SELECT vec_id FROM cassign
      WHERE rn = 1 AND ccid IN (SELECT ccid FROM probe)
    ),
    cents AS (SELECT vec_id - 1 AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 16),
    subs AS (SELECT unnest(generate_series(0, 7)) AS j),
    assigned AS (
      SELECT a.vec_id, s.j, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id, s.j
               ORDER BY
                 list_dot_product(list_slice(a.v, s.j*8+1, s.j*8+8), list_slice(a.v, s.j*8+1, s.j*8+8))
                 - 2 * list_dot_product(list_slice(a.v, s.j*8+1, s.j*8+8), list_slice(c.cv, s.j*8+1, s.j*8+8))
                 + list_dot_product(list_slice(c.cv, s.j*8+1, s.j*8+8), list_slice(c.cv, s.j*8+1, s.j*8+8)) ASC,
                 c.cid ASC
             ) AS rn
      FROM e a CROSS JOIN subs s CROSS JOIN cents c
      WHERE a.vec_id IN (SELECT vec_id FROM inlists)
    ),
    codes AS (SELECT vec_id, j, cid FROM assigned WHERE rn = 1),
    adc AS (
      SELECT codes.vec_id,
             SUM(
               list_dot_product(list_slice(q.qv, codes.j*8+1, codes.j*8+8), list_slice(q.qv, codes.j*8+1, codes.j*8+8))
               - 2 * list_dot_product(list_slice(q.qv, codes.j*8+1, codes.j*8+8), list_slice(c.cv, codes.j*8+1, codes.j*8+8))
               + list_dot_product(list_slice(c.cv, codes.j*8+1, codes.j*8+8), list_slice(c.cv, codes.j*8+1, codes.j*8+8))
             ) AS dist
      FROM codes JOIN cents c ON c.cid = codes.cid, q
      GROUP BY codes.vec_id
    )
    SELECT vec_id, ROUND(dist, 6) AS adc_dist
    FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 10
    """,
        "ann_recall_lsh": ann_recall_lsh_sql,
        "ann_recall_ivf": """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
    cents AS (SELECT vec_id - 5 AS cid, v AS cv FROM e WHERE vec_id BETWEEN 5 AND 12),
    corpus AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
    cassign AS (
      SELECT a.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.cv)
                        + list_dot_product(c.cv, c.cv) ASC, c.cid ASC
             ) AS rn
      FROM corpus a CROSS JOIN cents c
    ),
    assigned AS (SELECT vec_id, cid FROM cassign WHERE rn = 1),
    qprobe AS (
      SELECT q.qid, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, c.cv)
                        + list_dot_product(c.cv, c.cv) ASC, c.cid ASC
             ) AS rn
      FROM q CROSS JOIN cents c
    ),
    probes AS (SELECT qid, cid FROM qprobe WHERE rn <= 2),
    truth AS (
      SELECT q.qid, c.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(c.v, q.qv)
                        / (sqrt(list_dot_product(c.v, c.v))
                           * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                        c.vec_id ASC) AS rn
      FROM q CROSS JOIN corpus c
    ),
    cand AS (
      SELECT q.qid, c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
      FROM q
      JOIN probes p ON p.qid = q.qid
      JOIN assigned a ON a.cid = p.cid
      JOIN corpus c ON c.vec_id = a.vec_id
    ),
    approx AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY qid) AS ncand
      FROM cand
    )
    SELECT t.qid AS query_id,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
           ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 4) AS recall,
           CAST(COALESCE(MAX(x.ncand), 0) AS BIGINT) AS n_candidates
    FROM truth t
    LEFT JOIN (SELECT * FROM approx WHERE rn <= 10) a
           ON t.qid = a.qid AND t.vec_id = a.vec_id
    LEFT JOIN (SELECT DISTINCT qid, ncand FROM approx) x ON t.qid = x.qid
    WHERE t.rn <= 10
    GROUP BY t.qid
    """,
    }
