"""Focused per-query micro-benchmarks for the r7 optimization round.

`bench.py` is FROZEN for measurement, so isolated before/after evidence for
individual operators lives here.  Each mode rebuilds the exact workload shape
of the corresponding bench.py entry (same fixtures, same caching, same
interleaved best-of-N timing) but runs ONLY the queries under study, so a
change's effect is visible without a full 22-query suite run.

Usage:
  python bench_extra.py minhash     # dedup_minhash_lsh / longdocs / skewed
  python bench_extra.py describe    # describe_lineitem_approx / by_returnflag, plus
                                    # the default-argument describe calls
  python bench_extra.py reference   # reference_fk_join / skewed_smj
  python bench_extra.py audio       # audio_validate / quality / fingerprint / curate
  python bench_extra.py misc        # violations_tagged_scan / uniqueness / simhash
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import dataverifyr_spark as dv
from bench import (
    LINEITEM_RULES,
    MULT,
    N_CLIPS,
    SF_DIR,
    _scale_up,
    build_skewed_docs,
    make_spark,
)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ROUNDS = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))


def _time_queries(queries):
    for _, fn in queries:  # warmup
        fn()
    samples = {name: [] for name, _ in queries}
    for _ in range(ROUNDS):
        for name, fn in queries:
            t0 = time.perf_counter()
            fn()
            samples[name].append(time.perf_counter() - t0)
    out = {
        name: {"best": round(min(ts), 4), "spread": round(max(ts) / min(ts), 2)}
        for name, ts in samples.items()
    }
    print(json.dumps(out, indent=2))


def mode_minhash(spark):
    from dataverifyr_spark.operators.components import connected_components
    from dataverifyr_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    parts = CPUS * 2
    docs = _scale_up(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), max(MULT // 4, 1), parts
    )
    docs.count()
    _src = F.col("id") - F.when(F.col("id") % 4 == 3, F.lit(1)).otherwise(F.lit(0))
    docs_long = (
        spark.range(8000)
        .select(
            F.col("id").cast("string").alias("doc_id"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(1000)),
                    lambda i: F.concat(
                        F.lit("w"),
                        F.pmod(F.xxhash64(_src, i), F.lit(49999)).cast("string"),
                    ),
                ),
                " ",
            ).alias("text"),
        )
        .repartition(parts)
        .cache()
    )
    docs_long.count()
    docs_skew = build_skewed_docs(docs).cache()
    docs_skew.count()

    def skewed():
        pairs = lsh_candidate_pairs(
            minhash_signatures(docs_skew, num_hashes=32), num_bands=8, max_bucket_size=500
        )
        return (
            connected_components(pairs)
            .agg(F.count_distinct(F.col("component")).alias("g"))
            .collect()[0]["g"]
        )

    _time_queries(
        [
            (
                "dedup_minhash_lsh",
                lambda: lsh_candidate_pairs(
                    minhash_signatures(docs, num_hashes=32), num_bands=8
                ).count(),
            ),
            (
                "dedup_minhash_longdocs",
                lambda: lsh_candidate_pairs(
                    minhash_signatures(docs_long, num_hashes=32), num_bands=8
                ).count(),
            ),
            ("dedup_lsh_skewed_groups", skewed),
        ]
    )


def mode_describe(spark):
    parts = CPUS * 2
    li = _scale_up(spark.read.parquet(f"{SF_DIR}/lineitem.parquet"), MULT, parts)
    li.count()
    _time_queries(
        [
            (
                "describe_lineitem_approx",
                lambda: dv.describe(li, top_n=0, approx=True).collect(),
            ),
            (
                "describe_by_returnflag",
                lambda: dv.describe_by(li, by="l_returnflag", approx=True).collect(),
            ),
            # the default-argument calls bench.py skips: exact, and approx
            # with its default top-k
            ("describe_lineitem_exact_default", lambda: dv.describe(li).collect()),
            (
                "describe_lineitem_approx_default",
                lambda: dv.describe(li, approx=True).collect(),
            ),
        ]
    )


def mode_reference(spark):
    parts = CPUS * 2
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    ords = _scale_up(spark.read.parquet(f"{SF_DIR}/orders.parquet"), MULT, parts)
    ords.count()
    ords_skew = ords.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 10 != 0, F.lit(7).cast("long")).otherwise(
            F.col("o_custkey")
        ),
    )

    def plain():
        dv.check_data(
            {"orders": ords, "customer": cust},
            dv.ruleset(dv.reference_rule("o_custkey", "customer", "c_custkey")),
        ).collect()

    def skewed_fk():
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            dv.check_data(
                {"orders": ords_skew, "customer": cust},
                dv.ruleset(dv.reference_rule("o_custkey", "customer", "c_custkey")),
            ).collect()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    _time_queries([("reference_fk_join", plain), ("reference_fk_skewed_smj", skewed_fk)])


def mode_audio(spark):
    from dataverifyr_spark.audio import (
        audio_quality_ruleset,
        audio_ruleset,
        clips_table,
        curate_clips,
        with_audio_band_profile,
        with_audio_features,
    )

    clips = clips_table(spark, N_CLIPS, num_partitions=CPUS).cache()
    clips.count()
    _time_queries(
        [
            (
                "audio_validate_clips",
                lambda: dv.check_data(with_audio_features(clips), audio_ruleset()).collect(),
            ),
            (
                "audio_quality_rules",
                lambda: dv.check_data(clips, audio_quality_ruleset()).collect(),
            ),
            (
                "audio_dedup_fingerprint",
                lambda: with_audio_band_profile(clips)
                .agg(F.sum(F.element_at("audio_band_profile", 1)))
                .collect(),
            ),
            ("curate_pipeline", lambda: curate_clips(clips).count()),
        ]
    )


def mode_misc(spark):
    from dataverifyr_spark.operators.dedup import simhash
    from dataverifyr_spark.operators.uniqueness import distinct_count_salted

    parts = CPUS * 2
    li = _scale_up(spark.read.parquet(f"{SF_DIR}/lineitem.parquet"), MULT, parts)
    li.count()
    docs = _scale_up(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), max(MULT // 4, 1), parts
    )
    docs.count()
    _time_queries(
        [
            (
                "violations_tagged_scan",
                lambda: dv.filter_fails(LINEITEM_RULES, li, tag=True)
                .groupBy("failed_rule")
                .count()
                .collect(),
            ),
            (
                "uniqueness_salted_distinct",
                lambda: distinct_count_salted(li, ["l_orderkey", "l_linenumber"]),
            ),
            (
                "simhash_documents",
                lambda: simhash(docs, bits=64)
                .agg(F.count(F.when(F.col("simhash") > 0, 1)))
                .collect(),
            ),
        ]
    )


def _jvm_gc_ms(spark) -> float:
    """Total JVM GC time (ms) across collectors — local mode, so driver JVM
    == executor JVM and this is the whole story."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


def _heap_mb(spark) -> float:
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 1e6


def mode_gcprobe(spark):
    """Root-cause probe for the in-suite inflation of violations_tagged_scan
    (r6 VERDICT #2): run the query N times in a BARE session (only lineitem
    cached), then build and touch the media corpora exactly like the suite
    does, then run it again — recording wall time, GC time and heap per run.
    If the suite composition penalizes the explode via memory pressure, the
    post-media runs show the inflation AND the GC/heap deltas name it."""
    parts = CPUS * 2
    li = _scale_up(spark.read.parquet(f"{SF_DIR}/lineitem.parquet"), MULT, parts)
    li.count()

    def violations():
        return (
            dv.filter_fails(LINEITEM_RULES, li, tag=True)
            .groupBy("failed_rule")
            .count()
            .collect()
        )

    def timed_runs(tag, n=4):
        out = []
        for i in range(n):
            gc0, h0 = _jvm_gc_ms(spark), _heap_mb(spark)
            t0 = time.perf_counter()
            violations()
            wall = time.perf_counter() - t0
            out.append(
                {
                    "run": f"{tag}{i}",
                    "wall_s": round(wall, 3),
                    "gc_ms": round(_jvm_gc_ms(spark) - gc0, 1),
                    "heap_before_mb": round(h0),
                    "heap_after_mb": round(_heap_mb(spark)),
                }
            )
        return out

    violations()  # warm codegen
    rows = timed_runs("bare_")

    # build the suite's media residency: same corpora, cached and touched
    from dataverifyr_spark.audio import audio_ruleset, clips_table, with_audio_features
    from dataverifyr_spark.operators.h264 import h264_videos_table
    from dataverifyr_spark.operators.image import videos_table
    from dataverifyr_spark.operators.mjpeg import mjpeg_videos_table

    clips = clips_table(spark, N_CLIPS, num_partitions=CPUS).cache()
    clips.count()
    vids = videos_table(spark, 10000, num_partitions=CPUS).cache()
    vids.count()
    h264 = h264_videos_table(spark, 10000, num_partitions=CPUS).cache()
    h264.count()
    mjp = mjpeg_videos_table(spark, 4000, num_partitions=CPUS).cache()
    mjp.count()
    dv.check_data(with_audio_features(clips), audio_ruleset()).collect()

    rows += timed_runs("postmedia_")
    print(json.dumps(rows, indent=1))


MODES = {
    "minhash": mode_minhash,
    "describe": mode_describe,
    "reference": mode_reference,
    "audio": mode_audio,
    "misc": mode_misc,
    "gcprobe": mode_gcprobe,
}


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "minhash"
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobDescription(f"bench_extra:{mode}")
    MODES[mode](spark)
    spark.stop()


if __name__ == "__main__":
    main()
