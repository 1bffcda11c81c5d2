"""North-rule scale features: drift detection, resumable ledger, freshness,
skew and schema drift."""

import pytest
from pyspark.sql import functions as F

import dataverifyr_spark as dv
from dataverifyr_spark import rule, ruleset
from dataverifyr_spark.ledger import ValidationLedger
from dataverifyr_spark.operators.drift import drift_check, histogram, psi


class TestDrift:
    @pytest.fixture(scope="class")
    def base(self, spark):
        return spark.range(0, 10000).select((F.col("id") % 100).cast("double").alias("v"))

    def test_histogram_fractions_sum_to_one(self, spark, base):
        h = histogram(base, "v", 0.0, 100.0, bins=10)
        total = h.agg(F.sum("frac")).collect()[0][0]
        assert total == pytest.approx(1.0)
        assert h.count() == 10

    def test_no_drift_on_same_distribution(self, spark, base):
        b = histogram(base, "v", 0.0, 100.0, bins=10)
        out = drift_check(base, "v", b, 0.0, 100.0, bins=10).collect()[0]
        assert out["psi"] == pytest.approx(0.0, abs=1e-9)
        assert out["ks"] == pytest.approx(0.0, abs=1e-9)
        assert out["drifted"] is False

    def test_shifted_distribution_drifts(self, spark, base):
        b = histogram(base, "v", 0.0, 100.0, bins=10)
        shifted = spark.range(0, 10000).select(
            ((F.col("id") % 100) * 0.3 + 70).cast("double").alias("v")
        )
        out = drift_check(shifted, "v", b, 0.0, 100.0, bins=10).collect()[0]
        assert out["psi"] > 0.2 and out["drifted"] is True
        # everything moved to [70,100): CDF gap at bucket 6 is the whole
        # baseline mass below 70 → KS = 0.7
        assert out["ks"] == pytest.approx(0.7, abs=1e-6)

    def test_ks_statistic_golden(self, spark, base):
        # uniform baseline vs lower-half-only current: F_cur(x)-F_base(x)
        # peaks at the median → KS = 0.5
        from dataverifyr_spark.operators.drift import ks

        b = histogram(base, "v", 0.0, 100.0, bins=10)
        lower = spark.range(0, 10000).select((F.col("id") % 50).cast("double").alias("v"))
        cur = histogram(lower, "v", 0.0, 100.0, bins=10)
        out = ks(cur, b).collect()[0]
        assert out["ks"] == pytest.approx(0.5, abs=1e-9)

    def test_per_partition_drift(self, spark, base):
        df = spark.range(0, 10000).select(
            (F.col("id") % 4).alias("pk"),
            F.when(F.col("id") % 4 == 0, (F.col("id") % 100) * 0.2 + 80)
            .otherwise(F.col("id") % 100)
            .cast("double")
            .alias("v"),
        )
        b = histogram(base, "v", 0.0, 100.0, bins=10)
        rows = {r["pk"]: r for r in drift_check(df, "v", b, 0.0, 100.0, bins=10, by="pk").collect()}
        assert rows[0]["drifted"] is True
        assert rows[1]["drifted"] is False

    def test_per_key_sparse_buckets_see_full_baseline(self, spark, base):
        """Regression: with a ``by`` key, baseline buckets absent from one
        key's histogram must still enter THAT key's PSI/KS — joining on
        bucket alone routed them into a spurious NULL-key group and left the
        key's base CDF summing < 1.  Here NO key has any upper-half bucket,
        so all five upper baseline buckets used to vanish into a NULL row."""
        import math

        from dataverifyr_spark.operators.drift import histogram, ks, psi

        b = histogram(base, "v", 0.0, 100.0, bins=10)  # uniform: 0.1 per bucket
        cur_df = spark.range(0, 10000).select(
            (F.col("id") % 2).alias("pk"),
            (F.col("id") % 50).cast("double").alias("v"),  # lower half only
        )
        cur = histogram(cur_df, "v", 0.0, 100.0, bins=10, by="pk")

        psi_rows = psi(cur, b, by="pk").collect()
        assert {r["pk"] for r in psi_rows} == {0, 1}  # no spurious NULL key
        # per key: 5 present buckets (0.2 vs 0.1) + 5 MISSING buckets (0 vs
        # 0.1, the eps-smoothed penalty the bug dropped)
        eps = 1e-6
        expected = 5 * (0.1 * math.log(0.200001 / 0.100001)) + 5 * (
            (eps - 0.100001) * math.log(eps / 0.100001)
        )
        for r in psi_rows:
            assert r["psi"] == pytest.approx(expected, rel=1e-3)

        ks_rows = ks(cur, b, by="pk").collect()
        assert {r["pk"] for r in ks_rows} == {0, 1}
        for r in ks_rows:
            assert r["ks"] == pytest.approx(0.5, abs=1e-9)

    def test_per_key_drift_check_counts_missing_buckets(self, spark, base):
        from dataverifyr_spark.operators.drift import drift_check, histogram

        b = histogram(base, "v", 0.0, 100.0, bins=10)
        cur_df = spark.range(0, 10000).select(
            (F.col("id") % 2).alias("pk"),
            (F.col("id") % 50).cast("double").alias("v"),
        )
        rows = drift_check(cur_df, "v", b, 0.0, 100.0, bins=10, by="pk").collect()
        assert {r["pk"] for r in rows} == {0, 1}
        for r in rows:
            assert r["psi"] > 5.0 and r["drifted"] is True  # bug gave ~0.35


class TestLedger:
    def test_resume_skips_completed_partitions(self, spark, tmp_path):
        df = spark.range(0, 1000).select(
            (F.col("id") % 10).alias("pk"), (F.col("id") % 7).cast("double").alias("x")
        )
        led = ValidationLedger(spark, str(tmp_path / "ledger"))
        rs = ruleset(rule("x >= 0", name="nonneg"), rule("x < 6", name="lt6"))

        run_id = led.run(df, rs, "pk", run_id="r1")
        assert run_id == "r1"
        assert led.pending_partitions(df, "pk", "r1").count() == 0

        # re-run: nothing pending, no double counting
        led.run(df, rs, "pk", run_id="r1")
        totals = {r["name"]: r for r in led.totals("r1").collect()}
        assert totals["nonneg"]["tests"] == 1000
        assert totals["nonneg"]["fail"] == 0
        assert totals["lt6"]["fail"] == df.filter("x >= 6").count()

    def test_partial_then_resume(self, spark, tmp_path):
        full = spark.range(0, 1000).select(
            (F.col("id") % 10).alias("pk"), F.col("id").cast("double").alias("x")
        )
        half = full.filter(F.col("pk") < 5)
        led = ValidationLedger(spark, str(tmp_path / "ledger2"))
        rs = ruleset(rule("x >= 0", name="nonneg"))

        led.run(half, rs, "pk", run_id="r2")  # simulated partial run
        assert led.pending_partitions(full, "pk", "r2").count() == 5
        led.run(full, rs, "pk", run_id="r2")  # resume
        assert led.pending_partitions(full, "pk", "r2").count() == 0
        totals = led.totals("r2").collect()[0]
        assert totals["tests"] == 1000  # no double count of first half

    def test_batch_row_rate_counts_rows_not_rule_average(self, spark, tmp_path):
        """ADVICE r5: batch_rows_per_s derives from max(tests) per partition
        summed across partitions — implied rows = rate × wall must equal the
        batch's actual data rows regardless of how many rules ran."""
        df = spark.range(0, 500).select(
            (F.col("id") % 5).alias("pk"), F.col("id").cast("double").alias("x")
        )
        led = ValidationLedger(spark, str(tmp_path / "ledger_rate"))
        rs = ruleset(
            rule("x >= 0", name="a"), rule("x < 9e9", name="b"), rule("x != -1", name="c")
        )
        led.run(df, rs, "pk", run_id="rr")
        row = led.results("rr").collect()[0]
        implied = row["batch_rows_per_s"] * row["batch_wall_s"]
        assert abs(implied - 500) <= 5  # rounding tolerance only


class TestFreshness:
    def test_freshness_per_group(self, spark):
        import datetime as dt
        from dataverifyr_spark.operators.freshness import freshness

        base = dt.datetime(2025, 6, 1, 12, 0, 0)
        rows = [
            ("a", base),
            ("a", base + dt.timedelta(minutes=30)),
            ("b", base - dt.timedelta(hours=3)),
        ]
        df = spark.createDataFrame(rows, "g string, ts timestamp")
        out = {r["g"]: r for r in freshness(
            df, "ts", as_of=base + dt.timedelta(hours=1), max_lag_minutes=60, by="g"
        ).collect()}
        assert out["a"]["is_fresh"] is True and out["a"]["lag_minutes"] == 30.0
        assert out["b"]["is_fresh"] is False and out["b"]["lag_minutes"] == 240.0

    def test_interval_gaps(self, spark):
        import datetime as dt
        from dataverifyr_spark.operators.freshness import interval_gaps

        base = dt.datetime(2025, 6, 1, 0, 0, 0)
        # events in hours 0,1,3 of a 5-hour window -> gaps at hours 2 and 4
        rows = [(base + dt.timedelta(hours=h, minutes=m),) for h in (0, 1, 3) for m in (5, 40)]
        df = spark.createDataFrame(rows, "ts timestamp")
        gaps = [r["bucket"] for r in interval_gaps(
            df, "ts", base, base + dt.timedelta(hours=5), interval_minutes=60
        ).collect()]
        assert gaps == [base + dt.timedelta(hours=2), base + dt.timedelta(hours=4)]


class TestSkew:
    def test_hot_key_grouped_summary_correct(self, spark):
        """north_rule: skewed clip_id partitions. check_data_by's conditional
        sums combine map-side (partial aggregation), so a 90%-hot key shuffles
        one partial row per (task, key) — not 90% of the data to one reducer.
        Correctness under extreme skew:"""
        n = 50000
        df = spark.range(0, n).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("pk"),
            (F.col("id") % 100).cast("double").alias("x"),
        ).repartition(32)
        out = {r["pk"]: r for r in __import__(
            "dataverifyr_spark.check", fromlist=["check_data_by"]
        ).check_data_by(df, ruleset(rule("x < 50", name="r")), by="pk").collect()}
        assert out["hot"]["tests"] == n * 9 // 10
        assert out["hot"]["pass"] + out["hot"]["fail"] == out["hot"]["tests"]
        assert out["cold"]["tests"] == n // 10

    def test_skewed_fk_reference_check_correct_under_smj(self, spark):
        """Hot-key FK membership (90% of orders on one custkey) with broadcast
        DISABLED — forces the sort-merge join shape a too-big-to-broadcast
        reference table takes at 10^12 rows.  AQE's skew-join split (enabled
        in session.build_spark) fires when a shuffle partition's BYTES cross
        skewedPartitionThresholdInBytes; note a constant hot key compresses
        to almost nothing in the shuffle (verified: AQE coalesces rather than
        splits on this synthetic), so real-payload skew is what trips it at
        scale.  Counts must be exact either way."""
        from dataverifyr_spark import check_data, reference_rule, ruleset as rs_

        n = 40000
        orders = spark.range(0, n).select(
            F.col("id").alias("o_orderkey"),
            F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 2000).alias(
                "o_custkey"
            ),
        )
        cust = spark.range(0, 1000).select(F.col("id").alias("c_custkey"))
        rule_ = rs_(reference_rule("o_custkey", "customer", "c_custkey"))
        expected_pass = orders.join(
            cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_semi"
        ).count()
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            row = check_data({"orders": orders, "customer": cust}, rule_).collect()[0]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert (row["tests"], row["pass"]) == (n, expected_pass)

    def test_salted_distinct_under_skew(self, spark):
        # 95% duplicate hot key: salted two-phase distinct stays correct
        df = spark.range(0, 20000).select(
            F.when(F.col("id") % 20 < 19, F.lit(0)).otherwise(F.col("id")).alias("k")
        )
        from dataverifyr_spark.operators.uniqueness import distinct_count_salted

        exact = df.distinct().count()
        assert distinct_count_salted(df, "k") == exact


class TestKeyedBaseline:
    def test_per_key_baseline_snapshot(self, spark):
        """A KEYED baseline (histogram(..., by=key)) compares each key to its
        OWN snapshot — keys with different reference distributions don't
        cross-contaminate, and missing buckets still count per key."""
        from dataverifyr_spark.operators.drift import drift_check, histogram, ks

        # baseline: key 0 uniform over [0,100); key 1 lower-half only
        base_df = spark.range(0, 20000).select(
            (F.col("id") % 2).alias("pk"),
            F.when(F.col("id") % 2 == 0, F.col("id") % 100)
            .otherwise(F.col("id") % 50)
            .cast("double")
            .alias("v"),
        )
        b = histogram(base_df, "v", 0.0, 100.0, bins=10, by="pk")
        # current identical to baseline → zero drift for BOTH keys
        rows = {r["pk"]: r for r in drift_check(base_df, "v", b, 0.0, 100.0, bins=10, by="pk").collect()}
        assert rows[0]["psi"] == pytest.approx(0.0, abs=1e-9)
        assert rows[1]["psi"] == pytest.approx(0.0, abs=1e-9)
        assert rows[1]["ks"] == pytest.approx(0.0, abs=1e-9)

        # current: key 1 moves to the upper half → its KS is 1.0 (disjoint
        # CDFs), key 0 stays uniform → 0
        cur_df = spark.range(0, 20000).select(
            (F.col("id") % 2).alias("pk"),
            F.when(F.col("id") % 2 == 0, F.col("id") % 100)
            .otherwise(F.col("id") % 50 + 50)
            .cast("double")
            .alias("v"),
        )
        cur = histogram(cur_df, "v", 0.0, 100.0, bins=10, by="pk")
        krows = {r["pk"]: r for r in ks(cur, b, by="pk").collect()}
        assert krows[0]["ks"] == pytest.approx(0.0, abs=1e-9)
        assert krows[1]["ks"] == pytest.approx(1.0, abs=1e-9)


class TestSchemaDrift:
    def test_snapshot_and_diff(self, spark, tmp_path):
        from dataverifyr_spark.operators.schema_drift import (
            check_schema_drift,
            schema_diff,
            snapshot_schema,
        )

        v1 = spark.createDataFrame(
            [(1, "a", 1.0)], "id bigint, name string, score double"
        )
        p = str(tmp_path / "schema_v1")
        snapshot_schema(v1, p)

        # identical schema → empty diff, zero fails
        assert schema_diff(v1, p).count() == 0
        row = check_schema_drift(v1, p).collect()[0]
        assert (row["tests"], row["pass"], row["fail"]) == (3, 3, 0)

        # evolved: score retyped, name removed, extra added
        v2 = spark.createDataFrame([(1, "x", "hello")], "id bigint, score string, extra string")
        diffs = {r["column"]: r for r in schema_diff(v2, p).collect()}
        assert diffs["score"]["status"] == "type_changed"
        assert (diffs["score"]["old_type"], diffs["score"]["new_type"]) == ("double", "string")
        assert diffs["name"]["status"] == "removed"
        assert diffs["extra"]["status"] == "added"
        row = check_schema_drift(v2, p).collect()[0]
        assert row["fail"] == 2  # removed + type_changed; added is benign
        assert "extra:added" in row["detail"]

    def test_nullability_change_detected(self, spark, tmp_path):
        from pyspark.sql import types as T

        from dataverifyr_spark.operators.schema_drift import schema_diff, snapshot_schema

        s1 = T.StructType([T.StructField("k", T.LongType(), False)])
        v1 = spark.createDataFrame([(1,)], s1)
        p = str(tmp_path / "schema_nn")
        snapshot_schema(v1, p)
        s2 = T.StructType([T.StructField("k", T.LongType(), True)])
        v2 = spark.createDataFrame([(1,)], s2)
        d = schema_diff(v2, p).collect()
        assert len(d) == 1 and d[0]["status"] == "nullability_changed"


class TestLedgerIncremental:
    def test_only_new_files_validated_across_ingests(self, spark, tmp_path):
        """Daily-ingest pattern: the corpus directory grows by appended
        parquet files; each run_incremental scans just the delta.  File
        lineage uses the same anti-join resume primitive as within-run
        partition resume."""
        import dataverifyr_spark as dv
        from dataverifyr_spark.audio import transcript_clips_table
        from dataverifyr_spark.ledger import ValidationLedger

        corpus = tmp_path / "corpus"
        rules = dv.ruleset(dv.rule("nchar(trimws(transcript)) > 0", name="nonempty"))

        # ingest 1: two files
        transcript_clips_table(spark, 100, num_partitions=1).write.mode(
            "append"
        ).parquet(str(corpus))
        transcript_clips_table(spark, 100, num_partitions=1).write.mode(
            "append"
        ).parquet(str(corpus))
        led = ValidationLedger(spark, str(tmp_path / "ledger"))
        led.run_incremental(spark.read.parquet(str(corpus)), rules, run_id="daily")
        first_files = {
            r["part_key"] for r in led.results("daily").select("part_key").collect()
        }
        assert len(first_files) == 2

        # ingest 2: one more file — only IT gets validated
        transcript_clips_table(spark, 100, num_partitions=1).write.mode(
            "append"
        ).parquet(str(corpus))
        raw_before = spark.read.parquet(str(led.path)).count()
        led.run_incremental(spark.read.parquet(str(corpus)), rules, run_id="daily")
        raw_after = spark.read.parquet(str(led.path)).count()
        all_files = {
            r["part_key"] for r in led.results("daily").select("part_key").collect()
        }
        assert len(all_files) == 3
        # exactly one file's worth of rule rows appended (1 rule x 1 file):
        # the two already-validated files were not re-scanned or re-written
        assert raw_after - raw_before == 1

        # no-op third invocation: nothing pending, nothing written
        led.run_incremental(spark.read.parquet(str(corpus)), rules, run_id="daily")
        assert spark.read.parquet(str(led.path)).count() == raw_after

        # totals aggregate across ingests
        tot = {r["name"]: r for r in led.totals("daily").collect()}
        assert tot["nonempty"]["tests"] == 300

    def test_non_file_source_rejected(self, spark):
        import pytest as _pytest

        import dataverifyr_spark as dv
        from dataverifyr_spark.ledger import ValidationLedger

        df = spark.range(10).withColumnRenamed("id", "x")
        led = ValidationLedger(spark, "/tmp/never-written-ledger")
        with _pytest.raises(ValueError, match="file-based"):
            led.run_incremental(df, dv.ruleset(dv.rule("x >= 0")), run_id="r")

    def test_run_incremental_uses_guarded_stamp(self, tmp_path, spark):
        """run_incremental must route through stamp_file_col (raising on a
        file_col collision like every *_by_file path) instead of a bare
        input_file_name() withColumn."""
        from dataverifyr_spark.ledger import ValidationLedger

        src = str(tmp_path / "src")
        spark.range(10).withColumn("v", F.lit(1)).write.parquet(src)
        df = spark.read.parquet(src)
        led = ValidationLedger(spark, str(tmp_path / "ledger"))
        with pytest.raises(ValueError, match="collides"):
            led.run_incremental(df, dv.ruleset(dv.rule("v > 0")), run_id="r", file_col="v")
