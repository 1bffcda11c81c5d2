"""Round-6 ADVICE regression tests: internal-alias collision proofing,
streaming UniquenessRule guard, and comma-in-unique_cols serialization."""

import pytest

from dataverifyr_spark import (
    check_data,
    check_data_by,
    ruleset,
    unique_rule,
    uniqueness_violations,
    write_rules,
)


class TestAliasCollisions:
    def test_check_data_unique_rule_with_cnt_column(self, spark):
        # a dataset with columns literally named __cnt/__isnull must not
        # break a valid uniqueness rule (AMBIGUOUS_REFERENCE regression)
        df = spark.createDataFrame(
            [(1, 9, 9), (2, 9, 9), (2, 9, 9)], ["k", "__cnt", "__isnull"]
        )
        row = check_data(df, ruleset(unique_rule("k", name="u"))).collect()[0]
        assert not row["error"]
        assert (row["tests"], row["pass"], row["fail"]) == (3, 1, 2)

    def test_check_data_by_unique_rule_with_cnt_column(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 0), ("a", 1, 0), ("b", 1, 0)], ["g", "k", "__cnt"]
        )
        rows = {
            r["g"]: (r["tests"], r["pass"], r["fail"])
            for r in check_data_by(df, ruleset(unique_rule("k", name="u")), by="g").collect()
        }
        assert rows == {"a": (2, 0, 2), "b": (1, 1, 0)}

    def test_uniqueness_violations_with_colliding_columns(self, spark):
        df = spark.createDataFrame(
            [(1, 0, 0), (2, 0, 0), (2, 0, 0)], ["k", "__cnt", "__bk_k"]
        )
        out = uniqueness_violations(df, unique_rule("k")).collect()
        assert sorted(r["k"] for r in out) == [2, 2]


class TestStreamingUniquenessGuard:
    def test_rule_aggs_rejects_uniqueness_rule(self):
        from dataverifyr_spark.streaming.validate import _rule_aggs

        with pytest.raises(ValueError, match="aggregation rules"):
            _rule_aggs(ruleset(unique_rule("clip_id", name="pk")))


class TestCommaUniqueCols:
    def test_write_rules_rejects_comma_column(self, tmp_path):
        rs = ruleset(unique_rule("a,b", name="bad"))
        with pytest.raises(ValueError, match="comma-joined"):
            write_rules(rs, str(tmp_path / "r.yaml"))


class TestPipelineStatsThreading:
    def test_near_dup_groups_stats(self, spark):
        """r6: end-to-end pipelines surface LSH drop accounting + CC rounds
        through one stats dict."""
        from dataverifyr_spark.operators.components import near_dup_groups

        docs = spark.createDataFrame(
            [(i, f"document number {i} about various topics entirely") for i in range(6)]
            + [(100 + i, "identical boilerplate text repeated in every copy") for i in range(12)],
            "doc_id bigint, text string",
        )
        stats: dict = {}
        out = near_dup_groups(docs, num_hashes=16, num_bands=4, max_bucket_size=8, stats=stats)
        assert out.count() == 18
        assert stats["n_buckets_dropped"] >= 1  # the 12-copy cluster is over cap
        assert stats["n_rows_dropped"] >= 12
        assert stats["rounds"] >= 1 and stats["converged"] is True

    def test_embedding_dedup_groups_stats(self, spark):
        from dataverifyr_spark.operators.components import embedding_dedup_groups

        rows = [(i, [float(i)] * 8) for i in range(5)] + [
            (100 + i, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]) for i in range(4)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        stats: dict = {}
        out = embedding_dedup_groups(df, dim=8, bits=4, bands=2, max_bucket_size=100, stats=stats)
        assert out.count() == 9
        assert stats["n_buckets_dropped"] == 0 and stats["n_rows_dropped"] == 0
        assert stats["converged"] is True


class TestWatermarkStateRecovery:
    """r6 review finding: the narrowed watermark-state except must treat
    an existing-but-empty state dir (crash mid-first-write) as first batch,
    while genuine read failures still raise."""

    def test_missing_dir_is_first_batch(self, spark, tmp_path):
        from dataverifyr_spark.streaming.validate import _read_watermark_state

        assert _read_watermark_state(spark, str(tmp_path / "nope"), 1, 60.0) is None

    def test_empty_temporary_only_dir_is_first_batch(self, spark, tmp_path):
        from dataverifyr_spark.streaming.validate import _read_watermark_state

        (tmp_path / "sink" / "_watermark" / "b0" / "_temporary").mkdir(parents=True)
        assert _read_watermark_state(spark, str(tmp_path / "sink"), 1, 60.0) is None

    def test_committed_state_is_read(self, spark, tmp_path):
        from dataverifyr_spark.streaming.validate import _read_watermark_state

        wm_dir = str(tmp_path / "sink" / "_watermark" / "b0")
        spark.createDataFrame([(0, 1000.0)], "batch int, max_ts double").write.parquet(wm_dir)
        wm = _read_watermark_state(spark, str(tmp_path / "sink"), 1, 60.0)
        assert wm == 940.0
        # rows of batch >= current are excluded (global watermark = PRIOR batches)
        assert _read_watermark_state(spark, str(tmp_path / "sink"), 0, 60.0) is None

    def test_corrupt_state_raises(self, spark, tmp_path):
        from pyspark.errors import AnalysisException

        from dataverifyr_spark.streaming.validate import _read_watermark_state

        wm_dir = tmp_path / "sink" / "_watermark" / "b0"
        wm_dir.mkdir(parents=True)
        (wm_dir / "part-00000.parquet").write_bytes(b"this is not parquet at all")
        with pytest.raises(Exception):  # schema-inference failure must surface
            _read_watermark_state(spark, str(tmp_path / "sink"), 1, 60.0)
