"""Focused regression tests for the r7 optimization round's internal changes
(+ the r6 ADVICE correctness fixes applied alongside).

Each test pins the CONTRACT the optimization must preserve, not the
implementation: banded-LSH single-materialization, CC fused-init round
semantics on empty input, and the two new guard paths.  (The approx-describe
split's value parity lives in tests/test_describe.py.)"""

import pytest
from pyspark.sql import functions as F

import dataverifyr_spark as dv


class TestLshMaterialization:
    def test_pairs_plan_reads_checkpointed_bands(self, spark):
        """lsh_candidate_pairs materializes the banded proxy once: the pair
        plan must reference a checkpoint scan (ExistingRDD) and must NOT
        re-plan the text scan per consumer (the r6 plan carried the full
        signature pipeline 4x — zero exchange reuse under lambda HOFs)."""
        from dataverifyr_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        docs = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(40)],
            "doc_id bigint, text string",
        )
        pairs = lsh_candidate_pairs(minhash_signatures(docs, num_hashes=16), num_bands=8)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        # the raw text column must not appear in the pair plan at all — only
        # the checkpointed (id, band, bucket) rows do
        assert "split(regexp_replace" not in plan

    def test_shared_passage_pairs_single_text_scan(self, spark):
        """Same contract for the winnowing pair join (r6 VERDICT #4): the
        text scan happens once (checkpoint), not once per join side."""
        from dataverifyr_spark.operators.text import shared_passage_pairs

        docs = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h i j"),
                (3, "z y x w v u t s r q"),
            ],
            "doc_id bigint, text string",
        )
        pairs = shared_passage_pairs(docs, k=3, window=2, min_shared=1)
        rows = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (1, 2) in rows and (1, 3) not in rows
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        assert "split(regexp_replace" not in plan


class TestConnectedComponentsR7:
    def test_empty_edges_rounds_semantics(self, spark):
        """Fused init must keep the r6 empty-input contract: one round,
        converged, empty labeling."""
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame([], "id_a bigint, id_b bigint")
        stats = {}
        out = connected_components(edges, stats=stats)
        assert out.count() == 0
        assert stats == {"rounds": 1, "converged": True}

    def test_single_edge_two_rounds(self, spark):
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
        stats = {}
        comps = {
            r["node"]: r["component"]
            for r in connected_components(edges, stats=stats).collect()
        }
        assert comps == {1: 1, 2: 1}
        assert stats == {"rounds": 2, "converged": True}

    def test_broadcast_threshold_zero_matches_broadcast_path(self, spark):
        """broadcast_labels_max=0 (forced shuffle join) must produce the
        identical labeling — the hint is a physical choice only."""
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (12, 12)], "id_a bigint, id_b bigint"
        )
        a = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        b = {
            r["node"]: r["component"]
            for r in connected_components(edges, broadcast_labels_max=0).collect()
        }
        assert a == b == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 12}


class TestAdviceGuards:
    def test_violation_examples_rejects_column_collision(self, spark):
        df = spark.createDataFrame([(0, 1)], "v int, example_rank int")
        with pytest.raises(ValueError, match="example_rank"):
            dv.violation_examples(dv.ruleset(dv.rule("v > 0")), df)

    def test_curate_rejects_falsy_invalid_dedup_mode(self, spark):
        from dataverifyr_spark.audio import clips_table, curate_clips

        clips = clips_table(spark, 8)
        for bad in ("", 0, 1, "fuzzy"):
            with pytest.raises(ValueError, match="dedup_captions"):
                curate_clips(clips, dedup_captions=bad)

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


class TestSessionHeapPretouch:
    """r7: sized-heap sessions must pin and pre-touch the heap (-Xms = the
    driver memory, AlwaysPreTouch) so G1 never uncommits between queries —
    on lazily-backed VM memory a re-faulting heap turned 1 s scans into
    8-24 s (measured).  Caller-supplied options must still win."""

    def test_pretouch_options_from_driver_memory(self):
        from dataverifyr_spark.session import _driver_java_options

        assert _driver_java_options("48g") == "-Xms49152m -XX:+AlwaysPreTouch"

    def test_caller_options_appended_after_so_they_win(self):
        from dataverifyr_spark.session import _driver_java_options

        out = _driver_java_options("48g", "-Xms8g -XX:MaxMetaspaceSize=1g")
        assert out.startswith("-Xms49152m -XX:+AlwaysPreTouch")
        # JVM takes the LAST -Xms, so the caller's 8g overrides
        assert out.endswith("-Xms8g -XX:MaxMetaspaceSize=1g")

    def test_no_driver_memory_no_injection(self):
        from dataverifyr_spark.session import _spark_confs

        key = "spark.driver.extraJavaOptions"
        assert _spark_confs({"spark_ui_enabled": "false"}) == {"spark.ui.enabled": "false"}
        # the heap string is normalized to MiB; a bare number already is MiB
        for mem, xms in (("1g", "1024m"), ("2gb", "2048m"), ("512", "512m"), ("512m", "512m")):
            got = _spark_confs({"spark_driver_memory": mem})[key]
            assert got == f"-Xms{xms} -XX:+AlwaysPreTouch", mem
        caller = _spark_confs({"spark_driver_memory": "1g", "spark_driver_extraJavaOptions": "-Dx=1"})
        assert caller[key] == "-Xms1024m -XX:+AlwaysPreTouch -Dx=1"
        # an unparseable heap string gets no injection, caller options kept
        bad = _spark_confs({"spark_driver_memory": "1.5g", "spark_driver_extraJavaOptions": "-Dx=1"})
        assert bad[key] == "-Dx=1"
        assert key not in _spark_confs({"spark_driver_memory": "lots"})

    def test_mem_parse_and_ram_guard(self):
        from dataverifyr_spark.session import _mem_to_bytes, _pretouch_fits_ram

        assert _mem_to_bytes("48g") == 48 * 1024**3
        assert _mem_to_bytes("512M") == 512 * 1024**2
        assert _mem_to_bytes("2gb") == 2 * 1024**3
        assert _mem_to_bytes("1024") == 1024 * 1024**2  # bare = MiB, as in Spark
        assert _mem_to_bytes("1048576b") == 1024**2
        assert _mem_to_bytes("1.5g") is None  # unparseable -> no injection
        assert _pretouch_fits_ram("1g")       # 1g fits any CI box
        assert not _pretouch_fits_ram("huge") # unparseable -> refuse
        assert not _pretouch_fits_ram("512k") # under 1 MiB -> no valid -Xms<N>m
        assert not _pretouch_fits_ram("1073741824t")  # > available RAM -> refuse
