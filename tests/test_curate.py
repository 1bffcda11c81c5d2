"""curate_clips: the validate -> quality-gate -> caption-dedup pipeline,
plus the r6 VS-probe quality-trio parity."""

import pytest
from pyspark.sql import functions as F

from dataverifyr_spark.audio import (
    clips_table,
    curate_clips,
    expected_table,
    expected_transcript,
    with_audio_features,
    with_audio_features_vs,
)
from dataverifyr_spark.audio.fixtures import (
    BAD_DUR_EVERY,
    BAD_SR_EVERY,
    CORRUPT_BYTES_EVERY,
    EMPTY_TRANSCRIPT_EVERY,
    NULL_TRANSCRIPT_EVERY,
)

N = 400


def _survives(i: int) -> bool:
    return not any(
        i > 0 and i % c == 0
        for c in (
            BAD_SR_EVERY, BAD_DUR_EVERY, EMPTY_TRANSCRIPT_EVERY,
            NULL_TRANSCRIPT_EVERY, CORRUPT_BYTES_EVERY,
        )
    )


class TestCurate:
    def test_survivor_set_is_cadence_arithmetic(self, spark):
        clips = clips_table(spark, N)
        stats = {}
        out = curate_clips(clips, stats=stats)
        got = sorted(r["clip_id"] for r in out.select("clip_id").collect())
        want = sorted(f"clip-{i:012d}" for i in range(N) if _survives(i))
        assert got == want
        assert stats["input_rows"] == N
        assert stats["validated_rows"] == len(want)
        # all fixture captions distinct at this n -> dedup drops nothing
        assert stats["dup_captions_dropped"] == 0
        assert stats["output_rows"] == len(want)

    def test_caption_dedup_keeps_one_representative(self, spark):
        clips = clips_table(spark, 100)
        boiler = clips.withColumn(
            "transcript",
            F.when(
                F.substring("clip_id", -4, 4).cast("int") % 5 == 0,
                F.lit(expected_transcript(1)),
            ).otherwise(F.col("transcript")),
        )
        # transcript_equal would kill the altered rows vs the generator, so
        # run against a reference table carrying the SAME boilerplate edits
        exp = expected_table(spark, 100).withColumn(
            "expected_transcript",
            F.when(
                F.substring("clip_id", -4, 4).cast("int") % 5 == 0,
                F.lit(expected_transcript(1)),
            ).otherwise(F.col("expected_transcript")),
        )
        stats = {}
        out = curate_clips(boiler, expected=exp, stats=stats)
        kept = {r["clip_id"] for r in out.select("clip_id").collect()}
        # survivors among the boilerplate group (i%5==0) collapse to ONE
        boiler_survivors = [
            i for i in range(100) if i % 5 == 0 and _survives(i)
        ] + [1]  # clip 1 donated the caption and carries it naturally
        assert sum(1 for i in boiler_survivors if f"clip-{i:012d}" in kept) == 1
        assert stats["dup_captions_dropped"] == len(boiler_survivors) - 1

    def test_keep_features_retains_probe_columns(self, spark):
        out = curate_clips(clips_table(spark, 30), keep_features=True)
        assert "audio_snr_db" in out.columns and "audio_clip_ratio" in out.columns
        out2 = curate_clips(clips_table(spark, 30))
        assert [c for c in out2.columns] == list(clips_table(spark, 1).columns)

    def test_curate_rejects_falsy_invalid_dedup_mode(self, spark):
        from dataverifyr_spark.audio import clips_table, curate_clips

        clips = clips_table(spark, 8)
        for bad in ("", 0, 1, "fuzzy"):
            with pytest.raises(ValueError, match="dedup_captions"):
                curate_clips(clips, dedup_captions=bad)


class TestVsProbeQualityParity:
    def test_quality_trio_equal_on_both_probe_paths(self, spark):
        """The r6 VS-probe extension: peak/clip_ratio/dc_offset from
        with_audio_features_vs must equal the fixture-probe values row for
        row (same decode, same definitions)."""
        clips = clips_table(spark, 120)
        exp = expected_table(spark, 120)
        a = {
            r["clip_id"]: (r["audio_peak"], r["audio_clip_ratio"], r["audio_dc_offset"])
            for r in with_audio_features(clips)
            .select("clip_id", "audio_peak", "audio_clip_ratio", "audio_dc_offset")
            .collect()
        }
        b = {
            r["clip_id"]: (r["audio_peak"], r["audio_clip_ratio"], r["audio_dc_offset"])
            for r in with_audio_features_vs(clips, exp)
            .select("clip_id", "audio_peak", "audio_clip_ratio", "audio_dc_offset")
            .collect()
        }
        assert a == b


class TestCurateSingleDecode:
    def test_default_path_decodes_once(self, spark):
        """The r6 rewrite's contract: on the default path (no keep_features,
        no stats) the physical plan contains exactly ONE ArrowEvalPython
        node — the winner-id side of the caption-dedup semi-join is the only
        branch that decodes; the output side is the original frame, bytes
        never decoded twice."""
        import contextlib
        import io

        out = curate_clips(clips_table(spark, 60))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        arrow_lines = [ln for ln in phys.splitlines() if "ArrowEvalPython" in ln]
        assert len(arrow_lines) == 1, phys

    def test_keep_features_path_matches_default_ids(self, spark):
        a = sorted(r["clip_id"] for r in curate_clips(clips_table(spark, 150)).collect())
        b = sorted(
            r["clip_id"]
            for r in curate_clips(clips_table(spark, 150), keep_features=True).collect()
        )
        assert a == b


class TestCurateNearDedup:
    def test_near_mode_collapses_edited_boilerplate(self, spark):
        """One-word edits defeat exact dedup but not the near mode: clips
        whose captions are the SAME 12-word boilerplate with word i swapped
        collapse to one representative under dedup_captions='near'."""
        n = 80
        # 40-word boilerplate: a ONE-word tail edit keeps word-3-shingle
        # Jaccard at 36/42 = 0.857 >= the 0.8 threshold (a short caption
        # would fall to ~0.57 and near-dup would correctly NOT merge it)
        base = " ".join(f"w{j}" for j in range(40))
        clips = clips_table(spark, n)
        exp = expected_table(spark, n)
        # every 4th clip: boilerplate with ONE word personalized (high
        # Jaccard vs siblings); others keep their natural distinct captions
        edited = F.concat(
            F.lit(base + " v"),
            (F.substring("clip_id", -4, 4).cast("int") % 3).cast("string"),
        )
        cond = F.substring("clip_id", -4, 4).cast("int") % 4 == 0
        boiler = clips.withColumn(
            "transcript", F.when(cond, edited).otherwise(F.col("transcript"))
        )
        expb = exp.withColumn(
            "expected_transcript",
            F.when(
                F.substring("clip_id", -4, 4).cast("int") % 4 == 0,
                F.concat(
                    F.lit(base + " v"),
                    (F.substring("clip_id", -4, 4).cast("int") % 3).cast("string"),
                ),
            ).otherwise(F.col("expected_transcript")),
        )
        survivors = [i for i in range(n) if i % 4 == 0 and _survives(i)]
        exact_kept = {
            r["clip_id"]
            for r in curate_clips(boiler, expected=expb, dedup_captions="exact")
            .select("clip_id")
            .collect()
        }
        near_kept = {
            r["clip_id"]
            for r in curate_clips(boiler, expected=expb, dedup_captions="near")
            .select("clip_id")
            .collect()
        }
        # exact mode: 3 caption variants (v0/v1/v2) -> 3 boilerplate reps
        assert sum(1 for i in survivors if f"clip-{i:012d}" in exact_kept) == 3
        # near mode: variants share 11/13 words -> ONE representative
        assert sum(1 for i in survivors if f"clip-{i:012d}" in near_kept) == 1
        # non-boilerplate survivors unaffected in both modes
        for i in range(n):
            if i % 4 != 0 and _survives(i):
                assert f"clip-{i:012d}" in near_kept

    def test_bad_mode_raises(self, spark):
        with pytest.raises(ValueError, match="dedup_captions"):
            curate_clips(clips_table(spark, 10), dedup_captions="fuzzy")

    def test_bad_near_jaccard_raises(self, spark):
        with pytest.raises(ValueError, match="near_jaccard"):
            curate_clips(clips_table(spark, 10), dedup_captions="near", near_jaccard=0.0)
