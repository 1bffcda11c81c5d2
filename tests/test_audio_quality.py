"""Signal-quality audio rules: hard-clipping, DC bias, peak headroom and
audibility — the new probe fields (peak, clip_ratio, dc_offset) ride the
SAME shared single-decode probe as audio_valid/audio_rms, and the
quality_clips_table cadences give every rule a deterministic, index-
computable verdict (the basis of the audio_quality_validate oracle gate)."""

import numpy as np
import pandas as pd
import pytest

import dataverifyr_spark as dv
import dataverifyr_spark.audio  # noqa: F401 — registers audio dialect functions
from dataverifyr_spark.audio.fixtures import (
    CLIPPED_EVERY,
    CORRUPT_BYTES_EVERY,
    DC_OFFSET_EVERY,
    QUIET_EVERY,
    _make_quality_row,
    quality_clips_table,
)
from dataverifyr_spark.audio.rules import (
    _audio_bytes_probe_impl,
    audio_quality_ruleset,
)
from dataverifyr_spark.audio.wav import decode_wav, encode_wav_pcm16

N = 500  # covers several of every cadence (19/41/43/47)


def _flags(i: int) -> dict:
    """The oracle's effective defect flags for row i (attenuation defeats
    clipping and DC physically — same arithmetic as the DuckDB gate SQL)."""
    quiet = i > 0 and i % QUIET_EVERY == 0
    return {
        "corrupt": i > 0 and i % CORRUPT_BYTES_EVERY == 0,
        "clipped": i > 0 and i % CLIPPED_EVERY == 0 and not quiet,
        "dc": i > 0 and i % DC_OFFSET_EVERY == 0 and not quiet,
        "quiet": quiet,
    }


def _features(i: int) -> dict | None:
    """Decode row i of the quality corpus locally (no Spark) and compute the
    probe's quality features with independent numpy code."""
    blob = bytes(_make_quality_row(i)[1])
    if _flags(i)["corrupt"]:
        return None
    s, _sr = decode_wav(blob)
    x = s.astype(np.float64) / 32767.0
    return {
        "peak": float(np.abs(x).max()),
        "clip_ratio": float((np.abs(x) >= 0.999).mean()),
        "dc_offset": float(x.mean()),
        "rms": float(np.sqrt((x * x).mean())),
    }


class TestProbeQualityFields:
    def test_constructed_waveforms(self):
        """Exact values on hand-built clips: a full-scale-clipped square-ish
        wave, a pure DC shelf, and silence."""
        sr = 8000
        clipped = encode_wav_pcm16(np.full(1000, 2.0), sr)  # pins at +32767
        dc = encode_wav_pcm16(np.full(1000, 0.25), sr)
        quietish = encode_wav_pcm16(np.zeros(1000), sr)
        out = _audio_bytes_probe_impl(pd.Series([clipped, dc, quietish, b"junk"]))
        assert out["clip_ratio"][0] == 1.0 and out["peak"][0] == 1.0
        assert abs(out["dc_offset"][1] - 0.25) < 1e-3
        assert out["clip_ratio"][1] == 0.0 and out["peak"][1] < 0.26
        assert out["rms"][2] == 0.0 and out["peak"][2] == 0.0
        # undecodable: every quality field NaN locally — Arrow's from_pandas
        # turns float NaN into NULL on the Spark side (what the NULL-fails
        # rule contract relies on, same as the existing rms/snr fields)
        assert not out["valid"][3]
        assert pd.isna(out["peak"][3]) and pd.isna(out["clip_ratio"][3])

    def test_fixture_margins(self):
        """Every rule threshold sits far from both verdict sides across the
        fixture — incl. the clipped+DC composite rows (817, 1634) and the
        clipped-only rows, whose symmetric clipping must NOT register as DC."""
        idx = [i for i in range(N) if any(_flags(i).values())] + list(range(1, 40))
        idx += [817, 1634]  # clipped AND dc composites (19*43) — in gate range
        for i in idx:
            f = _flags(i)
            feat = _features(i)
            if f["corrupt"]:
                assert feat is None
                continue
            if f["clipped"]:
                assert feat["clip_ratio"] >= 0.1 and feat["peak"] >= 0.999, i
            else:
                assert feat["clip_ratio"] <= 0.001 and feat["peak"] <= 0.97, i
            if f["dc"]:
                assert abs(feat["dc_offset"]) >= 0.15, i
            else:
                assert abs(feat["dc_offset"]) <= 0.02, i
            if f["quiet"]:
                assert feat["rms"] <= 0.02, i
            else:
                assert feat["rms"] >= 0.15, i


class TestQualityCheckData:
    @pytest.fixture(scope="class")
    def clips(self, spark):
        return quality_clips_table(spark, N).cache()

    def test_counts_match_cadence_oracle(self, spark, clips):
        res = {
            r["name"]: (r["tests"], r["pass"], r["fail"])
            for r in dv.check_data(clips, audio_quality_ruleset()).collect()
        }
        flags = [_flags(i) for i in range(N)]

        def expected(pass_fn):
            ok = sum(1 for f in flags if not f["corrupt"] and pass_fn(f))
            return (N, ok, N - ok)

        assert res["decodes"] == expected(lambda f: True)
        assert res["not_clipped"] == expected(lambda f: not f["clipped"])
        assert res["no_dc_offset"] == expected(lambda f: not f["dc"])
        assert res["peak_in_range"] == expected(lambda f: not f["clipped"])
        assert res["rms_audible"] == expected(lambda f: not f["quiet"])

    def test_violation_rows_identify_defect_clips(self, spark, clips):
        bad = dv.filter_fails(audio_quality_ruleset(), clips, tag=True)
        got = {
            (r["clip_id"], r["failed_rule"])
            for r in bad.select("clip_id", "failed_rule").collect()
            if "clip_ratio" in r["failed_rule"]
        }
        # corrupt rows are NOT tagged for this rule: the NA anti-guard is
        # SYMBOL-based (bytes is non-NULL, merely truncated) and the NULL
        # predicate value never satisfies fail=TRUE — the documented
        # reference-faithful filter_fails subtlety (filters.py module doc)
        want = {
            (f"clip-{i:012d}", "audio_clip_ratio(bytes) <= 0.01")
            for i in range(N)
            if _flags(i)["clipped"] and not _flags(i)["corrupt"]
        }
        assert got == want

    def test_feature_join_path_equals_dialect_path(self, spark, clips):
        """with_audio_features exposes the same quality trio as plain
        columns (audio_peak/audio_clip_ratio/audio_dc_offset) — verdict
        counts through the feature-join path must equal the dialect path."""
        from dataverifyr_spark.audio import with_audio_features

        feats = with_audio_features(clips)
        via_join = {
            r["name"]: (r["pass"], r["fail"])
            for r in dv.check_data(
                feats,
                dv.ruleset(
                    dv.rule("audio_clip_ratio <= 0.01", name="not_clipped"),
                    dv.rule("abs(audio_dc_offset) <= 0.05", name="no_dc_offset"),
                    dv.rule("audio_peak <= 0.999", name="peak_in_range"),
                    dv.rule("audio_rms >= 0.05", name="rms_audible"),
                ),
            ).collect()
        }
        via_dialect = {
            r["name"]: (r["pass"], r["fail"])
            for r in dv.check_data(clips, audio_quality_ruleset()).collect()
        }
        for name in via_join:
            assert via_join[name] == via_dialect[name], name

    def test_quality_rules_fuse_single_probe(self, spark, clips):
        """All five quality rules are fields of the one bytes probe: the
        fused check plan must contain exactly one ArrowEvalPython node with
        a single probe slot (one decode per clip, not five)."""
        import contextlib
        import io

        from pyspark.sql import functions as F

        from dataverifyr_spark.check import compile_rule_predicate

        preds = [compile_rule_predicate(r).column for r in audio_quality_ruleset()]
        agg = clips.agg(
            *[F.sum(F.when(p, 1).otherwise(0)).alias(f"p{i}") for i, p in enumerate(preds)]
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            agg.explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        arrow_lines = [ln for ln in phys.splitlines() if "ArrowEvalPython" in ln]
        assert len(arrow_lines) == 1, phys
        assert arrow_lines[0].count("_audio_bytes_probe") == 1, arrow_lines[0]


class TestSilenceRatioOnProbe:
    """r6 consolidation: audio_silence_ratio is a field of the shared bytes
    probe (the old standalone UDF cost a second decode next to any other
    audio rule)."""

    @pytest.fixture(scope="class")
    def clips(self, spark):
        return quality_clips_table(spark, 100).cache()

    def test_six_rule_bundle_single_probe(self, spark, clips):
        import contextlib
        import io

        from pyspark.sql import functions as F

        from dataverifyr_spark.check import compile_rule_predicate

        rs = audio_quality_ruleset(max_silence_ratio=0.5)
        assert [r.name for r in rs][-1] == "no_dead_air"
        preds = [compile_rule_predicate(r).column for r in rs]
        agg = clips.agg(
            *[F.sum(F.when(p, 1).otherwise(0)).alias(f"p{i}") for i, p in enumerate(preds)]
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            agg.explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        arrow_lines = [ln for ln in phys.splitlines() if "ArrowEvalPython" in ln]
        assert len(arrow_lines) == 1, phys

    def test_probe_paths_agree_on_silence_ratio(self, spark):
        import numpy as np

        from dataverifyr_spark.audio import with_audio_features, with_audio_features_vs
        from dataverifyr_spark.audio.fixtures import clips_table, expected_table

        clips = clips_table(spark, 60)
        exp = expected_table(spark, 60)
        a = {
            r["clip_id"]: r["audio_silence_ratio"]
            for r in with_audio_features(clips).select("clip_id", "audio_silence_ratio").collect()
        }
        b = {
            r["clip_id"]: r["audio_silence_ratio"]
            for r in with_audio_features_vs(clips, exp)
            .select("clip_id", "audio_silence_ratio")
            .collect()
        }
        assert a == b and len(a) == 60
        # fixture waveforms are two audible tones: every decodable clip ~0.0
        vals = [v for v in a.values() if v is not None]
        assert vals and all(v == 0.0 for v in vals)


def _pcm16_wav(samples: np.ndarray, sr: int) -> bytes:
    """A pcm_s16le WAV holding ``samples`` verbatim (no float round trip)."""
    import struct

    data = samples.astype("<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


# RMS 0.05000000 on the 32767 full scale (0.04999848 on a 32768 one): the
# clip sits exactly on audio_quality_ruleset's and curate_clips' rms_audible
# threshold, so a probe using another scale gives the opposite verdict
BOUNDARY_RMS_CLIP = _pcm16_wav(
    np.concatenate([np.full(5600, 1639), np.full(10400, 1638)]), 16000
)


class TestOneFeatureKernel:
    """The dialect probe and both with_audio_features* probes compute the ten
    bytes-features with one kernel: identical values on every fixture corpus
    and on the rms_audible boundary clip, and both feature frames keep
    their column order."""

    BYTES_FEATURES = [
        "valid", "n_samples", "sr", "dur_ms", "rms", "codec",
        "peak", "clip_ratio", "dc_offset", "silence_ratio",
    ]

    def test_three_probes_agree_on_bytes_features(self):
        from dataverifyr_spark.audio.fixtures import _make_mixed_row, _make_row
        from dataverifyr_spark.audio.rules import _audio_probe_impl, _audio_probe_vs_impl

        blobs = [bytes(_make_row(i)[1]) for i in range(90)]
        blobs += [bytes(_make_mixed_row(i)[1]) for i in range(60)]
        blobs += [bytes(_make_quality_row(i)[1]) for i in range(200)]
        blobs += [BOUNDARY_RMS_CLIP, encode_wav_pcm16(np.zeros(0), 8000), b"junk", None]
        blobs = pd.Series(blobs)
        ids = pd.Series([f"clip-{i:012d}" for i in range(len(blobs))])
        dialect = _audio_bytes_probe_impl(blobs)[self.BYTES_FEATURES]
        full = _audio_probe_impl(ids, blobs, pd.Series(["x"] * len(blobs)))
        vs = _audio_probe_vs_impl(blobs, blobs)
        pd.testing.assert_frame_equal(full[self.BYTES_FEATURES], dialect)
        pd.testing.assert_frame_equal(vs[self.BYTES_FEATURES], dialect)
        boundary = dialect.iloc[350]
        assert abs(boundary["rms"] - 0.05) < 1e-8 and boundary["rms"] >= 0.05

    def test_boundary_clip_is_audible_on_both_paths(self, spark):
        from dataverifyr_spark.audio import with_audio_features

        clips = spark.createDataFrame(
            [("clip-000000000000", bytearray(BOUNDARY_RMS_CLIP), "x")],
            "clip_id string, bytes binary, transcript string",
        )
        dialect = {
            r["name"]: r["pass"] for r in dv.check_data(clips, audio_quality_ruleset()).collect()
        }
        feats = with_audio_features(clips)
        via_join = dv.check_data(feats, dv.ruleset(dv.rule("audio_rms >= 0.05"))).collect()
        assert dialect["rms_audible"] == 1 and via_join[0]["pass"] == 1

    def test_feature_column_order(self, spark):
        from dataverifyr_spark.audio import with_audio_features, with_audio_features_vs
        from dataverifyr_spark.audio.fixtures import clips_table, expected_table

        clips = clips_table(spark, 4)
        base = list(clips.columns)
        assert with_audio_features(clips).columns == base + [
            "audio_valid", "audio_n_samples", "audio_sr", "audio_dur_ms", "audio_rms",
            "audio_snr_db", "audio_transcript_ok", "audio_codec", "audio_peak",
            "audio_clip_ratio", "audio_dc_offset", "audio_silence_ratio",
        ]
        vs = with_audio_features_vs(clips, expected_table(spark, 4), prefix="f_")
        assert vs.columns == base + [
            "f_valid", "f_n_samples", "f_sr", "f_dur_ms", "f_rms", "f_snr_db",
            "f_codec", "f_peak", "f_clip_ratio", "f_dc_offset", "f_silence_ratio",
            "f_transcript_ok",
        ]
