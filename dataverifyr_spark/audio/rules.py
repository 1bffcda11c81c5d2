"""Audio payload rules: Arrow-batched pandas UDFs over the binary ``bytes``
column, registered into the rule-expression dialect so audio checks flow
through the same fused check_data / filter_fails machinery as column rules
(input_hint: "vectorized pandas/Arrow UDFs (no per-row Python)" — batches
cross the JVM↔Python boundary once per Arrow batch; inside a batch the
container parse is numpy slicing, not Python loops over samples).

Registered dialect functions (usable directly in rule exprs):

    audio_valid(bytes)                     -> boolean
    audio_n_samples(bytes)                 -> bigint  (NULL on bad container)
    audio_sr(bytes)                        -> int     (header rate)
    audio_dur_ms(bytes)                    -> double  (decoded duration)
    audio_rms(bytes)                       -> double
    audio_dom_freq(bytes)                  -> double  (rfft non-DC peak, Hz)
    audio_spec_centroid(bytes)             -> double  (magnitude-weighted Hz)
    audio_snr_vs_expected(clip_id, bytes)  -> double  (vs regenerated waveform)
    transcript_matches_expected(clip_id, transcript) -> boolean

Example ruleset (the input_hint invariants):

    rule("audio_valid(bytes)")
    rule("audio_sr(bytes) == sr_hz")
    rule("abs(audio_dur_ms(bytes) - dur_ms) <= 2")
    rule("audio_snr_vs_expected(clip_id, bytes) >= 30")
    rule("transcript_matches_expected(clip_id, transcript)")
    rule("nchar(trimws(transcript)) > 0")
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..expr import register_function
from .wav import WavError, decode_wav_info, snr_db

__all__ = ["register_audio_functions"]


def _decode(blob) -> tuple[np.ndarray, int, str] | None:
    """(int16 samples, header rate, codec name); None on NULL or a bad container."""
    if blob is None:
        return None
    try:
        return decode_wav_info(bytes(blob))
    except WavError:
        return None


# full-scale int16 sample == 1.0: the wav.py encoder scale (round(x·32767)),
# so every feature, SNR and quality value reads the same normalized buffer
_FULL_SCALE = 32767.0


def _snr_vs_expected(cid, x: np.ndarray | None, sr) -> float | None:
    """SNR of normalized buffer ``x`` against the generator's waveform for
    ``cid``; NULL on undecodable clips and unparsable ids."""
    # late import keeps fixtures optional on the hot path
    from .fixtures import clip_index, expected_pcm

    if x is None or cid is None:
        return None
    try:
        i = clip_index(cid)
    except (ValueError, IndexError):
        return None
    return float(snr_db(expected_pcm(i, sr, len(x)), x))


def _transcript_ok(cid, t) -> bool | None:
    from .fixtures import clip_index, expected_transcript

    if cid is None or t is None:
        return None
    try:
        return expected_transcript(clip_index(cid)) == t
    except (ValueError, IndexError):
        return False


def _audio_snr_vs_expected_impl(clip_ids: pd.Series, blobs: pd.Series) -> pd.Series:
    def f(cid, b):
        d = _decode(b)
        return None if d is None else _snr_vs_expected(cid, d[0] * (1.0 / _FULL_SCALE), d[1])

    return pd.Series([f(c, b) for c, b in zip(clip_ids, blobs)], dtype="float64")


def _transcript_matches_expected_impl(clip_ids: pd.Series, transcripts: pd.Series) -> pd.Series:
    return pd.Series([_transcript_ok(c, t) for c, t in zip(clip_ids, transcripts)], dtype="object")


def _spectral(x: np.ndarray, sr: int) -> tuple[float, float]:
    """(dominant_freq_hz, spectral_centroid_hz) via one rfft — dominant =
    the non-DC magnitude peak, centroid = magnitude-weighted mean frequency.
    For the fixture waveform (0.45·sin f1 + 0.25·sin f2 + noise) the
    dominant recovers f1 to within one bin — a spectral per-row invariant a
    decode-only probe cannot fake."""
    mag = np.abs(np.fft.rfft(x))
    if len(mag) < 2:
        return 0.0, 0.0
    freqs = np.fft.rfftfreq(len(x), d=1.0 / sr)
    dom = float(freqs[1 + int(np.argmax(mag[1:]))])
    wsum = float(mag[1:].sum())
    centroid = float((freqs[1:] * mag[1:]).sum() / wsum) if wsum > 0 else 0.0
    return dom, centroid


def _signal_quality(x: np.ndarray, sr) -> tuple:
    """peak / clip_ratio / dc_offset / silence_ratio from ONE normalized
    buffer (full-scale int16 == 1.0).  silence_ratio =
    fraction of 20 ms frames whose RMS is under 0.01 (−40 dBFS): dead-air
    detection a clip-level RMS cannot see (one loud pop makes an otherwise
    silent clip pass `audio_rms >= 0.05`).  Semantics pinned by
    tests/test_audio.py since r2 (20 ms frames, trailing partial frame
    ignored, clip shorter than one frame counts fully silent) — r6 moved
    the computation from a standalone second-decode UDF onto the shared
    probe, values unchanged."""
    ax = np.abs(x)
    peak = float(ax.max())
    clip_ratio = float((ax >= 0.999).mean())
    dc = float(x.mean())
    if not sr:
        return peak, clip_ratio, dc, None
    frame = max(1, int(sr * 0.02))
    n = (len(x) // frame) * frame
    if n == 0:
        sil = 1.0
    else:
        frames = x[:n].reshape(-1, frame)
        rms = np.sqrt((frames * frames).mean(axis=1))
        sil = float((rms < 0.01).mean())
    return peak, clip_ratio, dc, sil


# (name, DDL type) of the ten bytes-derived features, in probe order — the
# dialect probe's struct (field f is the dialect function audio_f(bytes));
# the two feature probes splice their clip_id- or reference-derived fields
# in after ``rms`` (see _probe_fields)
_BYTES_FIELDS = (
    ("valid", "boolean"),
    ("n_samples", "bigint"),
    ("sr", "int"),
    ("dur_ms", "double"),
    ("rms", "double"),
    ("codec", "string"),  # header coding name (wav.WAV_CODECS), NULL if invalid
    ("peak", "double"),  # max |sample| with full-scale int16 == 1.0
    ("clip_ratio", "double"),  # fraction of samples at >=0.999 full scale
    ("dc_offset", "double"),  # mean normalized sample (DC bias)
    ("silence_ratio", "double"),  # fraction of 20 ms frames under -40 dBFS
)
# NULL on a decodable but empty (0-sample) clip
_SIGNAL_FIELDS = ("rms", "peak", "clip_ratio", "dc_offset", "silence_ratio")
_INVALID = {"valid": False, **{name: None for name, _t in _BYTES_FIELDS[1:]}}


def _probe_fields(*extra: tuple[str, str]) -> tuple[tuple[str, str], ...]:
    """The bytes fields with ``extra`` spliced in after ``rms`` — the
    with_audio_features* column order."""
    return _BYTES_FIELDS[:5] + extra + _BYTES_FIELDS[5:]


def _ddl(fields) -> str:
    return ", ".join(f"{name} {typ}" for name, typ in fields)


def _probe_frame(rows: list[dict], fields) -> pd.DataFrame:
    return pd.DataFrame({name: [r[name] for r in rows] for name, _t in fields})


def _clip_features(blob) -> tuple[dict, np.ndarray | None, int | None]:
    """The ten bytes-features of one clip from ONE decode — the single
    implementation behind the dialect probe and both with_audio_features*
    probes, so every path yields identical values.  Also returns the
    normalized float64 buffer and the header rate for the SNR callers
    (all-NULL features with ``valid=False``, ``None``, ``None`` on an
    undecodable container)."""
    d = _decode(blob)
    if d is None:
        return dict(_INVALID), None, None
    samples, sr, codec = d
    # ONE int16→float64 pass (r7): int16 × float multiplies promote to
    # float64 directly, so no astype-then-divide pair (two full passes per
    # buffer); rms and the quality quartet all read this buffer
    x = samples * (1.0 / _FULL_SCALE)
    feats = {
        "valid": True,
        "n_samples": len(samples),
        "sr": sr,
        "dur_ms": len(samples) / sr * 1000.0 if sr else None,
        "codec": codec,
    }
    if len(x):
        # hard-clip detection (fraction of samples at >=99.9% full scale — a
        # clipped encode pins samples to +/-32767), DC bias (mic/ADC offset),
        # peak headroom and dead air: ~3 vector folds per clip, zero extra
        # decode — every quality rule fuses onto this one probe
        rms = float(np.sqrt(np.mean(x * x)))
        feats.update(zip(_SIGNAL_FIELDS, (rms, *_signal_quality(x, sr))))
    else:
        feats.update(dict.fromkeys(_SIGNAL_FIELDS))
    return feats, x, sr


def _audio_bytes_probe_impl(blobs: pd.Series) -> pd.DataFrame:
    """All cheap bytes-derived features from ONE decode per clip (the shared
    probe every bytes-family dialect function compiles onto).  Spectral
    features live in their own probe (below) so rulesets that never mention
    them never pay the per-clip rfft."""
    return _probe_frame([_clip_features(b)[0] for b in blobs], _BYTES_FIELDS)


_BYTES_PROBE_TYPE = _ddl(_BYTES_FIELDS)


def _audio_spectral_probe_impl(blobs: pd.Series) -> pd.DataFrame:
    """Spectral features — a SEPARATE shared probe (one rfft per clip) so the
    FFT cost is paid only by rulesets that reference a spectral function.  A
    ruleset mixing cheap and spectral rules evaluates two probe UDFs (two
    decodes — the FFT dominates the second decode anyway); within each
    family every rule still fuses onto one structurally-equal UDF call."""
    rows = []
    for b in blobs:
        d = _decode(b)
        ok = d is not None and len(d[0])
        rows.append(_spectral(d[0] * (1.0 / _FULL_SCALE), d[1]) if ok else (None, None))
    return pd.DataFrame(rows, columns=["dom_freq_hz", "spec_centroid_hz"])


_SPECTRAL_PROBE_TYPE = "dom_freq_hz double, spec_centroid_hz double"

# bytes-family dialect functions are FIELDS of the shared probe: every
# occurrence compiles to the structurally-identical probe(bytes) expression,
# and Spark evaluates structurally-equal Python UDF calls ONCE per row — so a
# 5-audio-rule check through the raw dialect spelling decodes each clip once,
# not five times (verified by plan inspection: one ArrowEvalPython entry)
_PROBE_FIELDS = {f"audio_{name}": name for name, _t in _BYTES_FIELDS}

# spectral family: same field-of-shared-probe compilation, separate probe UDF
_SPECTRAL_FIELDS = {
    "audio_dom_freq": "dom_freq_hz",
    "audio_spec_centroid": "spec_centroid_hz",
}

# name -> (plain impl, return DDL type, arity); pandas_udf wrapping is lazy
# because the DDL type string parse needs an active SparkSession
_UDFS = {
    "audio_bytes_probe": (_audio_bytes_probe_impl, _BYTES_PROBE_TYPE, 1),
    "audio_spectral_probe": (_audio_spectral_probe_impl, _SPECTRAL_PROBE_TYPE, 1),
    "audio_snr_vs_expected": (_audio_snr_vs_expected_impl, "double", 2),
    "transcript_matches_expected": (_transcript_matches_expected_impl, "boolean", 2),
}

_udf_cache: dict[str, object] = {}
_udf_cache_ctx: int | None = None


def _ctx_cache() -> dict[str, object]:
    """The UDF cache for the ACTIVE SparkContext.  A wrapped pandas_udf closes
    over that context's warning accumulator (udf_warnings.capturing resolves
    it at wrap time) and, once used, JVM handles from that context's session —
    so after a context restart a stale cache would silently drop executor
    warnings into a dead accumulator.  Keyed like udf_warnings._acc_ctx_id."""
    global _udf_cache, _udf_cache_ctx
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    ctx_id = id(sc) if sc is not None else None
    if ctx_id != _udf_cache_ctx:
        _udf_cache = {}
        _udf_cache_ctx = ctx_id
    return _udf_cache


def _cached_udf(name: str, impl, typ: str):
    """``pandas_udf(impl, typ)``, built once per SparkContext under ``name``."""
    cache = _ctx_cache()
    if name not in cache:
        cache[name] = pandas_udf(impl, typ)
    return cache[name]


def _get_udf(name: str):
    cache = _ctx_cache()
    if name not in cache:
        from ..udf_warnings import capturing

        impl, typ, _ = _UDFS[name]
        # capture Python warnings raised inside batches so check_data can
        # surface them in the warn column (reference records any evaluation
        # warning, R/check_data.R:248-253)
        cache[name] = pandas_udf(capturing(name, impl), typ)
    return cache[name]


def register_audio_functions() -> None:
    """(Re-)expose the audio dialect functions; idempotent — bytes-family
    names share the single-decode probe, the two (clip_id, ·) functions stay
    standalone UDFs (an SNR rule therefore adds one more decode — its
    waveform regeneration dominates the decode anyway)."""
    for probe_name, fields in (
        ("audio_bytes_probe", _PROBE_FIELDS),
        ("audio_spectral_probe", _SPECTRAL_FIELDS),
    ):
        for name, field in fields.items():

            def make_field_builder(n, f, p):
                def builder(ctx, nodes, cols: list[Column]) -> Column:
                    if len(cols) != 1:
                        raise ValueError(f"{n}() expects 1 argument, got {len(cols)}")
                    return _get_udf(p)(cols[0]).getField(f)

                return builder

            register_function(name, make_field_builder(name, field, probe_name))

    for name, (_impl, _typ, arity) in _UDFS.items():
        if name in ("audio_bytes_probe", "audio_spectral_probe"):
            continue  # not dialect functions — the probe fields above are

        def make_builder(n, a):
            def builder(ctx, nodes, cols: list[Column]) -> Column:
                if len(cols) != a:
                    raise ValueError(f"{n}() expects {a} argument(s), got {len(cols)}")
                return _get_udf(n)(*cols)

            return builder

        register_function(name, make_builder(name, arity))


register_audio_functions()


# ---------------------------------------------------------------------------
# Full probe (clip_id + bytes + transcript) for with_audio_features.
#
# The dialect above already shares one decode across all bytes-family rules;
# ``with_audio_features`` goes one step further — a single Arrow pass emits
# every feature INCLUDING the clip_id-derived ones (SNR vs regenerated
# waveform, transcript equality) as plain columns, so the audio rules become
# ordinary Catalyst predicates that fuse into the one-scan check_data
# aggregation like any other rule.
# ---------------------------------------------------------------------------

_FEATURE_FIELDS = _probe_fields(("snr_db", "double"), ("transcript_ok", "boolean"))


def _audio_probe_impl(
    clip_ids: pd.Series, blobs: pd.Series, transcripts: pd.Series
) -> pd.DataFrame:
    rows = []
    for cid, blob, tr in zip(clip_ids, blobs, transcripts):
        feats, x, sr = _clip_features(blob)
        snr = _snr_vs_expected(cid, x, sr)
        rows.append({**feats, "snr_db": snr, "transcript_ok": _transcript_ok(cid, tr)})
    return _probe_frame(rows, _FEATURE_FIELDS)


def _with_probe_columns(df, udf_name: str, impl, fields, cols: list, prefix: str):
    """df + one ``{prefix}{field}`` column per probe-struct field, in field
    order — the one expander behind both with_audio_features* calls.  The
    probe UDF (cached per SparkContext under ``udf_name``) runs once per row;
    the columns are plain field reads of its struct."""
    probe = _cached_udf(udf_name, impl, _ddl(fields))
    out = df.withColumn("__audio_probe", probe(*cols))
    return out.withColumns(
        {f"{prefix}{name}": F.col(f"__audio_probe.{name}") for name, _t in fields}
    ).drop("__audio_probe")


def with_audio_features(
    df,
    clip_id_col: str = "clip_id",
    bytes_col: str = "bytes",
    transcript_col: str = "transcript",
    prefix: str = "audio_",
):
    """df + decoded audio feature columns (one decode per clip, one Arrow
    batch round-trip).  Adds, in this order: {prefix}valid,
    {prefix}n_samples, {prefix}sr, {prefix}dur_ms, {prefix}rms,
    {prefix}snr_db, {prefix}transcript_ok, {prefix}codec (header coding
    name, NULL on invalid container), and the signal-quality quartet
    {prefix}peak / {prefix}clip_ratio / {prefix}dc_offset /
    {prefix}silence_ratio.  All ten bytes-derived columns come from the
    same kernel as the dialect probe, so they equal audio_valid(bytes) …
    audio_silence_ratio(bytes) value for value."""
    cols = [F.col(clip_id_col), F.col(bytes_col), F.col(transcript_col)]
    return _with_probe_columns(
        df, "audio_probe", _audio_probe_impl, _FEATURE_FIELDS, cols, prefix
    )


# vs-reference probe: decodes the ACTUAL and the REFERENCE byte columns in
# the same Arrow batch — the corpus shape where expectations exist only as
# columns of a reference table (no generator), e.g. validating a transcoded
# corpus against the originals
_FEATURE_VS_FIELDS = _probe_fields(("snr_db", "double"))


def _audio_probe_vs_impl(blobs: pd.Series, ref_blobs: pd.Series) -> pd.DataFrame:
    rows = []
    for blob, ref_blob in zip(blobs, ref_blobs):
        feats, x, sr = _clip_features(blob)
        snr = None
        r = None if x is None else _decode(ref_blob)
        if r is not None and r[1] == sr:
            # shape mismatch → snr_db returns -inf → the >=30 rule fails,
            # which is the right verdict for a truncated/padded clip
            snr = float(snr_db(r[0] * (1.0 / _FULL_SCALE), x))
        rows.append({**feats, "snr_db": snr})
    return _probe_frame(rows, _FEATURE_VS_FIELDS)


def with_audio_features_vs(
    df,
    expected,
    on: str = "clip_id",
    bytes_col: str = "bytes",
    transcript_col: str = "transcript",
    expected_bytes_col: str = "expected_bytes",
    expected_transcript_col: str = "expected_transcript",
    prefix: str = "audio_",
    broadcast_expected: bool = False,
):
    """df + the same audio feature columns as :func:`with_audio_features`,
    with expectations taken from a REFERENCE TABLE instead of the synthetic
    generator: SNR compares the decoded clip against the decoded
    ``expected_bytes`` column, transcript equality against the
    ``expected_transcript`` column (pure Catalyst — no UDF for that part,
    so {prefix}transcript_ok is the LAST added column here).

    The join is a plain equi-join on ``on`` (left: clips with no reference
    row get NULL features from the expectation side, so the SNR/transcript
    rules fail for them unless allow_na).  At scale: set
    ``broadcast_expected`` for a small reference table, or bucket/partition
    BOTH tables by ``on`` so the payload-bytes join is co-located; AQE handles
    skewed clip_id the same as any other join here.
    """
    exp = expected.select(
        F.col(on), F.col(expected_bytes_col), F.col(expected_transcript_col)
    )
    if broadcast_expected:
        exp = F.broadcast(exp)
    joined = df.join(exp, on=on, how="left")
    out = _with_probe_columns(
        joined, "audio_probe_vs", _audio_probe_vs_impl, _FEATURE_VS_FIELDS,
        [F.col(bytes_col), F.col(expected_bytes_col)], prefix,
    )
    t, e = F.col(transcript_col), F.col(expected_transcript_col)
    out = out.withColumn(
        f"{prefix}transcript_ok",
        F.when(t.isNull() | e.isNull(), F.lit(None).cast("boolean")).otherwise(t == e),
    )
    return out.drop(expected_bytes_col, expected_transcript_col)


def audio_ruleset(require_snr_db: float = 30.0, codec_consistent: bool = False):
    """The input_hint invariant ruleset over with_audio_features() columns —
    plain column predicates, fully fusable.  ``codec_consistent`` adds the
    header-vs-metadata codec rule (``audio_codec == codec``): fails when the
    codec column lies about the actual coding, and on undecodable rows
    (NULL header codec never equals the claim)."""
    from ..rules import rule, ruleset

    rules = [
        rule("audio_valid", name="decodes"),
        rule("audio_sr == sr_hz", name="sr_consistent"),
        rule("abs(audio_dur_ms - dur_ms) <= 2", name="dur_consistent"),
        rule(f"audio_snr_db >= {require_snr_db}", name="pcm_allclose_snr"),
        rule("audio_transcript_ok", name="transcript_equal"),
        rule("nchar(trimws(transcript)) > 0", name="transcript_nonempty"),
    ]
    if codec_consistent:
        rules.append(rule("audio_codec == codec", name="codec_consistent"))
    return ruleset(*rules)


def audio_quality_ruleset(
    max_clip_ratio: float = 0.01,
    max_abs_dc: float = 0.05,
    max_peak: float = 0.999,
    min_rms: float = 0.05,
    max_silence_ratio: float | None = None,
):
    """Signal-quality rules over the raw bytes dialect (no feature join
    needed): hard-clipping, DC bias, peak headroom and audibility — the
    checks a training corpus runs BEFORE paying for transcription-level
    validation.  All five spellings are fields of the shared single-decode
    probe, so the whole ruleset costs one ArrowEvalPython pass per clip and
    fuses into the one-scan check_data aggregate.  Undecodable clips yield
    NULL features and fail every rule (allow_na=False), matching the
    reference's NA-fails contract (R/check_data.R:277-280)."""
    from ..rules import rule, ruleset

    rules = [
        rule("audio_valid(bytes)", name="decodes"),
        rule(f"audio_clip_ratio(bytes) <= {max_clip_ratio}", name="not_clipped"),
        rule(f"abs(audio_dc_offset(bytes)) <= {max_abs_dc}", name="no_dc_offset"),
        rule(f"audio_peak(bytes) <= {max_peak}", name="peak_in_range"),
        rule(f"audio_rms(bytes) >= {min_rms}", name="rms_audible"),
    ]
    if max_silence_ratio is not None:
        # opt-in so default cadences (and the audio_quality_validate gate's
        # oracle) are unchanged; another field of the SAME probe — still one
        # ArrowEvalPython for the whole bundle
        rules.append(
            rule(f"audio_silence_ratio(bytes) <= {max_silence_ratio}", name="no_dead_air")
        )
    return ruleset(*rules)


# ---------------------------------------------------------------------------
# cross-codec audio near-dup: a spectral fingerprint computed once in the
# decode probe, fed into the SAME banded-hyperplane-LSH machinery as text
# embeddings (operators/similarity.embedding_near_dup_pairs) — the same
# recording re-encoded under any supported codec pairs up even though its
# bytes (and so exact/MinHash dedup keys) are completely different.
# ---------------------------------------------------------------------------

BAND_PROFILE_BINS = 512


def _audio_band_profile_impl(blobs: pd.Series) -> pd.Series:
    """Per-clip spectral profile: |rfft| magnitude averaged into
    ``BAND_PROFILE_BINS`` equal-width bins, L2-normalized.  Codec noise is
    white-ish and ≥37 dB below the signal for every supported coding
    (tests/test_audio_codecs.py), so the same waveform's profiles have
    cosine ≥ 0.999 across codecs, while tones ≥ one FFT-resolution step
    apart land in different bins (cosine far below any dedup threshold).
    NULL for undecodable or empty clips."""

    def f(b):
        d = _decode(b)
        if d is None or not len(d[0]):
            return None
        mag = np.abs(np.fft.rfft(d[0] * (1.0 / _FULL_SCALE)))
        n = len(mag)
        if n >= BAND_PROFILE_BINS:
            cut = (n // BAND_PROFILE_BINS) * BAND_PROFILE_BINS
            prof = mag[:cut].reshape(BAND_PROFILE_BINS, -1).mean(axis=1)
        else:  # very short clip: zero-pad the spectrum up to the bin count
            prof = np.zeros(BAND_PROFILE_BINS)
            prof[:n] = mag
        norm = float(np.linalg.norm(prof))
        if norm == 0.0:
            return None
        return [float(v) for v in prof / norm]

    return blobs.map(f)


def with_audio_band_profile(
    df, bytes_col: str = "bytes", out_col: str = "audio_band_profile"
):
    """df + ``out_col`` (array<double>, L2-normalized spectral profile; NULL
    on undecodable clips).  One Arrow-batched decode+rfft per clip — its own
    probe, paid only by dedup pipelines (rule checks never compute it)."""
    profile = _cached_udf("audio_band_profile", _audio_band_profile_impl, "array<double>")
    return df.withColumn(out_col, profile(F.col(bytes_col)))


def audio_near_dup_pairs(
    df,
    threshold: float = 0.98,
    bits: int = 16,
    bands: int = 4,
    bytes_col: str = "bytes",
    id_col: str = "clip_id",
    max_bucket_size: int | None = 10_000,
    stats: dict | None = None,
):
    """Cross-codec audio near-duplicate pairs (id_a, id_b, cosine_sim):
    spectral-profile fingerprint → banded hyperplane LSH → within-bucket
    equi-join → exact cosine verify — the audio composition of
    :func:`~dataverifyr_spark.operators.similarity.embedding_near_dup_pairs`
    (hot-bucket cap + drop accounting included).  Undecodable clips have a
    NULL profile and simply never enter a bucket.  At 100 TB: one decode
    pass over the corpus, then the same bounded band equi-join as text
    embedding dedup — no all-pairs stage anywhere."""
    from ..operators.similarity import embedding_near_dup_pairs

    feats = with_audio_band_profile(df, bytes_col=bytes_col).filter(
        F.col("audio_band_profile").isNotNull()
    )
    return embedding_near_dup_pairs(
        feats,
        dim=BAND_PROFILE_BINS,
        threshold=threshold,
        bits=bits,
        bands=bands,
        vec_col="audio_band_profile",
        id_col=id_col,
        max_bucket_size=max_bucket_size,
        stats=stats,
    )
