"""End-to-end corpus curation: validate → quality-gate → caption-dedup.

The pipeline a training corpus actually runs before tokenization, composed
from the engine's own pieces so every stage keeps its scale shape:

1. ONE Arrow decode pass (``with_audio_features`` /
   ``with_audio_features_vs``) turns binary clips into plain feature
   columns — decode/SNR/transcript/quality rules all ride the same probe.
2. The keep-filter is the conjunction of ``NOT fail_predicate(rule)`` over
   the full ruleset — the exact guard algebra ``filter_fails`` uses
   (R/filters.R:59-74), so curate-kept ∪ filter_fails-violations covers
   every input row with no NULL-semantics gap between the two.
3. Caption dedup drops repeated transcripts (the boilerplate-subtitle
   problem) keeping one representative per fingerprint — a groupBy on the
   md5 of the transcript, never shuffling audio bytes (the join back is a
   left-semi on clip_id).  ``dedup_captions="near"`` upgrades the stage to
   MinHash+banded-LSH near-dup (``operators.components.near_dup_groups``)
   for boilerplate with small edits — same capped band join as the
   documents corpus, still only (clip_id, caption) pairs shuffle.

Scale: stage 1 is a partition-local map; stage 2 fuses into the same scan;
stage 3 shuffles ONLY (fingerprint, clip_id) pairs.  ``stats`` (opt-in)
costs two extra count jobs over cached intermediates — skip it in
production and read the counts from the validation ledger instead.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["curate_clips"]


def curate_clips(
    clips: DataFrame,
    expected: DataFrame | None = None,
    *,
    min_snr_db: float = 30.0,
    max_clip_ratio: float = 0.01,
    max_abs_dc: float = 0.05,
    min_rms: float = 0.05,
    dedup_captions: bool | str = True,
    near_jaccard: float = 0.8,
    keep_features: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Clips that survive full validation + quality gates + caption dedup.

    ``expected``: a reference table (clip_id, expected_bytes,
    expected_transcript) for corpora whose originals live in a table; when
    None, expectations come from the deterministic generator (fixture
    corpora).  ``keep_features=True`` retains the decoded ``audio_*``
    columns for downstream stages (already paid for — re-deriving them
    later costs a second decode pass)."""
    from ..filters import fail_predicate
    from ..rules import ruleset, rule
    from .rules import audio_ruleset, with_audio_features, with_audio_features_vs

    if expected is None:
        feats = with_audio_features(clips)
    else:
        feats = with_audio_features_vs(clips, expected)

    # the six validation rules ARE audio_ruleset's; the quality gates follow
    rules = ruleset(
        audio_ruleset(require_snr_db=min_snr_db),
        rule(f"audio_clip_ratio <= {max_clip_ratio}", name="not_clipped"),
        rule(f"abs(audio_dc_offset) <= {max_abs_dc}", name="no_dc_offset"),
        rule(f"audio_rms >= {min_rms}", name="rms_audible"),
    )
    keep = reduce(lambda a, b: a & b, (~fail_predicate(r) for r in rules))
    clean = feats.filter(keep)

    if stats is not None:
        # non-eager: the validated_rows count below is the first action on
        # `clean` and materializes the checkpoint in the same job
        clean = clean.localCheckpoint(eager=False)
        stats["input_rows"] = clips.count()
        stats["validated_rows"] = clean.count()
        stats["rules"] = [r.name for r in rules]

    # validate BEFORE the truthiness branch (r6 ADVICE): falsy-but-invalid
    # values ('' / 0) must raise, not silently skip the dedup stage, and
    # only real booleans/mode strings are accepted (1 == True would
    # otherwise slip through the membership test)
    if not (
        (isinstance(dedup_captions, bool)) or dedup_captions in ("exact", "near")
    ):
        raise ValueError(
            f"dedup_captions must be True/'exact', 'near' or False, got {dedup_captions!r}"
        )
    if dedup_captions:
        if not 0.0 < near_jaccard <= 1.0:
            # 0 would merge every LSH candidate pair (one giant component);
            # >1 silently disables the stage — both are configuration bugs
            raise ValueError(f"near_jaccard must be in (0, 1], got {near_jaccard}")
        # Winner ids come from a (clip_id, transcript) PROJECTION of the
        # survivors, and the final corpus is the ORIGINAL frame semi-joined
        # to them — the winner set already encodes the keep-filter, so the
        # decode probe runs exactly ONCE on the default path (joining
        # `clean` to itself would re-decode every clip on the join's other
        # side: measured 2x the whole pipeline cost at 20k clips).
        survivors = clean.select("clip_id", "transcript")
        if dedup_captions == "near":
            # boilerplate subtitles with one-word edits: MinHash+banded-LSH
            # near-dup through the documents machinery (word-shingle
            # Jaccard, capped band join, CC groups — never an all-pairs
            # stage); min clip_id per component survives
            from ..operators.components import near_dup_groups

            if stats is None:
                # near_dup_groups references its input 4x (signatures, two
                # pair-enrichment joins, the id spine) — materialize the
                # (clip_id, transcript) survivors once so the decode probe
                # is not re-run per reference (with stats, `clean` is
                # already checkpointed above)
                survivors = survivors.localCheckpoint(eager=True)
            keep_ids = (
                near_dup_groups(
                    survivors,
                    text_col="transcript",
                    id_col="clip_id",
                    jaccard_threshold=near_jaccard,
                    stats=stats,
                )
                .filter(F.col("is_kept"))
                .select("clip_id")
            )
        else:
            from ..operators.dedup import exact_dup_groups

            keep_ids = exact_dup_groups(
                survivors, text_col="transcript", id_col="clip_id"
            ).select(F.col("keep_id").alias("clip_id"))
        # keep_features pays a second probe pass by design (the features
        # ARE the output); with stats the checkpoint already materialized it
        out = (clean if keep_features else clips).join(
            keep_ids, on="clip_id", how="left_semi"
        )
        if stats is not None:
            stats["output_rows"] = out.count()
            stats["dup_captions_dropped"] = (
                stats["validated_rows"] - stats["output_rows"]
            )
        return out

    return clean if keep_features else clean.select(*clips.columns)
