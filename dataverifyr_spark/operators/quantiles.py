"""Multi-quantile column profiles — the north_star's "per-column stats ...
approx-quantiles" capability as a first-class operator (describe carries the
median only).

ONE aggregation job computes every requested quantile of every requested
column:

* ``approx=True`` (default, the 10^12-row path): ONE DataSketches KLL
  quantile sketch per column (``kll_sketch_agg_double``, built into
  Spark 4) evaluated once and probed per probability — bounded memory per
  column, map-side partial sketches merged on the reducer, NO row
  replication, no sort.  ``accuracy`` maps to the KLL ``k`` parameter
  (bigger = tighter rank error; k=1000 ≈ 0.02% observed).  r6: replaced
  ``percentile_approx(acc=1000)`` after measuring **10.8 s → ~0.4-1.1 s**
  for 8 columns × 5 probs × 10M rows (Spark dedups the identical sketch
  aggregate across the per-prob extractors, so the sketch builds once).
* ``approx=False``: exact interpolated ``percentile`` (matches ANSI
  ``quantile_cont`` / DuckDB) — buffers each column's values; small-slice /
  oracle-parity use only.

Output is the long shape ``(by..., var, prob, value)`` — one row per
group × column × probability, unpivoted in-plan by an explode.
:func:`column_quantiles` is the key-less :func:`column_quantiles_by`,
collected into a local result frame (the describe/describe_by shape).

Reference analog: none (R describe stops at the median, R/describe.R:120);
this is a graft extension in the reference's batched-collectibles style
(R/describe.R:329-422).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..check import _local_result_df
from ..describe import _NUMERIC

__all__ = ["column_quantiles", "column_quantiles_by", "QUANTILE_SCHEMA"]

QUANTILE_SCHEMA = T.StructType(
    [
        T.StructField("var", T.StringType(), False),
        T.StructField("prob", T.DoubleType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)

DEFAULT_PROBS = (0.01, 0.25, 0.5, 0.75, 0.99)


def _quantile_agg(v, probs, approx: bool, accuracy: int):
    """ONE aggregate expression returning array<double> of the requested
    quantiles.  KLL (the approx sketch): the identical
    ``kll_sketch_agg_double`` child is deduplicated by Spark across the
    per-prob extractors, so the sketch builds once per column; the guard
    counts NON-NaN values — the KLL sketch silently ignores NaN updates,
    so an all-NaN column/group (not just all-NULL) leaves an empty buffer
    and ``get_quantile`` raises KLL_INVALID_INPUT_SKETCH_BUFFER.
    ``accuracy`` maps to KLL's ``k`` (clamped to its [8, 65535] domain)."""
    prob_arr = F.array(*[F.lit(float(p)) for p in probs])
    if not approx:
        return F.percentile(v, prob_arr)
    k = max(8, min(int(accuracy), 65535))
    sk = F.kll_sketch_agg_double(v, F.lit(k))
    arr = F.array(*[F.kll_sketch_get_quantile_double(sk, F.lit(float(p))) for p in probs])
    return F.when(F.count(F.when(~F.isnan(v), v)) > 0, arr)


def column_quantiles(
    df: DataFrame,
    cols: list[str] | None = None,
    probs: tuple[float, ...] = DEFAULT_PROBS,
    approx: bool = True,
    accuracy: int = 1000,
) -> DataFrame:
    """(var, prob, value) rows for every requested column × probability,
    from ONE aggregation scan: the key-less :func:`column_quantiles_by`,
    collected into a local result frame.  ``cols=None`` profiles every
    numeric column.  NULLs are ignored per quantile semantics; an all-NULL
    column yields NULL values."""
    rows = column_quantiles_by(df, [], cols, probs, approx, accuracy).collect()
    return _local_result_df(df.sparkSession, [tuple(r) for r in rows], QUANTILE_SCHEMA)


def column_quantiles_by(
    df: DataFrame,
    by: str | list[str],
    cols: list[str] | None = None,
    probs: tuple[float, ...] = DEFAULT_PROBS,
    approx: bool = True,
    accuracy: int = 1000,
) -> DataFrame:
    """Per-group quantile profiles — ``(by..., var, prob, value)`` rows from
    ONE ``groupBy(by).agg`` job (the :func:`column_quantiles` analog of
    ``describe_by``): per group × column, the sketch (or exact percentile)
    evaluates once, then a pure-Catalyst explode unpivots
    column × probability — fully distributed, no driver loop, no collect, so
    a 10^6-partition profile is still a single shuffle."""
    by_cols = [by] if isinstance(by, str) else list(by)
    for c in by_cols:
        if c not in df.columns:
            raise ValueError(f"by column {c!r} not in DataFrame")
    if not probs or any(not (0.0 <= p <= 1.0) for p in probs):
        raise ValueError("probs must be fractions in [0, 1]")
    if cols is None:
        cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, _NUMERIC) and f.name not in by_cols
        ]
    if not cols:
        raise ValueError("no numeric columns to profile")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"column(s) {missing} not in DataFrame")

    aggs = [
        _quantile_agg(F.col(c).cast("double"), probs, approx, accuracy).alias(f"q__{c}")
        for c in cols
    ]
    grouped = df.groupBy(*[F.col(c) for c in by_cols]).agg(*aggs)

    structs = []
    for c in cols:
        for i, p in enumerate(probs):
            structs.append(
                F.struct(
                    F.lit(c).alias("var"),
                    F.lit(float(p)).alias("prob"),
                    F.element_at(F.col(f"q__{c}"), i + 1).alias("value"),
                )
            )
    return grouped.select(
        *[F.col(c) for c in by_cols], F.explode(F.array(*structs)).alias("__q")
    ).select(*by_cols, "__q.var", "__q.prob", "__q.value")
