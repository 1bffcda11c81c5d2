"""Uniqueness / distinct-count checks at skew scale (north_rule).

Total rows and distinct keys come from ONE aggregation: a key-only
``groupBy(key)`` count, re-aggregated to ``sum(n), count(*)``.  Partial
aggregation combines duplicate keys map-side, so a hot key ships one
partial row per task and the group-by stays parallel at any skew; a salt
computed from the key would add nothing (it follows the key, so a hot key
still lands in one bucket).  ``approx=True`` swaps in the HyperLogLog
sketch (``approx_count_distinct``) beside ``count(*)`` — constant memory
per partition, one pass, the north_star's 10^12-scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..check import _local_result_df, _safe_alias

__all__ = ["distinct_count_salted", "uniqueness_check"]


def _key_totals(df: DataFrame, cols: list[str], approx: bool) -> Row:
    """``total, distinct`` over the key columns in one aggregation."""
    if approx:
        return df.agg(
            F.count(F.lit(1)).alias("total"),
            F.approx_count_distinct(F.struct(*cols)).alias("distinct"),
        ).collect()[0]
    # group directly on the key columns (r7): a struct wrapper allocated one
    # nested row per input row only to reproduce what multi-column grouping
    # already does (GROUP BY groups NULLs identically either way)
    cnt = _safe_alias(df.columns, "__cnt")
    keys = df.groupBy(*cols).agg(F.count(F.lit(1)).alias(cnt))
    return keys.agg(
        F.sum(cnt).alias("total"), F.count(F.lit(1)).alias("distinct")
    ).collect()[0]


def distinct_count_salted(df: DataFrame, cols: list[str] | str, approx: bool = False) -> int:
    """Distinct key count; the name stays for existing callers (``bench.py``)."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    return int(_key_totals(df, cols, approx)["distinct"])


def uniqueness_check(
    df: DataFrame, cols: list[str] | str, approx: bool = False
) -> DataFrame:
    """One-row summary: total rows, distinct keys, duplicate rows, unique
    flag — total and distinct from one aggregation."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    row = _key_totals(df, cols, approx)
    total, distinct = int(row["total"] or 0), int(row["distinct"])
    schema = T.StructType.fromDDL(
        "key string, total_rows bigint, distinct_keys bigint, "
        "duplicate_rows bigint, is_unique boolean"
    )
    return _local_result_df(
        df.sparkSession,
        [(".".join(cols), total, distinct, total - distinct, distinct == total)],
        schema,
    )
