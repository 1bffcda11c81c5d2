"""Schema drift: diff a table's CURRENT schema against a persisted snapshot —
the schema-evolution guard an ingest pipeline runs before any row-level rule
(north_star: "schema + constraint validation engine").

Driver-only (``df.schema`` — zero scan, zero shuffle at any table size), like
the reference's data_column existence/type checks (R/data_column.R:238-267);
this adds the TIME dimension those checks lack: "did yesterday's writer change
the contract?".

The snapshot is a tiny one-row-per-column parquet, so it can live next to the
drift histograms (operators/drift.py snapshot_baseline) in the same baseline
directory and be compared atomically with them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..check import _local_result_df

__all__ = ["snapshot_schema", "schema_diff", "check_schema_drift"]

_SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("nullable", T.BooleanType(), False),
        T.StructField("position", T.IntegerType(), False),
    ]
)

_DIFF_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("old_type", T.StringType(), True),
        T.StructField("new_type", T.StringType(), True),
    ]
)


def _schema_rows(df: DataFrame) -> list[tuple]:
    return [
        (f.name, f.dataType.simpleString(), f.nullable, i)
        for i, f in enumerate(df.schema.fields)
    ]


def snapshot_schema(df: DataFrame, path: str) -> None:
    """Persist the schema contract (one row per column; tiny)."""
    _local_result_df(df.sparkSession, _schema_rows(df), _SNAPSHOT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)


def schema_diff(df: DataFrame, baseline) -> DataFrame:
    """(column, status, old_type, new_type) rows for every divergence from
    the snapshot: ``added`` (new column), ``removed`` (column gone),
    ``type_changed``, ``nullability_changed``.  Identical columns emit no
    row — an empty result means the contract holds.

    ``baseline``: a snapshot DataFrame (``spark.read.parquet(path)``) or a
    path string.
    """
    spark: SparkSession = df.sparkSession
    if isinstance(baseline, str):
        baseline = spark.read.parquet(baseline)
    old = {r["column"]: r for r in baseline.collect()}  # one row per column — tiny
    new = {name: (typ, nullable) for name, typ, nullable, _ in _schema_rows(df)}

    rows: list[tuple] = []
    for name, (typ, nullable) in new.items():
        if name not in old:
            rows.append((name, "added", None, typ))
        else:
            if old[name]["type"] != typ:
                rows.append((name, "type_changed", old[name]["type"], typ))
            elif bool(old[name]["nullable"]) != nullable:
                rows.append((name, "nullability_changed", old[name]["type"], typ))
    for name, r in old.items():
        if name not in new:
            rows.append((name, "removed", r["type"], None))
    return _local_result_df(spark, rows, _DIFF_SCHEMA)


def check_schema_drift(df: DataFrame, baseline, fail_on: tuple[str, ...] = ("removed", "type_changed")) -> DataFrame:
    """check_data-shaped summary row: one ``schema_drift`` row with
    tests = columns compared, fail = divergences whose status is in
    ``fail_on`` (additions are usually benign, removals/retypes break
    readers) — unions into the same reporting sink as any other check."""
    diffs = schema_diff(df, baseline).collect()
    # tests = the UNION of current + snapshot columns, so removed columns
    # count as tested (fail can never exceed tests)
    n_removed = sum(1 for d in diffs if d["status"] == "removed")
    tests = len(df.schema.fields) + n_removed
    failing = [d for d in diffs if d["status"] in fail_on]
    detail = "; ".join(f"{d['column']}:{d['status']}" for d in diffs)
    return _local_result_df(
        df.sparkSession,
        [
            (
                "schema_drift",
                "schema matches snapshot",
                tests,
                tests - len(failing),
                len(failing),
                detail,
            )
        ],
        T.StructType.fromDDL(
            "check_type string, name string, tests bigint, pass bigint, fail bigint, detail string"
        ),
    )
