"""Dataset sources and result sinks.

The north_star targets Iceberg tables.  This sandbox ships no
iceberg-spark-runtime jar and has no network to pull one (verified: Maven
unreachable, DNS fails), so the Iceberg branches cannot run end-to-end here.
What IS tested: the catalog branch via a real spark_catalog table (the same
``spark.read.table`` path an Iceberg catalog serves), the error surface when
the Iceberg format is requested without the runtime, and partition-pruned
validation over a partitioned table (PartitionFilters in the scan — the
pruning mechanism Iceberg provides through its catalog).  On a real cluster,
add ``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13`` plus a
catalog config and ``load_table`` resolves Iceberg first with no code change.
At 100 TB the Iceberg route buys partition pruning + min/max file skipping
for free once rules compile to Column predicates (Catalyst pushes them down).

Sinks: violation rows and summary rows append to partitioned parquet/Iceberg
tables; violations partition by rule name so downstream triage reads only the
rule it cares about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["load_table", "write_violations", "write_summary"]


def load_table(spark: SparkSession, ref: str, fmt: str | None = None) -> DataFrame:
    """ref: an Iceberg catalog table name ('cat.db.tbl'), an Iceberg table
    path, or a file path/directory (parquet / jsonl / csv).

    ``fmt`` forces a reader (``parquet``/``json``/``csv``/``tsv``/``iceberg``);
    otherwise catalog names resolve via the session catalog, ``.jsonl`` /
    ``.json`` / ``.csv`` extensions pick the matching reader (csv with
    header + schema inference — pass an explicit schema via
    ``spark.read.csv`` directly for production ingests), and everything else
    tries parquet then Iceberg."""
    low = ref.rstrip("/").lower()
    if fmt is None:
        if not ref.startswith(("/", "file:", "s3:", "s3a:", "hdfs:")):
            # catalog table name (Iceberg/HMS)
            try:
                return spark.read.table(ref)
            except Exception:
                pass
            return spark.read.format("iceberg").load(ref)
        if low.endswith((".jsonl", ".json", ".ndjson")):
            fmt = "json"
        elif low.endswith((".csv", ".tsv")):
            fmt = "csv"
        else:
            # filesystem ref: parquet first (the common sandbox case — avoids
            # a noisy iceberg-jar-missing stack in the logs), iceberg table
            # dir as fallback
            try:
                return spark.read.parquet(ref)
            except Exception:
                return spark.read.format("iceberg").load(ref)
    if fmt == "parquet":
        return spark.read.parquet(ref)
    if fmt == "json":
        return spark.read.json(ref)
    if fmt in ("csv", "tsv"):
        reader = spark.read.option("header", "true").option("inferSchema", "true")
        # a .tsv path is tab-separated whether csv was forced or sniffed
        if fmt == "tsv" or low.endswith(".tsv"):
            reader = reader.option("sep", "\t")
        return reader.csv(ref)
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(ref)
    raise ValueError(f"unknown fmt {fmt!r}")


def write_violations(
    violations: DataFrame,
    path: str,
    mode: str = "append",
    run_id: str | None = None,
    use_iceberg: bool = False,
) -> None:
    """Violation rows (from ``filter_fails(..., tag=True)``) → table
    partitioned by failed_rule.  At scale this is the triage surface: one
    partition per rule, pruned reads."""
    out = violations
    if run_id is not None:
        out = out.withColumn("run_id", F.lit(run_id))
    if "failed_rule" not in out.columns:
        out = out.withColumn("failed_rule", F.lit("unknown"))
    writer = out.write.mode(mode).partitionBy("failed_rule")
    if use_iceberg:
        writer.format("iceberg").save(path)
    else:
        writer.parquet(path)


def write_summary(summary: DataFrame, path: str, run_id: str, mode: str = "append") -> None:
    summary.withColumn("run_id", F.lit(run_id)).write.mode(mode).parquet(path)
