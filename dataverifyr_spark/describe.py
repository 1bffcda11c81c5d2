"""``describe`` — per-column profiling (R/describe.R:32-64).

One row per column: ``var, type, n, n_distinct, n_na, most_frequent, min,
mean, median, max, sd``.  Follows the reference's own batched-collectibles
strategy (R/describe.R:329-422): every column's statistics come from one
aggregate with ``stat__col``-aliased outputs, unpivoted in-plan by an
explode of per-column structs.  ``describe`` is the key-less case of
``describe_by``: both run :func:`_profile`, and ``most_frequent`` comes from
one top-k pass over all columns at once (:func:`_most_frequent_by`), so the
job count does not grow with the column count.  The top-k is skipped under
``fast=True`` or ``top_n=0``.

Semantics pinned to the reference:
- non-numeric columns profile the LENGTH of their string form
  (R/describe.R:106, :370-401);
- timestamps count as numeric (R/describe.R:67-69) — profiled as epoch
  seconds, since our output schema keeps min/mean/median/max/sd as doubles;
- ``n_distinct`` counts NA as a distinct value (R n_distinct semantics,
  R/describe.R:112);
- ``sd`` is the SAMPLE standard deviation (R/describe.R:128);
- ``fast=True`` leaves n_distinct/median/most_frequent NULL
  (R/describe.R:604-607) — at 10^12 rows use ``approx=True`` instead, which
  swaps in HyperLogLog distinct counts and a KLL median (shuffle-free
  sketches) while still filling every column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["describe", "describe_by", "DESCRIBE_SCHEMA"]

DESCRIBE_SCHEMA = T.StructType(
    [
        T.StructField("var", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("n_distinct", T.LongType(), True),
        T.StructField("n_na", T.LongType(), False),
        T.StructField("most_frequent", T.StringType(), True),
        T.StructField("min", T.DoubleType(), True),
        T.StructField("mean", T.DoubleType(), True),
        T.StructField("median", T.DoubleType(), True),
        T.StructField("max", T.DoubleType(), True),
        T.StructField("sd", T.DoubleType(), True),
    ]
)

_NUMERIC = (
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.DecimalType,
)
_TEMPORAL = (T.TimestampType, T.DateType)


def _friendly_type(dt: T.DataType) -> str:
    # Arrow→R style mapping (R/describe.R:585-594)
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return "integer"
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return "numeric"
    if isinstance(dt, T.BooleanType):
        return "logical"
    if isinstance(dt, _TEMPORAL):
        return "datetime"
    if isinstance(dt, T.StringType):
        return "character"
    return dt.simpleString()


def _value_expr(name: str, dt: T.DataType) -> Column:
    """Numeric view of a column: itself, epoch seconds, or string length."""
    c = F.col(name)
    if isinstance(dt, _NUMERIC):
        return c.cast("double")
    if isinstance(dt, _TEMPORAL):
        return c.cast("timestamp").cast("double")
    if isinstance(dt, T.BooleanType):
        return c.cast("double")
    return F.length(c.cast("string")).cast("double")


def _approx_distinct(f: T.StructField) -> Column:
    # r6: DataSketches HLL where the type allows (int/long/string/binary) —
    # measured 1.8× faster AND tighter than approx_count_distinct rsd .05
    # (0.47 s vs 0.83 s for 16 columns × 10M rows, −2.2% vs −7.4% bias at 1M
    # distinct); unsupported types (double/bool/timestamp) keep HLL++
    c = F.col(f.name)
    if isinstance(f.dataType, (T.IntegerType, T.LongType, T.StringType, T.BinaryType)):
        return F.hll_sketch_estimate(F.hll_sketch_agg(c))
    if isinstance(f.dataType, (T.ShortType, T.ByteType)):
        # integral widening is distinctness-preserving
        return F.hll_sketch_estimate(F.hll_sketch_agg(c.cast("int")))
    return F.approx_count_distinct(c)


def _profile(
    df: DataFrame,
    by_cols: list[str],
    fields: list[T.StructField],
    fast: bool,
    approx: bool,
    top_n: int,
    digits: int,
    skip_ones: bool,
) -> DataFrame:
    """The one profile pipeline behind :func:`describe` (``by_cols=[]``) and
    :func:`describe_by`: ``by... + var, type, n, n_distinct, n_na, min,
    mean, median, max, sd`` per (group, column), plus ``most_frequent``
    after ``n_na`` when ``top_n > 0`` and not ``fast``.

    Aggregates, one builder for every mode:
    - declarative (count/sum/min/mean/max/stddev) in every mode;
    - exact adds ``count_distinct`` + exact ``percentile`` to that same
      aggregate — Spark plans the distinct aggregates through an Expand
      that replicates each scanned row once per distinct aggregate;
    - approx adds a second, sketch-only aggregate (HLL + raw KLL), joined
      back on the null-safe group key (a 1×1 cross join without keys).
      r7: a single aggregate mixing sketches with min/mean/max/sd forces
      everything through one ObjectHashAggregate — TypedImperativeAggregate
      buffers disable whole-stage codegen for the whole operator.  Split,
      the declarative half stays a codegen HashAggregate, the sketch half
      keeps 2 typed buffer slots per column, and the scheduler runs the two
      subtrees as independent stages of one job (OPTIMIZATION_r07.md).

    ``anynull`` (NA counted as a distinct value) derives from ``na__ > 0``.
    """
    decl: list[Column] = [F.count(F.lit(1)).alias("n__")]
    sketch: list[Column] = []
    for f in fields:
        c, name = F.col(f.name), f.name
        val = _value_expr(name, f.dataType)
        decl += [
            # a zero-row global aggregate sums to NULL; n_na stays 0
            F.coalesce(F.sum(c.isNull().cast("long")), F.lit(0)).alias(f"na__{name}"),
            F.min(val).alias(f"min__{name}"),
            F.mean(val).alias(f"mean__{name}"),
            F.max(val).alias(f"max__{name}"),
            F.stddev_samp(val).alias(f"sd__{name}"),
        ]
        if fast:
            continue
        if approx:
            # r6: KLL quantile sketch (DataSketches, built into Spark 4)
            # replaced percentile_approx — 3.2× faster on 16 double columns
            # × 10M rows at ~1% rank error.  KLL ignores NaN updates, so an
            # all-NULL or all-NaN input leaves an EMPTY buffer that
            # get_quantile raises on: the non-NaN count guarding it lives in
            # the codegen aggregate (r7: 37% of the KLL agg when interpreted
            # inside it) and the quantile is read once per output row.
            decl.append(F.count(F.when(~F.isnan(val), val)).alias(f"nnan__{name}"))
            sketch += [
                _approx_distinct(f).alias(f"nd__{name}"),
                F.kll_sketch_agg_double(val).alias(f"kll__{name}"),
            ]
        else:
            decl += [
                F.count_distinct(c).alias(f"nd__{name}"),
                F.percentile(val, 0.5).alias(f"med__{name}"),
            ]
    stats = df.groupBy(*by_cols).agg(*decl)
    if sketch:
        sk_keys = []
        for c in by_cols:  # collision-proof internal join-key aliases
            k = f"__k_{c}"
            while k in df.columns:
                k = "_" + k
            sk_keys.append(k)
        sk = (
            df.select(*[F.col(c).alias(k) for c, k in zip(by_cols, sk_keys)], *df.columns)
            .groupBy(*sk_keys)
            .agg(*sketch)
        )
        cond = F.lit(True)
        for c, k in zip(by_cols, sk_keys):
            cond = cond & stats[c].eqNullSafe(sk[k])
        stats = stats.join(sk, cond, "inner").drop(*sk_keys)

    structs: list[Column] = []
    for f in fields:
        name = f.name
        if fast:
            nd = F.lit(None).cast("long")
            med = F.lit(None).cast("double")
        else:
            # R n_distinct counts NA as one distinct value (R/describe.R:112)
            nd = (F.col(f"nd__{name}") + (F.col(f"na__{name}") > 0).cast("long")).cast("long")
            if approx:
                med = F.when(
                    F.col(f"nnan__{name}") > 0,
                    F.kll_sketch_get_quantile_double(F.col(f"kll__{name}"), F.lit(0.5)),
                )
            else:
                med = F.col(f"med__{name}").cast("double")
        structs.append(
            F.struct(
                F.lit(name).alias("var"),
                F.lit(_friendly_type(f.dataType)).alias("type"),
                F.col("n__").cast("long").alias("n"),
                nd.alias("n_distinct"),
                F.col(f"na__{name}").cast("long").alias("n_na"),
                F.col(f"min__{name}").cast("double").alias("min"),
                F.col(f"mean__{name}").cast("double").alias("mean"),
                med.alias("median"),
                F.col(f"max__{name}").cast("double").alias("max"),
                F.col(f"sd__{name}").cast("double").alias("sd"),
            )
        )
    out = stats.select(
        *[F.col(c) for c in by_cols], F.explode(F.array(*structs)).alias("__s")
    ).select(*by_cols, "__s.*")
    if top_n > 0 and not fast:
        mf = _most_frequent_by(df, by_cols, fields, top_n, digits, skip_ones)
        # null-safe equi-join so NULL group keys keep their top-k; mf has at
        # most one row per (group, var), so this is a 1:1 key join of two
        # already-aggregated (small) sides — AQE broadcasts it when tiny
        cond = F.lit(True)
        for c in by_cols + ["var"]:
            cond = cond & out[c].eqNullSafe(mf[c])
        joined = out.join(mf, cond, "left").drop(*[mf[c] for c in by_cols + ["var"]])
        mf_col = F.when(
            F.col("n_distinct") <= 1, F.lit("")  # per-slice suppression
        ).otherwise(F.coalesce(F.col("most_frequent"), F.lit("")))
        out = joined.withColumn("most_frequent", mf_col).select(*by_cols, *DESCRIBE_SCHEMA.names)
    return out


def describe(
    df: DataFrame,
    skip_ones: bool = True,
    digits: int = 4,
    top_n: int = 3,
    fast: bool = False,
    approx: bool = False,
) -> DataFrame:
    """Profile every column of ``df``: the key-less :func:`describe_by`,
    collected in column order into a local result frame.

    The profile aggregate, the unpivot and the one all-columns top-k pass
    run as a single collected plan, so the number of Spark jobs is the same
    for 2 columns as for 200 (tests/test_describe.py pins this budget in
    exact and approx mode).  ``most_frequent`` is ``"v (c), v2 (c2)"``
    (R/describe.R:75-93): top ``top_n`` by count, ties broken on the typed
    value (numeric columns numerically), NA last; numbers rounded to
    ``digits`` and integral values shown bare; ``skip_ones`` then drops
    count==1 entries.  It is NULL under ``fast`` and ``""`` for ``top_n=0``
    or a column with ≤1 distinct value.

    COST WARNING — exact mode (``approx=False``, the default) packs K
    ``count_distinct`` + K exact ``percentile`` aggregates into one
    aggregate: Spark plans multiple distinct aggregates through an Expand
    node that REPLICATES every scanned row once per distinct aggregate
    (scan rows × K), and exact percentile buffers each column's values.
    That is the small-scale reference-parity path only — for profiles
    beyond ~10⁷ rows use ``approx=True`` (HLL distinct + KLL median), whose
    aggregates plan with no Expand and which is the 100 TB path.
    """
    fields = list(df.schema.fields)
    got = {}
    if fields:
        prof = _profile(df, [], fields, fast, approx, top_n, digits, skip_ones)
        got = {r["var"]: r.asDict() for r in prof.collect()}
    rows = []
    for f in fields:
        r = got[f.name]
        # parity (R/describe.R:75-93): fast ⇒ NULL, top_n=0 ⇒ ""
        r["most_frequent"] = None if fast else r.get("most_frequent", "")
        rows.append(tuple(r[c] for c in DESCRIBE_SCHEMA.names))
    # one-partition LocalRelation: collecting or writing the profile starts
    # no Python worker (see check._local_result_df)
    from .check import _local_result_df

    return _local_result_df(df.sparkSession, rows, DESCRIBE_SCHEMA)


def describe_by(
    df: DataFrame,
    by: str | list[str],
    approx: bool = False,
    fast: bool = False,
    top_n: int = 0,
    digits: int = 4,
    skip_ones: bool = True,
) -> DataFrame:
    """Per-group ``describe`` — the north_rule per-partition shape applied to
    profiling (the check analog is ``check_data_by``).  ONE
    ``groupBy(by).agg(*fused stats)`` computes every non-key column's
    statistics for every group, then an in-plan explode unpivots to one row
    per (group, column) — fully distributed, no driver-side loop over groups,
    so a 10^6-partition profile is still a single shuffle.

    Columns: ``by...`` + ``var, type, n, n_distinct, n_na, min, mean,
    median, max, sd``.  With ``top_n > 0`` (and not ``fast``), a
    ``most_frequent`` column is added after ``n_na`` — computed by ONE keyed
    top-k pass (:func:`_most_frequent_by`) joined back on (by, var); the
    default ``top_n=0`` keeps the single-aggregate plan and schema.  Slices
    with ≤1 distinct value are suppressed to ``""`` exactly like
    :func:`describe` (R/describe.R:75-93 applied per slice).  Value
    semantics are those of :func:`describe`, which is this function with no
    keys (both run :func:`_profile`).
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    for c in by_cols:
        if c not in df.columns:
            raise ValueError(f"by column {c!r} not in DataFrame")
    fields = [f for f in df.schema.fields if f.name not in by_cols]
    return _profile(df, by_cols, fields, fast, approx, top_n, digits, skip_ones)


def _most_frequent_by(
    df: DataFrame,
    by_cols: list[str],
    fields: list[T.StructField],
    top_n: int,
    digits: int,
    skip_ones: bool,
) -> DataFrame:
    """The one top-k, fully IN-PLAN (no collect): ONE explode → ``groupBy(by,
    var, v)`` count → window top-n per (group, var) →
    ``collect_list``/``array_sort``/``filter``/``transform`` assembles the
    ``"v (c), v2 (c2)"`` string per slice with pure Catalyst expressions.
    Returns ``(by..., var, most_frequent)`` — one row per (group, column)
    whose slice had at least one row; a 10^6-group profile is still one
    shuffle on (by, var, v) plus one on (by, var).  With ``by_cols=[]`` it
    is every column's top-k in one pass.

    Formatting: booleans render ``TRUE``/``FALSE`` and NULL ``NA``;
    numeric values are rounded to ``digits``, integral results render bare
    via ``%.0f`` (``5`` for a decimal ``5.00``) and the rest via Spark's
    double→string cast (``123.4567``, ``NaN``).  Tie-break: count desc,
    typed value asc (numeric columns numerically), NULL (NA) last.
    """
    from pyspark.sql.window import Window

    structs = [
        F.struct(F.lit(f.name).alias("var"), _mf_value_str(f).alias("v"))
        for f in fields
    ]
    pairs = df.select(
        *[F.col(c) for c in by_cols], F.explode(F.array(*structs)).alias("p")
    ).select(*by_cols, "p.var", "p.v")
    counts = pairs.groupBy(*by_cols, "var", "v").agg(F.count(F.lit(1)).alias("c"))

    numeric_vars = sorted(f.name for f in fields if isinstance(f.dataType, _NUMERIC))
    num_key = F.when(F.col("var").isin(numeric_vars), F.col("v").try_cast("double"))
    w = Window.partitionBy(*by_cols, "var").orderBy(
        F.desc("c"), F.asc_nulls_last(num_key), F.asc_nulls_last("v")
    )
    d = F.round(F.col("v").try_cast("double"), digits)
    disp_num = F.when(d % 1 == 0, F.format_string("%.0f", d)).otherwise(d.cast("string"))
    disp = F.when(F.col("v").isNull(), F.lit("NA")).otherwise(
        F.when(F.col("var").isin(numeric_vars), disp_num).otherwise(F.col("v"))
    )
    ranked = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(*by_cols, "var", F.struct("rn", "c", disp.alias("disp")).alias("e"))
    )
    arr = F.array_sort(F.collect_list("e"))  # sorts by rn (first struct field)
    if skip_ones:
        # R semantics (R/describe.R:87-93): rank FIRST, then drop count==1 —
        # no backfill from below the top-n cut
        arr = F.filter(arr, lambda s: s["c"] > F.lit(1))
    mf = F.array_join(
        F.transform(
            arr,
            lambda s: F.concat(s["disp"], F.lit(" ("), s["c"].cast("string"), F.lit(")")),
        ),
        ", ",
    )
    return ranked.groupBy(*by_cols, "var").agg(mf.alias("most_frequent"))


def _mf_value_str(f: T.StructField) -> Column:
    """String view of a column for top-k counting: booleans render TRUE/FALSE
    (the R format, R/describe.R:75-85), everything else casts; NULL stays
    NULL (displayed as NA downstream)."""
    c = F.col(f.name)
    if isinstance(f.dataType, T.BooleanType):
        # NULL must stay NULL (otherwise() would swallow it into FALSE)
        return F.when(c.isNull(), F.lit(None).cast("string")).when(
            c, F.lit("TRUE")
        ).otherwise(F.lit("FALSE"))
    return c.cast("string")


def describe_by_file(
    df: DataFrame,
    *,
    file_col: str = "file",
    basename: bool = False,
    approx: bool = False,
    fast: bool = False,
    top_n: int = 0,
    digits: int = 4,
    skip_ones: bool = True,
) -> DataFrame:
    """Per-SOURCE-FILE :func:`describe_by` — the profiling analog of
    ``check.check_data_by_file`` (same ``input_file_name()`` stamp inside
    the scan, same non-file-source / column-collision guards, same full-URI
    default — part-file basenames repeat across Hive partition dirs).

    One grouped aggregate profiles every column of every file in a single
    shuffle: the shape that answers "which ingest shard's value
    distribution went sideways" without a per-file driver loop.  Use
    ``approx=True`` at corpus scale (KLL median + HLL distinct, same
    sketches as :func:`describe`)."""
    from .check import stamp_file_col

    stamped = stamp_file_col(df, file_col, basename, caller="describe_by_file")
    return describe_by(
        stamped,
        by=file_col,
        approx=approx,
        fast=fast,
        top_n=top_n,
        digits=digits,
        skip_ones=skip_ones,
    )
