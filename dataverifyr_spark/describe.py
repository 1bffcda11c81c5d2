"""``describe`` — per-column profiling (R/describe.R:32-64).

One row per column: ``var, type, n, n_distinct, n_na, most_frequent, min,
mean, median, max, sd``.  Follows the reference's own batched-collectibles
strategy (R/describe.R:329-422): every column's statistics come from one
aggregate with ``stat__col``-aliased outputs, unpivoted in-plan by an
explode of per-column structs.  ``describe`` is the key-less case of
``describe_by``: both run :func:`_profile`.  Exact ``n_distinct``, the
exact ``median`` and ``most_frequent`` all read one value-count frame
(:func:`_value_counts`: one row per distinct (group, column, value) with its
count), so the job count does not grow with the column count.  That frame
is skipped under ``fast=True``, and under ``approx=True`` with ``top_n=0``.

Semantics pinned to the reference:
- non-numeric columns profile the LENGTH of their string form
  (R/describe.R:106, :370-401);
- timestamps count as numeric (R/describe.R:67-69) — profiled as epoch
  seconds, since our output schema keeps min/mean/median/max/sd as doubles;
- ``n_distinct`` counts NA as a distinct value (R n_distinct semantics,
  R/describe.R:112), and ``-0.0`` as ``0.0``;
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
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
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
    if isinstance(dt, (*_NUMERIC, T.BooleanType)):
        return c.cast("double")
    if isinstance(dt, _TEMPORAL):
        return c.cast("timestamp").cast("double")
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

    - declarative (count/sum/min/mean/max/stddev): one aggregate in every
      mode, unpivoted to one row per (group, column);
    - exact (the default): ``count(*)`` and ``percentile(__val, 0.5, __c)``
      per (group, column) of the value-count frame (:func:`_value_counts`).
      ``count(*)`` counts the NULL value as one more value (R/describe.R:112);
      the count-weighted percentile equals ``percentile(val, 0.5)`` over the
      rows but buffers distinct values only.  The frame's shuffle is the
      top-k's own, reused when both run;
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
        if approx and not fast:
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
    stats = df.groupBy(*by_cols).agg(*decl)
    if sketch:
        stats = _join_on(stats, df.groupBy(*by_cols).agg(*sketch), by_cols, "inner")

    structs: list[Column] = []
    for f in fields:
        name = f.name
        if approx and not fast:
            # R n_distinct counts NA as one distinct value (R/describe.R:112)
            nd = (F.col(f"nd__{name}") + (F.col(f"na__{name}") > 0).cast("long")).cast("long")
            med = F.when(
                F.col(f"nnan__{name}") > 0,
                F.kll_sketch_get_quantile_double(F.col(f"kll__{name}"), F.lit(0.5)),
            )
        else:  # fast leaves them NULL; exact replaces them below
            nd, med = F.lit(None).cast("long"), F.lit(None).cast("double")
        structs.append(
            F.struct(
                F.lit(name).alias("var"),
                F.lit(_friendly_type(f.dataType)).alias("type"),
                F.col("n__").alias("n"),
                F.col(f"na__{name}").alias("n_na"),
                nd.alias("n_distinct"),
                med.alias("median"),
                *[F.col(f"{s}__{name}").alias(s) for s in ("min", "mean", "max", "sd")],
            )
        )
    out = stats.select(
        *[F.col(c) for c in by_cols], F.explode(F.array(*structs)).alias("__s")
    ).select(*by_cols, "__s.*")
    keys = by_cols + ["var"]
    counts = _value_counts(df, by_cols, fields)  # lazy: runs only where read
    if not fast and not approx:
        exact = counts.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.percentile("__val", F.lit(0.5), F.col("__c")).alias("median"),
        )
        out = _join_on(out.drop("n_distinct", "median"), exact, keys, "left")
        # a zero-row describe() has no value rows: 0 distinct values
        out = out.withColumn("n_distinct", F.coalesce("n_distinct", F.lit(0).cast("long")))
    if not fast and top_n > 0:
        mf = _most_frequent_by(counts, by_cols, fields, top_n, digits, skip_ones)
        # per-slice suppression: a slice with ≤1 distinct value shows ""
        mf_col = F.coalesce(F.when(F.col("n_distinct") > 1, F.col("most_frequent")), F.lit(""))
        out = _join_on(out, mf, keys, "left").withColumn("most_frequent", mf_col)
    return out.select(*by_cols, *[c for c in DESCRIBE_SCHEMA.names if c in out.columns])


def _join_on(left: DataFrame, right: DataFrame, keys: list[str], how: str) -> DataFrame:
    """Null-safe equi-join of two aggregates on ``keys`` (NULL group keys
    keep their row; no keys is a 1×1 cross join), dropping the right side's
    keys.  Both sides descend from one frame and share the keys' attribute
    ids, so the right keys are re-aliased first — dropping them by
    reference would otherwise be ambiguous.  Each side has at most one row
    per key, so this is a 1:1 join of two small sides that AQE broadcasts."""
    alias = {}
    for k in keys:  # collision-proof internal join-key aliases
        a = f"__k_{k}"
        while a in left.columns or a in right.columns:
            a = "_" + a
        alias[k] = a
    right = right.withColumnsRenamed(alias)
    cond = F.lit(True)
    for k, a in alias.items():
        cond = cond & left[k].eqNullSafe(right[a])
    return left.join(right, cond, how).drop(*alias.values())


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

    The profile aggregate, the unpivot and the one all-columns value-count
    frame run as a single collected plan, so the number of Spark jobs is the
    same for 2 columns as for 200 (tests/test_describe.py pins this budget
    in exact and approx mode).  ``most_frequent`` is ``"v (c), v2 (c2)"``
    (R/describe.R:75-93): top ``top_n`` by count, ties broken on the typed
    value (numeric columns numerically), NA last; numbers rounded to
    ``digits`` and integral values shown bare; ``skip_ones`` then drops
    count==1 entries.  It is NULL under ``fast`` and ``""`` for ``top_n=0``
    or a column with ≤1 distinct value.  Array, map and struct values are
    counted and shown as JSON (``["a","b"] (2)``), so values that a plain
    string cast renders alike stay apart.

    Cost: exact mode (``approx=False``, the default) shuffles one row per
    distinct (group, column, value) — the same shuffle as the top-k — and
    its median buffers each column's distinct values.  High-cardinality
    columns make that frame as large as the input, so for profiles beyond
    ~10⁷ rows use ``approx=True`` (HLL distinct + KLL median), whose
    sketches take no shuffle of values and which is the 100 TB path.
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
    profiling (the check analog is ``check_data_by``).  Grouped aggregates
    compute every non-key column's statistics for every group, and in-plan
    explodes unpivot to one row per (group, column) — fully distributed, no
    driver-side loop over groups, so a 10^6-partition profile runs the same
    jobs as a 2-partition one.

    Columns: ``by...`` + ``var, type, n, n_distinct, n_na, min, mean,
    median, max, sd``.  With ``top_n > 0`` (and not ``fast``), a
    ``most_frequent`` column is added after ``n_na`` — the keyed top-k
    (:func:`_most_frequent_by`) joined back on (by, var).  Slices with ≤1
    distinct value are suppressed to ``""`` exactly like :func:`describe`
    (R/describe.R:75-93 applied per slice).  Value semantics and cost are
    those of :func:`describe`, which is this function with no keys (both
    run :func:`_profile`).
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    for c in by_cols:
        if c not in df.columns:
            raise ValueError(f"by column {c!r} not in DataFrame")
    fields = [f for f in df.schema.fields if f.name not in by_cols]
    return _profile(df, by_cols, fields, fast, approx, top_n, digits, skip_ones)


def _value_counts(df: DataFrame, by_cols: list[str], fields: list[T.StructField]) -> DataFrame:
    """The one value-count frame: ONE explode of per-column structs →
    ``groupBy(by..., var, __v, __val)`` → ``(by..., var, __v, __val, __c)``,
    one row per distinct (group, column, value) with its count ``__c``.
    ``__v`` is the top-k's string view (:func:`_mf_value_str`), ``__val``
    the numeric view (:func:`_value_expr`) that the median and the numeric
    tie-break read; NULL is one row with both NULL.  Dunder names keep group
    keys such as ``v`` or ``c`` from colliding with them."""
    structs = [
        F.struct(
            F.lit(f.name).alias("var"),
            _mf_value_str(f).alias("__v"),
            _value_expr(f.name, f.dataType).alias("__val"),
        )
        for f in fields
    ]
    return (
        df.select(*[F.col(c) for c in by_cols], F.explode(F.array(*structs)).alias("__p"))
        .select(*by_cols, "__p.*")
        .groupBy(*by_cols, "var", "__v", "__val")
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def _most_frequent_by(
    counts: DataFrame,
    by_cols: list[str],
    fields: list[T.StructField],
    top_n: int,
    digits: int,
    skip_ones: bool,
) -> DataFrame:
    """The one top-k, fully IN-PLAN (no collect), over the value-count frame
    (:func:`_value_counts`): window top-n per (group, var) →
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

    numeric_vars = sorted(f.name for f in fields if isinstance(f.dataType, _NUMERIC))
    v, c = F.col("__v"), F.col("__c")
    num_key = F.when(F.col("var").isin(numeric_vars), F.col("__val"))
    w = Window.partitionBy(*by_cols, "var").orderBy(
        c.desc(), F.asc_nulls_last(num_key), v.asc_nulls_last()
    )
    d = F.round(v.try_cast("double"), digits)
    disp_num = F.when(d % 1 == 0, F.format_string("%.0f", d)).otherwise(d.cast("string"))
    disp = F.when(v.isNull(), F.lit("NA")).otherwise(
        F.when(F.col("var").isin(numeric_vars), disp_num).otherwise(v)
    )
    ranked = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(*by_cols, "var", F.struct("rn", c.alias("c"), disp.alias("disp")).alias("e"))
    )
    arr = F.array_sort(F.collect_list("e"))  # sorts by rn (first struct field)
    if skip_ones:
        # R semantics (R/describe.R:87-93): rank FIRST, then drop count==1 —
        # no backfill from below the top-n cut
        arr = F.filter(arr, lambda s: s["c"] > F.lit(1))
    entries = F.transform(arr, lambda s: F.format_string("%s (%d)", s["disp"], s["c"]))
    return ranked.groupBy(*by_cols, "var").agg(F.array_join(entries, ", ").alias("most_frequent"))


def _mf_value_str(f: T.StructField) -> Column:
    """String view of a column for value counting: booleans render TRUE/FALSE
    (the R format, R/describe.R:75-85), arrays, maps and structs render as
    JSON (a plain cast renders ``["a, b"]`` and ``["a", "b"]`` alike),
    everything else casts; NULL stays NULL (displayed as NA downstream)."""
    c = F.col(f.name)
    if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(c)
    if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
        # -0.0 and 0.0 are one value (as Spark grouping, DuckDB and R count
        # them) but cast to two strings; the zero keeps the column's own
        # type, since a float cast through double changes its string form
        c = F.when(c == 0, F.lit(0.0).cast(f.dataType)).otherwise(c)
    if isinstance(f.dataType, T.BooleanType):  # NULL matches neither: stays NULL
        return F.when(c, F.lit("TRUE")).when(~c, F.lit("FALSE"))
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
