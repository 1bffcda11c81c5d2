"""``describe`` — per-column profiling (R/describe.R:32-64).

One row per column: ``var, type, n, n_distinct, n_na, most_frequent, min,
mean, median, max, sd``.  Follows the reference's own batched-collectibles
strategy (R/describe.R:329-422): every column's statistics come from one
aggregate with positionally aliased outputs, unpivoted in-plan by an
``inline`` of per-column structs.  ``describe`` is the key-less case of
``describe_by``: both run :func:`_profile`.  Exact ``n_distinct``, the
exact ``median`` and ``most_frequent`` all read one value-count frame (one
row per distinct (group, column, value) with its count), so the job count
does not grow with the column count.  That frame is skipped under
``fast=True``, and under ``approx=True`` with ``top_n=0``.

The plan is written as ONE SQL statement (:func:`_profile_sql`) and
analyzed by one ``spark.sql`` call.  Built from Column calls, the same plan
cost one py4j round trip per expression, each wrapped in PySpark's origin
capture: 3,000-4,200 commands and 0.15-0.23 s of driver CPU per build over
a 5-column table, against 7 commands and ~1 ms as text (4-core host,
``local[4]``).  Names reach the text in two forms only: identifiers
backtick-quoted with embedded backticks doubled, and string values (the
``var`` column) as hex-encoded UTF-8 literals, so no quote, backslash,
brace or dot in a name, and no ``escapedStringLiterals`` setting, changes
the statement.  ``top_n`` and ``digits`` must be integers.

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

import operator
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .check import _local_result_df, _q, _reject_key_clash, _s, stamp_file_col

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


def _value_expr(c: str, dt: T.DataType) -> str:
    """Numeric view of column ``c``: itself, epoch seconds, or string length."""
    if isinstance(dt, (*_NUMERIC, T.BooleanType)):
        return f"CAST({c} AS DOUBLE)"
    if isinstance(dt, _TEMPORAL):
        return f"CAST(CAST({c} AS TIMESTAMP) AS DOUBLE)"
    return f"CAST(length(CAST({c} AS STRING)) AS DOUBLE)"


def _approx_distinct(c: str, dt: T.DataType) -> str:
    # r6: DataSketches HLL where the type allows (int/long/string/binary) —
    # measured 1.8× faster AND tighter than approx_count_distinct rsd .05
    # (0.47 s vs 0.83 s for 16 columns × 10M rows, −2.2% vs −7.4% bias at 1M
    # distinct); unsupported types (double/bool/timestamp) keep HLL++
    if isinstance(dt, (T.IntegerType, T.LongType, T.StringType, T.BinaryType)):
        return f"hll_sketch_estimate(hll_sketch_agg({c}))"
    if isinstance(dt, (T.ShortType, T.ByteType)):
        # integral widening is distinctness-preserving
        return f"hll_sketch_estimate(hll_sketch_agg(CAST({c} AS INT)))"
    return f"approx_count_distinct({c})"


def _mf_value_str(c: str, dt: T.DataType) -> str:
    """String view of column ``c`` for value counting: booleans render
    TRUE/FALSE (the R format, R/describe.R:75-85), arrays, maps and structs
    render as JSON (a plain cast renders ``["a, b"]`` and ``["a", "b"]``
    alike), everything else casts; NULL stays NULL (displayed as NA)."""
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return f"to_json({c})"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # -0.0 and 0.0 are one value (as Spark grouping, DuckDB and R count
        # them) but cast to two strings; the zero keeps the column's own
        # type, since a float cast through double changes its string form
        c = f"CASE WHEN {c} = 0 THEN CAST(0.0D AS {dt.simpleString()}) ELSE {c} END"
    if isinstance(dt, T.BooleanType):  # NULL matches neither: stays NULL
        return f"CASE WHEN {c} THEN 'TRUE' WHEN NOT {c} THEN 'FALSE' END"
    return f"CAST({c} AS STRING)"


def _profile_sql(
    view: str,
    by_cols: list[str],
    fields: list[T.StructField],
    fast: bool,
    approx: bool,
    top_n: int,
    digits: int,
    skip_ones: bool,
) -> str:
    """The one profile statement behind :func:`describe` (``by_cols=[]``)
    and :func:`describe_by`, over temp view ``view``: ``by... + var, type,
    n, n_distinct, n_na, min, mean, median, max, sd`` per (group, column),
    plus ``most_frequent`` after ``n_na`` when ``top_n > 0`` and not
    ``fast``.  Its CTEs:

    - ``stats``: the declarative aggregate (count/sum/min/mean/max/stddev),
      in every mode; ``prof`` unpivots it with one ``inline`` of
      per-column structs to one row per (group, column);
    - ``sk`` (approx): a second, sketch-only aggregate (HLL + raw KLL),
      joined back on the null-safe group key (a 1×1 join without keys).
      r7: a single aggregate mixing sketches with min/mean/max/sd forces
      everything through one ObjectHashAggregate — TypedImperativeAggregate
      buffers disable whole-stage codegen for the whole operator.  Split,
      the declarative half stays a codegen HashAggregate, the sketch half
      keeps 2 typed buffer slots per column, and the scheduler runs the two
      subtrees as independent stages of one job (OPTIMIZATION_r07.md);
    - ``counts`` (exact, or any top-k): the value-count frame, one row per
      distinct (group, column, value) with its count ``__c``; ``__v`` is
      the top-k's string view (:func:`_mf_value_str`), ``__val`` the
      numeric view (:func:`_value_expr`) that the median and the numeric
      tie-break read; NULL is one row with both NULL;
    - ``ex`` (exact): ``count(*)`` and ``percentile(__val, 0.5, __c)`` per
      (group, column) of ``counts``.  ``count(*)`` counts the NULL value as
      one more value (R/describe.R:112); the count-weighted percentile
      equals ``percentile(val, 0.5)`` over the rows but buffers distinct
      values only.  Its shuffle is the top-k's own, reused when both run;
    - ``top`` and ``mf`` (``top_n > 0``): window top-n per (group, var),
      then ``collect_list``/``array_sort``/``filter``/``transform`` build
      the ``"v (c), v2 (c2)"`` string per slice in-plan.  Booleans render
      ``TRUE``/``FALSE`` and NULL ``NA``; numbers are rounded to
      ``digits``, integral results render bare via ``%.0f`` (``5`` for a
      decimal ``5.00``) and the rest via Spark's double→string cast
      (``123.4567``, ``NaN``).  Tie-break: count desc, typed value asc
      (numeric columns numerically), NULL (NA) last;
    - the final select left-joins ``ex`` and ``mf`` on the null-safe
      (group, var) key; a slice with ≤1 distinct value shows ``""``.

    ``anynull`` (NA counted as a distinct value) derives from ``__na > 0``.
    """
    view, keys = _q(view), [_q(k) for k in by_cols]
    sel = "".join(f"{k}, " for k in keys)  # the keys, leading a select list
    group = f"GROUP BY {', '.join(keys)}" if keys else ""

    def on(a: str, b: str, cols: list[str]) -> str:
        return " AND ".join(f"{a}.{c} <=> {b}.{c}" for c in cols) or "true"

    sketches = approx and not fast
    decl, sketch, structs, vcs = ["count(1) AS __n"], [], [], []
    for i, f in enumerate(fields):
        c, dt = _q(f.name), f.dataType
        val = _value_expr(c, dt)
        decl += [
            # a zero-row global aggregate sums to NULL; n_na stays 0
            f"coalesce(sum(CAST({c} IS NULL AS BIGINT)), 0) AS __na{i}",
            f"min({val}) AS __min{i}",
            f"avg({val}) AS __mean{i}",
            f"max({val}) AS __max{i}",
            f"stddev_samp({val}) AS __sd{i}",
        ]
        # fast leaves them NULL; exact mode reads them from `ex` instead
        nd, med = "CAST(NULL AS BIGINT)", "CAST(NULL AS DOUBLE)"
        if sketches:
            # r6: KLL quantile sketch (DataSketches, built into Spark 4)
            # replaced percentile_approx — 3.2× faster on 16 double columns
            # × 10M rows at ~1% rank error.  KLL ignores NaN updates, so an
            # all-NULL or all-NaN input leaves an EMPTY buffer that
            # get_quantile raises on: the non-NaN count guarding it lives in
            # the codegen aggregate (r7: 37% of the KLL agg when interpreted
            # inside it) and the quantile is read once per output row.
            decl.append(f"count(CASE WHEN NOT isnan({val}) THEN {val} END) AS __nnan{i}")
            sketch += [
                f"{_approx_distinct(c, dt)} AS __nd{i}",
                f"kll_sketch_agg_double({val}) AS __kll{i}",
            ]
            # R n_distinct counts NA as one distinct value (R/describe.R:112)
            nd = f"CAST(__nd{i} + CAST(__na{i} > 0 AS BIGINT) AS BIGINT)"
            kll_median = f"kll_sketch_get_quantile_double(__kll{i}, 0.5D)"
            med = f"CASE WHEN __nnan{i} > 0 THEN {kll_median} END"
        structs.append(
            f"named_struct('var', {_s(f.name)}, 'type', {_s(_friendly_type(dt))}, 'n', __n, "
            f"'n_na', __na{i}, 'n_distinct', {nd}, 'median', {med}, 'min', __min{i}, "
            f"'mean', __mean{i}, 'max', __max{i}, 'sd', __sd{i})"
        )
        vcs.append(
            f"named_struct('var', {_s(f.name)}, '__v', {_mf_value_str(c, dt)}, '__val', {val})"
        )
    ctes = [f"stats AS (SELECT {sel}{', '.join(decl)} FROM {view} {group})"]
    source = "stats s"
    if sketch:
        ctes.append(f"sk AS (SELECT {sel}{', '.join(sketch)} FROM {view} {group})")
        source = f"stats s JOIN sk t ON {on('s', 't', keys)}"
    ctes.append(
        f"prof AS (SELECT {''.join(f's.{k}, ' for k in keys)}"
        f"inline(array({', '.join(structs)})) FROM {source})"
    )
    exact, most = not fast and not approx, not fast and top_n > 0
    if exact or most:  # the value-count frame runs only where read
        ctes.append(
            f"counts AS (SELECT {sel}var, __v, __val, count(1) AS __c FROM "
            f"(SELECT {sel}inline(array({', '.join(vcs)})) FROM {view}) p "
            f"GROUP BY {sel}var, __v, __val)"
        )
    joins, n_distinct, median = "", "p.n_distinct", "p.median"
    if exact:
        ctes.append(
            f"ex AS (SELECT {sel}var, count(1) AS n_distinct, "
            f"percentile(__val, 0.5D, __c) AS median FROM counts GROUP BY {sel}var)"
        )
        joins += f" LEFT JOIN ex e ON {on('p', 'e', keys + ['var'])}"
        # a zero-row describe() has no value rows: 0 distinct values
        n_distinct, median = "coalesce(e.n_distinct, 0L)", "e.median"
    cols = [f"p.{k}" for k in keys] + ["p.var", "p.type", "p.n", f"{n_distinct} AS n_distinct"]
    cols.append("p.n_na")
    if most:
        numeric = sorted(_s(f.name) for f in fields if isinstance(f.dataType, _NUMERIC))
        is_num = f"var IN ({', '.join(numeric)})" if numeric else "false"
        d = f"round(try_cast(__v AS DOUBLE), {digits})"
        disp = (
            f"CASE WHEN __v IS NULL THEN 'NA' ELSE CASE WHEN {is_num} THEN CASE WHEN {d} % 1 = 0 "
            f"THEN format_string('%.0f', {d}) ELSE CAST({d} AS STRING) END ELSE __v END END"
        )
        ctes.append(
            f"top AS (SELECT {sel}var, named_struct('rn', __rn, 'c', __c, 'disp', {disp}) AS __e "
            f"FROM (SELECT *, row_number() OVER (PARTITION BY {sel}var ORDER BY __c DESC, "
            f"CASE WHEN {is_num} THEN __val END ASC NULLS LAST, __v ASC NULLS LAST) AS __rn "
            f"FROM counts) r WHERE __rn <= {top_n})"
        )
        arr = "array_sort(collect_list(__e))"  # sorts by rn (first struct field)
        if skip_ones:
            # R semantics (R/describe.R:87-93): rank FIRST, then drop count==1 —
            # no backfill from below the top-n cut
            arr = f"filter({arr}, x -> x.c > 1)"
        ctes.append(
            f"mf AS (SELECT {sel}var, array_join(transform({arr}, "
            f"x -> format_string('%s (%d)', x.disp, x.c)), ', ') AS most_frequent "
            f"FROM top GROUP BY {sel}var)"
        )
        joins += f" LEFT JOIN mf m ON {on('p', 'm', keys + ['var'])}"
        # per-slice suppression: a slice with ≤1 distinct value shows ""
        cols.append(
            f"coalesce(CASE WHEN {n_distinct} > 1 THEN m.most_frequent END, '') AS most_frequent"
        )
    cols += ["p.min", "p.mean", f"{median} AS median", "p.max", "p.sd"]
    return f"WITH {', '.join(ctes)} SELECT {', '.join(cols)} FROM prof p{joins}"


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
    """:func:`_profile_sql` over ``df``, analyzed by one ``spark.sql`` call.
    ``df`` is a temp view with a fresh name only while the statement is
    analyzed (the analyzed plan keeps its own copy of ``df``'s plan); the
    view is dropped even when analysis fails."""
    top_n, digits = operator.index(top_n), operator.index(digits)  # both land in the SQL text
    spark, view = df.sparkSession, f"__describe_{uuid.uuid4().hex}"
    sql = _profile_sql(view, by_cols, fields, fast, approx, top_n, digits, skip_ones)
    df.createOrReplaceTempView(view)
    try:
        return spark.sql(sql)
    finally:
        spark.catalog.dropTempView(view)


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
    compute every non-key column's statistics for every group, and an in-plan
    ``inline`` unpivots to one row per (group, column) — fully distributed, no
    driver-side loop over groups, so a 10^6-partition profile runs the same
    jobs as a 2-partition one.

    Columns: ``by...`` + ``var, type, n, n_distinct, n_na, min, mean,
    median, max, sd``.  With ``top_n > 0`` (and not ``fast``), a
    ``most_frequent`` column is added after ``n_na`` — the keyed in-plan
    top-k joined back on (by, var).  Slices with ≤1
    distinct value are suppressed to ``""`` exactly like :func:`describe`
    (R/describe.R:75-93 applied per slice).  Value semantics and cost are
    those of :func:`describe`, which is this function with no keys (both
    run :func:`_profile`).
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    for c in by_cols:
        if c not in df.columns:
            raise ValueError(f"by column {c!r} not in DataFrame")
    _reject_key_clash("describe_by", by_cols, DESCRIBE_SCHEMA.names)
    fields = [f for f in df.schema.fields if f.name not in by_cols]
    return _profile(df, by_cols, fields, fast, approx, top_n, digits, skip_ones)


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
