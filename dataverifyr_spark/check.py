"""``check_data`` — the validation orchestrator (data plane).

Reference contract: R/check_data.R:52-171 (orchestration), :256-333 (per-rule
evaluation), :277-287 (negate → allow_na rewrite order), :301-315 (error
capture), :325 (fail = tests - pass); R/data_column.R:204-275 (schema rows),
:332-379 (reference rules).

Spark-first design — deliberately NOT the reference's one-scan-per-rule loop:

* All expression rules are fused into ONE aggregate pass: ``count(*)`` plus
  one conditional sum per rule (plus a coercion-watch sum for warn
  synthesis).  N rules ⇒ 1 job, 1 scan — the reference's own batched-describe
  path (R/describe.R:329-422) pushed to its logical conclusion.  At 100 TB
  this is the difference between N full-table scans and one.
* Before launching anything, each rule is resolved against the schema with a
  zero-row ``df.select`` — analysis errors (missing column, bad call) become
  error rows (pass=0, fail=tests) without aborting the job, matching
  R/check_data.R:301-315.
* Column pruning is left to Catalyst (the fused agg references only rule
  columns, so the Parquet/Iceberg ReadSchema shrinks to their union — see
  EXPLAIN.md); an explicit pre-agg select measured strictly slower on cached
  inputs and was removed.
* Reference rules evaluate as distinct-ref LEFT joins (AQE picks
  broadcast-hash when the distinct ref side is small; see
  ``_reference_counts``) — never a collected ``isin`` list, which would cap
  ref size at driver memory.  Uniqueness rules evaluate as one key-only
  groupBy count (``_uniqueness_keys``).
* One builder, ``_summary``, makes every rule's summary rows: the fused
  aggregate unpivoted to one row per rule, unioned with one frame per
  reference or uniqueness rule.  ``check_data`` collects it with no group
  keys, as ONE Spark action whose rule stages the scheduler runs side by
  side; rules run one by one, through the same builder, only when that
  action raises (see ``check_data``).
* ``check_data_by(by=[cols])`` is the same builder under the user's keys: a
  distributed per-group summary (one row per group × rule) — the
  north_rule's "per-partition pass/fail rows" — without collecting.
"""

from __future__ import annotations

import re
import time as _time
import warnings
from dataclasses import dataclass
from functools import reduce
from operator import and_, or_
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import udf_warnings
from .expr import CompileResult, ExprError, col_ref, compile_expr, get_called_functions
from .rules import (
    DataColumn,
    ReferenceRule,
    Rule,
    Ruleset,
    UniquenessRule,
    ruleset,
    validate_data_columns,
)

__all__ = ["check_data", "CheckDataError", "RESULT_SCHEMA", "compile_rule_predicate"]

# Result-row contract: R/check_data.R:103-117 / :317-329
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("check_type", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("expr", T.StringType(), False),
        T.StructField("allow_na", T.BooleanType(), False),
        T.StructField("negate", T.BooleanType(), False),
        T.StructField("tests", T.LongType(), False),
        T.StructField("pass", T.LongType(), False),
        T.StructField("fail", T.LongType(), False),
        T.StructField("warn", T.StringType(), False),
        T.StructField("error", T.StringType(), False),
        T.StructField("time", T.DoubleType(), False),
    ]
)

_COERCION_WARN = "NAs introduced by coercion"
# a job cancelled by group, tag or cancelAll stops check_data: no re-run, no error row
_CANCELLED = "[SPARK_JOB_CANCELLED]"


class CheckDataError(RuntimeError):
    """Raised by the stop_on_* gates (R/check_data.R:146-168)."""


@dataclass
class _Compiled:
    rule: Rule
    res: CompileResult | None  # expression rules only
    error: str


def compile_rule_predicate(r: Rule) -> CompileResult:
    """Compile a rule to its guarded predicate Column.

    Rewrite order is load-bearing (R/check_data.R:277-287): negate wraps the
    raw expression FIRST, the allow_na is-null guard ORs on top, one guard per
    symbol referenced by the original expression.
    """
    res = compile_expr(r.expr)
    pred = res.column
    if r.negate:
        pred = ~pred
    if r.allow_na:
        for s in res.symbols:
            pred = pred | col_ref(s).isNull()
    return CompileResult(column=pred, symbols=res.symbols, coercion_watchers=res.coercion_watchers)


def _analysis_errors(df: DataFrame, cols: Sequence[Column]) -> list[Exception | None]:
    """Resolve each Column against ``df``'s schema without running a job;
    return its analysis error, or None when it resolves.

    Probe against an EMPTY LocalRelation with the same schema, not against
    df itself: analysis cost is proportional to the logical-plan size, and
    df may carry an arbitrarily deep plan (unions, joins) that would be
    re-analyzed once per column.  The empty frame has identical resolution
    semantics (missing column / type errors) at O(schema) cost.

    r7: the happy path probes ALL columns in ONE select — aliased probe
    columns are analyzed independently, so the combined analysis succeeds
    iff each per-column analysis would, and N valid rules cost one driver
    analysis roundtrip instead of N (~20 ms each; the dominant fixed cost of
    check_data on small/cached inputs).  Only when the batch fails does the
    per-column loop run to attribute the errors (R/check_data.R:301-315
    contract unchanged)."""
    if not cols:
        return []
    probe_df = df.sparkSession.createDataFrame([], df.schema)
    try:
        probe_df.select(*[c.alias(f"__probe{i}") for i, c in enumerate(cols)])
        return [None] * len(cols)
    except Exception:
        pass  # fall through to per-column attribution
    errors: list[Exception | None] = []
    for c in cols:
        try:
            probe_df.select(c.alias("__probe"))
            errors.append(None)
        except Exception as exc:  # AnalysisException, ...
            errors.append(exc)
    return errors


def _compile_all(
    df: DataFrame, rules: list[Rule], datasets: Mapping[str, DataFrame]
) -> list[_Compiled]:
    """Compile and analyze every expression rule, and check every counted
    rule's inputs, now: a bad rule (unparsable expression, missing column or
    dataset) becomes an error rather than a failed job
    (R/check_data.R:301-315)."""
    staged: list[tuple[Rule, Exception | CompileResult | None]] = []
    for r in rules:
        try:
            if isinstance(r, (ReferenceRule, UniquenessRule)):
                _check_inputs(df, r, datasets)
                staged.append((r, None))
            else:
                staged.append((r, compile_rule_predicate(r)))
        except Exception as exc:  # ExprError, ValueError and friends — compile-time
            staged.append((r, exc))
    analysis = iter(
        _analysis_errors(df, [res.column for _, res in staged if isinstance(res, CompileResult)])
    )
    out: list[_Compiled] = []
    for r, res in staged:
        err = next(analysis) if isinstance(res, CompileResult) else res
        if err is None:
            out.append(_Compiled(r, res, ""))
        else:
            out.append(_Compiled(r, None, _strip_error(err)))
    return out


def _q(name: str) -> str:
    """A backtick-quoted SQL identifier (embedded backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _s(text: str) -> str:
    """A SQL string literal as hex-encoded UTF-8: a non-NULL constant that
    ``spark.sql.parser.escapedStringLiterals`` does not change."""
    return f"CAST(X'{text.encode().hex()}' AS STRING)"


def _hits(pred: Column, alias: str) -> Column:
    """Sum of rows where ``pred`` is TRUE (NULL counts as not)."""
    return F.sum(F.when(pred, F.lit(1)).otherwise(F.lit(0))).alias(alias)


def _reject_key_clash(caller: str, by_cols: Sequence[str], outputs: Sequence[str]) -> None:
    clash = [c for c in by_cols if c in outputs]
    if clash:
        raise ValueError(
            f"{caller}: group key(s) {clash} collide with the output columns "
            f"{', '.join(outputs)}; rename them first"
        )


def _safe_alias(columns: Sequence[str], base: str) -> str:
    """Internal-alias name guaranteed not to shadow a user column: a
    dataset with a column literally named ``__dvfy_ref_val`` or ``__cnt``
    must not turn a valid reference or uniqueness rule into an
    AMBIGUOUS_REFERENCE error (used by ``_reference_counts``,
    ``_uniqueness_keys`` and the streaming window column)."""
    out = base
    while out in columns:
        out = "_" + out
    return out


def _strip_error(exc: Exception) -> str:
    msg = str(exc).strip().replace("\n", " ")
    # Spark analysis errors append the whole logical plan after "SQLSTATE: xxxxx;"
    # — keep the human-readable part only (parity with the reference's
    # ANSI-stripped message, R/check_data.R:370-380)
    m = re.search(r"SQLSTATE: \w+", msg)
    if m:
        msg = msg[: m.end()]
    return msg[:500]


def _result_row(
    r: Rule,
    tests: int,
    passed: int,
    warn: str = "",
    error: str = "",
    elapsed: float = 0.0,
) -> dict[str, Any]:
    return {
        "check_type": r.check_type,
        "name": r.name,
        "expr": r.expr,
        "allow_na": r.allow_na,
        "negate": r.negate,
        "tests": int(tests),
        "pass": int(passed),
        "fail": int(tests) - int(passed),
        "warn": warn,
        "error": error,
        "time": float(elapsed),
    }


# ---------------------------------------------------------------------------
# Schema (data_column) validation — pure driver metadata, zero data scan
# (R/data_column.R:204-275)
# ---------------------------------------------------------------------------

_SPARK_FAMILY = {
    "int": (T.IntegerType, T.LongType, T.ShortType, T.ByteType),
    "double": (
        T.DoubleType,
        T.FloatType,
        T.DecimalType,
        T.IntegerType,
        T.LongType,
        T.ShortType,
        T.ByteType,
    ),  # R is.numeric: ints pass as numeric (R/data_column.R:320)
    "string": (T.StringType,),
    "boolean": (T.BooleanType,),
}


def _schema_rows(
    df: DataFrame,
    decls: list[DataColumn],
    rules: list[Rule],
    extra_columns: str,
) -> tuple[list[dict[str, Any]], list[str]]:
    validate_data_columns(decls)
    rows: list[dict[str, Any]] = []
    warns: list[str] = []
    actual = {f.name: f.dataType for f in df.schema.fields}
    declared = {c.col for c in decls}

    # unknown-symbol hard stop — expression rules only; reference rules are
    # validated against their own datasets, not data_columns
    # (R/data_column.R:228-236 filters reference_rule out first)
    for r in rules:
        if isinstance(r, ReferenceRule):
            continue
        try:
            syms = r.symbols()
        except ExprError:
            continue
        unknown = [s for s in syms if s not in declared]
        if unknown:
            raise ValueError(
                f"rule '{r.name}' references undeclared column(s): {', '.join(unknown)}"
            )

    # extra-columns policy (R/data_column.R:215-226): warn emits a real
    # warning, fail hard-stops — both matching the reference's warning()/stop()
    extras = [c for c in actual if c not in declared]
    if extras:
        msg = (
            "Found extra columns not declared in `data_columns`: "
            + ", ".join(sorted(extras))
        )
        if extra_columns == "warn":
            warns.append(msg)
        elif extra_columns == "fail":
            raise ValueError(msg)

    def row(name: str, expr: str, ok: bool, error: str) -> dict[str, Any]:
        return {
            "check_type": "schema", "name": name, "expr": expr, "allow_na": False,
            "negate": False, "tests": 1, "pass": int(ok), "fail": int(not ok),
            "warn": "", "error": "" if ok else error, "time": 0.0,
        }

    for c in decls:
        exists = c.col in actual
        rows.append(
            row(f"Column exists: {c.col}", f"column_exists('{c.col}')", exists or c.optional,
                f"required column '{c.col}' not found")
        )
        family = c.spark_type_family()
        if exists and c.type is not None:
            # unknown declared type ⇒ always passes (R/data_column.R:328)
            ok_t = True if family is None else isinstance(actual[c.col], _SPARK_FAMILY[family])
            got = actual[c.col].simpleString()
            rows.append(
                row(f"Column type: {c.col}", f"column_type('{c.col}') == '{c.type}'", ok_t,
                    f"column '{c.col}' has type '{got}', declared '{c.type}'")
            )
    return rows, warns


# ---------------------------------------------------------------------------
# Counted rules — reference (FK membership) and uniqueness.  Each rule kind
# has ONE evaluator taking ``by_cols``: check_data calls it with no keys and
# collects, check_data_by with the user's keys and unions
# (R/data_column.R:332-379)
# ---------------------------------------------------------------------------


def _sum_counts(counted: DataFrame, ok: Column, cnt: str, by_cols: list[str]) -> DataFrame:
    """``by…, tests, pass`` from a frame of pre-aggregated ``cnt`` counts:
    tests = Σ cnt, pass = Σ cnt where ``ok``, per group of ``by_cols`` (one
    global row when there are none)."""
    return counted.groupBy(*by_cols).agg(
        F.sum(F.col(cnt)).alias("tests"),
        F.sum(F.when(ok, F.col(cnt)).otherwise(F.lit(0))).alias("pass"),
    )


def _check_inputs(df: DataFrame, r: Rule, datasets: Mapping[str, DataFrame]) -> None:
    """Raise a ValueError when a counted rule names a dataset or column that
    is not there — before any plan is built, so the message names the rule's
    own input rather than an analysis error."""
    if isinstance(r, ReferenceRule):
        if r.ref_dataset not in datasets:
            raise ValueError(f"reference dataset '{r.ref_dataset}' not provided")
        if r.ref_col not in datasets[r.ref_dataset].columns:
            raise ValueError(f"reference column '{r.ref_col}' not in dataset '{r.ref_dataset}'")
    elif isinstance(r, UniquenessRule):
        missing = [c for c in r.unique_cols if c not in df.columns]
        if missing:
            raise ValueError(f"uniqueness rule '{r.name}': column(s) {missing} not in DataFrame")


def _reference_counts(
    df: DataFrame, r: ReferenceRule, datasets: Mapping[str, DataFrame], by_cols: list[str]
) -> DataFrame:
    """``by…, tests, pass`` for one reference rule: a distinct-ref LEFT join
    (AQE picks broadcast-hash when the distinct ref side is small) — never a
    collected ``isin`` list, which would cap ref size at driver memory.

    R ``%in%`` never yields NA: NULL local ⇒ FALSE (R/data_column.R:352), so
    ``hit IS NOT NULL`` reproduces it exactly.  Rewrite order is the OPPOSITE
    of expression rules here: the reference applies the allow_na is-na rescue
    FIRST and negate LAST (R/data_column.R:353-358), so with both flags set a
    NULL local value is rescued to ok=TRUE and then negated to a FAIL.

    r7 (guide §2.3 "aggregate before you shuffle"): the local side is
    projected to the key columns (by columns + the FK column, deduped — the
    FK may itself be a by column) and pre-aggregated to
    ``(group, value, count)`` BEFORE the membership join.  Every row's
    verdict depends only on its value, so the join needs one row per
    DISTINCT (group × local value), not one per data row; partial
    aggregation combines duplicates (including a hyper-hot FK value)
    map-side, the shuffle and join carry |distinct| rows, and skew vanishes
    without AQE's help — the 10^12-row orders-table check joins
    ~|customers| rows and the payload never joins.  A NULL local value
    groups like any other value (count preserved) and still reads as a
    non-hit.
    """
    ref_alias = _safe_alias(df.columns, "__dvfy_ref_val")
    cnt = _safe_alias(df.columns, "__cnt")
    ref_vals = datasets[r.ref_dataset].select(F.col(r.ref_col).alias(ref_alias)).distinct()
    proj = list(dict.fromkeys([*by_cols, r.local_col]))
    local = df.select(*proj).groupBy(*proj).agg(F.count(F.lit(1)).alias(cnt))
    joined = local.join(ref_vals, local[r.local_col] == F.col(ref_alias), "left")
    ok = F.col(ref_alias).isNotNull()
    if r.allow_na:
        ok = ok | F.col(r.local_col).isNull()
    if r.negate:
        ok = ~ok
    return _sum_counts(joined, ok, cnt, by_cols)


def _uniqueness_keys(
    df: DataFrame, r: UniquenessRule, by_cols: list[str]
) -> tuple[DataFrame, Column, str]:
    """``(grouped, ok, cnt)`` for one uniqueness rule: ONE key-only
    ``groupBy(by + keys)`` → ``cnt`` rows per key, and ``ok``, the verdict
    on every row of a key.  Its counts sum per group in ``_summary``
    (tests = Σ key counts, pass = rows of ``ok`` keys, so uniqueness is
    judged WITHIN each group; with no keys a single-row reduce), and
    ``uniqueness_violations`` semi-joins the keys that are not ``ok``.  The
    projection ships ONLY the key columns into the shuffle (at 10^12 rows
    the audio payload never moves); partial aggregation combines duplicate
    keys map-side.  NULL keys group together (SQL), and a group's keys are
    its rows' keys, so the NULL-key test reads the group columns.  allow_na
    rescues NULL-key rows FIRST, negate LAST (the reference-rule flag
    order)."""
    _check_inputs(df, r, {})
    cnt = _safe_alias(df.columns, "__cnt")
    keys = list(dict.fromkeys([*by_cols, *r.unique_cols]))
    grouped = df.select(*keys).groupBy(*keys).agg(F.count(F.lit(1)).alias(cnt))
    ok = F.col(cnt) == 1
    if r.allow_na:
        ok = ok | reduce(or_, [F.col(c).isNull() for c in r.unique_cols])
    if r.negate:
        ok = ~ok
    return grouped, ok, cnt


def _in_row_order(rules: Ruleset) -> list[Rule]:
    """Expression rules, then reference rules, then uniqueness rules, each
    in ruleset order: the order of their summary rows."""
    return sorted(
        rules, key=lambda r: (isinstance(r, UniquenessRule), isinstance(r, ReferenceRule))
    )


def _summary(
    df: DataFrame,
    compiled: Mapping[int, _Compiled],
    datasets: Mapping[str, DataFrame],
    by_cols: list[str],
    indexed: bool = False,
) -> DataFrame:
    """``by…, name, expr, tests, pass, fail``: one row per group × rule of
    ``compiled`` (keyed by summary-row position).  Expression rules share
    ONE ``groupBy(by).agg``, unpivoted in-plan by an ``inline`` of per-rule
    structs; each counted rule unions on its own frame.  Projections are SQL
    text, one py4j call each rather than one per expression.  ``indexed``
    adds ``__rule``, the key, and ``__warned``, the rows on which a coercion
    watcher fired; Catalyst does not prune an ``inline``'s outputs, so only
    the callers that read them build them."""

    def fields(i: int, r: Rule, tests: str, passed: str, warned: str) -> list[str]:
        out = [f"{_s(r.name)} AS name", f"{_s(r.expr)} AS expr", f"{tests} AS tests"]
        out += [f"{passed} AS pass", f"{tests} - {passed} AS fail"]
        return out + [f"{i} AS __rule", f"{warned} AS __warned"] if indexed else out

    keys = [_q(c) for c in by_cols]
    parts: list[DataFrame] = []
    aggs, structs = [F.count(F.lit(1)).alias("__tests")], []
    for i, c in compiled.items():
        r = c.rule
        if c.res is not None:  # an expression rule: columns of the shared aggregate
            aggs.append(_hits(c.res.column, f"__p{i}"))
            warned = "0L"
            if indexed and c.res.coercion_watchers:
                aggs.append(_hits(reduce(or_, c.res.coercion_watchers), f"__w{i}"))
                warned = f"__w{i}"
            structs.append(f"struct({', '.join(fields(i, r, '__tests', f'__p{i}', warned))})")
        else:  # a counted rule: a frame of its own
            if isinstance(r, ReferenceRule):
                counts = _reference_counts(df, r, datasets, by_cols)
            else:
                counts = _sum_counts(*_uniqueness_keys(df, r, by_cols), by_cols)
            parts.append(counts.selectExpr(*keys, *fields(i, r, "tests", "pass", "0L")))
    if structs:
        grouped = df.groupBy(*by_cols).agg(*aggs)
        parts.insert(0, grouped.selectExpr(*keys, f"inline(array({', '.join(structs)}))"))
    return reduce(DataFrame.unionByName, parts)


def uniqueness_violations(df: DataFrame, r: "UniquenessRule") -> DataFrame:
    """Rows of ``df`` violating a uniqueness rule — the filter_fails
    complement (filter_fails itself skips aggregation rules the way the
    reference skips reference rules, R/filters.R:42-47).  A left-semi join
    against the keys that ``_uniqueness_keys`` judges not ``ok``, so the
    flag order is the count's own; only keys shuffle."""
    grouped, ok, _ = _uniqueness_keys(df, r, [])
    keys = list(dict.fromkeys(r.unique_cols))
    bk = "__bk"
    while any(f"{bk}_{c}" in df.columns for c in keys):
        bk = "_" + bk
    bad_keys = grouped.filter(~ok).select(*[F.col(c).alias(f"{bk}_{c}") for c in keys])
    # null-SAFE semi join: SQL GROUP BY groups NULLs together, so a NULL-key
    # group is flagged (or rescued) like any other key; a plain equi-join
    # would silently drop it
    join_cond = reduce(and_, [df[c].eqNullSafe(bad_keys[f"{bk}_{c}"]) for c in keys])
    return df.join(bad_keys, join_cond, "left_semi")


# ---------------------------------------------------------------------------
# check_data
# ---------------------------------------------------------------------------


def _local_result_df(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Tiny driver-built result frame: a JVM ``LocalRelation`` with ONE
    partition and no Python worker.

    Each row is verified against ``schema`` as
    ``createDataFrame(verifySchema=True)`` does (a wrong type, or ``None`` in
    a non-nullable field, raises).  The rows then travel as one Arrow table,
    which Spark plans as a ``LocalRelation`` below
    ``spark.sql.execution.arrow.localRelationThreshold``, so collecting or
    writing the frame runs JVM code only and starts no Python worker.
    ``coalesce(1)`` keeps it one partition, so a write emits one file."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    verify = T._make_type_verifier(schema)
    for row in rows:
        verify(row)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def _upgrade(x, spark: SparkSession | None):
    """Accept pandas frames for tiny local inputs — the analog of the
    reference upgrading bare data.frames to the active backend
    (R/check_data.R:86-95)."""
    if isinstance(x, DataFrame):
        return x
    try:
        import pandas as pd

        if isinstance(x, pd.DataFrame):
            s = spark or SparkSession.getActiveSession()
            if s is None:
                raise ValueError("pass spark= to check_data for pandas inputs")
            return s.createDataFrame(x)
    except ImportError:
        pass
    return x


def _resolve_datasets(
    x, data_name: str | None, spark: SparkSession | None = None
) -> tuple[DataFrame, dict[str, DataFrame], str]:
    x = _upgrade(x, spark)
    if isinstance(x, DataFrame):
        return x, {}, data_name or "df"
    if isinstance(x, Mapping):
        if not x:
            raise ValueError("empty dataset mapping")
        datasets = {k: _upgrade(v, spark) for k, v in x.items()}
        primary_name = data_name or next(iter(datasets))
        if primary_name not in datasets:
            raise ValueError(f"data_name '{primary_name}' not in dataset mapping")
        return datasets[primary_name], datasets, primary_name
    raise TypeError(f"x must be a DataFrame or mapping of DataFrames, got {type(x).__name__}")


def check_data(
    x: DataFrame | Mapping[str, DataFrame],
    rules: Ruleset | Rule | str,
    *,
    stop_on_fail: bool = False,
    stop_on_warn: bool = False,
    stop_on_error: bool = False,
    stop_on_schema_fail: bool = False,
    extra_columns: str = "ignore",
    data_name: str | None = None,
    spark: SparkSession | None = None,
    timing: str = "shared",
) -> DataFrame:
    """Run a ruleset against a dataset; return the 11-column summary DataFrame.

    Row-order contract (R/check_data.R:127-144): schema rows first, then
    row_rules in ruleset order, then reference rules, then uniqueness rules.

    Every rule's row comes from one collected union, the keyless
    ``check_data_by`` frame (``_summary``).

    ``timing`` semantics for the ``time`` column: the reference evaluates one
    scan per rule, so its per-rule times are real; this engine evaluates
    every rule in ONE Spark action, so true per-rule cost does not exist.

    - ``"shared"`` (default): each evaluated rule's ``time`` is an even
      share of that action's wall time, reference and uniqueness rules
      included — the shares sum to the real wall time, the split is nominal.
    - ``"per_rule"``: each rule runs alone in its own job and reports that
      job's wall time — reference-comparable numbers, at the cost of N scans
      (use for profiling, never in production pipelines).

    A rule that raises at runtime (an ANSI ``[DIVIDE_BY_ZERO]``, a failed
    join-key cast) fails the shared action; every rule then runs alone as
    under ``"per_rule"``, so the failure becomes that rule's error row
    (pass=0, fail=tests) and the other rules still report
    (R/check_data.R:301-315).  ``tests`` then comes from the first rule job
    that read it, else from ``df.count()``, so an unreadable source still
    raises rather than give N error rows, as does a cancelled job.

    PySpark still logs each such failure at ERROR, with its stack trace,
    when the exception is built: its logger ``DataFrameQueryContextLogger``
    writes every DataFrame query-context error, handled or not — once for
    the failed shared action and once per failing rule's job.  To silence
    it, set the level on PySpark's own logger class:
    ``PySparkLogger.getLogger("DataFrameQueryContextLogger").setLevel(
    logging.CRITICAL)`` (``from pyspark.logger import PySparkLogger``).  A
    plain ``logging.getLogger`` of that name, made first, registers a plain
    ``Logger`` that rejects PySpark's keyword arguments: the error row then
    reads ``Logger._log() got an unexpected keyword argument 'file'``.
    This call leaves logger levels alone, since they are process-wide.
    """
    if isinstance(rules, str):
        from .io import read_rules

        rules = read_rules(rules)
    if isinstance(rules, Rule):
        rules = ruleset(rules)
    if extra_columns not in ("ignore", "warn", "fail"):
        raise ValueError("extra_columns must be one of ignore/warn/fail")
    if timing not in ("shared", "per_rule"):
        raise ValueError("timing must be 'shared' or 'per_rule'")

    df, datasets, primary_name = _resolve_datasets(x, data_name or rules.data_name, spark)
    spark = spark or df.sparkSession

    schema_rows: list[dict[str, Any]] = []
    if rules.data_columns:
        schema_rows, schema_warns = _schema_rows(
            df, rules.data_columns, rules.rules, extra_columns
        )
        for msg in schema_warns:
            warnings.warn(msg, stacklevel=2)

    # every rule keyed by its summary-row position i
    compiled = _compile_all(df, _in_row_order(rules), datasets)
    built = {i: c for i, c in enumerate(compiled) if not c.error}
    errors = {i: c.error for i, c in enumerate(compiled) if c.error}

    # no explicit column-pruning select: Catalyst prunes the scan (parquet
    # ReadSchema / InMemoryTableScan) to the union of referenced columns on
    # its own, and an extra select only adds an analysis pass (measured 1.7x
    # slower — on CACHED inputs, where analysis overhead dominates; on cold
    # parquet the select is merely redundant, Catalyst prunes either way)
    values: dict[int, Any] = {}
    times: dict[int, float] = {}
    warn_before = udf_warnings.snapshot()
    if timing == "shared" and built:
        # ONE action collects every rule's row; the scheduler runs the
        # counted rules' stages side by side
        t0 = _time.perf_counter()
        try:
            rows = _summary(df, built, datasets, [], indexed=True).collect()
        except Exception as exc:  # a rule failed at runtime: each runs alone below
            if _CANCELLED in str(exc):
                raise
        else:
            values = {row["__rule"]: row for row in rows}
            times = dict.fromkeys(values, (_time.perf_counter() - t0) / len(rows))
    if not values:
        # each rule alone: a runtime failure (ANSI divide by zero, a failed
        # join-key cast) becomes the error row of the rule that raised, and
        # under timing="per_rule" each rule reports its own job's wall time
        for i, c in built.items():
            t1 = _time.perf_counter()
            try:
                values[i] = _summary(df, {i: c}, datasets, [], indexed=True).collect()[0]
            except Exception as exc:
                if _CANCELLED in str(exc):
                    raise
                errors[i] = _strip_error(exc)
            times[i] = _time.perf_counter() - t1
    # a counted rule's sums are NULL over no rows; when no rule read the
    # source, a failing source raises in df.count()
    tests = (next(iter(values.values()))["tests"] or 0) if values else df.count()

    # executor-side warnings raised inside UDF batches during these jobs,
    # attributed to the rules whose expressions call the warning function
    # (reference records any evaluation warning, R/check_data.R:248-253)
    fn_warns: dict[str, list[str]] = {}
    for fn, msg in sorted(udf_warnings.new_since(warn_before)):
        fn_warns.setdefault(fn, []).append(msg)

    rule_rows: list[dict[str, Any]] = []
    for i, c in enumerate(compiled):
        r = c.rule
        if i in errors:
            # error row: pass=0, fail=tests (R/check_data.R:301-315)
            rule_rows.append(_result_row(r, tests, 0, error=errors[i], elapsed=times.get(i, 0.0)))
            continue
        row = values[i]
        warns = [_COERCION_WARN] if row["__warned"] else []
        if fn_warns and c.res is not None:  # compiled, so it parses
            for fn in get_called_functions(r.expr):
                warns.extend(m for m in fn_warns.get(fn, ()) if m not in warns)
        # unique messages joined with ", " exactly like the reference's
        # get_warnings (R/check_data.R: paste(unique(out), collapse = ", "))
        rule_rows.append(
            _result_row(r, tests, row["pass"] or 0, warn=", ".join(warns), elapsed=times[i])
        )

    all_rows = schema_rows + rule_rows
    result = _local_result_df(
        spark,
        [tuple(r[f.name] for f in RESULT_SCHEMA.fields) for r in all_rows],
        RESULT_SCHEMA,
    )

    _apply_stop_gates(
        all_rows,
        primary_name,
        stop_on_fail=stop_on_fail,
        stop_on_warn=stop_on_warn,
        stop_on_error=stop_on_error,
        stop_on_schema_fail=stop_on_schema_fail,
    )
    return result


def _apply_stop_gates(
    rows: list[dict[str, Any]],
    data_name: str,
    *,
    stop_on_fail: bool,
    stop_on_warn: bool,
    stop_on_error: bool,
    stop_on_schema_fail: bool,
) -> None:
    # message format per R/check_data.R:159-167
    rule_rows = [
        r for r in rows
        if r["check_type"] in ("row_rule", "reference_rule", "uniqueness_rule")
    ]
    schema_rows = [r for r in rows if r["check_type"] == "schema"]
    n_fail = sum(1 for r in rule_rows if r["fail"] > 0)
    n_warn = sum(1 for r in rows if r["warn"])
    n_error = sum(1 for r in rows if r["error"])
    n_schema_fail = sum(1 for r in schema_rows if r["fail"] > 0)

    trip = (
        (stop_on_fail and n_fail > 0)
        or (stop_on_warn and n_warn > 0)
        or (stop_on_error and n_error > 0)
        or (stop_on_schema_fail and n_schema_fail > 0)
    )
    if trip:
        raise CheckDataError(
            f"In dataset '{data_name}' found {n_fail} rule fails, "
            f"{n_warn} warnings, {n_error} errors"
            + (f", {n_schema_fail} schema fails" if n_schema_fail else "")
        )


# ---------------------------------------------------------------------------
# Distributed per-group summary (north_rule per-partition pass/fail rows)
# ---------------------------------------------------------------------------


def check_data_by(
    df: DataFrame,
    rules: Ruleset | Rule,
    by: list[str] | str,
    datasets: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """Per-group pass/fail summary — stays distributed (no collect).

    The summary frame comes from the builder ``check_data`` collects
    (``_summary``), here with ``by`` as the group keys (``check_data`` is
    the no-key case).  A key named like an output column (``name``,
    ``expr``, ``tests``, ``pass``, ``fail``) raises a ValueError.
    Reference (FK) rules are supported when ``datasets`` supplies the lookup
    tables: each becomes ONE key-only projection → distinct-ref left join →
    the same groupBy aggregation (payload bytes never join), and its rows
    union after the expression-rule rows, followed by the uniqueness rules'
    rows.  Without ``datasets`` a ruleset containing reference rules raises
    instead of silently dropping them.

    One ``groupBy(by).agg`` computes every rule's conditional sum per group in
    a single shuffle; results are unpivoted to long form
    ``by..., name, expr, tests, pass, fail`` via an inline array-of-structs
    (pure Catalyst — no Python in the row path).  At 10^12 rows this yields
    one summary row per (partition-key × rule), the north_rule shape.  A
    streaming ``df`` gives a streaming aggregation with its running sums in
    Spark's state store: every surface of ``streaming/validate.py`` is this
    call over the stream.

    Skew note (north_rule: hot clip_id partitions): conditional-sum
    aggregates combine map-side, so a key holding 90% of the rows shuffles
    ONE partial row per upstream task, not 90% of the data to one reducer —
    no salting needed for the summary path (tested under extreme skew in
    tests/test_scale_features.py::TestSkew).  Key counts (uniqueness rules,
    operators/uniqueness.py) combine map-side the same way; joins rely on
    AQE skewJoin (enabled in session.build_spark).
    """
    if isinstance(rules, Rule):
        rules = ruleset(rules)
    by_cols = [by] if isinstance(by, str) else list(by)
    _reject_key_clash("check_data_by", by_cols, ["name", "expr", "tests", "pass", "fail"])

    ordered = _in_row_order(rules)
    if not ordered:
        raise ValueError("no rules for check_data_by")
    if datasets is None and any(isinstance(r, ReferenceRule) for r in ordered):
        raise ValueError(
            "ruleset contains reference rules; pass datasets={'name': ref_df, ...} "
            "to check_data_by (they would otherwise be silently dropped)"
        )

    # a bad rule raises (unparsable expression, missing dataset or column):
    # the _by contract has no error-row channel
    compiled = _compile_all(df, ordered, datasets or {})
    bad = [f"'{c.rule.name}' ({c.rule.expr}): {c.error}" for c in compiled if c.error]
    if bad:
        raise ValueError("check_data_by: bad rule(s) " + "; ".join(bad))
    return _summary(df, dict(enumerate(compiled)), datasets or {}, by_cols)


def check_data_by_file(
    df: DataFrame,
    rules: Ruleset | Rule,
    datasets: Mapping[str, DataFrame] | None = None,
    *,
    file_col: str = "file",
    basename: bool = False,
) -> DataFrame:
    """Per-SOURCE-FILE pass/fail summary rows — the north_rule's "per-rule,
    per-partition pass/fail summary" with the same file-lineage unit the
    resumable ledger uses (``ledger.ValidationLedger``: the file is the unit
    that survives retries, repartitions and cluster-size changes, unlike
    ``spark_partition_id()``).

    ``input_file_name()`` is stamped inside the scan (no extra pass) and the
    summary routes through :func:`check_data_by`, so the plan is the same
    single grouped conditional-sum aggregate — one shuffle carrying one
    partial row per (file × task), never data rows.  At 10^12 rows over
    ~10^6 parquet files this yields files × rules summary rows: the shape a
    validation dashboard joins against the ingest manifest to find WHICH
    shard went bad.

    The default keeps the FULL file URI — unique by construction.
    ``basename=True`` reduces it to the last path segment, which reads
    better in a report but is NOT unique under a Hive-partitioned layout:
    the same task writes identically-named ``part-00003-*.parquet`` files
    into different ``key=value/`` directories, and those would silently
    merge into one summary row (caught by
    tests/test_check_data.py::TestCheckDataByFile).  Non-file sources raise
    (same driver-only guard as ``ValidationLedger.run_incremental``).
    """
    stamped = stamp_file_col(df, file_col, basename, caller="check_data_by_file")
    return check_data_by(stamped, rules, by=file_col, datasets=datasets)


def stamp_file_col(df: DataFrame, file_col: str, basename: bool, caller: str) -> DataFrame:
    """Shared file-lineage stamp for the ``*_by_file`` summaries: adds
    ``input_file_name()`` (optionally reduced to the basename — see the
    uniqueness caveat in :func:`check_data_by_file`) inside the scan, with
    the driver-only non-file-source and column-collision guards.

    Call on the freshly-READ frame: ``input_file_name()`` is task-scoped,
    so any exchange between the scan and the stamp (``repartition``, a
    join, an aggregation) erases it to ``''`` and every row collapses into
    one blank-file summary group.  ``df.inputFiles()`` cannot detect this
    (the lineage still lists the files), so the stamp itself guards: an
    empty ``input_file_name()`` raises IN the scan (``raise_error`` branch
    — same pass, no extra job) instead of silently mis-grouping."""
    if not df.inputFiles():
        raise ValueError(
            f"{caller} requires a file-backed DataFrame "
            "(df.inputFiles() is empty — input_file_name() would be '')"
        )
    if file_col in df.columns:
        raise ValueError(
            f"file_col {file_col!r} collides with an input column; "
            "pass file_col=<unused name>"
        )
    src = F.input_file_name()
    src = F.when(
        src == "",
        F.raise_error(
            F.lit(
                f"{caller}: input_file_name() is empty — an exchange between the "
                "scan and the stamp erases file lineage; call on the freshly-read "
                "frame (before repartition/join/aggregate)"
            )
        ),
    ).otherwise(src)
    if basename:
        src = F.regexp_extract(src, r"([^/]+)$", 1)
    return df.withColumn(file_col, src)


def reference_violations(
    df: DataFrame, r: ReferenceRule, datasets: Mapping[str, DataFrame]
) -> DataFrame:
    """Rows of ``df`` violating a reference rule — the anti-join complement
    of the membership count (the reference's filter_fails skips reference
    rules, R/filters.R:42-47; this is the scale extension that materializes
    orphan rows for triage).

    Flag algebra mirrors check_reference_rule's order — allow_na rescue FIRST,
    negate LAST (R/data_column.R:353-358):

    Plain rule:          violators = rows whose local value is NOT in the set
                         (left_anti; NULL local is a violator: NULL∈set FALSE)
    allow_na:            NULL-local rows are rescued from the violator set
    negate:              ok = !in_set → violators = set hits (left_semi;
                         NULL local never matches, so it passes)
    negate + allow_na:   ok = !(in_set | is_na) → violators = set hits ∪ NULLs
    """
    _check_inputs(df, r, datasets)
    ref_vals = datasets[r.ref_dataset].select(F.col(r.ref_col).alias(r.local_col)).distinct()
    if r.negate:
        out = df.join(ref_vals, on=r.local_col, how="left_semi")
        if r.allow_na:
            # rescued-to-TRUE NULLs flip to FAIL under negation
            out = out.unionByName(df.filter(F.col(r.local_col).isNull()))
    else:
        out = df.join(ref_vals, on=r.local_col, how="left_anti")
        # left_anti keeps NULL locals (no match) -> violators, matching
        # %in% semantics; allow_na rescues them
        if r.allow_na:
            out = out.filter(F.col(r.local_col).isNotNull())
    return out
