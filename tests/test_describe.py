"""describe profiling — semantics per R/describe.R (see module docstring for
pinned divergences: min/mean/median/max/sd are doubles; timestamps profile as
epoch seconds)."""

import datetime as dt
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

import dataverifyr_spark as dv
from dataverifyr_spark import describe
from dataverifyr_spark.describe import DESCRIBE_SCHEMA


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        (1.0, "a", 10, dt.datetime(2025, 1, 1)),
        (2.0, "bb", 10, dt.datetime(2025, 1, 2)),
        (3.0, "ccc", 20, None),
        (None, None, 20, dt.datetime(2025, 1, 4)),
        (5.0, "a", 20, dt.datetime(2025, 1, 5)),
    ]
    return spark.createDataFrame(rows, "x double, s string, g int, t timestamp").cache()


def _by_var(res):
    return {r["var"]: r.asDict() for r in res.collect()}


class TestDescribe:
    def test_schema(self, spark, df):
        res = describe(df)
        assert res.columns == [
            "var",
            "type",
            "n",
            "n_distinct",
            "n_na",
            "most_frequent",
            "min",
            "mean",
            "median",
            "max",
            "sd",
        ]

    def test_numeric_stats(self, spark, df):
        r = _by_var(describe(df))["x"]
        assert r["type"] == "numeric"
        assert r["n"] == 5
        assert r["n_na"] == 1
        # n_distinct counts NA as a distinct value (R/describe.R:112)
        assert r["n_distinct"] == 5
        assert r["min"] == 1.0 and r["max"] == 5.0
        assert r["mean"] == pytest.approx(2.75)
        assert r["median"] == pytest.approx(2.5)
        assert r["sd"] == pytest.approx(1.7078251, rel=1e-6)

    def test_string_stats_over_lengths(self, spark, df):
        # non-numeric: min/mean/max over nchar (R/describe.R:106)
        r = _by_var(describe(df))["s"]
        assert r["type"] == "character"
        assert r["min"] == 1.0 and r["max"] == 3.0
        assert r["mean"] == pytest.approx(7 / 4)

    def test_most_frequent_formatting(self, spark, df):
        res = _by_var(describe(df, top_n=2))
        # g: 20 appears 3x, 10 appears 2x
        assert res["g"]["most_frequent"] == "20 (3), 10 (2)"
        # s: only 'a' repeats; skip_ones drops singletons
        assert res["s"]["most_frequent"] == "a (2)"

    def test_skip_ones_false(self, spark, df):
        res = _by_var(describe(df, skip_ones=False, top_n=2))
        assert res["g"]["most_frequent"] == "20 (3), 10 (2)"

    def test_single_distinct_suppressed(self, spark):
        df1 = _one_col(spark)
        r = _by_var(describe(df1))["v"]
        assert r["most_frequent"] == ""  # suppressed => "" (R/describe.R:76)

    def test_top_n_zero(self, spark, df):
        res = _by_var(describe(df, top_n=0))
        assert all(r["most_frequent"] == "" for r in res.values())

    def test_fast_mode(self, spark, df):
        # fast: n_distinct/median/most_frequent are NULL (R/describe.R:604-607)
        res = _by_var(describe(df, fast=True))
        for r in res.values():
            assert r["n_distinct"] is None
            assert r["median"] is None
            assert r["most_frequent"] is None
        assert res["x"]["mean"] == pytest.approx(2.75)

    def test_approx_mode_fills_everything(self, spark, df):
        res = _by_var(describe(df, approx=True))
        assert res["x"]["n_distinct"] is not None
        assert res["x"]["median"] is not None

    def test_timestamp_as_numeric(self, spark, df):
        r = _by_var(describe(df))["t"]
        assert r["type"] == "datetime"
        assert r["n_na"] == 1
        assert r["min"] is not None and r["max"] > r["min"]


def _one_col(spark):
    return spark.createDataFrame([(1,), (1,), (1,)], "v int")


class TestTopKFormatter:
    """describe and describe_by(top_n>0) share one in-plan formatter; these
    pin its rendering on both surfaces."""

    @pytest.mark.parametrize("surface", ["describe", "describe_by"])
    @pytest.mark.parametrize(
        "ddl,values,expected",
        [
            # NULL stays NA, never FALSE
            ("v boolean", [True, True, False, False, False, None, None], "FALSE (3), TRUE (2), NA (2)"),
            ("v string", ["a", "a", None, None, None], "NA (3), a (2)"),
            ("v double", [float("nan")] * 3 + [1.0, 1.0], "NaN (3), 1 (2)"),
            ("v double", [123.4567, 123.4567, 1.5], "123.4567 (2)"),
            ("v decimal(5,2)", [Decimal("5.00")] * 2 + [Decimal("1.25")], "5 (2)"),
        ],
        ids=["boolean", "null", "nan", "digits", "decimal"],
    )
    def test_rendering(self, spark, surface, ddl, values, expected):
        from dataverifyr_spark import describe_by

        df = spark.createDataFrame([(v,) for v in values], ddl)
        if surface == "describe":
            out = describe(df, top_n=3, digits=4).collect()
        else:
            keyed = df.withColumn("k", F.lit(1))
            out = describe_by(keyed, by="k", top_n=3, digits=4).collect()
        assert [r["most_frequent"] for r in out] == [expected]


class TestJobBudget:
    """describe runs one collected plan: its job count must not grow with
    the number of columns (a per-column top-k would add a job per column)."""

    @staticmethod
    def _jobs(spark, fn) -> int:
        sc = spark.sparkContext
        group = f"describe-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "describe job budget")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    @pytest.mark.parametrize("approx", [False, True])
    def test_jobs_constant_in_column_count(self, spark, approx):
        def frame(k):
            return spark.range(0, 300).select(
                *[
                    (F.col("id") % (i + 3)).cast("double" if i % 2 else "string").alias(f"c{i}")
                    for i in range(k)
                ]
            )

        two = self._jobs(spark, lambda: describe(frame(2), top_n=3, approx=approx))
        eight = self._jobs(spark, lambda: describe(frame(8), top_n=3, approx=approx))
        assert two > 0
        assert two == eight


def test_fast_approx_builds_no_sketch_aggregate(spark, df):
    """fast leaves every sketch statistic NULL, so fast+approx must plan the
    declarative aggregate alone — no empty sketch aggregate, no join."""
    import contextlib
    import io

    from dataverifyr_spark import describe_by

    got = [r.asDict() for r in describe(df, fast=True, approx=True).collect()]
    assert got == [r.asDict() for r in describe(df, fast=True).collect()]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        describe_by(df, by="g", fast=True, approx=True).explain(True)
    phys = buf.getvalue().split("== Physical Plan ==")[-1]
    assert "Join" not in phys and "sketch" not in phys, phys


class TestReferenceDescribeGoldens:
    """Pinned from the reference's own assertions (test-describe.R:130-143,
    :221-243): NA appears as a most_frequent VALUE with its count; one-distinct
    and all-NA columns suppress to ""; digits round the displayed values."""

    def test_na_as_value_and_suppression(self, spark):
        df = spark.createDataFrame(
            [
                (3.1415926535, None, 1.23456789),
                (3.1415926535, None, 1.23456789),
                (3.1415926535, None, 9.87654321),
                (3.1415926535, None, None),
                (3.1415926535, None, 9.87654321),
            ],
            "one_value double, all_na double, mixed double",
        )
        d = {r["var"]: r["most_frequent"] for r in describe(df, skip_ones=False).collect()}
        assert d["one_value"] == ""
        assert d["all_na"] == ""
        assert d["mixed"] == "1.2346 (2), 9.8765 (2), NA (1)"
        d2 = {r["var"]: r["most_frequent"] for r in describe(df).collect()}
        assert d2["mixed"] == "1.2346 (2), 9.8765 (2)"  # skip_ones drops NA (1)

    def test_digits_two(self, spark):
        df = spark.createDataFrame(
            [(1.234567, "a"), (1.234567, "a"), (9.876543, "b"), (9.876543, "c"), (None, None)],
            "num double, chr string",
        )
        d = {
            r["var"]: r["most_frequent"]
            for r in describe(df, skip_ones=False, digits=2).collect()
        }
        assert sorted(d["num"].split(", ")) == ["1.23 (2)", "9.88 (2)", "NA (1)"]
        assert d["chr"].startswith("a (2)")
        d2 = {
            r["var"]: r["most_frequent"]
            for r in describe(df, skip_ones=True, digits=2).collect()
        }
        assert sorted(d2["num"].split(", ")) == ["1.23 (2)", "9.88 (2)"]
        assert d2["chr"] == "a (2)"


class TestDescribeBy:
    def test_matches_per_group_describe(self, spark, df):
        """describe_by(g) row-for-row equals describe() run on each g-slice
        (minus most_frequent) — the same contract check_data_by has vs
        check_data."""
        from dataverifyr_spark import describe_by

        got = {
            (r["g"], r["var"]): r.asDict()
            for r in describe_by(df, by="g").collect()
        }
        stat_cols = ["type", "n", "n_distinct", "n_na", "min", "mean", "median", "max", "sd"]
        for g in (10, 20):
            ref = _by_var(describe(df.filter(f"g = {g}").drop("g"), top_n=0))
            for var, exp in ref.items():
                row = got[(g, var)]
                for c in stat_cols:
                    a, b = row[c], exp[c]
                    if isinstance(a, float) and isinstance(b, float):
                        assert a == pytest.approx(b), (g, var, c)
                    else:
                        assert a == b, (g, var, c)
        assert len(got) == 2 * 3  # 2 groups x 3 non-key columns

    def test_single_job_no_driver_loop(self, spark, job_ids, no_runtime_broadcast):
        """The plan is grouped aggregates + explode; adding groups adds no
        jobs (the per-group describe() loop would run K jobs)."""
        from dataverifyr_spark import describe_by

        def frame(groups):
            return spark.range(0, 240).select(
                (F.col("id") % groups).alias("g"),
                (F.col("id") % 7).cast("double").alias("x"),
                (F.col("id") % 5).cast("string").alias("s"),
            )

        for top_n in (0, 3):
            two, twelve = (
                len(job_ids(lambda: describe_by(frame(k), by="g", top_n=top_n).collect()))
                for k in (2, 12)
            )
            assert two > 0 and two == twelve, (top_n, two, twelve)

    def test_approx_plans_no_expand(self, spark, df):
        """describe_by(approx=True) is the at-scale per-partition profile:
        HLL + percentile_approx must fuse into one grouped aggregate with NO
        Expand node (exact mode replicates rows once per distinct agg)."""
        import contextlib
        import io

        from dataverifyr_spark import describe_by

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            describe_by(df, by="g", approx=True).explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        assert "Expand" not in phys, phys

    def test_most_frequent_per_slice_parity(self, spark):
        """r5 (VERDICT ask #1): describe_by(top_n>0) adds a most_frequent
        column equal to describe()'s per slice — keyed top-k assembled
        entirely in Catalyst (no collect, no per-group jobs)."""
        from dataverifyr_spark import describe_by

        rows = [
            ("g1", 1, "a", True), ("g1", 1, "a", True), ("g1", 2, "b", False),
            ("g1", 3, "a", None),
            ("g2", 7, "z", True), ("g2", 7, "z", True), ("g2", 7, "y", False),
            ("g2", 8, None, False),
            ("g3", 5, "only", True),  # 1-distinct slice -> suppressed ""
        ]
        d = spark.createDataFrame(rows, "g string, num int, chr string, flag boolean")
        out = describe_by(d, by="g", top_n=3)
        assert out.columns[:6] == ["g", "var", "type", "n", "n_distinct", "n_na"]
        assert out.columns[6] == "most_frequent"
        got = {(r["g"], r["var"]): r["most_frequent"] for r in out.collect()}
        for g in ("g1", "g2", "g3"):
            ref = {
                r["var"]: r["most_frequent"]
                for r in describe(d.filter(f"g='{g}'").drop("g"), top_n=3).collect()
            }
            for var, exp in ref.items():
                assert got[(g, var)] == exp, (g, var, got[(g, var)], exp)
        # default keeps the original schema (no most_frequent column)
        assert "most_frequent" not in describe_by(d, by="g").columns

    def test_most_frequent_null_group_key(self, spark):
        """NULL group keys keep their top-k (null-safe join)."""
        from dataverifyr_spark import describe_by

        d = spark.createDataFrame(
            [(None, "a"), (None, "a"), (None, "b"), ("g", "c"), ("g", "c")],
            "k string, v string",
        )
        got = {r["k"]: r["most_frequent"] for r in describe_by(d, by="k", top_n=2).collect()}
        assert got[None] == "a (2)"
        assert got["g"] == ""  # 1-distinct slice suppressed

    def test_fast_and_missing_by_col(self, spark, df):
        from dataverifyr_spark import describe_by

        res = describe_by(df, by="g", fast=True).collect()
        assert all(r["n_distinct"] is None and r["median"] is None for r in res)
        assert {r["n"] for r in res} == {2, 3}
        with pytest.raises(ValueError, match="not in DataFrame"):
            describe_by(df, by="nope")

    @pytest.mark.parametrize("key", DESCRIBE_SCHEMA.names)
    def test_group_key_colliding_with_output_raises(self, spark, key):
        """A group key named like one of describe's own columns would give
        the result two columns of that name."""
        from dataverifyr_spark import describe_by

        d = spark.createDataFrame([(1, 2.0)], f"`{key}` int, v double")
        with pytest.raises(ValueError, match=rf"group key\(s\) \['{key}'\] collide"):
            describe_by(d, by=key)


def _stats_frame(spark):
    rows = [
        ("p", 1.0, "a"),
        ("p", 1.0, "a"),
        ("p", float("nan"), None),
        ("p", float("nan"), "bb"),
        ("p", None, "bb"),
        ("p", 4.0, "a"),
        ("q", None, None),
        ("q", None, None),
        ("q", 2.0, "cc"),
        (None, 3.0, "z"),
        (None, 3.0, "z"),
    ]
    return spark.createDataFrame(rows, "g string, x double, s string")


class TestExactValueCounts:
    """Exact n_distinct, median and most_frequent come from one value-count
    frame: NA counts as a value, NaN sorts above every number, the median is
    over the raw rows, and the plan replicates no row (no Expand)."""

    def test_describe_hand_computed(self, spark):
        got = _by_var(describe(_stats_frame(spark)))
        # x: 1,1,2,3,3,4,NaN,NaN (+3 NA) -> {1,2,3,4,NaN,NA}; median of 8 = 3
        assert (got["x"]["n_distinct"], got["x"]["median"]) == (6, 3.0)
        # s lengths: 1,1,1,1,1,2,2,2 (+3 NA) -> {a,bb,cc,z,NA}; median 1
        assert (got["s"]["n_distinct"], got["s"]["median"]) == (5, 1.0)
        # g: {p,q,NA}; a string column's median is over its lengths
        assert (got["g"]["n_distinct"], got["g"]["median"]) == (3, 1.0)

    def test_describe_by_hand_computed(self, spark):
        from dataverifyr_spark import describe_by

        got = {
            (r["g"], r["var"]): (r["n_distinct"], r["median"])
            for r in describe_by(_stats_frame(spark), by="g").collect()
        }
        assert got == {
            ("p", "x"): (4, 4.0),  # 1,1,4,NaN,NaN + NA
            ("p", "s"): (3, 1.0),  # lengths 1,1,1,2,2 + NA
            ("q", "x"): (2, 2.0),
            ("q", "s"): (2, 2.0),
            (None, "x"): (1, 3.0),
            (None, "s"): (1, 1.0),
        }

    def test_signed_zero_is_one_value(self, spark):
        from dataverifyr_spark import describe_by

        vals = [0.0, -0.0, -0.0, 1.0, None]
        df = spark.createDataFrame([(v, v) for v in vals], "d double, f float")
        for r in describe(df).collect():
            # three zeros; 0, 1 and NA are the distinct values
            assert (r["most_frequent"], r["n_distinct"]) == ("0 (3)", 3), r
        keyed = spark.createDataFrame(
            [("a", v) for v in vals] + [("b", -0.0), ("b", 0.0)], "k string, d double"
        )
        got = {
            r["k"]: (r["most_frequent"], r["n_distinct"])
            for r in describe_by(keyed, by="k", top_n=3).collect()
        }
        assert got == {"a": ("0 (3)", 3), "b": ("", 1)}

    def test_complex_values_that_render_alike_stay_apart(self, spark):
        df = spark.createDataFrame(
            [(["a, b"],), (["a", "b"],), (["a", "b"],)], "arr array<string>"
        )
        r = describe(df).collect()[0]
        assert (r["n_distinct"], r["most_frequent"]) == (2, '["a","b"] (2)')

    def test_group_keys_named_like_frame_columns(self, spark):
        from dataverifyr_spark import describe_by

        d = spark.createDataFrame(
            [(1, 2, 3.0), (1, 2, 3.0), (1, 5, 4.0), (1, 5, 6.0)], "v int, c int, val double"
        )
        got = {
            (r["v"], r["c"]): (r["n_distinct"], r["median"], r["most_frequent"])
            for r in describe_by(d, by=["v", "c"], top_n=2).collect()
        }
        assert got == {(1, 2): (1, 3.0, ""), (1, 5): (2, 5.0, "")}

    def test_exact_plans_no_expand(self, spark, collected_plans):
        from dataverifyr_spark import describe_by

        df = _stats_frame(spark)
        describe(df)
        describe_by(df, by="g", top_n=3).collect()
        describe_by(df, by="g").collect()
        assert len(collected_plans) == 3
        for plan in collected_plans:
            assert "Expand" not in plan, plan


class TestApproxPlanShape:
    def test_approx_profile_plans_no_expand(self, spark, collected_plans):
        """approx=True is the at-scale path: the plan describe runs has no
        Expand node (exact distinct aggregates replicate every scanned row
        once per aggregate), and the HLL + KLL sketches of every column sit
        in ONE ObjectHashAggregate (partial + final), apart from the
        codegen'd declarative aggregate."""
        from pyspark.sql import functions as F

        from dataverifyr_spark.describe import describe

        df = spark.range(0, 1000).select(
            (F.col("id") % 7).alias("a"),
            (F.col("id") % 13).cast("double").alias("b"),
            (F.col("id") % 3).cast("string").alias("c"),
        )
        assert describe(df, approx=True).count() == 3
        (plan,) = collected_plans
        assert "Expand" not in plan, plan
        sketch = [ln for ln in plan.split("\n") if "kll_sketch_agg_double" in ln]
        assert len(sketch) == 2, plan  # partial + final
        for ln in sketch:
            assert "ObjectHashAggregate" in ln and ln.count("kll_sketch_agg_double") == 3, ln
            assert ln.count("hll_sketch_agg") == 2 and ln.count("approx_count_distinct") == 1, ln
            assert "avg(" not in ln and "stddev_samp(" not in ln, ln


class TestMostFrequentByPlanShape:
    def test_approx_with_topk_still_no_expand(self, spark):
        """describe_by(approx=True, top_n>0) adds the keyed top-k join but
        must stay Expand-free (the at-scale plan: sketch agg + window
        group-limit + broadcast join, no row replication)."""
        import contextlib
        import io

        from dataverifyr_spark import describe_by

        d = spark.createDataFrame(
            [("g", 1, "a"), ("g", 2, "b"), ("h", 3, "c")], "g string, n int, s string"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            describe_by(d, by="g", approx=True, top_n=3).explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        assert "Expand" not in phys, phys
        # the top-n is pre-limited before the shuffle (WindowGroupLimit)
        assert "WindowGroupLimit" in phys


class TestDescribeByFile:
    def test_per_file_profile_matches_per_key(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dataverifyr_spark import describe_by_file

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(40)], "id int, k int, v double"
        )
        df.repartition(2, "k").write.partitionBy("k").parquet(root)
        back = spark.read.parquet(root)
        got = describe_by_file(back)
        # file col first, then the describe_by schema
        assert got.columns[0] == "file"
        rows = got.withColumn(
            "k", F.regexp_extract("file", r"k=(\d+)", 1).cast("int")
        ).collect()
        mine = {(r["k"], r["var"]): (r["n"], r["n_na"], r["mean"]) for r in rows}
        # 2 files x 3 profiled vars (id, v, and the partition column k read
        # back from the directory name)
        assert len(mine) == 6
        import statistics

        for (k, var), (n, n_na, mean) in mine.items():
            assert n == 20 and n_na == 0
            want = (
                float(k)
                if var == "k"
                else statistics.mean(float(i) for i in range(40) if i % 2 == k)
            )
            assert abs(mean - want) < 1e-9, (k, var)

    def test_non_file_source_raises(self, spark):
        import pytest as _pytest

        from dataverifyr_spark import describe_by_file

        df = spark.createDataFrame([(1,)], "id int")
        with _pytest.raises(ValueError, match="file-backed"):
            describe_by_file(df)


class TestDescribeSplitParity:
    def test_approx_declarative_stats_equal_exact(self, spark):
        """The split must keep every declarative statistic bit-equal to the
        exact path, and n_distinct's NA-as-distinct uplift must survive the
        derived (na>0) anynull."""
        df = spark.createDataFrame(
            [(1.0, "a"), (2.0, "b"), (None, "b"), (4.0, None)], "x double, s string"
        )
        exact = {r["var"]: r for r in dv.describe(df, top_n=0).collect()}
        approx = {r["var"]: r for r in dv.describe(df, top_n=0, approx=True).collect()}
        for var in ("x", "s"):
            for fld in ("n", "n_na", "min", "mean", "max", "sd"):
                assert approx[var][fld] == exact[var][fld], (var, fld)
        # x: 3 distinct non-null + 1 NULL => 4 (NA counts as distinct)
        assert approx["x"]["n_distinct"] == exact["x"]["n_distinct"] == 4
        assert approx["s"]["n_distinct"] == exact["s"]["n_distinct"] == 3

    def test_describe_by_split_group_parity(self, spark):
        df = spark.createDataFrame(
            [("g1", 1.0), ("g1", 3.0), ("g2", None), (None, 5.0)], "g string, x double"
        )
        rows = dv.describe_by(df, by="g", approx=True).collect()
        got = {r["g"]: r for r in rows}
        # NULL group keys must survive the null-safe split join
        assert set(got) == {"g1", "g2", None}
        assert got["g1"]["n"] == 2 and got["g1"]["mean"] == 2.0
        assert got["g2"]["n_na"] == 1 and got["g2"]["n_distinct"] == 1  # NA only
        assert got[None]["min"] == 5.0


class TestKllMedianGuards:
    def test_describe_by_group_with_all_null_column(self, spark):
        """r6: a GROUP whose column is entirely NULL must profile to a NULL
        median (empty per-group KLL buffer raises without the count guard)."""
        import dataverifyr_spark as dv

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", None), ("b", None)], "g string, x double"
        )
        out = {r["g"]: r for r in dv.describe_by(df, by="g", approx=True).filter("var = 'x'").collect()}
        assert out["b"]["median"] is None and out["b"]["n_na"] == 2
        assert out["a"]["median"] is not None

    def test_describe_all_null_column(self, spark):
        import dataverifyr_spark as dv

        df = spark.createDataFrame([(None,), (None,)], "x double")
        row = dv.describe(df, top_n=0, approx=True).collect()[0]
        assert row["median"] is None and row["n_na"] == 2


class TestKllNanGuards:
    """r6 review finding (CONFIRMED crash): the KLL sketch silently ignores
    NaN updates, so an all-NaN column/group passed count()>0 but left an
    empty buffer that kll_sketch_get_quantile raised on."""

    def test_describe_all_nan_column(self, spark):
        import dataverifyr_spark as dv

        df = spark.createDataFrame(
            [(float("nan"),), (float("nan"),), (None,)], "x double"
        )
        row = dv.describe(df, top_n=0, approx=True).collect()[0]
        assert row["median"] is None  # no crash, NULL median

    def test_describe_by_all_nan_group(self, spark):
        import dataverifyr_spark as dv

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", float("nan")), ("b", float("nan"))],
            "g string, x double",
        )
        out = {r["g"]: r for r in dv.describe_by(df, by="g", approx=True).filter("var = 'x'").collect()}
        assert out["b"]["median"] is None
        assert out["a"]["median"] is not None


class TestPy4jBudget:
    """Building a profile plan sends one SQL statement to the JVM: the py4j
    commands it costs do not grow with the column count (a Column-API
    builder sends thousands, one origin capture per expression)."""

    @pytest.mark.parametrize(
        "mode", [{}, {"approx": True}, {"approx": True, "top_n": 3}],
        ids=["exact", "approx", "approx_topk"],
    )
    def test_plan_build_commands_constant_in_column_count(self, spark, py4j_commands, mode):
        from dataverifyr_spark import describe_by

        def frame(k):
            return spark.range(0, 30).select(
                (F.col("id") % 3).alias("g"),
                *[
                    (F.col("id") % (i + 2)).cast("double" if i % 2 else "string").alias(f"c{i}")
                    for i in range(k)
                ],
            )

        two, eight = frame(2), frame(8)
        sent = [py4j_commands(lambda d=d: describe_by(d, by="g", **mode)) for d in (two, eight)]
        assert sent[0] == sent[1] <= 10, sent


class TestQuotedNames:
    """Names reach the SQL text as backtick-quoted identifiers and as
    hex-encoded literals, so no character in a column or group-key name can
    change the statement; the temp view it reads is dropped, also when
    analysis fails."""

    KEY = "k`e'y\\ {g}.é"
    COL = "v`a'l\\ {x}.ü"

    def test_names_round_trip(self, spark):
        from pyspark.errors import AnalysisException

        from dataverifyr_spark import describe_by

        df = spark.createDataFrame(
            [("a", 1.0, "p"), ("a", 1.0, "q"), ("b", 2.0, None)], "k string, v double, s string"
        ).toDF(self.KEY, self.COL, "s")
        before = spark.catalog.listTables()
        for approx in (False, True):
            got = _by_var(describe(df, approx=approx))
            assert list(got) == [self.KEY, self.COL, "s"]
            col = got[self.COL]
            assert (col["n"], col["n_distinct"], col["min"], col["max"]) == (3, 2, 1.0, 2.0)
            assert col["most_frequent"] == "1 (2)"
            out = describe_by(df, by=self.KEY, approx=approx, top_n=2)
            assert out.columns[:2] == [self.KEY, "var"]
            rows = {(r[0], r["var"]): r for r in out.collect()}
            assert set(rows) == {("a", self.COL), ("a", "s"), ("b", self.COL), ("b", "s")}
            assert (rows[("a", self.COL)]["n"], rows[("a", self.COL)]["mean"]) == (2, 1.0)
            assert rows[("b", "s")]["n_na"] == 1
        keyed_by_map = spark.createDataFrame([({"a": 1}, 1)], "m map<string,int>, v int")
        with pytest.raises(AnalysisException):  # a map is no grouping key
            describe_by(keyed_by_map, by="m")
        assert spark.catalog.listTables() == before

    def test_group_keys_named_like_top_k_columns(self, spark):
        from dataverifyr_spark import describe_by

        d = spark.createDataFrame(
            [(1, 1, 2.0), (1, 1, 2.0), (1, 1, 3.0), (2, 1, 5.0)], "e int, rn int, x double"
        )
        got = {
            (r["e"], r["rn"]): r["most_frequent"]
            for r in describe_by(d, by=["e", "rn"], top_n=2).collect()
        }
        assert got == {(1, 1): "2 (2)", (2, 1): ""}
