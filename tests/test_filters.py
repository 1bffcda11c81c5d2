"""filter_fails goldens — mirrors tests/testthat/test-filters.R."""

import pytest

import dataverifyr_spark as dv
from dataverifyr_spark import check_data, filter_fails, rule, ruleset
from dataverifyr_spark.fixtures import cars


@pytest.fixture(scope="module")
def data(spark):
    # mpg[4]=NULL, cyl[5]=NULL (test-filters.R:3-5)
    return cars(spark, "filters").cache()


@pytest.fixture(scope="module")
def rules():
    return ruleset(
        rule("mpg > 10 & mpg < 30", allow_na=True),
        rule("cyl != 6", negate=True),
        rule("vs %in% c(0, 1)"),
    )


def _sorted_rows(df, cols=("mpg", "cyl", "disp")):
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


class TestFilterFails:
    def test_per_rule_counts_match_fail_counts(self, spark, data, rules):
        res = check_data(data, rules)
        fails = filter_fails(res, data, per_rule=True)
        fail_counts = {
            r["expr"]: r["fail"] for r in res.collect() if r["fail"] != 0
        }
        assert set(fails) == set(fail_counts)
        for expr, df in fails.items():
            assert df.count() == fail_counts[expr]

    def test_golden_row_sets(self, spark, data, rules):
        fails = filter_fails(rules, data, per_rule=True)
        # rule 1 (allow_na): fail rows are mpg >= 30, NULL mpg rescued
        # (test-filters.R:24: data[!((mpg > 10 & mpg < 30) | is.na(mpg)), ])
        r1 = fails["mpg > 10 & mpg < 30"]
        assert sorted(r["mpg"] for r in r1.collect()) == [30.4, 30.4, 32.4, 33.9]
        # rule 2 (negated, no allow_na): anti-guard makes NULL cyl a failure
        # (test-filters.R:26: data[!(cyl == 6 & !is.na(cyl)), ])
        r2 = fails["cyl != 6"]
        got = [r["cyl"] for r in r2.collect()]
        assert got.count(None) == 1
        assert len(got) == 25  # 32 - 7 six-cyl non-null rows
        # rule 3: no fails -> absent from per_rule dict (R/filters.R:86-88)
        assert "vs %in% c(0, 1)" not in fails

    def test_ruleset_arg_equivalent_to_result_arg(self, spark, data, rules):
        res = check_data(data, rules)
        a = filter_fails(res, data, per_rule=True)
        b = filter_fails(rules, data, per_rule=True)
        assert set(a) == set(b)
        for k in a:
            assert _sorted_rows(a[k]) == _sorted_rows(b[k])

    def test_combined_multiset(self, spark, data, rules):
        # rbind semantics: duplicates retained when a row fails several rules
        # (R/filters.R:89)
        combined = filter_fails(rules, data)
        per = filter_fails(rules, data, per_rule=True)
        assert combined.count() == sum(df.count() for df in per.values())
        assert combined.columns == data.columns

    def test_tagged_mode(self, spark, data, rules):
        tagged = filter_fails(rules, data, tag=True)
        assert "failed_rule" in tagged.columns
        by_rule = {
            r["failed_rule"]: r["cnt"]
            for r in tagged.groupBy("failed_rule").count().withColumnRenamed("count", "cnt").collect()
        }
        assert by_rule["mpg > 10 & mpg < 30"] == 4
        assert by_rule["cyl != 6"] == 25

    def test_zero_fails_empty_frame(self, spark):
        # test-filters.R:41-59
        data = cars(spark, "filters")
        ok_rules = ruleset(
            rule("mpg > 10 & mpg < 35", allow_na=True),
            rule("vs %in% c(0, 1)"),
        )
        rr = filter_fails(ok_rules, data)
        assert rr.count() == 0
        assert rr.columns == data.columns
        rr2 = filter_fails(check_data(data, ok_rules), data)
        assert rr2.count() == 0
        assert rr2.columns == data.columns


@pytest.fixture(scope="module")
def corner_data(spark):
    # NULLs in every rule column, a string that coerces to NULL ("abc"), a
    # row that fails several rules, and a row no rule fails
    return spark.createDataFrame(
        [
            (1, 5, 2.0, "7"),
            (2, None, 1.0, "abc"),
            (3, 0, None, "0"),
            (4, 3, 9.0, None),
            (5, -1, 5.0, "abc"),
            (6, 2, 3.0, "2"),
        ],
        "id int, a int, b double, s string",
    ).cache()


@pytest.fixture(scope="module")
def corner_rules():
    return ruleset(
        rule("a > 1"),
        rule("b < 4", allow_na=True),
        rule("a > 0 & b < 4"),
        rule("a == 3", negate=True),
        rule("as.numeric(s) > 1"),
    )


class TestFilterFirstPlan:
    """Combined mode filters on the OR of the fail predicates, then tags
    only the surviving rows."""

    def test_tagged_multiset_equals_per_rule_union(self, spark, corner_data, corner_rules):
        from collections import Counter

        tagged = filter_fails(corner_rules, corner_data, tag=True)
        got = Counter((r["id"], r["failed_rule"]) for r in tagged.collect())
        per = filter_fails(corner_rules, corner_data, per_rule=True)
        want = Counter(
            (r["id"], expr) for expr, df in per.items() for r in df.collect()
        )
        assert got == want
        # the fixture exercises duplicates and a row that fails nothing
        assert max(Counter(i for i, _ in got.elements()).values()) > 1
        assert 6 not in {i for i, _ in got}
        untagged = filter_fails(corner_rules, corner_data)
        assert untagged.columns == corner_data.columns
        assert Counter(r["id"] for r in untagged.collect()) == Counter(
            i for i, _ in got.elements()
        )

    def test_filter_condition_has_no_higher_order_function(self, spark, corner_data, corner_rules):
        plan = (
            filter_fails(corner_rules, corner_data, tag=True)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        filters = [ln for ln in plan.splitlines() if ln.lstrip("+-: ").startswith("Filter ")]
        assert filters, plan
        for ln in filters:
            assert "lambda" not in ln and "filter(" not in ln, ln

    def test_user_fails_column_kept(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0, "keep-1"), (2, 1.0, "keep-2"), (3, 20.0, "keep-3")],
            "id int, v double, __fails string",
        )
        rs = ruleset(rule("v < 5"))
        for tag in (True, False):
            out = filter_fails(rs, df, tag=tag)
            assert "__fails" in out.columns
            assert sorted((r["id"], r["__fails"]) for r in out.collect()) == [
                (1, "keep-1"),
                (3, "keep-3"),
            ]


class TestViolationExamples:
    def test_k_examples_per_rule_deterministic(self, spark):
        import dataverifyr_spark as dv

        df = spark.createDataFrame(
            [(i, float(i % 7), "A" if i % 3 else "X") for i in range(200)],
            ["id", "v", "flag"],
        )
        rs = dv.ruleset(
            dv.rule("v < 5", name="v_small"),
            dv.rule("flag == 'A'", name="flag_a"),
        )
        ex = dv.violation_examples(rs, df, k=4, order_by="id").collect()
        by_rule = {}
        for r in ex:
            by_rule.setdefault(r["failed_rule"], []).append(r)
        assert set(by_rule) == {"v < 5", "flag == 'A'"}
        for rows in by_rule.values():
            assert len(rows) == 4
            assert [r["example_rank"] for r in sorted(rows, key=lambda r: r["id"])] == [1, 2, 3, 4]
        # deterministic first examples: smallest failing ids
        v_ids = sorted(r["id"] for r in by_rule["v < 5"])
        want = [i for i in range(200) if i % 7 >= 5][:4]
        assert v_ids == want

    def test_fewer_than_k_returns_all(self, spark):
        import dataverifyr_spark as dv

        df = spark.createDataFrame([(1, 10.0), (2, 1.0)], ["id", "v"])
        ex = dv.violation_examples(dv.rule("v < 5", name="r"), df, k=5, order_by="id").collect()
        assert len(ex) == 1 and ex[0]["id"] == 1 and ex[0]["example_rank"] == 1

    def test_k_validation_and_alias_collision(self, spark):
        import pytest as _pytest

        import dataverifyr_spark as dv

        df = spark.createDataFrame([(1, 10.0, "z")], ["id", "v", "__rn"])
        with _pytest.raises(ValueError, match="k must be"):
            dv.violation_examples(dv.rule("v < 5"), df, k=0)
        ex = dv.violation_examples(dv.rule("v < 5", name="r"), df, k=2, order_by="id").collect()
        assert len(ex) == 1 and ex[0]["example_rank"] == 1 and ex[0]["__rn"] == "z"

    def test_window_group_limit_in_plan(self, spark, tmp_path):
        """The per-rule cap must pre-limit on the map side: WindowGroupLimit
        appears in the physical plan, bounding the exchange at
        O(k x rules x partitions) instead of the violation count."""
        import contextlib
        import io

        import dataverifyr_spark as dv

        p = str(tmp_path / "d")
        spark.createDataFrame(
            [(i, float(i % 7)) for i in range(1000)], ["id", "v"]
        ).write.parquet(p)
        df = spark.read.parquet(p)
        ex = dv.violation_examples(dv.rule("v < 5", name="r"), df, k=3, order_by="id")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            ex.explain(True)
        assert "WindowGroupLimit" in buf.getvalue()

    def test_violation_examples_rejects_column_collision(self, spark):
        df = spark.createDataFrame([(0, 1)], "v int, example_rank int")
        with pytest.raises(ValueError, match="example_rank"):
            dv.violation_examples(dv.ruleset(dv.rule("v > 0")), df)
