"""Reference rules + schema (data_column) checks — mirrors
tests/testthat/test-features-v1.R:61-155."""

import pytest
from pyspark.sql import functions as F

import dataverifyr_spark as dv
from dataverifyr_spark import (
    CheckDataError,
    check_data,
    data_column,
    reference_rule,
    rule,
    ruleset,
)
from dataverifyr_spark.fixtures import carriers, flights


def _rows(res):
    return [r.asDict() for r in res.collect()]


class TestReferenceRule:
    def test_golden_allow_na(self, spark):
        # flights AA/BB/NULL vs carriers {AA}, allow_na=TRUE ⇒ 3/2/1
        # (test-features-v1.R:146-149)
        rs = ruleset(reference_rule("carrier", "carriers", "carrier_id", allow_na=True))
        res = check_data({"flights": flights(spark), "carriers": carriers(spark)}, rs)
        r = _rows(res)[0]
        assert r["check_type"] == "reference_rule"
        assert (r["tests"], r["pass"], r["fail"]) == (3, 2, 1)

    def test_without_allow_na(self, spark):
        rs = ruleset(reference_rule("carrier", "carriers", "carrier_id"))
        res = check_data({"flights": flights(spark), "carriers": carriers(spark)}, rs)
        r = _rows(res)[0]
        # NULL %in% set is FALSE in R (never NA) ⇒ only AA passes
        assert (r["tests"], r["pass"], r["fail"]) == (3, 1, 2)

    def test_negated_blacklist(self, spark):
        # R/data_column.R:136-148 blacklist pattern: negate inverts membership;
        # NULL: %in% gives FALSE, negated ⇒ TRUE ⇒ pass
        rs = ruleset(reference_rule("carrier", "carriers", "carrier_id", negate=True))
        res = check_data({"flights": flights(spark), "carriers": carriers(spark)}, rs)
        r = _rows(res)[0]
        assert (r["tests"], r["pass"], r["fail"]) == (3, 2, 1)

    def test_negate_allow_na_null_fails(self, spark):
        # reference order: allow_na rescue FIRST, negate LAST
        # (R/data_column.R:353-358) — NULL is rescued to ok=TRUE, then negated
        # to FAIL.  AA: in-set → fail; BB: not-in → pass; NULL: rescued → fail.
        rs = ruleset(
            reference_rule("carrier", "carriers", "carrier_id", negate=True, allow_na=True)
        )
        res = check_data({"flights": flights(spark), "carriers": carriers(spark)}, rs)
        r = _rows(res)[0]
        assert (r["tests"], r["pass"], r["fail"]) == (3, 1, 2)

    def test_missing_ref_dataset_is_error_row(self, spark):
        # test-features-v1.R:151-155
        rs = ruleset(reference_rule("carrier", "nope", "carrier_id"))
        res = check_data({"flights": flights(spark)}, rs)
        r = _rows(res)[0]
        assert r["error"] != "" and (r["pass"], r["fail"]) == (0, 3)

    def test_row_order_schema_then_rules_then_reference(self, spark):
        # R/check_data.R:127-144
        rs = ruleset(
            reference_rule("carrier", "carriers", "carrier_id"),
            rule("nchar(carrier) == 2", allow_na=True),
            data_columns=[data_column("carrier", "string")],
        )
        res = check_data({"flights": flights(spark), "carriers": carriers(spark)}, rs)
        assert [r["check_type"] for r in _rows(res)] == [
            "schema",
            "schema",
            "row_rule",
            "reference_rule",
        ]


class TestSchemaChecks:
    @pytest.fixture()
    def df(self, spark):
        return spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")

    def test_exists_and_type_rows(self, spark, df):
        rs = ruleset(
            rule("a > 0"),
            data_columns=[data_column("a", "int"), data_column("b", "int", optional=True)],
        )
        rows = _rows(check_data(df, rs, extra_columns="ignore"))
        schema_rows = [r for r in rows if r["check_type"] == "schema"]
        assert all(r["pass"] == 1 for r in schema_rows)
        exprs = [r["expr"] for r in schema_rows]
        assert "column_exists('a')" in exprs
        assert "column_type('a') == 'int'" in exprs

    def test_missing_required_column(self, spark, df):
        rs = ruleset(data_columns=[data_column("z", "int")])
        rows = _rows(check_data(df, rs))
        assert rows[0]["fail"] == 1 and "z" in rows[0]["error"]

    def test_optional_missing_passes(self, spark, df):
        rs = ruleset(data_columns=[data_column("z", "int", optional=True)])
        rows = _rows(check_data(df, rs))
        assert rows[0]["pass"] == 1

    def test_type_mismatch(self, spark):
        df = spark.createDataFrame([("x",)], "a string")
        rs = ruleset(data_columns=[data_column("a", "int")])
        rows = _rows(check_data(df, rs))
        type_row = [r for r in rows if "column_type" in r["expr"]][0]
        assert type_row["fail"] == 1

    def test_int_passes_numeric_declaration(self, spark):
        # R is.numeric: integers pass a numeric/double declaration
        df = spark.createDataFrame([(1,)], "a int")
        rows = _rows(check_data(df, ruleset(data_columns=[data_column("a", "numeric")])))
        assert all(r["pass"] == 1 for r in rows)

    def test_unknown_declared_type_always_passes(self, spark, df):
        # R/data_column.R:328
        rows = _rows(check_data(df, ruleset(data_columns=[data_column("a", "uuid")])))
        assert all(r["pass"] == 1 for r in rows)

    def test_extra_columns_fail_policy(self, spark, df):
        # reference stop()s on undeclared extras (R/data_column.R:223-225)
        rs = ruleset(data_columns=[data_column("a", "int")])
        with pytest.raises(ValueError, match="extra columns"):
            check_data(df, rs, extra_columns="fail")

    def test_extra_columns_warn_policy(self, spark, df):
        # reference warning()s (R/data_column.R:221-222) — must surface, not
        # vanish into a dropped list
        import warnings as _w

        rs = ruleset(data_columns=[data_column("a", "int")])
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            rows = _rows(check_data(df, rs, extra_columns="warn"))
        assert any("extra columns" in str(w.message) for w in caught)
        assert all(r["pass"] == 1 for r in rows)

    def test_unknown_symbol_hard_stop(self, spark, df):
        # R/data_column.R:228-236
        rs = ruleset(rule("zz > 1"), data_columns=[data_column("a", "int")])
        with pytest.raises(ValueError, match="undeclared"):
            check_data(df, rs)

    def test_unknown_symbol_skips_reference_rules(self, spark):
        # the reference filters reference_rules out of the symbol check
        # (R/data_column.R:228: expr_rules only) — a reference rule on a
        # column with no data_column declaration must not hard-stop
        rs = ruleset(
            rule("carrier != ''", allow_na=True),
            reference_rule("carrier", "carriers", "carrier_id"),
            data_columns=[data_column("carrier", "string")],
        )
        fl = flights(spark).withColumnRenamed("carrier", "carrier2")
        fl = fl.withColumn("carrier", fl["carrier2"])
        res = check_data({"flights": fl, "carriers": carriers(spark)}, rs)
        assert res.count() == 4  # 2 schema + 1 rule + 1 reference — no raise

    def test_stop_on_schema_fail(self, spark, df):
        rs = ruleset(data_columns=[data_column("z", "int")])
        with pytest.raises(CheckDataError, match="schema fails"):
            check_data(df, rs, stop_on_schema_fail=True)


class TestReferenceViolations:
    def test_plain_anti_join(self, spark):
        from dataverifyr_spark.check import reference_violations
        from dataverifyr_spark import reference_rule as rr

        fl, ca = flights(spark), carriers(spark)
        out = reference_violations(fl, rr("carrier", "carriers", "carrier_id"), {"carriers": ca})
        got = sorted((r["carrier"] or "~null") for r in out.collect())
        assert got == ["BB", "~null"]  # BB not in set; NULL %in% set is FALSE

    def test_allow_na_rescues_null(self, spark):
        from dataverifyr_spark.check import reference_violations
        from dataverifyr_spark import reference_rule as rr

        out = reference_violations(
            flights(spark),
            rr("carrier", "carriers", "carrier_id", allow_na=True),
            {"carriers": carriers(spark)},
        )
        assert [r["carrier"] for r in out.collect()] == ["BB"]

    def test_negated_blacklist_semi(self, spark):
        from dataverifyr_spark.check import reference_violations
        from dataverifyr_spark import reference_rule as rr

        out = reference_violations(
            flights(spark),
            rr("carrier", "carriers", "carrier_id", negate=True),
            {"carriers": carriers(spark)},
        )
        assert [r["carrier"] for r in out.collect()] == ["AA"]

    @pytest.mark.parametrize(
        "dataset,col,msg",
        [
            ("nope", "carrier_id", "reference dataset 'nope' not provided"),
            ("carriers", "nope", "reference column 'nope' not in dataset 'carriers'"),
        ],
    )
    def test_missing_dataset_or_column(self, spark, dataset, col, msg):
        """reference_violations checks its inputs as check_data does: the
        same message, raised instead of reported as an error row."""
        from dataverifyr_spark.check import reference_violations
        from dataverifyr_spark import reference_rule as rr

        r = rr("carrier", dataset, col)
        datasets = {"flights": flights(spark), "carriers": carriers(spark)}
        with pytest.raises(ValueError, match=msg):
            reference_violations(datasets["flights"], r, datasets)
        assert check_data(datasets, ruleset(r)).collect()[0]["error"] == msg

    def test_counts_match_check_data(self, spark):
        from dataverifyr_spark.check import reference_violations
        from dataverifyr_spark import reference_rule as rr

        for kw in (
            {},
            {"allow_na": True},
            {"negate": True},
            {"negate": True, "allow_na": True},
        ):
            r = rr("carrier", "carriers", "carrier_id", **kw)
            res = check_data(
                {"flights": flights(spark), "carriers": carriers(spark)}, ruleset(r)
            ).collect()[0]
            n = reference_violations(flights(spark), r, {"carriers": carriers(spark)}).count()
            assert n == res["fail"], kw


class TestConcurrentReferenceRules:
    def test_multiple_reference_rules_order_and_counts(self, spark):
        # three independent FK rules -> subtrees of one action, rows in
        # ruleset order with correct counts
        rs = ruleset(
            reference_rule("carrier", "carriers", "carrier_id", name="fk_a"),
            reference_rule("carrier", "carriers", "carrier_id", name="fk_b", allow_na=True),
            reference_rule("carrier", "carriers", "carrier_id", name="fk_c", negate=True),
        )
        res = _rows(check_data({"flights": flights(spark), "carriers": carriers(spark)}, rs))
        assert [r["name"] for r in res] == ["fk_a", "fk_b", "fk_c"]
        assert [(r["pass"], r["fail"]) for r in res] == [(1, 2), (2, 1), (2, 1)]


class TestSampleDataSchemaScenario:
    def test_timestamp_declared_str_fails_then_untyped_passes(self, spark):
        """Mirror of tests/testthat/test-sample_data.R:27-65: order_time is a
        timestamp; declaring it type='str' yields a schema type-fail row (and
        stop_on_schema_fail raises with the reference's message), while
        declaring it untyped passes under extra_columns='ignore'."""
        from dataverifyr_spark import CheckDataError, check_data, data_column, rule, ruleset
        from dataverifyr_spark.fixtures import orders

        df = orders(spark)
        rs = ruleset(
            rule("amount >= 0", name="amount must be non-negative", allow_na=True),
            rule("!paid | payment_method != 'none'", name="paid orders require payment",
                 allow_na=True),
            data_columns=[
                data_column("order_id", "int", optional=False),
                data_column("customer_tier", "str", optional=False),
                data_column("amount", "double", optional=False),
                data_column("paid", "logical", optional=False),
                data_column("payment_method", "str", optional=False),
                data_column("order_time", "str", optional=True),  # actually timestamp
            ],
        )
        res = check_data(df, rs).collect()
        type_fails = [
            r for r in res
            if r["check_type"] == "schema" and "type" in r["name"] and r["fail"] == 1
        ]
        assert len(type_fails) == 1 and "order_time" in type_fails[0]["name"]
        with pytest.raises(CheckDataError, match="schema fails"):
            check_data(df, rs, stop_on_schema_fail=True)

        rs_ok = ruleset(
            rule("amount >= 0", name="amount must be non-negative", allow_na=True),
            data_columns=[
                data_column("order_id", "int", optional=False),
                data_column("customer_tier", "str", optional=False),
                data_column("amount", "double", optional=False),
                data_column("paid", "logical", optional=False),
                data_column("payment_method", "str", optional=False),
                data_column("order_time", optional=True),  # untyped: existence only
            ],
        )
        res_ok = check_data(df, rs_ok, extra_columns="ignore").collect()
        assert {"name", "pass", "fail"} <= set(res_ok[0].asDict())
        assert all(r["fail"] == 0 for r in res_ok if r["check_type"] == "schema")


class TestReferencePreAggregation:
    """The r7 pre-aggregated membership join must count exactly like the r6
    row-level join under every flag combination, including NULL locals and
    duplicate values."""

    @pytest.fixture()
    def data(self, spark):
        local = spark.createDataFrame(
            [(1,), (1,), (2,), (None,), (None,), (7,)], "k int"
        )
        ref = spark.createDataFrame([(1,), (5,)], "k int")
        return local, ref

    @pytest.mark.parametrize(
        "allow_na,negate,expected_pass",
        [
            # hits: two 1s. NULL local is never a hit (R %in% semantics).
            (False, False, 2),
            # allow_na rescues the two NULLs
            (True, False, 4),
            # negate: non-hits pass = 2 (value 2, 7) + 2 NULLs = 4
            (False, True, 4),
            # rescue FIRST then negate: ok = hit|isnull -> negate -> pass = 2
            (True, True, 2),
        ],
    )
    def test_flag_algebra_counts(self, spark, data, allow_na, negate, expected_pass):
        local, ref = data
        rs = dv.ruleset(
            dv.reference_rule("k", "ref", "k", allow_na=allow_na, negate=negate)
        )
        rows = dv.check_data({"local": local, "ref": ref}, rs).collect()
        r = rows[0]
        assert r["tests"] == 6
        assert r["pass"] == expected_pass, (allow_na, negate, r)

    def test_check_data_by_grouped_counts(self, spark, data):
        local, ref = data
        g = local.withColumn("grp", F.when(F.col("k").isNotNull(), F.col("k") % 2).otherwise(F.lit(9)))
        from dataverifyr_spark.check import check_data_by

        out = check_data_by(
            g,
            dv.ruleset(dv.reference_rule("k", "ref", "k")),
            by="grp",
            datasets={"ref": ref},
        ).collect()
        got = {r["grp"]: (r["tests"], r["pass"]) for r in out}
        # grp 1: two 1s (hits) + value 7 (miss); grp 0: value 2; grp 9: NULLs
        assert got == {1: (3, 2), 0: (1, 0), 9: (2, 0)}
