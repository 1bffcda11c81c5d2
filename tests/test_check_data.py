"""check_data golden contract — mirrors tests/testthat/test-check_data.R
(dplyr-backend semantics, the reference's canonical expectations)."""

import pytest

from dataverifyr_spark import (
    CheckDataError,
    check_data,
    rule,
    ruleset,
    unique_rule,
    uniqueness_violations,
)
from dataverifyr_spark.check import check_data_by
from dataverifyr_spark.fixtures import cars, orders


@pytest.fixture(scope="module")
def cars_df(spark):
    return cars(spark, "contract").cache()


@pytest.fixture(scope="module")
def contract_rules():
    return ruleset(
        rule("mpg > 10 & mpg < 35"),
        rule("mpg < 10 & mpg > 34", negate=True),
        rule("disp > 100", allow_na=True),
        rule("as.numeric(hp) > 0 & as.numeric(hp) < 400"),
        rule("does_not_exist %in% c('a', 'b', 'c')"),
    )


def _rows(res):
    return [r.asDict() for r in res.collect()]


class TestContract:
    # expected per test-check_data.R:21-33 (r1 adapted: reference uses
    # mpg range rule giving 32/0)
    def test_golden_counts(self, spark, cars_df, contract_rules):
        rows = _rows(check_data(cars_df, contract_rules))
        assert len(rows) == 5
        expect = [
            (32, 32, 0),
            (32, 32, 0),
            (32, 27, 5),
            (32, 31, 1),
            (32, 0, 32),
        ]
        got = [(r["tests"], r["pass"], r["fail"]) for r in rows]
        assert got == expect

    def test_warn_and_error_columns(self, spark, cars_df, contract_rules):
        rows = _rows(check_data(cars_df, contract_rules))
        # r4: coercion warning (test-check_data.R:30)
        assert rows[3]["warn"] == "NAs introduced by coercion"
        assert rows[3]["error"] == ""
        # r5: missing column -> error row, no exception (R/check_data.R:301-315)
        assert rows[4]["error"] != ""
        assert rows[4]["warn"] == ""
        for i in (0, 1, 2):
            assert rows[i]["warn"] == "" and rows[i]["error"] == ""

    def test_result_schema_and_order(self, spark, cars_df, contract_rules):
        res = check_data(cars_df, contract_rules)
        assert res.columns == [
            "check_type",
            "name",
            "expr",
            "allow_na",
            "negate",
            "tests",
            "pass",
            "fail",
            "warn",
            "error",
            "time",
        ]
        rows = _rows(res)
        assert all(r["check_type"] == "row_rule" for r in rows)
        # ruleset order preserved
        assert [r["expr"] for r in rows] == [r.expr for r in contract_rules]

    def test_single_rule_coercion(self, spark, cars_df):
        rows = _rows(check_data(cars_df, rule("disp > 100", allow_na=True)))
        assert (rows[0]["tests"], rows[0]["pass"], rows[0]["fail"]) == (32, 27, 5)

    def test_negate_allow_na_order(self, spark):
        # allow_na is applied AFTER negation (R/check_data.R:277-287):
        # negate(x > 1) with allow_na rescues the NULL row
        df = spark.createDataFrame([(0.0,), (2.0,), (None,)], "x double")
        rows = _rows(check_data(df, rule("x > 1", negate=True, allow_na=True)))
        assert (rows[0]["pass"], rows[0]["fail"]) == (2, 1)

    def test_na_fails_without_allow_na(self, spark):
        df = spark.createDataFrame([(0.0,), (2.0,), (None,)], "x double")
        rows = _rows(check_data(df, rule("x >= 0")))
        assert (rows[0]["pass"], rows[0]["fail"]) == (2, 1)


class TestStopGates:
    def test_stop_on_fail(self, spark, cars_df):
        with pytest.raises(CheckDataError, match="found 1 rule fails"):
            check_data(cars_df, rule("disp > 100", allow_na=True), stop_on_fail=True)

    def test_stop_on_error(self, spark, cars_df):
        with pytest.raises(CheckDataError, match="1 errors"):
            check_data(cars_df, rule("nope > 1"), stop_on_error=True)

    def test_stop_on_warn(self, spark, cars_df):
        with pytest.raises(CheckDataError, match="1 warnings"):
            check_data(cars_df, rule("as.numeric(hp) > 0"), stop_on_warn=True)

    def test_no_stop_when_clean(self, spark, cars_df):
        res = check_data(
            cars_df, rule("mpg > 0"), stop_on_fail=True, stop_on_warn=True, stop_on_error=True
        )
        assert _rows(res)[0]["fail"] == 0

    def test_timing_modes(self, spark, cars_df):
        # shared (default): fused wall time split evenly — all rows equal;
        # per_rule: each rule timed in its own job — independent positive times
        rs = ruleset(rule("mpg > 10"), rule("cyl %in% c(4, 6, 8)"), rule("wt > 1"))
        shared = [r["time"] for r in _rows(check_data(cars_df, rs))]
        assert len(set(shared)) == 1 and shared[0] > 0
        per_rule = [r["time"] for r in _rows(check_data(cars_df, rs, timing="per_rule"))]
        assert all(t > 0 for t in per_rule)
        with pytest.raises(ValueError, match="timing"):
            check_data(cars_df, rs, timing="nope")

    def test_udf_warning_captured_and_attributed(self, spark, cars_df):
        """A Python warning raised inside a UDF batch on the EXECUTOR lands in
        the warn column of exactly the rules that call that function
        (reference records any evaluation warning, R/check_data.R:248-253)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from dataverifyr_spark.expr import register_function
        from dataverifyr_spark.udf_warnings import capturing

        def _grumpy_impl(s: pd.Series) -> pd.Series:
            import warnings as w

            w.warn("deprecated threshold semantics")
            return s > 15

        udf_holder = {}

        def builder(ctx, nodes, cols):
            if "u" not in udf_holder:
                udf_holder["u"] = pandas_udf(capturing("grumpy_gt15", _grumpy_impl), "boolean")
            return udf_holder["u"](cols[0])

        register_function("grumpy_gt15", builder)
        res = _rows(
            check_data(
                cars_df,
                ruleset(rule("grumpy_gt15(mpg)", name="warns"), rule("mpg > 0", name="clean")),
            )
        )
        by = {r["name"]: r for r in res}
        assert "deprecated threshold semantics" in by["warns"]["warn"]
        assert by["clean"]["warn"] == ""

    def test_multiple_warnings_joined_like_reference(self, spark, cars_df):
        """Unique warning messages join with ", " exactly like the
        reference's get_warnings (R/check_data.R:
        paste(unique(out), collapse = ", ")) — including a repeated message
        appearing once."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from dataverifyr_spark.expr import register_function
        from dataverifyr_spark.udf_warnings import capturing

        def _noisy_impl(s: pd.Series) -> pd.Series:
            import warnings as w

            w.warn("warn alpha")
            w.warn("warn beta")
            w.warn("warn alpha")  # duplicate: must appear once
            return s > 15

        holder = {}

        def builder(ctx, nodes, cols):
            if "u" not in holder:
                holder["u"] = pandas_udf(capturing("noisy_gt15", _noisy_impl), "boolean")
            return holder["u"](cols[0])

        register_function("noisy_gt15", builder)
        res = _rows(check_data(cars_df, ruleset(rule("noisy_gt15(mpg)", name="noisy"))))
        assert res[0]["warn"] == "warn alpha, warn beta"


class TestOrdersReadme:
    # README.md:108-150 golden: each rule tests=8, pass=6, fail=2
    def test_orders_goldens(self, spark):
        df = orders(spark)
        rules = ruleset(
            rule("amount >= 0 & amount <= 10000"),
            rule("customer_tier %in% c('bronze', 'silver', 'gold')"),
            rule("!paid | payment_method != 'none'"),
        )
        rows = _rows(check_data(df, rules))
        assert [(r["tests"], r["pass"], r["fail"]) for r in rows] == [(8, 6, 2)] * 3


class TestCheckDataBy:
    def test_grouped_summary(self, spark, cars_df):
        rules = ruleset(rule("mpg > 20"), rule("disp > 100", allow_na=True))
        out = check_data_by(cars_df, rules, by="cyl")
        rows = {(r["cyl"], r["expr"]): (r["tests"], r["pass"], r["fail"]) for r in out.collect()}
        # cyl==4: 11 rows, all mpg>20 except 15.8? no — 4-cyl mpg all >20
        assert rows[(4.0, "mpg > 20")] == (11, 11, 0)
        assert rows[(8.0, "mpg > 20")] == (14, 0, 14)
        # totals across groups match ungrouped run
        total_pass = sum(v[1] for (g, e), v in rows.items() if e == "mpg > 20")
        flat = _rows(check_data(cars_df, rule("mpg > 20")))[0]
        assert total_pass == flat["pass"]

    def test_bad_rules_raise_naming_each(self, spark):
        """No error-row channel: a rule that does not compile raises rather
        than silently losing its rows."""
        df = spark.createDataFrame([(1,), (2,)], "x int")
        rs = ruleset(
            rule("x > 1", name="good"),
            rule("nope > 1", name="missing"),
            rule("x >> 1", name="unparsable"),
        )
        with pytest.raises(ValueError) as err:
            check_data_by(df, rs, by="x")
        msg = str(err.value)
        assert "'missing' (nope > 1): [UNRESOLVED_COLUMN" in msg
        assert "'unparsable' (x >> 1): " in msg
        assert "good" not in msg


class TestYamlPathConvenience:
    # test-check_data.R:209-228: a path as `rules` loads the YAML ruleset
    def test_yaml_path_equivalence(self, spark, cars_df, tmp_path):
        from dataverifyr_spark import write_rules

        rs = ruleset(rule("disp > 100", allow_na=True), rule("cyl %in% c(4, 6, 8)"))
        p = str(tmp_path / "rules.yaml")
        write_rules(rs, p)
        direct = _rows(check_data(cars_df, rs))
        via_path = _rows(check_data(cars_df, p))
        for a, b in zip(direct, via_path):
            assert (a["expr"], a["tests"], a["pass"], a["fail"]) == (
                b["expr"],
                b["tests"],
                b["pass"],
                b["fail"],
            )


class TestAllowNaCoercionCorner:
    def test_coerced_na_is_not_rescued(self, spark):
        """Reference 'special case' (test-check_data.R:230-243): with
        rule(as.numeric(vs) %in% c(0, 1), allow_na=TRUE) and vs[1]='asd',
        the row FAILS — allow_na guards the RAW symbol (vs is not NA), not
        the coercion result — and the coercion warning is recorded."""
        rows = [("asd",)] + [("0",)] * 17 + [("1",)] * 14
        df = spark.createDataFrame(rows, "vs string")
        res = check_data(df, rule("as.numeric(vs) %in% c(0, 1)", allow_na=True)).collect()[0]
        assert (res["tests"], res["pass"], res["fail"]) == (32, 31, 1)
        assert res["warn"] == "NAs introduced by coercion"


class TestCheckDataByReference:
    def test_per_group_fk_counts(self, spark):
        """check_data_by now evaluates reference rules per group (key-only
        join, no payload shuffle) instead of silently dropping them."""
        from dataverifyr_spark import reference_rule

        orders_df = spark.createDataFrame(
            [(1, "A", 10), (2, "A", 99), (3, "B", 10), (4, "B", 20), (5, "B", None)],
            "oid int, region string, cust int",
        )
        customers = spark.createDataFrame([(10,), (20,)], "cid int")
        rs = ruleset(
            rule("oid > 0", name="oid_pos"),
            reference_rule("cust", "customers", "cid", name="fk"),
        )
        out = check_data_by(
            orders_df, rs, by="region", datasets={"customers": customers}
        ).collect()
        got = {(r["region"], r["name"]): (r["tests"], r["pass"], r["fail"]) for r in out}
        assert got[("A", "oid_pos")] == (2, 2, 0)
        assert got[("A", "fk")] == (2, 1, 1)  # 99 not in set
        assert got[("B", "fk")] == (3, 2, 1)  # NULL cust fails (%in% never NA)

    def test_allow_na_and_negate_per_group(self, spark):
        from dataverifyr_spark import reference_rule

        df = spark.createDataFrame(
            [(1, "g", 10), (2, "g", None), (3, "g", 77)], "oid int, grp string, cust int"
        )
        ref = spark.createDataFrame([(10,)], "cid int")
        rescued = check_data_by(
            df, ruleset(reference_rule("cust", "c", "cid", allow_na=True)),
            by="grp", datasets={"c": ref},
        ).collect()[0]
        assert (rescued["tests"], rescued["pass"], rescued["fail"]) == (3, 2, 1)
        negated = check_data_by(
            df, ruleset(reference_rule("cust", "c", "cid", negate=True)),
            by="grp", datasets={"c": ref},
        ).collect()[0]
        # negate: set hits fail; NULL and 77 pass
        assert (negated["tests"], negated["pass"], negated["fail"]) == (3, 2, 1)

    def test_fk_column_is_also_a_by_column(self, spark):
        """ADVICE r3: FK col ∈ by cols must not produce a duplicate-name
        projection / ambiguous reference; user __dvfy_ref_val col must not
        collide with the join alias."""
        from dataverifyr_spark import reference_rule

        df = spark.createDataFrame(
            [(1, 10, "x"), (2, 10, "x"), (3, 99, "x")],
            "oid int, cust int, __dvfy_ref_val string",
        )
        ref = spark.createDataFrame([(10,)], "cid int")
        out = check_data_by(
            df, ruleset(reference_rule("cust", "c", "cid", name="fk")),
            by="cust", datasets={"c": ref},
        ).collect()
        got = {r["cust"]: (r["tests"], r["pass"], r["fail"]) for r in out}
        assert got[10] == (2, 2, 0)
        assert got[99] == (1, 0, 1)

    def test_missing_datasets_raises(self, spark, cars_df):
        from dataverifyr_spark import reference_rule

        with pytest.raises(ValueError, match="silently dropped"):
            check_data_by(
                cars_df, ruleset(rule("mpg > 0"), reference_rule("cyl", "t", "c")), by="am"
            )

    def test_nongrouped_ref_alias_collision(self, spark):
        """ADVICE r5: plain check_data (not just check_data_by) must survive
        a local column literally named __dvfy_ref_val — the hit-marker alias
        is generated collision-proof on BOTH paths."""
        from dataverifyr_spark import check_data, reference_rule

        df = spark.createDataFrame(
            [(1, 10, "x"), (2, 99, "x"), (3, None, "x")],
            "oid int, cust int, __dvfy_ref_val string",
        )
        ref = spark.createDataFrame([(10,)], "cid int")
        row = check_data(
            {"main": df, "c": ref},
            ruleset(reference_rule("cust", "c", "cid", name="fk")),
        ).collect()[0]
        # 10 hits, 99 misses, NULL misses (%in% never NA)
        assert (row["tests"], row["pass"], row["fail"]) == (3, 1, 2)


class TestUniquenessRule:
    """r5 (VERDICT ask #5): aggregation-shaped PK rule — key-only groupBy,
    never the expr compiler."""

    @pytest.fixture(scope="class")
    def kdf(self, spark):
        return spark.createDataFrame(
            [(1, "a"), (2, "a"), (2, "b"), (None, "c"), (None, "d"), (5, "e")],
            "k int, g string",
        ).cache()

    def test_flag_matrix(self, spark, kdf):
        from dataverifyr_spark import check_data, ruleset, unique_rule

        def run(**kw):
            r = check_data(kdf, ruleset(unique_rule("k", name="u", **kw))).collect()[0]
            assert r["check_type"] == "uniqueness_rule"
            return (r["tests"], r["pass"], r["fail"])

        # groups: {1:1 row, 2:2, NULL:2, 5:1} — NULLs group together (SQL)
        assert run() == (6, 2, 4)
        assert run(allow_na=True) == (6, 4, 2)  # NULL-key rows rescued
        assert run(negate=True) == (6, 4, 2)  # duplicated rows pass
        # rescue FIRST, negate LAST: NULL-key rescued-to-ok then negated
        assert run(negate=True, allow_na=True) == (6, 2, 4)

    def test_missing_column_is_error_row(self, spark, kdf):
        from dataverifyr_spark import check_data, ruleset, unique_rule

        r = check_data(kdf, ruleset(unique_rule("nope"))).collect()[0]
        assert r["error"] and (r["pass"], r["fail"]) == (0, 6)

    def test_violations_include_null_key_groups(self, spark, kdf):
        from dataverifyr_spark import unique_rule, uniqueness_violations

        got = sorted(
            ((r["k"], r["g"]) for r in uniqueness_violations(kdf, unique_rule("k")).collect()),
            key=lambda t: (t[0] is None, t[0] or 0, t[1]),
        )
        # duplicated NULL-key group must surface (null-safe semi join)
        assert got == [(2, "a"), (2, "b"), (None, "c"), (None, "d")]
        resc = uniqueness_violations(kdf, unique_rule("k", allow_na=True)).collect()
        assert sorted((r["k"], r["g"]) for r in resc) == [(2, "a"), (2, "b")]
        neg = uniqueness_violations(kdf, unique_rule("k", negate=True, allow_na=True))
        ks = sorted((r["g"] for r in neg.collect()))
        assert ks == ["a", "c", "d", "e"]  # singletons (1,5) + rescued NULLs

    def test_violations_plan_has_no_union(self, spark, kdf):
        """allow_na + negate reads the count's own verdict: NULL-key rows are
        flagged through the one semi join, not a second scan unioned on."""
        from dataverifyr_spark import unique_rule, uniqueness_violations

        out = uniqueness_violations(kdf, unique_rule("k", negate=True, allow_na=True))
        assert "Union" not in out._jdf.queryExecution().optimizedPlan().toString()
        assert sorted(r["g"] for r in out.collect()) == ["a", "c", "d", "e"]

    def test_check_data_by_per_group(self, spark):
        from dataverifyr_spark import check_data_by, ruleset, unique_rule

        df = spark.createDataFrame(
            [("x", 1), ("x", 1), ("x", 2), ("y", 1), ("y", 2)], "g string, k int"
        )
        got = {
            r["g"]: (r["tests"], r["pass"], r["fail"])
            for r in check_data_by(df, ruleset(unique_rule("k", name="u")), by="g").collect()
        }
        # uniqueness is evaluated WITHIN each group
        assert got["x"] == (3, 1, 2) and got["y"] == (2, 2, 0)

    def test_ruleset_reindex_preserves_subtype(self, spark):
        """r5 bug: ruleset() reindexing downgraded Rule subclasses to plain
        Rule, silently routing unique rules into the expr compiler."""
        from dataverifyr_spark import UniquenessRule, ruleset, unique_rule
        from dataverifyr_spark.rules import ReferenceRule, reference_rule

        rs = ruleset(unique_rule("a"), reference_rule("b", "t", "c"))
        assert isinstance(rs[0], UniquenessRule) and rs[0].index == 1
        assert isinstance(rs[1], ReferenceRule) and rs[1].index == 2

    def test_yaml_round_trip(self, spark, tmp_path):
        from dataverifyr_spark import (
            UniquenessRule,
            read_rules,
            ruleset,
            unique_rule,
            write_rules,
        )

        p = str(tmp_path / "u.yaml")
        write_rules(ruleset(unique_rule("k", "g", name="pk", allow_na=True)), p)
        r2 = list(read_rules(p))[0]
        assert isinstance(r2, UniquenessRule)
        assert r2.unique_cols == ("k", "g") and r2.allow_na and r2.name == "pk"

    def test_filter_fails_skips_uniqueness(self, spark, kdf):
        from dataverifyr_spark import filter_fails, rule, ruleset, unique_rule

        rs = ruleset(rule("k > 0", name="pos"), unique_rule("k", name="u"))
        out = filter_fails(rs, kdf, tag=True).collect()
        # only the expr rule's violations (NULL k fails k>0's anti-guard)
        assert all(r["failed_rule"] == "k > 0" for r in out)

    def test_suggest_pk_induction(self, spark):
        from dataverifyr_spark import check_data, suggest_rules

        cust = spark.createDataFrame(
            [(i, f"name{i}", i % 5, float(i % 97)) for i in range(300)],
            "id int, nm string, seg int, bal double",
        )
        rs = suggest_rules(cust)
        names = [r.name for r in rs]
        assert "unique_id" in names and "unique_nm" in names
        # doubles are measures, not keys; low-cardinality ints are not PKs
        assert "unique_bal" not in names and "unique_seg" not in names
        res = {r["name"]: r for r in check_data(cust, rs).collect()}
        assert res["unique_id"]["fail"] == 0 and res["unique_nm"]["fail"] == 0
        # near-unique column shortlists but exact-confirm rejects it
        near = spark.createDataFrame(
            [(i if i else 1, "x") for i in range(300)], "id int, pad string"
        )
        assert "unique_id" not in [r.name for r in suggest_rules(near)]


class TestCheckDataByFile:
    """Per-source-file summary (north_rule: per-partition pass/fail rows
    with file lineage — the ledger's resume unit, exposed as a summary)."""

    @pytest.fixture(scope="class")
    def parts_dir(self, spark, tmp_path_factory):
        # 3 Hive partition dirs, exactly ONE parquet file per key (the key
        # is repartition-hashed to a single partition before the write)
        root = str(tmp_path_factory.mktemp("byfile") / "t")
        df = spark.createDataFrame(
            [(i, i % 3, float(i % 7)) for i in range(90)],
            "id int, k int, v double",
        )
        df.repartition(4, "k").write.partitionBy("k").parquet(root)
        return root

    def test_per_file_sums_to_global(self, spark, parts_dir):
        from dataverifyr_spark.check import check_data_by_file

        back = spark.read.parquet(parts_dir)
        rs = ruleset(rule("v < 5", name="v_lt_5"), rule("id >= 0", name="id_nonneg"))
        per_file = check_data_by_file(back, rs)
        rows = per_file.collect()
        # one file per key x 2 rules; default keeps the full (unique) URI —
        # basenames repeat across Hive partition dirs and would merge rows
        assert len(rows) == 6
        assert all("/" in r["file"] and r["file"].endswith(".parquet") for r in rows)
        glob = {r["name"]: r for r in check_data(back, rs).collect()}
        for name in ("v_lt_5", "id_nonneg"):
            mine = [r for r in rows if r["name"] == name]
            assert sum(r["tests"] for r in mine) == glob[name]["tests"]
            assert sum(r["pass"] for r in mine) == glob[name]["pass"]
            assert sum(r["fail"] for r in mine) == glob[name]["fail"]

    def test_full_uri_preserves_partition_dirs(self, spark, parts_dir):
        from pyspark.sql import functions as F

        from dataverifyr_spark.check import check_data_by_file

        back = spark.read.parquet(parts_dir)
        res = check_data_by_file(back, ruleset(rule("v < 5", name="v_lt_5")), basename=False)
        keyed = {
            int(r["k"]): (r["tests"], r["pass"])
            for r in res.withColumn(
                "k", F.regexp_extract("file", r"k=(\d+)", 1)
            ).collect()
        }
        # per-file == per-key truth: k in {0,1,2}, 30 rows each; v = i%7 < 5
        assert set(keyed) == {0, 1, 2}
        for k, (tests, npass) in keyed.items():
            assert tests == 30
            want = sum(1 for i in range(90) if i % 3 == k and i % 7 < 5)
            assert npass == want

    def test_basename_merges_across_partition_dirs(self, spark, parts_dir):
        # the documented hazard: the same write task emits identically-named
        # part files into different key=value/ dirs, so basename mode
        # merges them — counts still sum correctly, rows just coarsen
        from dataverifyr_spark.check import check_data_by_file

        back = spark.read.parquet(parts_dir)
        rows = check_data_by_file(
            back, ruleset(rule("v < 5", name="v_lt_5")), basename=True
        ).collect()
        assert len(rows) < 3  # fewer summary rows than the 3 real files
        assert sum(r["tests"] for r in rows) == 90

    def test_non_file_source_raises(self, spark):
        from dataverifyr_spark.check import check_data_by_file

        df = spark.createDataFrame([(1,)], "id int")
        with pytest.raises(ValueError, match="file-backed"):
            check_data_by_file(df, ruleset(rule("id > 0")))

    def test_file_col_collision_raises(self, spark, parts_dir):
        from pyspark.sql import functions as F

        from dataverifyr_spark.check import check_data_by_file

        back = spark.read.parquet(parts_dir).withColumn("file", F.lit("x"))
        with pytest.raises(ValueError, match="collides"):
            check_data_by_file(back, ruleset(rule("v < 5")))
        # and the escape hatch works
        ok = check_data_by_file(
            back, ruleset(rule("v < 5", name="r")), file_col="src_file"
        )
        assert ok.columns[0] == "src_file" and ok.count() == 3

    def test_stamp_after_shuffle_raises_not_misgroups(self, spark, parts_dir):
        # input_file_name() is task-scoped: an exchange between scan and
        # stamp erases it to '' — the stamp's in-plan raise_error guard
        # turns that silent single-blank-group result into a hard failure
        from dataverifyr_spark.check import check_data_by_file

        shuffled = spark.read.parquet(parts_dir).repartition(3)
        with pytest.raises(Exception, match="freshly-read"):
            check_data_by_file(shuffled, ruleset(rule("v < 5", name="r"))).collect()


class TestLocalResultFrame:
    """check._local_result_df: every driver-built result frame is a JVM
    LocalRelation with one partition, verified against its schema."""

    @staticmethod
    def _optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def test_summary_and_describe_are_one_partition_local_relations(
        self, spark, cars_df, contract_rules
    ):
        from dataverifyr_spark import describe

        for res in (check_data(cars_df, contract_rules), describe(cars_df)):
            plan = self._optimized(res)
            assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
            assert res.rdd.getNumPartitions() == 1

    def test_write_summary_writes_one_file(self, spark, cars_df, contract_rules, tmp_path):
        from dataverifyr_spark.sources import write_summary

        out = str(tmp_path / "summary")
        write_summary(check_data(cars_df, contract_rules), out, run_id="r1")
        assert len(list((tmp_path / "summary").glob("*.parquet"))) == 1
        assert spark.read.parquet(out).count() == 5

    def test_invalid_rows_raise(self, spark):
        from pyspark.sql import types as T

        from dataverifyr_spark.check import _local_result_df

        schema = T.StructType(
            [T.StructField("k", T.StringType(), False), T.StructField("n", T.LongType(), False)]
        )
        assert _local_result_df(spark, [("a", 1)], schema).collect()[0]["n"] == 1
        with pytest.raises(Exception, match="not nullable"):
            _local_result_df(spark, [("a", None)], schema)
        with pytest.raises(Exception, match="LongType"):
            _local_result_df(spark, [("a", "1")], schema)

    def test_zero_rows_keep_schema(self, spark):
        from pyspark.sql import types as T

        from dataverifyr_spark import describe
        from dataverifyr_spark.check import RESULT_SCHEMA, _local_result_df
        from dataverifyr_spark.describe import DESCRIBE_SCHEMA

        empty = _local_result_df(spark, [], RESULT_SCHEMA)
        assert empty.schema == RESULT_SCHEMA and empty.count() == 0
        no_cols = describe(spark.createDataFrame([], T.StructType([])))
        assert no_cols.schema == DESCRIBE_SCHEMA and no_cols.count() == 0


class TestAliasCollisions:
    def test_check_data_unique_rule_with_cnt_column(self, spark):
        # a dataset with columns literally named __cnt/__isnull must not
        # break a valid uniqueness rule (AMBIGUOUS_REFERENCE regression)
        df = spark.createDataFrame(
            [(1, 9, 9), (2, 9, 9), (2, 9, 9)], ["k", "__cnt", "__isnull"]
        )
        row = check_data(df, ruleset(unique_rule("k", name="u"))).collect()[0]
        assert not row["error"]
        assert (row["tests"], row["pass"], row["fail"]) == (3, 1, 2)

    def test_check_data_by_unique_rule_with_cnt_column(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 0), ("a", 1, 0), ("b", 1, 0)], ["g", "k", "__cnt"]
        )
        rows = {
            r["g"]: (r["tests"], r["pass"], r["fail"])
            for r in check_data_by(df, ruleset(unique_rule("k", name="u")), by="g").collect()
        }
        assert rows == {"a": (2, 0, 2), "b": (1, 1, 0)}

    def test_uniqueness_violations_with_colliding_columns(self, spark):
        df = spark.createDataFrame(
            [(1, 0, 0), (2, 0, 0), (2, 0, 0)], ["k", "__cnt", "__bk_k"]
        )
        out = uniqueness_violations(df, unique_rule("k")).collect()
        assert sorted(r["k"] for r in out) == [2, 2]
