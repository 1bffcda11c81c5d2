"""Algebraic invariants of the rule-evaluation contract, checked over seeded
random tables — the property-test layer on top of the golden tests.

Invariants (from the reference's semantics, SURVEY.md §1.3):
  I1  pass + fail == tests, always
  I2  filter_fails row count == fail count, for every rule shape
  I3  negation duality: rows failing BOTH r and ¬r are exactly the rows where
      the raw predicate is NULL (NULL fails both directions)
  I4  allow_na rescues exactly the rows with a NULL in a referenced column
"""

import random

import pytest
from pyspark.sql import functions as F

from dataverifyr_spark import check_data, filter_fails, rule, ruleset

SEEDS = [7, 42, 1337]


def _random_df(spark, seed: int, n: int = 300):
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        a = rng.choice([None, rng.uniform(-100, 100)])
        b = rng.choice([None, rng.randint(0, 5)])
        s = rng.choice([None, "", "x", "yy", "zzz"])
        rows.append((a, float(b) if b is not None else None, s))
    return spark.createDataFrame(rows, "a double, b double, s string")


_EXPRS = [
    "a > 0",
    "a > 0 & b < 4",
    "b %in% c(0, 1, 2)",
    "nchar(s) > 1",
    "is.na(a) | a < 50",
    "a + b > 0",
]


@pytest.mark.parametrize("seed", SEEDS)
class TestInvariants:
    def test_pass_plus_fail_is_tests(self, spark, seed):
        df = _random_df(spark, seed)
        flags = [(False, False), (True, False), (False, True), (True, True)]
        rs = ruleset(
            *[
                rule(e, name=f"r{i}_{an}_{ng}", allow_na=an, negate=ng)
                for i, e in enumerate(_EXPRS)
                for an, ng in flags
            ]
        )
        for r in check_data(df, rs).collect():
            assert r["pass"] + r["fail"] == r["tests"] == 300

    def test_filter_fails_count_vs_fail(self, spark, seed):
        """filter_fails ⊇ counted fails, with equality whenever allow_na is
        set OR the expression cannot go NULL on a partially-NULL row.

        The superset case is inherited FROM THE REFERENCE's textual guard
        algebra (R/filters.R:62-71): for `!(a > 0 & b < 4)` a row
        (a=NULL, b=5) PASSES the check (NULL & FALSE = FALSE, negated TRUE)
        but the anti-guard `... & !is.na(a) & !is.na(b)` still reports it as
        a violation row.  The reference's own tests only cover single-column
        rules where the two coincide.
        """
        df = _random_df(spark, seed).cache()
        for e in _EXPRS:
            for an, ng in [(False, False), (True, False), (False, True)]:
                r = rule(e, allow_na=an, negate=ng)
                res = check_data(df, r).collect()[0]
                got = filter_fails(ruleset(r), df).count()
                assert got >= res["fail"], (e, an, ng)
                if an:  # allow_na guards are identical in both paths
                    assert got == res["fail"], (e, an, ng)
        # single-column predicates that go NULL exactly when the symbol is
        # NULL: exact equality in every flag combination
        for e in ["a > 0", "nchar(s) > 1"]:
            for an, ng in [(False, False), (True, False), (False, True), (True, True)]:
                r = rule(e, allow_na=an, negate=ng)
                res = check_data(df, r).collect()[0]
                assert filter_fails(ruleset(r), df).count() == res["fail"], (e, an, ng)
        # %in% never yields NULL (R semantics), so NEGATED %in% without
        # allow_na has the superset property even single-column — exactly as
        # in R, where !(b %in% set) passes NA rows but the anti-guard
        # (R/filters.R:66-71) still reports them; equality holds non-negated
        for an, ng in [(False, False), (True, False), (True, True)]:
            r = rule("b %in% c(0, 1, 2)", allow_na=an, negate=ng)
            res = check_data(df, r).collect()[0]
            assert filter_fails(ruleset(r), df).count() == res["fail"], (an, ng)
        df.unpersist()

    def test_negation_duality(self, spark, seed):
        df = _random_df(spark, seed)
        for e in ["a > 0", "b %in% c(0, 1)", "a + b > 0"]:
            plain = check_data(df, rule(e)).collect()[0]
            neg = check_data(df, rule(e, negate=True)).collect()[0]
            # rows failing both = rows where the raw predicate is NULL
            from dataverifyr_spark.expr import compile_expr

            nulls = df.filter(compile_expr(e).column.isNull()).count()
            both_fail = plain["fail"] + neg["fail"] - (plain["tests"] - 0)
            # pass(r) + pass(neg) + nulls == tests
            assert plain["pass"] + neg["pass"] + nulls == plain["tests"]

    def test_allow_na_rescues_exactly_null_symbol_rows(self, spark, seed):
        df = _random_df(spark, seed)
        e = "a > 0 & b < 4"
        strict = check_data(df, rule(e)).collect()[0]
        lax = check_data(df, rule(e, allow_na=True)).collect()[0]
        null_syms = df.filter(F.col("a").isNull() | F.col("b").isNull()).count()
        # rescued rows = rows whose predicate was not TRUE but had a NULL symbol;
        # at minimum every NULL-symbol row passes under allow_na
        assert lax["pass"] >= strict["pass"]
        assert lax["pass"] - strict["pass"] <= null_syms
        # every NULL-symbol row passes under allow_na: fails are disjoint from them
        fail_rows = filter_fails(ruleset(rule(e, allow_na=True)), df)
        assert fail_rows.filter(F.col("a").isNull() | F.col("b").isNull()).count() == 0


class TestEmptyInputs:
    def test_zero_row_data_and_empty_ruleset(self, spark):
        import dataverifyr_spark as dv

        empty = spark.createDataFrame([], "x double, s string")
        rows = dv.check_data(
            empty, dv.ruleset(dv.rule("x > 0"), dv.rule("nchar(s) > 1", allow_na=True))
        ).collect()
        assert all((r["tests"], r["pass"], r["fail"]) == (0, 0, 0) for r in rows)
        assert dv.check_data(empty, dv.ruleset()).count() == 0
        assert dv.filter_fails(dv.ruleset(dv.rule("x > 0")), empty, tag=True).count() == 0
        d = {r["var"]: r for r in dv.describe(empty).collect()}
        assert d["x"]["n"] == 0 and d["x"]["most_frequent"] == ""


class TestUniquenessInvariants:
    """Seeded algebraic invariants of the r5 UniquenessRule against a
    driver-side Counter reference, across the flag matrix."""

    @pytest.mark.parametrize("seed", [11, 23, 37])
    def test_counts_match_counter_reference(self, spark, seed):
        import random as _random
        from collections import Counter

        import dataverifyr_spark as dv

        rng = _random.Random(seed)
        vals = [rng.choice([None] + list(range(8))) for _ in range(200)]
        df = spark.createDataFrame([(v,) for v in vals], "k int")
        # a two-column key: a NULL in either column makes the key NULL
        pairs = [(rng.choice([None, 0, 1, 2]), rng.choice([None, 0, 1, 2, 3])) for _ in range(60)]
        df2 = spark.createDataFrame(pairs, "a int, b int")
        inputs = [(df, ["k"], [(v,) for v in vals]), (df2, ["a", "b"], pairs)]

        def expected(keys, allow_na, negate):
            counts = Counter(keys)
            p = 0
            for v in keys:
                ok = counts[v] == 1
                if allow_na:
                    ok = ok or None in v
                if negate:
                    ok = not ok
                p += ok
            return p

        for frame, cols, keys in inputs:
            for allow_na in (False, True):
                for negate in (False, True):
                    rule = dv.unique_rule(*cols, allow_na=allow_na, negate=negate)
                    row = dv.check_data(frame, dv.ruleset(rule)).collect()[0]
                    exp = (len(keys), expected(keys, allow_na, negate))
                    assert (row["tests"], row["pass"]) == exp, (cols, allow_na, negate)
                    # violations complement: |violations| == fail
                    viol = dv.uniqueness_violations(frame, rule).count()
                    assert viol == row["fail"], (cols, allow_na, negate)

    @pytest.mark.parametrize("seed", [5])
    def test_grouped_sums_to_global_when_key_includes_group(self, spark, seed):
        """check_data_by on (group) with key (group, k) must sum to the
        global check of the composite key — the partition-decomposition
        property that makes the ledger's per-partition uniqueness rows
        meaningful."""
        import random as _random

        import dataverifyr_spark as dv

        rng = _random.Random(seed)
        rows = [(rng.choice("ab"), rng.randint(0, 20)) for _ in range(300)]
        df = spark.createDataFrame(rows, "g string, k int")
        by_rows = dv.check_data_by(
            df, dv.ruleset(dv.unique_rule("g", "k", name="u")), by="g"
        ).collect()
        glob = dv.check_data(df, dv.ruleset(dv.unique_rule("g", "k", name="u"))).collect()[0]
        assert sum(r["tests"] for r in by_rows) == glob["tests"] == 300
        assert sum(r["pass"] for r in by_rows) == glob["pass"]
