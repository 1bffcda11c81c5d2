"""check_data is the no-key case of check_data_by: every rule kind has one
evaluator taking the group keys.  These tests pin that the two paths agree
on every flag combination, how many Spark jobs each runs, that the jobs of
a check_data call keep the caller's job group and tags, and that a rule
failing at runtime becomes its own error row while the others report."""

import itertools
import shutil
import threading
import time
import uuid

import pytest

from dataverifyr_spark import check_data, reference_rule, rule, ruleset, unique_rule
from dataverifyr_spark.check import check_data_by

FLAGS = list(itertools.product([False, True], repeat=2))  # (allow_na, negate)


@pytest.fixture(scope="module")
def frames(spark):
    """NULL and duplicated keys, NULL FK values (and a NULL in the reference
    set), and user columns named like the internal aliases."""
    df = spark.createDataFrame(
        [
            (1, 10, "a", 1, "x", 0),
            (2, 10, "a", 1, "x", 0),
            (2, 99, "a", 1, "y", 1),
            (None, None, "a", 1, "x", 0),
            (None, 20, "a", 1, "x", 0),
            (3, None, "b", 1, "z", 2),
            (4, 77, "b", 1, "x", 0),
            (4, 10, "b", 1, "x", 0),
            (None, 20, "b", 1, None, None),
            (2, 10, "b", 1, "x", 0),
        ],
        "k int, fk int, g string, one int, __dvfy_ref_val string, __cnt int",
    )
    ref = spark.createDataFrame([(10,), (20,), (None,)], "cid int")
    return df, ref


def _rules(allow_na: bool, negate: bool):
    kw = dict(allow_na=allow_na, negate=negate)
    return ruleset(
        rule("k > 1", name="expr", **kw),
        reference_rule("fk", "c", "cid", name="ref", **kw),
        unique_rule("k", name="uniq", **kw),
    )


def _flat(df, ref, rs) -> dict:
    rows = check_data({"main": df, "c": ref}, rs).collect()
    assert not any(r["error"] for r in rows)
    return {r["name"]: (r["tests"], r["pass"], r["fail"]) for r in rows}


def _keyed(df, ref, rs, by: str) -> dict:
    out: dict = {}
    for r in check_data_by(df, rs, by=by, datasets={"c": ref}).collect():
        out.setdefault(r["name"], {})[r[by]] = (r["tests"], r["pass"], r["fail"])
    return out


def _summed(groups: dict) -> tuple:
    return tuple(sum(v[i] for v in groups.values()) for i in range(3))


# (allow_na, negate) -> (tests, pass, fail), worked out by hand.  Expression:
# k > 1 is TRUE 6×, FALSE 1×, NULL 3×; negate wraps first, allow_na rescues
# the NULLs on top.  Reference: 6 hits, 2 misses, 2 NULL FKs (never a hit,
# not even against the reference NULL); rescue first, negate last.
# Uniqueness: k groups {1:1, 2:3, NULL:3, 3:1, 4:2}.
NO_KEY = {
    (False, False): {"expr": (10, 6, 4), "ref": (10, 6, 4), "uniq": (10, 2, 8)},
    (True, False): {"expr": (10, 9, 1), "ref": (10, 8, 2), "uniq": (10, 5, 5)},
    (False, True): {"expr": (10, 1, 9), "ref": (10, 4, 6), "uniq": (10, 8, 2)},
    (True, True): {"expr": (10, 4, 6), "ref": (10, 2, 8), "uniq": (10, 5, 5)},
}

# uniqueness is judged WITHIN each g group: a = k {1:1, 2:2, NULL:2},
# b = k {3:1, 4:2, NULL:1, 2:1}
UNIQ_BY_G = {
    (False, False): {"a": (5, 1, 4), "b": (5, 3, 2)},
    (True, False): {"a": (5, 3, 2), "b": (5, 3, 2)},
    (False, True): {"a": (5, 4, 1), "b": (5, 2, 3)},
    (True, True): {"a": (5, 2, 3), "b": (5, 2, 3)},
}


class TestKeyedParity:
    @pytest.mark.parametrize("allow_na,negate", FLAGS)
    def test_constant_key_equals_no_key(self, frames, allow_na, negate):
        df, ref = frames
        rs = _rules(allow_na, negate)
        flat = _flat(df, ref, rs)
        assert flat == NO_KEY[(allow_na, negate)]
        keyed = _keyed(df, ref, rs, "one")
        assert {name: groups[1] for name, groups in keyed.items()} == flat

    @pytest.mark.parametrize("allow_na,negate", FLAGS)
    @pytest.mark.parametrize("by", ["g", "fk"])  # fk: the FK column is the key
    def test_groups_sum_to_no_key(self, frames, allow_na, negate, by):
        df, ref = frames
        rs = _rules(allow_na, negate)
        flat = _flat(df, ref, rs)
        keyed = _keyed(df, ref, rs, by)
        for name in ("expr", "ref"):
            assert len(keyed[name]) > 1
            assert _summed(keyed[name]) == flat[name]

    @pytest.mark.parametrize("allow_na,negate", FLAGS)
    def test_each_group_equals_no_key_on_its_rows(self, frames, allow_na, negate):
        df, ref = frames
        rs = _rules(allow_na, negate)
        keyed = _keyed(df, ref, rs, "g")
        assert keyed["uniq"] == UNIQ_BY_G[(allow_na, negate)]
        for g in ("a", "b"):
            flat = _flat(df.filter(df.g == g), ref, rs)
            assert {name: groups[g] for name, groups in keyed.items()} == flat


class TestJobBudget:
    """Total Spark jobs of one call on an expression + reference +
    uniqueness ruleset, counted by job-id delta (a job group would miss
    jobs submitted from other threads).  AQE's runtime broadcast conversion
    races the join's shuffle stages — the same check_data_by plan ran 5 or
    6 jobs — so the budget is counted with that conversion off."""

    CHECK_DATA_JOBS = 8
    CHECK_DATA_BY_JOBS = 8

    def test_check_data(self, job_ids, frames, no_runtime_broadcast):
        df, ref = frames
        rs = _rules(False, False)
        counts = [
            len(job_ids(lambda: check_data({"main": df, "c": ref}, rs).collect()))
            for _ in range(2)
        ]
        assert counts == [self.CHECK_DATA_JOBS] * 2

    def test_check_data_by(self, job_ids, frames, no_runtime_broadcast):
        df, ref = frames
        rs = _rules(False, False)
        counts = [
            len(
                job_ids(
                    lambda: check_data_by(df, rs, by="g", datasets={"c": ref}).collect()
                )
            )
            for _ in range(2)
        ]
        assert counts == [self.CHECK_DATA_BY_JOBS] * 2


def test_check_data_plan_is_one_union(frames, collected_plans):
    """check_data collects one union of the rules' summary frames: no
    one-row frame is cross-joined onto another."""
    df, ref = frames
    check_data({"main": df, "c": ref}, _rules(False, False))
    (plan,) = collected_plans
    assert "Union" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


@pytest.mark.parametrize("key", ["name", "expr", "tests", "pass", "fail"])
def test_group_key_colliding_with_output_raises(spark, key):
    """A group key named like one of check_data_by's own columns would give
    the result two columns of that name."""
    df = spark.createDataFrame([(1, 2)], f"`{key}` int, v int")
    with pytest.raises(ValueError, match=rf"group key\(s\) \['{key}'\] collide"):
        check_data_by(df, ruleset(rule("v > 0")), by=key)


def test_jobs_keep_callers_group_and_tags(spark, job_ids, frames):
    """Every job check_data runs for reference and uniqueness rules must
    carry the caller's job group and session tag, so cancelling by group or
    tag reaches them."""
    df, ref = frames
    sc = spark.sparkContext
    rs = ruleset(
        reference_rule("fk", "c", "cid", name="r1"),
        reference_rule("k", "c", "cid", name="r2"),
        unique_rule("k", name="u1"),
        unique_rule("fk", name="u2"),
    )
    group = f"dvfy-group-{uuid.uuid4().hex}"
    tag = f"dvfy-tag-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "check_data pool threads")
    spark.addTag(tag)
    try:
        ids = job_ids(lambda: check_data({"main": df, "c": ref}, rs).collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.removeTag(tag)
    assert len(ids) > 4
    assert set(ids) <= set(sc.statusTracker().getJobIdsForGroup(group))
    # a session tag reaches a job as "spark-session-<id>-thread-<id>-<tag>"
    store = sc._jsc.sc().statusStore()
    assert [i for i in ids if f"-{tag}" not in store.job(i).jobTags().toString()] == []


def _counts(rows) -> dict:
    return {r["name"]: (r["tests"], r["pass"], r["fail"], r["error"]) for r in rows}


class TestRuntimeErrors:
    """A rule that raises while the data is read (Spark 4's default ANSI
    mode) fails check_data's one shared action; each rule then runs alone,
    so the failure becomes that rule's error row and the other rules still
    report (R/check_data.R:301-315)."""

    @pytest.mark.parametrize("timing", ["shared", "per_rule"])
    def test_expression_rule_error_row(self, spark, timing):
        df = spark.createDataFrame([(3, 1), (2, 0), (1, 1)], "a int, b int")
        rs = ruleset(
            rule("a > 1", name="ok"),
            rule("a / b > 0", name="div"),
            rule("a %% b == 0", name="mod"),
        )
        got = _counts(check_data(df, rs, timing=timing).collect())
        assert got["ok"] == (3, 2, 1, "")
        assert got["div"][:3] == got["mod"][:3] == (3, 0, 3)
        assert got["div"][3].startswith("[DIVIDE_BY_ZERO]")
        assert got["mod"][3].startswith("[REMAINDER_BY_ZERO]")

    def test_reference_cast_error_row(self, spark):
        """The string FK 'abc' fails its cast to the int reference column
        inside the join."""
        df = spark.createDataFrame([("abc", 1), ("1", 2), ("3", 2)], "fk string, k int")
        ref = spark.createDataFrame([(1,), (3,)], "id int")
        rs = ruleset(
            rule("k > 1", name="expr"),
            reference_rule("fk", "r", "id", name="ref"),
            unique_rule("k", name="uniq"),
        )
        got = _counts(check_data({"m": df, "r": ref}, rs).collect())
        assert got["expr"] == (3, 2, 1, "")
        assert got["uniq"] == (3, 1, 2, "")
        assert got["ref"][:3] == (3, 0, 3)
        assert got["ref"][3].startswith("[CAST_INVALID_INPUT]")

    @pytest.mark.parametrize("timing", ["shared", "per_rule"])
    def test_zero_rows(self, frames, timing):
        df, ref = frames
        rs = _rules(False, False)
        rows = check_data({"main": df.filter("false"), "c": ref}, rs, timing=timing).collect()
        assert _counts(rows) == {n: (0, 0, 0, "") for n in ("expr", "ref", "uniq")}

    @pytest.mark.parametrize("timing", ["shared", "per_rule"])
    def test_unreadable_source_raises(self, spark, tmp_path, timing):
        """A source that fails under every rule raises, instead of turning
        into one error row per rule."""
        path = str(tmp_path / "gone")
        spark.range(10).write.parquet(path)
        df = spark.read.parquet(path)
        shutil.rmtree(path)
        with pytest.raises(Exception, match="FileNotFound|does not exist"):
            check_data(df, ruleset(rule("id > 1"), unique_rule("id")), timing=timing)

    def test_cancelled_call_raises(self, spark):
        """A job cancelled by its group stops the call: one job ran, and it
        neither restarts rule by rule nor becomes error rows.  The
        canceller keeps cancelling, so a call that restarted would run (and
        lose) more jobs in the group."""
        sc = spark.sparkContext
        group = f"dvfy-cancel-{uuid.uuid4().hex}"
        done = threading.Event()

        def cancel():
            while not done.is_set():
                if sc.statusTracker().getJobIdsForGroup(group):
                    sc.cancelJobGroup(group)
                time.sleep(0.05)

        canceller = threading.Thread(target=cancel, daemon=True)
        sc.setJobGroup(group, "cancelled check_data")
        canceller.start()
        try:
            df = spark.range(10**12).selectExpr("id AS a")
            with pytest.raises(Exception, match="SPARK_JOB_CANCELLED"):
                check_data(df, ruleset(rule("a > 1"), rule("a < 5")))
        finally:
            done.set()
            canceller.join(timeout=10)
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not canceller.is_alive()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
