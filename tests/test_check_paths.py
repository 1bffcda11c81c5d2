"""check_data is the no-key case of check_data_by: every rule kind has one
evaluator taking the group keys.  These tests pin that the two paths agree
on every flag combination, how many Spark jobs each runs, and that the jobs
check_data submits from its pool threads keep the caller's job group and
tags."""

import itertools
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

    CHECK_DATA_JOBS = 10
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


def test_pool_jobs_keep_callers_group_and_tags(spark, job_ids, frames):
    """check_data evaluates reference and uniqueness rules on pool threads;
    every job they run must carry the caller's job group and session tag,
    so cancelling by group or tag reaches them."""
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
