import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataverifyr_spark.session import build_spark


@pytest.fixture(scope="session")
def spark():
    s = build_spark(
        master="local[8]",
        app_name="dataverifyr-spark-tests",
        shuffle_partitions=8,
        spark_ui_enabled="false",
        spark_driver_memory="4g",
    )
    yield s
    s.stop()


def _next_job_id(sc) -> int:
    """Id the next Spark job will get.  Job ids are sequential over the
    whole application, whatever thread, group or tag submits the job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    i = max(tracker.getJobIdsForGroup(None), default=-1) + 1
    while tracker.getJobInfo(i) is not None:
        i += 1
    return i


@pytest.fixture()
def job_ids(spark):
    """``job_ids(fn)``: ids of the Spark jobs ``fn()`` ran, by job-id delta
    (a job group would miss jobs submitted from other threads)."""

    def ids(fn) -> list[int]:
        sc = spark.sparkContext
        first = _next_job_id(sc)
        fn()
        return list(range(first, _next_job_id(sc)))

    return ids


@pytest.fixture()
def no_runtime_broadcast(spark):
    """AQE's runtime broadcast conversion races a join's shuffle stages, so
    the same plan can run a different number of jobs; job budgets are
    counted with that conversion off."""
    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


@pytest.fixture()
def collected_plans(spark, monkeypatch):
    """Physical plans of the frames ``collect()``-ed while the test runs: the
    plans a surface that returns a local result frame actually executed
    (AQE's final plan; the initial plan it also prints is cut off)."""
    plans: list[str] = []
    cls = type(spark.range(1))
    collect = cls.collect

    def recording(self):
        rows = collect(self)
        plan = self._jdf.queryExecution().executedPlan().toString()
        plans.append(plan.split("== Initial Plan ==")[0])
        return rows

    monkeypatch.setattr(cls, "collect", recording)
    return plans


@pytest.fixture()
def py4j_commands(spark):
    """``py4j_commands(fn)``: how many py4j commands ``fn()`` sent to the
    JVM from the calling thread — every Java call and attribute read.  The
    object releases py4j's finalizer thread sends are not counted: when
    they run depends on the garbage collector."""
    import threading

    client = spark.sparkContext._gateway._gateway_client

    def count(fn) -> int:
        sent = 0
        send, caller = client.send_command, threading.get_ident()

        def counting(*args, **kwargs):
            nonlocal sent
            sent += threading.get_ident() == caller
            return send(*args, **kwargs)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(client, "send_command", counting)
            fn()
        return sent

    return count
