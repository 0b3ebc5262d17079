"""Executor parity tests: (total, rows) contract, count degradation,
sanitization, response envelope (No_Sql.py:379-439; app_server.py:258-268)."""

import datetime

from nlp_to_nosql_spark.api import Engine
from nlp_to_nosql_spark.executor import execute, sanitize_row
from nlp_to_nosql_spark.ir import QuerySpec
from nlp_to_nosql_spark.timeout import budget_split


def test_total_is_prelimit_count(spark, employees):
    spec = QuerySpec(filter={"salary": {"$gt": 40000}}, limit=2)
    # generous budgets: this test asserts the exact count, so it must not
    # hit the (by-design) degradation path on a cold JVM
    total, rows, _ = execute(spark, spec, employees, query_timeout_s=120, count_timeout_s=120)
    assert len(rows) == 2
    assert total == 9  # all but Ivy (39999)


def test_empty_filter_count_fast_path(spark, employees):
    total, rows, _ = execute(spark, QuerySpec(limit=1000), employees)
    assert total == 10 and len(rows) == 10


def test_projection_in_rows(spark, employees):
    spec = QuerySpec(filter={}, projection=("name",), limit=1000)
    _, rows, _ = execute(spark, spec, employees)
    assert all(set(r.keys()) == {"name"} for r in rows)


def test_sanitize_row_stringifies_nonserializable():
    row = {"a": 1, "b": datetime.date(2024, 1, 1), "c": "x", "d": [1, 2], "e": None}
    out = sanitize_row(row)
    assert out["a"] == 1 and out["c"] == "x" and out["d"] == [1, 2] and out["e"] is None
    assert out["b"] == "2024-01-01"  # str() of date


def test_timestamp_columns_sanitized(spark):
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 5, 1, 12, 0, 0))], "id: long, ts: timestamp"
    )
    _, rows, _ = execute(spark, QuerySpec(limit=10), df)
    assert isinstance(rows[0]["ts"], str)


def test_count_degradation_on_failure(spark, employees, monkeypatch):
    import nlp_to_nosql_spark.executor as ex

    calls = {"n": 0}
    real = ex.run_with_timeout

    def flaky(spark_, action, timeout_s, group_desc=""):
        if group_desc == "execute:count":
            raise TimeoutError("simulated count timeout")
        return real(spark_, action, timeout_s, group_desc)

    monkeypatch.setattr(ex, "run_with_timeout", flaky)
    total, rows, exact = execute(spark, QuerySpec(limit=3), employees)
    assert total == len(rows) == 3  # degraded to len(results)
    assert exact is False


def _recording_run_with_timeout(monkeypatch, collect_sleep_s=0.0):
    """Patch the executor's guard: every action runs unguarded, the
    collect then sleeps ``collect_sleep_s`` (a slow collect), and each call
    is recorded as ``(group_desc, timeout_s, entered, returned)``."""
    import time

    import nlp_to_nosql_spark.executor as ex

    calls = []

    def recording(spark_, action, timeout_s, group_desc=""):
        entered = time.time()
        out = action()
        if group_desc.startswith("execute:collect"):
            time.sleep(collect_sleep_s)
        calls.append((group_desc, timeout_s, entered, time.time()))
        return out

    monkeypatch.setattr(ex, "run_with_timeout", recording)
    return calls


def test_short_collect_skips_count(spark, employees, monkeypatch):
    """Fewer rows than the limit: the collect saw every match, so
    len(rows) is the exact total and no count job is launched."""
    calls = _recording_run_with_timeout(monkeypatch)
    spec = QuerySpec(filter={"salary": {"$gt": 40000}}, limit=50)
    total, rows, exact = execute(spark, spec, employees)
    assert [c[0] for c in calls] == ["execute:collect limit=50"]
    assert total == len(rows) == 9 and exact is True


def test_count_runs_when_matches_equal_limit(spark, employees, monkeypatch):
    """Boundary: a full collect (matches == limit) cannot tell 9 matches
    from 900, so the count still runs and returns the limit."""
    calls = _recording_run_with_timeout(monkeypatch)
    spec = QuerySpec(filter={"salary": {"$gt": 40000}}, limit=9)
    total, rows, exact = execute(
        spark, spec, employees, query_timeout_s=120, count_timeout_s=120
    )
    assert [c[0] for c in calls] == ["execute:collect limit=9", "execute:count"]
    assert total == len(rows) == 9 and exact is True


def test_count_gets_only_what_the_collect_left(spark, employees, monkeypatch):
    """One request deadline: after a slow collect the count's budget is
    min(COUNT_TIMEOUT_S, remaining), never a fresh fixed 3 s."""
    from nlp_to_nosql_spark.executor import COUNT_TIMEOUT_S

    calls = _recording_run_with_timeout(monkeypatch, collect_sleep_s=1.5)
    eng = Engine(spark)
    eng.register("emp_deadline", employees)
    # timeout 5 → compile budget 0 s, DB budget 4 s (budget_split).
    resp = eng.query("Find all employees", "emp_deadline", limit=3, timeout_s=5.0)
    (_, _, collect_entered, collect_returned), (desc, count_timeout, _, _) = calls
    assert desc == "execute:count"
    assert count_timeout <= COUNT_TIMEOUT_S
    assert count_timeout <= 4.0 - (collect_returned - collect_entered)
    assert resp["total_matching"] == 10 and resp["count_exact"] is True


def test_no_budget_left_degrades_without_count(spark, employees, monkeypatch):
    """A collect that used the whole budget leaves nothing for the count:
    no count job, len(rows) as a lower bound, count_exact false."""
    calls = _recording_run_with_timeout(monkeypatch, collect_sleep_s=0.6)
    total, rows, exact = execute(
        spark, QuerySpec(limit=3), employees, query_timeout_s=0.5
    )
    assert [c[0] for c in calls] == ["execute:collect limit=3"]
    assert total == len(rows) == 3 and exact is False


def test_engine_envelope(spark, employees):
    eng = Engine(spark)
    eng.register("employees", employees)
    resp = eng.query("employees earning over 60000", "employees", limit=50)
    assert resp["ok"] is True
    assert resp["query"] == {"filter": {"salary": {"$gt": 60000}}, "projection": {}}
    assert resp["total_matching"] == 5 and resp["result_count"] == 5
    assert resp["count_exact"] is True
    assert {"execution_time", "query_generation_time", "db_execution_time"} <= set(resp)


def test_engine_rejects_empty(spark):
    eng = Engine(spark)
    try:
        eng.compile("   ")
        raise AssertionError("should have raised")
    except ValueError:
        pass


def test_budget_split_matches_reference_arithmetic():
    gen, db = budget_split(30.0)
    assert gen <= 21.0  # 70% cap
    assert db >= 2.0
    gen60, db60 = budget_split(60.0)
    assert gen60 == 25.0  # min(60-5, 25)
    assert db60 == 34.0


def test_run_with_timeout_cancels_runaway_job(spark):
    import pytest
    """R1/R3: a genuinely slow Spark action is cancelled at the budget and
    raises QueryTimeoutError promptly instead of running to completion."""
    import time

    from nlp_to_nosql_spark.timeout import QueryTimeoutError, run_with_timeout

    big = spark.range(2_000_000).crossJoin(spark.range(50_000))
    t0 = time.time()
    with pytest.raises(QueryTimeoutError):
        run_with_timeout(spark, lambda: big.count(), timeout_s=2.0, group_desc="runaway")
    assert time.time() - t0 < 30  # cancelled, not run to completion


# ---------------------------------------------------------------------------
# property: ANY natural-language input produces a valid envelope — the
# compile→execute path never raises (rule-compiler fallback is total)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_nl_words = st.sampled_from(
    ["employees", "salary", "above", "under", "50000", "age", "older",
     "30", "marketing", "engineers", "names", "experience", "than",
     "find", "all", "show", "earning", "more", "less", "hr", "человек",
     "''\"", "{}", "$gt", ""]
)


@given(
    st.lists(_nl_words, min_size=1, max_size=8)
    .map(" ".join)
    .filter(str.strip)
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_engine_query_total_on_arbitrary_nl(spark, employees, nl):
    eng = Engine(spark)
    eng.register("emp_fuzz", employees)
    resp = eng.query(nl, "emp_fuzz", limit=10)
    assert resp["ok"] is True
    assert isinstance(resp["query"], dict)
    assert resp["result_count"] == len(resp["results"])
    assert resp["total_matching"] >= resp["result_count"] or resp["result_count"] <= 10


def test_engine_rejects_blank_text(spark, employees):
    """Reference parity: empty/whitespace NL is rejected up front
    (No_Sql.py:213-214), not compiled to find-all."""
    import pytest as _pytest

    eng = Engine(spark)
    eng.register("emp_blank", employees)
    for blank in ("", "   "):
        with _pytest.raises(ValueError):
            eng.query(blank, "emp_blank")


def test_run_with_timeout_tag_path_for_connect():
    """On Spark Connect there is no SparkContext; the guard must fall back
    to session tags (addTag/interruptTag) — exercised with a duck-typed
    session since this container has no Connect server."""
    import threading
    import time as _time

    import pytest as _pytest

    from nlp_to_nosql_spark.timeout import QueryTimeoutError, run_with_timeout

    class FakeConnectSession:
        def __init__(self):
            self.tags, self.interrupted = [], []
            self.stop_event = threading.Event()

        @property
        def sparkContext(self):  # what pyspark.sql.connect raises
            raise AttributeError("sparkContext is not supported in Connect")

        def addTag(self, t):
            self.tags.append(t)

        def removeTag(self, t):
            pass

        def interruptTag(self, t):
            self.interrupted.append(t)
            self.stop_event.set()

    fake = FakeConnectSession()

    # fast action completes through the tag path
    assert run_with_timeout(fake, lambda: 42, timeout_s=5.0) == 42
    assert len(fake.tags) == 1

    # slow action: interruptTag fires and QueryTimeoutError raises
    def slow():
        fake.stop_event.wait(10)
        return "late"

    t0 = _time.time()
    with _pytest.raises(QueryTimeoutError, match="tag "):
        run_with_timeout(fake, slow, timeout_s=0.3)
    assert _time.time() - t0 < 5
    assert fake.interrupted == fake.tags[1:]
