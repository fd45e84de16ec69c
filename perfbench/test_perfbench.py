"""Tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from perfbench import eventlog, oracle
from perfbench.harness import Span, percentile, summarize, tail_percentile
from perfbench.run import call_table, leg_samples
from perfbench.workloads import Leg


def _task(stage: int, kind: str, launch: int, finish: int, run_ms: int, py_ms: int = 0,
          shuffle: int = 0, spill: int = 0, rows: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Type": kind,
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish,
            "Accumulables": [{"Name": eventlog.PYTHON_RUN_METRIC, "Update": str(py_ms)}],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Records Read": rows},
        },
    }


def _stage(stage: int, group: str | None, submitted: int, completed: int) -> list[dict]:
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
         "Properties": props},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": stage, "Submission Time": submitted, "Completion Time": completed}},
    ]


def _job(job: int, group: str | None, start: int, end: int) -> list[dict]:
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": start,
         "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": end},
    ]


# A call "build#0" with a map stage (2 tasks) and a longer reduce stage
# (3 tasks, one straggler); a second call "query#1"; one ungrouped job.
EVENTS = [
    *_job(0, "build#0", 1_000, 2_000),
    *_stage(0, "build#0", 1_000, 1_300),
    _task(0, "ShuffleMapTask", 1_000, 1_200, 150, py_ms=100, shuffle=500, rows=10),
    _task(0, "ShuffleMapTask", 1_000, 1_300, 250, py_ms=200, shuffle=700, rows=20),
    *_job(1, "build#0", 2_500, 3_000),
    *_stage(1, "build#0", 2_500, 3_000),
    _task(1, "ResultTask", 2_500, 2_600, 90, spill=64),
    _task(1, "ResultTask", 2_500, 2_600, 80),
    _task(1, "ResultTask", 2_500, 2_900, 380),
    *_job(2, "query#1", 5_000, 5_400),
    *_stage(2, "query#1", 5_000, 5_400),
    _task(2, "ResultTask", 5_000, 5_400, 400, py_ms=300, rows=5),
    *_job(3, None, 6_000, 6_100),
    *_stage(3, None, 6_000, 6_100),
    _task(3, "ResultTask", 6_000, 6_100, 100),
]


def test_reducer_attributes_jobs_stages_and_tasks_per_group():
    stats = eventlog.reduce_groups(EVENTS)
    assert set(stats) == {"build#0", "query#1"}
    b = stats["build#0"]
    assert (b.jobs, b.stages, b.tasks) == (2, 2, 5)
    assert b.task_s == pytest.approx(0.95)
    assert b.map_task_s == pytest.approx(0.40)
    assert b.reduce_task_s == pytest.approx(0.55)
    assert b.python_s == pytest.approx(0.30)
    assert (b.shuffle_bytes, b.spill_bytes, b.input_rows) == (1200, 64, 30)
    # longest stage is the reduce (500 ms): task durations 100, 100, 400
    assert b.skew == pytest.approx(4.0)
    q = stats["query#1"]
    assert (q.jobs, q.stages, q.tasks, q.skew) == (1, 1, 1, 1.0)
    assert q.python_s == pytest.approx(0.3)


def test_reducer_driver_time_is_wall_not_covered_by_jobs():
    stats = eventlog.reduce_groups(EVENTS)
    # the call spans 0.5 s .. 3.5 s; jobs cover 1.0-2.0 and 2.5-3.0
    assert stats["build#0"].covered_s(0.5, 3.5) == pytest.approx(1.5)
    # clipped to the span: only 1.5-2.0 and 2.5-2.8 fall inside
    assert stats["build#0"].covered_s(1.5, 2.8) == pytest.approx(0.8)
    span = Span("build", "build#0", t0=0.5, t1=3.5, dur=3.0, cpu=0.1)
    run = type("R", (), {"spans": [span]})()
    row = call_table(run, stats)["build"][0]
    assert row["driver_s"] == pytest.approx(1.5)
    assert row["jobs"] == 2


def test_leg_sums_its_spans_per_cycle():
    spans = [Span("a", "a#0", 0, 1, 1.0, 0.1), Span("b", "b#1", 1, 3, 2.0, 0.2),
             Span("a", "a#2", 3, 4, 1.5, 0.1), Span("b", "b#3", 4, 5, 1.0, 0.3)]
    run = type("R", (), {"spans": spans})()
    rows = leg_samples(run, Leg("ab", ("a", "b")), call_table(run, {}))
    assert [r["wall_s"] for r in rows] == pytest.approx([3.0, 2.5])
    free = leg_samples(run, Leg("a", ("a",), spark=False), call_table(run, {}))
    assert free[0]["driver_s"] == free[0]["wall_s"] == 1.0
    assert free[0]["jobs"] == 0 and free[0]["python_s"] == pytest.approx(0.1)


@pytest.mark.parametrize("n,expected", [
    (1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_summarize_reports_median_tail_and_count():
    values = [float(v) for v in range(1, 101)]
    s = summarize(values)
    assert s == {"n": 100, "p50": 50.5, "p90": 90.0}
    assert percentile(values, 90.0) == 90.0
    assert summarize([3.0]) == {"n": 1, "p50": 3.0}


def _tiny_corpus():
    import pandas as pd

    return pd.DataFrame({
        "doc_id": np.arange(6, dtype="int64"),
        "text": ["a b c", "a a d", "b c c e", "", "d e e e", "a b c d e"],
    })


def test_oracle_check_accepts_exact_hits():
    docs = _tiny_corpus()
    want = oracle.oracle_hits(docs, "a e", 3)
    assert len(want) == 3
    assert oracle.check(docs, {"q": "a e"}, {"q": list(want)}, 3) == ([], [])


def test_oracle_check_flags_a_score_one_ulp_off():
    docs = _tiny_corpus()
    want = oracle.oracle_hits(docs, "a e", 3)
    doc, score = want[1]
    perturbed = list(want)
    perturbed[1] = (doc, float(np.nextafter(score, np.inf)))
    for spark_ln in (False, True):
        bad, ln_only = oracle.check(docs, {"q": "a e"}, {"q": perturbed}, 3, spark_ln=spark_ln)
        assert len(bad) == 1 and "rank 2" in bad[0] and ln_only == []


def test_oracle_check_flags_wrong_order_and_missing_query():
    docs = _tiny_corpus()
    want = oracle.oracle_hits(docs, "a e", 3)
    swapped = [want[1], want[0], want[2]]
    assert oracle.check(docs, {"q": "a e"}, {"q": swapped}, 3)[0]
    assert oracle.check(docs, {"q": "a e"}, {}, 3)[0]
    # a query that matches nothing is correct when it returns nothing
    assert oracle.check(docs, {"q": "zzz"}, {}, 3) == ([], [])


def test_fdlibm_log_matches_spark_ln():
    # (x, Spark SQL ln(x)) pairs on which Python's math.log differs in the
    # last bit; the port agrees with Spark, and with math.log elsewhere
    for x, spark in [(390.9924812030075, 5.968688330140646),
                     (319.03067484662574, 5.765287257555638),
                     (137.2084432717678, 4.921501253279974),
                     (2.666666666666667, 0.9808292530117264)]:
        assert oracle.fdlibm_log(x) == spark != math.log(x)
    for x in (1.0, 2.0, 0.5, 1e-310, 1.0 + 2**-40, 1e300):
        assert math.isclose(oracle.fdlibm_log(x), math.log(x), rel_tol=1e-15)
    assert oracle.fdlibm_log(1.0) == 0.0 and oracle.fdlibm_log(0.0) == -math.inf


def test_oracle_check_tells_the_spark_ln_idf_apart():
    import pandas as pd

    # 3 docs, "a" in one: idf = ln(1 + 2.5/1.5), where the two logs differ
    docs = pd.DataFrame({"doc_id": np.arange(3, dtype="int64"), "text": ["a b", "b", "b c"]})
    strict = oracle.oracle_hits(docs, "a", 3)
    spark = oracle.oracle_hits(docs, "a", 3, spark_ln=True)
    assert [d for d, _ in spark] == [d for d, _ in strict] and spark != strict
    assert len(oracle.check(docs, {"q": "a"}, {"q": spark}, 3)[0]) == 1
    bad, ln_only = oracle.check(docs, {"q": "a"}, {"q": spark}, 3, spark_ln=True)
    assert bad == [] and len(ln_only) == 1
    assert oracle.check(docs, {"q": "a"}, {"q": strict}, 3, spark_ln=True) == ([], [])
