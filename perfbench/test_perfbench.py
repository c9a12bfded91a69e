"""Tests of the benchmark's own machinery.

Run with:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from datetime import datetime, timedelta
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def test_uncovered_s_merges_overlapping_spans():
    spans = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (-5.0, 0.5), (9.0, 20.0)]
    # [0, 10]: busy 0-0.5, 1-4, 6-7, 9-10 -> 5.5 s busy
    assert layers.uncovered_s(0.0, 10.0, spans) == pytest.approx(4.5)
    assert layers.uncovered_s(0.0, 1.0, []) == pytest.approx(1.0)


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    pct, v = layers.tail(xs)
    assert (pct, v) == (90.0, 90)
    assert sum(x > v for x in xs) >= 10
    # too few samples: the upper median, never below the median
    for n in range(1, 21):
        xs = [float(i) for i in range(n)]
        assert layers.tail(xs)[1] >= layers.median(xs)


def test_tables_repeat_per_seed_and_differ_across_seeds():
    a, b, c = gen.make_tables(7, 0.001), gen.make_tables(7, 0.001), gen.make_tables(8, 0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])


def test_stream_files_stay_inside_the_alert_watermark():
    files = gen.stream_files(3, 40, 50, 20)
    assert files == gen.stream_files(3, 40, 50, 20)
    assert sorted(r["event_id"] for f in files for r in f) == list(range(40 * 50))
    seen = datetime.fromisoformat(files[0][0]["ts"])
    for rows in files:  # no event may arrive later than the 30-minute delay
        ts = [datetime.fromisoformat(r["ts"]) for r in rows]
        assert min(ts) > seen - timedelta(minutes=30)
        seen = max(seen, max(ts))


def test_benchmark_json_names_every_reported_metric():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "pass_s", "latency_p50_s", "latency_tail_s", "peak_rss_mb"
    }


@pytest.fixture(scope="module")
def spark():
    from real_time_fraud_revenue_intelligence_lakehouse_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_stage_sums_cover_every_job_in_the_group(spark):
    sc = spark.sparkContext
    df = spark.range(0, 20000, 1, 4).selectExpr("id % 7 AS k", "id AS v")
    agg = df.groupBy("k").sum("v")
    sc.setJobGroup("perfbench-test-group", "test")
    try:
        agg.write.format("noop").mode("overwrite").save()
        agg.cache()
        agg.count()
        agg.count()  # re-reads the cache: a job whose shuffle stages are skipped
    finally:
        sc.setJobGroup(None, None)
        agg.unpersist()

    phase = layers.JobTrace(sc).phase("perfbench-test-group")
    store = sc._jsc.sc().statusStore()
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup("perfbench-test-group"))
    assert phase.jobs == job_ids and len(job_ids) >= 3

    run_stages, skipped = set(), set()
    for j in job_ids:
        for sid in to_java(store.job(j).stageIds()):
            status = store.lastStageAttempt(sid).status().toString()
            (skipped if status == "SKIPPED" else run_stages).add(sid)
    assert skipped, "the cached re-read should skip its shuffle stages"
    # every stage of every job is either summed or counted as skipped
    assert set(phase.stages) == run_stages
    assert phase.skipped_stages == len(skipped - run_stages)
    # the sums are exactly the sums over those stages
    tasks = sum(store.lastStageAttempt(s).numTasks() for s in run_stages)
    run_ms = sum(store.lastStageAttempt(s).executorRunTime() for s in run_stages)
    shuffle_w = sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in run_stages)
    assert phase.sums["tasks"] == tasks
    assert phase.sums["executor_run_s"] == pytest.approx(run_ms / 1e3)
    assert phase.sums["shuffle_write_bytes"] == shuffle_w > 0
    assert len(phase.job_spans) == len(job_ids)
