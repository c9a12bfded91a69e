"""Open-loop stream ingest workload.

A generator thread drops JSON event files into the source directory on
a fixed schedule, whether or not the system keeps up. Three queries
read that one source concurrently on a common processing-time
trigger, each through the package's streaming calls:

- ``bronze``: ``read_file_stream`` -> ``stamp_bronze`` ->
  ``start_append_sink`` (partitioned parquet append with checkpoint);
- ``profiles``: ``running_user_profiles`` (applyInPandasWithState) into
  an update-mode memory sink;
- ``alerts``: ``score_stream`` -> ``high_risk_alerts`` (watermarked
  tumbling windows) into an append-mode memory sink.

A file's latency runs from its *scheduled* drop time to the commit of
the last of the three sinks' micro-batches that included it, so a
stall also delays every file queued behind it. Which batch read which
file comes from each query's checkpoint source log; when that batch
committed comes from its ``StreamingQueryProgress``.

After the live segment, ``pass`` is one ``availableNow`` bronze
backfill of a fixed backlog of files; two untimed backfills warm that
path first, then several are timed.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from datetime import datetime, timezone
from pathlib import Path

from layers import JobTrace, median

#: 1000 events/s, 20x the reference's sustained ingest rate; on a 4-core
#: host the three queries keep up with it (no growing backlog), so file
#: latency measures micro-batch work rather than an unbounded queue.
RATE_FILES_PER_S = 5.0
EVENTS_PER_FILE = 200
#: Every live sink runs on this processing-time trigger, as a deployed
#: ingest does. Spark aligns the three queries' triggers to the same
#: clock, so they start their micro-batches together; on a 4-core host
#: a round of three finishes before the next is due, and file latency is
#: the wait for the next trigger plus one round of micro-batches.
TRIGGER_S = 3
#: The backlog: few, large files, so a backfill's time is mostly reading
#: and writing events rather than per-file listing and planning.
BACKLOG_FILES = 40
BACKLOG_EVENTS_PER_FILE = 2500
#: The first backfills of a run read 20-40% slower while the JIT warms
#: the file-source listing and parquet write paths; they are not timed.
BACKFILL_WARMUPS = 2
BACKFILLS = 5
#: wall of the warm-up and timed backfills on a 4-core host; the rest
#: of a run's --seconds is the live generator's
BACKFILL_WINDOW_S = 12.0
WARMUP_FILES = 1
DRAIN_TIMEOUT_S = 60.0
#: the scoring model: one feature, alerts at fraud_score >= 0.7
WEIGHTS = {"bias": -1.0, "value": 5.0}
FEATURES = ("value",)
SCALES = {"value": 500.0}
SINKS = ("bronze", "profiles", "alerts")


def write_files(dest: Path, files: list[list[dict]], prefix: str) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    for i, rows in enumerate(files):
        (dest / f"{prefix}-{i:05d}.json").write_text("".join(json.dumps(r) + "\n" for r in rows))


def _iso(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def file_batches(checkpoint: Path, progress: list[dict]) -> dict[str, int]:
    """File name -> id of the query batch that read it.

    The checkpoint's file-source log numbers files by *source* batch;
    each StreamingQueryProgress gives the source offsets the query
    batch covered, so a file belongs to the batch whose
    (startOffset, endOffset] range holds its source batch id."""
    log = checkpoint / "sources" / "0"
    source_batch: dict[str, int] = {}
    if log.is_dir():
        for entry in log.iterdir():
            if entry.name.startswith("."):
                continue
            for line in entry.read_text().splitlines()[1:]:
                if line.strip():
                    rec = json.loads(line)
                    source_batch[rec["path"].rsplit("/", 1)[-1]] = rec["batchId"]
    def log_offset(off) -> int:
        if not off:
            return -1
        return (json.loads(off) if isinstance(off, str) else off)["logOffset"]

    ranges = []
    for p in progress:
        src = p["sources"][0]
        if p["numInputRows"] > 0:
            ranges.append((log_offset(src.get("startOffset")), log_offset(src.get("endOffset")), p["batchId"]))
    out = {}
    for name, sb in source_batch.items():
        for start, end, batch_id in ranges:
            if start < sb <= end:
                out[name] = batch_id
                break
    return out


class Generator(threading.Thread):
    """Drops staged files into ``dest`` at ``rate`` files per second.

    Each file is written under a hidden name and renamed into place, so
    the file source never lists a half-written file. Records when each
    file was due and when it landed."""

    def __init__(self, files: list[Path], dest: Path, rate: float):
        super().__init__(daemon=True)
        self.files = files
        self.dest, self.rate = dest, rate
        self.due: dict[str, float] = {}
        self.landed: dict[str, float] = {}
        self.start_at = 0.0
        self.stop_flag = threading.Event()

    def run(self) -> None:
        self.start_at = time.time() + 0.5
        for i, src in enumerate(self.files):
            due = self.start_at + i / self.rate
            delay = due - time.time()
            if delay > 0 and self.stop_flag.wait(delay):
                return
            tmp = self.dest / f".{src.name}"
            tmp.write_bytes(src.read_bytes())
            os.rename(tmp, self.dest / src.name)
            self.due[src.name], self.landed[src.name] = due, time.time()


def _start_live(spark, src: Path, work: Path) -> dict:
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import (
        read_file_stream,
        stamp_bronze,
        start_append_sink,
    )
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import (
        high_risk_alerts,
        score_stream,
    )
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        running_user_profiles,
    )

    ck = {s: work / "ckpt" / s for s in SINKS}
    return {
        "bronze": start_append_sink(
            stamp_bronze(read_file_stream(spark, str(src))),
            str(work / "bronze"),
            str(ck["bronze"]),
            partition_by=["event_date"],
            trigger_seconds=TRIGGER_S,
        ),
        "profiles": running_user_profiles(read_file_stream(spark, str(src)))
        .writeStream.format("memory")
        .queryName("perfbench_profiles")
        .outputMode("update")
        .trigger(processingTime=f"{TRIGGER_S} seconds")
        .option("checkpointLocation", str(ck["profiles"]))
        .start(),
        "alerts": high_risk_alerts(
            score_stream(read_file_stream(spark, str(src)), WEIGHTS, FEATURES, SCALES)
        )
        .writeStream.format("memory")
        .queryName("perfbench_alerts")
        .outputMode("append")
        .trigger(processingTime=f"{TRIGGER_S} seconds")
        .option("checkpointLocation", str(ck["alerts"]))
        .start(),
    }


def _rows_in(q) -> int:
    return sum(p["numInputRows"] for p in q.recentProgress)


def backfill(spark, backlog: Path, out: Path) -> tuple[float, object]:
    """One availableNow bronze drain of ``backlog``; returns (wall, query)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import (
        read_file_stream,
        stamp_bronze,
        start_append_sink,
    )

    t0 = time.perf_counter()
    q = start_append_sink(
        stamp_bronze(read_file_stream(spark, str(backlog))),
        str(out / "bronze"),
        str(out / "ckpt"),
        partition_by=["event_date"],
        available_now=True,
    )
    q.awaitTermination(DRAIN_TIMEOUT_S)
    wall = time.perf_counter() - t0
    if q.isActive:
        q.stop()
        raise RuntimeError("backfill did not drain in time")
    if q.exception() is not None:
        raise RuntimeError(f"backfill failed: {q.exception()}")
    return wall, q


def _wait_until(queries: dict, ready, timeout_s: float) -> bool:
    """Poll until ``ready()`` holds; raise as soon as a query fails."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        for name, q in queries.items():
            if q.exception() is not None:
                raise RuntimeError(f"stream {name} failed: {q.exception()}")
        if ready():
            return True
        time.sleep(0.05)
    return False


def run_live(spark, staged: Path, work: Path, n_events: int, watermark_end: str) -> dict:
    """The live segment: start the three queries, let them read the
    first WARMUP_FILES staged files one micro-batch at a time (the
    first batches pay one-off planning, code generation and state-store
    set-up, which is not what a running stream costs), then run the
    generator over the remaining files, wait until every sink has read
    every event and the alert rollup has applied the final watermark,
    and stop."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import clear_cache

    clear_cache()
    src = work / "src"
    src.mkdir(parents=True)
    files = sorted(p for p in staged.iterdir() if p.suffix == ".json")
    queries = _start_live(spark, src, work)
    gen = Generator(files[WARMUP_FILES:], src, RATE_FILES_PER_S)
    errors: list[str] = []
    t0 = time.perf_counter()
    try:
        for i, f in enumerate(files[:WARMUP_FILES]):
            shutil.copy(f, src / f.name)
            n = (i + 1) * EVENTS_PER_FILE
            if not _wait_until(queries, lambda: all(_rows_in(q) >= n for q in queries.values()),
                               DRAIN_TIMEOUT_S):
                raise RuntimeError("streams did not read the warm-up files")
        gen.start()
        gen.join()

        def drained() -> bool:
            last = queries["alerts"].lastProgress
            return (
                all(_rows_in(q) >= n_events for q in queries.values())
                and bool(last)
                and last.get("eventTime", {}).get("watermark") == watermark_end
            )

        if not _wait_until(queries, drained, DRAIN_TIMEOUT_S):
            errors.append("live segment did not drain before the timeout")
    finally:
        gen.stop_flag.set()
        if gen.is_alive():
            gen.join()
        for q in queries.values():
            q.stop()
    wall = time.perf_counter() - t0
    progress = {n: [json.loads(p.json) for p in q.recentProgress] for n, q in queries.items()}
    # a file's latency: scheduled drop -> commit of the last sink batch holding it
    commit = {
        n: {p["batchId"]: _iso(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
            for p in ps}
        for n, ps in progress.items()
    }
    where = {n: file_batches(work / "ckpt" / n, progress[n]) for n in SINKS}
    latency, done_at = {}, {}
    for f, due in gen.due.items():
        ends = [commit[n].get(where[n].get(f, -1)) for n in SINKS]
        if all(e is not None for e in ends):
            done_at[f] = max(ends)
            latency[f] = done_at[f] - due
    return {
        "queries": queries,
        "progress": progress,
        "where": where,
        "latency": latency,
        "due": gen.due,
        "landed": gen.landed,
        "done_at": done_at,
        "errors": errors,
        "wall_s": wall,
    }


def max_backlog(due: dict[str, float], done_at: dict[str, float]) -> int:
    """Most files dropped but not yet committed by every sink at once."""
    events = sorted([(t, 1) for t in due.values()] + [(t, -1) for t in done_at.values()])
    depth = best = 0
    for _, step in events:
        depth += step
        best = max(best, depth)
    return best


def stream_layers(spark, live: dict, backfills: list) -> dict:
    """Per-layer figures. ``streaming.*`` come from the live queries'
    StreamingQueryProgress; ``spark.*`` and ``sources.*`` are the stage
    sums of one backfill (median over the backfills), a fixed amount of
    work whose job count does not depend on how the live files happened
    to fall into micro-batches."""
    rows, dur = [], {k: [] for k in ("triggerExecution", "addBatch", "queryPlanning", "latestOffset")}
    commits, state_rows, state_bytes = [], 0, 0
    for ps in live["progress"].values():
        data = [p for p in ps if p["numInputRows"] > 0]
        rows += [p["numInputRows"] for p in data]
        for p in data:
            d = p["durationMs"]
            for k in dur:
                dur[k].append(d.get(k, 0) / 1e3)
            commits.append((d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
        if ps:
            ops = ps[-1].get("stateOperators", [])
            state_rows += sum(o["numRowsTotal"] for o in ops)
            state_bytes += sum(o["memoryUsedBytes"] for o in ops)
    lag = [live["landed"][f] - live["due"][f] for f in live["due"]]

    def med(xs: list[float]) -> float:
        return median(xs) if xs else 0.0

    out = {
        "streaming.batches": float(len(rows)),
        "streaming.rows_per_batch": med(rows),
        "streaming.trigger_s": med(dur["triggerExecution"]),
        "streaming.add_batch_s": med(dur["addBatch"]),
        "streaming.planning_s": med(dur["queryPlanning"]),
        "streaming.latest_offset_s": med(dur["latestOffset"]),
        "streaming.commit_s": med(commits),
        "streaming.state_rows": float(state_rows),
        "streaming.state_bytes": float(state_bytes),
        "streaming.backlog_files": float(max_backlog(live["due"], live["done_at"])),
        "gen.lag_max_s": max(lag, default=0.0),
    }
    tracer = JobTrace(spark.sparkContext)
    per_fill = []
    for wall, q in backfills:
        p = tracer.phase(str(q.runId))
        per_fill.append(
            {
                "spark.exec_s": wall,
                "spark.exec_jobs": float(len(p.jobs)),
                "spark.stages": float(len(p.stages)),
                "spark.tasks": p.sums["tasks"],
                "spark.executor_run_s": p.sums["executor_run_s"],
                "spark.executor_cpu_s": p.sums["executor_cpu_s"],
                "spark.gc_s": p.sums["gc_s"],
                "spark.shuffle_read_bytes": p.sums["shuffle_read_bytes"],
                "spark.shuffle_write_bytes": p.sums["shuffle_write_bytes"],
                "spark.spill_bytes": p.sums["spill_bytes"],
                "spark.core_busy_ratio": p.sums["executor_run_s"]
                / (wall * spark.sparkContext.defaultParallelism),
                "sources.scan_bytes": p.sums["scan_bytes"],
                "sources.scan_records": p.sums["scan_records"],
            }
        )
    for k in per_fill[0] if per_fill else ():
        out[k] = median([f[k] for f in per_fill])
    return out


def batch_records(spark, live: dict) -> list[dict]:
    """One JSON record per micro-batch of every live sink: its progress
    (rows, durations, watermark, state), the files it read, and its
    jobs, stages and stage sums."""
    tracer = JobTrace(spark.sparkContext)
    out = []
    for name, ps in live["progress"].items():
        files_of: dict[int, list[str]] = {}
        for f, b in live["where"][name].items():
            files_of.setdefault(b, []).append(f)
        jobs_of = tracer.stream_batches(str(live["queries"][name].runId))
        for p in ps:
            jobs = jobs_of.get(p["batchId"], [])
            out.append(
                {
                    "sink": name,
                    "batch": p["batchId"],
                    "timestamp": p["timestamp"],
                    "rows": p["numInputRows"],
                    "durations_ms": p["durationMs"],
                    "watermark": p.get("eventTime", {}).get("watermark"),
                    "state": [
                        {k: o[k] for k in ("numRowsTotal", "memoryUsedBytes", "numRowsUpdated")}
                        for o in p.get("stateOperators", [])
                    ],
                    "files": sorted(files_of.get(p["batchId"], [])),
                    "spark": tracer.phase(name, jobs).record() if jobs else None,
                }
            )
    return out


def final_watermark(files: list[list[dict]]) -> tuple[str, str]:
    """The alert rollup's watermark after the last event (max event
    time minus its 30-minute delay, in milliseconds), as a Spark
    timestamp literal and as StreamingQueryProgress prints it."""
    from datetime import timedelta

    latest = max(datetime.fromisoformat(r["ts"]) for rows in files for r in rows)
    wm = latest - timedelta(minutes=30)
    wm = wm.replace(microsecond=wm.microsecond // 1000 * 1000)
    return wm.isoformat(sep=" "), wm.strftime("%Y-%m-%dT%H:%M:%S.") + f"{wm.microsecond // 1000:03d}Z"


def check_outputs(spark, work: Path, staged: Path, filled: list[Path], backlog_events: int,
                  n_events: int, watermark: str) -> list[str]:
    """Bronze row counts equal the events generated; the alert rollup
    and the final profiles equal their batch twins over the same events.
    The three checks run concurrently (they are untimed)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import EVENTS_SCHEMA
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import (
        high_risk_alerts,
        score_stream,
    )
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        running_user_profiles_batch,
    )

    events = spark.read.schema(EVENTS_SCHEMA).json(str(staged))

    def bronze() -> list[str]:
        out = []
        got = spark.read.parquet(str(work / "bronze")).count()
        if got != n_events:
            out.append(f"bronze rows {got} != events generated {n_events}")
        for d in filled:
            got = spark.read.parquet(str(d / "bronze")).count()
            if got != backlog_events:
                out.append(f"{d.name} rows {got} != backlog events {backlog_events}")
        return out

    def profiles() -> list[str]:
        want = {
            (r["user_id"], r["total_events"], r["total_value"])
            for r in running_user_profiles_batch(events, F.lit("all")).collect()
        }
        final: dict[int, tuple] = {}
        for r in spark.table("perfbench_profiles").collect():
            if r["user_id"] not in final or r["total_events"] > final[r["user_id"]][1]:
                final[r["user_id"]] = (r["user_id"], r["total_events"], r["total_value"])
        got = set(final.values())
        if got != want:
            return [f"final profiles differ from the batch twin on {len(got ^ want)} rows"]
        return []

    def alerts() -> list[str]:
        # the stream emits exactly the windows its final watermark closed
        got = {
            (r["window_start"], r["n_alerts"], r["score_mass"])
            for r in spark.table("perfbench_alerts").collect()
        }
        closed = F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(watermark).cast("timestamp")
        want = {
            (r["window_start"], r["n_alerts"], r["score_mass"])
            for r in high_risk_alerts(score_stream(events, WEIGHTS, FEATURES, SCALES), watermark=None)
            .filter(closed)
            .collect()
        }
        if not want or got != want:
            return [f"alert rollup differs from the batch twin: {len(got)} vs {len(want)} windows"]
        return []

    with ThreadPoolExecutor(3) as pool:
        futures = [pool.submit(f) for f in (bronze, profiles, alerts)]
        return [msg for f in futures for msg in f.result()]
