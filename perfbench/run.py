"""Lakehouse benchmark: one workload, one seed, one process.

Usage:
  python3 perfbench/run.py --workload {kpi_and_models,stream_ingest}
                           --seed N --seconds S --trace {0,1}

Generates the workload's inputs from ``--seed``, sets up a ``local[4]``
Spark session three times (``setup_s`` is the median), checks the
program's outputs once outside the timed window, then measures for
about ``--seconds`` (batch: the timed passes; stream: the live
generator's period plus the timed backfills). Prints a report line (run header, every named
metric, query orders, failures), then as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics (the
traced run also writes a per-query / per-batch record under
``.perfbench/out/``).

Workloads (see batch.py and stream.py for what each runs and why):
  kpi_and_models  closed loop, one client, a seeded query order per pass
  stream_ingest   open loop, a generator thread dropping event files on
                  a fixed schedule into three concurrent streaming queries

End-to-end metrics and what they mean per workload:
  setup_s         session start + JVM / Python-worker warm-up (+ staging
                  the stream input), median of three set-ups; the first
                  also launches the JVM, so the median is a restart
  pass_s          batch: median wall of one timed pass over the
                  workload's queries (at least four, after the output
                  check has run every query once); stream:
                  median wall of one availableNow backfill of the fixed
                  backlog (five timed, after two untimed warm-ups)
  latency_p50_s   batch: query build + exec; stream: per-file latency
                  from scheduled drop to the last sink's commit
  latency_tail_s  the same at the highest percentile with at least ten
                  samples beyond it (the percentile is in the report)
  peak_rss_mb     summed peak RSS of the Spark JVM (fixed 1 GB heap,
                  pre-touched) and its Python workers

The report line also carries these figures under their per-workload names
(query_p50_s, event_latency_pNN_s, backfill_events_per_s,
failed_ops_ratio), and the share of CPU time the host stole from this
machine during the run: timings move with it, so compare runs with it
in view. Per-layer metrics a workload does not exercise read
0 (plans.* on the stream); trace.overhead_s is traced minus untraced
pass_s on the batch workload and 0 on the stream, whose trace is read
after its timed work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import session  # noqa: E402
from layers import cpu_jiffies  # noqa: E402

SF = 0.01
SETUPS = 3
WORKLOADS = ("kpi_and_models", "stream_ingest")

#: Per-layer metrics and units, reported by every workload with
#: ``--trace 1`` (0 where the workload does not exercise the layer).
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_stages": "count",
    "plans.build_tasks": "count",
    "plans.build_executor_run_s": "s",
    "plans.driver_gap_s": "s",
    "plans.memo_builds": "count",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_busy_ratio": "ratio",
    "sources.scan_bytes": "bytes",
    "sources.scan_records": "count",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.backlog_files": "count",
    "gen.lag_max_s": "s",
    "trace.overhead_s": "s",
}


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run_batch(args, work: Path) -> tuple[dict, dict, int, list[str], dict]:
    import batch
    import gen
    from layers import median, tail, tree_peak_rss_mb

    data = gen.write_tables(work / "data", args.seed, SF)
    spark, setups = session.timed_setups(SETUPS)
    hdr = session.header(spark, args.workload, args.seed, SF, args.seconds, bool(args.trace))
    names = batch.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    checked, failures = batch.check_outputs(spark, names, data)
    check_s = time.perf_counter() - t0
    window = batch.run_window(spark, args.workload, args.seed, args.seconds, data, bool(args.trace))
    rss = tree_peak_rss_mb(os.getpid())
    passes = window["passes"]
    failures += [e for p in passes for e in p["errors"]]
    attempted = checked + sum(len(p["order"]) for p in passes)
    lat = [q["latency_s"] for p in passes for q in p["queries"]]
    pct, tail_s = tail(lat)
    e2e = {
        "setup_s": _metric(median(setups), "s"),
        "pass_s": _metric(median([p["wall_s"] for p in passes]), "s"),
        "latency_p50_s": _metric(median(lat), "s"),
        "latency_tail_s": _metric(tail_s, "s"),
        "peak_rss_mb": _metric(rss, "MB"),
    }
    report = {
        "header": hdr,
        "named": {
            "setup_s": [e2e["setup_s"]["value"], "s"],
            "pass_s": [e2e["pass_s"]["value"], "s"],
            "query_p50_s": [e2e["latency_p50_s"]["value"], "s"],
            f"query_p{pct:g}_s": [tail_s, "s"],
            "failed_ops_ratio": [len(failures) / attempted, "ratio"],
            "peak_rss_mb": [rss, "MB"],
        },
        "setup_runs_s": setups,
        "check_s": check_s,
        "passes": len(passes),
        "pass_walls_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "window_s": window["window_s"],
        "query_samples": len(lat),
        "tail_percentile": pct,
        "query_orders": [p["order"] for p in passes],
        "per_query_p50_s": {
            n: median(v)
            for n in names
            if (v := [q["latency_s"] for p in passes for q in p["queries"] if q["query"] == n])
        },
    }
    layers, record = {}, {}
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        keys = traced[0]["layers"]
        layers = {k: median([p["layers"][k] for p in traced]) for k in keys}
        layers["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(
            [p["wall_s"] for p in plain]
        )
        record = {"header": hdr, "passes": passes}
    return e2e, layers, attempted, failures, {"report": report, "record": record}


def run_stream(args, work: Path) -> tuple[dict, dict, int, list[str], dict]:
    import gen
    import stream
    from layers import median, tail, tree_peak_rss_mb

    # warm-up files, then the files the generator drops in what the
    # backfills leave of --seconds
    live_s = max(4.0, args.seconds - stream.BACKFILL_WINDOW_S)
    n_files = int(stream.RATE_FILES_PER_S * live_s) + stream.WARMUP_FILES
    per = stream.EVENTS_PER_FILE
    users = gen.sizes(SF)["users"]
    live_files = gen.stream_files(args.seed, n_files, per, users)
    backlog_events = stream.BACKLOG_FILES * stream.BACKLOG_EVENTS_PER_FILE
    backlog_files = gen.stream_files(
        args.seed, stream.BACKLOG_FILES, stream.BACKLOG_EVENTS_PER_FILE, users, first_id=n_files * per
    )
    wm_literal, wm_progress = stream.final_watermark(live_files)
    staged, backlog = work / "staged", work / "backlog"

    def stage(_: int) -> None:
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(backlog, ignore_errors=True)
        stream.write_files(staged, live_files, "events")
        stream.write_files(backlog, backlog_files, "backlog")

    spark, setups = session.timed_setups(SETUPS, stage)
    hdr = session.header(spark, args.workload, args.seed, SF, args.seconds, bool(args.trace))
    live = stream.run_live(spark, staged, work, n_files * per, wm_progress)
    filled, backfills = [], []  # every drained output; the timed (wall, query)
    failures = list(live["errors"])
    for i in range(stream.BACKFILL_WARMUPS + stream.BACKFILLS):
        try:
            wall, q = stream.backfill(spark, backlog, work / f"backfill{i}")
        except RuntimeError as e:
            failures.append(str(e))
            continue
        filled.append(work / f"backfill{i}")
        if i >= stream.BACKFILL_WARMUPS:
            backfills.append((wall, q))
    walls = [wall for wall, _ in backfills]
    rss = tree_peak_rss_mb(os.getpid())
    t0 = time.perf_counter()
    failures += stream.check_outputs(
        spark, work, staged, filled, backlog_events, n_files * per, wm_literal
    )
    check_s = time.perf_counter() - t0
    missing = n_files - stream.WARMUP_FILES - len(live["latency"])
    if missing:
        failures.append(f"{missing} files never committed by every sink")
    attempted = n_files - stream.WARMUP_FILES + stream.BACKFILL_WARMUPS + stream.BACKFILLS
    lat = list(live["latency"].values())
    pct, tail_s = tail(lat)
    e2e = {
        "setup_s": _metric(median(setups), "s"),
        "pass_s": _metric(median(walls), "s"),
        "latency_p50_s": _metric(median(lat), "s"),
        "latency_tail_s": _metric(tail_s, "s"),
        "peak_rss_mb": _metric(rss, "MB"),
    }
    report = {
        "header": hdr,
        "named": {
            "setup_s": [e2e["setup_s"]["value"], "s"],
            "event_latency_p50_s": [e2e["latency_p50_s"]["value"], "s"],
            f"event_latency_p{pct:g}_s": [tail_s, "s"],
            "backfill_events_per_s": [backlog_events / median(walls), "events/s"],
            "failed_ops_ratio": [len(failures) / attempted, "ratio"],
            "peak_rss_mb": [rss, "MB"],
        },
        "setup_runs_s": setups,
        "live_s": live["wall_s"],
        "check_s": check_s,
        "files": n_files,
        "events_per_file": per,
        "rate_events_per_s": stream.RATE_FILES_PER_S * per,
        "file_samples": len(lat),
        "tail_percentile": pct,
        "backfill_runs_s": walls,
    }
    layers, record = {}, {}
    if args.trace:
        layers = stream.stream_layers(spark, live, backfills)
        record = {
            "header": hdr,
            "batches": stream.batch_records(spark, live),
            "file_latency_s": live["latency"],
        }
    return e2e, layers, attempted, failures, {"report": report, "record": record}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    session.check_checkout()
    work = session.run_dir(args.workload, args.seed)
    session.configure_env(work)
    steal0, total0 = cpu_jiffies()
    t0 = time.perf_counter()
    try:
        runner = run_stream if args.workload == "stream_ingest" else run_batch
        e2e, layers, attempted, failures, extra = runner(args, work)
    finally:
        session.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    report = extra["report"]
    steal1, total1 = cpu_jiffies()
    report.update(
        failures=failures,
        run_s=time.perf_counter() - t0,
        host_steal_share=(steal1 - steal0) / max(total1 - total0, 1),
        end_to_end={k: v["value"] for k, v in e2e.items()},
    )
    if args.trace:
        out = session.WORK / "out"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{args.workload}-seed{args.seed}-trace.json"
        path.write_text(json.dumps({**extra["record"], "layers": layers}, default=str, indent=1))
        report["trace_record"] = str(path.relative_to(session.ROOT))
    print(json.dumps(report, default=str, separators=(",", ":")))
    if args.trace:
        metrics = {k: _metric(layers.get(k, 0.0), unit) for k, unit in PER_LAYER.items()}
    else:
        metrics = e2e
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": min(len(failures), attempted),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
