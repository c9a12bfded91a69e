"""Closed-loop batch workloads over the declared-query registry.

One client runs every query of a workload once per pass, in an order
the seed permutes; the next query starts when the previous one has
finished. Each pass starts from ``clear_cache()`` so the shared-frame
memo is rebuilt inside the pass that uses it, and the order is recorded
so it is known which query paid for each shared build.

A query is timed in two phases, both through the package's public
call: *build* is ``registry`` ``fn(spark, sf_dir)`` (plan construction
plus any eager driver-side jobs), *exec* is the ``noop`` write of the
returned frame.
"""

from __future__ import annotations

import random
import sys
import time
from pathlib import Path

import os

from layers import JobTrace, Phase, STAGE_FIELDS, tree_cpu_s, uncovered_s

#: One closed-loop client over the two kinds of batch user: KPI
#: refreshes (execution-bound: cleanse, SCD2, CDC, data-quality and
#: TPC-H-ish aggregates, whose time is scan, shuffle and codegen in the
#: noop write) and model training (driver-bound: a boosted-tree trainer
#: whose time is build-time eager jobs per round). q_gbt_importance
#: reads the model q_gbt_train memoises, so the seeded pass order
#: decides which of the two pays for the fit. Per-query records keep the
#: two kinds apart. The lineitem scan probe and the HITS chain are left
#: out: together they double a pass, and a run must hold several passes
#: for its medians to be steady.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "kpi_and_models": (
        "q_clean_filter",
        "q_scd2_lookup",
        "q_cdc_apply",
        "q_dq_suite",
        "q_pricing_summary",
        "q_gbt_train",
        "q_gbt_importance",
    ),
}

#: Pass wall time on a 4-core host at sf0.01; fixes how many passes fit
#: in a run of a given length.
NOMINAL_PASS_S = {"kpi_and_models": 6.5}
CHECK_THREADS = 4


def memo_entries() -> int:
    """Entries in the shared-frame memo plus every registered cache."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import shared_frames

    return len(shared_frames._CACHE) + sum(len(c) for c in shared_frames._EXTRA_CACHES)


def pass_orders(names: tuple[str, ...], seed: int, workload: str):
    """Endless sequence of seeded permutations of ``names``."""
    rng = random.Random(f"{workload}:{seed}")
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def check_outputs(spark, names, data_dir: Path) -> tuple[int, list[str]]:
    """Collect every query and compare it with its DuckDB oracle using
    the repository's own comparator. Returns (checked, failures).

    Queries are checked CHECK_THREADS at a time: this pass is untimed
    and mostly pays one-off JIT warm-up, which overlaps well. Queries
    that share a memoised frame are checked first and last, so the
    frame is built once, not raced for by two threads."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import selfcheck

    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import clear_cache

    qs, oracles = registry.all_queries(), registry.all_oracles()
    con = duckdb.connect()
    for t in selfcheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / (t + '.parquet')}')")

    def check(name: str) -> str | None:
        cur = con.cursor()  # one DuckDB cursor per thread
        try:
            got = qs[name](spark, str(data_dir)).toPandas()
            want = cur.execute(oracles[name]).fetchdf()
            issues = selfcheck.compare(name, got, want)
        except Exception as e:  # a failing query is a failed operation, not a crash
            issues = [f"error: {type(e).__name__}: {str(e)[:200]}"]
        finally:
            cur.close()
        return f"{name}: {issues[0]}" if issues else None

    # the model memo's builder first, its reader last
    order = sorted(names, key=lambda n: (n != "q_gbt_train", n == "q_gbt_importance"))
    clear_cache()
    try:
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            results = list(pool.map(check, order))
    finally:
        clear_cache()
        con.close()
    return len(names), [r for r in results if r]


def _phase_sums(phases: list[Phase]) -> dict[str, float]:
    out = {k: 0.0 for k, _, _ in STAGE_FIELDS}
    for p in phases:
        for k in out:
            out[k] += p.sums[k]
    out["jobs"] = float(sum(len(p.jobs) for p in phases))
    out["stages"] = float(sum(len(p.stages) for p in phases))
    return out


def run_pass(spark, order, data_dir: Path, tracer: JobTrace | None, tag: str) -> dict:
    """One pass over ``order``; with ``tracer`` every query's build and
    exec phases run under their own job group and are read back right
    after the query, inside the pass (that read is the tracing cost)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import clear_cache

    qs = registry.all_queries()
    sc = spark.sparkContext
    clear_cache()
    queries, errors = [], []
    cpu0 = tree_cpu_s(os.getpid())
    t_pass = time.perf_counter()
    w_pass = time.time()
    for name in order:
        memo0 = memo_entries() if tracer else 0
        rec: dict = {"query": name}
        try:
            if tracer:
                sc.setJobGroup(f"{tag}:{name}:build", name)
            t0 = time.perf_counter()
            w0 = time.time()
            df = qs[name](spark, str(data_dir))
            t1 = time.perf_counter()
            if tracer:
                sc.setJobGroup(f"{tag}:{name}:exec", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:
            errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            if tracer:
                sc.setJobGroup(None, None)
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
        if tracer:
            build = tracer.phase(f"{tag}:{name}:build")
            exe = tracer.phase(f"{tag}:{name}:exec")
            w2 = w0 + (t2 - t0)
            rec.update(
                span=[w0, w0 + (t1 - t0), w2],
                build=build.record(),
                exec=exe.record(),
                driver_gap_s=uncovered_s(w0, w2, build.job_spans + exe.job_spans),
                memo_new=memo_entries() - memo0,
            )
            rec["_phases"] = (build, exe)
        queries.append(rec)
    wall = time.perf_counter() - t_pass
    cpu = tree_cpu_s(os.getpid()) - cpu0
    out = {"order": order, "wall_s": wall, "cpu_s": cpu, "queries": queries, "errors": errors}
    if tracer:
        phases = [q.pop("_phases") for q in queries]
        b, e = _phase_sums([p[0] for p in phases]), _phase_sums([p[1] for p in phases])
        out["layers"] = {
            "plans.build_s": sum(q["build_s"] for q in queries),
            "plans.build_jobs": b["jobs"],
            "plans.build_stages": b["stages"],
            "plans.build_tasks": b["tasks"],
            "plans.build_executor_run_s": b["executor_run_s"],
            "plans.driver_gap_s": sum(q["driver_gap_s"] for q in queries),
            "plans.memo_builds": float(memo_entries()),
            "spark.exec_s": sum(q["exec_s"] for q in queries),
            "spark.exec_jobs": e["jobs"],
            "spark.stages": e["stages"],
            "spark.tasks": e["tasks"],
            "spark.executor_run_s": e["executor_run_s"],
            "spark.executor_cpu_s": e["executor_cpu_s"],
            "spark.gc_s": e["gc_s"],
            "spark.shuffle_read_bytes": e["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": e["shuffle_write_bytes"],
            "spark.spill_bytes": e["spill_bytes"],
            "spark.core_busy_ratio": (b["executor_run_s"] + e["executor_run_s"])
            / (wall * sc.defaultParallelism),
            "sources.scan_bytes": b["scan_bytes"] + e["scan_bytes"],
            "sources.scan_records": b["scan_records"] + e["scan_records"],
        }
        out["wall_start"] = w_pass
    return out


def run_window(spark, workload: str, seed: int, seconds: float, data_dir: Path, trace: bool) -> dict:
    """About ``seconds`` of timed passes at the workload's nominal pass
    time, at least four.

    The output check before the window runs every query once and pays
    the one-off costs (codegen, file listing), but the JIT is still
    compiling the hot paths for a pass or two after it, so the first
    passes read slower than the rest, by an amount that depends on how
    much CPU the host lends the compiler threads. The medians over
    passes and over every query run are steady against that. The pass
    count depends only on ``seconds``, never on how fast this run
    happens to be, so every run of a workload measures the same work.
    In a traced run every second pass is traced, so the tracing
    overhead is measured in the same run and a traced run takes as
    long as an untraced one."""
    tracer = JobTrace(spark.sparkContext) if trace else None
    orders = pass_orders(WORKLOADS[workload], seed, workload)
    n = max(4, round(seconds / NOMINAL_PASS_S[workload]))
    t0 = time.perf_counter()
    passes: list[dict] = []
    for i in range(n):
        traced = bool(trace and i % 2 == 1)
        p = run_pass(spark, next(orders), data_dir, tracer if traced else None, f"p{i}")
        p["traced"] = traced
        passes.append(p)
    return {"passes": passes, "window_s": time.perf_counter() - t0}
