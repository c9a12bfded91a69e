"""Process environment and Spark session set-up for a benchmark run.

All scratch state of a run (inputs, Spark local dirs, checkpoints,
temp files) lives under one directory inside the checkout, which
:func:`run_dir` creates and the caller removes when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import shutil
import subprocess
import sys
import time
from pathlib import Path

from layers import descendants

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "real_time_fraud_revenue_intelligence_lakehouse_spark"
WORK = ROOT / ".perfbench"
CORES = 4


def check_checkout() -> None:
    """Fail fast when the program under test is not beside the benchmark."""
    for need in (ROOT / PACKAGE / "plans" / "registry.py", ROOT / "tools" / "selfcheck.py"):
        if not need.is_file():
            raise SystemExit(f"perfbench: {need.relative_to(ROOT)} not found; run from a full checkout")


def run_dir(workload: str, seed: int) -> Path:
    d = WORK / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    (d / "tmp").mkdir(parents=True)
    return d


def configure_env(work: Path) -> None:
    """Point every writer at ``work`` and put the checkout on the Python
    path of the Spark driver and of the Python workers it forks, so
    pandas-UDF and stateful stages import the package from any
    working directory. Must run before the JVM starts."""
    tmp = str(work / "tmp")
    path = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ.update(
        {
            "PYTHONPATH": path,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_DRIVER_MEMORY": "1g",
            "SPARK_WAREHOUSE_DIR": str(work / "warehouse"),
            "PYSPARK_PYTHON": sys.executable,
            # pandas deprecation chatter from inside pyspark's serializers
            "PYTHONWARNINGS": "ignore::FutureWarning",
            # every JVM (the spark-submit launcher too) keeps its temp
            # files in the run directory and writes no hsperfdata to /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    confs = {
        "spark.executorEnv.PYTHONPATH": path,
        # A fixed, pre-touched heap: the JVM's resident size no longer
        # depends on when the collector chose to grow the heap, so
        # peak_rss_mb moves with off-heap and Python-worker memory.
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        "spark.local.dir": tmp,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a pass readable from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "1000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session():
    """A ``local[4]`` session with Python workers already forked."""
    from pyspark.sql import SparkSession

    from real_time_fraud_revenue_intelligence_lakehouse_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    # Fork the Python worker pool (one no-op pandas task per core) so
    # the first pandas-UDF stage of the timed window pays no spin-up.
    spark.range(0, CORES * 10, 1, CORES).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return spark


def timed_setups(n: int, stage=None) -> tuple[object, list[float]]:
    """Set up ``n`` times (the first also launches the JVM); return the
    last session and every set-up's wall time. ``stage(i)`` stages the
    workload's input inside each set-up."""
    times, spark = [], None
    for i in range(n):
        t0 = time.perf_counter()
        spark = start_session()
        if stage is not None:
            stage(i)
        times.append(time.perf_counter() - t0)
    return spark, times


def header(spark, workload: str, seed: int, sf: float, seconds: int, trace: bool) -> dict:
    """Environment stamp carried by every result."""
    import pyspark

    def java_version() -> str:
        try:
            return spark.sparkContext._jvm.System.getProperty("java.version")
        except Exception:  # a header must never sink a run
            return "unknown"

    def git_commit() -> str | None:
        try:
            out = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
                # never report the commit of a repository above the checkout
                env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
            )
        except (OSError, subprocess.SubprocessError):
            return None
        return out.stdout.strip() if out.returncode == 0 else None

    digest = hashlib.sha1()
    for f in sorted((ROOT / PACKAGE).rglob("*.py")):
        digest.update(f.read_bytes())

    return {
        "workload": workload,
        "seed": seed,
        "sf": sf,
        "seconds": seconds,
        "trace": trace,
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "pyspark": pyspark.__version__,
        "java": java_version(),
        "python": sys.version.split()[0],
        "git_commit": git_commit(),
        # identifies the code when the checkout is not a git repository
        "package_sha1": digest.hexdigest(),
    }


def stop_spark(timeout_s: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    Python worker it forked have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    left = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    # Python workers exit once the JVM is gone; kill any that do not.
    deadline = time.time() + timeout_s
    while left and time.time() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.time() + 5.0
    while any(os.path.exists(f"/proc/{p}") for p in left) and time.time() < deadline:
        time.sleep(0.05)
