"""Process-level plumbing shared by the workloads: environment pinning,
Spark session start and stop, storage readings and the environment echo.

Nothing here imports pyspark or mnemo_spark at module level: `run.py`
pins the environment first, because Spark reads it when the JVM starts.
"""

from __future__ import annotations

import os
import shlex
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
# scratch space for Spark blocks, temp files and trace output; listed
# in the repository's .gitignore
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

CORES = 4
DRIVER_MEM = "3g"
MB = 1024.0 * 1024.0


def pin_environment(cache_tables: bool) -> dict[str, str]:
    """Pin every setting the engine and Spark read from the environment,
    and keep all of Spark's files inside WORK_DIR. Returns the echo."""
    local_dir = os.path.join(WORK_DIR, "spark-local")
    tmp_dir = os.path.join(WORK_DIR, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["MNEMO_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["MNEMO_CACHE_TABLES"] = "1" if cache_tables else "0"
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import mnemo_spark from the checkout
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # every JVM, the spark-submit launcher included, keeps its temp
    # files in WORK_DIR and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every job and stage of a run for
        # the traced run's per-group attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
        "spark.local.dir": local_dir,
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return {
        "cores": str(CORES),
        "driver_mem": DRIVER_MEM,
        "spark_local_dirs": local_dir,
        "mnemo_cache_tables": os.environ["MNEMO_CACHE_TABLES"],
    }


def start_session():
    """Start the engine's own session factory, then run one trivial job
    so JVM and executor start-up are paid here, not by the first op."""
    from mnemo_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    # the JVM exits when its stdin pipe closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - any wait failure: force it down
        proc.kill()
        proc.wait(timeout=30)


def environment_echo(spark, sf_dir: str, seed: int, pinned: dict) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        **pinned,
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "seed": seed,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "driver_heap_mb": round(jvm.Runtime.getRuntime().maxMemory() / MB),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }


def storage(spark) -> dict:
    """Persisted RDD count and the storage memory (plus disk) they hold:
    the table cache, serving pins and localCheckpoints."""
    jsc = spark.sparkContext._jsc.sc()
    rdds = jsc.getRDDStorageInfo()
    held = sum(r.memSize() + r.diskSize() for r in rdds)
    return {
        "persisted_rdds": jsc.getPersistentRDDs().size(),
        "cached_mb": held / MB,
    }


def percentile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation) of at least one value."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Op:
    """One timed call into the engine: a registry query or an engine verb."""

    __slots__ = ("group", "name", "build_s", "exec_s", "value", "ok")

    def __init__(self, group, name, build_s, exec_s, value, ok):
        self.group, self.name = group, name
        self.build_s, self.exec_s = build_s, exec_s
        self.value, self.ok = value, ok  # ok None: checked after timing

    @property
    def seconds(self) -> float:
        return self.build_s + self.exec_s


class Context:
    """What a workload gets: the session, tracer and run arguments, and
    where it records set-up phases, timed iterations, ops and checks."""

    def __init__(self, spark, tracer, args, t_process: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = args.seed
        self.seconds = args.seconds
        self.data = args.data
        self.t_process = t_process
        self.setup: dict[str, float] = {}
        self.t_first_timed: float | None = None
        self.iterations: list[float] = []
        self.ops: list[Op] = []
        self.checks: dict[str, str | None] = {}  # run-level check -> failure
        self.storage: dict = {}
        self.detail: dict = {}
        self.timed_wall_s = 0.0
        self.timed_overhead_s = 0.0

    def storage_snapshot(self) -> None:
        self.storage = storage(self.spark)

    def timed_loop(self, at_least: int = 1, at_most: int = 0):
        """Yield iteration numbers until --seconds have been measured and
        at least `at_least` iterations ran (or `at_most` ran); the caller
        appends each iteration's wall time to `iterations`."""
        t_start = time.perf_counter()
        i = 0
        while True:
            o0, w0 = self.tracer.overhead_s, time.perf_counter()
            yield i
            self.timed_overhead_s += self.tracer.overhead_s - o0
            self.timed_wall_s += time.perf_counter() - w0
            i += 1
            if i == at_most:
                break
            if i >= at_least and time.perf_counter() - t_start >= self.seconds:
                break

    def run_op(self, group, name, build, action, timed=True, check=None):
        """Build (the engine call that returns a lazy result) and execute
        (the action), each in its own span. `action(obj)` returns
        (value, frame whose QueryExecution ran or None). `check(value)`
        returns a failure string or None; without it the op is checked
        after timing."""
        tr = self.tracer
        value, ok = None, None
        t0 = t1 = time.perf_counter()
        if timed and self.t_first_timed is None:
            self.t_first_timed = t0
        with tr.span(name, "op", group=group, timed=timed):
            try:
                with tr.span(name, "build"):
                    obj = build()
                t1 = time.perf_counter()
                with tr.span(action.__name__, "exec") as exec_span:
                    value, ran = action(obj)
                t2 = time.perf_counter()
                if ran is not None:
                    tr.note_phases(exec_span, ran)
                if check is not None:
                    why = check(value)
                    ok = why is None
                    if why:
                        print(f"# FAIL {group}/{name}: {why}", file=sys.stderr)
            except Exception:  # noqa: BLE001 - an op failure is counted, not fatal
                t2 = time.perf_counter()
                ok = False
                print(f"# FAIL {group}/{name}: raised", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
        op = Op(group, name, t1 - t0, t2 - t1, value, ok)
        if timed:
            self.ops.append(op)
        return op
