"""Run environment shared by the workloads: a hermetic scratch
directory, the pinned Spark session, the host canary, memory and
percentile helpers."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

# Pinned Spark settings, echoed in every run's info line.
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
# Input sizes per workload: (TPC-H scale factor, documents, vectors).
# Of the TPC-H tables the corpus workload reads only lineitem (in
# sketch_hll_distinct) and the graph session dedup_groups runs through,
# so it uses the smaller scale.
SIZES = {"cypher_interactive": (0.01, 500, 500),
         "corpus_curation": (0.001, 500, 500)}
# Set-up is repeated this many times per run; setup_s takes the median.
SETUP_REPEATS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    """One benchmark run: its scratch directory and timings."""
    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    info: dict = field(default_factory=dict)
    spark: object = None
    # Self-test hook: corrupt every expected result before comparing.
    corrupt: bool = False
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    @property
    def data(self) -> str:
        return os.path.join(self.root, "data")

    @property
    def spans_path(self) -> str:
        out = os.path.join(os.getcwd(), ".bench_out")
        os.makedirs(out, exist_ok=True)
        return os.path.join(
            out, f"{self.workload}-seed{self.seed}.spans.jsonl")

    def fresh_tmp(self) -> str:
        """A new empty directory used as TMPDIR for what follows."""
        path = tempfile.mkdtemp(dir=os.path.join(self.root, "tmp"))
        os.environ["TMPDIR"] = path
        tempfile.tempdir = path
        return path

    def mark(self, phase: str) -> None:
        """Record the wall time spent since the previous mark."""
        now = time.perf_counter()
        phases = self.info.setdefault("phase_s", {})
        phases[phase] = round(now - getattr(self, "_mark", now), 3)
        self._mark = now

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {detail[:300]}")


def make_run(workload: str, seed: int, seconds: float, trace: bool) -> Run:
    base = os.path.join(os.getcwd(), ".bench_run")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
    for sub in ("tmp", "local", "warehouse", "checkpoints"):
        os.makedirs(os.path.join(root, sub))
    run = Run(root, workload, seed, seconds, trace)
    run.mark("start")
    run.fresh_tmp()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return run


def close_run(run: Run) -> None:
    """Stop Spark, wait for its JVM to exit, delete the scratch dir."""
    if run.spark is not None:
        from pyspark import SparkContext

        run.spark.stop()
        run.spark = None
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    shutil.rmtree(run.root, ignore_errors=True)
    run.mark("stop")


def start_spark(run: Run):
    from pyspark.sql import SparkSession

    conf = {
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run.root, "local"),
        "spark.sql.warehouse.dir": os.path.join(run.root, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    builder = SparkSession.builder.master(f"local[{cores()}]") \
        .appName(f"perfbench-{run.workload}")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(run.root, "checkpoints"))
    run.spark = spark
    run.info["spark"] = {"master": f"local[{cores()}]", **{
        k: v for k, v in conf.items()
        if k in ("spark.sql.shuffle.partitions", "spark.driver.memory")}}
    return spark


def host_canary(spark) -> float:
    """bench.py's fixed 10M-row shuffle+aggregate probe: no engine code,
    so a slow host shows here rather than as a regression."""
    from bench import _host_canary

    return _host_canary(spark)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return _hwm_mb("self") + _hwm_mb(jvm_pid)


def tail(samples: list[float], q: float = 0.9, beyond: int = 10
         ) -> tuple[float, float]:
    """Nearest-rank percentile ``q``, lowered until at least ``beyond``
    samples lie above it but never below the median; returns (value,
    percentile used)."""
    s = sorted(samples)
    idx = max(min(math.ceil(q * len(s)) - 1, len(s) - 1 - beyond),
              len(s) // 2)
    return s[idx], 100.0 * (idx + 1) / len(s)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def generate_inputs(run: Run) -> dict[str, int]:
    import datagen

    sf, docs, vecs = SIZES[run.workload]
    run.info["rows"] = datagen.generate(run.data, run.seed, sf, docs, vecs)
    run.mark("inputs")
    return run.info["rows"]


def setup(run: Run, tracer=None):
    """Start Spark, then build the graph session SETUP_REPEATS times,
    each in a fresh TMPDIR so nothing an earlier build cached is
    reused. Returns (spark, session, spark_s, median build seconds)."""
    from brahmand_spark.graphs.tpch import build_session

    t0 = time.perf_counter()
    spark = start_spark(run)
    spark_s = time.perf_counter() - t0
    run.mark("spark")
    if tracer is not None:
        tracer.add("setup.spark", t0, spark_s)
    builds, session = [], None
    for _ in range(SETUP_REPEATS):
        run.fresh_tmp()
        t = time.perf_counter()
        session = build_session(spark, run.data)
        builds.append(time.perf_counter() - t)
        if tracer is not None:
            tracer.add("setup.graph", t, builds[-1])
    return spark, session, spark_s, statistics.median(builds)
