"""Run context and Spark session handling shared by the workloads.

Everything a run writes — generated inputs, scratch tables, streaming
checkpoints, Spark's local dirs, Python and JVM temp files — goes under
one temp root inside the checkout, which is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from pipebench.trace import NULL


@dataclass
class Context:
    root: str          # checkout root (holds the engine package)
    tmp: str           # benchmark-owned temp root, removed afterwards
    seed: int
    seconds: float
    tracer: object = NULL
    traced: bool = False
    cpus: int = 1
    metrics: dict = field(default_factory=dict)   # name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def check(self, ok: bool, attempted: int, failed: int, what: str) -> bool:
        """Count one correctness check: ``attempted`` operations of which
        ``failed`` were wrong or missing; ``ok`` False with no counted
        failures still counts one."""
        self.attempted += attempted
        self.failed += failed if failed else (0 if ok else 1)
        if not ok:
            self.notes.append(f"check failed: {what}")
            print(f"# check failed: {what}", file=sys.stderr)
        return ok

    def path(self, *parts: str) -> str:
        """A file path under the temp root; its directory exists."""
        p = os.path.join(self.tmp, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the temp root, created."""
        p = os.path.join(self.tmp, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def configure_env(ctx: Context, driver_mem: str = "3g") -> None:
    """Process environment the engine and its Python workers need:

    * the checkout root on ``PYTHONPATH`` — executor-side sinks import
      the engine package inside Spark's Python workers;
    * a driver heap that fits a shared box (the session default is sized
      for a large machine; ``start_session`` sets the core count);
    * Spark local dirs and every temp dir under the run's temp root."""
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ctx.root + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "py-tmp")):
        d = os.path.join(ctx.tmp, sub)
        os.makedirs(d, exist_ok=True)
        os.environ[var] = d
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(ctx: Context, app: str, cpus: "int | None" = None):
    """``get_spark`` at ``local[cpus]`` (default: the run's core count)
    with the run's scratch locations."""
    from data_pipeline_kafka_ek_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus or ctx.cpus)
    jtmp = os.path.join(ctx.tmp, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    with ctx.tracer.span("session", "get_spark"):
        spark = get_spark(
            app,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(ctx.tmp, "warehouse"),
                # JVM temp files under the temp root; no hsperfdata file in
                # the system temp dir
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setup(ctx: Context, app: str, warmup, reps: int = 3):
    """Set up ``reps`` times — session start, then ``warmup(spark)`` —
    stopping the session between repetitions; the last session stays up
    for the measured phase.

    The first repetition also launches the JVM; later ones start a fresh
    SparkContext in it. ``setup_s`` is the median repetition, so a change
    that moves work into session start or warm-up shows in every sample.
    Reports ``session.get_spark_s`` and ``session.warmup_s`` medians too."""
    starts, warms, totals = [], [], []
    spark = None
    for i in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(ctx, app)
        t1 = time.perf_counter()
        with ctx.tracer.span("session", "warmup"):
            warmup(spark)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        totals.append(t2 - t0)
    ctx.put("setup_s", statistics.median(totals), "s")
    ctx.put("session.get_spark_s", statistics.median(starts), "s")
    ctx.put("session.warmup_s", statistics.median(warms), "s")
    ctx.put("session.first_start_s", starts[0], "s")
    return spark


def cleanup(ctx: Context) -> None:
    shutil.rmtree(ctx.tmp, ignore_errors=True)
