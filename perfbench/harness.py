"""Run lifecycle shared by the workloads: Spark session start and stop
inside the checkout, spans for the traced run, percentiles and the
peak resident memory of this process and the JVM it launched."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "etl_based_real_time_air_quality_monitoring_system_spark"
DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Ctx:
    workload: str
    root: str
    work: str
    seed: int
    seconds: float
    #: what a workload keeps between its set-up, measuring and checking
    state: dict = field(default_factory=dict)
    spark: object = None
    tracer: "Tracer | None" = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, event_log: bool = False):
        """Build the engine's session through ``session.get_session``.

        ``get_session`` builds its own ``SparkSession.Builder``, so the
        benchmark's confs reach it as JVM defaults instead: through
        ``PYSPARK_SUBMIT_ARGS`` for the JVM's launch, and as JVM system
        properties (which every new ``SparkConf`` loads) for each later
        session in the same JVM.  They keep every file Spark writes
        inside the work directory and turn the event log on or off."""
        from pyspark import SparkContext

        from etl_based_real_time_air_quality_monitoring_system_spark.session import (
            get_session,
        )

        confs = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
            "spark.eventLog.dir": self.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        for d in ("tmp", "eventlog", "spark-local"):
            os.makedirs(self.path(d), exist_ok=True)
        if SparkContext._jvm is None:
            java_opts = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
                [f'--driver-java-options "{java_opts}"']
                + [f"--conf {k}={v}" for k, v in confs.items()]
                + ["pyspark-shell"]
            )
        else:
            for k, v in confs.items():
                SparkContext._jvm.java.lang.System.setProperty(k, v)
        self.spark = get_session(app_name="perfbench", cpus=cpus())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark.sparkContext) if event_log else None
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @contextmanager
    def span(self, name: str):
        """A named span around a call into a layer; a no-op untraced."""
        if self.tracer is None:
            yield
        else:
            with self.tracer.span(name):
                yield

    @contextmanager
    def untraced(self):
        """A block whose calls record no spans, such as a warm-up."""
        tracer, self.tracer = self.tracer, None
        try:
            yield
        finally:
            self.tracer = tracer


class Tracer:
    """Spans kept in memory.  Each span tags the jobs it starts with its
    own job group, so the event-log parser can fold stage and task
    metrics into it.  Spans nest; the innermost owns the jobs."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        gid = f"pb{len(self.spans)}"
        parent = self.sc.getLocalProperty("spark.jobGroup.id")
        rec = {"name": name, "group": gid, "parent": parent}
        self.spans.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", parent)


def shutdown_jvm() -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive
    method); ``q`` in [0, 1]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and every process it started
    (the Spark JVM), in MiB."""
    total_kb = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


@dataclass
class Measured:
    """What one measuring window produced."""

    samples_ms: list[float]
    attempted: int
    failed: int = 0
    throughput: float = 0.0
    notes: dict = field(default_factory=dict)
