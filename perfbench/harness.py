"""Run harness shared by every workload: session sizing and set-up,
the closed-loop timing loop, peak memory and summary statistics."""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import time
from dataclasses import dataclass, field

# Spark runs local[nproc] with one closed-loop client thread; the sizing
# is fixed here so it never depends on SPARK_GRAFT_CPUS.
CPUS = os.cpu_count() or 1
DRIVER_MEMORY = "2g"
SETUP_REPEATS = 3
UI_PORT = 4740


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``. Below 21 samples that percentile would sit
    under the median, so the maximum stands in."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    if n <= 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


@dataclass
class Pass:
    """One timed pass of a workload: its wall time and the latency of
    every operation it issued, by operation kind."""

    wall_s: float = 0.0
    ops: dict[str, list[float]] = field(default_factory=dict)

    def op(self, kind: str, seconds: float) -> None:
        self.ops.setdefault(kind, []).append(seconds)


def describe(e: BaseException) -> str:
    """One line for a failure: the exception type and its first line."""
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0][:200] if lines else ''}"


@contextlib.contextmanager
def timed_op(p: Pass | None, kind: str, failures: list[str]):
    """Time one operation of kind ``kind`` into ``p``. Inside a pass an
    operation that raises is counted in ``failures`` and the pass goes
    on; outside one (warm-up, ``p`` is None) the exception propagates."""
    t0 = time.perf_counter()
    try:
        yield
    except Exception as e:
        if p is None:
            raise
        failures.append(f"{kind}: {describe(e)}")
    finally:
        if p is not None:
            p.op(kind, time.perf_counter() - t0)


def peak_rss_bytes() -> int:
    """Peak resident memory of this process plus every live descendant
    (the driver JVM and the Python workers): the sum of each process's
    own high-water mark (``VmHWM``), read once. No sampling thread runs
    beside the client: one would contend with it for the interpreter
    lock on every Py4J call and slow the operations it times."""
    return sum(_hwm(pid) for pid in [os.getpid(), *descendants()])


def _hwm(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants() -> list[int]:
    """Every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, stack = [], list(children.get(os.getpid(), ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def isolate_scratch(work: str, root: str) -> None:
    """Point every scratch location the engine, Spark, the JVM and the
    Python workers use at ``work`` so a run writes nowhere else, and let
    the Python workers import the engine from ``root`` whatever the
    current directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_SCRATCH"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_session(spark) -> None:
    """Stop the session, then end the JVM it ran in and its Python
    workers, and wait until each has ended. Once the session has stopped
    the JVM holds nothing left to flush, so it is killed rather than
    left to run its shutdown hooks."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = descendants()  # the JVM, its launcher and the Python workers
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    for pid in started:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    if proc is not None:
        proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(_running(p) for p in started):
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs (an exited, unreaped process does not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def start_session(ui: bool):
    """The engine's own session factory, sized explicitly."""
    from yelp_etl_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf["spark.ui.port"] = str(UI_PORT)
        conf["spark.port.maxRetries"] = "64"
    spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(warmup, ui: bool = False) -> tuple[object, list[float], list[float]]:
    """Start the session and warm it up ``SETUP_REPEATS`` times, keeping
    the last session. The first start also launches the JVM. Returns
    ``(spark, setup_seconds, session_start_seconds)``."""
    totals, starts = [], []
    spark = None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(ui)
        t1 = time.perf_counter()
        warmup(spark)
        totals.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    return spark, totals, starts


def run_passes(run_pass, seconds: float, prepare=None, span=None) -> list[Pass]:
    """Closed loop: issue passes back to back until ``seconds`` of pass
    time have been measured (at least one pass). ``prepare(i)`` runs
    before pass ``i``, off the clock; ``span`` wraps each pass in a
    ``pass`` span when tracing."""
    passes: list[Pass] = []
    measured, i = 0.0, 0
    while measured < seconds or not passes:
        if prepare is not None:
            prepare(i)
        p = Pass()
        with span("pass") if span else contextlib.nullcontext():
            t0 = time.perf_counter()
            run_pass(p, i)
            p.wall_s = time.perf_counter() - t0
        passes.append(p)
        measured += p.wall_s
        i += 1
    return passes


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden and
    underscore-prefixed bookkeeping files."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size
