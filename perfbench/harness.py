"""Run scaffolding shared by the workloads: the per-run scratch dir, the
Spark session, memory and contention stamps, spans, and statistics."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: Per-run scratch lives under the checkout (ignored by git) and is
#: removed when the run ends.
RUNS_DIR = ROOT / ".perfbench_runs"


def _driver_memory() -> str:
    """A driver heap that fits the box: a quarter of physical memory,
    between 1 and 4 GiB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return f"{max(1, min(4, total // (4 << 30)))}g"


class Run:
    """One benchmark process: owns its scratch dir and Spark session."""

    def __init__(self, workload: str, seed: int, trace: bool):
        RUNS_DIR.mkdir(exist_ok=True)
        self.dir = RUNS_DIR / f"{workload}-{seed}-{os.getpid()}"
        if self.dir.exists():
            shutil.rmtree(self.dir)
        self.dir.mkdir()
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))  # what `nproc` reports
        self.spark = None
        self.event_log_dir = self.dir / "eventlog"

    def start_spark(self):
        """Start the package's own session (``session.get_spark``) at
        ``local[nproc]`` with every scratch path inside the run dir; the
        event log is on, uncompressed, only in traced runs."""
        tmp = self.dir / "tmp"
        tmp.mkdir()
        os.environ["TMPDIR"] = str(tmp)
        import tempfile

        tempfile.tempdir = str(tmp)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_DRIVER_MEMORY"] = _driver_memory()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        # HotSpot writes /tmp/hsperfdata_<user> whatever java.io.tmpdir
        # says; both JVMs (launcher and driver) keep it off
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        confs = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": self.dir / "spark-warehouse",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
        }
        if self.trace:
            self.event_log_dir.mkdir()
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log_dir.as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf '{k}={v}'" for k, v in confs.items()
        ) + " pyspark-shell"
        from data_pipeline_challenge_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @staticmethod
    def _jvm():
        """The py4j gateway and the driver JVM process it launched."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw, getattr(gw, "proc", None)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver: Python plus the driver JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        _, proc = self._jvm()
        if proc is not None:
            try:
                for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
            except OSError:
                pass
        return (py_kb + jvm_kb) / 1024.0

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers)
        to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw, proc = self._jvm()
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # never leave it running
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            RUNS_DIR.rmdir()  # only when no other run is using it
        except OSError:
            pass


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return s[int(k)]


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    t0: float  # epoch seconds
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory spans around calls into the package's public functions.

    ``wrap`` replaces an attribute with a timing wrapper. When a Spark
    session is attached, each span also tags the jobs its thread
    launches (the ``perfbench.span`` local property), so the event-log
    reader attributes every job to the innermost span that launched it.
    A disabled tracer wraps nothing and records nothing."""

    PROPERTY = "perfbench.span"

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._sc = None
        #: request id stamped on spans opened while it is set (one
        #: client at a time, so server-thread spans inherit it)
        self.request: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    def attach(self, spark) -> None:
        if self.enabled:
            self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1].id if stack else None,
                      self.request, time.time())
            self.spans.append(sp)
        stack.append(sp)
        if self._sc is not None:
            self._sc.setLocalProperty(self.PROPERTY, str(sp.id))
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(self.PROPERTY, str(stack[-1].id) if stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


# ------------------------------------------------------------- contention


def contention_meter():
    """``bench.py``'s foreign-CPU meter, started now."""
    from bench import _ForeignCpuMeter

    meter = _ForeignCpuMeter()
    meter.start()
    return meter


def load1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return 0.0
