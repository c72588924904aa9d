"""Shared plumbing for the benchmark: checkout paths, run hygiene, the
Spark session the Spark workloads use, and small statistics helpers.

Nothing here runs at import time; ``Context.create`` sets up the per-run
scratch directory and environment.
"""
from __future__ import annotations

import bisect
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE_NAME = ".perfbench_cache"
JVM_HEAP = "2g"


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress goes to stderr, with the seconds since start: stdout's
    last line is the result."""
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def now() -> float:
    return time.perf_counter()


def ncores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: List[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: List[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


# -- machine speed ------------------------------------------------------------
#
# On a shared VM the wall time of the same work swings between
# host-throttled and quiet windows.  The serving loop's times are
# therefore reported in reference seconds: the raw time divided by
# ``Speed.factor``, the duration of a fixed calibration task timed
# between queries, over ``CALIB_REF_S``.  The task belongs to the
# benchmark, so no program change alters it, and it runs while the
# program is idle, so the program's own load does not move it either.

CALIB_REF_S = 1.0e-3   # calibration task on a quiet vCPU, Xeon 2.1 GHz
_CALIB_WORDS = None


def calibration_task() -> int:
    """Fixed CPU work in the mix the program's Python side spends its
    time in: an interpreted loop and small NumPy array operations."""
    import numpy as np
    global _CALIB_WORDS
    if _CALIB_WORDS is None:
        _CALIB_WORDS = np.arange(64, dtype=np.uint64)
    a, x = _CALIB_WORDS, 0
    for i in range(2500):
        x += (i * 7) % 13
    b = a
    for _ in range(250):
        b = (b << np.uint64(3)) ^ (a >> np.uint64(5))
    return x + int(b[0])


class Speed:
    """Samples of the calibration task's duration over a run."""

    def __init__(self):
        self.times: List[float] = []
        self.durations: List[float] = []

    def sample(self) -> None:
        t = now()
        calibration_task()
        self.durations.append(now() - t)
        self.times.append(t)

    def factor(self, t0: float = float("-inf"),
               t1: float = float("inf")) -> float:
        """Median calibration time in [t0, t1] (the nearest sample when
        none falls inside) over ``CALIB_REF_S``: above 1 means slower
        than the reference."""
        lo = bisect.bisect_left(self.times, t0)
        hi = bisect.bisect_right(self.times, t1)
        if hi <= lo:
            i = min(lo, len(self.times) - 1)
            if i > 0 and t0 - self.times[i - 1] < self.times[i] - t1:
                i -= 1
            return self.durations[i] / CALIB_REF_S
        return statistics.median(self.durations[lo:hi]) / CALIB_REF_S

    def burst(self, n: int) -> None:
        """``n`` samples back to back."""
        for _ in range(n):
            self.sample()


class TreeRss:
    """Peak summed resident set of this process and every process below
    it (the JVM and its Python workers), sampled from /proc by a
    background thread.  Shared pages count once per process."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))

    def start(self) -> None:
        def loop():
            while not self._stop.wait(self.period):
                self.sample()
        self.sample()
        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def tree_rss_bytes(root_pid: int, proc: str = "/proc") -> int:
    """Summed RSS of ``root_pid`` and its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: Dict[int, List[int]] = {}
    rss: Dict[int, int] = {}
    for d in os.listdir(proc):
        if not d.isdigit():
            continue
        try:
            with open(os.path.join(proc, d, "stat")) as fh:
                # fields after the ")" closing the command name:
                # state ppid ... (rss is the 22nd of them)
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue   # the process ended while we looked
        children.setdefault(int(f[1]), []).append(int(d))
        rss[int(d)] = int(f[21]) * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo += children.get(pid, [])
    return total


def peak_rss_mb() -> float:
    """Peak resident set of this Python process, from ``ru_maxrss``."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def program_present(root: str = ROOT) -> bool:
    return (os.path.isdir(os.path.join(root, "gopie_spark"))
            and os.path.isfile(os.path.join(root, "jobs", "daily_update.py")))


def source_hash(root: str = ROOT) -> str:
    """Content hash of the program (gopie_spark/, jobs/) and of the
    benchmark's generator: caches of program output are keyed by it, so
    any code change rebuilds them."""
    h = hashlib.sha256()
    files = []
    for sub in ("gopie_spark", "jobs"):
        for dp, dns, fns in os.walk(os.path.join(root, sub)):
            dns[:] = sorted(d for d in dns if d != "__pycache__")
            files += [os.path.join(dp, f) for f in fns if f.endswith(".py")]
    files.append(os.path.join(BENCH_DIR, "gen.py"))
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


@dataclass
class Context:
    """One benchmark run: arguments, directories and collected numbers."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    cache: str
    tmp: str
    code: str
    checks: List[dict] = field(default_factory=list)

    @classmethod
    def create(cls, workload: str, seed: int, seconds: float,
               trace: bool, root: str = ROOT) -> "Context":
        cache = os.path.join(root, CACHE_NAME)
        tmp_root = os.path.join(cache, "tmp")
        if os.path.isdir(tmp_root):   # left by runs that were killed
            for d in os.listdir(tmp_root):
                if not os.path.exists(f"/proc/{d.rsplit('-', 1)[-1]}"):
                    shutil.rmtree(os.path.join(tmp_root, d),
                                  ignore_errors=True)
        tmp = os.path.join(tmp_root, f"{workload}-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # every temp file, Spark scratch dir and Python worker import path
        # stays inside the checkout
        os.environ["TMPDIR"] = tmp
        import tempfile
        tempfile.tempdir = tmp
        pp = [root, os.path.join(root, "jobs")]
        if os.environ.get("PYTHONPATH"):
            pp.append(os.environ["PYTHONPATH"])
        os.environ["PYTHONPATH"] = os.pathsep.join(pp)
        os.environ.setdefault("SPARK_DRIVER_MEMORY", JVM_HEAP)
        for p in (os.path.join(root, "jobs"), root):
            if p not in sys.path:
                sys.path.insert(0, p)
        return cls(workload, seed, seconds, trace, root, cache, tmp,
                   source_hash(root))

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append({"check": name, "ok": bool(ok),
                            "detail": detail})
        log(f"check {'PASS' if ok else 'FAIL'} {name} {detail}")
        return bool(ok)

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(c["ok"] for c in self.checks)

    def cleanup(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)

    # untraced op times, kept per code version so a traced run can report
    # its overhead against the same code measured without tracing
    def _ref_path(self) -> str:
        return os.path.join(self.cache, "untraced", f"{self.workload}.json")

    @property
    def _ref_key(self) -> str:
        from workloads import SIZES
        return f"{self.code}-{SIZES}"

    def record_untraced(self, op_s: float) -> None:
        path = self._ref_path()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        recs = self.untraced_refs_all()
        recs.setdefault(self._ref_key, []).append(op_s)
        with open(path + ".tmp", "w") as fh:
            json.dump(recs, fh)
        os.replace(path + ".tmp", path)

    def untraced_refs_all(self) -> Dict[str, List[float]]:
        try:
            with open(self._ref_path()) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def untraced_ref(self) -> Optional[float]:
        recs = self.untraced_refs_all().get(self._ref_key)
        return median(recs) if recs else None


# -- Spark session ------------------------------------------------------------

def start_spark(ctx: Context, event_log_dir: Optional[str] = None):
    """A session on ``local[nproc]`` through the engine's own
    ``get_spark``, plus run hygiene: no console progress bars, scratch
    inside the checkout, a 2 GB JVM heap (``get_spark`` pre-commits 8 GB
    unless ``SPARK_DRIVER_MEMORY`` says otherwise).  The benchmark's JVM
    flags go in ``defaultJavaOptions``, which Spark puts before the
    ``extraJavaOptions`` ``get_spark`` sets, so the engine's own flags
    still reach the session."""
    from gopie_spark.plans import get_spark
    local = ctx.path("spark-local")
    os.makedirs(local, exist_ok=True)
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": ctx.path("spark-warehouse"),
        # no hsperfdata file in the system /tmp
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = event_log_dir
    spark = get_spark("perfbench", cores=ncores(), extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Start one Python worker per core and import the engine in each."""
    n = ncores()

    def _imp(batches):
        import gopie_spark.kernels  # noqa: F401
        for b in batches:
            yield b

    spark.range(0, 4 * n, numPartitions=n).mapInArrow(_imp, "id long") \
        .write.format("noop").mode("overwrite").save()


def shutdown_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
