"""Run environment, Spark session, statistics and attestation shared by the
workloads."""

from __future__ import annotations

import math
import os
import platform
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def temp_root() -> str:
    """Per-run scratch root: under ``$SPARK_LOCAL_DIRS`` when set, else
    under the checkout's ignored ``.perfbench_tmp``."""
    local = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
    base = os.path.join(local, "perfbench") if local else os.path.join(ROOT, ".perfbench_tmp")
    return os.path.join(base, f"run-{os.getpid()}")


def prepare_env(tmp: str) -> None:
    """Put the package on the Python workers' path, pin the core count and
    keep every temp file of the run under ``tmp``."""
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(tmp: str, traced: bool):
    """``local[nproc]`` session built by the package's factory, console
    progress off. A traced run also writes Spark's event log and turns on
    the perf profiler for Python UDFs."""
    from petfinder_database_distributor_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.driver.memory": "2g",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        )
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway JVM
    exits when its stdin closes, and its Python workers go with it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------- stats
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    idx = max(0, math.ceil(p / 100.0 * len(s)) - 1)
    return s[idx]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of n."""
    return n - max(0, math.ceil(p / 100.0 * n) - 1) - 1


def tail(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile of ``TAIL_LADDER`` with at
    least ten samples beyond it, or None when there are fewer than 20."""
    for p in TAIL_LADDER:
        if beyond(len(values), p) >= 10:
            return p, percentile(values, p)
    return None


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def summary(values: list[float]) -> dict:
    """Median, the highest tail with >=10 samples beyond it, the maximum
    and the count."""
    t = tail(values)
    return {
        "n": len(values),
        "p50": median(values) if values else None,
        "tail_p": t[0] if t else None,
        "tail": t[1] if t else None,
        "max": max(values) if values else None,
    }


# ---------------------------------------------------------------- memory
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root_pid: int, skip: tuple[int, ...] = ()) -> list[int]:
    """``root_pid`` and its descendants, less the subtrees under ``skip``."""
    kids = _children_map()
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        if pid not in skip:
            out.append(pid)
            stack.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(root_pid: int, skip: tuple[int, ...] = ()) -> float:
    """CPU seconds (user + system) of ``root_pid`` and its descendants,
    including what their reaped children used; the subtrees under ``skip``
    are left out. Time stolen by other guests of the host is not in it."""
    total = 0.0
    for pid in tree(root_pid, skip):
        try:
            total += proc_cpu_s(pid)
        except (OSError, IndexError, ValueError):
            pass
    return total


def proc_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) of one process and its reaped children."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in f[11:15]) / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall and CPU seconds of this run's process tree (this process, the JVM, Python
    workers, server process; the memory sampler left out) since the clock
    was made. CPU seconds leave out the time the host gave other guests,
    so on a shared box they hold still where wall seconds swing."""

    skip: tuple[int, ...] = ()

    def __init__(self):
        self.wall0 = time.perf_counter()
        self.cpu0 = tree_cpu_s(os.getpid(), Clock.skip)

    def lap(self) -> tuple[float, float]:
        """(wall, cpu) seconds since the clock was made."""
        return (time.perf_counter() - self.wall0,
                tree_cpu_s(os.getpid(), Clock.skip) - self.cpu0)


def _sample_peak(root_pid: int, interval_s: float) -> None:
    """Sampler process body: poll the tree under ``root_pid`` (less this
    process) until stdin is closed or written, then print the peak."""
    import select

    own = os.getpid()
    peak = 0
    while not select.select([sys.stdin], [], [], interval_s)[0]:
        peak = max(peak, tree_rss_bytes(root_pid) - tree_rss_bytes(own))
    print(peak, flush=True)


class PeakRss:
    """Peak resident memory of this process tree (this process, the JVM, Python
    workers, server process), sampled from a separate process so the
    sampling never holds this interpreter's lock."""

    def __init__(self, interval_s: float = 0.25):
        self._cmd = [sys.executable, "-c",
                     "from perfbench.common import _sample_peak; "
                     f"_sample_peak({os.getpid()}, {interval_s})"]
        self._proc = None
        self.peak = 0

    def __enter__(self):
        self._proc = subprocess.Popen(self._cmd, cwd=ROOT, stdin=subprocess.PIPE,
                                      stdout=subprocess.PIPE, text=True)
        self.pid = self._proc.pid
        Clock.skip = (self.pid,)
        return self

    def __exit__(self, *exc) -> None:
        try:
            out, _ = self._proc.communicate("stop\n", timeout=10)
            self.peak = int(out.strip() or 0)
        except (subprocess.TimeoutExpired, ValueError):
            self._proc.kill()
            self._proc.wait(timeout=10)


# ---------------------------------------------------------------- processes
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants (a JVM's Python workers, once the JVM has
    exited) re-parented to this process instead of init, so that
    ``reap_descendants`` sees and waits for them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_descendants(grace_s: float = 10.0) -> list[int]:
    """Wait until every process this one started, directly or not, has
    ended and been reaped. What still runs after ``grace_s`` gets SIGTERM,
    then SIGKILL. Returns the pids that had to be signalled."""
    import signal

    own, signalled = os.getpid(), []
    steps = [(grace_s, signal.SIGTERM), (5.0, signal.SIGKILL), (5.0, None)]
    deadline, step = time.monotonic() + steps[0][0], 0
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = [p for p in tree(own)[1:] if not _is_zombie(p)]
        if not left:
            return signalled
        if time.monotonic() >= deadline:
            sig = steps[step][1]
            if sig is None:
                return signalled
            for pid in left:
                try:
                    os.kill(pid, sig)
                    signalled.append(pid)
                except ProcessLookupError:
                    pass
            step += 1
            deadline = time.monotonic() + steps[step][0]
        time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    """A zombie whose parent is not this process; this process reaps its
    own, and the others go once their parent reaps them or exits."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return True
    return fields[0] == "Z" and int(fields[1]) != os.getpid()


# ---------------------------------------------------------------- attestation
def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def calibration_floor_s(spark) -> float:
    """Best of three ``spark.range(10**7).count()``: the per-job floor this
    machine sustains right now."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(10**7).count()
        best = min(best, time.perf_counter() - t0)
    return best


def attestation(seed: int, workload: str, traced: bool) -> dict:
    """Who, what and where of a run; the caller adds the calibration floor
    and the load average after the run."""
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "traced": traced,
        "git_sha": git_sha(),
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_before": list(os.getloadavg()),
    }
