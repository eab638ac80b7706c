"""Run plumbing shared by the workloads: the generator process, the
per-run scratch directory, the Spark session and host facts."""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROCESS_START = time.monotonic()


@dataclass
class Result:
    """What one workload run hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    # end-to-end metrics: name -> (value, unit)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    # the workload's own named figures (README.md), printed as the report
    report: dict[str, tuple[float | None, str]] = field(default_factory=dict)
    # per-layer metrics (traced runs): name -> value
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    # monotonic time of the first timed operation; set-up ends there
    first_timed: float | None = None
    # set-up split: spark_s (session start), inputs_s (input generation)
    setup_parts: dict[str, float] = field(default_factory=dict)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.notes.append(why)


class GeneratorBehind(RuntimeError):
    """The load generator ran later than its bound: the run's live
    numbers would measure the generator, so the run is not recorded."""


class Generator:
    """The load generator as its own single-threaded process."""

    def __init__(self, seed: int, log_dir: str, keys: int, backlog: int,
                 phases: list[tuple[float, float]]) -> None:
        cmd = [sys.executable, str(HERE / "gen.py"), "--seed", str(seed),
               "--dir", log_dir, "--keys", str(keys), "--backlog", str(backlog)]
        for rate, secs in phases:
            cmd += ["--phase", f"{rate}:{secs}"]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     text=True, cwd=str(ROOT))
        self.info: dict | None = None
        self.lateness: list[dict] = []

    def ready(self) -> dict:
        """Block until the log is encoded and the backlog is on disk."""
        if self.info is None:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"generator exited ({self.proc.wait()}) before it was ready")
            self.info = json.loads(line)
        return self.info

    def go(self, phase: int, t0: float) -> None:
        self.proc.stdin.write(f"go {phase} {t0!r}\n")
        self.proc.stdin.flush()

    def done(self, bound_ms: float | None) -> dict:
        """The phase's lateness report; raises GeneratorBehind past the
        bound (if one is given)."""
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited ({self.proc.wait()}) mid-phase")
        rep = json.loads(line)
        self.lateness.append(rep)
        if bound_ms is not None and rep["late_p99_ms"] > bound_ms:
            raise GeneratorBehind(
                f"generator p99 lateness {rep['late_p99_ms']:.1f} ms > {bound_ms} ms in phase {rep['phase']}")
        return rep

    def late_p99_ms(self) -> float:
        return max((r["late_p99_ms"] for r in self.lateness), default=0.0)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
            except (BrokenPipeError, OSError):
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self.proc.stdout is not None:
            self.proc.stdout.close()


class RunDir:
    """Scratch space of one run (logs, checkpoints, state versions,
    archive output), inside the checkout and removed at exit, so every
    run starts from the same disk."""

    def __init__(self, workload: str) -> None:
        self.path = ROOT / ".perfbench_tmp" / f"{workload}_{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        self.path.mkdir(parents=True)

    def sub(self, name: str) -> str:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.path.parent.rmdir()
        except OSError:
            pass


def pin_environment() -> int:
    """Pin the engine to this host's cores (``get_spark`` would run
    local[32] when SPARK_GRAFT_CPUS is unset) and keep Spark's and
    Python's scratch inside the checkout; returns the core count."""
    cpus = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    local = ROOT / ".perfbench_tmp" / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    tmp = ROOT / ".perfbench_tmp" / "tmp"
    tmp.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return cpus


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): the Python workers Spark's JVM forks
    stay this process's to wait for once the JVM has ended."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def end_processes(grace_s: float = 30.0) -> list[int]:
    """Stop Spark (session, then its JVM) if this process started it, and
    wait until every process under this one has ended: asked to stop,
    then terminated after ``grace_s``, then killed.  Returns the pids
    that had to be signalled."""
    _stop_spark_jvm()
    signalled: list[int] = []
    t0 = time.monotonic()
    level = 0
    while True:
        _reap()
        tree = _descendants(os.getpid())
        if not tree:
            return signalled
        late = time.monotonic() - t0
        if late > grace_s + 20:
            raise RuntimeError(f"processes {sorted(tree)} outlived SIGKILL")
        want = 2 if late > grace_s + 5 else 1 if late > grace_s else 0
        if want > level:
            level = want
            for pid in (p for p, zombie in tree.items() if not zombie):
                try:
                    os.kill(pid, signal.SIGKILL if level == 2 else signal.SIGTERM)
                    signalled.append(pid)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _stop_spark_jvm() -> None:
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    proc = getattr(gw, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap() -> None:
    """Collect every ended child (and adopted orphan)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _descendants(root: int) -> dict[int, bool]:
    """Every process under ``root``, from /proc: pid -> is a zombie.  A
    zombie has not ended for good until its parent collects it (a JVM
    whose main thread exited stays a zombie while its other threads
    finish)."""
    parent: dict[int, tuple[int, bool]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        parent[int(d)] = (int(fields[1]), fields[0] == "Z")
    out: dict[int, bool] = {}
    frontier = {root}
    while frontier:
        kids = {p: z for p, (pp, z) in parent.items() if pp in frontier}
        out.update(kids)
        frontier = set(kids)
    return out


def start_spark(app: str):
    """A fresh session from the engine's own ``get_spark``, plus the binlog
    DataSource; the warehouse and Derby files go to the run's scratch."""
    from mysql_cdc_spark.session import get_spark
    from mysql_cdc_spark.sources.binlog_datasource import register_binlog_source

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    register_binlog_source(spark)
    return spark


def host_facts(seed: int, spark=None) -> dict:
    """Host and build facts carried by every result."""
    import pyspark

    java = None
    if spark is not None:
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    else:
        try:
            out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
            java = (out.stderr or out.stdout).splitlines()[0]
        except (OSError, subprocess.TimeoutExpired, IndexError):
            java = None
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "git_sha": _git_sha(),
        "seed": seed,
    }


def _git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=str(ROOT), capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None
