"""Process-level plumbing shared by every workload: environment, session
start from outside the library, memory sampling and teardown."""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"  # get_spark defaults to 24g; the host has 15 GB


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, event_log: str | None = None) -> None:
    """Set what the JVM and its Python workers read at launch.

    PYTHONPATH lets executor Python workers import surya_spark; without it
    every UDF task fails with ModuleNotFoundError. Scratch space (temp
    files, Spark local dirs, the optional event log) stays under `work`.
    The SPARK_GRAFT_* overrides are cleared so the library runs on its
    defaults. The event log is uncompressed: no zstd module is installed.
    """
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        # a fixed-size heap, touched at start: G1's heap growth, and then
        # how much of the fixed heap G1 had touched, otherwise moved peak
        # RSS by ~20% from run to run
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
    }
    if event_log:  # configured here, switched on per context
        os.makedirs(event_log, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "false",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def start_session(n_cores: int, app: str):
    from surya_spark.session import get_spark
    return get_spark(app=app, cores=n_cores, driver_memory=HEAP)


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [proc.pid] + _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{pid}") for pid in pids):
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def stop_children() -> None:
    """Stop every process this one started and wait until each has ended.

    The input generator's spawn pool starts multiprocessing's resource
    tracker, which otherwise stays up until this process exits and ends a
    moment after it. Anything else still below this process (nothing, once
    stop_jvm has run) is killed and waited for.
    """
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # closes its pipe, reaps it
    pids = _descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    for pid in pids:
        try:
            os.waitpid(pid, 0)  # a direct child: reap it
        except ChildProcessError:  # a grandchild: init reaps it
            while (os.path.exists(f"/proc/{pid}")
                   and time.monotonic() < deadline):
                time.sleep(0.05)


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _descendants(root: int) -> list[int]:
    """Every process below `root` (read from /proc; psutil is not
    installed)."""
    tree = _children()
    out, stack = [], list(tree.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(tree.get(pid, []))
    return out


def jvm_tree_rss(jvm: int) -> list[tuple[str, int]]:
    """(command, resident bytes) of the JVM and the Python workers below
    it.

    Only processes running a Python interpreter are counted below the JVM.
    The JVM also starts short-lived helpers (Hadoop's local file system
    shells out to bash and readlink); until such a child execs, it shares
    the JVM's pages and reports the JVM's RSS as its own, so a sample that
    caught one would count the JVM twice.
    """
    page = os.sysconf("SC_PAGE_SIZE")
    out = []
    for pid in [jvm] + _descendants(jvm):
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            if pid != jvm and not exe.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                out.append((f.read().strip(), rss))
        except (OSError, IndexError, ValueError):
            continue
    return out


class RssSampler:
    """Background sampler of the JVM tree's RSS; `peak` is the maximum
    total seen since the last `reset`, `at_peak` its per-command split in
    MB."""

    def __init__(self, jvm: int, interval: float = 0.2):
        self.jvm = jvm
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = jvm_tree_rss(self.jvm)
        total = sum(rss for _, rss in procs)
        if total >= self.peak:
            self.peak = total
            split: dict[str, int] = {}
            for comm, rss in procs:
                split[comm] = split.get(comm, 0) + (rss >> 20)
            self.at_peak = split

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def reset(self) -> None:
        self.peak = 0
        self._sample()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
