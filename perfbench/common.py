"""Helpers shared by the benchmark's runner and its workloads."""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import time

HERE = os.path.dirname(os.path.abspath(__file__))


class Failure(Exception):
    """A wrong or missing answer from the system under test."""


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the parent of every orphan among its
    descendants.  A JVM outlives the Python process that started it
    until it reads end-of-input, and PySpark's worker daemon moves to a
    process group of its own, so neither a ``wait`` on the direct child
    nor a process-group kill is sure to cover them; as their subreaper
    this process can reap them all (``stop_descendants``)."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> dict[int, list[int]]:
    """Parent pid → pids of its live children, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    return children


def _descendants(pid: int) -> list[int]:
    children = _children()
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def stop_descendants(grace_s: float = 20.0) -> None:
    """Return once every process this one started, directly or not, has
    ended and been reaped.  Processes get ``grace_s`` seconds to end on
    their own (a stopped JVM exits shortly after its parent); whatever
    is left then is killed.  Needs ``become_subreaper`` first: with it,
    having no child left means having no descendant left."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for p in _descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def contention_probe() -> float:
    """Fixed single-threaded numpy work (ms), the median of three
    passes after a warm-up; it moves only with host load."""
    import numpy as np

    buf = np.arange(4_000_000, dtype=np.float64) * 1e-6
    times = []
    for _ in range(4):
        t0 = time.perf_counter()
        float(np.sqrt(buf).sum())
        float(np.sqrt(buf + 1.0).sum())
        times.append(1e3 * (time.perf_counter() - t0))
    return statistics.median(times[1:])


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    time other guests held this machine's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that leaves at
    least ten samples above it.  Up to 21 samples that percentile is
    not above the median, so the median is reported."""
    xs = sorted(values)
    k = len(xs) - 11
    if 2 * k < len(xs):
        return 50.0, statistics.median(xs)
    return 100.0 * (k + 1) / len(xs), xs[k]


def server_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over ``pid`` and its descendants, from /proc,
    leaving out PySpark's Python workers (``pyspark.daemon``) and their
    children: Spark starts and idles them out on its own schedule, so
    whether they are still alive to be read is a race that made the
    figure bimodal (1.3 vs 1.7 GB on declared_mix)."""
    children = _children()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    continue
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
        todo.extend(children.get(p, ()))
    return total / 1024.0


def bench_env(root: str, work: str) -> dict[str, str]:
    """Environment for the Spark processes: every scratch file under
    ``work``, no console progress bars, a 1 GB driver heap that is
    committed and touched at start.  With a 1 GB cap the JVM's resident
    set levels off within a run at sf0.1; with a 4 GB cap it kept
    growing with each heap expansion, and peak RSS spread 20-23%
    (IQR/median, ten runs on a 4-core host).  Even under the cap, how
    far G1 had grown the heap when a run ended varied, and peak RSS on
    declared_mix spread 26% (1.24-1.67 GB, five runs); a heap touched
    in full at start leaves peak RSS to what lies outside it.

    Spark gets two cores, half of a 4-core host: the gateway's Python,
    the load generator, and the JVM's compiler and GC threads then find
    a free core instead of holding up a stage's task.  Two cores ran
    about as fast as four (wire_bulk p50 ~520 against ~500 ms, a warm
    declared_mix pass ~6.6 against ~6.5 s)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "SPARK_GRAFT_SF_DIR": os.path.join(work, "data"),
        "SPARK_GRAFT_DERIVED_DIR": os.path.join(work, "derived"),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # every JVM (spark-submit's launcher too): temp files here, no
        # hsperfdata under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false --driver-java-options"
            " '-Xms1g -XX:+AlwaysPreTouch' pyspark-shell",
    })
    return env


def job_counts(tracker, job_ids) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of Spark jobs ``job_ids``, from the status
    tracker; a stage counts once, when it completed a task."""
    seen: set[int] = set()
    tasks = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            st = tracker.getStageInfo(s)
            if s not in seen and st is not None and st.numCompletedTasks:
                seen.add(s)
                tasks += st.numCompletedTasks
    return len(job_ids), len(seen), tasks
