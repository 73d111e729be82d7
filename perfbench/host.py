"""Host sizing, process environment and process-tree bookkeeping.

Everything here runs before the JVM starts: the driver heap, pre-touch,
local parallelism and temporary-file locations are JVM-launch options, and the
Python workers inherit their import path from the environment the JVM
was launched with (a ``sys.path`` entry in the driver does not reach
them).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import threading
import time

# the driver JVM's heap (the driver is also the executor in local mode):
# about twice the most the workloads hold after a young collection
HEAP_MIB = 3072
# what must stay free next to a pre-touched heap: one Python worker per
# core plus the JVM's off-heap (metaspace, code cache, Arrow buffers)
WORKER_RESERVE_MIB = 512
OFFHEAP_RESERVE_MIB = 1024


def _meminfo_mib() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


class HostTooSmall(RuntimeError):
    """The pre-touched heap does not fit in the memory available now."""


def size_host() -> dict:
    """Heap and core count for this host.

    The heap is ``HEAP_MIB``, not a share of MemTotal: a pre-touched
    heap of 60% of MemTotal (9.4 GiB of 15.7) is resident for the whole
    run on a host whose memory other tenants share, and doubled the
    run's kernel time. It is always pre-touched (a fixed ``-Xms`` heap
    committed at start): without pre-touch G1 commits the heap on
    demand and every timing changes, so a run that could not pre-touch
    would not be comparable with one that did. When the heap plus the
    worker and off-heap reserve does not fit in MemAvailable, the run
    stops with ``HostTooSmall`` instead.
    """
    mem = _meminfo_mib()
    cores = len(os.sched_getaffinity(0))
    heap = HEAP_MIB
    need = heap + cores * WORKER_RESERVE_MIB + OFFHEAP_RESERVE_MIB
    if need > mem["MemAvailable"]:
        raise HostTooSmall(
            f"a pre-touched {heap} MiB heap and its reserve need {need} MiB;"
            f" {mem['MemAvailable']} MiB are available"
        )
    return {
        "cores": cores,
        "mem_total_mib": mem["MemTotal"],
        "mem_available_mib": mem["MemAvailable"],
        "heap_mib": heap,
        "pretouch": True,
    }


def configure(root: str, work: str, host: dict) -> None:
    """Export the environment the session factory and the workers read.

    All working space (Spark local dirs, JVM and Python temp files) goes
    under ``work`` so a run writes nothing outside its checkout.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + py_path if py_path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SLOG_DRIVER_MEM"] = f"{host['heap_mib']}m"
    os.environ["SLOG_JVM_TUNED"] = "1"
    os.environ["SLOG_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _proc_kib(pid: int, name: str, field: str) -> int:
    """One ``field: <n> kB`` line of ``/proc/<pid>/<name>``, 0 if gone."""
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    """Whether ``pid`` runs Python. A child the JVM has just spawned
    still shares the JVM's memory until it execs, and must not count."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class MemSampler:
    """Peak memory the program uses beyond its fixed heap, sampled every
    ``SAMPLE_S`` seconds on a daemon thread: the driver JVM's resident
    memory above the committed heap (metaspace, code cache, thread
    stacks, Arrow and Netty buffers) plus the proportional set size of
    the Python workers it forks. The pre-touched heap is resident from
    the start whatever the program does. How much of it is in use is
    not counted either: between collections that is G1's sizing, and
    even the heap left after a young collection swung from 0.5 to
    1.35 GB between runs of one workload, with old-generation garbage
    waiting for a concurrent cycle."""

    SAMPLE_S = 0.5

    def __init__(self, gateway):
        mf = gateway.jvm.java.lang.management.ManagementFactory
        self.jvm_pid = gateway.proc.pid
        self._mx = mf.getMemoryMXBean()
        self.peak_mib = 0.0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> dict:
        """One sample, in MiB: JVM RSS above the committed heap, and the
        workers' PSS."""
        committed_kib = self._mx.getHeapMemoryUsage().getCommitted() // 1024
        off_heap_kib = _proc_kib(self.jvm_pid, "status", "VmRSS:") - committed_kib
        worker_kib = sum(_proc_kib(p, "smaps_rollup", "Pss:")
                         for p in process_tree(self.jvm_pid)[1:] if _is_python(p))
        return {"jvm_off_heap": max(0, off_heap_kib) / 1024,
                "workers": worker_kib / 1024}

    def _run(self) -> None:
        while not self._stop.is_set():
            try:
                s = self.sample()
            except Exception:  # the gateway is going down
                return
            if sum(s.values()) > self.peak_mib:
                self.peak_mib, self.at_peak = sum(s.values()), s
            self._stop.wait(self.SAMPLE_S)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_jvm() -> None:
    """Stop the Spark context and the JVM gateway, and wait until the JVM
    and every process it started have exited."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 15
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def dir_bytes(path: str, suffix: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, fn))
        for r, _, fns in os.walk(path)
        for fn in fns
        if fn.endswith(suffix) and not fn.startswith(".")
    )


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
