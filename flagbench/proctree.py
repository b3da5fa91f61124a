"""Process-tree accounting and hygiene for a one-driver Spark benchmark.

In local mode the work runs in three kinds of process: this Python driver,
the JVM it launches, and the JVM's Python workers (forked by a daemon).
CPU and memory are therefore read for the whole tree from /proc.
"""

from __future__ import annotations

import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks) for every process.

    Counting the children fields too keeps the sum right when a worker
    exits: its time moves into its parent's cutime/cstime once reaped."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                raw = f.read().decode("latin-1")
        except OSError:
            continue
        rest = raw.rsplit(")", 1)[1].split()
        out[int(entry)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def descendants(table: dict | None = None) -> set[int]:
    table = _table() if table is None else table
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in table.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    mine.discard(os.getpid())
    return mine


def tree_cpu() -> float:
    """CPU seconds used so far by this process and its live descendants."""
    table = _table()
    pids = descendants(table) | {os.getpid()}
    return sum(table[p][1] for p in pids if p in table) / _CLK_TCK


def tree_peak_rss_mb() -> dict:
    """Peak resident memory (MB) of each process of the tree, keyed
    'pid:name': each descendant's peak resident set (VmHWM; the JVM and
    Python workers live only for the session) and this driver's current
    one (VmRSS; its own peak would include input generation)."""
    per = {}
    for pid in sorted(descendants() | {os.getpid()}):
        key = "VmRSS" if pid == os.getpid() else "VmHWM"
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if key in fields:
            per[f"{pid}:{fields['Name'].strip()}"] = int(fields[key].split()[0]) / 1024.0
    return per


def jvm_heap_peak_mb(spark) -> float:
    """The JVM's heap high-water mark: the sum over its heap memory pools of
    each pool's peak used bytes (MemoryPoolMXBean.getPeakUsage), in MB."""
    mgmt = spark.sparkContext._jvm.java.lang.management
    heap = mgmt.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed() for p in mgmt.ManagementFactory.getMemoryPoolMXBeans()
               if p.getType().equals(heap)) / 2**20


def stop_spark(spark) -> int:
    """Stop the session, shut the JVM down and wait until every process this
    driver started (JVM, Python daemon, workers) is gone. Returns the number
    of processes that had to be killed."""
    from pyspark import SparkContext

    tree = descendants()
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - best effort, the kill below follows
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return reap(tree)


def reap(pids: set[int], timeout: float = 20.0) -> int:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, stragglers."""
    killed: set[int] = set()
    deadline = time.time() + timeout
    sig = None
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return len(killed)
        if time.time() > deadline:
            if sig == signal.SIGKILL:
                raise RuntimeError(f"processes would not exit: {alive}")
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for p in alive:
                try:
                    os.kill(p, sig)
                    killed.add(p)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5.0
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is our exited child
    except ChildProcessError:
        pass  # not our child: its parent (or init) reaps it
    return os.path.exists(f"/proc/{pid}")


def weather(checkout: str, streams: int, seconds: float = 0.5) -> dict:
    """Memory bandwidth (GB/s) at 1 and ``streams`` concurrent copy streams,
    from the repo's box-weather workers (tools/bench_controls.py). Context
    for explaining drift, not a metric. Run before Spark starts."""
    import importlib.util
    import multiprocessing as mp

    path = os.path.join(checkout, "tools", "bench_controls.py")
    spec = importlib.util.spec_from_file_location("bench_controls", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    ctx = mp.get_context("fork")
    out = {}
    for n in sorted({1, streams}):
        q = ctx.Queue()
        ps = [ctx.Process(target=mod._bw_worker, args=(q, seconds)) for _ in range(n)]
        for p in ps:
            p.start()
        total = sum(q.get(timeout=60) for _ in ps)  # drain before join
        for p in ps:
            p.join(timeout=60)
        out[str(n)] = round(total / 1e9, 2)
    return {"bandwidth_gbps": out, "seconds_per_reading": seconds}
