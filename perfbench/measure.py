"""Measurement helpers owned by the benchmark: process-tree CPU and RSS,
the machine context of a run, in-memory spans, and the Spark event log
reader used by traced runs. Linux /proc only."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / CLK_TCK


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(parent pid, cpu seconds, rss bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return (
        int(fields[1]),
        (int(fields[11]) + int(fields[12])) / CLK_TCK,
        int(fields[21]) * PAGE,
    )


def tree(root: int, exclude: set[int]) -> dict[int, tuple[float, int]]:
    """{pid: (cpu_s, rss_bytes)} of root and its descendants, skipping the
    subtrees rooted at `exclude` (the load generator)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in stats:
            continue
        out[pid] = stats[pid][1:]
        todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Samples this process's tree every 100 ms between start() and stop().
    CPU of a process that exits mid-phase counts up to its last sample;
    RSS is the peak of the tree's summed resident set."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.exclude: set[int] = set()
        self._base: dict[int, float] = {}
        self._last: dict[int, float] = {}
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        snap = tree(self.root, self.exclude)
        for pid, (cpu, _) in snap.items():
            self._last[pid] = cpu
        self.peak_rss = max(self.peak_rss, sum(r for _, r in snap.values()))

    def start(self) -> "TreeSampler":
        self._base = {p: c for p, (c, _) in tree(self.root, self.exclude).items()}
        self._last = dict(self._base)
        self.peak_rss = 0
        self._stop.clear()

        def loop() -> None:
            while not self._stop.wait(0.1):
                self._sample()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> tuple[float, float]:
        """(cpu seconds used, peak RSS in MB) over the sampled phase."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        cpu = sum(c - self._base.get(p, 0.0) for p, c in self._last.items())
        return cpu, self.peak_rss / 2**20


def cpu_jiffies() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    total = sum(vals)
    return total, total - vals[3] - vals[4] - vals[7], vals[7]


def machine_probe() -> dict:
    """How fast this machine runs right now, to tell a slow machine from a
    slow program: the best of three runs of a fixed single-thread Python
    loop, and the best of three 64 MiB memory copies (bytes read plus
    written per second)."""
    import numpy as np

    loop = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i
        loop = min(loop, time.perf_counter() - t0)
    src = np.ones(8 * 2**20)
    dst = np.empty_like(src)
    copy = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        copy = min(copy, time.perf_counter() - t0)
    return {"cpu_loop_ms": round(loop * 1000, 3), "mem_copy_gbps": round(2 * src.nbytes / copy / 1e9, 3)}


# probe values of the machine the reference set of runs was taken on
REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference_machine.json")
# a probe more than this factor slower or faster than the reference; the
# probe alone varies by up to 1.3x between processes on an idle machine
SPEED_TOLERANCE = 1.5


def speed_ratios(probe: dict, reference: dict) -> dict:
    """How many times slower than the reference each probe ran (>1 is
    slower)."""
    return {
        "cpu_loop": round(probe["cpu_loop_ms"] / reference["cpu_loop_ms"], 3),
        "mem_copy": round(reference["mem_copy_gbps"] / probe["mem_copy_gbps"], 3),
    }


class Context:
    """Machine context recorded with every result: nproc, load average at
    start, cores busy with other work at start, hypervisor steal during the
    run, and a machine-speed probe at start and at the end.

    `noisy` flags a run that started with more than a quarter of the cores
    busy (the gate scales with nproc), saw more than 5% steal, or whose
    probe, at start or end, ran more than SPEED_TOLERANCE times slower or
    faster than on the reference machine (reference_machine.json). On one
    shared 4-core host, 7-8% steal made the paced stream latency half as
    long again; and the same work once took twice the CPU time an hour
    apart while steal stayed under 1%, which only the probe shows.
    The load average is recorded but not gated: it is host-wide in a
    container and trails the previous run by a minute."""

    def __init__(self) -> None:
        t0 = time.time()
        self.nproc = nproc()
        with open("/proc/loadavg") as f:
            self.loadavg_start = float(f.read().split()[0])
        self._cpu0 = cpu_jiffies()
        time.sleep(0.2)
        # cores kept busy by other processes just before the run starts
        self.busy_cores_start = (cpu_jiffies()[1] - self._cpu0[1]) / CLK_TCK / 0.2
        self.probe_start = machine_probe()
        self.sample_s = time.time() - t0  # time this sampling took

    def finish(self, loadgen_late_ms: float | None) -> dict:
        total, _, steal = cpu_jiffies()
        steal_pct = 100.0 * (steal - self._cpu0[2]) / max(1, total - self._cpu0[0])
        probes = {"start": self.probe_start, "end": machine_probe()}
        ratios = {}
        if os.path.exists(REFERENCE):
            with open(REFERENCE) as f:
                reference = json.load(f)["probe"]
            ratios = {k: speed_ratios(p, reference) for k, p in probes.items()}
        drift = any(
            not 1 / SPEED_TOLERANCE <= r <= SPEED_TOLERANCE
            for rs in ratios.values() for r in rs.values()
        )
        return {
            "nproc": self.nproc,
            "loadavg_start": self.loadavg_start,
            "busy_cores_start": round(self.busy_cores_start, 3),
            "cpu_steal_pct": round(steal_pct, 3),
            "loadgen_late_ms_max": loadgen_late_ms,
            "speed_probe": probes,
            "slower_than_reference": ratios or None,
            "noisy": self.busy_cores_start > 0.25 * self.nproc or steal_pct > 5.0 or drift,
        }


class Tracer:
    """Spans held in memory (name, start, end, parent, attributes) and
    written out once, at exit. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield -1
            return
        sid = self.add(name, time.time(), 0.0, self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def dump(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(self.spans, f)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task count, executor run time, GC time, shuffle bytes
    written and spilled bytes, summed over SparkListenerTaskEnd events of
    an uncompressed, non-rolling event log. Streaming jobs group by their
    query id and micro-batch id."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    batch = props.get("streaming.sql.batchId")
                    group = (
                        f"stream-{props.get('sql.streaming.queryId')}-{batch}"
                        if batch is not None
                        else props.get("spark.jobGroup.id") or "none"
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    g = groups.setdefault(group, _empty_group())
                    g["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = groups.setdefault(stage_group.get(ev.get("Stage ID"), "none"), _empty_group())
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


def _empty_group() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0}


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


if __name__ == "__main__":
    # the median of nine probes, as a reference_machine.json "probe" value
    import statistics

    runs = [machine_probe() for _ in range(9)]
    print(json.dumps({k: statistics.median(r[k] for r in runs) for k in runs[0]}))
