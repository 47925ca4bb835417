"""Measurement helpers: spans, process memory, Spark's event log and
streaming progress, reduced to the benchmark's per-layer metrics.

Everything here observes the program from outside. Spans wrap the
benchmark's own calls into the program's modules and tag the Spark jobs
those calls cause with ``SparkContext.setJobGroup``; executor-side
numbers come from the event log Spark writes when the traced run enables
it, and from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa


class Spans:
    """In-memory spans ``(layer, name, group, start, end)``. When
    ``sc`` is given, each span also becomes the job group of the Spark
    jobs started inside it, so the event log can be joined back."""

    def __init__(self, sc=None):
        self.sc = sc
        self.records: list[tuple[str, str, str, float, float]] = []

    @contextmanager
    def span(self, layer: str, name: str, group: str):
        if self.sc is not None:
            self.sc.setJobGroup(group, f"{layer}:{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.records.append((layer, name, group, t0, t1))

    def total(self, layer: str, groups: set[str]) -> float:
        return sum(
            t1 - t0
            for lay, _n, g, t0, t1 in self.records
            if lay == layer and g in groups
        )


def _resident_kb(pid: int, comm: str) -> int:
    """Resident memory of one process. Python workers count their
    proportional share (PSS), so pages shared between the forked workers
    count once across them. The JVM shares next to nothing and counts
    its RSS from ``status``: reading its ``smaps_rollup`` walks every
    page of a 2 GB heap (30 ms on a 4-core box), taking CPU and the
    JVM's memory-map lock from the passes being timed."""
    name, path = ("VmRSS:", "status") if comm == "java" else ("Pss:", "smaps_rollup")
    try:
        with open(f"/proc/{pid}/{path}") as f:
            for line in f:
                if line.startswith(name):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, cpu ticks)} of every live process; the ticks are
    user + system time, its own plus that of its reaped children."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        table[int(d)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    return table


def _below(root: int, table: dict[int, tuple[int, int]]) -> set[int]:
    children = defaultdict(list)
    for pid, (ppid, _ticks) in table.items():
        children[ppid].append(pid)
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def descendants(root: int) -> set[int]:
    """Every live process below ``root`` (the JVM and its Python
    workers, for the benchmark's own pid)."""
    return _below(root, _proc_table())


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by every live process
    below ``root``, including the workers they have already reaped; the
    difference of two readings is the CPU the tree spent in between."""
    table = _proc_table()
    ticks = sum(table[p][1] for p in _below(root, table))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed resident memory of the JVM and Python
    workers below this process every ``interval`` seconds while active;
    ``peak_mb`` is the largest sum seen, and ``peak_split_mb`` its share
    per command name (java, python). The pids seen (every descendant)
    are kept so the caller can wait for them to end."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.peak_split_kb: dict[str, int] = {}
        self.seen: set[int] = set()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self._active.wait(self.interval) and not self._stop.is_set():
                pids = descendants(me)
                self.seen |= pids
                split = defaultdict(int)
                for p in pids:
                    # the JVM and its Python workers only: a child the JVM
                    # spawns (chmod, through a vfork that shares the JVM's
                    # memory until it execs) would count the JVM twice
                    comm = _comm(p)
                    if comm == "java" or comm.startswith("python"):
                        split[comm] += _resident_kb(p, comm)
                if sum(split.values()) > self.peak_kb:
                    self.peak_kb, self.peak_split_kb = sum(split.values()), dict(split)
                time.sleep(self.interval)

    @contextmanager
    def sampling(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def peak_split_mb(self) -> dict[str, float]:
        return {k: round(v / 1024.0, 1) for k, v in self.peak_split_kb.items() if v}


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) clock ticks of the machine since boot: the share of
    steal over a phase says how much the host withheld the CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def _events(log_dir: str):
    """Yield the JSON events of every event log under ``log_dir``
    (rolling v2 directories or single files, zstd or plain)."""
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if os.path.isdir(path) or name.startswith(".") or name.startswith("appstatus"):
            continue
        codec = "zstd" if ".zstd" in name else None
        with pa.input_stream(path, compression=codec) as s:
            data = s.read()
        for line in data.decode().splitlines():
            if line:
                yield json.loads(line)


def group_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Executor-side totals per job group: jobs, stages, tasks, task
    time split, input, shuffle, spill, and the Python-worker and scan
    SQL metrics."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["driver.jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(e["Stage Info"]["Stage ID"], "")
            out[group]["driver.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = out[stage_group.get(e["Stage ID"], "")]
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            if not tm:
                continue
            run_ms = tm["Executor Run Time"]
            deser_ms = tm["Executor Deserialize Time"]
            ser_ms = tm["Result Serialization Time"]
            duration = info["Finish Time"] - info["Launch Time"]
            sched_ms = max(0, duration - run_ms - deser_ms - ser_ms - info.get("Getting Result Time", 0))
            sw, sr, inp = tm["Shuffle Write Metrics"], tm["Shuffle Read Metrics"], tm["Input Metrics"]
            m["driver.tasks"] += 1
            m["driver.task_overhead_s"] += (deser_ms + sched_ms + ser_ms) / 1e3
            m["exec.run_s"] += run_ms / 1e3
            m["exec.cpu_s"] += tm["Executor CPU Time"] / 1e9
            m["exec.gc_s"] += tm["JVM GC Time"] / 1e3
            m["io.input_bytes"] += inp["Bytes Read"]
            m["io.input_rows"] += inp["Records Read"]
            m["shuffle.write_bytes"] += sw["Shuffle Bytes Written"]
            m["shuffle.write_s"] += sw["Shuffle Write Time"] / 1e9
            m["shuffle.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            m["shuffle.fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
            m["shuffle.spill_bytes"] += tm["Disk Bytes Spilled"]
            for acc in info.get("Accumulables", ()):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == "scan time":
                    m["io.scan_s"] += float(upd) / 1e3
                elif name in PY_METRICS:
                    key = PY_METRICS[name]
                    m[key] += float(upd) / (1e3 if key.endswith("_s") else 1.0)
    return out


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------

PROGRESS_DURATIONS = {
    "addBatch": "streaming.add_batch_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
    "queryPlanning": "streaming.planning_s",
    "latestOffset": "streaming.latest_offset_s",
}


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Sum the micro-batch phase durations of one query's progress
    reports; state size is the largest total seen in any batch."""
    out = defaultdict(float)
    for p in progress:
        out["streaming.batches"] += 1
        dur = p.get("durationMs", {})
        for k, name in PROGRESS_DURATIONS.items():
            out[name] += dur.get(k, 0) / 1e3
        ops = p.get("stateOperators", [])
        out["streaming.state_rows"] = max(
            out["streaming.state_rows"], sum(o.get("numRowsTotal", 0) for o in ops)
        )
        out["streaming.state_bytes"] = max(
            out["streaming.state_bytes"], sum(o.get("memoryUsedBytes", 0) for o in ops)
        )
    return out
