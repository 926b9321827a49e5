"""Spans, Spark job attribution and host-load labels for the benchmark.

Every timed call the benchmark makes into the program goes through
``Tracer.span``: the span records its name, layer, start and end in
memory. With ``jobs=True`` (the traced run) the span also sets a Spark
job group, so that after the session stops the event log can be folded
into per-span job, stage, task, shuffle and spill counts
(``fold_event_log``, the event-log reading of ``tools/r11_profile.py``
keyed by job group). With ``jobs=False`` the span only reads the clock,
which is what the untraced end-to-end runs use.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans do not nest: each wraps one call
    into the program, so a span's self time is its duration. ``spark``
    is needed only when ``jobs`` is set: each span then runs under its
    own job group."""

    def __init__(self, spark=None, jobs: bool = False):
        self.spark = spark
        self.jobs = jobs
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sp = Span(len(self.spans), name, layer, 0.0, attrs=dict(attrs))
        self.spans.append(sp)
        sc = self.spark.sparkContext if self.jobs else None
        if sc is not None:
            sc.setJobGroup(f"span-{sp.sid}", f"{layer}:{name}")
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str, spark_counts: dict[int, dict]) -> None:
        """Write every span, with its Spark counts, as a JSON list."""
        rows = [
            {
                "id": sp.sid,
                "name": sp.name,
                "layer": sp.layer,
                "start": sp.start,
                "end": sp.end,
                **sp.attrs,
                **spark_counts.get(sp.sid, {}),
            }
            for sp in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, default=str)


SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "scan_bytes", "shuffle_write_bytes", "spill_bytes",
)
# the file-scan node's driver-side metric: bytes of the files it selected
# after partition pruning. The tasks' own "Bytes Read" misses what the
# parquet reader fetches with vectored reads, so it is not used.
SCAN_SIZE_METRIC = "size of files read"
_SQL_EVENT = '"Event":"org.apache.spark.sql.execution.ui.SparkListener'


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` (plain or Spark 4 rolling dirs)."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, name)
        if os.path.isdir(p):
            out += [
                os.path.join(p, q) for q in sorted(os.listdir(p)) if "events" in q
            ]
        else:
            out.append(p)
    return out


def _scan_size_ids(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == SCAN_SIZE_METRIC:
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _scan_size_ids(child, out)


def fold_event_log(paths: list[str]) -> dict[int, dict]:
    """Per span id: jobs, stages and tasks run, bytes of the files its
    SQL scans selected, shuffle bytes written and bytes spilled (memory +
    disk), attributed by the ``span-<id>`` job group each job and stage
    was submitted under (a SQL execution by the group of its jobs). Work
    outside any span is keyed ``-1``."""
    stage_group: dict[tuple[int, int], int] = {}
    exec_group: dict[int, int] = {}
    scan_ids: set[int] = set()
    scan_bytes: dict[int, dict[int, int]] = {}  # execution -> accumulator -> bytes
    acc: dict[int, dict] = {}

    def group_of(props: dict | None) -> int:
        g = (props or {}).get("spark.jobGroup.id") or ""
        return int(g[5:]) if g.startswith("span-") else -1

    def bucket(g: int) -> dict:
        return acc.setdefault(g, dict.fromkeys(SPARK_COUNTERS, 0))

    for path in paths:
        with open(path) as f:
            for line in f:
                # cheap prefilter: most lines are task ends or skipped kinds
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    g = group_of(props)
                    bucket(g)["jobs"] += 1
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
                elif '"Event":"SparkListenerStageSubmitted"' in line:
                    ev = json.loads(line)
                    si = ev["Stage Info"]
                    g = group_of(ev.get("Properties"))
                    stage_group[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = g
                    bucket(g)["stages"] += 1
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    b = bucket(stage_group.get(key, -1))
                    b["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif _SQL_EVENT in line[:120]:
                    ev = json.loads(line)
                    if "sparkPlanInfo" in ev:  # execution start, AQE plan update
                        _scan_size_ids(ev["sparkPlanInfo"], scan_ids)
                    for aid, v in ev.get("accumUpdates", ()):  # driver metrics
                        if aid in scan_ids:
                            scan_bytes.setdefault(ev["executionId"], {})[aid] = v
    for ex, by_scan in scan_bytes.items():
        bucket(exec_group.get(ex, -1))["scan_bytes"] += sum(by_scan.values())
    return acc


class HostLoad:
    """Host-load labels over a window: core count, 1-minute loadavg at
    both ends, and the steal and iowait shares of all CPU time in
    between (from the aggregate ``cpu`` line of ``/proc/stat``)."""

    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        self._t0 = self._cpu_times()
        self._load0 = self._loadavg()

    @staticmethod
    def _cpu_times() -> list[int]:
        try:
            with open("/proc/stat") as f:
                return [int(x) for x in f.readline().split()[1:]]
        except OSError:
            return []

    @staticmethod
    def _loadavg() -> float | None:
        try:
            return os.getloadavg()[0]
        except OSError:
            return None

    def labels(self) -> dict:
        t1 = self._cpu_times()
        out = {"nproc": self.nproc, "loadavg_start": self._load0, "loadavg_end": self._loadavg()}
        if self._t0 and len(t1) >= 8:
            d = [b - a for a, b in zip(self._t0, t1)]
            total = sum(d[:8]) or 1  # user nice system idle iowait irq softirq steal
            out["iowait_frac"] = d[4] / total
            out["steal_frac"] = d[7] / total
        return out


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MiB, 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
