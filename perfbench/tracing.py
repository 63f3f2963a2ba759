"""Measurement plumbing: the /proc process-tree sampler, layer spans, and
the Spark event-log reader that turns spans into per-layer counters.

Nothing here submits Spark work. The sampler reads /proc; spans set a
job group (one py4j call) and record wall-clock bounds; the event log is
written by Spark itself and parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree() -> dict[int, list[str]]:
    """/proc stat fields of this process and every descendant."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = stat_fields(pid)
        if fields is None:
            continue
        stats[int(pid)] = fields
        children[int(fields[1])].append(int(pid))
    out: dict[int, list[str]] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """user+sys CPU of the process tree, reaped children included."""
    total = 0
    for f in tree().values():
        # utime stime cutime cstime (stat fields 14-17)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_bytes() -> int:
    return sum(int(f[21]) for f in tree().values()) * _PAGE


class RssSampler:
    """Background thread tracking the process tree's peak resident set."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Spans:
    """Layer spans. Each span runs under its own Spark job group, set
    before the layer's function is called, so jobs launched while a
    DataFrame is being built are attributed to the build, not the action.
    Disabled spans cost nothing and touch no Spark state."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.records: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str, op: int, query: str | None = None):
        if not self.enabled:
            yield
            return
        group = f"pb{len(self.records)}"
        self.sc.setJobGroup(group, f"{layer} {query or ''}".strip())
        start = time.time()
        try:
            yield
        finally:
            self.records.append({
                "layer": layer, "op": op, "query": query, "group": group,
                "start_ms": start * 1000.0, "end_ms": time.time() * 1000.0,
            })
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def eventlog_submit_args(log_dir: str) -> str:
    """Launcher options that make Spark write a plain JSON-lines event log
    (one uncompressed, non-rolling file per application)."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items())


def _group_stats() -> dict:
    return {
        "jobs": 0, "stages": 0, "skipped_stages": 0, "tasks": 0,
        "failed_tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "output_bytes": 0, "job_intervals": [], "stage_tasks": defaultdict(list),
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Counters per job group from the single event log in ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    groups: dict[str, dict] = defaultdict(_group_stats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    pending: dict[int, set[int]] = {}
    stage_group: dict[int, str] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[jid] = gid
                job_start[jid] = ev["Submission Time"]
                pending[jid] = set(ev["Stage IDs"])
                groups[gid]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups[stage_group[sid]]["stages"] += 1
                for waiting in pending.values():
                    waiting.discard(sid)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                g = groups[job_group.get(jid)]
                g["skipped_stages"] += len(pending.pop(jid, ()))
                g["job_intervals"].append((job_start.pop(jid), ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid)]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    g["failed_tasks"] += 1
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                g["stage_tasks"][sid].append(info["Finish Time"] - info["Launch Time"])
    return groups


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            covered += b - a
            cursor = b
    return covered


def _skew(stage_tasks: dict[int, list[float]]) -> float:
    """Worst stage's max/median task duration (1.0 with no stages)."""
    worst = 1.0
    for durations in stage_tasks.values():
        worst = max(worst, max(durations) / max(statistics.median(durations), 1.0))
    return worst


COUNTERS = (
    "jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
    "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes",
)


def span_counters(span: dict, groups: dict[str, dict]) -> dict[str, float]:
    """Counters of one span, plus its wall time, driver-only time (wall
    time not covered by any of its jobs) and task skew."""
    g = groups.get(span["group"]) or _group_stats()
    wall_ms = span["end_ms"] - span["start_ms"]
    out = {k: g[k] for k in COUNTERS}
    out["wall_s"] = wall_ms / 1e3
    out["driver_only_s"] = (
        wall_ms - _covered_ms(g["job_intervals"], span["start_ms"], span["end_ms"])
    ) / 1e3
    out["task_skew"] = _skew(g["stage_tasks"])
    return out
