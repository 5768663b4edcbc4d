"""Measurement helpers for the benchmark: spans, Spark job groups,
Catalyst phase times, an event-log summarizer, and process counters
read from ``/proc``.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the program's public functions, and the
Spark-side numbers come from the job-group status tracker, each plan's
``QueryPlanningTracker`` and the event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

_UNION_RE = re.compile(r"^[\s:+\-|]*Union\b", re.M)


@dataclass
class Tracer:
    """In-memory span recorder. Spans nest through a stack; every span
    of one run carries the same ``run_id``."""

    run_id: str
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed duration of every finished span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag every Spark job started inside the block with ``group``;
    yields a callable returning how many jobs the group has run."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of ``df``'s plan, as
    its ``QueryPlanningTracker`` records them. Forces planning first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def union_nodes(df) -> int:
    """Union nodes in ``df``'s analyzed plan."""
    return len(_UNION_RE.findall(df._jdf.queryExecution().analyzed().treeString()))


def read_chars() -> int:
    """Bytes this process has read through read(2) and friends so far."""
    for line in Path("/proc/self/io").read_text().splitlines():
        if line.startswith("rchar:"):
            return int(line.split()[1])
    raise RuntimeError("/proc/self/io has no rchar line")


_TICK = os.sysconf("SC_CLK_TCK")
# Names (``comm``) of the JVM's just-in-time compiler threads.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_cpu_s(stat_path: Path) -> tuple[str, float]:
    """``comm`` and user + system CPU seconds from a ``/proc`` stat file."""
    text = stat_path.read_text()
    comm = text[text.index("(") + 1 : text.rindex(")")]
    fields = text[text.rindex(")") + 2 :].split()
    return comm, (int(fields[11]) + int(fields[12])) / _TICK


def work_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and the JVM ``jvm_pid``,
    without the JVM's JIT compiler threads.

    Compilation is left out because its amount depends on how far the
    JIT has got, which varies from run to run; what remains is the
    program's own work (Python, Spark, codegen, GC).
    """
    py = time.process_time()
    _, jvm = _stat_cpu_s(Path(f"/proc/{jvm_pid}/stat"))
    jit = 0.0
    for task in Path(f"/proc/{jvm_pid}/task").iterdir():
        with contextlib.suppress(FileNotFoundError, ProcessLookupError):
            comm, secs = _stat_cpu_s(task / "stat")
            if comm.startswith(_JIT_THREADS):
                jit += secs
    return py + jvm - jit


def steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine so far,
    over all CPUs (``steal`` in ``/proc/stat``)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (``VmHWM``) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


_EXEC_KEYS = ("task_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "tasks", "input_bytes")


def summarize_event_logs(log_dir: Path) -> dict[str, dict[str, float]]:
    """Roll task metrics up per job group from the uncompressed event
    logs under ``log_dir``.

    Returns ``{group: {task_s, cpu_s, gc_s, shuffle_write_bytes,
    spill_bytes, tasks, input_bytes}}``; jobs without a group are
    filed under ``""``.
    """
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with path.open(encoding="utf-8") as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.append(ev)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(_EXEC_KEYS, 0.0))
    for ev in tasks:
        m = ev["Task Metrics"]
        g = out[stage_group.get(ev["Stage ID"], "")]
        g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        g["tasks"] += 1
    return dict(out)
