"""Benchmark-side tracing: spans around the program's layer boundaries,
Spark job and task counts per span, process-tree CPU and memory from
/proc, and the ambient-load probe.

Everything hooks the program from outside: a CheckpointStore subclass that
wraps ``stage()``, a ``ck`` callback handed to ``build_graph``, job groups
read back through ``statusTracker()``, and a streaming query's
``recentProgress``. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pl_marker_spark.checkpoint import CheckpointStore

# pipeline stage -> the module (layer) whose code the stage runs
STAGE_LAYER = {
    "turns_tok": "assemble",
    "extract": "extract_fused",
    "triples": "rel",
    "mentions_refined": "rel",
    "mention_surfaces": "link",
    "entity_vocab_raw": "link",
    "sim_edges": "link",
    "entity_assign": "cc",
    "entity_vocab": "graph",
    "nodes": "graph",
    "mention_entity": "graph",
    "edges": "graph",
}
LAYERS = ("session", "assemble", "extract_fused", "rel", "link", "cc", "graph",
          "checkpoint", "streaming")
HARNESS_GROUP = "perfbench-harness"


class Tracer:
    """Records spans, each with the Spark jobs, tasks and failed tasks that
    ran under it.

    Work the program runs between two traced spans (for instance an
    in-memory stage that no hook sees) is charged to the next span: its
    ``charged_from`` is the end of the previous span of the same operation,
    and the jobs run in between join its count."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._seq = 0
        self._seen_stages: set[int] = set()
        self._mark = self.t0
        self._gap: str | None = None

    def _group(self, label: str) -> str:
        self._seq += 1
        group = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def tasks(self, job_ids: list[int]) -> tuple[int, int]:
        """(completed, failed) tasks of the jobs' stages; a stage shared
        by several jobs counts once."""
        done = failed = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    done += st.numCompletedTasks
                    failed += st.numFailedTasks
        return done, failed

    def begin_op(self) -> None:
        self._mark = time.perf_counter()
        self._gap = self._group("gap")

    def end_op(self) -> None:
        self.sc.setJobGroup(HARNESS_GROUP, "benchmark harness")

    @contextmanager
    def span(self, name: str, layer: str, op, checkpointed: bool = False):
        gap_jobs = self.jobs(self._gap) if self._gap else []
        charged_from = self._mark
        start = time.perf_counter()
        group = self._group(name)
        try:
            yield
        finally:
            end = time.perf_counter()
            jobs = gap_jobs + self.jobs(group)
            done, failed = self.tasks(jobs)
            self.spans.append({
                "op": op, "name": name, "layer": layer, "parent": f"op:{op}",
                "charged_from": charged_from - self.t0,
                "start": start - self.t0, "end": end - self.t0,
                "jobs": len(jobs), "tasks": done, "failed_tasks": failed,
                "checkpointed": checkpointed,
            })
            self._mark = end
            self._gap = self._group("gap")

    def record(self, name: str, layer: str, op, start: float, end: float,
               groups: list[str]) -> None:
        """A span timed by the caller, whose jobs ran under ``groups``."""
        jobs = [j for g in groups for j in self.jobs(g)]
        done, failed = self.tasks(jobs)
        self.spans.append({
            "op": op, "name": name, "layer": layer, "parent": f"op:{op}",
            "charged_from": start - self.t0, "start": start - self.t0,
            "end": end - self.t0, "jobs": len(jobs), "tasks": done,
            "failed_tasks": failed, "checkpointed": False,
        })

    def layer_totals(self, op) -> dict[str, dict[str, float]]:
        """Per layer: charged seconds, jobs, tasks, failed tasks of one
        operation; ``checkpoint`` totals the spans that wrote a checkpoint
        (they overlap the layers whose stages they materialize)."""
        out = {layer: defaultdict(float) for layer in LAYERS}
        for s in self.spans:
            if s["op"] != op:
                continue
            keys = [s["layer"]] + (["checkpoint"] if s["checkpointed"] else [])
            for key in keys:
                acc = out.setdefault(key, defaultdict(float))
                acc["s"] += s["end"] - s["charged_from"]
                for k in ("jobs", "tasks", "failed_tasks"):
                    acc[k] += s[k]
        return out


class TracedStore(CheckpointStore):
    """CheckpointStore that records one span per ``stage()`` call."""

    def __init__(self, *args, tracer: Tracer, op, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.op = op

    def stage(self, name, build, *args, **kwargs):
        with self.tracer.span(name, STAGE_LAYER.get(name, name), self.op,
                              checkpointed=True):
            return super().stage(name, build, *args, **kwargs)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for fn in names:
            try:
                size += os.path.getsize(os.path.join(root, fn))
            except OSError:
                continue
            files += fn.endswith(".parquet")
    return size, files


def proc_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children[p]
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of the processes and their reaped children."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident sets (VmHWM)."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def spin_probe() -> float:
    """Seconds a fixed single-threaded loop takes: reads high when other
    tenants load the host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def ambient() -> dict[str, float]:
    """Host load beside a sample. For reading results only: never used to
    drop or weight a sample."""
    return {"load1": os.getloadavg()[0], "spin_s": spin_probe()}
