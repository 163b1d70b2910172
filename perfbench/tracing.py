"""Spans, Spark status-store counters, plan counts, process memory and
CPU.

Spans are recorded only around the benchmark's own calls into the
package's public functions; nothing inside the program is instrumented.
They are kept in memory and summarized when the run ends.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from statistics import median

from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("name", "group", "parent", "start", "end", "stats")

    def __init__(self, name: str, group: str | None, parent: "Span | None"):
        self.name = name
        self.group = group
        self.parent = parent
        self.start = self.end = 0.0
        self.stats: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """The untraced path: the same job code with every span a no-op."""

    enabled = False

    @contextmanager
    def group(self, name: str):
        yield

    @contextmanager
    def span(self, name: str, spark_job: bool = False):
        yield None


class Tracer:
    """Records spans; ``group`` names the unit they belong to (one job or
    one probe repetition). A span opened with ``spark_job=True`` runs its
    Spark actions under its own job group and afterwards reads the
    group's stage counters from Spark's status store."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._group: str | None = None
        self._seq = 0

    @contextmanager
    def group(self, name: str):
        self._group = name
        try:
            yield
        finally:
            self._group = None

    @contextmanager
    def span(self, name: str, spark_job: bool = False):
        s = Span(name, self._group, self._stack[-1] if self._stack else None)
        gid = None
        if spark_job:
            self._seq += 1
            gid = f"perfbench-{self._seq}"
            self.sc.setJobGroup(gid, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if gid is not None:
                s.stats = stage_stats(self.sc, gid)
            self.spans.append(s)

    def self_seconds(self) -> dict[tuple[str, str], float]:
        """(group, span name) -> summed self time: each span's duration
        minus the part its child spans cover (children run sequentially,
        so that part is the sum of their durations)."""
        child = {id(s): 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[id(s.parent)] += s.seconds
        out: dict[tuple[str, str], float] = {}
        for s in self.spans:
            key = (s.group, s.name)
            out[key] = out.get(key, 0.0) + s.seconds - child[id(s)]
        return out

    def summary(self) -> dict[str, dict]:
        """Per span name: median over groups of the per-group self and
        total time, and how many groups recorded it."""
        selfs = self.self_seconds()
        totals: dict[tuple[str, str], float] = {}
        for s in self.spans:
            key = (s.group, s.name)
            totals[key] = totals.get(key, 0.0) + s.seconds
        out: dict[str, dict] = {}
        for name in sorted({n for _, n in selfs}):
            keys = [k for k in selfs if k[1] == name]
            out[name] = {"self_s": median(selfs[k] for k in keys),
                         "total_s": median(totals[k] for k in keys),
                         "groups": len(keys)}
        return out

    def group_stats(self, groups: list[str], names: set[str] | None = None
                    ) -> dict[str, float]:
        """Median over ``groups`` of the per-group sums of the Spark stage
        counters, optionally restricted to spans named in ``names``."""
        per = []
        for g in groups:
            acc: dict[str, float] = {k: 0.0 for k in STAGE_COUNTERS}
            for s in self.spans:
                if s.group == g and (names is None or s.name in names):
                    for k, v in s.stats.items():
                        acc[k] += v
            per.append(acc)
        return {k: median(p[k] for p in per) for k in STAGE_COUNTERS} \
            if per else {k: 0.0 for k in STAGE_COUNTERS}


STAGE_COUNTERS = ("tasks", "gc_s", "spill_bytes", "shuffle_write_bytes")


def stage_stats(sc, group_id: str) -> dict[str, float]:
    """Sum the stage counters of every job run under ``group_id``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {k: 0.0 for k in STAGE_COUNTERS}
    for jid in tracker.getJobIdsForGroup(group_id):
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # a stage skipped through exchange reuse never ran
            out["tasks"] += sd.numCompleteTasks()
            out["gc_s"] += sd.jvmGcTime() / 1000.0
            out["spill_bytes"] += sd.memoryBytesSpilled() + \
                sd.diskBytesSpilled()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out


# -- plan counts -------------------------------------------------------------

def executed_plan(df):
    """Force and return the physical plan of a fresh copy of ``df``."""
    return df.select("*")._jdf.queryExecution().executedPlan()


def _lines(tree: str) -> int:
    return sum(1 for line in tree.splitlines() if line.strip())


def plan_nodes(plan) -> int:
    return _lines(plan.treeString())


def plan_calls(plan, pattern: str) -> int:
    """Call sites of a function in the plan's expressions — evaluations
    per row when each sits in a per-row projection."""
    return len(re.findall(pattern, plan.toString()))


def expr_nodes(df, col) -> int:
    """Node count of ``col`` once analyzed against ``df``."""
    analyzed = df.select(col.alias("__expr"))._jdf.queryExecution().analyzed()
    return _lines(analyzed.projectList().last().treeString())


# -- process memory and CPU --------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children_of() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_s() -> float:
    """CPU time the host has taken from this machine's virtual CPUs,
    summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def unstolen(wall: float, steal: float) -> float:
    """``wall`` seconds less ``steal`` CPU seconds the host took from this
    machine's virtual CPUs meanwhile, spread over those CPUs: the time the
    program had the machine it runs on. On a shared host the raw wall time
    also follows the neighbours' load, which no number of jobs averages
    out: a 4-vCPU VM had up to a quarter of its CPU time stolen in some
    minutes."""
    return wall - steal / (os.cpu_count() or 1)


def stopwatch():
    """Start timing; the returned function gives the ``unstolen`` seconds
    since this call."""
    t0, s0 = time.perf_counter(), steal_s()
    return lambda: unstolen(time.perf_counter() - t0, steal_s() - s0)


def _tree(root: int) -> list[int]:
    children = _children_of()
    todo, out = [root], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User plus system CPU time of this process and its live
    descendants. Time the host steals from the virtual CPUs is not charged
    here."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every live
    descendant — the Python driver plus the Spark JVM and any Python
    workers it started."""
    return sum(_status_kb(pid, "VmHWM") for pid in
               _tree(os.getpid())) / 1024.0
