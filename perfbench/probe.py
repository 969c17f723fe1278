"""Measurement helpers read from outside the engine: the process tree in
/proc, Spark's status stores, a py4j command counter and in-memory spans.

Nothing here changes what the engine does. The untraced runs use only
``ProcTree``; everything else is for the traced run.
"""

from __future__ import annotations

import os
import re
import time

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ /proc tree

def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state; utime, stime, cutime, cstime are 14..17 of
    # the full line, i.e. 11..14 here
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), comm, cpu


class ProcTree:
    """CPU and resident memory of this process and every descendant,
    split into the Python driver, the JVM and the Python workers the JVM
    forks. Reaped children (finished Python workers) are counted through
    their parent's cutime/cstime."""

    def __init__(self):
        self.root = os.getpid()

    def members(self) -> dict[int, tuple[int, str, float]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        tree = {self.root: stats[self.root]} if self.root in stats else {}
        grew = True
        while grew:
            grew = False
            for pid, st in stats.items():
                if pid not in tree and st[0] in tree:
                    tree[pid] = st
                    grew = True
        return tree

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by part: driver, jvm, pyworker."""
        tree = self.members()
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        jvm = {p for p, (_, comm, _) in tree.items() if comm == "java"}
        for pid, (ppid, comm, cpu) in tree.items():
            if pid == self.root:
                # own utime+stime only: the JVM is a live child, so the
                # root's cutime holds only short helpers it already reaped
                out["driver"] += _own_cpu(pid)
            elif pid in jvm:
                out["jvm"] += cpu
            elif _under(pid, jvm, tree):
                out["pyworker"] += cpu
            else:
                out["driver"] += cpu
        return out

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's peak RSS (VmHWM): an
        upper bound on the tree's simultaneous peak."""
        total_kb = 0
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return total_kb / 1024.0

    def descendants(self) -> list[int]:
        return [p for p in self.members() if p != self.root]


def _own_cpu(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    fields = raw[raw.rindex(")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def _under(pid: int, ancestors: set[int], tree: dict) -> bool:
    seen = set()
    while pid in tree and pid not in seen:
        seen.add(pid)
        pid = tree[pid][0]
        if pid in ancestors:
            return True
    return False


def process_age_s() -> float:
    """Seconds since this process started (its /proc start time)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


# ----------------------------------------------------------------- spans

class Spans:
    """Spans kept in memory: name, start, end, parent, pass id, query.
    Single-threaded: the open spans form a stack, and a span's parent is
    the innermost span open when it starts."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.done: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id: int | None = None
        self.query: str | None = None

    def open(self, name: str) -> dict:
        span = {
            "id": len(self.done) + len(self._stack),
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self.pass_id,
            "query": self.query,
        }
        self._stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter() - self.t0
        self._stack.remove(span)
        self.done.append(span)

    def self_times(self, pass_id: int | None = None) -> dict[str, float]:
        """Per span name, total duration minus the part its children
        cover (children never overlap: one thread)."""
        spans = [s for s in self.done if pass_id is None or s["pass"] == pass_id]
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            d = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out


# ------------------------------------------------------------------ py4j

class Py4jCounter:
    """Counts commands the driver sends over py4j, leaving out memory
    commands ('m': object detach on Python GC), whose timing follows the
    garbage collector rather than the code."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self._orig = self.client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith("m"):
                self.calls += 1
            return self._orig(command, *args, **kwargs)

        self.client.send_command = send_command


# ---------------------------------------------------------- status store

_DUR = re.compile(r"([\d.,]+)\s*(ns|ms|s|m|min|h)\b")
_UNIT_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}


def _duration_ms(text: str) -> float:
    """Total of a formatted SQL timing metric: 'total (min, med, max)\\n
    12 ms (...)' or a bare '12 ms'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _DUR.search(line)
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)] if m else 0.0


def _opt(o):
    return o.get() if o.isDefined() else None


# (node-name test, metric name) -> operator class
_EXEC_CLASSES = (
    (lambda n: n.startswith("Scan"), "scan time", "scan_ms"),
    (lambda n: n == "Exchange", "shuffle write time", "exchange_ms"),
    (lambda n: n == "Exchange", "fetch wait time", "exchange_ms"),
    (lambda n: n == "BroadcastExchange", "time to collect", "exchange_ms"),
    (lambda n: n == "BroadcastExchange", "time to broadcast", "exchange_ms"),
    (lambda n: n.endswith("Aggregate"), "time in aggregation build", "agg_ms"),
    (lambda n: n == "BroadcastExchange", "time to build", "join_build_ms"),
    (lambda n: "HashJoin" in n, "time to build hash map", "join_build_ms"),
    (lambda n: True, "time to run Python workers", "python_ms"),
)


class StatusStore:
    """Reads Spark's status stores for what ran under a job group and
    for the SQL executions started in an interval."""

    STAGE_FIELDS = {
        "tasks": lambda s: s.numTasks(),
        "jvm_cpu_s": lambda s: s.executorCpuTime() / 1e9,
        "run_s": lambda s: s.executorRunTime() / 1e3,
        "gc_s": lambda s: s.jvmGcTime() / 1e3,
        "input_mb": lambda s: s.inputBytes() / 2**20,
        "input_rows": lambda s: s.inputRecords(),
        "shuffle_read_mb": lambda s: s.shuffleReadBytes() / 2**20,
        "shuffle_write_mb": lambda s: s.shuffleWriteBytes() / 2**20,
        "spill_mb": lambda s: (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
    }

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def group(self, group: str, detail: bool) -> dict[str, float]:
        """Jobs and stages of a job group; with ``detail`` also the
        summed stage metrics and the wait between each stage's
        submission and its first task launch."""
        out = {"jobs": 0, "stages": 0}
        if detail:
            out.update({k: 0.0 for k in self.STAGE_FIELDS}, task_wait_s=0.0)
        for job_id in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            out["stages"] += len(info.stageIds)
            if not detail:
                continue
            for sid in info.stageIds:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped or evicted stage
                    continue
                for k, get in self.STAGE_FIELDS.items():
                    out[k] += get(st)
                sub, first = _opt(st.submissionTime()), _opt(st.firstTaskLaunchedTime())
                if sub is not None and first is not None:
                    out["task_wait_s"] += (first.getTime() - sub.getTime()) / 1e3
        return out

    def execution_mark(self) -> int:
        return self.sql.executionsCount()

    def exec_classes(self, since: int) -> dict[str, float]:
        """Operator-class time (ms) over SQL executions recorded after
        ``since`` (a prior ``execution_mark``)."""
        out = {"scan_ms": 0.0, "exchange_ms": 0.0, "agg_ms": 0.0,
               "join_build_ms": 0.0, "python_ms": 0.0}
        n = self.sql.executionsCount() - since
        if n <= 0:
            return out
        execs = self.sql.executionsList(since, n)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name().strip()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    for test, metric, cls in _EXEC_CLASSES:
                        if m.name() == metric and test(name):
                            v = _opt(values.get(m.accumulatorId()))
                            if v is not None:
                                out[cls] += _duration_ms(v)
                            break
        return out
