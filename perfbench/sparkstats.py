"""Read Spark's own status stores from the driver, after an action.

* SQL status store (``sharedState().statusStore()``): one entry per
  executed query with its final (AQE) plan graph and operator SQL
  metrics.  Values arrive as the formatted strings Spark shows in its
  UI; ``parse_metric`` turns them back into numbers (seconds, bytes,
  counts).
* App status store (``SparkContext.statusStore()``): per-stage task
  totals (run/CPU/GC/fetch-wait time, shuffle and spill bytes, failed
  tasks) and per-task durations.

Both are populated with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import statistics

_SCALE = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def _num(s: str) -> float:
    parts = s.strip().split()
    value = float(parts[0].replace(",", ""))
    return value * _SCALE.get(parts[1], 1) if len(parts) > 1 else value


def parse_metric(text: str) -> dict:
    """'105,642' -> {total}; 'total (min, med, max (...))\n8.9 s (2.1 s,
    2.3 s, 2.4 s (stage 8.0: task 28))' -> {total, min, med, max};
    averages ('(min, med, max ...):\n(1, 1, 1 (...))') -> {min, med,
    max}.  Times come back in seconds, sizes in bytes."""
    if "\n" not in text:
        return {"total": _num(text)}
    line = text.split("\n", 1)[1]
    out = {}
    if line.startswith("("):
        inner = line[1:]
    else:
        total, inner = line.split(" (", 1)
        out["total"] = _num(total)
    lo, med, hi = inner.split(", ")[:3]
    out.update(min=_num(lo), med=_num(med), max=_num(hi.split(" (")[0]))
    return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Node:
    __slots__ = ("id", "name", "metrics", "children")

    def __init__(self, nid: int, name: str, metrics: dict):
        self.id, self.name, self.metrics = nid, name, metrics
        self.children: list[Node] = []

    def m(self, name: str, stat: str = "total") -> float:
        return self.metrics.get(name, {}).get(stat, 0.0)


class Execution:
    """One SQL execution: its operator tree and its stage ids."""

    def __init__(self, store, eid: int):
        ui = store.execution(eid).get()
        self.id = eid
        self.plan_text = ui.physicalPlanDescription()
        self.stage_ids = sorted(int(x) for x in _seq(ui.stages().toSeq()))
        self.n_jobs = ui.jobs().size()
        graph = store.planGraph(eid)
        values = store.executionMetrics(eid)
        nodes = {}
        for n in _seq(graph.allNodes()):
            ms = {}
            for m in _seq(n.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    try:
                        ms[m.name()] = parse_metric(v.get())
                    except (ValueError, IndexError):
                        pass    # a format this reader does not know
            nodes[n.id()] = Node(n.id(), n.name().strip(), ms)
        parents = set()
        for e in _seq(graph.edges()):
            nodes[e.toId()].children.append(nodes[e.fromId()])
            parents.add(e.fromId())
        self.nodes = sorted(nodes.values(), key=lambda n: n.id)
        self.root = next(n for n in self.nodes if n.id not in parents)

    def named(self, *names: str) -> list[Node]:
        return [n for n in self.nodes if n.name in names]

    def rows_out(self) -> int:
        """Rows the plan delivered to its sink: the first node under the
        write command that counts output rows (row-preserving projections
        and wrappers in between carry no row metric)."""
        n = self.root
        while True:
            if "number of output rows" in n.metrics and n is not self.root:
                return int(n.m("number of output rows"))
            if not n.children:
                return 0
            n = n.children[0]


class Stores:
    def __init__(self, spark):
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()

    def last_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return max(e.executionId() for e in _seq(self.sql.executionsList()))

    def since(self, last: int, only_last: bool = False) -> list[Execution]:
        """Executions with an id above *last* (or just the newest)."""
        ids = sorted(e.executionId() for e in _seq(self.sql.executionsList())
                     if e.executionId() > last)
        if only_last:
            ids = ids[-1:]
        return [Execution(self.sql, i) for i in ids]

    def stage_totals(self, stage_ids) -> dict:
        """Task totals of the last attempt of each of *stage_ids*;
        ``failed_attempts`` counts the earlier attempts (stage retries)."""
        keys = ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                "fetch_wait_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes", "input_bytes", "failed_attempts")
        out = dict.fromkeys(keys, 0.0)
        for sid in stage_ids:
            sd = self.app.lastStageAttempt(sid)
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["failed_attempts"] += sd.attemptId()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
            out["input_bytes"] += sd.inputBytes()
        return out

    def task_skew(self, stage_ids, min_tasks: int = 2) -> float:
        """max / median task duration over the shuffle-reading stages of
        *stage_ids* with at least *min_tasks* tasks (the largest ratio)."""
        worst = 0.0
        for sid in stage_ids:
            sd = self.app.lastStageAttempt(sid)
            if sd.shuffleReadBytes() <= 0 or sd.numTasks() < min_tasks:
                continue
            tasks = _seq(self.app.taskList(sid, sd.attemptId(), 100000))
            d = [t.duration().get() for t in tasks if t.duration().isDefined()]
            if len(d) >= min_tasks:
                med = statistics.median(d)
                worst = max(worst, max(d) / med if med > 0 else 1.0)
        return worst
