"""Traced-run collector: spans, job-group attribution, status-store
stage metrics and executed-plan SQL metrics.

Spans are recorded around the benchmark's own calls into the engine;
nothing inside the engine is instrumented. Every span tags the Spark
jobs it triggers with its own job group. After the run, ``Tracer``
maps each group to its jobs and stages through ``statusTracker`` and
reads task metrics from the status store (which works with the UI
off). Spans stay in memory until the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "op", "t0", "t1", "groups", "udf_s", "plan")

    def __init__(self, name: str, op: int):
        self.name, self.op = name, op
        self.t0 = self.t1 = 0.0
        self.groups: list[str] = []
        self.udf_s = 0.0
        self.plan: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """Tracing off: spans cost one attribute check; probe actions that
    exist only to split layers are skipped."""

    enabled = False

    def __init__(self, sc=None):
        self.sc = sc  # set in a traced run: untraced ops still get a job group

    def begin_op(self, index: int, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup("perfbench.plain", name, False)

    def end_op(self) -> None:
        if self.sc is not None:
            self.sc.setJobGroup("perfbench.idle", "between ops", False)

    @contextmanager
    def span(self, name: str):
        yield None

    def plan_rows(self, span, df, markers):
        pass

    def attach_group(self, span, group: str) -> None:
        pass

    def note(self, key: str, value) -> None:
        pass


def _walk(node):
    """Yield every physical node, descending through AQE wrappers."""
    name = node.nodeName()
    yield node
    if name == "AdaptiveSparkPlan":
        kids = [node.executedPlan()]
    elif "QueryStage" in name:
        kids = [node.plan()]
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for k in kids:
        yield from _walk(k)


def _condition(node) -> str:
    """A Filter's condition or a join's extra condition, as text."""
    name = node.nodeName()
    if name == "Filter":
        return node.condition().toString()
    if "Join" in name:
        c = node.condition()
        return c.get().toString() if c.isDefined() else ""
    return ""


def _metric(node, key: str) -> int:
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else 0


class Tracer:
    enabled = True

    def __init__(self, spark, cores: int):
        self.spark, self.sc, self.cores = spark, spark.sparkContext, cores
        self.spans: list[Span] = []
        self.ops: list[dict] = []  # per traced op: index, name, epoch bounds, notes
        self.op_group = "perfbench.idle"
        self._n = 0

    def begin_op(self, index: int, name: str) -> None:
        self.op_group = f"perfbench.op.{index}"
        self.ops.append({"index": index, "name": name, "t0": time.time(), "notes": {}})
        self.sc.setJobGroup(self.op_group, name, False)

    def end_op(self) -> None:
        self.ops[-1]["t1"] = time.time()
        self.op_group = "perfbench.idle"
        self.sc.setJobGroup(self.op_group, "between ops", False)

    def attach_group(self, span: Span, group: str) -> None:
        """Attribute jobs that Spark runs under its own job group (a
        streaming query's run id) to ``span``."""
        span.groups.append(group)

    def note(self, key: str, value) -> None:
        """Attach a value the engine returned (e.g. a write's skip count)
        to the current op."""
        self.ops[-1]["notes"][key] = value

    @contextmanager
    def span(self, name: str):
        s = Span(name, self.ops[-1]["index"])
        group = f"perfbench.{self._n}.{name}"
        self._n += 1
        s.groups.append(group)
        self.sc.setJobGroup(group, name, False)
        self.spark.profile.clear(type="perf")
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.udf_s = sum(st.total_tt for st in self.spark._profiler_collector._perf_profile_results.values())
            self.spans.append(s)
            self.sc.setJobGroup(self.op_group, "perfbench op", False)

    def plan_rows(self, span: Span, df, markers: dict) -> None:
        """Record SQL metrics of ``df``'s executed plan in ``span.plan``:
        for each marker, the rows into and out of the Filter (or join)
        whose condition mentions it. Rows in are those of the first
        node below it that counts rows; for a Python-UDF filter, the
        rows the Arrow evaluator returned."""
        nodes = list(_walk(df._jdf.queryExecution().executedPlan()))
        for key, marker in markers.items():
            rows_in = rows_out = 0
            for i, n in enumerate(nodes):
                if marker not in _condition(n):
                    continue
                rows_out += _metric(n, "numOutputRows")
                for child in nodes[i + 1 :]:
                    if child.nodeName() == "ArrowEvalPython":
                        rows_in += _metric(child, "pythonNumRowsReceived")
                        break
                    if child.metrics().get("numOutputRows").isDefined():
                        rows_in += _metric(child, "numOutputRows")
                        break
            span.plan[key] = (rows_in, rows_out)

    # -- status store ------------------------------------------------------

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def unattributed_jobs(self, floor: int) -> int:
        """Jobs after ``floor`` that carry no job group."""
        return sum(1 for j in self.sc.statusTracker().getJobIdsForGroup(None) if j > floor)

    def job_stats(self, job_ids) -> dict:
        """Stages run, task time, CPU, shuffle, spill, rows and bytes of
        the given jobs, and their [start, end] intervals in ms."""
        jvm, store = self.sc._jvm, self.sc._jsc.sc().statusStore()
        st = self.sc.statusTracker()
        out = dict(jobs=len(job_ids), stages=0, task_run_s=0.0, task_cpu_s=0.0, shuffle_write_mb=0.0,
                   spill_mb=0.0, input_rows=0, output_mb=0.0, intervals=[])
        seen = set()
        for j in job_ids:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out["intervals"].append(
                    (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
                )
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                datas = store.stageData(sid, False, jvm.java.util.ArrayList(), False,
                                        self.sc._gateway.new_array(jvm.double, 0))
                for k in range(datas.size()):
                    d = datas.apply(k)
                    if not d.submissionTime().isDefined():
                        continue  # skipped stage (shuffle reuse)
                    out["stages"] += 1
                    out["task_run_s"] += d.executorRunTime() / 1e3
                    out["task_cpu_s"] += d.executorCpuTime() / 1e9
                    out["shuffle_write_mb"] += d.shuffleWriteBytes() / 2**20
                    out["spill_mb"] += d.diskBytesSpilled() / 2**20
                    out["input_rows"] += d.inputRecords()
                    out["output_mb"] += d.outputBytes() / 2**20
        return out

    def span_stats(self, s: Span) -> dict:
        return self.job_stats([j for g in s.groups for j in self.job_ids(g)])

    def op_stats(self, op: dict) -> dict:
        """Jobs of one op: its own group plus every span group inside it."""
        groups = [f"perfbench.op.{op['index']}"] + [
            g for s in self.spans if s.op == op["index"] for g in s.groups
        ]
        return self.job_stats([j for g in groups for j in self.job_ids(g)])


def busy_s(intervals_ms, t0_epoch: float, t1_epoch: float) -> float:
    """Seconds of [t0, t1] covered by at least one job interval."""
    iv = sorted((max(a / 1e3, t0_epoch), min(b / 1e3, t1_epoch)) for a, b in intervals_ms)
    busy, end = 0.0, t0_epoch
    for a, b in iv:
        if b <= end:
            continue
        busy += b - max(a, end)
        end = b
    return busy
