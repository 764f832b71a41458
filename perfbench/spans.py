"""Spans around the benchmark's calls into the library, with Spark counters.

A span records name, layer, start, end, parent and run id, and is kept in
memory until the run writes its trace file. Timing is always on (the
end-to-end metrics need the pass and PageRank call times); everything
else is tracing and only runs with ``enabled``:

  * each span sets its own Spark job group, so every job the call
    launches (AQE and broadcast jobs inherit the caller's group) can be
    read back from ``sc.statusTracker()``;
  * per stage, ``statusStore().lastStageAttempt(id)`` gives status
    (COMPLETE or SKIPPED), executor run time, shuffle bytes and spill;
  * per SQL execution (its description is the span id), the plan-graph
    metric "time to run Python workers" gives the time spent across the
    Arrow/Python boundary.

Counters are read after a pass ends, never inside a timed call. Jobs whose
SQL plan scans the raw pages table are booked to the ``extract`` layer,
since ``edges_from_pages`` runs the extraction inside its own call.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "wall_s", "jobs", "stages", "stages_skipped", "task_ms", "core_util",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "rows_out",
    "python_ms", "python_share",
)

_PY_TIME = "time to run Python workers"
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\s*$")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}


def _metric_ms(text: str) -> float:
    """Parse a formatted SQL timing metric ("1.5 s", or "total (...)\\n1.5 s (...)")."""
    line = text.split("\n")[-1].split(" (")[0]
    m = _DURATION.search(line)
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)] if m else 0.0


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self._exec_seen = 0
        self.missing_stages = 0

    def bind(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str, layer: str | None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}.{self._seq}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
        }
        self._seq += 1
        if self.enabled:
            self.sc.setJobGroup(rec["id"], rec["id"])
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()
            self.spans.append(rec)
            if self.enabled and parent is not None:
                self.sc.setJobGroup(parent["id"], parent["id"])

    # ---- counters (tracing only) ---------------------------------------
    def _stage_counters(self, stage_ids, acc: dict) -> None:
        store = self.sc._jsc.sc().statusStore()
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                self.missing_stages += 1
                continue
            acc["stages"] += 1
            if str(sd.status()) == "SKIPPED":
                acc["stages_skipped"] += 1
            acc["task_ms"] += sd.executorRunTime()
            acc["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            acc["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            acc["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6

    def _python_ms(self, sq, ex) -> float:
        values = sq.executionMetrics(ex.executionId())
        total = 0.0
        for node in _scala_iter(sq.planGraph(ex.executionId()).allNodes()):
            for m in _scala_iter(node.metrics()):
                if m.name() == _PY_TIME:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += _metric_ms(v.get())
        return total

    def _new_executions(self):
        sq = self._sql_store()
        total = int(sq.executionsCount())
        execs = sq.executionsList(self._exec_seen, total - self._exec_seen)
        self._exec_seen = total
        return sq, _scala_iter(execs)

    def _scan_executions(self, span_ids: set[str], extract_marker: str | None):
        """(python ms per (span id, is_extract), job ids of extract executions)."""
        python_ms: dict[tuple[str, bool], float] = defaultdict(float)
        extract_jobs: set[int] = set()
        sq, execs = self._new_executions()
        for ex in execs:
            sid = ex.description()
            if sid not in span_ids:
                continue
            plan = ex.physicalPlanDescription()
            is_extract = bool(extract_marker) and extract_marker in plan
            if is_extract:
                extract_jobs.update(int(j) for j in _scala_iter(ex.jobs().keySet()))
            if "Pandas" in plan or "Python" in plan:
                python_ms[(sid, is_extract)] += self._python_ms(sq, ex)
        return python_ms, extract_jobs

    def layer_counters(self, pass_rec: dict, cores: int, extract_marker: str | None = None) -> dict:
        """Per-layer counters of the calls made directly inside one pass."""
        calls = [s for s in self.spans if s["parent"] == pass_rec["id"] and s["layer"]]
        python_ms, extract_jobs = self._scan_executions({s["id"] for s in calls}, extract_marker)
        store = self.sc._jsc.sc().statusStore()
        st = self.sc.statusTracker()
        layers: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
        for s in calls:
            own = layers[s["layer"]]
            own["wall_s"] += s["wall_s"]
            own["python_ms"] += python_ms.get((s["id"], False), 0.0)
            own["rows_out"] = s.get("rows_out", own["rows_out"])
            for jid in st.getJobIdsForGroup(s["id"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                acc = layers["extract"] if jid in extract_jobs else own
                acc["jobs"] += 1
                if jid in extract_jobs:
                    jd = store.job(jid)
                    if jd.completionTime().isDefined():
                        ms = jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()
                        acc["wall_s"] += ms / 1e3
                        own["wall_s"] -= ms / 1e3
                self._stage_counters(info.stageIds, acc)
            if (s["id"], True) in python_ms:
                layers["extract"]["python_ms"] += python_ms[(s["id"], True)]
        for acc in layers.values():
            acc["core_util"] = acc["task_ms"] / (acc["wall_s"] * 1e3 * cores) if acc["wall_s"] > 0 else 0.0
            acc["python_share"] = acc["python_ms"] / acc["task_ms"] if acc["task_ms"] > 0 else 0.0
        return dict(layers)

    def session_counters(self, build_s: float, cores: int) -> dict:
        """Counters of every job run so far in this session: get_spark's warmup."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        acc = dict.fromkeys(COUNTERS, 0.0)
        acc["wall_s"] = build_s
        for jd in _scala_iter(store.jobsList(None)):
            acc["jobs"] += 1
            self._stage_counters(st.getJobInfo(int(jd.jobId())).stageIds, acc)
        self._exec_seen = 0
        sq, execs = self._new_executions()
        acc["python_ms"] = sum(self._python_ms(sq, ex) for ex in execs)
        acc["core_util"] = acc["task_ms"] / (build_s * 1e3 * cores) if build_s > 0 else 0.0
        acc["python_share"] = acc["python_ms"] / acc["task_ms"] if acc["task_ms"] > 0 else 0.0
        return acc
