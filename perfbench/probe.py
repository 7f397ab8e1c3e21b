"""Per-call probe: wall time always, Spark stage metrics when tracing.

Each operator call runs under its own Spark job group. With tracing on, the
probe waits for the listener bus to drain after the call, then reads the
stages the call created from the application status store (which works with
``spark.ui.enabled=false``) and sums their executor metrics. Spans stay in
memory until the run ends; ``dump`` writes them to a side file.
"""

from __future__ import annotations

import json
import time

# StageData accessor -> reported name; summed over the call's stages
_STAGE_SUMS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
    "numTasks": "tasks",
}


def _covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Probe:
    """Times operator calls and, when ``trace`` is set, attributes Spark
    stages to them through the call's job group."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.spans: list[dict] = []
        self._n = 0

    def _stages(self, group: str) -> tuple[int, list[dict]]:
        """(job count, stage records) of the jobs run under ``group``."""
        tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        job_ids = tracker.getJobIdsForGroup(group)
        wanted = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                wanted.update(info.stageIds)
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        seq = jsc.statusStore().stageList(None, False, False, empty, None)
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() not in wanted:
                continue
            rec = {"stage_id": s.stageId(), "status": s.status().toString()}
            for acc, name in _STAGE_SUMS.items():
                rec[name] = getattr(s, acc)()
            sub, comp = s.submissionTime(), s.completionTime()
            rec["start_ms"] = sub.get().getTime() if sub.isDefined() else None
            rec["end_ms"] = comp.get().getTime() if comp.isDefined() else None
            out.append(rec)
        return len(job_ids), out

    def call(self, name: str, fn, parent: str):
        """Run ``fn()`` as one span named ``name``; return (result, span)."""
        self._n += 1
        group = f"{name}#{self._n}"
        self.sc.setJobGroup(group, name)
        start_wall = time.time()
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            wall_s = time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()
        span = {
            "name": name,
            "parent": parent,
            "start": start_wall,
            "wall_s": wall_s,
        }
        if self.trace:
            span.update(self._spark_metrics(group, start_wall, wall_s))
        self.spans.append(span)
        return result, span

    def _spark_metrics(self, group: str, start_wall: float, wall_s: float):
        jobs, stages = self._stages(group)
        ran = [s for s in stages if s["status"] == "COMPLETE"]
        sums = {name: sum(s[name] for s in ran) for name in _STAGE_SUMS.values()}
        lo, hi = start_wall * 1000.0, (start_wall + wall_s) * 1000.0
        busy = _covered_ms(
            [
                (max(lo, s["start_ms"]), min(hi, s["end_ms"]))
                for s in ran
                if s["start_ms"] is not None and s["end_ms"] is not None
            ]
        )
        return {
            "jobs": jobs,
            "stages": len(ran),
            "tasks": sums["tasks"],
            "driver_side_s": max(0.0, wall_s - busy / 1000.0),
            "executor_run_ms": sums["executor_run_ms"],
            "executor_cpu_ms": sums["executor_cpu_ns"] / 1e6,
            "shuffle_read_bytes": sums["shuffle_read_bytes"],
            "shuffle_write_bytes": sums["shuffle_write_bytes"],
            "spill_bytes": sums["spill_bytes"],
            "gc_ms": sums["gc_ms"],
        }

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
