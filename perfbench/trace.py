"""Layer spans and per-layer stage metrics read from Spark's status store.

A span sets the Spark job group ``<layer>@<pass>`` around one layer call,
so every job the call starts (AQE sub-jobs included) carries the group.
After a pass, ``stage_metrics`` maps each group to its stages through
``jobsList`` and sums their metrics from ``stageList``; both are read from
``sc._jsc.sc().statusStore()``, which works with the Spark UI disabled.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

COUNTERS = (
    "stages", "run_s", "shuffle_write_bytes", "shuffle_write_records",
    "spill_bytes", "task_skew", "input_bytes",
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.groups: dict[str, dict] = {}  # every group's stage metrics read
        self.bookkeeping_s = 0.0  # time spent reading the status store

    @contextmanager
    def span(self, layer: str, pass_id: int):
        group = f"{layer}@{pass_id}"
        self.sc.setJobGroup(group, layer)
        start, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({
                "name": layer, "pass": pass_id, "group": group,
                "start": start, "end": start + wall, "wall_s": wall,
            })

    def stage_metrics(self, groups: list[str]) -> dict[str, dict]:
        """group -> summed stage metrics over its COMPLETE stages."""
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        empty = jvm.java.util.Collections.emptyList()

        wanted = set(groups)
        stage_group: dict[int, str] = {}
        it = store.jobsList(empty).iterator()
        while it.hasNext():
            job = it.next()
            g = job.jobGroup()
            if g.isDefined() and g.get() in wanted:
                ids = job.stageIds()
                for i in range(ids.size()):
                    stage_group[ids.apply(i)] = g.get()

        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = {g: {c: 0.0 for c in COUNTERS} for g in groups}
        costliest: dict[str, float] = {}
        it = store.stageList(empty, False, True, quantiles, empty).iterator()
        while it.hasNext():
            st = it.next()
            g = stage_group.get(st.stageId())
            if g is None or str(st.status()) != "COMPLETE":
                continue
            m = out[g]
            run_ms = st.executorRunTime()
            m["stages"] += 1
            m["run_s"] += run_ms / 1000.0
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["shuffle_write_records"] += st.shuffleWriteRecords()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["input_bytes"] += st.inputBytes()
            # skew of the layer = max/median task run time of its costliest stage
            dist = st.taskMetricsDistributions()
            if dist.isDefined() and run_ms >= costliest.get(g, -1.0):
                costliest[g] = run_ms
                q = dist.get().executorRunTime()
                m["task_skew"] = q.apply(1) / max(q.apply(0), 1.0)
        self.groups.update(out)
        self.bookkeeping_s += time.perf_counter() - t0
        return out
