"""Spans and Spark status-store counters recorded by the benchmark.

The program has no tracing of its own, so the benchmark records a span
around each call it makes into a layer. A span carries name, start,
end, parent and run id; it also carries the delta of Spark's
cumulative task counters over its interval, read from the status store
that Spark keeps with the UI disabled. The counters are summed over
``statusStore().stageList``: the per-executor ``executorList`` totals
were tried first, but in local mode their ``totalDuration`` keeps
growing while no task runs. Spans stay in memory and are written out
as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: cumulative task counters kept per span
COUNTERS = (
    "task_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "input_bytes",
    "failed_tasks",
    "completed_tasks",
)


def stage_totals(spark) -> dict[str, int]:
    """Task counters summed over every stage in the status store, read
    after the listener bus has delivered every pending event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jlist = spark._jvm.java.util.ArrayList
    stages = store.stageList(jlist(), False, False, getattr(store, "stageList$default$4")(), jlist())
    tot = dict.fromkeys(COUNTERS, 0)
    for i in range(stages.size()):
        st = stages.apply(i)
        tot["task_ms"] += st.executorRunTime()
        tot["cpu_ms"] += st.executorCpuTime() // 1_000_000
        tot["gc_ms"] += st.jvmGcTime()
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["input_bytes"] += st.inputBytes()
        tot["failed_tasks"] += st.numFailedTasks()
        tot["completed_tasks"] += st.numCompleteTasks()
    return tot


class Tracer:
    """In-memory span recorder for one benchmark process."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def rebind(self, spark) -> None:
        """Follow a session restart (the ``local[1]`` scaling pass)."""
        self.spark = spark

    @contextmanager
    def span(self, name: str, **attrs):
        before = stage_totals(self.spark)
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self.spans[self._stack[-1]]["id"] if self._stack else None,
            "id": len(self.spans),
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.monotonic()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            raise
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            after = stage_totals(self.spark)
            rec["counters"] = {k: after[k] - before[k] for k in COUNTERS}

    def summary(self) -> dict[str, dict]:
        """Durations and counter deltas of the completed spans, by
        name, leaving out warm-up spans (attribute ``warmup``)."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if "error" in s or s["attrs"].get("warmup"):
                continue
            d = out.setdefault(s["name"], {"s": [], "counters": []})
            d["s"].append(s["end"] - s["start"])
            d["counters"].append(s["counters"])
        return out

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as fh:
            fh.write(json.dumps({"header": header}) + "\n")
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
