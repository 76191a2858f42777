"""Spans around calls into the engine's layers, with per-span Spark job
attribution.

A span records name, start, end, parent span, op id and the Spark job
group it ran under. Every span gets a fresh job group (``pb-<n>``) that
is cleared again when the span ends, so ``getJobIdsForGroup`` never
accumulates jobs across calls. After each pass the job groups are
resolved against the AppStatusStore into job, stage and task counts,
executor run / CPU / GC time, input, shuffle and spill bytes.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# AppStatusStore StageData accessors summed per span, by output field
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Tracer:
    """Collects spans when ``enabled``; otherwise every span is a no-op
    that sets no job group and reads nothing from the status store."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self.sc = None

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "name": name,
            "op_id": op_id if op_id is not None else (parent or {}).get("op_id"),
            "parent": parent["id"] if parent else None,
            "id": len(self.spans),
            "group": f"pb-{len(self.spans)}",
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            # back to the parent's group, or no group at all
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.sc.setLocalProperty("spark.job.interruptOnCancel", None)
            self._pending.append(sp)

    def annotate(self, **attrs) -> None:
        """Attach attributes to the innermost open span, if any."""
        if self.enabled and self._stack:
            self._stack[-1].update(attrs)

    def resolve_jobs(self) -> None:
        """Attach Spark job/stage metrics to every span closed since the
        last call. Runs between passes, outside any timed interval."""
        if not self.enabled or not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self._pending:
            jobs = sorted(
                j
                for g in [sp["group"], *sp.get("extra_groups", ())]
                for j in tracker.getJobIdsForGroup(g)
            )
            totals = dict.fromkeys(_STAGE_FIELDS, 0)
            stages = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # evicted from the store
                        continue
                    if str(st.status().toString()) != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    for k, acc in _STAGE_FIELDS.items():
                        totals[k] += int(getattr(st, acc)())
            sp["jobs"] = len(jobs)
            sp["stages"] = stages
            sp.update(totals)
        self._pending.clear()

    def dump(self, path: str, **header) -> None:
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f)


class StreamProgress:
    """StreamingQueryListener keeping every progress event per query
    run id; used only in traced runs."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events: dict[str, list] = {}
        done: set[str] = set()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.setdefault(str(p.runId), []).append(
                    {
                        "run_id": str(p.runId),
                        "batch_id": p.batchId,
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                        "state": [
                            {
                                "rows": s.numRowsTotal,
                                "memory_bytes": s.memoryUsedBytes,
                                "commit_ms": s.commitTimeMs,
                                "partitions": s.numShufflePartitions,
                            }
                            for s in p.stateOperators
                        ],
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                done.add(str(event.runId))

        self.events, self.done = events, done
        self.listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def drain(self, timeout_s: float = 10.0) -> list[dict]:
        """Wait for every started query to report termination, then hand
        over (and forget) the progress events collected so far."""
        deadline = time.monotonic() + timeout_s
        while set(self.events) - self.done and time.monotonic() < deadline:
            time.sleep(0.02)
        out = [e for run in sorted(self.events) for e in self.events[run]]
        self.events.clear()
        self.done.clear()
        return out

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
