"""Per-layer metrics from a traced run: set-up components, session-state
accounting, spans of the traced passes, their Spark job groups and
streaming progress. See ``run.py`` for how each figure is aggregated."""

from __future__ import annotations

import statistics

UNITS = {
    # set-up, per set-up round (median of the three)
    "engine.session_start_s": "s",
    "registry.import_s": "s",
    "warmup_s": "s",
    # session state, per pass
    "engine.leaked_rdds_per_pass": "count",
    "engine.calls_leaking_rdds": "count",
    "engine.conf_keys_changed": "count",
    "engine.peak_rss_mb": "MB",
    # query build and planning, per pass
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "operators.plan_s": "s",
    # execution, per pass
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_run_ms": "ms",
    "operators.executor_cpu_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.input_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_bytes": "B",
    "operators.spill_bytes": "B",
    # ETL stages, per pass
    "pipeline.convert_s": "s",
    "pipeline.quality_s": "s",
    "pipeline.clean_s": "s",
    "pipeline.stats_s": "s",
    "pipeline.ticks_per_s": "1/s",
    "pipeline.bytes_written_per_input_byte": "B/B",
    # snapshot table, per call
    "snapshots.commit_s": "s",
    "snapshots.log_entries_read": "count",
    "snapshots.merge_s": "s",
    "snapshots.read_s": "s",
    "snapshots.compact_s": "s",
    "snapshots.expire_s": "s",
    # streaming: batches and ticks/s per pass, durations the median per
    # micro-batch, state rows and bytes the largest any batch reported
    "streaming.batches": "count",
    "streaming.ticks_per_s": "1/s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.state_commit_ms": "ms",
    "streaming.state_partitions": "count",
    # the instrument itself
    "trace.spans_per_pass": "count",
    "trace.overhead_pct": "%",
}

_PIPELINE_STAGES = ("convert", "quality", "clean", "stats")
_SNAPSHOT_CALLS = ("commit", "merge", "read", "compact", "expire")
_JOB_FIELDS = {"operators.tasks": "tasks", "operators.executor_run_ms": "executor_run_ms",
               "operators.gc_ms": "gc_ms", "operators.input_bytes": "input_bytes",
               "operators.shuffle_read_bytes": "shuffle_read_bytes",
               "operators.shuffle_write_bytes": "shuffle_write_bytes"}


def _med(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _dur(sp):
    return sp["end"] - sp["start"]


def _pass_totals(p: dict, workload) -> dict:
    spans = p["spans"]
    by = {}
    for sp in spans:
        by.setdefault(sp["name"], []).append(sp)
    tot = lambda name: sum(_dur(s) for s in by.get(name, ()))  # noqa: E731
    top = [s for s in spans if s["parent"] is None]
    out = {
        "registry.build_s": tot("registry.build"),
        "registry.build_jobs": sum(s["jobs"] for s in by.get("registry.build", ())),
        "operators.plan_s": tot("operators.plan"),
        # calls that force execution: the noop write of a query, or the
        # whole call for the eager ETL / lakehouse / stream functions
        "operators.exec_s": tot("operators.exec") if "operators.exec" in by
        else sum(_dur(s) for s in top),
        "operators.jobs": sum(s["jobs"] for s in spans),
        "operators.stages": sum(s["stages"] for s in spans),
        "operators.executor_cpu_ms": sum(s["executor_cpu_ns"] for s in spans) / 1e6,
        "operators.spill_bytes": sum(s["memory_spill_bytes"] + s["disk_spill_bytes"]
                                     for s in spans),
        "engine.calls_leaking_rdds": sum(1 for s in top if s.get("leaked_rdds", 0) > 0),
        "trace.spans_per_pass": len(spans),
    }
    for metric, field in _JOB_FIELDS.items():
        out[metric] = sum(s[field] for s in spans)
    for stage in _PIPELINE_STAGES:
        out[f"pipeline.{stage}_s"] = tot(f"pipeline.{stage}")
    etl = sum(out[f"pipeline.{stage}_s"] for stage in _PIPELINE_STAGES)
    ref = getattr(workload, "ref", None)
    if ref and etl:
        out["pipeline.ticks_per_s"] = ref["csv_ticks"] / etl
        out["pipeline.bytes_written_per_input_byte"] = p["output_bytes"] / ref["csv_bytes"]
        streams = [s for s in top if s["name"].startswith("streaming.")]
        if streams:
            out["streaming.ticks_per_s"] = ref["stream_ticks"] * len(streams) / sum(
                _dur(s) for s in streams)
    return out


def layer_metrics(run) -> dict:
    traced = [p for p in run.passes if p["traced"]]
    untraced = [p for p in run.passes if not p["traced"]]
    per_pass = [_pass_totals(p, run.workload) for p in traced]
    m = dict.fromkeys(UNITS, 0.0)
    for k in UNITS:
        vals = [t[k] for t in per_pass if k in t]
        if vals:
            m[k] = _med(vals)
    m["engine.session_start_s"] = _med([s["session_start_s"] for s in run.setups])
    m["registry.import_s"] = _med([s["import_s"] for s in run.setups])
    m["warmup_s"] = _med([s["warmup_s"] for s in run.setups])
    m["engine.leaked_rdds_per_pass"] = _med([p["leaked_rdds"] for p in run.passes])
    m["engine.conf_keys_changed"] = _med([p["conf_keys_changed"] for p in run.passes])
    m["engine.peak_rss_mb"] = run.memory["peak_rss_mb"]

    spans = [sp for p in traced for sp in p["spans"]]
    for call in _SNAPSHOT_CALLS:
        name = f"snapshots.{call}"
        m[f"{name}_s"] = _med([_dur(s) for s in spans if s["name"] == name])
    m["snapshots.log_entries_read"] = _med(
        [sum(s.get("log_entries_read", 0) for s in p["spans"]) for p in traced]
    )

    progress = [e for s in spans for e in s.get("progress", ())]
    if progress:
        d = lambda key: _med([e["duration_ms"].get(key, 0) for e in progress])  # noqa: E731
        state = [st for e in progress for st in e["state"]]
        m["streaming.batches"] = _med(
            [sum(len(s.get("progress", ())) for s in p["spans"]) for p in traced]
        )
        m["streaming.trigger_ms"] = d("triggerExecution")
        m["streaming.add_batch_ms"] = d("addBatch")
        m["streaming.query_planning_ms"] = d("queryPlanning")
        m["streaming.wal_commit_ms"] = d("walCommit")
        m["streaming.state_rows"] = float(max((st["rows"] for st in state), default=0))
        m["streaming.state_memory_bytes"] = float(
            max((st["memory_bytes"] for st in state), default=0))
        m["streaming.state_commit_ms"] = _med([st["commit_ms"] for st in state])
        m["streaming.state_partitions"] = _med([st["partitions"] for st in state])

    if traced and untraced:
        base = _med([p["wall_s"] for p in untraced])
        m["trace.overhead_pct"] = 100.0 * (_med([p["wall_s"] for p in traced]) - base) / base
    return m
