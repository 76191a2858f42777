#!/usr/bin/env python3
"""Tick-engine benchmark: one driver process on ``local[<cores>]``, one
client in a closed loop, seeded inputs, every output checked.

Run from the repository root::

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Workloads (``workloads.py``):

* ``queries`` - registry queries, each call built (``QUERIES[name]``),
  planned and forced through a noop sink; scan-bound queries next to
  queries whose build fires eager jobs and leaks checkpoints.
* ``ticks`` - CSV tick tree through the four ``pipeline`` stages, one
  ``SnapshotTable`` commit per trading day, merge, time-travel reads,
  compaction, expiry, then two file-stream replays through
  ``run_stream_to_memory``.

A run sets up three times. Each set-up starts a session (the first also
launches the JVM), imports the workload's engine modules afresh and makes
one untimed warm-up pass; ``setup_s`` is the median of the three. Then
the run takes ``retained_mb``, makes the once-per-run output checks and
the workload's untimed JIT warm-up passes (``jit_warmup_passes``: the
query workload's calls keep the JIT compiling for several passes), and
makes timed passes for ``--seconds`` (at least one pass; a pass starts
only if it should end inside the window, judged by the pass before it).
Input generation is not part of set-up. Outputs are checked in every
pass (ticks) or once per run, before the timed loop, against the
registry's DuckDB oracle (queries); a wrong output is a failed op.

``--trace 0`` prints the end-to-end metrics:

* ``setup_s`` - median set-up time (session start + module import +
  warm-up pass);
* ``pass_s`` - median wall time of one timed pass;
* ``op_geomean_s`` - per-call latency: the median wall time of each kind
  of call into the workload's layer (a query, a pipeline stage, a
  snapshot operation, a stream replay), geometric mean over the kinds;
* ``retained_mb`` - memory the driver holds once set up: resident size
  of the driver Python process plus the JVM's heap and non-heap in use
  after a full GC, taken after the third set-up and before the timed
  loop, so it does not depend on how many passes fit in the window
  (peak RSS over the whole run is the per-layer ``engine.peak_rss_mb``;
  it follows the JVM's heap sizing and varies too much run to run to
  gate on).

``--trace 1`` alternates traced and untraced passes and prints the
per-layer metrics. Each traced call gets a span with its own Spark job
group; job, stage and task metrics come from the AppStatusStore and
streaming metrics from ``StreamingQueryProgress``. Times are per-pass
totals (medians over traced passes) except the ``snapshots.*_s`` and
``streaming.*_ms`` figures, which are medians per call or per micro-batch.
``trace.overhead_pct`` compares traced with untraced passes of the same
run. A layer a workload does not call reads 0. Spans go to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import faulthandler
import gc
import importlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import layers
import spans
from workloads import PKG, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
MAX_FAILURE_NOTES = 20
WATCHDOG_S = 170

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "retained_mb": "MB"}


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _op_geomean(passes) -> float:
    """Geometric mean over op names of each op's median wall time: every
    kind of call weighs the same, however slow it is."""
    by_name: dict[str, list[float]] = {}
    for p in passes:
        for name, dt in p["op_s"]:
            by_name.setdefault(name, []).append(dt)
    logs = [math.log(statistics.median(v)) for v in by_name.values()]
    return math.exp(sum(logs) / len(logs))


def _proc_status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _cpu_probe_ms() -> float:
    """Fixed pure-Python CPU work, best of three: a host-speed reading."""
    best = None
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        dt = (time.perf_counter() - t) * 1000
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _host_context() -> dict:
    return {"loadavg": list(os.getloadavg()), "cpu_probe_ms": _cpu_probe_ms(),
            "cpu_jiffies": _cpu_jiffies()}


def _steal_pct(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests during the
    run (the 8th field of /proc/stat's cpu line)."""
    d = [b - a for a, b in zip(before.pop("cpu_jiffies"), after.pop("cpu_jiffies"))]
    return round(100.0 * d[7] / max(1, sum(d)), 2)


def _conf_all(spark) -> dict:
    conf = spark.conf.getAll
    return dict(conf() if callable(conf) else conf)


def _purge_engine_modules() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.tracer = spans.Tracer(enabled=False)
        t = time.perf_counter()
        self.workload = WORKLOADS[args.workload](args.seed, os.path.join(work, "inputs"))
        self.input_gen_s = time.perf_counter() - t
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.pass_no = 0
        self.spark = self.engine = self.progress = None
        self.memory: dict[str, float] = {}
        self.jit_warmup_s = 0.0

    def _op(self, name, fn, traced):
        """One call into the engine: timed, checked, and in a traced pass
        wrapped in a span that also records the persisted RDDs it left."""
        before = self._rdd_ids() if traced else None
        with self.tracer.span(name, op_id=self.attempted) as sp:
            t = time.perf_counter()
            try:
                err = fn()
            except Exception as e:  # a failed op, not a failed run
                traceback.print_exc(file=sys.stderr)
                err = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            dt = time.perf_counter() - t
        self.attempted += 1
        if err:
            self.failed += 1
            if len(self.failures) < MAX_FAILURE_NOTES:
                self.failures.append(f"{name}: {err}")
        if traced:
            sp["leaked_rdds"] = len(self._rdd_ids() - before)
            if self.progress is not None and name.startswith("streaming."):
                sp["progress"] = self.progress.drain()
                sp["extra_groups"] = sorted({p["run_id"] for p in sp["progress"]})
        return dt

    def _rdd_ids(self):
        return self.engine.persistent_rdd_ids(self.spark)

    def run_pass(self, traced: bool) -> dict:
        tr = self.tracer
        tr.enabled = traced
        ops = self.workload.ops(self.pass_no)
        self.pass_no += 1
        rdds, conf = self._rdd_ids(), _conf_all(self.spark)
        first_span = len(tr.spans)
        t0 = time.perf_counter()
        op_times = [(name, self._op(name, fn, traced)) for name, fn in ops]
        wall = time.perf_counter() - t0
        conf_after = _conf_all(self.spark)
        rec = {
            "traced": traced,
            "wall_s": wall,
            "op_s": op_times,
            "leaked_rdds": len(self._rdd_ids() - rdds),
            "conf_keys_changed": sum(
                1 for k in set(conf) | set(conf_after) if conf.get(k) != conf_after.get(k)
            ),
        }
        if traced:
            tr.resolve_jobs()
            rec["spans"] = tr.spans[first_span:]
            rec["output_bytes"] = self.workload.pass_output_bytes()
        tr.enabled = False
        return rec

    def setup(self, round_no: int) -> None:
        """Session start, engine module import and one warm-up pass. After
        the first round the session is stopped and the engine modules are
        dropped, so every round imports them afresh."""
        if self.spark is not None:
            if self.progress is not None:
                self.progress.close()
                self.progress = None
            self.spark.stop()
            _purge_engine_modules()
        t0 = time.perf_counter()
        self.engine = importlib.import_module(f"{PKG}.engine")
        self.spark = self.engine.get_spark(
            app_name="perfbench",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}"},
        )
        t1 = time.perf_counter()
        self.tracer.bind(self.spark)
        self.workload.setup(self.spark, self.tracer)
        t2 = time.perf_counter()
        self.run_pass(traced=False)
        t3 = time.perf_counter()
        self.setups.append(
            {"round": round_no, "setup_s": t3 - t0, "session_start_s": t1 - t0,
             "import_s": t2 - t1, "warmup_s": t3 - t2}
        )
        if self.args.trace and self.workload.streams:
            self.progress = spans.StreamProgress(self.spark)

    def timed_loop(self) -> None:
        for r in range(SETUPS):
            self.setup(r)
        self.measure_retained()
        # the once-per-run output checks run the workload's calls once
        # more, so the timed loop starts further into the JIT's warm-up
        for name, fn in self.workload.checks():
            self._op(name, fn, traced=False)
        t0 = time.perf_counter()
        for _ in range(self.workload.jit_warmup_passes):
            self.run_pass(traced=False)
        self.jit_warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # a traced run needs an untraced pass to measure its own overhead
        min_passes = 2 if self.args.trace else 1
        while True:
            traced = bool(self.args.trace) and len(self.passes) % 2 == 0
            self.passes.append(self.run_pass(traced))
            # start another pass only if it should end inside the window,
            # judging by the pass just made
            end = time.perf_counter() - t0 + self.passes[-1]["wall_s"]
            if len(self.passes) >= min_passes and end > self.args.seconds:
                break

    def measure_retained(self) -> None:
        """What the driver retains: Python's resident size plus the JVM
        heap live after a full GC and the JVM's non-heap in use."""
        # Python first: a collected Python proxy releases the JVM object
        # it pins. Then let the listener bus catch up, so the status store
        # holds every event already posted, not however many it reached.
        gc.collect()
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        mf = sc._jvm.java.lang.management.ManagementFactory
        sc._jvm.java.lang.System.gc()
        # heap pools as the full GC left them; what was allocated since
        # (py4j traffic, Spark's own threads) is not retained
        heap = sum(
            p.getCollectionUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory" and p.getCollectionUsage() is not None
        )
        used = heap + mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
        self.memory["retained_mb"] = _proc_status_kb(os.getpid(), "VmRSS") / 1024.0 + used / 2**20

    def measure_peak(self) -> None:
        """Peak RSS (VmHWM) of the driver Python process plus the JVM."""
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_kb = _proc_status_kb(os.getpid(), "VmHWM") + _proc_status_kb(jvm_pid, "VmHWM")
        self.memory["peak_rss_mb"] = peak_kb / 1024.0

    def end_to_end(self) -> dict:
        timed = [p for p in self.passes if not p["traced"]]
        return {
            "setup_s": _median([s["setup_s"] for s in self.setups]),
            "pass_s": _median([p["wall_s"] for p in timed]),
            "op_geomean_s": _op_geomean(timed),
            "retained_mb": self.memory["retained_mb"],
        }

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.progress is not None:
            self.progress.close()
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    # everything the run writes stays inside the checkout
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_PYTHON"] = sys.executable

    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "host_before": _host_context()}
    run = None
    try:
        run = Run(args, work)
        run.timed_loop()
        run.measure_peak()
        metrics = layers.layer_metrics(run) if args.trace else run.end_to_end()
        context.update({
            "sizes": run.workload.describe(),
            "input_gen_s": round(run.input_gen_s, 3),
            "master": run.spark.sparkContext.master,
            "setup_rounds": [{k: round(v, 3) for k, v in s.items()} for s in run.setups],
            "jit_warmup": {"passes": run.workload.jit_warmup_passes,
                           "s": round(run.jit_warmup_s, 3)},
            "pass_s": [round(p["wall_s"], 3) for p in run.passes],
            "leaked_rdds_per_pass": [p["leaked_rdds"] for p in run.passes],
            "failures": run.failures,
        })
    finally:
        if run is not None:
            run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    context["host_after"] = _host_context()
    context["steal_pct"] = _steal_pct(context["host_before"], context["host_after"])
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        run.tracer.dump(
            os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
            context=context, metrics=metrics,
        )
    units = layers.UNITS if args.trace else END_TO_END
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
