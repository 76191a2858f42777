"""The benchmark's workloads: what one pass calls, in which order, and how
each call's output is checked.

A workload's ``setup(spark, tracer)`` imports the engine modules it calls
(timed as part of set-up), ``ops(pass_no)`` returns one pass as a list of
``(op_name, fn)`` in seeded order, and ``checks()`` returns checks made
once per run, after set-up and before the timed loop. ``fn()`` returns
``None`` when the output is right and a short reason when it is not;
an exception is a failed op too.
"""

from __future__ import annotations

import calendar
import importlib
import math
import os
import random
import shutil

import datagen

PKG = "big_data_project_jan_2026_tick_data__spark"

# Headline queries whose build fires few Spark jobs: executor scan,
# shuffle and codegen dominate their calls.
SCAN_QUERIES = (
    "tpch_q1",
    "tpch_q3_top10",
    "ticks_ohlc_bars",
    "doc_exact_dedup",
)
# Queries whose driver-side build fires eager jobs and leaves
# localCheckpoint RDDs behind.
ITERATIVE_QUERIES = ("events_mann_whitney",)

QUERY_SCALE = 0.01
TICK_SIZES = {
    "n_symbols": 3,
    "n_days": 2,
    "ticks_per_day": 4000,
    "stream_files": 1,
    "stream_ticks_per_file": 8000,
    "n_corrections": 40,
    "n_inserts": 10,
}
TIME_TRAVEL_READS = 1


def _module(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def _canon(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def _multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in idx) for r in rows)


class Queries:
    """Registry queries over seeded TPC-H-shaped, events, documents and
    embeddings tables, each call built then forced through a noop sink."""

    name = "queries"
    # untimed passes after set-up: Spark compiles new classes for every
    # call, and the JIT keeps compiling them for several passes
    jit_warmup_passes = 3
    names = SCAN_QUERIES + ITERATIVE_QUERIES
    streams = False

    def __init__(self, seed: int, input_dir: str):
        self.seed = seed
        self.data_dir = os.path.join(input_dir, "tables")
        self.sizes = datagen.query_tables(self.data_dir, seed, QUERY_SCALE)

    def setup(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.registry = _module("registry")

    def ops(self, pass_no: int):
        order = list(self.names)
        random.Random(self.seed * 1000 + pass_no).shuffle(order)
        return [(f"query:{n}", self._call(n)) for n in order]

    def _call(self, name: str):
        def run():
            tr = self.tracer
            with tr.span("registry.build", query=name):
                df = self.registry.QUERIES[name](self.spark, self.data_dir)
            with tr.span("operators.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("operators.exec"):
                df.write.format("noop").mode("overwrite").save()

        return run

    def checks(self):
        import duckdb

        con = duckdb.connect()
        for t in _module("sources.io").TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )

        def check(name):
            def run():
                sql = self.registry.ORACLE.get(name)
                if sql is None:
                    return "no oracle"
                df = self.registry.QUERIES[name](self.spark, self.data_dir)
                got = _multiset(df.columns, [tuple(r) for r in df.collect()])
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                want = _multiset(cols, res.fetchall())
                if sorted(df.columns) != sorted(cols):
                    return f"columns {sorted(df.columns)} != {sorted(cols)}"
                if got != want:
                    return f"{len(got)} rows vs oracle {len(want)}, values differ"
                return None

            return run

        return [(f"oracle:{n}", check(n)) for n in self.names]

    def describe(self) -> dict:
        return {"loop": "closed, 1 client", "scale": QUERY_SCALE, "rows": self.sizes,
                "queries": list(self.names)}

    def pass_output_bytes(self) -> int:
        return 0  # the noop sink writes nothing


class Ticks:
    """The tick ETL and lakehouse path plus the live-tick stream: CSV tree
    -> bronze -> quality -> gold -> daily stats, one snapshot commit per
    trading day, a merge, time-travel reads, compaction, expiry, and two
    file-stream replays (VWAP bars, session-window aggregate)."""

    name = "ticks"
    jit_warmup_passes = 0
    streams = True

    def __init__(self, seed: int, input_dir: str):
        self.seed = seed
        self.ref = datagen.tick_inputs(os.path.join(input_dir, "ticks"), seed, **TICK_SIZES)
        self.work = os.path.join(input_dir, "ticks-out")

    def setup(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.pipeline = _module("pipeline")
        self.snapshots = _module("plans.snapshots")
        self.bars = _module("streaming.bars")
        self.session = _module("streaming.session_pipeline")

    def checks(self):
        return []

    def describe(self) -> dict:
        r = self.ref
        return {"loop": "closed, 1 client", **TICK_SIZES, "csv_ticks": r["csv_ticks"],
                "csv_bytes": r["csv_bytes"], "stream_ticks": r["stream_ticks"],
                "gold_rows": r["gold_total"]}

    def ops(self, pass_no: int):
        from pyspark.sql import functions as F

        spark, ref = self.spark, self.ref
        rnd = random.Random(self.seed * 1000 + pass_no)
        root = os.path.join(self.work, f"p{pass_no}")
        shutil.rmtree(self.work, ignore_errors=True)
        bronze, gold_path = f"{root}/bronze", f"{root}/gold"
        days = list(ref["days"])
        rnd.shuffle(days)
        state: dict = {}

        def convert():
            self.pipeline.convert_csv_tree(spark, ref["csv_root"], bronze)

        def quality():
            rows = self.pipeline.quality_report(spark, bronze).collect()
            got = (sum(r["total_rows"] for r in rows), sum(r["null_Bid"] for r in rows),
                   sum(r["null_DateTime"] for r in rows))
            want = (ref["csv_ticks"], ref["null_bids"], 0)
            return None if got == want else f"rows/null_Bid/null_DateTime {got} != {want}"

        def clean():
            state["gold"] = self.pipeline.clean_to_gold(spark, bronze, gold_path)

        def stats():
            rows = self.pipeline.daily_stats(spark, gold_path).collect()
            got = {f"{r['symbol']}|{r['date']}": [r["ticks_window1"], r["ticks_window2"]]
                   for r in rows}
            return None if got == ref["daily_counts"] else "daily window counts differ"

        state["table"] = None
        totals = {}

        def commit(day, k):
            def run():
                if state["table"] is None:
                    state["table"] = self.snapshots.SnapshotTable(spark, f"{root}/lake")
                snap = state["table"].write(
                    state["gold"].filter(F.to_date("ts") == F.lit(day).cast("date"))
                )
                totals[snap.snapshot_id] = sum(ref["gold_per_day"][d] for d in days[: k + 1])
                self.tracer.annotate(log_entries_read=snap.snapshot_id - 1)
                got = int(snap.summary["total-records"])
                return None if got == totals[snap.snapshot_id] else f"total-records {got}"

            return run

        def merge():
            fix = [(s, ms, 1.0 + i * 1e-4, 2.0) for i, (s, ms) in
                   enumerate(ref["corrections"] + ref["inserts"])]
            updates = spark.createDataFrame(
                fix, "symbol string, ms long, bid double, ask double"
            ).select(
                "symbol", F.timestamp_millis("ms").alias("ts"), "bid", "ask",
                F.year(F.timestamp_millis("ms")).alias("year"),
            )
            snap = state["table"].merge(updates, ["symbol", "ts"])
            want = ref["gold_total"] + len(ref["inserts"])
            totals[snap.snapshot_id] = want
            self.tracer.annotate(log_entries_read=snap.snapshot_id - 1)
            got = int(snap.summary["total-records"])
            return None if got == want else f"merge total-records {got} != {want}"

        versions = rnd.sample(range(1, len(days) + 2), TIME_TRAVEL_READS)

        def read(k):
            def run():
                n = state["table"].read(version=k).count()
                return None if n == totals[k] else f"version {k}: {n} rows != {totals[k]}"

            return run

        def compact():
            snap = state["table"].compact()
            self.tracer.annotate(log_entries_read=snap.snapshot_id - 1)
            want = ref["gold_total"] + len(ref["inserts"])
            got = int(snap.summary["total-records"])
            return None if got == want else f"compact total-records {got} != {want}"

        def expire():
            got = state["table"].expire_snapshots(keep_last=1)
            n = len(days) + 1
            want = {"expired_snapshots": n, "deleted_dirs": n}
            return None if got == want else f"expire {got} != {want}"

        def stream(kind):
            def run():
                src = (
                    spark.readStream.schema(
                        "symbol string, ts timestamp, bid double, ask double, size long"
                    )
                    .option("maxFilesPerTrigger", 1)
                    .parquet(ref["stream_dir"])
                )
                if kind == "vwap":
                    agg = self.bars.vwap_bars_stream(src, price_col="bid")
                    rows = self.session.run_stream_to_memory(agg, "pb_vwap").collect()
                    got = {f"{r['symbol']}|{_ms(r['bar_start'])}": [r["n_ticks"], r["volume"]]
                           for r in rows}
                    want = ref["vwap_bars"]
                else:
                    agg = self.session.session_window_aggregate(src)
                    rows = self.session.run_stream_to_memory(agg, "pb_sess").collect()
                    got = {f"{r['symbol']}|{_ms(r['window_start'])}": r["n_ticks"] for r in rows}
                    want = ref["session_windows"]
                return None if got == want else f"{kind}: {len(got)} groups vs {len(want)}"

            return run

        return [
            ("pipeline.convert", convert),
            ("pipeline.quality", quality),
            ("pipeline.clean", clean),
            ("pipeline.stats", stats),
            *[("snapshots.commit", commit(d, k)) for k, d in enumerate(days)],
            ("snapshots.merge", merge),
            *[("snapshots.read", read(k)) for k in versions],
            ("snapshots.compact", compact),
            ("snapshots.expire", expire),
            ("streaming.vwap_bars", stream("vwap")),
            ("streaming.session_windows", stream("session")),
        ]

    def pass_output_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for sub in ("bronze", "gold")
            for r, _, fs in os.walk(os.path.join(self.work, os.listdir(self.work)[0], sub))
            for f in fs
            if not f.endswith(".crc")
        )


def _ms(ts) -> int:
    """Epoch milliseconds of a timestamp collected from Spark: a naive
    datetime in the process time zone, which ``run.py`` sets to UTC."""
    return calendar.timegm(ts.timetuple()) * 1000 + ts.microsecond // 1000


WORKLOADS = {w.name: w for w in (Queries, Ticks)}
