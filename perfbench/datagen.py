"""Seeded benchmark inputs and the reference answers they imply.

Everything here is numpy / pandas / pyarrow only: the reference answers
are computed independently of Spark, from the same generated arrays the
engine reads back from disk.

* ``query_tables`` writes the ten registry tables (TPC-H-shaped star
  schema, ``events``, ``documents``, ``embeddings``) as one parquet file
  each, with the schemas and value grids the registry and its DuckDB
  oracles expect.
* ``tick_inputs`` writes a raw CSV tick tree (``<symbol>/<yyyymmdd>.csv``)
  for the batch ETL, the parquet files replayed by the streaming path,
  and the expected daily window counts, snapshot record totals and
  streaming bar counts.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SYMBOLS = ("US30", "US2000", "BTCUSD", "XAUUSD")
# [start, end) minute-of-day of the two trading session windows, the
# same windows the engine's session filter and daily stats use
SESSION_MINUTES = ((7 * 60 + 50, 8 * 60), (13 * 60 + 50, 14 * 60))
# raw ticks spread over 07:00-15:00 around the dense session windows
_DAY_SPAN_MS = (7 * 3600_000, 15 * 3600_000)

_WORDS = (
    "row the query stream key agg scan slow table part a merge window order "
    "column join vector fast spark line small customer group value hash batch "
    "sort data big filter dup"
).split()


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def query_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write the registry's ten input tables under ``out_dir``; returns
    the row count of each. ``scale`` follows the TPC-H scale factor
    (lineitem has about 6M x scale rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), 500
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"), "r_name": regions}), p("region"))
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        p("nation"),
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
            }
        ),
        p("customer"),
    )
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        p("supplier"),
    )
    adj = np.array(["blue", "hot", "small", "old", "red", "new", "cold", "large"])
    noun = np.array(["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"])
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    keys = np.arange(n_part, dtype="int64")
    _write(
        pd.DataFrame(
            {
                "p_partkey": keys,
                "p_name": np.char.add(
                    np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                    noun[rng.integers(0, 8, n_part)],
                ),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": ptype[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
            }
        ),
        p("part"),
    )
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rng.integers(0, 5, n_ord)],
            }
        ),
        p("orders"),
    )
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
                "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
                "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
        p("lineitem"),
    )
    # events: time-ordered over January 2024 at microsecond precision
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + start
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype="int64"),
                "ts": ts,
                "user_id": rng.integers(0, 150, n_ev).astype("int64"),
                "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
                    rng.integers(0, 5, n_ev)
                ],
                "value": _money(rng, 0.01, 500.0, n_ev),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        p("events"),
    )
    # documents: random word salad, plus a few exact copies and
    # one-word edits so the dedup families have work to do
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 50, replace=False):
        j = int(rng.integers(0, n_doc))
        toks = texts[j].split()
        if rng.random() < 0.5:
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(toks)
    _write(
        pd.DataFrame(
            {
                "doc_id": np.arange(n_doc, dtype="int64"),
                "text": texts,
                "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_doc)],
                "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
                "n_chars": np.array([len(t) for t in texts], dtype="int64"),
            }
        ),
        p("documents"),
    )
    # embeddings: unit vectors around 10 weak cluster centres
    centres = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb)
    x = centres[label] * 0.15 + rng.normal(0.0, 1.0, (n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
                "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
                "label": pa.array(label.astype("int32")),
            }
        ),
        p("embeddings"),
    )
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


def _tick_times(rng, day: np.datetime64, n: int) -> np.ndarray:
    """``n`` sorted millisecond timestamps on ``day``: most inside the
    session windows, the rest spread over the trading day."""
    n_dense = int(n * 0.7)
    win = rng.integers(0, 2, n_dense)
    lo = np.array([SESSION_MINUTES[0][0], SESSION_MINUTES[1][0]])[win] * 60_000
    dense = lo + rng.integers(0, 600_000, n_dense)
    sparse = rng.integers(*_DAY_SPAN_MS, n - n_dense)
    ms = np.sort(np.concatenate([dense, sparse]))
    return day.astype("datetime64[ms]") + ms.astype("timedelta64[ms]")


def _prices(rng, n: int, base: float) -> tuple[np.ndarray, np.ndarray]:
    bid = np.round(base + np.cumsum(rng.integers(-3, 4, n)) * 1e-4, 4)
    ask = np.round(bid + rng.integers(0, 6, n) * 1e-4, 4)
    return bid, ask


def _in_session(minute_of_day: np.ndarray) -> np.ndarray:
    m = np.zeros(len(minute_of_day), dtype=bool)
    for lo, hi in SESSION_MINUTES:
        m |= (minute_of_day >= lo) & (minute_of_day < hi)
    return m


def tick_inputs(
    out_dir: str,
    seed: int,
    n_symbols: int,
    n_days: int,
    ticks_per_day: int,
    stream_files: int,
    stream_ticks_per_file: int,
    n_corrections: int,
    n_inserts: int,
) -> dict:
    """Write the raw CSV tree and the stream replay files; return the
    reference answers the tick workload is checked against."""
    rng = np.random.default_rng([seed, 2])
    symbols = SYMBOLS[:n_symbols]
    first = np.datetime64("2025-01-06") + 7 * int(rng.integers(0, 20))
    days = [first + i for i in range(n_days)]  # one trading week, Mon..
    csv_root = os.path.join(out_dir, "csv")
    daily: dict[tuple[str, str], list[int]] = {}
    gold_keys: dict[str, list] = {}
    null_bids = bad_ts = 0
    for si, sym in enumerate(symbols):
        os.makedirs(os.path.join(csv_root, sym), exist_ok=True)
        for day in days:
            t = _tick_times(rng, day, ticks_per_day)
            bid, ask = _prices(rng, ticks_per_day, 100.0 * (si + 1))
            text = pd.Series(t).dt.strftime("%Y%m%d %H:%M:%S.%f").str[:-3]
            bad = rng.random(ticks_per_day) < 0.002
            text[bad] = "not-a-timestamp"
            nb = rng.random(ticks_per_day) < 0.005
            bid_txt = pd.Series(bid).map("{:.4f}".format)
            bid_txt[nb] = ""
            pd.DataFrame(
                {
                    "DateTime": text,
                    "Bid": bid_txt,
                    "Ask": pd.Series(ask).map("{:.4f}".format),
                    "Volume": rng.integers(1, 100, ticks_per_day),
                }
            ).to_csv(
                os.path.join(csv_root, sym, f"{pd.Timestamp(day):%Y%m%d}.csv"), index=False
            )
            null_bids += int(nb.sum())
            bad_ts += int(bad.sum())
            # gold = first tick of every second inside a session window
            ok = ~bad
            ms = t[ok].astype("int64")
            mod = (ms // 60_000) % 1440
            keep = _in_session(mod)
            sec = ms[keep] // 1000
            first_ms = pd.Series(ms[keep]).groupby(sec).min().to_numpy()
            win = _in_session_index(((first_ms // 60_000) % 1440))
            daily[(sym, str(day))] = [int((win == 0).sum()), int((win == 1).sum())]
            gold_keys.setdefault(sym, []).append(first_ms)

    per_day = {str(d): sum(daily[(s, str(d))][0] + daily[(s, str(d))][1] for s in symbols) for d in days}
    gold_total = sum(per_day.values())

    # merge batch: existing (symbol, ts) keys re-priced, plus new keys at
    # 12:00:00.000 + i seconds (outside both windows, so never in gold)
    corrections = []
    for _ in range(n_corrections):
        sym = symbols[int(rng.integers(0, n_symbols))]
        pool = np.concatenate(gold_keys[sym])
        corrections.append((sym, int(pool[int(rng.integers(0, len(pool)))])))
    corrections = sorted(set(corrections))
    inserts = [
        (symbols[i % n_symbols], int((days[i % n_days].astype("datetime64[ms]").astype("int64")) + 12 * 3600_000 + i * 1000))
        for i in range(n_inserts)
    ]

    stream = _stream_files(rng, os.path.join(out_dir, "stream"), symbols, days[-1],
                           stream_files, stream_ticks_per_file)
    return {
        "csv_root": csv_root,
        "symbols": list(symbols),
        "days": [str(d) for d in days],
        "csv_ticks": n_symbols * n_days * ticks_per_day,
        "csv_bytes": sum(
            os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(csv_root) for f in fs
        ),
        "null_bids": null_bids,
        "bad_ts": bad_ts,
        "daily_counts": {f"{s}|{d}": v for (s, d), v in daily.items()},
        "gold_per_day": per_day,
        "gold_total": gold_total,
        "corrections": corrections,
        "inserts": inserts,
        **stream,
    }


def _in_session_index(minute_of_day: np.ndarray) -> np.ndarray:
    idx = np.full(len(minute_of_day), -1)
    for i, (lo, hi) in enumerate(SESSION_MINUTES):
        idx[(minute_of_day >= lo) & (minute_of_day < hi)] = i
    return idx


def _stream_files(rng, out_dir, symbols, day, n_files, per_file) -> dict:
    """Replay files for one trading day, each a contiguous time slice so
    no file holds ticks older than the watermark of the ones before it.
    Expected outputs follow the engine's append-mode contract: a bar or
    window is emitted once its end is at or before the final watermark
    (max event time minus the 10-minute delay)."""
    os.makedirs(out_dir, exist_ok=True)
    n = n_files * per_file
    t = _tick_times(rng, day, n)
    sym = np.array(symbols)[rng.integers(0, len(symbols), n)]
    bid, ask = _prices(rng, n, 50.0)
    size = rng.integers(1, 50, n).astype("int64")
    schema = pa.schema(
        [("symbol", pa.string()), ("ts", pa.timestamp("ms", tz="UTC")), ("bid", pa.float64()),
         ("ask", pa.float64()), ("size", pa.int64())]
    )
    for i in range(n_files):
        sl = slice(i * per_file, (i + 1) * per_file)
        path = os.path.join(out_dir, f"ticks-{i:04d}.parquet")
        cols = [sym[sl], t[sl], bid[sl], ask[sl], size[sl]]
        pq.write_table(
            pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema),
            path,
        )
        # the file source orders new files by modification time
        os.utime(path, ns=(10**18 + i * 10**9, 10**18 + i * 10**9))
    ms = t.astype("int64")
    delay = 600_000
    bar = ms // 60_000 * 60_000
    bars = (
        pd.DataFrame({"symbol": sym, "bar": bar, "size": size})
        .groupby(["symbol", "bar"])
        .agg(n=("size", "size"), volume=("size", "sum"))
    )
    bars = bars[bars.index.get_level_values("bar") + 60_000 <= ms.max() - delay]
    sess = _in_session((ms // 60_000) % 1440)
    w10 = ms[sess] // 600_000 * 600_000
    windows = pd.Series(1, index=pd.MultiIndex.from_arrays([sym[sess], w10])).groupby(level=[0, 1]).sum()
    windows = windows[windows.index.get_level_values(1) + 600_000 <= ms[sess].max() - delay]
    return {
        "stream_dir": out_dir,
        "stream_ticks": n,
        "vwap_bars": {f"{s}|{b}": [int(r.n), int(r.volume)] for (s, b), r in bars.iterrows()},
        "session_windows": {f"{s}|{w}": int(c) for (s, w), c in windows.items()},
    }
