"""Seeded input generator for the benchmark workloads.

Every input the program reads is generated here from the workload seed, so
the same seed gives byte-identical parquet files and a different seed gives
different data. The program only ever sees the parquet files; the plan
(`plan.json`) is read by the benchmark harness, never by the program.

tick
    `events.parquet` shaped like the repository's test fixture: one
    pseudo-symbol per `user_id`, exponential-like values (mean ~= sd ~= 50,
    2 dp),
    timestamps spread over 30 days. The program derives sparse 1m candles
    and the 5m metrics fact from it (graft.Tables).

ingest_serve
    `history.parquet`: a dense 1m candle history (every symbol, every
    minute of the 6 hours before midnight) that set-up writes into the
    dt-partitioned store.
    `batches/bNNNNN.parquet`: one-minute micro-batches replayed by the
    ingest thread from midnight on. Batch i holds the still-open bar of
    minute i for every symbol, the closing restatement of minute i-1 and a
    few late restatements of older bars (one with a null quote_volume) in
    the previous day's partition, so the field-wise merge and the
    two-partition case are both exercised.
    `events.parquet`: a small events table the HTTP API serves from.
"""
import os

import pandas as pd

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
DAY = 86400
EPOCH_2024_01_01 = 1704067200
EPOCH_2024_03_01 = 1709251200

# tick: the sf0.01 fixture's density (~62 events per symbol over 30 days)
# on 12 symbols. The tick is driver-bound: its first (cold) tick took 63 s
# at 150 symbols, 51-56 s at 40 and 46-55 s at 12 on 4 cores, so the size
# changes its cost little; the smallest leaves the most room in the
# benchmark's time budget.
TICK_SYMBOLS = 12
TICK_EVENTS = 750
TICK_DAYS = 30

# ingest_serve: every batch carries one bar per symbol for the minute
# that closes and one for the minute that opens. 300 symbols is the low
# end of the reference's ingest burst (~300-606 symbols closing each
# minute, one batched write per burst: BASELINE.md, "Ingest burst shape").
INGEST_SYMBOLS = 300
# the store holds the 6 hours before midnight (the reference's default
# lookback is 300 bars per series: BASELINE.md, "Per-series window cap");
# batches replay from midnight on, so every merge touches the new day's
# partition and, through its late bars, the previous day's
INGEST_HISTORY_MIN = 360
INGEST_HISTORY_START_MIN = 1440 - INGEST_HISTORY_MIN
# late restatements per batch (the reference gives no rate): up to 5.5 h
# back, so they land in the previous day's partition
INGEST_LATE_PER_BATCH = 2
INGEST_LATE_WINDOW_MIN = 330
API_SYMBOLS = 24
API_EVENTS = 4000


def _write(table, path):
    # fixed writer options: identical inputs give identical bytes
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def events_table(rng, symbols, events, days, start):
    ts_us = np.sort(rng.integers(0, days * DAY * 1_000_000, size=events))
    ts_us = ts_us + start * 1_000_000
    value = np.maximum(np.round(rng.exponential(50.0, size=events), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, symbols, size=events)
                            .astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in
                                rng.integers(0, 5, size=events)]),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % k for k in
                           rng.integers(0, 100, size=events)]),
    })


def _bars(rng, sym_idx, minutes, base_px, closed):
    """Candle rows for parallel arrays of symbol index and minute."""
    n = len(sym_idx)
    px = base_px[sym_idx] * (1.0 + 0.001 * (minutes % 997 - 498) / 498.0)
    open_ = np.round(px + rng.normal(0, 0.05, n), 2)
    close = np.round(px + rng.normal(0, 0.05, n), 2)
    high = np.round(np.maximum(open_, close) + rng.exponential(0.05, n), 2)
    low = np.round(np.minimum(open_, close) - rng.exponential(0.05, n), 2)
    volume = np.round(rng.exponential(40.0, n) + 0.01, 2)
    return {
        "symbol": ["S%04d" % s for s in sym_idx],
        "bucket_ts": (EPOCH_2024_03_01 + minutes * 60).astype(np.int64),
        "open": open_, "high": high, "low": low, "close": close,
        "volume": volume,
        "quote_volume": np.round(volume * close, 2),
        "trade_count": rng.integers(1, 400, n).astype(np.int64),
        "taker_buy_volume": np.round(volume * rng.uniform(0, 1, n), 2),
        "is_closed": np.full(n, closed),
    }


def _candle_table(cols):
    return pa.table({
        "symbol": pa.array(cols["symbol"], pa.string()),
        "bucket_ts": pa.array(cols["bucket_ts"], pa.int64()),
        **{c: pa.array(cols[c], pa.float64()) for c in
           ("open", "high", "low", "close", "volume")},
        "quote_volume": pa.array(cols["quote_volume"], pa.float64()),
        "trade_count": pa.array(cols["trade_count"], pa.int64()),
        "taker_buy_volume": pa.array(cols["taker_buy_volume"], pa.float64()),
        "is_closed": pa.array(cols["is_closed"], pa.bool_()),
    })


def _concat(parts):
    out = {}
    for k in parts[0]:
        vals = [p[k] for p in parts]
        out[k] = (sum((list(v) for v in vals), []) if k == "symbol"
                  else np.concatenate(vals))
    return out


def ingest_batch(rng, i, base_px):
    """Batch i: open bar of minute m, close of m-1, late restatements."""
    m = INGEST_HISTORY_START_MIN + INGEST_HISTORY_MIN + i
    syms = np.arange(INGEST_SYMBOLS)
    parts = [
        _bars(rng, syms, np.full(INGEST_SYMBOLS, m), base_px, False),
        _bars(rng, syms, np.full(INGEST_SYMBOLS, m - 1), base_px, True),
    ]
    late_syms = rng.choice(INGEST_SYMBOLS, INGEST_LATE_PER_BATCH,
                           replace=False)
    late_min = m - 2 - rng.integers(0, INGEST_LATE_WINDOW_MIN,
                                    INGEST_LATE_PER_BATCH)
    late = _bars(rng, late_syms, late_min, base_px, True)
    # a restated bar that lost its quote volume: the merge must keep the
    # stored one (coalesce incoming-first)
    qv = late["quote_volume"].astype(object)
    qv[0] = None
    late["quote_volume"] = qv
    parts.append(late)
    return _concat(parts)


def generate(workload, seed, out_dir, batches=0):
    """Write the inputs for `workload` under out_dir; return the plan."""
    rng = np.random.default_rng([seed, 0 if workload == "tick" else 1])
    os.makedirs(out_dir, exist_ok=True)
    if workload == "tick":
        _write(events_table(rng, TICK_SYMBOLS, TICK_EVENTS, TICK_DAYS,
                            EPOCH_2024_01_01),
               os.path.join(out_dir, "events.parquet"))
        return {"workload": "tick", "dir": out_dir}
    if workload != "ingest_serve":
        raise ValueError(f"unknown workload {workload!r}")
    api_dir = os.path.join(out_dir, "api")
    os.makedirs(api_dir, exist_ok=True)
    _write(events_table(rng, API_SYMBOLS, API_EVENTS, 10, EPOCH_2024_03_01),
           os.path.join(api_dir, "events.parquet"))
    base_px = np.round(rng.uniform(5, 500, INGEST_SYMBOLS), 2)
    syms = np.repeat(np.arange(INGEST_SYMBOLS), INGEST_HISTORY_MIN)
    mins = np.tile(np.arange(INGEST_HISTORY_MIN), INGEST_SYMBOLS) + \
        INGEST_HISTORY_START_MIN
    _write(_candle_table(_bars(rng, syms, mins, base_px, True)),
           os.path.join(out_dir, "history.parquet"))
    bdir = os.path.join(out_dir, "batches")
    os.makedirs(bdir, exist_ok=True)
    files = []
    for i in range(batches):
        f = os.path.join(bdir, "b%05d.parquet" % i)
        _write(_candle_table(ingest_batch(rng, i, base_px)), f)
        files.append(f)
    # the readers' symbols, fixed per seed
    return {"workload": "ingest_serve", "dir": out_dir, "api_dir": api_dir,
            "history": os.path.join(out_dir, "history.parquet"),
            "batches": files,
            "first_batch_ts": EPOCH_2024_03_01 + 60 * (
                INGEST_HISTORY_START_MIN + INGEST_HISTORY_MIN),
            "read_symbols": ["S%04d" % s for s in
                             rng.choice(INGEST_SYMBOLS, 16).tolist()],
            "api_symbols": ["S%04d" % s for s in
                            rng.choice(API_SYMBOLS, 16).tolist()]}


KEY = ["symbol", "bucket_ts"]


def candle_frame(path):
    """A candle parquet file (or dt-partitioned store) as a DataFrame of
    the stored columns, decimals as floats, indexed by (symbol,
    bucket_ts)."""
    tbl = pq.read_table(path)
    cols = {}
    for name in tbl.column_names:
        c = tbl.column(name)
        if pa.types.is_decimal(c.type):
            c = c.cast(pa.float64())
        if name != "dt":
            cols[name] = c
    return pa.table(cols).to_pandas().set_index(KEY)


def _upsert(old, inc):
    """The reference's field-wise ON CONFLICT DO UPDATE of one bar."""
    if old is None:
        return inc
    return {
        "open": old["open"] if old["is_closed"] and not inc["is_closed"]
        else inc["open"],
        "high": max(old["high"], inc["high"]),
        "low": min(old["low"], inc["low"]),
        "close": inc["close"], "volume": inc["volume"],
        **{c: old[c] if pd.isna(inc[c]) else inc[c] for c in
           ("quote_volume", "trade_count", "taker_buy_volume")},
        "is_closed": bool(old["is_closed"] or inc["is_closed"]),
    }


def expected_store(plan, applied):
    """The bars the store must hold after the batches whose indices are
    listed in `applied` were merged in that order: a DataFrame indexed by
    (symbol, bucket_ts), sorted. An independent restatement of the
    reference upsert, applied row by row to the keys the batches touch."""
    hist = candle_frame(plan["history"])
    batches = [candle_frame(plan["batches"][i]) for i in applied]
    if not batches:
        return hist.sort_index()
    keys = pd.MultiIndex.from_tuples(sorted(set().union(
        *(b.index for b in batches))), names=KEY)
    known = hist.index.intersection(keys)
    rows = {k: r for k, r in zip(known, hist.loc[known].to_dict("records"))}
    for b in batches:
        for k, inc in zip(b.index, b.to_dict("records")):
            rows[k] = _upsert(rows.get(k), inc)
    touched = pd.DataFrame.from_records(
        [rows[k] for k in keys], index=keys, columns=hist.columns)
    return pd.concat([hist.drop(index=known), touched]).sort_index()
