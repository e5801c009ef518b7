"""Self-test of the benchmark's own code on tiny inputs.

    python3 perfbench/selftest.py            # all checks, about 20 s
    python3 perfbench/selftest.py --no-jvm   # skip the Spark-side checks

Covers the percentile and sample-count rules, the run-agreement
comparator, the seeded generator (same seed gives identical bytes, another
seed gives other data), the expected-store merge the ingest check relies
on, and (through the harness JVM) the fingerprint's independence from row
order, partitioning and column order.
"""
import hashlib
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# nothing under the source tree is written, not even __pycache__
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def check(what, ok):
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def test_percentiles():
    xs = list(range(1, 21))
    check("median of 1..20 is 10.5", stats.median(xs) == 10.5)
    check("nearest-rank p95 of 1..20 is 19", stats.percentile(xs, 95) == 19)
    check("p50 of 1..20 is 10", stats.percentile(xs, 50) == 10)
    check("percentile of one sample is that sample",
          stats.percentile([7.0], 95) == 7.0)
    check("percentile ignores missing samples",
          stats.percentile([None, 3, 1, 2], 50) == 2)
    check("no percentile of nothing", stats.percentile([], 50) is None)
    # the highest percentile with at least ten samples beyond it
    check("n=9: no tail percentile", stats.tail_percentile(9) is None)
    check("n=20: p50 is the tail", stats.tail_percentile(20) == 50)
    check("n=100: p90 is the tail", stats.tail_percentile(100) == 90)
    check("n=200: p95 is the tail", stats.tail_percentile(200) == 95)
    check("n=1000: p99 is the tail", stats.tail_percentile(1000) == 99)
    t = stats.timing([3.0, 1.0, 2.0, None])
    check("timing counts only real samples",
          t["n"] == 3 and t["p50"] == 2.0 and t["tail_p"] is None)


def test_agreement():
    vals = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    check("spread is IQR over median",
          abs(stats.spread(vals) - (q3 - q1) / statistics.median(vals))
          < 1e-12)
    spec = [{"name": "lat", "better": "lower", "bound": 0.1},
            {"name": "tput", "better": "higher", "bound": 0.1},
            {"name": "setup_s", "better": "lower", "bound": 0.2}]
    same = {"lat": vals, "tput": vals,
            "setup_s": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]}
    rows = {r[0]: r[-1] for r in stats.agreement(same, same, spec)}
    check("identical steady sets agree", rows["lat"] and rows["tput"])
    check("setup_s's spread is gated like any other", not rows["setup_s"])
    slower = dict(same, lat=[v * 1.3 for v in vals])
    rows = {r[0]: r[-1] for r in stats.agreement(same, slower, spec)}
    check("a 30% slower median fails a 10% bound", not rows["lat"])
    lower = dict(same, tput=[v * 0.8 for v in vals])
    rows = {r[0]: r[-1] for r in stats.agreement(same, lower, spec)}
    check("lower throughput is worse when higher is better",
          not rows["tput"])
    noisy = dict(same, lat=[1, 20, 3, 15, 5, 9, 30, 2, 8, 11])
    rows = {r[0]: r[-1] for r in stats.agreement(noisy, noisy, spec)}
    check("a spread above the bound fails", not rows["lat"])
    check("worse_by sign", stats.worse_by([10], [11], "lower") > 0 and
          stats.worse_by([10], [11], "higher") < 0)


def _digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generator(tmp):
    for w in ("tick", "ingest_serve"):
        a = gen.generate(w, 3, os.path.join(tmp, w, "a"), batches=2)
        gen.generate(w, 3, os.path.join(tmp, w, "b"), batches=2)
        gen.generate(w, 4, os.path.join(tmp, w, "c"), batches=2)
        da, db, dc = (_digest(os.path.join(tmp, w, x)) for x in "abc")
        check(f"{w}: same seed gives identical bytes", da == db)
        check(f"{w}: another seed gives other data", da != dc)
        if w == "ingest_serve":
            check("ingest_serve: the plan lists the batches",
                  len(a["batches"]) == 2)


def test_expected_store(tmp):
    """The merge restatement on a hand-made case: open kept when the
    stored bar is closed and the incoming is not, high/low widen, null
    quote_volume keeps the stored value, is_closed ORs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def bars(rows):
        cols = list(zip(*rows))
        return pa.table({
            "symbol": pa.array(cols[0]), "bucket_ts": pa.array(cols[1]),
            "open": pa.array(cols[2]), "high": pa.array(cols[3]),
            "low": pa.array(cols[4]), "close": pa.array(cols[5]),
            "volume": pa.array(cols[6]),
            "quote_volume": pa.array(cols[7], pa.float64()),
            "trade_count": pa.array(cols[8], pa.int64()),
            "taker_buy_volume": pa.array(cols[9]),
            "is_closed": pa.array(cols[10])})
    d = os.path.join(tmp, "merge")
    os.makedirs(d)
    pq.write_table(bars([("S1", 60, 1.0, 2.0, 0.5, 1.5, 10.0, 15.0, 3, 4.0,
                          True)]), os.path.join(d, "h.parquet"))
    pq.write_table(bars([("S1", 60, 9.0, 3.0, 0.7, 1.7, 11.0, None, 5, 5.0,
                          False),
                         ("S2", 60, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1, 1.0,
                          False)]), os.path.join(d, "b0.parquet"))
    plan = {"history": os.path.join(d, "h.parquet"),
            "batches": [os.path.join(d, "b0.parquet")]}
    got = gen.expected_store(plan, [0])
    s1 = got.loc[("S1", 60)]
    check("merge keeps a closed bar's open against an open restatement",
          s1["open"] == 1.0)
    check("merge widens high and keeps the lower low",
          s1["high"] == 3.0 and s1["low"] == 0.5)
    check("merge takes close/volume from the incoming bar",
          s1["close"] == 1.7 and s1["volume"] == 11.0)
    check("merge keeps the stored quote_volume when incoming is null",
          s1["quote_volume"] == 15.0 and s1["trade_count"] == 5)
    check("merge ORs is_closed", bool(s1["is_closed"]))
    check("merge inserts new keys",
          ("S2", 60) in got.index and len(got) == 2)
    check("no batches applied gives the history",
          gen.expected_store(plan, []).loc[("S1", 60), "open"] == 1.0)


def test_fingerprint_jvm(tmp):
    r = subprocess.run(
        build.java(build.build(), "1g", tmp) + ["perfbench.Main",
                                                "--selftest"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=170)
    check("fingerprint: order, partitioning and column order do not "
          "matter; a changed, dropped or duplicated row does",
          r.returncode == 0 and '"selftest":"ok"' in r.stdout)


def main():
    tmp = os.path.join(build.build_dir(), "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        test_percentiles()
        test_agreement()
        test_generator(tmp)
        test_expected_store(tmp)
        if "--no-jvm" not in sys.argv:
            test_fingerprint_jvm(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
