"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tick --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness JVM
(perfbench/scala), checks every output outside the timed sections, and
prints the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) as the last stdout line:

    {"correct": true, "attempted": 2, "failed": 0, "metrics": {...}}

The full artifact of the run (every rep of every operation, set-up phases,
checks and, traced, the span/counter map) goes to
<build dir>/artifacts/, or to --artifact PATH.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# nothing under the source tree is written, not even __pycache__
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 178
# the DuckDB oracle (first tick run of a build directory) and the output
# checks
CHECK_RESERVE_S = 25
ORACLE = ["g18_rules_native_tf"]
# ingest_serve: one batch due every PERIOD_S seconds after WARMUP_BATCHES,
# a roll-up refresh after every REFRESH_EVERY-th batch
PERIOD_S = 6.0
WARMUP_BATCHES = 2
REFRESH_EVERY = 2

# (BENCHMARK.json end_to_end slot, the workload's own metric name, unit)
NAMES = {
    "tick": [("setup_s", "setup_s", "s"),
             ("main_p50_s", "cycle_p50_s", "s"),
             ("side_p50_s", "signals_p50_s", "s"),
             ("reads_per_s", "feed_views_per_s", "1/s"),
             ("heap_live_mb", "heap_live_mb", "MB"),
             ("success_rate", "success_rate", "ratio"),
             ("first_try_frac", "first_try_frac", "ratio")],
    "ingest_serve": [("setup_s", "setup_s", "s"),
                     ("main_p50_s", "ingest_p50_s", "s"),
                     ("side_p50_s", "refresh_p50_s", "s"),
                     ("reads_per_s", "reads_per_s", "1/s"),
                     ("heap_live_mb", "heap_live_mb", "MB"),
                     ("success_rate", "success_rate", "ratio"),
                     ("first_try_frac", "first_try_frac", "ratio")],
}

# printed and kept in the artifact, not in BENCHMARK.json. A run holds 4
# measured batches, 3 feed reads or 30-40 client reads, so the p95s are
# the slowest or second slowest sample (ten-seed spreads up to 0.43). The
# client reads wait on the merges they overlap, so their latency swings
# more than the machine does (ten-seed spread of read_p50_ms 0.14-0.37);
# reads_per_s carries them in BENCHMARK.json.
PRINTED_ONLY = {"tick": [("feed_read_p50_ms", "ms"), ("feed_read_p95_ms", "ms"),
                         ("error_rate", "ratio")],
                "ingest_serve": [("ingest_p95_s", "s"), ("read_p50_ms", "ms"),
                                 ("read_p95_ms", "ms"),
                                 ("error_rate", "ratio")]}


def spec():
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(out, plan_path, artifact, seconds, trace, log, budget):
    tmp = os.path.join(os.path.dirname(plan_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java(out, "3g", tmp) + [
        "perfbench.Main", plan_path, artifact, str(seconds), str(trace)]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"run: harness JVM exceeded {budget:.0f}s "
                             f"(log {log})")


def selfcheck_module():
    """tools/selfcheck.py: the repo's own DuckDB oracle comparison."""
    path = os.path.join(os.path.dirname(HERE), "tools", "selfcheck.py")
    sp = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(sp)
    sp.loader.exec_module(mod)
    return mod


def _digest(names, rows):
    return hashlib.sha256(repr((names, rows)).encode()).hexdigest()


def oracle_due():
    """The DuckDB oracle runs in the first tick run of a build directory
    (until it has passed once): it costs 15-20 s per seed on 4 cores, 8 s
    of it DuckDB planning the 465 KB query, which every run cannot afford
    within the benchmark's time budget. Every run checks fingerprints."""
    return not os.path.exists(os.path.join(build.build_dir(),
                                           "oracle-passed"))


def oracle_check(plan):
    """Spark output vs the DuckDB oracle's answer, both normalized by
    tools/selfcheck.py's norm_rows (column-name-sorted, row-sorted,
    1e-9-rounded multisets)."""
    import pyarrow.parquet as pq
    sc = selfcheck_module()
    out, con = {}, None
    for name in plan["oracle"]:
        try:
            if con is None:
                import duckdb
                con = duckdb.connect()
                con.execute("SET TimeZone='UTC'")
                con.execute("SET threads=%d" % cores())
                con.execute("CREATE VIEW events AS SELECT * FROM "
                            "read_parquet('%s')" % os.path.join(
                                plan["dir"], "events.parquet"))
            with open(os.path.join(plan["work"], "oracle",
                                   name + ".sql")) as f:
                sql = f.read()
            t0 = time.time()
            res = con.execute(sql)
            en, er = sc.norm_rows([c[0] for c in res.description],
                                  res.fetchall())
            oracle_s = time.time() - t0
            tbl = pq.read_table(os.path.join(plan["work"], "oracle",
                                             name + ".parquet"))
            gn, gr = sc.norm_rows(tbl.column_names, [
                tuple(r[c] for c in tbl.column_names)
                for r in tbl.to_pylist()])
            out[name] = {"ok": _digest(gn, gr) == _digest(en, er),
                         "rows": len(gr), "oracle_rows": len(er),
                         "oracle_s": oracle_s}
        except Exception as e:  # a check that cannot run is a failed check
            out[name] = {"ok": False, "error": str(e)[:300]}
    if out and all(o["ok"] for o in out.values()):
        open(os.path.join(build.build_dir(), "oracle-passed"), "w").close()
    return out


def fingerprint_ref(workload, seed, fps):
    """The outputs' fingerprints must repeat across runs and across traced
    and untraced modes: the first run of a seed in this build directory
    stores them, later runs compare."""
    d = os.path.join(build.build_dir(), "fingerprints")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f), False
    with open(path + ".tmp", "w") as f:
        json.dump(fps, f, sort_keys=True)
    os.replace(path + ".tmp", path)
    return fps, True


def check_tick(art, plan, seed):
    ticks = art["ticks"]
    ref, fresh = fingerprint_ref("tick", seed, ticks[0]["fingerprints"])
    cycle_out = ["f01_indicator_cycle"]
    checks = {"fingerprint_ref": "stored" if fresh else "compared",
              "ticks": []}
    failed = 0
    oracle = oracle_check(plan)
    checks["oracle"] = oracle
    for t in ticks:
        fp = t["fingerprints"]
        bad = sorted(k for k in set(ref) | set(fp) if fp.get(k) != ref.get(k))
        cyc_bad = "cycle_error" in t or any(k in bad for k in cycle_out)
        sig_bad = "signals_error" in t or any(k not in cycle_out for k in bad)
        if t is ticks[0]:
            sig_bad = sig_bad or not all(o["ok"] for o in oracle.values())
        t["check"] = {"cycle_ok": not cyc_bad, "signals_ok": not sig_bad,
                      "mismatched": bad}
        checks["ticks"].append({"tick": t["tick"], **t["check"]})
        failed += cyc_bad + sig_bad
    return 2 * len(ticks), failed, True, checks


def tick_metrics(art):
    ok = [t for t in art["ticks"]
          if t["check"]["cycle_ok"] and t["check"]["signals_ok"]]
    cyc = stats.timing([t["cycle_s"] for t in ok])
    sig = stats.timing([t["signals_s"] for t in ok])
    # one read serves the published signal set: the four consumer views
    # once, from the shared build (passes after the first)
    passes = {}
    for t in ok:
        for r in t["reads"]:
            if r["pass"] > 1:
                key = (t["tick"], r["pass"])
                passes[key] = passes.get(key, 0.0) + r["s"]
    rd = stats.timing([v * 1e3 for v in passes.values()])
    n_views = sum(1 for t in ok for r in t["reads"] if r["pass"] > 1)
    return {
        "setup_s": art["setup"]["setup_s"],
        "cycle_p50_s": cyc["p50"],
        "signals_p50_s": sig["p50"],
        "feed_read_p50_ms": rd["p50"], "feed_read_p95_ms": rd["p95"],
        "feed_views_per_s": (n_views / sum(passes.values())
                             if passes else None),
        "heap_live_mb": art["heap_live_mb"],
        # the feed views are read from memory: nothing can race them
        "first_try_frac": 1.0,
    }, {"cycle_s": cyc, "signals_s": sig, "feed_read_ms": rd}


def check_ingest(art, plan):
    exp = gen.expected_store(plan, art["applied_batches"])
    got = gen.candle_frame(art["store"]).sort_index()
    duplicates = int(got.index.duplicated().sum())
    missing = len(exp.index.difference(got.index))
    extra = len(got.index.difference(exp.index))
    mism = {}
    if not (duplicates or missing or extra):
        got = got.loc[exp.index]
        for c in exp.columns:
            x, g = exp[c].astype("float64"), got[c].astype("float64")
            same = (x.isna() & g.isna()) | (
                (x - g).abs() <= 1e-9 * x.abs().clip(lower=1.0))
            if not same.all():
                mism[c] = [str(k) for k in exp.index[~same.to_numpy()][:3]]
    store_ok = not (duplicates or missing or extra or mism)
    measured_b = [b for b in art["batches"] if b["measured"]]
    measured_r = [r for r in art["refreshes"] if r["measured"]]
    reads = art["reads"]
    # a wrong final store makes every batch's output suspect
    failed = (sum(not (b["ok"] and store_ok) for b in measured_b) +
              sum(not r["ok"] for r in measured_r) +
              sum(not r["ok"] for r in reads))
    warm_ok = all(b["ok"] for b in art["batches"] if not b["measured"])
    attempted = len(measured_b) + len(measured_r) + len(reads)
    checks = {"store_ok": store_ok, "store_rows": len(got),
              "expected_rows": len(exp), "missing": missing, "extra": extra,
              "duplicates": duplicates, "mismatches": mism}
    return attempted, failed, warm_ok, checks


def ingest_metrics(art):
    b = [x["latency_s"] for x in art["batches"] if x["measured"] and x["ok"]]
    r = [x["s"] for x in art["refreshes"] if x["measured"] and x["ok"]]
    reads = [x for x in art["reads"] if x["ok"]]
    lat = stats.timing(b)
    ref = stats.timing(r)
    # a read that raced a merge and needed a retry gives no latency sample;
    # the share of reads that did not is an end-to-end metric of its own
    rd = stats.timing([x["ms"] for x in reads if x["first_ok"]])
    retried = stats.timing([x["ms"] for x in reads if not x["first_ok"]])
    return {
        "setup_s": art["setup"]["setup_s"],
        "ingest_p50_s": lat["p50"], "ingest_p95_s": lat["p95"],
        "refresh_p50_s": ref["p50"],
        "read_p50_ms": rd["p50"], "read_p95_ms": rd["p95"],
        "reads_per_s": len(reads) / art["window_s"],
        "heap_live_mb": art["heap_live_mb"],
        "first_try_frac": (sum(x["first_ok"] for x in art["reads"]) /
                           max(1, len(art["reads"]))),
    }, {"ingest_latency_s": lat, "refresh_s": ref, "read_ms": rd,
        "retried_read_ms": retried}


def self_times(spans, since):
    """Self time per span name over the spans that start at or after
    `since`: a span's duration minus the part its children cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        if sp["start_s"] < since:
            continue
        covered, end = 0.0, sp["start_s"]
        for c in sorted(kids.get(sp["id"], []), key=lambda c: c["start_s"]):
            lo, hi = max(c["start_s"], end), min(c["end_s"], sp["end_s"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[sp["name"]] = out.get(sp["name"], 0.0) + (
            sp["end_s"] - sp["start_s"] - covered)
    return out


def breakdown(art, layer):
    """How the traced tick's measured times split into layers: the parts
    are sampled or timed inside the measured interval, so they add up to
    it."""
    if art["workload"] != "tick":
        return {}
    ts = art["ticks"]
    cyc = stats.median([t["cycle_s"] for t in ts])
    sig = stats.median([t["signals_s"] for t in ts])
    cparts = {k: layer[k] for k in ("Cycle.frames_s", "Cycle.plans_s",
                                    "Cycle.branches_s", "Cycle.other_s",
                                    "Cycle.exec_s")}
    sparts = {k: layer[k] for k in ("RuleCorpus.fired_s",
                                    "RuleCorpus.cooled_s",
                                    "RuleCorpus.consumers_s")}
    return {
        "cycle_s": {"measured": cyc, "parts": cparts,
                    "sum": sum(cparts.values()),
                    "driver_s_all_threads": sum(
                        layer[k] for k in ("driver.analysis_s",
                                           "driver.optimization_s",
                                           "driver.planning_s")),
                    "eager_jobs": layer["eager.jobs"]},
        "signals_s": {"measured": sig, "parts": sparts,
                      "sum": sum(sparts.values())},
    }


def layer_metrics(art, plan):
    """Per-layer metrics of a traced run (every name in BENCHMARK.json's
    per_layer; a layer the workload does not reach reads 0)."""
    out = {m["name"]: 0.0 for m in spec()["per_layer"]}
    if art["workload"] == "tick":
        ts = art["ticks"]
        for k in out:
            vals = [t[k] for t in ts if isinstance(t.get(k), (int, float))]
            if vals:
                out[k] = stats.median(vals)
        return out
    layer = art["layer"]
    w = art["window_s"]
    for k in out:
        if k in layer:
            out[k] = layer[k]
    out["spark.busy_frac"] = layer.get("spark.task_s", 0.0) / (
        w * art["cores"])
    mb = [x for x in art["batches"] if x["measured"] and x["ok"]]
    out["Maintenance.merge_s"] = stats.median([x["merge_s"] for x in mb])
    out["Maintenance.partitions_touched"] = sum(
        x["partitions_touched"] for x in mb) / max(1, len(mb))
    out["ingest.wait_s"] = stats.median([x["wait_s"] for x in mb])
    rows = sum(plan["batch_rows"][x["batch"]] for x in mb)
    out["Tables.bytes_per_row"] = layer.get("output.bytes.merge", 0.0) / max(
        1, rows)
    out["Tables.files_per_partition"] = art["files_per_partition"]
    out["Rollup.refresh_s"] = stats.median(
        [x["s"] for x in art["refreshes"] if x["measured"] and x["ok"]])

    def reads(*kinds):
        return stats.median([x["ms"] for x in art["reads"]
                             if x["first_ok"] and x["kind"] in kinds])
    out["Rollup.realtime_read_ms"] = reads("realtime_5m", "realtime_1h")
    out["Api.ohlc_ms"] = reads("api_ohlc_1m", "api_ohlc_1h")
    out["Api.metrics_ms"] = reads("api_metrics")
    out["Tables.latest_read_ms"] = reads("latest", "topk")
    out["reads.retried"] = sum(x["retried"] for x in art["reads"])
    return {k: (0.0 if v is None else v) for k, v in out.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(
        description="Run one benchmark workload (see perfbench/README.md).")
    ap.add_argument("--workload", required=True,
                    choices=sorted(NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", help="where to write the full artifact")
    a = ap.parse_args(argv)
    out = build.build()
    t_start = time.time()  # the build is outside the run's deadline
    work = os.path.join(build.build_dir(), "work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_gen = time.time()
        # enough one-minute batches for the warm-up and the window
        n_batches = WARMUP_BATCHES + int(a.seconds / PERIOD_S) + 3
        plan = gen.generate(a.workload, a.seed, os.path.join(work, "in"),
                            n_batches)
        plan.update({"cores": cores(), "work": work, "period_s": PERIOD_S,
                     "warmup_batches": WARMUP_BATCHES,
                     "refresh_every": REFRESH_EVERY,
                     "oracle": (ORACLE if a.workload == "tick" and
                                oracle_due() else [])})
        if a.workload == "ingest_serve":
            import pyarrow.parquet as pq
            plan["batch_rows"] = [pq.ParquetFile(f).metadata.num_rows
                                  for f in plan["batches"]]
        gen_s = time.time() - t_gen
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        art_path = os.path.join(work, "artifact.json")
        budget = DEADLINE_S - CHECK_RESERVE_S - (time.time() - t_start)
        rc = run_jvm(out, plan_path, art_path, a.seconds, a.trace,
                     os.path.join(work, "jvm.log"), budget)
        if rc != 0 or not os.path.exists(art_path):
            with open(os.path.join(work, "jvm.log")) as f:
                tail = f.read()[-3000:]
            print(tail, file=sys.stderr)
            raise SystemExit(f"run: harness JVM failed ({rc})")
        with open(art_path) as f:
            art = json.load(f)
        t_check = time.time()
        if a.workload == "tick":
            attempted, failed, warm_ok, checks = check_tick(art, plan, a.seed)
            named, timings = tick_metrics(art)
        else:
            attempted, failed, warm_ok, checks = check_ingest(art, plan)
            named, timings = ingest_metrics(art)
        named["success_rate"] = 1.0 - failed / max(1, attempted)
        named["error_rate"] = failed / max(1, attempted)
        correct = failed == 0 and warm_ok
        e2e = {slot: {"value": named[own], "unit": unit}
               for slot, own, unit in NAMES[a.workload]}
        if a.trace:
            layer_units = {m["name"]: m["unit"] for m in spec()["per_layer"]}
            metrics = {k: {"value": v, "unit": layer_units[k]}
                       for k, v in layer_metrics(art, plan).items()}
        else:
            metrics = e2e
        art.update({"seed": a.seed, "gen_s": gen_s, "checks": checks,
                    "check_s": time.time() - t_check,
                    "named": named, "timings": timings,
                    "end_to_end": e2e, "correct": correct,
                    "attempted": attempted, "failed": failed,
                    "wall_s": time.time() - t_start})
        if a.trace:
            art["per_layer"] = metrics
            art["self_s"] = self_times(art["spans"],
                                       art["setup"]["setup_s"])
            art["breakdown"] = breakdown(
                art, {k: v["value"] for k, v in metrics.items()})
        dest = a.artifact or os.path.join(
            build.build_dir(), "artifacts",
            f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        os.makedirs(os.path.dirname(os.path.abspath(dest)), exist_ok=True)
        with open(dest, "w") as f:
            # paths in the artifact are relative to the checkout
            f.write(json.dumps(art, indent=1, sort_keys=True).replace(
                os.path.dirname(HERE) + os.sep, ""))
        for k, unit in ([(own, unit) for _, own, unit in NAMES[a.workload]]
                        + PRINTED_ONLY[a.workload]):
            print(f"{a.workload} {k} = {named[k]} {unit}")
        for k, t in timings.items():
            print(f"{a.workload} {k}: n={t['n']} p50={t['p50']} "
                  f"p95={t['p95']} tail_p={t['tail_p']}")
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
