"""Repeat runs of one workload over several seeds and judge them.

    # run seeds 1..10 untraced, keep every artifact, print the spreads
    python3 perfbench/agree.py run --workload tick --seeds 1-10 --out DIR
    # the same with tracing on (its end-to-end figures give the overhead)
    python3 perfbench/agree.py run --workload tick --seeds 1-10 --trace 1 \
        --out DIR
    # two sets of runs of the same code must agree within the bounds
    python3 perfbench/agree.py compare DIR_A DIR_B --workload tick
    # a set's per-metric values, median and spread as JSON
    python3 perfbench/agree.py summary DIR --workload tick
    # tracing overhead: traced minus untraced median of each metric
    python3 perfbench/agree.py overhead DIR DIR_TRACED --workload tick

A set is the directory of run artifacts that `run` wrote. The spread of a
metric is the inter-quartile distance of its per-run values as a share of
their median (statistics.quantiles(values, n=4)); `compare` also checks
that the second set's median is not worse than the first's by more than
the metric's bound in BENCHMARK.json.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# nothing under the source tree is written, not even __pycache__
sys.dont_write_bytecode = True

import stats  # noqa: E402
from run import spec  # noqa: E402


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def load(d, workload, trace):
    """metric -> per-run values of the set's end-to-end metrics."""
    vals = {}
    runs = sorted(glob.glob(os.path.join(d, f"{workload}-s*-t{trace}.json")))
    for p in runs:
        with open(p) as f:
            art = json.load(f)
        for k, v in art["end_to_end"].items():
            # a run whose operations all failed has no timing to add
            if v["value"] is not None:
                vals.setdefault(k, []).append(v["value"])
    return vals, len(runs)


def report(vals, n, title):
    print(f"{title}: {n} runs")
    for m in spec()["end_to_end"]:
        xs = vals.get(m["name"], [])
        if len(xs) < 2:
            print(f"  {m['name']:14s} (fewer than 2 runs)")
            continue
        s = stats.spread(xs)
        flag = ("ok" if s < m["bound"] / 3 else
                "WIDE" if s <= m["bound"] else "OVER")
        print(f"  {m['name']:14s} median={stats.median(xs):12.6g} "
              f"spread={s:7.4f} bound={m['bound']:.2f} {flag}")


def cmd_run(a):
    os.makedirs(a.out, exist_ok=True)
    secs = str(spec()["run_seconds"] if a.seconds is None else a.seconds)
    for s in seeds(a.seeds):
        dest = os.path.join(os.path.abspath(a.out),
                            f"{a.workload}-s{s}-t{a.trace}.json")
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds", secs, "--trace",
             str(a.trace), "--artifact", dest],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        last = (r.stdout.strip().splitlines() or ["?"])[-1]
        print(f"seed {s}: rc={r.returncode} {last[:160]}", flush=True)
        if r.returncode != 0:
            print(r.stderr[-2000:], file=sys.stderr)
    report(*load(a.out, a.workload, a.trace), f"{a.workload} trace={a.trace}")


def cmd_compare(a):
    first, n1 = load(a.first, a.workload, a.trace)
    second, n2 = load(a.second, a.workload, a.trace)
    report(first, n1, "first")
    report(second, n2, "second")
    ok_all = True
    for name, s1, s2, w, ok in stats.agreement(first, second,
                                                spec()["end_to_end"]):
        ok_all &= ok
        print(f"  {name:14s} spread1={s1} spread2={s2} worse_by={w} "
              f"{'ok' if ok else 'FAIL'}")
    sys.exit(0 if ok_all else 1)


def cmd_summary(a):
    vals, n = load(a.dir, a.workload, a.trace)
    out = {}
    for m in spec()["end_to_end"]:
        xs = vals.get(m["name"], [])
        out[m["name"]] = {"values": xs, "median": stats.median(xs),
                          "spread": stats.spread(xs) if len(xs) > 1 else None,
                          "bound": m["bound"]}
    print(json.dumps({a.workload: {"runs": n, "metrics": out}}, indent=1))


def cmd_overhead(a):
    off, _ = load(a.untraced, a.workload, 0)
    on, _ = load(a.traced, a.workload, 1)
    out = {}
    for m in spec()["end_to_end"]:
        k = m["name"]
        if off.get(k) and on.get(k):
            u, t = stats.median(off[k]), stats.median(on[k])
            out[k] = {"untraced": u, "traced": t, "traced_minus_untraced":
                      t - u, "share": (t - u) / u if u else None,
                      "runs": [len(off[k]), len(on[k])]}
    print(json.dumps({a.workload: out}, indent=1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--seconds", type=float)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    c.add_argument("--workload", required=True)
    c.add_argument("--trace", type=int, default=0)
    m = sub.add_parser("summary")
    m.add_argument("dir")
    m.add_argument("--workload", required=True)
    m.add_argument("--trace", type=int, default=0)
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    o.add_argument("--workload", required=True)
    a = ap.parse_args()
    {"run": cmd_run, "compare": cmd_compare, "summary": cmd_summary,
     "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    main()
