#!/usr/bin/env python3
"""Paired A/B runs of perfbench: a parent tree against a change tree.

Usage:

    python3 tools/ab_pairs.py <parentTree> <changeTree> --workload W --pairs N
        [--trace 0|1] [--seconds 15] [--seed0 1001] [--json FILE]

Pair i runs both trees' own, unchanged `perfbench/run.py` on seed
seed0 + i - 1, each tree with its own build directory (`CARGO_TARGET_DIR`
= `<tree>/.bench_build`). Odd pairs run the parent first, even pairs the
change first, so a drift in machine load falls on both sides alike.
`/proc/loadavg` and `/proc/pressure/cpu` are recorded before and after
each run.

For each metric the report prints the parent's median [Q1, Q3], the
change's median, the median of the per-pair ratios change/parent with their
range, and how many pairs the change won (by the metric's `better`
direction in the change tree's `BENCHMARK.json`). The call is:

- `unresolved` when the parent's IQR/median exceeds the metric's
  `BENCHMARK.json` bound: the runs spread too widely to tell;
- `better` or `worse` when at least 90 % of the pairs move that way and
  the medians differ by more than the parent's IQR;
- `same` otherwise.

Metrics that read 0 in every run are left out. A run whose result is not
`correct` or has `failed` > 0 is listed. `--json` writes every run's record
(seed, side, order, load, metrics) and the report to FILE. Exits 1 when a
run fails to produce a result, else 0.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def read(path):
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def load():
    """The machine's load around a run: loadavg and CPU pressure."""
    psi = read("/proc/pressure/cpu")
    some = psi.splitlines()[0] if psi else None
    return {"loadavg": read("/proc/loadavg"), "cpu_pressure_some": some}


def run(tree, workload, seed, seconds, trace):
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(tree, ".bench_build"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    before, t0 = load(), time.monotonic()
    p = subprocess.run(cmd, cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    rec = {"wall_s": round(time.monotonic() - t0, 1), "load_before": before, "load_after": load()}
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        rec["error"] = (p.stderr.strip().splitlines() or ["no output"])[-1]
        return rec
    res = json.loads(lines[-1])
    rec.update(correct=res["correct"], attempted=res["attempted"], failed=res["failed"],
               metrics={k: v["value"] for k, v in res["metrics"].items()})
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(runs, bench, pairs):
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = [p for p in pairs if "metrics" in runs[p]["parent"] and "metrics" in runs[p]["change"]]
    names = sorted({k for p in ok for side in ("parent", "change") for k in runs[p][side]["metrics"]},
                   key=lambda k: (k not in bound, k))
    rows = []
    for name in names:
        a = [runs[p]["parent"]["metrics"].get(name, 0.0) for p in ok]
        b = [runs[p]["change"]["metrics"].get(name, 0.0) for p in ok]
        if not any(a) and not any(b):
            continue
        up = better.get(name, "lower") == "higher"
        ma, mb = statistics.median(a), statistics.median(b)
        q1, q3 = quartiles(a)
        iqr = q3 - q1
        ratios = [y / x for x, y in zip(a, b) if x]
        won = sum((y > x) if up else (y < x) for x, y in zip(a, b))
        lost = sum((y < x) if up else (y > x) for x, y in zip(a, b))
        need = math.ceil(0.9 * len(ok))
        if name in bound and ma and iqr / abs(ma) > bound[name]:
            call = "unresolved"
        elif won >= need and abs(mb - ma) > iqr:
            call = "better"
        elif lost >= need and abs(mb - ma) > iqr:
            call = "worse"
        else:
            call = "same"
        rows.append({"metric": name, "better": "higher" if up else "lower",
                     "bound": bound.get(name), "parent_median": ma, "parent_q1": q1,
                     "parent_q3": q3, "change_median": mb,
                     "ratio_median": statistics.median(ratios) if ratios else None,
                     "ratio_min": min(ratios) if ratios else None,
                     "ratio_max": max(ratios) if ratios else None,
                     "won": won, "pairs": len(ok), "call": call})
    return rows


def fmt(x):
    if x is None:
        return "-"
    return f"{x:.4g}" if abs(x) < 1e5 else f"{x:.4e}"


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.strip().split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--seed0", type=int, default=1001)
    ap.add_argument("--json")
    a = ap.parse_args(argv)
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    runs, pairs, bad = {}, list(range(1, a.pairs + 1)), []
    for p in pairs:
        seed = a.seed0 + p - 1
        order = ("parent", "change") if p % 2 else ("change", "parent")
        runs[p] = {"seed": seed, "order": list(order)}
        for side in order:
            rec = run(trees[side], a.workload, seed, a.seconds, a.trace)
            runs[p][side] = rec
            status = rec.get("error") or (
                f"correct={rec['correct']} failed={rec['failed']}/{rec['attempted']}")
            print(f"pair {p} seed {seed} {side:6s} {rec['wall_s']:6.1f}s {status} | "
                  f"load {rec['load_before']['loadavg']} -> {rec['load_after']['loadavg']} | "
                  f"{rec['load_after']['cpu_pressure_some']}", flush=True)
            if "error" in rec or not rec["correct"] or rec["failed"]:
                bad.append(f"pair {p} {side}: {status}")

    rows = report(runs, bench, pairs)
    print(f"\n{a.workload}, {len(pairs)} pairs, trace {a.trace}: parent {trees['parent']} "
          f"vs change {trees['change']}")
    print(f"{'metric':32s} {'parent median [Q1, Q3]':>32s} {'change':>10s} "
          f"{'ratio [min, max]':>26s} {'won':>6s}  call")
    for r in rows:
        par = f"{fmt(r['parent_median'])} [{fmt(r['parent_q1'])}, {fmt(r['parent_q3'])}]"
        rat = f"{fmt(r['ratio_median'])} [{fmt(r['ratio_min'])}, {fmt(r['ratio_max'])}]"
        print(f"{r['metric']:32s} {par:>32s} {fmt(r['change_median']):>10s} {rat:>26s} "
              f"{r['won']:>2d}/{r['pairs']:<3d}  {r['call']}")
    print(f"runs with an error, a failed check or failed operations: {len(bad)}")
    for line in bad:
        print(f"  {line}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"workload": a.workload, "trace": a.trace, "trees": trees,
                       "runs": runs, "report": rows}, fh, indent=1)
    return 1 if any("error" in runs[p][side] for p in pairs for side in trees) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
