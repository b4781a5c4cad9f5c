#!/usr/bin/env python3
"""Paired A/B of two checkouts on one perfbench workload.

Runs `python3 perfbench/run.py --workload W --seed S --seconds N --trace 0`
in a parent checkout and in a change checkout for every seed, alternating
which side runs first (the parent first on even-indexed seeds), and prints
per end-to-end metric of BENCHMARK.json:

  - each side's median and quartiles,
  - the change's wins over the pairs (ties count for neither side),
  - whether the change's median is worse than the parent's by more than
    the metric's bound,
  - whether the gain rule holds: the change wins at least nine tenths of
    the pairs and the medians differ by more than the parent's
    interquartile range,

plus `failed`/`attempted` and the correctness flag summed per side.

    python3 tools/perfbench_ab.py --parent ../parent --change . \\
        --workload wal_live --seeds 301-310 --log ab_wal_live.jsonl

Every finished run is appended to `--log` as one JSON line, so an
interrupted series can be summarized (`--summarize-only`) or continued:
runs already in the log are not repeated. Standard library only.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds.extend(range(int(lo), int(hi) + 1))
        elif part:
            seeds.append(int(part))
    return seeds


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    res = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL, text=True)
    lines = [ln for ln in res.stdout.splitlines() if ln.strip()]
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        out = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    out["exit"] = res.returncode
    out["wall_s"] = round(time.time() - t0, 1)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (math.nan, math.nan)
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def value(result, name):
    m = result["metrics"].get(name)
    return m["value"] if isinstance(m, dict) else m


def summarize(spec, records, workload):
    pairs = {}
    for r in records:
        if r["workload"] == workload:
            pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
    seeds = sorted(s for s, p in pairs.items() if "parent" in p and "change" in p)
    n = len(seeds)
    print(f"{workload}: {n} complete pairs, seeds {seeds}")
    if n == 0:
        return
    need = math.ceil(0.9 * n)
    def cell(med, q):
        return f"{med:.4g} [{q[0]:.4g}, {q[1]:.4g}]"
    print(f"{'metric':<15} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30}"
          f" {'delta':>7} {'wins':>6}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [value(pairs[s]["parent"], name) for s in seeds]
        chg = [value(pairs[s]["change"], name) for s in seeds]
        if any(v is None for v in par + chg):
            print(f"{name:<15} missing on some run")
            continue
        wins = sum(1 for p, c in zip(par, chg) if (c < p if lower else c > p))
        pm, cm = statistics.median(par), statistics.median(chg)
        pq, cq = quartiles(par), quartiles(chg)
        delta = (cm - pm) / pm if pm else math.nan
        worse = delta > m["bound"] if lower else -delta > m["bound"]
        better = cm < pm if lower else cm > pm
        gain = better and wins >= need and abs(cm - pm) > (pq[1] - pq[0])
        verdict = ("OUT OF BOUND" if worse else "in bound") + \
                  ("; gain rule holds" if gain else "")
        print(f"{name:<15} {cell(pm, pq):<30} {cell(cm, cq):<30}"
              f" {delta:>+7.1%} {f'{wins}/{n}':>6}  {verdict}")
    for side in ("parent", "change"):
        rs = [pairs[s][side] for s in seeds]
        print(f"{side}: failed {sum(r.get('failed', 0) for r in rs)}/"
              f"{sum(r.get('attempted', 0) for r in rs)}, "
              f"correct {sum(1 for r in rs if r.get('correct'))}/{n}, "
              f"nonzero exits {sum(1 for r in rs if r.get('exit'))}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout directory")
    ap.add_argument("--change", required=True, help="change checkout directory")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 301-310 or 301,305,307")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--log", required=True, help="JSON-lines file of finished runs")
    ap.add_argument("--summarize-only", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    records = []
    if os.path.exists(a.log):
        with open(a.log) as f:
            records = [json.loads(ln) for ln in f if ln.strip()]
    done = {(r["workload"], r["seed"], r["side"]) for r in records}
    sides = {"parent": a.parent, "change": a.change}
    seeds = parse_seeds(a.seeds)
    if not a.summarize_only:
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                if (a.workload, seed, side) in done:
                    continue
                result = run_one(sides[side], a.workload, seed, seconds)
                rec = {"workload": a.workload, "seed": seed, "side": side,
                       "first": order[0], "result": result}
                records.append(rec)
                with open(a.log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"{a.workload} seed {seed} {side}: exit {result['exit']}, "
                      f"{result['wall_s']} s, {json.dumps(result.get('metrics', {}))}",
                      file=sys.stderr, flush=True)
    summarize(spec, [r for r in records if r["seed"] in set(seeds)], a.workload)


if __name__ == "__main__":
    main()
