#!/usr/bin/env python3
"""Steadiness report: run each workload on several seeds and print, per
end-to-end metric, the median, the quartiles and the spread (interquartile
range over median, as `statistics.quantiles(values, n=4)` gives them)
against the metric's bound in BENCHMARK.json.

    python3 graftbench/steadiness.py [--runs 10] [--first-seed 1] [workload ...]
    python3 graftbench/steadiness.py --compare <set1.json> <set2.json>

Runs are sequential, from the checkout root, with BENCHMARK.json's
`run_seconds`. Each set's values go to
`graftbench/out/steadiness-seed<first>.json`. A run that exits non-zero
or reports `"correct": false` is left out; failed requests of the others
are counted and printed. Exits 1 when a run is left out, a request failed,
or any spread, `setup_s`'s included, exceeds its bound.

`--compare` reads two such files and prints, per workload and metric, how
far the second set's median is worse than the first's, as a share of the
first; it exits 1 when that exceeds the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def compare(a_path, b_path, spec):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    ok = True
    print("| workload | metric | median 1 | median 2 | worse by | bound |")
    print("| --- | --- | --- | --- | --- | --- |")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        for w in a:
            if w not in b:
                continue
            m1, m2 = statistics.median(a[w][name]), statistics.median(b[w][name])
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            print(f"| `{w}` | `{name}` | {m1:.4g} | {m2:.4g} | {worse:+.3f} | {bound} |")
            ok = ok and worse <= bound
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--compare", nargs=2, metavar="SET_JSON")
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    spec = load_spec()
    if a.compare:
        sys.exit(0 if compare(*a.compare, spec) else 1)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    ok = True
    report = {}
    for w in workloads:
        values = {m: [] for m in bounds}
        walls = []
        failed = 0
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            with open(os.path.join(out, f"steadiness-{w}-seed{seed}.err"), "w") as f:
                f.write(p.stderr)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            r = json.loads(last) if last.startswith("{") else {}
            if p.returncode != 0 or not r.get("correct"):
                print(f"{w} seed {seed}: exit {p.returncode}, {last[:200]}", file=sys.stderr)
                ok = False
                continue
            failed += r["failed"]
            ok = ok and r["failed"] == 0
            for m in bounds:
                values[m].append(r["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + ", ".join(f"{m}={values[m][-1]:.4g}" for m in bounds)
                  + f", failed {r['failed']} of {r['attempted']} ({walls[-1]:.0f} s)", file=sys.stderr)
        report[w] = values
        print(f"\n{w}: {len(values['setup_s'])} runs, wall median {statistics.median(walls):.0f} s, "
              f"{failed} failed requests\n")
        print("| metric | median | Q1 | Q3 | spread | bound |")
        print("| --- | --- | --- | --- | --- | --- |")
        for m, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = " (over)" if spread > bounds[m] else ""
            print(f"| `{m}` | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f}{flag} | {bounds[m]} |")
            ok = ok and spread <= bounds[m]
    with open(os.path.join(out, f"steadiness-seed{a.first_seed}.json"), "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
