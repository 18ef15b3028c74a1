#!/usr/bin/env python3
"""Steadiness and tracing-overhead runs of the benchmark.

    python3 perfbench/steady.py run --out FILE [--seeds 1-10] [--trace 1] [WORKLOAD ...]
    python3 perfbench/steady.py report FILE [FILE ...]

`run` calls perfbench/run.py once per workload and seed and stores every
metric of every run (the end-to-end ones also on traced runs) in FILE.
`report` prints, per workload and end-to-end metric, the median and the
spread (third minus first quartile, over the median, as
`statistics.quantiles(values, n=4)` gives them) of each file, and the
change of each file's median from the first file's median over the same
seeds (over all of the first file's runs when they share none); for a
file of traced runs that change is the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(a):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    runs = []
    for w in workloads:
        for s in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = json.loads(p.stdout.strip().splitlines()[-1])
            with open(os.path.join(HERE, ".work", w, "result.json")) as f:
                full = json.load(f)
            runs.append({"workload": w, "seed": s, "exit": p.returncode,
                         "correct": last["correct"], "attempted": last["attempted"],
                         "failed": last["failed"], **full})
            print(f"{w} seed {s}: exit {p.returncode} correct {last['correct']}", file=sys.stderr)
            with open(a.out, "w") as f:
                json.dump({"trace": a.trace, "runs": runs}, f, indent=1)


def summary(path, seeds=None):
    """(traced, {(workload, metric): (median, spread, n)}, seeds) of one
    file, over the runs of `seeds` only when given."""
    with open(path) as f:
        d = json.load(f)
    out = {}
    for r in d["runs"]:
        if seeds is not None and r["seed"] not in seeds:
            continue
        for k, m in r["e2e"].items():
            out.setdefault((r["workload"], k), []).append(m["value"])
    stats = {}
    for key, vs in out.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        stats[key] = (statistics.median(vs), (q3 - q1) / statistics.median(vs), len(vs))
    return d["trace"], stats, {r["seed"] for r in d["runs"]}


def report(a):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    first = a.files[0]
    sets = [(p, *summary(p)) for p in a.files]
    base = sets[0][2]
    for key in sorted(base):
        w, m = key
        cells = []
        for path, traced, st, seeds in sets:
            if key not in st:
                continue
            med, spread, n = st[key]
            # against the first file's runs of the same seeds, or all of
            # them when the two files share no seed
            same = summary(first, seeds)[1]
            drift = med / same.get(key, base[key])[0] - 1
            name = os.path.basename(path) + (" [traced]" if traced else "")
            cells.append(f"{name}: median {med:.6g} spread {spread:.3f} (n={n}) "
                         f"vs first {drift:+.3f}")
        print(f"{w:7s} {m:26s} bound {bounds.get(m, 0):.2f} | " + " | ".join(cells))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("workloads", nargs="*")
    p = sub.add_parser("report")
    p.add_argument("files", nargs="+")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else report(a)


if __name__ == "__main__":
    main()
