#!/usr/bin/env python3
"""Summarise a traced contract pass and pick the `contract` key subset.

    python3 perfbench/contract_summary.py perfbench/records/contract_sf0.1.jsonl \
        > perfbench/records/contract_summary.json

Input: the per-key layer records written by
`python3 perfbench/run.py --contract SF_DIR --out FILE` (one JSON object per
key and pass). Output (JSON on stdout):
  - per pass: total time, time in query bodies, keys that run Spark jobs
    before returning their DataFrame, keys with exactly one such job, and
    how many of those body jobs are parquet schema reads by call site
    (`parquet at ...`), plus planning time and execution counters;
  - the sub-1 s keys of the warm pass: count, sum, median and its split;
  - `subset`: a fixed key list in which every QueryModule has a key, each
    of IndexRoute, FuseJaccard and AsOfStrategy fires in some key, every
    `pipeline_*` key is present, and the share of sub-1 s keys (warm pass)
    matches the full contract's.
"""
import json
import math
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def is_schema(site):
    return site.startswith("parquet at")


def pass_summary(rs):
    body_job_keys = [r for r in rs if r["body_jobs"] > 0]
    one = [r for r in rs if r["body_jobs"] == 1]
    one_schema = [r for r in one if all(is_schema(s) for s in r["body_job_sites"])]
    sites = {}
    for r in rs:
        for s, n in r["body_job_sites"].items():
            site = s.split(" at ")[0] + " at " + s.split(" at ")[-1].split(":")[0]
            sites[site] = sites.get(site, 0) + n
    total = sum(r["total_s"] for r in rs)
    body = sum(r["body_s"] for r in rs)
    return {
        "keys": len(rs),
        "failed": [r["key"] for r in rs if not r["ok"]],
        "total_s": round(total, 3),
        "body_s": round(body, 3),
        "body_share": round(body / total, 4),
        "keys_with_body_jobs": len(body_job_keys),
        "keys_with_exactly_one_body_job": len(one),
        "of_which_the_job_is_a_schema_read": len(one_schema),
        "body_jobs": sum(r["body_jobs"] for r in rs),
        "body_schema_jobs": sum(r["body_schema_jobs"] for r in rs),
        "keys_with_schema_jobs": sum(1 for r in rs if r["body_schema_jobs"] > 0),
        "body_job_sites_top": dict(sorted(sites.items(), key=lambda kv: -kv[1])[:12]),
        "plan_optimizer_plus_physical_s": round(
            sum(r["plan_optimizer_ms"] + r["plan_physical_ms"] for r in rs) / 1e3, 3),
        "plan_analysis_s": round(sum(r["plan_analysis_ms"] for r in rs) / 1e3, 3),
        "run_jobs": sum(r["run_jobs"] for r in rs),
        "all_jobs": sum(r["run_jobs"] + r["body_jobs"] for r in rs),
        "run_tasks": sum(r["run_tasks"] for r in rs),
        "run_shuffle_write_bytes": sum(r["run_shuffle_write_bytes"] for r in rs),
        "run_spill_bytes": sum(r["run_spill_bytes"] for r in rs),
        "task_gc_s": round(sum(r["gc_ms"] for r in rs) / 1e3, 3),
    }


def fast_summary(rs):
    fast = [r for r in rs if r["total_s"] < 1.0]
    return {
        "sub_1s_keys": len(fast),
        "sum_s": round(sum(r["total_s"] for r in fast), 3),
        "median_s": round(statistics.median(r["total_s"] for r in fast), 3),
        "median_body_s": round(statistics.median(r["body_s"] for r in fast), 3),
        "median_run_s": round(statistics.median(r["run_s"] for r in fast), 3),
        "mean_jobs": round(statistics.mean(r["body_jobs"] + r["run_jobs"] for r in fast), 2),
    }


def subset(rs):
    """Deterministic pick: mandatory keys first, then module round-robin
    fill until the sub-1 s share matches the full contract's."""
    by_key = {r["key"]: r for r in rs}
    fast = {k for k, r in by_key.items() if r["total_s"] < 1.0}
    target = len(fast) / len(by_key)
    chosen = {k for k in by_key if k.startswith("pipeline_")}
    for flag in ("fired_IndexRoute", "fired_FuseJaccard", "fired_AsOfStrategy"):
        hits = sorted((r["total_s"], k) for k, r in by_key.items() if r[flag])
        if hits and not any(by_key[k][flag] for k in chosen):
            chosen.add(hits[0][1])
    modules = sorted({r["module"] for r in rs})
    for m in modules:
        if not any(by_key[k]["module"] == m for k in chosen):
            # the module's median-time key: typical of it, not its extreme
            ks = sorted((r["total_s"], k) for k, r in by_key.items() if r["module"] == m)
            chosen.add(ks[len(ks) // 2][1])
    f = sum(1 for k in chosen if k in fast)
    s = len(chosen) - f
    if f / len(chosen) < target:
        need_f, need_s = math.ceil(target * s / (1 - target)), s
    else:
        need_f, need_s = f, math.ceil(f * (1 - target) / target)
    pools = {m: sorted(k for k, r in by_key.items() if r["module"] == m and k not in chosen)
             for m in modules}
    i = 0
    while f < need_f or s < need_s:
        m = modules[i % len(modules)]
        i += 1
        want_fast = f < need_f
        pick = next((k for k in pools[m] if (k in fast) == want_fast), None)
        if pick is None:
            if i > 50 * len(modules):
                break
            continue
        pools[m].remove(pick)
        chosen.add(pick)
        f, s = (f + 1, s) if want_fast else (f, s + 1)
    keys = sorted(chosen)
    return {
        "keys": keys,
        "size": len(keys),
        "sub_1s_share": round(sum(1 for k in keys if k in fast) / len(keys), 4),
        "full_contract_sub_1s_share": round(target, 4),
        "modules_covered": len({by_key[k]["module"] for k in keys}),
        "modules_total": len(modules),
        "fires": {flag: [k for k in keys if by_key[k][flag]]
                  for flag in ("fired_IndexRoute", "fired_FuseJaccard", "fired_AsOfStrategy")},
        "warm_sum_s": round(sum(by_key[k]["total_s"] for k in keys), 3),
    }


def main():
    rs = load(sys.argv[1])
    passes = sorted({r["pass"] for r in rs})
    warm = [r for r in rs if r["pass"] == passes[-1]]
    out = {
        "source": sys.argv[1],
        "passes": {str(p): pass_summary([r for r in rs if r["pass"] == p]) for p in passes},
        "warm_sub_1s": fast_summary(warm),
        "fired_keys": {flag: sorted(r["key"] for r in warm if r[flag])
                       for flag in ("fired_IndexRoute", "fired_FuseJaccard", "fired_AsOfStrategy")},
        "subset": subset(warm),
    }
    json.dump(out, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
