#!/usr/bin/env python3
"""Repeat-runner: run the benchmark once per seed and report, per metric,
the median, the quartiles and the spread (q3 - q1) / median against the
metric's bound in BENCHMARK.json.

    python3 perfbench/repeat.py --workload lake_read --seeds 1-10 --seconds 10

A spread below a third of its bound is marked `steady`; below the bound
`ok`; otherwise `WIDE`. `setup_s` is reported but carries no spread limit.
"""
import argparse
import json
import os
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in
              bench["end_to_end" if a.trace == 0 else "per_layer"]}
    all_ok = True
    for wl in a.workload:
        runs = []
        for seed in seeds(a.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print("%s seed %d: exit %d\n%s" % (wl, seed, p.returncode, p.stderr[-2000:]))
                all_ok = False
                continue
            r = json.loads(last)
            runs.append(r)
            print("%s seed %d: correct=%s attempted=%d failed=%d %s" % (
                wl, seed, r["correct"], r["attempted"], r["failed"],
                " ".join("%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())),
                flush=True)
            all_ok &= r["correct"]
        out = os.path.join(ROOT, ".bench_build", "perfbench", "repeat-%s-t%d.json" % (wl, a.trace))
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(runs, f)
        if len(runs) < 2:
            continue
        print("%-32s %12s %12s %12s %8s %6s" % (wl, "q1", "median", "q3", "spread", "bound"))
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3, sp = stats.spread(vals)
            bound = bounds.get(name)
            mark = ""
            if bound and name != "setup_s":
                mark = "steady" if sp < bound / 3 else "ok" if sp < bound else "WIDE"
                all_ok &= sp < bound
            print("%-32s %12.5g %12.5g %12.5g %8.4f %6s %s" % (
                name, q1, med, q3, sp, bound if bound is not None else "-", mark))
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
