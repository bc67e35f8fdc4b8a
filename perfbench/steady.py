"""Steadiness check: two sets of runs of the same code, compared.

    python3 perfbench/steady.py --runs 10

Run from the root of a checkout. Each set runs every workload of
BENCHMARK.json once per seed (set A: seeds 1..runs, set B: the next
``runs`` seeds), each run measuring BENCHMARK.json's ``run_seconds``.
Per workload and end-to-end metric it prints each set's median and
quartiles, the spread (interquartile distance over the median) and
whether the sets agree: set B's median is no worse than set A's by
more than the metric's bound, and each spread stays within that
bound. Spreads above a third of the
bound are marked: a gain smaller than the spread cannot be shown. Every run's nproc
and single-thread md5 throughput are printed beside it, so a slow host
window shows. Results are also written to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    out = proc.stdout.strip().splitlines()
    host = next((ln for ln in out if ln.startswith("host ")), "")
    res = json.loads(out[-1]) if out and out[-1].startswith("{") else None
    return {"seed": seed, "exit": proc.returncode, "host": host,
            "result": res}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", action="append",
                   help="limit to these workloads (repeatable)")
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = args.workload or [w["name"] for w in bench["workloads"]]
    sets = {"A": range(1, args.runs + 1),
            "B": range(args.runs + 1, 2 * args.runs + 1)}
    runs = {}
    ok = True
    for wl in names:
        for tag, seeds in sets.items():
            runs[(wl, tag)] = []
            for s in seeds:
                r = run_once(bench["command"], wl, s, seconds)
                runs[(wl, tag)].append(r)
                good = r["exit"] == 0 and r["result"] and r["result"]["correct"]
                ok &= bool(good)
                print(f"{wl} set {tag} seed {s}: exit {r['exit']} "
                      f"{r['host']}", flush=True)
        for m in bench["end_to_end"]:
            line, meds = [], {}
            for tag in sets:
                vals = [r["result"]["metrics"][m["name"]]["value"]
                        for r in runs[(wl, tag)] if r["result"]]
                med, q1, q3, sp = spread(vals)
                meds[tag] = med
                within = sp <= m["bound"]
                ok &= within
                mark = ("" if sp <= m["bound"] / 3 else
                        " (above bound/3)" if within else " (ABOVE BOUND)")
                line.append(f"{tag}: med {med:.6g} q1 {q1:.6g} q3 {q3:.6g} "
                            f"spread {sp:.3f}{mark}")
            worse = (meds["B"] - meds["A"]) / meds["A"]
            if m["better"] == "higher":
                worse = -worse
            agree = worse <= m["bound"]
            ok &= agree
            print(f"  {wl}.{m['name']} [{m['unit']}] bound {m['bound']}: "
                  + " | ".join(line)
                  + f" | B vs A {worse:+.3f} {'agree' if agree else 'DISAGREE'}",
                  flush=True)
    os.makedirs(".perfbench_out", exist_ok=True)
    path = os.path.join(".perfbench_out",
                        f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump({f"{wl}/{tag}": rs for (wl, tag), rs in runs.items()},
                  f, indent=1)
    print(f"{'AGREE' if ok else 'DISAGREE'}; runs written to {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
