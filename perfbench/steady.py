"""Steadiness check: runs the benchmark several times per workload, each time
with another seed, and reports for every end-to-end metric its median,
quartiles and spread (interquartile range over median), judged against the
bound in BENCHMARK.json, `setup_s` included. With --sets 2 it runs a second
set of the same commit and reports whether the two medians agree: neither
may differ from the other by more than the bound, in either direction.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --runs 5 --workloads telemetry_sync
"""

import argparse
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def run_set(spec, workloads, runs, first_seed, seconds):
    out = {}
    for w in workloads:
        for seed in range(first_seed, first_seed + runs):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(seconds), "--trace", "0"]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
            line = r.stdout.decode().strip().splitlines()[-1] if r.returncode == 0 else ""
            res = json.loads(line) if line.startswith("{") else None
            if res is None or not res["correct"]:
                print("%s seed %d: failed (exit %d)" % (w, seed, r.returncode), file=sys.stderr)
                continue
            for name, m in res["metrics"].items():
                out.setdefault(w, {}).setdefault(name, []).append(m["value"])
            print("%s seed %d: %s" % (w, seed, json.dumps(
                {k: round(v["value"], 4) for k, v in res["metrics"].items()})), file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--first-seed", type=int, default=101)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    sets = [run_set(spec, workloads, args.runs, args.first_seed + i * 1000,
                    spec["run_seconds"]) for i in range(args.sets)]
    ok = True
    for w in workloads:
        for name, bound in bounds.items():
            cols = []
            for s in sets:
                vals = s.get(w, {}).get(name, [])
                if len(vals) < 2:
                    cols.append(None)
                    ok = False
                    continue
                cols.append(spread(vals))
            line = "%-20s %-18s" % (w, name)
            for c in cols:
                if c is None:
                    line += "  too few runs"
                    continue
                q1, med, q3, rel = c
                steady = rel <= bound
                ok &= steady
                line += "  median %.4g [%.4g, %.4g] spread %.3f%s" % (
                    med, q1, q3, rel, "" if steady else " > bound")
            if len(cols) == 2 and None not in cols:
                shift = (cols[1][1] - cols[0][1]) / cols[0][1]
                agree = abs(shift) <= bound
                ok &= agree
                line += "  second/first %+.3f %s" % (shift, "agree" if agree else "DISAGREE")
            print(line + "  (bound %.2f)" % bound)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
