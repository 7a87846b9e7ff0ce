#!/usr/bin/env python3
"""Two interleaved sets of benchmark runs, and how far they agree.

    python3 cdcbench/stability.py [--runs 10] [--workloads mor_serve,stream_append_mv]
                                  [--out cdcbench/results/stability.json]
    python3 cdcbench/stability.py --report cdcbench/results/stability.json

Runs the command of BENCHMARK.json `--runs` times per set and workload,
alternating set A (seeds 1..N) and set B (seeds 101..100+N) so that machine
drift falls on both sets alike. For every end-to-end metric it prints each
set's median and quartiles, the spread (interquartile distance over the
median) of each set and of both sets together, and the set-to-set difference
of the medians. The verdict holds each spread against the metric's bound
(`setup_s` excepted), the per-set ones only for sets of ten or more runs,
and the set-to-set difference against the bound. It also prints the share of failed operations per set and,
per run, the first-half and second-half medians of the batch and freshness
samples. `--report` prints the same tables from a saved results file.
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
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(spec, workload, seed, trace=0, seconds=None):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds or spec["run_seconds"]),
                             "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    info = next((json.loads(l)["info"] for l in lines if l.startswith('{"info"')), {})
    return {"workload": workload, "seed": seed, "wall_s": round(wall, 1), "info": info,
            "result": json.loads(lines[-1])}


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def worse(spec_metric, a, b):
    """How much worse b is than a, as a share of a (negative: better)."""
    d = (b - a) / a
    return d if spec_metric["better"] == "lower" else -d


def report(spec, runs):
    ok = True
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    for w in sorted({r["workload"] for r in runs}):
        print(f"\n### {w}\n")
        print("| metric | unit | set A q1 / median / q3 | set B q1 / median / q3 | "
              "spread A | spread B | spread A+B | B vs A | bound |")
        print("|---|---|---|---|---|---|---|---|---|")
        sets = {s: [r for r in runs if r["workload"] == w and r["set"] == s] for s in "AB"}
        for name, m in bounds.items():
            row = {}
            for s, rs in sets.items():
                vals = [r["result"]["metrics"][name]["value"] for r in rs]
                q1, med, q3 = quartiles(vals)
                row[s] = (q1, med, q3, (q3 - q1) / med)
            both = [r["result"]["metrics"][name]["value"] for rs in sets.values() for r in rs]
            q1, med, q3 = quartiles(both)
            pooled = (q3 - q1) / med
            diff = worse(m, row["A"][1], row["B"][1])
            checked = [pooled] + [row[s][3] for s in sets if len(sets[s]) >= 10]
            spread_ok = name == "setup_s" or max(checked) <= m["bound"]
            ok &= spread_ok and diff <= m["bound"]
            fmt = lambda t: f"{t[0]:.4g} / {t[1]:.4g} / {t[2]:.4g}"
            print(f"| {name} | {m['unit']} | {fmt(row['A'])} | {fmt(row['B'])} | "
                  f"{row['A'][3]:.3f} | {row['B'][3]:.3f} | {pooled:.3f} | {diff:+.3f} | {m['bound']} |")
        for s, rs in sets.items():
            att = sum(r["result"]["attempted"] for r in rs)
            fail = sum(r["result"]["failed"] for r in rs)
            shares = {r["result"]["failed"] / r["result"]["attempted"] for r in rs}
            print(f"\nset {s}: {len(rs)} runs, {att} operations attempted, {fail} failed, "
                  f"failed shares {sorted(shares)}")
        print("\nfirst-half / second-half medians within each run (batch_s, fresh_s):")
        for r in sets["A"] + sets["B"]:
            h = r["info"].get("halves", {})
            print(f"  {r['set']} seed {r['seed']:>3}: batch {h.get('batch_s_p50')} "
                  f"fresh {h.get('fresh_s_p50')} calibration_ms {r['info'].get('calibration_ms')}")
    print("\nverdict:", "every spread and set-to-set difference within its bound" if ok
          else "some spread or difference exceeds its bound")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--out", default=os.path.join(HERE, "results", "stability.json"))
    ap.add_argument("--report")
    args = ap.parse_args()
    spec = load_spec()
    if args.report:
        with open(args.report) as fh:
            runs = json.load(fh)["runs"]
        sys.exit(0 if report(spec, runs) else 1)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    runs = []
    for i in range(1, args.runs + 1):
        for w in workloads:
            for s, seed in (("A", i), ("B", 100 + i)) if i % 2 else (("B", 100 + i), ("A", i)):
                r = run_once(spec, w, seed)
                r["set"] = s
                runs.append(r)
                print(f"{s} {w} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items()), flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump({"run_seconds": spec["run_seconds"], "runs": runs}, fh, indent=1)
    sys.exit(0 if report(spec, runs) else 1)


if __name__ == "__main__":
    main()
