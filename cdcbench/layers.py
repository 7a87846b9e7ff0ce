#!/usr/bin/env python3
"""Traced runs and single-thread baselines of the benchmark.

    python3 cdcbench/layers.py [--seed 1] [--stability cdcbench/results/stability.json]
                               [--out cdcbench/results/layers.json]
    python3 cdcbench/layers.py --report cdcbench/results/layers.json

For each workload of BENCHMARK.json it makes one traced run (`--trace 1`) and
one untraced run on a single core (`--cores 1`), then prints the per-layer
medians, the share of batch wall time the layer spans cover, the share during
which no Spark job ran (the driver gap), and the tracing overhead: the traced
run's batch and freshness medians against the untraced medians of set A in
the stability results.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from stability import load_spec, run_once  # noqa: E402


def single_core(spec, workload, seed):
    cmd = ["python3", os.path.join("cdcbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0", "--cores", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def report(spec, data, stability):
    for w, d in data.items():
        traced = d["traced"]["result"]["metrics"]
        print(f"\n### {w} (seed {d['traced']['seed']})\n")
        print("| layer metric | unit | median |")
        print("|---|---|---|")
        for m in spec["per_layer"]:
            v = traced[m["name"]]
            print(f"| {m['name']} | {v['unit']} | {v['value']:.4g} |")
        if stability:
            base = [r for r in stability if r["workload"] == w and r["set"] == "A"]
            for traced_name, name in (("trace.batch_s_p50", "batch_s_p50"),
                                      ("trace.fresh_s_p50", "fresh_s_p50")):
                untraced = statistics.median(r["result"]["metrics"][name]["value"] for r in base)
                t = traced[traced_name]["value"]
                print(f"\ntracing overhead on {name}: traced {t:.4g} s vs untraced median "
                      f"{untraced:.4g} s ({(t - untraced) / untraced:+.1%})")
        print(f"\nsingle core (`--cores 1`): " + ", ".join(
            f"{k} {v['value']:.4g} {v['unit']}" for k, v in d["single_core"]["metrics"].items()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--stability", default=os.path.join(HERE, "results", "stability.json"))
    ap.add_argument("--out", default=os.path.join(HERE, "results", "layers.json"))
    ap.add_argument("--report")
    args = ap.parse_args()
    spec = load_spec()
    stability = None
    if os.path.exists(args.stability):
        with open(args.stability) as fh:
            stability = json.load(fh)["runs"]
    if args.report:
        with open(args.report) as fh:
            data = json.load(fh)
    else:
        data = {}
        for w in (x["name"] for x in spec["workloads"]):
            data[w] = {"traced": run_once(spec, w, args.seed, trace=1),
                       "single_core": single_core(spec, w, args.seed)}
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(data, fh, indent=1)
    report(spec, data, stability)


if __name__ == "__main__":
    main()
