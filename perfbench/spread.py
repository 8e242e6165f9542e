"""Run-to-run spread of the end-to-end metrics, from the result records that
run.py leaves in .bench_build/results:

    python3 perfbench/spread.py <workload> [seed,seed,...]

For each metric it prints the median over the untraced runs and the distance
between the first and third quartile as a share of the median (the figure each
metric's bound in BENCHMARK.json is compared with), plus attempted/failed.
Records of different core counts are never pooled.
"""
import glob
import json
import statistics
import sys


def main():
    workload = sys.argv[1]
    seeds = set(int(s) for s in sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    with open("BENCHMARK.json") as f:
        names = [m["name"] for m in json.load(f)["end_to_end"]]
    runs = {}
    for p in sorted(glob.glob(f".bench_build/results/{workload}-s*-t0-*.json")):
        with open(p) as f:
            r = json.load(f)
        if seeds is None or r["seed"] in seeds:
            runs.setdefault(r["env"]["cores"], []).append(r)
    for cores, rs in sorted(runs.items()):
        print(f"{workload} cores={cores} runs={len(rs)} attempted={sum(r['attempted'] for r in rs)} "
              f"failed={sum(r['failed'] for r in rs)} seeds={sorted(r['seed'] for r in rs)}")
        for n in names:
            v = [r["metrics"][n] for r in rs]
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
            print(f"  {n:14s} median {med:12.4f}  spread {(q3 - q1) / med:.3f}  "
                  f"min {min(v):.4f}  max {max(v):.4f}")


if __name__ == "__main__":
    main()
