"""Steadiness helper: run one workload k times and print, for every
end-to-end metric, its median and quartile spread.

    python3 perfbench/steady.py --workload etl_ticks --seed 1 --k 5
    python3 perfbench/steady.py --workload etl_ticks --seeds 1,2,3,4,5,6,7,8,9,10

Run from the root of a graft checkout. `--seed` with `--k` repeats one
seed; `--seeds` gives each run its own seed. The spread is
(Q3 - Q1) / median with the quartiles of `statistics.quantiles(n=4)`; it is
shown next to the metric's bound from BENCHMARK.json and a third of it.
`--trace-runs n` adds n traced runs and prints the tracing overhead: the
traced cycle time against the untraced runs' median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    try:
        res = json.loads(last)
    except ValueError:
        res = {}
    return p.returncode, res


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--seeds", help="comma-separated seeds, one run each")
    ap.add_argument("--trace-runs", type=int, default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = [int(s) for s in a.seeds.split(",")] if a.seeds else [a.seed] * a.k
    values = {}
    for seed in seeds:
        rc, res = run(a.workload, seed, bench["run_seconds"], 0)
        print(f"seed {seed}: rc={rc} correct={res.get('correct')} "
              f"failed={res.get('failed')}/{res.get('attempted')}", flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{a.workload}: {len(seeds)} runs")
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}{'bound/3':>9}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else ("  above bound/3" if spread <= b else "  ABOVE BOUND")
        print(f"{k:<16}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{b:>7}{b / 3:>9.3f}{flag}")
    if a.trace_runs:
        cycles = []
        for i in range(a.trace_runs):
            rc, res = run(a.workload, seeds[i % len(seeds)], bench["run_seconds"], 1)
            if "trace.cycle_s" in res.get("metrics", {}):
                cycles.append(res["metrics"]["trace.cycle_s"]["value"])
        if cycles and "cycle_p50_s" in values:
            base = statistics.median(values["cycle_p50_s"])
            t = statistics.median(cycles)
            print(f"\ntracing overhead: traced cycle {t:.3f} s vs untraced {base:.3f} s "
                  f"= {t - base:+.3f} s ({(t / base - 1) * 100:+.1f} %)")


if __name__ == "__main__":
    main()
