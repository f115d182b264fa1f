"""Run-to-run spread of the end-to-end metrics, the way the bounds in
BENCHMARK.json are set and checked: the benchmark runs once per seed,
and each metric's spread is the distance between the first and the third
quartile of its values (`statistics.quantiles(values, n=4)`) as a share
of their median.

    python3 perfbench/spread.py --workload lakehouse_cdc --seeds 1-10 [--seconds 20]

Run from the root of the repository. Prints one JSON line per run, then
per metric its median, spread and bound, and appends everything to
`perfbench/.work/spread.jsonl`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float)
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    values = {m["name"]: [] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    log = open(os.path.join(BENCH, ".work", "spread.jsonl"), "a")
    for seed in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        t0 = time.time()
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}", file=sys.stderr)
            continue
        out = json.loads(lines[-1])
        row = {"workload": a.workload, "seed": seed, "wall_s": round(wall, 1),
               **{k: v["value"] for k, v in out["metrics"].items()}}
        print(json.dumps(row), flush=True)
        log.write(json.dumps(row) + "\n")
        for k, v in out["metrics"].items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / statistics.median(v)
        print(f"{m['name']:14s} median {statistics.median(v):10.4f} spread {spread:6.3f} "
              f"bound {m['bound']:.3f} {'ok' if spread < m['bound'] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
