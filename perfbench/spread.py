"""Runs the benchmark on several seeds and reports, per workload and
end-to-end metric, the median and quartiles across runs and their
spread: (q3 - q1) / median, as statistics.quantiles(values, n=4) gives
the quartiles. A spread must stay below a third of the metric's bound.

    python3 perfbench/spread.py --seeds 1-10
    python3 perfbench/spread.py --workloads pg_backfill_sql --seeds 1-5
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in args.workloads.split(","):
        values, busy = {}, 0
        for seed in args.seeds:
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(here, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(args.seconds),
                                "--trace", "0"], capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{r.stderr[-3000:]}")
            out = json.loads(r.stdout.strip().splitlines()[-1])
            busy += "busy host" in r.stderr
            if not out["correct"]:
                print(f"{w} seed {seed}: incorrect output", file=sys.stderr)
            for k, v in out["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {time.time() - t0:.0f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
                  file=sys.stderr)
        report[w] = {"busy_runs": busy, "metrics": {}}
        for k, vs in values.items():
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / q2
            report[w]["metrics"][k] = {
                "n": len(vs), "median": q2, "q1": q1, "q3": q3, "spread": spread,
                "bound": bounds[k], "steady": spread < bounds[k] / 3}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
