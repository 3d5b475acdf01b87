"""Runs the benchmark over several seeds and reports, per workload and
end-to-end metric, the median and the spread: the distance between the
first and third quartile (statistics.quantiles, n=4) over the median.

Run from the root of the repository, e.g.:

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/baseline/runs.json

Each metric's spread should stay below a third of its bound in
BENCHMARK.json (setup_s excepted) for the benchmark to be steady.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--out", help="write every run's result and the summary here")
    a = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs, summary = [], {}
    for w in a.workloads.split(","):
        results = []
        for seed in seeds_of(a.seeds):
            t0 = time.monotonic()
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                sys.exit(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            res = json.loads(lines[-1])
            detail = next((json.loads(x.split(" ", 1)[1]) for x in lines
                           if x.startswith("perfbench-detail ")), None)
            runs.append({"workload": w, "seed": seed, "run_s": time.monotonic() - t0,
                         "result": res, "detail": detail})
            results.append(res)
            print(f"{w} seed {seed}: {time.monotonic() - t0:.0f} s, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
            if a.out:
                write(a.out, {"summary": summary, "runs": runs})
        summary[w] = {}
        for m in results[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in results]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med
            summary[w][m] = {"median": med, "q1": q[0], "q3": q[2], "spread": spread,
                             "bound": bounds.get(m)}
            flag = ""
            if m in bounds and m != "setup_s" and spread > bounds[m] / 3:
                flag = "  <-- above a third of its bound"
            print(f"  {m:24s} median {med:12.4f}  spread {spread:.4f}{flag}", flush=True)
    if a.out:
        write(a.out, {"summary": summary, "runs": runs})


def write(path, doc):
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)


if __name__ == "__main__":
    main()
