"""Steadiness check: run every workload on N seeds and report, per
end-to-end metric, the median, the quartiles and the quartile spread as
a share of the median (the figure each metric's bound is set against).

    python3 perfbench/steady.py [--seeds 10] [--first-seed 100] [--workloads a,b]
                                [--out perfbench/steadiness.json]
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    report = {"run_seconds": bench["run_seconds"], "seeds": list(range(a.first_seed, a.first_seed + a.seeds)),
              "workloads": {}}
    for w in names:
        runs = []
        for seed in report["seeds"]:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if p.returncode != 0:
                sys.exit("%s seed %d failed with exit code %d" % (w, seed, p.returncode))
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res["wall_s"] = round(time.time() - t0, 1)
            runs.append(res)
            print(w, seed, res["wall_s"], json.dumps({k: v["value"] for k, v in res["metrics"].items()}),
                  file=sys.stderr)
        metrics = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            metrics[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                                  "bound": m["bound"], "values": vals}
        report["workloads"][w] = {
            "metrics": metrics,
            "all_correct": all(r["correct"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
        }
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
