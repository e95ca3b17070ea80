"""Run-to-run steadiness of the engine benchmark's end-to-end metrics.

    python3 perfbench/steadiness.py [--workloads ingest,scan,lookup]
        [--seeds 1-10] [--out perfbench/steadiness.json]

Runs each workload once per seed (untraced, BENCHMARK.json's run length)
and reports, per end-to-end metric, the median of the runs and the spread:
the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. A metric is
steady when its spread stays under a third of its bound. setup_s is
reported but not held to its bound's spread; only its median is compared
between two sets of runs.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "seeds": args.seeds, "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(s),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            if out.returncode != 0 or not last.startswith("{"):
                print(f"{wl} seed {s}: run failed (exit {out.returncode})", file=sys.stderr)
                return 1
            res = json.loads(last)
            host = {}
            for line in out.stdout.splitlines():
                if line.startswith("[host]"):
                    host = {k: float(v) for k, v in (f.split("=") for f in line.split()[1:3])}
            runs.append({"seed": s, "wall_s": round(time.time() - t0, 1), "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         **{k: v["value"] for k, v in res["metrics"].items()},
                         **{"host." + k: v for k, v in host.items()}})
            print(f"{wl} seed {s}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()
                                                if isinstance(v, float)), flush=True)
        spreads = {}
        for m, bound in bounds.items():
            vals = [r[m] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            spreads[m] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4), "bound": bound,
                          "steady": m == "setup_s" or spread < bound / 3}
            print(f"  {wl} {m}: median {med:.4g} spread {spread:.2%} bound {bound:.0%}"
                  f"{'' if spreads[m]['steady'] else '  NOT STEADY'}", flush=True)
        record["workloads"][wl] = {"metrics": spreads, "runs": runs}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
