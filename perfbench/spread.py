"""Run one workload on several seeds and summarise the spread of every
metric, and of the ungated wall-clock figures: median, quartiles
(statistics.quantiles, n=4) and the distance between the quartiles as a
share of the median.

    python3 perfbench/spread.py --workload W --seeds 1-10 [--seconds 10]
                                [--trace 0|1] [--out FILE]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


DETAILS = ("ops_per_s", "cycle_p50_ms", "read_p50_ms")


def summarise(runs, key):
    out = {}
    for name in runs[0][key]:
        xs = [r[key][name] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "iqr_share": (q3 - q1) / med if med else None}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs, env = [], None
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            sys.exit(f"seed {s} failed:\n{p.stderr[-3000:]}")
        lines = p.stdout.strip().splitlines()
        last, details = json.loads(lines[-1]), json.loads(lines[-2])["details"]
        env = details["env"]
        runs.append({"seed": s, "wall_s": wall, "correct": last["correct"],
                     "attempted": last["attempted"], "failed": last["failed"],
                     "ops": details["ops"], "classes": details["classes"],
                     "steal_share": details["timed_host"]["steal_share"],
                     "metrics": {k: v["value"] for k, v in last["metrics"].items()},
                     "details": {k: details[k] for k in DETAILS}})
        print(f"seed {s}: {wall:.0f}s correct={last['correct']}", file=sys.stderr)
    result = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace, "env": env,
              "runs": runs, "summary": summarise(runs, "metrics"),
              "details_summary": summarise(runs, "details")}
    text = json.dumps(result, indent=1)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    for k, v in {**result["summary"], **result["details_summary"]}.items():
        share = "n/a" if v["iqr_share"] is None else f"{v['iqr_share']:.3f}"
        print(f"{k:32s} median {v['median']:14.4f}  iqr/median {share}")


if __name__ == "__main__":
    main()
