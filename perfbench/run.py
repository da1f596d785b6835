"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness if the sources changed
(perfbench/build.py), runs the workload in a fresh JVM, checks every
output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones from
the span tree. The line before it is a JSON object of details: sample
counts, the tail percentile, environment, and for traced runs the span
tree and the tracing overhead. Each workload does a fixed amount of
work per run (its sizes are constants of perfbench/src); --seconds is
recorded but changes nothing. Everything is written under .bench_build/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 150
DRIVER_HEAP = "2g"
# Timed ops per run of each workload. A run that makes another number
# of ops fails: parent and change must be measured on the same work.
OPS_PER_RUN = {"scenario_read": 200, "scenario_edit": 22, "corpus_index": 19}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java(classes, heap, data, args, timeout):
    """Run perfbench.Main in a fresh JVM; its own output goes to a log."""
    os.makedirs(os.path.join(data, "tmp"), exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write its counters under
    # the system temp directory, outside the checkout. A fixed set of JIT
    # compiler threads keeps their CPU time measurable to the end.
    cmd = ["java", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads", f"-Xmx{heap}",
           f"-Djava.io.tmpdir={os.path.join(data, 'tmp')}", "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main"] + args
    log = os.path.join(data, "jvm.log")
    with open(log, "a") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=data)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")


def span_tree(spans):
    """Aggregate the span tree by name path: calls, total and self ms."""
    by_id = {s["id"]: s for s in spans}
    selfs = stats.self_times(spans)
    out = {}
    for s in spans:
        path, p = [s["name"]], s["parent"]
        while p:
            path.append(by_id[p]["name"])
            p = by_id[p]["parent"]
        key = "/".join(reversed(path))
        e = out.setdefault(key, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0, "jobs": 0})
        e["calls"] += 1
        e["total_ms"] += s["end"] - s["start"]
        e["self_ms"] += selfs[s["id"]]
        e["jobs"] += s["jobs"]
    return dict(sorted(out.items()))


def overhead_figures(e2e, details):
    """The figures whose traced-minus-untraced difference is the
    tracing overhead: the gated metrics and the wall-clock ones."""
    return dict(e2e, **{k: details[k] for k in ("ops_per_s", "read_p50_ms", "cycle_p50_ms")})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if a.workload not in OPS_PER_RUN:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    classes = build.build()

    data = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    try:
        raw_file = os.path.join(data, "raw.json")
        java(classes, DRIVER_HEAP, data,
             ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
              "--out", raw_file],
             JVM_TIMEOUT_S)
        with open(raw_file) as fh:
            raw = json.load(fh)
        ops = sum(c["ops"] for c in raw["clients"])
        if ops != OPS_PER_RUN[a.workload]:
            raw["failed"] += 1
            raw["failures"].insert(0, f"run made {ops} timed ops, not {OPS_PER_RUN[a.workload]}")
        attempted, failed = raw["attempted"], raw["failed"]

        e2e, details = stats.end_to_end(raw)
        details.update(workload=a.workload, seed=a.seed, trace=a.trace, env=raw["env"],
                       sizes=raw["sizes"], problems=raw["failures"][:20])
        last = os.path.join(build.BUILD, "last_untraced", a.workload + ".json")
        if a.trace:
            metrics = stats.layer_metrics(raw)
            unit = {n: u for n, u, _ in stats.per_layer_names()}
            details["span_tree"] = span_tree(raw["spans"])
            details["unattributed_jobs"] = raw["unattributed_jobs"]
            details["traced_end_to_end"] = e2e
            if os.path.exists(last):
                with open(last) as fh:
                    base = json.load(fh)
                mine = overhead_figures(e2e, details)
                details["tracing_overhead"] = {
                    "untraced_seed": base["seed"],
                    "traced_minus_untraced": {k: mine[k] - v for k, v in base.get("figures", {}).items()
                                              if k in mine}}
            tdir = os.path.join(build.BUILD, "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{a.workload}-{a.seed}.json"), "w") as fh:
                json.dump({"spans": raw["spans"], "details": details, "metrics": metrics}, fh)
        else:
            metrics = e2e
            unit = {n: u for n, u, _ in stats.END_TO_END}
            os.makedirs(os.path.dirname(last), exist_ok=True)
            with open(last, "w") as fh:
                json.dump({"seed": a.seed, "figures": overhead_figures(e2e, details)}, fh)
        print(json.dumps({"details": details}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(data, ignore_errors=True)


if __name__ == "__main__":
    main()
