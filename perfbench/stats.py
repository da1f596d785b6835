"""Statistics of the benchmark: percentiles with the tail rule, failure
counting, span self time, and the end-to-end and per-layer metrics
computed from the raw output of one benchmark JVM."""
import math
import statistics

# Percentiles the tail metric may report, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10

# Op classes per layer. A class a workload does not run reports 0.
READ_CLASSES = ("core.get_scenario", "core.par_read", "core.set_read", "core.ts_read",
                "report.get", "ops.ivfsq.query", "ops.lsh.delta", "ops.bm25.query")
WRITE_CLASSES = ("core.add_par", "core.add_ts", "core.clone", "store.checkout",
                 "store.commit", "store.discard", "io.export", "ops.ivfsq.build",
                 "ops.ivfsq.append", "ops.ivfsq.compact", "ops.ivfsq.rebuild",
                 "ops.lsh.build", "ops.bm25.build", "ops.bm25.append", "ops.bm25.compact")
OP_CLASSES = READ_CLASSES + WRITE_CLASSES
STORE_WRITE_CLASSES = ("core.add_par", "core.add_ts", "store.checkout", "store.commit",
                       "store.discard")
CACHE_READ_CLASSES = ("core.par_read", "core.set_read", "core.ts_read")
GLOBAL_METRICS = (
    ("store.write_amp", "B/B", "lower"),
    ("store.space_amp", "B/B", "lower"),
    ("store.cache_served_ratio", "ratio", "higher"),
    ("report.qcache_hit_ratio", "ratio", "higher"),
    ("ops.ivfsq.recall_at_5", "ratio", "higher"),
    ("spark.spill_bytes", "B", "lower"),
    ("jvm.gc_ms", "ms", "lower"),
    ("jvm.heap_after_gc_mb", "MB", "lower"),
)

# The gated end-to-end metrics (README.md says what each one is). The
# wall-clock figures are in the details, not gated: when the host's other
# tenants get busy they move by up to half their median within ten runs,
# more than the largest bound allows (see README.md).
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("cpu_ms_per_op", "ms", "lower"),
    ("heap_live_mb", "MB", "lower"),
    ("stored_bytes_per_user_byte", "B/B", "lower"),
)


def per_layer_names():
    """(name, unit, better) of every per-layer metric. Per-class task
    counts are left out to stay under the 128-metric cap."""
    out = []
    for c in OP_CLASSES:
        out += [(c + ".ms", "ms", "lower"), (c + ".jobs", "count", "lower"),
                (c + ".driver_ms", "ms", "lower")]
        if c in WRITE_CLASSES:
            out += [(c + ".bytes_written", "B", "lower"), (c + ".files_written", "count", "lower")]
        if c in READ_CLASSES:
            out.append((c + ".scan_bytes", "B", "lower"))
    return out + list(GLOBAL_METRICS)


def rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples (the
    epsilon keeps 99.9% of 10000 at 9990 despite float rounding)."""
    return min(n, max(1, math.ceil(p * n / 100.0 - 1e-9)))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    return s[rank(len(s), p) - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - rank(n, p)


def tail(xs):
    """(percentile, value, n): the highest percentile of TAIL_LADDER
    with at least TAIL_BEYOND samples beyond it. With too few samples
    for any of them, the median, flagged by percentile None."""
    n = len(xs)
    best = None
    for p in TAIL_LADDER:
        if beyond(n, p) >= TAIL_BEYOND:
            best = p
    if best is None:
        return None, statistics.median(xs), n
    return best, percentile(xs, best), n


def fail_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """span id -> its duration minus the part of it its child spans
    cover. Spans of other clients are never children, so concurrent
    clients do not reduce each other's self time."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        cover = union_length([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                             s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - cover
    return out


def subtree(span, kids):
    stack, out = [span], []
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids.get(s["id"], []))
    return out


def inclusive(span, kids):
    """Counters of a span including its descendants, and its driver
    time: wall time minus the time the Spark jobs of the subtree cover."""
    sub = subtree(span, kids)
    jobs = [iv for s in sub for iv in s["job_intervals"]]
    wall = span["end"] - span["start"]
    return {
        "ms": wall,
        "jobs": sum(s["jobs"] for s in sub),
        "driver_ms": wall - union_length(jobs, span["start"], span["end"]),
        "scan_bytes": sum(s["scan_exec"] for s in sub) + span["scan_driver"],
        "bytes_written": span["bytes_written"],
        "files_written": span["files_written"],
    }


def per_class(spans):
    """op class -> list of inclusive counters, one per call."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        if s["name"] in OP_CLASSES:
            out.setdefault(s["name"], []).append(inclusive(s, kids))
    return out


def layer_metrics(raw):
    """Every per-layer metric of a traced run."""
    spans = raw["spans"]
    calls = per_class(spans)
    m = {}
    for c in OP_CLASSES:
        cs = calls.get(c, [])
        mean = (lambda k: sum(x[k] for x in cs) / len(cs)) if cs else (lambda k: 0.0)
        m[c + ".ms"] = statistics.median([x["ms"] for x in cs]) if cs else 0.0
        m[c + ".jobs"] = mean("jobs")
        m[c + ".driver_ms"] = statistics.median([x["driver_ms"] for x in cs]) if cs else 0.0
        if c in WRITE_CLASSES:
            m[c + ".bytes_written"] = mean("bytes_written")
            m[c + ".files_written"] = mean("files_written")
        if c in READ_CLASSES:
            m[c + ".scan_bytes"] = mean("scan_bytes")
    written = sum(x["bytes_written"] for c in STORE_WRITE_CLASSES for x in calls.get(c, []))
    m["store.write_amp"] = written / raw["delta_bytes"] if raw.get("delta_bytes") else 0.0
    m["store.space_amp"] = raw["stored_bytes"] / raw["live_bytes"] if raw.get("live_bytes") else 0.0
    reads = [x for c in CACHE_READ_CLASSES for x in calls.get(c, [])]
    m["store.cache_served_ratio"] = (
        sum(1 for x in reads if x["scan_bytes"] == 0) / len(reads) if reads else 0.0)
    gets = [s for s in spans if s["name"] == "report.get.call"]
    m["report.qcache_hit_ratio"] = (
        sum(1 for s in gets if s["jobs"] == 0) / len(gets) if gets else 0.0)
    m["ops.ivfsq.recall_at_5"] = statistics.mean(raw["recall"]) if raw.get("recall") else 0.0
    m["spark.spill_bytes"] = float(raw["spill_bytes"])
    m["jvm.gc_ms"] = float(raw["gc_ms"])
    m["jvm.heap_after_gc_mb"] = float(raw["heap_after_gc_peak_mb"])
    return m


def samples_of(raw, kind=None, cls=None):
    return [s[4] for s in raw["samples"]
            if s[0] != "cycle" and (kind is None or s[1] in kind) and (cls is None or s[0] in cls)]


def op_summary(raw):
    """op class -> [calls, p50 ms] over the timed phase."""
    by = {}
    for s in raw["samples"]:
        if s[0] != "cycle":
            by.setdefault(s[0], []).append(s[4])
    return {c: [len(xs), statistics.median(xs)] for c, xs in sorted(by.items())}


def end_to_end(raw):
    """(metrics, details): the end-to-end metrics of one run and every
    figure behind them, with sample counts."""
    reads = samples_of(raw, kind=("read",))
    cycles = [s[4] for s in raw["samples"] if s[0] == "cycle"]
    # closed-loop throughput: each client's ops over its own timed wall
    # time less its untimed correctness checks, summed over clients
    ops_per_s = sum(c["ops"] / ((c["elapsed_ms"] - c["check_ms"]) / 1000.0)
                    for c in raw["clients"] if c["elapsed_ms"] > c["check_ms"])
    p, tail_ms, n_reads = tail(reads)
    ops = sum(c["ops"] for c in raw["clients"])
    metrics = {
        "setup_s": raw["session_s"] + raw["setup_s"],
        # every thread, the JIT compiler's too: on a first pass through
        # the program JIT and program CPU trade against each other, and
        # the total spreads less between runs than either part
        "cpu_ms_per_op": raw["timed_host"]["process_cpu_ms"] / ops,
        # live set after a forced full collection, the higher of the end
        # of set-up and the end of the run; the in-run peak after any
        # collection is the per-layer jvm.heap_after_gc_mb
        "heap_live_mb": max(raw["heap_live_mb"]),
        "stored_bytes_per_user_byte": raw["stored_bytes"] / raw["user_bytes"],
    }
    details = {
        "attempted": raw["attempted"], "failed": raw["failed"],
        "fail_ratio": fail_ratio(raw["attempted"], raw["failed"]), "ops": ops,
        "ops_per_s": ops_per_s, "cycle_p50_ms": statistics.median(cycles),
        "read_p50_ms": statistics.median(reads), "reads_n": n_reads,
        "read_tail_ms": tail_ms, "read_tail_pct": p, "cycles_n": len(cycles),
        "heap_after_gc_peak_mb": raw["heap_after_gc_peak_mb"],
        "classes": op_summary(raw), "session_s": raw["session_s"],
        "setup_only_s": raw["setup_s"], "timed_host": raw["timed_host"],
    }
    for name, cls in (("report_p50_ms", "report.get"), ("clone_p50_ms", "core.clone"),
                      ("index_query_p50_ms", "ops.ivfsq.query")):
        xs = samples_of(raw, cls=(cls,))
        if xs:
            details[name] = statistics.median(xs)
            details[name.replace("_p50_ms", "_n")] = len(xs)
    if raw["workload"] == "scenario_edit":
        details["txn_p50_ms"] = details["cycle_p50_ms"]
    if raw["workload"] == "corpus_index":
        details["index_round_s"] = details["cycle_p50_ms"] / 1000.0
        details["recall_at_5"] = raw["recall"]
    return metrics, details
