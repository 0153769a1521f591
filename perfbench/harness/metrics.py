"""Turns one JVM run's raw op records into the benchmark's metrics.

Percentile rule: nearest rank on the sorted successful samples. Every
timing is reported as its median; a tail percentile is reported beside it
only when at least ten samples lie beyond it, and then the highest such
percentile of TAIL_PS is the one reported.

Failure accounting: an op that threw, or whose output failed a check,
counts as attempted and failed and contributes no timing; a pass that
contains a failed op contributes no pass time.
"""
import math

TAIL_PS = (0.99, 0.95, 0.9, 0.75)
MIN_BEYOND = 10

# the op kinds whose latency is each workload's unit-op latency
UNIT_KINDS = {"cdc_ingest": ("batch",), "query_suite": ("query",)}
READ_KINDS = ("read.count", "read.lookup", "read.range", "read.changes",
              "read.as_of")


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least a share
    p of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p * len(s)))
    return s[k - 1]


def beyond(n, p):
    """How many of n samples lie strictly beyond the p percentile's rank."""
    return n - max(1, math.ceil(p * n))


def median(values):
    return percentile(values, 0.5)


def tail(values):
    """(p, value) for the highest percentile of TAIL_PS with at least
    MIN_BEYOND samples beyond it, or None when there are too few samples."""
    for p in TAIL_PS:
        if beyond(len(values), p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def mark_failures(ops, checks):
    """Returns the ops with `ok` cleared where a check failed.

    A check named `query_suite.<query>` fails that query's ops; any other
    failed check fails every op of the run (its output state is wrong).
    """
    bad_queries = set()
    whole_run = False
    for c in checks:
        if c["ok"]:
            continue
        name = c["name"]
        if name.startswith("query_suite."):
            bad_queries.add(name.split(".", 1)[1])
        else:
            whole_run = True
    out = []
    for o in ops:
        failed = (not o["ok"]) or whole_run or (
            o["kind"] == "query" and o["name"] in bad_queries)
        out.append(dict(o, ok=not failed))
    return out


def pass_times(ops, passes):
    """Seconds of each pass that had no failed op."""
    failed_passes = {o["pass"] for o in ops if not o["ok"]}
    return [s for i, s in enumerate(passes) if i not in failed_passes]


def timings(ops, kinds):
    return [o["s"] for o in ops if o["ok"] and o["kind"] in kinds]


def section_metrics(workload, ops, passes):
    """End-to-end latency metrics of one measured section."""
    unit = timings(ops, UNIT_KINDS[workload])
    good_passes = pass_times(ops, passes)
    m = {"n_unit_ops": len(unit), "tail": tail(unit) if unit else None}
    if unit:
        m["op_p50_s"] = median(unit)
    if good_passes:
        m["pass_s"] = median(good_passes)
    return m


def failure_counts(ops):
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return attempted, failed
