#!/usr/bin/env python3
"""The lake benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into `.bench_build/perfbench/`;
later runs reuse the build while the sources are unchanged. One JVM runs
the workload (`graft.perfbench.Main`) and writes raw op records; this
script checks query outputs against the DuckDB oracle, applies failure
accounting, and prints the metrics. The last stdout line is the result
JSON; the line before it names the workload's metrics in the terms of
perfbench/README.md. Everything is read and written inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import metrics  # noqa: E402

WORKLOADS = ("cdc_ingest", "query_suite")
DEADLINE_S = 175          # a run must end within 180 s
BUILD_DEADLINE_S = 700    # the first run in a checkout builds (900 s cap in all)
JVM_HEAP = ["-Xmx3g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir, deadline):
    """Compiles with sbt unless the sources are unchanged; returns the classpath."""
    stamp_file = os.path.join(out_dir, "build.stamp")
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(1, deadline - time.time()))
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(out_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, work, deadline):
    """Runs the workload JVM; its stdout and stderr go to a log file."""
    scratch = os.path.join(work, "scratch")
    tmp = os.path.join(work, "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += JVM_HEAP + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "graft.perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=scratch)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("workload JVM exceeded the run deadline")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"workload JVM exited with {rc}")


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def report(raw, checks, trace):
    """Builds the named-metrics line and the result object."""
    wl = raw["workload"]
    plain_ops = metrics.mark_failures(raw["plain"]["ops"], checks)
    pm = metrics.section_metrics(wl, plain_ops, raw["plain"]["passes"])
    setup = raw["setup"]
    setup_s = setup["session_s"] + metrics.median(setup["gen_s"]) + setup["warm_s"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (pm.get("op_p50_s"), "s"),
        "pass_s": (pm.get("pass_s"), "s"),
    }
    facts = raw["facts"]
    named = {"setup_s": (setup_s, "s"), "peak_rss_mb": (raw["peak_rss_mb"], "MB")}
    unit_name = "fresh" if wl == "cdc_ingest" else "query"
    named[f"{unit_name}_p50_s"] = (pm.get("op_p50_s"), "s")
    if pm["tail"]:
        p, v = pm["tail"]
        named[f"{unit_name}_p{round(p * 100)}_s"] = (v, "s")
    if wl == "cdc_ingest":
        drain_s = raw["plain"]["timings"]["drain_s"]
        named["cdc_rec_per_s"] = (facts["events"] / drain_s, "1/s")
        named["table_bytes_per_row"] = (
            facts["table_bytes"] / max(1.0, facts["live_rows"]), "B")
        reads = metrics.timings(plain_ops, metrics.READ_KINDS)
        if reads:
            named["read_p50_s"] = (metrics.median(reads), "s")
        named["drain_and_read_s"] = (pm.get("pass_s"), "s")
    else:
        named["suite_pass_s"] = (pm.get("pass_s"), "s")

    ops_counted = list(plain_ops)
    per_layer = {}
    if trace:
        traced = raw["traced"]
        tops = metrics.mark_failures(traced["ops"], checks)
        ops_counted += tops
        tm = metrics.section_metrics(wl, tops, traced["passes"])
        per_layer = {k: (v, layer_unit(k)) for k, v in traced["layers"].items()}
        # the untraced pass ran after the traced one, on a warmer JVM, so
        # this difference bounds the tracing overhead from above
        for k in ("op_p50_s", "pass_s"):
            per_layer[f"trace.overhead_{k}"] = (
                tm[k] - pm[k] if k in tm and k in pm else None, "s")

    attempted, failed = metrics.failure_counts(ops_counted)
    named["failed_op_ratio"] = (failed / max(1, attempted), "ratio")
    chosen = per_layer if trace else e2e
    missing = sorted(k for k, (v, _) in chosen.items() if v is None)
    correct = all(c["ok"] for c in checks) and failed == 0 and not missing
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": (0.0 if v is None else v), "unit": u}
                    for k, (v, u) in sorted(chosen.items())},
    }
    info = {
        "workload": wl, "seed": raw["seed"], "cores": raw["cores"],
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "samples": {"unit_ops": pm["n_unit_ops"],
                    "passes": len(raw["plain"]["passes"]),
                    "tail": pm["tail"] and {"p": pm["tail"][0]}},
        "missing_metrics": missing,
        "checks_failed": [c for c in checks if not c["ok"]],
        "checks_passed": sum(1 for c in checks if c["ok"]),
        "settings": raw["settings"],
    }
    return info, result


def layer_unit(name):
    if name.endswith("_s") or name == "driver.s":
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if "_per_" in name:
        return "ratio"
    return "count"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the harness's smoke test")
    a = ap.parse_args(argv)

    start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("run from the root of a checkout: no engine sources "
                         "under src/main/scala/graft")
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, out_dir, start + BUILD_DEADLINE_S)
    run_start = time.time()

    work = os.path.join(out_dir, "work")
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", raw_path] + (["--tiny"] if a.tiny else [])
    steal0, total0 = cpu_ticks()
    run_jvm(cp, args, work, run_start + DEADLINE_S - 10)
    steal1, total1 = cpu_ticks()
    with open(raw_path) as f:
        raw = json.load(f)

    checks = list(raw["checks"])
    if raw["outputs"]:
        from harness import oracle
        checks += oracle.check_outputs(
            root, os.path.join(work, a.workload, "data"), raw["outputs"],
            raw["oracle_sql"])
    info, result = report(raw, checks, a.trace == 1)
    # CPU time the hypervisor gave to other guests during the run: a run
    # with a large share measured a busy host, not the program
    info["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    # bulky inputs and tables go; raw.json, jvm.log and spans stay for reading
    shutil.rmtree(os.path.join(work, a.workload), ignore_errors=True)
    for d in ("scratch", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
