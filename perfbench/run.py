#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds graft and the harness from
source (perfbench/Makefile) into $CARGO_TARGET_DIR/perfbench, or
.bench_build/perfbench, runs one JVM for the workload, checks every
query's output against the recorded reference, prints a report and,
as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced run. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import metrics  # noqa: E402
from bench.workloads import CORES, HEAP, SETUPS, WORKLOADS, min_passes  # noqa: E402


JVM_TIMEOUT_S = 170
# Spark on Java 17 needs these when the session is created outside
# spark-submit.
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_home():
    """$SPARK_HOME, or else the first Spark distribution (a directory with
    bin/spark-submit and jars/) whose bin directory is on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    fail("Spark not found: set SPARK_HOME or put Spark's bin on the PATH")


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def build(out):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft sources (src/main/scala) not found; run from a full checkout")
    r = subprocess.run(
        ["make", "-s", "-f", "perfbench/Makefile", "BUILD=" + out,
         "SPARK_HOME=" + spark_home()],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])


def java(out, tmp, main_args):
    """The harness JVM's command line: fixed heap and collector, all
    scratch space inside `tmp`."""
    cmd = ["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+UseG1GC",
           "-XX:-UsePerfData"]
    for p in OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return cmd + [
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dderby.system.home=" + tmp,
        "-cp", os.path.join(out, "classes") + os.pathsep +
        os.path.join(spark_home(), "jars", "*"),
    ] + main_args


def run_java(out, main_args, log):
    """Runs one JVM to completion (or kills it after JVM_TIMEOUT_S),
    with a private scratch directory that is removed afterwards."""
    tmp = os.path.join(out, "tmp", uuid.uuid4().hex)
    os.makedirs(tmp)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    with open(log, "w") as fh:
        proc = subprocess.Popen(java(out, tmp, main_args), cwd=tmp, stdout=fh,
                                stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # also on SIGTERM (see main) or Ctrl-C: no JVM outlives us
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail("%s %s (log %s):\n%s" % (
            main_args[0], "timed out" if code is None else "exited %d" % code,
            log, tail))


def run_harness(out, wl, args, result):
    run_java(out, [
        "graftbench.Harness", "run",
        "--data", os.path.join(HERE, "data", wl["scale"]),
        "--queries", ",".join(wl["queries"]), "--warm", ",".join(wl["warm"]),
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--setups", str(SETUPS),
        "--min-passes", str(min_passes(args.trace)), "--out", result,
    ], os.path.join(out, "logs", "%s-seed%d-trace%d.log"
                    % (args.workload, args.seed, args.trace)))


def write_trace(out, args, raw):
    run_id = uuid.uuid4().hex
    path = os.path.join(out, "traces", "%s-seed%d-%s.json"
                        % (args.workload, args.seed, run_id))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = [dict(s, run_id=run_id) for s in raw["spans"]]
    with open(path, "w") as fh:
        json.dump({"run_id": run_id, "workload": args.workload,
                   "seed": args.seed, "spans": spans}, fh)
    return path


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    ref_path = os.path.join(HERE, "reference", wl["scale"] + ".json")
    if not glob.glob(os.path.join(HERE, "data", wl["scale"], "*.parquet")):
        fail("input tables for %s not found" % wl["scale"])
    if not os.path.isfile(ref_path):
        fail("reference fingerprints %s not found" % ref_path)
    with open(ref_path) as fh:
        reference = json.load(fh)

    out = build_dir()
    build(out)
    result = os.path.join(out, "results", "%s-seed%d-trace%d.json"
                          % (args.workload, args.seed, args.trace))
    os.makedirs(os.path.dirname(result), exist_ok=True)
    run_harness(out, wl, args, result)
    with open(result) as fh:
        raw = json.load(fh)

    bad = metrics.compare_fingerprints(raw["fingerprints"], reference)
    attempted, failed = metrics.attempts(raw, bad)
    print("workload %s  scale %s  seed %d  seconds %g  trace %d"
          % (args.workload, wl["scale"], args.seed, args.seconds, args.trace))
    print("local[%d]  -Xmx%s (max heap %.0f MB)  nproc %d  queries %d  setups %s"
          % (raw["cores"], HEAP, raw["max_heap_mb"], os.cpu_count(),
             len(wl["queries"]), " ".join("%.2f" % t for t in raw["setup_s"])))
    print("passes cold %.2f  warm %s  (window %.1f s)" % (
        raw["cold"]["wall_s"], " ".join("%.2f" % p["wall_s"] for p in raw["warm"]),
        raw["window_s"]))
    for q, why in bad.items():
        print("WRONG %s: %s" % (q, why))
    for p in [raw["cold"]] + raw["warm"]:
        for e in p["execs"]:
            if "error" in e:
                print("FAILED %s: %s" % (e["name"], e["error"]))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        kind = "per_layer"
        values = metrics.per_layer(raw)
    else:
        kind = "end_to_end"
        values, extra = metrics.end_to_end(raw, bad, min_passes(0))
    missing = [m["name"] for m in spec[kind] if m["name"] not in values]
    if missing:
        fail("no value for " + ", ".join(missing))
    if args.trace:
        print("trace %s" % write_trace(out, args, raw))
        for k in sorted(values):
            print("layer %-34s %.6g" % (k, values[k]))
    else:
        for m in spec[kind]:
            print("metric %-14s %.6g %s" % (m["name"], values[m["name"]], m["unit"]))
        print("report %-14s %.6g s  (p%g over %d samples from %d warm passes)"
              % ("query_tail_s", values["query_tail_s"], extra["tail_percentile"],
                 extra["query_samples"], extra["warm_passes"]))
        print("report %-14s %.6g  (%d failed / %d attempted)"
              % ("failed_ratio", extra["failed_ratio"], failed, attempted))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in spec[kind]}}))


if __name__ == "__main__":
    main()
