#!/usr/bin/env python3
"""Re-records the reference fingerprints the benchmark checks outputs
against, from a correctness dump that the DuckDB oracle has verified.

    python3 perfbench/record_reference.py <scale> <work-dir>

Run from the repository root. For every query of the workloads at
<scale> (perfbench/data/<scale>), it dumps the query's output with
graft.Verify, checks the dump with dev/check.py (every query that has
an oracle must be green; the rows-only queries without one are taken
as the current code computes them), and writes
perfbench/reference/<scale>.json and the check log beside it.
"""
import os
import subprocess
import sys

import run
from bench.workloads import WORKLOADS


def main():
    if len(sys.argv) != 3:
        run.fail(__doc__.strip().splitlines()[2].strip())
    scale, work = sys.argv[1], os.path.abspath(sys.argv[2])
    queries = sorted({q for w in WORKLOADS.values() if w["scale"] == scale
                      for q in w["queries"]})
    if not queries:
        run.fail("no workload runs at " + scale)
    data = os.path.join(run.HERE, "data", scale)
    dump = os.path.join(work, "dump")
    ref = os.path.join(run.HERE, "reference", scale)
    out = os.path.join(work, "build")
    run.build(out)
    run.run_java(out, ["graft.Verify", data, dump, ",".join(queries)],
                 os.path.join(work, "verify.log"))
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "dev", "check.py"), data, dump],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    with open(ref + ".check.txt", "w") as fh:
        fh.write(check.stdout)
    if check.returncode != 0:
        run.fail("the oracle check failed; see %s.check.txt" % ref)
    run.run_java(out, ["graftbench.Harness", "reference", "--dump", dump,
                       "--queries", ",".join(queries), "--out", ref + ".json"],
                 os.path.join(work, "reference.log"))
    print("wrote %s.json" % ref)


if __name__ == "__main__":
    main()
