#!/usr/bin/env python3
"""Regenerates fingerprints.tsv, the expected results of the gate statements.

Runs every gate statement of the benchmark once at sf0.01, writes each result
as parquet, validates it against the DuckDB oracle (`SparkEntry.oracleSql`)
with the repository's oracle checker `tools/check.py`, and keeps the
fingerprint of every statement that passes. A statement the oracle rejects is
reported and gets no fingerprint, so the benchmark counts it as failed.

    python3 perfbench/expected/make_fingerprints.py PYTHON_WITH_DUCKDB
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build   # noqa: E402
import run     # noqa: E402


def main(python):
    build.ensure_built()
    work = os.path.join(run.OUT, "fingerprints")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "fp.json")
    data = os.path.join(BENCH, "data")
    if not run.run_jvm(["--mode", "fingerprints", "--cores", str(run.nproc()),
                        "--data", data, "--out", out], os.path.join(work, "jvm.log")):
        sys.exit("fingerprint run failed; see " + os.path.join(work, "jvm.log"))
    fps = json.load(open(out))["fingerprints"]
    check = subprocess.run([python, os.path.join(ROOT, "tools", "check.py"),
                            os.path.join(data, "sf0.01"), out + ".dump"],
                           capture_output=True, text=True)
    passed = {line.split()[1] for line in check.stdout.splitlines() if line.startswith("PASS ")}
    for line in check.stdout.splitlines():
        if line.startswith("FAIL"):
            print(line)
    with open(os.path.join(HERE, "fingerprints.tsv"), "w") as f:
        f.write("# name\tfingerprint — results validated against the DuckDB oracle "
                "at sf0.01; regenerate with make_fingerprints.py\n")
        for name in sorted(fps):
            if name in passed:
                f.write(f"{name}\t{fps[name]}\n")
    print(f"{len(passed)} of {len(fps)} gate statements validated")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "python3")
