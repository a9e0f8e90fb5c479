#!/usr/bin/env python3
"""Regenerates perfbench/golden.json, the expected fingerprints of the query
ops, for both fixture scales.

    python3 perfbench/golden.py

For each scale it runs graft.Verify on the benchmark's queries, checks the
output with tools/check_oracle.py, and has the harness fingerprint every
query op three ways: the Verify output and two live runs. A query with an
oracle must pass it exactly; a query whose fingerprint is not stable across
runs is pinned by its row count only, with the reason recorded in the file.
Needs duckdb for the oracle check.
"""
import os
import subprocess
import sys
import time

import run


def main():
    os.makedirs(run.WORK, exist_ok=True)
    cp = run.build(time.time() + 900)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    for scale, fixtures in run.FIXTURES.items():
        out = os.path.join(run.WORK, "verify-" + scale)
        subprocess.run(run.java_cmd(cp, ["--mode", "verify", "--fixtures", fixtures,
                                         "--verify-out", out]),
                       check=True, env=env, stderr=subprocess.DEVNULL)
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"), fixtures, out],
            stdout=subprocess.PIPE, text=True)
        exact = [l.split()[1] for l in check.stdout.splitlines() if l.startswith("PASS")]
        exact_file = os.path.join(run.WORK, f"exact-{scale}.txt")
        with open(exact_file, "w") as f:
            f.write("\n".join(exact) + "\n")
        subprocess.run(run.java_cmd(cp, [
            "--mode", "golden", "--fixtures", fixtures, "--verify-out", out,
            "--exact", exact_file, "--golden", run.GOLDEN, "--scale", scale]),
            check=True, env=env, stderr=subprocess.DEVNULL)


if __name__ == "__main__":
    main()
