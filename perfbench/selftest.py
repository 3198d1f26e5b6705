#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting.

Runs one `tablelog_history` pass with `--inject-failure`, which adds a
throwing operation (a snapshot read of a table that was never written)
after every commit, and checks that the result counts those operations as
failed, keeps `failed_share` above 0, and still reports correct outputs.

Usage (from the root of a checkout): python3 perfbench/selftest.py
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", "tablelog_history", "--seed", "1", "--seconds", "1",
                        "--inject-failure"], capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"selftest: no output (exit {p.returncode}): {p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    share = re.search(r"failed_share=([0-9.eE+-]+)", p.stdout)
    problems = []
    if res["failed"] < 1:
        problems.append(f"failed = {res['failed']}, expected the injected operations")
    if res["attempted"] <= res["failed"]:
        problems.append("no successful operation besides the injected ones")
    if not share or float(share.group(1)) <= 0:
        problems.append("failed_share is not above 0")
    if not res["correct"] or p.returncode != 0:
        problems.append(f"outputs reported incorrect (exit {p.returncode})")
    if problems:
        sys.exit("selftest: FAIL: " + "; ".join(problems))
    print(f"selftest: ok: {res['failed']} of {res['attempted']} operations failed "
          f"(failed_share={share.group(1)})")


if __name__ == "__main__":
    main()
