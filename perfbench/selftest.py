#!/usr/bin/env python3
"""Self-test of the benchmark's output check: runs incremental_stream once
with one emitted patch line altered in a scratch copy of the dump's patches
(run.py --corrupt-patch-line) and asserts the run reports exactly that
operation (the dump) as failed and the result as incorrect.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        "incremental_stream", "--seed", "3", "--seconds", "1", "--trace", "0",
                        "--corrupt-patch-line"],
                       cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    ok = p.returncode == 0 and res["correct"] is False and res["failed"] == 1
    print(f"selftest {'PASS' if ok else 'FAIL'}: attempted={res['attempted']} "
          f"failed={res['failed']} correct={res['correct']}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
