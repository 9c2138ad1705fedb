#!/usr/bin/env python3
"""Build the benchmark and run its own tests (graftbench.SelfTest): wire
framing, the tail-percentile rule and span self time.

    python3 clientbench/selftest.py        # from the repository root
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402

if __name__ == "__main__":
    root = os.getcwd()
    work = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        cp = build.ensure(root, work)
    except build.BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
    sys.exit(subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", os.pathsep.join(cp),
                             "graftbench.SelfTest"]).returncode)
