#!/usr/bin/env python3
"""Record the outputs the benchmark checks against.

    python3 perfbench/record.py clip_pipeline <first-seed> <last-seed>
    python3 perfbench/record.py query_suite

Writes perfbench/expected/<workload>.json. Record only from a commit whose
outputs are known to be right; see perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402

if __name__ == "__main__":
    code, out = run.launch("perfbench.Record", [sys.argv[1], build.BENCH, *sys.argv[2:]], 3600)
    sys.stdout.write(out)
    sys.exit(code)
