#!/usr/bin/env python3
"""Record query_mix's expectation file for the bundled data.

    python3 perfbench/record_expect.py        # from the repository root

Runs every set-up step, then every query face twice, and writes each
face's row count and order-insensitive content hash to
perfbench/data/expect_sf0.01.tsv. A face whose hash differs between the
two passes, or from the file already there, is kept as rows-only (`*`),
so running this twice also catches run-to-run nondeterminism. Record only
from a tree where `scripts/check_oracle.py` passes on the same data.
"""
import os
import sys

sys.dont_write_bytecode = True  # write nothing next to the sources

import build  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    classes = build.build(root, os.path.join(root, ".bench_build", "perfbench"))
    work = run.fresh_workdir(root, "record")
    args = ["--workload", "query_mix", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--cores", str(len(os.sched_getaffinity(0))), "--work", work, "--metrics", "",
            "--data", run.DATA, "--record-expect", run.EXPECT]
    code = run.run_jvm(run.java_cmd(classes, work, "graft.perfbench.Main", args), work, 1800)
    raise SystemExit(code)


if __name__ == "__main__":
    main()
