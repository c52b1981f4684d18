#!/usr/bin/env python3
"""Remake perfbench/refs.json, the reference outputs of the benchmark's
registry steps.

    python3 perfbench/mkref.py

Runs every registry step once, writes its output as parquet, and checks
each against its DuckDB oracle SQL with tools/compare_oracle.py. Only if
every step matches are the row counts and digests written. Needs the
duckdb Python module.
"""
import json
import subprocess
import sys

import run


def main():
    work = run.build_dir() / "mkref"
    rc = run.run_jvm(work, ["--mode", "ref", "--workload", "olap", "--seed", "0",
                            "--seconds", "0", "--trace", "0"], timeout=1800)
    if rc != 0:
        run.fail(f"reference run exited with {rc}; log in {work / 'jvm.log'}")
    rc = subprocess.call([sys.executable, str(run.ROOT / "tools" / "compare_oracle.py"),
                          str(run.DATA), str(work / "dump")])
    if rc != 0:
        run.fail("an output differs from its DuckDB oracle; refs.json left unchanged")
    digests = json.loads((work / "digests.json").read_text())
    lines = [f'  "{k}": {json.dumps(v, sort_keys=True)}' for k, v in sorted(digests.items())]
    run.REFS.write_text("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {len(lines)} reference digests to {run.REFS}")


if __name__ == "__main__":
    main()
