#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (about two minutes).

    python3 perfbench/selftest.py

Runs every workload end to end in one session and asserts its output
check passes. Then it plants one altered ``extracted_text`` and one
dropped row in a committed cc_extract output and asserts that the check
counts a failed document for each. Exits 0 when all of that holds.
"""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import time  # noqa: E402

T_PROCESS = time.perf_counter()

import shutil  # noqa: E402

from perfbench import env  # noqa: E402
from perfbench.common import SCRATCH  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

TINY = {"cc_extract": 120, "web_extract": 60, "curate_funnel": 100}


def rewrite_run_dir(w, summary: dict, edit) -> None:
    """Apply ``edit(pylist) -> pylist`` to the committed run's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    run_dir = os.path.join(w.table, "data", summary["run_id"])
    files = sorted(glob.glob(os.path.join(run_dir, "*.parquet")))
    table = pa.concat_tables(pq.read_table(f) for f in files)
    rows = edit(table.to_pylist())
    for f in files:
        os.remove(f)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema),
                   os.path.join(run_dir, "part-planted.parquet"))


def planted_failures(w) -> dict[str, int]:
    """Failed-document counts the check reports for each planted fault."""
    def altered(rows):
        rows[0]["extracted_text"] = (rows[0]["extracted_text"] or "") + "!"
        return rows

    out = {}
    for name, edit in (("altered_text", altered),
                       ("dropped_row", lambda rows: rows[1:])):
        call = w.run_call()
        rewrite_run_dir(w, call.summary, edit)
        out[name] = sum(w.check(call.summary, None).values())
    return out


def main() -> int:
    os.close(env.pin_environment())
    env.write_warm_input()
    session = env.Session(env.cores())
    problems = []
    try:
        session.start(T_PROCESS)
        for name, cls in WORKLOADS.items():
            w = cls(name, 1, session.spark, TINY[name], None)
            call = w.run_call()
            print(f"selftest: {name}: {call.docs} docs, {call.failed} failed",
                  file=sys.stderr)
            if call.failed:
                problems.append(f"{name}: clean run failed {call.failed}")
            if name == "cc_extract":
                for fault, failed in planted_failures(w).items():
                    print(f"selftest: planted {fault}: {failed} failed",
                          file=sys.stderr)
                    if failed < 1:
                        problems.append(f"planted {fault} not caught")
    finally:
        session.stop()
        shutil.rmtree(SCRATCH, ignore_errors=True)
    for p in problems:
        print(f"selftest: FAIL {p}", file=sys.stderr)
    print("selftest: " + ("FAIL" if problems else "ok"), file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
