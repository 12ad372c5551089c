#!/usr/bin/env python3
"""The repository benchmark: ``ocr_spark.job.main`` on seeded inputs.

    python3 perfbench/run.py --workload cc_extract --seed 1 --seconds 10 --trace 0

One warmed ``local[k]`` session (k = usable cores) runs the real
``job.main(argv, spark=...)`` entry point, driven from this one process
as a closed loop: the next call starts when the previous one returned.
Inputs come from ``perfbench.inputs`` and are written to parquet before
the clock starts. Every timed call's output is checked outside the
timed window (``perfbench.checks``).

Workloads (BENCHMARK.json lists the two it measures, and why):
  cc_extract     KYC OCR-cascade corpus -> ``--input --table --metrics``
  curate_funnel  ``--table --compact --curate --curate-repair`` over a
                 committed cc table with planted exact and near
                 duplicates (``--compact`` is a no-op on a one-run
                 table; job.main needs a source or a maintenance op)
  web_extract    HTML corpus -> the extraction command; runnable by
                 hand, left out of BENCHMARK.json for the time budget

Each workload warms the session before timing (the JVM keeps getting
faster for several job.main calls), then times calls until their walls
add up to ``--seconds``. ``--trace 0`` prints the end-to-end metrics:
docs_per_s, docs_per_cpu_s and out_bytes_per_doc (medians over the
timed calls) and setup_s (process start until the session is built and
its Python workers are warm; input generation excluded). ``--trace 1``
runs the same timed calls, then one traced call and the per-layer
probes of ``perfbench.layers``, and prints the per-layer metrics. The
last stdout line is the JSON result; everything else goes to stderr.
Spans are written to ``.perfbench_work/traces/``.

The run environment is pinned in ``perfbench.env``. The output checks
are themselves tested by ``python3 perfbench/selftest.py``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import env, layers  # noqa: E402
from perfbench.common import ROOT, SCRATCH, WORK  # noqa: E402
from perfbench.workloads import WORKLOADS, Call, Workload  # noqa: E402

GOLDEN = os.path.join(ROOT, "perfbench", "golden.json")
DEFAULT_SEED = 1


def phase(name: str) -> None:
    print(f"perfbench: [{time.perf_counter() - T_PROCESS:7.2f} s] {name}",
          file=sys.stderr)


def load_golden(name: str, seed: int) -> dict | None:
    """The committed expected output, for the default seed."""
    if seed != DEFAULT_SEED:
        return None
    with open(GOLDEN) as f:
        return json.load(f).get(name)


def timed_calls(w: Workload, seconds: float) -> list[Call]:
    w.warm_up()
    phase("warm-up done")
    calls: list[Call] = []
    while not calls or sum(c.wall for c in calls) < seconds:
        calls.append(w.run_call())
        print(f"perfbench: call {len(calls)}: {calls[-1].wall:.3f} s wall, "
              f"{calls[-1].cpu:.3f} cpu-s", file=sys.stderr)
    return calls


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], statistics.median(values), q[2]


def end_to_end(calls: list[Call], setup_s: float) -> dict:
    series = {
        "docs_per_s": ([c.docs / c.wall for c in calls], "docs/s"),
        "docs_per_cpu_s": ([c.docs / c.cpu for c in calls], "docs/cpu-s"),
        "out_bytes_per_doc": ([c.out_bytes / c.docs for c in calls],
                              "B/doc"),
        "setup_s": ([setup_s], "s"),
    }
    out = {}
    for name, (values, unit) in series.items():
        q1, med, q3 = quartiles(values)
        print(f"perfbench: {name} = {med:.6g} {unit} (q1 {q1:.6g}, "
              f"q3 {q3:.6g}, n={len(values)})", file=sys.stderr)
        out[name] = {"value": med, "unit": unit}
    return out


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args, result_fd: int) -> int:
    k = env.cores()
    env.write_warm_input()
    session = env.Session(k)
    try:
        setup_s = session.start(T_PROCESS)
        phase("session ready")
        w = WORKLOADS[args.workload](args.workload, args.seed,
                                     session.spark, None,
                                     load_golden(args.workload, args.seed))
        phase("inputs ready")
        calls = timed_calls(w, args.seconds)
        phase("timed calls done")
        attempted = sum(c.docs for c in calls)
        failed = sum(c.failed for c in calls)
        # The value golden.json holds for the default seed; refresh that
        # file by hand from this line when the output changes on purpose.
        if calls[-1].summary is not None:
            record = w.golden_record(calls[-1].summary)
            print(f"perfbench: output record: "
                  f"{json.dumps(record, sort_keys=True)}", file=sys.stderr)
        if args.trace:
            traced = layers.traced_run(
                w, calls, k, (session.jvm_start_s, session.worker_warm_s))
            attempted += traced.attempted
            failed += traced.failed
            metrics = traced.metrics
            layers.dump(traced, os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(calls, setup_s)
    finally:
        session.stop()
    print(f"perfbench: {args.workload} seed {args.seed}: {len(calls)} timed "
          f"calls, fail_share = {failed / attempted:.6g} share "
          f"({failed}/{attempted} docs)", file=sys.stderr)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0


def main(argv=None) -> int:
    args = parse(argv)
    result_fd = env.pin_environment()
    try:
        return run(args, result_fd)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
