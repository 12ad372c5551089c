"""The benchmark workloads: a seeded corpus, an untimed pre-state and
warm-up, and the argv of one ``job.main`` call with its output check.

A call that raises fails every document it was given.
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_spark import job

from . import checks
from .common import SCRATCH, quiet, tree_cpu_s
from .env import WARM_INPUT
from .inputs import Corpus

#: job.main calls on WARM_INPUT before an extraction workload's timing;
#: the JVM keeps speeding up job.main for several calls (JIT).
TINY_WARM_CALLS = 6


def curate_argv(table: str, out: str) -> list[str]:
    # --compact is a no-op on a one-run table; job.main refuses a call
    # with neither an input source nor a maintenance op.
    return ["--table", table, "--compact", "--curate", out,
            "--curate-repair"]


def commit_sample(spark, input_path: str, seed: int, name: str) -> str:
    """Commit a seeded tenth of ``input_path`` to a new snapshot table;
    returns the table path."""
    sample, table = (os.path.join(SCRATCH, f"{name}-{x}")
                     for x in ("input", "table"))
    (spark.read.parquet(input_path)
     .filter(F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(10)) == 0)
     .write.parquet(sample))
    quiet(job.main, ["--input", sample, "--table", table], spark=spark)
    return table


class Call:
    """One job.main call: documents, wall, CPU, bytes out, failures."""

    def __init__(self, docs: int, wall: float, cpu: float,
                 out_bytes: int, failed: int, summary: dict | None):
        self.docs, self.wall, self.cpu = docs, wall, cpu
        self.out_bytes, self.failed, self.summary = out_bytes, failed, summary


class Workload:
    kind = "cc"

    def __init__(self, name: str, seed: int, spark, size: int | None,
                 golden: dict | None):
        self.name, self.seed, self.spark = name, seed, spark
        self.corpus = Corpus(self.kind, seed, size)
        self.golden = golden
        self.input = os.path.join(SCRATCH, f"input-{self.kind}")
        self.corpus.write(spark, self.input,
                          partitions=spark.sparkContext.defaultParallelism)
        self.n_calls = 0

    def input_rows(self, columns: list[str] | None = None) -> list[dict]:
        rows = []
        for f in checks.parquet_files(self.input):
            rows += pq.read_table(f, columns=columns).to_pylist()
        return rows

    def run_call(self, check: bool = True) -> Call:
        self.n_calls += 1
        argv, out_dirs = self.argv(self.n_calls)
        summary = None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            summary = quiet(job.main, argv, spark=self.spark)
        except Exception as e:  # counted below as failed documents
            print(f"perfbench: job.main raised: {e!r}", file=sys.stderr)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        docs = len(self.corpus)
        if summary is None:
            return Call(docs, wall, cpu, 0, docs, None)
        counts = self.check(summary, out_dirs) if check else {}
        failed = checks.failed_docs(counts)
        if failed:
            print(f"perfbench: {self.name} output check: {counts}",
                  file=sys.stderr)
        return Call(docs, wall, cpu, checks.data_bytes(*out_dirs), failed,
                    summary)


class Extract(Workload):
    """``job.main --input --table --metrics`` into a fresh table."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.expected = checks.reference_extraction(self.input_rows())

    def warm_up(self) -> None:
        for i in range(TINY_WARM_CALLS):
            table = os.path.join(SCRATCH, f"warm-table-{i}")
            quiet(job.main, ["--input", WARM_INPUT, "--table", table,
                             "--metrics", table + "-metrics"],
                  spark=self.spark)
        self.run_call(check=False)

    def argv(self, i: int):
        self.table = os.path.join(SCRATCH, f"table-{i}")
        return (["--input", self.input, "--table", self.table,
                 "--metrics", os.path.join(SCRATCH, f"metrics-{i}")],
                [os.path.join(self.table, "data")])

    def digests(self, summary: dict):
        return checks.extraction_digests(
            os.path.join(self.table, "data", summary["run_id"]))

    def check(self, summary: dict, out_dirs) -> dict:
        got = self.digests(summary)
        counts = checks.compare(self.expected, got)
        counts["processed"] = abs(summary["processed"] - len(self.expected))
        if self.golden is not None and (checks.corpus_digest(got)
                                        != self.golden["digest"]):
            counts["golden"] = len(self.expected)
        return counts

    def golden_record(self, summary: dict) -> dict:
        return {"size": self.corpus.base, "seed": self.seed,
                "digest": checks.corpus_digest(self.digests(summary))}


class CcExtract(Extract):
    kind = "cc"


class WebExtract(Extract):
    kind = "web"


class CurateFunnel(Workload):
    """``job.main --curate`` over a committed table of the corpus."""

    kind = "curate"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.table = os.path.join(SCRATCH, "curate-table")
        quiet(job.main, ["--input", self.input, "--table", self.table],
              spark=self.spark)
        self.urls = [r["url"] for r in self.input_rows(["url"])]
        self.dups = self.corpus.exact_dup_urls()

    def warm_up(self) -> None:
        """The first curate call of a session is JIT-bound: run one over
        a seeded tenth of the corpus."""
        table = commit_sample(self.spark, self.input, self.seed,
                              "warm-curate")
        quiet(job.main, curate_argv(table, table + "-out"), spark=self.spark)

    def argv(self, i: int):
        self.out = os.path.join(SCRATCH, f"curate-{i}")
        return (curate_argv(self.table, self.out),
                [os.path.join(self.out, "decisions"),
                 os.path.join(self.out, "survivors")])

    def check(self, summary: dict, out_dirs) -> dict:
        return checks.curate_failures(out_dirs[0], self.urls, self.dups,
                                      self.golden, summary["curate"])

    def golden_record(self, summary: dict) -> dict:
        return {"size": self.corpus.base, "seed": self.seed,
                "decisions": checks.corpus_digest(checks.decision_digests(
                    os.path.join(self.out, "decisions"))),
                "funnel": summary["curate"]}


WORKLOADS = {"cc_extract": CcExtract, "curate_funnel": CurateFunnel,
             "web_extract": WebExtract}
