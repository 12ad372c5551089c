"""The traced run: spans around calls into each ocr_spark layer, and the
per-layer probes that split one job.main pass by module.

Spans carry a name, a start, an end, a parent and a run id; they stay
in memory and are written by ``dump`` when the benchmark ends. Every
traced run emits every per-layer metric: layers the workload's own pass
does not reach are probed on a small companion sample of the same seed
(cc rows for the cascade and payload probes, web rows for htmltext).

Extraction split (prefixes of the pipeline written to Spark's ``noop``
sink, each counting only the time it adds over the previous prefix):
scan -> classify -> salt shuffle -> mapInArrow -> parquet sink.
``trace.accounted_share`` is the split's sum over the untraced wall of
the same pass. A prefix difference below the pass-to-pass noise (the
classify step is one) can come out negative; the raw prefix walls are
printed to stderr.

The traced calls run the program's own plans unchanged: spans wrap
its calls, and the frames it builds (the curate cuts, the near-dup
candidate and verified pairs) are kept and counted or re-run into
``noop`` only after the traced call has returned.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import re
import shutil
import statistics
import sys
import time

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

from ocr_spark import job, schemas
from ocr_spark.functions import udfs
from ocr_spark.operators import curate as curate_mod
from ocr_spark.operators.cascade import extract_record
from ocr_spark.plans import pipeline
from ocr_spark.sources import payload as pl
from ocr_spark.sources import snapshot
from ocr_spark.textlib import charset, htmltext

from . import checks
from .common import SCRATCH, quiet, tree_peak_rss_mb
from .inputs import Corpus, classify_row
from .workloads import commit_sample, curate_argv

#: Companion sample sizes for layers the workload's pass does not reach.
PROBE_ROWS = {"cc": 600, "web": 300}
#: Repeats of each noop prefix; the minimum is kept. The cheap prefixes
#: (scan, classify, salt; the curate exact-dedup prefix) differ by less
#: than one pass's noise, so they get more repeats than the Arrow stage.
PREFIX_REPEATS = 4
ARROW_REPEATS = 2
#: Manifest commits timed on a scratch copy of a snapshot table.
COMMIT_REPEATS = 20

KYC_TYPES = ("salary_slip", "bank_statement", "itr", "aadhaar", "pan",
             "driving_license", "employee_id", "appointment_letter")
BRANCHES = ("text", "vector_pdf", "scanned_pdf", "tesseract", "image")
#: sources.payload calls that mark the cascade branch a document took,
#: first match wins; a document that makes none of them took the text
#: branch (its ``text`` column).
BRANCH_MARKS = (("tesseract", ("doc_tesseract", "tesseract_extract")),
                ("scanned_pdf", ("pdf_extract_images",)),
                ("vector_pdf", ("pdf_extract_text",)),
                ("image", ("image_payload",)))
CURATE_STAGES = ("input", "lang", "gopher", "c4", "exact_dedup", "neardup")
_MATERIALIZE_STAGE = {"scrubbed": "scrub", "cleaned": "clean",
                      "repaired": "repair", "signals": "gates"}


class Tracer:
    """Spans kept in memory, plus DataFrames the traced program built,
    kept to be counted after the traced call returns."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.frames: dict[str, DataFrame] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return self.duration(rec) - sum(self.duration(s) for s in kids)

    def total(self, name: str, under: dict | None = None) -> float:
        return sum(self.duration(s) for s in self.find(name, under))

    def find(self, name: str, under: dict | None = None) -> list[dict]:
        spans = self.spans if under is None else self.within(under)
        return [s for s in spans if s["name"] == name]

    def within(self, root: dict) -> list[dict]:
        """``root`` and the spans below it."""
        out = []
        for s in self.spans:
            p = s["id"]
            while p is not None and p != root["id"]:
                p = self.spans[p]["parent"]
            if p is not None:
                out.append(s)
        return out

    @contextlib.contextmanager
    def patched(self, owner, attr: str, name: str, fn=None):
        """Within the block, calls to ``owner.attr`` run inside a span
        (or through ``fn(real, *args, **kwargs)`` when given)."""
        real = getattr(owner, attr)

        @functools.wraps(real)
        def wrapper(*args, **kwargs):
            if fn is not None:
                return fn(real, *args, **kwargs)
            path = args[1] if len(args) > 1 and isinstance(args[1], str) \
                else None
            with self.span(name, path=path):
                return real(*args, **kwargs)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, real)


class TracedResult:
    def __init__(self):
        self.metrics: dict = {}
        self.attempted = 0
        self.failed = 0
        self.tracer: Tracer | None = None

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}


def dump(result: TracedResult, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tr = result.tracer
    spans = [{**s, "self": tr.self_time(s)} for s in tr.spans]
    with open(path, "w") as f:
        json.dump({"spans": spans, "metrics": result.metrics}, f, indent=1)


# ------------------------------------------------------- Spark counters
_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}


def _metric_value(text: str) -> float:
    """A formatted SQL metric ('12', '2.8 s', 'total (...)\\n5.3 MiB (...)')
    in seconds, bytes or a plain count."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def last_sql_metrics(spark) -> dict[str, float]:
    """'Node|metric' -> value, summed over nodes, for the latest SQL
    execution of the session (read from Spark's SQL status store)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    eid = execs.apply(execs.size() - 1).executionId()
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    out: dict[str, float] = {}
    for i in range(nodes.size()):
        node = nodes.apply(i)
        ms = node.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                key = f"{node.name().strip()}|{m.name()}"
                out[key] = out.get(key, 0.0) + _metric_value(v.get())
    return out


def job_group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in (st.getJobInfo(j).stageIds
                                        if st.getJobInfo(j) else [])}
    tasks = sum(st.getStageInfo(s).numTasks for s in stages
                if st.getStageInfo(s) is not None)
    return len(jobs), len(stages), tasks


@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def walls_of(fn, repeats: int = PREFIX_REPEATS) -> list[float]:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return walls


def best_of(fn, repeats: int = PREFIX_REPEATS) -> float:
    return min(walls_of(fn, repeats))


# ------------------------------------------------------ instrumentation
@contextlib.contextmanager
def instrumented(tr: Tracer):
    """Spans around the public calls job.main makes into each layer."""
    patches = [
        (snapshot, "run_with_checkpoint", "snapshot.run_with_checkpoint"),
        (snapshot.SnapshotTable, "remaining_input", "snapshot.remaining_input"),
        (snapshot.SnapshotTable, "commit", "snapshot.commit"),
        (pipeline, "run_extraction", "pipeline.run_extraction"),
        (pipeline, "partition_metrics", "pipeline.partition_metrics"),
        (DataFrameReader, "parquet", "source.parquet"),
        (DataFrameWriter, "parquet", "sink.parquet"),
        (DataFrame, "count", "action.count"),
        (curate_mod, "dedup_resolve", "curate.resolve"),
    ]
    with contextlib.ExitStack() as stack:
        for owner, attr, name in patches:
            stack.enter_context(tr.patched(owner, attr, name))
        stack.enter_context(tr.patched(
            curate_mod, "curate", "curate.curate",
            functools.partial(_traced_curate, tr)))
        stack.enter_context(tr.patched(
            curate_mod, "minhash_lsh_pairs", "curate.neardup_pairs",
            functools.partial(_traced_minhash, tr)))
        yield


def _traced_curate(tr: Tracer, real, *args, **kwargs):
    """curate() with each materialize cut in its own span: the cut is
    where the lazy stage above it runs. The cut frames are kept."""
    materialize = kwargs["materialize"]

    def timed(df, name):
        with tr.span(f"curate.materialize.{name}"):
            out = tr.frames[f"curate.{name}"] = materialize(df, name)
        return out

    kwargs["materialize"] = timed
    with tr.span("curate.curate"):
        return real(*args, **kwargs)


def _traced_minhash(tr: Tracer, real, df, *args, **kwargs):
    """minhash_lsh_pairs() as called, in a span. Keeps the documents it
    is fed, the candidate pairs it checkpoints and the verified pairs
    it returns, to be counted after the traced call."""

    def keep_candidates(checkpoint, frame, *a, **kw):
        out = checkpoint(frame, *a, **kw)
        if out.columns == ["id_a", "id_b"]:
            tr.frames["dedup.candidates"] = out
        return out

    with tr.patched(DataFrame, "localCheckpoint", "dedup.checkpoint",
                    keep_candidates), tr.span("curate.neardup_pairs"):
        pairs = real(df, *args, **kwargs)
    tr.frames["dedup.docs"] = df
    tr.frames["dedup.pairs"] = pairs
    return pairs


@contextlib.contextmanager
def traced_call(tr: Tracer, name: str):
    """Within the block, job.main runs in a span called ``name``, with
    spans around the layer calls it makes."""
    with instrumented(tr), tr.patched(job, "main", name):
        yield


# ------------------------------------------------------- the traced run
def traced_run(w, calls, k: int, first_setup) -> TracedResult:
    """The traced call of workload ``w`` and the layer probes. ``calls``
    are the untraced timed calls of the same run."""
    res = TracedResult()
    tr = res.tracer = Tracer(f"{w.name}-seed{w.seed}")
    spark = w.spark
    res.put("session.jvm_start_s", first_setup[0], "s")
    res.put("session.worker_warm_s", first_setup[1], "s")
    res.put("proc.cpu_util",
            statistics.median(c.cpu / (c.wall * k) for c in calls), "share")

    # The workload's own call, traced.
    with traced_call(tr, "job.main"):
        call = w.run_call()
    root, = tr.find("job.main")
    traced_table = getattr(w, "table", None)
    # Overhead: against the untraced calls just before and after it, as
    # the session still speeds up from call to call. Spark's counts come
    # from the untraced call.
    with job_group(spark, "perfbench-untraced"):
        after = w.run_call()
    res.attempted += call.docs + after.docs
    res.failed += call.failed + after.failed
    untraced = (calls[-1].docs / calls[-1].wall + after.docs / after.wall) / 2
    res.put("trace.docs_per_s_ratio", call.docs / call.wall / untraced,
            "ratio")
    jobs, stages, tasks = job_group_counts(spark, "perfbench-untraced")
    res.put("spark.jobs", jobs, "count")
    res.put("spark.stages", stages, "count")
    res.put("spark.tasks", tasks, "count")

    # Extraction: the traced pass over the workload's input, then its
    # noop-prefix split, against the untraced wall of the same pass.
    if w.kind == "curate":
        def extract(name):
            table = os.path.join(SCRATCH, name)
            quiet(job.main, ["--input", w.input, "--table", table,
                             "--metrics", table + "-metrics"], spark=spark)
            return table

        t0 = time.perf_counter()
        extract("untraced-extract-table")
        untraced_wall = time.perf_counter() - t0
        with traced_call(tr, "job.main.extract"):
            table = extract("trace-extract-table")
        xroot, = tr.find("job.main.extract")
    else:
        table, xroot = traced_table, root
        untraced_wall = statistics.median(c.wall for c in calls)
    extraction_split(res, tr, spark, w.input, xroot, table, untraced_wall)

    snapshot_probes(res, tr, spark, w)
    kernel_probes(res, tr, w)
    if w.kind == "curate":
        curate_metrics(res, tr, root, call.summary)
    else:
        # A seeded tenth of the workload's corpus, curated the way
        # curate_funnel does it.
        table = commit_sample(spark, w.input, w.seed, "trace-curate")
        with traced_call(tr, "job.main.curate"):
            summary = quiet(job.main, curate_argv(table, table + "-out"),
                            spark=spark)
        curate_metrics(res, tr, tr.find("job.main.curate")[0], summary)
    res.put("proc.peak_rss_mb", tree_peak_rss_mb(), "MB")
    return res


def extraction_split(res: TracedResult, tr: Tracer, spark, input_path: str,
                     root: dict, table: str, untraced_wall: float) -> None:
    """pipeline / udfs / sink metrics: noop prefixes of the extraction
    plan over ``input_path``, against the traced pass under ``root``
    that wrote ``table``. ``untraced_wall`` is the wall of the same
    pass untraced."""
    parts = spark.sparkContext.defaultParallelism * 2  # job.main default
    df = spark.read.parquet(input_path)
    salted = pipeline.salt_partitions(pipeline.classify(df).drop("meta"),
                                      parts)
    walls, raw = {}, {}
    for name, frame, repeats in (
            ("scan", df, PREFIX_REPEATS),
            ("classify", pipeline.classify(df), PREFIX_REPEATS),
            ("salt", salted, PREFIX_REPEATS),
            ("arrow", pipeline.run_extraction(spark, df, "trace", parts),
             ARROW_REPEATS)):
        with tr.span(f"split.{name}"):
            raw[name] = walls_of(lambda: noop(frame), repeats)
        walls[name] = min(raw[name])
        if name == "salt":
            shuffle = last_sql_metrics(spark)
    py = last_sql_metrics(spark)
    scan, cls, salt, arrow = (walls[n] for n in
                              ("scan", "classify", "salt", "arrow"))
    with tr.span("trace.counters"):
        sizes = [r["count"] for r in salted.select(
            F.spark_partition_id().alias("p")).groupBy("p").count()
            .collect()]
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    res.put("pipeline.scan_s", scan, "s")
    res.put("pipeline.classify_s", cls - scan, "s")
    res.put("pipeline.salt_s", salt - cls, "s")
    res.put("pipeline.shuffle_mb",
            shuffle.get("Exchange|shuffle bytes written", 0.0) / 1e6, "MB")
    res.put("pipeline.partition_rows_max_over_mean",
            max(sizes) / (sum(sizes) / parts), "ratio")
    res.put("udfs.arrow_stage_s", arrow - salt, "s")
    for name, key, scale, unit in (
            ("python_boot_s", "time to start Python workers", 1, "s"),
            ("python_init_s", "time to initialize Python workers", 1, "s"),
            ("python_total_s", "time to run Python workers", 1, "s"),
            ("data_sent_mb", "data sent to Python workers", 1e-6, "MB"),
            ("data_received_mb", "data returned from Python workers", 1e-6,
             "MB")):
        res.put(f"udfs.{name}", py.get(f"MapInArrow|{key}", 0.0) * scale,
                unit)
    res.put("udfs.batches", sum(math.ceil(n / batch) for n in sizes),
            "count")

    run_dir = os.path.join(table, "data")
    writes = [s for s in tr.find("sink.parquet", root)
              if (s["path"] or "").startswith(run_dir)]
    metric_writes = [s for s in tr.find("sink.parquet", root)
                     if s not in writes]
    write = sum(tr.duration(s) for s in writes)
    res.put("sink.write_s", write - arrow, "s")
    res.put("sink.out_mb", checks.data_bytes(run_dir) / 1e6, "MB")
    res.put("sink.files", len(checks.parquet_files(run_dir)), "count")
    metrics_s = sum(tr.duration(s) for s in metric_writes)
    res.put("pipeline.metrics_s", metrics_s, "s")
    # The pipeline, udfs and sink layer times (scan + classify + salt +
    # arrow + sink + metrics, which telescopes to the traced parquet
    # writes) as a share of the untraced pass wall. The rest of the
    # traced pass is listed by span: snapshot bookkeeping, source
    # listings, the count-back and job.main's own time.
    accounted = (write + metrics_s) / untraced_wall
    res.put("trace.accounted_share", accounted, "share")
    rest: dict[str, float] = {}
    for s in tr.within(root):
        if s["name"] != "sink.parquet":
            rest[s["name"]] = rest.get(s["name"], 0.0) + tr.self_time(s)
    print(f"perfbench: extraction split vs untraced pass wall "
          f"{untraced_wall:.3f} s (traced {tr.duration(root):.3f} s): scan "
          f"{scan:.3f}, classify {cls - scan:.3f}, salt {salt - cls:.3f}, "
          f"arrow {arrow - salt:.3f}, sink {write - arrow:.3f}, metrics "
          f"{metrics_s:.3f}; accounted share {accounted:.3f}; self time "
          f"outside the split: "
          f"{ {n: round(t, 3) for n, t in rest.items()} }", file=sys.stderr)
    print(f"perfbench: noop prefix walls (s): "
          f"{ {n: [round(x, 4) for x in ws] for n, ws in raw.items()} }",
          file=sys.stderr)


def snapshot_probes(res: TracedResult, tr: Tracer, spark, w) -> None:
    """sources.snapshot: a seeded committed/new split of the input,
    then the resume anti-join, the resume pass, the no-op rerun, a full
    read, and manifest commits on a scratch copy."""
    table = os.path.join(SCRATCH, "trace-resume")
    committed_in = os.path.join(SCRATCH, "trace-resume-input")
    full = spark.read.parquet(w.input)
    (full.filter(F.pmod(F.xxhash64("url", F.lit(w.seed)), F.lit(4)) != 0)
     .write.parquet(committed_in))
    quiet(job.main, ["--input", committed_in, "--table", table], spark=spark)
    snap = snapshot.SnapshotTable(table)
    before = snap.current_snapshot()
    with tr.span("snapshot.remaining"):
        t0 = time.perf_counter()
        remaining = snap.remaining_input(spark, full).count()
        res.put("snapshot.remaining_s", time.perf_counter() - t0, "s")
    n = len(w.corpus)
    argv = ["--input", w.input, "--table", table]
    with tr.span("snapshot.resume") as span:
        resumed = quiet(job.main, argv, spark=spark)
    res.put("snapshot.resume_s", tr.duration(span), "s")
    with tr.span("snapshot.noop_rerun") as span:
        rerun = quiet(job.main, argv, spark=spark)
    res.put("snapshot.noop_rerun_s", tr.duration(span), "s")
    # Every url committed exactly once; the rerun processed nothing and
    # added no snapshot.
    urls = checks.read_columns(os.path.join(table, "data"), ["url"])["url"]
    counts = {"missing": n - len(set(urls)),
              "duplicated": len(urls) - len(set(urls)),
              "resumed": abs(resumed["processed"] - remaining),
              "split": abs(before["committed_rows"] + remaining - n),
              "rerun": rerun["processed"] + (
                  snap.current_snapshot()["sequence"] != resumed["snapshot"])}
    if checks.failed_docs(counts):
        print(f"perfbench: snapshot check: {counts}", file=sys.stderr)
    res.attempted += n
    res.failed += checks.failed_docs(counts)
    with tr.span("snapshot.read"):
        res.put("snapshot.read_s", best_of(lambda: noop(snap.read(spark)), 1),
                "s")
    copy = os.path.join(SCRATCH, "trace-commit")
    shutil.copytree(os.path.join(table, "snapshots"),
                    os.path.join(copy, "snapshots"))
    scratch = snapshot.SnapshotTable(copy)
    with tr.span("snapshot.commit_probe") as span:
        for i in range(COMMIT_REPEATS):
            scratch.commit(f"probe-{i:03d}", 1)
    res.put("snapshot.commit_s", tr.duration(span) / COMMIT_REPEATS, "s")


def _probe_rows(w, kind: str) -> list[dict]:
    """The workload's own rows of ``kind``, or a companion sample."""
    n = PROBE_ROWS[kind]
    own = "web" if w.kind == "web" else "cc"
    if own == kind:
        return w.input_rows()[:n]
    c = Corpus(kind, w.seed, n)
    return [c.row(k) for k in range(n)]


def cascade_branches(tr: Tracer, rows: list[dict],
                     kinds: list[tuple[str, str]]) -> dict[str, str]:
    """url -> the cascade branch ``extract_record`` takes on the row,
    read from the sources.payload calls it makes (untimed)."""
    called: set[str] = set()

    def mark(real, *args, _name, **kwargs):
        called.add(_name)
        return real(*args, **kwargs)

    out = {}
    with contextlib.ExitStack() as stack:
        for _, names in BRANCH_MARKS:
            for name in names:
                stack.enter_context(tr.patched(
                    pl, name, name, functools.partial(mark, _name=name)))
        for r, (doc_type, password) in zip(rows, kinds):
            called.clear()
            extract_record(r["url"], r["html"], r["text"] or "", doc_type,
                           password)
            out[r["url"]] = next((branch for branch, names in BRANCH_MARKS
                                  if called.intersection(names)), "text")
    return out


def kernel_probes(res: TracedResult, tr: Tracer, w) -> None:
    """In-process, one thread: functions.udfs assembly, the
    operators.cascade dispatch per doc type and branch, sources.payload
    decode (cc rows), and textlib.htmltext (web rows)."""
    rows = _probe_rows(w, "cc")
    kinds = [classify_row(r) for r in rows]
    schema = to_arrow_schema(schemas.INPUT_SCHEMA)
    table = pa.Table.from_pylist(rows, schema=schema)
    table = table.append_column("doc_type", pa.array([d for d, _ in kinds]))
    table = table.append_column("password", pa.array([p for _, p in kinds]))
    records: list[tuple[str, float, bool]] = []
    real = udfs.extract_record

    def timed(url, *args):
        t0 = time.perf_counter()
        rec = real(url, *args)
        records.append((url, time.perf_counter() - t0, rec["error"] is not None))
        return rec

    udfs.extract_record = timed
    try:
        with tr.span("kernel.udfs_assembly"):
            t0 = time.perf_counter()
            for _ in udfs.extract_arrow_batches(
                    iter(table.to_batches(max_chunksize=1024)), "trace"):
                pass
            total = time.perf_counter() - t0
    finally:
        udfs.extract_record = real
    n = len(records)
    res.put("udfs.assembly_us_per_doc",
            (total - sum(t for _, t, _ in records)) / n * 1e6, "us/doc")
    res.put("cascade.us_per_doc", sum(t for _, t, _ in records) / n * 1e6,
            "us/doc")
    res.put("cascade.error_docs", sum(e for _, _, e in records), "count")
    doc_types = {r["url"]: d for r, (d, _) in zip(rows, kinds)}
    branches = cascade_branches(tr, rows, kinds)
    by_type: dict[str, list[float]] = {}
    by_branch: dict[str, list[float]] = {}
    for url, t, _ in records:
        by_type.setdefault(doc_types[url], []).append(t)
        by_branch.setdefault(branches[url], []).append(t)
    for name, group in (("", by_type), ("branch.", by_branch)):
        for key in (KYC_TYPES if not name else BRANCHES):
            ts = group.get(key, [])
            res.put(f"cascade.{name}{key}.us_per_doc",
                    sum(ts) / len(ts) * 1e6 if ts else 0.0, "us/doc")

    with tr.span("kernel.payload"):
        t0 = time.perf_counter()
        for r, (_, password) in zip(rows, kinds):
            data = r["html"]
            try:
                if pl.is_pdf(data):
                    pl.pdf_extract_text(data, password)
                    pl.pdf_extract_images(data, password)
                else:
                    pl.image_payload(data)
            except pl.PayloadError:
                pass
        res.put("payload.decode_us_per_doc",
                (time.perf_counter() - t0) / len(rows) * 1e6, "us/doc")

    pages = [charset.sniff_decode(r["html"])[0]
             for r in _probe_rows(w, "web") if r["html"]]
    with tr.span("kernel.htmltext"):
        t0 = time.perf_counter()
        for page in pages:
            htmltext.extract_main(page)
        took = time.perf_counter() - t0
    res.put("htmltext.us_per_page", took / len(pages) * 1e6, "us/page")
    res.put("htmltext.mb_per_s",
            sum(len(p.encode()) for p in pages) / took / 1e6, "MB/s")


def curate_metrics(res: TracedResult, tr: Tracer, root: dict,
                   summary: dict) -> None:
    """operators.curate stage times and funnel counts of the traced
    curate call under ``root``. After that call: the dedup pair counts
    of the frames it built, and the exact-dedup time as the noop prefix
    of the near-dup input over the materialized signals it reads."""
    for name, stage in _MATERIALIZE_STAGE.items():
        res.put(f"curate.{stage}_s",
                tr.total(f"curate.materialize.{name}", root), "s")
    # As called: the lazily planned exact dedup above it runs inside.
    res.put("curate.neardup_pairs_s",
            tr.total("curate.neardup_pairs", root), "s")
    res.put("curate.resolve_s", tr.total("curate.resolve", root), "s")
    out = [s for s in tr.find("sink.parquet", root)
           if re.search(r"/(decisions|survivors|funnel)$", s["path"] or "")]
    res.put("curate.write_s", sum(tr.duration(s) for s in out), "s")
    funnel = summary["curate"]
    for stage in CURATE_STAGES:
        res.put(f"curate.{stage}.docs_out", funnel[stage]["out"], "count")

    frames = tr.frames
    with tr.span("trace.counters"):
        read = best_of(lambda: noop(frames["curate.signals"]))
        exact = best_of(lambda: noop(frames["dedup.docs"]))
        # No candidates frame: the program no longer checkpoints one.
        cand = (frames["dedup.candidates"].count()
                if "dedup.candidates" in frames else 0)
        verified = frames["dedup.pairs"].count()
    res.put("curate.exact_dedup_s", exact - read, "s")
    res.put("dedup.candidate_pairs", cand, "count")
    res.put("dedup.verified_pairs", verified, "count")
    res.put("dedup.pair_yield", verified / cand if cand else 0.0, "share")
