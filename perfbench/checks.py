"""Output checks, run outside the timed window.

The checks count documents that failed, by kind: missing, duplicated,
differing from the expected value, or unexpected. Rows that hit an
error path by design are correct when their ``error`` matches.
"""

from __future__ import annotations

import glob
import hashlib
import os
from collections import Counter

import pyarrow.parquet as pq

from ocr_spark.operators.cascade import extract_record

from .inputs import classify_row


def _digest(*parts) -> str:
    h = hashlib.sha1()
    for p in parts:
        h.update(b"\x00" if p is None else b"\x01" + str(p).encode())
    return h.hexdigest()


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def data_bytes(*paths: str) -> int:
    return sum(os.path.getsize(f) for p in paths for f in parquet_files(p))


def read_columns(path: str, columns: list[str]) -> dict[str, list]:
    files = parquet_files(path)
    out: dict[str, list] = {c: [] for c in columns}
    for f in files:
        t = pq.read_table(f, columns=columns)
        for c in columns:
            out[c].extend(t.column(c).to_pylist())
    return out


def reference_extraction(rows: list[dict]) -> dict[str, str]:
    """url -> digest of (url, extracted_text, error), by calling
    ``extract_record`` in this process on the input rows."""
    ref = {}
    for r in rows:
        doc_type, password = classify_row(r)
        rec = extract_record(r["url"], r["html"], r["text"] or "",
                             doc_type, password)
        ref[r["url"]] = _digest(r["url"], rec["extracted_text"],
                                rec["error"])
    return ref


def extraction_digests(run_dir: str) -> list[tuple[str, str]]:
    cols = read_columns(run_dir, ["url", "extracted_text", "error"])
    return [(u, _digest(u, t, e)) for u, t, e in
            zip(cols["url"], cols["extracted_text"], cols["error"])]


def compare(expected: dict[str, str], got: list[tuple[str, str]]) -> dict:
    """Counts of missing, duplicated, differing and unexpected urls."""
    seen = Counter(u for u, _ in got)
    differing = {u for u, d in got if u in expected and d != expected[u]}
    return {"missing": sum(1 for u in expected if u not in seen),
            "duplicated": sum(c - 1 for c in seen.values() if c > 1),
            "differing": len(differing),
            "unexpected": sum(1 for u in seen if u not in expected)}


def failed_docs(counts: dict) -> int:
    return sum(counts.values())


def corpus_digest(pairs) -> str:
    """Order-free digest of (url, digest) pairs: the golden value."""
    return _digest(*sorted(f"{u}:{d}" for u, d in pairs))


def decision_digests(decisions_dir: str) -> list[tuple[str, str]]:
    cols = ["url", "lang_ok", "gopher_ok", "c4_ok", "exact_ok",
            "neardup_ok", "final_keep", "curated_text"]
    t = read_columns(decisions_dir, cols)
    return [(u, _digest(*vals)) for u, *vals in zip(*(t[c] for c in cols))]


def curate_failures(decisions_dir: str, input_urls: list[str],
                    exact_dup_urls: list[str],
                    golden: dict | None, funnel: dict) -> dict:
    """Row conservation, planted exact duplicates dropped, and (for the
    default seed) the decisions digest and funnel counts."""
    got = decision_digests(decisions_dir)
    counts = compare({u: "" for u in input_urls},
                     [(u, "") for u, _ in got])
    counts.pop("differing")
    keep = dict(zip(*read_columns(decisions_dir,
                                  ["url", "final_keep"]).values()))
    counts["dup_kept"] = sum(1 for u in exact_dup_urls if keep.get(u))
    if golden is not None:
        ok = (corpus_digest(got) == golden["decisions"]
              and funnel == golden["funnel"])
        counts["golden"] = 0 if ok else len(input_urls)
    return counts
