"""Seeded benchmark inputs, built from ``ocr_spark.sources.synth``.

The seed picks the row-index offset into ``synth.make_row`` /
``synth.make_web_row`` and, for the curate corpus, which rows get a
planted exact duplicate or near-duplicate. The same seed always gives
the same rows. Rows are built on the Spark executors and written to
parquet before any timed call; the program only ever sees the paths.
"""

from __future__ import annotations

import json
import random
import re

from ocr_spark.plans import pipeline
from ocr_spark.sources import synth

#: Documents per timed call, per corpus.
SIZES = {"cc": 6000, "web": 2000, "curate": 600}

#: Planted duplicates in the curate corpus, as a share of its base rows.
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05

_CC_HOST = "https://docs.synth.local/"
# Planted copies sort after their source url, so the keep-min-url
# exact dedup drops the copy and keeps the source.
_EXACT_HOST = "https://mirror.synth.local/"
_NEAR_HOST = "https://near.synth.local/"

_DOC_TYPE_RE = re.compile(pipeline.DOC_TYPE_PATTERN)


def offset(seed: int) -> int:
    """Row-index offset of a seed; keeps synth urls' 8-digit index."""
    return (seed * 1_000_003) % 90_000_000


class Corpus:
    """One seeded corpus: ``row(k)`` is row k, a pure function of the
    (kind, seed, size) triple. ``kind`` is "cc", "web" or "curate"."""

    def __init__(self, kind: str, seed: int, n: int | None = None):
        self.kind = kind
        self.seed = seed
        self.base = n if n is not None else SIZES[kind]
        self.off = offset(seed)
        # position -> (plant kind, source position)
        self.plants: dict[int, tuple[str, int]] = {}
        if kind == "curate":
            rng = random.Random(seed)
            n_exact = max(1, round(self.base * EXACT_DUP_SHARE))
            n_near = max(1, round(self.base * NEAR_DUP_SHARE))
            # Near-dups edit the text column, so their sources are the
            # rows that carry one (the cascade extracts from it).
            text_rows = [k for k in range(self.base)
                         if synth.make_row(self.off + k, "cc")["text"]]
            near_src = rng.sample(text_rows, min(n_near, len(text_rows)))
            exact_src = rng.sample(range(self.base), n_exact)
            pos = self.base
            for src in exact_src:
                self.plants[pos] = ("exact", src)
                pos += 1
            for src in near_src:
                self.plants[pos] = ("near", src)
                pos += 1

    def __len__(self) -> int:
        return self.base + len(self.plants)

    def row(self, k: int) -> dict:
        if self.kind == "web":
            return synth.make_web_row(self.off + k)
        if k not in self.plants:
            return synth.make_row(self.off + k, "cc")
        how, src = self.plants[k]
        r = synth.make_row(self.off + src, "cc")
        if how == "exact":
            r["url"] = r["url"].replace(_CC_HOST, _EXACT_HOST, 1)
        else:
            r["url"] = r["url"].replace(_CC_HOST, _NEAR_HOST, 1)
            lines = r["text"].split("\n")
            lines[-1] = "Revised copy of this record, kept for audit."
            r["text"] = "\n".join(lines)
        return r

    def exact_dup_urls(self) -> list[str]:
        return [self.row(k)["url"] for k, (how, _) in self.plants.items()
                if how == "exact"]

    def write(self, spark, path: str, partitions: int) -> None:
        """Build the rows on the executors and write them as parquet."""
        from ocr_spark import schemas
        row = self.row
        rdd = spark.sparkContext.parallelize(range(len(self)), partitions)
        (spark.createDataFrame(rdd.map(row), schema=schemas.INPUT_SCHEMA)
         .write.mode("overwrite").parquet(path))


def classify_row(r: dict) -> tuple[str, str]:
    """(doc_type, password) as ``plans.pipeline.classify`` derives them."""
    meta = json.loads(r["meta"]) if r.get("meta") else {}
    doc_type = meta.get("doc_type") or ""
    if not doc_type:
        m = _DOC_TYPE_RE.search(r["url"])
        doc_type = m.group(1) if m else ""
    return doc_type, meta.get("password") or ""
