"""Physical-plan audit: capture .explain('formatted') for the headline
queries and check the plan properties that matter at 100 TB:

  * column pruning  — text-only queries must NOT read the html blob
    column (ReadSchema excludes it);
  * predicate pushdown — filters reach the parquet scan (PushedFilters);
  * broadcast joins — small dimension sides broadcast, no shuffle;
  * whole-stage codegen — expression stages stay JVM-side.

Writes BENCH/plans.md with the verdict table + selected plan excerpts.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from ocr_spark.session import build_session

    spark = build_session("plan_audit", master="local[8]",
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    checks = []  # (query, property, ok, evidence)

    def check(name, prop, ok, evidence=""):
        checks.append((name, prop, ok, evidence))

    plans: dict[str, str] = {}
    for name, fn in qs.items():
        try:
            plans[name] = plan_of(fn(spark, sf_dir))
        except Exception as e:  # pragma: no cover
            plans[name] = f"ERROR: {e}"

    # 1. Column pruning: quality_score reads only (doc_id, text).
    p = plans["quality_score"]
    pruned = "ReadSchema" in p and "n_chars" not in p and "source" not in p
    check("quality_score", "column pruning (only doc_id,text scanned)",
          pruned, next((ln.strip() for ln in p.splitlines()
                        if "ReadSchema" in ln), ""))

    # 2. Predicate pushdown: missing_credits filters o_orderdate at scan.
    p = plans["missing_credits"]
    pushed = "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual" in p \
        or "GreaterThanOrEqual(o_orderdate" in p
    check("missing_credits", "predicate pushdown (o_orderdate filter at scan)",
          pushed, next((ln.strip() for ln in p.splitlines()
                        if "PushedFilters" in ln and "orderdate" in ln), ""))

    # 3. Broadcast joins: crosscheck_account broadcasts the statement dim;
    #    ann_bruteforce broadcasts the query set.
    for name in ("crosscheck_account", "ann_bruteforce", "missing_credits"):
        p = plans[name]
        bcast = "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
        check(name, "broadcast join (no shuffle of the big side)", bcast,
              next((ln.strip() for ln in p.splitlines()
                    if "Broadcast" in ln and "Join" in ln), ""))

    # 3b. r4: the exact top-k prunes executor-side — candidates-only
    #    shuffle (MapInPandas prune), no CartesianProduct cross join of
    #    the full corpus x query score matrix through the window.
    p = plans["ann_bruteforce"]
    check("ann_bruteforce",
          "BLAS prune: candidates-only shuffle into the ranking window",
          "MapInPandas" in p and "CartesianProduct" not in p,
          f"MapInPandas={'MapInPandas' in p}")

    # 4. Whole-stage codegen on the expression-heavy extract queries.
    #    AQE hides codegen stage annotations in the pre-execution
    #    formatted plan, so check the non-adaptive simple plan: `*(n)`
    #    prefixes mark operators fused into a WholeStageCodegen stage.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for name in ("salary_amount", "token_stats", "pricing_summary"):
        p = plan_of(qs[name](spark, sf_dir), "simple")
        n_fused = p.count("*(")
        check(name, "whole-stage codegen (expressions stay JVM-side)",
              n_fused > 0, f"{n_fused} codegen-fused operators")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    # 5. Left anti join shape for missing_credits.
    check("missing_credits", "LeftAnti join strategy",
          "LeftAnti" in plans["missing_credits"], "")

    # 6. Hot-bucket caps compile into the LSH self-join plans (a Window
    #    count over the bucket keys feeding the join filter). The
    #    minhash pairs plan is lineage-CUT at the checkpointed band
    #    rows (perf fix: the ids-only capped rows feed three
    #    consumers), so its cap is audited on the candidate-generation
    #    half directly — same operators the pairs path runs upstream
    #    of the cut.
    from ocr_spark.operators import dedup as _dedup
    _docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mh_capped = _dedup.cap_buckets(
        _dedup.minhash_band_rows(_docs_df, hash_mode="md5"),
        ["band", "band_hash"], 1000)
    plans["minhash_pairs(banded)"] = plan_of(mh_capped)
    check("minhash_pairs(banded)",
          "hot-bucket cap in plan (window count over bucket keys)",
          "Window" in plans["minhash_pairs(banded)"]
          and "_bucket_n" in plans["minhash_pairs(banded)"], "")
    check("minhash_pairs",
          "pairs plan lineage-cut at ids-only band rows (ExistingRDD)",
          "ExistingRDD" in plans["minhash_pairs"]
          and "CartesianProduct" not in plans["minhash_pairs"],
          f"ExistingRDD={'ExistingRDD' in plans['minhash_pairs']}")
    p = plans["simhash_pairs"]
    check("simhash_pairs",
          "hot-bucket cap in plan (window count over bucket keys)",
          "Window" in p and "_bucket_n" in p, "")

    # 7. ngram_jaccard_pairs blocking rework (r3): the blocking-join
    #    exchange must be ids-only — shingle arrays never ride the
    #    (b, perm, anchor) shuffle (they re-join for candidates only).
    #    Formatted-plan detail blocks look like:
    #      (n) Exchange\nInput [k]: [id#.., b#.., perm#.., anchor#..]\n
    #      Arguments: hashpartitioning(b#.., perm#.., anchor#.., ...)
    from ocr_spark.operators import dedup as dedup_ops
    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pn = plan_of(dedup_ops.ngram_jaccard_pairs(docs_df))
    blocks = pn.split("\n\n")
    anchor_exchanges = [b for b in blocks
                        if "Exchange" in b.splitlines()[0]
                        and "anchor#" in b and "hashpartitioning" in b]
    ids_only = bool(anchor_exchanges) and all(
        "sh#" not in b for b in anchor_exchanges)
    check("ngram_jaccard_pairs",
          "ids-only blocking exchange (no shingle arrays in shuffle)",
          ids_only, f"{len(anchor_exchanges)} anchor-keyed exchange(s)")

    # 8. Webtext path (r3): the html page build + DOM extraction plan
    #    must be expression-build -> ONE exchange (the salt
    #    repartition) -> MapInArrow. Row-at-a-time Python
    #    (BatchEvalPython) anywhere in the plan is a fail, and so is a
    #    second shuffle (the page-construction expressions must fuse
    #    into the scan stage, not materialize).
    p = plans["html_main_text"]
    n_exchanges = sum(1 for b in p.split("\n\n")
                      if b.splitlines() and "Exchange" in b.splitlines()[0])
    check("html_main_text",
          "Arrow-vectorized DOM extract, single salt exchange",
          "MapInArrow" in p and "BatchEvalPython" not in p
          and n_exchanges == 1,
          f"{n_exchanges} exchange(s); MapInArrow={'MapInArrow' in p}")

    # 8b. PDF layout analysis (r3): span-page payload build is an Arrow
    #    pandas UDF (ArrowEvalPython), the layout pass itself rides
    #    MapInPandas (boxes) / MapInArrow (pipeline) — never
    #    row-at-a-time BatchEvalPython.
    p = plans["pdf_layout_boxes"]
    check("pdf_layout_boxes",
          "Arrow-vectorized layout pass (MapInPandas, no row UDF)",
          "MapInPandas" in p and "BatchEvalPython" not in p,
          f"MapInPandas={'MapInPandas' in p}")
    p = plans["pdf_layout"]
    check("pdf_layout",
          "layout inside the Arrow extraction cascade (no row UDF)",
          "MapInArrow" in p and "BatchEvalPython" not in p,
          f"MapInArrow={'MapInArrow' in p}")

    # 9a. r4: the Gopher repetition signals are expressions + two-level
    #     hash aggregation (map-side partial combine), never Python.
    p = plans["repetition_stats"]
    check("repetition_stats",
          "explode -> hash aggregation, no Python in plan",
          "HashAggregate" in p and "BatchEvalPython" not in p
          and "ArrowEvalPython" not in p,
          f"HashAggregate={'HashAggregate' in p}")

    # 9a2. r4 continuation: the FULL Gopher suite — one Generate pair
    #     (positions, then the 9-entry gram stack) feeds every n; the
    #     top/dup sides are hash aggregations; document text never
    #     rides past the Generate (ids + grams only); no Python.
    p = plans["repetition_full"]
    check("repetition_full",
          "stacked-explode -> hash aggs, no Python, no cartesian",
          "HashAggregate" in p and "Generate" in p
          and "BatchEvalPython" not in p and "ArrowEvalPython" not in p
          and "CartesianProduct" not in p,
          f"Generates={p.count('Generate explode')}")

    # 9b. r4: the five new `_sql` doc-type legs ride the same Arrow
    #     cascade as the flagship — MapInArrow, no row-at-a-time Python.
    for name in ("extract_itr_sql", "extract_aadhaar_sql",
                 "extract_pan_sql", "extract_dl_sql",
                 "extract_employee_sql"):
        p = plans[name]
        check(name, "Arrow-vectorized cascade (MapInArrow, no row UDF)",
              "MapInArrow" in p and "BatchEvalPython" not in p,
              f"MapInArrow={'MapInArrow' in p}")

    # 9c. r4: dedup_resolve's output frame (post label-propagation
    #     checkpoints) joins ids only and stays JVM-side.
    p = plans["dedup_resolve"]
    check("dedup_resolve",
          "ids-only component/survivor joins (no Python in plan)",
          "BatchEvalPython" not in p and "ERROR" not in p, "")

    # 9d. r4.1: the IVF ANN oracle leg assigns/probes cells with pure
    #     expressions against centroid literals (no Python eval in the
    #     plan) and the probe join broadcasts the small query side.
    p = plans["ivf_ann"]
    check("ivf_ann",
          "pure-expression cell assignment + broadcast probe join",
          "BatchEvalPython" not in p and "ArrowEvalPython" not in p
          and "MapInPandas" not in p and "BroadcastHashJoin" in p,
          f"BroadcastHashJoin={'BroadcastHashJoin' in p}")

    # 9e. r4.2: the media decode legs build their payloads with pure
    #     expressions (md5/unhex/concat at the scan — no Python before
    #     the single featurize exchange) and decode via Arrow-batched
    #     MapInPandas, never a row UDF.
    for name in ("pixel_decode", "audio_decode"):
        p = plans[name]
        check(name,
              "expression-built payloads + Arrow decode (MapInPandas only)",
              "MapInPandas" in p and "BatchEvalPython" not in p
              and "ArrowEvalPython" not in p,
              f"MapInPandas={'MapInPandas' in p}")

    # 9f. r4.2: per-domain stats are one hash aggregation over the
    #     pure-expression url_host key — partial (map-side) combine,
    #     no Python anywhere in the plan.
    p = plans["domain_stats"]
    check("domain_stats",
          "expression host key -> hash aggregation, no Python in plan",
          "HashAggregate" in p and "BatchEvalPython" not in p
          and "ArrowEvalPython" not in p and "MapInPandas" not in p,
          f"HashAggregate={'HashAggregate' in p}")

    # 9g. r4.3: PII redaction and the C4 line/page rules are pure
    #     codegen regex/array expressions — NO Python node of any kind
    #     in either plan.
    for name in ("pii_stats", "c4_stats"):
        p = plans[name]
        no_python = all(marker not in p for marker in
                        ("BatchEvalPython", "ArrowEvalPython",
                         "MapInPandas", "MapInArrow"))
        check(name, "pure codegen expressions (no Python node in plan)",
              no_python and "ERROR" not in p, "")

    # 9h. r4.3: clean_text is expressions around exactly ONE Arrow
    #     pandas UDF (the NFC normalizer — Spark has no builtin), and
    #     never row-at-a-time Python.
    p = plans["clean_text"]
    # Formatted plans print each node twice (tree sketch + detail
    # block) — count the `(n) ArrowEvalPython` detail headers.
    import re as _re
    n_arrow = len(_re.findall(r"^\(\d+\) ArrowEvalPython", p, _re.M))
    check("clean_text",
          "single Arrow NFC eval, no row UDF",
          n_arrow == 1 and "BatchEvalPython" not in p,
          f"ArrowEvalPython node x{n_arrow}")

    # 9i. r4.3: the LM scorer joins the exploded gram stream against
    #     the model BROADCAST (ids+grams only ride the shuffle to the
    #     per-doc aggregate); no Python anywhere.
    p = plans["lm_quality"]
    check("lm_quality",
          "broadcast model joins + hash aggregation, no Python in plan",
          "BroadcastHashJoin" in p and "HashAggregate" in p
          and "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          f"BroadcastHashJoin={'BroadcastHashJoin' in p}")

    # 9j. r4.3: the token-budget sampler's only window is PARTITIONED
    #     by the hash bucket (the boundary bucket's ordered cumsum) —
    #     a global unpartitioned window over the corpus would be the
    #     one-partition scale-killer the bucketed design exists to
    #     avoid.
    p = plans["token_sample"]
    window_blocks = [b for b in p.split("\n\n")
                     if b.splitlines() and "Window" in b.splitlines()[0]]
    bucketed = bool(window_blocks) and all(
        "_bucket" in b for b in window_blocks)
    check("token_sample",
          "boundary-bucket-partitioned window (no global cumsum)",
          bucketed, f"{len(window_blocks)} window block(s)")

    # 9k. r4.4: decontamination probes the benchmark n-gram set with a
    #     BROADCAST hash join (the exploded corpus gram stream is a
    #     map-side probe; only (id, count) partials shuffle) and the
    #     whole chain is expressions — no Python node of any kind.
    p = plans["decontam"]
    no_python = all(m not in p for m in
                    ("BatchEvalPython", "ArrowEvalPython",
                     "MapInPandas", "MapInArrow"))
    check("decontam",
          "broadcast benchmark probe + pure expressions, no Python",
          "BroadcastHashJoin" in p and no_python
          and "HashAggregate" in p,
          f"BroadcastHashJoin={'BroadcastHashJoin' in p}")

    # 9l. r4.4: the SemDeDup oracle leg assigns cells with pure
    #     expressions (assign_mode='expr'), caps hot cells in-plan
    #     (window count over the cell key), and self-joins keyed on
    #     the cell id — no CartesianProduct, no Python.
    p = plans["semantic_dedup"]
    check("semantic_dedup",
          "expression cell assignment + capped keyed self-join",
          "BatchEvalPython" not in p and "MapInPandas" not in p
          and "Window" in p and "_bucket_n" in p
          and "CartesianProduct" not in p,
          f"Window cap={'_bucket_n' in p}")

    # 9m. r4.4: intra-corpus substring dedup is two hash aggregations
    #     and one keyed join on the 8-byte gram hash — pure
    #     expressions, no broadcast of the corpus-sized owner table,
    #     no CartesianProduct.
    p = plans["substring_dup"]
    no_python = all(m not in p for m in
                    ("BatchEvalPython", "ArrowEvalPython",
                     "MapInPandas", "MapInArrow"))
    check("substring_dup",
          "keyed gram-hash join + hash aggregations, no Python",
          no_python and "HashAggregate" in p
          and "CartesianProduct" not in p,
          f"HashAggregate={'HashAggregate' in p}")

    # 9n. r4.4: the NB quality classifier scores with a BROADCAST
    #     model probe (the corpus-side token stream never shuffles
    #     before the per-doc partial agg) and the whole train+score
    #     chain is expressions.
    p = plans["quality_classify"]
    no_python = all(m not in p for m in
                    ("BatchEvalPython", "ArrowEvalPython",
                     "MapInPandas", "MapInArrow"))
    check("quality_classify",
          "broadcast model probe + pure expressions, no Python",
          "BroadcastHashJoin" in p and no_python
          and "HashAggregate" in p,
          f"BroadcastHashJoin={'BroadcastHashJoin' in p}")

    # 9o. r4.5: the curation-funnel decisions plan is CUT at the
    #     signals materialize boundary (the scrub regexes + Arrow NFC
    #     clean run once, upstream of it — visible as an ExistingRDD
    #     scan), so downstream carries NO Python node of any kind and
    #     every dedup join is keyed (no CartesianProduct).
    p = plans["curate_decisions"]
    no_python = all(m not in p for m in
                    ("BatchEvalPython", "ArrowEvalPython",
                     "MapInPandas", "MapInArrow"))
    check("curate_decisions",
          "materialize-cut plan: no Python downstream, keyed joins",
          no_python and "CartesianProduct" not in p
          and "ExistingRDD" in p,
          f"ExistingRDD={'ExistingRDD' in p}")

    # 9o2. The curate gate-signal and repair stages are per-document
    #     work: each stage plan (the frame handed to its materialize
    #     cut) has NO Exchange and exactly ONE Arrow Python node, whose
    #     input is a bare column of the scan of the cut before it —
    #     never the Gopher bigram shuffle, never a derived expression
    #     in the Python node's input projection (scrub.clean_text_col).
    from ocr_spark.operators import curate as curate_ops
    stage_plans = {}

    def _capture(df, name):
        stage_plans[name] = plan_of(df)
        return df.localCheckpoint()

    curate_ops.curate(entrymod._funnel_docs(spark, sf_dir),
                      hash_mode="md5", repair_lines=True,
                      materialize=_capture)
    for name in ("repaired", "signals"):
        p = plans[f"curate_stage({name})"] = stage_plans[name]
        arrow = [b for b in p.split("\n\n")
                 if _re.match(r"\(\d+\) ArrowEvalPython", b)]
        bare = len(arrow) == 1 and bool(_re.search(
            r"Arguments: \[\w+\(\w+#\d+L?\)#\d+\]", arrow[0]))
        scan_fed = "+- ArrowEvalPython" in p and _re.search(
            r"ArrowEvalPython \(\d+\)\n\s+\+- \* Scan ExistingRDD", p)
        n_python = sum(p.count(m) for m in (
            "BatchEvalPython", "MapInPandas", "MapInArrow"))
        check(f"curate_stage({name})",
              "no Exchange; one Arrow node over a bare column of the cut",
              "Exchange" not in p and "Join" not in p and bare
              and bool(scan_fed) and n_python == 0,
              f"ArrowEvalPython x{len(arrow)}, bare={bare}, "
              f"exchange={'Exchange' in p}")

    # 8f. Web graph (operators/webgraph.py): the outlink extraction is
    #    one Arrow pass (MapInPandas, no row UDF); host_rank's power
    #    iteration keeps every host-sized join keyed — the ONLY
    #    nested-loop join is the 1-row dangling-mass crossJoin, which
    #    must be broadcast.
    p = plans["outlinks"]
    check("outlinks", "Arrow link extraction (MapInPandas, no row UDF)",
          "MapInPandas" in p and "BatchEvalPython" not in p,
          f"MapInPandas={'MapInPandas' in p}")
    p = plans["host_rank"]
    check("host_rank",
          "keyed iteration joins; dangling mass via broadcast 1-row join",
          "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p
          and ("SortMergeJoin" in p or "BroadcastHashJoin" in p
               or "ShuffledHashJoin" in p),
          f"BNLJ={'BroadcastNestedLoopJoin' in p}")

    # 8g. Crawl gate (domains.robots_rules -> crawl_gate): the robots
    #    parse is one Arrow pass; both joins (url->rules on host,
    #    verdict back onto docs on url) are keyed — never a nested
    #    loop — and the rules side stays Arrow-fed (MapInPandas), so
    #    the corpus-sized legs carry ids/urls only.
    p = plans["crawl_gate"]
    check("crawl_gate",
          "Arrow robots parse + keyed host/url joins (no NLJ)",
          "MapInPandas" in p and "BatchEvalPython" not in p
          and "BroadcastNestedLoopJoin" not in p
          and "CartesianProduct" not in p
          and ("SortMergeJoin" in p or "BroadcastHashJoin" in p
               or "ShuffledHashJoin" in p),
          f"MapInPandas={'MapInPandas' in p}, NLJ absent")

    # 8h. WET sink (warc.write_wet manifest): exactly ONE exchange —
    #    the hash partition on the content-addressed segment key, which
    #    is the write amplification a distributed writer must pay —
    #    feeding one grouped-Arrow write pass (FlatMapGroupsInPandas);
    #    no row UDF, no second shuffle, no join.
    p = plans["wet_sink"]
    check("wet_sink",
          "one segment-key exchange into one grouped-Arrow write pass",
          "FlatMapGroupsInPandas" in p and "BatchEvalPython" not in p
          # tree lines only (each node also repeats in the detail
          # section): segment hash + the manifest orderBy, nothing else
          and p.count("+- Exchange") <= 2
          and "Join" not in p,
          f"FlatMapGroupsInPandas={'FlatMapGroupsInPandas' in p}, "
          f"exchanges={p.count('+- Exchange')}")

    # 8i. Sitemap parse (domains.sitemap_urls): one Arrow pass per
    #    host document — never a row UDF — and nothing else: the
    #    demand table is host-sized, so any join or exchange here
    #    would be parasitic.
    p = plans["sitemap_urls"]
    check("sitemap_urls",
          "single Arrow parse pass (MapInPandas, no row UDF, no join)",
          "MapInPandas" in p and "BatchEvalPython" not in p
          and "Join" not in p,
          f"MapInPandas={'MapInPandas' in p}")

    # 8i2. Feed parse (domains.feed_urls): same contract as the
    #    sitemap parse — one Arrow pass per host document, no row
    #    UDF, no join (the feed table is host-sized).
    p = plans["feed_urls"]
    check("feed_urls",
          "single Arrow parse pass (MapInPandas, no row UDF, no join)",
          "MapInPandas" in p and "BatchEvalPython" not in p
          and "Join" not in p,
          f"MapInPandas={'MapInPandas' in p}")

    # 8i3. Robots sitemap discovery (domains.robots_sitemaps): one
    #    Arrow pass over the host-sized robots table, nothing else.
    p = plans["robots_sitemaps"]
    check("robots_sitemaps",
          "single Arrow parse pass (MapInPandas, no row UDF, no join)",
          "MapInPandas" in p and "BatchEvalPython" not in p
          and "Join" not in p,
          f"MapInPandas={'MapInPandas' in p}")

    # 8i4. JSON-LD side table (webpage.structured_data): one Arrow
    #    pass per page next to the metadata side table — no row UDF,
    #    no join.
    p = plans["jsonld"]
    check("jsonld",
          "single Arrow parse pass (MapInPandas, no row UDF, no join)",
          "MapInPandas" in p and "BatchEvalPython" not in p
          and "Join" not in p,
          f"MapInPandas={'MapInPandas' in p}")

    # 8j. Crawl frontier (domains.crawl_frontier): the corpus-sized
    #    state join is keyed, the host-sized rank join broadcasts, the
    #    scoring is pure codegen (no Python anywhere in the plan).
    p = plans["crawl_frontier"]
    check("crawl_frontier",
          "keyed state join + broadcast rank join, pure-codegen score",
          "BroadcastHashJoin" in p
          and ("SortMergeJoin" in p or "ShuffledHashJoin" in p
               or p.count("BroadcastHashJoin") >= 2)
          and "BatchEvalPython" not in p and "MapInPandas" not in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p,
          f"BHJ={p.count('BroadcastHashJoin')}, "
          f"SMJ={'SortMergeJoin' in p}")

    # 8k. TF-IDF top-k (textstats.tfidf_topk): the top-k window must
    #    run with WindowGroupLimit pushdown (per-partition top-k
    #    BEFORE the window exchange — without it the shuffle carries
    #    the whole per-doc vocabulary), the idf join is keyed/broadcast,
    #    and the scoring is pure codegen.
    p = plans["tfidf_topk"]
    check("tfidf_topk",
          "WindowGroupLimit pushdown + keyed idf join, no Python",
          "WindowGroupLimit" in p and "BatchEvalPython" not in p
          and "MapInPandas" not in p and "CartesianProduct" not in p,
          f"WindowGroupLimit={'WindowGroupLimit' in p}")

    # 8l. BM25 retrieval (search.bm25_score + rounded-rank window):
    #    query terms and the per-term idf table must BROADCAST into
    #    the corpus tf probe (the df side is computed for query terms
    #    only — a full-vocabulary build here would be parasitic), the
    #    only nested-loop join is the 1-row corpus-stats crossJoin,
    #    the top-k window runs with WindowGroupLimit pushdown, and
    #    the whole plan is Python-free codegen.
    p = plans["bm25_topk"]
    check("bm25_topk",
          "broadcast query-term/idf probes + WindowGroupLimit, no Python",
          p.count("BroadcastHashJoin") >= 2
          and "WindowGroupLimit" in p
          and "BatchEvalPython" not in p and "MapInPandas" not in p
          and "CartesianProduct" not in p,
          f"BHJ={p.count('BroadcastHashJoin')}, "
          f"WindowGroupLimit={'WindowGroupLimit' in p}")

    # 8m. BPE encode (bpe.bpe_encode expression form): the chained-
    #    replace encoder is a pure codegen projection — no Python
    #    node, no join, nothing corpus-sized shuffles (the one
    #    exchange is the query's display orderBy). bpe_train's merge
    #    loop runs driver-side before this plan exists; what must stay
    #    clean is the corpus-wide encode pass.
    #    (The transform/filter higher-order lambdas evaluate as
    #    expressions inside ONE Project — they don't carry the
    #    WholeStageCodegen marker, so the check asserts the actual
    #    properties: a single projection, no Python, no join, and the
    #    only exchange is the display orderBy's range partition.)
    p = plans["bpe_encode"]
    check("bpe_encode",
          "one expression projection (no Python, no join, no shuffle)",
          "BatchEvalPython" not in p and "MapInPandas" not in p
          and "ArrowEvalPython" not in p and "Join" not in p
          and "Project" in p
          and p.count("+- Exchange") <= 1,
          f"exchanges={p.count('+- Exchange')}, join={'Join' in p}")

    # 8n. CCNet buckets (lmscore.ccnet_buckets over lm_quality): the
    #    per-language cutoffs are ONE aggregation whose result
    #    broadcasts back onto the corpus — no corpus-wide window, no
    #    per-language global sort (an ntile spelling would be one),
    #    and no Python anywhere.
    p = plans["ccnet_buckets"]
    check("ccnet_buckets",
          "agg-then-broadcast cutoffs; no corpus window, no Python",
          "BroadcastHashJoin" in p and "Window" not in p
          and "BatchEvalPython" not in p and "MapInPandas" not in p
          and "CartesianProduct" not in p,
          f"BHJ={'BroadcastHashJoin' in p}, window={'Window' in p}")

    # 8o2. Mixture sampler (sampling.mixture_sample): the per-group
    #    bounds table joins by BROADCAST, and the ordered cumsum
    #    window exists only on the boundary-bucket slice — the window
    #    partitions by group AFTER a bucket-equality filter, never as
    #    a global per-group sort of the whole corpus (the kept-whole
    #    leg is a plain filter).
    p = plans["mixture_sample"]
    check("mixture_sample",
          "broadcast bounds join; window only on boundary buckets",
          "BroadcastHashJoin" in p and "Window" in p
          and "BatchEvalPython" not in p and "MapInPandas" not in p
          and "CartesianProduct" not in p,
          f"BHJ={'BroadcastHashJoin' in p}, window={'Window' in p}")

    # 9. No CartesianProduct anywhere: every join is keyed or broadcast
    #    (the brute-force oracle baselines use broadcast nested loop,
    #    which bounds the big side to one scan).
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    check("(all queries)", "no CartesianProduct join in any plan",
          not offenders, ",".join(offenders) or "none")

    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    lines = ["# BENCH/plans.md — physical plan audit",
             "",
             f"Generated by tools/plan_audit.py against {sf_dir}.",
             "",
             "| query | property | verdict | evidence |",
             "|---|---|---|---|"]
    for name, prop, ok, ev in checks:
        lines.append(f"| {name} | {prop} | {'PASS' if ok else 'FAIL'} | "
                     f"`{ev[:120]}` |")

    lines += ["", "## Plan excerpts", ""]
    for name in ("quality_score", "crosscheck_account", "missing_credits",
                 "pricing_summary"):
        lines += [f"### {name}", "", "```",
                  plans[name].strip()[:4000], "```", ""]

    with open(f"{REPO}/BENCH/plans.md", "w") as f:
        f.write("\n".join(lines))

    n_fail = sum(1 for *_x, ok, _ in [(c[0], c[1], c[2], c[3])
                                      for c in checks] if not ok)
    for name, prop, ok, _ in checks:
        print(f"[{'PASS' if ok else 'FAIL'}] {name}: {prop}")
    print(f"\n{len(checks) - n_fail}/{len(checks)} plan properties hold "
          f"-> BENCH/plans.md")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
