#!/usr/bin/env python
"""CLI with the reference's three modes (dispatch parity: src/main.c:7-15) on Spark.

  python scripts/cli.py dedup  --input <pages parquet> --output <dir> [--mode sentence]
                               [--max-length N] [--work-dir DIR]
  python scripts/cli.py verify --input <deduped parquet> [--mode sentence]
  python scripts/cli.py search --input <pages parquet> --query "substring"

dedup: full pipeline, writes per-doc deduped text + prints the reference-style summary
(matched/unique/dups/% — src/dedup.c:1113-1141). verify: re-scan output, exit nonzero
on any duplicate (src/verify_mode.c:501-560). search: fingerprint index + probe,
prints url:pos hits and totals (src/search_mode.c:677-686).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _session(cores=None):
    from corpus_dedup_spark.plans.session import build_session

    s = build_session(app_name="corpus_dedup_cli",
                      master=f"local[{cores}]" if cores else None)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _as_pages(df):
    """Accept either the pages schema (url, text, ...) or a documents-shaped
    table (doc_id, text, ...): any non-url id column is cast to a url string."""
    if "url" in df.columns:
        return df
    for cand in ("doc_id", "id"):
        if cand in df.columns:
            from pyspark.sql import functions as F

            return df.withColumn("url", F.col(cand).cast("string"))
    raise SystemExit("input needs a url, doc_id or id column")


def _apply_mask(pages, mask: str):
    """The reference filters input files by an fnmatch mask (default '*.txt',
    src/config.c:4; matcher src/dedup.c:899-1014). The engine's unit of input is a
    table row, so the mask applies to the url column; default '*' keeps all rows."""
    if mask and mask != "*":
        from pyspark.sql import functions as F

        from corpus_dedup_spark.functions.text import glob_to_rlike

        return pages.filter(F.col("url").rlike(glob_to_rlike(mask)))
    return pages


def cmd_dedup(args) -> int:
    from corpus_dedup_spark.operators.exact_dedup import run_exact_dedup_observed

    spark = _session(args.cores)
    pages = _apply_mask(_as_pages(spark.read.parquet(args.input)), args.mask)
    t0 = time.time()
    # single job: the write computes the output AND the summary counters
    deduped, obs = run_exact_dedup_observed(pages, args.mode, args.max_length)
    deduped.write.mode("overwrite").parquet(args.output)
    s = spark.read.parquet(args.output)
    n_written = s.count()
    st = obs.get
    elapsed = time.time() - t0
    total = st["total_units"]
    dups = st["duplicate_units"]
    pct = (100.0 * dups / total) if total else 0.0
    n_in = pages.count()
    print(f"Matched {n_in} docs; wrote {n_written} "
          f"({n_in - n_written} empty)")
    print(f"Unique units: {st['unique_units']}; duplicates: {dups} ({pct:.2f}%)")
    print(f"Processed {st['bytes_processed']} bytes in {elapsed / 60:.2f} min "
          f"({n_in / elapsed:.2f} docs/s)")
    return 0


def cmd_verify(args) -> int:
    from corpus_dedup_spark.operators.exact_dedup import verify_no_duplicates

    spark = _session(args.cores)
    deduped = spark.read.parquet(args.input)
    text_col = "dedup_text" if "dedup_text" in deduped.columns else "text"
    dups = verify_no_duplicates(
        deduped.withColumnRenamed(text_col, "dedup_text"), args.mode, args.max_length)
    print(f"duplicate units: {dups}")
    return 0 if dups == 0 else 1


def _run_one_search(spark, pages, query: str, limit: int, idx_cache: dict) -> None:
    from corpus_dedup_spark import kernel
    from corpus_dedup_spark.operators.search import (build_fingerprint_index,
                                                     search, search_report,
                                                     with_line_col)

    qlen = len(kernel.utf8_decode_buffer(query.encode()))
    if qlen == 0:
        print("empty query")
        return
    t0 = time.time()
    # squash=False: the reference's search mode indexes the RAW decoded text
    # (src/search_mode.c:189-204 — no newline squash, unlike dedup mode).
    # The fingerprint index is per window length; the REPL caches one persisted
    # index per distinct query length (the Spark analog of the reference's
    # build-once-probe-many block tree, src/search_mode.c:641-687).
    if qlen not in idx_cache:
        idx_cache[qlen] = build_fingerprint_index(
            pages, window=qlen, squash=False).persist()
    hits = search(idx_cache[qlen], pages, query).persist()
    # url:line:col hit lines, as the reference prints (src/search_mode.c:288)
    for r in with_line_col(hits, pages).limit(limit).collect():
        print(f"{r['url']}:{r['line']}:{r['col']}")
    rep = search_report(hits).collect()[0]
    print(f"hits: {rep['total_hits']}; docs with hits: {rep['docs_with_hits']}; "
          f"took {time.time() - t0:.2f}s")
    hits.unpersist()


def cmd_search(args) -> int:
    spark = _session(args.cores)
    pages = _apply_mask(_as_pages(spark.read.parquet(args.input)), args.mask)
    pages = pages.persist()
    idx_cache: dict = {}
    if args.query is not None:
        _run_one_search(spark, pages, args.query, args.limit, idx_cache)
        return 0
    # interactive probe loop (reference REPL, src/search_mode.c:641-687):
    # one query per line on stdin; blank line or EOF exits
    while True:
        try:
            line = input("search> ")
        except EOFError:
            break
        q = line.rstrip("\n")
        if not q:
            break
        _run_one_search(spark, pages, q, args.limit, idx_cache)
    return 0


def main() -> None:
    ap = argparse.ArgumentParser(prog="corpus_dedup_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("dedup", "verify", "search"):
        p = sub.add_parser(name)
        p.add_argument("--input", required=True)
        p.add_argument("--mode", default="sentence",
                       choices=["sentence", "line", "paragraph", "document"])
        p.add_argument("--max-length", type=int, default=0)
        p.add_argument("--cores", type=int, default=None)
        p.add_argument("--mask", default="*",
                       help="fnmatch glob applied to url (reference: file mask, "
                            "default '*.txt'; tables default to '*')")
        if name == "dedup":
            p.add_argument("--output", required=True)
        if name == "search":
            p.add_argument("--query", default=None,
                           help="one-shot query; omit for the interactive "
                                "probe loop (queries on stdin, blank to exit)")
            p.add_argument("--limit", type=int, default=20)
    args = ap.parse_args()
    sys.exit({"dedup": cmd_dedup, "verify": cmd_verify, "search": cmd_search}[args.cmd](args))


if __name__ == "__main__":
    main()
