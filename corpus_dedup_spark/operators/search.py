"""Rabin–Karp substring search over a fingerprint index (reference ``search`` mode).

The reference decodes every file to UTF-32, concatenates them into one global array,
builds prefix tables (base 1315423911, value = cp+1) and answers REPL queries by O(1)
window-hash probes + verify (ref: src/search_mode.c:98-149,248-314). Spark-first shape:
the "index" is a DataFrame of per-document window fingerprints for a given window size,
stored beside the text they were computed over (positions stay per-document — a global
array cannot scale). A query is one scan of the index: explode the fingerprints, keep
the hash hits, and verify each against the same row's text — no join back to the pages.
Query batches broadcast-join a tiny query table on the hash instead of the filter.

Like the reference, a hash match is only a candidate — verification compares the actual
text (quirk Q6, src/search_mode.c:286-294).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_dedup_spark import kernel
from corpus_dedup_spark.functions.udfs import make_window_fingerprints_udf


def query_hash(query: str) -> int:
    """Search-hash of a query string (base 1315423911, value = cp+1)."""
    cps = kernel.utf8_decode_buffer(query.encode("utf-8"))
    prefix, _ = kernel.rolling_prefix(cps, kernel.SEARCH_HASH_BASE, add=1)
    return int(np.uint64(prefix[len(cps)]).view(np.int64))


def build_fingerprint_index(pages: DataFrame, window: int, id_col: str = "url",
                            text_col: str = "text", squash: bool = True) -> DataFrame:
    """(id, fps: array<int64>, text: string) — per-document window-fingerprint
    postings plus the text they were computed over; ``fps[pos]`` is the
    rolling hash of the window starting at codepoint ``pos`` of ``text``.

    ``squash=True`` indexes the newline-squashed text (``\\n``/``\\r`` →
    space, quirk Q1) and stores that squashed text; ``squash=False`` indexes
    and stores the raw text. Either way a probe verifies a hash hit against
    the very text its position indexes, in the same row — no re-join to the
    pages (the reference likewise keeps the decoded text beside its prefix
    tables, src/search_mode.c:98-149,286-294).

    Persist/write this once per window size; queries of that length are then
    pure probes. At scale: partition by whash bucket for probe locality.

    Layout: ONE posting-array row per document, not one row per position.
    The persisted index is ~n_docs rows instead of ~n_chars rows (measured
    far cheaper to materialize and cache — the exploded form was 14.5M rows
    for 50k docs), and probes explode it lazily inside whole-stage codegen
    (:func:`explode_fingerprints` — Generate streams, nothing materializes
    the exploded rows). ``posexplode(fps)`` yields one (pos, whash) row per
    window.
    """
    from corpus_dedup_spark.functions.layout import fan_out

    fps = make_window_fingerprints_udf(window, squash=squash)
    raw = F.col(text_col)
    # the UDF's byte squash, redone in the JVM for the stored text: two
    # byte-level replaces (measured cheaper than translate(), which looks
    # every codepoint up in a map)
    text = F.replace(F.replace(raw, F.lit("\n"), F.lit(" ")), F.lit("\r"),
                     F.lit(" ")) if squash else raw
    # layout repair: the rolling-hash UDF lives above the scan; a single-split
    # input (the driver's one-row-group parquet) would otherwise hash the
    # whole corpus in ONE task. No-op when the scan already matches the
    # cluster.
    return fan_out(pages.select(id_col, text_col)).select(
        id_col, fps(raw).alias("fps"), text.alias("text")
    )


def explode_fingerprints(index: DataFrame, id_col: str = "url") -> DataFrame:
    """(id, pos, whash): one row per codepoint window. The index text is not
    projected, so a shuffle of these rows carries no text."""
    return index.select(
        id_col, F.posexplode("fps").alias("pos", "whash")
    )


def _window_text(length):
    """The ``length``-codepoint window of the index's own text at ``pos``. A
    hash match is only a candidate; comparing this decides (quirk Q6,
    src/search_mode.c:286-294)."""
    return F.substring("text", F.col("pos") + 1, length)


def search(index: DataFrame, pages: DataFrame, query: str,
           id_col: str = "url") -> DataFrame:
    """All verified occurrences of ``query``: (id, pos), ``pos`` a 0-based
    codepoint offset. The index window must equal ``len(query)`` in codepoints.

    One scan of the index: ``posexplode(fps)`` → ``whash == hash(query)`` →
    ``substring(text, pos + 1, qlen) == query``. No join, no exchange: the
    verify reads the index's own ``text`` column, so the probe sees the text
    (squashed or raw) that the index was built over. ``pages`` is not read;
    it stays in the signature for existing positional callers."""
    qh = query_hash(query)
    qlen = len(kernel.utf8_decode_buffer(query.encode("utf-8")))
    return (
        index.select(id_col, "text", F.posexplode("fps").alias("pos", "whash"))
        .filter((F.col("whash") == F.lit(qh)) & (_window_text(qlen) == F.lit(query)))
        .select(id_col, "pos")
    )


def search_many(index: DataFrame, pages: DataFrame, queries: list[str],
                id_col: str = "url") -> DataFrame:
    """Batch variant: broadcast-join the (tiny) query table against the exploded
    index on ``whash`` (J3), then verify each candidate against the index's own
    text. Returns (query, id, pos). All queries must share one codepoint length
    equal to the index window. ``pages`` is not read, as in :func:`search`."""
    if len({len(kernel.utf8_decode_buffer(q.encode())) for q in queries}) != 1:
        raise ValueError("all queries in a batch must share one codepoint length")
    spark = index.sparkSession
    qdf = spark.createDataFrame(
        [(q, query_hash(q)) for q in queries], ["query", "whash"]
    )
    # the window length is taken from the query column on purpose: an
    # equality whose sides each read one join input becomes a join KEY, and
    # the substring would then be cut for every window of the index instead
    # of only for the hash matches
    return (
        index.select(id_col, "text", F.posexplode("fps").alias("pos", "whash"))
        .join(F.broadcast(qdf), "whash")
        .filter(_window_text(F.length("query")) == F.col("query"))
        .select("query", id_col, "pos")
    )


def with_line_col(hits: DataFrame, pages: DataFrame, id_col: str = "url",
                  text_col: str = "text") -> DataFrame:
    """Attach 1-based (line, col) to (id, pos) hits — the reference prints every hit
    as ``path:line:col``, counting '\\n' in the decoded (UNsquashed) text
    (src/search_mode.c:288,296-303). Positions are codepoint offsets, so the
    derivation is pure JVM expressions over the codepoint prefix: line = newlines
    before pos + 1, col = codepoints since the last newline + 1."""
    prefix = F.substring(F.col(text_col), 1, F.col("pos").cast("int"))
    line = (F.length(prefix)
            - F.length(F.replace(prefix, F.lit("\n"), F.lit(""))) + 1)
    col = F.length(F.element_at(F.split(prefix, "\n", -1), -1)) + 1
    return (
        hits.join(pages.select(id_col, text_col), id_col)
        .select(id_col, "pos", line.alias("line"), col.alias("col"))
    )


def search_report(hits: DataFrame, id_col: str = "url") -> DataFrame:
    """Reference search-mode summary: total hits + files-with-hits
    (src/search_mode.c:411-419,677-686)."""
    return hits.agg(
        F.count("*").alias("total_hits"),
        F.countDistinct(id_col).alias("docs_with_hits"),
    )
