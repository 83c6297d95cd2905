"""Exact unit-level deduplication — the reference's core capability, Spark-first.

The reference's 16-shard global hash set (src/sentence_set.c:17-66) + racing worker
threads (src/dedup.c:621-745) becomes ONE hash-partitioned shuffle: a window over the
normalized unit bytes. First-wins ordering is made deterministic on (url, unit_idx) —
strictly stronger than the reference's scheduling-dependent keeper (quirk Q3) while
producing identical unique/duplicate counts, including the intra-file local-set rule
(quirk Q2): any occurrence after the globally-first is a duplicate either way.

Scale notes (100 TB): the single shuffle partitions by the unit bytes themselves —
uniform by construction (hash of high-entropy text). The empty-norm filter (P1/P2) runs
before the shuffle, killing the worst boilerplate key early. Unit rows carry only
(url, unit_idx, norm_unit); the html/text columns are pruned before the explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from corpus_dedup_spark.functions.udfs import _binary_array, _binary_view


def explode_units_arrow(pages: DataFrame, mode: str = "sentence",
                        max_length: int = 0, text_col: str = "text",
                        id_col: str = "url") -> DataFrame:
    """pages(id, text, ...) → units(id, unit_idx, norm_unit): one row per
    normalized unit, ``unit_idx`` in document order (the keeper rule's tie
    break). Empty units are already dropped inside the kernel (P1/P2); the
    scan is pruned to (id, text) so it never reads html/binary payloads.

    ``mapInArrow`` hands the kernel a pyarrow RecordBatch and takes back value/
    offset buffers built directly by :func:`kernel.extract_units_batch_flat_arrow`:
    no per-unit OR per-document Python bytes objects (text enters the kernel as
    zero-copy buffer views — see :func:`_binary_view`), no JVM-side explode
    (rows leave the worker already flat), and the id column is carried by a C++
    ``take`` gather. Unit bytes are those of the scalar spec
    :func:`kernel.extract_units`."""
    import pyarrow as pa

    from corpus_dedup_spark import kernel

    def fn(batches):
        for rb in batches:
            arr, starts, ends = _binary_view(rb.column(text_col))
            doc_idx, unit_idx, values, offsets = (
                kernel.extract_units_batch_flat_arrow(
                    arr, starts, ends, mode, max_length))
            units = _binary_array(values, offsets)
            ids = rb.column(id_col).take(pa.array(doc_idx, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(unit_idx, type=pa.int64()), units],
                names=[id_col, "unit_idx", "norm_unit"])

    src = pages.select(id_col, text_col)
    id_type = dict(src.dtypes)[id_col]
    return src.mapInArrow(
        fn, schema=f"{id_col} {id_type}, unit_idx long, norm_unit binary")


def mark_duplicates(units: DataFrame, id_col: str = "url") -> DataFrame:
    """Add ``is_dup`` + ``keeper``: first occurrence by (id, unit_idx) wins globally.

    This window IS the reference's global sentence set: partitionBy(norm_unit) hash-
    partitions on the full normalized bytes (never trusting a 64-bit hash alone —
    quirk Q6 comes free because the key is the content itself).
    """
    w = Window.partitionBy(
        F.xxhash64("norm_unit"), F.col("norm_unit")
    ).orderBy(F.col(id_col).asc(), F.col("unit_idx").asc())
    return units.withColumn("rn", F.row_number().over(w)).withColumn(
        "is_dup", F.col("rn") > F.lit(1)
    ).drop("rn")


def dedup_keepers(units: DataFrame, id_col: str = "url") -> DataFrame:
    """One row per distinct normalized unit with its deterministic keeper and
    occurrence count: (norm_unit, id, unit_idx, n_occ).

    Semantically identical to the window in :func:`mark_duplicates` but expressed as
    ``groupBy(norm_unit).agg(min(struct(id, unit_idx)))`` — an aggregation with
    MAP-SIDE PARTIAL COMBINE, so duplicate-heavy unit streams shrink before the
    shuffle. At 100 TB this is the difference between shuffling every occurrence and
    shuffling roughly the distinct set. Use mark_duplicates only when per-occurrence
    rows are required (duplicates sink / verify listings).

    Plan note: ``min`` over a struct is not hash-aggregable, so this runs as a
    SortAggregate — which is fine (it IS the reference's sort-the-units design,
    src/dedup.c radix sort), but the sort comparator then byte-compares long
    near-identical unit strings (web boilerplate shares prefixes). Prepending a
    64-bit content hash to the GROUP KEY ``(xxhash64(norm_unit), norm_unit)``
    makes almost every comparison resolve on one long compare, falling back to
    the bytes only for true duplicates; grouping stays keyed on the full bytes
    (quirk Q6 — the hash is a comparator accelerator, never the identity).
    Measured 24% off the agg stage at 50k docs / 8 cores, bit-identical rows.
    r5: ``octet_length`` sits between the hash and the bytes — a second fixed-
    width comparator rung (resolves residual 64-bit collisions and gives the
    ties a cheap header compare before the variable-length bytes). Redundant
    for grouping (norm_unit determines its length), free to compute, and
    measured weakly positive (~2-5% at 200k docs / 8 cores under storm —
    'lenkey' in the one-off scripts/exp_exact_conf.py, since deleted; measure
    anew with ``python3 perfbench/run.py --trace 1``); rows stay bit-identical.
    """
    return (
        units.withColumn("_h", F.xxhash64("norm_unit"))
        .withColumn("_l", F.octet_length("norm_unit"))
        .groupBy("_h", "_l", "norm_unit")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("unit_idx"))).alias("_keeper"),
            F.count("*").alias("n_occ"),
        )
        .select(
            "norm_unit",
            F.col(f"_keeper.{id_col}").alias(id_col),
            F.col("_keeper.unit_idx").alias("unit_idx"),
            "n_occ",
        )
    )


def dedup_units(units: DataFrame, id_col: str = "url") -> DataFrame:
    """Keep-side only (the reference's written output units)."""
    return dedup_keepers(units, id_col).drop("n_occ")


def dedup_stats(units_marked: DataFrame) -> DataFrame:
    """Global counters — mirrors the reference summary (src/dedup.c:1113-1141)."""
    return units_marked.agg(
        F.count("*").alias("total_units"),
        F.count_if(~F.col("is_dup")).alias("unique_units"),
        F.count_if(F.col("is_dup")).alias("duplicate_units"),
        F.sum(F.length("norm_unit")).alias("bytes_processed"),
    )


def _keeper_stats_aggs() -> list:
    """The four summary counters as aggregates over a keeper table
    (norm_unit, ..., n_occ) — bit-identical to :func:`dedup_stats`."""
    return [
        F.sum("n_occ").alias("total_units"),
        F.count(F.lit(1)).alias("unique_units"),
        (F.sum("n_occ") - F.count(F.lit(1))).alias("duplicate_units"),
        F.sum(F.length("norm_unit") * F.col("n_occ")).alias("bytes_processed"),
    ]


def dedup_stats_from_keepers(keepers: DataFrame) -> DataFrame:
    """Same counters as :func:`dedup_stats`, from the aggregated keeper table."""
    return keepers.agg(*_keeper_stats_aggs())


def reassemble(units_kept: DataFrame, id_col: str = "url",
               all_ids: DataFrame | None = None) -> DataFrame:
    """Per-document output: kept units joined by \\n in document order
    (the reference writes normalized units joined by newline — quirk Q4,
    src/dedup.c:341-351). One groupBy shuffle on the document id.

    Pass ``all_ids`` (a one-column DataFrame of document ids) to also emit rows for
    documents whose every unit was a duplicate. NOTE: this is an explicit EXTENSION,
    not reference parity — the reference SKIPS the write when deduped_len == 0 and
    counts the file in its files_empty counter (src/dedup.c:671-677); the default
    (all_ids=None) matches that behavior, and the CLI's "n_in - n_written empty"
    accounting mirrors the counter."""
    out = (
        units_kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("unit_idx", "norm_unit"))
                    ),
                    lambda s: s["norm_unit"].cast("string"),
                ),
                "\n",
            ).alias("dedup_text"),
            F.count("*").alias("n_units"),
        )
    )
    if all_ids is not None:
        out = (
            all_ids.select(id_col).join(out, id_col, "left")
            .select(
                id_col,
                F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
                F.coalesce("n_units", F.lit(0)).alias("n_units"),
            )
        )
    return out


def run_exact_dedup(pages: DataFrame, mode: str = "sentence", max_length: int = 0,
                    id_col: str = "url") -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full reference-dedup pipeline: returns (keepers, deduped_docs, stats).

    explode_units_arrow → dedup_keepers (map-side-combining keeper aggregation)
    → reassemble. The keeper table is NOT persisted: persist()-ing it was
    measured at 15-25 s for 4M keeper rows at 8 cores (block-manager row
    serialization dominates and does not scale with cores), more than the
    extract+agg pass a second action recomputes from lineage. Callers that need
    stats AND output in one job should use :func:`run_exact_dedup_observed`
    (stats ride along as an Observation on the reassembly action — zero extra
    jobs). In production the cross-job reuse point is the Iceberg stage
    checkpoint (plans/pipeline.py), not the block manager.
    """
    keepers = dedup_keepers(
        explode_units_arrow(pages, mode, max_length, id_col=id_col), id_col)
    return (keepers, reassemble(keepers.drop("n_occ"), id_col),
            dedup_stats_from_keepers(keepers))


def run_exact_dedup_observed(pages: DataFrame, mode: str = "sentence",
                             max_length: int = 0, id_col: str = "url"):
    """Single-job variant: returns (deduped_docs, observation).

    The reference summary counters (src/dedup.c:1113-1141) are attached as a Spark
    ``Observation`` on the keeper table, so ONE action on ``deduped_docs`` (count,
    write, ...) computes the output AND the stats — no keeper persist, no second
    job. Read ``observation.get`` (dict with total_units / unique_units /
    duplicate_units / bytes_processed) after the action completes."""
    from pyspark.sql import Observation

    keepers = dedup_keepers(
        explode_units_arrow(pages, mode, max_length, id_col=id_col), id_col)
    obs = Observation()
    keepers_o = keepers.observe(obs, *_keeper_stats_aggs())
    return reassemble(keepers_o.drop("n_occ"), id_col), obs


def verify_no_duplicates(deduped_docs: DataFrame, mode: str = "sentence",
                         max_length: int = 0, id_col: str = "url") -> int:
    """The reference's ``verify`` mode (src/verify_mode.c:370-561): re-split the
    engine's own output and count duplicate units. Returns that count (must be 0)."""
    units = explode_units_arrow(deduped_docs, mode, max_length,
                                text_col="dedup_text", id_col=id_col)
    dup_count = (
        units.groupBy("norm_unit").count().filter(F.col("count") > 1)
        .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("dups"))
        .collect()[0]["dups"]
    )
    return int(dup_count)


def write_corpus_state(corpus_units: DataFrame, table: str,
                       buckets: int = 512) -> None:
    """Persist the corpus dedup state (one ``norm_unit`` column) BUCKETED on
    the unit bytes, so the next batch's anti-join in
    :func:`dedup_against_corpus` is co-located: the bucketed scan reports
    ``HashPartitioning(norm_unit, buckets)``, which satisfies the join's
    required distribution — the historical corpus side gets NO Exchange
    (``Bucketed: true`` in the scan, verified by tests/test_exact_dedup.py
    and the PLANS.md audit), only the new batch shuffles, to the bucket
    count. This is the parquet stand-in for Iceberg ``bucket(norm_unit, N)``
    (storage-partitioned join); size ``buckets`` so one bucket ≈ 128-512 MB
    at the target corpus size (10^12 docs ⇒ O(10^5) buckets).

    Write cost is one clustering shuffle of the distinct-unit column — paid
    once per state refresh, amortized over every subsequent incremental
    batch."""
    (corpus_units.select("norm_unit").write.mode("overwrite")
     .bucketBy(buckets, "norm_unit").format("parquet").saveAsTable(table))


def dedup_against_corpus(new_pages: DataFrame, corpus_units: DataFrame,
                         mode: str = "sentence", max_length: int = 0,
                         id_col: str = "url") -> tuple[DataFrame, DataFrame]:
    """Incremental dedup of a NEW crawl batch against an existing corpus state —
    the batch form of the streaming contract (stream_dedup): units already in
    the corpus are dropped, then the batch is first-wins deduped internally,
    then reassembled. Returns (kept_units, deduped_docs).

    ``corpus_units`` is a one-column DataFrame of the corpus's normalized unit
    bytes (``norm_unit``) — in production the keeper-table checkpoint from the
    previous run (plans/pipeline.py), i.e. yesterday's state.

    Scale notes: the anti-join keys on the full unit bytes (quirk Q6), hash-
    partitioned on norm_unit — the SAME key as the keeper agg, so with the
    corpus state stored bucketed by norm_unit (:func:`write_corpus_state`;
    Iceberg `bucket(norm_unit, N)` in production) the join is co-located and
    only the new batch shuffles: the bucketed scan carries the partitioning,
    so the corpus side has NO Exchange (demonstrated: PLANS.md "Bucketed
    incremental dedup" section + tests/test_exact_dedup.py). The corpus side
    is pruned to the single key column, so no historical text bytes move.
    """
    units = explode_units_arrow(new_pages, mode, max_length, id_col=id_col)
    fresh = units.join(
        corpus_units.select("norm_unit"), "norm_unit", "left_anti")
    keepers = dedup_keepers(fresh, id_col)
    kept = keepers.drop("n_occ")
    return kept, reassemble(kept, id_col)
