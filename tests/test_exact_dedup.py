"""End-to-end exact dedup on synthetic pages + driver documents table."""

import pyspark.sql.functions as F
import pytest

from corpus_dedup_spark import kernel
from corpus_dedup_spark.operators.exact_dedup import (
    dedup_keepers, dedup_stats, explode_units_arrow, mark_duplicates,
    reassemble, run_exact_dedup, verify_no_duplicates)
from corpus_dedup_spark.sources.pages import pages_spark


@pytest.fixture(scope="module")
def pages(spark):
    df, truth_pairs, clusters = pages_spark(spark, n_docs=200, seed=42)
    return df.cache()


def test_explode_units_matches_kernel(spark, pages):
    """Byte-identical-per-url invariant: Spark UDF output == pure kernel output."""
    rows = pages.select("url", "text").collect()
    expected = {
        r["url"]: kernel.extract_units(r["text"].encode()) for r in rows
    }
    got_rows = explode_units_arrow(pages).collect()
    got: dict[str, list[bytes]] = {}
    for r in sorted(got_rows, key=lambda r: (r["url"], r["unit_idx"])):
        got.setdefault(r["url"], []).append(bytes(r["norm_unit"]))
    assert got.keys() == {u for u, e in expected.items() if e}
    for url, units in got.items():
        assert units == expected[url], url


def test_dedup_counts_and_verify(spark, pages):
    keepers, deduped, stats = run_exact_dedup(pages)
    s = stats.collect()[0]
    assert s["total_units"] == s["unique_units"] + s["duplicate_units"]
    assert s["duplicate_units"] > 0  # planted dups exist
    # first-wins: every norm_unit appears exactly once on the keep side
    assert keepers.groupBy("norm_unit").count().filter("count > 1").count() == 0
    # reference verify mode: re-dedup the output → zero duplicates
    assert verify_no_duplicates(deduped) == 0


def test_keeper_agg_equals_window_path(spark, pages):
    """The map-side-combining groupBy keeper path must be bit-identical to the
    row_number window semantics (same keeper rows, same counters)."""
    from corpus_dedup_spark.operators.exact_dedup import (
        dedup_stats_from_keepers)

    units = explode_units_arrow(pages)
    marked = mark_duplicates(units).cache()
    keepers = dedup_keepers(units)
    win_kept = sorted(
        (r["url"], r["unit_idx"], bytes(r["norm_unit"]))
        for r in marked.filter(~F.col("is_dup")).collect())
    agg_kept = sorted(
        (r["url"], r["unit_idx"], bytes(r["norm_unit"])) for r in keepers.collect())
    assert win_kept == agg_kept
    assert dedup_stats(marked).collect() == dedup_stats_from_keepers(keepers).collect()


def test_intra_doc_dup_counted(spark):
    """Quirk Q2: within-doc repeats are duplicates; global counts match reference."""
    df = spark.createDataFrame(
        [("u1", "Same sentence here. Same sentence here. Unique bit one."),
         ("u2", "Same sentence here. Another unique sentence.")],
        ["url", "text"],
    )
    marked = mark_duplicates(explode_units_arrow(df))
    stats = dedup_stats(marked).collect()[0]
    # units: u1 = [same, same, unique1], u2 = [same, unique2]
    # reference: u1#1 unique, u1#2 intra-doc dup, unique1 unique,
    #            u2#1 global dup, unique2 unique → 3 unique, 2 dups
    assert stats["unique_units"] == 3
    assert stats["duplicate_units"] == 2


def test_deterministic_keeper(spark, pages):
    """Q3 fixed: keeper attribution is deterministic across runs/parallelism."""
    a = mark_duplicates(explode_units_arrow(pages)).filter(~F.col("is_dup"))
    res1 = sorted((r["url"], r["unit_idx"]) for r in a.collect())
    res2 = sorted((r["url"], r["unit_idx"]) for r in a.repartition(3).sortWithinPartitions("url").collect())
    # recompute from a differently-partitioned input
    assert res1 == res2


def test_reassemble_round_trip(spark):
    df = spark.createDataFrame([("u1", "One. Two. Three.")], ["url", "text"])
    out = reassemble(explode_units_arrow(df)).collect()[0]
    assert out["dedup_text"] == "One.\nTwo.\nThree."
    assert out["n_units"] == 3


def test_explode_units_arrow_equivalence(spark):
    """Flat-Arrow extraction ≡ the scalar spec on mixed ascii/unicode docs,
    empty and NULL text included: same (url, unit_idx, bytes) rows."""
    rows = [("a", "One sentence. Two  spaced!   Third?"),
            ("b", ""),
            ("c", None),
            ("d", "ünïcode first. ascii second."),
            ("e", "no terminator at all"),
            ("f", "One sentence. Two  spaced!   Third?")]
    df = spark.createDataFrame(rows, "url string, text string")
    want = sorted((url, i, u) for url, text in rows
                  for i, u in enumerate(kernel.extract_units(
                      (text or "").encode())))
    got = sorted((r["url"], r["unit_idx"], bytes(r["norm_unit"]))
                 for r in explode_units_arrow(df).collect())
    assert got == want


def test_dedup_against_corpus(spark):
    """Incremental batch dedup vs an existing corpus state: corpus units are
    dropped, the new batch first-wins-dedupes internally, reassembly is clean."""
    from corpus_dedup_spark.operators.exact_dedup import (dedup_against_corpus,
                                                          dedup_units,
                                                          explode_units_arrow)

    corpus = spark.createDataFrame(
        [("c1", "Old news here. Shared footer line."),
         ("c2", "Another old page. Shared footer line.")], ["url", "text"])
    new = spark.createDataFrame(
        [("n1", "Fresh content one. Shared footer line."),   # footer already in corpus
         ("n2", "Fresh content one. Brand new sentence."),   # first sent dup of n1's
         ("n3", "Shared footer line.")],                     # fully known -> empty
        ["url", "text"])
    corpus_units = dedup_units(explode_units_arrow(corpus)).select("norm_unit")
    kept, deduped = dedup_against_corpus(new, corpus_units)
    out = {r["url"]: r for r in deduped.collect()}
    assert out["n1"]["dedup_text"] == "Fresh content one."
    assert out["n2"]["dedup_text"] == "Brand new sentence."
    # n3 had nothing new: reference semantics skip the write entirely
    assert "n3" not in out
    # kept units never intersect the corpus state
    kset = {bytes(r["norm_unit"]) for r in kept.collect()}
    cset = {bytes(r["norm_unit"]) for r in corpus_units.collect()}
    assert not (kset & cset)


def test_bucketed_corpus_state_join_no_corpus_exchange(spark, tmp_path):
    """The 100 TB incremental-dedup story, demonstrated: corpus state written
    with write_corpus_state (bucketBy norm_unit) makes the anti-join's corpus
    side exchange-FREE (`Bucketed: true` scan satisfies the required
    distribution); only the new batch shuffles. Results identical to the
    unbucketed join."""
    import re

    from corpus_dedup_spark.operators.exact_dedup import (
        dedup_against_corpus, explode_units_arrow, write_corpus_state)

    corpus_pages = spark.createDataFrame(
        [(f"old{i}", f"Old sentence {i} here. Shared boilerplate line.")
         for i in range(40)], ["url", "text"])
    corpus_units = explode_units_arrow(corpus_pages).select("norm_unit") \
        .distinct()
    table = "corpus_state_buckets_test"
    write_corpus_state(corpus_units, table, buckets=8)
    new_pages = spark.createDataFrame(
        [(f"new{i}", f"Fresh sentence {i} today. Shared boilerplate line.")
         for i in range(20)], ["url", "text"])

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force SMJ so the test exercises the distributed (non-broadcast)
        # path the 10^12-unit corpus state would take
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        state = spark.table(table)
        units = explode_units_arrow(new_pages)
        fresh = units.join(state.select("norm_unit"), "norm_unit",
                           "left_anti")
        got = sorted((bytes(r["norm_unit"]), r["url"]) for r in
                     fresh.collect())
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        # AQE's toString appends the pre-execution "Initial Plan" — assert on
        # the executed (final) section only
        plan = plan.split("== Initial Plan ==")[0]
        assert "Bucketed: true" in plan
        # exactly ONE hash exchange: the new batch; the corpus scan has none
        assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1
        # value parity vs the unbucketed corpus DataFrame
        want = sorted((bytes(r["norm_unit"]), r["url"]) for r in
                      units.join(corpus_units, "norm_unit", "left_anti")
                      .collect())
        assert got == want
        assert len(got) == 20  # the shared boilerplate line never survives
        # and the full operator runs unchanged on the bucketed state
        kept, docs = dedup_against_corpus(new_pages, state)
        assert docs.count() == 20
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def _keeper_model(rows):
    """Driver-side keeper table from the scalar spec: per distinct unit, the
    first occurrence under (id NULLS FIRST, unit_idx) and the occurrence
    count."""
    occ = sorted(((url is not None, url or "", i, url, u)
                  for url, text in rows
                  for i, u in enumerate(kernel.extract_units(
                      (text or "").encode()))),
                 key=lambda t: t[:3])
    model: dict[bytes, list] = {}
    for _nn, _k, i, url, u in occ:
        if u in model:
            model[u][2] += 1
        else:
            model[u] = [url, i, 1]
    return {u: tuple(v) for u, v in model.items()}


@pytest.mark.parametrize("n_parts", [1, 4])
def test_keepers_match_scalar_model(spark, n_parts):
    """dedup_keepers(explode_units_arrow(df)) equals the scalar-spec model on
    unicode / empty / NULL text, heavy duplicates and NULL ids, whatever the
    input partitioning: first-wins keepers, exact n_occ, a NULL id wins its
    tie (Spark's asc NULLS FIRST)."""
    rows = [("a", "Shared sentence. Only in a."),
            (None, "Shared sentence. Null doc extra!"),
            ("b", "Shared sentence. Null doc extra!"),
            (None, "Second null doc."),
            ("c", "ünïcode first. One sentence."),
            ("d", "One sentence. Two  spaced!   Third?"),
            ("e", ""), ("f", None),
            ("g", "no terminator at all"),
            ("ü", "ünïcode first. ascii second.")]
    rows += [(f"dup{i:02d}", "Boiler plate. Footer line. Footer line.")
             for i in range(20)]
    df = spark.createDataFrame(rows, "url string, text string") \
        .repartition(n_parts)
    got = {bytes(r["norm_unit"]): (r["url"], r["unit_idx"], r["n_occ"])
           for r in dedup_keepers(explode_units_arrow(df)).collect()}
    assert got == _keeper_model(rows)
    assert got[b"Shared sentence."][0] is None
    assert got[b"Footer line."] == ("dup00", 1, 40)
