"""Tests of the benchmark's own code: metric names, seeded inputs, and the
status-store reader. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run  # noqa: E402
from perfbench.observe import StageStats, Tracer  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units(spec):
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    for w in spec["workloads"]:
        assert NAME.fullmatch(w["name"]) and len(w["why"]) <= 200
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_benchmark_json_lists_what_a_run_reports(spec):
    from perfbench import workloads as wl

    assert [m["name"] for m in spec["per_layer"]] == list(wl.PER_LAYER)
    rec = wl.Record(attempted=2, samples={"exact": [1.0], "near": [3.0]},
                    recall=[0.9])
    e2e = run.end_to_end("crawl_mixed", rec, 5.0, 2**30, 4000)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert e2e["docs_per_s"] == 1000.0 and e2e["peak_mem_mb"] == 1024.0
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail(list(range(10))) is None
    pct, value = run.tail([float(i) for i in range(100)])
    assert pct == 90.0 and value == 89.0
    pct, value = run.tail([float(i) for i in range(11)])
    assert value == 0.0 and round(pct, 2) == 9.09


def test_exact_expectation_first_occurrence_wins():
    urls = ["b", "a", "c"]
    texts = ["Shared line here. Own b text.",
             "Shared line here. Shared line here. Own a text.",
             "Shared line here."]
    exp = inputs.exact_expectation(urls, texts)
    # a keeps "shared" and its own unit; b keeps its own; c keeps nothing
    assert exp == {"units_out": 6, "unique_units": 3, "duplicate_units": 3,
                   "docs_out": 2,
                   "out_bytes": len(b"Shared line here.\nOwn a text.")
                   + len(b"Own b text.")}


def test_probe_hits_count_overlaps_and_squash_newlines():
    texts = ["aaaa", "xa\na", "aa"]
    assert inputs.probe_hits(texts, ["aa", "a a", "zz"]) == [4, 1, 0]


def test_probes_are_seed_deterministic():
    texts = [f"Sentence number {i} about table scan and more words." * 3
             for i in range(50)]
    a, b = inputs.make_probes(texts, 3), inputs.make_probes(texts, 3)
    assert a == b and a != inputs.make_probes(texts, 4)
    assert len(a) == inputs.N_PROBES
    assert len({len(q) for q in a}) == 1
    hits = inputs.probe_hits(texts, a)
    assert sum(1 for h in hits if h) >= inputs.N_PROBES * inputs.HIT_SHARE - 1


def test_tracer_spans_nest_and_write(tmp_path):
    tr = Tracer()
    with tr.span("leg", leg="leg#0") as leg:
        with tr.span("phase", leg="leg#0", parent=leg["id"]):
            pass
    assert tr.spans[1]["parent"] == 0
    assert tr.spans[0]["start"] <= tr.spans[1]["start"] <= tr.spans[1]["end"]
    tr.write(str(tmp_path / "t.json"), info={"x": 1})
    assert json.load(open(tmp_path / "t.json"))["spans"][0]["name"] == "leg"


def test_status_store_reader_returns_stage_fields():
    from corpus_dedup_spark.plans.session import build_session

    spark = build_session(app_name="perfbench_test", master="local[2]",
                          shuffle_partitions=2,
                          extra_conf={"spark.ui.showConsoleProgress": "false",
                                      "spark.driver.memory": "1g",
                                      "spark.executor.metrics.pollingInterval":
                                          "100ms"})
    try:
        sc = spark.sparkContext
        sc.setJobGroup("tiny", "tiny")
        df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
        assert df.count() == 7

        def passthrough(batches):
            for b in batches:
                yield b

        spark.range(100).mapInArrow(passthrough, "id long").count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        stats = StageStats(spark)
        tot = stats.group("tiny")
        assert tot["jobs"] >= 2 and tot["stages"] >= 2 and tot["tasks"] >= 2
        assert tot["executor_run_s"] >= 0 and tot["shuffle_write_records"] > 0
        assert tot["shuffle_read_bytes"] > 0 and tot["python_s"] >= 0
        assert stats.group("no such group")["jobs"] == 0
        cached = spark.range(10000).cache()
        cached.count()
        assert stats.storage_bytes() > 0
        peak = stats.driver_peak_memory()
        assert peak["JVMHeapMemory"] > 0 and peak["OnHeapUnifiedMemory"] > 0
        assert set(run.PEAK_MEM_PARTS) <= set(peak)
    finally:
        run.stop_spark(spark)
