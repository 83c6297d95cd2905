"""The workloads: closed-loop rounds of calls into the program's public
functions, untraced (end-to-end metrics) or split into traced phases
(per-layer metrics).

One client submits each job only after the previous one has finished. Every
workload has two legs that it times on each round:

==================  =================  ==================================
workload            first leg          second leg
==================  =================  ==================================
crawl_mixed         exact leg          near leg
substring_search    index build        one probe (several per round)
==================  =================  ==================================

A traced crawl_mixed round also runs the checkpointed pipeline on the same
input (a cold run, then a resume of its last two stages), for the
``pipeline.*`` per-layer metrics.

A traced phase runs under its own Spark job group and materializes its
output (``persist`` + ``count``, or a small aggregate), so its wall and its
status-store totals belong to it alone. That extra materialization is the
tracing overhead, reported as traced minus untraced leg wall.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from corpus_dedup_spark.config import DedupConfig
from corpus_dedup_spark.operators import connected_components as cc_mod
from corpus_dedup_spark.operators.connected_components import (
    attach_labels, connected_components)
from corpus_dedup_spark.operators.exact_dedup import (
    dedup_keepers, explode_units_arrow, reassemble, run_exact_dedup_observed)
from corpus_dedup_spark.operators.minhash_lsh import (
    candidate_pairs, doc_band_features, near_dup_clusters, verify_jaccard)
from corpus_dedup_spark.operators.search import (
    build_fingerprint_index, explode_fingerprints, query_hash, search)
from corpus_dedup_spark.plans.pipeline import STAGES, DedupPipeline
from perfbench.inputs import dir_bytes

# bench.py's near-dup configuration
CFG = DedupConfig(jaccard_threshold=0.5)
ID = "url"
READS = 3
WARM_ROUNDS = 1
PROBES_PER_ROUND = 12

LEGS = {
    "crawl_mixed": ("exact", "near"),
    "substring_search": ("index_build", "probe"),
}

PHASES = ("exact_dedup.extract", "exact_dedup.keepers", "exact_dedup.reassemble",
          "minhash_lsh.features", "minhash_lsh.candidates", "minhash_lsh.verify",
          "connected_components.cc", "connected_components.attach",
          "pipeline.cold", "pipeline.resume",
          "search.index_build", "search.probe")
PHASE_FIELDS = ("executor_run_s", "gc_s", "shuffle_read_bytes", "spill_bytes")

PER_LAYER = (
    "session.start_s",
    "exact_dedup.extract_s", "exact_dedup.extract_python_s",
    "exact_dedup.units_out",
    "exact_dedup.keepers_s", "exact_dedup.keepers_shuffle_write_bytes",
    "exact_dedup.combine_ratio", "exact_dedup.unique_units",
    "exact_dedup.duplicate_units",
    "exact_dedup.reassemble_s", "exact_dedup.reassemble_shuffle_write_bytes",
    "exact_dedup.docs_out",
    "minhash_lsh.features_s", "minhash_lsh.features_python_s",
    "minhash_lsh.features_cached_bytes",
    "minhash_lsh.candidates_s", "minhash_lsh.band_rows",
    "minhash_lsh.band_shuffle_write_bytes", "minhash_lsh.candidate_pairs",
    "minhash_lsh.max_bucket",
    "minhash_lsh.dropped_buckets", "minhash_lsh.dropped_members",
    "minhash_lsh.verify_s", "minhash_lsh.verify_python_s",
    "minhash_lsh.verified_pairs", "minhash_lsh.verify_accept_ratio",
    "connected_components.cc_s", "connected_components.edges_in",
    "connected_components.distributed", "connected_components.jobs",
    "connected_components.attach_s",
    *(f"pipeline.{s}.{k}" for s in STAGES for k in ("write_s", "bytes", "rows")),
    "pipeline.cold.unstaged_s", "pipeline.resume.unstaged_s",
    "pipeline.resume_skipped_stages", "pipeline.stored_bytes_per_input_byte",
    "search.index_build_s", "search.index_python_s", "search.index_postings",
    "search.index_cached_bytes",
    "search.probe_s", "search.probe_candidates", "search.probe_hits",
    "search.verify_ratio",
    "trace.overhead_s", "trace.phase_gap_ratio",
    *(f"{p}.{k}" for p in PHASES for k in PHASE_FIELDS),
)
# per-layer counts over all probes of a traced run; every other per-layer
# metric is the median over the run's traced rounds
SUMMED = {"search.probe_candidates", "search.probe_hits"}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


@dataclass
class Record:
    """Everything one run measured."""
    attempted: int = 0
    failed: int = 0
    samples: dict = field(default_factory=dict)     # leg -> [wall s], untraced
    traced: dict = field(default_factory=dict)      # leg -> [wall s], traced
    recall: list = field(default_factory=list)
    layers: list = field(default_factory=list)      # one dict per traced round
    checks: list = field(default_factory=list)      # failure messages

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.checks.append(msg)
        log("FAILED:", msg)


class Ctx:
    """The run's Spark session, its cached input and the expected outputs."""

    def __init__(self, spark, inp: dict, parts: int, work_dir: str,
                 stats, tracer):
        self.spark = spark
        self.inp = inp
        self.exp = inp["expected"]
        self.parts = parts
        self.work_dir = work_dir
        self.stats = stats
        self.tracer = tracer
        self.truth = pd.read_parquet(inp["truth"])
        self.pages = None
        self.probe_pos = 0
        self.round = 0

    def refresh(self) -> None:
        """Drop whatever the previous leg cached (operators persist
        intermediates they do not release) and re-cache the input, so every
        leg starts from the same state. Not timed."""
        self.spark.catalog.clearCache()
        self.pages = (self.spark.read.parquet(self.inp["pages"])
                      .repartition(self.parts).cache())
        self.pages.count()

    def next_probes(self) -> list[tuple[str, int]]:
        probes, hits = self.exp["probes"], self.exp["probe_hits"]
        out = []
        for _ in range(PROBES_PER_ROUND):
            i = self.probe_pos % len(probes)
            out.append((probes[i], hits[i]))
            self.probe_pos += 1
        return out


def timed(rec: Record, leg: str, fn, check, traced: bool = False):
    """Run one closed-loop operation and check its output. Untraced, the
    call's wall joins the leg's samples; traced, ``fn`` returns
    (output, leg wall) so counters read after the leg stay out of it. A
    raised exception or a failed check counts the operation as failed."""
    rec.attempted += 1
    t0 = time.perf_counter()
    try:
        out = fn()
        wall = time.perf_counter() - t0
        if traced:
            out, wall = out
        (rec.traced if traced else rec.samples).setdefault(leg, []).append(wall)
        msg = check(out)
    except Exception:  # the run goes on and reports the failure
        rec.fail(f"{leg}: {traceback.format_exc(limit=4)}")
        return None
    if msg:
        rec.fail(f"{leg}: {msg}")
    return out


# --------------------------------------------------------------- correctness

def exact_outputs(docs) -> dict:
    """Row count and total text bytes of the deduped docs in one small
    aggregate, which forces every output column to be computed."""
    r = docs.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.octet_length("dedup_text")).alias("b")).collect()[0]
    return {"docs_out": int(r["n"]), "out_bytes": int(r["b"] or 0)}


def check_exact(ctx: Ctx, got: dict) -> str | None:
    bad = {k: (v, ctx.exp[k]) for k, v in got.items() if v != ctx.exp[k]}
    return f"got/expected {bad}" if bad else None


def check_clusters(ctx: Ctx, rec: Record, table) -> str | None:
    """Every page gets one cluster row, and every planted exact copy shares
    its source's cluster (identical text gives identical signatures). Also
    records the share of planted duplicates that share their source's
    cluster, which is reported, not checked."""
    pred = dict(zip(table.column(ID).to_pylist(),
                    table.column("cluster_id").to_pylist()))
    if table.num_rows != ctx.exp["n_docs"] or len(pred) != table.num_rows:
        return f"{table.num_rows} cluster rows for {ctx.exp['n_docs']} pages"
    t = ctx.truth
    base = t[t.kind == "base"]
    source = dict(zip(base.group, base.url))
    dups = t[t.kind != "base"]
    same = [pred[u] == pred[source[g]] for u, g in zip(dups.url, dups.group)]
    rec.recall.append(sum(same) / len(same) if same else 1.0)
    lost = sum(1 for k, s in zip(dups.kind, same) if k == "exact" and not s)
    return f"{lost} exact copies outside their source's cluster" if lost else None


# ----------------------------------------------------------------- tracing

class TracedLeg:
    """A leg span whose materialized phases each run under their own job
    group; status-store totals are read in :meth:`finish`, after the leg."""

    def __init__(self, ctx: Ctx, layer: dict, name: str):
        self.ctx, self.layer, self.name = ctx, layer, name
        self.phases: list[dict] = []

    def __enter__(self):
        self._cm = self.ctx.tracer.span(self.name,
                                        leg=f"{self.name}#{self.ctx.round}")
        self.span = self._cm.__enter__()
        return self

    def __exit__(self, *exc):
        self._cm.__exit__(*exc)
        return False

    @property
    def wall(self) -> float:
        return self.span["end"] - self.span["start"]

    @contextmanager
    def phase(self, name: str):
        sc = self.ctx.spark.sparkContext
        group = f"{name}#{self.ctx.round}.{len(self.phases)}"
        before = self.ctx.stats.storage_bytes()
        sc.setJobGroup(group, name)
        try:
            with self.ctx.tracer.span(name, self.span["leg"],
                                      parent=self.span["id"], group=group) as sp:
                yield sp
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sp["cached_bytes"] = self.ctx.stats.storage_bytes() - before
        self.phases.append(sp)

    def finish(self) -> dict[str, dict]:
        """Per-phase totals by phase name; records the phase-wall gap."""
        walls = sum(sp["end"] - sp["start"] for sp in self.phases)
        gap = abs(self.wall - walls) / self.wall if self.wall else 0.0
        self.span["phase_gap_ratio"] = gap
        self.layer["trace.phase_gap_ratio"] = max(
            self.layer.get("trace.phase_gap_ratio", 0.0), gap)
        out = {}
        for sp in self.phases:
            tot = self.ctx.stats.group(sp["group"])
            tot["wall_s"] = sp["end"] - sp["start"]
            tot["cached_bytes"] = sp["cached_bytes"]
            sp["stage_metrics"] = {k: v for k, v in tot.items()
                                   if k != "stage_rows"}
            for k in PHASE_FIELDS:
                self.layer[f"{sp['name']}.{k}"] = tot[k]
            out[sp["name"]] = tot
        return out


# ------------------------------------------------------------- crawl_*

def exact_leg(ctx: Ctx) -> dict:
    deduped, obs = run_exact_dedup_observed(ctx.pages)
    out = exact_outputs(deduped)
    st = obs.get
    out.update(units_out=int(st["total_units"]),
               unique_units=int(st["unique_units"]),
               duplicate_units=int(st["duplicate_units"]))
    return out


def near_leg(ctx: Ctx):
    return near_dup_clusters(ctx.pages, CFG, ID).toArrow()


def exact_traced(ctx: Ctx, layer: dict):
    """explode_units_arrow → dedup_keepers → reassemble, composed as
    run_exact_dedup_observed composes them, one materialized phase each."""
    with TracedLeg(ctx, layer, "exact") as leg:
        with leg.phase("exact_dedup.extract"):
            units = explode_units_arrow(ctx.pages, id_col=ID).persist()
            n_units = units.count()
        with leg.phase("exact_dedup.keepers"):
            keepers = dedup_keepers(units, ID).persist()
            n_unique = keepers.count()
        with leg.phase("exact_dedup.reassemble"):
            out = exact_outputs(reassemble(keepers.drop("n_occ"), ID))
    units.unpersist()
    keepers.unpersist()
    t = leg.finish()
    ext, keep, reas = (t[f"exact_dedup.{p}"]
                       for p in ("extract", "keepers", "reassemble"))
    layer.update({
        "exact_dedup.extract_s": ext["wall_s"],
        "exact_dedup.extract_python_s": ext["python_s"],
        "exact_dedup.units_out": n_units,
        "exact_dedup.keepers_s": keep["wall_s"],
        "exact_dedup.keepers_shuffle_write_bytes": keep["shuffle_write_bytes"],
        "exact_dedup.combine_ratio":
            keep["shuffle_write_records"] / n_units if n_units else 0.0,
        "exact_dedup.unique_units": n_unique,
        "exact_dedup.duplicate_units": n_units - n_unique,
        "exact_dedup.reassemble_s": reas["wall_s"],
        "exact_dedup.reassemble_shuffle_write_bytes": reas["shuffle_write_bytes"],
        "exact_dedup.docs_out": out["docs_out"],
    })
    out.update(units_out=n_units, unique_units=n_unique,
               duplicate_units=n_units - n_unique)
    return out, leg.wall


def near_traced(ctx: Ctx, layer: dict):
    """near_dup_edges + near_dup_clusters, composed the same way, one
    materialized phase each: features → band shuffle + candidates →
    Jaccard verify → connected components → attach."""
    with TracedLeg(ctx, layer, "near") as leg:
        with leg.phase("minhash_lsh.features"):
            features = doc_band_features(ctx.pages, CFG, ID).persist()
            features.count()
        with leg.phase("minhash_lsh.candidates"):
            bands_df = features.select(
                ID, F.posexplode("bands").alias("band_id", "band_hash"))
            pairs, dropped = candidate_pairs(bands_df, CFG, ID)
            pairs = pairs.persist()
            n_pairs = pairs.count()
        with leg.phase("minhash_lsh.verify"):
            verified = verify_jaccard(pairs, features, CFG, ID).filter(
                F.col("jaccard") >= F.lit(CFG.jaccard_threshold)).persist()
            n_verified = verified.count()
        with leg.phase("connected_components.cc"):
            labels = connected_components(verified.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst"))).persist()
            labels.count()
        with leg.phase("connected_components.attach"):
            table = attach_labels(ctx.pages.select(ID), labels, ID).select(
                ID, "cluster_id").toArrow()
    # counters the leg does not compute itself: extra jobs, after the leg
    band_rows, max_bucket = bands_df.groupBy("band_id", "band_hash").count().agg(
        F.sum("count"), F.max("count")).collect()[0]
    n_dropped, dropped_members = dropped.agg(
        F.count(F.lit(1)), F.sum("bucket_n")).collect()[0]
    t = leg.finish()
    feat, cand, ver, cc, att = (t[p] for p in (
        "minhash_lsh.features", "minhash_lsh.candidates", "minhash_lsh.verify",
        "connected_components.cc", "connected_components.attach"))
    # the band exchange is the candidates-phase stage that wrote one shuffle
    # record per band row
    band_writes = [s["shuffle_write_bytes"] for s in cand["stage_rows"]
                   if s["shuffle_write_records"] == band_rows]
    layer.update({
        "minhash_lsh.features_s": feat["wall_s"],
        "minhash_lsh.features_python_s": feat["python_s"],
        "minhash_lsh.features_cached_bytes": feat["cached_bytes"],
        "minhash_lsh.candidates_s": cand["wall_s"],
        "minhash_lsh.band_rows": int(band_rows or 0),
        "minhash_lsh.band_shuffle_write_bytes": sum(band_writes),
        "minhash_lsh.candidate_pairs": n_pairs,
        "minhash_lsh.max_bucket": int(max_bucket or 0),
        "minhash_lsh.dropped_buckets": int(n_dropped),
        "minhash_lsh.dropped_members": int(dropped_members or 0),
        "minhash_lsh.verify_s": ver["wall_s"],
        "minhash_lsh.verify_python_s": ver["python_s"],
        "minhash_lsh.verified_pairs": n_verified,
        "minhash_lsh.verify_accept_ratio":
            n_verified / n_pairs if n_pairs else 0.0,
        "connected_components.cc_s": cc["wall_s"],
        "connected_components.edges_in": n_verified,
        "connected_components.distributed":
            int(n_verified > cc_mod.DRIVER_CC_MAX_EDGES),
        "connected_components.jobs": cc["jobs"],
        "connected_components.attach_s": att["wall_s"],
    })
    return table, leg.wall


def crawl_round(ctx: Ctx, rec: Record, layer: dict | None) -> None:
    ctx.refresh()
    traced = layer is not None
    timed(rec, "exact",
          (lambda: exact_traced(ctx, layer)) if traced else (lambda: exact_leg(ctx)),
          lambda out: check_exact(ctx, out), traced)
    timed(rec, "near",
          (lambda: near_traced(ctx, layer)) if traced else (lambda: near_leg(ctx)),
          lambda tbl: check_clusters(ctx, rec, tbl), traced)
    if traced:
        pipeline_traced(ctx, rec, layer)


# ------------------------------------------- checkpointed pipeline (traced)

def _stage_lineage(p: DedupPipeline) -> dict[str, dict]:
    """Per-stage rows / bytes / write wall from the pipeline's own lineage
    rows of this run (counters it records from parquet footers)."""
    out: dict[str, dict] = {}
    for r in p.lineage().filter(F.col("run_id") == p.run_id).collect():
        c = dict(r["counters"])
        s = out.setdefault(r["stage"], {"rows": 0, "bytes": 0, "write_s": 0.0})
        s["rows"] += c["rows_out"]
        s["bytes"] += c["bytes"]
        s["write_s"] = c["wall_ms"] / 1000.0
    return out


def pipeline_traced(ctx: Ctx, rec: Record, layer: dict) -> None:
    """DedupPipeline(checkpoint=True) on the crawl: a cold run that writes
    all five stages, then, with the edges and clusters stages deleted, a
    resume. Each run is one phase. Inside it, the per-stage write walls come
    from the lineage rows the pipeline writes itself, and what they leave
    uncovered is reported as ``unstaged_s``."""
    wd = os.path.join(ctx.work_dir, "pipeline")
    shutil.rmtree(wd, ignore_errors=True)
    ctx.refresh()
    state: dict = {}

    def run(kind: str):
        p = DedupPipeline(ctx.spark, CFG, wd, run_id=f"{kind}-{ctx.round}")
        with TracedLeg(ctx, layer, kind) as leg:
            with leg.phase(f"pipeline.{kind}"):
                state[kind] = (p, p.run(ctx.pages))
        leg.finish()
        stages = _stage_lineage(p)
        leg.span["stage_walls"] = {s: v["write_s"] for s, v in stages.items()}
        # checkpoint reads, stage checks and lineage rows
        layer[f"pipeline.{kind}.unstaged_s"] = \
            leg.wall - sum(v["write_s"] for v in stages.values())
        if kind == "cold":
            for s, v in stages.items():
                for k in ("write_s", "bytes", "rows"):
                    layer[f"pipeline.{s}.{k}"] = v[k]
        return state[kind], leg.wall

    def check_cold(res) -> str | None:
        p, out = res
        want = {"units": ctx.exp["units_out"], "deduped": ctx.exp["docs_out"],
                "clusters": ctx.exp["n_docs"]}
        got = {s: p.stage_rows.get(s) for s in want}
        if got != want:
            return f"stage rows got/expected {got} {want}"
        b = out["deduped"].agg(F.sum(F.octet_length("dedup_text"))).collect()[0][0]
        if b != ctx.exp["out_bytes"]:
            return f"deduped bytes {b} != {ctx.exp['out_bytes']}"
        state["clusters"] = out["clusters"].toArrow().sort_by(ID)
        return check_clusters(ctx, rec, state["clusters"])

    def check_resume(res) -> str | None:
        p, out = res
        if set(p.stage_rows) != {"edges", "clusters"}:
            return f"resume rewrote {sorted(p.stage_rows)}"
        if not out["clusters"].toArrow().sort_by(ID).equals(state.get("clusters")):
            return "resumed clusters differ from the cold run's"
        return None

    if timed(rec, "cold", lambda: run("cold"), check_cold, traced=True) is None:
        return
    layer["pipeline.stored_bytes_per_input_byte"] = \
        dir_bytes(wd) / ctx.inp["input_bytes"]
    for s in ("edges", "clusters"):
        shutil.rmtree(os.path.join(wd, s))
    if timed(rec, "resume", lambda: run("resume"), check_resume, traced=True):
        layer["pipeline.resume_skipped_stages"] = \
            len(STAGES) - len(state["resume"][0].stage_rows)
    shutil.rmtree(wd, ignore_errors=True)


# ------------------------------------------------------------ substring_search

def _window() -> int:
    from corpus_dedup_spark.plans.queries import SEARCH_QUERY
    return len(SEARCH_QUERY)


def search_round(ctx: Ctx, rec: Record, layer: dict | None) -> None:
    traced = layer is not None
    idx_holder: dict = {}

    def build():
        if not traced:
            idx_holder["idx"] = build_fingerprint_index(
                ctx.pages, window=_window(), id_col=ID).persist()
            return idx_holder["idx"].count()
        with TracedLeg(ctx, layer, "index_build") as leg:
            with leg.phase("search.index_build"):
                idx_holder["idx"] = build_fingerprint_index(
                    ctx.pages, window=_window(), id_col=ID).persist()
                n = idx_holder["idx"].count()
        t = leg.finish()["search.index_build"]
        layer["search.index_build_s"] = t["wall_s"]
        layer["search.index_python_s"] = t["python_s"]
        layer["search.index_cached_bytes"] = t["cached_bytes"]
        layer["search.index_postings"] = idx_holder["idx"].agg(
            F.sum(F.size("fps"))).collect()[0][0]
        return n, leg.wall

    n_docs = ctx.exp["n_docs"]
    if timed(rec, "index_build", build,
             lambda n: None if n == n_docs else f"{n} index rows for {n_docs} docs",
             traced) is None:
        return
    idx = idx_holder["idx"]
    per_probe: list[dict] = []
    found = expected = 0
    for q, want in ctx.next_probes():
        def probe(q=q):
            if not traced:
                return search(idx, ctx.pages, q, id_col=ID).count()
            with TracedLeg(ctx, layer, "probe") as leg:
                with leg.phase("search.probe"):
                    n = search(idx, ctx.pages, q, id_col=ID).count()
            t = leg.finish()["search.probe"]
            t["candidates"] = explode_fingerprints(idx, ID).filter(
                F.col("whash") == F.lit(query_hash(q))).count()
            t["hits"] = n
            per_probe.append(t)
            return n, leg.wall

        got = timed(rec, "probe", probe,
                    lambda n, q=q, want=want: None if n == want
                    else f"probe {q!r}: {n} hits, expected {want}",
                    traced)
        found += min(got or 0, want)
        expected += want
    rec.recall.append(found / expected if expected else 1.0)
    idx.unpersist()
    if traced and per_probe:
        for k in PHASE_FIELDS:
            layer[f"search.probe.{k}"] = statistics.median(t[k] for t in per_probe)
        layer["search.probe_s"] = statistics.median(t["wall_s"] for t in per_probe)
        layer["search.probe_candidates"] = sum(t["candidates"] for t in per_probe)
        layer["search.probe_hits"] = sum(t["hits"] for t in per_probe)


ROUNDS = {"crawl_mixed": crawl_round, "substring_search": search_round}


def setup(ctx: Ctx, workload: str) -> tuple[list[float], float, Record]:
    """Read and cache the input READS times (their walls), then warm up with
    WARM_ROUNDS untimed rounds of the workload: they spawn the Python workers
    and let the JIT compile the JVM paths at the measured sizes. Warm-up
    operations are checked like any other; their record is returned for the
    failure count."""
    reads = []
    for _ in range(READS):
        t0 = time.perf_counter()
        ctx.refresh()
        reads.append(time.perf_counter() - t0)
    warm = Record()
    t0 = time.perf_counter()
    for _ in range(WARM_ROUNDS):
        ROUNDS[workload](ctx, warm, None)
    return reads, time.perf_counter() - t0, warm


def measure(ctx: Ctx, workload: str, seconds: float, trace: bool,
            deadline: float) -> Record:
    """Closed loop: rounds back to back for ``seconds``, at least one (traced
    runs alternate untraced and traced rounds and run at least one of each).
    No round starts that the previous round's wall says would end after
    ``deadline`` (a perf_counter value)."""
    rec = Record()
    t_start = time.perf_counter()
    last = 0.0
    n = 0
    while True:
        now = time.perf_counter()
        if n >= (2 if trace else 1) and (now - t_start >= seconds
                                         or now + last > deadline):
            break
        traced = trace and n % 2 == 1
        layer = {"trace.phase_gap_ratio": 0.0} if traced else None
        ctx.round = n
        ROUNDS[workload](ctx, rec, layer)
        if traced:
            rec.layers.append(layer)
        n += 1
        last = time.perf_counter() - now
    ctx.spark.catalog.clearCache()
    return rec


def per_layer(rec: Record, session_start_s: float) -> dict[str, float]:
    """Every PER_LAYER metric: the median over traced rounds (SUMMED ones
    added up); 0 for a layer the workload does not run."""
    out: dict[str, float] = {}
    for name in PER_LAYER:
        vals = [lay[name] for lay in rec.layers if name in lay]
        if name in SUMMED:
            out[name] = float(sum(vals))
        else:
            out[name] = float(statistics.median(vals)) if vals else 0.0
    out["session.start_s"] = session_start_s
    if out["search.probe_candidates"]:
        out["search.verify_ratio"] = (out["search.probe_hits"]
                                      / out["search.probe_candidates"])
    overhead = 0.0
    for leg, walls in rec.traced.items():
        if rec.samples.get(leg):
            overhead += statistics.median(walls) - statistics.median(rec.samples[leg])
    out["trace.overhead_s"] = overhead
    return out
