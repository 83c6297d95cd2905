"""Seeded benchmark input, generated once per (seed, size) and cached.

Every workload reads the same crawl: ``sources.pages.generate_pages`` at its
defaults (12% exact copies, 8% near copies, a boilerplate host on 20% of the
pages). Each input directory under the cache holds:

- ``pages/``       the pages table as a multi-file parquet directory;
- ``truth.parquet`` planted cluster truth (url, group, kind) for ``dup_doc_recall``;
- ``expected.json`` outputs the program must reproduce, computed here from the
  scalar spec (``corpus_dedup_spark.kernel``) and plain Python, never from Spark.

Generation is benchmark set-up, not program work: its wall time is reported
as ``generate_s`` beside the metrics, outside ``setup_s``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

# Input size: the largest at which the 48 runs of a measurement still fit in
# 3420 s on 4 cores when the host runs 30% slower than usual, as it does for
# stretches (README.md, "Input size"). A new seed costs about 1.1 ms per page
# in sources.pages.generate_pages alone, inside every run that draws it.
CRAWL_DOCS = 6000

# substring_search: a fixed seeded list of single probes. Every probe has
# the codepoint length of the repo's SEARCH_QUERY ("table scan"), because
# one fingerprint index serves exactly one window length.
N_PROBES = 120
HIT_SHARE = 0.6


def _crawl_frames(n_docs: int, seed: int):
    """(pages, truth) from the repo's generator at its defaults."""
    from corpus_dedup_spark.sources.pages import generate_pages

    pages, _pairs, clusters = generate_pages(n_docs, seed=seed)
    # Spark cannot read nanosecond parquet timestamps
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    truth = pd.DataFrame({"url": clusters["url"],
                          "group": clusters["cluster_id"],
                          "kind": clusters["kind"]})
    return pages, truth


def exact_expectation(urls, texts) -> dict:
    """Exact-leg outputs from the scalar spec: the first occurrence by
    (url, unit_idx) keeps a normalized unit; the rest are duplicates."""
    from corpus_dedup_spark import kernel

    seen: set[bytes] = set()
    total = docs_out = out_bytes = 0
    for _url, text in sorted(zip(urls, texts)):
        units = kernel.extract_units(text.encode("utf-8"))
        total += len(units)
        kept = []
        for u in units:
            if u not in seen:
                seen.add(u)
                kept.append(u)
        if kept:  # a doc's output is its kept units joined by newlines
            docs_out += 1
            out_bytes += sum(map(len, kept)) + len(kept) - 1
    return {"units_out": total, "unique_units": len(seen),
            "duplicate_units": total - len(seen), "docs_out": docs_out,
            "out_bytes": out_bytes}


def make_probes(texts, seed: int, n: int = N_PROBES) -> list[str]:
    """Seeded probe list: windows cut from random pages (hits), SEARCH_QUERY,
    and strings starting with '~', which the page generator never writes
    (misses). Every probe's expected count is computed, not assumed."""
    from corpus_dedup_spark.plans.queries import SEARCH_QUERY

    qlen = len(SEARCH_QUERY)
    rng = np.random.default_rng([seed, 104729])
    probes = [SEARCH_QUERY]
    n_hits = int(n * HIT_SHARE)
    while len(probes) < n_hits:
        t = _squash(texts[int(rng.integers(0, len(texts)))])
        if len(t) > qlen:
            p = int(rng.integers(0, len(t) - qlen))
            probes.append(t[p:p + qlen])
    letters = np.array(list("0123456789qxzjkv#%&"))
    while len(probes) < n:
        probes.append("~" + "".join(rng.choice(letters, size=qlen - 1)))
    order = rng.permutation(len(probes))
    return [probes[i] for i in order]


def _squash(text: str) -> str:
    return text.replace("\n", " ").replace("\r", " ")


def probe_hits(texts, probes) -> list[int]:
    """Verified occurrence count per probe (overlapping matches count), by
    plain ``str.find`` over the newline-squashed texts."""
    blob = "\x00".join(_squash(t) for t in texts)
    out = []
    for q in probes:
        n, i = 0, blob.find(q)
        while i >= 0:
            n += 1
            i = blob.find(q, i + 1)
        out.append(n)
    return out


def _write_pages(pages: pd.DataFrame, path: str, n_files: int = 8) -> None:
    os.makedirs(path, exist_ok=True)
    chunk = -(-len(pages) // n_files)
    for i in range(n_files):
        part = pages.iloc[i * chunk:(i + 1) * chunk]
        if len(part):
            part.to_parquet(os.path.join(path, f"part-{i:05d}.parquet"),
                            index=False, row_group_size=4096)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def input_dir(cache_dir: str, seed: int) -> str:
    return os.path.join(cache_dir, f"crawl_n{CRAWL_DOCS}_seed{seed}")


def generate(cache_dir: str, seed: int) -> float:
    """Write the input for ``seed`` unless the cache already holds it;
    returns the generation wall (0 on a cached input)."""
    d = input_dir(cache_dir, seed)
    done = os.path.join(d, "expected.json")
    if os.path.exists(done):
        return 0.0
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    pages, truth = _crawl_frames(CRAWL_DOCS, seed)
    texts = pages["text"].tolist()
    expected = exact_expectation(pages["url"].tolist(), texts)
    expected["n_docs"] = len(pages)
    expected["probes"] = make_probes(texts, seed)
    expected["probe_hits"] = probe_hits(texts, expected["probes"])
    _write_pages(pages, os.path.join(d, "pages"))
    truth.to_parquet(os.path.join(d, "truth.parquet"), index=False)
    tmp = done + ".tmp"
    with open(tmp, "w") as f:
        json.dump(expected, f)
    os.replace(tmp, done)  # the marker lands last: a cut run regenerates
    return time.perf_counter() - t0


def load(cache_dir: str, seed: int) -> dict:
    """The cached input: ``pages`` (parquet dir), ``truth`` (parquet file),
    ``expected`` (dict), ``n_docs`` and ``input_bytes``."""
    d = input_dir(cache_dir, seed)
    with open(os.path.join(d, "expected.json")) as f:
        expected = json.load(f)
    pages_dir = os.path.join(d, "pages")
    return {"pages": pages_dir, "truth": os.path.join(d, "truth.parquet"),
            "expected": expected, "n_docs": expected["n_docs"],
            "input_bytes": dir_bytes(pages_dir)}

