"""Fingerprint-index search: hits equal a ``str.find`` scan, the content check
decides over the hash, and a probe of a persisted index is one join-free scan."""

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from corpus_dedup_spark.operators.search import (build_fingerprint_index,
                                                 query_hash, search,
                                                 search_many)

# multi-byte codepoints (2- and 4-byte UTF-8), \n and \r\n line breaks
_TOKENS = ["a", "b", " ", "é", "\U0001F600", "\n", "\r\n"]
_texts = st.lists(st.one_of(st.none(),
                            st.lists(st.sampled_from(_TOKENS), max_size=20)
                            .map("".join)),
                  min_size=1, max_size=8)
_queries = st.lists(st.sampled_from(["a", "b", " ", "é", "\U0001F600", "\n"]),
                    min_size=1, max_size=3).map("".join)


def _find_all(text: str, query: str) -> list[int]:
    """Every (overlapping) codepoint offset of ``query`` in ``text``."""
    out, i = [], text.find(query)
    while i >= 0:
        out.append(i)
        i = text.find(query, i + 1)
    return out


def _expected(texts, queries, squash: bool) -> set:
    got = set()
    for i, t in enumerate(texts):
        t = t or ""
        if squash:
            t = t.replace("\n", " ").replace("\r", " ")
        for q in queries:
            got.update((q, f"d{i}", p) for p in _find_all(t, q))
    return got


@pytest.mark.parametrize("squash", [True, False])
@settings(max_examples=6, deadline=None)
@given(texts=_texts, query=_queries)
@example(texts=["aaaa", "a", None], query="aa")
@example(texts=["a\r\nb é\U0001F600b", "\r\n"], query="\U0001F600b")
def test_search_matches_str_find(spark, squash, texts, query):
    pages = spark.createDataFrame([(f"d{i}", t) for i, t in enumerate(texts)],
                                  "url string, text string")
    idx = build_fingerprint_index(pages, window=len(query), squash=squash).persist()
    try:
        got = {(query, r["url"], r["pos"])
               for r in search(idx, pages, query).collect()}
        assert got == _expected(texts, [query], squash)
        # batch probe: every same-length window of the corpus plus the query
        batch = sorted({query} | {t[i:i + len(query)] for t in texts if t
                                  for i in range(len(t) - len(query) + 1)})
        got_many = {(r["query"], r["url"], r["pos"])
                    for r in search_many(idx, pages, batch).collect()}
        assert got_many == _expected(texts, batch, squash)
    finally:
        idx.unpersist()


def test_hash_hit_on_different_text_is_not_a_match(spark):
    """Quirk Q6: a fingerprint claiming the query's hash is only a candidate.
    d1's posting says "cat" at pos 2, but its text there is "t s"; d2 is the
    genuine hit that shows the probe still returns verified matches."""
    qh = query_hash("cat")
    idx = spark.createDataFrame(
        [("d1", [0, 0, qh, 0], "a dog sat"),
         ("d2", [qh], "cat")],
        "url string, fps array<bigint>, text string",
    )
    assert {(r["url"], r["pos"]) for r in search(idx, None, "cat").collect()} \
        == {("d2", 0)}
    assert {(r["query"], r["url"], r["pos"])
            for r in search_many(idx, None, ["cat"]).collect()} \
        == {("cat", "d2", 0)}


def _node_names(plan) -> list[str]:
    """Physical node names of an executed plan, through AQE's final plan and
    whole-stage codegen wrappers; a cached table's own plan is not a child
    of its InMemoryTableScan, so the index build is not walked."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    kids = plan.children()
    return [plan.nodeName()] + [n for i in range(kids.size())
                                for n in _node_names(kids.apply(i))]


def test_probe_of_persisted_index_has_no_join_or_exchange(spark):
    pages = spark.createDataFrame(
        [("d1", "the cat sat\non the mat"), ("d2", "a cat")], ["url", "text"])
    idx = build_fingerprint_index(pages, window=3).persist()
    try:
        idx.count()
        hits = search(idx, pages, "cat")
        assert {(r["url"], r["pos"]) for r in hits.collect()} == \
            {("d1", 4), ("d2", 2)}
        names = _node_names(hits._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScan" in names, names
        assert not [n for n in names if "Join" in n or "Exchange" in n], names
        # batch probe: the query table is broadcast and joined on the hash
        # alone; the substring check must not become a join key, which would
        # cut a window of text for every position of the index
        many = search_many(idx, pages, ["cat", "mat"])
        many.collect()
        plan = many._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin [whash" in plan and \
            "], Inner, BuildRight, (substring(" in plan, plan
    finally:
        idx.unpersist()
