"""Property-based invariants of the parity kernels (pure Python, fast)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from corpus_dedup_spark import kernel

any_bytes = st.binary(max_size=400)
texty = st.text(max_size=300).map(lambda s: s.encode("utf-8"))


@given(any_bytes)
@settings(max_examples=300)
def test_squash_preserves_length_and_kills_newlines(data):
    out = kernel.squash_newlines(data)
    assert len(out) == len(data)
    assert b"\n" not in out and b"\r" not in out


@given(any_bytes)
@settings(max_examples=300)
def test_sentence_spans_are_disjoint_ordered_in_bounds(data):
    sq = kernel.squash_newlines(data)
    spans = kernel.split_sentences(sq)
    prev_end = 0
    for start, ln in spans:
        assert ln > 0
        assert 0 <= start and start + ln <= len(sq)
        assert start >= prev_end  # ordered, non-overlapping
        prev_end = start + ln


@given(any_bytes)
@settings(max_examples=300)
def test_spans_cover_all_non_whitespace(data):
    """Every byte > 0x20 (and every non-whitespace codepoint) lands in some span —
    the splitter never drops content, only inter-sentence whitespace."""
    sq = kernel.squash_newlines(data)
    spans = kernel.split_sentences(sq)
    covered = bytearray(len(sq))
    for s, ln in spans:
        covered[s:s + ln] = b"\x01" * ln
    for i, b in enumerate(sq):
        if b > 0x20 and b < 0x80:
            assert covered[i], (i, sq)


@given(any_bytes)
@settings(max_examples=300)
def test_normalize_idempotent_and_bounded(data):
    once = kernel.normalize_unit(data)
    assert kernel.normalize_unit(once) == once
    assert len(once) <= len(data)
    if once:
        assert once[0] > 0x20 and once[-1] > 0x20
        assert b"  " not in once


@given(any_bytes, st.integers(min_value=1, max_value=50))
@settings(max_examples=200)
def test_truncation_is_prefix(data, maxlen):
    full = kernel.normalize_unit(data)
    cut = kernel.normalize_unit(data, max_length=maxlen)
    assert cut == full[:maxlen]


@given(texty)
@settings(max_examples=200)
def test_extract_units_deterministic_and_normalized(data):
    a = kernel.extract_units(data)
    b = kernel.extract_units(data)
    assert a == b
    for u in a:
        assert u == kernel.normalize_unit(u)  # already normalized
        assert u != b""


@given(st.lists(st.binary(max_size=60), max_size=30))
@settings(max_examples=150)
def test_fnv_vectorized_matches_scalar(units):
    offsets = np.cumsum([0] + [len(u) for u in units])
    vec = kernel.fnv1a_flat(np.frombuffer(b"".join(units), np.uint8), offsets)
    assert [int(v) for v in vec] == [kernel.fnv1a(u) for u in units]


@given(texty, st.integers(min_value=0, max_value=200), st.integers(min_value=0, max_value=200))
@settings(max_examples=150)
def test_window_hash_equals_direct_horner(data, a, b):
    cps = kernel.utf8_decode_buffer(data)
    n = len(cps)
    if n == 0:
        return
    s, e = sorted((a % (n + 1), b % (n + 1)))
    prefix, pow_ = kernel.rolling_prefix(cps, kernel.BLOCK_HASH_BASE)
    direct = 0
    for c in cps[s:e]:
        direct = (direct * 31 + int(c)) % (1 << 64)
    assert kernel.window_hash(prefix, pow_, s, e) == direct


# ---------------------------------------------------------------------------
# The one batched extractor ≡ the scalar spec, per document
# ---------------------------------------------------------------------------

def _assert_batch_matches_spec(docs, arrow_type, mode="sentence",
                               max_length=0, lead=0):
    """Run ``kernel.extract_units_batch_flat_arrow`` on ``docs`` (str or bytes,
    None for a NULL row) as one Arrow array and compare every document's
    units with ``kernel.extract_units``. ``lead`` padding rows are sliced off
    the front, so the array has a non-zero Arrow offset."""
    import pyarrow as pa

    from corpus_dedup_spark.functions.udfs import _binary_view

    pad = "pad. lead" if arrow_type == pa.string() else b"pad. lead"
    col = pa.array([pad] * lead + docs, type=arrow_type).slice(lead)
    d, u, v, o = kernel.extract_units_batch_flat_arrow(
        *_binary_view(col), mode, max_length)
    got = [[] for _ in docs]
    for k in np.lexsort((u, d)).tolist():
        assert u[k] == len(got[d[k]])  # unit_idx is the in-document position
        got[d[k]].append(bytes(v[o[k]:o[k + 1]]))
    raw = [t.encode("utf-8") if isinstance(t, str) else (t or b"")
           for t in docs]
    assert got == [kernel.extract_units(t, mode, max_length) for t in raw]


# mixes ASCII terminator/closer/abbrev soup with CJK terminators and invalid bytes
_splitter_soup = st.lists(
    st.one_of(
        st.sampled_from([b"mr.", b"etc.", b"Dr. x", b"a.b", b"ab. cd", b"!!!",
                         b"...", b"?)", b".' ", b"  ", b"\x00\x01", b"st. a",
                         b"\xe3\x80\x82", b"\xff", b"caf\xc3\xa9. ok"]),
        st.binary(max_size=4),
    ),
    max_size=40,
).map(b"".join)


@given(st.lists(_splitter_soup, max_size=12),
       st.sampled_from([0, 5, 64]))
@settings(max_examples=200, deadline=None)
def test_extract_units_batch_matches_scalar(texts, max_length):
    """Splitter soup with invalid bytes: the sentence spans of both splitters
    agree, checked through the units they produce."""
    import pyarrow as pa

    _assert_batch_matches_spec(texts, pa.binary(), "sentence", max_length)


@given(texty)
@settings(max_examples=200, deadline=None)
def test_rolling_prefix_matches_horner_loop(data):
    cps = kernel.utf8_decode_buffer(data)
    for base, add in ((kernel.BLOCK_HASH_BASE, 0), (kernel.SEARCH_HASH_BASE, 1)):
        prefix, pow_ = kernel.rolling_prefix(cps, base, add)
        acc, p = 0, 1
        for i, c in enumerate(cps):
            acc = (acc * base + int(c) + add) % (1 << 64)
            p = (p * base) % (1 << 64)
            assert int(prefix[i + 1]) == acc
            assert int(pow_[i + 1]) == p


@given(st.one_of(st.binary(max_size=200),
                 st.text(max_size=80).map(lambda s: s.encode("utf-8"))))
@settings(max_examples=400, deadline=None)
def test_utf8_decode_vec_matches_scalar_advance(data):
    got = kernel.utf8_decode_buffer(data)
    out, i, n = [], 0, len(data)
    while i < n:
        cp, adv, _ = kernel.utf8_decode_advance(data, i, n)
        out.append(cp)
        i += adv
    assert got.tolist() == out


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=120), min_size=0, max_size=12),
       st.sampled_from([0, 5, 40]))
def test_extract_units_batch_flat_matches_lists(texts, max_length):
    """Any Unicode text, sentence mode, through an Arrow string array."""
    import pyarrow as pa

    _assert_batch_matches_spec(texts, pa.string(), "sentence", max_length)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=120), min_size=0, max_size=12),
       st.sampled_from(["line", "paragraph", "document"]),
       st.sampled_from([0, 5, 40]))
def test_extract_units_batch_flat_nonsentence_matches_scalar(
        texts, mode, max_length):
    """Non-sentence modes (incl. the U2 degeneracy: post-squash,
    line/paragraph collapse to one whole-document unit)."""
    import pyarrow as pa

    _assert_batch_matches_spec(texts, pa.string(), mode, max_length)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(min_size=0, max_size=120)),
                min_size=0, max_size=12),
       st.sampled_from(["sentence", "line", "document"]),
       st.sampled_from([0, 5, 40]),
       st.integers(0, 3))
def test_extract_units_batch_flat_arrow_matches_lists(
        texts, mode, max_length, lead):
    """NULL rows (empty documents) and sliced arrays (non-zero Arrow
    offset), as Spark hands them to the UDFs."""
    import pyarrow as pa

    _assert_batch_matches_spec(texts, pa.string(), mode, max_length, lead)


def test_large_docs_batch_matches_scalar():
    """Documents of 8 KB and more — ASCII, and mixed with CJK terminators and
    invalid bytes — interleaved with NULL, empty and short non-ASCII rows in
    one Arrow array."""
    import random

    import pyarrow as pa

    rng = random.Random(11)
    ascii_words = [b"mr.", b"Dr.", b"etc.", b"st.", b"a.b", b"word", b"Next",
                   b"x", b"ok!", b"why?", b"(so.)", b"'end.'", b"...", b"e.g."]
    other = [w.encode() for w in ("。", "！", "文字", "д", "é.", "…", "»",
                                  "\u3000")] + [b"\xff", b"\xc3"]  # invalid

    def doc(vocab):
        out = []
        while sum(map(len, out)) < 8192 + rng.randrange(8192):
            out += [rng.choice(vocab),
                    rng.choice([b" ", b" ", b"  ", b". ", b"\n", b"\t"])]
        return b"".join(out)

    docs = [doc(ascii_words), None, doc(ascii_words + other), b"",
            "café. \u3002".encode(), doc(ascii_words),
            doc(ascii_words + other), None, "д. ok".encode(), doc(ascii_words)]
    assert max(len(d) for d in docs if d) >= 8192
    for max_length in (0, 40):
        _assert_batch_matches_spec(docs, pa.binary(), "sentence", max_length)


# ---------------------------------------------------------------------------
# Mersenne-61 second hash family (shared-block double-hash verify)
# ---------------------------------------------------------------------------

@given(st.lists(st.integers(0, kernel.MERSENNE61 - 1), min_size=2, max_size=40))
@settings(max_examples=300, deadline=None)
def test_mulmod61_matches_int_math(vals):
    a = np.array(vals[: len(vals) // 2], dtype=np.uint64)
    b = np.array(vals[len(vals) // 2: 2 * (len(vals) // 2)], dtype=np.uint64)
    got = kernel.mulmod61(a, b)
    for i in range(len(a)):
        assert int(got[i]) == (int(a[i]) * int(b[i])) % kernel.MERSENNE61


@given(st.text(min_size=1, max_size=200), st.integers(1, 12))
@settings(max_examples=200, deadline=None)
def test_window_hashes_mod61_match_horner(text, window):
    cps = kernel.utf8_decode_buffer(text.encode("utf-8"))
    n = len(cps)
    if n < window:
        return
    S, pw = kernel.rolling_prefix_mod61(cps, add=1)
    starts = np.arange(n - window + 1, dtype=np.int64)
    got = kernel.window_hashes_mod61(
        S, pw, starts, np.full(starts.size, window, np.int64))
    for s in range(0, n - window + 1, max(1, (n - window) // 5 or 1)):
        h = 0
        for k in range(window):
            h = (h * kernel.MOD61_BASE + int(cps[s + k]) + 1) % kernel.MERSENNE61
        assert int(got[s]) == h
    # position independence: equal content windows hash equal
    for s in range(n - window):
        if np.array_equal(cps[s:s + window], cps[s + 1:s + 1 + window]):
            assert got[s] == got[s + 1]


# unicode-dense splitter fuzz: terminators/closers/ws/invalid bytes at high
# density exercise every branch of the codepoint batch automaton
_UNI_ALPHABET = st.sampled_from(
    list("ab cz.!?\"')]}。？！…؟｡」»"
         "’  　д文z ")
    + ["mr.", "etc.", "st. "]
)


@given(st.lists(st.lists(_UNI_ALPHABET, max_size=40).map("".join), max_size=6),
       st.sampled_from([0, 7]))
@settings(max_examples=300, deadline=None)
def test_unicode_dense_batch_matches_scalar(texts, max_length):
    import pyarrow as pa

    raw = [t.encode("utf-8") for t in texts]
    # inject invalid bytes deterministically
    raw = [b"\x80" + t + b"\xc3" if i % 3 == 0 else t
           for i, t in enumerate(raw)]
    _assert_batch_matches_spec(raw, pa.binary(), "sentence", max_length)


# --- vectorized batch ops ≡ scalar oracles -------------------------------------

@given(st.lists(st.tuples(
    st.sets(st.integers(0, 2**64 - 1), max_size=40),
    st.sets(st.integers(0, 2**64 - 1), max_size=40),
    st.sets(st.integers(0, 2**64 - 1), max_size=12),  # forced-shared values
), max_size=12))
@settings(max_examples=200, deadline=None)
def test_inter_union_batch_matches_naive(pairs):
    """The one-lexsort batched |A∩B|/|A∪B| (minhash_lsh._inter_union_batch)
    equals per-pair np.intersect1d for arbitrary sorted-unique u64 sets."""
    from corpus_dedup_spark.operators.minhash_lsh import _inter_union_batch

    blobs_a, blobs_b = [], []
    for a, b, shared in pairs:
        va = np.array(sorted(a | shared), dtype=np.uint64)
        vb = np.array(sorted(b | shared), dtype=np.uint64)
        blobs_a.append(va.tobytes() if va.size else None)
        blobs_b.append(vb.tobytes())
    ni, nu = _inter_union_batch(blobs_a, blobs_b)
    assert len(ni) == len(pairs)
    for i, (a, b, shared) in enumerate(pairs):
        A, B = a | shared, b | shared
        assert ni[i] == len(A & B)
        assert nu[i] == len(A | B)


def _elect_leaders_naive(cps, cs, cl, h):
    """The r3 per-group Python election (reference scan semantics,
    src/block_tree_core.c:320-349) kept as the property-test oracle."""
    order = np.lexsort((cs, cl, h))
    oh, ol = h[order], cl[order]
    change = np.flatnonzero((oh[1:] != oh[:-1]) | (ol[1:] != ol[:-1])) + 1
    g_starts = np.concatenate([[0], change]) if order.size else np.array([], np.int64)
    g_ends = np.concatenate([change, [order.size]]) if order.size else g_starts
    marked = np.ones(cs.size, bool)
    target = np.full(cs.size, -1, np.int64)
    for g0, g1 in zip(g_starts.tolist(), g_ends.tolist()):
        if g1 - g0 < 2:
            continue
        idxs = order[g0:g1]
        L = int(cl[idxs[0]])
        leaders = [int(idxs[0])]
        for t in idxs[1:].tolist():
            st_ = int(cs[t])
            for ld in leaders:
                ls = int(cs[ld])
                if np.array_equal(cps[st_:st_ + L], cps[ls:ls + L]):
                    marked[t] = False
                    target[t] = ls
                    break
            else:
                leaders.append(t)
    return marked, target


@given(st.text(alphabet="abABé", min_size=0, max_size=120),
       st.integers(2, 16), st.integers(1, 4))
@settings(max_examples=200, deadline=None)
def test_elect_leaders_matches_naive(text, window, stride):
    """Vectorized leader election (block_tree._elect_leaders) ≡ the per-group
    scan, including under FORCED hash collisions (h mod 3): content compare,
    not the hash, must decide classes — quirk Q6."""
    from corpus_dedup_spark.operators.block_tree import _elect_leaders

    cps = kernel.utf8_decode_buffer(text.encode("utf-8"))
    n = len(cps)
    if n < window:
        return
    prefix, pow_ = kernel.rolling_prefix(cps, kernel.BLOCK_HASH_BASE)
    cs = np.arange(0, n - window + 1, stride, dtype=np.int64)
    cl = np.full(cs.size, window, np.int64)
    h = kernel.window_hashes(prefix, pow_, cs, cl) % np.uint64(3)
    got_m, got_t = _elect_leaders(cps, cs, cl, h)
    exp_m, exp_t = _elect_leaders_naive(cps, cs, cl, h)
    assert np.array_equal(got_m, exp_m)
    # both store the leader's START POSITION in target
    assert np.array_equal(got_t, exp_t)
