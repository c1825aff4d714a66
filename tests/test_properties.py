"""Property-based tests (hypothesis) over the pure recipe functions —
invariants that must hold for ANY input, not just the synth corpus."""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from metadatadocumentparser_spark import oracle
from metadatadocumentparser_spark.docparse import group_words_into_lines
from metadatadocumentparser_spark.geometry import column_boxes
from metadatadocumentparser_spark.operators.fingerprint import K, W, _winnow_one
from metadatadocumentparser_spark.payload import Page, Word, parse_payload

TEXTY = st.text(
    alphabet=list("ab XY09.,^_/\\$=+α∑{}()|\n%éü中 "),
    max_size=300,
)


@settings(max_examples=300, deadline=None)
@given(TEXTY)
def test_payload_parse_total_and_spans_exact(text):
    """parse_payload never raises; every recorded span slices back to its
    text (the char-offset contract the whole engine rests on)."""
    doc = parse_payload(text)
    for page in doc.pages:
        for blk in page.blocks:
            for ln in blk.lines:
                for sp in ln.spans:
                    assert text[sp.start : sp.end] == sp.text
        for w in page.words:
            assert text[w.start : w.end] == w.text
    if doc.html is not None:
        assert text[doc.html_start :] == doc.html


@settings(max_examples=200, deadline=None)
@given(TEXTY, st.one_of(st.none(), st.floats(0, 30, allow_nan=False)))
def test_formula_score_invariants(text, font_size):
    """Score is non-negative; passes ⇔ score ≥ threshold; strict mode can
    only lower the score."""
    ok, s = oracle.formula_score(text, font_size, strict_mode=False)
    ok_s, s_s = oracle.formula_score(text, font_size, strict_mode=True)
    assert s >= 0.0 and s_s >= 0.0
    if ok:
        assert s >= 0.7 and len(text) >= 2
    if len(text) < 2:
        assert not ok and not ok_s
    assert s_s <= s + 1e-12  # strict only lowers


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=list("abXY09 ^_αβ√∑≤$\\{}"), max_size=60))
def test_latex_wraps_and_is_stable(text):
    out = oracle.text_to_latex_heuristic(text)
    assert out.startswith("$")
    # no raw greek/symbol chars survive the mapping
    for ch in "αβ√∑≤":
        assert ch not in out
    # the heuristic is idempotent: output already starts with '$', and
    # '$'-prefixed input is passed through unchanged (reference
    # utils.py:66-67 — so raw input like '$$$' legitimately survives as-is;
    # an earlier draft asserted "never starts with $$$", which is false for
    # exactly that input)
    again = oracle.text_to_latex_heuristic(out)
    assert again == out


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.floats(0, 700, allow_nan=False), st.floats(0, 500, allow_nan=False)),
        max_size=25,
    )
)
def test_word_grouping_partition(coords):
    """Line grouping is a partition: every word exactly once, lines ordered
    by their first word's top."""
    words = [
        Word(x0=x, x1=x + 5, top=t, bottom=t + 10, text="w", start=0, end=1)
        for x, t in coords
    ]
    lines = group_words_into_lines(words)
    flat = [w for line in lines for w in line]
    assert len(flat) == len(words)
    assert sorted(id(w) for w in flat) == sorted(id(w) for w in words)
    tops = [line[0].top for line in lines]
    assert tops == sorted(tops)


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 10_000))
def test_column_boxes_total_and_bounded(seed):
    """Random page geometry: column detection never raises; boxes lie within
    horizontal page bounds and are deterministic."""
    rng = random.Random(seed)
    from metadatadocumentparser_spark.payload import Block, ImageRec, Line, Span

    page = Page(w=612.0, h=792.0)
    for _ in range(rng.randint(0, 8)):
        x0, y0 = rng.uniform(0, 500), rng.uniform(0, 700)
        blk = Block(bbox=(x0, y0, x0 + 80, y0 + 30))
        ln = Line(
            bbox=(x0, y0, x0 + 80, y0 + 12),
            direction=(1.0, 0.0) if rng.random() > 0.2 else (0.0, 1.0),
        )
        ln.spans.append(Span(size=11.0, font="F", text="ab cd", start=0, end=5))
        blk.lines.append(ln)
        page.blocks.append(blk)
    if rng.random() < 0.4:
        page.draws.append((10.0, 10.0, 200.0, 100.0))
    if rng.random() < 0.4:
        page.images.append(
            ImageRec(bbox=(50.0, 50.0, 150.0, 150.0), width=1, height=1, colorspace="rgb", ext="png")
        )
    a = column_boxes(page)
    b = column_boxes(page)
    assert a == b
    for x0, y0, x1, y1 in a:
        assert 0 <= x0 <= x1 <= 612 and y0 <= y1


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=list("abcdefg h"), min_size=0, max_size=120), st.integers(0, 50))
def test_winnowing_guarantee(shared, pad):
    """Winnowing guarantee (SIGMOD'03): two documents sharing a substring of
    length ≥ W+K-1 share at least one fingerprint."""
    if len(shared) < W + K - 1:
        return
    d1 = ("x" * pad) + shared + "qqq"
    d2 = "zzz" + shared + ("y" * pad)
    f1, f2 = set(_winnow_one(d1)), set(_winnow_one(d2))
    assert f1 & f2


@settings(max_examples=120, deadline=None)
@given(
    st.lists(st.integers(1, 400), min_size=0, max_size=80),
    st.integers(64, 512),
)
def test_ffd_packing_invariants(sizes, capacity):
    """Pure FFD kernel (operators/packing._ffd): every item packed exactly
    once; no pack over capacity unless single-item oversize; determinism;
    and the FFD guarantee that at most one pack is < half full (otherwise
    two half-empty packs would have been merged by first-fit)."""
    from metadatadocumentparser_spark.operators.packing import _ffd

    ids = list(range(100, 100 + len(sizes)))
    packs = _ffd(ids, sizes, capacity)
    got = sorted(i for p in packs for i in p[0])
    assert got == sorted(ids)
    for members, total, oversize in packs:
        assert total == sum(sizes[i - 100] for i in members)
        assert total <= capacity or (oversize and len(members) == 1)
    assert packs == _ffd(ids, sizes, capacity)
    under_half = [p for p in packs if p[1] < capacity / 2 and not p[2]]
    assert len(under_half) <= 1


def _ffd_linear(ids, sizes, capacity: int):
    """Reference first-fit-decreasing (the r1-r5 form): linear scan over
    all open packs per item — O(n·packs) per shard, which made a FIXED
    shard count super-linear in corpus size (the r6 decade sweep caught
    pack_sequences at 26× wall for 10× rows). Kept as the A/B oracle for
    the segment-tree form, operators/packing._ffd (identical pack
    membership pinned by test_ffd_segment_tree_equals_linear)."""
    order = sorted(range(len(ids)), key=lambda i: (-sizes[i], ids[i]))
    packs: list[list[int]] = []   # indexes into ids
    totals: list[int] = []
    for i in order:
        s = sizes[i]
        if s >= capacity:
            packs.append([i])
            totals.append(s)
            continue
        placed = False
        for p in range(len(packs)):
            if totals[p] + s <= capacity and totals[p] < capacity:
                packs[p].append(i)
                totals[p] += s
                placed = True
                break
        if not placed:
            packs.append([i])
            totals.append(s)
    return [
        ([ids[i] for i in p], totals[k], totals[k] > capacity)
        for k, p in enumerate(packs)
    ]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(0, 500), min_size=0, max_size=120),
    st.integers(1, 512),
)
def test_ffd_segment_tree_equals_linear(sizes, capacity):
    """r6: the O(n log n) segment-tree first-fit must pick the IDENTICAL
    pack the linear scan picks for every item — membership, totals,
    oversize flags and pack ORDER all equal (the docs_packing oracle
    replays FFD membership, so this is a correctness pin, not a style
    check). Includes zero sizes and size == capacity boundaries."""
    from metadatadocumentparser_spark.operators.packing import _ffd

    ids = list(range(100, 100 + len(sizes)))
    assert _ffd(ids, sizes, capacity) == _ffd_linear(ids, sizes, capacity)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(0, 30), min_size=0, max_size=400),
    st.integers(2, 20),
)
def test_misra_gries_guarantee(stream, capacity):
    """MG invariants: ≤ capacity counters; every item with true count
    > n/capacity is present; reported count ∈ (true - n/capacity, true]."""
    from collections import Counter

    from metadatadocumentparser_spark.operators.sketch import _mg_partition

    sketch = _mg_partition(stream, capacity)
    true = Counter(stream)
    n = len(stream)
    assert len(sketch) <= capacity
    for item, c in true.items():
        if c > n / capacity:
            assert item in sketch, (item, c, n, capacity)
    for item, c in sketch.items():
        assert c <= true[item]
        assert c > true[item] - n / capacity - 1e-9


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(0, 20), min_size=0, max_size=200),
    st.lists(st.integers(0, 20), min_size=0, max_size=200),
    st.integers(2, 12),
)
def test_misra_gries_merge_guarantee(s1, s2, capacity):
    """Merged summaries keep the combined-stream n/capacity bound."""
    from collections import Counter

    from metadatadocumentparser_spark.operators.sketch import (
        _mg_merge,
        _mg_partition,
    )

    m = _mg_merge(_mg_partition(s1, capacity), _mg_partition(s2, capacity), capacity)
    true = Counter(s1) + Counter(s2)
    n = len(s1) + len(s2)
    assert len(m) <= capacity
    for item, c in true.items():
        if c > 2 * n / capacity:  # two lossy stages → 2× bound
            assert item in m, (item, c)
    for item, c in m.items():
        assert c <= true[item]


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=list("abcdeXY09é中 "), max_size=60))
def test_wordpiece_roundtrip_property(text):
    """With a complete character vocabulary, greedy WordPiece encoding of
    ANY text round-trips through decode (modulo whitespace collapse) and
    never emits UNK."""
    from metadatadocumentparser_spark.operators.tokenize import (
        _encode_word,
        decode_ids,
    )

    chars = sorted({c for c in text if not c.isspace()})
    vocab = ["[UNK]"] + chars + ["##" + c for c in chars] + ["ab", "##cd"]
    vmap = {p: i for i, p in enumerate(vocab)}
    mx = max(len(p) for p in vocab)
    ids = []
    for w in text.split():
        ids.extend(_encode_word(w, vmap, mx, 0))
    assert 0 not in ids  # complete char vocab -> no UNK
    assert decode_ids(ids, vocab) == " ".join(text.split())
