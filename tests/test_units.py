"""Per-operator unit tests against hand-computed expectations
(SURVEY.md §5.2 item 2): F1 boundaries, F2 weights + both thresholds +
strict-mode zeroing, F5 replacement order, W5 tolerance, A2/A3 vote,
P7 negatives — exercised on BOTH the Python oracle and the native engine
expressions."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from metadatadocumentparser_spark import oracle
from metadatadocumentparser_spark.docparse import detect_column_layout, group_words_into_lines
from metadatadocumentparser_spark.functions.classify import classify_block_type
from metadatadocumentparser_spark.functions.formula import (
    formula_score_cols,
    is_formula_candidate,
    stripped_text,
)
from metadatadocumentparser_spark.functions.latex import latex_heuristic
from metadatadocumentparser_spark.functions.textstats import half_up_scaled
from metadatadocumentparser_spark.operators import quality
from metadatadocumentparser_spark.payload import Word


# ---------------------------------------------------------------- F1
CLASSIFY_CASES = [
    # (bbox, font_size, page_h, expected)  — thresholds layout.py:94-106
    ((0, 10, 100, 30), 11.0, 792.0, "header"),      # y0 < 79.2
    ((0, 79.2, 100, 700), 11.0, 792.0, "text"),     # exactly at boundary → not header
    ((0, 100, 100, 713.0), 11.0, 792.0, "footer"),  # y1 > 712.8
    ((0, 100, 100, 712.8), 11.0, 792.0, "text"),    # exactly 0.9·h → not footer
    ((0, 100, 100, 200), 16.0, 792.0, "heading"),   # 16 is NOT > 16, but > 12
    ((0, 100, 100, 200), 16.5, 792.0, "title"),
    ((0, 100, 100, 200), 12.0, 792.0, "text"),      # 12 is NOT > 12
    ((0, 100, 100, 200), 12.5, 792.0, "heading"),
    ((0, 100, 100, 200), 0.0, 792.0, "text"),       # falsy font_size
    ((0, 100, 100, 200), None, 792.0, "text"),
    ((0, 10, 100, 200), 17.0, 792.0, "header"),     # header wins over title
]


def test_classify_oracle():
    for bbox, fs, ph, want in CLASSIFY_CASES:
        assert oracle.classify_block_type(bbox, fs, ph) == want, (bbox, fs)


def test_classify_engine(spark):
    rows = [([float(v) for v in bbox], fs, ph) for bbox, fs, ph, _ in CLASSIFY_CASES]
    df = spark.createDataFrame(rows, "bbox array<double>, fs double, ph double")
    got = [
        r.bt
        for r in df.select(
            classify_block_type(F.col("bbox"), F.col("fs"), F.col("ph"), F.lit(True)).alias("bt")
        ).collect()
    ]
    assert got == [w for *_, w in CLASSIFY_CASES]


# ---------------------------------------------------------------- F2
FORMULA_CASES = [
    # (text, font_size, strict, expected_pass)
    ("E = mc^2", None, False, True),          # strong '=' + patterns + density
    ("x", None, False, False),                # len < 2 (P8)
    ("Fig. 3", None, False, False),           # P7 negative
    ("Table 12", None, False, False),
    ("2023-01-01", None, False, False),
    ("Page 7", None, False, False),
    ("see https://x.org", None, False, False),
    ("Chapter 1", None, False, False),
    ("hello world", None, False, False),
    ("a/b", None, False, True),               # fraction+chars+density bonus
    ("α + β", None, False, True),
    ("word soup plain", 9.0, False, False),   # small font alone not enough
]


def test_formula_oracle():
    for text, fs, strict, want in FORMULA_CASES:
        got, _ = oracle.formula_score(text, fs, strict)
        assert got == want, (text, got)


def test_formula_engine(spark):
    df = spark.createDataFrame(
        [(t, fs) for t, fs, _, _ in FORMULA_CASES], "t string, fs double"
    )
    t = stripped_text(F.col("t"))
    _s, _c, passes = formula_score_cols(t, F.col("fs"), False)
    got = [
        r.p
        for r in df.select((is_formula_candidate(t) & passes).alias("p")).collect()
    ]
    assert got == [w for *_, w in FORMULA_CASES]


def test_formula_strict_mode():
    # density < 0.3 and no strong indicator → zeroed in strict mode
    text = "x_i plus something y_j t"
    ok_normal, s_normal = oracle.formula_score(text, None, False)
    ok_strict, s_strict = oracle.formula_score(text, None, True)
    assert s_normal > 0 and ok_normal
    assert s_strict == 0.0 and not ok_strict
    # strong indicator survives strict but needs the 0.8 threshold
    ok2, s2 = oracle.formula_score("∑ x", None, True)
    assert ok2 and s2 >= 0.8


def test_formula_score_weights():
    # pure char count: "(((" → 3 chars · 0.1 + density bonus path
    _, s = oracle.formula_score("(((", None, False)
    assert s == pytest.approx(3 * 0.1 + 0.4)  # len<50, density 1.0 > 0.2
    # '=' alone: 1 char·0.1 + strong 0.6 → below 0.7? plus density bonus 0.4
    ok, s = oracle.formula_score("= a", None, False)
    assert s == pytest.approx(0.1 + 0.6 + 0.4) and ok


# ---------------------------------------------------------------- F5
LATEX_CASES = [
    ("α + β", r"$\alpha + \beta$"),
    ("x^2", "$x^{2}$"),
    ("x_i", "$x_{i}$"),
    ("√x", r"$\sqrtx$"),                      # √ maps before regexes; no braces
    ("$already$", "$already$"),               # no double wrap
    ("Δx ≤ ∞", r"$\Deltax \leq \infty$"),
    ("a_b_c", "$a_{b}_{c}$"),                 # non-overlapping sequential sub
]


def test_latex_oracle():
    for src, want in LATEX_CASES:
        assert oracle.text_to_latex_heuristic(src) == want, src


def test_latex_engine(spark):
    df = spark.createDataFrame([(t,) for t, _ in LATEX_CASES], "t string")
    got = [r.l for r in df.select(latex_heuristic(F.col("t")).alias("l")).collect()]
    assert got == [w for _, w in LATEX_CASES]


# ---------------------------------------------------------------- W5
def _w(top, x0=0.0, text="w"):
    return Word(x0=x0, x1=x0 + 5, top=top, bottom=top + 10, text=text, start=0, end=1)


def test_word_line_grouping_tolerance():
    # tolerance 3, compared against the FIRST word of the line (text.py:214)
    words = [_w(100.0), _w(102.9), _w(103.1), _w(110.0)]
    lines = group_words_into_lines(words)
    # 102.9 joins (≤3); 103.1 exceeds vs 100 → new line even though it is
    # within 3 of 102.9 (reference keeps current_y fixed per line)
    assert [len(l) for l in lines] == [2, 1, 1]
    words2 = [_w(100.0), _w(103.0)]  # exactly 3 → same line
    assert [len(l) for l in group_words_into_lines(words2)] == [2]


# ---------------------------------------------------------------- A2/A3
def _blk(x0, x1, page=0):
    return {"bbox": [x0, 0.0, x1, 10.0], "page_num": page}


def test_layout_vote():
    assert detect_column_layout([]) == "single"
    # <3 blocks → 1 column
    assert detect_column_layout([_blk(0, 10), _blk(300, 310)]) == "single"
    # 6 centers, one dominant gap → double
    blocks = [_blk(60 + i * 7, 60 + i * 7 + 10) for i in range(3)] + [
        _blk(330 + i * 7, 330 + i * 7 + 10) for i in range(3)
    ]
    assert detect_column_layout(blocks) == "double"
    # 9 centers in 3 clusters → multi
    blocks3 = [
        _blk(c + i * 7, c + i * 7 + 10) for c in (42, 302, 562) for i in range(3)
    ]
    assert detect_column_layout(blocks3) == "multi"


# ---------------------------------------------------------------- SimHash multi-index
def test_simhash_multi_index_recall(spark):
    """The 4×4-bit multi-index must find EVERY pair with hamming ≤ 3 —
    including pairs whose differing bits straddle block boundaries (the
    two-8-bit-halves bug: 1 bit in each half shares neither half)."""
    from itertools import combinations

    from metadatadocumentparser_spark.operators.dedup import near_pairs_from_fingerprints

    fps = [
        0x0000,
        0x0101,  # vs 0x0000: 1 bit in lo half, 1 in hi half (old code missed)
        0x1110,  # vs 0x0000: 3 bits spread over 3 different 4-bit blocks
        0x8001,  # vs 0x0000: highest + lowest bit
        0x00FF, 0x0F0F, 0xFFFF, 0x0001, 0x8000, 0x1234, 0x1235, 0x9234,
    ]
    df = spark.createDataFrame(
        [(i, fp) for i, fp in enumerate(fps)], "id int, simhash bigint"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in near_pairs_from_fingerprints(df, max_hamming=3, bits=16).collect()
    }
    want = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a, b in combinations(range(len(fps)), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    # the straddling pairs must be present
    assert (0, 1, 2) in want and (0, 2, 3) in want and (0, 3, 2) in want
    assert got == want


# ---------------------------------------------------------------- as-of join
def test_asof_join_semantics(spark):
    """<= tie policy (a right row AT the left ts matches), per-key
    isolation, inner vs left behavior."""
    from metadatadocumentparser_spark.operators.asof import asof_join

    l = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (2, 3, "c"), (3, 9, "d")],
        "k int, t int, tag string",
    )
    r = spark.createDataFrame(
        [(1, 5, 50.0), (1, 7, 70.0), (2, 4, 40.0)], "k int, t int, v double"
    )
    inner = {
        (x.k, x.t, x.tag, x.v)
        for x in asof_join(l, r, by="k", ts_col="t", payload_cols=["v"]).collect()
    }
    # k=1 t=5 matches the equal-ts right row; k=1 t=10 takes latest (t=7);
    # k=2 t=3 has no right row at/before it; k=3 has no right rows at all
    assert inner == {(1, 5, "a", 50.0), (1, 10, "b", 70.0)}
    left = {
        (x.k, x.t, x.tag, x.v)
        for x in asof_join(l, r, by="k", ts_col="t", payload_cols=["v"], how="left").collect()
    }
    assert left == inner | {(2, 3, "c", None), (3, 9, "d", None)}

def test_asof_join_nullable_payload_atomicity(spark):
    """ADVICE r2: per-column last(ignorenulls) stitched fields from
    DIFFERENT right rows when the latest right row had a NULL payload
    column, and inner matching on pay[0] nullity dropped genuine matches
    whose first field is NULL. The struct carry must return the matched
    row's fields verbatim (DuckDB ASOF: (7, NULL), never (7, 99))."""
    from metadatadocumentparser_spark.operators.asof import asof_join

    l = spark.createDataFrame([(1, 10, "x")], "k int, t int, tag string")
    r = spark.createDataFrame(
        [(1, 2, 1.0, 99.0), (1, 5, 7.0, None)], "k int, t int, a double, b double"
    )
    rows = asof_join(l, r, by="k", ts_col="t", payload_cols=["a", "b"]).collect()
    assert [(x.k, x.t, x.tag, x.a, x.b) for x in rows] == [(1, 10, "x", 7.0, None)]

    # inner keeps a genuine match whose FIRST payload field is NULL
    r2 = spark.createDataFrame([(1, 5, None, 3.0)], "k int, t int, a double, b double")
    rows2 = asof_join(l, r2, by="k", ts_col="t", payload_cols=["a", "b"]).collect()
    assert [(x.a, x.b) for x in rows2] == [(None, 3.0)]
    # ...and inner still drops a left row with no right row at/before it
    l2 = spark.createDataFrame([(1, 1, "early")], "k int, t int, tag string")
    assert asof_join(l2, r2, by="k", ts_col="t", payload_cols=["a", "b"]).count() == 0


def test_short_doc_guards(spark):
    """ADVICE r2: <2-token docs crashed repetition_signals (descending
    sequence → toks[-1]) and <SHINGLE_K-token docs crashed with_shingles /
    decontaminate (slice start 0). Short docs must flow through with
    zero bigrams / zero shingles instead."""
    from metadatadocumentparser_spark.operators.dedup import with_shingles
    from metadatadocumentparser_spark.operators.quality import (
        decontaminate,
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "hello"), (3, "two words"), (4, "a a a a")],
        "id int, text string",
    )
    rep = {r.id: (r.n_tokens, r.dup_word_e4, r.top_bigram_e4)
           for r in repetition_signals(docs, "id", "text").collect()}
    assert rep[1] == (0, 0, 0)
    assert rep[2] == (1, 0, 0)
    assert rep[3] == (2, 0, 10000)          # one bigram covering both tokens
    assert rep[4] == (4, 7500, 15000)       # 'a a' appears 3x: 2*3/4 capped? no cap: 1.5

    sh = with_shingles(docs, "id", "text").collect()
    assert {r.id for r in sh} == {4}        # only the 4-token doc has 3-shingles
    hits = decontaminate(docs, docs, "id", "text").collect()
    assert {(r.id, r.n_hits) for r in hits} == {(4, 1)}


def test_connected_components_zero_iter_raises(spark):
    """ADVICE r2: max_iter<=0 raised NameError (unbound `changed`) instead
    of the intended RuntimeError with guidance."""
    from metadatadocumentparser_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=0)


def test_hyperplane_bucket_matches_unrolled_and_scales(spark):
    """The array-literal + aggregate(zip_with) form must produce buckets
    bit-identical to the naive unrolled sum (same left-assoc double
    arithmetic — verified against a pure-Python fold on real data), and
    must build a plan at dim=512 (the unrolled form is n_planes*dim
    expression nodes, which blows up Catalyst at production dims)."""
    import hashlib

    from metadatadocumentparser_spark.operators.similarity import hyperplane_bucket
    from metadatadocumentparser_spark.sources import load_table

    def coef(p, i):
        hx = hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()[:8]
        return (int(hx, 16) / float(0xFFFFFFFF)) * 2.0 - 1.0

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    got = {
        r.vec_id: r.b
        for r in emb.select(
            "vec_id", hyperplane_bucket(F.col("embedding"), 6, 64).alias("b")
        ).collect()
    }
    for r in emb.collect():
        want = 0
        for p in range(6):
            acc = 0.0  # python float == IEEE double, left-assoc like the plan
            for i in range(64):
                acc = acc + float(r.embedding[i]) * coef(p, i)
            if acc > 0:
                want += 1 << p
        assert got[r.vec_id] == want, r.vec_id

    # dim=512: the plan must build and evaluate (plan size is n_planes nodes)
    wide = spark.range(3).select(
        "id", F.expr("transform(sequence(1, 512), i -> CAST(i % 7 AS FLOAT))").alias("v")
    )
    rows = wide.select("id", hyperplane_bucket(F.col("v"), 8, 512).alias("b")).collect()
    assert len(rows) == 3 and all(r.b is not None for r in rows)


def _cc_rows(pairs, limit, **kw):
    """connected_components(pairs, **kw) collected with dedup's one-task
    edge limit patched to ``limit``: 0 runs star rounds to the end, None
    keeps the module's limit (one task for every graph in these tests)."""
    from metadatadocumentparser_spark.operators import dedup

    with pytest.MonkeyPatch.context() as mp:
        if limit is not None:
            mp.setattr(dedup, "_LOCAL_MAX_EDGES", limit)
        return dedup.connected_components(pairs, **kw).collect()


def test_connected_components_long_chain(spark):
    """Large-star/small-star converges in O(log diameter) rounds: a
    200-node chain (diameter 199 ≫ 25 — label propagation would need 199
    rounds and raise) must fully converge to one component labeled by the
    minimum id, plus correct labels on a disjoint triangle."""
    chain = [(i, i + 1) for i in range(5, 205)]           # one long path
    tri = [(1000, 1001), (1001, 1002), (1000, 1002)]      # separate component
    pairs = spark.createDataFrame(chain + tri, "id_a int, id_b int")
    # star rounds to the end; one round (203 edges -> a 202-edge forest,
    # not yet a star forest) then one task; one task from the start
    for limit in (0, 202, None):
        got = {r.id: r.label for r in _cc_rows(pairs, limit, max_iter=25)}
        assert {got[i] for i in range(5, 206)} == {5}, limit
        assert {got[i] for i in (1000, 1001, 1002)} == {1000}, limit
        assert len(got) == 201 + 3, limit


def _union_find_labels(edges):
    """Reference: node -> min id of its component, over the endpoints of
    the non-self-loop edges (self-loops alone add no node)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


_CC_GRAPHS = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=40
)


@settings(max_examples=15, deadline=None)
@example(edges=[])
@example(edges=[(i, i + 1) for i in range(30)])                  # chain
@example(edges=[(30 - i, 29 - i) for i in range(30)])            # chain, desc ids
@example(edges=[(20, i) for i in range(20)])                     # star, max center
@example(edges=[(0, 1), (1, 2), (2, 3), (3, 0), (9, 8), (8, 7), (7, 9)])  # cycles
@example(edges=[(1, 2), (2, 1), (1, 2), (3, 3), (3, 4), (5, 5)])  # dups, self-loops
@given(edges=_CC_GRAPHS)
def test_connected_components_matches_union_find(spark, edges):
    """Both regimes == union-find components labeled by the minimum, on
    chains, stars, cycles, duplicate/reversed edges, self-loops and the
    empty input: the star rounds' star-forest stop, and the one task."""
    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    for limit in (0, None):
        rows = _cc_rows(pairs, limit)
        got = {r.id: r.label for r in rows}
        assert len(rows) == len(got), limit  # one row per node
        assert got == _union_find_labels(edges), limit


def test_connected_components_no_confirmation_round(spark):
    """Disjoint pairs and stars are a star forest after ONE round, so
    max_iter=1 must converge: no extra round re-checks a known result."""
    from metadatadocumentparser_spark.operators.dedup import connected_components

    edges = [(1, 2), (3, 4), (10, 11), (10, 12), (10, 13), (25, 21), (25, 22)]
    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r.id: r.label for r in connected_components(pairs, max_iter=1).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10, 12: 10, 13: 10,
                   21: 21, 22: 21, 25: 21}


def test_connected_components_no_confirmation_round_star_rounds(spark):
    """The same graph with the one-task limit at 0, so max_iter=1 runs one
    star round: the star-forest stop must end it without a second round."""
    edges = [(1, 2), (3, 4), (10, 11), (10, 12), (10, 13), (25, 21), (25, 22)]
    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r.id: r.label for r in _cc_rows(pairs, 0, max_iter=1)}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10, 12: 10, 13: 10,
                   21: 21, 22: 21, 25: 21}


def test_connected_components_regime_by_edge_count(spark, monkeypatch):
    """The observed distinct edge count picks the regime: at the limit the
    graph finishes in one task (the checkpoint's jobs plus the consumer's
    action, <= 3 in all), one edge above it pays star rounds. The count
    itself costs no job: it is observed during the checkpoint."""
    from metadatadocumentparser_spark.operators import dedup

    monkeypatch.setattr(dedup, "_LOCAL_MAX_EDGES", 6)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # 6 and 7 distinct (id_a, id_b) edges: the duplicate and the
    # self-loop drop, the reversed copy counts
    below = [(i, i + 1) for i in range(5)] + [(1, 0), (0, 1), (3, 3)]
    above = below + [(20, 21)]
    cc = {}
    for name, edges in (("below", below), ("above", above)):
        pairs = spark.createDataFrame(edges, "id_a int, id_b int")
        result, call_jobs = jobs(f"cc_{name}", lambda: dedup.connected_components(pairs))
        rows, collect_jobs = jobs(f"cc_{name}_collect", result.collect)
        assert {r.id: r.label for r in rows} == _union_find_labels(edges), name
        cc[name] = (call_jobs, collect_jobs)
    assert sum(cc["below"]) <= 3, cc
    # a star round is a checkpoint over shuffles plus the star-forest check
    assert cc["above"][0] >= cc["below"][0] + 2, cc


def test_connected_components_empty_and_string_ids(spark):
    """An empty edge set gives no rows and keeps the id type; in both
    regimes, string ids elect the same code-point minimum as Python's <,
    which is Spark's UTF-8 byte order."""
    empty = spark.createDataFrame([], "id_a int, id_b int")
    # U+FF5E < U+1D11E by code point and UTF-8 bytes, not by UTF-16 units
    edges = [("b", "a"), ("a", "A"), ("é", "€"), ("€", "€"), ("𝄞", "～"),
             ("z", ""), ("aa", "z")]
    named = spark.createDataFrame(edges, "id_a string, id_b string")
    from metadatadocumentparser_spark.operators.dedup import connected_components

    # no edges is at or below every limit: one regime
    out = connected_components(empty)
    assert out.schema.simpleString() == "struct<id:int,label:int>"
    assert out.collect() == []
    for limit in (0, None):
        rows = _cc_rows(named, limit)
        assert len(rows) == len({r.id for r in rows}), limit
        assert {r.id: r.label for r in rows} == _union_find_labels(edges), limit


def _ref_shingles(text, k):
    """Distinct word-k-shingles in first-occurrence order: split on single
    spaces (empty tokens kept), k-grams re-joined by ' '."""
    if text is None:
        return []
    w = text.split(" ")
    return list(dict.fromkeys(" ".join(w[i : i + k]) for i in range(len(w) - k + 1)))


def test_shingles_match_python_reference(spark):
    """shingle_array and with_shingles == the Python reference on NULL,
    empty, short, exactly-k, empty-token, repeated-shingle and long docs."""
    import random

    from metadatadocumentparser_spark.operators.dedup import shingle_array, with_shingles

    rnd = random.Random(7)
    texts = [
        None, "", " ", "a", "a b", "a b c", "a  b", "  a b  ", "a b c d",
        "x y z x y z x y z", "a a a a a", "naïve π token ∑",
        " ".join(rnd.choice("abcdefgh") for _ in range(5000)),
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    for k in (1, 2, 3, 4):
        arrs = {
            r.id: r.s
            for r in df.select("id", shingle_array("text", k).alias("s")).collect()
        }
        rows = [(r.id, r.shingle) for r in with_shingles(df, "id", "text", k=k).collect()]
        for i, t in enumerate(texts):
            want = _ref_shingles(t, k)
            assert arrs[i] == want, (k, t)
            assert sorted(s for j, s in rows if j == i) == sorted(want), (k, t)
        assert len(rows) == len(set(rows))


def test_stratified_sample_deterministic(spark):
    """Same rows kept across repartitioning (md5-uniform, not sampleBy's
    partition-dependent RNG); per-stratum keep rates near their targets;
    unlisted strata get the default rate."""
    from metadatadocumentparser_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, ["en", "de", "xx"][i % 3]) for i in range(3000)], "id long, lang string"
    )
    rates = {"en": 0.5, "de": 0.2}
    a = {r.id for r in stratified_sample(df, "lang", "id", rates, 0.05).collect()}
    b = {
        r.id
        for r in stratified_sample(df.repartition(17), "lang", "id", rates, 0.05).collect()
    }
    assert a == b and a
    per = {"en": 0, "de": 0, "xx": 0}
    for r in df.collect():
        if r.id in a:
            per[r.lang] += 1
    assert abs(per["en"] / 1000 - 0.5) < 0.06
    assert abs(per["de"] / 1000 - 0.2) < 0.05
    assert abs(per["xx"] / 1000 - 0.05) < 0.03


def test_redact_pii_semantics(spark):
    """Counts on the original text, fixed email→phone→IP masking order,
    no PII → text unchanged, NULL text → NULL counts and NULL text."""
    from metadatadocumentparser_spark.operators.redact import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-corp.io and bob@y.org call +44 123-4567 from 192.168.0.1"),
            (2, "no pii here just words 12 34"),
            (3, None),
            (4, "no at sign, call 1 222-3334 from 10.0.0.1"),
        ],
        "id int, text string",
    )
    got = {r.id: r for r in redact_pii(df, "id", "text").collect()}
    assert (got[3].n_emails, got[3].n_phones, got[3].n_ips, got[3].redacted) == (
        None, None, None, None,
    )
    assert (got[4].n_emails, got[4].n_phones, got[4].n_ips) == (0, 1, 1)
    assert got[4].redacted == "no at sign, call <PHONE> from <IP>"
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (2, 1, 1)
    assert got[1].redacted == "mail <EMAIL> and <EMAIL> call <PHONE> from <IP>"
    assert (got[2].n_emails, got[2].n_phones, got[2].n_ips) == (0, 0, 0)
    assert got[2].redacted == "no pii here just words 12 34"


def test_pack_sequences_invariants(spark):
    """Sample packing: every doc in exactly one pack; no pack exceeds
    capacity unless it is a single oversize doc; deterministic across
    repartitioning; utilization well above the unpacked baseline."""
    from metadatadocumentparser_spark.operators.packing import pack_sequences
    from metadatadocumentparser_spark.sources import load_table
    from metadatadocumentparser_spark.functions import textstats

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", textstats.token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    cap = 512
    packs = pack_sequences(d, "doc_id", "n_tokens", capacity=cap, n_shards=16).collect()

    all_ids = [i for p in packs for i in p.ids]
    assert len(all_ids) == len(set(all_ids)) == d.count()   # exactly-once
    for p in packs:
        assert p.total_tokens <= cap or (p.oversize and p.n_docs == 1)
        assert p.n_docs == len(p.ids)
    sizes = {r.doc_id: r.n_tokens for r in d.collect()}
    for p in packs:
        assert p.total_tokens == sum(sizes[i] for i in p.ids)

    # deterministic under repartitioning (md5 shards, FFD sorted)
    again = pack_sequences(d.repartition(13), "doc_id", "n_tokens", cap, 16).collect()
    key = lambda rows: sorted((r.pack_id, tuple(r.ids)) for r in rows)  # noqa: E731
    assert key(packs) == key(again)

    # packing must beat one-doc-per-sequence utilization substantially
    total_tokens = sum(sizes.values())
    packed_util = total_tokens / (len(packs) * cap)
    unpacked_util = total_tokens / (len(sizes) * cap)
    assert packed_util > 0.7 and packed_util > 1.5 * unpacked_util, (
        packed_util, unpacked_util)


def test_quantize_embeddings_roundtrip(spark):
    """int8 quantization: |x - dequant(quant(x))| <= scale/2 per element,
    cosine preserved to ~1e-2, zero-vector safe, values within [-127,127]."""
    from metadatadocumentparser_spark.operators.quantize import (
        dequantize_embeddings,
        quantize_embeddings,
    )
    from metadatadocumentparser_spark.sources import load_table
    import math

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
    q = quantize_embeddings(e, "vec_id", "embedding")
    deq = dequantize_embeddings(q)
    orig = {r.vec_id: [float(x) for x in r.embedding] for r in e.collect()}
    back = {r.id: r.vec for r in deq.collect()}
    scales = {r.id: r.scale for r in q.collect()}
    for r in q.collect():
        assert all(-127 <= int(v) <= 127 for v in r.qvec)
    for i, v in orig.items():
        s = scales[i]
        assert all(abs(a - b) <= s / 2 + 1e-12 for a, b in zip(v, back[i]))
        dot = sum(a * b for a, b in zip(v, back[i]))
        na = math.sqrt(sum(a * a for a in v))
        nb = math.sqrt(sum(b * b for b in back[i]))
        if na > 0 and nb > 0:
            assert dot / (na * nb) > 0.99

    z = spark.createDataFrame([(1, [0.0] * 8)], "vec_id int, embedding array<float>")
    zq = quantize_embeddings(z, "vec_id", "embedding").collect()[0]
    assert zq.scale == 0.0 and all(v == 0 for v in zq.qvec)


def test_quantize_null_nan_safe(spark):
    """Review finding (r3): least/greatest skip NULLs, so a NULL element
    used to clamp to +127 and one NaN poisoned the whole vector. Non-finite
    elements must quantize to NULL without disturbing the finite ones."""
    from metadatadocumentparser_spark.operators.quantize import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [1.0, None, -2.0]), (2, [float("nan"), 4.0, -4.0])],
        "vec_id int, embedding array<double>",
    )
    q = {r.id: r for r in quantize_embeddings(df, "vec_id", "embedding").collect()}
    assert list(q[1].qvec) == [64, None, -127] and abs(q[1].scale - 2.0 / 127) < 1e-12
    assert list(q[2].qvec) == [None, 127, -127] and abs(q[2].scale - 4.0 / 127) < 1e-12
    back = {r.id: r.vec for r in dequantize_embeddings(
        quantize_embeddings(df, "vec_id", "embedding")).collect()}
    assert back[1][1] is None and back[2][0] is None
    assert abs(back[1][0] - 64 * 2.0 / 127) < 1e-12


def test_review_hardening_r3(spark):
    """Second self-review pass (r3): Infinity-safe quantization, short
    vectors raise in hyperplane_bucket (never silently bucket 0),
    pack_sequences handles NULL size and rejects NULL id loudly, redaction
    counts agree with the masking chain (a phone inside an email local
    part is consumed by <EMAIL> and must not count as a phone)."""
    import pytest
    from metadatadocumentparser_spark.operators.packing import pack_sequences
    from metadatadocumentparser_spark.operators.quantize import quantize_embeddings
    from metadatadocumentparser_spark.operators.redact import redact_pii
    from metadatadocumentparser_spark.operators.similarity import hyperplane_bucket

    inf = float("inf")
    q = quantize_embeddings(
        spark.createDataFrame([(1, [1.0, inf, -2.0])], "vec_id int, embedding array<double>"),
        "vec_id", "embedding",
    ).collect()[0]
    assert abs(q.scale - 2.0 / 127) < 1e-12 and list(q.qvec) == [64, None, -127]

    wide = spark.createDataFrame([(1, [float(i) for i in range(80)])], "id int, v array<double>")
    b80 = wide.select(hyperplane_bucket(F.col("v"), 4, 64).alias("b")).collect()[0].b
    b64 = wide.select(
        F.slice("v", 1, 64).alias("v64")
    ).select(hyperplane_bucket(F.col("v64"), 4, 64).alias("b")).collect()[0].b
    assert b80 == b64  # longer vectors use their first dim elements
    short = spark.createDataFrame([(1, [1.0, 2.0])], "id int, v array<double>")
    with pytest.raises(Exception, match="shorter than dim"):
        short.select(hyperplane_bucket(F.col("v"), 4, 64).alias("b")).collect()

    pk = spark.createDataFrame([(1, None), (2, 10)], "id int, n int")
    packs = pack_sequences(pk, "id", "n", capacity=16, n_shards=2).collect()
    assert sorted(i for p in packs for i in p.ids) == [1, 2]
    bad = spark.createDataFrame([(None, 5)], "id int, n int")
    with pytest.raises(Exception, match="NULL id"):
        pack_sequences(bad, "id", "n", capacity=16, n_shards=2).collect()

    r = redact_pii(
        spark.createDataFrame([(1, "a-555 123-4567@x.co and 1 222-3334 left")],
                              "id int, text string"),
        "id", "text",
    ).collect()[0]
    assert r.n_emails == 1 and r.n_phones == 1  # only the standalone phone
    # '123-4567@x.co' is the email match; the '555 123-4567' phone-shaped
    # substring no longer exists once <EMAIL> replaces it — count agrees
    assert r.redacted == "a-555 <EMAIL> and <PHONE> left"


def test_paragraph_dedup_semantics(spark):
    """Keeper = globally first (doc, pos) occurrence; later repeats drop;
    empty paragraphs survive verbatim; a fully-duplicated doc becomes an
    empty text but never vanishes."""
    from metadatadocumentparser_spark.operators.paradedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared one\n\nbeta"),
            (2, "shared one\ngamma\nshared one"),
            (3, "alpha\nshared one"),  # fully duplicated vs doc 1
        ],
        "id int, text string",
    )
    got = {r.id: r for r in paragraph_dedup(docs, "id", "text").collect()}
    assert got[1].text_dedup == "alpha\nshared one\n\nbeta" and got[1].n_kept == 4
    assert got[2].text_dedup == "gamma" and got[2].n_kept == 1
    assert got[3].text_dedup == "" and got[3].n_kept == 0 and got[3].n_paras == 2


def test_review_hardening_r4(spark):
    """Round-4 ADVICE fixes: paragraph_dedup treats a regex-metachar sep
    as a literal (split and array_join agree), pack_sequences rejects a
    non-integral id with its own message under any ANSI setting, and
    sample_uniform raises on NULL ids instead of silently hashing the
    whole NULL population to one keep/drop decision."""
    import pytest
    from metadatadocumentparser_spark.operators.packing import pack_sequences
    from metadatadocumentparser_spark.operators.paradedup import paragraph_dedup
    from metadatadocumentparser_spark.operators.sampling import stratified_sample

    docs = spark.createDataFrame(
        [(1, "alpha|shared|beta"), (2, "shared|gamma")], "id int, text string"
    )
    got = {r.id: r for r in paragraph_dedup(docs, "id", "text", sep="|").collect()}
    # '|' as a raw regex splits per character; quoted it splits on the pipe
    assert got[1].text_dedup == "alpha|shared|beta" and got[1].n_paras == 3
    assert got[2].text_dedup == "gamma" and got[2].n_kept == 1

    bad = spark.createDataFrame([("doc-7", 5)], "id string, n int")
    with pytest.raises(Exception, match="non-integral id"):
        pack_sequences(bad, "id", "n", capacity=16, n_shards=2).collect()
    ok = spark.createDataFrame([("41", 5), ("42", 6)], "id string, n int")
    packs = pack_sequences(ok, "id", "n", capacity=16, n_shards=2).collect()
    assert sorted(i for p in packs for i in p.ids) == [41, 42]

    nulls = spark.createDataFrame([(None, "en")], "id int, lang string")
    with pytest.raises(Exception, match="NULL id"):
        stratified_sample(nulls, "lang", "id", {"en": 1.0}).collect()


def repetition_ngram_signals_sql(
    df,
    id_col: str,
    text_col: str,
    top_ns: tuple[int, ...] = quality.GOPHER_TOP_NS,
    dup_ns: tuple[int, ...] = quality.GOPHER_DUP_NS,
):
    """The r4/r5 all-native form of quality.repetition_ngram_signals (one
    fused gram explode + (id, n, gram) aggregation), kept as the reference
    the mapInArrow kernel must match byte-for-byte (signal definitions in
    the kernel's docstring).

    Plan shape (r5 — was 4 shuffles + a corpus-wide token re-explode):
    ONE gram explode for all n (array-side concat of per-n occurrence
    structs) → one (id, n, gram) partial-aggregated count → selected
    occurrences' positions re-aggregated to ONE row per (id, n, signal)
    → coverage and char mass computed ARRAY-SIDE against the doc's token
    array (sequence-expand + distinct + length fold — overlaps counted
    once, exactly the shape the exploded/joined version produced) → one
    conditional agg back to doc grain. Every shuffle keyed by (doc,
    gram) or doc: linear, skew-free (gram cardinality bounded by doc
    length; per-doc position lists bounded by token count)."""
    all_ns = sorted(set(top_ns) | set(dup_ns))
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = df.select(F.col(id_col).alias("id"), toks.alias("toks")).withColumn(
        "d",
        F.aggregate(
            "toks", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ),
    )

    # one occurrence array for every n: struct(n, pos, gram)
    per_n = [
        F.expr(
            f"CASE WHEN size(toks) >= {n} THEN"
            f" transform(sequence(0, size(toks) - {n}),"
            f" i -> struct({n} AS n, i AS pos,"
            f" array_join(slice(toks, i + 1, {n}), ' ') AS g))"
            f" ELSE array() END"
        )
        for n in all_ns
    ]
    occ = base.select(
        "id", F.explode(F.flatten(F.array(*per_n))).alias("o")
    ).select("id", F.col("o.n").alias("n"), F.col("o.pos").alias("pos"), F.col("o.g").alias("g"))
    counts = occ.groupBy("id", "n", "g").agg(
        F.count("*").alias("c"), F.collect_list("pos").alias("ps")
    )

    # token chars of the gram = len(g) - (n-1) single separators
    w = (F.col("c") * (F.length("g") - (F.col("n") - 1))).cast("bigint")
    top_sel = (
        counts.where(F.col("n").isin(list(top_ns)))
        .groupBy("id", "n")
        .agg(F.max(F.struct(w.alias("w"), F.col("g"), F.col("ps"))).alias("t"))
        .select("id", "n", F.lit("top").alias("tag"), F.col("t.ps").alias("ps"))
    )
    dup_sel = (
        counts.where(F.col("n").isin(list(dup_ns)) & (F.col("c") >= 2))
        .groupBy("id", "n")
        .agg(F.flatten(F.collect_list("ps")).alias("ps"))
        .select("id", "n", F.lit("dup").alias("tag"), "ps")
    )

    # coverage ARRAY-SIDE: expand each start to its n positions, distinct
    # (overlaps count a token once), then fold the covered tokens'
    # lengths from the doc's own token array — no corpus-wide position
    # explode, no (id, pos) join
    sel = (
        top_sel.unionByName(dup_sel)
        .join(base.select("id", "toks"), "id")
        .select(
            "id", "n", "tag",
            F.aggregate(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            "ps",
                            lambda p0: F.sequence(p0, p0 + F.col("n") - 1),
                        )
                    )
                ),
                F.lit(0).cast("bigint"),
                lambda acc, p: acc
                + F.length(F.element_at(F.col("toks"), p + 1)),
            ).alias("chars"),
        )
    )
    covered = sel.groupBy("id").agg(
        *[
            F.sum(
                F.when((F.col("n") == n) & (F.col("tag") == "top"), F.col("chars"))
            ).alias(f"_top{n}")
            for n in top_ns
        ],
        *[
            F.sum(
                F.when((F.col("n") == n) & (F.col("tag") == "dup"), F.col("chars"))
            ).alias(f"_dup{n}")
            for n in dup_ns
        ],
    )
    out = base.select("id", "d").join(covered, "id", "left")
    frac = lambda c: F.when(  # noqa: E731
        F.col("d") > 0, F.coalesce(F.col(c), F.lit(0)) / F.col("d")
    ).otherwise(F.lit(0.0))
    return out.select(
        "id",
        *[half_up_scaled(frac(f"_top{n}"), 4).alias(f"top_{n}gram_e4") for n in top_ns],
        *[half_up_scaled(frac(f"_dup{n}"), 4).alias(f"dup_{n}gram_e4") for n in dup_ns],
    )


def test_repetition_ngram_kernel_equals_sql(spark):
    """r6: repetition_ngram_signals is a doc-local mapInArrow kernel; the
    former all-native shuffle form (repetition_ngram_signals_sql above)
    and the kernel must agree byte-for-byte — including NULL/empty text,
    unicode (astral) tokens, heaviest-gram ties, and single-token spam."""
    from metadatadocumentparser_spark.operators.quality import (
        repetition_ngram_signals,
    )

    rows = [
        (1, None),
        (2, ""),
        (3, "  "),
        (4, "a b a b a b x y z a b"),
        (5, "z z z z z z z z z z z z"),
        (6, "aa b aa b cc d cc d aa b cc d x y"),
        (7, "\U0001F600 x \U0001F600 x \U0001F600 x y"),
        (8, "a " * 11),
        (9, "ab cd ab cd ab cd ab cd ab cd"),
        # tie on weight between distinct 3-grams → string tie-break
        (10, "p q r s p q r s"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    a = {r.id: tuple(r)[1:] for r in repetition_ngram_signals(df, "id", "text").collect()}
    b = {
        r.id: tuple(r)[1:]
        for r in repetition_ngram_signals_sql(df, "id", "text").collect()
    }
    assert a == b
    # non-bigint id types flow through the kernel schema (the tokenize_greedy
    # id-ddl lesson): string ids must not crash or corrupt
    sdf = spark.createDataFrame([("x", "a b a b a b")], "id string, text string")
    got = repetition_ngram_signals(sdf, "id", "text").collect()
    assert got[0].id == "x" and got[0].top_3gram_e4 > 0


def test_repetition_ngram_signals(spark):
    """Gopher §A1.1 n-gram suite, hand-computed: positional coverage
    counts overlapped tokens once; heaviest-gram tie-break is
    deterministic (count × chars, then gram desc); short/empty docs
    score 0; char accounting is token-chars only."""
    from metadatadocumentparser_spark.operators.quality import (
        repetition_ngram_signals,
    )

    df = spark.createDataFrame(
        [
            # toks=7, D=7: top-3 'a b c'×2 covers 6/7; top-4 all unique,
            # max gram 'c a b c' covers 4/7; no duplicated 5+-grams
            (1, "a b c a b c x"),
            (2, ""),
            (3, "p q"),  # shorter than every n
            # 16 toks: 'u v w'×3 covers 9/16, 'u v w x'×3 covers 12/16,
            # dup 5/6/10-grams all cover positions 0..14 = 15/16
            (4, "u v w x y u v w x y u v w x y z"),
        ],
        "id int, text string",
    )
    got = {r.id: r for r in repetition_ngram_signals(df, "id", "text").collect()}
    assert (got[1].top_3gram_e4, got[1].top_4gram_e4) == (8571, 5714)
    assert (got[1].dup_5gram_e4, got[1].dup_6gram_e4, got[1].dup_10gram_e4) == (0, 0, 0)
    assert tuple(got[2]) == (2, 0, 0, 0, 0, 0)
    assert tuple(got[3]) == (3, 0, 0, 0, 0, 0)
    assert (got[4].top_3gram_e4, got[4].top_4gram_e4) == (5625, 7500)
    assert (got[4].dup_5gram_e4, got[4].dup_6gram_e4, got[4].dup_10gram_e4) == (
        9375, 9375, 9375,
    )


def test_null_text_contract(spark):
    """Uniform NULL-text contract across the text operators: NULL text is
    treated as empty text — rows are NEVER silently dropped and counts
    are NEVER NULL (the pre-fix line-signals op dropped the row; paradedup
    leaked a NULL n_paras). normalize keeps NULL (nothing to normalize)
    with changed=false; exact dedup groups NULL-content docs under the
    NULL hash key."""
    from metadatadocumentparser_spark.operators.chunking import (
        content_defined_chunks,
    )
    from metadatadocumentparser_spark.operators.dedup import exact_dedup_groups
    from metadatadocumentparser_spark.operators.normalize import normalize_text
    from metadatadocumentparser_spark.operators.paradedup import paragraph_dedup
    from metadatadocumentparser_spark.operators.quality import (
        repetition_line_signals,
        repetition_ngram_signals,
        repetition_signals,
    )

    df = spark.createDataFrame(
        [(1, "hello world one two three"), (2, None)], "id int, text string"
    )
    pd_ = {r.id: r for r in paragraph_dedup(df, "id", "text").collect()}
    assert pd_[2].n_paras == 1 and pd_[2].text_dedup == "" and pd_[2].n_kept == 1

    rep = {r.id: r for r in repetition_signals(df, "id", "text").collect()}
    assert rep[2].n_tokens == 0 and rep[2].dup_word_e4 == 0

    lin = {r.id: r for r in repetition_line_signals(df, "id", "text").collect()}
    assert 2 in lin and lin[2].n_units == 1 and lin[2].dup_unit_char_e4 == 0

    ngr = {r.id: r for r in repetition_ngram_signals(df, "id", "text").collect()}
    assert tuple(ngr[2])[1:] == (0, 0, 0, 0, 0)

    assert content_defined_chunks(df, "id", "text").count() == 1  # no NULL chunks

    groups = {r.h: r for r in exact_dedup_groups(df, "id", "text").collect()}
    assert None in groups and groups[None].keeper == 2

    nrm = {r.id: r for r in normalize_text(df, "id", "text").collect()}
    assert nrm[2].text_norm is None and nrm[2].changed is False


def test_minhash_banding_precision(spark):
    """(num_hashes, bands) are the production precision knob: on a planted
    corpus of 40 disjoint-vocabulary document pairs at shingle-Jaccard
    ≈ 0.29 (clear NON-duplicates) plus 5 true near-dup pairs (j ≈ 0.91),
    the oracle-checked default 8 hashes / 4 bands (r=2 ⇒ P[cand|j=.29]
    = 1-(1-j²)⁴ ≈ 0.30) admits a large false-candidate fraction, while 64
    hashes / 8 bands (r=8 ⇒ P ≈ 5e-4) must keep every true pair and
    collapse the false candidates as the collision curve predicts — the
    difference between a checkable small-scale config and one whose
    candidate volume survives 100 TB. md5 → fully deterministic."""
    import pytest
    from metadatadocumentparser_spark.operators import dedup

    rows = []
    low_pairs, true_pairs = set(), set()
    for i in range(40):  # j ≈ 0.29: 32 shared words, 36 unique per side
        c = [f"p{i}c{j}" for j in range(32)]
        ta = [f"p{i}a{j}" for j in range(36)]
        tb = [f"p{i}b{j}" for j in range(36)]
        rows += [(2 * i, " ".join(c + ta)), (2 * i + 1, " ".join(c + tb))]
        low_pairs.add((2 * i, 2 * i + 1))
    for i in range(40, 45):  # j ≈ 0.91: one word of 68 replaced
        w = [f"p{i}c{j}" for j in range(68)]
        w2 = list(w)
        w2[64] = f"p{i}X"
        rows += [(2 * i, " ".join(w)), (2 * i + 1, " ".join(w2))]
        true_pairs.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "id bigint, text string")

    def cands(num_hashes, bands):
        return {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(
                df, "id", "text", num_hashes=num_hashes, bands=bands
            ).collect()
        }

    loose = cands(8, 4)
    tight = cands(64, 8)
    assert true_pairs <= loose and true_pairs <= tight  # recall holds
    false_loose = len(loose & low_pairs)
    false_tight = len(tight & low_pairs)
    # binomial(40, 0.30) vs binomial(40, 5e-4): deterministic given md5
    assert 3 <= false_loose <= 25, false_loose
    assert false_tight <= 2, false_tight
    assert false_tight < false_loose
    with pytest.raises(ValueError, match="multiple of bands"):
        dedup.minhash_band_rows(df, "id", "text", num_hashes=8, bands=3)


def test_heavy_hitters_exact(spark):
    """Two-pass MG heavy hitters: equals the full groupBy-count top-k
    (exactly, including value-asc tie-breaks) whenever capacity covers
    the k-th frequency — verified on the exploded document tokens."""
    from metadatadocumentparser_spark.operators.sketch import heavy_hitters_exact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok")
    )
    got = [(r.value, r.cnt) for r in heavy_hitters_exact(toks, "tok", k=20, capacity=2000).collect()]
    want = [
        (r.tok, r.cnt)
        for r in toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(20)
        .collect()
    ]
    assert got == want and len(got) == 20
    # partitioning must not change the answer (sketches differ, the
    # exact second pass does not)
    got2 = [
        (r.value, r.cnt)
        for r in heavy_hitters_exact(toks.repartition(17), "tok", k=20, capacity=2000).collect()
    ]
    assert got2 == want


def test_sampling_variants(spark):
    """Fixed-size, weighted (Efraimidis-Spirakis) and per-stratum
    sampling: deterministic under repartitioning, python-mirror exact
    (the md5-uniform makes every decision replayable), weights steer
    inclusion, per-stratum counts exact."""
    import hashlib

    from metadatadocumentparser_spark.operators.sampling import (
        sample_fixed,
        sample_per_stratum,
        weighted_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def u(i, salt="sample"):
        return int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8], 16) / 2**32

    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    want_fixed = sorted(ids, key=lambda i: (u(i), i))[:25]
    got_fixed = [r.doc_id for r in sample_fixed(docs, "doc_id", 25).collect()]
    assert sorted(got_fixed) == sorted(want_fixed)
    got2 = [r.doc_id for r in sample_fixed(docs.repartition(17), "doc_id", 25).collect()]
    assert sorted(got2) == sorted(want_fixed)

    # weighted: weight = doc_id % 5 (so ~1/5 of docs can never sample)
    wdf = docs.select("doc_id", (F.col("doc_id") % 5).cast("double").alias("w"))
    want_w = sorted(
        (i for i in ids if i % 5 > 0),
        key=lambda i: (-(u(i) ** (1.0 / (i % 5))), i),
    )[:25]
    got_w = [r.doc_id for r in weighted_sample(wdf, "doc_id", "w", 25).collect()]
    assert sorted(got_w) == sorted(want_w)
    assert all(i % 5 > 0 for i in got_w)  # zero weights never sample

    per = sample_per_stratum(docs, "lang", "doc_id", 7)
    counts = {r.lang: r.c for r in per.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    full = {r.lang: r.c for r in docs.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert counts == {l: min(7, c) for l, c in full.items()}
    again = sample_per_stratum(docs.repartition(13), "lang", "doc_id", 7)
    assert {tuple(r) for r in per.select("doc_id").collect()} == {
        tuple(r) for r in again.select("doc_id").collect()
    }


def test_lsh_params_for():
    """Auto-tuned banding params: the returned config meets the recall
    floor at j_dup, admits no more false candidates at j_safe than ANY
    other config in the budget, and beats the small-scale default 8/4 by
    orders of magnitude at the j=0.3 non-dup point."""
    import pytest

    from metadatadocumentparser_spark.operators.dedup import lsh_params_for

    def p(j, r, b):
        return 1.0 - (1.0 - j**r) ** b

    for j_dup, j_safe, budget in ((0.8, 0.3, 512), (0.9, 0.5, 512), (0.8, 0.3, 64)):
        nh, b = lsh_params_for(j_dup, j_safe, max_hashes=budget)
        r = nh // b
        assert nh == r * b and nh <= budget
        assert p(j_dup, r, b) >= 0.95
        # optimal within the budget: no sampled config does better
        best_safe = p(j_safe, r, b)
        for r2 in range(1, 33):
            for b2 in range(1, budget // r2 + 1):
                if p(j_dup, r2, b2) >= 0.95:
                    assert best_safe <= p(j_safe, r2, b2) + 1e-15, (r2, b2)
        # the oracle-checked default admits vastly more false candidates
        # (≥40× fewer even at the tight 64-hash budget)
        assert best_safe < p(j_safe, 2, 4) / 40

    with pytest.raises(ValueError, match="raise max_hashes"):
        lsh_params_for(0.3, 0.1, max_hashes=2)  # 2 hashes can't reach 0.95
    with pytest.raises(ValueError, match="j_safe"):
        lsh_params_for(0.3, 0.8)


def test_pack_sequences_split(spark):
    """Truncation-policy packing: oversize docs split into capacity-sized
    parts, so NO pack ever exceeds the capacity; every (id, part) lands
    exactly once; token mass is conserved; zero-size docs keep one
    zero-token part; deterministic under repartitioning."""
    from metadatadocumentparser_spark.operators.packing import (
        pack_sequences_split,
    )

    cap = 100
    rows = [(1, 250), (2, 90), (3, 100), (4, 0), (5, 40), (6, 301)]
    d = spark.createDataFrame(rows, "doc_id bigint, n int")
    packs = pack_sequences_split(d, "doc_id", "n", capacity=cap, n_shards=4).collect()

    assert all(p.total_tokens <= cap for p in packs)
    parts = [(q.id, q.part, q.tokens) for p in packs for q in p.parts]
    keys = [(i, pt) for i, pt, _ in parts]
    assert len(keys) == len(set(keys))
    # doc 1 (250) -> parts 100+100+50; doc 6 (301) -> 100*3+1; doc 4 -> one 0-part
    by_doc = {}
    for i, pt, t in parts:
        by_doc.setdefault(i, []).append(t)
    assert sorted(by_doc[1]) == [50, 100, 100]
    assert sorted(by_doc[6]) == [1, 100, 100, 100]
    assert by_doc[4] == [0]
    assert sum(t for _, _, t in parts) == sum(n for _, n in rows)

    # boundaries = cumulative starts aligned with parts
    for p_ in packs:
        toks = [q.tokens for q in p_.parts]
        starts = [0]
        for t in toks[:-1]:
            starts.append(starts[-1] + t)
        assert list(p_.boundaries) == starts

    again = pack_sequences_split(
        d.repartition(7), "doc_id", "n", capacity=cap, n_shards=4
    ).collect()
    key = lambda ps: sorted(  # noqa: E731
        (p.pack_id, tuple((q.id, q.part) for q in p.parts)) for p in ps
    )
    assert key(again) == key(packs)


def test_tokenize_greedy(spark):
    """WordPiece greedy longest-match: merges beat characters, whole-word
    UNK on any unmatched position, decode round-trips when the char vocab
    is complete, n_tokens feeds packing, deterministic under
    repartitioning, python mirror exact."""
    from metadatadocumentparser_spark.operators.tokenize import (
        _encode_word,
        build_char_vocab,
        decode_ids,
        tokenize_greedy,
    )

    docs = spark.createDataFrame(
        [(1, "unhappy cats"), (2, "zap"), (3, "")], "id bigint, text string"
    )
    vocab = ["[UNK]", "un", "##happy", "cat", "##s", "z", "##a", "##p",
             "u", "##n", "##h", "##y", "happy"]
    got = {r.id: (list(r.ids), r.n_tokens) for r in
           tokenize_greedy(docs, "id", "text", vocab).collect()}
    # 'unhappy' -> un + ##happy (longest match beats u/##n/... chars)
    assert got[1] == ([1, 2, 3, 4], 4)
    assert got[2] == ([5, 6, 7], 3)
    assert got[3] == ([], 0)
    assert decode_ids(got[1][0], vocab) == "unhappy cats"

    # whole-word UNK: 'dog' has no 'd' piece
    assert _encode_word("dog", {p: i for i, p in enumerate(vocab)}, 7, 0) == [0]

    # complete char vocab -> zero UNKs over the real corpus; repartition-stable
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cv = build_char_vocab(corpus, "text", extra=["the", "##ing"])
    toks = tokenize_greedy(corpus, "doc_id", "text", cv)
    unk_id = cv.index("[UNK]")
    assert toks.where(F.array_contains("ids", unk_id)).count() == 0
    a = {r.id: list(r.ids) for r in toks.collect()}
    b = {r.id: list(r.ids) for r in
         tokenize_greedy(corpus.repartition(13), "doc_id", "text", cv).collect()}
    assert a == b

    # python mirror on a sample row
    vmap = {p: i for i, p in enumerate(cv)}
    mx = max(len(p) for p in cv)
    row = corpus.orderBy("doc_id").first()
    mirror = []
    for w in row.text.split():
        mirror.extend(_encode_word(w, vmap, mx, vmap["[UNK]"]))
    assert mirror == a[row.doc_id]


def test_train_bpe_merges(spark):
    """Sampled BPE training: merges are the most frequent adjacent pairs
    in rank order, '##'-aware, deterministic, and feeding them into
    build_char_vocab shrinks the corpus token count vs characters-only."""
    from metadatadocumentparser_spark.operators.tokenize import (
        build_char_vocab,
        tokenize_greedy,
        train_bpe_merges,
    )

    toy = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "low lowest new newer")],
        "doc_id bigint, text string",
    )
    merges = train_bpe_merges(toy, "text", n_merges=3, id_col="doc_id")
    # ('##o','##w') ties ('l','##o') at freq 7; the documented lexicographic
    # tie-break picks the '#'-lower pair, then l+##ow completes 'low'
    assert merges[0] == "##ow" and merges[1] == "low"

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m = train_bpe_merges(corpus, "text", n_merges=50, id_col="doc_id")
    assert len(m) == 50 and len(set(m)) == 50
    assert m == train_bpe_merges(
        corpus.repartition(17), "text", n_merges=50, id_col="doc_id"
    )
    base = build_char_vocab(corpus, "text")
    better = build_char_vocab(corpus, "text", extra=m)
    n_base = tokenize_greedy(corpus, "doc_id", "text", base).agg(
        F.sum("n_tokens")
    ).collect()[0][0]
    n_bpe = tokenize_greedy(corpus, "doc_id", "text", better).agg(
        F.sum("n_tokens")
    ).collect()[0][0]
    assert n_bpe < n_base * 0.8, (n_bpe, n_base)  # merges compress ≥20%


def test_kmv_null_values_excluded(spark):
    """r5 review: NULL values must not occupy a k-minima slot (md5(NULL)
    is NULL, sorts first, was counted by n_kept but skipped by max(u) —
    a biased estimate). A NULL is not a value: estimates with and
    without planted NULLs are identical."""
    from metadatadocumentparser_spark.operators.sketch import (
        kmv_distinct_estimate,
    )

    base = spark.range(200).select((F.col("id") % 40).cast("string").alias("v"))
    with_null = base.unionByName(
        spark.createDataFrame([(None,), (None,)], "v string")
    )
    a = kmv_distinct_estimate(base, "v", k=16).collect()[0]
    b = kmv_distinct_estimate(with_null, "v", k=16).collect()[0]
    assert (a.est_distinct_e2, a.n_kept) == (b.est_distinct_e2, b.n_kept)


def test_heavy_hitters_empty_path_schema(spark):
    """r5 review: the empty-candidates path must preserve the input
    column's type (a hardcoded string schema made the output schema
    depend on the data)."""
    from metadatadocumentparser_spark.operators.sketch import heavy_hitters_exact

    empty = spark.createDataFrame([], "v bigint")
    out = heavy_hitters_exact(empty, "v", k=5, capacity=10)
    assert out.schema.simpleString() == "struct<value:bigint,cnt:bigint>"
    assert out.count() == 0


def test_simhash_bits_guard(spark):
    """r5 review: bits > 16 silently zeroed every high bit (the word
    hash is 4 hex chars); now fail-loud."""
    from metadatadocumentparser_spark.operators.dedup import simhash

    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="bits"):
        simhash(df, "doc_id", "text", bits=32)
    assert simhash(df, "doc_id", "text", bits=16).count() == 1


def test_split_weights_must_sum_to_one(spark):
    """r5 review: the last split absorbs the remaining mass, so weights
    summing to 0.9 silently doubled the last stratum; now fail-loud."""
    from metadatadocumentparser_spark.operators.quality import split_assign

    df = spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(df, "doc_id", {"train": 0.7, "val": 0.1, "test": 0.1}).collect()
    ok = split_assign(df, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    assert ok.count() == 10


def test_bpe_sample_deterministic_without_id(spark):
    """r5 review: the id-less BPE sample used a bare limit() (scan-order
    dependent); now md5(text)-ordered — identical merges across
    partitionings."""
    from metadatadocumentparser_spark.operators.tokenize import train_bpe_merges

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text")
    a = train_bpe_merges(docs, "text", n_merges=12, sample_docs=100)
    b = train_bpe_merges(docs.repartition(17), "text", n_merges=12, sample_docs=100)
    assert a == b and len(a) == 12


def test_asof_null_right_ts_never_matches(spark):
    """r5 review: a right row with NULL ts sorted first in the window and
    was carried into every left row as a phantom match; ASOF semantics
    never match a NULL timestamp."""
    from metadatadocumentparser_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k bigint, t bigint")
    right = spark.createDataFrame([(1, None, 5)], "k bigint, t bigint, v bigint")
    assert asof_join(left, right, by="k", ts_col="t",
                     payload_cols=["v"], how="inner").count() == 0
    out = asof_join(left, right, by="k", ts_col="t",
                    payload_cols=["v"], how="left").collect()
    assert len(out) == 1 and out[0].v is None
    # payload/left column collision raises at plan time
    import pytest as _pt
    left2 = spark.createDataFrame([(1, 10, 0)], "k bigint, t bigint, v bigint")
    with _pt.raises(ValueError, match="collide"):
        asof_join(left2, right, by="k", ts_col="t", payload_cols=["v"])


def test_textstats_null_text_is_empty(spark):
    """r5 review: NULL text must score like empty text (0 / 'en'), not
    NULL — a NULL quality silently passes `score < min` gates."""
    from metadatadocumentparser_spark.functions import textstats as ts

    df = spark.createDataFrame([(1, None)], "id bigint, text string")
    r = df.select(
        ts.token_count(F.col("text")).alias("tc"),
        ts.bpe_token_count(F.col("text")).alias("bc"),
        ts.quality_score(F.col("text")).alias("q"),
        ts.lang_id(F.col("text")).alias("lang"),
    ).collect()[0]
    assert (r.tc, r.bc, r.lang) == (0, 0, "en") and r.q is not None


def test_minhash_kernel_equals_agg(spark):
    """r6: minhash_signatures is a hashlib mapInArrow kernel; it must
    equal the r5 explode+groupBy(id) aggregate form exactly — including
    short/NULL-text docs (absent) and NULL-id docs (present, like the
    old NULL group), across a non-default (num_hashes, k)."""
    from pyspark.sql import functions as F

    from metadatadocumentparser_spark.operators.dedup import (
        minhash_signatures,
        with_shingles,
    )

    rows = [
        (1, "a b c d e f"),
        (2, "a b"),           # < k tokens -> absent
        (3, None),            # NULL text -> absent
        (4, "x y z x y z x"),
        (None, "p q r s t"),  # NULL id -> present (old NULL group)
        (6, "naïve π token ∑ stream merge"),
        (7, "a b a b a b a b a b"),  # repeated shingles
        (8, " a  b c   d e  "),       # empty tokens
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for nh, k in ((8, 3), (4, 2)):
        sh = with_shingles(df, "doc_id", "text", k=k)
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
            for i in range(nh)
        ]
        old = sh.groupBy("id").agg(*aggs)
        new = minhash_signatures(df, "doc_id", "text", num_hashes=nh, shingle_k=k)
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0


def test_stripped_chars_is_python_isspace():
    """r6: stripped_text's btrim char set must be EXACTLY the set Python
    str.strip() strips (str.isspace() over the full Unicode range) —
    the reference operation it replicates."""
    from metadatadocumentparser_spark.functions.formula import _STRIP_CHARS

    expect = "".join(chr(c) for c in range(0x110000) if chr(c).isspace())
    assert _STRIP_CHARS == expect


def test_stripped_text_engine_matches_python_strip(spark):
    """btrim form == str.strip() on adversarial edges (NBSP, FS-US,
    ideographic space, zero-width NOT stripped, interior kept)."""
    from metadatadocumentparser_spark.functions.formula import stripped_text

    cases = [
        "  x = y  ",
        "\x1c\x1d∑ a + b\x1e\x1f",
        " 　π ≈ 3 ",
        "​ not-space edges ​",  # zero-width space is NOT isspace
        "", "   ", "\n\t\r\x0b\x0c mid \x85",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [r.s for r in df.select(stripped_text(F.col("t")).alias("s")).collect()]
    assert got == [c.strip() for c in cases]
