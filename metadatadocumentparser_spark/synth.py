"""Deterministic synthetic transcripts (FIXTURES.md §1).

Input model per BASELINE.json input_hint:
    conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
    ts:timestamp

Every turn's payload is a pure function of (conv_index, turn_idx) via a
string-seeded ``random.Random`` (SHA-512-based seeding — stable across
runs and platforms). Conversation 0 is a hot conversation with ~100× the
median turn count (the conv_id-skew exercise the north rule requires the
partitioning strategy to neutralize).

Payload shapes cover every branch of the reference semantics (single /
double / multi column, classifier-boundary fonts, formulas + decoys,
word-soup, vertical-text + image-overlap, images, tables, HTML boilerplate,
edge cases) — see FIXTURES.md §1 for the per-shape reference citations.
"""

from __future__ import annotations

import hashlib
import random
from bisect import bisect_right
from datetime import datetime, timedelta

EPOCH = datetime(2026, 1, 1, 0, 0, 0)

_WORDS = (
    "data spark shuffle column layout block span text page engine parse "
    "vector batch arrow kernel join filter agg window order index golden "
    "turn conv role tool model pipeline lineage resume scale skew salt"
).split()

_FORMULAS = [
    "E = mc^2",
    "∑_{i=1}^{n} x_i",
    "f(x) = αx + β",
    "a/b + 1/2",
    "∫ f(x) dx ≈ Σ w_i",
    "x_i ≤ y_j",
    "π ≈ 3.14159",
    "∂u/∂t = ∇^2 u",
    "z = x_1 + x_2",
    "θ = φ ± δ",
]
_NEAR_MISSES = [
    "see the result below",
    "values increase steadily",
    "x alone",
    "a plus b equals",
]
_DECOYS = [
    "Fig. 3",
    "Table 2",
    "2023-01-01",
    "Page 7",
    "https://example.com/a=b",
    "www.example.com = site",
    "Chapter 1",
]

SHAPES = (
    "single", "double", "multi", "fonts", "formula", "decoys",
    "words", "vertical", "images", "html", "edge",
)
# html gets extra weight (the north-rule axis); edge kept rare
_SHAPE_WEIGHTS = (16, 14, 6, 12, 14, 6, 10, 6, 6, 16, 4)


def _g(x: float) -> str:
    return f"{x:g}"


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _emit_block(out, rng, x0, y0, width, n_lines, size, font, line_h=14.0, words_per_line=5):
    """Append one %%BLK with n_lines lines, one span each. Returns y after."""
    x1 = x0 + width
    y1 = y0 + n_lines * line_h
    out.append(f"%%BLK {_g(x0)} {_g(y0)} {_g(x1)} {_g(y1)}")
    for i in range(n_lines):
        ly0 = y0 + i * line_h
        out.append(f"%%LN {_g(x0)} {_g(ly0)} {_g(x1)} {_g(ly0 + line_h - 2)} 1 0")
        out.append(f"%%SP {_g(size)} {font}|{_sentence(rng, words_per_line)}")
    return y1


def _emit_text_block(out, rng, x0, y0, width, text, size=11.0, font="Times", line_h=14.0):
    x1 = x0 + width
    out.append(f"%%BLK {_g(x0)} {_g(y0)} {_g(x1)} {_g(y0 + line_h)}")
    out.append(f"%%LN {_g(x0)} {_g(y0)} {_g(x1)} {_g(y0 + line_h - 2)} 1 0")
    out.append(f"%%SP {_g(size)} {font}|{text}")
    return y0 + line_h


def _doc_header(rng: random.Random, ci: int, ti: int) -> str:
    return (
        f"%%DOC title=Doc {ci}-{ti};author=Author {ci % 7};"
        f"subject=subj{ti % 5};creator=synth;producer=mdp-spark;"
        f"creationDate=D:2026010{(ti % 9) + 1}120000Z;modDate=D:20260115090000Z"
    )


def _payload_single(rng, ci, ti):
    out = [_doc_header(rng, ci, ti), "%%PAGE 612 792"]
    y = 100.0
    for _ in range(rng.randint(3, 6)):
        y = _emit_block(out, rng, 72.0, y, 460.0, rng.randint(1, 3), 11.0, "Times") + 20.0
    return "\n".join(out)


def _payload_double(rng, ci, ti):
    out = [_doc_header(rng, ci, ti), "%%PAGE 612 792"]
    if rng.random() < 0.5:
        # "joined" variant: per-cluster stacks merge into ONE tall column box
        # each (greedy join, layout.py:248-258) → 2 final blocks → the <3
        # x-center gate votes single (layout.py:44-46). Exercises the join.
        for x0 in (52.0, 322.0):
            y = 100.0
            for _ in range(rng.randint(3, 4)):
                y = _emit_block(out, rng, x0 + rng.uniform(0, 3), y, 230.0,
                                rng.randint(1, 2), 11.0, "Helv") + 4.0
    else:
        # "scattered" variant: x jitter ≥7 and y gaps >10 keep blocks
        # unjoined → 6 x-centers with one dominant gap → vote 'double'
        # (threshold avg + 1.5·std, layout.py:66-68).
        for x0 in (60.0, 330.0):
            for row in range(3):
                _emit_block(out, rng, x0 + row * 7, 100.0 + row * 34.0, 180.0,
                            1, 11.0, "Helv")
    return "\n".join(out)


def _payload_multi(rng, ci, ti):
    out = [_doc_header(rng, ci, ti), "%%PAGE 792 612"]
    # 3 clusters × 3 unjoined rows → 9 x-centers, 2 dominant gaps → 'multi'
    for x0 in (42.0, 302.0, 562.0):
        for row in range(3):
            _emit_block(out, rng, x0 + row * 7, 80.0 + row * 34.0, 160.0, 1, 10.5, "Helv")
    return "\n".join(out)


def _payload_fonts(rng, ci, ti):
    """Classifier-boundary shapes: header/footer stripes, fonts straddling
    16/12 (layout.py:94-106), incl. exact 16.0 and 12.0."""
    out = [_doc_header(rng, ci, ti), "%%PAGE 612 792"]
    _emit_text_block(out, rng, 72.0, 20.0, 400.0, _sentence(rng, 4), 11.0)  # header zone
    y = 120.0
    for size in (17.0, 16.0, 13.0, 12.0, 10.0, 11.0):
        y = _emit_text_block(out, rng, 72.0, y, 440.0, _sentence(rng, 5), size) + 40.0
    _emit_text_block(out, rng, 72.0, 745.0, 400.0, _sentence(rng, 3), 9.0)  # footer zone
    return "\n".join(out)


def _payload_formula(rng, ci, ti):
    out = [_doc_header(rng, ci, ti), "%%PAGE 612 792"]
    y = 120.0
    x = 72.0
    pool = _FORMULAS + _NEAR_MISSES
    for _ in range(rng.randint(3, 5)):
        txt = rng.choice(pool)
        # x jitter ≥ 6 and y gap ≥ 12 so formula blocks never column-join
        x = 72.0 + rng.randint(0, 20) * 7
        y = _emit_text_block(out, rng, x, y, 180.0, txt, 9.5, "Math") + 26.0
    return "\n".join(out)


def _payload_decoys(rng, ci, ti):
    out = [_doc_header(rng, ci, ti), "%%PAGE 612 792"]
    y = 120.0
    for _ in range(rng.randint(3, 5)):
        txt = rng.choice(_DECOYS)
        y = _emit_text_block(out, rng, 72.0 + rng.randint(0, 15) * 7, y, 200.0, txt, 9.0) + 26.0
    return "\n".join(out)


def _payload_words(rng, ci, ti):
    """pdfplumber word soup with y-jitter around tolerance 3 (text.py:201-224)."""
    out = [_doc_header(rng, ci, ti), "%%PAGE 612 792"]
    top = 100.0
    for _ in range(rng.randint(3, 6)):
        x = 72.0
        for _ in range(rng.randint(3, 7)):
            w = rng.choice(_WORDS)
            jt = top + rng.choice((0.0, 1.0, 2.5, 2.9, 3.1))
            out.append(f"%%WORD {_g(x)} {_g(x + 8.0 * len(w))} {_g(jt)} {_g(jt + 10)}|{w}")
            x += 8.0 * len(w) + 5.0
        top += rng.choice((3.5, 8.0, 15.0))
    return "\n".join(out)


def _img_hex(ci, ti, page_num, image_index):
    """Deterministic image payload bytes carried IN the %%IMG record (the
    reference ships real extract_image bytes the same way). The value is
    md5 of the image key — identical to the stand-in operators.multimodal.
    attach_image_bytes synthesizes, so a corpus with payload bytes and one
    without produce byte-identical downstream features."""
    key = f"conv-{ci:06d}:{ti}:{page_num}:{image_index}"
    return hashlib.md5(key.encode()).hexdigest()


def _payload_vertical(rng, ci, ti):
    out = [_doc_header(rng, ci, ti), "%%PAGE 612 792"]
    # vertical-text obstacle (layout.py:211-215)
    out.append("%%BLK 300 120 320 400")
    out.append("%%LN 300 120 320 400 0 1")
    out.append(f"%%SP 11 Times|{_sentence(rng, 3)}")
    # image + a text block inside it (layout.py:207-208)
    out.append(f"%%IMG 80 420 280 560 200 140 rgb png {_img_hex(ci, ti, 0, 0)}")
    _emit_text_block(out, rng, 100.0, 450.0, 120.0, _sentence(rng, 2))
    y = 100.0
    for _ in range(3):
        y = _emit_block(out, rng, 72.0, y, 200.0, 1, 11.0, "Times") + 10.0
    return "\n".join(out)


def _payload_images(rng, ci, ti):
    out = [_doc_header(rng, ci, ti)]
    for p in range(rng.randint(1, 2)):
        out.append("%%PAGE 612 792")
        y = 100.0
        for _ in range(2):
            y = _emit_block(out, rng, 72.0, y, 440.0, 2, 11.0, "Times") + 16.0
        for i in range(rng.randint(1, 3)):
            x0 = 72.0 + i * 160
            cs = rng.choice(("rgb", "gray", "cmyk"))
            ext = rng.choice(("png", "jpeg"))
            out.append(
                f"%%IMG {_g(x0)} {_g(y + 10)} {_g(x0 + 140)} {_g(y + 110)} "
                f"{rng.randint(100, 800)} {rng.randint(100, 600)} {cs} {ext} "
                f"{_img_hex(ci, ti, p, i)}"
            )
        if rng.random() < 0.5:
            out.append(f"%%TBL 72 {_g(y + 130)} 500 {_g(y + 190)}")
            for r in range(rng.randint(2, 4)):
                out.append("%%ROW " + "|".join(_sentence(rng, 1) for _ in range(3)))
    return "\n".join(out)


def _payload_html(rng, ci, ti):
    title = f"Article {ci}-{ti}"
    author = f"Writer {ci % 5}"
    date = f"2026-0{(ti % 9) + 1}-1{ti % 3}T08:00:00Z"
    paras = "\n".join(
        f"<p>{_sentence(rng, rng.randint(18, 35))}.</p>" for _ in range(rng.randint(2, 5))
    )
    short = f"<p>{_sentence(rng, rng.randint(2, 4))}</p>"
    nav = " ".join(f'<a href="/{w}">{w}</a>' for w in rng.sample(_WORDS, 4))
    ads = " ".join(f'<a href="/ad{i}">{_sentence(rng, 2)}</a>' for i in range(3))
    return (
        "%%HTML\n"
        f"<html><head><title>{title}</title>\n"
        f'<meta name="author" content="{author}">\n'
        f'<meta property="article:published_time" content="{date}">\n'
        f"</head><body>\n"
        f"<nav>{nav}</nav>\n"
        f"<header><h1>{title}</h1></header>\n"
        f"<div>{ads}</div>\n"
        f"<article>\n{paras}\n{short}\n</article>\n"
        f"<aside>{_sentence(rng, 8)}</aside>\n"
        f"<footer>{_sentence(rng, 4)} <a href='/terms'>terms</a></footer>\n"
        "</body></html>"
    )


def _payload_edge(rng, ci, ti):
    kind = rng.randrange(6)
    if kind == 0:
        return ""
    if kind == 1:
        return "   \n  \t "
    if kind == 2:
        return "x"
    if kind == 3:  # <3 blocks on a page (column gate layout.py:44-46)
        out = [_doc_header(rng, ci, ti), "%%PAGE 612 792"]
        _emit_text_block(out, rng, 72.0, 200.0, 300.0, _sentence(rng, 4))
        return "\n".join(out)
    if kind == 4:  # page with zero blocks
        return _doc_header(rng, ci, ti) + "\n%%PAGE 612 792"
    # malformed %%DOC → metadata error path (parser.py:148-150)
    return "%%DOC title=ok;bogus_key=boom\n%%PAGE 612 792"


_BUILDERS = {
    "single": _payload_single,
    "double": _payload_double,
    "multi": _payload_multi,
    "fonts": _payload_fonts,
    "formula": _payload_formula,
    "decoys": _payload_decoys,
    "words": _payload_words,
    "vertical": _payload_vertical,
    "images": _payload_images,
    "html": _payload_html,
    "edge": _payload_edge,
}


def shape_for(ci: int, ti: int) -> str:
    rng = random.Random(f"shape:{ci}:{ti}")
    return rng.choices(SHAPES, weights=_SHAPE_WEIGHTS, k=1)[0]


def make_text(ci: int, ti: int) -> str:
    shape = shape_for(ci, ti)
    rng = random.Random(f"payload:{ci}:{ti}")
    return _BUILDERS[shape](rng, ci, ti)


def make_turn(ci: int, ti: int) -> dict:
    shape = shape_for(ci, ti)
    role = ("user", "assistant", "tool")[ti % 3]
    tool = None
    if role == "tool":
        tool = "fetch_html" if shape == "html" else "fetch_pdf"
    return {
        "conv_id": f"conv-{ci:06d}",
        "turn_idx": ti,
        "role": role,
        "text": make_text(ci, ti),
        "tool": tool,
        "ts": EPOCH + timedelta(minutes=ti, seconds=ci % 60),
    }


def conv_sizes(n_convs: int, hot_factor: int = 100) -> list:
    """Turn counts per conversation; conv 0 is the hot one (median ≈ 10)."""
    sizes = [5 + (i % 11) for i in range(n_convs)]
    if n_convs > 0:
        sizes[0] = 10 * hot_factor
    return sizes


def synth_local(n_convs: int, hot_factor: int = 100) -> list:
    rows = []
    for ci, sz in enumerate(conv_sizes(n_convs, hot_factor)):
        for ti in range(sz):
            rows.append(make_turn(ci, ti))
    return rows


TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def synth_df(spark, n_convs: int, hot_factor: int = 100, partitions: int = None):
    """Distributed generation: spark.range over the global turn index →
    mapInPandas; (conv, turn) recovered from broadcast prefix sums. This is
    how the bench corpus is produced at SF=0.1 scale without driver-side
    materialization."""
    import pandas as pd

    sizes = conv_sizes(n_convs, hot_factor)
    prefix = [0]
    for s in sizes:
        prefix.append(prefix[-1] + s)
    total = prefix[-1]
    parts = partitions or spark.sparkContext.defaultParallelism * 2
    bc = spark.sparkContext.broadcast(prefix)

    def gen(batches):
        pref = bc.value
        for pdf in batches:
            recs = []
            for gid in pdf["id"]:
                ci = bisect_right(pref, int(gid)) - 1
                ti = int(gid) - pref[ci]
                recs.append(make_turn(ci, ti))
            out = pd.DataFrame.from_records(recs)
            out["ts"] = pd.to_datetime(out["ts"])
            yield out

    return (
        spark.range(0, total, 1, parts)
        .mapInPandas(gen, schema=TRANSCRIPT_DDL)
    )
