"""Pure-Python single-process oracle — the golden-fixture producer.

Implements the reference recipes verbatim (thresholds, orderings, float
arithmetic order) the way the reference does: one document at a time, plain
Python. The Spark engine must byte-match this under stable
(conv_id, turn_idx) ordering (BASELINE.json north_rule).

Deliberately does NOT import the engine's native expression layer
(functions/) — classification, formula scoring, LaTeX and the boilerplate
tree are re-implemented here in Python so golden tests genuinely exercise
the Catalyst re-expressions. The structural parse (docparse/geometry/
payload/htmlseg) is shared: it is the input-format definition itself.
"""

from __future__ import annotations

import re

from . import docparse, htmlseg

# ---------------------------------------------------------------- F1
def classify_block_type(bbox, font_size, page_height):
    """Reference layout.py:89-109."""
    x0, y0, x1, y1 = bbox
    if y0 < page_height * 0.1:
        return "header"
    if y1 > page_height * 0.9:
        return "footer"
    if font_size and font_size > 16:
        return "title"
    if font_size and font_size > 12:
        return "heading"
    return "text"


# ---------------------------------------------------------------- F2/P7/P8
_MATH_SYMBOLS = set("∫∑∏√±×÷≈≠≤≥∞∂∇αβγδεζηθλμπρσφψωΔΣΠΩ")
_MATH_CHARS = set("+-*/=()[]{}^_∈∉⊂⊃∪∩|<>;:!%")
_STRONG = ["=", "∫", "∑", "∏", "√", "∂", "∇", "≈", "≠", "≤", "≥", "∞", "∈", "∉"]
_MATH_PATTERNS = [
    r"[a-zA-Z]\s*\([a-zA-Z0-9,\s]+\)\s*=",
    r"\\[a-zA-Z]+",
    r"_\s*{[^}]+}",
    r"\^\s*{[^}]+}",
    r"[a-zA-Z]_[a-zA-Z0-9]",
    r"[0-9]+\s*[\+\-\*\/]\s*[0-9]+",
]
_NON_MATH_PATTERNS = [
    r"Fig\.\s*\d+",
    r"Table\s*\d+",
    r"\d{4}-\d{2}-\d{2}",
    r"Page\s*\d+",
    r"https?://",
    r"www\.",
    r"^[A-Z][a-z]+ \d+$",
]


def formula_score(text: str, font_size, strict_mode: bool = False):
    """Reference formula.py:66-126. Returns (passes, score) for stripped
    text; (False, 0.0) for skipped candidates."""
    if not text or len(text) < 2:
        return False, 0.0
    if any(re.search(p, text) for p in _NON_MATH_PATTERNS):
        return False, 0.0
    score = 0.0
    math_symbol_count = sum(1 for c in text if c in _MATH_SYMBOLS)
    math_char_count = sum(1 for c in text if c in _MATH_CHARS)
    symbol_density = (math_symbol_count + math_char_count) / len(text)
    if math_symbol_count > 0:
        score += math_symbol_count * 0.4
    if math_char_count > 0:
        score += math_char_count * 0.1
    if any(ind in text for ind in _STRONG):
        score += 0.6
    if any(re.search(p, text) for p in _MATH_PATTERNS):
        score += 0.4
    if "^" in text or "_" in text:
        score += 0.3
    if re.search(r"\w+/\w+", text):
        score += 0.2
    if font_size and font_size < 10:
        score += 0.2
    if len(text) < 50 and symbol_density > 0.2:
        score += 0.4
    threshold = 0.8 if strict_mode else 0.7
    if strict_mode:
        has_strong = any(ind in text for ind in _STRONG)
        if not has_strong and symbol_density < 0.3:
            score = 0.0
    return score >= threshold, score


# ---------------------------------------------------------------- F5
_GREEK_MAP = {
    "α": r"\alpha", "β": r"\beta", "γ": r"\gamma", "δ": r"\delta",
    "ε": r"\epsilon", "ζ": r"\zeta", "η": r"\eta", "θ": r"\theta",
    "λ": r"\lambda", "μ": r"\mu", "π": r"\pi", "ρ": r"\rho",
    "σ": r"\sigma", "φ": r"\phi", "ψ": r"\psi", "ω": r"\omega",
    "Δ": r"\Delta", "Σ": r"\Sigma", "Π": r"\Pi", "Ω": r"\Omega",
}
_SYMBOL_MAP = {
    "≈": r"\approx", "≠": r"\neq", "≤": r"\leq", "≥": r"\geq",
    "∞": r"\infty", "∂": r"\partial", "∇": r"\nabla", "∫": r"\int",
    "∑": r"\sum", "∏": r"\prod", "√": r"\sqrt", "±": r"\pm",
    "×": r"\times", "÷": r"\div", "∈": r"\in", "∉": r"\notin",
    "⊂": r"\subset", "⊃": r"\supset", "∪": r"\cup", "∩": r"\cap",
}


def text_to_latex_heuristic(text: str) -> str:
    """Reference utils.py:3-69 — sequential replaces, order preserved."""
    latex = text
    for greek, l in _GREEK_MAP.items():
        latex = latex.replace(greek, l)
    for symbol, l in _SYMBOL_MAP.items():
        latex = latex.replace(symbol, l)
    latex = re.sub(r"\^(\w)", r"^{\1}", latex)
    latex = re.sub(r"_(\w)", r"_{\1}", latex)
    if not latex.startswith("$"):
        latex = f"${latex}$"
    return latex


# ---------------------------------------------------------------- HTML meta
_TITLE_RE = re.compile(r"<title[^>]*>([^<]*)</title>")
_H1_RE = re.compile(r"<h1[^>]*>([^<]*)</h1>")
_AUTHOR_RE = re.compile(r'<meta\s+name="author"\s+content="([^"]*)"')
_DATE_RE = re.compile(r'<meta\s+property="article:published_time"\s+content="([^"]*)"')
_TIME_RE = re.compile(r'<time[^>]+datetime="([^"]*)"')


def _rex(rx, text):
    m = rx.search(text)
    return m.group(1) if m and m.group(1) != "" else None


def html_meta(text: str):
    title = _rex(_TITLE_RE, text) or _rex(_H1_RE, text)
    author = _rex(_AUTHOR_RE, text)
    date = _rex(_DATE_RE, text) or _rex(_TIME_RE, text)
    return title, author, date


# ---------------------------------------------------------------- per-turn
def oracle_turn(conv_id: str, turn_idx: int, text: str, strict_mode: bool = False, **flags):
    """Golden output for one turn: dict of output-table rows. ``flags`` are
    docparse.parse_doc's keywords (the parse flags)."""
    parsed = docparse.parse_turn(text, **flags)
    key = {"conv_id": conv_id, "turn_idx": turn_idx}
    out = {"turns": [], "blocks": [], "formulas": [], "images": [], "tables": [], "meta": [], "segments": []}

    meta = dict(parsed["meta"])
    if parsed["html"] is not None:
        # HTML path: boilerplate strip + DOM metadata heuristics
        segs = htmlseg.segment_html(parsed["html"], parsed["html_start"])
        content_rows = []
        for i, s in enumerate(segs):
            prev_w = segs[i - 1]["words"] if i > 0 else 0
            prev_ld = segs[i - 1]["link_density"] if i > 0 else 0.0
            next_w = segs[i + 1]["words"] if i + 1 < len(segs) else 0
            is_content = (not s["boiler_container"]) and htmlseg.classify_segment(
                s["words"], s["link_density"], prev_w, prev_ld, next_w
            )
            out["segments"].append({**key, **s, "is_content": is_content})
            if is_content:
                content_rows.append(s)
        extracted = "\n\n".join(s["text"] for s in content_rows)
        spans = [{"start": s["start"], "end": s["end"]} for s in content_rows]
        out["turns"].append(
            {**key, "extracted_text": extracted, "spans": spans, "column_layout": None}
        )
        # heuristics scan the HTML REGION only — matching the engine's
        # meta_of(html_raw). Scanning the full turn text would match
        # lookalike markup inside pre-%%HTML PDF span text (a '<h1>'
        # inside %%SP content) and diverge from the engine (r5 review);
        # for payloads where %%HTML is the whole turn the two are equal.
        title, author, date = html_meta(parsed["html"])
        meta.update({"title": title, "author": author, "creation_date": date})
        out["meta"].append({**key, **meta})
        return out

    blocks = parsed["blocks"]
    for b in blocks:
        if b["needs_classify"]:
            btype = classify_block_type(b["bbox"], b["font_size"], b["page_height"])
        else:
            btype = "text"
        out["blocks"].append(
            {
                **key,
                "block_idx": b["block_idx"],
                "page_num": b["page_num"],
                "bbox": b["bbox"],
                "text": b["text"],
                "font_size": b["font_size"],
                "font_name": b["font_name"],
                "block_type": btype,
                "span_start": b["span_start"],
                "span_end": b["span_end"],
            }
        )

    # Formula stage consumes the text-stage output blocks (parser.py:116-122)
    formula_index = 0
    for b in blocks:
        t = b["text"].strip()
        passes, score = formula_score(t, b["font_size"], strict_mode)
        if passes:
            out["formulas"].append(
                {
                    **key,
                    "formula_index": formula_index,
                    "page_num": b["page_num"],
                    "bbox": b["bbox"],
                    "formula_text": t,
                    "latex": text_to_latex_heuristic(t),
                    "confidence": min(score, 1.0),
                }
            )
            formula_index += 1

    for im in parsed["images"]:
        out["images"].append({**key, **im})
    for tb in parsed["tables"]:
        out["tables"].append({**key, **tb})

    out["turns"].append(
        {
            **key,
            "extracted_text": parsed["extracted_text"],
            "spans": [{"start": s[0], "end": s[1]} for s in parsed["spans"]],
            "column_layout": parsed["column_layout"],
        }
    )
    out["meta"].append({**key, **meta})
    return out


def oracle_corpus(rows, **kwargs):
    """Run the oracle over transcript rows → dict of golden row lists,
    sorted by the stable (conv_id, turn_idx) output ordering."""
    acc = {"turns": [], "blocks": [], "formulas": [], "images": [], "tables": [], "meta": [], "segments": []}
    for r in rows:
        got = oracle_turn(r["conv_id"], r["turn_idx"], r["text"], **kwargs)
        for k in acc:
            acc[k].extend(got[k])
    for k in acc:
        acc[k].sort(key=lambda d: (d["conv_id"], d["turn_idx"]))
    return acc
