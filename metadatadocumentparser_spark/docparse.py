"""Structural single-turn parse: payload → blocks / images / tables / meta.

This is the *structural* core shared by the Spark parse kernel
(``kernels.py``) and the pure-Python oracle (``oracle.py``). It covers the
reference's text/image/table/metadata extractors and reading-order logic:

- column-aware PyMuPDF-style extraction  (reference extractors/text.py:84-150)
- simple layout-aware extraction          (extractors/text.py:30-70)
- plain whole-page extraction             (extractors/text.py:71-79)
- pdfplumber-style word→line grouping     (extractors/text.py:152-224, W5)
- embedded image records                  (extractors/image.py:14-44)
- table records                           (extractors/table.py, shape only)
- trailer metadata w/ error swallowing    (parser.py:127-150)
- per-page column boxes                   (geometry.column_boxes ≙ layout.py:140-272)
- document column-layout vote             (layout.py:14-87, A2/A3)

Deliberately NOT here (kept as native Catalyst expressions in
``functions/``): block-type classification (layout.py:89-109), formula
scoring (extractors/formula.py:76-123), LaTeX heuristic (utils.py:3-69),
boilerplate classification. The oracle implements those independently in
Python so the golden-equality tests genuinely exercise the native SQL.

Block dicts carry the char span ``(span_start, span_end)`` of their
source spans in the original turn text. The parse flags are declared once,
as ``parse_doc``'s keywords.
"""

from __future__ import annotations

import inspect

from .geometry import column_boxes
from .payload import DocPayload, Page, parse_payload


def _mk_block(
    text,
    bbox,
    page_num,
    font_size,
    font_name,
    needs_classify,
    page_height,
    spans,
):
    spans = sorted(spans)
    return {
        "text": text,
        "bbox": [float(b) for b in bbox],
        "page_num": page_num,
        "font_size": font_size,
        "font_name": font_name,
        "needs_classify": needs_classify,
        "page_height": float(page_height),
        "span_start": spans[0][0] if spans else -1,
        "span_end": spans[-1][1] if spans else -1,
    }


def _page_lines(page: Page):
    for blk in page.blocks:
        for ln in blk.lines:
            yield ln


def _lines_text(lines):
    """Emulates page.get_text() over these lines: spans concatenated, lines
    joined with newlines (text.py:97); plus the lines' source spans."""
    text = "\n".join("".join(s.text for s in ln.spans) for ln in lines)
    return text, [(s.start, s.end) for ln in lines for s in ln.spans]


def _yx(ln):
    """get_text(sort=True) line order: (y0, x0)."""
    return ln.bbox[1], ln.bbox[0]


def extract_pymupdf_columns(doc: DocPayload, header_margin=50, footer_margin=50):
    """Column-aware extraction (text.py:84-150).

    r6 perf: ONE pass assigns every page line to every containing column
    (the r1-r5 form re-scanned all page lines per column for the text and
    then again for the font info — 2·L·C containment tests instead of
    L·C). Per-column document order is preserved (font info reads it) and
    the text sort happens on the per-column list — identical outputs,
    golden-pinned."""
    blocks = []
    for page_num, page in enumerate(doc.pages):
        cols = column_boxes(page, header_margin=header_margin, footer_margin=footer_margin)
        if not cols:
            # Fallback: whole page, sorted (text.py:96-105)
            text, spans = _lines_text(sorted(_page_lines(page), key=_yx))
            if text.strip():
                blocks.append(
                    _mk_block(
                        text,
                        (0.0, 0.0, page.w, page.h),
                        page_num,
                        None,
                        None,
                        False,
                        page.h,
                        spans,
                    )
                )
            continue
        colrs = [
            (float(c[0]), float(c[1]), float(c[2]), float(c[3])) for c in cols
        ]
        ncols = len(colrs)
        percol = [[] for _ in range(ncols)]
        # document order per column: the text sorts it, the font info
        # reads it as is
        for blk in page.blocks:
            for ln in blk.lines:
                b0, b1, b2, b3 = ln.bbox
                for ci in range(ncols):
                    c = colrs[ci]
                    if c[0] <= b0 and c[1] <= b1 and b2 <= c[2] and b3 <= c[3]:
                        percol[ci].append(ln)
        for ci in range(ncols):
            kept = percol[ci]
            col_text, spans = _lines_text(sorted(kept, key=_yx))
            if not col_text.strip():
                continue
            sizes, names = [], []
            for ln in kept:
                for s in ln.spans:
                    sizes.append(s.size)
                    names.append(s.font)
            avg = sum(sizes) / len(sizes) if sizes else None
            name = names[0] if names else None
            blocks.append(
                _mk_block(
                    col_text,
                    colrs[ci],
                    page_num,
                    avg,
                    name,
                    True,
                    page.h,
                    spans,
                )
            )
    return blocks


def extract_pymupdf_simple(doc: DocPayload, layout_aware=True):
    """Simple extraction (text.py:30-82)."""
    blocks = []
    for page_num, page in enumerate(doc.pages):
        if layout_aware:
            for blk in page.blocks:
                texts, sizes, names, spans = [], [], [], []
                for ln in blk.lines:
                    for s in ln.spans:
                        texts.append(s.text)
                        sizes.append(s.size)
                        names.append(s.font)
                        spans.append((s.start, s.end))
                text = " ".join(texts)
                if not text.strip():
                    continue
                avg = sum(sizes) / len(sizes) if sizes else None
                name = names[0] if names else None
                blocks.append(
                    _mk_block(text, blk.bbox, page_num, avg, name, True, page.h, spans)
                )
        else:
            text, spans = _lines_text(list(_page_lines(page)))
            if text.strip():
                blocks.append(
                    _mk_block(
                        text, (0.0, 0.0, page.w, page.h), page_num, None, None, False, page.h, spans
                    )
                )
    return blocks


def group_words_into_lines(words, y_tolerance: float = 3):
    """W5 word→line sessionization (text.py:201-224). Note the reference
    compares against the FIRST word's top of the current line, not a running
    value — replicated exactly."""
    if not words:
        return []
    sorted_words = sorted(words, key=lambda w: (w.top, w.x0))
    lines = []
    current = [sorted_words[0]]
    current_y = sorted_words[0].top
    for w in sorted_words[1:]:
        if abs(w.top - current_y) <= y_tolerance:
            current.append(w)
        else:
            lines.append(current)
            current = [w]
            current_y = w.top
    if current:
        lines.append(current)
    return lines


def extract_pdfplumber(doc: DocPayload, layout_aware=True):
    """pdfplumber-style extraction (text.py:152-199). block_type is the
    literal "text" (never classified) per text.py:183-188."""
    blocks = []
    for page_num, page in enumerate(doc.pages):
        if not page.words:
            continue
        lines = group_words_into_lines(page.words)
        if layout_aware:
            for line_words in lines:
                if not line_words:
                    continue
                text = " ".join(w.text for w in line_words)
                bbox = (
                    min(w.x0 for w in line_words),
                    min(w.top for w in line_words),
                    max(w.x1 for w in line_words),
                    max(w.bottom for w in line_words),
                )
                spans = [(w.start, w.end) for w in line_words]
                blocks.append(
                    _mk_block(text, bbox, page_num, None, None, False, page.h, spans)
                )
        else:
            text = "\n".join(" ".join(w.text for w in lw) for lw in lines)
            spans = [(w.start, w.end) for lw in lines for w in lw]
            if text:
                blocks.append(
                    _mk_block(
                        text, (0.0, 0.0, page.w, page.h), page_num, None, None, False, page.h, spans
                    )
                )
    return blocks


def detect_column_layout(blocks) -> str:
    """Document layout vote (layout.py:14-87): per-page x-center gap stats
    (mean + 1.5·population-std threshold, ≥3 blocks gate, cap 3 columns),
    then avg over pages with 1.5/2.5 vote thresholds. Arithmetic order kept
    identical to the reference (sum/len, **2 loop, **0.5)."""
    if not blocks:
        return "single"
    pages_blocks: dict = {}
    for b in blocks:
        pages_blocks.setdefault(b["page_num"], []).append(b)
    column_counts = []
    for _page_num, pblocks in pages_blocks.items():
        if not pblocks:
            continue
        x_centers = [(b["bbox"][0] + b["bbox"][2]) / 2 for b in pblocks]
        if len(x_centers) < 3:
            column_counts.append(1)
            continue
        xs = sorted(x_centers)
        gaps = [xs[i + 1] - xs[i] for i in range(len(xs) - 1)]
        if gaps:
            avg_gap = sum(gaps) / len(gaps)
            std_gap = (sum((g - avg_gap) ** 2 for g in gaps) / len(gaps)) ** 0.5
            threshold = avg_gap + 1.5 * std_gap
            significant = [g for g in gaps if g > threshold]
            column_counts.append(min(len(significant) + 1, 3))
        else:
            column_counts.append(1)
    if not column_counts:
        return "single"
    avg_columns = sum(column_counts) / len(column_counts)
    if avg_columns < 1.5:
        return "single"
    elif avg_columns < 2.5:
        return "double"
    return "multi"


def extract_images(doc: DocPayload):
    """Image records (image.py:14-44); image_index is the 0-based position
    within the page's image list (image.py:22). image_bytes carries the
    source payload bytes verbatim (ImageData.image_bytes, image.py:33-41 /
    data_types.py:23) — None when the ingestion path has none."""
    out = []
    for page_num, page in enumerate(doc.pages):
        for img_index, im in enumerate(page.images):
            out.append(
                {
                    "image_index": img_index,
                    "page_num": page_num,
                    "bbox": [float(b) for b in im.bbox],
                    "width": im.width,
                    "height": im.height,
                    "colorspace": im.colorspace,
                    "ext": im.ext,
                    "image_bytes": im.image_bytes,
                }
            )
    return out


def extract_tables(doc: DocPayload, table_method: str = "camelot"):
    """Table records; table_index is global across the document (SURVEY §2.5
    W6, table.py:42). Unknown method → empty (parser.py:109-114)."""
    if table_method not in ("camelot", "tabula"):
        return []
    out = []
    idx = 0
    for page_num, page in enumerate(doc.pages):
        for tbl in page.tables:
            out.append(
                {
                    "table_index": idx,
                    "page_num": page_num,
                    "bbox": [float(b) for b in tbl.bbox],
                    "data": [list(r) for r in tbl.rows],
                    "extraction_method": table_method,
                }
            )
            idx += 1
    return out


def extract_metadata(doc: DocPayload, file_size: int):
    """Trailer metadata (parser.py:127-150). Dates stay raw strings; parse
    errors are swallowed → only file_size populated (parser.py:148-150)."""
    base = {
        "title": None,
        "author": None,
        "subject": None,
        "creator": None,
        "producer": None,
        "creation_date": None,
        "modification_date": None,
        "num_pages": 0,
        "file_size": file_size,
        "page_sizes": [],
    }
    if doc.meta_error:
        return base
    m = doc.meta or {}
    base.update(
        {
            "title": m.get("title"),
            "author": m.get("author"),
            "subject": m.get("subject"),
            "creator": m.get("creator"),
            "producer": m.get("producer"),
            "creation_date": m.get("creationDate"),
            "modification_date": m.get("modDate"),
            "num_pages": len(doc.pages),
            "page_sizes": [[float(p.w), float(p.h)] for p in doc.pages],
        }
    )
    return base


def extract_blocks(
    doc: DocPayload,
    text_method: str = "pymupdf",
    layout_aware: bool = True,
    column_aware: bool = True,
    header_margin: float = 50,
    footer_margin: float = 50,
):
    """Dispatch mirroring parser.py:84-101 / text.py:23-28. Unknown
    text_method → empty blocks (parser.py:100-101)."""
    if text_method == "pymupdf":
        if column_aware and layout_aware:
            return extract_pymupdf_columns(doc, header_margin, footer_margin)
        return extract_pymupdf_simple(doc, layout_aware)
    if text_method == "pdfplumber":
        return extract_pdfplumber(doc, layout_aware)
    return []


def parse_turn(text: str, **flags):
    """Full structural parse of one turn (the parse() plan, parser.py:56-125,
    minus the natively-computed classify/formula stages). ``flags`` are
    parse_doc's keywords.

    Returns dict with keys: meta, blocks, images, tables, column_layout,
    extracted_text, spans, html, html_start.
    """
    return parse_doc(parse_payload(text), len(text.encode("utf-8")), **flags)


def parse_doc(
    doc: DocPayload,
    file_size: int,
    text_method: str = "pymupdf",
    layout_aware: bool = True,
    column_aware: bool = True,
    header_margin: float = 50,
    footer_margin: float = 50,
    table_method: str = "camelot",
    extract_text: bool = True,
    extract_images_flag: bool = True,
    extract_tables_flag: bool = True,
):
    """parse_turn's engine over an already-built DocPayload — the seam the
    real-PDF adapter (sources/fitz_adapter.py) plugs into: any ingestion
    path that produces DocPayload gets the full extraction pipeline.

    Its keywords are the engine's parse flags (the reference parse()
    kwargs, parser.py:56-68). The extract_* flags skip whole stages exactly
    like parse()'s kwargs (parser.py:84-114 — a skipped text stage also
    leaves column_layout unset and starves the formula stage downstream)."""
    meta = extract_metadata(doc, file_size)
    blocks = (
        extract_blocks(
            doc, text_method, layout_aware, column_aware, header_margin, footer_margin
        )
        if extract_text
        else []
    )
    for i, b in enumerate(blocks):
        b["block_idx"] = i
    images = extract_images(doc) if extract_images_flag else []
    tables = extract_tables(doc, table_method) if extract_tables_flag else []
    # pymupdf mode votes whenever blocks exist (parser.py:91-92); pdfplumber
    # mode votes only when column_aware (parser.py:95-96)
    wants_layout = text_method == "pymupdf" or column_aware
    column_layout = detect_column_layout(blocks) if blocks and wants_layout else None
    extracted_text = "\n\n".join(b["text"] for b in blocks)
    spans = [[b["span_start"], b["span_end"]] for b in blocks]
    return {
        "meta": meta,
        "blocks": blocks,
        "images": images,
        "tables": tables,
        "column_layout": column_layout,
        "extracted_text": extracted_text,
        "spans": spans,
        "html": doc.html,
        "html_start": doc.html_start,
    }


def parse_flags(**flags) -> dict:
    """Every parse flag: ``flags`` bound to parse_doc's keywords (an unknown
    one raises TypeError) with its defaults filled in."""
    bound = inspect.signature(parse_doc).bind(None, 0, **flags)
    bound.apply_defaults()
    return {k: v for k, v in bound.arguments.items() if k not in ("doc", "file_size")}
