"""Serialization sinks (reference parser.py:207-393).

- canonical_struct / canonical_struct_from_parsed: K1 — the export dict
  as one nested struct per turn (field names and nesting exactly
  parser.py:207-271; this schema IS the golden-fixture schema). The first
  reassembles it from the output tables, the second projects it straight
  off the parsed table; block type, formulas and metadata come from
  plans/pipeline.py's builders either way, so each rule is written once.
- export_json: K2 — F.to_json natively; the reference's ``default=str``
  coercion is unnecessary because every field is already a string/number by
  schema (the casts happen at struct build time).
- toon_encode / export_toon: K3 — soft-imports the public ``toon_format``
  package exactly like the reference (parser.py:6-10); when absent, falls
  back to a built-in minimal TOON encoder (indentation-based, tabular
  arrays with a '#' length marker and selectable delimiter) sufficient for
  the export schema.
- compare_export_formats: K5 — implements the README-documented contract
  (README.md:479-489). The reference's own implementation returns different
  keys than its README and example consumer (parser.py:336-341 would
  KeyError example_toon_export.py:52-65); we implement the documented one.
- save_images: K6; compare_extraction_methods: A5; visualize_columns: K7.
"""

from __future__ import annotations

import json
import math
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # same soft-import pattern as the reference (parser.py:6-10)
    from toon_format import EncodeOptions, encode as _toon_encode_pkg  # type: ignore

    TOON_AVAILABLE = True
except ImportError:
    TOON_AVAILABLE = False

_KEY = ("conv_id", "turn_idx")


def _grouped(df: DataFrame, order_cols, struct_cols, alias: str) -> DataFrame:
    # ordering keys under reserved aliases so payload names stay unambiguous
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
                *[F.col(c) for c in struct_cols],
            )
        )
    )
    # strip the ordering prefix, keep payload field order
    inner = F.transform(arr, lambda x: F.struct(*[x[c].alias(c) for c in struct_cols]))
    return df.groupBy(*_KEY).agg(inner.alias(alias))


def _or_empty(doc: DataFrame, c: str):
    """Array column c, or an empty array of c's own type for a turn with
    no rows in that table."""
    return F.coalesce(c, F.array().cast(doc.schema[c].dataType)).alias(c)


def canonical_struct(outs: dict, extraction_method: str = "pymupdf") -> DataFrame:
    """K1: one nested row per turn from the extract_all() output dict."""
    from ..plans.pipeline import _META_FIELDS

    meta = outs["meta"].select(*_KEY, F.struct(*_META_FIELDS).alias("metadata"))
    blocks = _grouped(
        outs["blocks"], ["block_idx"],
        ["text", "bbox", "page_num", "font_size", "font_name", "block_type"],
        "text_blocks",
    )
    images = _grouped(
        outs["images"], ["page_num", "image_index"],
        ["image_index", "page_num", "bbox", "width", "height", "colorspace", "ext"],
        "images",
    )
    tables = _grouped(
        outs["tables"], ["table_index"],
        ["table_index", "page_num", "bbox", "data", "extraction_method"],
        "tables",
    )
    formulas = _grouped(
        outs["formulas"], ["formula_index"],
        ["formula_index", "page_num", "bbox", "formula_text", "latex", "confidence"],
        "formulas",
    )
    turns = outs["turns"].select(*_KEY, "column_layout")
    doc = (
        meta.join(blocks, list(_KEY), "left")
        .join(images, list(_KEY), "left")
        .join(tables, list(_KEY), "left")
        .join(formulas, list(_KEY), "left")
        .join(turns, list(_KEY), "left")
    )
    return doc.select(
        *_KEY,
        F.struct(
            F.col("metadata"),
            *[_or_empty(doc, c) for c in ("text_blocks", "images", "tables", "formulas")],
            # the method that ACTUALLY produced the text (SURVEY
            # ParsedDocument defines it as the method used)
            F.lit(extraction_method).alias("extraction_method"),
            F.col("column_layout"),
        ).alias("document"),
    )


def canonical_struct_from_parsed(
    parsed: DataFrame,
    extraction_method: str = "pymupdf",
    strict_mode: bool = False,
    include_formulas: bool = True,
) -> DataFrame:
    """K1 built ARRAY-SIDE from the parsed table: ONE shuffle-free
    projection, where the aggregate form explodes 4 output tables and pays
    4 groupBy Exchanges + a 5-way join cascade to reassemble what the
    parsed row already holds as ordered nested arrays. Element order
    equals the aggregate form's sort order by construction (block_idx /
    (page_num, image_index) / table_index / formula_index are the
    emission orders).

    The per-turn rules are plans/pipeline.py's own builders, not copies:
    _meta_fields (metadata), _block_type (text_blocks) and _formula_cols
    (formulas), here applied inside array lambdas instead of over
    exploded rows. The aggregate form canonical_struct stays because an
    outs dict can hold tables that exist only at table grain — an
    OCR-postprocessed formulas table, or a table the caller edited — and
    it is the reference that
    test_sinks.py::test_canonical_struct_from_parsed_equals_aggregate
    compares this form with (pymupdf/pdfplumber, strict and no-formula
    modes)."""
    from ..functions.latex import latex_heuristic
    from ..plans.pipeline import _block_type, _formula_cols, _meta_fields

    def formula(b, i):
        _passes, t, conf = _formula_cols(b["text"], b["font_size"], strict_mode)
        return F.struct(
            i.alias("formula_index"),
            b["page_num"].alias("page_num"),
            b["bbox"].alias("bbox"),
            t.alias("formula_text"),
            latex_heuristic(t).alias("latex"),
            conf.alias("confidence"),
        )

    passes = lambda b: _formula_cols(b["text"], b["font_size"], strict_mode)[0]  # noqa: E731
    formulas = F.transform(F.filter("blocks", passes), formula)
    if not include_formulas:
        formulas = F.array().cast(parsed.select(formulas).schema[0].dataType)
    text_blocks = F.transform(
        "blocks",
        lambda b: F.struct(
            *[b[c].alias(c) for c in ("text", "bbox", "page_num", "font_size", "font_name")],
            _block_type(b),
        ),
    )
    return parsed.select(
        *_KEY,
        F.struct(
            F.struct(*_meta_fields()).alias("metadata"),
            text_blocks.alias("text_blocks"),
            F.transform("images", lambda i: i.dropFields("image_bytes")).alias("images"),
            F.col("tables"),
            formulas.alias("formulas"),
            F.lit(extraction_method).alias("extraction_method"),
            F.col("column_layout"),
        ).alias("document"),
    )


def export_json(doc_struct: DataFrame) -> DataFrame:
    """K2: conv_id, turn_idx, json string per turn (native to_json).

    ignoreNullFields=false: the K1 struct schema IS the golden-fixture
    schema — a null title/author (meta_error turns) or null column_layout
    must serialize as "key": null like the reference's json.dumps, not
    silently disappear (to_json's default drops null fields, which also
    destabilizes TOON tabularity because rows stop sharing a key list)."""
    return doc_struct.select(
        *_KEY,
        F.to_json("document", {"ignoreNullFields": "false"}).alias("json"),
    )


# ---------------------------------------------------------------- TOON (K3)
def _toon_scalar(v, delimiter: str = ","):
    import math

    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return "null"  # JSON-compatible posture for non-finite floats
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))  # 1.0 -> '1', matching the toon_format package
    s = str(v)
    # quote strings that would corrupt the row structure (cell delimiter,
    # newline, quote, or a leading/trailing space); escape inner quotes
    if isinstance(v, str) and (
        delimiter in s or "\n" in s or '"' in s or s != s.strip() or s == ""
    ):
        return '"' + s.replace('"', '\\"').replace("\n", "\\n") + '"'
    return s


def _is_tabular(lst):
    return (
        lst
        and all(isinstance(x, dict) for x in lst)
        and all(list(x.keys()) == list(lst[0].keys()) for x in lst)
        and all(not isinstance(v, (dict, list)) for x in lst for v in x.values())
    )


def toon_encode(data, indent: int = 2, delimiter: str = ",", length_marker: str = "#") -> str:
    """Minimal TOON encoder (Token-Oriented Object Notation): YAML-ish
    key/value lines; arrays of uniform flat objects render as one header
    ``key[#N]{f1,f2}:`` plus one delimiter-joined row per element. Used only
    when the real ``toon_format`` package is absent."""
    if TOON_AVAILABLE:
        return _toon_encode_pkg(
            data, options=EncodeOptions(indent=indent, delimiter=delimiter, lengthMarker=length_marker)
        )
    out: list = []

    def emit(key, val, depth):
        pad = " " * (indent * depth)
        if isinstance(val, dict):
            out.append(f"{pad}{key}:")
            for k, v in val.items():
                emit(k, v, depth + 1)
        elif isinstance(val, list):
            n = f"[{length_marker}{len(val)}]"
            if _is_tabular(val):
                fields = list(val[0].keys())
                out.append(f"{pad}{key}{n}{{{','.join(fields)}}}:")
                rpad = " " * (indent * (depth + 1))
                for row in val:
                    out.append(rpad + delimiter.join(_toon_scalar(row[f], delimiter) for f in fields))
            elif all(not isinstance(x, (dict, list)) for x in val):
                out.append(
                    f"{pad}{key}{n}: " + delimiter.join(_toon_scalar(x, delimiter) for x in val)
                )
            else:
                out.append(f"{pad}{key}{n}:")
                for i, x in enumerate(val):
                    emit(f"- {i}", x, depth + 1)
        else:
            out.append(f"{pad}{key}: {_toon_scalar(val, delimiter)}")

    for k, v in data.items():
        emit(k, v, 0)
    return "\n".join(out)


def export_toon(doc_struct: DataFrame, delimiter: str = ",") -> DataFrame:
    """K3 as a distributed sink: TOON string per turn via mapInPandas
    (string encoder — the one legitimately Python-side sink)."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            toons = [
                toon_encode(json.loads(j), delimiter=delimiter) for j in pdf["json"]
            ]
            yield pd.DataFrame(
                {"conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"], "toon": toons}
            )

    return export_json(doc_struct).mapInPandas(
        kernel, schema="conv_id string, turn_idx int, toon string"
    )


def export(doc_struct: DataFrame, format: str = "toon", delimiter: str = ",") -> DataFrame:
    """K4 format dispatcher (parser.py:295-305)."""
    if format.lower() == "json":
        return export_json(doc_struct)
    if format.lower() == "toon":
        return export_toon(doc_struct, delimiter=delimiter)
    raise ValueError(f"Unsupported format: {format}. Use 'toon' or 'json'")


def _count_tokens(s: str) -> int:
    """~4 chars/token approximation (stand-in for the toon_format tokenizer
    when the package is absent)."""
    if TOON_AVAILABLE:
        try:
            from toon_format import count_tokens  # type: ignore

            return count_tokens(s)
        except ImportError:
            pass
    return math.ceil(len(s) / 4)


def compare_export_formats(doc_dict: dict) -> dict:
    """K5 per the README contract (README.md:479-489) — fixing the
    reference's key mismatch bug (parser.py:336-341)."""
    json_str = json.dumps(doc_dict, indent=2, default=str)
    toon_comma = toon_encode(doc_dict, delimiter=",")
    toon_tab = toon_encode(doc_dict, delimiter="\t")
    jt, ct, tt = _count_tokens(json_str), _count_tokens(toon_comma), _count_tokens(toon_tab)
    comma_save = (1 - ct / jt) * 100 if jt else 0.0
    tab_save = (1 - tt / jt) * 100 if jt else 0.0
    best = "toon_tab" if tab_save >= comma_save else "toon_comma"
    return {
        "json_tokens": jt,
        "json_size_bytes": len(json_str.encode("utf-8")),
        "toon_comma_tokens": ct,
        "toon_comma_size_bytes": len(toon_comma.encode("utf-8")),
        "toon_comma_savings_percent": comma_save,
        "toon_tab_tokens": tt,
        "toon_tab_size_bytes": len(toon_tab.encode("utf-8")),
        "toon_tab_savings_percent": tab_save,
        "best_format": best,
        "best_savings_percent": max(comma_save, tab_save),
    }


def save_images(images_with_bytes: DataFrame, output_dir: str) -> int:
    """K6: write image_{page}_{idx}.{ext} files (parser.py:348-364).

    LOCAL-MODE ONLY: foreachPartition writes to executor-local disk, which
    is the driver's disk only in local mode — on a real cluster use the
    binary-column table sink instead (SURVEY.md K6). The returned count is
    the number of rows actually written this call (tracked by accumulator),
    not a directory listing that would also count pre-existing files."""
    os.makedirs(output_dir, exist_ok=True)
    written = images_with_bytes.sparkSession.sparkContext.accumulator(0)

    import re as _re

    def _safe(part) -> str:
        # data-derived name components must not traverse paths: a conv_id
        # containing '/' or '..' would otherwise fail the task (missing
        # subdir) or write OUTSIDE output_dir. When sanitization CHANGES
        # the name, append a short md5 of the raw value — otherwise two
        # distinct conv_ids ('a/b' and 'a b') collapse to one filename
        # and silently overwrite each other while the accumulator counts
        # both (r5 review).
        raw = str(part)
        safe = _re.sub(r"[^A-Za-z0-9._-]", "_", raw).lstrip(".") or "_"
        if safe != raw:
            import hashlib

            safe = f"{safe}-{hashlib.md5(raw.encode()).hexdigest()[:8]}"
        return safe

    def write_part(rows):
        for r in rows:
            if r.image_bytes is None:
                continue
            name = (
                f"image_{_safe(r.conv_id)}_{r.turn_idx}_{r.page_num}"
                f"_{r.image_index}.{_safe(r.ext)}"
            )
            with open(os.path.join(output_dir, name), "wb") as f:
                f.write(bytes(r.image_bytes))
            written.add(1)

    images_with_bytes.foreachPartition(write_part)
    return written.value


def compare_extraction_methods(df: DataFrame) -> dict:
    """A5 (parser.py:152-205): run both text methods and both table methods,
    aggregate num_blocks / total_chars / num_tables + wall time per branch."""
    from ..plans.pipeline import blocks_of, parse_transcripts, tables_of

    results: dict = {"text_extraction": {}, "table_extraction": {}}
    for method in ("pymupdf", "pdfplumber"):
        t0 = time.monotonic()
        b = blocks_of(parse_transcripts(df, text_method=method))
        row = b.agg(
            F.count("*").alias("num_blocks"),
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("total_chars"),
        ).collect()[0]
        results["text_extraction"][method] = {
            "num_blocks": row["num_blocks"],
            "total_chars": row["total_chars"],
            "time": time.monotonic() - t0,
        }
    for method in ("camelot", "tabula"):
        t0 = time.monotonic()
        t = tables_of(parse_transcripts(df, table_method=method))
        results["table_extraction"][method] = {
            "num_tables": t.count(),
            "time": time.monotonic() - t0,
        }
    return results


def visualize_columns(
    df: DataFrame,
    n_turns: int = 3,
    header_margin: float = 50,
    footer_margin: float = 50,
) -> list:
    """K7 debug utility (parser.py:366-393): for sampled turns, a plain-text
    rendering of detected column boxes with 1-based indexes (no PDF canvas
    in this environment; same information content). Margins must match
    the parse's (reference K7 re-runs layout with the parser's own
    margins — r5 review: this rendered default-margin boxes even when
    the extractor was configured differently)."""
    from ..geometry import column_boxes
    from ..payload import parse_payload

    out = []
    for r in df.orderBy(*_KEY).limit(n_turns).collect():
        doc = parse_payload(r.text)
        pages = []
        for pnum, page in enumerate(doc.pages):
            cols = column_boxes(
                page, header_margin=header_margin, footer_margin=footer_margin
            )
            pages.append(
                {
                    "page": pnum,
                    "columns": [
                        {"index": i + 1, "bbox": list(c)} for i, c in enumerate(cols)
                    ],
                }
            )
        out.append({"conv_id": r.conv_id, "turn_idx": r.turn_idx, "pages": pages})
    return out
