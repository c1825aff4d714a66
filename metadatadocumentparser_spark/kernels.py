"""The vectorized structural parse kernel (the engine's ONE heavy UDF).

``mapInArrow`` over transcript rows: each Arrow batch of turns is parsed
structurally (payload → blocks/images/tables/meta/segments with char
spans) and docparse's records are encoded as they are to a
``pa.RecordBatch`` against the derived Arrow schema, which selects the
fields it declares — one output row per turn. Everything downstream
(classification, formula scoring, LaTeX, boilerplate tree, ordering,
indexes) is native Catalyst on the exploded arrays.

Scale notes:
- per-turn independence → the kernel needs no grouping, no shuffle; it runs
  map-side on whatever partitioning the reader produced (the pipeline
  repartitions by (conv_id, turn_idx) first, which removes conversation-level
  skew entirely — SURVEY.md §4.2).
- Arrow batch size is capped via spark.sql.execution.arrow.maxRecordsPerBatch
  (session.py) so multi-MB turn payloads cannot blow executor memory.
"""

from __future__ import annotations

from . import docparse, htmlseg

PARSED_DDL = ", ".join(
    [
        "conv_id string",
        "turn_idx int",
        "role string",
        "tool string",
        "ts timestamp",
        "html_raw string",
        "is_html boolean",
        (
            "meta struct<title:string,author:string,subject:string,creator:string,"
            "producer:string,creation_date:string,modification_date:string,"
            "num_pages:int,file_size:bigint,"
            "page_sizes:array<struct<width:double,height:double>>>"
        ),
        "column_layout string",
        # NOTE (r6): extracted_text and spans are NOT materialized in the
        # parsed layer — both are pure per-turn functions of `blocks`
        # (text = block texts joined by '\n\n'; spans = the blocks'
        # (span_start, span_end) pairs, parse_doc's exact construction),
        # so turns_of derives them natively (array_join / transform) and
        # the kernel does not encode, the JVM does not row-convert, and
        # the staging write does not store ~22% duplicated bytes.
        (
            "blocks array<struct<block_idx:int,page_num:int,bbox:array<double>,"
            "text:string,font_size:double,font_name:string,needs_classify:boolean,"
            "page_height:double,span_start:int,span_end:int>>"
        ),
        (
            "images array<struct<image_index:int,page_num:int,bbox:array<double>,"
            "width:int,height:int,colorspace:string,ext:string,image_bytes:binary>>"
        ),
        (
            "tables array<struct<table_index:int,page_num:int,bbox:array<double>,"
            "data:array<array<string>>,extraction_method:string>>"
        ),
        (
            "segments array<struct<seg_idx:int,text:string,start:int,`end`:int,"
            "tag_path:string,words:int,link_density:double,boiler_container:boolean>>"
        ),
    ]
)


def _turn_record(conv_id, turn_idx, role, tool, ts, text, flags) -> dict:
    """Parse ONE turn into its output row; docparse's and htmlseg's dicts
    go in as they are (from_pylist reads only the schema's fields).
    Returns None for a row with no usable (conv_id, turn_idx) key — the
    schema allows NULLs there, and int(None) would otherwise kill the
    whole task (r5 review), violating the engine's never-fail-the-document
    posture (reference parser.py:148-150 swallows per-stage errors; a
    keyless row is skipped, not fatal)."""
    if conv_id is None or turn_idx is None:
        return None
    text = text if isinstance(text, str) else ""
    parsed = docparse.parse_turn(text, **flags)
    html = parsed["html"]
    m = parsed["meta"]
    return {
        "conv_id": conv_id,
        "turn_idx": int(turn_idx),
        "role": role,
        "tool": tool,
        "ts": ts,
        "html_raw": html,
        "is_html": html is not None,
        "meta": {
            **m,
            "page_sizes": [{"width": w, "height": h} for w, h in m["page_sizes"]],
        },
        "column_layout": None if html is not None else parsed["column_layout"],
        "blocks": parsed["blocks"],
        "images": parsed["images"],
        "tables": parsed["tables"],
        "segments": (
            htmlseg.segment_html(html, parsed["html_start"]) if html is not None else []
        ),
    }


def make_parse_kernel_arrow(arrow_schema, **flags):
    """The mapInArrow function for the given parse flags (docparse.parse_doc
    keywords — the reference parse() kwargs, parser.py:56-68). docparse's
    records are encoded as they are to a pa.RecordBatch against the
    pre-derived schema, which selects the fields (derive it where the
    session lives, with pyspark.sql.pandas.types.to_arrow_schema —
    executors have no session). Flags are plain closure values — they
    select code paths once per batch, never per row; an unknown flag raises
    here, before any task runs."""
    import pyarrow as pa

    docparse.parse_flags(**flags)
    in_cols = ("conv_id", "turn_idx", "role", "tool", "ts", "text")

    def kernel(batches):
        for batch in batches:
            cols = [batch.column(c).to_pylist() for c in in_cols]
            recs = [
                r for r in (_turn_record(*row, flags) for row in zip(*cols))
                if r is not None
            ]
            yield pa.RecordBatch.from_pylist(recs, schema=arrow_schema)

    return kernel
