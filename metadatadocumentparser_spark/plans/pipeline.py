"""The flagship extraction plan (the reference parse(), distributed).

    read transcripts
      → repartition(conv_id, turn_idx)        # turn-level keys ⇒ no conv skew
      → structural parse kernel (mapInArrow)  # the ONE Python stage
      → native classify / score / LaTeX / boilerplate tree
      → exploded output tables (blocks, formulas, images, tables, meta,
        segments) + per-turn main-content text with char spans

Everything after the kernel is whole-stage-codegen'd Catalyst. The only
shuffles are (a) the explicit turn-level repartition before the kernel and
(b) per-(conv,turn) windows for order-sensitive indexes (W6) and the HTML
segment tree — both keyed by (conv_id, turn_idx), never by conv_id alone,
so one 10^6-turn conversation spreads over the whole cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.boilerplate import is_content
from ..functions.classify import classify_block_type
from ..functions.formula import (
    ALL_MATH_CHARS,
    formula_score_cols,
    is_formula_candidate,
    stripped_text,
)
from ..functions.htmlmeta import html_author, html_date, html_title
from ..functions.latex import latex_heuristic
from ..kernels import PARSED_DDL, make_parse_kernel_arrow

_TURN_KEY = ("conv_id", "turn_idx")
_META_FIELDS = (
    "title", "author", "subject", "creator", "producer", "creation_date",
    "modification_date", "num_pages", "file_size", "page_sizes",
)


def parse_transcripts(
    df: DataFrame,
    text_method: str = "pymupdf",
    layout_aware: bool = True,
    column_aware: bool = True,
    header_margin: float = 50,
    footer_margin: float = 50,
    table_method: str = "camelot",
    extract_text: bool = True,
    extract_images_flag: bool = True,
    extract_tables_flag: bool = True,
    num_partitions: int | None = None,
    repartition: str | bool = "auto",
) -> DataFrame:
    """Raw transcripts → parsed nested rows (kernel output).

    repartition:
      - "auto" (default): repartition on (conv_id, turn_idx) only when the
        input has fewer splits than the cluster parallelism. Size-balanced
        file scans (parquet/Iceberg split by bytes) carry NO conversation
        skew into the map-side kernel, so shuffling the full text corpus
        up-front would be pure cost — the turn-key shuffle exists for
        inputs that arrive clustered/bucketed by conv_id.
      - True: always shuffle to turn-level keys (skewed/bucketed inputs).
      - False: never.
    """
    sc = df.sparkSession.sparkContext
    want = num_partitions or sc.defaultParallelism * 2
    # an EXPLICIT num_partitions is a request, not a hint: honor it even
    # when the auto heuristic wouldn't shuffle (r5 review — it was
    # silently dropped unless "auto" independently fired); repartition=
    # False still wins (the caller said never).
    if repartition is True or (
        repartition == "auto"
        and (
            num_partitions is not None
            or df.rdd.getNumPartitions() < sc.defaultParallelism
        )
    ):
        df = df.repartition(want, *_TURN_KEY)
    kw = dict(
        text_method=text_method,
        layout_aware=layout_aware,
        column_aware=column_aware,
        header_margin=header_margin,
        footer_margin=footer_margin,
        table_method=table_method,
        extract_text=extract_text,
        extract_images_flag=extract_images_flag,
        extract_tables_flag=extract_tables_flag,
    )
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    # derive the Arrow schema here, where the session lives, and close
    # over it — executors cannot parse DDL
    arrow_schema = to_arrow_schema(StructType.fromDDL(PARSED_DDL))
    return df.mapInArrow(
        make_parse_kernel_arrow(arrow_schema, **kw), schema=PARSED_DDL
    )


def _block_type(b) -> "F.Column":
    """F1 block type of one blocks-array element (a struct column)."""
    return classify_block_type(
        b["bbox"], b["font_size"], b["page_height"], b["needs_classify"]
    ).alias("block_type")


def blocks_of(parsed: DataFrame) -> DataFrame:
    """Exploded text blocks with native block-type classification (F1)."""
    b = parsed.select(*_TURN_KEY, F.explode("blocks").alias("b"))
    return b.select(
        *_TURN_KEY,
        F.col("b.block_idx").alias("block_idx"),
        F.col("b.page_num").alias("page_num"),
        F.col("b.bbox").alias("bbox"),
        F.col("b.text").alias("text"),
        F.col("b.font_size").alias("font_size"),
        F.col("b.font_name").alias("font_name"),
        _block_type(F.col("b")),
        F.col("b.span_start").alias("span_start"),
        F.col("b.span_end").alias("span_end"),
    )


def _formula_cols(raw, font_size, strict_mode: bool):
    """(passes, formula_text, confidence) of one block from its RAW text
    (formula.py:17-169, F2 score + P7 candidate check).

    Fast path: ONE translate scan over the raw text decides the
    zero-math-char case before anything else runs. Stripping removes
    only whitespace + \\x1c-\\x1f — none of which are in either alphabet
    — so zero union-count on raw ⟺ zero (sym + chr) on stripped ⟹ score
    0 (formula_score_cols' gating proof) < threshold ⟹ never passes.
    Prose blocks (the overwhelming majority) skip the strip
    regexp_replace and both per-alphabet translates. The CASE is lazy:
    the P7 negative-pattern scan only runs for blocks whose score already
    clears the threshold."""
    t = stripped_text(raw)
    _score, confidence, clears = formula_score_cols(t, font_size, strict_mode)
    raw_has_math = F.length(raw) != F.length(F.translate(raw, ALL_MATH_CHARS, ""))
    passes = F.when(
        raw_has_math,
        F.when(clears, is_formula_candidate(t)).otherwise(F.lit(False)),
    ).otherwise(F.lit(False))
    return passes, t, confidence


def formulas_of(parsed: DataFrame, strict_mode: bool = False) -> DataFrame:
    """Formula stage (formula.py:17-169), fully native: posexplode blocks
    (pos = block order), ONE whole-stage-codegen'd projection of
    _formula_cols (codegen gets common-subexpression elimination — the
    same expressions inside a higher-order-function lambda are
    interpreted and re-evaluate translate() per reference, measured 3×
    slower), then the W6 running formula_index as a row_number window
    over only the passing rows (a shuffle of ~0.1% of blocks, keyed by
    turn — never conv)."""
    # zip only the four consumed fields (text, font_size, page_num, bbox)
    # before the posexplode — nested schema pruning cannot see through the
    # generator's struct access, but it prunes field-array extraction, so
    # the scan skips font_name/needs_classify/page_height/span_* bytes
    zipped = F.arrays_zip(
        F.col("blocks.text").alias("text"),
        F.col("blocks.font_size").alias("font_size"),
        F.col("blocks.page_num").alias("page_num"),
        F.col("blocks.bbox").alias("bbox"),
    )
    b = parsed.select(*_TURN_KEY, F.posexplode(zipped).alias("bpos", "b"))
    passes, t, confidence = _formula_cols(
        F.col("b.text"), F.col("b.font_size"), strict_mode
    )
    passed = b.select(
        *_TURN_KEY,
        "bpos",
        F.col("b.page_num").alias("page_num"),
        F.col("b.bbox").alias("bbox"),
        t.alias("ftext"),
        confidence.alias("confidence"),
        passes.alias("passes"),
    ).where(F.col("passes"))
    w = Window.partitionBy(*_TURN_KEY).orderBy("bpos")
    return passed.select(
        *_TURN_KEY,
        (F.row_number().over(w) - 1).alias("formula_index"),
        "page_num",
        "bbox",
        F.col("ftext").alias("formula_text"),
        latex_heuristic(F.col("ftext")).alias("latex"),
        "confidence",
    )


def images_of(parsed: DataFrame) -> DataFrame:
    i = parsed.select(*_TURN_KEY, F.explode("images").alias("i"))
    return i.select(*_TURN_KEY, "i.*")


def tables_of(parsed: DataFrame) -> DataFrame:
    t = parsed.select(*_TURN_KEY, F.explode("tables").alias("t"))
    return t.select(*_TURN_KEY, "t.*")


def _meta_fields() -> list:
    """The 10 metadata fields in export order (parser.py:207-271); HTML
    turns get DOM-heuristic title/author/date (native regexp_extract) in
    place of the trailer fields."""
    html = {"title": html_title, "author": html_author, "creation_date": html_date}

    def field(name):
        c = F.col(f"meta.{name}")
        if name in html:
            c = F.when(F.col("is_html"), html[name](F.col("html_raw"))).otherwise(c)
        return c.alias(name)

    return [field(n) for n in _META_FIELDS]


def meta_of(parsed: DataFrame) -> DataFrame:
    """Document metadata, one row per turn (see _meta_fields)."""
    return parsed.select(*_TURN_KEY, *_meta_fields())


def _classified_segments() -> "F.Column":
    """Segments array with the boilerplate decision tree evaluated per
    element. prev/next features come from neighboring ARRAY elements
    (F.get: null-safe out-of-bounds → the tree's empty-block defaults) —
    zero shuffle, versus the naive explode + Window.lag/lead shape which
    re-shuffles every segment row."""
    segs = F.col("segments")

    def elem(x, i):
        prev = F.get(segs, i - 1)
        nxt = F.get(segs, i + 1)
        return F.struct(
            x["seg_idx"].alias("seg_idx"),
            x["text"].alias("text"),
            x["start"].alias("start"),
            x["end"].alias("end"),
            x["tag_path"].alias("tag_path"),
            x["words"].alias("words"),
            x["link_density"].alias("link_density"),
            x["boiler_container"].alias("boiler_container"),
            is_content(
                x["words"],
                x["link_density"],
                F.coalesce(prev["words"], F.lit(0)),
                F.coalesce(prev["link_density"], F.lit(0.0)),
                F.coalesce(nxt["words"], F.lit(0)),
                x["boiler_container"],
            ).alias("is_content"),
        )

    return F.transform(segs, elem)


def segments_of(parsed: DataFrame) -> DataFrame:
    """HTML segments with the native boilerplate decision tree."""
    s = parsed.where(F.col("is_html")).select(
        *_TURN_KEY, F.explode(_classified_segments()).alias("s")
    )
    return s.select(*_TURN_KEY, "s.*")


def turns_of(parsed: DataFrame) -> DataFrame:
    """Per-turn main-content text + char spans (the north-rule equality
    surface). PDF turns are assembled natively from the blocks array
    (r6: the parsed layer no longer materializes extracted_text/spans —
    text is parse_doc's '\\n\\n' join of block texts, spans the blocks'
    (span_start, span_end) pairs, both exact reconstructions); HTML
    turns are assembled from content segments array-side — ONE
    projection over ONE kernel pass, no join/union/window (array order
    is block/seg_idx order by construction, never shuffle order)."""
    content = F.filter(_classified_segments(), lambda x: x["is_content"])
    html_text = F.array_join(F.transform(content, lambda x: x["text"]), "\n\n")
    html_spans = F.transform(
        content, lambda x: F.struct(x["start"].alias("start"), x["end"].alias("end"))
    )
    # field-array extraction (blocks.text — GetArrayStructFields) instead
    # of a transform lambda over the struct array: Catalyst's nested
    # schema pruning sees through the former but not through lambda
    # bodies, so the parquet scan reads ONLY text/span_start/span_end of
    # the blocks struct (the cast renames the zipped fields positionally)
    pdf_text = F.array_join(F.col("blocks.text"), "\n\n")
    pdf_spans = F.arrays_zip(
        F.col("blocks.span_start"), F.col("blocks.span_end")
    ).cast("array<struct<start:int,`end`:int>>")
    return parsed.select(
        *_TURN_KEY,
        F.when(F.col("is_html"), html_text).otherwise(pdf_text).alias("extracted_text"),
        F.when(F.col("is_html"), html_spans).otherwise(pdf_spans).alias("spans"),
        F.col("column_layout"),
    )


def outputs_of(parsed: DataFrame, strict_mode: bool = False, ocr_strategy=None) -> dict:
    """Derive every output table from a parsed DataFrame (lazy — each
    output materialization re-executes parsed's lineage unless parsed is
    itself a materialized read; see extract_all_materialized)."""
    from ..ocr import apply_ocr

    return {
        "parsed": parsed,
        "turns": turns_of(parsed),
        "blocks": blocks_of(parsed),
        "formulas": apply_ocr(
            formulas_of(parsed, strict_mode=strict_mode), ocr_strategy
        ),
        "images": images_of(parsed),
        "tables": tables_of(parsed),
        "meta": meta_of(parsed),
        "segments": segments_of(parsed),
    }


def extract_all(
    df: DataFrame, strict_mode: bool = False, ocr_strategy=None, **parse_kwargs
) -> dict:
    """Full parse() analogue: returns dict of output DataFrames derived
    from one parsed intermediate. ocr_strategy (ExternalOCR, §2.11) post-
    processes formulas executor-side; None keeps the pure-native path."""
    parsed = parse_transcripts(df, **parse_kwargs)
    return outputs_of(parsed, strict_mode=strict_mode, ocr_strategy=ocr_strategy)


def extract_all_materialized(
    df: DataFrame,
    staging_path: str,
    strict_mode: bool = False,
    ocr_strategy=None,
    **parse_kwargs,
) -> dict:
    """extract_all with the parsed layer materialized ONCE to parquet and
    re-read: when all 7 output tables are written, the Python parse kernel
    runs exactly one time instead of once per output (on-heap caching of
    the nested rows measured slower than parquet round-trip + re-read; at
    100 TB the staging write is also the natural recovery point)."""
    parsed = parse_transcripts(df, **parse_kwargs)
    # zstd staging: measured wall-time-equal to snappy/lz4/uncompressed on
    # the 600k bench corpus (all within noise) at 30% smaller files
    # (107 vs 152 MB) — at 100 TB the staging layer's I/O and footprint
    # are the cost that matters (BENCH.md round 4)
    parsed.write.mode("overwrite").option("compression", "zstd").parquet(staging_path)
    spark = df.sparkSession
    materialized = spark.read.parquet(staging_path)
    return outputs_of(materialized, strict_mode=strict_mode, ocr_strategy=ocr_strategy)


def register_extraction_views(outs: dict, prefix: str = "") -> list[str]:
    """Register every extraction output table as a temp view so the whole
    surface is queryable with spark.sql() — the declarative half of the
    DataFrame/SQL contract (views are lazy: Catalyst still sees the full
    plan, pushdown and pruning included).

        outs = extract_all(df)
        register_extraction_views(outs)
        spark.sql("SELECT column_layout, count(*) FROM turns GROUP BY 1")

    Returns the view names registered."""
    names = []
    for name, table in outs.items():
        view = f"{prefix}{name}"
        table.createOrReplaceTempView(view)
        names.append(view)
    return names
