"""Sinks: K1 canonical struct, K2 JSON, K3 TOON, K5 README contract,
K6 image sink, A5 method comparison, K7 visualization."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from metadatadocumentparser_spark import synth
from metadatadocumentparser_spark.operators.multimodal import attach_image_bytes
from metadatadocumentparser_spark.plans import extract_all, images_of, parse_transcripts
from metadatadocumentparser_spark.sinks import (
    canonical_struct,
    compare_export_formats,
    compare_extraction_methods,
    export_json,
    export_toon,
    save_images,
    toon_encode,
    visualize_columns,
)

N = 8


def _df(spark):
    return spark.createDataFrame(synth.synth_local(N, 5), schema=synth.TRANSCRIPT_DDL)


def test_canonical_struct_and_json(spark):
    outs = extract_all(_df(spark))
    doc = canonical_struct(outs)
    assert doc.count() == outs["turns"].count()
    j = export_json(doc).orderBy("conv_id", "turn_idx").limit(3).collect()
    d = json.loads(j[0].json)
    # K1 field order/names (parser.py:207-271)
    assert list(d["document"].keys() if "document" in d else d.keys()) == [
        "metadata", "text_blocks", "images", "tables", "formulas",
        "extraction_method", "column_layout",
    ]
    assert set(d["metadata"].keys()) == {
        "title", "author", "subject", "creator", "producer", "creation_date",
        "modification_date", "num_pages", "file_size", "page_sizes",
    }


def test_toon_roundtrip_shape(spark):
    outs = extract_all(_df(spark))
    doc = canonical_struct(outs)
    rows = export_toon(doc, delimiter=",").limit(2).collect()
    assert rows and "metadata:" in rows[0].toon
    # tabular arrays get the '#' length marker
    s = toon_encode({"xs": [{"a": 1, "b": 2}, {"a": 3, "b": 4}]})
    assert "xs[#2]{a,b}:" in s


def test_compare_export_formats_contract():
    d = {"metadata": {"title": "t"}, "text_blocks": [{"text": "x", "page_num": 0}]}
    r = compare_export_formats(d)
    assert set(r.keys()) == {
        "json_tokens", "json_size_bytes", "toon_comma_tokens",
        "toon_comma_size_bytes", "toon_comma_savings_percent",
        "toon_tab_tokens", "toon_tab_size_bytes", "toon_tab_savings_percent",
        "best_format", "best_savings_percent",
    }
    assert r["best_format"] in ("toon_comma", "toon_tab")
    assert r["toon_comma_savings_percent"] > 0  # the 10-60% README claim


def test_save_images(spark, tmp_path):
    parsed = parse_transcripts(_df(spark))
    imgs = attach_image_bytes(images_of(parsed))
    n = save_images(imgs, str(tmp_path / "imgs"))
    assert n == imgs.count() and n > 0


def test_save_images_kernel_bytes(spark, tmp_path):
    """image_bytes is threaded through the extraction schema itself
    (%%IMG hex → ImageRec → kernel images struct → images_of): K6 writes
    kernel-produced payload bytes with NO attach step, and the written
    files contain exactly the payload's bytes."""
    import hashlib

    parsed = parse_transcripts(_df(spark))
    imgs = images_of(parsed)  # no attach_image_bytes — kernel bytes only
    rows = imgs.collect()
    assert rows and all(r.image_bytes is not None for r in rows)
    out = tmp_path / "kimgs"
    n = save_images(imgs, str(out))
    assert n == len(rows)
    r = rows[0]
    expect = hashlib.md5(
        f"{r.conv_id}:{r.turn_idx}:{r.page_num}:{r.image_index}".encode()
    ).digest()
    assert bytes(r.image_bytes) == expect
    written = (
        out / f"image_{r.conv_id}_{r.turn_idx}_{r.page_num}_{r.image_index}.{r.ext}"
    ).read_bytes()
    assert written == expect


def test_compare_extraction_methods(spark):
    r = compare_extraction_methods(_df(spark))
    assert set(r["text_extraction"].keys()) == {"pymupdf", "pdfplumber"}
    assert set(r["table_extraction"].keys()) == {"camelot", "tabula"}
    for m in r["text_extraction"].values():
        assert {"num_blocks", "total_chars", "time"} <= set(m.keys())
    # both table methods see the same %%TBL records
    assert (
        r["table_extraction"]["camelot"]["num_tables"]
        == r["table_extraction"]["tabula"]["num_tables"]
    )


def test_visualize_columns(spark):
    viz = visualize_columns(_df(spark), n_turns=4)
    assert len(viz) == 4
    assert all("pages" in v for v in viz)


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both join sides on the key co-locates them: the sort-merge
    join runs with ZERO Exchange (the physical property a 100 TB fact-fact
    join needs — shuffle cost paid once at write time, amortized over every
    later join). Also asserts the same join WITHOUT bucketing shuffles."""
    from metadatadocumentparser_spark.sources import load_table

    # spark.sql.warehouse.dir is static; bucketed tables land in the
    # session's default warehouse and are dropped at the end
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sf = "/root/testdata/sf0.001"
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")

    plain = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
    plain_plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plain_plan  # unbucketed fact-fact join must shuffle

    for name, df, key in (("b_orders", o, "o_orderkey"), ("b_lineitem", li, "l_orderkey")):
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(name)
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in jplan, jplan[:1500]  # co-located: no shuffle for the join

    got = {r.o_orderpriority: r["count"] for r in joined.groupBy("o_orderpriority").count().collect()}
    want = {r.o_orderpriority: r["count"] for r in plain.collect()}
    assert got == want
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_source_format_roundtrip(spark, tmp_path):
    """documents and events survive a write/read round-trip through every
    supported source format with explicit schemas (byte-identical rows)."""
    from metadatadocumentparser_spark.sources import load_table
    from metadatadocumentparser_spark.sources.formats import FORMATS, read_table_as, write_table

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf = "/root/testdata/sf0.001"
    for table in ("documents", "events"):
        src = load_table(spark, sf, table)
        # explicit schema = the source's true schema (the testdata ts column
        # is TIMESTAMP_NTZ; guessing LTZ would fail the ORC read)
        schema = src.schema
        want = sorted(map(str, src.collect()))
        for fmt in FORMATS:
            path = str(tmp_path / f"{table}_{fmt}")
            write_table(src, path, fmt)
            got = sorted(map(str, read_table_as(spark, path, fmt, schema).collect()))
            assert got == want, f"{table} via {fmt}: row mismatch"


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitionBy layout: a lang='en' filter must reach the
    scan as a PartitionFilter (directory pruning — the 100 TB layout move
    that turns a full-corpus read into one partition's files), and results
    must equal the unpartitioned read."""
    from metadatadocumentparser_spark.sources import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_by_lang")
    d.write.partitionBy("lang").mode("overwrite").parquet(path)

    part = spark.read.parquet(path).where(F.col("lang") == "en")
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan[:800]
    # the data filter must NOT be re-applied as a post-scan Filter on lang
    got = {r.doc_id for r in part.collect()}
    want = {r.doc_id for r in d.where(F.col("lang") == "en").collect()}
    assert got == want and got


def test_csv_roundtrip_embedded_newlines(spark, tmp_path):
    """Review finding (r3): without multiLine the CSV reader split a quoted
    multi-line value into broken rows. Free text with newlines must
    round-trip byte-identically."""
    from metadatadocumentparser_spark.sources.formats import read_table_as, write_table

    df = spark.createDataFrame(
        [(1, "line1\nline2"), (2, 'has "quotes", commas\nand a second line')],
        "id int, text string",
    )
    path = str(tmp_path / "nlcsv")
    write_table(df, path, "csv")
    got = sorted(map(tuple, read_table_as(spark, path, "csv", df.schema).collect()))
    assert got == sorted(map(tuple, df.collect()))


def test_toon_fallback_quoting_and_json_nulls(spark):
    """Fallback TOON encoder quotes delimiter/newline/quote-bearing strings
    (structure stays parseable: each tabular row has exactly the declared
    cell count) and normalizes integral floats like the real package;
    export_json keeps null fields (K1 schema stability)."""
    from metadatadocumentparser_spark.sinks.export import _toon_scalar, toon_encode

    s = toon_encode({"xs": [{"a": "hello, world", "b": 1.0},
                            {"a": "line1\nline2", "b": float("nan")}]})
    lines = s.splitlines()
    assert lines[0] == "xs[#2]{a,b}:"
    # each row must contain exactly ONE unquoted delimiter (2 cells)
    assert lines[1].strip() == '"hello, world",1'
    assert lines[2].strip() == '"line1\\nline2",null'
    assert _toon_scalar(2.0) == "2" and _toon_scalar(2.5) == "2.5"

    outs = extract_all(_df(spark))
    j = export_json(canonical_struct(outs)).limit(50).collect()
    # meta_error / HTML turns carry null title or column_layout — the keys
    # must still be present in the JSON (ignoreNullFields=false)
    docs = [json.loads(r.json) for r in j]
    assert all("column_layout" in d for d in docs)
    assert all("title" in d["metadata"] for d in docs)


def test_raw_text_sources(spark, tmp_path):
    """Raw text ingestion: line-grain (ids unique even for duplicate line
    content, text preserved byte-for-byte) and whole-file grain (one doc
    per file, parallelism = file count)."""
    import os

    from metadatadocumentparser_spark.sources.formats import (
        read_text_lines,
        read_whole_text_files,
    )

    d = tmp_path / "raw"
    os.makedirs(d)
    (d / "a.txt").write_text("alpha one\nshared line\nshared line\n")
    (d / "b.txt").write_text("beta\n")

    lines = read_text_lines(spark, str(d)).collect()
    assert sorted(r.text for r in lines) == [
        "alpha one", "beta", "shared line", "shared line",
    ]
    ids = [r.doc_id for r in lines]
    assert len(ids) == len(set(ids))  # duplicate CONTENT, distinct ids
    again = read_text_lines(spark, str(d)).collect()
    assert {(r.doc_id, r.text) for r in again} == {(r.doc_id, r.text) for r in lines}

    whole = {os.path.basename(r.path): r.text for r in read_whole_text_files(spark, str(d)).collect()}
    assert whole["a.txt"] == "alpha one\nshared line\nshared line\n"
    assert whole["b.txt"] == "beta\n"


def test_canonical_struct_from_parsed_equals_aggregate(spark):
    """r6 (r5 verdict #4): the shuffle-free array-side K1 build must
    equal the 4-groupBy + 5-join aggregate form byte-for-byte — across
    pymupdf and pdfplumber parses, strict mode, and formulas on/off —
    and its plan must contain NO Exchange at all."""
    from metadatadocumentparser_spark.sinks.export import (
        canonical_struct_from_parsed,
        export_json,
    )

    df = _df(spark)
    for kw in (
        dict(),
        dict(strict_mode=True),
        dict(text_method="pdfplumber"),
    ):
        outs = extract_all(df, **kw)
        method = kw.get("text_method", "pymupdf")
        strict = kw.get("strict_mode", False)
        agg = export_json(canonical_struct(outs, extraction_method=method))
        fast = export_json(
            canonical_struct_from_parsed(
                outs["parsed"], extraction_method=method, strict_mode=strict
            )
        )
        a = {(r.conv_id, r.turn_idx): r.json for r in agg.collect()}
        b = {(r.conv_id, r.turn_idx): r.json for r in fast.collect()}
        assert a == b, kw
    # formulas off: aggregate path uses a limit(0) formulas table
    outs = extract_all(df)
    outs0 = dict(outs)
    outs0["formulas"] = outs["formulas"].limit(0)
    agg = export_json(canonical_struct(outs0))
    fast = export_json(
        canonical_struct_from_parsed(outs["parsed"], include_formulas=False)
    )
    a = {(r.conv_id, r.turn_idx): r.json for r in agg.collect()}
    b = {(r.conv_id, r.turn_idx): r.json for r in fast.collect()}
    assert a == b
    # plan gate: zero Exchange anywhere in the fast path
    plan = canonical_struct_from_parsed(outs["parsed"])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]


def test_parser_api_export_uses_fast_path(spark):
    """TranscriptExtractor.export_to_dict routes through the array-side
    build for a plain parse (no OCR), with mode flags propagated."""
    from metadatadocumentparser_spark.parser_api import TranscriptExtractor

    ex = TranscriptExtractor(_df(spark))
    outs = ex.parse(extract_formulas=True, text_method="pdfplumber",
                    strict_mode=True)
    doc = ex.export_to_dict(outs)
    plan = doc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    row = doc.orderBy("conv_id", "turn_idx").limit(1).collect()[0]
    assert row.document.extraction_method == "pdfplumber"


def _json_by_turn(doc):
    return {(r.conv_id, r.turn_idx): r.json for r in export_json(doc).collect()}


def test_parser_api_export_uses_its_own_parse_flags(spark):
    """An outs dict exports with the flags of the parse() that made it,
    not those of the latest parse() call."""
    from metadatadocumentparser_spark.parser_api import TranscriptExtractor

    ex = TranscriptExtractor(_df(spark))
    first = ex.parse(strict_mode=True, extract_formulas=True)
    ex.parse()  # default flags: non-strict, formulas off
    assert first["formulas"].count() > 0
    assert _json_by_turn(ex.export_to_dict(first)) == _json_by_turn(
        canonical_struct(first)
    )


def test_parser_api_export_reflects_edited_tables(spark):
    """A table replaced after parse() is what the export serializes."""
    from metadatadocumentparser_spark.parser_api import TranscriptExtractor

    ex = TranscriptExtractor(_df(spark))
    outs = ex.parse()
    outs["blocks"] = outs["blocks"].where(F.col("block_idx") == 0)
    doc = ex.export_to_dict(outs)
    sizes = {r.n for r in doc.select(F.size("document.text_blocks").alias("n")).collect()}
    assert sizes <= {0, 1} and 1 in sizes
    assert _json_by_turn(doc) == _json_by_turn(canonical_struct(outs))
