"""Payload tokenizer: span offsets are exact, malformed input never raises."""

from __future__ import annotations

from metadatadocumentparser_spark.payload import parse_payload


def test_span_offsets_exact():
    text = "%%PAGE 100 200\n%%BLK 0 0 10 10\n%%LN 0 0 10 8 1 0\n%%SP 12 Times|hello world"
    doc = parse_payload(text)
    sp = doc.pages[0].blocks[0].lines[0].spans[0]
    assert text[sp.start : sp.end] == "hello world" == sp.text
    assert sp.size == 12.0 and sp.font == "Times"


def test_word_offsets_exact():
    text = "%%PAGE 100 200\n%%WORD 1 2 3 4|tok"
    w = parse_payload(text).pages[0].words[0]
    assert text[w.start : w.end] == "tok"
    assert (w.x0, w.x1, w.top, w.bottom) == (1.0, 2.0, 3.0, 4.0)


def test_html_offsets():
    text = "%%DOC title=t\n%%HTML\n<p>abc</p>"
    doc = parse_payload(text)
    assert doc.html == "<p>abc</p>"
    assert text[doc.html_start :] == doc.html


def test_malformed_never_raises():
    cases = [
        "",
        "%%",
        "%%PAGE",
        "%%PAGE x y",
        "%%BLK 1 2 3",          # missing coord
        "%%SP 12 Times|orphan",  # span without page/block/line
        "%%LN 0 0 1 1 1 0",      # line without block
        "%%IMG 1 2 3 4 5",       # short image
        "%%ROW a|b",             # row without table
        "%%UNKNOWN stuff",
        "%%DOC not_a_key=1",
        "\x00\x01\x02",
        "%%PAGE 10 10\n%%BLK 0 0 5 5\n%%LN 0 0 5 5 1 0\n%%SP nofloat Times|x",
    ]
    for c in cases:
        doc = parse_payload(c)  # must not raise
        assert doc is not None


def test_doc_error_flag():
    doc = parse_payload("%%DOC title=ok;bogus=1")
    assert doc.meta is None and doc.meta_error
    ok = parse_payload("%%DOC title=ok;author=a")
    assert ok.meta == {"title": "ok", "author": "a"} and not ok.meta_error


def test_img_bytes_roundtrip():
    """%%IMG optional 9th token (hex payload) → ImageRec.image_bytes;
    malformed hex is swallowed to None like every other payload error."""
    from metadatadocumentparser_spark.payload import parse_payload

    good = parse_payload(
        "%%PAGE 612 792\n%%IMG 0 0 10 10 100 100 rgb png deadbeef"
    ).pages[0].images[0]
    assert good.image_bytes == bytes.fromhex("deadbeef")
    none_ = parse_payload(
        "%%PAGE 612 792\n%%IMG 0 0 10 10 100 100 rgb png"
    ).pages[0].images[0]
    assert none_.image_bytes is None
    bad = parse_payload(
        "%%PAGE 612 792\n%%IMG 0 0 10 10 100 100 rgb png zzNOTHEX"
    ).pages[0].images[0]
    assert bad.image_bytes is None


def test_null_turn_key_rows_skipped_not_fatal(spark):
    """r5 review: a NULL turn_idx (schema-legal) used to kill the whole
    task via int(None) in the kernel; keyless rows are now skipped —
    the rest of the corpus parses."""
    from metadatadocumentparser_spark import synth
    from metadatadocumentparser_spark.plans import parse_transcripts, turns_of

    rows = synth.synth_local(3, 2)
    df = spark.createDataFrame(rows, schema=synth.TRANSCRIPT_DDL)
    from pyspark.sql import functions as F

    bad = spark.createDataFrame(
        [("conv-bad", None, "user", "some text", None, None),
         (None, 0, "user", "other text", None, None)],
        schema=synth.TRANSCRIPT_DDL,
    )
    n_good = df.count()
    out = turns_of(parse_transcripts(df.unionByName(bad), repartition=False))
    assert out.count() == n_good
    assert out.where(F.col("conv_id").isNull()).count() == 0
