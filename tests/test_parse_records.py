"""The parse kernel's rows carry every field of the parsed-row schema.

The kernel hands docparse's and htmlseg's dicts to
``pa.RecordBatch.from_pylist`` as they are. from_pylist reads only the
schema's fields and fills a missing key with NULL, without an error, so a
key dropped or renamed in docparse would turn into silent NULLs. This test
walks every record against PARSED_DDL instead.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, StructType

from metadatadocumentparser_spark import synth
from metadatadocumentparser_spark.kernels import PARSED_DDL, _turn_record
from metadatadocumentparser_spark.plans import parse_transcripts

PER_SHAPE = 4


def _turns_by_shape() -> dict:
    got = {s: [] for s in synth.SHAPES}
    ci = 0
    while min(len(v) for v in got.values()) < PER_SHAPE:
        for ti in range(20):
            v = got[synth.shape_for(ci, ti)]
            if len(v) < PER_SHAPE:
                v.append(synth.make_turn(ci, ti))
        ci += 1
    return got


def _missing(value, dtype, path: str) -> list[str]:
    """Paths of the struct fields ``value`` lacks, at every nesting level."""
    if value is None:
        return []
    if isinstance(dtype, ArrayType):
        return [m for i, v in enumerate(value)
                for m in _missing(v, dtype.elementType, f"{path}[{i}]")]
    if isinstance(dtype, StructType):
        out = [f"{path}.{f.name}" for f in dtype.fields if f.name not in value]
        for f in dtype.fields:
            if f.name in value:
                out += _missing(value[f.name], f.dataType, f"{path}.{f.name}")
        return out
    return []


@pytest.mark.parametrize("flags", [{}, {"text_method": "pdfplumber"}])
def test_records_carry_every_schema_field(spark, flags):
    schema = StructType.fromDDL(PARSED_DDL)
    nested = ("meta", "blocks", "images", "tables", "segments")
    seen = dict.fromkeys(nested, 0)
    for shape, rows in _turns_by_shape().items():
        for r in rows:
            rec = _turn_record(
                r["conv_id"], r["turn_idx"], r["role"], r["tool"], r["ts"], r["text"], flags
            )
            assert _missing(rec, schema, shape) == []
            for name in nested:
                seen[name] += len(rec[name]) if name != "meta" else len(rec["meta"]["page_sizes"])
    # every nested struct list was populated somewhere, so the walk checked it
    assert all(seen.values()), seen


def test_unknown_parse_flag_raises_on_driver(spark):
    df = spark.createDataFrame(synth.synth_local(2, 1), schema=synth.TRANSCRIPT_DDL)
    with pytest.raises(TypeError):
        parse_transcripts(df, bogus=1)
