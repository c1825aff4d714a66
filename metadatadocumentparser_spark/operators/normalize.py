"""Unicode text normalization — the cleanup pass a web corpus needs before
any hashing/dedup/tokenization step sees it (two byte-different spellings
of "écolé" must dedup together; zero-width and control characters must not
make near-identical documents hash apart).

Stages (each independently toggleable, applied in this order):
1. Unicode normalization to NFC (or NFKC) — Arrow-batched
   ``unicodedata.normalize`` (Spark has no built-in normalizer; this is
   the one Python-kernel step, vectorized over batches, zero shuffle).
2. Control/format-character strip (Cc/Cf except \\t \\n \\r: zero-widths
   U+200B-200D, BOM U+FEFF, bidi marks, raw C0/C1) — native regexp.
3. Whitespace canonicalization: NBSP-family → space, runs of spaces/tabs
   collapsed, per-line trailing space dropped — native regexp chain.

Everything is a projection (no shuffle, no state); the kernel emits both
the normalized text and per-row change flags so a pipeline can report how
much the corpus moved. Cross-engine oracle: DuckDB's ``nfc_normalize`` +
the same regexes (tests/test_tpch_extra.py).
"""

from __future__ import annotations

import unicodedata
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Cc/Cf minus \t \n \r; includes zero-widths, BOM, bidi controls.
# Built from explicit escapes (identical classes in Java regex and
# DuckDB RE2, so the oracle can mirror them verbatim).
_CTRL_RE = (
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F"
    "\u200B-\u200D\uFEFF\u2060-\u2064\u202A-\u202E\u2066-\u2069]"
)
# NBSP family -> regular space (NBSP, OGHAM, EN QUAD..HAIR SPACE,
# NNBSP, MMSP, IDEOGRAPHIC SPACE)
_SPACE_RE = "[\u00A0\u1680\u2000-\u200A\u202F\u205F\u3000]"


def _nfc_kernel(form: str):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "t": [
                        unicodedata.normalize(form, t) if isinstance(t, str) else t
                        for t in pdf["t"]
                    ],
                }
            )

    return kernel


def normalize_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    form: str = "NFC",
    strip_controls: bool = True,
    canon_whitespace: bool = True,
    changed_flag: bool = True,
) -> DataFrame:
    """(id, text_norm[, changed]): normalized text (+ whether the row
    moved). ``changed_flag=False`` skips the original-text self-join —
    one source scan instead of two, for pipelines that only want the
    normalized bytes (plans/corpus_prep.py).

    ``form``: 'NFC' (default — canonical composition, byte-stable joins)
    or 'NFKC' (also folds compatibility forms: ligatures, full-width);
    None skips the unicode step (pure-native plan, zero Python).

    NULL text stays NULL (there is nothing to normalize) with
    changed=false — never a dropped row."""
    if form not in (None, "NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"normalize_text: unknown form {form!r}")
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    orig = src.withColumnRenamed("t", "t_orig") if changed_flag else None
    if form is not None:
        # id keeps the caller's type — a hardcoded bigint crashes string
        # ids only on the form!=None path (r5 review, the
        # classify_documents fix's sibling)
        id_ddl = src.schema["id"].dataType.simpleString()
        src = src.mapInPandas(_nfc_kernel(form), schema=f"id {id_ddl}, t string")
    out = src
    if strip_controls:
        out = out.withColumn("t", F.regexp_replace("t", _CTRL_RE, ""))
    if canon_whitespace:
        out = (
            out.withColumn("t", F.regexp_replace("t", _SPACE_RE, " "))
            .withColumn("t", F.regexp_replace("t", r"[ \t]+", " "))
            .withColumn("t", F.regexp_replace("t", r" +\n", "\n"))
        )
    if not changed_flag:
        return out.select("id", F.col("t").alias("text_norm"))
    return out.join(orig, "id").select(
        "id",
        F.col("t").alias("text_norm"),
        F.coalesce(F.col("t") != F.col("t_orig"), F.lit(False)).alias("changed"),
    )


def _normalized_docs(
    docs: DataFrame, id_col: str, text_col: str, keep_col: str, form: str
) -> DataFrame:
    """Corpus prep's stage 0 (plans/corpus_prep, streaming/corpus_stream):
    (id_col, normalized text_col, keep_col re-joined on id_col)."""
    norm = normalize_text(docs, id_col, text_col, form=form, changed_flag=False)
    return norm.select(
        F.col("id").alias(id_col), F.col("text_norm").alias(text_col)
    ).join(docs.select(F.col(id_col), F.col(keep_col)), id_col)
