"""Pluggable quality / language-ID classifier seam — the strategy
pattern the OCR seam uses (ocr.ExternalOCR), applied to document
scoring: production corpus preps swap the built-in heuristics for a
trained model (a fastText language identifier, a DCLM/FineWeb-Edu-style
quality scorer), and the pipeline must consume those scores through the
same interface without changing its plan.

Two execution paths, chosen by the ``classifier`` argument:
- None (default): the built-in heuristics (functions/textstats.lang_id +
  quality_score) evaluated as NATIVE Catalyst expressions — zero Python
  in the plan (asserted in tests), exactly what docs_textstats ships.
- a TextClassifier instance: one mapInPandas batch pass; the model
  rides the closure (executor-side, Arrow-batched — the model is loaded
  per executor, never per row). This is the slow-but-smart path; the
  seam exists so it is a drop-in.

No trained model ships in this repo (none is available in this
environment, and a bundled binary would be untestable) — tests drive the
seam with a deterministic fake, mirroring how the OCR seam is tested.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class TextClassifier(ABC):
    """Batch scoring interface: ``classify(texts)`` returns one
    (lang, quality) pair per input text — lang an ISO-ish code, quality
    a score in [0, 1]. Batch-shaped on purpose: real models (fastText,
    transformer scorers) amortize per-call overhead over the batch."""

    @abstractmethod
    def classify(self, texts: Sequence[str]) -> Sequence[tuple[str, float]]:
        """One (lang, quality) per text; len(result) == len(texts)."""


def classify_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    classifier: TextClassifier | None = None,
) -> DataFrame:
    """(id, lang_pred, quality): per-doc language + quality scores.
    classifier=None -> native heuristic expressions (no Python in the
    plan); otherwise one Arrow-batched pass through the model."""
    from ..functions import textstats

    src = df.select(
        F.col(id_col).alias("id"), F.coalesce(F.col(text_col), F.lit("")).alias("t")
    )
    if classifier is None:
        return src.select(
            "id",
            textstats.lang_id(F.col("t")).alias("lang_pred"),
            textstats.quality_score(F.col("t")).alias("quality"),
        )

    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = ["" if t is None else str(t) for t in pdf["t"]]
            pairs = list(classifier.classify(texts))
            if len(pairs) != len(texts):
                raise ValueError(
                    f"TextClassifier.classify returned {len(pairs)} results "
                    f"for {len(texts)} texts"
                )
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "lang_pred": [p[0] for p in pairs],
                    "quality": [float(p[1]) for p in pairs],
                }
            )

    # id keeps the CALLER'S type — a hardcoded bigint would crash (or
    # corrupt) string/decimal ids exactly when a model is plugged in
    id_ddl = src.schema["id"].dataType.simpleString()
    return src.mapInPandas(
        kernel, schema=f"id {id_ddl}, lang_pred string, quality double"
    )


def _below_quality(
    df: DataFrame, id_col: str, text_col: str, quality_min: float, classifier
) -> DataFrame:
    """(id) of docs scored below quality_min: corpus prep's classifier
    gate (plans/corpus_prep, streaming/corpus_stream)."""
    scored = classify_documents(df, id_col, text_col, classifier=classifier)
    return scored.where(F.col("quality") < float(quality_min)).select("id")
