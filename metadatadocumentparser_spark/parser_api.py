"""User-facing facade mirroring the reference's PDFMetadataParser surface.

A reference user writes (reference README / parser.py:19-125):

    parser = PDFMetadataParser(path, footer_margin=50, header_margin=50,
                               fast_column_detection=True)
    result = parser.parse(extract_text=True, extract_images=True, ...,
                          text_method="pymupdf", strict_mode=False)
    parser.export(result, format="toon")
    parser.compare_extraction_methods()
    parser.save_images(result, outdir)
    parser.visualize_columns()

This class keeps those call shapes over a transcripts DataFrame (one
"document" per turn). ``fast_column_detection`` is accepted and ignored
exactly like the reference, whose fast path is a stub that delegates to the
detailed algorithm (layout.py:120-138) — one implementation, flag kept for
API compatibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .operators.multimodal import attach_image_bytes
from .plans.pipeline import extract_all
from .sinks.export import (
    canonical_struct,
    canonical_struct_from_parsed,
    compare_export_formats,
    compare_extraction_methods,
    export,
    save_images,
    visualize_columns,
)


class TranscriptExtractor:
    """The reference parser's API over a transcripts DataFrame."""

    def __init__(
        self,
        transcripts: DataFrame,
        footer_margin: int = 50,
        header_margin: int = 50,
        fast_column_detection: bool = True,  # accepted, no-op (see module doc)
    ):
        self.df = transcripts
        self.footer_margin = footer_margin
        self.header_margin = header_margin
        self.fast_column_detection = fast_column_detection
        # id(outs["parsed"]) -> (the tables parse() returned, its flags)
        self._parses: dict = {}

    def parse(
        self,
        extract_text: bool = True,
        extract_images: bool = True,
        extract_tables: bool = True,
        extract_formulas: bool = False,
        text_method: str = "pymupdf",
        table_method: str = "camelot",
        layout_aware: bool = True,
        column_aware: bool = True,
        strict_mode: bool = False,
        ocr_strategy=None,
    ) -> dict:
        """parse() (parser.py:56-125): dict of output DataFrames. Matching
        the reference, extract_formulas=False leaves the formulas entry as
        an empty-plan DataFrame rather than omitting the key."""
        outs = extract_all(
            self.df,
            strict_mode=strict_mode,
            ocr_strategy=ocr_strategy,
            text_method=text_method,
            table_method=table_method,
            layout_aware=layout_aware,
            column_aware=column_aware,
            header_margin=self.header_margin,
            footer_margin=self.footer_margin,
            extract_text=extract_text,
            extract_images_flag=extract_images,
            extract_tables_flag=extract_tables,
        )
        if not extract_formulas:
            outs["formulas"] = outs["formulas"].limit(0)
        # the export fast path re-derives every table from outs["parsed"]
        # with this parse's flags; keyed on the parsed DataFrame, so an
        # older outs dict exports with its own flags, not the latest ones
        flags = (text_method, strict_mode, extract_formulas, ocr_strategy)
        self._parses[id(outs["parsed"])] = (dict(outs), flags)
        return outs

    def compare_extraction_methods(self) -> dict:
        return compare_extraction_methods(self.df)

    def export_to_dict(self, outs: dict) -> DataFrame:
        return self._struct(outs)

    def export(self, outs: dict, format: str = "toon", delimiter: str = ",") -> DataFrame:
        return export(self._struct(outs), format=format, delimiter=delimiter)

    def _struct(self, outs: dict) -> DataFrame:
        # shuffle-free array-side build only for outs exactly as parse()
        # returned them; OCR'd formulas and edited tables exist only at
        # table grain -> aggregate form, with that parse's method
        tables, (method, strict, formulas, ocr) = self._parses.get(
            id(outs.get("parsed")), ({}, ("pymupdf", False, True, None))
        )
        if tables and ocr is None and all(outs.get(k) is t for k, t in tables.items()):
            return canonical_struct_from_parsed(outs["parsed"], method, strict, formulas)
        return canonical_struct(outs, extraction_method=method)

    def compare_export_formats(self, doc_dict: dict) -> dict:
        return compare_export_formats(doc_dict)

    def save_images(self, outs: dict, output_dir: str) -> int:
        return save_images(attach_image_bytes(outs["images"]), output_dir)

    def visualize_columns(self, n_turns: int = 3) -> list:
        return visualize_columns(
            self.df, n_turns=n_turns,
            header_margin=self.header_margin, footer_margin=self.footer_margin,
        )
