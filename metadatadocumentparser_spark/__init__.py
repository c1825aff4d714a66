"""metadatadocumentparser_spark — a PySpark-native document-extraction engine.

A from-scratch re-implementation of what generalMG/MetadataDocumentParser
*computes* (layout-aware document parsing: reading-order text blocks with
bbox/font/type, images, tables, formula detection + LaTeX heuristics,
document metadata) re-expressed as a distributed dataflow over transcript
tables ``(conv_id, turn_idx, role, text, tool, ts)``:

- one vectorized structural parse kernel (``mapInArrow``) per turn,
- all classification / scoring / LaTeX / boilerplate logic as **native
  Catalyst expressions** (no per-row Python in the hot path),
- explicit (conv_id, turn_idx) repartitioning so conversation-level skew
  cannot concentrate work,
- per-partition lineage + resume for checkpointed batch runs.

Reference semantics are cited per function as ``file:line`` into
``/root/reference`` (e.g. ``layout.py:89-109`` for the block classifier).
"""

__version__ = "0.1.0"
