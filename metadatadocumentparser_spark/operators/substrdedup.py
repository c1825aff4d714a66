"""Exact-substring dedup — remove every verbatim token span of length
>= k that occurs more than once anywhere in the corpus (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better", the
ExactSubstr technique: their released suffix-array tool removes ALL
copies of any >= 50-token substring that appears twice; we mirror that
remove-all semantic — no keeper election, which also makes the result
independent of document ordering).

The suffix array itself is a single-machine structure; the distributed
equivalent is windowed fingerprinting, which finds exactly the same
spans for a fixed window size k:

  a token span of length L >= k is duplicated  <=>  each of its L-k+1
  length-k windows is duplicated, and the union of duplicate windows
  reconstructs precisely the maximal duplicated spans.

Plan shape (100 % native Catalyst — no Python kernel, whole-stage
codegen end to end):
  1. tokenize: split on whitespace, drop empties (one projection);
  2. window hashes: explode positions 0..n-k, h = xxhash64 of the
     k-token window joined by ' ' (flatMap — rows = total token count);
  3. duplicate hashes: groupBy(h).count() >= min_count — map-side
     partial agg, then a left-semi join back on h (both sides hash on h,
     the exchange is shared: two shuffles on one key);
  4. maximal spans per doc: window over (id, pos) — running max of span
     ends marks gap starts, a running sum of gap flags numbers the
     maximal spans (one shuffle on id);
  5. cut: spans (bounded per doc) join back; kept tokens selected by a
     filter-with-index higher-order function (O(tokens x spans) per doc,
     spans are few) and re-joined with single spaces.

Whitespace contract (documented, like paradedup's sep contract): the
operator is TOKEN-grain — released text is the kept tokens joined by
single spaces, so runs of whitespace normalize to one space even in
untouched documents. Callers needing byte-identical pass-through should
diff n_removed == 0 instead of text equality.

At 100 TB: every shuffle is linear in token count with map-side partial
aggregation; the only superlinear-looking cost is the O(n*k) characters
hashed per doc by the sliding window hash (k=50 -> 50x the text bytes).
xxhash64 is JVM-native and an 8-byte shuffle key. An O(chars) Karp-Rabin
rolling hash in a mapInArrow kernel hashes fewer bytes but pays the Python
boundary: on long docs at k=50 it measured 12.0s against 5.0s for
xxhash64 (OPTIMIZATION_r06.md).

Reference: this is an engine addition (training-data prep); the
reference parser has no corpus-level operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def token_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks, n): the operator's whitespace tokenization (NULL text
    -> empty array) — shared with the streaming incremental variant.

    r6: guarded with ensure_min_parallelism — a single-parquet-file
    corpus (one scan task) otherwise runs the window explode + hash of
    EVERY token position serially on one core (the with_shingles
    rationale). min_bytes=2 MiB is the measured break-even: on the
    0.6 MB sf0.1 file the guard cost 1.3s→2.3s, on a single-file 50k-doc
    corpus it saved 7.3s→4.6s."""
    from ._util import ensure_min_parallelism

    df = ensure_min_parallelism(df, min_bytes=2 << 20)
    text = F.coalesce(F.col(text_col), F.lit(""))
    return df.select(
        F.col(id_col).alias("id"),
        F.filter(F.split(text, r"\s+"), lambda t: t != "").alias("toks"),
    ).withColumn("n", F.size("toks"))


def window_hashes(base: DataFrame, k: int) -> DataFrame:
    """(id, pos, h): xxhash64 (bigint) of every k-token window (docs
    shorter than k emit none). The hash only groups identical window
    TEXT; the final spans are hash-free, so any 64-bit content hash yields
    the same result modulo ~n²/2^65 collisions (tests/test_substrdedup
    pins the operator to an md5-keyed DuckDB mirror). A streaming substr
    index written with the r5 md5-hex h (string) is refused on read by
    streaming/corpus_stream.py."""
    return (
        base.where(F.col("n") >= k)
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), F.col("n") - k)).alias("pos"),
            "toks",
        )
        .select(
            "id",
            "pos",
            F.xxhash64(F.concat_ws(" ", F.slice("toks", F.col("pos") + 1, k))).alias("h"),
        )
    )


def merge_window_spans(dwin: DataFrame, k: int) -> DataFrame:
    """(id, spans, n_removed, n_spans): overlapping/adjacent duplicate
    windows (id, pos) merged into maximal [start, end) token spans via
    the gap-flag running sum."""
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dwin.withColumn(
        "newf", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    ).withColumn("grp", F.sum("newf").over(w))
    return (
        marked.groupBy("id", "grp")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k).alias("e"))
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("spans"),
            F.sum(F.col("e") - F.col("s")).cast("bigint").alias("n_removed"),
            F.count("*").cast("bigint").alias("n_spans"),
        )
    )


def cut_spans(base: DataFrame, spans: DataFrame) -> DataFrame:
    """Join spans back and cut them: (id, text_dedup, n_tokens,
    n_removed, n_spans, spans). Untouched docs skip the filter HOF."""
    joined = base.join(spans, "id", "left")
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
        ),
    )
    return joined.select(
        "id",
        F.when(F.col("spans").isNull(), F.array_join("toks", " "))
        .otherwise(F.array_join(kept, " "))
        .alias("text_dedup"),
        F.col("n").cast("bigint").alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0).cast("bigint")).alias("n_removed"),
        F.coalesce("n_spans", F.lit(0).cast("bigint")).alias("n_spans"),
        F.coalesce(
            "spans", F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
        ).alias("spans"),
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """(id, text_dedup, n_tokens, n_removed, n_spans, spans): text with
    every duplicated >= k-token span removed (ALL occurrences — Lee et
    al.'s remove-all rule). ``spans`` is the array of removed
    [start, end) token ranges (empty when nothing was cut); n_removed is
    the token count they cover. A span is cut when its every k-window
    occurs >= min_count times corpus-wide (intra-doc repeats count).
    NULL text is treated as empty. Docs shorter than k tokens emit no
    windows and are never cut."""
    if k < 1:
        raise ValueError(f"exact_substring_dedup: k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(
            f"exact_substring_dedup: min_count must be >= 2, got {min_count}"
        )
    base = token_base(df, id_col, text_col)
    wins = window_hashes(base, k)
    dup = wins.groupBy("h").count().where(F.col("count") >= min_count).select("h")
    dwin = wins.join(dup, "h", "left_semi").select("id", "pos")
    return cut_spans(base, merge_window_spans(dwin, k))
