"""Corpus-quality and corpus-management operators for LLM training-data
pipelines, beyond the per-doc scalar scores in functions/textstats.py:

- repetition_signals: Gopher-style repetition quality rules (Rae et al.
  2021, "Scaling Language Models: ... Gopher", §A1.1): duplicate-word
  fraction and top-bigram coverage fraction. Repetitive documents are the
  single biggest low-quality class web crawls contribute.
- split_assign: deterministic train/val/test assignment by md5 hash —
  stable under repartitioning, cluster size and re-runs, reproducible in
  any engine (the split must never depend on row order or partitioning).
- decontaminate: benchmark n-gram decontamination — flag corpus docs that
  share any k-shingle with an evaluation set (the overlap check every
  training pipeline runs before shipping data).

Scale notes: repetition explodes tokens/bigrams but aggregates with
map-side partial combine on (id, gram) keys — linear, skew-free (gram
cardinality within a doc is bounded by doc length). split_assign is a
pure projection. decontaminate broadcasts only the BENCHMARK shingle set
(eval sets are small by definition — that broadcast is bounded, unlike
corpus-side tables which are never broadcast here).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import half_up_scaled
from .dedup import with_shingles


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, dup_word_e4, top_bigram_e4):
    dup_word = (n_tokens - n_distinct) / n_tokens,
    top_bigram = 2 * count(most frequent bigram) / n_tokens (fraction of
    tokens covered by it); both 0 when undefined (0 tokens / <2 tokens).
    Word stats are array-native (zero shuffle); the bigram mode needs a
    per-(doc, bigram) count — one aggregation keyed by (id, bigram).
    NULL text counts as empty (n_tokens 0, fractions 0 — never NULL)."""
    # no ensure_min_parallelism: like simhash, the bigram partial agg is a
    # cheap count per row — the repartition shuffle costs more than the
    # serial map side saves (see dedup.simhash for the measurement)
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "), lambda x: x != ""
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        toks.alias("toks"),
    )
    bigrams = base.select(
        "id",
        # Guarded: sequence(1, 0) would DESCEND ([1, 0]) and index toks[-1]/
        # toks[0] on a short array (ANSI INVALID_ARRAY_INDEX); docs with <2
        # tokens simply have no bigrams (explode drops them; left join below
        # restores the row with top_bg NULL → 0).
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i - 1], ' ', toks[i]))"
                " ELSE array() END"
            )
        ).alias("bg"),
    )
    top = (
        bigrams.groupBy("id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("top_bg"))
    )
    out = base.drop("toks").join(top, "id", "left")
    dup = F.when(
        F.col("n_tokens") > 0,
        (F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    topf = F.when(
        F.col("n_tokens") > 0,
        F.coalesce(F.col("top_bg"), F.lit(0)) * 2.0 / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "id",
        "n_tokens",
        half_up_scaled(dup, 4).alias("dup_word_e4"),
        half_up_scaled(topf, 4).alias("top_bigram_e4"),
    )


def _repetition_flagged(
    df: DataFrame, id_col: str, text_col: str, thresholds: dict[str, int]
) -> DataFrame:
    """(id) of docs meeting ANY repetition_signals threshold: corpus
    prep's Gopher gate (plans/corpus_prep, streaming/corpus_stream)."""
    conds = [F.col(c) >= int(thr) for c, thr in thresholds.items()]
    rep = repetition_signals(df, id_col, text_col)
    return rep.where(functools.reduce(lambda a, b: a | b, conds)).select("id")


def repetition_line_signals(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Gopher §A1.1 within-doc duplicate LINE (or paragraph — pass
    sep='\\n\\n') signals: (id, n_units, dup_unit_e4, dup_unit_char_e4).

    - dup_unit = (n_units - n_distinct) / n_units — the fraction of
      lines/paragraphs that are repeats of an earlier one.
    - dup_unit_char = chars in occurrences AFTER THE FIRST of each
      duplicated unit / total unit chars (separators excluded) — the
      character-mass the repeats add, mirroring dup_word's
      beyond-the-first convention.

    ``sep`` is a literal (regex-quoted, like paragraph_dedup). One
    (id, unit) keyed aggregation — the same linear skew-free shape as the
    bigram pass; unit counts are array-native (no shuffle). NULL text
    counts as one empty unit (zeros — never NULL, never a dropped row)."""
    from .paradedup import _java_regex_quote

    units = F.split(F.coalesce(F.col(text_col), F.lit("")), _java_regex_quote(sep))
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(units).cast("bigint").alias("n_units"),
        F.size(F.array_distinct(units)).cast("bigint").alias("n_distinct"),
        units.alias("units"),
    )
    per_unit = (
        base.select("id", F.explode("units").alias("u"))
        .groupBy("id", "u")
        .agg(F.count("*").alias("c"))
    )
    chars = per_unit.groupBy("id").agg(
        F.sum((F.col("c") - 1) * F.length("u")).cast("bigint").alias("dupc"),
        F.sum(F.col("c") * F.length("u")).cast("bigint").alias("totc"),
    )
    out = base.drop("units").join(chars, "id")
    dup = F.when(
        F.col("n_units") > 0,
        (F.col("n_units") - F.col("n_distinct")) / F.col("n_units"),
    ).otherwise(F.lit(0.0))
    dupc = F.when(
        F.col("totc") > 0, F.col("dupc") / F.col("totc")
    ).otherwise(F.lit(0.0))
    return out.select(
        "id",
        "n_units",
        half_up_scaled(dup, 4).alias("dup_unit_e4"),
        half_up_scaled(dupc, 4).alias("dup_unit_char_e4"),
    )


GOPHER_TOP_NS = (3, 4)
GOPHER_DUP_NS = (5, 6, 10)


def repetition_ngram_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_ns: tuple[int, ...] = GOPHER_TOP_NS,
    dup_ns: tuple[int, ...] = GOPHER_DUP_NS,
) -> DataFrame:
    """Gopher §A1.1 n-gram repetition suite — doc-LOCAL mapInArrow kernel.
    Per doc,

    - ``top_{n}gram_e4`` (n in top_ns): fraction of token characters
      covered by occurrences of the HEAVIEST n-gram — heaviest = max by
      (count × gram-char-length, gram) so ties break deterministically;
      coverage is positional (overlapping occurrences count a token once).
    - ``dup_{n}gram_e4`` (n in dup_ns): fraction of token characters
      covered by ANY n-gram occurring ≥ 2 times (positional, the published
      "duplicated n-gram character fraction").

    Char accounting uses token characters only (separators excluded from
    numerator and denominator) — unambiguous under repeated whitespace and
    engine-portable. Docs with < n tokens (or 0 chars) score 0 for that n.

    r6 rewrite: the former shuffle-based form is the reference in
    tests/test_units.py, pinned equal by
    test_repetition_ngram_kernel_equals_sql.

    Every signal depends ONLY on the document's own tokens, so the r5
    plan — a 5-way fused gram explode, a corpus-wide (id, n, gram)
    aggregation with collect_list(pos), two more keyed shuffles and a
    join back to doc grain — shuffled ~5L gram strings per doc to compute
    a per-row scalar. The kernel computes the identical values with ZERO
    Exchange (guide §2.4/§4.2: the cheapest shuffle is the one removed;
    batch-at-a-time Python over only (id, text)). Measured 6-30× on the
    bench corpus; linear and embarrassingly parallel at 100 TB (no gram
    skew, no shuffle at all).

    Exactness contract with the DuckDB oracle (_ngram_rep_sql):
    - tokens: text.split(' ') minus empties; NULL text → no tokens;
    - heaviest gram: max by (count × token-chars, gram) — Python str
      comparison is code-point order == Spark/DuckDB binary UTF-8 order;
    - coverage: distinct covered positions, token chars only;
    - rounding: floor(chars/d * 10000.0 + 0.5) on IEEE doubles — the
      identical operation sequence as half_up_scaled.
    """
    import math

    import pyarrow as pa

    top_ns = tuple(top_ns)
    dup_ns = tuple(dup_ns)
    all_ns = sorted(set(top_ns) | set(dup_ns))
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    id_ddl = src.schema["id"].dataType.simpleString()
    out_cols = [f"top_{n}gram_e4" for n in top_ns] + [
        f"dup_{n}gram_e4" for n in dup_ns
    ]
    schema = f"id {id_ddl}, " + ", ".join(f"{c} bigint" for c in out_cols)
    floor = math.floor

    def kernel(batches):
        for batch in batches:
            texts = batch.column("t").to_pylist()
            res = {c: [] for c in out_cols}
            for t in texts:
                toks = [w for w in t.split(" ") if w] if t is not None else []
                L = len(toks)
                lens = [len(w) for w in toks]
                # prefix sums: token chars of gram [i, i+n) = P[i+n]-P[i]
                P = [0] * (L + 1)
                acc = 0
                for i, le in enumerate(lens):
                    acc += le
                    P[i + 1] = acc
                d = acc
                for n in all_ns:
                    is_top = n in top_ns
                    is_dup = n in dup_ns
                    if L < n or d == 0:
                        if is_top:
                            res[f"top_{n}gram_e4"].append(0)
                        if is_dup:
                            res[f"dup_{n}gram_e4"].append(0)
                        continue
                    counts: dict = {}
                    for i in range(L - n + 1):
                        k = tuple(toks[i : i + n])
                        e = counts.get(k)
                        if e is None:
                            counts[k] = [i]
                        else:
                            e.append(i)
                    if is_top:
                        best_w = -1
                        for k, ps in counts.items():
                            w = len(ps) * (P[ps[0] + n] - P[ps[0]])
                            if w > best_w:
                                best_w = w
                        # tie-break: max gram string among max-weight grams
                        # (distinct grams → no further tie possible)
                        g_ps = max(
                            (" ".join(k), ps)
                            for k, ps in counts.items()
                            if len(ps) * (P[ps[0] + n] - P[ps[0]]) == best_w
                        )[1]
                        pos = set()
                        for p in g_ps:
                            pos.update(range(p, p + n))
                        chars = sum(lens[p] for p in pos)
                        res[f"top_{n}gram_e4"].append(
                            floor(chars / d * 10000.0 + 0.5)
                        )
                    if is_dup:
                        pos = set()
                        for ps in counts.values():
                            if len(ps) >= 2:
                                for p in ps:
                                    pos.update(range(p, p + n))
                        chars = sum(lens[p] for p in pos)
                        res[f"dup_{n}gram_e4"].append(
                            floor(chars / d * 10000.0 + 0.5)
                        )
            yield pa.RecordBatch.from_arrays(
                [batch.column("id")]
                + [pa.array(res[c], type=pa.int64()) for c in out_cols],
                names=["id"] + out_cols,
            )

    from ._util import ensure_min_parallelism

    # one small parquet file would otherwise run the whole kernel on one
    # core (the with_shingles rationale); round-robin split first
    return ensure_min_parallelism(src).mapInArrow(kernel, schema=schema)


def split_column(id_col, weights: dict[str, float] | None = None, salt: str = "split"):
    """Deterministic split as a plain Column (composable into any
    projection): u = int(md5(salt:id)[:8], 16) / 2^32 ∈ [0,1), assigned by
    cumulative weight thresholds. md5 (not engine-internal hash) so any
    engine reproduces the identical assignment. The uniform lives in ONE
    place (sampling.sample_uniform) — it is the formula every DuckDB
    oracle mirrors byte-for-byte; two hand-maintained copies would drift."""
    from .sampling import sample_uniform

    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        # the last split takes whatever probability mass remains, so
        # weights that don't sum to 1 silently skew it (r5 review:
        # {.7,.1,.1} gave 'test' 20%, double the request) — fail loudly
        raise ValueError(
            f"split_column: weights must sum to 1, got "
            f"{sum(weights.values())!r} from {weights!r}"
        )
    u = sample_uniform(id_col, salt=salt)
    acc, expr = 0.0, None
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        expr = (
            F.when(u < acc, name) if expr is None else expr.when(u < acc, name)
        )
    return expr.otherwise(items[-1][0]) if expr is not None else F.lit(items[-1][0])


def split_assign(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """(id, split) projection of split_column — kept as the table-level API."""
    return df.select(
        F.col(id_col).alias("id"),
        split_column(F.col(id_col), weights, salt).alias("split"),
    )


def decontaminate(
    corpus: DataFrame, benchmark: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, n_hits): corpus docs sharing ≥1 k-shingle (k = SHINGLE_K) with
    the benchmark set, with the count of distinct shared shingles. Docs
    absent from the output are clean. The benchmark shingle set is
    broadcast — eval sets are small by definition; the corpus side streams
    map-side through the broadcast-hash join (no corpus shuffle at all)."""
    bs = with_shingles(benchmark, id_col, text_col).select("shingle").distinct()
    cs = with_shingles(corpus, id_col, text_col)
    return (
        cs.join(F.broadcast(bs), "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )
