"""Exact-substring (Lee et al. 2022 ExactSubstr) dedup — semantics on
planted overlaps, remove-all rule, maximal-span merging, partition
invariance, and a DuckDB byte-level mirror of the full pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadatadocumentparser_spark.operators.substrdedup import (
    exact_substring_dedup,
)

SHARED = " ".join(f"s{i}" for i in range(12))
ROWS = [
    (1, f"alpha one two three {SHARED} tail1 tail2"),
    (2, f"beta {SHARED} other words here now"),
    (3, "unique doc nothing shared at all kept verbatim"),
    (4, "repeat me repeat me repeat me repeat me repeat me"),
    (5, None),
    (6, "short text"),
]


def _run(spark, rows=ROWS, k=8, **kw):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return {
        r.id: r
        for r in exact_substring_dedup(df, "doc_id", "text", k=k, **kw).collect()
    }


def test_planted_overlap_semantics(spark):
    got = _run(spark)
    # the shared 12-token run is cut from BOTH docs (remove-all, no keeper)
    assert got[1].text_dedup == "alpha one two three tail1 tail2"
    assert [(s.s, s.e) for s in got[1].spans] == [(4, 16)]
    assert got[2].text_dedup == "beta other words here now"
    assert [(s.s, s.e) for s in got[2].spans] == [(1, 13)]
    assert got[1].n_removed == got[2].n_removed == 12
    # untouched doc: tokens intact (whitespace-normalized join)
    assert got[3].text_dedup == "unique doc nothing shared at all kept verbatim"
    assert got[3].n_removed == 0 and got[3].spans == []
    # intra-doc repetition: overlapping duplicate windows merge to one
    # maximal span covering the whole doc
    assert got[4].text_dedup == "" and got[4].n_removed == 10
    assert [(s.s, s.e) for s in got[4].spans] == [(0, 10)]
    # NULL text -> empty, 0 tokens; sub-k docs emit no windows
    assert got[5].text_dedup == "" and got[5].n_tokens == 0
    assert got[6].text_dedup == "short text" and got[6].n_removed == 0


def test_disjoint_spans_stay_separate(spark):
    """Two planted shared runs separated by a unique gap produce TWO
    spans, and only the gap survives."""
    a = " ".join(f"a{i}" for i in range(8))
    b = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, f"{a} gap one two {b}"),
        (2, f"{a} other middle words {b}"),
    ]
    got = _run(spark, rows, k=8)
    assert got[1].text_dedup == "gap one two"
    assert [(s.s, s.e) for s in got[1].spans] == [(0, 8), (11, 19)]
    assert got[2].text_dedup == "other middle words"
    assert got[1].n_removed == got[2].n_removed == 16


def test_min_count_threshold(spark):
    """min_count=3: a span shared by only two docs survives; one shared
    by three is cut everywhere."""
    t2 = " ".join(f"t{i}" for i in range(8))
    t3 = " ".join(f"u{i}" for i in range(8))
    rows = [
        (1, f"{t2} one {t3}"),
        (2, f"{t2} two {t3}"),
        (3, f"three four five six seven eight nine ten {t3}"),
    ]
    got = _run(spark, rows, k=8, min_count=3)
    assert got[1].text_dedup == f"{t2} one"
    assert got[2].text_dedup == f"{t2} two"
    assert got[3].n_removed == 8


def test_partition_invariance(spark):
    df = spark.createDataFrame(ROWS, "doc_id bigint, text string")
    a = sorted(
        (r.id, r.text_dedup, r.n_removed)
        for r in exact_substring_dedup(df, "doc_id", "text", k=8).collect()
    )
    b = sorted(
        (r.id, r.text_dedup, r.n_removed)
        for r in exact_substring_dedup(
            df.repartition(7), "doc_id", "text", k=8
        ).collect()
    )
    assert a == b


def test_param_guards(spark):
    df = spark.createDataFrame(ROWS, "doc_id bigint, text string")
    with pytest.raises(ValueError, match="k must be"):
        exact_substring_dedup(df, "doc_id", "text", k=0)
    with pytest.raises(ValueError, match="min_count"):
        exact_substring_dedup(df, "doc_id", "text", min_count=1)


def test_duckdb_mirror_on_corpus(spark):
    """Full-pipeline DuckDB mirror on the sf0.001 corpus with planted
    cross-doc runs: every released byte, span count and removed-token
    count match an independent SQL implementation (same windows, same
    HAVING, same gap-flag span merge, same rebuild)."""
    k = 8
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("shared run w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 end "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    got = _operator(planted, k)
    assert got == _duckdb_mirror([tuple(r) for r in planted.collect()], k)
    # the plant is live: every %4 doc lost at least the planted run
    assert all(v[1] >= 13 for d, v in got.items() if d % 4 == 0)


def _duckdb_mirror(rows, k):
    """Independent DuckDB implementation of the full operator over
    (id, text) rows: md5-keyed windows, same HAVING, same gap-flag span
    merge, same rebuild. Returns {id: (text_dedup, n_removed, n_spans,
    spans)}."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE src (id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO src VALUES (?, ?)", rows)
    res = con.execute(f"""
WITH t AS (SELECT id, list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                             x -> x <> '') AS ts FROM src),
nn AS (SELECT id, ts, len(ts) AS n FROM t),
w AS (SELECT id, ts, n, unnest(range(0, n - {k} + 1)) AS pos FROM nn WHERE n >= {k}),
hh AS (SELECT id, pos, md5(array_to_string(ts[pos+1 : pos+{k}], ' ')) AS h FROM w),
dup AS (SELECT h FROM hh GROUP BY h HAVING COUNT(*) >= 2),
dw AS (SELECT id, pos FROM hh WHERE h IN (SELECT h FROM dup)),
sp0 AS (
  SELECT id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + {k}) OVER (
                PARTITION BY id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS newf
  FROM dw),
sp1 AS (SELECT id, pos, SUM(newf) OVER (PARTITION BY id ORDER BY pos) AS grp FROM sp0),
spans AS (SELECT id, grp, MIN(pos) AS s, MAX(pos) + {k} AS e FROM sp1 GROUP BY id, grp),
agg AS (SELECT id, SUM(e - s) AS n_removed, COUNT(*) AS n_spans,
               list([s, e] ORDER BY s) AS sp FROM spans GROUP BY id),
tokpos AS (SELECT id, ts, unnest(range(1, n + 1)) AS p1 FROM nn),
kept AS (
  SELECT tp.id, tp.p1, tp.ts[tp.p1] AS tok
  FROM tokpos tp
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.id = tp.id AND tp.p1 - 1 >= s.s AND tp.p1 - 1 < s.e)),
reb AS (SELECT id, string_agg(tok, ' ' ORDER BY p1) AS text_dedup FROM kept GROUP BY id)
SELECT nn.id, COALESCE(reb.text_dedup, ''),
       CAST(COALESCE(agg.n_removed, 0) AS BIGINT),
       CAST(COALESCE(agg.n_spans, 0) AS BIGINT),
       COALESCE(agg.sp, [])
FROM nn LEFT JOIN reb ON nn.id = reb.id LEFT JOIN agg ON nn.id = agg.id
""").fetchall()
    return {r[0]: (r[1], r[2], r[3], [tuple(p) for p in r[4]]) for r in res}


def _operator(df, k):
    return {
        r.id: (r.text_dedup, r.n_removed, r.n_spans, [tuple(s) for s in r.spans])
        for r in exact_substring_dedup(df, "doc_id", "text", k=k).collect()
    }


def test_operator_equals_duckdb_mirror_planted(spark):
    """The operator cuts exactly the spans of the md5-keyed DuckDB mirror
    at k=8 and the published k=50 on a planted-overlap corpus, with
    unicode tokens, intra-doc repeats, NULL and empty text."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)] + ["π", "∑x", "naïve"]
    planted = [f"p{i}" for i in range(60)]  # 60-token run > k=50
    rows = []
    for d in range(40):
        toks = [rng.choice(vocab) for _ in range(rng.randrange(0, 120))]
        if d % 3 == 0:  # plant the long duplicated run in 14 docs
            cut = rng.randrange(0, len(toks) + 1)
            toks = toks[:cut] + planted + toks[cut:]
        if d % 7 == 0 and toks:  # intra-doc repeat
            toks = toks + toks[: min(12, len(toks))]
        rows.append((d, " ".join(toks)))
    rows.append((1000, None))
    rows.append((1001, ""))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for k in (8, 50):
        got = _operator(df, k)
        assert got == _duckdb_mirror(rows, k), f"k={k}"
    # k=50: the planted 60-token run really was cut everywhere it appears
    assert all(got[d][1] >= 11 for d in range(40) if d % 3 == 0)
