"""Seeded benchmark inputs and the oracle values the output checks compare
against.

Transcripts: ``synth.make_turn`` over ``synth.conv_sizes`` (its default shape
mix and hot factor), with the conversation-index range offset by the seed;
the first conversation of the range is the hot one. Parquet part files are
written in (conv, turn) order. The oracle side runs ``oracle.oracle_turn``
per turn in a spawn pool and keeps only aggregates: an order-independent
digest of (conv_id, turn_idx, extracted_text, spans) and the row count of
each output table.

Documents: a seeded corpus for ``plans.corpus_prep`` shaped on the repo's
reference document table (``documents.parquet`` of the sf0.1 test data, 5,000
rows), with its measured figures in DOC_SHAPE, plus planted cases for the
stages that table gives no work: PII, shared boilerplate paragraphs and
windows copied from the benchmark (eval) set.

Inputs are cached by (kind, size, seed) under ``.bench_cache/`` in the
working directory; generation is never part of a timed region.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil

CACHE_DIR = ".bench_cache"
SEP = "\x1f"
TABLES = ("turns", "blocks", "formulas", "images", "tables", "meta", "segments")

# Measured on the sf0.1 documents table (5,000 rows): 30 words, used
# uniformly; lengths uniform over 10-99 words; 250 near duplicates (5.0%),
# each a copy of another document with the word "dup" appended; 8 exact
# duplicates (0.16%); one paragraph per document and no paragraph shared
# except by the exact duplicates; no PII regex hit; five lang strata. With
# the package's MinHash-LSH settings that table yields 826 candidate pairs,
# 17% of documents in at least one.
DOC_SHAPE = {
    "vocab": 30,
    "min_words": 10,
    "max_words": 99,
    "near_dup": 0.05,
    "exact_dup": 0.0016,
}
LANGS = (("en", 0.412), ("zh", 0.151), ("es", 0.149), ("fr", 0.148), ("de", 0.140))
# Absent from that table, so planted as test cases: 1% each gives 50
# documents at 5,000 for the output checks. Redaction, paragraph dedup and
# decontamination scan every document whatever these shares are.
PLANTED = {"pii": 0.01, "boilerplate": 0.01, "overlap": 0.01}
N_BENCH_TEXTS = 40
N_BOILERPLATE = 5


# ------------------------------------------------------------- digest
def row_hash(conv_id: str, turn_idx: int, text: str, spans) -> tuple[int, int]:
    """Two 40-bit slices of md5 over the canonical turn row; summing them
    over rows gives an order-independent digest (the Spark side computes
    the same expression natively, see workloads.turns_digest)."""
    span_s = ",".join(f"{s}:{e}" for s, e in spans)
    h = hashlib.md5(SEP.join((conv_id, str(turn_idx), text, span_s)).encode()).hexdigest()
    return int(h[:10], 16), int(h[10:20], 16)


# ------------------------------------------------------------- transcripts
def transcript_layout(n_convs: int, seed: int, hot_factor: int | None = None):
    """(ci, n_turns) per conversation: ``synth.conv_sizes`` (its default hot
    factor unless one is given) with the index range offset by the seed, so
    the first conversation is the hot one."""
    from metadatadocumentparser_spark import synth

    base = 1 + (seed % 100_000) * n_convs
    sizes = synth.conv_sizes(n_convs, *([hot_factor] if hot_factor else []))
    return [(base + i, sz) for i, sz in enumerate(sizes)]


def _arrow_schema(ddl: str):
    """pyarrow schema of a flat DDL string such as synth.TRANSCRIPT_DDL
    (StructType.fromDDL needs a JVM, which the generator pool has not)."""
    import pyarrow as pa

    types = {"string": pa.string(), "int": pa.int32(), "timestamp": pa.timestamp("us")}
    return pa.schema([(n, types[t]) for n, t in (c.split() for c in ddl.split(","))])


def _new_acc() -> dict:
    return {"rows": {t: 0 for t in TABLES}, "digest": [0, 0]}


def _transcript_chunk(args):
    """Spawn-pool task: generate one part file and the oracle aggregates of
    its turns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from metadatadocumentparser_spark import oracle, synth

    path, keys = args
    rows = [synth.make_turn(ci, ti) for ci, ti in keys]
    pq.write_table(pa.Table.from_pylist(rows, schema=_arrow_schema(synth.TRANSCRIPT_DDL)), path)

    acc = _new_acc()
    for r in rows:
        out = oracle.oracle_turn(r["conv_id"], r["turn_idx"], r["text"])
        for t in TABLES:
            acc["rows"][t] += len(out[t])
        turn = out["turns"][0]
        spans = [(s["start"], s["end"]) for s in turn["spans"]]
        a, b = row_hash(r["conv_id"], r["turn_idx"], turn["extracted_text"], spans)
        acc["digest"][0] += a
        acc["digest"][1] += b
    return acc


def _cached(name: str, build) -> tuple[str, dict]:
    """Return (directory, meta) for a cached input, building it on a miss.
    A directory is only published (renamed into place) once complete. The
    cache is keyed by this file's source too, so editing a generator never
    reuses inputs it made before."""
    with open(__file__, "rb") as f:
        version = hashlib.md5(f.read()).hexdigest()[:8]
    path = os.path.join(CACHE_DIR, version, name)
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(meta_path) as f:
        return path, json.load(f)


def transcripts(n_convs: int, seed: int, hot_factor: int | None = None, parts: int = 8):
    """Cached seeded transcript corpus. Returns (data_dir, oracle_meta)."""
    layout = transcript_layout(n_convs, seed, hot_factor)

    def build(tmp):
        data = os.path.join(tmp, "raw")
        os.makedirs(data)
        keys = [(ci, ti) for ci, sz in layout for ti in range(sz)]
        step = -(-len(keys) // parts)
        tasks = [
            (os.path.join(data, f"part-{i:05d}.parquet"), keys[i * step:(i + 1) * step])
            for i in range(parts)
        ]
        total = _new_acc()
        with multiprocessing.get_context("spawn").Pool(min(4, parts)) as pool:
            for part in pool.imap_unordered(_transcript_chunk, tasks):
                for t in TABLES:
                    total["rows"][t] += part["rows"][t]
                total["digest"] = [x + y for x, y in zip(total["digest"], part["digest"])]
            pool.close()
            pool.join()
        total["n_turns"] = len(keys)
        total["export_conv"] = f"conv-{layout[1][0]:06d}"
        total["input_bytes"] = sum(
            os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)
        )
        return total

    path, meta = _cached(f"transcripts-{n_convs}-{hot_factor or 'default'}-{seed}", build)
    return os.path.join(path, "raw"), meta


def warmup_transcripts(seed: int):
    """A small slice with the same shape mix, for warm-up passes."""
    return transcripts(40, seed + 7919, hot_factor=6, parts=4)


# ------------------------------------------------------------- documents
def _vocab(rng: random.Random, n: int, taken=()) -> list[str]:
    syl = ["ka", "lo", "mi", "ren", "tu", "sa", "vek", "do", "ri", "pan",
           "el", "or", "is", "qu", "zan", "bel", "tor", "ny", "fa", "gu"]
    words = set()
    while len(words) < n:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))
        if w not in taken and w != "dup":
            words.add(w)
    return sorted(words)


def documents(n_docs: int, seed: int):
    """Cached seeded document corpus + benchmark set. Returns
    (docs_path, bench_path, meta) where meta lists the planted ids.

    Every original has one paragraph of uniform words from the corpus
    vocabulary. The eval texts draw on a vocabulary of their own: a text
    drawn from the 30 corpus words would share a word 3-shingle with nearly
    every document, and decontamination would drop the whole corpus."""

    def build(tmp):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = random.Random(f"docs:{seed}")
        vocab = _vocab(rng, DOC_SHAPE["vocab"])
        eval_vocab = _vocab(rng, 200, taken=set(vocab))

        def body(words, n):
            return " ".join(rng.choice(words) for _ in range(n))

        boiler = [body(vocab, 12) + "." for _ in range(N_BOILERPLATE)]
        bench = [body(eval_vocab, 30) for _ in range(N_BENCH_TEXTS)]
        n_exact = round(n_docs * DOC_SHAPE["exact_dup"])
        n_near = round(n_docs * DOC_SHAPE["near_dup"])
        n_base = n_docs - n_exact - n_near
        kinds = ["overlap"] * round(n_docs * PLANTED["overlap"]) + [
            "pii"] * round(n_docs * PLANTED["pii"]) + [
            "boilerplate"] * round(n_docs * PLANTED["boilerplate"])
        kinds += [None] * (n_base - len(kinds))
        rng.shuffle(kinds)
        docs, plain = [], []
        planted = {"exact_dup": [], "near_dup": [], "overlap": [], "pii": [], "boilerplate": []}
        for i, kind in enumerate(kinds):
            words = body(vocab, rng.randint(DOC_SHAPE["min_words"], DOC_SHAPE["max_words"]))
            words = words.split(" ")
            if kind == "overlap":
                b = rng.choice(bench).split(" ")
                at = rng.randrange(len(b) - 10)
                pos = rng.randrange(len(words))
                words[pos:pos] = b[at:at + 10]
            elif kind == "pii":
                words.insert(
                    rng.randrange(len(words)),
                    rng.choice(
                        [
                            f"{rng.choice(vocab)}.{rng.choice(vocab)}@example.org",
                            f"+1 {rng.randint(200, 999)} {rng.randint(1000, 9999)}",
                            f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}",
                        ]
                    ),
                )
            text = " ".join(words)
            if kind == "boilerplate":
                text = text + "\n" + rng.choice(boiler)
            lang = rng.choices([lg for lg, _ in LANGS], weights=[w for _, w in LANGS])[0]
            docs.append({"doc_id": i, "text": text, "lang": lang})
            if kind:
                planted[kind].append(i)
            else:
                plain.append(i)
        # duplicates copy plain originals, and are appended after them, so
        # every copy has a larger id than its original (the keeper); a near
        # duplicate is a copy with one word appended, as in the sf0.1 table.
        # Near duplicates copy distinct originals: two copies of one
        # original would be an unplanned exact pair.
        sources = [rng.choice(plain) for _ in range(n_exact)] + rng.sample(plain, n_near)
        for j, src_id in enumerate(sources):
            src = docs[src_id]
            doc_id = n_base + j
            if j < n_exact:
                text = src["text"]
                planted["exact_dup"].append(doc_id)
            else:
                text = src["text"] + " dup"
                planted["near_dup"].append(doc_id)
            docs.append({"doc_id": doc_id, "text": text, "lang": src["lang"]})
        rng.shuffle(docs)  # storage order independent of id order
        docs_path = os.path.join(tmp, "docs.parquet")
        bench_path = os.path.join(tmp, "bench.parquet")
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())])
        pq.write_table(pa.Table.from_pylist(docs, schema=schema), docs_path)
        pq.write_table(
            pa.Table.from_pylist(
                [{"doc_id": 10_000_000 + i, "text": t} for i, t in enumerate(bench)],
                schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
            ),
            bench_path,
        )
        return {
            "n_docs": len(docs),
            "planted": planted,
            "input_bytes": os.path.getsize(docs_path),
        }

    path, meta = _cached(f"docs-{n_docs}-{seed}", build)
    return os.path.join(path, "docs.parquet"), os.path.join(path, "bench.parquet"), meta
