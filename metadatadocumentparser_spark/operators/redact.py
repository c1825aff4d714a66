"""PII redaction — the masking pass every public-corpus training pipeline
runs before release (C4/Dolma-style email/phone/IP scrubbing).

Pure native projection (regexp_count + a regexp_replace chain): one scan,
zero shuffle, whole-stage codegen. Patterns deliberately use only regex
syntax with identical semantics in Java regex (Spark) and RE2 (DuckDB):
character classes, bounded repetition, \\d, \\b — no backrefs, no
lookaround — so the redacted output is byte-identical cross-engine and the
operator is oracle-checkable end-to-end (md5 of the redacted text).

Replacement order matters and is fixed: emails first (their local parts
contain digits a phone pattern could half-match), then phones, then IPs.
The email pattern is the costliest scan of the three and can only match
text containing '@', so it is skipped on text without one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMAIL_RX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RX = "\\+?\\d{1,3}[ -]\\d{3}[ -]\\d{4}"
IPV4_RX = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

# (pattern, mask token, a literal every match contains — the regex is
# skipped on text without it; None = always run)
_CHAIN = (
    (EMAIL_RX, "<EMAIL>", "@"),
    (PHONE_RX, "<PHONE>", None),
    (IPV4_RX, "<IP>", None),
)


def _steps(text: Column):
    """(count, masked text) per _CHAIN step, each on the text as the chain
    has masked it so far. A gated step on NULL text takes the regex
    branch (instr is NULL), so NULL stays NULL."""
    for rx, token, needle in _CHAIN:
        n, masked = F.regexp_count(text, F.lit(rx)), F.regexp_replace(text, rx, token)
        if needle is not None:
            skip = F.instr(text, needle) == 0
            n = F.when(skip, 0).otherwise(n)
            masked = F.when(skip, text).otherwise(masked)
        yield n, masked
        text = masked


def redacted_text(text_col: Column) -> Column:
    """The masked text (fixed email → phone → IP replacement order)."""
    return list(_steps(text_col))[-1][1]


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_emails, n_phones, n_ips, redacted): per-doc PII hit counts
    plus the masked text. Each count is taken on the text AS THE MASKING
    CHAIN SEES IT (phones counted after emails are masked, IPs after
    both): counting everything on the original text would claim matches
    the mask never removed — e.g. a phone-shaped substring inside an
    email's local part is consumed by the <EMAIL> mask, so it must not
    count as a phone. Counts therefore equal the number of tokens the
    mask actually inserted. The chain is driven by _CHAIN through _steps,
    shared with redacted_text — the single encoding of pattern order."""
    steps = list(_steps(F.col(text_col)))
    counts = zip(steps, ("n_emails", "n_phones", "n_ips"))
    return df.select(
        F.col(id_col).alias("id"),
        *[n.cast("bigint").alias(name) for (n, _), name in counts],
        steps[-1][1].alias("redacted"),
    )
