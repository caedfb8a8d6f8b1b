"""PII detection and redaction for training-data pipelines.

The standard scrub stage before a corpus is shipped to training:
find personally-identifying strings (emails, phone numbers, IP
addresses, national-id-shaped digit groups) and replace them with
typed placeholders, keeping an auditable count per document.

Everything is a chain of ``regexp_count`` / ``regexp_replace``
expressions — zero shuffle, zero Python, whole-stage codegen; at
10^12 docs the stage runs at scan speed and parallelizes with
partitions. Patterns deliberately use only the regex subset with
identical semantics in Java (Spark), RE2 (DuckDB — the oracle), and
PCRE: character classes, bounded quantifiers, ``\\b``, ``\\d`` (ASCII
in all three) — no lookaround, no backreferences.

Detection and redaction share one SEQUENTIAL contract: pattern ``i``
is counted and replaced on the text already redacted by patterns
``0..i-1``. That makes overlap handling deterministic (an IPv4 inside
an email's domain is part of the [EMAIL] span, not double-counted)
and guarantees ``pii_signals`` counts equal ``redact_pii`` replacement
counts by construction.

Reference scope note: jesse (the validation reference) has no scrub
stage; this module is part of the north-star training-pipeline
surface alongside dedup/similarity/quality (SURVEY §2.6).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, pattern, placeholder) — ordered: earlier patterns win overlaps.
# Email before IPv4 so a numeric mail domain is one [EMAIL] span; the
# SSN-shaped 3-2-4 digit group before the phone's 3-3-4 so the two
# dash-grouped shapes never compete for the same span.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email",
     r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[ID]"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]


def pii_cols(text: Column) -> dict[str, Column]:
    """Every per-doc scrub output as named columns over one text
    column, from ONE sequential fold: ``n_<pattern>`` per pattern
    (counted on the progressively-redacted text), ``n_pii``,
    ``has_pii``, ``redacted`` and ``n_redacted`` (the same total as
    ``n_pii``, by construction). For callers that scrub IN PLACE or
    want signals and redaction in one ``select`` — a pure per-row
    expression never needs a join back on the id (which would shuffle
    the corpus, drop null-id rows and multiply duplicate ids)."""
    cols: dict[str, Column] = {}
    cur = text
    for name, pattern, placeholder in PII_PATTERNS:
        cols[f"n_{name}"] = F.regexp_count(cur, F.lit(pattern))
        cur = F.regexp_replace(cur, pattern, placeholder)
    total = reduce(operator.add, cols.values())
    cols.update(n_pii=total, has_pii=total > 0, redacted=cur,
                n_redacted=total)
    return cols


def _select(df: DataFrame, text_col: str, id_col: str,
            names: list[str]) -> DataFrame:
    cols = pii_cols(F.col(text_col))
    return df.select(F.col(id_col), *[cols[n].alias(n) for n in names])


def pii_signals(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-doc PII detection: ``(id, n_email, n_ssn, n_phone, n_ipv4,
    n_pii, has_pii)``. Counts follow the sequential contract above, so
    they sum to exactly what ``redact_pii`` would replace."""
    return _select(df, text_col, id_col,
                   [f"n_{name}" for name, _, _ in PII_PATTERNS]
                   + ["n_pii", "has_pii"])


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-doc redaction: ``(id, redacted, n_redacted)`` with every
    matched span replaced by its typed placeholder."""
    return _select(df, text_col, id_col, ["redacted", "n_redacted"])


def redact_cols(text: Column) -> tuple[Column, Column]:
    """Column-level redaction: the ``(redacted, n_redacted)`` pair of
    :func:`pii_cols`, for ``withColumn`` scrubbing in place."""
    cols = pii_cols(text)
    return cols["redacted"], cols["n_redacted"]
