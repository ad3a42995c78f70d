"""Pattern / PII redaction over the `documents` table.

A training-data pipeline must strip personally identifiable information and
deny-listed terms before a corpus ships. This operator counts and redacts a
configurable ordered pattern set with JVM-side ``regexp_extract_all`` /
``regexp_replace`` only — a map-only scan, no Python, no shuffle, so at
100 TB it costs exactly one pass over the text column with every count
folded into the same projection.

Semantics (shared with the DuckDB oracle):
  * counts are per-pattern matches in the ORIGINAL text (independent of each
    other and of replacement order);
  * redaction applies patterns sequentially in tuple order, each over the
    previous output, replacing every match with ``<NAME>``. Order matters
    when patterns overlap (an SSN is also a phone-shaped digit run), so the
    default list goes most-specific first. Replacement tokens contain no
    digits or ``@``/``.``-runs, so no pattern can match an earlier token.

Pattern dialect: the subset common to Java regex (Spark) and RE2 (DuckDB) —
character classes, ``\\d``-free explicit ranges, ``\\b``, bounded
quantifiers; no lookaround (RE2 lacks it), no ``\\d`` shorthand (identical
in both, but explicit ``[0-9]`` keeps the contract obvious).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (name, pattern) in redaction order: most-specific first (see module doc).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]"),
)


def redact(
    docs: DataFrame,
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Per-doc match counts + fully redacted text.

    Returns ``doc_id``, one ``n_<name>`` count per pattern, and
    ``redacted_text``. Counts come from the original text; the redacted text
    is the sequential rewrite described in the module docstring.
    """
    counts = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat in patterns
    ]
    redacted = F.col("text")
    for name, pat in patterns:
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return docs.select("doc_id", *counts, redacted.alias("redacted_text"))


def redaction_oracle_sql(
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> str:
    """DuckDB SQL computing byte-identical output to :func:`redact`.

    Kept next to the operator so the pattern list can never drift from its
    oracle; ``__spark_entry__`` embeds the result. ``redacted_text`` is
    reduced to its md5 on both sides by the caller when a narrow result is
    wanted.
    """
    counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in patterns
    )
    redacted = "text"
    for name, pat in patterns:
        redacted = f"regexp_replace({redacted}, '{pat}', '<{name.upper()}>', 'g')"
    return f"SELECT doc_id,\n  {counts},\n  {redacted} AS redacted_text\nFROM documents"
