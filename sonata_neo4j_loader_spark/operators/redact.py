"""PII redaction over text columns: emails, phone numbers, IPv4 addresses.

Engine addition beyond the reference (which ingests curated circuit data
and has no scrubbing surface at all) — the privacy-filter stage every
web-scale training-data pipeline runs before tokenization. The pattern
set is deliberately expressed in the regex subset shared by Java's
engine and RE2 (no lookaround, no backreferences), so the exact same
patterns adjudicate cross-engine against the DuckDB oracle and would run
unchanged on RE2-based scanners.

Scale posture: pure JVM column expressions (``regexp_replace`` /
``regexp_count``) — no Python UDF, no shuffle, no exchange. The operator
fuses into whole-stage codegen with whatever scan or projection it is
composed onto, so at 100 TB it adds zero passes over the data: redaction
rides the same pipeline that already reads the text bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# class -> (pattern, replacement token). INSERTION ORDER IS THE
# REDACTION ORDER and it matters: emails go first so the phone/IP
# patterns can never match digit runs inside an address; the replacement
# tokens contain no digits or '@', so later passes never match inside an
# earlier redaction. Patterns use the Java∩RE2 subset only.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (
        r"(?:\+?\d{1,2}[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}",
        "<PHONE>",
    ),
    "ipv4": (r"\b\d{1,3}(?:\.\d{1,3}){3}\b", "<IP>"),
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted_text",
) -> DataFrame:
    """Append ``out_col`` with every :data:`PII_PATTERNS` class replaced by
    its token, plus one ``n_<class>`` int column per class.

    Counts are class-SEQUENTIAL: each class is counted on the text as it
    stands just before that class's replacement, so ``n_<class>`` is the
    number of replacements actually performed and every PII span is
    attributed to exactly one class by redaction order (an IPv4 hiding
    inside an email's domain — ``a@1.2.3.4.com`` — counts as the email
    that swallowed it, not as an IP; counting every class on the original
    text would double-report such spans).
    """
    cols = [df[c] for c in df.columns]
    cur = F.col(text_col)
    for name, (pattern, token) in PII_PATTERNS.items():
        cols.append(F.regexp_count(cur, F.lit(pattern)).cast("int").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pattern, token)
    cols.append(cur.alias(out_col))
    return df.select(*cols)
