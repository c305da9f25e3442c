"""Pattern scrubbing: redact PII-shaped spans from text columns.

A standard pre-training hygiene pass: replace email addresses, IP
addresses, phone-shaped and long-digit (card/SSN-shaped) sequences with
typed placeholder tokens, and report how many spans each document had —
the count feeds quality filters (a page that is mostly phone numbers is
a directory, not prose).

All ``regexp_replace``/``regexp_count`` chains — JVM-side, codegen'd,
zero shuffle, linear per row.  Patterns are deliberately conservative
syntactic shapes (this is a scrubber, not a PII classifier): favoring
recall on the unambiguous shapes and leaving context-dependent entities
to a dedicated NER stage.

Order matters: emails are scrubbed before phone/digit shapes so a
local-part like ``+15551234567@host`` is one EMAIL, not a PHONE inside
an address; long digit runs are scrubbed before phone shapes so a
16-digit card is one NUMBER, not a phone plus leftovers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (placeholder token, Java regex) in application order.
PATTERNS: list[tuple[str, str]] = [
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    # 12+ straight digits (cards, account numbers), allowing spaces/dashes
    ("<NUMBER>", r"\b(?:\d[ -]?){12,19}\b"),
    # phone-ish — two unambiguous shapes only, so ISO dates (2026-08-13),
    # year ranges (1914-1918), and bare id numbers never match:
    #   (a) +country compact/separated: +15551234567, +44 20 7946 0958
    #   (b) separated 3-3-4 with optional +cc/parens: (555) 123-4567
    (
        "<PHONE>",
        r"(?<![\w.])(?:"
        r"\+\d{1,3}(?:[ -.]?\d{2,4}){2,4}"
        r"|(?:\+\d{1,3}[ -.]?)?\(?\d{3}\)?[ -.]\d{3}[ -.]\d{4}"
        r")(?![\w.-])",
    ),
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _stages(col: Column | str) -> tuple[Column, list[Column]]:
    """One sequential pass: returns (fully scrubbed text, count columns).

    Each pattern counts on the text with earlier patterns already
    replaced (a span never counts twice), and the final staged column IS
    the scrubbed text — so callers that want both never run the regex
    chain twice."""
    staged = _c(col)
    cols: list[Column] = []
    total: Column | None = None
    for token, pat in PATTERNS:
        n = F.regexp_count(staged, F.lit(pat)).cast("long")
        name = token.strip("<>").lower()
        cols.append(n.alias(f"n_{name}"))
        total = n if total is None else total + n
        staged = F.regexp_replace(staged, pat, token)
    cols.append(total.alias("n_redactions"))
    return staged, cols


def scrub_text(col: Column | str) -> Column:
    """The text with every matched span replaced by its placeholder."""
    out = _c(col)
    for token, pat in PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def scrub_documents(df, text_col: str = "text"):
    """``df`` with ``text`` scrubbed in place plus per-pattern counts —
    the whole hygiene pass as one narrow projection, with the regex
    chain evaluated ONCE (the counts' final staged text is the scrubbed
    output; Spark does not CSE across separate expression trees)."""
    scrubbed, counts = _stages(text_col)
    keep = [c for c in df.columns if c != text_col]
    return df.select(
        *keep,
        scrubbed.alias(text_col),
        *counts,
    )
