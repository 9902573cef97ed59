"""PII scrubbing for training corpora: detect and redact e-mail
addresses, phone numbers, and IPv4 addresses (the C4/RefinedWeb-style
pre-training scrub).

Pure ``regexp_extract_all`` / ``regexp_replace`` column expressions —
JVM whole-stage codegen, zero shuffle, evaluated in the scan stage; at
100 TB the scrub adds no stage boundary to an ingest plan.

The patterns are deliberately restricted to constructs with identical
semantics in Java regex (Spark), RE2 (DuckDB / pyarrow) and python
``re`` — ASCII character classes, bounded repetition, ``\\b`` on ASCII
word characters; no lookaround, no backreferences — so the oracle gate
can compare the scrub bit-for-bit (see the tri-engine parity notes in
BENCH/BASELINE.md §18).

Redaction order matters: e-mails are rewritten first so their local
parts can't later match the number patterns; phone before IPv4 so a
dotted phone (3 groups) is never half-eaten by the IP rule (4 groups
can't overlap 3-group matches, but the fixed order makes the contract
explicit and engine-independent).

Precision/recall limits (a consequence of the tri-engine parity
constraint above — do NOT read n_email/n_phone/n_ipv4 as exact PII
prevalence): the IPv4 rule redacts any dotted quad, including
out-of-range octets (999.999.999.999) and software version strings
(1.2.3.4) — over-redaction that is the safe direction for a training
scrub; the phone rule covers only the bare NNN-NNN-NNNN shapes
(space/dot/dash separators) and misses parenthesized or +1-prefixed
forms like (713) 555-0102 — validating octet ranges or alternate phone
layouts needs alternation/lookaround that Java regex, RE2 and python
``re`` do not share bit-for-bit. Audits needing exact prevalence should
treat these columns as a lower bound (phones) / upper bound (IPs).

NULL text rows pass through as NULL with zero counts and
``has_pii = false``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ordered: (name, pattern, replacement token)
PII_RULES: list[tuple[str, str, str]] = [
    ("email",
     r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("phone",
     r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
     "<PHONE>"),
    ("ipv4",
     r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
     "<IP>"),
]


def pii_count_columns(text: Column) -> list[Column]:
    """Match counts per rule, each taken on the text AFTER the earlier
    rules' redactions — i.e. n_<rule> is exactly the number of <TOKEN>s
    that rule inserts into the scrubbed output.  Counting every rule on
    the raw text instead would report phantom detections the scrub never
    redacts (a phone-shaped email local part like ``800-555-1234@x.com``
    is consumed whole by the email rule), breaking any
    redaction-completeness audit that reconciles counts against tokens.
    """
    cols = []
    for name, pat, token in PII_RULES:
        # greatest(.., 0): a NULL text propagates NULL through the regex
        # chain and size(NULL) is -1 under Spark's default sizeOfNull —
        # a NULL doc has zero detections, not negative ones
        cols.append(
            F.greatest(F.size(F.regexp_extract_all(text, F.lit(pat), 0)),
                       F.lit(0))
            .cast("long").alias(f"n_{name}"))
        text = F.regexp_replace(text, pat, token)
    return cols


def redact_col(text: Column) -> Column:
    """The scrubbed text: rules applied in PII_RULES order."""
    out = text
    for _, pat, token in PII_RULES:
        out = F.regexp_replace(out, pat, token)
    return out


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Per-doc scrub: original columns with ``text`` replaced by the
    redacted text, plus n_email/n_phone/n_ipv4 counts (= tokens inserted
    per rule) and ``has_pii``."""
    text = F.col("text")
    counts = pii_count_columns(text)
    out = docs.select(
        *[c for c in docs.columns if c != "text"],
        redact_col(text).alias("text"),
        *counts)
    total = sum((F.col(f"n_{name}") for name, _, _ in PII_RULES),
                F.lit(0).cast("long"))
    return out.withColumn("has_pii", total > 0)
