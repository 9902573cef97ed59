"""Column-level text functions: T1 normalization, C1 status, F5 boilerplate.

Everything here is either a pure ``pyspark.sql.functions`` expression
(JVM-side, whole-stage-codegen friendly) or an Arrow-batched pandas UDF with
an ASCII fast path — no per-row Python UDFs (north_rule requirement).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from .. import rules

# --- T1: unicode normalization (text_extractor.pyc:11-64) ------------------
# ASCII lines (the overwhelming majority at scale) are a pure .str.strip();
# only lines containing non-ASCII or NUL take the exact python path.
_DIRTY_RE = "[^\x01-\x7f]"


@pandas_udf(StringType())
def _normalize_strip(s: pd.Series) -> pd.Series:
    s = s.fillna("")
    mask = s.str.contains(_DIRTY_RE, regex=True)
    out = s.str.strip()
    if mask.any():
        out[mask] = s[mask].map(lambda t: rules.normalize_unicode_text(t).strip())
    return out


def normalize_text(col: Column) -> Column:
    """T1 + strip, vectorized."""
    return _normalize_strip(col)


# --- C1: status detection (text_extractor.pyc:140-175) ---------------------

def _positional_status(col: Column, pattern: str, status_map: tuple[str, ...]) -> Column:
    """Map the first checked glyph position to its status code (forward
    when-cascade = first-checked-wins)."""
    result = None
    for i, status in enumerate(status_map):
        grp = F.regexp_extract(col, rules.jre(pattern), i + 1)
        cond = grp.isin(*rules.CHECKED_GLYPHS)
        result = F.when(cond, F.lit(status)) if result is None else result.when(cond, F.lit(status))
    return result.otherwise(F.lit(None).cast("string"))


def status_col(col: Column) -> Column:
    """First-match-wins cascade over the checkbox patterns, then bare letter."""
    result = None
    for pattern, status_map in rules.CHECKBOX_PATTERNS:
        matched = F.regexp_extract(col, rules.jre(pattern), 0) != ""
        value = _positional_status(col, pattern, status_map)
        result = F.when(matched, value) if result is None else result.when(matched, value)
    bare = F.regexp_extract(col, rules.jre(rules.BARE_STATUS_RE), 1)
    return result.otherwise(F.when(bare != "", bare))


# --- F5: boilerplate (data_quality_validator.py:376-409, span level) -------

def _contains_any(low: Column, words: list[str]) -> Column:
    cond = F.lit(False)
    for w in words:
        cond = cond | low.contains(w)
    return cond


def boilerplate_col(col: Column) -> Column:
    low = F.lower(col)
    meta = _contains_any(low, rules.METADATA_KEYWORDS)
    disclaimer = _contains_any(low, rules.DISCLAIMER_PHRASES)
    rescue = _contains_any(low, rules.DISCLAIMER_RESCUE_WORDS)
    return meta | (disclaimer & ~rescue)


# --- C4: priority (src/data_structurer.py:110-144) -------------------------

def priority_col(content_lower: Column, status: Column,
                 bold: Column | None = None,
                 underlined: Column | None = None) -> Column:
    """Column form of C4/C2 (src/data_structurer.py:110-144). ``bold``/
    ``underlined`` are the optional font attributes: when the input span
    schema carries them, bold wins high and underlined wins medium ahead
    of the keyword tiers; when absent (the default fontless span model /
    S4 fallback) both branches are constant-False."""
    expr = F.when(F.lit(False), F.lit(""))
    if bold is not None:
        expr = F.when(F.coalesce(bold, F.lit(False)), F.lit("high"))
    expr = expr.when(
        _contains_any(content_lower, rules.HIGH_PRIORITY_KEYWORDS),
        F.lit("high"))
    if underlined is not None:
        expr = expr.when(F.coalesce(underlined, F.lit(False)),
                         F.lit("medium"))
    return (
        expr
        .when(_contains_any(content_lower, rules.MEDIUM_PRIORITY_KEYWORDS), F.lit("medium"))
        .when(status.isin(*rules.LOW_PRIORITY_STATUSES), F.lit("low"))
        .otherwise(F.lit("info")))


# --- C5: title extraction (src/data_structurer.py:147-157) -----------------

def title_col(content: Column) -> Column:
    first = F.split(content, r"\.").getItem(0)
    return (
        F.when(F.length(first) < rules.TITLE_MAX_FIRST_SENTENCE, F.trim(first))
        .otherwise(F.concat(
            F.trim(F.substring(content, 1, 100)),
            F.when(F.length(content) > 100, F.lit("...")).otherwise(F.lit("")))))
