"""Text-analysis operators for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` column expressions (JVM, whole-stage
codegen; no UDFs): token counting, quality scoring, language-ID heuristic,
and content fingerprinting over a ``documents(doc_id, text, ...)`` table.
These are the building blocks the dedup/similarity operators reuse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EN_STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is"]
EN_FUNCTION_WORDS = ["the", "a", "and", "of", "is", "to"]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


# GPT-2-style pre-tokenizer, restricted to the Java-regex/RE2/python-re
# common subset: explicit ASCII whitespace class (the three engines'
# \s sets differ on \x0b, see rules.re2) and NO negative lookahead —
# GPT-2's \s+(?!\S) "leave the last space for the next word" rule is
# dropped, so a multi-space run counts as ONE whitespace token instead
# of splitting; contraction suffixes ('s 't 're 've 'm 'll 'd) bind
# first, then space-prefixed letter / digit / punctuation runs.
# Token COUNTS from this pattern approximate a BPE tokenizer's
# pre-split granularity (the shard-packing budget signal), not any
# specific vocab's piece count.
_BPE_WS = " \\t\\n\\r\\f\\x0b"
BPE_TOKEN_PATTERN = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z]+"
    "| ?[0-9]+"
    f"| ?[^A-Za-z0-9{_BPE_WS}]+"
    f"|[{_BPE_WS}]+")


def bpe_tokens_col(text: Column) -> Column:
    """BPE-ish pre-tokenization: the token pieces, in order."""
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0)


def quality_columns(text: Column) -> list[Column]:
    """Quality-scoring signal columns (length / stopword-density)."""
    toks = tokens_col(F.lower(text))
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n_tok = F.size(toks)
    # cast to long BEFORE scaling: n_stop * 1e6 overflows int32 under ANSI
    # for docs with >2147 stopword hits
    return [
        n_tok.cast("long").alias("n_tokens"),
        n_stop.cast("long").alias("n_stopwords"),
        F.floor(n_stop.cast("long") * 1000000 / n_tok)
        .cast("long").alias("stop_ratio_ppm"),
        n_tok.between(5, 1000).alias("length_ok"),
    ]


def lang_id_columns(text: Column) -> list[Column]:
    """Language-ID heuristic: English function-word density."""
    toks = tokens_col(F.lower(text))
    en = F.array(*[F.lit(w) for w in EN_FUNCTION_WORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    return [
        hits.cast("long").alias("en_hits"),
        F.when(hits.cast("long") * 100 >= F.size(toks), F.lit("en"))
        .otherwise(F.lit("unknown")).alias("pred_lang"),
    ]


def fingerprint_col(text: Column) -> Column:
    """Order-canonical content fingerprint: md5 over the sorted distinct
    token set (stable under token reordering / duplication)."""
    toks = F.array_sort(F.array_distinct(tokens_col(F.lower(text))))
    return F.md5(F.array_join(toks, " "))


def dehyphenate(text: Column) -> Column:
    """Re-join words hyphenated across line breaks — the cleaning step
    between layout reconstruction (which joins block lines with
    newlines) and a training corpus: ``exam-\\nple`` -> ``example``.

    Conservative rule set, in order:
      1. soft hyphens (U+00AD, the invisible break PDFs and web text
         carry) drop unconditionally;
      2. a LOWERCASE letter, ``-``, newline, optional indent,
         lowercase letter joins with the hyphen removed (an
         end-of-line break inside one word);
      3. everything else is untouched — capitalized compounds
         (``Sub-\\nCommittee``), digit ranges and em-dash line ends
         keep their characters, because removing those hyphens is
         lossy and a corpus consumer can't undo it.

    ASCII letter classes only (the module's tri-engine parity rule);
    pure column expression, zero shuffle."""
    t = F.replace(text, F.lit("\u00ad"), F.lit(""))
    return F.regexp_replace(
        t, F.lit("([a-z])-\n[ \t]*([a-z])"), F.lit("$1$2"))


def lexical_commonness(docs: DataFrame) -> DataFrame:
    """Corpus-statistics lexical quality — the CCNet idea (LM
    perplexity filtering) re-expressed with the corpus as its own
    language model: score each document by how COMMON its tokens are
    corpus-wide.  Gibberish, OCR noise, hash dumps and
    wrong-tokenization text score low; fluent prose scores high.

    The per-token signal is ``floor(log2(corpus_count))`` computed as
    ``length(bin(count)) - 1`` — pure integer/string arithmetic, so
    Spark and the DuckDB oracle agree bit-for-bit where float ``log``
    could differ in the last ulp.  Tokens seen only once contribute 0
    (the unseen-token floor), which also prunes the frequency table's
    long tail.

    Scale shape: explode -> token groupBy (map-side combined) builds
    the frequency table; the score join is hash-on-token — token keys
    are Zipf-hot, so run with AQE skew-join enabled (the session
    default) or salt the stopword ids; the per-doc rollup keys on
    doc_id.  Three shuffles, all token-linear.

    Returns (doc_id, n_tokens, common_milli): ``common_milli`` =
    ``floor(sum(flog2) * 1000 / n_tokens)``, 0 for empty docs."""
    toks = tokens_col(F.col("text"))
    ex = docs.select("doc_id", F.explode_outer(toks).alias("tok"))
    freq = ex.where(F.col("tok").isNotNull() & (F.col("tok") != "")) \
        .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")) \
        .where(F.col("cnt") >= 2) \
        .select("tok",
                (F.length(F.bin(F.col("cnt"))) - 1).alias("flog2"))
    scored = ex.join(freq, "tok", "left")
    out = scored.groupBy("doc_id").agg(
        F.count(F.when(F.col("tok") != "", 1)).cast("long")
        .alias("n_tokens"),
        F.coalesce(F.sum("flog2"), F.lit(0)).cast("long")
        .alias("_sum"))
    milli = F.when(F.col("n_tokens") > 0,
                   F.floor(F.col("_sum") * 1000 / F.col("n_tokens"))) \
        .otherwise(F.lit(0))
    return out.select("doc_id", "n_tokens",
                      milli.cast("long").alias("common_milli"))
