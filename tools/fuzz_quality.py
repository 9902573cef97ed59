"""Differential fuzz harness (committed so the campaign is
reproducible — usage: python tools/fuzz.py quality LO HI):
operators/pii.py + operators/repetition.py (Spark) vs their DuckDB SQL
twins on random adversarial ASCII corpora.

Corpus generator biases toward PII-shaped fragments (digit groups, dots,
dashes, @, TLD-ish tails) and repetition-shaped structure (newlines,
repeated lines/tokens, blank/space-only lines) so both rule sets fire
constantly rather than never: about a third of the documents repeat one
of their own lines one to three times, space-padded (the same line once
trimmed) or tab-padded (another line), so duplicate-line ppm is often
non-zero and sometimes counts a line repeated more than once.
"""
import random

from pdf_extraction_spark.operators.pii import PII_RULES

WORDS = ["mail", "call", "now", "user", "x", "example", "com", "co",
         "net", "a", "b", "dog", "table", "spark", "10", "713", "555",
         "0101", "192", "168", "0", "1", "%", "+", "_", ".", "-", "@",
         "..", "@@", "a@b", "1.2", "1.2.3", "1.2.3.4", "1.2.3.4.5",
         "123-456-7890", "123.456.7890", "123 456 7890", "12-34-5678",
         "a@b.cd", "a@b.c", "x@y.museum", "-a@b.cd-", ".a@b.cd.",
         "999.999.999.999", "00.00.00.00", "1...2", "@.", "a-b.c@d.ee"]


def gen_text(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 60)):
        r = rng.random()
        if r < 0.08:
            parts.append("\n")
        elif r < 0.12:
            parts.append("\n \n")
        else:
            parts.append(rng.choice(WORDS))
        if rng.random() < 0.85:
            parts.append(rng.choice([" ", " ", "  ", "\t"]))
    text = "".join(parts)
    lines = text.split("\n")
    own = [ln for ln in lines if ln.strip(" ")]
    if own and rng.random() < 0.4:
        pad = ["", " ", " ", "  ", "\t"]
        line = rng.choice(own)
        for _ in range(rng.randint(1, 3)):
            lines.insert(rng.randint(0, len(lines)),
                         rng.choice(pad) + line + rng.choice(pad))
        text = "\n".join(lines)
    return text


def sql_pii() -> str:
    scrubbed = "text"
    counts = []
    for name, pat, token in PII_RULES:
        counts.append(
            f"CAST(len(regexp_extract_all({scrubbed}, '{pat}'))"
            f" AS BIGINT) AS n_{name}")
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{token}', 'g')"
    return (f"SELECT doc_id, {', '.join(counts)}, {scrubbed} AS text "
            "FROM corpus ORDER BY doc_id")


SQL_REP = r"""
WITH tok AS (
  SELECT doc_id,
    string_split_regex(trim(lower(text)), '\s+') AS toks,
    list_filter(list_transform(string_split(text, chr(10)),
                               s -> trim(s)), s -> s <> '') AS lines
  FROM corpus),
bg AS (
  SELECT doc_id, toks, lines,
    [toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))] AS bgs
  FROM tok),
top AS (
  SELECT doc_id, toks, lines,
    coalesce(list_max(list_transform(
      list_distinct(bgs), b -> len(list_filter(bgs, x -> x = b)))), 0)
      AS top_c
  FROM bg)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CASE WHEN len(lines) > 0 THEN CAST(FLOOR(
      (len(lines) - len(list_distinct(lines))) * 1000000.0 / len(lines))
    AS BIGINT) ELSE 0 END AS dup_line_ppm,
  CAST(top_c AS BIGINT) AS top_bigram_count,
  CASE WHEN len(toks) > 0 THEN CAST(FLOOR(
      top_c * 2 * 1000000.0 / len(toks)) AS BIGINT) ELSE 0 END
    AS top_bigram_ppm
FROM top ORDER BY doc_id
"""


def gen_case(seed: int) -> list[tuple]:
    """(doc_id, text) rows of one seed."""
    rng = random.Random(seed)
    return [(i, gen_text(rng)) for i in range(30)]
