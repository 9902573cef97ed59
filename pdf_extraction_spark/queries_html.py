"""Gate queries for the HTML main-content operators
(``operators/html.py``).

The ``documents`` test table is plain text, so both engines first build
the SAME deterministic HTML page around each document's text (header,
nav with links, headings, paragraphs, a share-bar of anchors, a
doc_id-dependent aside/table, footer — one expression evaluated
identically by Spark SQL and DuckDB), then the Spark side runs the real
operator while the oracle replays the documented rewrite chain in
DuckDB's list/lambda dialect.  Entity escapes (``&amp; &lt; &gt;``) are
planted in one paragraph so the decode order is gate-checked too.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.html import (ANCHOR_PATTERN, CLOSE_PATTERN,
                             DROP_PATTERNS, ENTITIES, IMG_PATTERN,
                             IMG_QUOTE_NORM, MAX_LINK_PCT,
                             MIN_TEXT_LEN, NAV_TAGS, OPEN_PATTERN,
                             TAG_PATTERN, extract_main_content,
                             html_block_table, html_to_spans)

_S1, _S2 = "\x01", "\x02"
_WS_SQL = "[ \t\r\n\x0c]+"          # same class the operator collapses


def _html_expr(id_str: str) -> str:
    """Deterministic HTML page from (doc_id, text) — identical SQL for
    both engines except the string cast spelled by ``id_str``."""
    return f"""
  '<!DOCTYPE html><html><head><title>D' || {id_str} ||
  '</title><style>p{{margin:0}}</style><script>var x=1;</script></head><body>'
  || '<header><h1>' || substr(t, 1, 24) || '</h1></header>'
  || '<nav><ul><li><a href="/">Home</a></li><li><a href="/a">'
  || substr(t, 1, 12) || '</a></li></ul></nav>'
  || '<main><article>'
  || '<h2>' || substr(t, 25, 40) || '</h2>'
  || '<p>' || substr(t, 65, 300) || ' &amp; more &lt;stuff&gt;</p>'
  || '<p>' || substr(t, 365, 300) || '</p>'
  || '<div class="share"><a href="s">' || substr(t, 13, 10)
  || '</a> <a href="t">' || substr(t, 23, 8) || '</a></div>'
  || CASE WHEN doc_id % 3 = 0 THEN '<aside><p>' || substr(t, 5, 60)
       || '</p></aside>' ELSE '' END
  || CASE WHEN doc_id % 4 = 0 THEN '<table><tr><td>'
       || substr(t, 10, 30) || '</td><td>k</td></tr></table>'
       ELSE '' END
  || '</article></main>'
  || '<footer><p>(c) 2026 ' || substr(t, 1, 6)
  || ' <a href="/p">Privacy</a> <a href="/c">Cookies</a></p></footer>'
  || '</body></html>'
""".strip()


def _spark_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.expr("COALESCE(text, '')").alias("t")) \
        .select("doc_id",
                F.expr(_html_expr("CAST(doc_id AS STRING)"))
                 .alias("html"))


def q_html_main(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction: per-doc boilerplate-stripped text plus
    the block census (operators/html.py — zero shuffle, zero UDF)."""
    return extract_main_content(_spark_pages(spark, sf_dir)) \
        .orderBy("doc_id")


def q_html_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classified DOM-block table (tag, class, sizes) for every block
    of every synthesized page."""
    return html_block_table(_spark_pages(spark, sf_dir)) \
        .orderBy("doc_id", "block_idx")


def _sql_plain(expr: str) -> str:
    t = f"regexp_replace({expr}, '{TAG_PATTERN}', ' ', 'g')"
    for ent, repl in ENTITIES:
        t = f"replace({t}, '{ent}', '{repl.replace(chr(39), chr(39)*2)}')"
    return f"trim(regexp_replace({t}, '{_WS_SQL}', ' ', 'g'))"


_GATE_PAGES = ("SELECT doc_id, ({expr}) AS page FROM "
               "(SELECT doc_id, COALESCE(text, '') AS t FROM documents)")


def sql_blocks_cte(pages_sql: str | None = None) -> str:
    """CTE chain html → classified block list (mirrors the operator's
    documented rewrite order).  ``pages_sql`` must select
    ``(doc_id, page)``; defaults to the gate's synthetic page builder
    over ``documents`` — the differential fuzz harness passes its own
    raw-HTML corpus here."""
    if pages_sql is None:
        pages_sql = _GATE_PAGES.format(
            expr=_html_expr("CAST(doc_id AS VARCHAR)"))
    cleaned = "page"
    for pat in DROP_PATTERNS:
        cleaned = f"regexp_replace({cleaned}, '{pat}', '', 'g')"
    for pat, _repl in IMG_QUOTE_NORM:
        cleaned = (f"regexp_replace({cleaned}, "
                   f"'{pat.replace(chr(39), chr(39)*2)}', "
                   f"'\\1\"\\2\"', 'g')")
    cleaned = (f"regexp_replace({cleaned}, '{IMG_PATTERN}', "
               f"'{_S1}img{_S2}\\1{_S1}{_S2}', 'g')")
    cleaned = (f"regexp_replace({cleaned}, '{CLOSE_PATTERN}', "
               f"'{_S1}{_S2}', 'g')")
    # \\1 in the replacement is RE2's group ref (Spark spells it $1)
    cleaned = (f"regexp_replace({cleaned}, '{OPEN_PATTERN}', "
               f"'{_S1}\\1{_S2}', 'g')")
    nav_list = ", ".join(f"'{t}'" for t in NAV_TAGS)
    return f"""
pages AS ({pages_sql}),
segs AS (
  SELECT doc_id, string_split({cleaned}, '{_S1}') AS seg FROM pages),
b1 AS (
  SELECT doc_id, list_transform(seg, s -> struct_pack(
      tag := CASE WHEN len(string_split(s, '{_S2}')) = 2
                  THEN lower(string_split(s, '{_S2}')[1]) ELSE '' END,
      body := CASE WHEN len(string_split(s, '{_S2}')) = 2
                   THEN string_split(s, '{_S2}')[2] ELSE s END)) AS bl
  FROM segs),
b2 AS (
  SELECT doc_id, list_transform(bl, r -> struct_pack(
      tag := r.tag,
      text := {_sql_plain('r.body')},
      anchor := {_sql_plain(
          f"array_to_string(regexp_extract_all(r.body, "
          f"'{ANCHOR_PATTERN}', 2), ' ')")},
      n_tags := CAST(len(regexp_extract_all(r.body, '{TAG_PATTERN}', 0))
                     AS BIGINT))) AS bl
  FROM b1),
blocks AS (
  SELECT doc_id, list_transform(bl, r -> struct_pack(
      tag := r.tag, text := r.text,
      text_len := CAST(length(r.text) AS BIGINT),
      anchor_len := CAST(length(r.anchor) AS BIGINT),
      n_tags := r.n_tags,
      cls := CASE WHEN r.tag = 'img' THEN 'media'
                  WHEN r.tag IN ({nav_list}) THEN 'nav'
                  WHEN length(r.text) = 0 THEN 'empty'
                  WHEN length(r.text) < {MIN_TEXT_LEN} THEN 'short'
                  WHEN length(r.anchor) * 100
                       > length(r.text) * {MAX_LINK_PCT} THEN 'link'
                  ELSE 'content' END)) AS bl
  FROM b2)
""".strip()


def sql_html_main(pages_sql: str | None = None) -> str:
    return f"""
WITH {sql_blocks_cte(pages_sql)}
SELECT doc_id,
  COALESCE(array_to_string(list_transform(
      list_filter(bl, b -> b.cls = 'content'), b -> b.text), ' '), '')
    AS main_text,
  CAST(len(list_filter(bl, b -> b.text_len > 0)) AS BIGINT) AS n_blocks,
  CAST(len(list_filter(bl, b -> b.cls = 'content')) AS BIGINT)
    AS n_content,
  CAST(len(list_filter(bl, b -> b.cls = 'nav')) AS BIGINT) AS n_nav,
  CAST(len(list_filter(bl, b -> b.cls = 'short')) AS BIGINT) AS n_short,
  CAST(len(list_filter(bl, b -> b.cls = 'link')) AS BIGINT) AS n_link,
  CAST(len(list_filter(bl, b -> b.cls = 'media')) AS BIGINT) AS n_media,
  CAST(COALESCE(list_sum(list_transform(
      list_filter(bl, b -> b.cls = 'content'), b -> b.text_len)), 0)
    AS BIGINT) AS main_chars,
  CAST(COALESCE(list_sum(list_transform(bl, b -> b.anchor_len)), 0)
    AS BIGINT) AS anchor_chars
FROM blocks
ORDER BY doc_id
"""


def sql_html_blocks(pages_sql: str | None = None) -> str:
    return f"""
WITH {sql_blocks_cte(pages_sql)},
ex AS (
  SELECT doc_id, unnest(list_transform(bl, (b, i) -> struct_pack(
      block_idx := CAST(i - 1 AS BIGINT), tag := b.tag, cls := b.cls,
      text_len := b.text_len, n_tags := b.n_tags, text := b.text)))
    AS u
  FROM blocks)
SELECT doc_id, u.block_idx AS block_idx, u.tag AS tag, u.cls AS cls,
       u.text_len AS text_len, u.n_tags AS n_tags, u.text AS text
FROM ex
ORDER BY doc_id, block_idx
"""


# web-curation gate: thresholds sized so every verdict tier fires on the
# synthetic pages; every 10th doc re-injected under doc_id+1000000 —
# its page differs in chrome (the %3 aside flips) but not in main text,
# so the dedup tier proves chrome-insensitive content hashing.
WCUR_MIN_TOK, WCUR_MAX_TOK, WCUR_MIN_STOP_PPM = 15, 90, 20_000

_WCUR_SOURCE = ("SELECT doc_id, text FROM documents UNION ALL "
                "SELECT doc_id + 1000000, text FROM documents "
                "WHERE doc_id % 10 = 0")


def q_html_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-ingest composition: HTML strip -> quality/lang filters ->
    chrome-insensitive exact dedup (operators/curation.py
    curate_web_corpus — one shuffle total)."""
    from .operators.curation import curate_web_corpus

    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    dups = d.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    pages = d.unionByName(dups).select(
        "doc_id", F.expr("COALESCE(text, '')").alias("t")) \
        .select("doc_id",
                F.expr(_html_expr("CAST(doc_id AS STRING)")).alias("html"))
    return curate_web_corpus(
        pages, min_tokens=WCUR_MIN_TOK, max_tokens=WCUR_MAX_TOK,
        min_stop_ppm=WCUR_MIN_STOP_PPM)


def _sql_html_curation() -> str:
    from .operators.textstats import EN_FUNCTION_WORDS, EN_STOPWORDS

    stop = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    fn = ", ".join(f"'{w}'" for w in EN_FUNCTION_WORDS)
    pages_sql = _GATE_PAGES.format(
        expr=_html_expr("CAST(doc_id AS VARCHAR)")).replace(
        "FROM documents", f"FROM ({_WCUR_SOURCE})")
    return rf"""
WITH {sql_blocks_cte(pages_sql)},
m AS (
  SELECT doc_id,
    COALESCE(array_to_string(list_transform(
        list_filter(bl, b -> b.cls = 'content'), b -> b.text), ' '), '')
      AS main_text,
    CAST(len(list_filter(bl, b -> b.cls = 'content')) AS BIGINT)
      AS n_content,
    CAST(COALESCE(list_sum(list_transform(
        list_filter(bl, b -> b.cls = 'content'), b -> b.text_len)), 0)
      AS BIGINT) AS main_chars,
    CAST(COALESCE(list_sum(list_transform(bl, b -> b.anchor_len)), 0)
      AS BIGINT) AS anchor_chars
  FROM blocks),
sig AS (
  SELECT doc_id, n_content, main_chars, anchor_chars,
    md5(main_text) AS content_hash,
    string_split_regex(trim(lower(main_text)), '\s+') AS toks
  FROM m),
q AS (
  SELECT doc_id, n_content, main_chars, anchor_chars, content_hash,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(floor(len(list_filter(toks, x -> x IN ({stop})))
               * 1000000.0 / len(toks)) AS BIGINT) AS stop_ratio_ppm,
    CASE WHEN len(list_filter(toks, x -> x IN ({fn}))) * 100 >= len(toks)
         THEN 'en' ELSE 'unknown' END AS pred_lang
  FROM sig),
flt AS (
  SELECT *,
    (n_content > 0
     AND n_tokens BETWEEN {WCUR_MIN_TOK} AND {WCUR_MAX_TOK}
     AND pred_lang = 'en'
     AND stop_ratio_ppm >= {WCUR_MIN_STOP_PPM}) AS passes
  FROM q),
k AS (
  SELECT *, min(CASE WHEN passes THEN doc_id END)
              OVER (PARTITION BY content_hash) AS keeper_id
  FROM flt)
SELECT doc_id, n_content, main_chars, anchor_chars, n_tokens,
  stop_ratio_ppm, pred_lang, content_hash, keeper_id,
  CASE WHEN n_content = 0 THEN 'no_content'
       WHEN n_tokens < {WCUR_MIN_TOK} THEN 'too_short'
       WHEN n_tokens > {WCUR_MAX_TOK} THEN 'too_long'
       WHEN pred_lang <> 'en' THEN 'language'
       WHEN stop_ratio_ppm < {WCUR_MIN_STOP_PPM} THEN 'low_quality'
       WHEN doc_id <> keeper_id THEN 'duplicate'
       ELSE 'kept' END AS verdict
FROM k
"""


# --- html -> contract spans bridge gate -------------------------------

def _media_page_expr(id_str: str) -> str:
    """Deterministic page interleaving text paragraphs with <img>
    elements in all three quote forms — the bridge gate's input."""
    return f"""
  '<html><body><h2>' || substr(t, 1, 40) || '</h2>'
  || '<img src="img://' || {id_str} || '/0" alt="a">'
  || '<p>' || substr(t, 41, 200) || '</p>'
  || '<p><img src=''img://' || {id_str} || '/1''></p>'
  || '<p>' || substr(t, 241, 200) || '</p>'
  || CASE WHEN doc_id % 3 = 0
       THEN '<img src=img://' || {id_str} || '/2 width=4>' ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN '<img alt="no-src">' ELSE '' END
  || '<footer><img src="chrome.png"> (c) site</footer>'
  || '</body></html>'
""".strip()


def q_html_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> contract span arrays: content blocks as text spans,
    <img src> as interleaved media spans, gapless document-order
    offsets (operators/html.py html_to_spans — the bridge that runs
    the fused extraction pipeline on crawl pages)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = d.select(
        "doc_id", F.expr("COALESCE(text, '')").alias("t")) \
        .select("doc_id",
                F.expr(_media_page_expr("CAST(doc_id AS STRING)"))
                 .alias("html"))
    spans = html_to_spans(pages)
    # the bridge emits the contract's doc_id:string; compare numerically
    e = spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode("spans").alias("idx", "s"))
    return e.select(
        "doc_id",
        F.col("s.offset").cast("long").alias("offset"),
        F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref")) \
        .orderBy("doc_id", "offset")


def sql_html_spans() -> str:
    pages_sql = _GATE_PAGES.format(
        expr=_media_page_expr("CAST(doc_id AS VARCHAR)"))
    return f"""
WITH {sql_blocks_cte(pages_sql)},
keep AS (
  SELECT doc_id,
         list_filter(bl, b -> b.cls IN ('content', 'media')) AS kb
  FROM blocks),
sp AS (
  SELECT doc_id, unnest(list_transform(kb, (b, i) -> struct_pack(
      off := CAST(i - 1 AS BIGINT),
      kind := CASE WHEN b.cls = 'media' THEN 'media' ELSE 'text' END,
      text := CASE WHEN b.cls = 'media' THEN '' ELSE b.text END,
      media_ref := CASE WHEN b.cls = 'media' THEN b.text
                        ELSE '' END))) AS u
  FROM keep)
SELECT doc_id, u.off AS "offset", u.kind AS kind, u.text AS text,
       u.media_ref AS media_ref
FROM sp
ORDER BY doc_id, u.off
"""


# ---------------------------------------------------------- tables


def _tables_html_expr() -> str:
    """Deterministic page with <table> markup: a th header, entity +
    inline-tag + empty + colspan-ragged cells, a doc-conditional
    second table, and two traps the drop chain must eat first (a
    table quoted inside <script>, a commented-out table)."""
    return """
  '<html><head><title>T</title><script>var x = '
  || '"<table><tr><td>ghost</td></tr></table>";</script></head><body>'
  || '<!-- <table><tr><td>c</td></tr></table> -->'
  || '<h1>' || substr(t, 1, 16) || '</h1>'
  || '<table class="data"><thead><tr><th>Item</th><th>Qty</th>'
  || '<th>Cost</th></tr></thead><tbody>'
  || '<tr><td>' || substr(t, 17, 18)
  || '</td><td><b>2</b></td><td>$150</td></tr>'
  || '<tr><td>beam &amp; joist</td><td></td><td>$1,200</td></tr>'
  || '<tr><td>' || substr(t, 35, 12)
  || '</td><td colspan="2">subtotal</td></tr>'
  || '</tbody></table>'
  || '<p>' || substr(t, 47, 60) || '</p>'
  || CASE WHEN doc_id % 2 = 0 THEN '<table><tr><td>A</td><td>'
       || substr(t, 59, 8) || '</td></tr><tr><td>C</td></tr></table>'
       ELSE '' END
  || '</body></html>'
""".strip()


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML <table> extraction (operators/html.py html_table_rows):
    markup tables become ' | '-joined TABLE_ROW_MARKER rows, the
    crawl-side twin of the PDF ruled/text table strategies, feeding
    the same S5/C6/T6 chain.  Zero shuffle; two narrow posexplodes."""
    from .operators.html import html_table_rows

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = d.select(
        "doc_id", F.expr("COALESCE(text, '')").alias("t")) \
        .select("doc_id", F.expr(_tables_html_expr()).alias("html"))
    return html_table_rows(pages).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "tbl_idx", "row_idx", "n_rows", "n_cells", "table_text") \
        .orderBy("doc_id", "tbl_idx", "row_idx")


def _sql_html_tables() -> str:
    # closed form: the corpus text carries no tags/entities/sentinels
    # (checked at generation), so per-cell normalization reduces to
    # the whitespace collapse + trim
    def norm(expr: str) -> str:
        return f"trim(regexp_replace({expr}, '{_WS_SQL}', ' ', 'g'))"

    return f"""
WITH b AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
s AS (SELECT doc_id,
        {norm("substr(t, 17, 18)")} AS s1,
        {norm("substr(t, 35, 12)")} AS s3,
        {norm("substr(t, 59, 8)")} AS s4
      FROM b),
u AS (
  SELECT doc_id, 0 AS tbl, 0 AS rw, 4 AS nr, 3 AS nc,
         'Item | Qty | Cost' AS txt FROM s
  UNION ALL SELECT doc_id, 0, 1, 4, 3, s1 || ' | 2 | $150' FROM s
  UNION ALL SELECT doc_id, 0, 2, 4, 3,
         'beam & joist |  | $1,200' FROM s
  UNION ALL SELECT doc_id, 0, 3, 4, 2, s3 || ' | subtotal' FROM s
  UNION ALL SELECT doc_id, 1, 0, 2, 2, 'A | ' || s4 FROM s
    WHERE doc_id % 2 = 0
  UNION ALL SELECT doc_id, 1, 1, 2, 1, 'C' FROM s
    WHERE doc_id % 2 = 0)
SELECT doc_id, CAST(tbl AS INTEGER) AS tbl_idx,
       CAST(rw AS INTEGER) AS row_idx, CAST(nr AS INTEGER) AS n_rows,
       CAST(nc AS INTEGER) AS n_cells, txt AS table_text
FROM u ORDER BY doc_id, tbl_idx, row_idx
"""


QUERIES_HTML: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "html_main": q_html_main,
    "html_blocks": q_html_blocks,
    "html_curation": q_html_curation,
    "html_spans": q_html_spans,
    "html_tables": q_html_tables,
}

ORACLES_HTML: dict[str, str] = {
    "html_main": sql_html_main(),
    "html_blocks": sql_html_blocks(),
    "html_curation": _sql_html_curation(),
    "html_spans": sql_html_spans(),
    "html_tables": _sql_html_tables(),
}
