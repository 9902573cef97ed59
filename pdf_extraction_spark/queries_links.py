"""Gate queries for the link-extraction / URL-normalization operators
(``operators/links.py``).

Same construction as queries_html.py: both engines synthesize the SAME
deterministic link-rich page (or URL corpus) from the ``documents``
table, the Spark side runs the real operator, and the oracle replays
the documented regex chain in DuckDB — patterns and replacement rules
are imported from the operator module so the two sides cannot drift.

The link page deliberately plants every contract case: uppercase
scheme/host with default port, single-quoted and unquoted hrefs,
protocol-relative and relative URLs, ``&amp;`` entities inside hrefs,
a ``data-href`` trap that must NOT match, mailto, an explicit
non-default port, inner markup in anchor text, and a fragment.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.html import (DROP_PATTERNS, ENTITIES, TAG_PATTERN,
                             WS_PATTERN)
from .operators.links import (LINK_PATTERN, META_QUOTE_NORM, QUOTE_NORM,
                              head_meta, host_stats, link_table,
                              sql_url_parts, url_parts)

_URL_COLS = ("scheme", "host", "port", "path", "query", "fragment",
             "url_norm")


def _q(pat: str) -> str:
    """Escape a regex pattern into a SQL string literal."""
    return pat.replace("'", "''")


def _sql_entities(expr: str) -> str:
    t = expr
    for ent, repl in ENTITIES:
        t = f"replace({t}, '{ent}', '{repl.replace(chr(39), chr(39)*2)}')"
    return t


def _sql_text(expr: str) -> str:
    """Tag-strip + entity-decode + whitespace-collapse (anchor text)."""
    t = f"regexp_replace({expr}, '{TAG_PATTERN}', ' ', 'g')"
    return (f"trim(regexp_replace({_sql_entities(t)}, "
            f"'{_q(WS_PATTERN)}', ' ', 'g'))")


# --- the synthetic link page (shared text, engine-specific id cast) ---

def _link_page_expr(id_str: str) -> str:
    return f"""
  '<html><head><title>L' || {id_str} || '</title></head><body>'
  || '<p>See <a href="HTTP://WWW.Example' || CAST(doc_id % 5 AS {{it}})
  || '.COM:80/Dir/Page?id=' || {id_str} || '#top">'
  || substr(t, 1, 10) || '</a></p>'
  || '<p><a class="pay" href=''https://user:pw@Secure'
  || CAST(doc_id % 3 AS {{it}})
  || '.org:443/a%20b?x=1&amp;y=2''>pay <b>now</b></a></p>'
  || '<a href=/rel/' || {id_str} || '>rel ' || substr(t, 11, 6) || '</a>'
  || '<a href="//cdn.shared.net/lib.js">cdn</a>'
  || '<a href="https://site' || CAST(doc_id % 7 AS {{it}})
  || '.example.com/home">home</a>'
  || CASE WHEN doc_id % 4 = 0
       THEN '<a href="mailto:ops@example.net">mail</a>' ELSE '' END
  || CASE WHEN doc_id % 7 = 0
       THEN '<a data-href="trap.html">not a link</a>' ELSE '' END
  || CASE WHEN doc_id % 6 = 0
       THEN '<!-- <a href="http://ghost.example/old">dead promo</a> -->'
            || '<script>var a = ''<a href="http://js.example/x">j</a>'';'
            || '</script>' ELSE '' END
  || '<a href="page' || CAST(doc_id % 11 AS {{it}})
  || '.html#frag">next</a>'
  || '<a href="ftp://files.example.com:2121/pub/f.txt">ftp</a>'
  || '</body></html>'
""".strip()


def _pages_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expr = _link_page_expr("CAST(doc_id AS STRING)").format(it="STRING")
    return d.select(
        "doc_id", F.expr("COALESCE(text, '')").alias("t")) \
        .select("doc_id", F.expr(expr).alias("html"),
                F.expr("'site' || CAST(doc_id % 7 AS STRING)"
                       " || '.example.com'").alias("page_host"))


_PAGES_SQL = """
SELECT doc_id, ({expr}) AS page,
       'site' || CAST(doc_id % 7 AS VARCHAR)
         || '.example.com' AS page_host
FROM (SELECT doc_id, COALESCE(text, '') AS t FROM documents)
""".strip()


def _sql_links_cte(pages_sql: str | None = None) -> str:
    """CTE chain page → exploded link rows (href, anchor_text) — the
    oracle twin of operators/links.links_col + link_table.
    ``pages_sql`` must select ``(doc_id, page, page_host)``; defaults to
    the gate's synthetic link-page builder over ``documents`` — the
    differential fuzz harness passes its own raw-HTML corpus here."""
    pages = pages_sql if pages_sql is not None else _PAGES_SQL.format(
        expr=_link_page_expr("CAST(doc_id AS VARCHAR)")
        .format(it="VARCHAR"))
    qn = "page"
    for pat in DROP_PATTERNS:
        qn = f"regexp_replace({qn}, '{_q(pat)}', '', 'g')"
    for pat, _repl in QUOTE_NORM:
        # the Spark side's $1"$2" is RE2's \1"\2"
        qn = (f"regexp_replace({qn}, '{_q(pat)}', "
              f"'\\1\"\\2\"', 'g')")
    lp = _q(LINK_PATTERN)
    return f"""
pages AS ({pages}),
la AS (
  SELECT doc_id, page_host,
         regexp_extract_all({qn}, '{lp}', 0) AS anchors
  FROM pages),
ex AS (
  SELECT doc_id, page_host,
         unnest(list_transform(anchors, (a, i) -> struct_pack(
             idx := CAST(i - 1 AS BIGINT), a := a))) AS u
  FROM la),
links AS (
  SELECT doc_id, page_host, u.idx AS link_idx,
    trim({_sql_entities(f"regexp_extract(u.a, '{lp}', 1)")}) AS href,
    {_sql_text(f"regexp_extract(u.a, '{lp}', 2)")} AS anchor_text
  FROM ex)
""".strip()


# --- gates ------------------------------------------------------------

def q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor extraction + URL split/normalization per link, in
    document order (operators/links.py link_table — zero shuffle)."""
    return link_table(_pages_spark(spark, sf_dir)) \
        .orderBy("doc_id", "link_idx")


def sql_html_links(pages_sql: str | None = None) -> str:
    p = sql_url_parts("href")
    cols = ",\n  ".join(f"{p[n]} AS {n}" for n in _URL_COLS)
    return f"""
WITH {_sql_links_cte(pages_sql)}
SELECT doc_id, link_idx, href, anchor_text,
  {cols}
FROM links
ORDER BY doc_id, link_idx
"""


_URL_CASE = """
CASE doc_id % 10
  WHEN 0 THEN 'HTTP://WWW.EXAMPLE.COM:80/A/B?q=' || {id} || '#f'
  WHEN 1 THEN 'https://user@Host.ORG:8443/x'
  WHEN 2 THEN '//cdn.Example.net/lib.js'
  WHEN 3 THEN '/relative/path?a=1&b=2'
  WHEN 4 THEN 'mailto:ops@example.net'
  WHEN 5 THEN 'page.html#sec'
  WHEN 6 THEN 'ftp://files.example.com:2121/pub'
  WHEN 7 THEN ''
  WHEN 8 THEN 'https://[2001:db8::1]:443/v6?x=' || {id}
  ELSE 'HTTPS://A.B.Example.COM/' || {id} || '?z=9#frag'
END
""".strip()


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-3986 syntax split + normalization over an adversarial URL
    corpus (operators/links.py url_parts — pure regex chain)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    u = F.expr(_URL_CASE.format(id="CAST(doc_id AS STRING)"))
    parts = url_parts(u)
    return d.select("doc_id", u.alias("url"),
                    *[parts[n].alias(n) for n in _URL_COLS]) \
        .orderBy("doc_id")


def sql_url_normalize() -> str:
    p = sql_url_parts("url")
    cols = ",\n  ".join(f"{p[n]} AS {n}" for n in _URL_COLS)
    return f"""
WITH u AS (
  SELECT doc_id, {_URL_CASE.format(id="CAST(doc_id AS VARCHAR)")} AS url
  FROM documents)
SELECT doc_id, url,
  {cols}
FROM u
ORDER BY doc_id
"""


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host link rollup (operators/links.py host_stats — the one
    shuffle in the family, hash exchange on host with map-side
    partials)."""
    links = link_table(_pages_spark(spark, sf_dir),
                       carry=("page_host",))
    return host_stats(links).orderBy("host")


def sql_host_stats() -> str:
    p = sql_url_parts("href")
    return f"""
WITH {_sql_links_cte()},
parsed AS (
  SELECT doc_id, page_host, {p['host']} AS host,
         {p['scheme']} AS scheme
  FROM links)
SELECT host,
  CAST(count(*) AS BIGINT) AS n_links,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages,
  CAST(count(DISTINCT page_host) AS BIGINT) AS n_linking_hosts,
  CAST(sum(CASE WHEN (host = '' AND scheme = '')
                  OR (host <> '' AND host = page_host)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_internal,
  CAST(sum(CASE WHEN scheme = 'https' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_https
FROM parsed
GROUP BY host
ORDER BY host
"""


def _head_page_expr(id_str: str) -> str:
    # attribute order flips by doc_id % 2 (content-first vs name-first)
    # so the gate proves the two-step meta extraction; keywords absent
    # on doc_id % 3 = 0 (empty-string result, both engines).
    return f"""
  '<html><head><title> H' || {id_str}
  || ' &amp; <b>co</b> </title>'
  || CASE WHEN doc_id % 2 = 0
       THEN '<meta name="description" content="' || substr(t, 1, 40)
            || ' &amp; more">'
       ELSE '<meta content=''' || substr(t, 1, 40)
            || ' rev'' name=description>' END
  || CASE WHEN doc_id % 3 = 0 THEN ''
       ELSE '<meta name="keywords" content="k' || {id_str}
            || ',web,&lt;x&gt;">' END
  || '<meta name="viewport" content="width=device-width">'
  || '</head><body><p>' || substr(t, 1, 60) || '</p></body></html>'
""".strip()


def q_html_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<head> metadata extraction: title + named meta tags in either
    attribute order (operators/links.py head_meta)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expr = _head_page_expr("CAST(doc_id AS STRING)")
    pages = d.select(
        "doc_id", F.expr("COALESCE(text, '')").alias("t")) \
        .select("doc_id", F.expr(expr).alias("html"))
    return head_meta(pages).orderBy("doc_id")


def sql_html_head(pages_sql: str | None = None) -> str:
    from .operators.links import (META_CONTENT_PATTERN,
                                  META_TAG_PATTERN, TITLE_PATTERN)

    def meta(name: str) -> str:
        tag = (f"regexp_extract(page, "
               f"'{_q(META_TAG_PATTERN.format(name=name))}', 0)")
        return ("trim(" + _sql_entities(
            f"regexp_extract({tag}, '{_q(META_CONTENT_PATTERN)}', 1)")
            + ")")

    title = _sql_text(
        f"regexp_extract(page, '{_q(TITLE_PATTERN)}', 1)")
    raw = "raw"
    for pat, _repl in META_QUOTE_NORM:
        raw = (f"regexp_replace({raw}, '{_q(pat)}', "
               f"'\\1\"\\2\"', 'g')")
    if pages_sql is None:
        pages_sql = (
            "SELECT doc_id, ("
            + _head_page_expr("CAST(doc_id AS VARCHAR)")
            + ") AS raw FROM (SELECT doc_id, COALESCE(text, '') AS t"
            + " FROM documents)")
    return f"""
WITH raw_pages AS ({pages_sql}),
pages AS (SELECT doc_id, {raw} AS page FROM raw_pages)
SELECT doc_id,
  {title} AS title,
  {meta("description")} AS meta_description,
  {meta("keywords")} AS meta_keywords
FROM pages
ORDER BY doc_id
"""


# deny entries exercising both label counts + a lookalike trap
_DENY_HOSTS = ("example.com", "files.example.com", "host.org")


def q_host_denylist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain deny-list filter over the adversarial URL corpus: exact
    and subdomain suffix matches dropped, lookalikes kept
    (operators/curation.py filter_hosts — stacked broadcast anti-joins,
    corpus never shuffled)."""
    from .operators.curation import filter_hosts

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    u = F.expr(_URL_CASE.format(id="CAST(doc_id AS STRING)"))
    docs = d.select("doc_id", u.alias("url"))
    return filter_hosts(docs, list(_DENY_HOSTS)).orderBy("doc_id")


def sql_host_denylist() -> str:
    p = sql_url_parts("url")
    # suffix semantics: host == entry OR host ends with '.' || entry
    cond = " AND ".join(
        f"NOT (h = '{d}' OR h LIKE '%.{d}')" for d in _DENY_HOSTS)
    return f"""
WITH u AS (
  SELECT doc_id, {_URL_CASE.format(id="CAST(doc_id AS VARCHAR)")} AS url
  FROM documents),
h AS (SELECT doc_id, url, {p['host']} AS h FROM u)
SELECT doc_id, url FROM h
WHERE {cond}
ORDER BY doc_id
"""


QUERIES_LINKS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "html_links": q_html_links,
    "url_normalize": q_url_normalize,
    "host_stats": q_host_stats,
    "html_head": q_html_head,
    "host_denylist": q_host_denylist,
}

ORACLES_LINKS: dict[str, str] = {
    "html_links": sql_html_links(),
    "url_normalize": sql_url_normalize(),
    "host_stats": sql_host_stats(),
    "html_head": sql_html_head(),
    "host_denylist": sql_host_denylist(),
}
