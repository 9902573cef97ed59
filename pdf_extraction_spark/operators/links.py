"""Link extraction and URL normalization for web-crawl curation.

A 100 TB crawl corpus is curated as much by its link structure as by
its text: per-host rollups drive domain allow/deny lists (the
RefinedWeb/C4 URL-filtering stage), outlink density feeds the spam
heuristics the block classifier (operators/html.py) applies per block,
and the (page, host) edge list is the input to any site-level dedup or
PageRank-style quality prior.  The reference corpus is PDF-only so it
has no counterpart operator; this module is part of the web-document
extension the north rule's "HTML boilerplate strip" tier implies
(BASELINE.json north_rule; see operators/html.py).

Everything here is pure ``regexp_*`` / string column expressions —
JVM whole-stage codegen, zero UDF, zero shuffle except the explicit
per-host aggregation in ``host_stats`` (one exchange on ``host``; hot
hosts are exactly the AQE skew-join/salting case documented in
BENCH/BASELINE.md — at crawl scale a handful of hosts hold 1e9+ pages,
so the rollup keeps partial aggregation map-side and lets AQE split
the straggler partitions).

Like operators/html.py and operators/pii.py, every pattern is
restricted to the Java-regex / RE2 / python ``re`` common subset
((?is), non-greedy, non-capturing groups; no lookaround, no
backreference) so the DuckDB oracle replays the chain bit-for-bit.

Documented contract limits (consequences of regex tokenization + the
tri-engine constraint, NOT bugs to fix silently):

* href values are read from ``<a ... href="...">`` after a
  quote-normalization prepass rewrites single-quoted and unquoted
  values to double quotes; a value containing a literal ``"`` inside
  single quotes is truncated at it.
* an attribute merely ending in ``href`` (``data-href``) never
  matches — the pattern requires whitespace before ``href``.
* URL parsing is RFC-3986 *syntax-based* normalization only:
  lowercase scheme/host, userinfo stripped, default ports (http:80,
  https:443) dropped, fragment dropped, empty authority path becomes
  ``/``.  No percent-decoding, no query-param sorting, no
  public-suffix (eTLD+1) reduction — those need tables/IDNA logic that
  has no common regex-engine subset.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .html import DROP_PATTERNS, ENTITIES, attr_quote_patterns

# --- link extraction -------------------------------------------------

# quote-normalization prepass, applied in order (shared grammar:
# operators/html.py attr_quote_patterns)
QUOTE_NORM: list[tuple[str, str]] = attr_quote_patterns("a", "href")

# one full <a href="...">...</a> element; group 1 = href, group 2 = body
LINK_PATTERN = r'(?is)<a(?:\s[^>]*?)?\shref\s*=\s*"([^"]*)"[^>]*>(.*?)</a>'

# --- URL grammar (shared by the Spark chain and the SQL oracle) ------

SCHEME_PAT = "^([A-Za-z][A-Za-z0-9+.-]*):"
AUTHORITY_PREFIX = "^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//"
AUTHORITY_PAT = AUTHORITY_PREFIX + "([^/?#]*)"
USERINFO_PAT = "^[^@]*@"
PORT_PAT = ":([0-9]+)$"
PORT_STRIP_PAT = ":[0-9]*$"
FRAGMENT_STRIP = "#.*$"
QUERY_STRIP = r"\?.*$"
PATH_PREFIX_STRIP = "^(?:[A-Za-z][A-Za-z0-9+.-]*:)?(//[^/?#]*)?"
DEFAULT_PORTS = (("http", "80"), ("https", "443"))


def _decode_entities(c: Column) -> Column:
    for ent, repl in ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(repl))
    return c


def links_col(html: Column) -> Column:
    """``array<struct<href,text>>`` of anchor links in document order.
    href is entity-decoded and trimmed; text is the anchor's visible
    text (inner tags stripped, entities decoded, whitespace collapsed).
    Comments, ``<script>``/``<style>`` bodies and the ``<head>`` are
    dropped first (the same prepass block segmentation runs) — an
    anchor inside a comment or a script string literal is not a link
    and must not inflate the host rollup."""
    from .html import TAG_PATTERN, WS_PATTERN

    cleaned = F.coalesce(html, F.lit(""))
    for pat in DROP_PATTERNS:
        cleaned = F.regexp_replace(cleaned, F.lit(pat), F.lit(""))
    for pat, repl in QUOTE_NORM:
        cleaned = F.regexp_replace(cleaned, F.lit(pat), F.lit(repl))
    anchors = F.regexp_extract_all(cleaned, F.lit(LINK_PATTERN), 0)

    def one(a: Column) -> Column:
        href = F.trim(_decode_entities(
            F.regexp_extract(a, LINK_PATTERN, 1)))
        body = F.regexp_extract(a, LINK_PATTERN, 2)
        text = F.trim(F.regexp_replace(
            _decode_entities(
                F.regexp_replace(body, F.lit(TAG_PATTERN), F.lit(" "))),
            F.lit(WS_PATTERN), F.lit(" ")))
        return F.struct(href.alias("href"), text.alias("text"))

    return F.transform(anchors, one)


def link_table(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Exploded link list (doc_id, link_idx, href, anchor_text) plus the
    parsed/normalized URL parts of every href.  Narrow posexplode — no
    shuffle; at crawl scale this runs in the scan stage and the edge
    list streams straight into the sink or the host rollup.  ``carry``
    names page-level columns to pass through to every link row (e.g.
    the page's own host for internal/external classification) — carried
    in the same projection, NOT joined back, so the plan stays a single
    narrow pass."""
    e = docs.select(F.col("doc_id"), *[F.col(c) for c in carry],
                    F.posexplode(links_col(F.col("html")))
                     .alias("link_idx", "l"))
    parts = url_parts(F.col("l.href"))
    return e.select(
        "doc_id", *carry,
        F.col("link_idx").cast("long").alias("link_idx"),
        F.col("l.href").alias("href"),
        F.col("l.text").alias("anchor_text"),
        *[parts[n].alias(n)
          for n in ("scheme", "host", "port", "path", "query",
                    "fragment", "url_norm")])


# --- URL parsing / normalization -------------------------------------

def url_parts(u: Column) -> dict[str, Column]:
    """RFC-3986 syntax split + normalized form of a (possibly relative)
    URL string.  Pure regex chain — see the module docstring for the
    normalization contract and its documented limits."""
    u = F.coalesce(u, F.lit(""))
    scheme = F.lower(F.regexp_extract(u, SCHEME_PAT, 1))
    has_auth = u.rlike(AUTHORITY_PREFIX)
    authority = F.regexp_extract(u, AUTHORITY_PAT, 1)
    hostport = F.regexp_replace(authority, F.lit(USERINFO_PAT),
                                F.lit(""))
    port = F.regexp_extract(hostport, PORT_PAT, 1)
    host = F.lower(F.regexp_replace(hostport, F.lit(PORT_STRIP_PAT),
                                    F.lit("")))
    pre = F.regexp_replace(u, F.lit(FRAGMENT_STRIP), F.lit(""))
    pq = F.regexp_replace(pre, F.lit(QUERY_STRIP), F.lit(""))
    path = F.regexp_replace(pq, F.lit(PATH_PREFIX_STRIP), F.lit(""))
    query = F.regexp_extract(pre, r"\?(.*)$", 1)
    fragment = F.regexp_extract(u, "#(.*)$", 1)

    default_port = F.lit(False)
    for sch, prt in DEFAULT_PORTS:
        default_port = default_port | ((scheme == sch) & (port == prt))
    portpart = F.when((port == "") | default_port, F.lit("")) \
        .otherwise(F.concat(F.lit(":"), port))
    npath = F.when(has_auth & (path == ""), F.lit("/")).otherwise(path)
    norm = F.concat(
        F.when(scheme == "", F.lit(""))
         .otherwise(F.concat(scheme, F.lit(":"))),
        F.when(has_auth, F.concat(F.lit("//"), host, portpart))
         .otherwise(F.lit("")),
        npath,
        F.when(query == "", F.lit(""))
         .otherwise(F.concat(F.lit("?"), query)))
    return {"scheme": scheme, "host": host, "port": port, "path": path,
            "query": query, "fragment": fragment, "url_norm": norm}


def sql_url_parts(u: str) -> dict[str, str]:
    """The SAME chain as :func:`url_parts`, spelled in DuckDB SQL from
    the shared pattern constants — the oracle side of the gate."""
    scheme = f"lower(regexp_extract({u}, '{SCHEME_PAT}', 1))"
    has_auth = f"regexp_matches({u}, '{AUTHORITY_PREFIX}')"
    authority = f"regexp_extract({u}, '{AUTHORITY_PAT}', 1)"
    hostport = f"regexp_replace({authority}, '{USERINFO_PAT}', '')"
    port = f"regexp_extract({hostport}, '{PORT_PAT}', 1)"
    host = (f"lower(regexp_replace({hostport}, "
            f"'{PORT_STRIP_PAT}', ''))")
    pre = f"regexp_replace({u}, '{FRAGMENT_STRIP}', '')"
    pq = f"regexp_replace({pre}, '{QUERY_STRIP}', '')"
    path = f"regexp_replace({pq}, '{PATH_PREFIX_STRIP}', '')"
    query = f"regexp_extract({pre}, '\\?(.*)$', 1)"
    fragment = f"regexp_extract({u}, '#(.*)$', 1)"
    default_port = " OR ".join(
        f"({scheme} = '{sch}' AND {port} = '{prt}')"
        for sch, prt in DEFAULT_PORTS)
    portpart = (f"CASE WHEN {port} = '' OR {default_port} THEN '' "
                f"ELSE ':' || {port} END")
    npath = (f"CASE WHEN {has_auth} AND {path} = '' THEN '/' "
             f"ELSE {path} END")
    norm = (f"(CASE WHEN {scheme} = '' THEN '' "
            f"ELSE {scheme} || ':' END) || "
            f"(CASE WHEN {has_auth} "
            f"THEN '//' || {host} || {portpart} ELSE '' END) || "
            f"{npath} || "
            f"(CASE WHEN {query} = '' THEN '' "
            f"ELSE '?' || {query} END)")
    return {"scheme": scheme, "host": host, "port": port, "path": path,
            "query": query, "fragment": fragment, "url_norm": norm}


# --- per-host rollup --------------------------------------------------

def host_stats(links: DataFrame) -> DataFrame:
    """Per-host link rollup over an exploded link table that carries the
    linking page's own host: inlink count, distinct linking pages and
    hosts, internal-link count (self-references and relative links).

    Shuffle shape (plan-asserted, tests/test_plan_shapes.py): the two
    exact count-distincts plan as Spark's standard Expand + two hash
    exchanges on host — exact, and what the DuckDB gate compares.  The
    host key is Zipf-skewed; AQE's skew handling (enabled session-wide,
    session.py) splits the straggler post-shuffle partitions.

    Internal = a relative link (no host AND no scheme) or an absolute
    link to the page's own host; scheme-only pseudo-links (mailto:,
    tel:, javascript:) have an empty host but are NOT internal
    navigation — they land in the '' host bucket as external."""
    for col in ("host", "scheme", "page_host", "doc_id"):
        if col not in links.columns:
            raise ValueError(
                f"host_stats needs column {col!r}; build the input "
                "with link_table(docs, carry=('page_host',)) so the "
                "page's own host rides along")
    internal = ((F.col("host") == "") & (F.col("scheme") == "")) | \
        ((F.col("host") != "") &
         (F.col("host") == F.col("page_host")))
    return links.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_pages"),
        F.countDistinct("page_host").alias("n_linking_hosts"),
        F.sum(F.when(internal, 1).otherwise(0)).cast("long")
         .alias("n_internal"),
        F.sum(F.when(F.col("scheme") == "https", 1).otherwise(0))
         .cast("long").alias("n_https"))


# --- <head> metadata --------------------------------------------------

TITLE_PATTERN = "(?is)<title[^>]*>(.*?)</title>"
META_QUOTE_NORM = (attr_quote_patterns("meta", "name")
                   + attr_quote_patterns("meta", "content"))
META_TAG_PATTERN = (r'(?is)<meta(?:\s[^>]*?)?\sname\s*=\s*"{name}"'
                    r"[^>]*>")
META_CONTENT_PATTERN = r'(?is)\scontent\s*=\s*"([^"]*)"'


def head_meta(docs: DataFrame) -> DataFrame:
    """(doc_id, title, meta_description, meta_keywords): document
    metadata from the ``<head>`` that operators/html.py deliberately
    drops before block segmentation.  Two-step meta extraction (find
    the tag, then its ``content`` attr) so attribute order never
    matters.  Single-quoted and unquoted attribute values are
    normalized first (same shared grammar as href/src).  Zero shuffle,
    zero UDF."""
    from .html import TAG_PATTERN, WS_PATTERN

    h = F.coalesce(F.col("html"), F.lit(""))
    for pat, repl in META_QUOTE_NORM:
        h = F.regexp_replace(h, F.lit(pat), F.lit(repl))

    def clean(c: Column) -> Column:
        return F.trim(F.regexp_replace(
            _decode_entities(
                F.regexp_replace(c, F.lit(TAG_PATTERN), F.lit(" "))),
            F.lit(WS_PATTERN), F.lit(" ")))

    def meta(name: str) -> Column:
        tag = F.regexp_extract(h, META_TAG_PATTERN.format(name=name), 0)
        return F.trim(_decode_entities(
            F.regexp_extract(tag, META_CONTENT_PATTERN, 1)))

    return docs.select(
        F.col("doc_id"),
        clean(F.regexp_extract(h, TITLE_PATTERN, 1)).alias("title"),
        meta("description").alias("meta_description"),
        meta("keywords").alias("meta_keywords"))
