"""robots.txt (RFC 9309) parsing + URL admission, and sitemap XML
extraction — the crawl-politeness stage of web-corpus curation.

A 100 TB crawl is bounded upstream by what it may fetch: every
frontier decision is (host's robots.txt, candidate URL, our product
token) -> allowed/denied, and sitemap files seed the frontier.  The
reference corpus is PDF-only so it has no counterpart operator; like
operators/links.py this module is part of the web-document extension
the north rule's crawl tier implies.

Spark-first shape:

- ``parse_robots`` is ``split`` -> ``posexplode`` -> window functions:
  RFC 9309 §2.1 group formation (a ``User-agent`` line starts a new
  group unless the previous directive line was also ``User-agent`` —
  i.e. consecutive UA lines share one group) is a running sum of
  group-start flags over the per-host line window.  ONE exchange on
  ``host`` — and a robots corpus is one small file per host, millions
  of times smaller than the crawl it governs.
- ``robots_allowed`` joins candidate URLs to rules on ``host``
  (broadcast the rules side at scale), ranks matches per RFC 9309
  §2.2.2: most-specific agent group (exact product token beats
  ``*``), then longest-path-match precedence with allow winning
  length ties; no matching rule or no robots.txt -> allowed.  Rule
  paths support the ``*`` wildcard and ``$`` end anchor (§2.2.3) via
  a regex built with a ``regexp_replace`` chain — every pattern stays
  inside the Java-regex / RE2 / python-``re`` common subset so the
  DuckDB oracle replays it bit-for-bit.
- ``sitemap_urls`` flattens both ``<urlset>`` and ``<sitemapindex>``
  documents to (kind, loc, lastmod) rows with pure ``regexp_*``
  column expressions — zero shuffle, zero UDF.

Documented contract limits (tri-engine constraint, not bugs):
percent-encoding equivalence (§2.2.2's octet-level comparison) is not
normalized — ``/a%2Fb`` and ``/a/b`` are distinct here; non-ASCII
rule paths compare by code point.  Crawl-delay is surfaced as a
column (it is de-facto, not RFC) but not enforced here — scheduling
is the frontier's job, not admission's.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DIRECTIVE_RE = r"(?i)^[ \t]*(user-agent|allow|disallow|crawl-delay|sitemap)[ \t]*:[ \t]*(.*?)[ \t]*$"


def parse_robots(robots: DataFrame) -> DataFrame:
    """(host, robots body) -> one row per directive line:
    (host, line_no, group_id, directive, value).

    ``group_id`` implements RFC 9309 §2.1: consecutive ``User-agent``
    lines head ONE group (their rules apply to every named agent);
    a ``User-agent`` line after any rule line starts the next group.
    Comments (``#`` to end of line) and blank/foreign lines drop out;
    ``sitemap``/``crawl-delay`` keep the group they appear in
    (crawl-delay is per-group de facto; sitemap is global but the
    group column is carried for audit)."""
    line = F.regexp_replace(F.col("raw"), r"#.*$", "")
    d = robots.select(
        F.col("host"),
        F.posexplode(F.split(F.col("robots"), r"\r?\n"))
        .alias("line_no", "raw"))
    d = d.select(
        "host", "line_no",
        F.lower(F.regexp_extract(line, _DIRECTIVE_RE, 1))
         .alias("directive"),
        F.regexp_extract(line, _DIRECTIVE_RE, 2).alias("value"))
    d = d.where(F.col("directive") != "")
    w = Window.partitionBy("host").orderBy("line_no")
    is_ua = (F.col("directive") == "user-agent").cast("int")
    prev_ua = F.coalesce(F.lag(is_ua).over(w), F.lit(0))
    starts = ((is_ua == 1) & (prev_ua == 0)).cast("int")
    return d.select(
        "host", "line_no",
        F.sum(starts).over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("group_id"),
        "directive", "value")


def _path_regex(rule: Column) -> Column:
    """RFC 9309 §2.2.3 rule path -> anchored regex: escape regex
    metacharacters, then ``*`` -> ``.*`` and a trailing ``$`` -> end
    anchor.  Chain order matters: escape first (so a literal ``.``
    never matches-any), wildcard second, anchor last."""
    # escape everything regex-special EXCEPT * and $ (handled below)
    esc = F.regexp_replace(rule, r"([.\^+?()\[\]{}|\\])", r"\\$1")
    star = F.regexp_replace(esc, r"\*", ".*")
    # a $ at end = anchor; any interior $ is literal (escape it).
    # No lookaround (tri-engine subset): strip the trailing $ first
    # (the '\$$' pattern touches only the final char), escape the
    # rest, re-append the anchor.
    trailing = star.endswith("$")
    base = F.when(trailing, F.regexp_replace(star, r"\$$", "")) \
        .otherwise(star)
    # replacement-string escaping: '\\\$' = literal backslash +
    # literal dollar (a bare '$' in a Java replacement is a group ref)
    lit_dollar = F.regexp_replace(base, r"\$", r"\\\$")
    return F.concat(lit_dollar,
                    F.when(trailing, F.lit("$")).otherwise(F.lit("")))


def robots_allowed(urls: DataFrame, rules: DataFrame,
                   agent: str = "sparkbot") -> DataFrame:
    """Admission decision per (host, path) against a parsed rules
    table (``parse_robots`` output): adds ``allowed`` (boolean) and
    ``matched_rule`` (the winning rule path, NULL if none applied).

    RFC 9309 precedence, in order: (1) the applicable group is the
    one naming the agent's product token exactly (case-insensitive);
    only if no group does, the ``*`` groups apply; (2) among the
    applicable group's allow/disallow rules whose path-pattern
    matches, the LONGEST rule path wins; (3) equal lengths -> allow
    wins; (4) no matching rule, no applicable group, or no robots.txt
    at all -> allowed.

    Plan shape: group-agent resolution is a per-host aggregate over
    the (tiny) rules table; the corpus-scale side joins once on
    ``host`` — broadcast the resolved rules at crawl scale and the
    URL frontier never shuffles."""
    ua = rules.where(F.col("directive") == "user-agent").select(
        "host", "group_id",
        F.lower(F.col("value")).alias("ua_token"))
    tok = F.lit(agent.lower())
    # group rank: exact token = 0, '*' = 1, other = drop
    grp = ua.select(
        "host", "group_id",
        F.when(F.col("ua_token") == tok, F.lit(0))
         .when(F.col("ua_token") == "*", F.lit(1))
         .alias("rank")).where(F.col("rank").isNotNull()) \
        .groupBy("host", "group_id").agg(F.min("rank").alias("rank"))
    best = grp.groupBy("host").agg(F.min("rank").alias("best_rank"))
    applicable = grp.join(best, "host") \
        .where(F.col("rank") == F.col("best_rank")) \
        .select("host", "group_id")

    rr = rules.where(F.col("directive").isin("allow", "disallow")) \
        .join(applicable, ["host", "group_id"]) \
        .where(F.col("value") != "") \
        .select("host",
                F.col("directive").alias("rule_kind"),
                F.col("value").alias("rule_path"),
                F.concat(F.lit("^"), _path_regex(F.col("value")))
                 .alias("rule_re"),
                F.length("value").alias("rule_len"))

    u = urls.select(F.col("host"),
                    F.col("path")).distinct()
    m = u.join(F.broadcast(rr), "host", "left") \
        .where(F.col("rule_re").isNull() |
               F.expr("path rlike rule_re"))
    w = Window.partitionBy("host", "path").orderBy(
        F.desc("rule_len"),
        # allow sorts before disallow on equal length (RFC tie rule)
        F.col("rule_kind").asc(), F.col("rule_path").asc())
    top = m.withColumn("rn", F.row_number().over(w)) \
        .where(F.col("rn") == 1)
    dec = top.select(
        "host", "path",
        F.coalesce(F.col("rule_kind") != "disallow", F.lit(True))
         .alias("allowed"),
        F.col("rule_path").alias("matched_rule"))
    # hosts with no robots rows at all never matched the join above
    return urls.join(
        dec.withColumnRenamed("host", "h")
           .withColumnRenamed("path", "p"),
        (F.col("host") == F.col("h")) &
        (F.col("path") == F.col("p")), "left") \
        .drop("h", "p") \
        .withColumn("allowed", F.coalesce("allowed", F.lit(True)))


# ------------------------------------------------------------ sitemap

def sitemap_urls(docs: DataFrame) -> DataFrame:
    """Sitemap XML -> (host, kind, loc, lastmod) rows: ``<urlset>``
    entries yield kind='url', ``<sitemapindex>`` entries kind=
    'sitemap' (feed those back through fetch->parse for the index
    recursion).  Pure regexp column expressions, zero shuffle — the
    entry blocks come out of two ``regexp_extract_all`` calls (one
    per element name: no backreference, tri-engine subset),
    loc/lastmod out of per-element extracts over the block array."""
    xml = F.col("xml")
    blocks = F.concat(
        F.regexp_extract_all(xml, F.lit(r"(?is)<url>.*?</url>"),
                             F.lit(0)),
        F.regexp_extract_all(
            xml, F.lit(r"(?is)<sitemap>.*?</sitemap>"), F.lit(0)))
    entry = F.explode(blocks).alias("entry")
    d = docs.select(F.col("host"), entry)
    e = F.col("entry")
    return d.select(
        "host",
        F.when(F.lower(e).startswith("<sitemap"), F.lit("sitemap"))
         .otherwise(F.lit("url")).alias("kind"),
        F.regexp_extract(e, r"(?is)<loc>\s*(.*?)\s*</loc>", 1)
         .alias("loc"),
        F.regexp_extract(e, r"(?is)<lastmod>\s*(.*?)\s*</lastmod>", 1)
         .alias("lastmod")) \
        .where(F.col("loc") != "")


def feed_entries(docs: DataFrame) -> DataFrame:
    """RSS 2.0 / Atom feed XML -> (host, fmt, title, link, published)
    rows — the third frontier-seeding format next to sitemaps and
    page outlinks.  RSS ``<item>`` blocks carry ``<title>``,
    ``<link>`` and ``<pubDate>``; Atom ``<entry>`` blocks carry
    ``<title>``, ``<link href="..."/>`` and ``<updated>`` (or
    ``<published>``, preferred when both are present).  Pure regexp
    column expressions in the tri-engine subset — zero shuffle, zero
    UDF, no backreferences (one extract_all per element name, same
    trick as sitemap_urls)."""
    xml = F.col("xml")
    blocks = F.concat(
        F.regexp_extract_all(xml, F.lit(r"(?is)<item>.*?</item>"),
                             F.lit(0)),
        F.regexp_extract_all(xml, F.lit(r"(?is)<entry>.*?</entry>"),
                             F.lit(0)))
    d = docs.select(F.col("host"),
                    F.explode(blocks).alias("entry"))
    e = F.col("entry")
    is_rss = F.lower(e).startswith("<item")
    atom_link = F.regexp_extract(
        e, r'(?is)<link[^>]*href="([^"]*)"', 1)
    rss_link = F.regexp_extract(
        e, r"(?is)<link>\s*(.*?)\s*</link>", 1)
    published = F.when(
        is_rss,
        F.regexp_extract(e, r"(?is)<pubDate>\s*(.*?)\s*</pubDate>", 1)) \
        .otherwise(F.coalesce(
            F.nullif(F.regexp_extract(
                e, r"(?is)<published>\s*(.*?)\s*</published>", 1),
                F.lit("")),
            F.regexp_extract(
                e, r"(?is)<updated>\s*(.*?)\s*</updated>", 1)))
    return d.select(
        "host",
        F.when(is_rss, F.lit("rss")).otherwise(F.lit("atom"))
         .alias("fmt"),
        F.regexp_extract(e, r"(?is)<title>\s*(.*?)\s*</title>", 1)
         .alias("title"),
        F.when(is_rss, rss_link).otherwise(atom_link).alias("link"),
        published.alias("published")) \
        .where(F.col("link") != "")
