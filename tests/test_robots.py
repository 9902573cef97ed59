"""Crawl-politeness operators (operators/robots.py): RFC 9309 group
formation, agent resolution, longest-match precedence, pattern
semantics, sitemap flattening.  Exact-value gates:
``robots_rules``/``robots_check``/``sitemap_parse``
(queries_robots.py, closed-form DuckDB oracles); these units pin the
spec edges the arithmetic writer doesn't reach."""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.robots import (parse_robots,
                                                   robots_allowed,
                                                   sitemap_urls)


def _rules(spark, body, host="h"):
    return parse_robots(spark.createDataFrame(
        [(host, body)], "host string, robots string"))


def _decide(spark, rules, paths, agent="sparkbot", host="h"):
    urls = spark.createDataFrame([(host, p) for p in paths],
                                 "host string, path string")
    return {r["path"]: (r["allowed"], r["matched_rule"])
            for r in robots_allowed(urls, rules, agent).collect()}


def test_group_formation_consecutive_ua_lines(spark):
    body = ("User-agent: a\nUser-agent: b\nDisallow: /x\n"
            "User-agent: c\nDisallow: /y\n")
    rows = _rules(spark, body).orderBy("line_no").collect()
    assert [(r["group_id"], r["directive"]) for r in rows] == [
        (1, "user-agent"), (1, "user-agent"), (1, "disallow"),
        (2, "user-agent"), (2, "disallow")]


def test_comments_blanks_and_foreign_lines_drop(spark):
    body = ("# header\n\nUser-agent: *  # inline\n"
            "Noindex: /x\nDisallow: /a # trailing\n   \n")
    rows = _rules(spark, body).orderBy("line_no").collect()
    assert [(r["directive"], r["value"]) for r in rows] == [
        ("user-agent", "*"), ("disallow", "/a")]


def test_exact_group_excludes_star_group(spark):
    body = ("User-agent: me\nDisallow: /a\n"
            "User-agent: *\nDisallow: /b\n")
    rules = _rules(spark, body)
    d = _decide(spark, rules, ["/a/x", "/b/x"], agent="ME")
    assert d["/a/x"] == (False, "/a")
    assert d["/b/x"] == (True, None)     # '*' group must not leak in
    d2 = _decide(spark, rules, ["/a/x", "/b/x"], agent="stranger")
    assert d2 == {"/a/x": (True, None), "/b/x": (False, "/b")}


def test_longest_match_and_allow_tie(spark):
    body = ("User-agent: *\nDisallow: /p\nAllow: /p/ok\n"
            "Disallow: /t1\nAllow: /t2\n")
    rules = _rules(spark, body)
    d = _decide(spark, rules, ["/p/ok/deep", "/p/no"])
    assert d["/p/ok/deep"] == (True, "/p/ok")
    assert d["/p/no"] == (False, "/p")
    # equal length, both match via wildcard: allow wins
    body2 = "User-agent: *\nDisallow: /z*\nAllow: /z/*\n"
    d2 = _decide(spark, _rules(spark, body2), ["/z/q"])
    # '/z/*' (4) beats '/z*' (3); also allow — either way allowed
    assert d2["/z/q"][0] is True


def test_dollar_anchor_and_literal_metachars(spark):
    body = ("User-agent: *\nDisallow: /end$\n"
            "Disallow: /a.b\nDisallow: /c$d\n")
    rules = _rules(spark, body)
    d = _decide(spark, rules,
                ["/end", "/ending", "/a.b", "/aXb", "/c$d"])
    assert d["/end"] == (False, "/end$")
    assert d["/ending"] == (True, None)
    assert d["/a.b"][0] is False
    assert d["/aXb"] == (True, None)     # '.' is literal, not any
    assert d["/c$d"][0] is False         # interior $ is literal


def test_empty_disallow_means_no_rule(spark):
    body = "User-agent: *\nDisallow:\n"
    d = _decide(spark, _rules(spark, body), ["/anything"])
    assert d["/anything"] == (True, None)


def test_no_robots_host_allowed(spark):
    rules = _rules(spark, "User-agent: *\nDisallow: /\n", host="h1")
    urls = spark.createDataFrame([("h1", "/x"), ("h2", "/x")],
                                 "host string, path string")
    got = {(r["host"], r["path"]): r["allowed"]
           for r in robots_allowed(urls, rules).collect()}
    assert got == {("h1", "/x"): False, ("h2", "/x"): True}


def test_sitemap_urlset_and_index(spark):
    xml = ("<urlset><url><loc> https://e/a </loc>"
           "<lastmod>2026-01-02</lastmod></url>"
           "<url><loc>https://e/b</loc></url>"
           "<url><lastmod>2026-01-03</lastmod></url></urlset>")
    d = spark.createDataFrame([("h", xml)], "host string, xml string")
    rows = {r["loc"]: (r["kind"], r["lastmod"])
            for r in sitemap_urls(d).collect()}
    # locless entry dropped; loc whitespace trimmed
    assert rows == {"https://e/a": ("url", "2026-01-02"),
                    "https://e/b": ("url", "")}
    idx = ("<sitemapindex><sitemap><loc>https://e/s1.xml</loc>"
           "</sitemap></sitemapindex>")
    d2 = spark.createDataFrame([("h", idx)], "host string, xml string")
    assert sitemap_urls(d2).collect()[0]["kind"] == "sitemap"


def test_robots_allowed_plan_broadcasts_rules(spark):
    rules = _rules(spark, "User-agent: *\nDisallow: /p\n")
    urls = spark.createDataFrame([("h", "/p/x")],
                                 "host string, path string")
    plan = robots_allowed(urls, rules)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" \
        not in plan  # rules side broadcast; never a cartesian
    assert "CartesianProduct" not in plan


def test_feed_entries_rss_and_atom(spark):
    from pdf_extraction_spark.operators.robots import feed_entries
    rss = ("<rss version='2.0'><channel><title>Chan</title>"
           "<item><title> A </title><link> https://e/a </link>"
           "<pubDate>Tue, 01 Jul 2026 10:00:00 GMT</pubDate></item>"
           "<item><title>nolink</title></item></channel></rss>")
    atom = ("<feed><entry><title>C</title>"
            "<link rel='alternate' href=\"https://e/c\"/>"
            "<published>2026-07-01T10:00:00Z</published>"
            "<updated>2026-07-02T10:00:00Z</updated></entry>"
            "<entry><title>D</title><link href=\"https://e/d\"/>"
            "<updated>2026-07-03T00:00:00Z</updated></entry></feed>")
    d = spark.createDataFrame([("h0", rss), ("h1", atom)],
                              "host string, xml string")
    rows = {r["link"]: (r["fmt"], r["title"], r["published"])
            for r in feed_entries(d).collect()}
    # channel-level title untouched, linkless item dropped, link/title
    # trimmed, Atom published preferred over updated
    assert rows == {
        "https://e/a": ("rss", "A", "Tue, 01 Jul 2026 10:00:00 GMT"),
        "https://e/c": ("atom", "C", "2026-07-01T10:00:00Z"),
        "https://e/d": ("atom", "D", "2026-07-03T00:00:00Z")}
