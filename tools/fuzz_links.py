"""Differential fuzz harness (committed so the campaign is
reproducible — usage: python tools/fuzz.py links LO HI):
operators/links.py (Spark) vs its DuckDB SQL twin, three targets per
seed:

* link extraction + per-link URL parsing over random adversarial
  HTML-ish pages (anchor zoo: quote forms, data-href traps, unclosed
  anchors, entities in hrefs, nested markup, sentinel bytes);
* URL parsing alone over random adversarial URL strings (scheme zoo,
  userinfo, ports, IPv6 brackets, %-escapes, empty parts, stray
  delimiters, whitespace);
* head metadata (title, meta description/keywords) over random
  <head> blocks (quote forms, attribute order, unclosed titles).
"""

import random

from pdf_extraction_spark.queries_links import _URL_COLS

WORDS = ["click", "here", "more", "x", "&amp;", "&lt;", "a<b", "5>4",
         "link", "text", "now", "&amp;amp;", "\x01", "read"]

HREFS = ["/a/b", "x.html", "HTTP://Ex.COM:80/p?q=1#f",
         "https://User:pw@H.org:8443/%20x?a=1&amp;b=2",
         "//cdn.net/l.js", "mailto:a@b.c", "ftp://f.ex:21/p",
         "page#frag", "?only=query", "#only-frag", "",
         "https://[2001:db8::1]:443/v", "a b", "'quoted'",
         "https://h.org:/empty-port", "  /lead-space",
         "x?a=1&b=2&c", "javascript:void(0)", "tel:+1-713-555",
         "HTTPS://UP.Example.COM/Case"]

ATTRS = ["", " class='k'", " id=z", " data-href='trap'", " rel=nofollow",
         " title=\"a > b\"", "\ntarget=_blank", " /"]


def _words(rng, lo=0, hi=6):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def gen_page(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 25)):
        r = rng.random()
        href = rng.choice(HREFS)
        attr = rng.choice(ATTRS)
        quote = rng.choice(['"', "'", ""])
        if r < 0.45:
            body = _words(rng)
            if rng.random() < 0.3:
                body = f"<b>{body}</b><i>x</i>"
            closing = "</a>" if rng.random() < 0.85 else ""
            href_q = href if quote else href.replace(" ", "")
            parts.append(
                f"<a{attr} href={quote}{href_q}{quote}>{body}{closing}")
        elif r < 0.55:
            parts.append(f"<a{attr}>{_words(rng)}</a>")   # no href
        elif r < 0.63:
            parts.append(f"<a data-href=\"{href}\">trap</a>")
        elif r < 0.72:
            parts.append(f"<p>{_words(rng, 1, 10)}</p>")
        elif r < 0.80:
            parts.append(rng.choice(
                ["<!-- <a href=x>c</a> -->", "< a href=y>sp</a>",
                 "<ahref=z>nosp</a>", "<A HREF=\"UP.html\">caps</A>"]))
        else:
            parts.append(_words(rng, 1, 8))
    return "".join(parts)


def gen_url(rng: random.Random) -> str:
    pieces = []
    if rng.random() < 0.5:
        pieces.append(rng.choice(
            ["http:", "HTTPS:", "Ftp:", "mailto:", "a+b-c.d:", ":",
             "1http:", ""]))
    if rng.random() < 0.6:
        pieces.append("//")
        if rng.random() < 0.3:
            pieces.append(rng.choice(["user@", "u:p@", "@", "a@b@"]))
        pieces.append(rng.choice(
            ["Ex.COM", "h", "[2001:db8::1]", "127.0.0.1", "", "ex_x.y"]))
        if rng.random() < 0.4:
            pieces.append(rng.choice([":80", ":443", ":8080", ":",
                                      ":0", ":x"]))
    if rng.random() < 0.7:
        pieces.append(rng.choice(
            ["/p/q", "/", "p", "/%20a", "/a//b", "/A/B.Html"]))
    if rng.random() < 0.5:
        pieces.append(rng.choice(
            ["?a=1", "?", "?a=1&b=2", "??x", "?q=a b"]))
    if rng.random() < 0.5:
        pieces.append(rng.choice(["#f", "#", "#a#b", "#q?x=1"]))
    return "".join(pieces)


LINK_COLS = ["doc_id", "link_idx", "href", "anchor_text",
             *_URL_COLS]
PAGES = ("SELECT doc_id, COALESCE(html, '') AS page, "
         "'h.example' AS page_host FROM corpus")
HEAD_PAGES = ("SELECT doc_id, COALESCE(html, '') AS raw "
              "FROM corpus_head")
HEAD_COLS = ["doc_id", "title", "meta_description", "meta_keywords"]

META_NAMES = ["description", "keywords", "viewport", "author"]


def gen_head(rng: random.Random) -> str:
    parts = ["<head>"]
    if rng.random() < 0.8:
        parts.append(f"<title{rng.choice(ATTRS)}>{_words(rng, 0, 6)}"
                     + ("</title>" if rng.random() < 0.9 else ""))
    quotes = ['"', "'", ""]
    for _ in range(rng.randint(0, 6)):
        name = rng.choice(META_NAMES)
        q1, q2 = rng.choice(quotes), rng.choice(quotes)
        content = _words(rng, 0, 5)
        if q2 != '"':
            content = content.replace("'", "")
        if not q2:
            content = content.replace(" ", "_")
        a = f"name={q1}{name}{q1}"
        b = f"content={q2}{content}{q2}"
        inner = f"{a} {b}" if rng.random() < 0.5 else f"{b} {a}"
        extra = rng.choice(["", " data-x=1", " /"])
        parts.append(f"<meta {inner}{extra}>")
    parts.append("</head><body><p>x</p></body>")
    return "".join(parts)


def gen_case(seed: int) -> tuple[list, list, list]:
    """(doc_id, html) page rows, (doc_id, u) URL rows and (doc_id,
    html) head rows of one seed, drawn in that order; every seventh
    seed adds a NULL page and every fifth a NULL head."""
    rng = random.Random(seed)
    pages = [(i, gen_page(rng)) for i in range(20)]
    if seed % 7 == 0:
        pages.append((len(pages), None))
    urls = [(i, gen_url(rng)) for i in range(60)]
    heads = [(i, gen_head(rng)) for i in range(25)]
    if seed % 5 == 0:
        heads.append((len(heads), None))
    return pages, urls, heads
