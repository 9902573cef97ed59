"""Differential fuzz harness (committed so the campaign is
reproducible — usage: python tools/fuzz.py html LO HI):
operators/html.py (Spark) vs its DuckDB SQL twin on random adversarial
HTML-ish documents.

The generator biases toward the constructs where Java-regex and RE2
could plausibly diverge or where the rewrite chain has edge semantics:
unclosed / uppercase / self-closing tags, attributes containing quotes
and slashes, comments containing block tags, scripts containing
``</`` look-alikes, double-escaped entities, anchors wrapping inline
and block markup, stray ``<`` ``>`` ``&``, pre-existing sentinel
bytes, DOCTYPE variants, and whitespace zoo (tab, CR, form feed).
"""

import random

WORDS = ["alpha", "beta", "gamma", "delta", "words", "make", "text",
         "long", "enough", "content", "x", "&", "<", ">", "&amp;",
         "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&amp;lt;",
         "&amp;amp;", "a<b", "a>b", "5<6>7"]

TAGS = ["p", "div", "li", "td", "tr", "table", "h1", "h3", "nav",
        "footer", "header", "aside", "span", "b", "i", "em", "ul",
        "pre", "main", "article", "blockquote", "P", "DIV", "Nav",
        "FOOTER", "br", "hr", "unknown", "q2"]

ATTRS = ["", " class='x'", ' href="/a/b"', " data-x='1' y", " /",
         ' title="a > b"', " style='a:b;c:d'", "  ", "\nid=z"]


def _words(rng: random.Random, lo: int = 1, hi: int = 14) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def gen_html(rng: random.Random) -> str:
    parts = []
    if rng.random() < 0.3:
        parts.append(rng.choice(["<!DOCTYPE html>", "<!doctype HTML >",
                                 "<!DOCTYPEx>"]))
    for _ in range(rng.randint(1, 40)):
        r = rng.random()
        tag = rng.choice(TAGS)
        attr = rng.choice(ATTRS)
        if r < 0.28:
            parts.append(f"<{tag}{attr}>{_words(rng)}")
            if rng.random() < 0.6:
                parts.append(f"</{tag}>")
        elif r < 0.40:
            parts.append(f"<a{rng.choice(ATTRS)}>{_words(rng, 1, 8)}"
                         + ("</a>" if rng.random() < 0.8 else ""))
        elif r < 0.50:
            parts.append(f"<a href=x><b>{_words(rng, 1, 4)}</b>"
                         f"<{rng.choice(['p', 'div'])}>link-wrapped</a>")
        elif r < 0.55:
            src = rng.choice(["img://x/1", "a b", "", "i<j", "&amp;u",
                              "'q'", "x.png"])
            q = rng.choice(['"', "'", ""])
            src_q = src if q else src.replace(" ", "").replace("'", "")
            parts.append(rng.choice(
                [f"<img src={q}{src_q}{q}{rng.choice(ATTRS)}>",
                 f"<img{rng.choice(ATTRS)} src={q}{src_q}{q}/>",
                 "<img alt=nosrc>", "<IMG SRC=UP.GIF>"]))
        elif r < 0.60:
            parts.append(f"<!-- {_words(rng, 0, 4)} <p>{tag}</p> -->")
        elif r < 0.66:
            parts.append(rng.choice([
                "<script>var s = '</scr' + 'ipt>';</script>",
                "<SCRIPT type=x>if (a<b && b>c) {}</script>",
                "<style>p { content: '<p>' }</style>",
                "<head><title>t</title></head>",
            ]))
        elif r < 0.74:
            parts.append(_words(rng, 1, 20))
        elif r < 0.80:
            parts.append(rng.choice(["\x01", "\x02", "\x01\x02",
                                     "<", ">", "<>", "< p>", "<3"]))
        else:
            parts.append(rng.choice([" ", "\t", "\n", "\r\n", "\x0c",
                                     "  \n  "]))
    return "".join(parts)


MAIN_COLS = ["doc_id", "main_text", "n_blocks", "n_content", "n_nav",
             "n_short", "n_link", "n_media", "main_chars",
             "anchor_chars"]
BLOCK_COLS = ["doc_id", "block_idx", "tag", "cls", "text_len",
              "n_tags", "text"]
PAGES = "SELECT doc_id, COALESCE(html, '') AS page FROM corpus"


def gen_case(seed: int) -> list[tuple]:
    """(doc_id, html) rows of one seed; every seventh seed adds a NULL
    page."""
    rng = random.Random(seed)
    rows = [(i, gen_html(rng)) for i in range(25)]
    if seed % 7 == 0:
        rows.append((len(rows), None))
    return rows
