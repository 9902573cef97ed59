"""HTML main-content extraction: boilerplate strip + DOM-heuristic
block classification, as pure Spark column expressions.

The north rule names "HTML boilerplate strip, DOM heuristics" as part
of main-content extraction (BASELINE.json north_rule; the reference's
own boilerplate handling is keyphrase-based, see
reference/src/validation/data_quality_validator.py:376-409 / SURVEY F5
— this operator adds the web-document counterpart a 100 TB crawl
corpus needs).

Pipeline (all JVM-side, zero shuffle, zero UDF — the whole chain is
``regexp_replace`` → ``split`` → higher-order ``transform`` /
``filter`` / ``aggregate`` over the per-document block array, so it
evaluates inside the scan stage and adds no stage boundary at 100 TB):

1. scrub sentinels, drop ``<!--…-->`` comments, ``<script>``/``<style>``
   elements and the whole ``<head>``;
2. rewrite every ``<img src>`` to a standalone ``img`` block (the src
   as body) so interleaved media survive segmentation in document
   order, then every block-level tag boundary (``p div h1..h6 li table
   tr td nav header footer aside …``) to ``\\x01<tag>\\x02`` (openings)
   or ``\\x01\\x02`` (closings), then split on ``\\x01`` — each array
   element is one DOM block with its introducing tag;
3. per block (inside ``F.transform``): strip remaining inline tags,
   decode the five basic entities (&amp; last, so ``&amp;lt;`` decodes
   once), collapse ASCII whitespace, measure text length, anchor-text
   length (``<a …>…</a>`` contents) and tag count;
4. classify jusText/Arc90-style: ``media`` if the block is a rewritten
   ``<img>``, ``nav`` if the introducing tag is a navigation container
   (nav/header/footer/aside), ``empty`` if the block has no visible
   text (structural segments between adjacent tags), ``short`` if the
   text is under ``min_text_len`` chars, ``link`` if anchor text
   exceeds ``max_link_pct``% of the text (integer math — no float
   divergence across engines), else ``content``;
5. main text = the content blocks joined in document order.

Heuristic honesty: this is a regex tokenizer, not an HTML5 tree
builder — attributes containing a raw ``>``, unclosed ``<a`` elements
and block tags nested inside anchors are classified from the text the
regex sees.

Giant-page skew: per-page cost is linear in page bytes (measured
~0.7 s/MB warm on an adversarial 6.3 MB / 50k-block page, local[8];
typical crawl pages are 10-100 KB) and a page is one row, so the
worst single task is bounded by the biggest page in a partition.
There is no salting analog for one HTML string (the rewrite chain is
order-dependent within the page) — at crawl scale, cap or truncate
page bytes at ingest (as crawl archives already do) and size
rows-per-partition so stragglers stay within the AQE task-retry
budget; the text-side giant-doc dispatch (plans/salted.py) applies
only AFTER html_to_spans, where a huge page has become many spans.  The patterns are restricted to the Java-regex/RE2/python
``re`` common subset ((?is) flags, non-greedy, no lookaround, no
backreference) so the DuckDB oracle can replay the chain bit-for-bit
(tri-engine parity notes: BENCH/BASELINE.md §18).

NULL html → zero blocks, empty main text (inputs are coalesced).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# block-level elements whose opening/closing tags delimit text blocks;
# longest-first so leftmost-first alternation never prefix-shadows
# (e.g. 'pre' before 'p') in any of the three regex engines.
BLOCK_TAGS = sorted(
    ["p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
     "dl", "dt", "dd", "table", "thead", "tbody", "tr", "td", "th",
     "article", "section", "header", "footer", "nav", "aside", "main",
     "blockquote", "pre", "figure", "figcaption", "form", "fieldset",
     "hr", "br"],
    key=len, reverse=True)

# tags whose blocks are site chrome, not content (DOM heuristic)
NAV_TAGS = ("nav", "header", "footer", "aside")

SENT_A = "\x01"   # block boundary
SENT_B = "\x02"   # tag/body separator inside a block

MIN_TEXT_LEN = 25       # jusText-style short-block cutoff (chars)
MAX_LINK_PCT = 33       # boilerplate if anchor chars > 33% of text

_ALT = "|".join(BLOCK_TAGS)
# fixed rewrite order — comments first (may contain tags), then the
# three container drops, then closings, then openings
DROP_PATTERNS = [
    f"[{SENT_A}{SENT_B}]",                      # pre-existing sentinels
    "(?is)<!--.*?-->",
    "(?i)<!DOCTYPE[^>]*>",
    r"(?is)<script(\s[^>]*)?>.*?</script>",
    r"(?is)<style(\s[^>]*)?>.*?</style>",
    r"(?is)<head(\s[^>]*)?>.*?</head>",
]
CLOSE_PATTERN = rf"(?i)</({_ALT})\s*>"
OPEN_PATTERN = rf"(?i)<({_ALT})([\s/][^>]*)?>"
ANCHOR_PATTERN = r"(?is)<a(\s[^>]*)?>(.*?)</a>"
TAG_PATTERN = "</?[A-Za-z][^>]*>"
WS_PATTERN = "[ \t\r\n\x0c]+"

# (entity, replacement) — &amp; LAST so double-escapes decode exactly once
ENTITIES = [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
            ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]

def attr_quote_patterns(tag: str, attr: str) -> list[tuple[str, str]]:
    """The quote-normalization grammar, ONE definition for every
    (tag, attr) extractor in the html/links family: rewrite
    single-quoted then unquoted attribute values to double quotes
    (the unquoted rule's value class excludes quote-initial values, so
    an already-quoted attribute never re-matches).  Shared so the
    href/src/meta extractors and their SQL oracles cannot drift."""
    prefix = rf"(?is)(<{tag}(?:\s[^>]*?)?\s{attr}\s*=\s*)"
    return [
        (prefix + r"'([^']*)'", '$1"$2"'),
        (prefix + r"([^\"'\s>][^\s>]*)", '$1"$2"'),
    ]


# <img> elements become standalone media blocks so the north rule's
# interleaved media spans survive block segmentation in document order
# (html_to_spans below).  Quote-normalization first; an <img> without
# a src contributes nothing (stripped later with the other inline
# tags).
IMG_QUOTE_NORM = attr_quote_patterns("img", "src")
IMG_PATTERN = r'(?is)<img(?:\s[^>]*?)?\ssrc\s*=\s*"([^"]*)"[^>]*>'


def _plain_text(raw: Column) -> Column:
    """Strip inline tags, decode basic entities, collapse whitespace."""
    t = F.regexp_replace(raw, F.lit(TAG_PATTERN), F.lit(" "))
    for ent, repl in ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(repl))
    return F.trim(F.regexp_replace(t, F.lit(WS_PATTERN), F.lit(" ")))


def _block_struct(seg: Column) -> Column:
    """One DOM block: introducing tag, visible text, anchor text, tag
    count, boilerplate class."""
    parts = F.split(seg, SENT_B, 2)
    tagged = F.size(parts) == 2
    tag = F.lower(F.when(tagged, F.get(parts, 0)).otherwise(F.lit("")))
    body = F.when(tagged, F.get(parts, 1)).otherwise(F.get(parts, 0))
    text = _plain_text(body)
    anchor = _plain_text(
        F.array_join(
            F.regexp_extract_all(body, F.lit(ANCHOR_PATTERN), 2),
            " "))
    text_len = F.length(text)
    anchor_len = F.length(anchor)
    n_tags = F.size(F.regexp_extract_all(body, F.lit(TAG_PATTERN), 0))
    cls = (F.when(tag == "img", F.lit("media"))
            .when(tag.isin(*NAV_TAGS), F.lit("nav"))
            .when(text_len == 0, F.lit("empty"))
            .when(text_len < MIN_TEXT_LEN, F.lit("short"))
            .when(anchor_len * 100 > text_len * MAX_LINK_PCT,
                  F.lit("link"))
            .otherwise(F.lit("content")))
    return F.struct(tag.alias("tag"), text.alias("text"),
                    text_len.alias("text_len"),
                    anchor_len.alias("anchor_len"),
                    n_tags.alias("n_tags"), cls.alias("cls"))


def html_blocks_col(html: Column) -> Column:
    """``array<struct<tag,text,text_len,anchor_len,n_tags,cls>>`` of
    classified DOM blocks, in document order."""
    cleaned = F.coalesce(html, F.lit(""))
    for pat in DROP_PATTERNS:
        cleaned = F.regexp_replace(cleaned, F.lit(pat), F.lit(""))
    for pat, repl in IMG_QUOTE_NORM:
        cleaned = F.regexp_replace(cleaned, F.lit(pat), F.lit(repl))
    cleaned = F.regexp_replace(
        cleaned, F.lit(IMG_PATTERN),
        F.lit(SENT_A + "img" + SENT_B + "$1" + SENT_A + SENT_B))
    cleaned = F.regexp_replace(cleaned, F.lit(CLOSE_PATTERN),
                               F.lit(SENT_A + SENT_B))
    cleaned = F.regexp_replace(cleaned, F.lit(OPEN_PATTERN),
                               F.lit(SENT_A + "$1" + SENT_B))
    return F.transform(F.split(cleaned, SENT_A), _block_struct)


def extract_main_content(docs: DataFrame) -> DataFrame:
    """Per-document main content + block census.  Zero shuffle: narrow
    projections only, so at 100 TB this runs entirely in the scan stage
    of whatever plan consumes it.

    Plan shape matters here: the block array is built ONCE behind an
    alias (9 naive per-stat copies of the regex chain measured 7× the
    wall — CollapseProject keeps the alias because a non-cheap producer
    referenced more than once is never inlined), and all seven counters
    fold in ONE ``aggregate`` traversal because Catalyst's higher-order
    lambdas are interpreted, not codegen'd — per-stat ``filter`` passes
    measured ~4× slower on 1k-block documents."""
    bl = F.col("__html_blocks")

    def _count(acc: Column, b: Column) -> Column:
        def one(cond: Column) -> Column:
            return F.when(cond, F.lit(1).cast("long")) \
                .otherwise(F.lit(0).cast("long"))
        return F.struct(
            (acc["n_blocks"] + one(b["text_len"] > 0)).alias("n_blocks"),
            (acc["n_content"] + one(b["cls"] == "content"))
            .alias("n_content"),
            (acc["n_nav"] + one(b["cls"] == "nav")).alias("n_nav"),
            (acc["n_short"] + one(b["cls"] == "short")).alias("n_short"),
            (acc["n_link"] + one(b["cls"] == "link")).alias("n_link"),
            (acc["n_media"] + one(b["cls"] == "media")).alias("n_media"),
            (acc["main_chars"] + F.when(b["cls"] == "content",
                                        b["text_len"].cast("long"))
             .otherwise(F.lit(0).cast("long"))).alias("main_chars"),
            (acc["anchor_chars"] + b["anchor_len"].cast("long"))
            .alias("anchor_chars"))

    zeros = F.struct(*[F.lit(0).cast("long").alias(n)
                       for n in ("n_blocks", "n_content", "n_nav",
                                 "n_short", "n_link", "n_media",
                                 "main_chars", "anchor_chars")])
    stats = F.aggregate(bl, zeros, _count)
    main_text = F.array_join(
        F.transform(F.filter(bl, lambda b: b["cls"] == "content"),
                    lambda b: b["text"]), " ")
    staged = docs.select(
        F.col("doc_id"), html_blocks_col(F.col("html")).alias(
            "__html_blocks")) \
        .select(F.col("doc_id"), main_text.alias("main_text"),
                stats.alias("__stats"))
    return staged.select(
        "doc_id", "main_text",
        *[F.col("__stats")[n].alias(n)
          for n in ("n_blocks", "n_content", "n_nav", "n_short",
                    "n_link", "n_media", "main_chars",
                    "anchor_chars")])


def html_block_table(docs: DataFrame) -> DataFrame:
    """Exploded per-block view (doc_id, block_idx, tag, cls, text_len,
    n_tags, text).  ``posexplode`` is a narrow transform — no shuffle;
    consumers that re-aggregate per doc should prefer the array form
    above instead of paying a groupBy."""
    blocks = html_blocks_col(F.col("html"))
    e = docs.select(F.col("doc_id"),
                    F.posexplode(blocks).alias("block_idx", "b"))
    return e.select(
        "doc_id",
        F.col("block_idx").cast("long").alias("block_idx"),
        F.col("b.tag").alias("tag"), F.col("b.cls").alias("cls"),
        F.col("b.text_len").cast("long").alias("text_len"),
        F.col("b.n_tags").cast("long").alias("n_tags"),
        F.col("b.text").alias("text"))


def html_to_spans(docs: DataFrame) -> DataFrame:
    """Bridge a crawl-HTML corpus onto the pipeline's contract span
    schema (BASELINE.json input_hint): content blocks become ``text``
    spans, ``<img src>`` elements become ``media`` spans with the src
    as ``media_ref``, both in document order with a gapless 0-based
    ``offset`` — so the fused extraction plan (plans/fused.py
    assemble_fused) and everything downstream of it runs unchanged on
    web documents.  Media spans are preserved unconditionally in
    extraction order (the north rule's invariant); filtering chrome
    images is downstream policy, not extraction's call.

    Zero shuffle: the whole bridge is the html_blocks_col regex chain
    plus a filter/transform over the per-doc block array, so at crawl
    scale it fuses into the scan stage of the extraction job it feeds.
    """
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       block_spans(html_blocks_col(F.col("html")))
                       .alias("spans"))


def block_spans(blocks: Column) -> Column:
    """Classified blocks (``html_blocks_col``) -> contract spans: the
    content blocks as ``text`` spans, the media blocks as ``media``
    spans with the src as ``media_ref``, in block order with gapless
    0-based offsets."""
    keep = F.filter(blocks, lambda b: b["cls"].isin("content", "media"))
    return F.transform(
        keep,
        lambda b, i: F.struct(
            F.when(b["cls"] == "media", F.lit("media"))
             .otherwise(F.lit("text")).alias("kind"),
            F.when(b["cls"] == "media", F.lit(""))
             .otherwise(b["text"]).alias("text"),
            F.when(b["cls"] == "media", b["text"])
             .otherwise(F.lit("")).alias("media_ref"),
            i.cast("int").alias("offset")))


# ---------------------------------------------------------- tables

# <table>/<tr>/<td|th> element bodies; non-greedy to the first close,
# so a NESTED table truncates its outer row at the inner close — the
# documented regex-tokenizer scope shared by the whole module (a tree
# builder is the upgrade path, not a silent requirement)
TABLE_PATTERN = r"(?is)<table(\s[^>]*)?>(.*?)</table\s*>"
TR_PATTERN = r"(?is)<tr(\s[^>]*)?>(.*?)</tr\s*>"
CELL_PATTERN = r"(?is)<t([dh])(\s[^>]*)?>(.*?)</t[dh]\s*>"


def html_tables_col(html: Column) -> Column:
    """``array<array<struct<txt,nc>>>`` — per table, per ``<tr>`` row:
    the ' | '-joined cell text and the cell count
    (``<td>``/``<th>`` cells, inline tags stripped,
    entities decoded, whitespace collapsed — the same ``_plain_text``
    normalization the block classifier applies).  Ragged rows keep
    their own cell count (colspan markup is ignored, as the
    reference's pdfplumber cell lists are ragged too); unclosed cells
    merge into the enclosing match (regex scope).  Comment/script/
    style/head content is dropped FIRST, so a table quoted inside a
    script never extracts."""
    cleaned = F.coalesce(html, F.lit(""))
    for pat in DROP_PATTERNS:
        cleaned = F.regexp_replace(cleaned, F.lit(pat), F.lit(""))
    tbls = F.regexp_extract_all(cleaned, F.lit(TABLE_PATTERN), 2)

    def row_struct(r: Column) -> Column:
        cells = F.transform(
            F.regexp_extract_all(r, F.lit(CELL_PATTERN), 3),
            _plain_text)
        return F.struct(
            F.array_join(cells, " | ").alias("txt"),
            F.size(cells).alias("nc"))

    return F.transform(
        tbls,
        lambda t: F.transform(
            F.regexp_extract_all(t, F.lit(TR_PATTERN), 2), row_struct))


def html_table_rows(docs: DataFrame) -> DataFrame:
    """HTML ``<table>`` markup -> one row per table row — the
    crawl-side twin of the PDF ruled/text table strategies, emitting
    the same ' | '-joined TABLE_ROW_MARKER shape, so
    ``tables.ruled_rows_as_spans`` -> ``tables.extract_tables`` runs
    the S5/C6/T6 classification chain on web tables unchanged.

    Zero shuffle: the extraction is one regex/higher-order expression
    chain in the scan stage; two posexplodes (narrow) unpack tables
    and rows.  Returns (doc_id, tbl_idx, row_idx, n_rows, n_cells,
    table_text), tables and rows both in document order."""
    t = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(html_tables_col(F.col("html")))
        .alias("tbl_idx", "rows"))
    r = t.select(
        "doc_id", F.col("tbl_idx").cast("int").alias("tbl_idx"),
        F.size("rows").cast("int").alias("n_rows"),
        F.posexplode("rows").alias("row_idx", "row"))
    return r.select(
        "doc_id", "tbl_idx",
        F.col("row_idx").cast("int").alias("row_idx"), "n_rows",
        F.col("row.nc").cast("int").alias("n_cells"),
        F.col("row.txt").alias("table_text"))
