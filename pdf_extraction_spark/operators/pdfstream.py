"""PDF content-stream tokenization: batched byte-stream lexing + the
text-object state machine -> positioned text/media runs.

North-star surface: "vectorized pandas/Arrow UDFs perform batched
byte-stream tokenization of PDF content streams, text-run
reconstruction with x/y-position clustering into lines and blocks"
(BASELINE.json north_star).  The reference gets tokenization for free
from pdfplumber (`text_extractor.pyc:67-137` calls
``page.extract_text`` / ``extract_words``; pdfplumber's pdfminer core
runs this exact machine) — this module re-implements the public
PDF 1.7 semantics (ISO 32000-1 §7.3 object syntax, §8.4 graphics
state, §9.4 text objects) as a from-scratch Spark kernel so corpora
that arrive as raw content-stream bytes enter the same
runs -> lines -> blocks -> spans chain as every other source
(`operators/layout.py`, `plans/fused.py`).

Shape:

  streams(doc_id, stream)
    --tokenize_streams (mapInArrow)-->            # ONE map-only pass
  runs(doc_id, run_idx, kind, text, media_ref, font, size, x, y, w, h)

  streams(doc_id, stream[, page])
    --pdf_to_spans: groupBy(doc_id), then per document in-process:
      tokenize -> y-down runs -> layout.layout_page per page -->
  contract spans (doc_id, spans array<kind,text,media_ref,offset>)

Supported operators (the text-positioning subset every real-world
writer emits): ``BT ET Tf Td TD Tm T* TL Tc Tw Tz Tj TJ ' "`` plus
graphics-state ``q Q cm`` and media placement ``Do`` (XObject
invocations become ``media`` runs carrying the XObject name as
``media_ref``, positioned by the CTM — the north rule's interleaved
media-span invariant).  Literal strings handle the full escape set
(\\n \\r \\t \\b \\f \\( \\) \\\\, 1-3 digit octal, line
continuations) and balanced unescaped parentheses; hex strings decode
byte-pairwise; comments and inline dictionaries are skipped.  Inline
images (§8.9.7 ``BI .. ID <binary> EI``) raw-scan to the
whitespace-delimited ``EI`` (the payload is not stream syntax) and
emit an unnamed CTM-placed ``media`` run with ref ``[inline]``.
Unknown operators clear their operands and continue (the spec's
prescription for compatibility sections).

Glyph metrics honesty: without embedded font programs the advance
width of a shown string is approximated as ``0.5 * size`` per
character (the flat-width heuristic; Tc/Tw/Tz ARE applied exactly).
Positions of run ORIGINS are exact per the spec; only the x-extent of
a run (``w``) and the inter-segment advance inside one Tj/TJ chain are
heuristic.  The layout stage clusters on origins and tolerances, so
block/line structure is insensitive to the approximation; fonts with
a /Widths table use their real advances.

Scale shape (100 TB / 10^12 docs): the kernel is ONE ``mapInArrow``
pass — map-only, zero shuffle, linear in stream bytes; 1000 executors
scale trivially.  A giant page is one row (same single-row-bounded
contract as ``operators/html.py`` — cap page bytes at ingest).  The
span bridge adds one exchange, the doc_id grouping of stream rows;
layout runs in the same task as tokenization, and whole-file input
(`pdffile.files_to_spans`) needs no exchange at all.  Lexing is a
single compiled-regex scan (C speed) per stream; only the operator
dispatch loop is per-token Python, bounded by token count,
Arrow-batched on both edges.
"""

from __future__ import annotations

import json
import re
from typing import Any, Iterator

from pyspark.sql import DataFrame, functions as F

# ---------------------------------------------------------------- lexer

# one master scan: everything except literal strings (handled by
# _scan_string for nesting) and stream-level noise
_TOKEN_RE = re.compile(
    r"""(?P<comment>%[^\r\n]*)
      | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+))
      | (?P<name>/[^\s()<>\[\]{}/%]*)
      | (?P<hex><[0-9A-Fa-f\s]*>)
      | (?P<dopen><<)|(?P<dclose>>>)
      | (?P<aopen>\[)|(?P<aclose>\])
      | (?P<sopen>\()
      | (?P<op>[^\s()<>\[\]{}/%]+)
    """, re.X)

_ESCAPES = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
            "(": "(", ")": ")", "\\": "\\"}
_OCTAL_RE = re.compile(r"[0-7]{1,3}")

# §7.3.5 name escapes: /T1#5F0 is the name "T1_0" — the file-layer
# resource dict decodes them, so the content-stream side must too or
# the font-map/XObject lookup silently misses.  Malformed #s (no two
# hex digits) pass through unchanged, mirroring the object parser.
_NAME_ESC_RE = re.compile(r"#([0-9A-Fa-f]{2})")


def _decode_name(raw: str) -> str:
    if "#" not in raw:
        return raw
    return _NAME_ESC_RE.sub(lambda m: chr(int(m.group(1), 16)), raw)

# inline-image terminator (§8.9.7): the first EI delimited by
# whitespace on both sides (or stream end) — the documented scanning
# heuristic every reader uses, since the binary payload carries no
# length.  An unguarded 'EI' byte pair inside the data (e.g. 'xEIy')
# does NOT terminate.
_EI_RE = re.compile(r"(?:(?<=[\s\x00])|\A)EI(?=[\s\x00]|\Z)")


def _scan_string(s: str, i: int) -> tuple[str, int]:
    """Decode a literal string starting at the ``(`` at ``s[i]``;
    returns (text, index past the closing paren).  Handles the escape
    table, octal escapes, backslash-newline continuations, and balanced
    unescaped parentheses (ISO 32000-1 §7.3.4.2)."""
    out: list[str] = []
    depth = 1
    i += 1
    n = len(s)
    while i < n and depth:
        c = s[i]
        if c == "\\":
            i += 1
            if i >= n:
                break
            e = s[i]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 1
            elif e in "01234567":
                m = _OCTAL_RE.match(s, i)
                out.append(chr(int(m.group(0), 8) & 0xFF))
                i = m.end()
            elif e == "\n":
                i += 1
            elif e == "\r":
                i += 2 if s[i:i + 2] == "\r\n" else 1
            else:  # spec: backslash before anything else is dropped
                out.append(e)
                i += 1
        elif c == "(":
            depth += 1
            out.append(c)
            i += 1
        elif c == ")":
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out), i


def lex_content(stream: str) -> Iterator[tuple[str, Any]]:
    """Tokenize one content stream into ('num', float) / ('str', str) /
    ('name', str) / ('[', None) / (']', None) / ('op', str) tokens.
    Inline dicts (``<< .. >>``) pass through as ignorable tokens."""
    i, n = 0, len(stream)
    while i < n:
        c = stream[i]
        if c in " \t\r\n\f\x00":
            i += 1
            continue
        if c == "(":
            text, i = _scan_string(stream, i)
            yield ("str", text)
            continue
        m = _TOKEN_RE.match(stream, i)
        if m is None:  # unlexable byte: skip (damage tolerance)
            i += 1
            continue
        i = m.end()
        kind = m.lastgroup
        if kind == "comment":
            continue
        if kind == "num":
            yield ("num", float(m.group(0)))
        elif kind == "name":
            yield ("name", _decode_name(m.group(0)[1:]))
        elif kind == "hex":
            h = re.sub(r"\s", "", m.group(0)[1:-1])
            if len(h) % 2:
                h += "0"
            yield ("str", "".join(chr(int(h[j:j + 2], 16))
                                  for j in range(0, len(h), 2)))
        elif kind == "aopen":
            yield ("[", None)
        elif kind == "aclose":
            yield ("]", None)
        elif kind in ("dopen", "dclose"):
            yield ("op", m.group(0))  # ignored by the text machine
        elif m.group(0) == "ID":
            # inline image: everything to the whitespace-delimited EI
            # is raw binary, NOT content-stream syntax — lexing it
            # would corrupt the token stream (real scanner output hits
            # this constantly).  The BI dict tokens already passed as
            # ordinary operands; collapse ID <data> EI into one
            # marker token the machine turns into a media run.
            m2 = _EI_RE.search(stream, i)
            i = m2.end() if m2 else n
            yield ("op", "__inline_image__")
        else:
            yield ("op", m.group(0))


# --------------------------------------------------- text state machine

_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mult(m: tuple, n: tuple) -> tuple:
    """Row-vector matrix product m x n (PDF convention: point . m . n)."""
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return (a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2)


def _translate(tx: float, ty: float) -> tuple:
    return (1.0, 0.0, 0.0, 1.0, tx, ty)


DEFAULT_CHAR_WIDTH = 0.5  # glyph-space width per char (no metrics table)


# ------------------------------------------------- ToUnicode CMaps

_HEXPAIR_RE = re.compile(r"<([0-9A-Fa-f\s]+)>")
_BFCHAR_RE = re.compile(r"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(r"beginbfrange(.*?)endbfrange", re.S)
_CSRANGE_RE = re.compile(r"begincodespacerange(.*?)endcodespacerange",
                         re.S)


def _hex_int(h: str) -> int:
    return int(re.sub(r"\s", "", h), 16)


def _hex_str(h: str) -> str:
    """Destination hex = UTF-16BE code units (Adobe CMap spec §7.2 /
    ISO 32000-1 §9.10.3)."""
    clean = re.sub(r"\s", "", h)
    if len(clean) % 2:
        clean += "0"
    return bytes.fromhex(clean).decode("utf-16-be", "replace")


def parse_cmap(text: str) -> tuple[dict[int, str], int]:
    """Parse the ToUnicode subset of a CMap: bfchar pairs, bfrange
    (incrementing or array destinations), and the codespacerange code
    width.  Returns (code -> unicode string, code byte-width 1|2)."""
    cmap: dict[int, str] = {}
    width = 1
    for block in _CSRANGE_RE.findall(text):
        pairs = _HEXPAIR_RE.findall(block)
        if pairs:
            width = max(width,
                        (len(re.sub(r"\s", "", pairs[0])) + 1) // 2)
    for block in _BFCHAR_RE.findall(text):
        pairs = _HEXPAIR_RE.findall(block)
        for i in range(0, len(pairs) - 1, 2):
            cmap[_hex_int(pairs[i])] = _hex_str(pairs[i + 1])
    for block in _BFRANGE_RE.findall(text):
        # entries: <lo> <hi> <dst>  OR  <lo> <hi> [<d1> <d2> ...]
        toks = re.findall(r"<[0-9A-Fa-f\s]+>|\[|\]", block)
        pos = 0
        while pos + 3 <= len(toks):
            lo_t, hi_t, third = toks[pos], toks[pos + 1], toks[pos + 2]
            if lo_t in "[]" or hi_t in "[]":
                pos += 1
                continue
            lo, hi = _hex_int(lo_t[1:-1]), _hex_int(hi_t[1:-1])
            if third == "[":
                pos += 3
                code = lo
                while pos < len(toks) and toks[pos] != "]":
                    cmap[code] = _hex_str(toks[pos][1:-1])
                    code += 1
                    pos += 1
                pos += 1  # past ']'
            else:
                base = _hex_str(third[1:-1])
                # incrementing range: the LAST code unit increments
                for k in range(hi - lo + 1):
                    if base:
                        cmap[lo + k] = base[:-1] + chr(
                            ord(base[-1]) + k)
                pos += 3
    return cmap, width


def _apply_cmap(raw: str, cmap: dict[int, str], width: int,
                gw: dict[int, float] | None = None,
                dw: float = 0.0) -> tuple[str, int, int, float | None]:
    """Map glyph-code chars to unicode; returns (text, n_glyphs,
    n_wordspaces, advance_units).  Tw applies to code 32 in 1-byte
    encodings only (§9.3.3).

    An EMPTY cmap means the font carries metrics but no character
    map (a /Widths-only simple font): the text passes through as-is
    for 1-byte codes.  ``gw`` is the §9.6.2.1 per-glyph width table
    in glyph-space units (/Widths, keyed from /FirstChar), ``dw`` the
    FontDescriptor /MissingWidth fallback; ``advance_units`` is the
    summed advance in text-space ems (Σ w_c / 1000) or None when the
    font has no width table (caller falls back to the uniform
    ``DEFAULT_CHAR_WIDTH``)."""
    if width == 2:
        codes = [(ord(raw[i]) << 8) | ord(raw[i + 1])
                 for i in range(0, len(raw) - 1, 2)]
        n_sp = 0
    else:
        codes = [ord(c) for c in raw]
        n_sp = sum(1 for c in codes if c == 32)
    if cmap:
        text = "".join(cmap.get(c, "�") for c in codes)
    elif width == 1:
        text = raw
    else:
        text = "".join("�" for _ in codes)
    units = (sum(gw.get(c, dw) for c in codes) / 1000.0
             if gw is not None else None)
    return text, len(codes), n_sp, units


_RULE_EPS = 0.5  # device points: a painted segment whose minor extent
# is below this is axis-aligned (a ruling); segments short in BOTH
# axes are zero-length noise and diagonal segments are not rulings

_MAX_FORM_DEPTH = 8  # §8.10 nesting bound: cyclic/degenerate form
# graphs terminate deterministically (deeper calls degrade to media
# runs, never hang an executor)


def machine_runs(tokens: Iterator[tuple[str, Any]],
                 font_maps: dict[str, tuple[dict[int, str], int]]
                 | None = None,
                 forms: dict[str, dict] | None = None,
                 with_rules: bool = False,
                 drop_artifacts: bool = False,
                 _init: tuple | None = None) -> list[tuple]:
    """Run the §9.4 text-object machine over lexed tokens; returns
    emitted runs as tuples
    (kind, text, media_ref, font, size, x, y, w, h) in stream order.

    x/y are the DEVICE-space origin of the run (text-space (0,0)
    through Tm x CTM); w is the device-space advance consumed by the
    shown text; h is the effective font size (size scaled by the
    matrix d terms).  Media runs (``Do``) report the unit square
    through the CTM: origin (e, f), w = a, h = d.

    ``forms`` maps XObject resource names to FORM specs (§8.10 —
    dicts with ``text`` (decoded content), optional ``mtx`` (the
    /Matrix 6-tuple), optional ``fonts``/``forms`` (the form's OWN
    resources; absent keys inherit the invoking scope, present ones
    shadow it per name — a ``fonts`` value of None marks a defined-
    but-unmapped font so it shadows a mapped outer font of the same
    name).  ``Do`` on a registered form executes its content in
    place: graphics+text state saved, /Matrix premultiplied onto the
    CTM, runs emitted in stream order, state restored — the §8.10.1
    semantics minus BBox clipping.  Unregistered names (images) stay
    media runs; calls beyond ``_MAX_FORM_DEPTH`` degrade to media
    runs too.

    ``with_rules=True`` additionally interprets the §8.5 path
    operators (``m l re h c v y`` construction; ``S s f F f* B B* b
    b*`` painting; ``n`` discard) and emits every PAINTED axis-aligned
    segment as a ``rule`` run — the drawn table grid lines, cell
    borders and underlines pdfplumber derives its default
    'lines'-strategy table rulings from (the reference's
    ``page.extract_tables()``, `src/table_extractor.py:9-56`, runs
    that strategy).  Each rule row is
    ``('rule', 'h'|'v', None, '', 0.0, x, y, w, h)`` with (x, y) the
    device-space min corner and w/h the device-space extents (one of
    them ~0 by construction); curve segments contribute only their
    endpoints to the current point, diagonal segments are skipped
    (not rulings), and clipping-only paths (``W n``) emit nothing.
    Default False: path operators clear operands exactly as before,
    so run tables and run_idx sequences stay byte-identical.

    ``drop_artifacts=True`` suppresses every run shown inside a §14.8
    marked-content scope tagged ``/Artifact`` (BDC/BMC..EMC nesting
    tracked independently of q/Q) — the spec's designation for
    pagination chrome: running headers/footers, page numbers,
    watermarks, rules.  This is the PDF-side analog of the HTML
    boilerplate strip the north rule names: tagged PDFs label their
    chrome explicitly, so dropping it beats any heuristic.  A ``Do``
    inside an artifact scope is suppressed whole (form and image
    alike).  Default False keeps untagged corpora byte-identical;
    property dicts (``<< .. >>``) are swallowed as data in either
    mode, so the tag NAME preceding a BDC dict survives to the
    operator."""
    ctm = _ID
    stack: list[tuple] = []
    tm = tlm = _ID
    font, size = "", 0.0
    tc = tw = tl = 0.0
    tz = 100.0
    depth = 0
    if _init is not None:  # re-entry from an invoking stream's Do
        ctm, font, size, tc, tw, tl, tz, depth = _init
    operands: list[tuple[str, Any]] = []
    runs: list[tuple] = []
    # §8.5 path state (with_rules only): pending device-space segments
    # of the CURRENT path, the current point, and the subpath start
    path: list[tuple] = []
    cur: tuple | None = None
    sub0: tuple | None = None

    def xf(px: float, py: float) -> tuple:
        """User space -> device space through the current CTM."""
        return (ctm[0] * px + ctm[2] * py + ctm[4],
                ctm[1] * px + ctm[3] * py + ctm[5])

    def paint_rules() -> None:
        """Flush the pending path: axis-aligned segments become rule
        runs (min-corner + extents; 'h'/'v' orientation in text);
        artifact-scoped decorative rules are suppressed like text."""
        if artifact():
            path.clear()
            return
        for (x0, y0), (x1, y1) in path:
            dx, dy = abs(x1 - x0), abs(y1 - y0)
            if dx <= _RULE_EPS and dy <= _RULE_EPS:
                continue  # zero-length
            if dy <= _RULE_EPS:
                runs.append(("rule", "h", None, "", 0.0,
                             min(x0, x1), min(y0, y1), dx, dy))
            elif dx <= _RULE_EPS:
                runs.append(("rule", "v", None, "", 0.0,
                             min(x0, x1), min(y0, y1), dx, dy))
        path.clear()

    # §14.8 marked-content state: tag stack (independent of q/Q) and
    # an inline property-dict swallow depth — dict contents are DATA,
    # so they must neither execute as operators nor clear the tag
    # name that precedes the dict
    mc: list[str] = []
    dict_depth = 0

    def artifact() -> bool:
        return drop_artifacts and "Artifact" in mc

    def show(text: str) -> None:
        nonlocal tm
        trm = _mult(tm, ctm)
        # with a ToUnicode CMap the string chars are GLYPH CODES: the
        # advance counts glyphs (2-byte groups for Type0) and Tw only
        # applies to code 32 in 1-byte encodings (§9.3.3)
        fmap = font_maps.get(font) if font_maps else None
        units = None
        if fmap is not None:
            gw = fmap[2] if len(fmap) > 2 else None
            dw = fmap[3] if len(fmap) > 3 else 0.0
            text, n_glyphs, n_sp, units = _apply_cmap(
                text, fmap[0], fmap[1], gw, dw)
        else:
            n_glyphs, n_sp = len(text), text.count(" ")
        # advance in TEXT space (§9.4.4): per glyph
        #   (w0*size + Tc + (Tw if space)) * Tz/100; w0 from the
        #   font's /Widths table when it carries one, else the
        #   uniform DEFAULT_CHAR_WIDTH fallback
        if units is not None:
            adv = (units * size + tc * n_glyphs + tw * n_sp) \
                * (tz / 100.0)
        else:
            adv = ((DEFAULT_CHAR_WIDTH * size + tc) * n_glyphs + tw * n_sp) \
                * (tz / 100.0)
        h = size * abs(tm[3]) * abs(ctm[3])
        w_dev = adv * abs(tm[0]) * abs(ctm[0])
        if not artifact():  # suppressed text still advances tm
            runs.append(("text", text, None, font, h,
                         trm[4], trm[5], w_dev, h))
        tm = _mult(_translate(adv, 0.0), tm)

    def td(tx: float, ty: float) -> None:
        nonlocal tm, tlm
        tlm = _mult(_translate(tx, ty), tlm)
        tm = tlm

    for kind, val in tokens:
        if kind == "op" and val == "<<":
            dict_depth += 1  # keep operands: the tag name before a
            continue         # BDC property dict must survive
        if dict_depth:
            if kind == "op" and val == ">>":
                dict_depth -= 1
            continue  # dict interior is data, not operators
        if kind != "op":
            operands.append((kind, val))
            continue
        op = val
        try:
            if op == "q":
                stack.append((ctm, font, size, tc, tw, tl, tz))
            elif op == "Q":
                if stack:
                    ctm, font, size, tc, tw, tl, tz = stack.pop()
            elif op == "cm":
                nums = [v for k, v in operands if k == "num"][-6:]
                ctm = _mult(tuple(nums), ctm)
            elif op == "BT":
                tm = tlm = _ID
            elif op == "Tf":
                size = [v for k, v in operands if k == "num"][-1]
                names = [v for k, v in operands if k == "name"]
                font = names[-1] if names else font
            elif op == "Td":
                a, b = [v for k, v in operands if k == "num"][-2:]
                td(a, b)
            elif op == "TD":
                a, b = [v for k, v in operands if k == "num"][-2:]
                tl = -b
                td(a, b)
            elif op == "Tm":
                nums = [v for k, v in operands if k == "num"][-6:]
                tm = tlm = tuple(nums)
            elif op == "T*":
                td(0.0, -tl)
            elif op == "TL":
                tl = [v for k, v in operands if k == "num"][-1]
            elif op == "Tc":
                tc = [v for k, v in operands if k == "num"][-1]
            elif op == "Tw":
                tw = [v for k, v in operands if k == "num"][-1]
            elif op == "Tz":
                tz = [v for k, v in operands if k == "num"][-1]
            elif op == "Tj":
                strs = [v for k, v in operands if k == "str"]
                if strs:
                    show(strs[-1])
            elif op == "'":
                td(0.0, -tl)
                strs = [v for k, v in operands if k == "str"]
                if strs:
                    show(strs[-1])
            elif op == '"':
                nums = [v for k, v in operands if k == "num"][-2:]
                if len(nums) == 2:
                    tw, tc = nums
                td(0.0, -tl)
                strs = [v for k, v in operands if k == "str"]
                if strs:
                    show(strs[-1])
            elif op == "TJ":
                # operands hold the array contents: strings show,
                # numbers kern by -n/1000 * size * Tz/100 in x
                for k, v in operands:
                    if k == "str":
                        show(v)
                    elif k == "num":
                        shift = -v / 1000.0 * size * (tz / 100.0)
                        tm = _mult(_translate(shift, 0.0), tm)
            elif op in ("BDC", "BMC"):
                tags = [v for k, v in operands if k == "name"]
                mc.append(tags[0] if tags else "")
            elif op == "EMC":
                if mc:
                    mc.pop()
            elif op == "Do" and artifact():
                pass  # artifact-scoped placement: suppressed whole
            elif op == "Do":
                names = [v for k, v in operands if k == "name"]
                if names:
                    name = names[-1]
                    form = forms.get(name) if forms else None
                    if form is not None and depth < _MAX_FORM_DEPTH:
                        sub_f = form.get("fonts")
                        sub_x = form.get("forms")
                        mtx = form.get("mtx")
                        runs.extend(machine_runs(
                            lex_content(form.get("text") or ""),
                            {**(font_maps or {}), **sub_f}
                            if sub_f else font_maps,
                            {**(forms or {}), **sub_x}
                            if sub_x else forms,
                            with_rules=with_rules,
                            drop_artifacts=drop_artifacts,
                            _init=(_mult(tuple(mtx), ctm) if mtx
                                   else ctm,
                                   font, size, tc, tw, tl, tz,
                                   depth + 1)))
                    else:
                        runs.append(("media", None, name, font, 0.0,
                                     ctm[4], ctm[5], ctm[0], ctm[3]))
            elif op == "__inline_image__":
                # BI .. ID <data> EI: an unnamed image placed like Do
                # (unit square through the CTM); ref '[inline]' keeps
                # it distinct from any legal XObject name
                if not artifact():
                    runs.append(("media", None, "[inline]", font, 0.0,
                                 ctm[4], ctm[5], ctm[0], ctm[3]))
            elif with_rules and op == "m":
                a, b = [v for k, v in operands if k == "num"][-2:]
                cur = sub0 = xf(a, b)
            elif with_rules and op == "l":
                a, b = [v for k, v in operands if k == "num"][-2:]
                p = xf(a, b)
                if cur is not None:
                    path.append((cur, p))
                cur = p
            elif with_rules and op == "re":
                a, b, rw, rh = [v for k, v in operands
                                if k == "num"][-4:]
                p00, p10 = xf(a, b), xf(a + rw, b)
                p11, p01 = xf(a + rw, b + rh), xf(a, b + rh)
                path.extend([(p00, p10), (p10, p11),
                             (p11, p01), (p01, p00)])
                cur = sub0 = p00
            elif with_rules and op in ("c", "v", "y"):
                # curves are not rulings; endpoint moves the point
                a, b = [v for k, v in operands if k == "num"][-2:]
                cur = xf(a, b)
            elif with_rules and op == "h":
                if cur is not None and sub0 is not None:
                    path.append((cur, sub0))
                cur = sub0
            elif with_rules and op in ("S", "f", "F", "f*",
                                       "B", "B*"):
                paint_rules()
                cur = sub0 = None
            elif with_rules and op in ("s", "b", "b*"):
                if cur is not None and sub0 is not None:
                    path.append((cur, sub0))  # implicit close
                paint_rules()
                cur = sub0 = None
            elif with_rules and op == "n":
                path.clear()  # clipping-only path (W n): no paint
                cur = sub0 = None
            # every other operator (ET, gs, W, DP/MP, Tr, Ts, color
            # ops — and, without with_rules, the whole path family)
            # only clears its operands
        except (IndexError, ValueError, TypeError):
            pass  # malformed operand list: spec-prescribed skip
        operands.clear()
    return runs


def extract_runs(stream: str,
                 font_maps: dict[str, tuple[dict[int, str], int]]
                 | None = None,
                 forms: dict[str, dict] | None = None,
                 with_rules: bool = False,
                 drop_artifacts: bool = False) -> list[tuple]:
    """Lex + run the machine over one content stream."""
    return machine_runs(lex_content(stream), font_maps, forms,
                        with_rules=with_rules,
                        drop_artifacts=drop_artifacts)


# ------------------------------------------------------- Spark kernel

RUNS_SCHEMA = (
    "doc_id string, run_idx int, kind string, text string, "
    "media_ref string, font string, size double, "
    "x double, y double, w double, h double")


def _fonts_to_json(fonts: dict) -> dict:
    def one(e):
        if not e:
            return None
        d = {"w": e[1], "m": {str(k): v for k, v in e[0].items()}}
        if len(e) > 2 and e[2] is not None:
            d["gw"] = {str(k): v for k, v in e[2].items()}
            d["dw"] = e[3]
        return d
    return {name: one(e) for name, e in fonts.items()}


def _form_to_json(spec: dict) -> dict:
    d: dict = {"t": spec["text"]}
    if "mtx" in spec:
        d["x"] = spec["mtx"]
    if "fonts" in spec:
        d["f"] = _fonts_to_json(spec["fonts"])
    if "forms" in spec:
        d["s"] = {n: _form_to_json(s) for n, s in spec["forms"].items()}
    return d


def fontmaps_json(fonts: dict, forms: dict) -> str:
    """One page's font maps and Form-XObject specs
    (`pdffile.PdfFile.page_font_maps` / ``page_forms`` entries) as the
    ``fontmaps`` column JSON :func:`tokenize_streams` reads:
    ``{font: {"w": width, "m": {code: text}, "gw"?, "dw"?}}`` plus the
    reserved key ``"__forms__"`` (``{name: {"t": content, "x": [6
    matrix nums]?, "f": {fonts}?, "s": {nested forms}?}}``); ``{}``
    when the page carries neither."""
    payload = _fonts_to_json(fonts)
    if forms:
        payload["__forms__"] = {n: _form_to_json(s)
                                for n, s in forms.items()}
    return json.dumps(payload, sort_keys=True) if payload else "{}"


def _fonts_from_json(d: dict) -> dict:
    def one(spec):
        if not spec:
            return None
        entry = ({int(k): v for k, v in spec["m"].items()},
                 int(spec["w"]))
        if "gw" in spec:
            entry += ({int(k): float(v) for k, v in spec["gw"].items()},
                      float(spec.get("dw", 0.0)))
        return entry
    return {name: one(spec) for name, spec in d.items()}


def _form_from_json(spec: dict) -> dict:
    out: dict = {"text": spec.get("t") or ""}
    if spec.get("x"):
        out["mtx"] = tuple(spec["x"])
    if "f" in spec:
        out["fonts"] = _fonts_from_json(spec["f"])
    if "s" in spec:
        out["forms"] = {n: _form_from_json(s) for n, s in spec["s"].items()}
    return out


def fontmaps_from_json(js: str | None, memo: dict) -> tuple:
    """Inverse of :func:`fontmaps_json`: ``(font_maps, forms)`` for
    :func:`extract_runs`, each None when absent.  Identical payloads
    deserialize once per ``memo`` (documents sharing embedded fonts
    are the common case)."""
    if not js or js == "{}":
        return (None, None)
    if js not in memo:
        d = json.loads(js)
        fspecs = d.pop("__forms__", None)
        memo[js] = (_fonts_from_json(d) if d else None,
                    {n: _form_from_json(s) for n, s in fspecs.items()}
                    if fspecs else None)
    return memo[js]


def tokenize_streams(docs: DataFrame, maps_col: str | None = None,
                     with_rules: bool = False,
                     drop_artifacts: bool = False) -> DataFrame:
    """Batched byte-stream tokenization: (doc_id, stream) -> exploded
    positioned runs, ONE map-only ``mapInArrow`` pass (Arrow batches on
    both edges, no shuffle — the plan-shape test asserts zero
    Exchange).

    ``maps_col`` names an optional JSON column of per-row font maps
    and Form-XObject specs (the :func:`fontmaps_json` shape
    `pdffile.pages_from_files` emits): shown strings of mapped fonts
    decode glyph codes to text inside the same pass, and ``Do`` on a
    listed form executes the form content in place instead of
    emitting a media run.

    ``with_rules=True`` interleaves painted axis-aligned path
    segments as ``kind='rule'`` rows (see :func:`machine_runs`) for
    ruled-table detection; run_idx then numbers rules and text/media
    together, so leave it False (the default, byte-identical output)
    unless the consumer is rulings-aware
    (`layout.detect_ruled_tables`).  ``drop_artifacts=True``
    suppresses §14.8 /Artifact-tagged content (pagination chrome) —
    see :func:`machine_runs`."""
    import pyarrow as pa

    fields = [("doc_id", pa.string()), ("run_idx", pa.int32()),
              ("kind", pa.string()), ("text", pa.string()),
              ("media_ref", pa.string()), ("font", pa.string()),
              ("size", pa.float64()), ("x", pa.float64()),
              ("y", pa.float64()), ("w", pa.float64()),
              ("h", pa.float64())]
    out_schema = pa.schema(fields)

    def _tokenize_batches(batches: Iterator["pa.RecordBatch"]
                          ) -> Iterator["pa.RecordBatch"]:
        memo: dict = {}
        for batch in batches:
            ids = batch.column(0).to_pylist()
            streams = batch.column(1).to_pylist()
            maps_js = (batch.column(2).to_pylist() if maps_col
                       else [None] * len(ids))
            cols: list[list] = [[] for _ in fields]
            for doc_id, stream, js in zip(ids, streams, maps_js):
                fmaps, forms = fontmaps_from_json(js, memo)
                for idx, run in enumerate(
                        extract_runs(stream or "", fmaps, forms,
                                     with_rules=with_rules,
                                     drop_artifacts=drop_artifacts)):
                    cols[0].append(doc_id)
                    cols[1].append(idx)
                    for j, v in enumerate(run, start=2):
                        cols[j].append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=t) for c, (_, t) in zip(cols, fields)],
                schema=out_schema)

    sel_cols = [F.col("doc_id").cast("string").alias("doc_id"),
                F.col("stream")]
    if maps_col:
        sel_cols.append(F.col(maps_col).alias("fontmaps"))
    sel = docs.select(*sel_cols)
    return sel.mapInArrow(_tokenize_batches, schema=RUNS_SCHEMA)


# ------------------------------------------------ span bridge kernel

def doc_spans(pages: list[list[tuple]], *, page_height: float = 792.0,
              y_tol: float = 3.0, gap_tol: float = 10.0,
              with_fonts: bool = False,
              space_frac: float | None = 0.3,
              detect_tables: bool = False, col_gap: float = 18.0,
              col_tol: float = 6.0,
              drop_artifacts: bool = False) -> list[dict]:
    """One document -> its contract spans (options and defaults as in
    :func:`pdf_to_spans`): ``pages`` in page order, each a list of
    ``(stream, font_maps, forms)`` content streams that share that
    page's coordinate space.  Each page is tokenized
    (:func:`extract_runs`), flipped to y-down (top = ``(page_height -
    y) - h``, bottom = ``page_height - y``) and laid out by
    `layout.layout_page`; offsets run gaplessly across the pages."""
    from .layout import layout_page

    H = float(page_height)
    spans: list[dict] = []
    for page in pages:
        runs = [(text, x, (H - y) - h, x + w, H - y, size, font,
                 mref if kind == "media" else None)
                for stream, fonts, forms in page
                for kind, text, mref, font, size, x, y, w, h
                in extract_runs(stream or "", fonts, forms,
                                drop_artifacts=drop_artifacts)]
        for kind, text, mref, font, size in layout_page(
                runs, y_tol=y_tol, gap_tol=gap_tol,
                space_frac=space_frac, with_fonts=with_fonts,
                detect_tables=detect_tables, col_gap=col_gap,
                col_tol=col_tol):
            span = {"kind": kind, "text": text or "",
                    "media_ref": mref or "", "offset": len(spans)}
            if with_fonts:
                span["font"], span["size"] = font or "", size
            spans.append(span)
    return spans


def spans_pass(rows: DataFrame, pages_of, *, with_fonts: bool = False,
               **kw) -> DataFrame:
    """(doc_id, payload) rows -> (doc_id, spans array<struct<kind,
    text,media_ref,offset[,font,size]>>) in ONE map-only
    ``mapInArrow``: ``pages_of(payload, memo)`` turns a row's payload
    into the :func:`doc_spans` page list (None drops the row), and a
    document with no spans emits no row.  ``kw`` forwards to
    :func:`doc_spans`."""
    import inspect

    import pyarrow as pa

    inspect.signature(doc_spans).bind(None, with_fonts=with_fonts, **kw)

    fields = [("kind", pa.string()), ("text", pa.string()),
              ("media_ref", pa.string()), ("offset", pa.int32())]
    if with_fonts:
        fields += [("font", pa.string()), ("size", pa.float64())]
    span_t = pa.list_(pa.struct(fields))
    schema = pa.schema([("doc_id", pa.string()), ("spans", span_t)])
    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int"
           + (",font:string,size:double" if with_fonts else "") + ">>")

    def _lay_out(batches: Iterator["pa.RecordBatch"]
                 ) -> Iterator["pa.RecordBatch"]:
        memo: dict = {}
        for batch in batches:
            ids, out = [], []
            for doc_id, payload in zip(batch.column(0).to_pylist(),
                                       batch.column(1).to_pylist()):
                pages = pages_of(payload, memo)
                spans = doc_spans(pages, with_fonts=with_fonts, **kw) \
                    if pages else None
                if spans:
                    ids.append(doc_id)
                    out.append(spans)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.string()),
                 pa.array(out, type=span_t)], schema=schema)

    return rows.mapInArrow(_lay_out, schema=ddl)


def pdf_to_spans(docs: DataFrame, stream_col: str = "stream",
                 id_col: str = "doc_id", page_height: float = 792.0,
                 y_tol: float = 3.0, gap_tol: float = 10.0,
                 with_fonts: bool = False,
                 page_col: str | None = None,
                 maps_col: str | None = None,
                 space_frac: float | None = 0.3,
                 detect_tables: bool = False,
                 col_gap: float = 18.0,
                 col_tol: float = 6.0,
                 drop_artifacts: bool = False) -> DataFrame:
    """Bridge a content-stream corpus onto the contract span schema
    (BASELINE.json input_hint), the exact analog of
    ``operators/html.py html_to_spans`` for the PDF side: tokenize ->
    layout (lines/blocks) -> one 'text' span per block + interleaved
    'media' spans, gapless 0-based offsets — so ``plans/fused.py
    assemble_fused`` and everything downstream runs unchanged on raw
    content streams.

    Returns (doc_id, spans array<struct<kind,text,media_ref,offset>>).
    ``with_fonts=True`` appends the optional C2 attributes ``font``
    (block dominant font name) and ``size`` (block max size) to each
    span struct — ``plans/extraction.py explode_spans`` then derives
    bold/italic formatting priority (bold names, size > 12pt, italic
    names) end-to-end from the raw content stream.

    ``space_frac`` (default 0.3) is the em-relative word-gap threshold
    forwarded to line assembly: consecutive show-string runs on a line
    join WITHOUT a space unless the horizontal gap between them
    exceeds ``space_frac`` × font size (pdfplumber's ``x_tolerance``
    semantic) — so a kerned TJ split mid-word stays one word while
    inter-word kerns and Td hops still separate.  ``None`` restores
    the positioned-word contract (every run boundary a word boundary).

    ``detect_tables=True`` adds geometric table recovery (pdfplumber
    'text'-strategy analog): lines whose wide-gap cell positions
    repeat across ≥2 adjacent lines emit as ' | '-joined table_row
    spans, which classify_spans routes into the S5/C6/T6 table
    chain — so drawn tables in raw PDFs become queryable cost tables
    end-to-end.  ``col_gap``/``col_tol`` are the cell-split gap and
    the column-agreement quantum, in points.

    ``drop_artifacts=True`` suppresses §14.8 /Artifact-tagged content
    — the pagination chrome (running headers/footers, page numbers,
    watermarks) tagged PDFs label explicitly.  This is the PDF-side
    boilerplate strip: where the HTML bridge classifies nav/chrome
    blocks heuristically, tagged PDFs declare theirs, so the tagged
    path is exact.  Untagged corpora are unaffected (no BDC scopes).

    ``maps_col`` names an optional :func:`fontmaps_json` column
    (font maps and Form XObjects per row).  ``page_col`` names an
    optional page-number column for corpora that arrive one content
    stream per PAGE (real PDFs): each page is laid out in its OWN
    coordinate space (page 2's y=700 must not interleave with page
    1's) and spans are ordered (page, reading order); without it all
    of a document's rows share one coordinate space.

    Plan (asserted in tests/test_plan_shapes.py): ONE hash exchange,
    keyed on doc_id, that gathers each document's stream rows; the
    tokenize -> per-page `layout.layout_page` -> offset kernel then
    runs in-process on the grouped rows (:func:`spans_pass`).  Rows
    that already hold a whole file need no exchange at all — see
    `pdffile.files_to_spans`."""
    page = (F.col(page_col).cast("long") if page_col
            else F.lit(None).cast("long"))
    maps = (F.col(maps_col).cast("string") if maps_col
            else F.lit(None).cast("string"))
    rows = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                       F.struct(page.alias("page"),
                                F.col(stream_col).alias("stream"),
                                maps.alias("maps")).alias("row")) \
        .groupBy("doc_id").agg(F.collect_list("row").alias("rows"))

    def pages_of(rows: list[dict], memo: dict) -> list[list[tuple]]:
        by_page: dict = {}
        for r in rows:
            by_page.setdefault(r["page"], []).append(
                (r["stream"], *fontmaps_from_json(r["maps"], memo)))
        return [by_page[p] for p in
                sorted(by_page, key=lambda p: (p is not None, p or 0))]

    return spans_pass(rows, pages_of, page_height=page_height,
                      y_tol=y_tol, gap_tol=gap_tol,
                      with_fonts=with_fonts, space_frac=space_frac,
                      detect_tables=detect_tables, col_gap=col_gap,
                      col_tol=col_tol, drop_artifacts=drop_artifacts)


def ruled_table_rows(docs: DataFrame, **kwargs) -> DataFrame:
    """(doc_id, stream) content streams -> ruled-table rows: the
    pdfplumber-default 'lines' table strategy end-to-end (the reference's
    ``page.extract_tables()``, `src/table_extractor.py:9-56`, over
    bordered report tables).  One map-only tokenize pass with
    ``with_rules=True`` (drawn grid lines emit as rule runs alongside
    the text), then ``layout.detect_ruled_tables`` recovers the cell
    grid from the rulings.  ``kwargs`` forward to the detector
    (snap_tol/join_tol/row_gap/min_rows/min_cols).

    Returns (doc_id, tbl_idx, row_idx, n_rows, n_cols, table_text);
    ``table_text`` is the ' | '-joined TABLE_ROW_MARKER shape, so the
    rows can re-enter the S5/C6/T6 table chain as ``table_row`` spans.
    """
    from .layout import detect_ruled_tables

    runs = tokenize_streams(docs, with_rules=True)
    return detect_ruled_tables(runs, **kwargs)
