"""Differential fuzz harness (committed so the campaign is
reproducible — usage: python tools/fuzz.py pdfstream LO HI):
operators/pdfstream.py (regex lexer + 6-tuple matrix machine) vs an
independently-written twin (char-by-char lexer, numpy homogeneous
3x3 matrices), on random content streams covering the full operator
set: q/cm/Q nesting, Tf/Td/TD/Tm/TL/T*, Tc/Tw/Tz spacing, Tj/'/"/TJ
shows with kern arrays, Do placements, literal-string escapes
(incl. octal + continuations), hex strings, comments, inline dicts,
unknown ops and stray Q/ET — plus a path axis (drawn after all
other axes so historical seeds keep their streams): m/l/re/h
construction, curve point-moves, S/s/f/F/f*/B/B*/b/b* painting and
W n clip-discards, checked against with_rules=True rule emission.

All generated numeric values live on dyadic grids (multiples of
0.25; kerns multiples of 125 so v/1000 is dyadic; Tz in
{25,50,100,200}) so both implementations compute bit-identical
float64 despite different association orders — any mismatch is a
semantic divergence, not FP noise.
"""
from __future__ import annotations

import random

import numpy as np

WS = " \t\r\n\f\x00"
DELIM = "()<>[]{}/%"
ESC = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
       "(": "(", ")": ")", "\\": "\\"}


# ------------------------------------------------- twin lexer (no regex)

def twin_lex(s: str):
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in WS:
            i += 1
        elif c == "%":
            while i < n and s[i] not in "\r\n":
                i += 1
        elif c == "(":
            buf, depth = [], 1
            i += 1
            while i < n and depth:
                ch = s[i]
                if ch == "\\":
                    i += 1
                    if i >= n:
                        break
                    e = s[i]
                    if e in ESC:
                        buf.append(ESC[e])
                        i += 1
                    elif e in "01234567":
                        j = i
                        while j < n and j - i < 3 and s[j] in "01234567":
                            j += 1
                        buf.append(chr(int(s[i:j], 8) & 0xFF))
                        i = j
                    elif e == "\n":
                        i += 1
                    elif e == "\r":
                        i += 2 if s[i:i + 2] == "\r\n" else 1
                    else:
                        buf.append(e)
                        i += 1
                elif ch == "(":
                    depth += 1
                    buf.append(ch)
                    i += 1
                elif ch == ")":
                    depth -= 1
                    if depth:
                        buf.append(ch)
                    i += 1
                else:
                    buf.append(ch)
                    i += 1
            yield ("str", "".join(buf))
        elif c == "<" and s[i:i + 2] == "<<":
            yield ("op", "<<")
            i += 2
        elif c == "<":
            j = i + 1
            while j < n and s[j] != ">":
                j += 1
            body = s[i + 1:j]
            # main lexer's hex class is [0-9A-Fa-f\s]; on any other
            # content the regex fails and only the '<' byte is skipped
            if j < n and all(ch in "0123456789abcdefABCDEF \t\n\r\f\v"
                             for ch in body):
                h = "".join(ch for ch in body
                            if ch not in " \t\n\r\f\v")
                if len(h) % 2:
                    h += "0"
                yield ("str", "".join(chr(int(h[k:k + 2], 16))
                                      for k in range(0, len(h), 2)))
                i = j + 1
            else:
                i += 1
        elif c == ">" and s[i:i + 2] == ">>":
            yield ("op", ">>")
            i += 2
        elif c == "[":
            yield ("[", None)
            i += 1
        elif c == "]":
            yield ("]", None)
            i += 1
        elif c == "/":
            j = i + 1
            while j < n and s[j] not in WS and s[j] not in DELIM:
                j += 1
            raw = s[i + 1:j]
            # §7.3.5 #xx escapes, spelled independently of the main
            # lexer's regex (malformed #s pass through there too)
            buf, k = [], 0
            while k < len(raw):
                pair = raw[k + 1:k + 3]
                if raw[k] == "#" and len(pair) == 2 and all(
                        ch in "0123456789abcdefABCDEF" for ch in pair):
                    buf.append(chr(int(pair, 16)))
                    k += 3
                else:
                    buf.append(raw[k])
                    k += 1
            yield ("name", "".join(buf))
            i = j
        else:
            if c in "+-0123456789.":
                # main regex: [+-]?(\d+\.\d*|\.\d+|\d+) — one optional
                # sign, at most one dot, at least one digit; else the
                # run lexes as an op (or the byte is skipped)
                j = i + (1 if c in "+-" else 0)
                k = j
                while k < n and s[k].isdigit():
                    k += 1
                if k < n and s[k] == ".":
                    k += 1
                    while k < n and s[k].isdigit():
                        k += 1
                if any(ch.isdigit() for ch in s[j:k]):
                    yield ("num", float(s[i:k]))
                    i = k
                    continue
            j = i
            while j < n and s[j] not in WS and s[j] not in DELIM:
                j += 1
            if j > i:
                op = s[i:j]
                i = j
                if op == "ID":
                    # inline image payload: char-scan (independent of
                    # the main lexer's regex) for the first EI with
                    # whitespace on both sides or at stream end
                    k = i
                    while k < n:
                        if (s[k:k + 2] == "EI"
                                and (k == 0 or s[k - 1] in WS)
                                and (k + 2 >= n or s[k + 2] in WS)):
                            break
                        k += 1
                    i = min(k + 2, n)
                    yield ("op", "__inline_image__")
                else:
                    yield ("op", op)
            else:
                i += 1


# ------------------------- twin machine (homogeneous row-vector numpy)

def _m(a, b, c, d, e, f):
    return np.array([[a, b, 0.0], [c, d, 0.0], [e, f, 1.0]])


def _t(tx, ty):
    return _m(1.0, 0.0, 0.0, 1.0, tx, ty)


def twin_runs(stream: str, char_width: float = 0.5,
              font_maps: dict | None = None,
              drop_artifacts: bool = False) -> list[tuple]:
    I = np.eye(3)
    ctm = I.copy()
    stack: list[tuple] = []
    tm = tlm = I.copy()
    font, size = "", 0.0
    tc = tw = tl = 0.0
    tz = 100.0
    ops: list[tuple] = []
    runs: list[tuple] = []

    def nums():
        return [v for t, v in ops if t == "num"]

    def strs():
        return [v for t, v in ops if t == "str"]

    def names():
        return [v for t, v in ops if t == "name"]

    def show(text: str) -> None:
        nonlocal tm
        trm = tm @ ctm
        fmap = font_maps.get(font) if font_maps else None
        units = None
        # Tw applies to the byte CODE 32, pre-decode (§9.3.3): count
        # word spaces before any cmap substitution
        n_sp = text.count(" ")
        n_gl = len(text)
        if fmap is not None:
            cm = fmap[0]
            codes = [ord(c) for c in text]
            if cm:
                text = "".join(cm.get(c, "�") for c in codes)
            if len(fmap) > 2:
                gw, dw = fmap[2], fmap[3]
                units = sum(gw.get(c, dw) for c in codes) / 1000.0
        if units is not None:
            adv = (units * size + tc * n_gl
                   + tw * n_sp) * (tz / 100.0)
        else:
            adv = ((char_width * size + tc) * n_gl
                   + tw * n_sp) * (tz / 100.0)
        h = size * abs(tm[1, 1]) * abs(ctm[1, 1])
        if not hidden():
            runs.append(("text", text, None, font, h,
                         trm[2, 0], trm[2, 1],
                         adv * abs(tm[0, 0]) * abs(ctm[0, 0]), h))
        tm = _t(adv, 0.0) @ tm

    def td(tx, ty):
        nonlocal tm, tlm
        tlm = _t(tx, ty) @ tlm
        tm = tlm.copy()

    # §14.8 marked-content: independently-kept tag stack; suppression
    # = "any open scope is tagged Artifact"
    mcs: list[str] = []

    def hidden() -> bool:
        return drop_artifacts and any(t == "Artifact" for t in mcs)

    # §8.5 path state (independent of the main machine's tuple math:
    # homogeneous row vectors through the full 3x3 CTM)
    pth: list[tuple] = []
    curp: tuple | None = None
    sub: tuple | None = None

    def devp(x, y):
        v = np.array([x, y, 1.0]) @ ctm
        return (v[0], v[1])

    ddepth = 0  # property-dict swallow: mirror the main machine's
    # rule that << .. >> interiors are data and do not clear the
    # operands that precede the dict (the BDC tag name must survive)
    for kind, val in twin_lex(stream):
        if kind == "op" and val == "<<":
            ddepth += 1
            continue
        if ddepth:
            if kind == "op" and val == ">>":
                ddepth -= 1
            continue
        if kind != "op":
            ops.append((kind, val))
            continue
        try:
            if val == "q":
                stack.append((ctm.copy(), font, size, tc, tw, tl, tz))
            elif val == "Q":
                if stack:
                    ctm, font, size, tc, tw, tl, tz = stack.pop()
            elif val == "cm":
                a, b, c, d, e, f = nums()[-6:]
                ctm = _m(a, b, c, d, e, f) @ ctm
            elif val == "BT":
                tm = tlm = I.copy()
            elif val == "Tf":
                size = nums()[-1]
                if names():
                    font = names()[-1]
            elif val == "Td":
                a, b = nums()[-2:]
                td(a, b)
            elif val == "TD":
                a, b = nums()[-2:]
                tl = -b
                td(a, b)
            elif val == "Tm":
                a, b, c, d, e, f = nums()[-6:]
                tm = tlm = _m(a, b, c, d, e, f)
            elif val == "T*":
                td(0.0, -tl)
            elif val == "TL":
                tl = nums()[-1]
            elif val == "Tc":
                tc = nums()[-1]
            elif val == "Tw":
                tw = nums()[-1]
            elif val == "Tz":
                tz = nums()[-1]
            elif val == "Tj":
                if strs():
                    show(strs()[-1])
            elif val == "'":
                td(0.0, -tl)
                if strs():
                    show(strs()[-1])
            elif val == '"':
                nn = nums()[-2:]
                if len(nn) == 2:
                    tw, tc = nn
                td(0.0, -tl)
                if strs():
                    show(strs()[-1])
            elif val == "TJ":
                for t, v in ops:
                    if t == "str":
                        show(v)
                    elif t == "num":
                        tm = _t(-v / 1000.0 * size * (tz / 100.0),
                                0.0) @ tm
            elif val == "Do":
                if names() and not hidden():
                    runs.append(("media", None, names()[-1], font, 0.0,
                                 ctm[2, 0], ctm[2, 1],
                                 ctm[0, 0], ctm[1, 1]))
            elif val == "__inline_image__":
                if not hidden():
                    runs.append(("media", None, "[inline]", font, 0.0,
                                 ctm[2, 0], ctm[2, 1],
                                 ctm[0, 0], ctm[1, 1]))
            elif val in ("BDC", "BMC"):
                nm = names()
                mcs.append(nm[0] if nm else "")
            elif val == "EMC":
                if mcs:
                    mcs.pop()
            elif val == "m":
                x, y = nums()[-2:]
                curp = sub = devp(x, y)
            elif val == "l":
                x, y = nums()[-2:]
                p = devp(x, y)
                if curp is not None:
                    pth.append((curp, p))
                curp = p
            elif val == "re":
                x, y, rw, rh = nums()[-4:]
                c00, c10 = devp(x, y), devp(x + rw, y)
                c11, c01 = devp(x + rw, y + rh), devp(x, y + rh)
                pth.extend([(c00, c10), (c10, c11),
                            (c11, c01), (c01, c00)])
                curp = sub = c00
            elif val in ("c", "v", "y"):
                x, y = nums()[-2:]
                curp = devp(x, y)
            elif val == "h":
                if curp is not None and sub is not None:
                    pth.append((curp, sub))
                curp = sub
            elif val in ("S", "f", "F", "f*", "B", "B*",
                         "s", "b", "b*"):
                if val in ("s", "b", "b*") and curp is not None \
                        and sub is not None:
                    pth.append((curp, sub))
                for p0, p1 in (() if hidden() else pth):
                    ddx = abs(p1[0] - p0[0])
                    ddy = abs(p1[1] - p0[1])
                    if ddx <= 0.5 and ddy <= 0.5:
                        continue
                    if ddy <= 0.5:
                        runs.append(("rule", "h", None, "", 0.0,
                                     min(p0[0], p1[0]),
                                     min(p0[1], p1[1]), ddx, ddy))
                    elif ddx <= 0.5:
                        runs.append(("rule", "v", None, "", 0.0,
                                     min(p0[0], p1[0]),
                                     min(p0[1], p1[1]), ddx, ddy))
                pth.clear()
                curp = sub = None
            elif val == "n":
                pth.clear()
                curp = sub = None
        except (IndexError, ValueError, TypeError):
            pass
        ops.clear()
    return runs


# ----------------------------------------------------------- generator

TEXT_CHARS = "ab c()\\x %/<y\nz"
DY = [0.0, 0.25, 0.5, 1.0, 1.5, 2.0, 4.0, 12.0, 72.0, -0.5, -4.0, -14.0]
SIZES = [0.5, 1.0, 8.0, 10.5, 12.0, 18.0]
JUNK = ["gs", "re", "W", "n", "BDC", "EMC", "Tr", "Ts", "RG", "sc"]


def _lit(rng) -> str:
    """Random text rendered as a literal string: escaped content, raw
    octal escapes, continuations."""
    t = "".join(rng.choice(TEXT_CHARS)
                for _ in range(rng.randrange(0, 12)))
    out = t.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    if rng.random() < 0.3:
        out += rng.choice([r"\101", r"\61", "\\\n", r"\q"])
    return "(" + out + ")"


def _shows(rng) -> str:
    r = rng.random()
    if r < 0.4:
        return f"{_lit(rng)} Tj"
    if r < 0.55:
        return "<" + "".join(rng.choice("0123456789abcdefABCDEF ")
                             for _ in range(rng.randrange(0, 9))) + "> Tj"
    if r < 0.7:
        return f"{_lit(rng)} '"
    if r < 0.8:
        return (f"{rng.choice(DY)} {rng.choice(DY)} "
                f"{_lit(rng)} \"")
    parts = ["["]
    for _ in range(rng.randrange(0, 5)):
        parts.append(_lit(rng) if rng.random() < 0.6
                     else str(rng.randrange(-8, 8) * 125))
    parts.append("] TJ")
    return " ".join(parts)


def gen_stream(rng) -> str:
    parts: list[str] = []
    for _ in range(rng.randrange(1, 14)):
        r = rng.random()
        if r < 0.12:
            a, d = rng.choice([0.25, 0.5, 1.0, 2.0, 4.0]), \
                rng.choice([0.25, 0.5, 1.0, 2.0, 4.0])
            parts.append(f"q {a} 0 0 {d} "
                         f"{rng.randrange(-50, 800)} "
                         f"{rng.randrange(-50, 800)} cm")
        elif r < 0.2:
            parts.append("Q")
        elif r < 0.28:
            nm = rng.randrange(4)
            if rng.random() < 0.25:  # §7.3.5 escape: /X#3n == /Xn
                parts.append(f"/X#3{nm} Do")
            elif rng.random() < 0.8:
                parts.append(f"/X{nm} Do")
            else:
                parts.append("Do")
        elif r < 0.32:
            # inline image: binary payload full of lexer poison —
            # parens, backslashes, operator names, unguarded 'EI'
            # pairs ('xEIy' must NOT terminate) — ended by the
            # whitespace-delimited EI both implementations scan for
            payload = "".join(rng.choice(
                "()\\<>[]/%Tj BT q0.5xEIyQ\x00\t")
                for _ in range(rng.randrange(0, 30)))
            payload = payload.replace(" EI", " xI").replace(
                "\tEI", "\txI").replace("\x00EI", "\x00xI")
            if payload.startswith("EI"):  # ws after ID delimits too
                payload = "x" + payload[1:]
            parts.append(f"BI /W 4 /H 4 /BPC 8 /F /AHx ID {payload}"
                         f"{rng.choice([' ', chr(10)])}EI")
        elif r < 0.36:
            parts.append(rng.choice(
                ["% a comment (with parens", "<< /K (dict str) >>",
                 " ".join(str(rng.choice(DY))
                          for _ in range(rng.randrange(0, 3)))
                 + " " + rng.choice(JUNK)]))
        else:
            body = [f"/F{rng.randrange(3)} {rng.choice(SIZES)} Tf"]
            for _ in range(rng.randrange(0, 8)):
                rr = rng.random()
                if rr < 0.15:
                    body.append(f"{rng.choice(DY)} {rng.choice(DY)} Td")
                elif rr < 0.25:
                    body.append(f"{rng.choice(DY)} {rng.choice(DY)} TD")
                elif rr < 0.35:
                    body.append(
                        f"{rng.choice([0.5, 1, 2])} 0 0 "
                        f"{rng.choice([0.5, 1, 2])} "
                        f"{rng.randrange(0, 600)} "
                        f"{rng.randrange(0, 800)} Tm")
                elif rr < 0.45:
                    body.append(rng.choice(
                        [f"{rng.choice(DY)} TL", "T*",
                         f"{rng.choice([0.0, 0.25, 2.0])} Tc",
                         f"{rng.choice([0.0, 0.5, 4.0])} Tw",
                         f"{rng.choice([25, 50, 100, 200])} Tz"]))
                elif rr < 0.55 and rng.random() < 0.5:
                    body.append(f"/I{rng.randrange(3)} Do")
                else:
                    body.append(_shows(rng))
            parts.append("BT " + " ".join(body)
                         + (" ET" if rng.random() < 0.9 else ""))
    return " ".join(parts)


_MAP_CHARS = sorted(set(TEXT_CHARS))
_W_CHOICES = [0.0, 250.0, 500.0, 750.0, 1000.0, 1250.0]


def gen_maps(rng) -> dict | None:
    """Random font-map table for /F0../F2 (drawn AFTER gen_stream so
    historical seeds keep their streams): identity or partial 1-byte
    cmaps (single-char values — multi-char expansions are a CMap
    feature the positional fuzz would conflate with advances), and
    random /Widths tables with a random MissingWidth, including
    width-0 glyphs and maps that remap or produce spaces (Tw must
    key on the pre-decode byte code)."""
    if rng.random() < 0.5:
        return None
    maps: dict = {}
    for i in range(3):
        r = rng.random()
        if r < 0.35:
            continue
        cm = {} if rng.random() < 0.5 else {
            ord(c): rng.choice("XY Z*�")
            for c in rng.sample(_MAP_CHARS, 5)}
        entry: tuple = (cm, 1)
        if rng.random() < 0.7:
            gw = {ord(c): rng.choice(_W_CHOICES)
                  for c in rng.sample(_MAP_CHARS,
                                      rng.randrange(1, 9))}
            entry += (gw, rng.choice([0.0, 250.0, 500.0, 750.0]))
        maps[f"F{i}"] = entry
    return maps or None


_PAINTS = ["S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "n"]


def _pc(rng) -> str:
    """Dyadic path coordinate (ints and halves stay exact under the
    dyadic cm factors)."""
    return str(rng.randrange(-100, 1600) / 2)


def gen_paths(rng) -> str:
    """Path-axis suffix (drawn AFTER gen_maps so historical seeds
    keep their streams): m/l chains incl. axis-aligned and diagonal
    segments, h closes, re rects (incl. degenerate zero-extent),
    curve point-moves, every paint/discard operator, CTM changes
    mid-path, and malformed operand lists both machines must skip
    identically."""
    if rng.random() < 0.25:
        return ""
    parts: list[str] = []
    for _ in range(rng.randrange(1, 12)):
        r = rng.random()
        if r < 0.10:
            a, d = rng.choice([0.25, 0.5, 1.0, 2.0]), \
                rng.choice([0.25, 0.5, 1.0, 2.0])
            parts.append(f"q {a} 0 0 {d} {_pc(rng)} {_pc(rng)} cm")
        elif r < 0.15:
            parts.append("Q")
        elif r < 0.40:
            seg = [f"{_pc(rng)} {_pc(rng)} m"]
            x, y = _pc(rng), _pc(rng)
            for _ in range(rng.randrange(1, 5)):
                rr = rng.random()
                if rr < 0.4:    # axis-aligned horizontal
                    x = _pc(rng)
                elif rr < 0.8:  # axis-aligned vertical
                    y = _pc(rng)
                else:           # diagonal
                    x, y = _pc(rng), _pc(rng)
                seg.append(f"{x} {y} l")
            if rng.random() < 0.3:
                seg.append("h")
            parts.append(" ".join(seg))
        elif r < 0.55:
            w = rng.choice(["0", _pc(rng)])
            h = rng.choice(["0", _pc(rng)])
            parts.append(f"{_pc(rng)} {_pc(rng)} {w} {h} re")
        elif r < 0.62:
            parts.append(f"{_pc(rng)} {_pc(rng)} {_pc(rng)} "
                         f"{_pc(rng)} {_pc(rng)} {_pc(rng)} c")
        elif r < 0.67:
            parts.append(f"{_pc(rng)} {_pc(rng)} {_pc(rng)} "
                         f"{_pc(rng)} v")
        elif r < 0.85:
            if rng.random() < 0.3:
                parts.append("W")
            parts.append(rng.choice(_PAINTS))
        else:  # malformed operand lists: skipped by both machines
            parts.append(rng.choice(
                ["l", f"{_pc(rng)} re", "m", f"{_pc(rng)} l",
                 f"{_pc(rng)} {_pc(rng)} {_pc(rng)} re"]))
    return " ".join(parts)


_TAGS = ["/Artifact", "/Artifact << /Type /Pagination >> ",
         "/Artifact << /Subtype /Header /Attached [/Top] >> ",
         "/P << /MCID 3 >> ", "/Span", "/Figure << /Alt (img) >> "]


def gen_marks(rng) -> str:
    """Marked-content axis (drawn after gen_paths so earlier seeds
    keep their streams): BDC/BMC scopes — artifact and structural,
    bare and property-dict tagged — wrapping shows, placements and
    paths, with unbalanced/stray EMC cases.  Checked in BOTH modes
    (drop_artifacts on and off) against the twin."""
    if rng.random() < 0.3:
        return ""
    parts: list[str] = []
    depth = 0
    for _ in range(rng.randrange(1, 10)):
        r = rng.random()
        if r < 0.3:
            tag = rng.choice(_TAGS)
            parts.append(f"{tag} {rng.choice(['BDC', 'BMC'])}")
            depth += 1
        elif r < 0.45:
            parts.append("EMC")  # may be stray: both must tolerate
            depth -= 1
        elif r < 0.7:
            parts.append(f"BT /F{rng.randrange(3)} "
                         f"{rng.choice(SIZES)} Tf "
                         f"{rng.choice(DY)} {rng.choice(DY)} Td "
                         + _shows(rng) + " ET")
        elif r < 0.85:
            parts.append(f"{_pc(rng)} {_pc(rng)} m "
                         f"{_pc(rng)} {_pc(rng)} l S")
        else:
            parts.append(f"q 1 0 0 1 {rng.choice(DY)} "
                         f"{rng.choice(DY)} cm /I{rng.randrange(3)} "
                         f"Do Q")
    return " ".join(parts)


def gen_case(seed: int) -> tuple[str, dict | None]:
    """(content stream, font maps) of one seed: every axis in the
    order it was added, so earlier seeds keep their streams."""
    rng = random.Random(77000 + seed)
    stream = gen_stream(rng)
    maps = gen_maps(rng)
    stream = (stream + " " + gen_paths(rng)).rstrip()
    stream = (stream + " " + gen_marks(rng)).rstrip()
    return stream, maps
