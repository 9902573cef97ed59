"""Structural fuzz harness for the whole-PDF-file layer (committed so
the campaign is reproducible — usage: python tools/fuzz.py pdffile LO HI):
a randomized generalized writer emits files whose correct parse is
known BY CONSTRUCTION, then `operators/pdffile.PdfFile` must recover
exactly the expected per-page content streams, title, revision count
and xref flavor.  Unlike the fixed `build_pdf` used by the oracle
gates, every structural axis is randomized per seed:

- object NUMBERS are random non-contiguous draws from 1..300 (classic
  xref tables get multiple subsections; xref streams get multi-pair
  /Index arrays);
- the page tree nests randomly up to depth 3 with random fan-out;
- /Contents is a single stream or an ARRAY of up to 3 part-streams
  (parts must re-join with a newline);
- each stream independently picks one of the seven encodings of
  ``pdffile._ENCODINGS`` (none/Flate/AHx/A85/RL/LZW or the [AHx Fl]
  chain); xref streams flip a PNG-Up predictor coin;
- /Length is sometimes an INDIRECT reference to an int object that
  may live elsewhere in the file (forward resolution through the
  xref);
- stream data sometimes embeds the literal bytes ``endstream`` or
  ``%%EOF`` — a correct /Length must win over keyword scanning;
- 0-2 incremental updates, each revising the /Info title and (p=.5)
  overwriting one page's content stream object — the newest-wins
  /Prev chain must surface the LAST revision;
- for xref-stream files, a random subset of non-stream objects
  (including page/pages nodes) moves into an ObjStm;
- with p=.25 the whole file is ENCRYPTED (standard handler, empty
  user password) under a random cipher from the full ladder —
  RC4-40/R2, RC4-128/R3, AES-128/R4 (/AESV2, random IVs), or
  AES-256/R6 (/AESV3, salt pool so the 2.B hash amortizes through
  its cache): every stream and the Info title carry ciphertext,
  composed with every filter choice, both xref flavors, and the
  update axis;
- random comments and whitespace are injected between objects;
- navigation axis (p=.6 outlines / p=.5 attachments): a random
  outline tree (nested /First//Next//Prev chains, /Dest arrays vs
  /A GoTo actions, destination-less items) and an embedded-files
  name tree (random /Kids nesting) — expected rows recorded at
  construction time in display order; on encrypted seeds every nav
  string (titles, filespec names, name-tree keys) is ciphertext
  under its object's key like any other string.
- resources axis (p=.5 per page): a /Resources dict (inline or
  indirect) carrying randomized FONTS — plain (no map expected),
  /Encoding base Name, /Encoding dict with a random /Differences
  array (sometimes indirect), a /ToUnicode bfchar CMap through the
  full filter/encryption ladder, or BOTH (§9.10.2: ToUnicode must
  win) — with p=.4 object sharing across pages (the resolution
  cache), and FORM XOBJECTS — random /Matrix, own font / nested-form
  / image resources up to depth 2, p=.15 a self-referential form
  (the cycle guard must omit it, not hang) — checked against
  by-construction `page_font_maps()` / `page_forms()` expectations.

Any divergence is a real parser bug: there is no floating point here.
"""
from __future__ import annotations

import hashlib
import random

from pdf_extraction_spark.functions.aes import (cbc_encrypt,
                                                cbc_encrypt_raw)
from pdf_extraction_spark.functions.glyphlist import encoding_map
from pdf_extraction_spark.operators.pdffile import (
    _ENCODINGS, _HEADER, _emit, _lit_bytes, _objstm, _runs, _startxref,
    _stream_obj, _xref_row, _xref_stream, _xref_table, object_key, r6_hash,
    rc4, std_file_key, std_o_entry, std_u_entry)

CHARS = ("abcdefghijklmnop qrstuvwxyz0123456789 ()\\<>[]/% \n\t"
         "BT ET Tj .,-+")


def rand_content(rng: random.Random) -> bytes:
    n = rng.randrange(20, 200)
    s = "".join(rng.choice(CHARS) for _ in range(n))
    if rng.random() < 0.15:  # keyword bait: /Length must win the scan
        cut = rng.randrange(len(s) + 1)
        s = s[:cut] + rng.choice(["endstream", "%%EOF", "endobj"]) \
            + s[cut:]
    return s.encode("latin-1")


def encode_stream(rng: random.Random, data: bytes) -> tuple[bytes, str]:
    """Pick a random filter; return (encoded, /Filter clause)."""
    encode, clause = _ENCODINGS[rng.randrange(len(_ENCODINGS))]
    return encode(data), clause


class Writer:
    """One randomized PDF build; records ground truth as it goes."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.nums = rng.sample(range(1, 301), 200)  # draw pool
        self.next_i = 0
        self.bodies: dict[int, bytes] = {}       # num -> body (no hdr)
        self.stream_nums: set[int] = set()
        self.length_refs: dict[int, int] = {}    # length-obj -> value
        self.fkey: bytes | None = None           # encryption axis
        self.cipher = "rc4"                      # rc4|aes|aes256

    def alloc(self) -> int:
        num = self.nums[self.next_i]
        self.next_i += 1
        return num

    def add(self, body: bytes, is_stream: bool = False) -> int:
        num = self.alloc()
        self.bodies[num] = body
        if is_stream:
            self.stream_nums.add(num)
        return num

    def enc_bytes(self, num: int, data: bytes) -> bytes:
        """Cipher-correct object encryption for the active axis."""
        if self.cipher == "aes256":  # file key direct, random IV
            iv = bytes(self.rng.randrange(256) for _ in range(16))
            return cbc_encrypt(self.fkey, iv, data)
        if self.cipher == "aes":
            iv = bytes(self.rng.randrange(256) for _ in range(16))
            return cbc_encrypt(object_key(self.fkey, num, 0, aes=True),
                               iv, data)
        return rc4(object_key(self.fkey, num, 0), data)

    def add_stream(self, data: bytes, extra: str = "",
                   num: int | None = None) -> int:
        if num is None:  # preallocated num: self-referential bodies
            num = self.alloc()
        enc, filt = encode_stream(self.rng, data)
        if self.fkey is not None:  # encrypt AFTER filter-encoding
            enc = self.enc_bytes(num, enc)
        if self.rng.random() < 0.3:  # indirect /Length
            lnum = self.add(str(len(enc)).encode())
            ldecl = f"{lnum} 0 R"
        else:
            ldecl = str(len(enc))
        self.bodies[num] = (
            f"<< /Length {ldecl}{filt}{extra} >>\nstream\n"
            .encode("latin-1") + enc + b"\nendstream")
        self.stream_nums.add(num)
        return num


def build_tree(w: Writer, page_content_nums: list[list[int]],
               parent_decl: bytes | None, depth: int,
               pages: list[int],
               page_obj_nums: dict[int, int] | None = None) -> int:
    """Create a /Pages node over `pages` (indices into
    page_content_nums), randomly nesting; returns its object num."""
    rng = w.rng
    kid_decls = []
    kid_nums = []
    groups: list[list[int]] = []
    i = 0
    while i < len(pages):
        take = rng.randrange(1, len(pages) - i + 1)
        groups.append(pages[i:i + take])
        i += take
    node_num = w.alloc()
    for g in groups:
        if len(g) == 1 or depth >= 3 or rng.random() < 0.5:
            for p in g:
                contents = page_content_nums[p]
                if len(contents) == 1 and rng.random() < 0.5:
                    c_decl = f"{contents[0]} 0 R"
                else:
                    c_decl = "[" + " ".join(f"{c} 0 R"
                                            for c in contents) + "]"
                pnum = w.add(
                    (f"<< /Type /Page /Parent {node_num} 0 R "
                     f"/Contents {c_decl} >>").encode("latin-1"))
                if page_obj_nums is not None:
                    page_obj_nums[p] = pnum
                kid_nums.append(pnum)
        else:
            sub = build_tree(w, page_content_nums, None, depth + 1, g,
                             page_obj_nums)
            w.bodies[sub] = w.bodies[sub].replace(
                b"/Type /Pages",
                f"/Type /Pages /Parent {node_num} 0 R"
                .encode("latin-1"), 1)
            kid_nums.append(sub)
    kids = "[" + " ".join(f"{k} 0 R" for k in kid_nums) + "]"
    w.bodies[node_num] = (
        f"<< /Type /Pages /Kids {kids} /Count {len(pages)} >>"
        ).encode("latin-1")
    return node_num


def serialize(w: Writer, root: int, info: int, use_xref_stream: bool,
              rng: random.Random, trailer_extra: str = ""
              ) -> tuple[bytearray, dict[int, int], int]:
    """Emit header + all objects (random order, random junk between),
    then the xref; returns (buffer, offsets, xref_offset).
    ``trailer_extra`` is appended to the trailer dict (classic) or the
    XRef stream dict (the trailer of that flavor) — the encryption
    axis injects ``/Encrypt``+``/ID`` through it."""
    out = bytearray(_HEADER)
    offsets: dict[int, int] = {}
    order = list(w.bodies)
    rng.shuffle(order)

    objstm_members: list[int] = []
    # encrypted cases skip ObjStm membership: member strings would
    # need the CONTAINER's object key, a layout the deterministic
    # writer keeps out of scope (mirrors build_pdf_encrypted)
    if use_xref_stream and w.fkey is None:
        candidates = [n for n in order if n not in w.stream_nums
                      and n not in (root,)]
        rng.shuffle(candidates)
        objstm_members = sorted(candidates[:rng.randrange(
            0, min(5, len(candidates)) + 1)])

    def junk() -> bytes:
        if rng.random() < 0.4:
            return b"\n% " + b"fuzz" * rng.randrange(1, 4) + b"\n"
        return b"\n" * rng.randrange(1, 3)

    for num in order:
        if num in objstm_members:
            continue
        out += junk()
        offsets[num] = _emit(out, num, w.bodies[num])

    size = max(w.bodies, default=0) + 1
    trailer = f"/Root {root} 0 R /Info {info} 0 R"
    if not use_xref_stream:
        # hybrid-reference axis (§7.5.8.4): with p=.3 a random subset
        # of plain objects moves into an ObjStm reachable only via the
        # /XRefStm stream; the classic table omits them entirely
        stm_decl = ""
        hybrid = [n for n in order if n not in w.stream_nums
                  and n != root and n in offsets]
        rng.shuffle(hybrid)
        hybrid = sorted(hybrid[:rng.randrange(0, 4)]) \
            if rng.random() < 0.3 and w.fkey is None else []
        if hybrid:
            # strip the plain copies: re-emit would be simpler, but
            # leaving them orphaned in the body is exactly what real
            # hybrid writers do after an update — the table must not
            # point at them, and the parser must not scan for them
            for num in hybrid:
                del offsets[num]
            objstm_num = w.alloc()
            offsets[objstm_num] = _emit(
                out, objstm_num, _objstm([(n, w.bodies[n]) for n in hybrid]))
            xnum = w.alloc()
            size = max(size, xnum + 1)
            xrefstm_off = len(out)
            rows = {n: _xref_row(2, objstm_num, k)
                    for k, n in enumerate(hybrid)}
            rows[objstm_num] = _xref_row(1, offsets[objstm_num], 0)
            rows[xnum] = _xref_row(1, xrefstm_off, 0)
            # one /Index pair per object, sorted (valid per spec,
            # exercises many-pair parsing)
            _emit(out, xnum, _xref_stream(
                rows, [(n, 1) for n in sorted(rows)], size, trailer,
                False, ""))
            stm_decl = f" /XRefStm {xrefstm_off}"
        # one subsection per consecutive run
        xref_off = _xref_table(
            out, offsets, [(0, 1)] + _runs(offsets),
            f"/Size {size} {trailer}{stm_decl}{trailer_extra}")
        return out, offsets, xref_off

    # xref-stream flavor: optional ObjStm + the XRef stream object
    rows: dict[int, bytes] = {}
    if objstm_members:
        objstm_num = w.alloc()
        size = max(size, objstm_num + 1)
        out += junk()
        offsets[objstm_num] = _emit(out, objstm_num, _objstm(
            [(n, w.bodies[n]) for n in objstm_members]))
        rows = {n: _xref_row(2, objstm_num, k)
                for k, n in enumerate(objstm_members)}
    xnum = w.alloc()
    size = max(size, xnum + 1)
    xref_off = len(out)
    rows |= {n: _xref_row(1, off, 0) for n, off in offsets.items()}
    rows[xnum] = _xref_row(1, xref_off, 0)
    _emit(out, xnum, _xref_stream(rows, _runs(rows), size, trailer,
                                  rng.random() < 0.5, trailer_extra))
    _startxref(out, xref_off)
    return out, offsets, xref_off


# pools for the resources axis: known AGL names, algorithmic
# uniXXXX/uXXXX forms, and unknown names (must UNMAP their code)
_DIFF_NAMES = ["Euro", "bullet", "emdash", "quotedblleft", "ae",
               "germandbls", "uni0041", "u00E9", "gXYZ", "cid99"]
_ENC_BASES = ["WinAnsiEncoding", "MacRomanEncoding",
              "StandardEncoding"]
_MTX_VALS = [0.0, 1.0, -1.0, 0.5, 2.0, -6.0, 72.0]


def make_font(w: Writer, rng: random.Random) -> tuple[int, tuple | None]:
    """One randomized font object; returns (obj num, the entry
    `page_font_maps` must produce for it — None for plain fonts)."""
    kind = rng.randrange(5)
    if kind == 0:  # plain: omitted from page maps, None in form maps
        return w.add(b"<< /Type /Font /Subtype /Type1 "
                     b"/BaseFont /Helvetica >>"), None
    if kind == 1:  # base-encoding Name
        base = rng.choice(_ENC_BASES)
        return w.add(f"<< /Type /Font /Subtype /TrueType /BaseFont "
                     f"/Arial /Encoding /{base} >>".encode("latin-1")
                     ), (encoding_map(base), 1)
    if kind == 2:  # encoding dict + /Differences (both maybe indirect)
        base = rng.choice(_ENC_BASES + [None])
        diffs: list = [rng.randrange(32, 240)]
        for _ in range(rng.randrange(1, 5)):
            if rng.random() < 0.3:
                diffs.append(rng.randrange(32, 250))
            diffs.append(rng.choice(_DIFF_NAMES))
        dtoks = " ".join(str(d) if isinstance(d, int) else f"/{d}"
                         for d in diffs)
        if rng.random() < 0.3:
            dnum = w.add(f"[{dtoks}]".encode("latin-1"))
            ddecl = f"{dnum} 0 R"
        else:
            ddecl = f"[{dtoks}]"
        bdecl = f"/BaseEncoding /{base} " if base else ""
        enc_body = (f"<< /Type /Encoding {bdecl}"
                    f"/Differences {ddecl} >>")
        if rng.random() < 0.5:
            enum = w.add(enc_body.encode("latin-1"))
            edecl = f"{enum} 0 R"
        else:
            edecl = enc_body
        return w.add(f"<< /Type /Font /Subtype /Type1 /BaseFont "
                     f"/Custom /Encoding {edecl} >>".encode("latin-1")
                     ), (encoding_map(base, diffs), 1)
    # kinds 3/4: /ToUnicode bfchar CMap through the filter/encryption
    # ladder; kind 4 ALSO carries an /Encoding the CMap must shadow
    codes = rng.sample(range(0x20, 0x7F), rng.randrange(1, 6))
    dsts = [rng.randrange(0x41, 0x5B) for _ in codes]
    chars = "\n".join(f"<{c:02X}> <{d:04X}>"
                      for c, d in zip(codes, dsts))
    cmap = (f"/CIDInit /ProcSet findresource begin\n"
            f"1 begincodespacerange <00> <FF> endcodespacerange\n"
            f"{len(codes)} beginbfchar\n{chars}\nendbfchar\n"
            f"endcmap end end").encode("latin-1")
    tu = w.add_stream(cmap)
    shadow = (f" /Encoding /{rng.choice(_ENC_BASES)}"
              if kind == 4 else "")
    return w.add(f"<< /Type /Font /Subtype /Type0 /BaseFont /Emb "
                 f"/ToUnicode {tu} 0 R{shadow} >>".encode("latin-1")
                 ), ({c: chr(d) for c, d in zip(codes, dsts)}, 1)


def make_form(w: Writer, rng: random.Random, depth: int,
              font_pool: list) -> tuple[int, dict]:
    """One randomized Form XObject; returns (obj num, the spec
    `page_forms` must produce).  Recurses into nested forms up to
    depth 2; p=.15 at depth 0 the form references ITSELF (the cycle
    guard must omit it from its own scope)."""
    content = rand_content(rng)
    spec: dict = {"text": content.decode("latin-1")}
    extra = " /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
    if rng.random() < 0.5:
        mtx = [rng.choice(_MTX_VALS) for _ in range(6)]
        extra += " /Matrix [" + " ".join(f"{v:g}" for v in mtx) + "]"
        spec["mtx"] = mtx
    res_parts = []
    if rng.random() < 0.6:
        n_fonts = rng.randrange(0, 3)
        if n_fonts:
            fonts = {}
            decls = []
            for i in range(n_fonts):
                if font_pool and rng.random() < 0.4:
                    fnum, fentry = rng.choice(font_pool)
                else:
                    fnum, fentry = make_font(w, rng)
                    font_pool.append((fnum, fentry))
                fonts[f"G{i}"] = fentry  # forms KEEP unmapped as None
                decls.append(f"/G{i} {fnum} 0 R")
            res_parts.append("/Font << " + " ".join(decls) + " >>")
            spec["fonts"] = fonts
        xdecls = []
        sub_forms = {}
        if depth < 2 and rng.random() < 0.4:
            snum, sspec = make_form(w, rng, depth + 1, font_pool)
            sub_forms["Sf0"] = sspec
            xdecls.append(f"/Sf0 {snum} 0 R")
        if rng.random() < 0.4:  # an image: never listed as a form
            inum = w.add_stream(bytes(8),
                                " /Type /XObject /Subtype /Image "
                                "/Width 2 /Height 2 /ColorSpace "
                                "/DeviceGray /BitsPerComponent 8")
            xdecls.append(f"/Ig {inum} 0 R")
        self_ref = depth == 0 and rng.random() < 0.15
        if self_ref or xdecls:
            num = w.alloc()
            if self_ref:  # omitted from its own scope by the guard
                xdecls.append(f"/Me {num} 0 R")
            res_parts.append("/XObject << " + " ".join(xdecls)
                             + " >>")
            if sub_forms:
                spec["forms"] = sub_forms
            extra += (" /Resources << " + " ".join(res_parts)
                      + " >>")
            w.add_stream(content, extra, num=num)
            return num, spec
    if res_parts:
        extra += " /Resources << " + " ".join(res_parts) + " >>"
    return w.add_stream(content, extra), spec


def add_resources(w: Writer, rng: random.Random, n_pages: int,
                  page_objs: list[int]
                  ) -> tuple[list[dict], list[dict]]:
    """Resources axis: patch a /Resources dict (inline or indirect)
    into a random subset of pages; returns the expected
    (page_font_maps, page_forms) lists."""
    want_maps: list[dict] = []
    want_forms: list[dict] = []
    font_pool: list = []  # (num, entry) — p=.4 reuse across sites
    for p in range(n_pages):
        maps: dict = {}
        forms: dict = {}
        if rng.random() < 0.5:
            parts = []
            n_fonts = rng.randrange(0, 3)
            if n_fonts:
                decls = []
                for i in range(n_fonts):
                    if font_pool and rng.random() < 0.4:
                        fnum, fentry = rng.choice(font_pool)
                    else:
                        fnum, fentry = make_font(w, rng)
                        font_pool.append((fnum, fentry))
                    if fentry is not None:  # page scope OMITS plain
                        maps[f"F{i}"] = fentry
                    decls.append(f"/F{i} {fnum} 0 R")
                parts.append("/Font << " + " ".join(decls) + " >>")
            n_forms = rng.randrange(0, 3)
            if n_forms:
                decls = []
                for i in range(n_forms):
                    xnum, xspec = make_form(w, rng, 0, font_pool)
                    forms[f"Fm{i}"] = xspec
                    decls.append(f"/Fm{i} {xnum} 0 R")
                if rng.random() < 0.4:
                    inum = w.add_stream(
                        bytes(8), " /Type /XObject /Subtype /Image "
                        "/Width 2 /Height 2 /ColorSpace /DeviceGray "
                        "/BitsPerComponent 8")
                    decls.append(f"/Ip {inum} 0 R")
                parts.append("/XObject << " + " ".join(decls)
                             + " >>")
            if parts:
                body = "<< " + " ".join(parts) + " >>"
                if rng.random() < 0.5:
                    rnum = w.add(body.encode("latin-1"))
                    rdecl = f"{rnum} 0 R"
                else:
                    rdecl = body
                pnum = page_objs[p]
                w.bodies[pnum] = w.bodies[pnum].replace(
                    b" >>",
                    f" /Resources {rdecl} >>".encode("latin-1"), 1)
        want_maps.append(maps)
        want_forms.append(forms)
    return want_maps, want_forms


def add_acroform(w: Writer, rng: random.Random, root_extra: list
                 ) -> list[tuple[str, str, str]]:
    """AcroForm axis (p=.4): a random §12.7 field tree — nested named
    kids up to depth 2, /FT and /V randomly own vs inherited, /T-less
    widget kids that must collapse, Tx/Ch string values (ciphertext
    on encrypted seeds, like every other string) and /Btn name
    values — returning the terminal rows `form_fields` must produce,
    recorded at construction time."""
    if rng.random() >= 0.4:
        return []
    want: list[tuple[str, str, str]] = []
    fid = [0]

    def lit(num: int, s: str) -> bytes:
        if any(ord(c) > 0x7E for c in s):  # §7.9.2.2 unicode payload
            data = b"\xfe\xff" + s.encode("utf-16-be")
        else:
            data = s.encode("latin-1")
        if w.fkey is not None:
            data = w.enc_bytes(num, data)
        return _lit_bytes(data)

    def rand_val(rng: random.Random) -> str:
        n = rng.randrange(0, 25)
        v = "".join(rng.choice(CHARS) for _ in range(n))
        if rng.random() < 0.2:  # unicode value -> UTF-16BE on disk
            v += rng.choice(["é", "Δ", "Ж", "—", "日"])
        return v

    def make_field(depth: int, prefix: str, inh_ft: str | None,
                   inh_val: str | None) -> int:
        num = w.alloc()
        t = f"f{fid[0]}"
        fid[0] += 1
        name = f"{prefix}.{t}" if prefix else t
        # /T is a string too: ciphertext on encrypted seeds
        parts = ["/T " + lit(num, t).decode("latin-1")]
        ft = inh_ft
        if rng.random() < 0.7 or ft is None:
            ft = rng.choice(["Tx", "Ch", "Btn"])
            parts.append(f"/FT /{ft}")
        val = inh_val
        if rng.random() < 0.7:
            if ft == "Btn":
                val = rng.choice(["Yes", "Off", "On"])
                parts.append(f"/V /{val}")
            else:
                val = rand_val(rng)
                parts.append("/V " + lit(num, val).decode("latin-1"))
        kid_nums: list[int] = []
        named = depth < 2 and rng.random() < 0.4
        if named:
            for _ in range(rng.randrange(1, 3)):
                kid_nums.append(make_field(depth + 1, name, ft, val))
        if rng.random() < 0.3:  # widget kids: never separate fields
            kid_nums.append(w.add(
                b"<< /Type /Annot /Subtype /Widget "
                b"/Rect [0 0 1 1] >>"))
        if kid_nums:
            parts.append("/Kids [" + " ".join(f"{k} 0 R"
                                              for k in kid_nums)
                         + "]")
        if not named:  # terminal: widget kids don't change that
            want.append((name, ft or "", val if val is not None
                         else ""))
        w.bodies[num] = ("<< " + " ".join(parts) + " >>") \
            .encode("latin-1")
        return num

    tops = [make_field(0, "", None, None)
            for _ in range(rng.randrange(1, 4))]
    body = "<< /Fields [" + " ".join(f"{t} 0 R" for t in tops) \
        + "] >>"
    if rng.random() < 0.5:
        anum = w.add(body.encode("latin-1"))
        root_extra.append(f" /AcroForm {anum} 0 R")
    else:
        root_extra.append(f" /AcroForm {body}")
    return want


def add_nav(w: Writer, rng: random.Random, root_extra: list,
            page_obj_nums: list[int]) -> tuple[list, list]:
    """Random navigation structures with by-construction truth:
    an outline tree (random depth/fan-out, /Dest arrays vs /A GoTo
    actions, some items with no destination -> page -1) and an
    embedded-files name tree (random /Kids nesting).  Expected rows
    are recorded AT CONSTRUCTION TIME in display (pre-order): the
    written bodies are not re-readable on encrypted seeds, where
    every literal string is ciphertext under its object's key.
    Returns (expected_outline_rows, expected_attachments); appends
    the /Outlines and /Names entries to ``root_extra``."""
    expected_outline: list[tuple] = []

    def lit(num: int, data: bytes) -> bytes:
        """Literal string as the reader will see it decrypted."""
        if w.fkey is not None:
            return _lit_bytes(w.enc_bytes(num, data))
        return _lit_bytes(data)

    def make_items(depth: int, budget: list[int]) -> list[int]:
        nums = []
        n = rng.randrange(1, 4)
        for _ in range(n):
            if budget[0] <= 0:
                break
            budget[0] -= 1
            num = w.alloc()
            nums.append(num)
            title = f"t{num} " + "".join(
                rng.choice("ab (c) \\d") for _ in range(6))
            u16 = rng.random() < 0.25  # §7.9.2.2 unicode title
            if u16:
                title += rng.choice(["é", "Δ", "Ж", "—", "日"])
            page_i = rng.randrange(-1, len(page_obj_nums))
            # pre-order append: this row, then (maybe) its children
            # via the recursive call below, then the next sibling —
            # exactly the reader's /First-then-/Next display walk
            expected_outline.append((depth, title, page_i))
            dest = b""
            if page_i >= 0:
                target = page_obj_nums[page_i]
                if rng.random() < 0.5:
                    dest = (f" /Dest [{target} 0 R /XYZ 0 0 0]"
                            ).encode()
                else:
                    dest = (f" /A << /S /GoTo /D [{target} 0 R "
                            f"/Fit] >>").encode()
            kids = b""
            if depth < 2 and budget[0] > 0 and rng.random() < 0.4:
                child_nums = make_items(depth + 1, budget)
                if child_nums:
                    kids = (f" /First {child_nums[0]} 0 R "
                            f"/Last {child_nums[-1]} 0 R "
                            f"/Count {len(child_nums)}").encode()
            raw = (b"\xfe\xff" + title.encode("utf-16-be")) if u16 \
                else title.encode("latin-1")
            w.bodies[num] = (
                b"<< /Title " + lit(num, raw)
                + dest + kids + b" >>")
        # link siblings
        for i, num in enumerate(nums):
            body = w.bodies[num][:-3]
            if i + 1 < len(nums):
                body += f" /Next {nums[i + 1]} 0 R".encode()
            if i > 0:
                body += f" /Prev {nums[i - 1]} 0 R".encode()
            w.bodies[num] = body + b" >>"
        return nums

    if rng.random() < 0.6:
        budget = [rng.randrange(1, 9)]
        top = make_items(0, budget)
        if top:
            onum = w.add(
                (f"<< /Type /Outlines /First {top[0]} 0 R "
                 f"/Last {top[-1]} 0 R /Count {len(top)} >>"
                 ).encode())
            root_extra.append(f" /Outlines {onum} 0 R")

    expected_attach: list[tuple] = []
    if rng.random() < 0.5:
        n_att = rng.randrange(1, 4)
        leaf_entries = []
        for k in range(n_att):
            data = rand_content(rng)
            snum = w.add_stream(data)
            fnum = w.alloc()
            w.bodies[fnum] = (
                b"<< /Type /Filespec /F " + lit(fnum, f"f{k}".encode())
                + f" /EF << /F {snum} 0 R >> >>".encode())
            name = f"n{k:02d}"
            leaf_entries.append((name, fnum))
            expected_attach.append((name, data))
        leaf = w.alloc()
        w.bodies[leaf] = (
            b"<< /Names ["
            + b" ".join(lit(leaf, n.encode()) + f" {f} 0 R".encode()
                        for n, f in leaf_entries) + b"] >>")
        if rng.random() < 0.5:  # nest through a /Kids intermediate
            leaf = w.add(f"<< /Kids [{leaf} 0 R] >>".encode())
        nnum = w.add(f"<< /EmbeddedFiles {leaf} 0 R >>".encode())
        root_extra.append(f" /Names {nnum} 0 R")
    return expected_outline, expected_attach


def gen_case(seed: int) -> tuple[bytes, dict]:
    """(file bytes, expected parse): the fields a ``PdfFile`` of the
    bytes must report, as built."""
    rng = random.Random(seed)
    w = Writer(rng)
    use_xref_stream = rng.random() < 0.5

    # encryption axis (p=.25): standard handler, empty user password,
    # R2/40-bit or R3/128-bit — every stream and the Info title
    # encrypt with per-object keys; composes with every filter choice,
    # both xref flavors, and content-revising updates
    encrypted = rng.random() < 0.25
    enc_extra = ""
    enc_num = None
    if encrypted:
        r_rev = rng.choice([2, 3, 4, 6])
        fid = hashlib.md5(f"fz{seed}".encode()).digest()
        if r_rev == 6:  # AES-256: salts drawn from a small pool so
            # the expensive 2.B hash amortizes through its lru_cache
            # while still varying across the campaign
            pool = seed % 4
            vsalt = hashlib.md5(f"v{pool}".encode()).digest()[:8]
            ksalt = hashlib.md5(f"k{pool}".encode()).digest()[:8]
            w.fkey = hashlib.md5(f"f1{seed}".encode()).digest() \
                + hashlib.md5(f"f2{seed}".encode()).digest()
            w.cipher = "aes256"
            u_val = r6_hash(b"", vsalt) + vsalt + ksalt
            ue = cbc_encrypt_raw(r6_hash(b"", ksalt), b"\x00" * 16,
                                 w.fkey)
            o_val = hashlib.md5(b"o").digest() * 3  # unused by reader
            enc_num = w.add(
                b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
                b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                b"/StmF /StdCF /StrF /StdCF /P -44 /O "
                + _lit_bytes(o_val[:48]) + b" /U "
                + _lit_bytes(u_val) + b" /OE "
                + _lit_bytes(b"\x00" * 32) + b" /UE "
                + _lit_bytes(ue) + b" >>")
        else:
            key_len = 5 if r_rev == 2 else 16
            o_val = std_o_entry(b"own", b"", r_rev, key_len)
            w.fkey = std_file_key(b"", o_val, -44, fid, r_rev,
                                  key_len)
            u_val = std_u_entry(w.fkey, fid, r_rev)
            if r_rev == 4:
                w.cipher = "aes"
                ldecl = ("/Length 128 /CF << /StdCF << /CFM /AESV2 "
                         "/Length 16 >> >> /StmF /StdCF /StrF /StdCF ")
            else:
                ldecl = f"/Length {key_len * 8} " if r_rev >= 3 else ""
            enc_num = w.add(
                (f"<< /Filter /Standard /V {({2: 1, 3: 2, 4: 4}[r_rev])} "
                 f"/R {r_rev} {ldecl}/P -44 /O ").encode("latin-1")
                + _lit_bytes(o_val) + b" /U " + _lit_bytes(u_val)
                + b" >>")
        hid = fid.hex()
        enc_extra = (f" /Encrypt {enc_num} 0 R "
                     f"/ID [<{hid}> <{hid}>]")

    n_pages = rng.randrange(1, 5)
    page_parts: list[list[bytes]] = []
    page_content_nums: list[list[int]] = []
    for _ in range(n_pages):
        n_parts = rng.choice([1, 1, 2, 3])
        parts = [rand_content(rng) for _ in range(n_parts)]
        page_parts.append(parts)
        page_content_nums.append([w.add_stream(p) for p in parts])

    page_obj_nums_map: dict[int, int] = {}
    pages_root = build_tree(w, page_content_nums, None, 0,
                            list(range(n_pages)), page_obj_nums_map)
    page_objs = [page_obj_nums_map[i] for i in range(n_pages)]
    root_extra: list[str] = []
    want_maps, want_forms = add_resources(w, rng, n_pages, page_objs)
    want_outline, want_attach = add_nav(w, rng, root_extra, page_objs)
    want_fields = add_acroform(w, rng, root_extra)
    root = w.add((f"<< /Type /Catalog /Pages {pages_root} 0 R"
                  + "".join(root_extra) + " >>").encode("latin-1"))
    title = f"fuzz {seed}"

    def info_body(num: int, t: str) -> bytes:
        if w.fkey is not None:
            return b"<< /Title " + _lit_bytes(
                w.enc_bytes(num, t.encode("latin-1"))) + b" >>"
        return f"<< /Title ({t}) >>".encode("latin-1")

    info = w.alloc()
    w.bodies[info] = info_body(info, title)

    out, offsets, prev_off = serialize(w, root, info, use_xref_stream,
                                       rng, enc_extra)
    size = max(w.bodies, default=0) + 1

    # ---- incremental updates
    n_updates = rng.randrange(0, 3)
    for u in range(n_updates):
        changed: dict[int, bytes] = {}
        title = f"fuzz {seed} rev{u + 2}"
        changed[info] = info_body(info, title)
        if rng.random() < 0.5:  # overwrite one page's first part
            p = rng.randrange(n_pages)
            new = rand_content(rng)
            page_parts[p][0] = new
            cnum = page_content_nums[p][0]
            enc, filt = encode_stream(rng, new)
            if w.fkey is not None:
                enc = w.enc_bytes(cnum, enc)
            changed[cnum] = _stream_obj(enc, filt)
        out += b"\n"
        offs2 = {num: _emit(out, num, body)
                 for num, body in changed.items()}
        trailer = f"/Root {root} 0 R /Info {info} 0 R /Prev {prev_off}"
        if not use_xref_stream:
            prev_off = _xref_table(out, offs2,
                                   [(n, 1) for n in sorted(offs2)],
                                   f"/Size {size} {trailer}")
        else:
            xnum = w.alloc()
            size = max(size, xnum + 1)
            x2 = len(out)
            rows = {n: _xref_row(1, off, 0) for n, off in offs2.items()}
            rows[xnum] = _xref_row(1, x2, 0)
            _emit(out, xnum, _xref_stream(
                rows, [(n, 1) for n in [*sorted(offs2), xnum]], size,
                trailer, False, ""))
            _startxref(out, x2)
            prev_off = x2

    return bytes(out), {
        "encrypted": encrypted,
        "pages": [b"\n".join(parts) for parts in page_parts],
        "title": title, "outlines": want_outline,
        "attachments": want_attach, "fields": want_fields,
        "font_maps": want_maps, "forms": want_forms,
        "n_revisions": 1 + n_updates,
        "xref_kind": "stream" if use_xref_stream else "table"}
