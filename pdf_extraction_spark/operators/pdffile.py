"""Whole-PDF-file layer: raw ``%PDF-...%%EOF`` bytes -> decoded
per-page content streams -> the existing tokenize/layout/span kernels.

The reference consumes whole PDF files through pdfplumber
(`text_extractor.pyc:54-66` opens the file; pdfminer's pdfparser /
pdfdocument do the object/xref walk).  This module re-implements that
file layer from the PUBLIC spec only (ISO 32000-1: §7.3 object syntax,
§7.4 stream filters, §7.5 cross-reference table/stream + object
streams, §7.7 document structure / page tree) as pure-Python kernels
wrapped in one map-only Arrow pass, so a corpus of raw PDF FILE bytes
(binary column) enters the same runs -> lines -> blocks -> spans
pipeline as content-stream and HTML corpora
(`operators/pdfstream.py`, `operators/html.py`).

Coverage (each branch exercised by the deterministic writer below and
gated against a closed-form DuckDB oracle in ``queries_pdffile.py``):

- object syntax: dicts, arrays, names (``#xx`` escapes), literal and
  hex strings, ints/reals, booleans, null, indirect references
  (``N G R``) vs plain integers, indirect objects, streams with
  direct OR indirect ``/Length``;
- filters: FlateDecode and LZWDecode (both + PNG predictors 10-15 and
  TIFF predictor 2, LZW with EarlyChange), ASCIIHexDecode,
  ASCII85Decode, RunLengthDecode, and filter CHAINS
  (``/Filter [/ASCIIHexDecode /FlateDecode]``);
- cross-reference: classic tables (multi-subsection), xref STREAMS
  (``/W``/``/Index``, type 0/1/2 entries), incremental updates via
  ``/Prev`` chains with newest-wins override, compressed objects in
  object streams (``/Type /ObjStm``), hybrid-reference files
  (classic trailer + ``/XRefStm`` stream for the compressed objects),
  and a last-resort xref REBUILD that scans ``N G obj`` headers when
  the trailer is damaged;
- structure: trailer ``/Root`` -> catalog -> page TREE (nested
  ``/Kids``, ``/Count``, attribute inheritance of ``/Resources`` /
  ``/MediaBox``), ``/Contents`` as one stream or an array
  (concatenated with a newline per §7.8.2), ``/Info`` metadata.

Encryption: the §7.6 STANDARD security handler with an empty user
password (owner-locked files) decrypts transparently across the full
ladder — RC4 V1/R2 and V2/R3 (Algorithm 2 key, /U-verified), V4/R4
with the /AESV2 crypt filter (AES-128-CBC), and V5/R6 /AESV3
(AES-256: Algorithm 2.B SHA-2/AES hash chain validates the password,
/UE unwraps the file key) — all over the from-scratch FIPS-197 core
in ``functions/aes.py``.  ToUnicode CMaps (§9.10.3) decode
embedded-font glyph codes back to text.

Out of scope (documented, raise or skip cleanly): real user
passwords and custom/non-standard handlers (refused loudly, never
mis-decrypted), DCT/JBIG2/JPX/CCITT filters (media streams stay
opaque binary per the multimodal contract) and linearization hints
(ignored — they are an optimization layer over the same xref).

Scale shape (100 TB of PDFs): every reader and writer here is ONE
`filepass.file_pass` — map-only, zero shuffle, linear in file bytes;
each file is parsed independently so 1000 executors scale trivially.
A file is one row (same single-row-bounded contract as the HTML page
scan — cap file bytes at ingest).  Every reader parses through one
guard, ``_parsed``: a file whose parse raises yields no rows instead
of failing the task.  ``files_to_spans`` keeps the whole bridge in that
task: parse, per-page tokenize and layout (`layout.layout_page`, one
page's runs at a time) and gapless offsets, with zero exchanges.
Parsing is lazy per object — only the xref, catalog, page tree, and
content streams are touched; fonts/images referenced but never loaded
cost nothing.
"""

from __future__ import annotations

import re
import zlib
from typing import Any, Callable, Iterator, NamedTuple

from pyspark.sql import DataFrame, functions as F

from .filepass import file_pass, id_number

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
_NAME_ESC_RE = re.compile(rb"#([0-9A-Fa-f]{2})")
_OBJ_HDR_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class Ref(NamedTuple):
    """Indirect reference ``num gen R`` (§7.3.10)."""
    num: int
    gen: int


def text_string(s: Any) -> str:
    """§7.9.2.2 TEXT-string decode for metadata strings (titles,
    field names/values, annotation contents, name-tree keys): parsed
    strings arrive one latin-1 char per byte; a UTF-16BE BOM (or the
    PDF 2.0 UTF-8 BOM) marks a unicode payload, anything else is
    PDFDocEncoding (byte-identical to latin-1 over the range these
    corpora use).  Content-stream strings never come here — their
    bytes are font-encoded and decode via font maps instead."""
    if not isinstance(s, str):
        return "" if s is None else str(s)
    if s.startswith("\xfe\xff"):
        return s.encode("latin-1", "replace")[2:].decode(
            "utf-16-be", "replace")
    if s.startswith("\xef\xbb\xbf"):
        return s.encode("latin-1", "replace")[3:].decode(
            "utf-8", "replace")
    return s


class Name(str):
    """PDF name object (§7.3.5).  A ``str`` subclass so every
    consumer treats it as its text — the distinction only matters to
    the decryption pass, which must skip names (never encrypted)
    while decrypting literal strings (always encrypted)."""
    __slots__ = ()


class StreamObj(NamedTuple):
    """A stream object: its dict plus the RAW (still-encoded) bytes."""
    dict: dict
    raw: bytes


# ------------------------------------------------------------- filters

def _png_predictor(data: bytes, colors: int, bpc: int,
                   columns: int) -> bytes:
    """Undo PNG row predictors 0-4 (§7.4.4.4 via RFC 2083)."""
    bpp = max(1, (colors * bpc) // 8)
    row_len = (colors * bpc * columns + 7) // 8
    out = bytearray()
    prev = bytearray(row_len)
    i, n = 0, len(data)
    while i < n:
        ft = data[i]
        row = bytearray(data[i + 1:i + 1 + row_len])
        i += 1 + row_len
        if ft == 1:      # Sub
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:    # Up
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:    # Average
            for j in range(len(row)):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + (left + prev[j]) // 2) & 0xFF
        elif ft == 4:    # Paeth
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _tiff_predictor(data: bytes, colors: int, bpc: int,
                    columns: int) -> bytes:
    """Undo TIFF predictor 2 (horizontal differencing, 8-bit only)."""
    if bpc != 8:
        raise NotImplementedError("TIFF predictor with bpc != 8")
    row_len = colors * columns
    out = bytearray(data)
    for r0 in range(0, len(out), row_len):
        for j in range(r0 + colors, min(r0 + row_len, len(out))):
            out[j] = (out[j] + out[j - colors]) & 0xFF
    return bytes(out)


def flate_decode(data: bytes, parms: dict | None = None) -> bytes:
    out = zlib.decompress(data)
    pred = int((parms or {}).get("Predictor", 1))
    if pred <= 1:
        return out
    colors = int((parms or {}).get("Colors", 1))
    bpc = int((parms or {}).get("BitsPerComponent", 8))
    columns = int((parms or {}).get("Columns", 1))
    if pred == 2:
        return _tiff_predictor(out, colors, bpc, columns)
    if 10 <= pred <= 15:
        return _png_predictor(out, colors, bpc, columns)
    raise NotImplementedError(f"predictor {pred}")


def ascii_hex_decode(data: bytes, parms: dict | None = None) -> bytes:
    h = data.split(b">")[0]
    h = re.sub(rb"\s", b"", h)
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


def _ascii85_decode_py(body: bytes) -> bytes:
    """Reference-python A85 body decode (handles 'z' group shorthand;
    the numpy fast path below defers to this when 'z' is present)."""
    out = bytearray()
    group: list[int] = []
    for ch in body:
        if ch == 0x7A:  # 'z' -> four zero bytes (only between groups)
            if group:
                raise ValueError("'z' inside an ASCII85 group")
            out += b"\x00\x00\x00\x00"
            continue
        group.append(ch - 33)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v >> 32:
                raise ValueError("ASCII85 group overflows 2^32")
            out += v.to_bytes(4, "big")
            group = []
    if group:  # partial final group: pad with 'u' (84), keep n-1 bytes
        n = len(group)
        group += [84] * (5 - n)
        v = 0
        for g in group:
            v = v * 85 + g
        out += (v & 0xFFFFFFFF).to_bytes(4, "big")[: n - 1]
    return bytes(out)


def ascii85_decode(data: bytes, parms: dict | None = None) -> bytes:
    """ASCII85 (§7.4.3).  Hot path: numpy group decode — ~20x the
    per-char python loop, which only runs for streams using the 'z'
    zero-group shorthand (never mid-group there, so alignment needs
    the sequential scan) or when numpy is unavailable."""
    body = data.split(b"~>")[0]
    body = re.sub(rb"\s", b"", body)
    if not body:
        return b""
    if b"z" in body:
        return _ascii85_decode_py(body)
    try:
        import numpy as np
    except ImportError:  # pragma: no cover - numpy is baked in
        return _ascii85_decode_py(body)
    n_pad = (-len(body)) % 5
    arr = np.frombuffer(body + b"u" * n_pad, dtype=np.uint8) \
        .astype(np.uint64)
    arr -= 33
    if arr.max() > 84:
        raise ValueError("byte outside the ASCII85 alphabet")
    weights = np.array([85 ** 4, 85 ** 3, 85 ** 2, 85, 1],
                       dtype=np.uint64)
    vals = (arr.reshape(-1, 5) * weights).sum(axis=1)
    if n_pad == 0 and bool((vals >> np.uint64(32)).any()):
        raise ValueError("ASCII85 group overflows 2^32")
    out = vals.astype(">u4").tobytes()
    return out[:-n_pad] if n_pad else out


def lzw_decode(data: bytes, parms: dict | None = None) -> bytes:
    """LZW per §7.4.4.2 (TIFF variant): 9->12 bit codes, 256=clear,
    257=EOD, EarlyChange (default 1) widens the code one entry early.
    Shares the predictor post-pass with FlateDecode."""
    early = int((parms or {}).get("EarlyChange", 1))
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    bitbuf = nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # clear table
                del table[258:]
                width, prev = 9, None
                continue
            if code == 257:  # EOD
                nbits = 0
                bitbuf = 0
                break
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} out of range")
            out += entry
            prev = entry
            if len(table) >= (1 << width) - early and width < 12:
                width += 1
    res = bytes(out)
    pred = int((parms or {}).get("Predictor", 1))
    if pred <= 1:
        return res
    colors = int((parms or {}).get("Colors", 1))
    bpc = int((parms or {}).get("BitsPerComponent", 8))
    columns = int((parms or {}).get("Columns", 1))
    if pred == 2:
        return _tiff_predictor(res, colors, bpc, columns)
    return _png_predictor(res, colors, bpc, columns)


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Test/corpus-side LZW encoder, width-synchronized with
    :func:`lzw_decode` (width re-check after every table insertion)."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out = bytearray()
    bitbuf = nbits = 0

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256)
    w = b""
    for i in range(len(data)):
        c = data[i:i + 1]
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = next_code
        next_code += 1
        # the encoder's inserts run ONE step ahead of the decoder's
        # (the decoder adds no entry for the first post-clear code),
        # so it widens at next_code-1 where the decoder widens at
        # next_code — verified against the decoder for both
        # EarlyChange values across the 9->12 bit ladder
        if next_code - 1 >= (1 << width) - early and width < 12:
            width += 1
        if next_code >= 4093:  # table full: clear and restart
            emit(256)
            table = {bytes([j]): j for j in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def run_length_decode(data: bytes, parms: dict | None = None) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        l = data[i]
        if l == 128:  # EOD
            break
        if l < 128:
            out += data[i + 1:i + 2 + l]
            i += 2 + l
        else:
            out += data[i + 1:i + 2] * (257 - l)
            i += 2
    return bytes(out)


_FILTERS = {
    "FlateDecode": flate_decode, "Fl": flate_decode,
    "ASCIIHexDecode": ascii_hex_decode, "AHx": ascii_hex_decode,
    "ASCII85Decode": ascii85_decode, "A85": ascii85_decode,
    "RunLengthDecode": run_length_decode, "RL": run_length_decode,
    "LZWDecode": lzw_decode, "LZW": lzw_decode,
}


def decode_stream(stream: StreamObj, resolve) -> bytes:
    """Apply the stream's (possibly chained) filters.  ``resolve``
    maps possibly-indirect dict values to direct objects."""
    filt = resolve(stream.dict.get("Filter"))
    parms = resolve(stream.dict.get("DecodeParms"))
    if filt is None:
        return stream.raw
    filters = filt if isinstance(filt, list) else [filt]
    parms_list = parms if isinstance(parms, list) else [parms]
    parms_list += [None] * (len(filters) - len(parms_list))
    data = stream.raw
    for name, p in zip(filters, parms_list):
        fn = _FILTERS.get(name)
        if fn is None:
            raise NotImplementedError(f"filter {name}")
        data = fn(data, resolve(p))
    return data


# ----------------------------------------------- standard security (§7.6)

# the spec's 32-byte password pad (ISO 32000-1 Table 1, Algorithm 2)
_PW_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (public algorithm; the §7.6.2 stream cipher)."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad_pw(pw: bytes) -> bytes:
    return (pw + _PW_PAD)[:32]


def std_file_key(user_pw: bytes, o_entry: bytes, p: int,
                 file_id: bytes, r: int, key_len: int,
                 encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: the file encryption key."""
    import hashlib

    seed = (_pad_pw(user_pw) + o_entry[:32]
            + (p & 0xFFFFFFFF).to_bytes(4, "little") + file_id)
    if r >= 4 and not encrypt_metadata:
        seed += b"\xff\xff\xff\xff"
    h = hashlib.md5(seed).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:key_len]).digest()
    return h[:key_len]


def std_o_entry(owner_pw: bytes, user_pw: bytes, r: int,
                key_len: int) -> bytes:
    """Algorithm 3: the /O value."""
    import hashlib

    h = hashlib.md5(_pad_pw(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    key = h[:key_len]
    o = rc4(key, _pad_pw(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def std_u_entry(file_key: bytes, file_id: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U value."""
    import hashlib

    if r == 2:
        return rc4(file_key, _PW_PAD)
    h = hashlib.md5(_PW_PAD + file_id).digest()
    u = rc4(file_key, h)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in file_key), u)
    return u + b"\x00" * 16


def object_key(file_key: bytes, num: int, gen: int,
               aes: bool = False) -> bytes:
    """§7.6.2 Algorithm 1: the per-object key (AES appends the spec's
    ``sAlT`` constant to the MD5 input)."""
    import hashlib

    seed = (file_key + num.to_bytes(3, "little")
            + gen.to_bytes(2, "little"))
    if aes:
        seed += b"sAlT"
    h = hashlib.md5(seed).digest()
    return h[:min(len(file_key) + 5, 16)]


import functools


@functools.lru_cache(maxsize=1024)
def r6_hash(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """§7.6.4.3.4 Algorithm 2.B (R6): the SHA-2 / AES-128-CBC
    iterated hash used for password validation and key derivation in
    AES-256 files.  Deliberately expensive by design (~10^4 AES block
    ops); memoized because a corpus re-validates the same
    (password, salt) pair for every object of a file — and often for
    every file of a batch — while the cache key stays tiny."""
    import hashlib

    from ..functions.aes import cbc_encrypt_raw

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt_raw(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


# ------------------------------------------------------- object parser

_DELIM_WS = _DELIM + _WS  # int-in-bytes membership for token ends


def _skip_ws(data: bytes, i: int) -> int:
    # hot path (called once per token): int indexing + int-in-bytes
    # membership, no per-character slice allocation
    n = len(data)
    while i < n:
        c = data[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # '%' comment to EOL (§7.2.4)
            j = data.find(b"\n", i)
            k = data.find(b"\r", i)
            end = min(x for x in (j, k, n) if x >= 0)
            i = end
        else:
            break
    return i


_ESC_TABLE = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
              b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\"}


def _scan_literal(data: bytes, i: int) -> tuple[bytes, int]:
    """Literal string at ``(``: same escape semantics as the
    content-stream lexer (`pdfstream._scan_string`) but over bytes."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i:i + 1]
            if e in _ESC_TABLE:
                out += _ESC_TABLE[e]
                i += 1
            elif e.isdigit() and e < b"8":
                m = re.match(rb"[0-7]{1,3}", data[i:i + 3])
                out.append(int(m.group(0), 8) & 0xFF)
                i += m.end()
            elif e == b"\n":
                i += 1
            elif e == b"\r":
                i += 2 if data[i:i + 2] == b"\r\n" else 1
            else:
                out += e
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _scan_name(data: bytes, i: int, n: int) -> tuple["Name", int]:
    """Name token at the '/' at ``i`` -> (Name, index past it).  One
    implementation for both the dispatch branch and the dict-key fast
    path so the lexing rules (delimiter set, '#' hex escapes, latin-1
    decode) cannot diverge."""
    j = i + 1
    while j < n and data[j] not in _DELIM_WS:
        j += 1
    raw = data[i + 1:j]
    if 0x23 in raw:  # '#' escapes are rare; skip the regex if none
        raw = _NAME_ESC_RE.sub(
            lambda m: bytes([int(m.group(1), 16)]), raw)
    return Name(raw.decode("latin-1")), j


def parse_object(data: bytes, i: int) -> tuple[Any, int]:
    """Parse one object at ``i`` (whitespace/comments allowed before).
    Returns (object, index past it).  Dict values / array elements that
    look like ``N G R`` become :class:`Ref`."""
    i = _skip_ws(data, i)
    n = len(data)
    if i >= n:
        raise ValueError(f"unparsable object at byte {i}")
    # int dispatch ordered by token frequency (names and numbers
    # dominate real dictionaries), no per-token slice allocation
    c = data[i]
    if c == 0x2F:  # '/'
        return _scan_name(data, i, n)
    if 0x30 <= c <= 0x39 or c == 0x2B or c == 0x2D or c == 0x2E:
        m = _NUM_RE.match(data, i)
        if m is None:  # bare '+'/'-'/'.': keep the ValueError contract
            raise ValueError(f"unparsable object at byte {i}")
        tok = m.group(0)
        j = m.end()
        if b"." not in tok:
            # ``N G R`` lookahead for an indirect reference (digit
            # guard skips the second regex when the next token can't
            # be a generation number; a damaged signed one, ``5 -3 R``,
            # is salvaged as a Ref too)
            k = _skip_ws(data, j)
            d = k + 1 if k < n and data[k] in b"+-" else k
            if d < n and 0x30 <= data[d] <= 0x39:
                m2 = _NUM_RE.match(data, k)
                if b"." not in m2.group(0):
                    k2 = _skip_ws(data, m2.end())
                    if data[k2:k2 + 1] == b"R" and (
                            k2 + 1 >= n
                            or data[k2 + 1] in _DELIM_WS):
                        return (Ref(int(tok), int(m2.group(0))),
                                k2 + 1)
            return int(tok), j
        return float(tok), j
    if c == 0x3C:  # '<'
        if data[i + 1:i + 2] == b"<":
            d: dict = {}
            i += 2
            while True:
                i = _skip_ws(data, i)
                if i < n and data[i] == 0x2F:
                    # fast path: dict keys are names — direct scan
                    # instead of a recursive dispatch
                    key, i = _scan_name(data, i, n)
                elif data[i:i + 2] == b">>":
                    return d, i + 2
                else:
                    key, i = parse_object(data, i)
                val, i = parse_object(data, i)
                d[key] = val
        j = data.index(b">", i)
        h = re.sub(rb"\s", b"", data[i + 1:j])
        if len(h) % 2:
            h += b"0"
        return bytes.fromhex(h.decode("ascii")), j + 1
    if c == 0x5B:  # '['
        arr: list = []
        append = arr.append
        i += 1
        while True:
            i = _skip_ws(data, i)
            if data[i:i + 1] == b"]":
                return arr, i + 1
            v, i = parse_object(data, i)
            append(v)
    if c == 0x28:  # '('
        s, i = _scan_literal(data, i)
        return s.decode("latin-1"), i
    if c == 0x74 and data[i:i + 4] == b"true":
        return True, i + 4
    if c == 0x66 and data[i:i + 5] == b"false":
        return False, i + 5
    if c == 0x6E and data[i:i + 4] == b"null":
        return None, i + 4
    raise ValueError(f"unparsable object at byte {i}")


def parse_indirect(data: bytes, i: int, resolve) -> Any:
    """Parse ``N G obj <object> [stream...endstream] endobj`` at ``i``.
    ``resolve`` is needed when ``/Length`` is an indirect reference."""
    m = _OBJ_HDR_RE.match(data, _skip_ws(data, i))
    if not m:
        raise ValueError(f"no object header at byte {i}")
    obj, j = parse_object(data, m.end())
    j = _skip_ws(data, j)
    if data[j:j + 6] == b"stream":
        j += 6
        if data[j:j + 2] == b"\r\n":
            j += 2
        elif data[j:j + 1] == b"\n":
            j += 1
        length = resolve(obj.get("Length")) if isinstance(obj, dict) \
            else None
        raw = None
        if isinstance(length, int):
            cand = data[j:j + length]
            tail = _skip_ws(data, j + length)
            if data[tail:tail + 9] == b"endstream":
                raw = cand
        if raw is None:  # damaged /Length: scan for the keyword
            end = data.index(b"endstream", j)
            raw = data[j:end].rstrip(b"\r\n")
        return StreamObj(obj, raw)
    return obj


# ------------------------------------------------------ xref + file

class PdfFile:
    """Lazy random-access view of one PDF file (§7.5).

    ``xref`` maps object number -> ('i', offset) for regular objects
    or ('c', objstm_num, idx) for compressed ones; built newest-first
    over the ``/Prev`` chain so incremental updates win.  Falls back
    to a full-file ``N G obj`` scan when the trailer is damaged."""

    def __init__(self, data: bytes):
        self.data = data
        self.xref: dict[int, tuple] = {}
        self.trailer: dict = {}
        self.n_revisions = 0
        self.xref_kind = ""  # 'table' | 'stream' (newest section) | 'rebuilt'
        self._cache: dict[int, Any] = {}
        self._objstm_cache: dict[int, dict[int, Any]] = {}
        self._pages_memo: list[dict] | None = None
        self._file_key: bytes | None = None
        self._cipher = "rc4"
        try:
            self._load_xref_chain()
            if "Root" not in self.trailer:
                raise ValueError("no /Root")
        except Exception:
            self._rebuild()
        if "Encrypt" in self.trailer:
            self._setup_crypt()

    # -- construction ------------------------------------------------
    def _load_xref_chain(self) -> None:
        tail = self.data[-2048:]
        m = list(re.finditer(rb"startxref\s+(\d+)", tail))
        if not m:
            raise ValueError("no startxref")
        off = int(m[-1].group(1))
        seen: set[int] = set()
        while off not in seen:
            seen.add(off)
            self.n_revisions += 1
            trailer = self._load_xref_section(off)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            prev = trailer.get("Prev")
            if prev is None:
                break
            off = int(prev)

    def _load_xref_section(self, off: int) -> dict:
        i = _skip_ws(self.data, off)
        kind = "table" if self.data[i:i + 4] == b"xref" else "stream"
        self.xref_kind = self.xref_kind or kind
        if kind == "table":
            return self._load_xref_table(i + 4)
        return self._load_xref_stream(i)

    def _load_xref_table(self, i: int) -> dict:
        while True:
            i = _skip_ws(self.data, i)
            if self.data[i:i + 7] == b"trailer":
                trailer, _ = parse_object(self.data, i + 7)
                if "XRefStm" in trailer:
                    # hybrid-reference file (§7.5.8.4): the classic
                    # table omits (marks free) the compressed objects;
                    # the pointed-to xref STREAM supplies them.  Table
                    # entries were recorded first and are not
                    # overridden (both loaders skip existing numbers),
                    # which matches the no-conflict layout hybrids use.
                    try:
                        self._load_xref_stream(int(trailer["XRefStm"]))
                    except Exception:
                        pass  # a broken hint must not sink the table
                return trailer
            m = re.match(rb"(\d+)\s+(\d+)", self.data[i:i + 40])
            if not m:
                raise ValueError(f"bad xref subsection at {i}")
            start, count = int(m.group(1)), int(m.group(2))
            i = _skip_ws(self.data, i + m.end())
            for k in range(count):
                e = self.data[i:i + 20]
                num = start + k
                if e[17:18] == b"n" and num not in self.xref:
                    self.xref[num] = ("i", int(e[0:10]))
                i += 20

    def _load_xref_stream(self, i: int) -> dict:
        stream = parse_indirect(self.data, i, self.get)
        if not isinstance(stream, StreamObj) \
                or stream.dict.get("Type") != "XRef":
            raise ValueError("expected an XRef stream")
        d = stream.dict
        data = decode_stream(stream, self.get)
        w = [int(x) for x in d["W"]]
        index = d.get("Index", [0, int(d["Size"])])
        ew = sum(w)
        pos = 0
        for s in range(0, len(index), 2):
            start, count = int(index[s]), int(index[s + 1])
            for k in range(count):
                row = data[pos:pos + ew]
                pos += ew
                f = []
                p = 0
                for width in w:
                    f.append(int.from_bytes(row[p:p + width], "big")
                             if width else None)
                    p += width
                typ = f[0] if w[0] else 1
                num = start + k
                if num in self.xref:
                    continue
                if typ == 1:
                    self.xref[num] = ("i", f[1])
                elif typ == 2:
                    self.xref[num] = ("c", f[1], f[2])
        return d

    def _rebuild(self) -> None:
        """Last-resort recovery: scan every ``N G obj`` header (the
        LAST occurrence of each object number wins — later revisions
        sit later in the file), then find /Root via the catalog."""
        self.xref.clear()
        self._cache.clear()
        self.xref_kind = "rebuilt"
        for m in _OBJ_HDR_RE.finditer(self.data):
            self.xref[int(m.group(1))] = ("i", m.start())
        self.n_revisions = max(self.n_revisions, 1)
        if "Root" not in self.trailer:
            for num in self.xref:
                try:
                    obj = self._load(num)
                except Exception:
                    continue
                if isinstance(obj, dict) \
                        and obj.get("Type") == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                elif isinstance(obj, dict) and "Title" in obj \
                        and "Info" not in self.trailer:
                    self.trailer["Info"] = Ref(num, 0)
        self.trailer.setdefault("Size", max(self.xref, default=0) + 1)

    # -- encryption (§7.6, standard security handler) ------------------
    def _setup_crypt(self) -> None:
        """Empty-user-password decryption (the common 'owner-locked'
        case): derive the RC4 file key and verify it against /U.
        Raises NotImplementedError for schemes out of scope (AES,
        non-standard handlers) or a real user password."""
        enc = self.get(self.trailer["Encrypt"])  # _file_key is None:
        # the Encrypt dict itself loads (and caches) undecrypted, as
        # the spec requires
        if not isinstance(enc, dict) \
                or enc.get("Filter") != "Standard":
            raise NotImplementedError("non-standard security handler")
        v, r = int(enc.get("V", 0)), int(enc.get("R", 2))
        key_len = int(enc.get("Length", 40)) // 8
        if v in (1, 2) and r in (2, 3):
            self._cipher = "rc4"
        elif v == 4 and r == 4:
            # crypt filters (§7.6.5): the /StdCF referenced by
            # /StmF+/StrF decides the cipher
            cf = self.get(enc.get("CF")) or {}
            stdcf = self.get(cf.get("StdCF")) or {}
            cfm = stdcf.get("CFM")
            if cfm == "AESV2":
                self._cipher = "aes"
                key_len = 16
            elif cfm == "V2":
                self._cipher = "rc4"
                key_len = int(stdcf.get("Length", key_len or 16))
                if key_len > 16:  # some writers put bits here
                    key_len //= 8
            else:
                raise NotImplementedError(f"crypt filter {cfm!r}")
        elif v == 5 and r == 6:
            # AES-256 (§7.6.4.3.4): SHA-2/AES hash chain validates
            # the (empty) user password against /U, then /UE unwraps
            # the 256-bit file key; handled fully below
            self._cipher = "aes256"
        else:
            raise NotImplementedError(
                f"encryption V={v} R={r} (custom schemes out of "
                f"scope)")
        ids = self.trailer.get("ID") or [b""]
        fid = ids[0]
        if isinstance(fid, str):
            fid = fid.encode("latin-1")
        o = enc["O"]
        o = o.encode("latin-1") if isinstance(o, str) else o
        u = enc["U"]
        u = u.encode("latin-1") if isinstance(u, str) else u
        if self._cipher == "aes256":
            from ..functions.aes import cbc_decrypt_raw

            if r6_hash(b"", u[32:40]) != u[:32]:
                raise NotImplementedError(
                    "password-protected PDF (non-empty user "
                    "password)")
            ue = enc["UE"]
            ue = ue.encode("latin-1") if isinstance(ue, str) else ue
            self._file_key = cbc_decrypt_raw(
                r6_hash(b"", u[40:48]), b"\x00" * 16, ue[:32])
            return
        em = enc.get("EncryptMetadata", True)
        key = std_file_key(b"", o, int(enc.get("P", -1)), fid, r,
                           key_len, encrypt_metadata=bool(em))
        want = std_u_entry(key, fid, r)
        ok = want[:16] == u[:16] if r >= 3 else want == u[:32]
        if not ok:
            raise NotImplementedError(
                "password-protected PDF (non-empty user password)")
        self._file_key = key

    def _decrypt(self, obj: Any, num: int, gen: int = 0) -> Any:
        """Recursively decrypt literal/hex strings and stream bytes
        with the per-object key; names/numbers/refs pass through."""
        if self._cipher == "aes256":  # file key used directly (§7.6.4)
            from ..functions.aes import cbc_decrypt

            fkey = self._file_key

            def raw_dec(b: bytes) -> bytes:
                return cbc_decrypt(fkey, b)
        elif self._cipher == "aes":
            from ..functions.aes import cbc_decrypt

            key = object_key(self._file_key, num, gen, aes=True)

            def raw_dec(b: bytes) -> bytes:
                return cbc_decrypt(key, b)
        else:
            key = object_key(self._file_key, num, gen)

            def raw_dec(b: bytes) -> bytes:
                return rc4(key, b)

        def dec(o: Any) -> Any:
            if isinstance(o, Name):
                return o
            if isinstance(o, str):
                return raw_dec(o.encode("latin-1")).decode("latin-1")
            if isinstance(o, bytes):
                return raw_dec(o)
            if isinstance(o, list):
                return [dec(x) for x in o]
            if isinstance(o, StreamObj):
                return StreamObj(dec(o.dict), raw_dec(o.raw))
            if isinstance(o, dict):
                return {k: dec(v) for k, v in o.items()}
            return o

        return dec(obj)

    # -- object access -----------------------------------------------
    def get(self, obj: Any) -> Any:
        while isinstance(obj, Ref):
            obj = self._load(obj.num)
        return obj

    def _load(self, num: int) -> Any:
        if num in self._cache:
            return self._cache[num]
        entry = self.xref.get(num)
        if entry is None:
            return None
        if entry[0] == "i":
            obj = parse_indirect(self.data, entry[1], self.get)
            if self._file_key is not None:
                obj = self._decrypt(obj, num)
        else:
            # ObjStm members are covered by the CONTAINER stream's
            # decryption (§7.6.2); no per-member pass
            obj = self._objstm_objects(entry[1]).get(num)
        self._cache[num] = obj
        return obj

    def _objstm_objects(self, stm_num: int) -> dict[int, Any]:
        """Parse an object stream (§7.5.7): N (num, offset) pairs then
        the concatenated object bodies at /First."""
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        stm = self._load(stm_num)
        data = decode_stream(stm, self.get)
        n = int(self.get(stm.dict["N"]))
        first = int(self.get(stm.dict["First"]))
        pairs = []
        i = 0
        for _ in range(n):
            a, i = parse_object(data, i)
            b, i = parse_object(data, i)
            pairs.append((int(a), int(b)))
        objs = {num: parse_object(data, first + off)[0]
                for num, off in pairs}
        self._objstm_cache[stm_num] = objs
        return objs

    # -- document structure --------------------------------------------
    _INHERIT = ("Resources", "MediaBox", "Rotate", "CropBox")

    def pages(self) -> list[dict]:
        """DFS over the page tree with §7.7.3.4 attribute inheritance;
        returns one merged dict per leaf page in document order.
        Memoized per instance (page_texts / page_font_maps /
        page_forms / outlines each need the leaf list; the tree walk
        and its ``get`` chain run once).  Callers treat the returned
        list as read-only."""
        if self._pages_memo is not None:
            return self._pages_memo
        root = self.get(self.trailer.get("Root"))
        if not isinstance(root, dict):
            self._pages_memo = []
            return self._pages_memo  # unrecoverable: zero pages, not a crash
        out: list[dict] = []
        visiting: set[int] = set()  # cycle guard: a malformed tree
        # with a /Kids loop must terminate, not hang the executor

        def walk(node_ref: Any, inherited: dict) -> None:
            if isinstance(node_ref, Ref):
                if node_ref.num in visiting:
                    return
                visiting.add(node_ref.num)
            node = self.get(node_ref)
            if not isinstance(node, dict):
                return
            inh = dict(inherited)
            for k in self._INHERIT:
                if k in node:
                    inh[k] = node[k]
            if node.get("Type") == "Page":
                page = dict(inh)
                page.update(node)
                out.append(page)
                return
            for kid in self.get(node.get("Kids")) or []:
                walk(kid, inh)

        walk(root.get("Pages"), {})
        self._pages_memo = out
        return out

    def page_streams(self) -> list[tuple[list[str], bytes]]:
        """Per page: (filter names of the first content stream,
        decoded+concatenated content bytes).  /Contents may be one
        stream or an array — parts join with a newline (§7.8.2)."""
        result = []
        for page in self.pages():
            contents = self.get(page.get("Contents"))
            parts = contents if isinstance(contents, list) else \
                ([contents] if contents is not None else [])
            decoded: list[bytes] = []
            filters: list[str] = []
            for p_idx, part in enumerate(parts):
                stm = self.get(part)
                if not isinstance(stm, StreamObj):
                    continue
                if p_idx == 0:
                    f = self.get(stm.dict.get("Filter"))
                    filters = ([f] if isinstance(f, str) else
                               [str(x) for x in f] if f else [])
                decoded.append(decode_stream(stm, self.get))
            result.append((filters, b"\n".join(decoded)))
        return result

    def page_texts(self, apply_rotation: bool = True) -> list[str]:
        """Decoded content streams as str (UTF-8 first, latin-1
        fallback — content-stream text encoding is font-dependent in
        general; this matches the writer below and degrades
        deterministically on foreign corpora).

        ``apply_rotation`` prepends the §14.11.2-style display
        transform for pages with inherited ``/Rotate`` 90/180/270 as
        a synthetic ``cm`` — the CTM then rotates every run into
        display space, so the layout stage clusters in READING order
        on rotated (scanner-output) pages.  The y-down conversion's
        fixed page height only shifts absolute coordinates, never
        their order."""
        pages = self.pages()
        out = []
        for page, (_, raw) in zip(pages, self.page_streams()):
            try:
                txt = raw.decode("utf-8")
            except UnicodeDecodeError:
                txt = raw.decode("latin-1")
            if apply_rotation:
                rot = int(self.get(page.get("Rotate")) or 0) % 360
                box = self.get(page.get("MediaBox")) or [0, 0, 612, 792]
                w = float(self.get(box[2])) - float(self.get(box[0]))
                h = float(self.get(box[3])) - float(self.get(box[1]))
                if rot == 90:     # (x,y) -> (y, W - x)
                    txt = f"0 -1 1 0 0 {w:g} cm " + txt
                elif rot == 180:  # (x,y) -> (W - x, H - y)
                    txt = f"-1 0 0 -1 {w:g} {h:g} cm " + txt
                elif rot == 270:  # (x,y) -> (H - y, x)
                    txt = f"0 1 -1 0 {h:g} 0 cm " + txt
            out.append(txt)
        return out

    def info(self) -> dict:
        d = self.get(self.trailer.get("Info")) or {}
        return d if isinstance(d, dict) else {}

    def outlines(self) -> list[tuple[int, str, int]]:
        """Flatten the /Outlines bookmark tree (§12.3.3) to
        (depth, title, page_index) rows in display order: /First ->
        /Next sibling chains, children one depth deeper, destinations
        resolved from /Dest or /A goto actions (page REF -> index in
        the page tree; named destinations out of scope -> -1).
        Cycle-guarded like the page tree."""
        root = self.get(self.trailer.get("Root")) or {}
        # map page object refs -> display index via a Kids walk
        ref_index: dict[int, int] = {}

        def index_pages(node_ref: Any, counter: list[int],
                        seen: set[int]) -> None:
            if isinstance(node_ref, Ref):
                if node_ref.num in seen:
                    return
                seen.add(node_ref.num)
            node = self.get(node_ref)
            if not isinstance(node, dict):
                return
            if node.get("Type") == "Page":
                if isinstance(node_ref, Ref):
                    ref_index[node_ref.num] = counter[0]
                counter[0] += 1
                return
            for kid in self.get(node.get("Kids")) or []:
                index_pages(kid, counter, seen)

        index_pages(root.get("Pages"), [0], set())

        def dest_page(item: dict) -> int:
            dest = self.get(item.get("Dest"))
            if dest is None:
                action = self.get(item.get("A")) or {}
                if action.get("S") == "GoTo":
                    dest = self.get(action.get("D"))
            if isinstance(dest, list) and dest \
                    and isinstance(dest[0], Ref):
                return ref_index.get(dest[0].num, -1)
            return -1

        out: list[tuple[int, str, int]] = []
        seen: set[int] = set()

        def walk(item_ref: Any, depth: int) -> None:
            while item_ref is not None:
                if isinstance(item_ref, Ref):
                    if item_ref.num in seen:
                        return
                    seen.add(item_ref.num)
                item = self.get(item_ref)
                if not isinstance(item, dict):
                    return
                title = item.get("Title")
                if isinstance(title, str):
                    out.append((depth, text_string(title),
                                dest_page(item)))
                if item.get("First") is not None:
                    walk(item["First"], depth + 1)
                item_ref = item.get("Next")

        outline_root = self.get(root.get("Outlines")) or {}
        if isinstance(outline_root, dict) \
                and outline_root.get("First") is not None:
            walk(outline_root["First"], 0)
        return out

    def link_annotations(self) -> list[tuple[int, str]]:
        """(page_index, uri) for every /Subtype /Link annotation with
        a /URI action (§12.5.6.5) — the PDF side of the crawl-graph
        link extraction (`operators/links.py` consumes the uris)."""
        out: list[tuple[int, str]] = []
        for idx, page in enumerate(self.pages()):
            for aref in self.get(page.get("Annots")) or []:
                annot = self.get(aref)
                if not isinstance(annot, dict) \
                        or annot.get("Subtype") != "Link":
                    continue
                action = self.get(annot.get("A")) or {}
                uri = action.get("URI")
                if action.get("S") == "URI" and isinstance(uri, str):
                    out.append((idx, str(uri)))
        return out

    def annotation_texts(self) -> list[tuple[int, str, str]]:
        """(page_index, subtype, contents) for every page annotation
        carrying a non-empty /Contents string (§12.5.6.2 /Text sticky
        notes, §12.5.6.6 /FreeText callouts, /Highlight /Square …
        markup) — reviewer commentary lives here, outside the content
        stream.  /Link annotations never carry reviewer text and
        /Popup is the display twin of its /Parent markup (same
        /Contents), so both are excluded to keep rows distinct."""
        out: list[tuple[int, str, str]] = []
        for idx, page in enumerate(self.pages()):
            for aref in self.get(page.get("Annots")) or []:
                annot = self.get(aref)
                if not isinstance(annot, dict):
                    continue
                sub = annot.get("Subtype")
                if sub in ("Link", "Popup"):
                    continue
                contents = self.get(annot.get("Contents"))
                if isinstance(contents, str) and contents:
                    out.append((idx, str(sub) if sub else "",
                                text_string(contents)))
        return out

    def form_fields(self) -> list[tuple[str, str, str]]:
        """(fully-qualified name, field type, value) for every
        TERMINAL field of the §12.7 /AcroForm tree, in document
        order — filled inspection forms carry their content here, not
        in the page text.  /FT and /V inherit down the tree
        (§12.7.3.1); kids WITHOUT a /T are widget annotations of
        their parent (one field, many widgets), not separate fields;
        qualified names join with '.'; /Btn values are the /V state
        name (Yes/Off); missing values -> ''.  Cycle-guarded like
        every other tree walk."""
        root = self.get(self.trailer.get("Root")) or {}
        acro = self.get(root.get("AcroForm")) \
            if isinstance(root, dict) else None
        out: list[tuple[str, str, str]] = []
        seen: set[int] = set()

        def walk(fref: Any, prefix: str, ft: Any, val: Any) -> None:
            if isinstance(fref, Ref):
                if fref.num in seen:
                    return
                seen.add(fref.num)
            fd = self.get(fref)
            if not isinstance(fd, dict):
                return
            t = self.get(fd.get("T"))
            if isinstance(t, str):
                t = text_string(t)
            name = (f"{prefix}.{t}" if prefix and isinstance(t, str)
                    else str(t) if isinstance(t, str) else prefix)
            if fd.get("FT") is not None:
                ft = self.get(fd["FT"])
            if fd.get("V") is not None:
                val = self.get(fd["V"])
            kids = self.get(fd.get("Kids"))
            named = []
            if isinstance(kids, list):
                for k in kids:
                    kd = self.get(k)
                    if isinstance(kd, dict) \
                            and isinstance(self.get(kd.get("T")),
                                           str):
                        named.append(k)
            if named:
                for k in named:
                    walk(k, name, ft, val)
            elif isinstance(t, str):
                out.append((name, str(ft) if ft is not None else "",
                            text_string(val) if val is not None
                            else ""))

        if isinstance(acro, dict):
            for f in self.get(acro.get("Fields")) or []:
                walk(f, "", None, None)
        return out

    def _name_tree(self, node_ref: Any,
                   seen: set[int] | None = None) -> list[tuple]:
        """Flatten a §7.9.6 name tree (/Kids intermediate nodes,
        /Names leaf pairs) to (name, value) in key order;
        cycle-guarded."""
        seen = set() if seen is None else seen
        if isinstance(node_ref, Ref):
            if node_ref.num in seen:
                return []
            seen.add(node_ref.num)
        node = self.get(node_ref)
        if not isinstance(node, dict):
            return []
        out: list[tuple] = []
        names = self.get(node.get("Names"))
        if isinstance(names, list):
            for i in range(0, len(names) - 1, 2):
                out.append((text_string(self.get(names[i])),
                            names[i + 1]))
        for kid in self.get(node.get("Kids")) or []:
            out.extend(self._name_tree(kid, seen))
        return out

    def embedded_files(self) -> list[tuple[str, bytes]]:
        """(name, decoded bytes) for every §7.11.4 attachment under
        /Names -> /EmbeddedFiles: filespec /EF /F stream, filters
        applied — attachments are documents too, and a corpus miner
        wants them as rows."""
        root = self.get(self.trailer.get("Root")) or {}
        names_dict = self.get(root.get("Names")) or {}
        out: list[tuple[str, bytes]] = []
        for name, spec_ref in self._name_tree(
                names_dict.get("EmbeddedFiles")):
            spec = self.get(spec_ref)
            if not isinstance(spec, dict):
                continue
            ef = self.get(spec.get("EF")) or {}
            stm = self.get(ef.get("F") or ef.get("UF"))
            if isinstance(stm, StreamObj):
                out.append((name, decode_stream(stm, self.get)))
        return out

    def page_font_maps(self) -> list[dict]:
        """Per page (aligned with :meth:`pages`): {font resource name:
        (code->unicode dict, code byte width)} for every font carrying
        a /ToUnicode CMap (§9.10.3) — the way embedded-font PDFs map
        shown glyph codes back to text — or, failing that, a simple
        /Encoding (§9.6.5: a base-encoding Name, or a dict with
        /BaseEncoding + /Differences; ToUnicode wins when both are
        present per §9.10.2).  Fonts with neither are omitted (their
        strings pass through unmapped — symbolic fonts' built-in
        encodings live inside the font program, out of scope)."""
        cache: dict[int, tuple] = {}
        return [self._fonts_for(
                    self.get((self.get(p.get("Resources")) or {})
                             .get("Font")) or {}, cache)
                for p in self.pages()]

    def _font_entry(self, fref: Any,
                    cache: dict[int, tuple]) -> tuple | None:
        """Resolve ONE font dict to a (code->unicode, byte width[,
        glyph widths, missing width]) entry per the §9.10.2 order
        (ToUnicode, else /Encoding, else metrics-only), memoized by
        object number.

        The optional third/fourth elements are the §9.6.2.1 simple-
        font metrics — /FirstChar + /Widths re-keyed by code, and the
        FontDescriptor /MissingWidth (default 0 per §9.8.1) — which
        the text-object machine uses for per-glyph advances instead
        of the uniform char_width.  A font carrying /Widths but no
        character map still yields an entry (empty cmap = identity
        text) so its metrics apply.  Type3 widths are glyph-space
        values scaled by /FontMatrix, not /1000 (§9.6.4): they are
        taken only when the matrix is the conventional 0.001 scale,
        else skipped (uniform fallback) rather than misscaled."""
        from ..functions.glyphlist import _BASE_TABLES, encoding_map
        from .pdfstream import parse_cmap

        key = fref.num if isinstance(fref, Ref) else None
        if key is not None and key in cache:
            return cache[key]
        entry = None
        fdict = self.get(fref)
        if isinstance(fdict, dict):
            tu = self.get(fdict.get("ToUnicode"))
            if isinstance(tu, StreamObj):
                try:
                    entry = parse_cmap(
                        decode_stream(tu, self.get)
                        .decode("latin-1"))
                except Exception:
                    entry = None  # a bad CMap: pass through
            if entry is None:
                enc = self.get(fdict.get("Encoding"))
                if isinstance(enc, dict):
                    base = enc.get("BaseEncoding")
                    diffs = self.get(enc.get("Differences"))
                    entry = (encoding_map(
                        str(base) if base is not None else None,
                        diffs if isinstance(diffs, list)
                        else None), 1)
                elif isinstance(enc, str) \
                        and str(enc) in _BASE_TABLES:
                    entry = (encoding_map(str(enc)), 1)
            if str(fdict.get("Subtype")) == "Type0":
                gw = self._cid_widths(fdict)
            else:
                gw = self._font_widths(fdict)
            if gw is not None:
                if entry is None:
                    entry = ({}, 1)
                entry = entry[:2] + gw
        if key is not None:
            cache[key] = entry
        return entry

    def _font_widths(self, fdict: dict) -> tuple | None:
        """§9.6.2.1 metrics of a simple font: (code->width dict,
        missing width) in glyph-space /1000 units, or None when the
        font carries no usable /Widths."""
        try:
            fc = self.get(fdict.get("FirstChar"))
            ws = self.get(fdict.get("Widths"))
            if not isinstance(ws, list) \
                    or not isinstance(fc, (int, float)):
                return None
            if str(fdict.get("Subtype")) == "Type3":
                mtx = self.get(fdict.get("FontMatrix"))
                if not (isinstance(mtx, list) and len(mtx) == 6
                        and float(self.get(mtx[0])) == 0.001):
                    return None
            gw = {int(fc) + i: float(self.get(w))
                  for i, w in enumerate(ws)}
            dw = 0.0
            fd = self.get(fdict.get("FontDescriptor"))
            if isinstance(fd, dict):
                mw = self.get(fd.get("MissingWidth"))
                if isinstance(mw, (int, float)):
                    dw = float(mw)
            return gw, dw
        except (TypeError, ValueError):
            return None  # malformed metrics: uniform fallback

    # a hostile /W range (c1 .. c2) could span the whole 32-bit code
    # space; cap the expansion at the 2-byte code limit so one bad
    # font costs one dict, not executor memory
    _MAX_W_RANGE = 0x10000

    def _cid_widths(self, fdict: dict) -> tuple | None:
        """§9.7.4.3 CIDFont metrics of a Type0 font: the descendant's
        /W array in both forms (``c [w1 w2 ...]`` assigns consecutive
        CIDs; ``c1 c2 w`` assigns a range) plus /DW (default 1000).
        Keys are CIDs — for the /Identity-H encodings this layer
        emits, CID == 2-byte code, so the same font-map channel
        applies them directly; non-identity predefined CMaps are out
        of scope (documented in SURVEY §2.8)."""
        try:
            desc = self.get(fdict.get("DescendantFonts"))
            if not isinstance(desc, list) or not desc:
                return None
            d0 = self.get(desc[0])
            if not isinstance(d0, dict):
                return None
            dw_obj = self.get(d0.get("DW"))
            dw = float(dw_obj) if isinstance(dw_obj, (int, float)) \
                else 1000.0
            warr = self.get(d0.get("W"))
            gw: dict[int, float] = {}
            if isinstance(warr, list):
                i = 0
                while i < len(warr):
                    c = int(self.get(warr[i]))
                    nxt = self.get(warr[i + 1]) \
                        if i + 1 < len(warr) else None
                    if isinstance(nxt, list):
                        for j, w in enumerate(nxt):
                            gw[c + j] = float(self.get(w))
                        i += 2
                    else:
                        c2 = int(nxt)
                        w = float(self.get(warr[i + 2]))
                        if 0 <= c2 - c < self._MAX_W_RANGE:
                            for code in range(c, c2 + 1):
                                gw[code] = w
                        i += 3
            if not gw and dw == 1000.0:
                return None  # no metrics beyond the spec default
            return gw, dw
        except (TypeError, ValueError, IndexError):
            return None  # malformed /W: uniform fallback

    def _fonts_for(self, fonts: dict, cache: dict,
                   keep_unmapped: bool = False) -> dict:
        """Font resource dict -> {name: map entry}.  Unmapped fonts
        are omitted (page scope: the tokenizer passes absent names
        through) unless ``keep_unmapped`` — form scopes keep them as
        explicit None so a form-local plain font SHADOWS a mapped
        outer font of the same name."""
        maps = {}
        for name, fref in (fonts or {}).items():
            entry = self._font_entry(fref, cache)
            if entry is not None or keep_unmapped:
                maps[name] = entry
        return maps

    def page_forms(self) -> list[dict]:
        """Per page (aligned with :meth:`pages`): {XObject resource
        name: form spec} for every ``/Subtype /Form`` XObject (§8.10)
        reachable from the page — decoded content text, the /Matrix
        (when non-identity-relevant), and the form's OWN font / form
        resources resolved recursively (absent keys inherit the
        invoking scope downstream; the reference's PDF library
        flattens forms internally — rebuilt from scratch the resource
        scoping is explicit).  Cycle-guarded by object number: a
        self-referential form is omitted from its own scope and its
        ``Do`` degrades to a media run.  Image XObjects are never
        listed (they stay media runs carrying the resource name)."""
        spec_cache: dict[int, dict] = {}
        font_cache: dict[int, tuple] = {}

        def build(xref: Any, seen: frozenset) -> dict | None:
            key = xref.num if isinstance(xref, Ref) else None
            if key is not None:
                if key in seen:
                    return None
                if key in spec_cache:
                    return spec_cache[key]
            stm = self.get(xref)
            if not isinstance(stm, StreamObj) or \
                    str(stm.dict.get("Subtype") or "") != "Form":
                return None
            try:
                raw = decode_stream(stm, self.get)
            except Exception:
                return None
            try:
                txt = raw.decode("utf-8")
            except UnicodeDecodeError:
                txt = raw.decode("latin-1")
            spec: dict = {"text": txt}
            mtx = self.get(stm.dict.get("Matrix"))
            if isinstance(mtx, list) and len(mtx) == 6:
                spec["mtx"] = [float(self.get(v)) for v in mtx]
            res = self.get(stm.dict.get("Resources"))
            if isinstance(res, dict):
                fonts = self.get(res.get("Font"))
                if isinstance(fonts, dict):
                    spec["fonts"] = self._fonts_for(
                        fonts, font_cache, keep_unmapped=True)
                sub = forms_in(
                    res,
                    seen | {key} if key is not None else seen)
                if sub:
                    spec["forms"] = sub
            if key is not None:
                spec_cache[key] = spec
            return spec

        def forms_in(res: dict, seen: frozenset) -> dict:
            xobjs = self.get(res.get("XObject")) \
                if isinstance(res, dict) else None
            out = {}
            if isinstance(xobjs, dict):
                for name, xref in xobjs.items():
                    spec = build(xref, seen)
                    if spec is not None:
                        out[name] = spec
            return out

        return [forms_in(self.get(p.get("Resources")) or {},
                         frozenset())
                for p in self.pages()]


def extract_pages(pdf_bytes: bytes) -> list[str]:
    """One-call file -> per-page content-stream text."""
    return PdfFile(pdf_bytes).page_texts()


# ---------------------------------------------------------- PDF writer

def escape_literal(s: str) -> str:
    """Escape text for a PDF literal string (backslash first)."""
    return s.replace("\\", "\\\\").replace("(", "\\(") \
        .replace(")", "\\)")


# page templates shared verbatim with the queries_pdffile oracle SQL
PAGE1_TMPL = ("BT /F1 16 Tf 72 708 Td ({t}) Tj "
              "/F2 10 Tf 12 TL 0 -32 Td ({a}) Tj T* ({b}) Tj ET "
              "q 1 0 0 1 60 300 cm /Im0 Do Q")
PAGE2_TMPL = "BT /F2 10 Tf 72 700 Td ({c}) Tj 12 TL T* ({d}) Tj ET"

# 1-based (start, length) slices of the padded text — the oracle reuses
# these numbers verbatim
SLICES = {"t": (1, 20), "a": (21, 28), "b": (49, 28),
          "c": (77, 28), "d": (105, 28)}
PAD = " the quick brown fox jumps over the lazy dog" * 4

def _ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i:i + 4]
        n = len(chunk)
        v = int.from_bytes(chunk + b"\x00" * (4 - n), "big")
        digits = []
        for _ in range(5):
            digits.append(v % 85)
            v //= 85
        out += bytes(33 + d for d in reversed(digits))[: n + 1]
    return bytes(out) + b"~>"


def _run_length_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 126:
            j += 1
        if j > i:  # run of length j-i+1 >= 2
            out += bytes([257 - (j - i + 1), data[i]])
            i = j + 1
        else:
            k = i
            while k + 1 < n and (k - i) < 127 \
                    and (k + 2 >= n or data[k + 1] != data[k + 2]):
                k += 1
            out += bytes([k - i]) + data[i:k + 1]
            i = k + 1
    return bytes(out) + b"\x80"


def _ascii_hex_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


def _png_up_encode(data: bytes, columns: int) -> bytes:
    out = bytearray()
    prev = bytearray(columns)
    for r0 in range(0, len(data), columns):
        row = data[r0:r0 + columns]
        out.append(2)
        out += bytes((row[j] - prev[j]) & 0xFF for j in range(len(row)))
        prev = bytearray(row)
    return bytes(out)


def _stream_obj(body: bytes, extra: str = "") -> bytes:
    return (f"<< /Length {len(body)}{extra} >>\nstream\n"
            .encode("latin-1") + body + b"\nendstream")


def _encode_page1(content: bytes, doc_id: int) -> bytes:
    v = doc_id % 4
    if v == 1:
        return _stream_obj(zlib.compress(content),
                           " /Filter /FlateDecode")
    if v == 2:
        return _stream_obj(_ascii_hex_encode(content),
                           " /Filter /ASCIIHexDecode")
    if v == 3:
        return _stream_obj(_ascii85_encode(content),
                           " /Filter /ASCII85Decode")
    return _stream_obj(content)


def _encode_page2(content: bytes, doc_id: int) -> bytes:
    v = doc_id % 3
    if v == 0:
        return _stream_obj(_run_length_encode(content),
                           " /Filter /RunLengthDecode")
    if v == 2:
        return _stream_obj(lzw_encode(content), " /Filter /LZWDecode")
    # chain: Flate first at write time, AHx second -> decode AHx, Flate
    enc = _ascii_hex_encode(zlib.compress(content))
    return _stream_obj(enc,
                       " /Filter [/ASCIIHexDecode /FlateDecode]")


def build_pdf(doc_id: int, text: str) -> bytes:
    """Deterministically synthesize one complete PDF file from a
    document row: two pages in a NESTED page tree (inherited resources
    and MediaBox), per-doc filter variants (page 1: none/Flate/AHx/A85
    by mod 4; page 2: RunLength / [AHx Fl] chain / LZW by mod 3), an
    /Info dict, and one incremental update (``/Prev``) that revises
    the title — classic xref table for even doc_id, xref STREAM +
    object stream (fonts + Info compressed) for odd.  Every
    structural branch of the parser above is reached across
    doc_id mod 12."""
    p = (text or "") + PAD
    sl = {k: escape_literal(p[a - 1:a - 1 + n])
          for k, (a, n) in SLICES.items()}
    page1 = PAGE1_TMPL.format(t=sl["t"], a=sl["a"], b=sl["b"]) \
        .encode("utf-8")
    page2 = PAGE2_TMPL.format(c=sl["c"], d=sl["d"]).encode("utf-8")

    img = bytes(range(16))
    bodies: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 "
            b"/MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 8 0 R /F2 9 0 R >> "
            b"/XObject << /Im0 10 0 R >> >> >>"),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
        4: (b"<< /Type /Pages /Parent 2 0 R /Kids [5 0 R] "
            b"/Count 1 >>"),
        5: b"<< /Type /Page /Parent 4 0 R /Contents [7 0 R] >>",
        6: _encode_page1(page1, doc_id),
        7: _encode_page2(page2, doc_id),
        10: (b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
             b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
             b"/Length 16 >>\nstream\n" + img + b"\nendstream"),
    }
    font1 = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >>"
    font2 = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    info = (f"<< /Title (Doc {doc_id}) "
            f"/Producer (pdf-extraction-spark) >>").encode("latin-1")
    info2 = (f"<< /Title (Doc {doc_id} rev2) "
             f"/Producer (pdf-extraction-spark) >>").encode("latin-1")

    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(body)
        out.extend(b"\nendobj\n")

    if doc_id % 2 == 0:  # ---------- classic xref table
        bodies[8], bodies[9], bodies[11] = font1, font2, info
        for num in sorted(bodies):
            emit(num, bodies[num])
        xref_off = len(out)
        out.extend(b"xref\n0 12\n")
        out.extend(b"0000000000 65535 f \n")
        for num in range(1, 12):
            out.extend(f"{offsets[num]:010d} 00000 n \n"
                       .encode("latin-1"))
        out.extend(b"trailer\n<< /Size 12 /Root 1 0 R /Info 11 0 R >>\n")
        out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
        # incremental update: revise the title
        emit(11, info2)
        x2 = len(out)
        out.extend(b"xref\n11 1\n")
        out.extend(f"{offsets[11]:010d} 00000 n \n".encode("latin-1"))
        out.extend(f"trailer\n<< /Size 12 /Root 1 0 R /Info 11 0 R "
                   f"/Prev {xref_off} >>\n".encode("latin-1"))
        out.extend(f"startxref\n{x2}\n%%EOF\n".encode("latin-1"))
    else:  # ---------- xref stream + object stream
        for num in sorted(bodies):
            emit(num, bodies[num])
        # ObjStm 12 holds 8, 9, 11 (fonts + Info)
        parts = [(8, font1), (9, font2), (11, info)]
        hdr, body, off = [], [], 0
        for num, b in parts:
            hdr.append(f"{num} {off}")
            body.append(b)
            off += len(b) + 1
        payload = (" ".join(hdr)).encode("latin-1") + b"\n" \
            + b"\n".join(body) + b"\n"
        first = len((" ".join(hdr)).encode("latin-1")) + 1
        emit(12, _stream_obj(
            zlib.compress(payload),
            f" /Type /ObjStm /N 3 /First {first} "
            f"/Filter /FlateDecode"))

        def xrow(typ: int, f2: int, f3: int) -> bytes:
            return bytes([typ]) + f2.to_bytes(3, "big") + bytes([f3])

        rows = [xrow(0, 0, 255)]
        for num in range(1, 8):
            rows.append(xrow(1, offsets[num], 0))
        rows.append(xrow(2, 12, 0))   # 8
        rows.append(xrow(2, 12, 1))   # 9
        rows.append(xrow(1, offsets[10], 0))
        rows.append(xrow(2, 12, 2))   # 11
        rows.append(xrow(1, offsets[12], 0))
        xref_off = len(out)
        rows.append(xrow(1, xref_off, 0))  # 13 = this stream
        table = b"".join(rows)
        if doc_id % 4 == 1:  # PNG Up predictor on the xref stream
            enc = zlib.compress(_png_up_encode(table, 5))
            extra = (" /Type /XRef /Size 14 /W [1 3 1] /Index [0 14] "
                     "/Root 1 0 R /Info 11 0 R /Filter /FlateDecode "
                     "/DecodeParms << /Predictor 12 /Columns 5 >>")
        else:
            enc = zlib.compress(table)
            extra = (" /Type /XRef /Size 14 /W [1 3 1] /Index [0 14] "
                     "/Root 1 0 R /Info 11 0 R /Filter /FlateDecode")
        emit(13, _stream_obj(enc, extra))
        out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
        # incremental update: plain revised Info + new xref stream
        emit(11, info2)
        x2 = len(out)
        rows2 = [xrow(1, offsets[11], 0), xrow(1, x2, 0)]
        enc2 = zlib.compress(b"".join(rows2))
        emit(14, _stream_obj(
            enc2,
            f" /Type /XRef /Size 15 /W [1 3 1] /Index [11 1 14 1] "
            f"/Root 1 0 R /Info 11 0 R /Prev {xref_off} "
            f"/Filter /FlateDecode"))
        # fix: the emit above recorded offsets[14] == x2 already
        out.extend(f"startxref\n{x2}\n%%EOF\n".encode("latin-1"))
    return bytes(out)


# slices for the ToUnicode gate (1-based start, length over padded
# text) — shared verbatim with the queries_pdffile oracle
CMAP_SLICES = {"p": (1, 24), "a": (25, 30), "b": (55, 30)}


def build_pdf_cmap(doc_id: int, text: str) -> bytes:
    """Single-page file whose body text is shown as 2-BYTE GLYPH CODES
    through a font carrying a /ToUnicode CMap (code = char + 0x100,
    mapped back by one bfrange) next to a plain-encoded line — the
    embedded-font shape real PDFs use.  Parsing it to the original
    text exercises CMap extraction end-to-end; the oracle states the
    expected spans in closed form from the same slices."""
    p = (text or "") + PAD
    sl = {k: p[a - 1:a - 1 + n] for k, (a, n) in CMAP_SLICES.items()}

    def glyphs(s: str) -> str:
        return "<" + "".join(f"{ord(c) + 0x100:04X}" for c in s) + ">"

    content = (
        f"BT /F1 14 Tf 72 714 Td ({escape_literal(sl['p'])}) Tj "
        f"/TU 10 Tf 12 TL 0 -40 Td {glyphs(sl['a'])} Tj T* "
        f"{glyphs(sl['b'])} Tj ET").encode("utf-8")
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"12 dict begin begincmap\n"
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"1 beginbfrange <0100> <017E> <0000> endbfrange\n"
            b"endcmap end end")
    cmap_enc = zlib.compress(cmap)
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] /Resources << /Font "
            b"<< /F1 5 0 R /TU 6 0 R >> >> >>"),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (f"<< /Length {len(content)} >>\nstream\n".encode("latin-1")
            + content + b"\nendstream"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        6: (b"<< /Type /Font /Subtype /Type0 /BaseFont /Embedded-TU "
            b"/Encoding /Identity-H /ToUnicode 7 0 R >>"),
        7: (f"<< /Length {len(cmap_enc)} /Filter /FlateDecode >>\n"
            f"stream\n".encode("latin-1") + cmap_enc + b"\nendstream"),
    }
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(bodies[num])
        out.extend(b"\nendobj\n")
    xref_off = len(out)
    out.extend(b"xref\n0 8\n0000000000 65535 f \n")
    for num in range(1, 8):
        out.extend(f"{offsets[num]:010d} 00000 n \n".encode("latin-1"))
    out.extend(b"trailer\n<< /Size 8 /Root 1 0 R >>\n")
    out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
    return bytes(out)


# decorations the simple-font encodings resolve, stated once so the
# queries_pdffile oracle can quote the same unicode literals:
# WinAnsi 0x93/0x94 -> curly quotes; the /Differences array remaps
# 0x24 '$' -> Euro and 0x25 '%' -> bullet (consecutive-code rule) and
# 0xD8 -> emdash (second int), while 0xC7 falls through to the
# MacRoman base table as guillemotleft.
ENC_WIN_PREFIX, ENC_WIN_SUFFIX = "“", "”"
ENC_DIFF_PREFIX = "€•—« "


def build_pdf_encoding(doc_id: int, text: str) -> bytes:
    """Single-page file whose body lines are shown through SIMPLE
    fonts carrying /Encoding entries (§9.6.5) instead of a /ToUnicode
    CMap: a plain passthrough line (/F1, no map), a
    ``/Encoding /WinAnsiEncoding`` line wrapped in cp1252 curly-quote
    bytes (0x93/0x94), and a ``/Encoding << /BaseEncoding
    /MacRomanEncoding /Differences [...] >>`` line whose prefix bytes
    exercise both Differences rules (an int sets the next code, names
    assign consecutive codes) AND base-table fallthrough.  Parsing it
    back to the decorated text proves the glyphlist/encoding_map path
    end-to-end (reference src/extraction/text_extractor.pyc reads
    already-decoded text from its PDF library; rebuilt from scratch
    the §9.6.5 resolution is explicit — functions/glyphlist.py)."""
    p = (text or "") + PAD
    sl = {k: escape_literal(p[a - 1:a - 1 + n])
          for k, (a, n) in CMAP_SLICES.items()}
    a_lit = b"\x93" + sl["a"].encode("latin-1") + b"\x94"
    b_lit = b"$%\xd8\xc7 " + sl["b"].encode("latin-1")
    content = (
        f"BT /F1 14 Tf 72 714 Td ({sl['p']}) Tj "
        f"/FW 10 Tf 12 TL 0 -40 Td ".encode("latin-1")
        + b"(" + a_lit + b") Tj T* /FD 10 Tf ("
        + b_lit + b") Tj ET")
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] /Resources << /Font "
            b"<< /F1 5 0 R /FW 6 0 R /FD 7 0 R >> >> >>"),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (f"<< /Length {len(content)} >>\nstream\n".encode("latin-1")
            + content + b"\nendstream"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        6: (b"<< /Type /Font /Subtype /TrueType /BaseFont /Arial "
            b"/Encoding /WinAnsiEncoding >>"),
        7: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
            b"/Encoding 8 0 R >>"),
        8: (b"<< /Type /Encoding /BaseEncoding /MacRomanEncoding "
            b"/Differences [36 /Euro /bullet 216 /emdash] >>"),
    }
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(bodies[num])
        out.extend(b"\nendobj\n")
    xref_off = len(out)
    out.extend(b"xref\n0 9\n0000000000 65535 f \n")
    for num in range(1, 9):
        out.extend(f"{offsets[num]:010d} 00000 n \n".encode("latin-1"))
    out.extend(b"trailer\n<< /Size 9 /Root 1 0 R >>\n")
    out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
    return bytes(out)


# slices for the /Widths gate (fixed lengths -> constant geometry)
WIDTH_SLICES = {"p": (1, 16), "a": (17, 10), "b": (27, 10)}


def build_pdf_widths(doc_id: int, text: str) -> bytes:
    """Single-page file whose lines ride SIMPLE fonts carrying
    §9.6.2.1 metrics (/FirstChar + /Widths + FontDescriptor
    /MissingWidth), placed so the gap-aware word join is decided by
    the per-glyph advances:

    - /FV (i=250, m=1000, MissingWidth 500): ``(iii)`` then a Tm hop
      to 83.5 — 4pt past the TRUE right edge 79.5 (word break), then
      ``(zz)`` 2pt past mm's true edge 103.5 (joined).  Under the
      uniform 0.5-em fallback iii would end at 87 and mm at 93.5,
      flipping BOTH joins — the expected text 'iii mmzz' holds only
      when the width table drives the advance.
    - /FB (uniform 750 table + MissingWidth 750): a 10-char slice
      advances exactly 75pt, and the next run sits 2pt past it —
      joined with the table, a 27pt word gap without it.
    - /FC (Type0/Identity-H, ToUnicode identity bfrange, descendant
      /W [105 [250] 109 109 1000] /DW 500): the SAME iii/mm/zz
      geometry through 2-byte CIDs, so the §9.7.4.3 /W parse (both
      forms) and the /DW fallback are pinned by the same join
      pattern.
    """
    p = (text or "") + PAD
    sl = {k: escape_literal(p[a - 1:a - 1 + n])
          for k, (a, n) in WIDTH_SLICES.items()}

    def cid(s: str) -> str:
        return "<" + "".join(f"{ord(c):04X}" for c in s) + ">"

    content = (
        f"BT /F1 14 Tf 72 714 Td ({sl['p']}) Tj "
        f"/FV 10 Tf 1 0 0 1 72 690 Tm (iii) Tj "
        f"1 0 0 1 83.5 690 Tm (mm) Tj "
        f"1 0 0 1 105.5 690 Tm (zz) Tj "
        f"/FB 10 Tf 1 0 0 1 72 650 Tm ({sl['a']}) Tj "
        f"1 0 0 1 149 650 Tm ({sl['b']}) Tj "
        f"/FC 10 Tf 1 0 0 1 72 610 Tm {cid('iii')} Tj "
        f"1 0 0 1 83.5 610 Tm {cid('mm')} Tj "
        f"1 0 0 1 105.5 610 Tm {cid('zz')} Tj ET").encode("latin-1")
    fb_widths = " ".join(["750"] * 95)
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"12 dict begin begincmap\n"
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"1 beginbfrange <0000> <00FF> <0000> endbfrange\n"
            b"endcmap end end")
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] /Resources << /Font "
            b"<< /F1 5 0 R /FV 6 0 R /FB 7 0 R /FC 10 0 R >> >> >>"),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (f"<< /Length {len(content)} >>\nstream\n".encode("latin-1")
            + content + b"\nendstream"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        6: (b"<< /Type /Font /Subtype /Type1 /BaseFont /VarWidths "
            b"/FirstChar 105 /LastChar 109 "
            b"/Widths [250 0 0 0 1000] /FontDescriptor 8 0 R >>"),
        7: (f"<< /Type /Font /Subtype /TrueType /BaseFont /Mono750 "
            f"/FirstChar 32 /LastChar 126 /Widths [{fb_widths}] "
            f"/FontDescriptor 9 0 R >>").encode("latin-1"),
        8: (b"<< /Type /FontDescriptor /FontName /VarWidths "
            b"/MissingWidth 500 >>"),
        9: (b"<< /Type /FontDescriptor /FontName /Mono750 "
            b"/MissingWidth 750 >>"),
        10: (b"<< /Type /Font /Subtype /Type0 /BaseFont /CidW "
             b"/Encoding /Identity-H /DescendantFonts [11 0 R] "
             b"/ToUnicode 12 0 R >>"),
        11: (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /CidW "
             b"/W [105 [250] 109 109 1000] /DW 500 >>"),
        12: (f"<< /Length {len(cmap)} >>\nstream\n".encode("latin-1")
             + cmap + b"\nendstream"),
    }
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(bodies[num])
        out.extend(b"\nendobj\n")
    xref_off = len(out)
    out.extend(b"xref\n0 13\n0000000000 65535 f \n")
    for num in range(1, 13):
        out.extend(f"{offsets[num]:010d} 00000 n \n".encode("latin-1"))
    out.extend(b"trailer\n<< /Size 13 /Root 1 0 R >>\n")
    out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
    return bytes(out)


def build_pdf_xobject(doc_id: int, text: str) -> bytes:
    """Single-page file that draws through FORM XOBJECTS (§8.10) —
    the content-reuse shape real PDFs use for letterheads, stamps and
    generated-report templates: the page shows one plain line, then
    invokes form /Fm1 TWICE at different CTM translations.  /Fm1
    carries its own /Matrix, its own WinAnsi-encoded font /FE (scope
    shadowing: the name resolves in the form's resources, not the
    page's), an image /Im1 (media run inside a form), and a NESTED
    form /Fm2 with no resources of its own whose /F1 falls back to
    the invoking scope.  Expected spans are closed-form: each
    invocation re-emits the form's text at its translated position,
    so layout yields p | enc(a) | b | enc(a) | b | Im1 | Im1 in
    y-order."""
    p = (text or "") + PAD
    sl = {k: escape_literal(p[a - 1:a - 1 + n])
          for k, (a, n) in CMAP_SLICES.items()}
    page = (f"BT /F1 14 Tf 72 714 Td ({sl['p']}) Tj ET "
            f"q 1 0 0 1 0 -60 cm /Fm1 Do Q "
            f"q 1 0 0 1 0 -130 cm /Fm1 Do Q").encode("latin-1")
    # /Fm1: encoded line + image + nested form, own Matrix (0,-6)
    fm1 = (b"BT /FE 10 Tf 72 640 Td (\x93"
           + sl["a"].encode("latin-1") + b"\x94) Tj ET "
           b"q 1 0 0 1 60 300 cm /Im1 Do Q /Fm2 Do")
    # /Fm2: no Resources -> /F1 resolves in the INVOKING scope
    fm2 = (f"BT /F1 9 Tf 72 600 Td ({sl['b']}) Tj ET"
           .encode("latin-1"))
    img = bytes(16)
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] /Resources << "
            b"/Font << /F1 5 0 R >> "
            b"/XObject << /Fm1 6 0 R >> >> >>"),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (f"<< /Length {len(page)} >>\nstream\n".encode("latin-1")
            + page + b"\nendstream"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        6: (f"<< /Type /XObject /Subtype /Form /Matrix [1 0 0 1 0 -6] "
            f"/BBox [0 0 612 792] /Resources << "
            f"/Font << /FE 7 0 R >> "
            f"/XObject << /Im1 8 0 R /Fm2 9 0 R >> >> "
            f"/Length {len(fm1)} >>\nstream\n".encode("latin-1")
            + fm1 + b"\nendstream"),
        7: (b"<< /Type /Font /Subtype /TrueType /BaseFont /Arial "
            b"/Encoding /WinAnsiEncoding >>"),
        8: (f"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
            f"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            f"/Length {len(img)} >>\nstream\n".encode("latin-1")
            + img + b"\nendstream"),
        9: (f"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
            f"/Length {len(fm2)} >>\nstream\n".encode("latin-1")
            + fm2 + b"\nendstream"),
    }
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(bodies[num])
        out.extend(b"\nendobj\n")
    xref_off = len(out)
    out.extend(b"xref\n0 10\n0000000000 65535 f \n")
    for num in range(1, 10):
        out.extend(f"{offsets[num]:010d} 00000 n \n".encode("latin-1"))
    out.extend(b"trailer\n<< /Size 10 /Root 1 0 R >>\n")
    out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
    return bytes(out)


def build_pdf_acroform(doc_id: int, text: str) -> bytes:
    """Single-page file with a filled INTERACTIVE FORM (§12.7) — the
    shape scanned-and-filled inspection reports take: an /AcroForm
    field tree with a flat text field, a parent whose kids exercise
    both inheritance rules (/FT always from the parent; /V inherited
    by the valueless `note` kid), an own-typed choice kid, and a
    button field whose two /T-less widget kids must collapse to ONE
    row.  Values are text slices / doc_id-parity picks so the oracle
    states every row in closed form."""
    p = (text or "") + PAD
    sl = {k: escape_literal(p[a - 1:a - 1 + n])
          for k, (a, n) in CMAP_SLICES.items()}
    grade = "A" if doc_id % 2 == 0 else "B"
    state = "/Yes" if doc_id % 3 == 0 else "/Off"
    content = b"BT /F1 10 Tf 72 714 Td (form) Tj ET"
    bodies = {
        1: (b"<< /Type /Catalog /Pages 2 0 R "
            b"/AcroForm << /Fields [10 0 R 11 0 R 15 0 R] >> >>"),
        2: (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] /Resources << /Font "
            b"<< /F1 5 0 R >> >> >>"),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (f"<< /Length {len(content)} >>\nstream\n".encode("latin-1")
            + content + b"\nendstream"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        10: (f"<< /T (owner) /FT /Tx /V ({sl['a']}) >>"
             .encode("latin-1")),
        11: (f"<< /T (insp) /FT /Tx /V ({sl['p']}) "
             f"/Kids [12 0 R 13 0 R 14 0 R] >>".encode("latin-1")),
        12: (f"<< /T (date) /Parent 11 0 R /V ({sl['b']}) >>"
             .encode("latin-1")),
        13: b"<< /T (note) /Parent 11 0 R >>",
        14: (f"<< /T (grade) /Parent 11 0 R /FT /Ch /V ({grade}) >>"
             .encode("latin-1")),
        15: (f"<< /T (approved) /FT /Btn /V {state} "
             f"/Kids [16 0 R 17 0 R] >>".encode("latin-1")),
        16: (b"<< /Type /Annot /Subtype /Widget "
             b"/Rect [72 100 90 118] >>"),
        17: (b"<< /Type /Annot /Subtype /Widget "
             b"/Rect [72 140 90 158] >>"),
    }
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(bodies[num])
        out.extend(b"\nendobj\n")
    xref_off = len(out)
    out.extend(b"xref\n0 1\n0000000000 65535 f \n")
    for num in sorted(bodies):
        out.extend(f"{num} 1\n{offsets[num]:010d} 00000 n \n"
                   .encode("latin-1"))
    out.extend(b"trailer\n<< /Size 18 /Root 1 0 R >>\n")
    out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
    return bytes(out)


def build_pdf_annots(doc_id: int, text: str) -> bytes:
    """Two-page file with MARKUP annotations (§12.5): a /FreeText
    callout and a /Text sticky note (with its /Popup twin, which must
    NOT produce a second row) on page 1 next to a /Link (no reviewer
    text, excluded), a /Highlight on page 2 and — odd docs only — a
    /Square; all /Contents are text slices so the oracle states every
    row in closed form."""
    p = (text or "") + PAD
    sl = {k: escape_literal(p[a - 1:a - 1 + n])
          for k, (a, n) in SLICES.items()}
    page1 = b"BT /F1 10 Tf 72 714 Td (one) Tj ET"
    page2 = b"BT /F1 10 Tf 72 714 Td (two) Tj ET"
    odd = doc_id % 2 == 1
    annots2 = b"[12 0 R 13 0 R]" if odd else b"[12 0 R]"
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 "
            b"/MediaBox [0 0 612 792] /Resources << /Font "
            b"<< /F1 7 0 R >> >> >>"),
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R "
            b"/Annots [8 0 R 9 0 R 10 0 R 11 0 R] >>"),
        4: (b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R "
            b"/Annots " + annots2 + b" >>"),
        5: (f"<< /Length {len(page1)} >>\nstream\n".encode("latin-1")
            + page1 + b"\nendstream"),
        6: (f"<< /Length {len(page2)} >>\nstream\n".encode("latin-1")
            + page2 + b"\nendstream"),
        7: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        8: (f"<< /Type /Annot /Subtype /FreeText /Rect [72 600 200 "
            f"620] /Contents ({sl['a']}) >>".encode("latin-1")),
        9: (b"<< /Type /Annot /Subtype /Link /Rect [72 560 200 580] "
            b"/A << /S /URI /URI (https://example.com/x) >> >>"),
        10: (f"<< /Type /Annot /Subtype /Text /Rect [72 520 90 538] "
             f"/Contents ({sl['b']}) /Popup 11 0 R >>"
             .encode("latin-1")),
        11: (f"<< /Type /Annot /Subtype /Popup /Parent 10 0 R "
             f"/Rect [100 500 300 600] /Contents ({sl['b']}) >>"
             .encode("latin-1")),
        12: (f"<< /Type /Annot /Subtype /Highlight /Rect [72 600 "
             f"300 620] /Contents ({sl['c']}) >>".encode("latin-1")),
        13: (f"<< /Type /Annot /Subtype /Square /Rect [72 500 300 "
             f"560] /Contents ({sl['d']}) >>".encode("latin-1")),
    }
    if not odd:
        del bodies[13]
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(bodies[num])
        out.extend(b"\nendobj\n")
    xref_off = len(out)
    out.extend(b"xref\n0 1\n0000000000 65535 f \n")
    for num in sorted(bodies):
        out.extend(f"{num} 1\n{offsets[num]:010d} 00000 n \n"
                   .encode("latin-1"))
    out.extend(f"trailer\n<< /Size {max(bodies) + 1} /Root 1 0 R "
               f">>\n".encode("latin-1"))
    out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
    return bytes(out)


def build_pdf_nav(doc_id: int, text: str) -> bytes:
    """Two-page file with NAVIGATION structure: an /Outlines bookmark
    tree (top item -> page 1, nested child -> page 2 via /Dest, a
    second top item via an /A GoTo action) and /Link annotations
    carrying /URI actions (two on page 1, one doc_id%2-conditional on
    page 2) — the writer for the `pdf_file_outline` /
    `pdf_file_links` oracle gates."""
    p = (text or "") + PAD
    sl = {k: escape_literal(p[a - 1:a - 1 + n])
          for k, (a, n) in CMAP_SLICES.items()}
    page1 = f"BT /F1 12 Tf 72 714 Td ({sl['p']}) Tj ET".encode()
    page2 = f"BT /F1 12 Tf 72 714 Td ({sl['a']}) Tj ET".encode()
    odd = doc_id % 2 == 1
    annots2 = b" /Annots [12 0 R]" if odd else b""
    attach = (f"att {doc_id}: " + p[80:80 + 40]).encode("utf-8")
    attach_enc = zlib.compress(attach)
    bodies = {
        1: (b"<< /Type /Catalog /Pages 2 0 R /Outlines 7 0 R "
            b"/Names << /EmbeddedFiles 14 0 R >> >>"),
        2: (b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 "
            b"/MediaBox [0 0 612 792] >>"),
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R "
            b"/Annots [10 0 R 11 0 R] >>"),
        4: (b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R"
            + annots2 + b" >>"),
        5: (f"<< /Length {len(page1)} >>\nstream\n".encode()
            + page1 + b"\nendstream"),
        6: (f"<< /Length {len(page2)} >>\nstream\n".encode()
            + page2 + b"\nendstream"),
        7: (b"<< /Type /Outlines /First 8 0 R /Last 13 0 R "
            b"/Count 3 >>"),
        8: (b"<< /Title " + _lit_bytes(
                p[:20].encode("utf-8")) +
            b" /Parent 7 0 R /Next 13 0 R /First 9 0 R /Last 9 0 R "
            b"/Count 1 /Dest [3 0 R /XYZ 0 792 0] >>"),
        9: (b"<< /Title " + _lit_bytes(
                p[24:24 + 20].encode("utf-8")) +
            b" /Parent 8 0 R /Dest [4 0 R /Fit] >>"),
        13: (b"<< /Title " + _lit_bytes(
                p[54:54 + 20].encode("utf-8")) +
             b" /Parent 7 0 R /Prev 8 0 R "
             b"/A << /S /GoTo /D [4 0 R /XYZ 0 792 0] >> >>"),
        10: (f"<< /Type /Annot /Subtype /Link /Rect [0 0 100 20] "
             f"/A << /S /URI /URI (https://example.com/doc"
             f"{doc_id}) >> >>").encode(),
        11: (f"<< /Type /Annot /Subtype /Link /Rect [0 30 100 50] "
             f"/A << /S /URI /URI (mailto:a@b{doc_id % 7}.org) "
             f">> >>").encode(),
    }
    bodies[14] = b"<< /Kids [15 0 R] >>"  # name-tree intermediate
    bodies[15] = (f"<< /Limits [(a{doc_id % 3}.txt) (a{doc_id % 3}"
                  f".txt)] /Names [(a{doc_id % 3}.txt) 16 0 R] >>"
                  ).encode()
    bodies[16] = (b"<< /Type /Filespec /F (a.txt) "
                  b"/EF << /F 17 0 R >> >>")
    bodies[17] = (f"<< /Length {len(attach_enc)} /Type /EmbeddedFile "
                  f"/Filter /FlateDecode >>\nstream\n".encode()
                  + attach_enc + b"\nendstream")
    if odd:
        bodies[12] = (
            f"<< /Type /Annot /Subtype /Link /Rect [0 0 50 10] "
            f"/A << /S /URI /URI (http://h{doc_id % 5}.test/p"
            f"{doc_id}) >> >>").encode()
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(bodies[num])
        out.extend(b"\nendobj\n")
    size = max(bodies) + 1
    xref_off = len(out)
    out.extend(b"xref\n")
    entries = sorted(offsets)
    i = 0
    out.extend(b"0 1\n0000000000 65535 f \n")
    while i < len(entries):
        j = i
        while j + 1 < len(entries) and entries[j + 1] == entries[j] + 1:
            j += 1
        out.extend(f"{entries[i]} {j - i + 1}\n".encode())
        for num in entries[i:j + 1]:
            out.extend(f"{offsets[num]:010d} 00000 n \n".encode())
        i = j + 1
    out.extend(f"trailer\n<< /Size {size} /Root 1 0 R >>\n"
               f"startxref\n{xref_off}\n%%EOF\n".encode())
    return bytes(out)


def _lit_bytes(b: bytes) -> bytes:
    """Binary-safe PDF literal string: octal-escape everything outside
    printable ASCII plus the syntax chars."""
    out = bytearray(b"(")
    for c in b:
        if c in (0x28, 0x29, 0x5C) or not 0x20 <= c < 0x7F:
            out += f"\\{c:03o}".encode("ascii")
        else:
            out.append(c)
    out += b")"
    return bytes(out)


def build_pdf_encrypted(doc_id: int, text: str) -> bytes:
    """Single-page file under the §7.6 STANDARD security handler with
    an empty user password (the ubiquitous 'owner-locked' shape) —
    doc_id mod 4 picks RC4 40-bit V1/R2, RC4 128-bit V2/R3,
    AES-128-CBC V4/R4 (/AESV2 crypt filter), or AES-256-CBC V5/R6
    (/AESV3: SHA-2 hash chain, /UE-wrapped file key, /Perms).  The
    page content stream and the /Info title are encrypted with the
    per-object (or, for R6, file) keys; the password-record entries
    follow the spec's algorithms so any conforming reader opens the
    file."""
    import hashlib

    p = (text or "") + PAD
    sl = {k: escape_literal(p[a - 1:a - 1 + n])
          for k, (a, n) in CMAP_SLICES.items()}
    content = (
        f"BT /F1 14 Tf 72 714 Td ({sl['p']}) Tj "
        f"/F2 10 Tf 12 TL 0 -40 Td ({sl['a']}) Tj T* "
        f"({sl['b']}) Tj ET").encode("utf-8")

    variant = doc_id % 4
    r = (2, 3, 4, 6)[variant]
    v = (1, 2, 4, 5)[variant]
    perm = -44
    fid = hashlib.md5(f"id{doc_id}".encode()).digest()

    def md5(s: str) -> bytes:
        return hashlib.md5(s.encode()).digest()

    if r == 6:  # AES-256: Algorithms 8/9 password records
        from ..functions.aes import (cbc_encrypt, cbc_encrypt_raw,
                                     ecb_encrypt_block)

        fkey = md5(f"fk1{doc_id}") + md5(f"fk2{doc_id}")
        # salts shared across the corpus: the per-FILE key still
        # differs (wrapped per-doc in /UE), but the 10^4-AES-op
        # Algorithm 2.B runs once per corpus instead of per file —
        # both through the r6_hash lru_cache.  Unit tests cover
        # distinct-salt files; real corpora with per-file salts just
        # pay the hash once per file, as every reader does.
        vsalt, ksalt = md5("vs-r6")[:8], md5("ks-r6")[:8]
        u_val = r6_hash(b"", vsalt) + vsalt + ksalt
        ue = cbc_encrypt_raw(r6_hash(b"", ksalt), b"\x00" * 16, fkey)
        ovs, oks = md5("ovs-r6")[:8], md5("oks-r6")[:8]
        o_val = r6_hash(b"owner", ovs, u_val) + ovs + oks
        oe = cbc_encrypt_raw(r6_hash(b"owner", oks, u_val),
                             b"\x00" * 16, fkey)
        perms = ecb_encrypt_block(
            fkey, (perm & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xffTadb" + md5(f"pr{doc_id}")[:4])
        extra_entries = (b" /OE " + _lit_bytes(oe) + b" /UE "
                         + _lit_bytes(ue) + b" /Perms "
                         + _lit_bytes(perms))

        def enc_obj(num: int, data: bytes) -> bytes:
            return cbc_encrypt(fkey, md5(f"iv{doc_id}:{num}"), data)

        length_decl = ("/Length 256 /CF << /StdCF << /CFM /AESV3 "
                       "/Length 32 >> >> /StmF /StdCF /StrF /StdCF ")
    else:
        extra_entries = b""
        key_len = 5 if r == 2 else 16
        o_val = std_o_entry(b"owner", b"", r, key_len)
        fkey = std_file_key(b"", o_val, perm, fid, r, key_len)
        u_val = std_u_entry(fkey, fid, r)
        if r == 4:  # AES-128-CBC, deterministic per-object IVs
            from ..functions.aes import cbc_encrypt

            def enc_obj(num: int, data: bytes) -> bytes:
                return cbc_encrypt(
                    object_key(fkey, num, 0, aes=True),
                    md5(f"iv{doc_id}:{num}"), data)
        else:
            def enc_obj(num: int, data: bytes) -> bytes:
                return rc4(object_key(fkey, num, 0), data)
        if r == 2:
            length_decl = ""
        elif r == 3:
            length_decl = f"/Length {key_len * 8} "
        else:
            length_decl = ("/Length 128 /CF << /StdCF << /CFM /AESV2 "
                           "/Length 16 >> >> /StmF /StdCF "
                           "/StrF /StdCF ")

    content_enc = enc_obj(4, content)
    title_enc = enc_obj(7, f"Doc {doc_id} enc".encode("latin-1"))
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] /Resources << /Font "
            b"<< /F1 5 0 R /F2 6 0 R >> >> >>"),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (f"<< /Length {len(content_enc)} >>\nstream\n"
            .encode("latin-1") + content_enc + b"\nendstream"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        7: b"<< /Title " + _lit_bytes(title_enc) + b" >>",
        8: (f"<< /Filter /Standard /V {v} /R {r} {length_decl}"
            f"/P {perm} /O ".encode("latin-1") + _lit_bytes(o_val)
            + b" /U " + _lit_bytes(u_val) + extra_entries + b" >>"),
    }
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(bodies[num])
        out.extend(b"\nendobj\n")
    xref_off = len(out)
    out.extend(b"xref\n0 9\n0000000000 65535 f \n")
    for num in range(1, 9):
        out.extend(f"{offsets[num]:010d} 00000 n \n".encode("latin-1"))
    hid = fid.hex().encode("ascii")
    out.extend(b"trailer\n<< /Size 9 /Root 1 0 R /Info 7 0 R "
               b"/Encrypt 8 0 R /ID [<" + hid + b"> <" + hid
               + b">] >>\n")
    out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
    return bytes(out)


def wrap_content_stream(variant: int, content: bytes) -> bytes:
    """Minimal single-page PDF file around a ready content stream —
    the scaling-corpus shape, where stream bytes track document size.
    ``variant`` picks the stream filter (mod 4, same ladder as
    ``build_pdf``) and the xref flavor (classic for even, xref STREAM
    for odd), so a scaling run exercises both decode paths at corpus
    width."""
    v = variant % 4
    if v == 1:
        enc, filt = zlib.compress(content), " /Filter /FlateDecode"
    elif v == 2:
        enc, filt = _ascii_hex_encode(content), \
            " /Filter /ASCIIHexDecode"
    elif v == 3:
        enc, filt = _ascii85_encode(content), \
            " /Filter /ASCII85Decode"
    else:
        enc, filt = content, ""
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>"),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (f"<< /Length {len(enc)}{filt} >>\nstream\n"
            .encode("latin-1") + enc + b"\nendstream"),
    }
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("latin-1"))
        out.extend(bodies[num])
        out.extend(b"\nendobj\n")
    xref_off = len(out)
    if variant % 2 == 0:
        out.extend(b"xref\n0 5\n0000000000 65535 f \n")
        for num in range(1, 5):
            out.extend(f"{offsets[num]:010d} 00000 n \n"
                       .encode("latin-1"))
        out.extend(b"trailer\n<< /Size 5 /Root 1 0 R >>\n")
    else:
        rows = [bytes([0, 0, 0, 0, 255])]
        for num in range(1, 5):
            rows.append(bytes([1]) + offsets[num].to_bytes(3, "big")
                        + b"\x00")
        rows.append(bytes([1]) + xref_off.to_bytes(3, "big") + b"\x00")
        enc2 = zlib.compress(b"".join(rows))
        out.extend(
            (f"5 0 obj\n<< /Length {len(enc2)} /Type /XRef /Size 6 "
             f"/W [1 3 1] /Index [0 6] /Root 1 0 R "
             f"/Filter /FlateDecode >>\nstream\n").encode("latin-1"))
        out.extend(enc2)
        out.extend(b"\nendstream\nendobj\n")
    out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
    return bytes(out)


def wrap_stream_files(docs: DataFrame, stream_col: str = "stream",
                      id_col: str = "doc_id") -> DataFrame:
    """(doc_id, stream) -> (doc_id, pdf binary): each rendered content
    stream wrapped as a whole single-page PDF file (variant chosen
    from the digits of doc_id — deterministic, partition-invariant).
    One map-only Arrow pass; the scaling-corpus synthesizer for the
    ``pdffile`` stage."""
    return file_pass(
        docs, id_col, [stream_col], FILES_SCHEMA,
        lambda key, stream: [(wrap_content_stream(
            id_number(key), (stream or "").encode("utf-8")),)])


# -------------------------------------------------------- Spark kernels

FILES_SCHEMA = "doc_id string, pdf binary"
PAGES_SCHEMA = ("doc_id string, page int, stream string, "
                "fontmaps string")
META_SCHEMA = ("doc_id string, n_pages int, n_objects int, "
               "xref_kind string, n_revisions int, title string, "
               "page1_filter string")
OUTLINE_SCHEMA = ("doc_id string, ord int, depth int, title string, "
                  "page int")
LINKS_SCHEMA = "doc_id string, page int, uri string"
ANNOTS_SCHEMA = ("doc_id string, page int, subtype string, "
                 "contents string")
ACROFORM_SCHEMA = ("doc_id string, ord int, name string, ftype string, "
                   "value string")


def _parsed(blob: bytes | None, read: Callable[["PdfFile"], Any]
            ) -> Iterator[Any]:
    """The one parse guard of the file readers: yields
    ``read(PdfFile(blob))`` once, or nothing when the parse raises
    (e.g. an unsupported content filter).  At 10^9-file scale one
    damaged file costs its own rows, never the task or the job."""
    try:
        out = read(PdfFile(blob or b""))
    except Exception:
        return
    yield out


def _page_payloads(pf: "PdfFile") -> tuple[list, list, list]:
    """Per-page content streams, font maps and Form XObjects."""
    return pf.page_texts(), pf.page_font_maps(), pf.page_forms()


def _meta(pf: "PdfFile") -> tuple:
    streams = pf.page_streams()
    f1 = streams[0][0] if streams else []
    return (len(streams), int(pf.get(pf.trailer.get("Size")) or 0),
            pf.xref_kind, pf.n_revisions,
            text_string(pf.info().get("Title", "")),
            f1[0] if f1 else "none")


def build_pdf_files(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, text) -> (doc_id, pdf binary) via the deterministic
    writer — ONE map-only Arrow pass (test-corpus synthesis; at
    production scale the binary column arrives from the lake)."""
    return file_pass(docs, id_col, [text_col], FILES_SCHEMA,
                     lambda key, text: [(build_pdf(int(key), text or ""),)])


def pages_from_files(files: DataFrame, bytes_col: str = "pdf",
                     id_col: str = "doc_id") -> DataFrame:
    """Whole-file parse: (doc_id, pdf bytes) -> (doc_id, page, stream)
    — xref walk, filter decode, page-tree DFS, one map-only
    ``file_pass`` (zero shuffle, plan-asserted).  A file whose parse
    raises yields no rows (the shared ``_parsed`` guard).

    The ``fontmaps`` column carries each page's font maps and Form
    XObjects as `pdfstream.fontmaps_json` (``{}`` when the page has
    neither) — `pdfstream.tokenize_streams(maps_col='fontmaps')`
    applies them so glyph-coded strings decode to text."""
    from .pdfstream import fontmaps_json

    def rows_of(_key: str, blob: bytes | None) -> Iterator[tuple]:
        for texts, fmaps, forms in _parsed(blob, _page_payloads):
            for pg, txt in enumerate(texts):
                yield pg, txt, fontmaps_json(
                    fmaps[pg] if pg < len(fmaps) else {},
                    forms[pg] if pg < len(forms) else {})

    return file_pass(files, id_col, [bytes_col], PAGES_SCHEMA, rows_of)


def file_meta(files: DataFrame, bytes_col: str = "pdf",
              id_col: str = "doc_id") -> DataFrame:
    """Structural metadata per file: page/object/revision counts, xref
    flavor, /Info title (post-update), page-1 content filter.  A file
    whose parse raises yields no row."""
    return file_pass(files, id_col, [bytes_col], META_SCHEMA,
                     lambda _key, blob: _parsed(blob, _meta))


def outline_table(files: DataFrame, bytes_col: str = "pdf",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pdf) -> flattened bookmark rows (doc_id, ord, depth,
    title, page) in display order — map-only; the document-structure
    side channel sectioning can join against the layout blocks."""
    return file_pass(
        files, id_col, [bytes_col], OUTLINE_SCHEMA,
        lambda _key, blob: [(k, *r)
                            for rows in _parsed(blob, PdfFile.outlines)
                            for k, r in enumerate(rows)])


def pdf_link_table(files: DataFrame, bytes_col: str = "pdf",
                   id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pdf) -> (doc_id, page, uri) for /Link//URI annotations
    — map-only; feeds the crawl-curation link chain
    (`operators/links.py` url_parts / host_stats) unchanged."""
    return file_pass(
        files, id_col, [bytes_col], LINKS_SCHEMA,
        lambda _key, blob: [
            r for rows in _parsed(blob, PdfFile.link_annotations)
            for r in rows])


def annot_table(files: DataFrame, bytes_col: str = "pdf",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pdf) -> (doc_id, page, subtype, contents) for every
    text-carrying annotation — map-only; reviewer markup becomes
    corpus rows alongside the extracted spans."""
    return file_pass(
        files, id_col, [bytes_col], ANNOTS_SCHEMA,
        lambda _key, blob: [
            r for rows in _parsed(blob, PdfFile.annotation_texts)
            for r in rows])


def acroform_table(files: DataFrame, bytes_col: str = "pdf",
                   id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pdf) -> (doc_id, ord, name, ftype, value) for every
    terminal /AcroForm field — map-only; filled form values become
    queryable corpus rows the enrichment plans can consume like any
    other extracted attribute."""
    return file_pass(
        files, id_col, [bytes_col], ACROFORM_SCHEMA,
        lambda _key, blob: [(k, *r)
                            for rows in _parsed(blob, PdfFile.form_fields)
                            for k, r in enumerate(rows)])


def files_to_spans(files: DataFrame, bytes_col: str = "pdf",
                   id_col: str = "doc_id", **kw) -> DataFrame:
    """Whole PDF files -> contract span arrays in ONE map-only pass:
    parse -> per-page tokenize -> `layout.layout_page` -> page-ordered
    gapless spans, inside a single ``mapInArrow`` with zero exchanges
    (plan-asserted) — each file already sits whole on one task, the
    same shape as `docx.docx_to_spans`.  The composition point for the
    BASELINE.json input_hint on raw-file corpora; all downstream plans
    (`plans/fused.py`) run unchanged.  A file whose parse raises is
    dropped (the shared ``_parsed`` guard), a file with no spans emits
    no row.

    ``kw`` takes the `pdfstream.pdf_to_spans` layout options
    (page_height, y_tol, gap_tol, with_fonts, space_frac,
    detect_tables, col_gap, col_tol, drop_artifacts).  ToUnicode
    CMaps, /Encoding and /Widths metrics and Form XObjects apply by
    default; ``maps_col=None`` tokenizes without them."""
    from .pdfstream import spans_pass

    use_maps = kw.pop("maps_col", "fontmaps") is not None

    def pages_of(blob: bytes | None, memo: dict) -> list | None:
        for texts, fonts, forms in _parsed(blob, _page_payloads):
            if not use_maps:
                return [[(txt, None, None)] for txt in texts]
            return [[(txt, fonts[pg] if pg < len(fonts) else None,
                      forms[pg] if pg < len(forms) else None)]
                    for pg, txt in enumerate(texts)]
        return None

    sel = files.select(F.col(id_col).cast("string").alias("doc_id"),
                       F.col(bytes_col).alias("pdf"))
    return spans_pass(sel, pages_of, **kw)
