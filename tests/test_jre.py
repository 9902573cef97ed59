"""rules.jre(): the python-semantics Java-regex compiler (no Spark)."""

from pdf_extraction_spark import rules


def test_class_rewrites():
    out = rules.jre(r"\b([DINP])\b")
    assert out.startswith("(?Ud)")
    assert r"\b" not in out            # rewritten to lookaround pair
    assert out.count("(?<=") == 2 and out.count("(?<!") == 2
    assert rules.jre(r"[\w\s]+") == \
        "(?Ud)[[\\p{L}\\p{N}_][\\s\\x1c-\\x1f]]+"
    assert rules.jre(r"\S+") == "(?Ud)[^\\s\\x1c-\\x1f]+"


def test_non_class_escapes_pass_through():
    # \x22 (a quote), \. and \d survive untouched; \d relies on (?U)
    assert rules.jre(r"(\d+)\.\x22") == "(?Ud)(\\d+)\\.\\x22"


def test_literals_unchanged_and_cached():
    assert rules.jre("^([IVX]+)") == "(?Ud)^([IVX]+)"
    assert rules.jre("abc") is rules.jre("abc")  # cache hit


def test_re2_s_rewrite_matches_python_on_ascii():
    import re

    import pyarrow as pa
    import pyarrow.compute as pc

    # every ASCII char python's \s matches must match the rewritten RE2
    # class, and no other ASCII char may
    py_ws = [chr(c) for c in range(0x80) if re.match(r"\s", chr(c))]
    assert "\x0b" in py_ws and "\x1c" in py_ws  # the divergent members
    pat = rules.re2(r"^a\s+b$")
    for c in (chr(i) for i in range(1, 0x80)):
        got = pc.match_substring_regex(pa.array([f"a{c}b"]), pat)[0].as_py()
        assert got == bool(re.match(r"^a\s+b$", f"a{c}b")), hex(ord(c))


def test_re2_class_member_form_and_cache():
    ws = r"\t\n\x{0b}\f\r\x{1c}-\x{1f}\x{85}\p{Z}"
    assert rules.re2(r"[\s,]") == f"[{ws},]"
    assert rules.re2(r"\S") == f"[^{ws}]"
    assert rules.re2(r"\.\d[]]") == r"\.[\p{Nd}][]]"
    assert rules.re2("abc") is rules.re2("abc")


def test_re2_names_the_single_capture_group():
    import pytest

    assert rules.re2(r"(?:a|b)[(](\w)", group="v") == \
        r"(?:a|b)[(](?P<v>[\p{L}\p{N}_])"
    for bad in (r"(?:x)", r"(a)(b)"):
        with pytest.raises(ValueError):
            rules.re2(bad, group="v")
    with pytest.raises(ValueError):
        rules.re2(r"[\S,]")


def test_re2_classes_match_python_on_the_bmp():
    r"""Every BMP code point outside RE2_DIVERGENT: re2()'s \s, \d, \w,
    their negations and class members, with and without (?i), match
    exactly what Python re matches. Surrogates are not text (no UTF-8
    form) and are left out."""
    import re

    import pyarrow as pa
    import pyarrow.compute as pc

    chars = [chr(c) for c in range(1, 0x10000) if not 0xD800 <= c <= 0xDFFF]
    odd = pc.match_substring_regex(pa.array(chars), rules.RE2_DIVERGENT) \
        .to_numpy(zero_copy_only=False)
    assert [hex(ord(c)) for c, o in zip(chars, odd) if o] == \
        ["0x130", "0x131", "0x345", "0x2028", "0x2029"]
    chars = [c for c, o in zip(chars, odd) if not o]
    arr = pa.array(chars)
    for cls in (r"\s", r"\S", r"\d", r"\D", r"\w", r"\W",
                r"[\s]", r"[\d]", r"[\w]", r"[\w\s,]", r"[^\d.]", r"[a-z]"):
        for flags in ("", "(?i)"):
            pat = f"{flags}^(?:{cls})$"
            got = pc.match_substring_regex(arr, rules.re2(pat)) \
                .to_numpy(zero_copy_only=False)
            py = re.compile(pat)
            bad = [hex(ord(c)) for c, g in zip(chars, got)
                   if g != (py.match(c) is not None)]
            assert bad == [], (pat, bad[:10])
