"""Output checks of the benchmark, as pure functions over collected rows.

Each returns a list of error strings (empty when the output is right), so
the tests can feed them deliberately corrupted outputs without a session.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable

from pdf_extraction_spark import oracle


def check_ids(what: str, expected: Iterable[str], got: Iterable[str]) -> list[str]:
    """The output holds exactly one row per expected id."""
    want, have = set(expected), Counter(iter(got))
    errors = []
    dup = sorted(k for k, n in have.items() if n > 1)
    missing = sorted(want - set(have))
    extra = sorted(set(have) - want)
    if dup:
        errors.append(f"{what}: {len(dup)} duplicated ids, e.g. {dup[:3]}")
    if missing:
        errors.append(f"{what}: {len(missing)} missing ids, e.g. {missing[:3]}")
    if extra:
        errors.append(f"{what}: {len(extra)} unexpected ids, e.g. {extra[:3]}")
    return errors


def check_count(what: str, expected: int, got: int) -> list[str]:
    return [] if expected == got else [f"{what}: expected {expected}, got {got}"]


def _span_seq(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]


def check_golden(inputs: dict[str, list[dict]],
                 outputs: dict[str, list[dict]]) -> list[str]:
    """Span-sequence equality of each output against ``oracle.extract_doc``
    on the same input spans (kind, text, media_ref, order)."""
    errors = check_ids("golden sample", inputs, outputs)
    for doc_id, spans in inputs.items():
        if doc_id not in outputs:
            continue
        want = _span_seq(oracle.extract_doc(doc_id, spans)["spans"])
        got = _span_seq(outputs[doc_id])
        if got != want:
            at = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w),
                      min(len(got), len(want)))
            errors.append(f"golden: {doc_id} differs from the oracle at span "
                          f"{at} ({len(got)} vs {len(want)} spans)")
    return errors


def check_dedupe(uris: set[str], recaptured: set[str],
                 kept: list[tuple[str, str]]) -> list[str]:
    """Deduped WARC records ``kept`` = (target URI, warc_id): one record
    per URI of the segment, and the second-crawl capture (``crawl2-``)
    wherever a URI was re-captured, the first-crawl one elsewhere."""
    errors = check_ids("deduped records", uris, (u for u, _ in kept))
    wrong = sorted(u for u, w in kept
                   if w.startswith("crawl2-") != (u in recaptured))
    if wrong:
        errors.append(f"dedupe: {len(wrong)} URIs kept the wrong capture, "
                      f"e.g. {wrong[:3]}")
    return errors


def check_same(what: str, reference: dict[str, str],
               got: dict[str, str]) -> list[str]:
    """Per-document output fingerprints equal those of a reference plan."""
    errors = check_ids(what, reference, got)
    diff = sorted(k for k in reference if k in got and got[k] != reference[k])
    if diff:
        errors.append(f"{what}: {len(diff)} docs differ from the reference, "
                      f"e.g. {diff[:3]}")
    return errors


def check_salted_route(spans: int, giant_spans: int, chunks: int) -> list[str]:
    """A giant doc of ``spans`` spans takes ``assemble_auto``'s salted
    route (more than ``giant_spans``) and is split into several chunks,
    so the salted plan merges chunks and carries state across seams."""
    errors = []
    if spans <= giant_spans:
        errors.append(f"giant: {spans} spans, not above the salted route's "
                      f"{giant_spans}")
    if chunks < 2:
        errors.append(f"giant: {chunks} salted chunk(s), expected several")
    return errors
