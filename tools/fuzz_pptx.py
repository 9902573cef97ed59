"""By-construction fuzz for the PPTX layer (committed so the
campaign is reproducible — usage: python tools/fuzz.py pptx LO HI).

Each seed builds one .pptx with randomized structure and compares
``operators/pptx.parse_pptx`` output against ground truth known at
construction — no second parser implementation:

- 1-5 slide parts, each with 0-5 shapes: text shapes (1-4 <a:p>
  paragraphs of 1-4 runs with random XML-escapable text, random
  attrs on <a:t>, empty paragraphs that must emit no row) that are
  randomly title placeholders (type="title"/"ctrTitle") or plain
  bodies, and <p:pic> images with random rIds, a random subset
  resolvable through each slide's own randomized rels part
  (unresolvable ids must keep the raw id);
- a sldIdLst that lists the slides in a RANDOM order through
  shuffled non-sequential rIds (the deck-order resolution is the
  point of the module), randomly dropped entirely on some seeds so
  the numeric-name fallback path is fuzzed too;
- random STORED vs DEFLATED zip compression per part and random
  extra members (theme, notes) the parser must ignore.
"""
from __future__ import annotations

import io
import random
import zipfile

from pdf_extraction_spark.operators.docx import xml_escape
from tools.fuzz_docx import TEXT_POOL, rand_text


def gen_case(seed: int) -> tuple[bytes, list[dict]]:
    rng = random.Random(919000 + seed)
    n_slides = rng.randrange(1, 6)
    # per-slide: (xml, rels_xml_or_None, slide-local expected rows)
    slides: list[tuple[str, str | None, list[dict]]] = []
    for s in range(1, n_slides + 1):
        rels: dict[str, str] = {}
        for i in range(rng.randrange(0, 3)):
            rels[f"rId{rng.randrange(3, 9)}"] = \
                f"../media/image{s}{i}.png"
        shapes: list[str] = []
        exp: list[dict] = []
        for _ in range(rng.randrange(0, 6)):
            if rng.random() < 0.25:
                rid = f"rId{rng.randrange(3, 9)}"
                shapes.append('<p:pic><p:blipFill><a:blip '
                              f'r:embed="{rid}"/></p:blipFill>'
                              '</p:pic>')
                ref = ("ppt/" + rels[rid].lstrip("./")
                       .replace("../", "")) if rid in rels else rid
                exp.append({"kind": "image", "text": "",
                            "media_ref": ref})
                continue
            is_title = rng.random() < 0.3
            ph = ('<p:nvSpPr><p:nvPr><p:ph type="'
                  + rng.choice(["title", "ctrTitle"])
                  + '"/></p:nvPr></p:nvSpPr>') if is_title else ""
            paras: list[str] = []
            for _p in range(rng.randrange(1, 5)):
                runs = [rand_text(rng, TEXT_POOL, rng.randrange(0, 10))
                        for _ in range(rng.randrange(1, 5))]
                attr = (' xml:space="preserve"'
                        if rng.random() < 0.4 else "")
                paras.append("<a:p>" + "".join(
                    f"<a:r><a:t{attr}>{xml_escape(t)}</a:t></a:r>"
                    for t in runs) + "</a:p>")
                text = "".join(runs)
                if text:
                    exp.append({"kind": "title" if is_title
                                else "body", "text": text,
                                "media_ref": ""})
            shapes.append(f"<p:sp>{ph}<p:txBody>"
                          + "".join(paras) + "</p:txBody></p:sp>")
        xml = ('<?xml version="1.0"?><p:sld><p:cSld><p:spTree>'
               + "".join(shapes) + "</p:spTree></p:cSld></p:sld>")
        rels_xml = None
        if rels and rng.random() < 0.8:
            rels_xml = ("<Relationships>" + "".join(
                f'<Relationship Id="{k}" Type="image" Target="{v}"/>'
                for k, v in rels.items()) + "</Relationships>")
        elif rels:
            # rels part withheld: every rid must stay raw — undo the
            # resolution recorded above (targets are unique, so the
            # reverse lookup is unambiguous)
            resolved = {"ppt/" + tgt.lstrip("./").replace("../", ""):
                        rid for rid, tgt in rels.items()}
            exp = [dict(r, media_ref=resolved.get(r["media_ref"],
                                                  r["media_ref"]))
                   if r["kind"] == "image" else r for r in exp]
        slides.append((xml, rels_xml, exp))

    order = list(range(n_slides))
    use_sldidlst = rng.random() < 0.8
    if use_sldidlst:
        rng.shuffle(order)
    rids = rng.sample(range(100, 999), n_slides)
    pres = ('<?xml version="1.0"?><p:presentation><p:sldIdLst>'
            + "".join(f'<p:sldId id="{256 + i}" r:id="rId{rids[j]}"/>'
                      for i, j in enumerate(order))
            + "</p:sldIdLst></p:presentation>")
    pres_rels = ("<Relationships>" + "".join(
        f'<Relationship Id="rId{rids[j]}" Type="slide" '
        f'Target="slides/slide{j + 1}.xml"/>'
        for j in range(n_slides)) + "</Relationships>")

    expected: list[dict] = []
    deck = order if use_sldidlst else list(range(n_slides))
    for pos, j in enumerate(deck, start=1):
        for r in slides[j][2]:
            expected.append(dict(r, slide=pos))

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        def put(name: str, data: str) -> None:
            zi = zipfile.ZipInfo(name,
                                 date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = rng.choice(
                [zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED])
            zf.writestr(zi, data)
        if use_sldidlst:
            put("ppt/presentation.xml", pres)
            put("ppt/_rels/presentation.xml.rels", pres_rels)
        for j, (xml, rels_xml, _) in enumerate(slides, start=1):
            put(f"ppt/slides/slide{j}.xml", xml)
            if rels_xml is not None:
                put(f"ppt/slides/_rels/slide{j}.xml.rels", rels_xml)
        if rng.random() < 0.4:
            put("ppt/theme/theme1.xml", "<a:theme/>")
        if rng.random() < 0.4:
            put("ppt/notesSlides/notesSlide1.xml", "<p:notes/>")
    return buf.getvalue(), expected
