"""By-construction fuzz for the EPUB container/OPF/spine resolution
(committed so the campaign is reproducible — usage:
python tools/fuzz.py epub LO HI).

Each seed builds one .epub with randomized structure and compares
``operators/epub.parse_epub``'s chapter sequence against ground
truth known at construction (chapter CONTENT is html, covered by the
html family's own differential fuzz — this campaign targets the
ordering/resolution layer):

- 1-6 xhtml chapters with random file names under a random OPF
  directory (root, OEBPS/, a/b/ — OPF-relative href resolution);
- a spine listing a RANDOM subset in RANDOM order through shuffled
  non-sequential manifest ids; manifest polluted with css/image/ncx
  items the spine filter must skip, plus spine idrefs pointing at
  missing manifest entries (skipped);
- randomly dropped container.xml (zip-order fallback over
  .xhtml/.html members) and randomly STORED vs DEFLATED parts.
"""
from __future__ import annotations

import io
import random
import zipfile


def gen_case(seed: int) -> tuple[bytes, list[str]]:
    rng = random.Random(515000 + seed)
    opf_dir = rng.choice(["", "OEBPS/", "a/b/"])
    n_ch = rng.randrange(1, 7)
    names = rng.sample(
        [f"c{i}.xhtml" for i in range(20)]
        + [f"part{i}.html" for i in range(10)], n_ch)
    spine_idx = rng.sample(range(n_ch), rng.randrange(1, n_ch + 1))
    ids = rng.sample(range(100, 999), n_ch + 4)
    manifest = []
    for i, name in enumerate(names):
        manifest.append(f'<item id="x{ids[i]}" href="{name}" '
                        'media-type="application/xhtml+xml"/>')
    manifest.append(f'<item id="x{ids[n_ch]}" href="s.css" '
                    'media-type="text/css"/>')
    manifest.append(f'<item id="x{ids[n_ch + 1]}" href="i.png" '
                    'media-type="image/png"/>')
    manifest.append(f'<item id="x{ids[n_ch + 2]}" href="t.ncx" '
                    'media-type="application/x-dtbncx+xml"/>')
    rng.shuffle(manifest)
    spine = [f'<itemref idref="x{ids[i]}"/>' for i in spine_idx]
    # spine entries the manifest does not know: skipped
    for _ in range(rng.randrange(0, 2)):
        spine.insert(rng.randrange(0, len(spine) + 1),
                     f'<itemref idref="x{ids[n_ch + 3]}zz"/>')
    # non-chapter manifest items referenced from the spine: filtered
    if rng.random() < 0.5:
        spine.insert(rng.randrange(0, len(spine) + 1),
                     f'<itemref idref="x{ids[n_ch]}"/>')
    opf = ("<package><manifest>" + "".join(manifest)
           + "</manifest><spine>" + "".join(spine)
           + "</spine></package>")
    use_container = rng.random() < 0.8
    container = ('<container><rootfiles><rootfile full-path="'
                 + opf_dir + 'content.opf" media-type="application/'
                 'oebps-package+xml"/></rootfiles></container>')
    buf = io.BytesIO()
    zip_order: list[str] = []
    with zipfile.ZipFile(buf, "w") as zf:
        def put(name: str, data: str) -> None:
            zi = zipfile.ZipInfo(name,
                                 date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = rng.choice(
                [zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED])
            zf.writestr(zi, data)
        if use_container:
            put("META-INF/container.xml", container)
            put(opf_dir + "content.opf", opf)
        shuffled = list(names)
        rng.shuffle(shuffled)
        for name in shuffled:
            put(opf_dir + name, f"<html><body><p>{name}</p></body>"
                "</html>")
            zip_order.append(opf_dir + name)
        put(opf_dir + "s.css", "p{}")
    if use_container:
        expected = [opf_dir + names[i] for i in spine_idx]
    else:
        expected = zip_order
    return buf.getvalue(), expected
