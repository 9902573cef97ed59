"""By-construction fuzz for ruled-line table detection (committed so
the campaign is reproducible — usage: python tools/fuzz.py ruled LO HI).

Each seed builds one synthetic page: 1-2 drawn grids (random dyadic
boundary positions >= 2*snap_tol apart, stacked tables separated by
more than row_gap, borders drawn as an outer ``re`` + inner ``m/l/S``
lines, a random subset drawn a second time to exercise boundary
snapping, a random subset drawn under a dyadic ``q/cm/Q`` translate),
random words placed in random cells with centers >= 2pt from every
boundary (multi-word cells exercise the left-to-right join), plus the
decoy family (crossing-free underline in a ruling-free band, diagonal
stroke, clip-only rect).  The EXPECTED row set is computed directly
from the construction — no second implementation of the detector —
and seeds are batched 200 docs per Spark job.

Every coordinate is dyadic (halves), so device positions after the
dyadic translates are bit-exact across the machine and the plan.
"""
from __future__ import annotations

import random


def gen_case(seed: int) -> tuple[str, list[tuple]]:
    """Returns (stream, expected rows) — expected as
    (tbl_idx, row_idx, n_rows, n_cols, table_text)."""
    rng = random.Random(909000 + seed)
    parts: list[str] = []
    text_parts: list[str] = ["BT /F1 10 Tf "]
    expected: list[tuple] = []

    # tables top-down; track occupied y-bands for decoy placement
    y_top = 760.0
    n_tables = rng.choice([1, 1, 2])
    tables = []
    for _ in range(n_tables):
        n_rows = rng.randrange(2, 5)
        n_cols = rng.randrange(2, 4)
        # dyadic boundary gaps, >= 30 so snapped positions stay exact
        ys = [y_top]
        for _ in range(n_rows):
            ys.append(ys[-1] - rng.randrange(40, 90) / 2)   # 20..45
        ys = ys[::-1]                                        # ascending
        xs = [50.0 + rng.randrange(0, 40) / 2]
        for _ in range(n_cols):
            xs.append(xs[-1] + rng.randrange(60, 240) / 2)  # 30..120
        tables.append((ys, xs, n_rows, n_cols))
        y_top = ys[0] - (60 + rng.randrange(0, 80) / 2)     # > row_gap

    for tbl_idx, (ys, xs, n_rows, n_cols) in enumerate(tables):
        x0, x1 = xs[0], xs[-1]
        y0, y1 = ys[0], ys[-1]

        # each segment drawn bare or under a dyadic translate that is
        # compensated in the operands, so the DEVICE position equals
        # the intended boundary either way
        def emit(xa, ya, xb, yb):
            if rng.random() < 0.5:
                tx, ty = rng.choice([(11.5, -7.0), (-4.5, 20.5)])
                parts.append(
                    f"q 1 0 0 1 {tx} {ty} cm "
                    f"{xa - tx} {ya - ty} m {xb - tx} {yb - ty} l S Q ")
            else:
                parts.append(f"{xa} {ya} m {xb} {yb} l S ")
            if rng.random() < 0.25:  # draw twice: snap must merge
                parts.append(f"{xa} {ya} m {xb} {yb} l S ")

        if rng.random() < 0.5:
            parts.append(f"{x0} {y0} {x1 - x0} {y1 - y0} re S ")
        else:
            emit(x0, y0, x1, y0)
            emit(x0, y1, x1, y1)
            emit(x0, y0, x0, y1)
            emit(x1, y0, x1, y1)
        for yy in ys[1:-1]:
            emit(x0, yy, x1, yy)
        for xx in xs[1:-1]:
            emit(xx, y0, xx, y1)

        # words: random cells, centers >= 2pt from any boundary;
        # the per-cell join breaks x ties by run_idx (stream order),
        # so expectations carry a global placement counter
        grid_words: dict[tuple[int, int], list[tuple]] = {}
        for r in range(n_rows):
            for c in range(n_cols):
                if rng.random() < 0.55:
                    continue
                lo_y, hi_y = ys[n_rows - 1 - r], ys[n_rows - r]
                lo_x, hi_x = xs[c], xs[c + 1]
                n_words = rng.choice([1, 1, 2])
                used = []
                for wi in range(n_words):
                    word = "".join(rng.choice("abcdefgh")
                                   for _ in range(rng.randrange(1, 5)))
                    size = 10.0
                    w_dev = 0.5 * size * len(word)
                    # center must be inside [lo+2, hi-2]
                    cx_lo, cx_hi = lo_x + 2, hi_x - 2
                    cx = (cx_lo + rng.randrange(
                        0, max(1, int((cx_hi - cx_lo) * 2))) / 2)
                    x = cx - w_dev / 2
                    cy = (lo_y + 2 + rng.randrange(
                        0, max(1, int((hi_y - lo_y - 4) * 2))) / 2)
                    y = cy - size / 2
                    used.append((x, y, word))
                for x, y, word in used:
                    text_parts.append(
                        f"1 0 0 1 {x} {y} Tm ({word}) Tj ")
                    grid_words.setdefault((r, c), []).append(
                        (x, len(text_parts), word))
        for r in range(n_rows):
            cells = []
            for c in range(n_cols):
                ws = sorted(grid_words.get((r, c), []))
                cells.append(" ".join(w for _, _, w in ws))
            expected.append((tbl_idx, r, n_rows, n_cols,
                             " | ".join(cells)))

    # decoys in the ruling-free band below every table
    band = y_top - 30
    parts.append(f"40 {band} m 300 {band} l S ")                 # underline
    parts.append(f"320 {band - 40} m 380 {band} l S ")           # diagonal
    parts.append(f"420 {band - 40} 50 20 re W n ")               # clip-only
    text_parts.append(f"1 0 0 1 60 {band + 4} Tm (outside) Tj ")
    text_parts.append("ET")
    return "".join(parts) + "".join(text_parts), expected
