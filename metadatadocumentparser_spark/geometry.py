"""Integer-rect geometry + the reference's multi-column detection recipe.

Re-implements the rect algebra the reference gets from ``fitz.IRect``
(floor/ceil integer rects; ``&`` intersection; ``|`` union; ``in``
containment; ``.is_empty``) and the order-dependent column-box algorithm
``LayoutAnalyzer._column_boxes`` (reference ``layout.py:140-272``) — the
hardest operator in the inventory (SURVEY.md §2.8). The greedy join is
inherently sequential *per page*, but pages/turns are independent, so in
Spark this runs inside the grouped parse kernel (one turn per group); the
engine never shuffles for it.

Rects are plain 4-tuples ``(x0, y0, x1, y1)``.
"""

from __future__ import annotations

import math


def irect(b):
    """Smallest integer rect containing float rect b (fitz.IRect(rect))."""
    return (
        int(math.floor(b[0])),
        int(math.floor(b[1])),
        int(math.ceil(b[2])),
        int(math.ceil(b[3])),
    )


def union(a, b):
    """Union of two rects; either may be None (empty-rect identity)."""
    if a is None:
        return b
    if b is None:
        return a
    return (min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3]))


def contains(outer, inner) -> bool:
    return (
        outer[0] <= inner[0]
        and outer[1] <= inner[1]
        and inner[2] <= outer[2]
        and inner[3] <= outer[3]
    )


def in_bbox(bb, bboxes) -> int:
    """1-based index of first container of bb, else 0 (layout.py:165-170)."""
    for i, bbox in enumerate(bboxes):
        if contains(bbox, bb):
            return i + 1
    return 0


def column_boxes(page, header_margin: float = 50, footer_margin: float = 50, no_image_text: bool = True):
    """Multi-column detection for one page (reference layout.py:140-272).

    ``page`` is a payload.Page. Emulation of ``page.get_text(..., clip=clip)``:
    a line participates iff its bbox lies fully inside the clip region.

    Returns the final column rects sorted by (x0, y0) — left column fully
    before right column (layout.py:270).

    r6 perf: this runs once per page inside the parse kernel (the hottest
    Python in the engine), so the rect algebra is inlined — containment /
    union / floor-ceil without per-rect function calls — and loop
    invariants (the obstacle list, per-candidate backgrounds) are hoisted.
    Semantics are unchanged and golden-pinned, including the reference
    can_extend's vacuous pass on an empty bboxlist (layout.py:155-163; the
    vert test, a pure function of loop-invariant rects, is evaluated lazily
    once instead of per neighbor — same decisions).
    """
    clip_y0 = 0.0 + header_margin
    clip_y1 = page.h - footer_margin
    clip_x1 = page.w
    floor, ceil = math.floor, math.ceil

    # Vector drawings → path rects sorted (y0, x0) (layout.py:193-195)
    path_bboxes = sorted((irect(d) for d in page.draws), key=lambda b: (b[1], b[0]))
    # Image rects (layout.py:198-199)
    img_bboxes = [irect(im.bbox) for im in page.images]

    vert_bboxes = []
    bboxes = []
    for blk in page.blocks:
        kept = []
        for ln in blk.lines:
            b = ln.bbox
            if (
                0.0 <= b[0]
                and clip_y0 <= b[1]
                and b[2] <= clip_x1
                and b[3] <= clip_y1
            ):
                kept.append(ln)
        if not kept:
            continue
        b = kept[0].bbox
        u0 = floor(b[0]); u1 = floor(b[1]); u2 = ceil(b[2]); u3 = ceil(b[3])
        for ln in kept[1:]:
            b = ln.bbox
            v = floor(b[0])
            if v < u0:
                u0 = v
            v = floor(b[1])
            if v < u1:
                u1 = v
            v = ceil(b[2])
            if v > u2:
                u2 = v
            v = ceil(b[3])
            if v > u3:
                u3 = v
        bbox0 = (u0, u1, u2, u3)

        # Drop text contained in images (layout.py:207-208)
        if no_image_text and in_bbox(bbox0, img_bboxes):
            continue

        # Vertical text → obstacle, not candidate (layout.py:211-215)
        if kept[0].direction != (1.0, 0.0):
            vert_bboxes.append(bbox0)
            continue

        # Shrink to union of >1-char lines (layout.py:217-223)
        srect = None
        for ln in kept:
            t = "".join(s.text.strip() for s in ln.spans)
            if len(t) > 1:
                b = ln.bbox
                r = (floor(b[0]), floor(b[1]), ceil(b[2]), ceil(b[3]))
                if srect is None:
                    srect = r
                else:
                    srect = (
                        r[0] if r[0] < srect[0] else srect[0],
                        r[1] if r[1] < srect[1] else srect[1],
                        r[2] if r[2] > srect[2] else srect[2],
                        r[3] if r[3] > srect[3] else srect[3],
                    )
        if srect is None or srect[0] >= srect[2] or srect[1] >= srect[3]:
            continue
        bboxes.append(srect)

    # Sort by (background, y0, x0) (layout.py:229)
    bboxes.sort(key=lambda k: (in_bbox(k, path_bboxes), k[1], k[0]))

    # extend_right (layout.py:172-190)
    width = int(page.w)
    obstacles = path_bboxes + vert_bboxes + img_bboxes
    for i, bb in enumerate(bboxes):
        if in_bbox(bb, path_bboxes):
            continue
        if in_bbox(bb, img_bboxes):
            continue
        t0, t1, t3 = bb[0], bb[1], bb[3]
        hit = False
        for o in obstacles:
            # temp & o is not empty, with temp=(t0,t1,width,t3)
            if (
                (t0 if t0 > o[0] else o[0]) < (width if width < o[2] else o[2])
                and (t1 if t1 > o[1] else o[1]) < (t3 if t3 < o[3] else o[3])
            ):
                hit = True
                break
        if hit:
            continue
        # can_extend(temp, bb, bboxes, vert_bboxes): the vert test is a
        # pure function of temp — evaluate once, lazily (vacuous pass on
        # empty bboxlist preserved: nothing is evaluated then)
        iv = None
        ok = True
        for b in bboxes:
            if iv is None:
                iv = False
                for o in vert_bboxes:
                    if (
                        (t0 if t0 > o[0] else o[0]) < (width if width < o[2] else o[2])
                        and (t1 if t1 > o[1] else o[1]) < (t3 if t3 < o[3] else o[3])
                    ):
                        iv = True
                        break
            if (not iv) and (
                b is None
                or b == bb
                or (t0 if t0 > b[0] else b[0]) >= (width if width < b[2] else b[2])
                or (t1 if t1 > b[1] else b[1]) >= (t3 if t3 < b[3] else b[3])
            ):
                continue
            ok = False
            break
        if ok:
            bboxes[i] = (t0, t1, width, t3)
    bboxes = [b for b in bboxes if b is not None]

    if not bboxes:
        return []

    # Greedy column join (layout.py:238-263) — order-dependent, sequential
    bg0 = bboxes[0]
    nblocks = [bg0]
    nbgs = [in_bbox(bg0, path_bboxes)]
    for bb in bboxes[1:]:
        check = False
        bb_bg = in_bbox(bb, path_bboxes)
        for j in range(len(nblocks)):
            nbb = nblocks[j]
            # never join across columns
            if bb is None or nbb[2] < bb[0] or bb[2] < nbb[0]:
                continue
            # never join across different backgrounds
            if nbgs[j] != bb_bg:
                continue
            # aligned within 5pt and vertically within 10pt (layout.py:256-257)
            if abs(nbb[0] - bb[0]) < 5 and abs(nbb[2] - bb[2]) < 5:
                if bb[1] < nbb[3] + 10:
                    merged = union(nbb, bb)
                    nblocks[j] = merged
                    nbgs[j] = in_bbox(merged, path_bboxes)
                    check = True
                    break
        if not check:
            nblocks.append(bb)
            nbgs.append(bb_bg)

    nblocks.sort(key=lambda b: (b[0], b[1]))
    return nblocks
