"""PDF-layout geometric operators (per-document, numpy/pure-python kernels).

These implement the *live semantics* of the reference's box pipeline
(SURVEY.md §2.2), re-derived from scratch for clean span structs:

- junk-text drop            (deepdoc/vision/layout_recognizer.py:65-70)
- garbage-kind drop w/ positional keep-feats + repeated-garbage-text drop
                            (layout_recognizer.py:116-128, 155-162)
- banded Y-sort             (deepdoc/vision/recognizer.py:54-62 sort_Y_firstly)
- column detection + reading order
                            (rag/app/paper.py:58-67, pdf_parser.py:182-195)
- horizontal text merge     (pdf_parser.py:374-406 — the branch after the
                             unconditional ``i+=1; continue`` at :405-406 is
                             dead code and intentionally not implemented)
- naive vertical merge      (pdf_parser.py:430-479)
- ToC / dot-leader page removal (pdf_parser.py:593-642)
- same-bullet merge         (pdf_parser.py:644-666)
- scrap filter              (pdf_parser.py:881-992 proj_match + __filterout_scraps)

A "box" is a dict: {kind, text, media_ref, pn, x0, x1, top, bottom, lo}.
All ops are deterministic and order-stable; fixtures' expected outputs are
defined by exactly these functions (executed by the pandas oracle).
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

from ragflow_spark.schemas import PAGE_H, PAGE_W

GARBAGE_KINDS = {"header", "footer", "reference"}

# one alternation (was 5 sequential searches per box — measured hot)
_JUNK_RE = re.compile(
    r"^•+$|^[0-9]{1,2} / ?[0-9]{1,2}$|^[0-9]{1,2} of [0-9]{1,2}$"
    r"|^http://[^ ]{12,}|\(cid *: *[0-9]+ *\)"
)

# every anchored branch of _JUNK_RE starts with one of these characters; the
# one unanchored branch needs "(cid"
_JUNK_HEADS = "•0123456789h"

_PAGE_DROPPINGS = re.compile(r"[0-9  •一—-]+$")
_CREDIT = re.compile(r"(数据|资料|图表)*来源[:： ]")
_TOC_HEAD = re.compile(r"(contents|目录|目次|tableofcontents|致谢|acknowledge)$", re.I)
_ENG_PREFIX = re.compile(r"[0-9a-zA-Z :'.-]{5,}")


def is_junk(text: str) -> bool:
    # the substring tests skip the regex for the ~all boxes that cannot match
    if text[:1] not in _JUNK_HEADS and "(cid" not in text:
        return False
    return bool(_JUNK_RE.search(text))


def drop_junk(boxes: list[dict]) -> list[dict]:
    return [b for b in boxes if not is_junk(b["text"] or "")]


def drop_garbage(boxes: list[dict]) -> list[dict]:
    """Drop page-furniture kinds with the reference's positional keep-feats
    (a "footer" that sits above 90% page height / a "header" below 10% is a
    misdetection and is kept as text — layout_recognizer.py:116-123), then
    drop any remaining box whose text matched a garbage box >1 time in the
    doc (repeated running headers/footers, :155-162)."""
    garbage_texts: Counter = Counter()
    kept: list[dict] = []
    for b in boxes:
        if b["kind"] in GARBAGE_KINDS:
            keep = (
                b["kind"] == "footer" and b["bottom"] < PAGE_H * 0.9
            ) or (b["kind"] == "header" and b["top"] > PAGE_H * 0.1)
            if keep:
                b = dict(b)
                b["kind"] = "text"
                kept.append(b)
            else:
                garbage_texts[(b["text"] or "").strip()] += 1
            continue
        kept.append(b)
    repeated = {t for t, c in garbage_texts.items() if c > 1}
    if repeated:
        kept = [b for b in kept if (b["text"] or "").strip() not in repeated]
    return kept


def _median(xs: list[float]) -> float:
    """``float(np.median(xs))`` for a non-empty list of floats, in pure
    Python: the lists are one doc's boxes, where numpy's per-call overhead
    dominates the arithmetic. As in numpy, a NaN anywhere makes the median
    NaN, and the middle value(s) are summed from +0.0 (so -0.0 reads 0.0)."""
    s = sorted(xs)
    if any(x != x for x in s):
        return math.nan
    n = len(s)
    m = n // 2
    return 0.0 + s[m] if n % 2 else (0.0 + s[m - 1] + s[m]) / 2


def median_height(boxes: list[dict]) -> float:
    if not boxes:
        return 10.0
    return _median([b["bottom"] - b["top"] for b in boxes]) or 10.0


def page_mean(boxes: list[dict], lo: str, hi: str, default: float) -> dict[int, float]:
    """Per page, the mean ``b[hi] - b[lo]`` of its boxes (``default`` when
    that is zero). Pure-python means: these run per document per stage on
    tiny lists, where numpy's per-call overhead dominates the arithmetic."""
    acc: dict[int, list[float]] = {}
    for b in boxes:
        acc.setdefault(b["pn"], []).append(b[hi] - b[lo])
    return {pn: ((sum(v) / len(v)) or default) for pn, v in acc.items()}


def _sorted_by(boxes: list[dict], *keys) -> list[dict]:
    """``boxes`` in lexicographic order of the per-box ``keys`` (most
    significant first), ties in input order."""
    order = np.lexsort((np.arange(len(boxes)), *reversed(keys)))
    return [boxes[i] for i in order]


def sort_y(boxes: list[dict], threshold: float) -> list[dict]:
    """Banded stable Y-then-X sort: quantize global top by ``threshold`` and
    lexsort (page, band, x0) — the vectorized equivalent of the reference's
    pairwise comparator (recognizer.py:54-62, SURVEY.md §2.2)."""
    top = np.array([b["pn"] * PAGE_H + b["top"] for b in boxes])
    x0 = np.array([b["x0"] for b in boxes])
    band = np.rint(top / threshold).astype(np.int64) if threshold > 0 else top
    return _sorted_by(boxes, band, x0)


def sort_x(boxes: list[dict], threshold: float) -> list[dict]:
    """Banded stable X-then-Y sort (recognizer.py:64-74 sort_X_firstly):
    quantize x0 by ``threshold``, then order by (page, x-band, top)."""
    x0 = np.array([b["x0"] for b in boxes])
    top = np.array([b["pn"] * PAGE_H + b["top"] for b in boxes])
    band = np.rint(x0 / threshold).astype(np.int64) if threshold > 0 else x0
    return _sorted_by(boxes, band, top)


def sort_c(boxes: list[dict], threshold: float) -> list[dict]:
    """Column-major sort (recognizer.py:76-93 sort_C_firstly): order by the
    explicit column id when present (TSR ``C`` tag → cell key "cn"), else
    the x-band; the reference's bubble re-sort passes are equivalent to one
    lexsort on (column, top)."""
    col = np.array(
        [
            b["cn"]
            if "cn" in b
            else (np.rint(b["x0"] / threshold) if threshold > 0 else b["x0"])
            for b in boxes
        ]
    )
    top = np.array([b["pn"] * PAGE_H + b["top"] for b in boxes])
    return _sorted_by(boxes, col, top)


def sort_r(boxes: list[dict], threshold: float) -> list[dict]:
    """Row-major sort (recognizer.py:95-111 sort_R_firstly): order by the
    explicit row id when present (TSR ``R`` tag → cell key "rn"), else the
    y-band; then x0."""
    row = np.array(
        [
            b["rn"]
            if "rn" in b
            else (
                np.rint((b["pn"] * PAGE_H + b["top"]) / threshold)
                if threshold > 0
                else b["pn"] * PAGE_H + b["top"]
            )
            for b in boxes
        ]
    )
    x0 = np.array([b["x0"] for b in boxes])
    return _sorted_by(boxes, row, x0)


def detect_column_width(boxes: list[dict]) -> float:
    """median box width (rag/app/paper.py:58)."""
    if not boxes:
        return PAGE_W
    return _median([b["x1"] - b["x0"] for b in boxes])


def gap_clusters(vals: list[float], threshold: float) -> list[int]:
    """Cluster id of each value: over the sorted distinct values, a gap
    above ``threshold`` starts the next cluster — the closed form of the
    reference's sort-and-scan tagging of columns (pdf_parser.py:182-195)
    and of table rows and columns (table_structure_recognizer.py:160-197).
    Equal values always share a cluster, whatever the threshold. Python
    floats, not numpy: the lists are one doc's boxes or one table's cells."""
    cluster: dict[float, int] = {}
    cur, prev = 0, None
    for v in sorted(set(vals)):
        if prev is not None and v - prev > threshold:
            cur += 1
        cluster[v] = cur
        prev = v
    return [cluster[v] for v in vals]


def reading_order(boxes: list[dict]) -> list[dict]:
    """Multi-column reading order: when median box width < page_width/2,
    re-sort as (page, column, top, x0) with column threshold col_w/2
    (rag/app/paper.py:64-67 + pdf_parser.py:182-195)."""
    col_w = detect_column_width(boxes)
    if col_w >= PAGE_W / 2:
        return boxes
    x0 = [b["x0"] for b in boxes]
    pn = [b["pn"] for b in boxes]
    top = [b["top"] for b in boxes]
    return _sorted_by(boxes, pn, gap_clusters(x0, col_w / 2), top, x0)


def _same_line(b: dict, b_: dict, mh: float) -> bool:
    yc = (b["top"] + b["bottom"]) / 2 - (b_["top"] + b_["bottom"]) / 2
    return abs(yc) < mh / 3


_CELLISH = ("table", "table header", "figure")


def horizontal_merge(boxes: list[dict]) -> list[dict]:
    """Merge adjacent boxes on the same visual line within the same region
    (pdf_parser.py:388-404: same layoutno, not table/figure, |Δy|<mean_h/3).
    Region proxy for spans without an explicit layoutno: (page, kind, column)."""
    if not boxes:
        return boxes
    mh = page_mean(boxes, "top", "bottom", 10.0)
    out: list[dict] = [dict(boxes[0])]
    for b in boxes[1:]:
        p = out[-1]
        # region proxy without an explicit layoutno: same page + same kind.
        # Cross-column pairs are never adjacent here because reading_order
        # has already made the stream column-major.
        same_region = (
            (p["lo"] >= 0 and p["lo"] == b["lo"] and p["pn"] == b["pn"])
            if (p["lo"] >= 0 or b["lo"] >= 0)
            else (p["pn"] == b["pn"] and p["kind"] == b["kind"])
        )
        if (
            same_region
            and b["kind"] not in _CELLISH
            and p["kind"] not in _CELLISH
            and _same_line(p, b, mh.get(b["pn"], 10.0))
            and p["x1"] <= b["x0"] + 2.0
        ):
            # b is absorbed into p (already a copy): b itself is not copied
            p["text"] = (p["text"] or "") + _joiner(p["text"], b["text"]) + (b["text"] or "")
            p["x1"] = b["x1"]
            p["top"] = (p["top"] + b["top"]) / 2
            p["bottom"] = (p["bottom"] + b["bottom"]) / 2
            continue
        out.append(dict(b))
    return out


def _joiner(left: str | None, right: str | None) -> str:
    """Single space between ascii-alnum boundaries; CJK glues directly.
    (The reference concatenates raw OCR fragments with no separator,
    pdf_parser.py:402; spans in this engine are word-clean, so an explicit
    ascii-boundary space keeps text well-formed. Documented deviation.)"""
    if not left or not right:
        return ""
    a, b = left[-1], right[0]
    if a.isascii() and a.isalnum() and b.isascii() and (b.isalnum() or b in "(['\""):
        return " "
    return ""


_SENT_END_CN = "。？！?"
_SENT_END_EN = ".!?"
_CONCAT_TAIL = ",;:'\"，、‘“；：-"
_CONCAT_TAIL2 = ",;:'\"，‘“、；："
_CONCAT_HEAD = "。；？！?”）),，、："


def vertical_merge(boxes: list[dict], is_english: bool) -> list[dict]:
    """Naive up/down merge over the Y-sorted stream (pdf_parser.py:430-479):
    drop cross-page page-number droppings and empty boxes; do NOT merge when
    the region changes, the upper text ends a sentence, the vertical gap
    exceeds 1.5x mean height, a cross-page x-offset exceeds 4x mean width, or
    the boxes are horizontally detached — unless a dangling-punctuation
    concat feature overrides."""
    if not boxes:
        return boxes
    mh = page_mean(boxes, "top", "bottom", 10.0)
    mw = page_mean(boxes, "x0", "x1", 100.0)
    out: list[dict] = []
    n = len(boxes)
    # b is the (copied, growing) current box and boxes[k] the one below it;
    # a box is copied when it becomes current, so no list is ever popped
    b = dict(boxes[0])
    k = 1
    while True:
        nxt = boxes[k] if k < n else None
        t = (b["text"] or "").strip()
        if not t or (
            nxt is not None and b["pn"] < nxt["pn"] and _PAGE_DROPPINGS.fullmatch(t)
        ):
            if nxt is None:
                break
            b = dict(nxt)
            k += 1
            continue
        if nxt is None:
            out.append(b)
            break
        k += 1
        pn, npn = b["pn"], nxt["pn"]
        if b["x1"] < nxt["x0"] or b["x0"] > nxt["x1"]:
            merge = False  # horizontally detached
        elif (
            t[-1] in _CONCAT_TAIL
            or (len(t) > 1 and t[-2] in _CONCAT_TAIL2)
            or ((t_ := (nxt["text"] or "").strip()) and t_[0] in _CONCAT_HEAD)
        ):
            merge = True  # a dangling-punctuation concat feature overrides
        else:
            merge = not (
                (
                    (b["lo"], pn) != (nxt["lo"], npn)
                    if (b["lo"] >= 0 or nxt["lo"] >= 0)
                    else b["kind"] != nxt["kind"]
                )
                or t[-1] in _SENT_END_CN
                or (is_english and t[-1] in _SENT_END_EN)
                or (pn == npn and nxt["top"] - b["bottom"] > mh.get(pn, 10.0) * 1.5)
                or (pn < npn and abs(b["x0"] - nxt["x0"]) > mw.get(pn, 100.0) * 4)
            )
        if not merge:
            out.append(b)
            b = dict(nxt)
            continue
        # merge down
        b["text"] = (b["text"] or "") + _joiner(b["text"], nxt["text"]) + (nxt["text"] or "")
        b["bottom"] = nxt["bottom"] + (npn - pn) * PAGE_H
        b["x0"] = min(b["x0"], nxt["x0"])
        b["x1"] = max(b["x1"], nxt["x1"])
    return out


def _is_toc_head(text: str) -> bool:
    """A contents heading, once ASCII spaces and U+3000 (ideographic
    space) are dropped; NBSP is kept."""
    return bool(_TOC_HEAD.match(text.lower().replace(" ", "").replace("\u3000", "")))


def _has_dot_leader(text: str) -> bool:
    """Four dots, two middle dots or two ellipses in a row."""
    return "...." in text or "··" in text or "……" in text


def _eng_heading(text: str) -> bool:
    return bool(_ENG_PREFIX.match(text.strip()))


def _toc_prefix(text: str, eng: bool) -> str:
    t = text.strip()
    return " ".join(t.split()[:2]) if eng else t[:3]


def toc_kept(texts: list[str], is_head, eng_of) -> list[int]:
    """Indices of the ``texts`` left once every table-of-contents block is
    dropped (pdf_parser.py:593-642, rag/nlp/__init__.py:347-376). A block
    is a heading (``is_head(text)``), the texts after it with an empty
    prefix, the first text with a prefix (of the stripped text: its first
    two words when ``eng_of(heading)``, else its first three characters),
    then every text up to the first of the next 128 that starts with that
    prefix, which is kept. No such text: the block ends after the prefix
    text. No text with a prefix: the block runs to the end."""
    keep: list[int] = []
    i, n = 0, len(texts)
    while i < n:
        if not is_head(texts[i]):
            keep.append(i)
            i += 1
            continue
        eng = eng_of(texts[i])
        p = i + 1
        while p < n and not (prefix := _toc_prefix(texts[p], eng)):
            p += 1
        if p == n:
            break
        i = p + 1
        for q in range(p + 1, min(p + 129, n)):
            if texts[q].startswith(prefix):
                i = q
                break
    return keep


def filter_toc(boxes: list[dict]) -> list[dict]:
    """ToC removal (pdf_parser.py:593-642): with a contents heading,
    ``toc_kept`` (English prefixes when the heading reads as English);
    with none, drop pages having >3 dot-leader lines."""
    if any(_is_toc_head(b["text"] or "") for b in boxes):
        texts = [b["text"] or "" for b in boxes]
        return [boxes[k] for k in toc_kept(texts, _is_toc_head, _eng_heading)]

    dirty: Counter = Counter()
    for b in boxes:
        if _has_dot_leader(b["text"] or ""):
            dirty[b["pn"]] += 1
    dirty_pages = {pn for pn, c in dirty.items() if c > 3}
    if not dirty_pages:
        return list(boxes)
    return [b for b in boxes if b["pn"] not in dirty_pages]


_LATIN = set("qwertyuiopasdfghjklzxcvbnm")


def bullet_merge(boxes: list[dict]) -> list[dict]:
    """Merge consecutive boxes starting with the same non-latin, non-CJK
    bullet char (pdf_parser.py:644-666)."""
    bxs = [dict(b) for b in boxes]
    i = 0
    while i + 1 < len(bxs):
        b, b_ = bxs[i], bxs[i + 1]
        t, t_ = (b["text"] or "").strip(), (b_["text"] or "").strip()
        if not t:
            bxs.pop(i)
            continue
        if not t_:
            bxs.pop(i + 1)
            continue
        c = t[0]
        if (
            c != t_[0]
            or c.lower() in _LATIN
            or "一" <= c <= "鿿"
            or b["pn"] * PAGE_H + b["top"] > b_["pn"] * PAGE_H + b_["bottom"]
        ):
            i += 1
            continue
        b_["text"] = t + "\n" + t_
        b_["x0"] = min(b["x0"], b_["x0"])
        b_["x1"] = max(b["x1"], b_["x1"])
        b_["top"] = b["top"]
        b_["pn"] = b["pn"]
        bxs.pop(i)
    return bxs


def overlapped_area(a: dict, b: dict, ratio: bool = True) -> float:
    """Overlap area of box b with box a, as a fraction of a's area when
    ``ratio`` (deepdoc/vision/recognizer.py:113-132)."""
    x0 = max(a["x0"], b["x0"])
    x1 = min(a["x1"], b["x1"])
    tp = max(a["top"], b["top"])
    btm = min(a["bottom"], b["bottom"])
    if x1 <= x0 or btm <= tp:
        return 0.0
    ov = (btm - tp) * (x1 - x0)
    if ratio:
        area = (a["x1"] - a["x0"]) * (a["bottom"] - a["top"])
        return ov / area if area else 0.0
    return ov


# layouts_cleanup compares each region with its next _NMS_FAR regions and
# merges two that overlap by _NMS_THR or more (recognizer.py:134-176)
_NMS_FAR = 2
_NMS_THR = 0.7


def layouts_cleanup(boxes: list[dict]) -> list[dict]:
    """NMS-style dedup of overlapping same-kind layout regions
    (recognizer.py:134-176 layouts_cleanup). Real detector output overlaps
    constantly: the same table detected twice produces two region ids
    covering the same cells. Regions here are implicit — (page, lo) groups —
    so the port (a) reconstructs each region's envelope, (b) walks the
    Y-sorted region list comparing each region with its next 2
    neighbors, (c) when two same-kind regions overlap >=0.7 (either
    direction) keeps the one covering more text area and reassigns the
    loser's boxes to it, then (d) drops boxes that duplicate a same-text
    box they overlap >=0.7 within the merged region."""
    regions: dict[tuple, list[dict]] = {}
    for b in boxes:
        if b["lo"] >= 0:
            regions.setdefault((b["pn"], b["lo"]), []).append(b)
    if len(regions) < 2:
        return boxes

    def env(bxs: list[dict]) -> dict:
        kinds = {("table" if x["kind"] == "table header" else x["kind"]) for x in bxs}
        return {
            "x0": min(x["x0"] for x in bxs),
            "x1": max(x["x1"] for x in bxs),
            "top": min(x["top"] for x in bxs),
            "bottom": max(x["bottom"] for x in bxs),
            "kind": sorted(kinds)[0],
            "area": sum(
                (x["x1"] - x["x0"]) * (x["bottom"] - x["top"]) for x in bxs
            ),
        }

    regs = [
        {"key": k, "pn": k[0], **env(v)} for k, v in regions.items()
    ]
    regs.sort(key=lambda r: (r["pn"], r["top"], r["x0"]))
    remap: dict[tuple, tuple] = {}
    i = 0
    while i + 1 < len(regs):
        hit = None
        for j in range(i + 1, min(i + 1 + _NMS_FAR, len(regs))):
            rj = regs[j]
            ri = regs[i]
            if rj["pn"] != ri["pn"] or rj["kind"] != ri["kind"]:
                continue
            if (
                overlapped_area(ri, rj) >= _NMS_THR
                or overlapped_area(rj, ri) >= _NMS_THR
            ):
                hit = j
                break
        if hit is None:
            i += 1
            continue
        win, lose = (i, hit) if regs[i]["area"] > regs[hit]["area"] else (hit, i)
        remap[regs[lose]["key"]] = regs[win]["key"]
        regs.pop(lose)
    if not remap:
        return boxes

    # resolve chains (A->B->C) and retag
    def resolve(k: tuple) -> tuple:
        while k in remap:
            k = remap[k]
        return k

    out: list[dict] = []
    merged_members: dict[tuple, list[dict]] = {}
    for b in boxes:
        if b["lo"] < 0:
            out.append(b)
            continue
        tgt = resolve((b["pn"], b["lo"]))
        nb = dict(b)
        nb["lo"] = tgt[1]
        # duplicate-detection dedup: drop a box whose text matches an
        # already-kept box it overlaps heavily within the same region
        dup = any(
            (x["text"] or "") == (nb["text"] or "")
            and (
                overlapped_area(x, nb) >= _NMS_THR or overlapped_area(nb, x) >= _NMS_THR
            )
            for x in merged_members.get(tgt, [])
        )
        if dup:
            continue
        merged_members.setdefault(tgt, []).append(nb)
        out.append(nb)
    return out


# numbering/outline patterns that mark a line as a "projection" (heading /
# enumerated item) — pdf_parser.py:881-903 proj_match; the semantics are the
# patterns themselves. In rank order, a pure-numeric line first (rank False).
_PROJ_PATTERNS = (
    (r"[0-9 ().,%+/-]+$", False),
    (r"第[零一二三四五六七八九十百]+章", 1),
    (r"第[零一二三四五六七八九十百]+[条节]", 2),
    (r"[零一二三四五六七八九十百]+[、 　]", 3),
    (r"[\(（][零一二三四五六七八九十百]+[）\)]", 4),
    (r"[0-9]+(?:、|\.[　 ]|\.[^0-9])", 5),
    (r"[0-9]+\.[0-9]+(?:、|[. 　]|[^0-9])", 6),
    # no ranks 7 (d.d.d) and 8 (d.d.d.d): rank 6 matches every line they match
    (r".{,48}[：:?？]$", 9),
    (r"[0-9]+）", 10),
    (r"[\(（][0-9]+[）\)]", 11),
    (r"[零一二三四五六七八九十百]+是", 12),
    (r"[⚫•➢✓]", 12),
)
# one ordered alternation, one capturing group per pattern: under match()
# the first alternative that matches wins, as a loop over the patterns would,
# and m.lastindex names it
_PROJ_RE = re.compile("|".join(f"({p})" for p, _ in _PROJ_PATTERNS))
_PROJ_RANK = (None,) + tuple(rank for _, rank in _PROJ_PATTERNS)


def proj_match(line: str) -> int | bool | None:
    """Outline-numbering class of a line (pdf_parser.py:881-903): None for
    too-short lines, False for pure-numeric lines, else the pattern rank."""
    if len(line) <= 2:
        return None
    m = _PROJ_RE.match(line)
    return _PROJ_RANK[m.lastindex] if m else None


def _scrap_usefull(b: dict, pw: float, mh: float) -> bool:
    """A box is worth keeping on its own when it is layout-tagged, wide
    (>page_width/3), or tall (>mean height) — pdf_parser.py:929-937. Tagged
    here = carries a layout-region id or a non-plain-text kind (the analog
    of the reference's layout_type)."""
    if b["lo"] >= 0 or b["kind"] != "text":
        return True
    if b["x1"] - b["x0"] > pw / 3:
        return True
    return b["bottom"] - b["top"] > mh


def filter_scraps(boxes: list[dict]) -> list[dict]:
    """Scrap filter (pdf_parser.py:922-992 __filterout_scraps): walk the
    stream grouping each useful box with following useful boxes on the same
    page that are x-aligned (<page_width/10) or projection-continuations;
    keep a run when its first line is a projection/title or its mean width
    is >=0.35 of the page (or >200px). Narrow untagged runs — margin notes,
    decorative columns — are dropped. Boxes are returned (not a joined
    string: positions stay structs per the SURVEY ruling), in their
    original reading order."""
    if not boxes:
        return boxes
    mh = page_mean(boxes, "top", "bottom", 10.0)
    order = {id(b): i for i, b in enumerate(boxes)}
    # the stream reversed, so taking its head (or a box near it) pops from
    # the end of the list: the stream's i-th box, counting from 1, is rev[-i]
    rev = boxes[::-1]
    x_near = PAGE_W / 10
    kept: list[dict] = []
    while rev:
        first = rev.pop()
        mhp = mh.get(first["pn"], 10.0)
        if not _scrap_usefull(first, PAGE_W, mhp):
            continue  # waste: narrow, short, untagged
        mj = bool(proj_match((first["text"] or "").strip())) or first["kind"] == "title"
        cur, mmj = first, mj
        lines = [first]
        while True:
            cur_h = cur["bottom"] - cur["top"]
            cur_y = cur["pn"] * PAGE_H + (cur["top"] + cur["bottom"]) / 2
            nxt = None
            for i in range(1, min(19, len(rev)) + 1):
                b = rev[-i]
                if b["pn"] > cur["pn"]:
                    break
                y_dis = abs(cur_y - (b["pn"] * PAGE_H + (b["top"] + b["bottom"]) / 2))
                if not mmj and y_dis >= 3 * mhp and cur_h < 1.5 * mhp:
                    break
                if not _scrap_usefull(b, PAGE_W, mhp):
                    continue
                x_overlap = not (cur["x1"] < b["x0"] or cur["x0"] > b["x1"])
                x_dis = 0.0 if x_overlap else min(
                    abs(cur["x1"] - b["x0"]), abs(cur["x0"] - b["x1"])
                )
                if mmj or x_dis < x_near:
                    nxt = i
                    break
            if nxt is None:
                break
            cur = rev.pop(-nxt)
            lines.append(cur)
            mmj = bool(proj_match((cur["text"] or "").strip())) or cur["kind"] == "title"
        mw = sum(b["x1"] - b["x0"] for b in lines) / len(lines)
        if mj or mw / PAGE_W >= 0.35 or mw > 200:
            kept.extend(lines)
    kept.sort(key=lambda b: order[id(b)])
    return kept


def drop_credits(boxes: list[dict]) -> list[dict]:
    """Drop data-source credit lines inside table/figure regions
    (pdf_parser.py:687-689, 697-699)."""
    return [
        b
        for b in boxes
        if not (b["kind"] in ("table", "figure") and _CREDIT.match(b["text"] or ""))
    ]
