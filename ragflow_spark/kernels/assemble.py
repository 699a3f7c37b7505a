"""Table/figure region assembly — the interleaved text+media re-assembly.

Reference behavior (deepdoc/parser/pdf_parser.py:668-879 _extract_table_figure
+ deepdoc/vision/table_structure_recognizer.py:104-587 construct_table),
re-expressed for clean span structs:

- group table/figure boxes by (page, layout-region id)
- drop data-source credit lines            (pdf_parser.py:687-689)
- merge a table that continues on the next page into its predecessor when
  the vertical gap is < 23x mean height    (pdf_parser.py:708-728)
- assign each caption to the nearest table-or-figure group by squared
  (y, x) distance, x-distance zero when x-ranges overlap
                                           (pdf_parser.py:730-780)
- reconstruct the table grid from cell geometry (row = top-cluster,
  column = x0-cluster) with the full reference semantics:
  cell block typing                        (table_structure_recognizer.py:104-133)
  singleton row/column relocation          (:203-324)
  header-row detection (>50% H-tagged or non-numeric among a numeric table)
                                           (:326-340)
  rowspan/colspan from cells covering multiple cluster centers — the
  geometric analog of the TSR `SP` tag     (:503-587)
  hierarchical multi-row header concat with 的 / " for "
                                           (:399-501 __desc_table)
  HTML render with th/td + span attributes (:353-397 __html_table)

The `H` header tag arrives as span kind "table header" (fixtures enter
post-TSR, so tags are encoded in kinds); spanning cells are detected from
their own geometry instead of carried H_left/H_right extents. blockType's
Nr (person-name) branch needs the reference's POS tagger and is not ported
(huqie is scope-ruled out, SURVEY.md §2.3); token counts use whitespace
tokens. Captions feed the reference's render (html <caption> / per-row
"\t——来自…" suffix) instead of being prepended.

Outputs one span per group: kind table/figure, media_ref preserved for
figures.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

from ragflow_spark.kernels.layout import drop_credits, gap_clusters, page_mean
from ragflow_spark.schemas import PAGE_H

TABLE_KINDS = ("table", "table header")


def _y_dis(a: dict, b: dict) -> float:
    ac = a["pn"] * PAGE_H + (a["top"] + a["bottom"]) / 2
    bc = b["pn"] * PAGE_H + (b["top"] + b["bottom"]) / 2
    return abs(ac - bc)


def _x_dis(a: dict, b: dict) -> float:
    if not (a["x1"] < b["x0"] or a["x0"] > b["x1"]):
        return 0.0
    return min(abs(a["x1"] - b["x0"]), abs(a["x0"] - b["x1"]))


def _group_key(b: dict, fallback_idx: int) -> tuple:
    lo = b["lo"] if b["lo"] >= 0 else 10_000 + fallback_idx
    return (b["pn"], lo)


def group_regions(boxes: list[dict]) -> tuple[list[dict], dict, dict]:
    """Pop table/figure boxes into groups keyed by (page, layoutno).
    Boxes without a layoutno fall back to contiguous-run grouping."""
    rest: list[dict] = []
    tables: dict[tuple, list[dict]] = {}
    figures: dict[tuple, list[dict]] = {}
    run_idx = 0
    prev_kind = None
    for b in boxes:
        k = b["kind"]
        if k not in TABLE_KINDS and k != "figure":
            rest.append(b)
            prev_kind = k
            continue
        group = "table" if k in TABLE_KINDS else "figure"
        if group != prev_kind:
            run_idx += 1
        prev_kind = group
        key = _group_key(b, run_idx)
        (tables if group == "table" else figures).setdefault(key, []).append(b)
    return rest, tables, figures


def merge_cross_page_tables(tables: dict, mean_h: dict[int, float]) -> dict:
    """pdf_parser.py:708-728: adjacent-page continuation merge."""
    items = sorted(
        tables.items(),
        key=lambda kv: (kv[1][0]["pn"] * PAGE_H + kv[1][0]["top"], kv[1][0]["x0"]),
    )
    merged: list[tuple] = []
    out: dict[tuple, list[dict]] = {}
    for k, bxs in items:
        if out:
            k0, bxs0 = merged[-1]
            pn0, pn = bxs0[0]["pn"], bxs[0]["pn"]
            gap = (bxs[0]["pn"] * PAGE_H + bxs[0]["top"]) - (
                bxs0[-1]["pn"] * PAGE_H + bxs0[-1]["bottom"]
            )
            if pn - pn0 == 1 and gap <= mean_h.get(pn, 10.0) * 23:
                out[k0].extend(bxs)
                continue
        out[k] = list(bxs)
        merged.append((k, out[k]))
    return out


def assign_captions(
    rest: list[dict], tables: dict, figures: dict
) -> tuple[list[dict], dict[tuple, list[str]], dict[tuple, list[str]]]:
    """1-NN caption assignment by squared spatial distance
    (pdf_parser.py:743-780); a caption goes to whichever of the nearest
    table / nearest figure group is closer."""
    tbl_caps: dict[tuple, list[str]] = {k: [] for k in tables}
    fig_caps: dict[tuple, list[str]] = {k: [] for k in figures}
    remaining: list[dict] = []
    for c in rest:
        if c["kind"] not in ("table caption", "figure caption"):
            remaining.append(c)
            continue

        def nearest(groups: dict) -> tuple[tuple | None, float]:
            mink, minv = None, float("inf")
            for k, bxs in groups.items():
                for b in bxs:
                    d = _y_dis(c, b) ** 2 + _x_dis(c, b) ** 2
                    if d < minv:
                        mink, minv = k, d
            return mink, minv

        tk, tv = nearest(tables)
        fk, fv = nearest(figures)
        if tv < fv and tk is not None:
            tbl_caps[tk].append(c["text"] or "")
        elif fk is not None:
            fig_caps[fk].append(c["text"] or "")
        # caption with no group at all: dropped (reference pops it regardless)
    return remaining, tbl_caps, fig_caps


# cell block typing (table_structure_recognizer.py:106-122 — the semantics
# ARE these regexes; the Nr person-name branch needs the reference's POS
# tagger and is not ported, token counts use whitespace tokens)
_BLOCK_PATTERNS = [
    (re.compile(r"^(20|19)[0-9]{2}[年/-][0-9]{1,2}[月/-][0-9]{1,2}日*$"), "Dt"),
    (re.compile(r"^(20|19)[0-9]{2}年$"), "Dt"),
    (re.compile(r"^(20|19)[0-9]{2}[年-][0-9]{1,2}月*$"), "Dt"),
    (re.compile(r"^[0-9]{1,2}[月-][0-9]{1,2}日*$"), "Dt"),
    (re.compile(r"^第*[一二三四1-4]季度$"), "Dt"),
    (re.compile(r"^(20|19)[0-9]{2}年*[一二三四1-4]季度$"), "Dt"),
    (re.compile(r"^(20|19)[0-9]{2}[ABCDE]$"), "Dt"),
    (re.compile(r"^[0-9.,+%/ -]+$"), "Nu"),
    (re.compile(r"^[0-9A-Z/\._~-]+$"), "Ca"),
    (re.compile(r"^[A-Z]*[a-z' -]+$"), "En"),
    (re.compile(r"^[0-9.,+-]+[0-9A-Za-z/$￥%<>（）()' -]+$"), "NE"),
    (re.compile(r"^.{1}$"), "Sg"),
]


def block_type(text: str) -> str:
    """Cell content class (table_structure_recognizer.py:104-133)."""
    t = (text or "").strip()
    for pat, name in _BLOCK_PATTERNS:
        if pat.search(t):
            return name
    toks = [w for w in t.split() if len(w) > 1]
    if len(toks) > 3:
        return "Tx" if len(toks) < 12 else "Lx"
    return "Ot"


def _mean(xs: list[float]) -> float:
    """``np.mean(xs)`` of a non-empty list of floats. numpy's pairwise sum
    adds fewer than 8 values in order, starting from 0.0, so a short list
    (a table's row or column: nearly every list here) is summed the same way
    in Python, without numpy's per-call overhead."""
    if len(xs) >= 8:
        return float(np.mean(xs))
    total = 0.0
    for x in xs:
        total += x
    return total / len(xs)


def _axis_ids(cells: list[dict], tag: str, pos: list[float], size: list[float]) -> list[int]:
    """One grid axis: the dense rank of the cells' ``tag`` values when every
    cell carries one, else gap clusters of ``pos`` at half the mean
    ``size`` (at least 1)."""
    if all(tag in c for c in cells):
        return np.unique(np.array([c[tag] for c in cells]), return_inverse=True)[1].tolist()
    return gap_clusters(pos, max(_mean(size) / 2, 1.0))


def _build_grid(cells: list[dict]) -> list[list[list[int]]]:
    """Row/column cluster → grid of cell-index lists; stores rn/cn on cells.

    Explicit TSR tags win over geometry: when every cell carries an ``R``
    (resp. ``C``) key — the post-TSR contract, matching the reference where
    the table-structure model tags boxes before reconstruction
    (deepdoc/parser/pdf_parser.py:257-294) — the dense rank of those tag
    values becomes the row (resp. col) id and the geometric gap clustering
    is skipped entirely. Partially-tagged tables fall back to geometry for
    the whole axis (the reference's tightest-fit fallback assigns single
    boxes, but a half-tagged axis has no consistent id space to merge
    into)."""
    rn = _axis_ids(cells, "R", [c["pn"] * PAGE_H + c["top"] for c in cells],
                   [c["bottom"] - c["top"] for c in cells])
    cn = _axis_ids(cells, "C", [c["x0"] for c in cells],
                   [c["x1"] - c["x0"] for c in cells])
    n_rows, n_cols = max(rn) + 1, max(cn) + 1
    grid: list[list[list[int]]] = [
        [[] for _ in range(n_cols)] for _ in range(n_rows)
    ]
    for i, (r_, c_) in enumerate(zip(rn, cn)):
        cells[i]["rn"], cells[i]["cn"] = r_, c_
        grid[r_][c_].append(i)
    return grid


def _relocate_singletons(
    grid: list[list[list[int]]], cells: list[dict]
) -> list[list[list[int]]]:
    """A row occupied by exactly one cell whose column has an empty
    neighbor is a mis-split: merge it toward the nearer side and drop the
    row (table_structure_recognizer.py:266-324; when cols >= 4). Columns go
    first, as the rows of the transposed grid, with gaps from x0/x1 and the
    cn retag (:203-264; when rows >= 4); then rows, with top/bottom and rn.
    Returns the relocated grid."""
    for lo, hi, key in (("x0", "x1", "cn"), ("top", "bottom", "rn")):
        grid = [list(line) for line in zip(*grid)]
        if not grid or len(grid[0]) < 4:
            continue
        i = 0
        while i < len(grid):
            occ = [j for j in range(len(grid[i])) if grid[i][j]]
            if len(occ) != 1:
                i += 1
                continue
            jj = occ[0]
            up_filled = i == 0 or bool(grid[i - 1][jj])
            down_filled = i + 1 >= len(grid) or bool(grid[i + 1][jj])
            if up_filled and down_filled:
                i += 1
                continue
            bx = cells[grid[i][jj][0]]
            up_gap = down_gap = float("inf")
            if i > 0 and not up_filled:
                for j in range(len(grid[i - 1])):
                    for a in grid[i - 1][j]:
                        up_gap = min(up_gap, bx[lo] - cells[a][hi])
            if i + 1 < len(grid) and not down_filled:
                for j in range(len(grid[i + 1])):
                    for a in grid[i + 1][j]:
                        down_gap = min(down_gap, cells[a][lo] - bx[hi])
            tgt = i - 1 if up_gap < down_gap else i + 1
            for a in grid[i][jj]:
                cells[a][key] = tgt  # retag before the drop shifts indices
            grid[tgt][jj].extend(grid[i][jj])
            grid.pop(i)
            for row in grid:
                for col in row:
                    for a in col:
                        if cells[a][key] > i:
                            cells[a][key] -= 1
    return grid


def _header_rows(
    grid: list[list[list[int]]], cells: list[dict], max_type: str
) -> set[int]:
    """Rows where >50% of occupied cells are H-tagged or non-numeric among a
    numeric-majority table (table_structure_recognizer.py:326-340)."""
    hdset: set[int] = set()
    for i, row in enumerate(grid):
        cnt = h = 0
        for arr in row:
            if not arr:
                continue
            cnt += 1
            first = cells[arr[0]]
            if max_type == "Nu" and first["btype"] == "Nu":
                continue
            if any(cells[a]["is_h"] for a in arr) or (
                max_type == "Nu" and first["btype"] != "Nu"
            ):
                h += 1
        if cnt and h / cnt > 0.5:
            hdset.add(i)
    return hdset


def _axis_spans(
    lines: list[list[int]], lo: list[float], hi: list[float], own: list[int]
) -> list[list[int]]:
    """One grid axis of span resolution. A line's center is the mean of its
    cells' ``lo`` plus the mean of their ``hi``, halved (0.0 for an empty
    line); cell ``a`` covers the lines whose center lies in
    [lo[a], hi[a]] and its own line ``own[a]``, clamped to the grid
    (relocation may have shrunk it)."""
    n = len(lines)
    cent = [
        (_mean([lo[a] for a in line]) + _mean([hi[a] for a in line])) / 2 if line else 0.0
        for line in lines
    ]
    spans = []
    for a, k in enumerate(own):
        start, end = lo[a], hi[a]
        cover = {j for j, m in enumerate(cent) if start <= m <= end}
        cover.add(k)
        spans.append(sorted(x for x in cover if 0 <= x < n) or [min(k, n - 1)])
    return spans


def _apply_spans(
    grid: list[list[list[int]]], cells: list[dict], html: bool
) -> list[list[list[int] | None]]:
    """Rowspan/colspan resolution (table_structure_recognizer.py:503-587).
    A cell is "spanning" when its own x-range covers the center of >=2
    column clusters (or y-range >=2 row centers) — the geometric analog of
    the TSR SP tag + H_left..H_bott extents. Covered cells merge into the
    span origin; html mode blanks the covered positions (None) and records
    colspan/rowspan counts on the origin cells."""
    if not grid:
        return grid
    n_rows, n_cols = len(grid), len(grid[0])
    rspan = _axis_spans(
        [[a for col in row for a in col] for row in grid],
        [c["pn"] * PAGE_H + c["top"] for c in cells],
        [c["pn"] * PAGE_H + c["bottom"] for c in cells],
        [c["rn"] for c in cells],
    )
    cspan = _axis_spans(
        [[a for row in grid for a in row[j]] for j in range(n_cols)],
        [c["x0"] for c in cells],
        [c["x1"] for c in cells],
        [c["cn"] for c in cells],
    )
    out: list[list[list[int] | None]] = [list(row) for row in grid]
    for i in range(n_rows):
        for j in range(n_cols):
            arr = out[i][j]
            if not arr:
                continue
            rset: set[int] = set()
            cset: set[int] = set()
            for a in arr:
                rset.update(rspan[a])
                cset.update(cspan[a])
            if len(rset) < 2 and len(cset) < 2:
                for a in arr:
                    cells[a]["rowspan_n"] = cells[a]["colspan_n"] = 0
                continue
            rrange = list(range(min(rset), max(rset) + 1))
            crange = list(range(min(cset), max(cset) + 1))
            merged: list[int] = []
            for r in rrange:
                for cc in crange:
                    cur = out[r][cc]
                    if cur:
                        seen = "".join(cells[a]["text"] or "" for a in merged)
                        cur_txt = "".join(cells[a]["text"] or "" for a in cur)
                        if cur_txt != seen:
                            merged.extend(cur)
                    out[r][cc] = None if html else merged
            for a in merged:
                cells[a]["rowspan_n"] = len(rrange) if len(rrange) > 1 else 0
                cells[a]["colspan_n"] = len(crange) if len(crange) > 1 else 0
            out[rrange[0]][crange[0]] = merged
    return out


def _cell_text(cells: list[dict], arr: list[int], sep: str = "") -> str:
    return sep.join((cells[a]["text"] or "").strip() for a in arr)


def _html_render(
    tbl: list[list[list[int] | None]],
    cells: list[dict],
    hdset: set[int],
    cap: str,
) -> str:
    """HTML table with th/td by header set + span attributes
    (table_structure_recognizer.py:353-397)."""
    parts = ["<table>"]
    if cap:
        parts.append(f"<caption>{cap}</caption>")
    for i, row in enumerate(tbl):
        rcells = []
        for arr in row:
            if arr is None:
                continue
            tag = "th" if i in hdset else "td"
            if not arr:
                rcells.append(f"<{tag}></{tag}>")
                continue
            ordered = sorted(
                arr,
                key=lambda a: (
                    cells[a]["pn"] * PAGE_H + cells[a]["top"],
                    cells[a]["x0"],
                ),
            )
            txt = " ".join(
                (cells[a]["text"] or "").strip() for a in ordered
            ).strip()
            attrs = ""
            if cells[arr[0]].get("colspan_n"):
                attrs += f' colspan="{cells[arr[0]]["colspan_n"]}"'
            if cells[arr[0]].get("rowspan_n"):
                attrs += f' rowspan="{cells[arr[0]]["rowspan_n"]}"'
            rcells.append(f"<{tag}{attrs}>{txt}</{tag}>")
        if rcells:
            parts.append("<tr>" + "".join(rcells) + "</tr>")
    parts.append("</table>")
    return "".join(parts)


def _desc_render(
    tbl: list[list[list[int] | None]],
    cells: list[dict],
    hdset: set[int],
    cap: str,
    is_english: bool,
) -> str:
    """"header：value; …" description rows with forward-filled +
    hierarchically concatenated multi-row headers and the 64-char coalescing
    of short header-less rows (table_structure_recognizer.py:399-501)."""
    if not tbl:
        return ""
    clmno = len(tbl[0])
    rowno = len(tbl)
    de = " for " if is_english else "的"
    headers: dict[int, list[str]] = {}
    hd_rows = set(hdset)
    lst_hdr: list[str] = []
    for r in sorted(hd_rows):
        hrow = [""] * clmno
        for j in range(clmno):
            arr = tbl[r][j]
            if arr:
                hrow[j] = " ".join(
                    (cells[a]["text"] or "").strip() for a in arr
                ).strip()
        if not any(hrow):
            hd_rows.discard(r)
            continue
        for j in range(clmno):
            if hrow[j]:
                continue
            if j >= len(lst_hdr):
                break
            hrow[j] = lst_hdr[j]  # forward-fill from the previous header row
        headers[r] = hrow
        lst_hdr = hrow
    # consecutive header rows concatenate hierarchically (group 的/for leaf)
    for i in range(rowno):
        if i not in hd_rows:
            continue
        for j in range(i + 1, rowno):
            if j not in hd_rows or (j - 1) not in headers or j not in headers:
                break
            for k in range(clmno):
                up, lo = headers[j - 1][k], headers[j][k]
                if not up or lo.find(up) >= 0:
                    continue
                if len(lo) > len(up):
                    headers[j][k] = lo + (de if lo else "") + up
                else:
                    headers[j][k] = up + (de if up else "") + lo

    row_txt: list[str] = []
    for i in range(rowno):
        if i in hd_rows:
            continue
        above = [(i - r, r) for r in headers if r < i]
        r = min(above)[1] if above else 0
        if r not in headers and clmno <= 2:
            vals = []
            for j in range(clmno):
                arr = tbl[i][j]
                if not arr:
                    continue
                txt = _cell_text(cells, arr)
                if txt:
                    vals.append(txt)
            if vals:
                line = "：".join(vals)
                if row_txt and len(row_txt[-1]) + len(line) < 64:
                    row_txt[-1] += "\n" + line
                else:
                    row_txt.append(line)
            continue
        rtxt = []
        for j in range(clmno):
            arr = tbl[i][j]
            if not arr:
                continue
            txt = _cell_text(cells, arr)
            if not txt:
                continue
            ctt = headers[r][j] if r in headers else ""
            if ctt:
                ctt += "："
            rtxt.append(ctt + txt)
        if rtxt:
            row_txt.append("; ".join(rtxt))
    if cap:
        from_ = " in " if is_english else "来自"
        row_txt = [t + f"\t——{from_}“{cap}”" for t in row_txt]
    return "\n".join(row_txt)


def construct_table(cells: list[dict], cap: str = "", html: bool = False) -> str:
    """Full grid reconstruction (table_structure_recognizer.py:135-587):
    block typing → row/col clustering → singleton relocation → header-row
    detection → span resolution → HTML or description render."""
    cells = [dict(c) for c in cells if (c["text"] or "").strip()]
    if not cells:
        return ""
    joined = " ".join(c["text"] or "" for c in cells)
    ascii_n = sum(ch.isascii() and ch.isalpha() for ch in joined)
    cjk_n = sum("一" <= ch <= "鿿" for ch in joined)
    is_english = ascii_n >= cjk_n
    for c in cells:
        c["btype"] = block_type(c["text"])
        # explicit TSR header tag wins over the fixture layout kind
        # (pdf_parser.py:257-294 H-tagging precedes reconstruction)
        c["is_h"] = (
            bool(c["H"]) if "H" in c else c["kind"] == "table header"
        )
    counts = Counter(c["btype"] for c in cells)
    max_type = max(counts.items(), key=lambda kv: kv[1])[0]

    grid = _relocate_singletons(_build_grid(cells), cells)
    hdset = _header_rows(grid, cells, max_type)
    tbl = _apply_spans(grid, cells, html)
    if html:
        return _html_render(tbl, cells, hdset, cap)
    return _desc_render(tbl, cells, hdset, cap, is_english)


def _media_span(kind: str, text: str, media_ref: str, bxs: list[dict]) -> dict:
    """A figure or table span at its group's origin (the first box in
    reading order), spanning the group's right and bottom edges."""
    first = min(bxs, key=lambda b: (b["pn"] * PAGE_H + b["top"], b["x0"]))
    return {
        "kind": kind,
        "text": text,
        "media_ref": media_ref,
        "pn": first["pn"],
        "x0": first["x0"],
        "x1": max(b["x1"] for b in bxs),
        "top": first["top"],
        "bottom": max(b["pn"] * PAGE_H + b["bottom"] for b in bxs) - first["pn"] * PAGE_H,
        "lo": -1,
    }


def assemble(boxes: list[dict], html_tables: bool = False) -> tuple[list[dict], list[dict]]:
    """Full assembly pass. Returns (remaining_boxes, media_spans) where each
    media span is a dict {kind, text, media_ref, pn, x0, x1, top, bottom, lo}
    positioned at its group origin for interleaved re-insertion."""
    boxes = drop_credits(boxes)
    mean_h = page_mean(boxes, "top", "bottom", 10.0)
    rest, tables, figures = group_regions(boxes)
    tables = merge_cross_page_tables(tables, mean_h)
    rest, tbl_caps, fig_caps = assign_captions(rest, tables, figures)

    media: list[dict] = []
    for k, bxs in figures.items():
        texts = fig_caps.get(k, []) + [b["text"] for b in bxs if (b["text"] or "").strip()]
        txt = "\n".join(t for t in texts if t)
        ref = next((b["media_ref"] for b in bxs if b["media_ref"]), "")
        media.append(_media_span("figure", txt, ref, bxs))
    for k, bxs in tables.items():
        # caption concatenation mirrors the reference's accumulating `cap`
        # (construct_table pops caption boxes into one string, tsr.py:137-146)
        cap = "".join(tbl_caps.get(k, []))
        txt = construct_table(bxs, cap=cap, html=html_tables)
        if txt:
            media.append(_media_span("table", txt, "", bxs))
    return rest, media
