"""The layout kernels' rewritten predicates and pass loops equal the forms
they replaced. The replaced forms are kept here as the reference: the
``_SPACES.sub`` ToC-heading key, ``_DOT_LEADER.search``,
``_JUNK_RE.search``, the sequential ``_PROJ_PATTERNS`` loop,
``re.match(re.escape(prefix), t)``, ``np.median``, ``np.mean``, and the
``horizontal_merge``, ``vertical_merge`` and ``filter_scraps`` loops. Each
predicate is compared on every box text of the seed-1 mixed corpus
(perfbench's 3,000 docs, raw and stripped, plus the texts they extract to)
and on a hostile set; each pass on the boxes it gets for every corpus doc
and on seeded random boxes."""

import math
import random
import re

import numpy as np
import pytest

from ragflow_spark.datagen import gen_docs
from ragflow_spark.kernels import layout as L
from ragflow_spark.kernels.assemble import _mean
from ragflow_spark.kernels.extract import finalize_doc, strip_rows
from ragflow_spark.schemas import unpack_geom

# ----------------------------------------------------------- the old forms
_TOC_HEAD = re.compile(r"(contents|目录|目次|tableofcontents|致谢|acknowledge)$", re.I)
_SPACES = re.compile(r"( | |　)+")
_DOT_LEADER = re.compile(r"(\.{4,}|·{2,}|…{2,})")
_JUNK_RE = re.compile(
    r"^•+$|^[0-9]{1,2} / ?[0-9]{1,2}$|^[0-9]{1,2} of [0-9]{1,2}$"
    r"|^http://[^ ]{12,}|\(cid *: *[0-9]+ *\)"
)
_PROJ_PURE_NUM = re.compile(r"[0-9 ().,%+/-]+$")
_PROJ_PATTERNS = [
    (re.compile(r"第[零一二三四五六七八九十百]+章"), 1),
    (re.compile(r"第[零一二三四五六七八九十百]+[条节]"), 2),
    (re.compile(r"[零一二三四五六七八九十百]+[、 　]"), 3),
    (re.compile(r"[\(（][零一二三四五六七八九十百]+[）\)]"), 4),
    (re.compile(r"[0-9]+(、|\.[　 ]|\.[^0-9])"), 5),
    (re.compile(r"[0-9]+\.[0-9]+(、|[. 　]|[^0-9])"), 6),
    (re.compile(r"[0-9]+\.[0-9]+\.[0-9]+(、|[ 　]|[^0-9])"), 7),
    (re.compile(r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+(、|[ 　]|[^0-9])"), 8),
    (re.compile(r".{,48}[：:?？]$"), 9),
    (re.compile(r"[0-9]+）"), 10),
    (re.compile(r"[\(（][0-9]+[）\)]"), 11),
    (re.compile(r"[零一二三四五六七八九十百]+是"), 12),
    (re.compile(r"[⚫•➢✓]"), 12),
]


def toc_head_ref(text: str) -> bool:
    return bool(_TOC_HEAD.match(_SPACES.sub("", text.lower())))


def dot_leader_ref(text: str) -> bool:
    return bool(_DOT_LEADER.search(text))


def is_junk_ref(text: str) -> bool:
    return bool(_JUNK_RE.search(text))


def proj_match_ref(line: str):
    if len(line) <= 2:
        return None
    if _PROJ_PURE_NUM.match(line):
        return False
    for pat, rank in _PROJ_PATTERNS:
        if pat.match(line):
            return rank
    return None


def median_ref(xs: list) -> float:
    return float(np.median(xs))


# ------------------------------------------------ the replaced pass loops
# verbatim from the previous kernels, with the unchanged helpers taken from
# the module


def horizontal_merge_ref(boxes):
    if not boxes:
        return boxes
    mh = L.page_mean_height(boxes)
    out = []
    for b in boxes:
        b = dict(b)
        if not out:
            out.append(b)
            continue
        p = out[-1]
        same_region = (
            (p["lo"] >= 0 and p["lo"] == b["lo"] and p["pn"] == b["pn"])
            if (p["lo"] >= 0 or b["lo"] >= 0)
            else (p["pn"] == b["pn"] and p["kind"] == b["kind"])
        )
        _cellish = ("table", "table header", "figure")
        mergeable_kind = b["kind"] not in _cellish and p["kind"] not in _cellish
        if (
            same_region
            and mergeable_kind
            and L._same_line(p, b, mh.get(b["pn"], 10.0))
            and p["x1"] <= b["x0"] + 2.0
        ):
            p["text"] = (p["text"] or "") + L._joiner(p["text"], b["text"]) + (b["text"] or "")
            p["x1"] = b["x1"]
            p["top"] = (p["top"] + b["top"]) / 2
            p["bottom"] = (p["bottom"] + b["bottom"]) / 2
            continue
        out.append(b)
    return out


def vertical_merge_ref(boxes, is_english):
    if not boxes:
        return boxes
    mh = L.page_mean_height(boxes)
    mw = L.page_mean_width(boxes)
    out = []
    i = 0
    bxs = [dict(b) for b in boxes]
    while i < len(bxs):
        b = bxs[i]
        nxt = bxs[i + 1] if i + 1 < len(bxs) else None
        t = (b["text"] or "").strip()
        if nxt is not None and b["pn"] < nxt["pn"] and L._PAGE_DROPPINGS.fullmatch(t):
            bxs.pop(i)
            continue
        if not t:
            bxs.pop(i)
            continue
        if nxt is None:
            out.append(b)
            break
        t_ = (nxt["text"] or "").strip()
        concatting = (
            t[-1] in L._CONCAT_TAIL
            or (len(t) > 1 and t[-2] in L._CONCAT_TAIL2)
            or (t_ and t_[0] in L._CONCAT_HEAD)
        )
        region_change = (
            (b["lo"], b["pn"]) != (nxt["lo"], nxt["pn"])
            if (b["lo"] >= 0 or nxt["lo"] >= 0)
            else b["kind"] != nxt["kind"]
        )
        nofeats = [
            region_change,
            t[-1] in L._SENT_END_CN,
            is_english and t[-1] in L._SENT_END_EN,
            b["pn"] == nxt["pn"]
            and nxt["top"] - b["bottom"] > mh.get(b["pn"], 10.0) * 1.5,
            b["pn"] < nxt["pn"]
            and abs(b["x0"] - nxt["x0"]) > mw.get(b["pn"], 100.0) * 4,
        ]
        detached = b["x1"] < nxt["x0"] or b["x0"] > nxt["x1"]
        if (any(nofeats) and not concatting) or detached:
            out.append(b)
            i += 1
            continue
        # merge down
        b["text"] = (b["text"] or "") + L._joiner(b["text"], nxt["text"]) + (nxt["text"] or "")
        b["bottom"] = nxt["bottom"] + (nxt["pn"] - b["pn"]) * L.PAGE_H
        b["x0"] = min(b["x0"], nxt["x0"])
        b["x1"] = max(b["x1"], nxt["x1"])
        bxs[i] = b
        bxs.pop(i + 1)
    return out


def filter_scraps_ref(boxes, page_w=L.PAGE_W):
    if not boxes:
        return boxes
    mh = L.page_mean_height(boxes)
    order = {id(b): i for i, b in enumerate(boxes)}
    bxs = list(boxes)
    kept = []
    while bxs:
        first = bxs[0]
        mhp = mh.get(first["pn"], 10.0)
        mj = bool(proj_match_ref((first["text"] or "").strip())) or first["kind"] == "title"
        lines = []
        if L._scrap_usefull(first, page_w, mhp):
            cur = bxs.pop(0)
            lines.append(cur)
            while True:
                mmj = (
                    bool(proj_match_ref((cur["text"] or "").strip()))
                    or cur["kind"] == "title"
                )
                cur_h = cur["bottom"] - cur["top"]
                nxt = None
                for i in range(min(19, len(bxs))):
                    b = bxs[i]
                    if b["pn"] > cur["pn"]:
                        break
                    y_dis = abs(
                        (cur["pn"] * L.PAGE_H + (cur["top"] + cur["bottom"]) / 2)
                        - (b["pn"] * L.PAGE_H + (b["top"] + b["bottom"]) / 2)
                    )
                    if not mmj and y_dis >= 3 * mhp and cur_h < 1.5 * mhp:
                        break
                    if not L._scrap_usefull(b, page_w, mhp):
                        continue
                    x_overlap = not (cur["x1"] < b["x0"] or cur["x0"] > b["x1"])
                    x_dis = 0.0 if x_overlap else min(
                        abs(cur["x1"] - b["x0"]), abs(cur["x0"] - b["x1"])
                    )
                    if mmj or x_dis < page_w / 10:
                        nxt = i
                        break
                if nxt is None:
                    break
                cur = bxs.pop(nxt)
                lines.append(cur)
        else:
            bxs.pop(0)  # waste: narrow, short, untagged
        if not lines:
            continue
        mw = sum(b["x1"] - b["x0"] for b in lines) / len(lines)
        if mj or mw / page_w >= 0.35 or mw > 200:
            kept.extend(lines)
    kept.sort(key=lambda b: order[id(b)])
    return kept


# --------------------------------------------------------------- the inputs
HOSTILE = [
    "", " ", "  ", "\u3000", "\u00a0", "\n", "\t",
    # ToC headings: ASCII spaces and U+3000 are dropped, NBSP is not
    "contents", "Contents", "CONTENTS", "con tents", "con\u3000tents",
    "con\u00a0tents", "Table of Contents", "TABLE\u3000OF\u3000CONTENTS", "目录",
    "目 录", "目\u3000录", "目\u00a0录", "目次", "致谢", "acknowledge",
    "Acknowledge ", "contents\n", "contents \n", "contents\n\n", "  contents  ",
    "contents.", "the contents", "contentſ", "İcontents", "\u00a0contents",
    # junk
    "(cid : 12)", "(cid:12)", "x (cid  :  7 ) y", "(cid:)", "(cid", "(CID:3)",
    "•", "•••", "•• •", "•\n", "••x", "12 / 3", "12 /3", "1 / 2", "123 / 4",
    "1/2", "12 of 3", "1 of 22", "1 of 222", "１２ / ３", "٣ / ٤",
    "http://", "http://example", "http://abcdefghijk", "http://abcdefghijkl",
    "http://abc defghijklmnop", "https://abcdefghijklmnop", "hello",
    # dot leaders
    "...", "....", ".....", "a....b", "a...b", ". . . .", "·", "··", "· ·",
    "x··", "…", "……", "… …", "x……y", "Chapter 1 ......... 3",
    # projection numbering
    "ab", "abc", "12 345.6%", "(1)", "（1）", "3）", "12）x", "1.", "1. x",
    "1、x", "1.a", "1.2", "1.2 x", "1.2.", "1.2、", "1.2.3 x", "1.2.3.4 x",
    "1.2.3.4", "1.2.3.4.5 x", "第三章 总则", "第一条", "第二节 x", "一、x",
    "十 x", "（一）", "(二)", "一是", "a:", "Short heading:", "问题？",
    "x" * 48 + ":", "x" * 49 + ":", "x" * 47 + "?\n", "a\n:", "• bullet",
    "⚫ x", "➢x", "✓ done", "plain body text here", "第 三章",
]


@pytest.fixture(scope="module")
def corpus():
    """Per doc: its stripped rows (box and plain texts) and the span texts
    it extracts to."""
    docs = []
    for d in gen_docs(1, 0, 3000):
        rows = strip_rows(d["spans"])
        docs.append((rows, [o["text"] for o in finalize_doc(rows)]))
    return docs


@pytest.fixture(scope="module")
def texts(corpus):
    """Every distinct box, plain and extracted text, raw and stripped, plus
    the hostile set."""
    seen = set(HOSTILE)
    for rows, out in corpus:
        seen.update(r["text"] for r in rows)
        seen.update(out)
    seen.update([t.strip() for t in seen])
    return sorted(seen)


def test_hostile_set_reaches_every_branch():
    assert any(toc_head_ref(t) for t in HOSTILE)
    assert toc_head_ref("con\u3000tents")
    assert not toc_head_ref("con\u00a0tents")
    assert any(dot_leader_ref(t) for t in HOSTILE)
    assert any(is_junk_ref(t) for t in HOSTILE)
    # ranks 7 and 8 are unreachable: rank 6 matches every line they match
    ranks = {proj_match_ref(t) for t in HOSTILE}
    assert ranks == {None, False, *range(1, 7), *range(9, 13)}


def test_toc_predicates_equal_the_regex_forms(texts):
    assert len(texts) > 1000
    for t in texts:
        assert L._is_toc_head(t) == toc_head_ref(t), t
        assert L._has_dot_leader(t) == dot_leader_ref(t), t


def test_is_junk_equals_the_regex_search(texts):
    for t in texts:
        assert L.is_junk(t) == is_junk_ref(t), t


def test_proj_match_equals_the_pattern_loop(texts):
    for t in texts:
        got, want = L.proj_match(t), proj_match_ref(t)
        # compare types too: the pure-numeric rank is False, not 0 or None
        assert (got, type(got)) == (want, type(want)), t


def test_startswith_equals_the_escaped_prefix_match(corpus):
    # filter_toc's use: a box's prefix against the boxes that follow it
    follow: dict[str, set] = {p: set(HOSTILE) for p in HOSTILE}
    for rows, _ in corpus:
        doc_texts = [r["text"] or "" for r in rows]
        for i, t in enumerate(doc_texts):
            s = t.strip()
            for p in {s[:3], " ".join(s.split()[:2])} - {""}:
                follow.setdefault(p, set()).update(doc_texts[i:i + 3])
    assert len(follow) > 1000
    for p, following in follow.items():
        ref = re.compile(re.escape(p))  # the replaced form, compiled once
        for t in following:
            assert t.startswith(p) == bool(ref.match(t)), (p, t)


def _lists(corpus):
    """Per doc, the heights and the widths of its geometry boxes."""
    for rows, _ in corpus:
        geoms = [g for g in map(unpack_geom, (r["media_ref"] for r in rows)) if g]
        if geoms:
            yield [g.bottom - g.top for g in geoms]
            yield [g.x1 - g.x0 for g in geoms]


HOSTILE_LISTS = [
    [1.0], [2.0, 1.0], [3.0, 1.0, 2.0], [1.0, 2.0, 3.0, 4.0], [-0.0], [0.0, -0.0],
    [-0.0, -0.0, 1.0], [-1.0, -0.0, 0.0, 1.0], [math.nan], [1.0, math.nan, 2.0],
    [math.inf, 1.0], [-math.inf, math.inf], [-math.inf, 0.0, math.inf],
    [1e308, 1e308], [5e-324, 5e-324, -5e-324], [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7],
    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8], [float(i) / 7 for i in range(9)],
    [float(i) / 3 for i in range(20, 0, -1)], [10.0] * 6, [3, 1, 2], [4, 1, 2, 3],
]


def _same(a: float, b: float) -> bool:
    return repr(float(a)) == repr(float(b))


def test_median_equals_numpy(corpus):
    lists = HOSTILE_LISTS + list(_lists(corpus))
    assert {len(xs) % 2 for xs in lists} == {0, 1}
    with np.errstate(invalid="ignore", over="ignore"):
        for xs in lists:
            assert _same(L._median(xs), median_ref(xs)), xs


def test_median_passes_equal_their_numpy_forms(corpus):
    def boxes(hs):
        return [{"top": 0.0, "bottom": h, "x0": 0.0, "x1": h} for h in hs]

    with np.errstate(invalid="ignore", over="ignore"):
        for xs in HOSTILE_LISTS + list(_lists(corpus))[:2000] + [[0.0], []]:
            bxs = boxes(xs)
            want_h = (median_ref([b["bottom"] - b["top"] for b in bxs]) or 10.0) if bxs else 10.0
            want_w = median_ref([b["x1"] - b["x0"] for b in bxs]) if bxs else L.PAGE_W
            assert _same(L.median_height(bxs), want_h), xs
            assert _same(L.detect_column_width(bxs), want_w), xs


def test_mean_equals_numpy(corpus):
    lists = HOSTILE_LISTS + [xs[:k] for xs in list(_lists(corpus))[:3000]
                             for k in (1, 2, 3, 5, 7, 8, 9, 17)]
    with np.errstate(invalid="ignore", over="ignore"):
        for xs in lists:
            if xs:
                assert _same(_mean(xs), np.mean(xs)), xs


# ------------------------------------------------------------ the passes
PASSES = {
    "horizontal_merge": (L.horizontal_merge, horizontal_merge_ref),
    "vertical_merge": (L.vertical_merge, vertical_merge_ref),
    "filter_scraps": (L.filter_scraps, filter_scraps_ref),
}


def _check_pass(name: str, boxes: list, *args) -> None:
    """The pass equals its reference, and leaves its input as it was."""
    new, ref = PASSES[name]
    before = [dict(b) for b in boxes]
    got = new(boxes, *args)
    assert boxes == before, name
    assert got == ref([dict(b) for b in boxes], *args), (name, boxes)


def _random_boxes(r, n: int, pages: int = 4, narrow: float = 0.0) -> list:
    """``n`` boxes over ``pages`` pages; a ``narrow`` share are short, narrow,
    untagged text boxes (scraps), so filter_scraps' lookahead runs long."""
    texts = HOSTILE + [None, "hello,", "结束。", "继续，", "。接着", "，然后", ")x",
                       "：y", "?q", "- 5 -", "Chapter 1 Intro", "◆ item", "◆ item two"]
    kinds = ["text", "text", "text", "title", "table", "table header", "figure",
             "table caption", "figure caption"]
    boxes = []
    for _ in range(n):
        x0 = r.choice([r.uniform(0, 500), 72.0, 300.0])
        top = r.choice([r.uniform(0, 780), 100.0, 114.0, 128.0])
        t = r.choice(texts)
        if r.random() < 0.2:
            t = " ".join(r.choice(HOSTILE) for _ in range(r.randint(1, 3)))
        boxes.append({
            "kind": r.choice(kinds), "text": t, "media_ref": "",
            "pn": r.randrange(pages), "x0": x0,
            "x1": x0 + r.choice([r.uniform(0, 400), 50.0, 450.0, 0.0]),
            "top": top, "bottom": top + r.choice([10.0, 12.0, r.uniform(0, 40), 0.0]),
            "lo": r.choice([-1, -1, -1, 0, 1, 2]),
        })
        if r.random() < narrow:
            boxes[-1].update(kind="text", lo=-1, x1=x0 + 20.0, bottom=top + 5.0)
    if r.random() < 0.5:
        boxes.sort(key=lambda b: (b["pn"], b["top"], b["x0"]))
    return boxes


def test_passes_equal_their_reference_loops_on_random_boxes():
    r = random.Random(11)
    for i in range(1500):
        if i % 3:
            boxes = _random_boxes(r, r.choice([0, 1, 2, 3, 5, 8, 20, 60]))
        else:
            boxes = _random_boxes(r, 40, pages=1, narrow=0.9)
        _check_pass("horizontal_merge", boxes)
        _check_pass("vertical_merge", boxes, True)
        _check_pass("vertical_merge", boxes, False)
        _check_pass("filter_scraps", boxes)


def test_passes_equal_their_reference_loops_on_the_corpus(corpus, monkeypatch):
    """Each pass on the boxes ``layout_doc`` hands it, for every doc."""
    from ragflow_spark.kernels import extract as kx

    calls = {name: 0 for name in PASSES}

    def checked(name):
        def run(boxes, *args):
            calls[name] += 1
            _check_pass(name, boxes, *args)
            return PASSES[name][0](boxes, *args)
        return run

    for name in PASSES:
        monkeypatch.setattr(kx, name, checked(name))
    for rows, _ in corpus:
        finalize_doc(rows)
    assert min(calls.values()) > 1000
