"""The layout and outline kernels' rewritten predicates and pass loops
equal the forms they replaced. The replaced forms are kept here as the
reference: the ``_SPACES.sub`` ToC-heading key, ``_DOT_LEADER.search``,
``_JUNK_RE.search``, the sequential ``_PROJ_PATTERNS`` loop,
``re.match(re.escape(prefix), t)``, ``np.median``, ``np.mean``, the
``horizontal_merge``, ``vertical_merge`` and ``filter_scraps`` loops, the
two per-page means, the four banded sorts and ``reading_order``, and the
table grid's mirrored pairs (``assign_columns`` and ``_cluster_1d``, the
singleton column and row relocations); for the chunkers, the ``re.match``-per-bullet-pattern loops with and without
``not_bullet``, ``remove_contents_table``'s ``re.sub``/``re.escape`` form,
``filter_toc``'s pop loop and ``doc_is_english``'s three strips. Each
predicate is compared on every box text of the seed-1 mixed corpus
(perfbench's 3,000 docs, raw and stripped, plus the texts they extract to)
and on a hostile set; each pass on the boxes it gets for every corpus doc
and on seeded random boxes; the outline forms on every corpus doc's
sections and on hostile and seeded random section lists."""

import math
import random
import re

import numpy as np
import pytest

from ragflow_spark.datagen import gen_docs
from ragflow_spark.functions.textstats import doc_is_english
from ragflow_spark.kernels import chunkers as C
from ragflow_spark.kernels import assemble as A
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


def page_mean_height_ref(boxes):
    acc = {}
    for b in boxes:
        acc.setdefault(b["pn"], []).append(b["bottom"] - b["top"])
    return {pn: ((sum(v) / len(v)) or 10.0) for pn, v in acc.items()}


def page_mean_width_ref(boxes):
    acc = {}
    for b in boxes:
        acc.setdefault(b["pn"], []).append(b["x1"] - b["x0"])
    return {pn: ((sum(v) / len(v)) or 100.0) for pn, v in acc.items()}


# ------------------------------------------------ the replaced pass loops
# verbatim from the previous kernels, with the unchanged helpers taken from
# the module


def horizontal_merge_ref(boxes):
    if not boxes:
        return boxes
    mh = page_mean_height_ref(boxes)
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
    mh = page_mean_height_ref(boxes)
    mw = page_mean_width_ref(boxes)
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
    mh = page_mean_height_ref(boxes)
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


# ------------------------------------------- the replaced outline forms
# the chunkers' bullet dialects as they were matched, one re.match per
# pattern string (the inner groups still capturing)
_BULLET_DIALECTS_REF = [
    [r"第[零一二三四五六七八九十百0-9]+(分?编|部分)", r"第[零一二三四五六七八九十百0-9]+章",
     r"第[零一二三四五六七八九十百0-9]+节", r"第[零一二三四五六七八九十百0-9]+条",
     r"[\(（][零一二三四五六七八九十百]+[\)）]"],
    [r"第[0-9]+章", r"第[0-9]+节", r"[0-9]{,2}[\. 、]", r"[0-9]{,2}\.[0-9]{,2}[^a-zA-Z/%~-]",
     r"[0-9]{,2}\.[0-9]{,2}\.[0-9]{,2}", r"[0-9]{,2}\.[0-9]{,2}\.[0-9]{,2}\.[0-9]{,2}"],
    [r"第[零一二三四五六七八九十百0-9]+章", r"第[零一二三四五六七八九十百0-9]+节",
     r"[零一二三四五六七八九十百]+[ 、]", r"[\(（][零一二三四五六七八九十百]+[\)）]",
     r"[\(（][0-9]{,2}[\)）]"],
    [r"PART (ONE|TWO|THREE|FOUR|FIVE|SIX|SEVEN|EIGHT|NINE|TEN)", r"Chapter (I+V?|VI*|XI|IX|X)",
     r"Section [0-9]+", r"Article [0-9]+", r"Chapter [0-9]+"],
]


def bullet_hit_ref(bull: int, s: str) -> bool:
    """bullets_category's per-section test (``s`` already stripped)."""
    return any(re.match(p, s) and not C.not_bullet(s) for p in _BULLET_DIALECTS_REF[bull])


def bullets_category_ref(sections):
    best, best_hits = -1, 0
    for i in range(len(_BULLET_DIALECTS_REF)):
        hits = sum(1 for sec in sections if bullet_hit_ref(i, sec.strip()))
        if hits > best_hits:
            best, best_hits = i, hits
    return best


def title_level_ref(bull: int, txt: str, layout) -> int:
    """title_frequency's loop: with not_bullet (on the unstripped text)."""
    size = len(_BULLET_DIALECTS_REF[bull])
    lvl = size + 1
    for j, p in enumerate(_BULLET_DIALECTS_REF[bull]):
        if re.match(p, txt.strip()) and not C.not_bullet(txt):
            lvl = j
            break
    else:
        if re.search(r"(title|head)", layout or "") and not C.not_title(txt):
            lvl = size
    return lvl


def merge_level_ref(bull: int, txt: str, layout) -> int:
    """hierarchical_merge's level_of: without not_bullet."""
    size = len(_BULLET_DIALECTS_REF[bull])
    for rank, pat in enumerate(_BULLET_DIALECTS_REF[bull]):
        if re.match(pat, txt.strip()):
            return rank
    if re.search(r"(title|head)", layout or "") and not C.not_title(txt):
        return size
    return size + 1


def remove_contents_table_ref(sections, eng):
    secs = list(sections)
    i = 0
    while i < len(secs):
        head = re.sub(r"( | |　)+", "", secs[i][0].strip(), flags=re.IGNORECASE)
        if not re.match(
            r"(contents|目录|目次|tableofcontents|致谢|acknowledge)$", head, re.IGNORECASE
        ):
            i += 1
            continue
        secs.pop(i)
        if i >= len(secs):
            break

        def prefix_of(j: int) -> str:
            t = secs[j][0].strip()
            return " ".join(t.split()[:2]) if eng else t[:3]

        prefix = prefix_of(i)
        while not prefix:
            secs.pop(i)
            if i >= len(secs):
                return secs
            prefix = prefix_of(i)
        secs.pop(i)
        if i >= len(secs) or not prefix:
            break
        for j in range(i, min(i + 128, len(secs))):
            if not re.match(re.escape(prefix), secs[j][0]):
                continue
            del secs[i:j]
            break
    return secs


def filter_toc_ref(boxes):
    """filter_toc's pop loop, as it was before it ran ``toc_kept``."""
    bxs = list(boxes)
    findit = False
    i = 0
    while i < len(bxs):
        if not L._is_toc_head(bxs[i]["text"] or ""):
            i += 1
            continue
        findit = True
        eng = bool(L._ENG_PREFIX.match((bxs[i]["text"] or "").strip()))
        bxs.pop(i)
        if i >= len(bxs):
            break

        def get_prefix(j: int) -> str:
            t = (bxs[j]["text"] or "").strip()
            return " ".join(t.split()[:2]) if eng else t[:3]

        prefix = get_prefix(i)
        while not prefix:
            bxs.pop(i)
            if i >= len(bxs):
                return bxs
            prefix = get_prefix(i)
        bxs.pop(i)
        if i >= len(bxs) or not prefix:
            break
        for j in range(i, min(i + 128, len(bxs))):
            if not (bxs[j]["text"] or "").startswith(prefix):
                continue
            del bxs[i:j]
            break
    if findit:
        return bxs
    dirty = {}
    for b in bxs:
        if L._has_dot_leader(b["text"] or ""):
            dirty[b["pn"]] = dirty.get(b["pn"], 0) + 1
    dirty_pages = {pn for pn, c in dirty.items() if c > 3}
    if not dirty_pages:
        return bxs
    return [b for b in bxs if b["pn"] not in dirty_pages]


def doc_is_english_ref(texts, sample=200):
    """The three-strip form: the sample, then is_english, then _full_eng."""
    texts = [t for t in texts if t and t.strip()][:sample]
    texts = [t for t in texts if isinstance(t, str) and t.strip()]
    if not texts:
        return False
    eng = sum(1 for t in texts if t.strip() and re.fullmatch(
        r"[`a-zA-Z0-9\s.,':;/\"?<>!\(\)\-]*", t.strip()))
    return (eng / len(texts)) > 0.8


OUTLINE_HOSTILE = [
    "", " ", "\t", "　", " ", "\t　 ",
    # EN dialect
    "PART ONE", "PART ONE: Beginnings", "PART ELEVEN", "PART TEN", "part one", "PART  ONE",
    "PART ONE", " PART ONE", "Chapter IV", "Chapter IV The Storm", "Chapter VIII",
    "Chapter XI", "Chapter IX", "Chapter X", "Chapter 3", "Chapter 3 Intro", "Chapter",
    "Section 2", "Section 2.1 Scope", "Section", "Article 7", "Article",
    "\tChapter IV", "Chapter IV\t", "　Chapter IV　",
    # CN legal and enumerations
    "第三编", "第三分编 总则", "第二部分", "第二部 分", "第一章 总则", "第1章", "第12节", "第一节",
    "第十条", "第100条 附则", "第 三章", "　第三章", "第三章　", "\t第二部分\t",
    "（三）", "(三)", "（三", "(12)", "（1）", "()", "（）", "三、", "三 x", "十二、内容", "一是",
    # numeric dotted
    "1.2.3", "1.2.3 x", "1.2.3.4", "1.2.3.4 x", "123.4", "12.34", "1.2", "1.2a", "1.2/",
    "1.2%", "1.2-", "1.2 x", " 1.2 x", "1.", "1、", "1 ", "12 items", "123 x", ".5", ". x",
    "、", "100.", "1.2.", "12.3.45.6",
    # not_bullet rejects these once stripped
    "0", "0. intro", "01. x", " 12 个", "12 个", "12 3", "12~5", "3-4", "12..", "1...... 5",
    " 0", "\t0", "0\t", "　0.1", "\t 12 个", "12  只",
    # title and body fallbacks (not_title)
    "Short title", "A title, with comma", "x" * 40, " ".join(["w"] * 13), "第三条 a, b",
    "Heading。", "Heading!",
]

# the layouts chunk_doc hands the chunkers, and the fallback's other cases
OUTLINE_LAYOUTS = (None, "", "text", "title", "head", "section header", "table")


@pytest.fixture(scope="module")
def doc_sections(corpus):
    """Per doc, the (text, kind) sections chunk_doc hands its chunkers."""
    return [
        [(o["text"], o["kind"]) for o in finalize_doc(rows)
         if o["kind"] in ("text", "title") and (o["text"] or "").strip()]
        for rows, _ in corpus
    ]


def test_outline_hostile_set_reaches_every_rank():
    for bull, dialect in enumerate(_BULLET_DIALECTS_REF):
        size = len(dialect)
        ranks = {merge_level_ref(bull, t, o) for t in OUTLINE_HOSTILE for o in OUTLINE_LAYOUTS}
        # the numeric dialect's ranks 3-5 are unreachable: rank 2,
        # [0-9]{,2}[. 、], matches every text they match
        assert ranks == set(range(size + 2)) - ({3, 4, 5} if bull == 1 else set()), bull
    # not_bullet only rejects texts that start with a digit, so only the
    # numeric dialect has texts that take a pattern rank without its test
    assert any(merge_level_ref(1, t, "text") < 6 <= title_level_ref(1, t, "text")
               for t in OUTLINE_HOSTILE)
    # leading whitespace hides a not_bullet text from title_frequency's test
    assert title_level_ref(1, " 12 个", "text") == 2
    assert not bullet_hit_ref(1, " 12 个".strip())


def test_outline_rank_equals_the_pattern_loops(texts, doc_sections):
    section_texts = {t for secs in doc_sections for t, _ in secs}
    assert len(section_texts) > 10000
    hostile = set(OUTLINE_HOSTILE) | set(HOSTILE)
    for t in sorted(section_texts | hostile | {t.strip() for t in hostile}):
        layouts = OUTLINE_LAYOUTS if t in hostile else ("text", "title")
        for bull in range(len(_BULLET_DIALECTS_REF)):
            size = len(_BULLET_DIALECTS_REF[bull])
            s = t.strip()
            assert (C.outline_rank(bull, s, strict=True) < size) == bullet_hit_ref(bull, s), t
            for o in layouts:
                assert C.outline_rank(bull, t, o) == merge_level_ref(bull, t, o), (bull, t, o)
                assert C.outline_rank(bull, t, o, strict=True) == title_level_ref(bull, t, o), (
                    bull, t, o)


def test_bullets_category_equals_the_pattern_loop(doc_sections):
    r = random.Random(13)
    lists = [[t for t, _ in secs] for secs in doc_sections]
    lists += [r.choices(OUTLINE_HOSTILE, k=r.choice([0, 1, 3, 10, 40])) for _ in range(3000)]
    assert {bullets_category_ref(x) for x in lists} == {-1, 0, 1, 2, 3}
    for x in lists:
        assert C.bullets_category(x) == bullets_category_ref(x), x


TOC_VOCAB = [
    "Contents", "contents", "CONTENTS ", "目录", "目 录", " contents", "con tents",
    "con　tents", "Table of Contents", "致谢", "Acknowledge", "", " ", "\t", "　",
    "Chapter 1 Alpha ..... 2", "Chapter 1 Alpha", "Chapter 2 Beta", "Chapter 2 Beta ..... 5",
    " Chapter 1 Alpha", "Chapter  1 Alpha", "Chapter", "第一章 总则", "第一章", "第一", "1.2 Scope",
    "1.2", "Intro", "In", "x", "body text here", "结束。", "Chapter 1 Alpha.", "Ch",
]


def _toc_lists(r):
    """Seeded random text lists over TOC_VOCAB, and lists whose prefix
    reappears on either side of the 128-text lookahead's edge."""
    for _ in range(4000):
        yield r.choices(TOC_VOCAB, k=r.choice([0, 1, 2, 3, 5, 10, 40, 150, 300]))
    for gap in range(125, 132):
        for head in ("Contents", "目录"):
            yield [head, "", "Chapter 9 Zeta", *["body"] * gap, "Chapter 9 Zeta", "tail"]


def test_remove_contents_table_equals_the_regex_form(doc_sections):
    r = random.Random(17)
    lists = [secs for secs in doc_sections]
    lists += [[(t, "text") for t in texts] for texts in _toc_lists(r)]
    changed = 0
    for secs in lists:
        for eng in (True, False):
            got = C.remove_contents_table(secs, eng)
            assert got == remove_contents_table_ref(secs, eng), (eng, secs)
            changed += got != secs
    assert changed > 1000


def test_filter_toc_equals_the_pop_loop():
    r = random.Random(19)
    changed = 0
    for texts in _toc_lists(r):
        boxes = [{"text": t if r.random() > 0.05 else None, "pn": r.randrange(3)}
                 for t in texts]
        before = [dict(b) for b in boxes]
        got = L.filter_toc(boxes)
        assert boxes == before
        assert got == filter_toc_ref(boxes), texts
        changed += got != boxes
    assert changed > 1000


def test_filter_toc_equals_the_pop_loop_on_the_corpus(corpus, monkeypatch):
    from ragflow_spark.kernels import extract as kx

    calls = []

    def checked(boxes):
        got = L.filter_toc(boxes)
        assert got == filter_toc_ref(boxes), boxes
        calls.append(1)
        return got

    monkeypatch.setattr(kx, "filter_toc", checked)
    for rows, _ in corpus:
        finalize_doc(rows)
    assert len(calls) > 1000


def test_doc_is_english_equals_the_three_strip_form(texts, doc_sections):
    r = random.Random(23)
    pool = texts + [None, "", " ", "　", " ", "abc", "中文", " abc\t"]
    lists = [[t for t, _ in secs] for secs in doc_sections]
    lists += [r.choices(pool, k=r.choice([0, 1, 2, 5, 199, 200, 201, 400])) for _ in range(2000)]
    lists += [["abc"] * 160 + ["中文"] * 40, ["abc"] * 161 + ["中文"] * 39 + ["中文"] * 50]
    assert {doc_is_english_ref(x) for x in lists} == {True, False}
    for x in lists:
        assert doc_is_english(x) == doc_is_english_ref(x), x


# --------------------------------------- the replaced row/column mirrors
# verbatim from the previous kernels: each axis of a mirrored pair had its
# own copy, and each sort its own lexsort tail
def sort_y_ref(boxes, threshold):
    if not boxes:
        return boxes
    top = np.array([b["pn"] * L.PAGE_H + b["top"] for b in boxes])
    x0 = np.array([b["x0"] for b in boxes])
    band = np.rint(top / threshold).astype(np.int64) if threshold > 0 else top
    order = np.lexsort((np.arange(len(boxes)), x0, band))
    return [boxes[i] for i in order]


def sort_x_ref(boxes, threshold):
    if not boxes:
        return boxes
    x0 = np.array([b["x0"] for b in boxes])
    top = np.array([b["pn"] * L.PAGE_H + b["top"] for b in boxes])
    band = np.rint(x0 / threshold).astype(np.int64) if threshold > 0 else x0
    order = np.lexsort((np.arange(len(boxes)), top, band))
    return [boxes[i] for i in order]


def sort_c_ref(boxes, threshold):
    if not boxes:
        return boxes
    col = np.array([
        b["cn"] if "cn" in b
        else (np.rint(b["x0"] / threshold) if threshold > 0 else b["x0"])
        for b in boxes
    ])
    top = np.array([b["pn"] * L.PAGE_H + b["top"] for b in boxes])
    order = np.lexsort((np.arange(len(boxes)), top, col))
    return [boxes[i] for i in order]


def sort_r_ref(boxes, threshold):
    if not boxes:
        return boxes
    row = np.array([
        b["rn"] if "rn" in b
        else (
            np.rint((b["pn"] * L.PAGE_H + b["top"]) / threshold)
            if threshold > 0 else b["pn"] * L.PAGE_H + b["top"]
        )
        for b in boxes
    ])
    x0 = np.array([b["x0"] for b in boxes])
    order = np.lexsort((np.arange(len(boxes)), x0, row))
    return [boxes[i] for i in order]


def assign_columns_ref(boxes, threshold):
    x0 = np.array([b["x0"] for b in boxes])
    if len(x0) == 0:
        return np.array([], dtype=np.int64)
    uniq = np.unique(x0)
    col_of = {}
    col = 0
    prev = None
    for v in uniq:
        if prev is not None and v - prev > threshold:
            col += 1
        col_of[v] = col
        prev = v
    return np.array([col_of[v] for v in x0], dtype=np.int64)


def reading_order_ref(boxes):
    if not boxes:
        return boxes
    col_w = L.detect_column_width(boxes)
    if col_w >= L.PAGE_W / 2:
        return boxes
    cols = assign_columns_ref(boxes, col_w / 2)
    pn = np.array([b["pn"] for b in boxes])
    top = np.array([b["top"] for b in boxes])
    x0 = np.array([b["x0"] for b in boxes])
    order = np.lexsort((np.arange(len(boxes)), x0, top, cols, pn))
    return [boxes[i] for i in order]


def cluster_1d_ref(vals, thr):
    order = np.argsort(vals, kind="stable").tolist()
    v_list = vals.tolist()
    ids = [0] * len(v_list)
    cur = 0
    prev = None
    for idx in order:
        v = v_list[idx]
        if prev is not None and v - prev > thr:
            cur += 1
        ids[idx] = cur
        prev = v
    return np.array(ids, dtype=np.int64)


def relocate_singleton_cols_ref(grid, cells):
    if len(grid) < 4:
        return
    j = 0
    while grid and j < len(grid[0]):
        occ = [i for i in range(len(grid)) if grid[i][j]]
        if len(occ) != 1:
            j += 1
            continue
        ii = occ[0]
        n_cols = len(grid[0])
        left_filled = j == 0 or bool(grid[ii][j - 1])
        right_filled = j + 1 >= n_cols or bool(grid[ii][j + 1])
        if left_filled and right_filled:
            j += 1
            continue
        bx = cells[grid[ii][j][0]]
        left_gap = right_gap = float("inf")
        if j > 0 and not left_filled:
            for i in range(len(grid)):
                for a in grid[i][j - 1]:
                    left_gap = min(left_gap, bx["x0"] - cells[a]["x1"])
        if j + 1 < n_cols and not right_filled:
            for i in range(len(grid)):
                for a in grid[i][j + 1]:
                    right_gap = min(right_gap, cells[a]["x0"] - bx["x1"])
        tgt = j - 1 if left_gap < right_gap else j + 1
        for a in grid[ii][j]:
            cells[a]["cn"] = tgt
        grid[ii][tgt].extend(grid[ii][j])
        for row in grid:
            row.pop(j)
        for row in grid:
            for col in row:
                for a in col:
                    if cells[a]["cn"] > j:
                        cells[a]["cn"] -= 1


def relocate_singleton_rows_ref(grid, cells):
    if not grid or len(grid[0]) < 4:
        return
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
                    up_gap = min(up_gap, bx["top"] - cells[a]["bottom"])
        if i + 1 < len(grid) and not down_filled:
            for j in range(len(grid[i + 1])):
                for a in grid[i + 1][j]:
                    down_gap = min(down_gap, cells[a]["top"] - bx["bottom"])
        tgt = i - 1 if up_gap < down_gap else i + 1
        for a in grid[i][jj]:
            cells[a]["rn"] = tgt
        grid[tgt][jj].extend(grid[i][jj])
        grid.pop(i)
        for row in grid:
            for col in row:
                for a in col:
                    if cells[a]["rn"] > i:
                        cells[a]["rn"] -= 1


def relocate_ref(grid, cells):
    relocate_singleton_cols_ref(grid, cells)
    relocate_singleton_rows_ref(grid, cells)
    return grid


def _outcome(f, *args):
    """``f(*args)``, or the type of the exception it raises."""
    try:
        return f(*args)
    except Exception as e:  # noqa: BLE001 — compared by type
        return type(e)


# coordinates that stress the arithmetic: duplicates, signed zeros,
# infinities and values whose differences overflow
GEOM_VALUES = [0.0, -0.0, 1.0, 72.0, 100.0, 100.5, 300.0, 1e308, -1e308,
               math.inf, -math.inf, 5e-324]


def _value(r):
    return r.choice(GEOM_VALUES) if r.random() < 0.3 else float(r.choice(
        [r.uniform(-50, 700), r.randrange(0, 700, 7)]))


def _geom_boxes(r, n):
    boxes = []
    for _ in range(n):
        b = {"kind": "text", "text": "t", "media_ref": "", "pn": r.randrange(3),
             "x0": _value(r), "x1": _value(r), "top": _value(r), "bottom": _value(r),
             "lo": -1}
        if r.random() < 0.5:
            b["x1"] = b["x0"] + r.choice([-20.0, 0.0, 50.0, 200.0, 450.0])
            b["bottom"] = b["top"] + r.choice([-5.0, 0.0, 10.0, 12.0])
        if r.random() < 0.2:
            b["cn"] = r.randrange(4)
        if r.random() < 0.2:
            b["rn"] = r.randrange(4)
        boxes.append(b)
    return boxes


SORTS = {
    "sort_y": (L.sort_y, sort_y_ref),
    "sort_x": (L.sort_x, sort_x_ref),
    "sort_c": (L.sort_c, sort_c_ref),
    "sort_r": (L.sort_r, sort_r_ref),
}


def _same_order(got, want):
    """The same boxes (by identity) in the same order, or the same
    exception type."""
    if isinstance(want, type) or isinstance(got, type):
        return got == want
    return [id(b) for b in got] == [id(b) for b in want]


def test_page_mean_equals_the_two_page_means():
    r = random.Random(31)
    for _ in range(3000):
        boxes = _geom_boxes(r, r.choice([0, 1, 2, 5, 9, 30]))
        assert repr(L.page_mean(boxes, "top", "bottom", 10.0)) == repr(
            page_mean_height_ref(boxes))
        assert repr(L.page_mean(boxes, "x0", "x1", 100.0)) == repr(
            page_mean_width_ref(boxes))


def test_sorts_equal_their_lexsort_bodies():
    r = random.Random(37)
    thresholds = [0.0, -1.0, 0.5, 3.3, 10.0, 1e-300, math.inf, -math.inf, math.nan]
    with np.errstate(all="ignore"):
        for _ in range(4000):
            boxes = _geom_boxes(r, r.choice([0, 1, 2, 3, 6, 20]))
            before = [dict(b) for b in boxes]
            thr = r.choice(thresholds)
            for new, ref in SORTS.values():
                assert _same_order(_outcome(new, boxes, thr), _outcome(ref, boxes, thr))
            assert _same_order(_outcome(L.reading_order, boxes),
                               _outcome(reading_order_ref, boxes))
            assert boxes == before


def test_gap_clusters_equal_assign_columns_and_cluster_1d():
    """Over distinct values, so a negative threshold (assign_columns gets
    one whenever the median box width is negative) keeps equal values
    together as assign_columns did; _cluster_1d's thresholds are never
    below 1 (or NaN), where a scan over the sequence agrees."""
    # a sequence scan splits equal values under a negative threshold
    assert cluster_1d_ref(np.array([1.0, 1.0]), -1.0).tolist() == [0, 1]
    assert L.gap_clusters([1.0, 1.0], -1.0) == [0, 0]
    r = random.Random(41)
    col_thr = [-300.0, -1.0, -0.0, 0.0, 0.5, 10.0, 1e308, math.inf, -math.inf, math.nan]
    grid_thr = [1.0, 1.5, 7.0, 60.0, 1e308, math.inf, math.nan]
    with np.errstate(all="ignore"):
        for _ in range(50000):
            vals = [_value(r) for _ in range(r.choice([0, 1, 2, 3, 5, 9, 25]))]
            if r.random() < 0.3 and vals:
                vals += r.sample(vals, r.randrange(len(vals)) + 1)
            thr = r.choice(col_thr)
            want = assign_columns_ref([{"x0": v} for v in vals], thr)
            assert L.gap_clusters(vals, thr) == want.tolist(), (vals, thr)
            if vals:
                thr = r.choice(grid_thr)
                want = cluster_1d_ref(np.array(vals), thr)
                assert L.gap_clusters(vals, thr) == want.tolist(), (vals, thr)


def _random_grid(r):
    """A rectangular grid of cell-index lists and its cells (rn/cn set to
    their position): holes, stacked cells and hostile coordinates."""
    n_rows, n_cols = r.randint(1, 7), r.randint(1, 7)
    fill = r.choice([0.3, 0.6, 0.9])
    grid = [[[] for _ in range(n_cols)] for _ in range(n_rows)]
    cells = []
    for i in range(n_rows):
        for j in range(n_cols):
            for _ in range(r.choice([1, 1, 1, 2]) if r.random() < fill else 0):
                top = 100.0 + 14 * i + r.choice([0.0, r.uniform(-6, 6)])
                x0 = 90.0 + 100 * j + r.choice([0.0, r.uniform(-40, 40)])
                c = {"x0": x0, "x1": x0 + r.choice([90.0, r.uniform(5, 250)]),
                     "top": top, "bottom": top + r.choice([10.0, r.uniform(1, 30)]),
                     "pn": 0, "rn": i, "cn": j}
                if r.random() < 0.1:
                    c[r.choice(["x0", "x1", "top", "bottom"])] = _value(r)
                grid[i][j].append(len(cells))
                cells.append(c)
    return grid, cells


def _check_relocation(grid, cells):
    """Both forms on copies: the same grid and cells, or the same
    exception type. Returns whether a cell moved."""
    g1, c1 = [[list(x) for x in row] for row in grid], [dict(c) for c in cells]
    g2, c2 = [[list(x) for x in row] for row in grid], [dict(c) for c in cells]
    got, want = _outcome(A._relocate_singletons, g1, c1), _outcome(relocate_ref, g2, c2)
    if isinstance(want, type) or isinstance(got, type):
        assert got == want, (grid, cells)
        return False
    assert (got, c1) == (want, c2), (grid, cells)
    return got != grid


def test_relocation_equals_the_column_and_row_pair():
    r = random.Random(43)
    moved = 0
    for _ in range(60000):
        moved += _check_relocation(*_random_grid(r))
    assert moved > 5000


def test_mirrors_equal_their_pairs_on_the_corpus(corpus, monkeypatch):
    """Every sort_y, reading_order, column clustering, grid clustering and
    relocation call ``layout_doc`` makes for every corpus doc."""
    from ragflow_spark.kernels import extract as kx

    calls = {"sort_y": 0, "reading_order": 0, "columns": 0, "grid": 0, "relocate": 0}

    def sort_y(boxes, thr):
        calls["sort_y"] += 1
        got = L.sort_y(boxes, thr)
        assert _same_order(got, sort_y_ref(boxes, thr))
        return got

    def reading_order(boxes):
        calls["reading_order"] += 1
        got = L.reading_order(boxes)
        assert _same_order(got, reading_order_ref(boxes))
        return got

    def clusters(name, ref):
        def run(vals, thr):
            calls[name] += 1
            got = gap_clusters(vals, thr)
            assert got == ref(vals, thr).tolist()
            return got
        return run

    def build_grid(cells):
        calls["relocate"] += 1
        grid = build(cells)
        _check_relocation(grid, cells)
        return grid

    gap_clusters, build = L.gap_clusters, A._build_grid
    monkeypatch.setattr(kx, "sort_y", sort_y)
    monkeypatch.setattr(kx, "reading_order", reading_order)
    monkeypatch.setattr(L, "gap_clusters", clusters(
        "columns", lambda v, t: assign_columns_ref([{"x0": x} for x in v], t)))
    monkeypatch.setattr(A, "gap_clusters", clusters(
        "grid", lambda v, t: cluster_1d_ref(np.array(v), t)))
    monkeypatch.setattr(A, "_build_grid", build_grid)
    for rows, _ in corpus:
        finalize_doc(rows)
    assert calls["sort_y"] > 1000 and calls["reading_order"] > 1000
    assert min(calls["columns"], calls["grid"], calls["relocate"]) > 500, calls
