"""Golden micro-tests for the layout kernels (hand-computed expectations)."""

from ragflow_spark.kernels import layout as L
from ragflow_spark.kernels.assemble import assemble, construct_table
from ragflow_spark.schemas import PAGE_H


def box(text, pn=0, x0=72, x1=500, top=100, bottom=110, kind="text", lo=-1, media_ref=""):
    return {
        "kind": kind, "text": text, "media_ref": media_ref,
        "pn": pn, "x0": float(x0), "x1": float(x1),
        "top": float(top), "bottom": float(bottom), "lo": lo,
    }


def test_junk_drop():
    boxes = [box("1 / 12"), box("real text"), box("•••"), box("3 of 9"),
             box("http://example.com/long/url"), box("(cid:123)")]
    out = L.drop_junk(boxes)
    assert [b["text"] for b in out] == ["real text"]


def test_garbage_drop_with_keepfeats():
    boxes = [
        box("Running header", kind="header", top=20, bottom=32),
        box("body", kind="text"),
        # a "header" detected mid-page (top > 10% of page) is kept as text
        box("mid header", kind="header", top=PAGE_H * 0.5, bottom=PAGE_H * 0.5 + 10),
        box("Footer", kind="footer", top=760, bottom=772),
    ]
    out = L.drop_garbage(boxes)
    assert [(b["text"], b["kind"]) for b in out] == [("body", "text"), ("mid header", "text")]


def test_repeated_garbage_text_dropped_everywhere():
    boxes = [
        box("Conf draft", kind="footer", pn=0, top=760, bottom=772),
        box("Conf draft", kind="footer", pn=1, top=760, bottom=772),
        box("Conf draft", kind="text", pn=2),  # same text leaked as body
        box("body", kind="text"),
    ]
    out = L.drop_garbage(boxes)
    assert [b["text"] for b in out] == ["body"]


def test_sort_y_banding():
    boxes = [box("b", x0=300, top=100), box("a", x0=72, top=102), box("c", x0=72, top=130)]
    out = L.sort_y(boxes, threshold=5.0)
    assert [b["text"] for b in out] == ["a", "b", "c"]


def test_reading_order_two_columns():
    # two columns x0=54 and x0=320, narrow boxes; interleaved input
    boxes = []
    for line in range(3):
        boxes.append(box(f"L{line}", x0=54, x1=280, top=100 + line * 14, bottom=110 + line * 14))
        boxes.append(box(f"R{line}", x0=320, x1=550, top=100 + line * 14, bottom=110 + line * 14))
    out = L.reading_order(boxes)
    assert [b["text"] for b in out] == ["L0", "L1", "L2", "R0", "R1", "R2"]


def test_single_column_untouched():
    boxes = [box("a", x1=500), box("b", x1=500, top=120, bottom=130)]
    assert [b["text"] for b in L.reading_order(boxes)] == ["a", "b"]


def test_horizontal_merge_same_line():
    boxes = [
        box("left part", x0=72, x1=280, top=100, bottom=110),
        box("right part", x0=285, x1=500, top=100, bottom=110),
        box("next line", x0=72, x1=500, top=130, bottom=140),
    ]
    out = L.horizontal_merge(boxes)
    assert [b["text"] for b in out] == ["left part right part", "next line"]
    assert out[0]["x1"] == 500


def test_vertical_merge_wrapped_paragraph():
    boxes = [
        box("first line of a wrapped", top=100, bottom=110),
        box("paragraph that ends here.", top=114, bottom=124),
        box("New paragraph.", top=128, bottom=138),
    ]
    out = L.vertical_merge(boxes, is_english=True)
    assert [b["text"] for b in out] == [
        "first line of a wrapped paragraph that ends here.",
        "New paragraph.",
    ]


def test_vertical_merge_respects_sentence_end():
    boxes = [
        box("Sentence ends.", top=100, bottom=110),
        box("next starts", top=114, bottom=124),
    ]
    out = L.vertical_merge(boxes, is_english=True)
    assert len(out) == 2


def test_vertical_merge_page_droppings():
    # a bare page-number box that is the last thing before a page break is
    # dropped (pdf_parser.py:438-440); the sentence above stays separate
    # because it ends with '.'
    boxes = [
        box("text one.", pn=0, top=700, bottom=710),
        box("42", pn=0, top=780, bottom=790),
        box("continues next page.", pn=1, top=72, bottom=82),
    ]
    out = L.vertical_merge(boxes, is_english=True)
    assert [b["text"] for b in out] == ["text one.", "continues next page."]


def test_toc_removal_by_prefix():
    boxes = [
        box("Contents", top=72),
        box("Chapter 1 Intro ..... 3", top=86),
        box("Chapter 2 More ..... 9", top=100),
        box("Chapter 1 Intro", top=114),
        box("body text here", top=128),
    ]
    out = L.filter_toc(boxes)
    assert [b["text"] for b in out] == ["Chapter 1 Intro", "body text here"]


def test_bullet_merge():
    boxes = [
        box("• item one", top=100, bottom=110),
        box("• item two", top=114, bottom=124),
        box("plain", top=128, bottom=138),
    ]
    out = L.bullet_merge(boxes)
    assert [b["text"] for b in out] == ["• item one\n• item two", "plain"]


def _table_fixture(header_kind="table header"):
    cells = []
    headers = ["name", "qty"]
    for ci, h in enumerate(headers):
        cells.append(box(h, kind=header_kind, x0=90 + ci * 100, x1=180 + ci * 100, top=100, bottom=110, lo=0))
    for ri, row in enumerate([["apple", "3"], ["pear", "7"]]):
        for ci, v in enumerate(row):
            cells.append(box(v, kind="table", x0=90 + ci * 100, x1=180 + ci * 100,
                             top=114 + ri * 14, bottom=124 + ri * 14, lo=0))
    return cells


def test_construct_table_desc():
    # header row carries the H tag (kind "table header"): "hdr：value; …"
    cells = _table_fixture()
    txt = construct_table(cells)
    assert txt == "name：apple; qty：3\nname：pear; qty：7"
    html = construct_table(cells, html=True)
    assert html.startswith("<table><tr><th>name</th><th>qty</th></tr>")


def test_construct_table_numeric_header_detection():
    # no H tags at all: the >50%-non-numeric rule (tsr.py:326-340) finds the
    # header row because the table majority type is Nu
    cells = _table_fixture(header_kind="table")
    # make the body numeric-majority: 4 Nu cells vs 2 En headers vs 2 En body
    for c in cells:
        if c["text"] in ("apple", "pear"):
            c["text"] = "12.5" if c["text"] == "apple" else "7,100"
    txt = construct_table(cells)
    assert txt == "name：12.5; qty：3\nname：7,100; qty：7"


def test_construct_table_spanning_group_header():
    # two-row header; the top row's single cell spans both columns
    # (geometric SP analog): hierarchical concat gives
    # "metrics group for name：…" (tsr.py:399-501 的/for concat)
    cells = [
        box("metrics group", kind="table header", x0=90, x1=280, top=86, bottom=96, lo=0)
    ] + _table_fixture()
    txt = construct_table(cells)
    assert txt == (
        "metrics group for name：apple; metrics group for qty：3\n"
        "metrics group for name：pear; metrics group for qty：7"
    )
    html = construct_table(cells, html=True)
    assert '<th colspan="2">metrics group</th>' in html
    assert "<th>name</th><th>qty</th>" in html


def test_construct_table_singleton_column_relocation():
    # 4 rows x 3 cols; middle column occupied only at row 1 whose left
    # neighbor is empty -> the singleton merges left and the column is
    # dropped (tsr.py:203-264)
    xs = [90, 190, 290]
    cells = []
    for ri in range(4):
        for ci in (0, 2):
            if ri == 1 and ci == 0:
                continue  # hole left of the singleton
            cells.append(box(f"r{ri}c{ci}", kind="table", x0=xs[ci], x1=xs[ci] + 90,
                             top=100 + ri * 14, bottom=110 + ri * 14, lo=0))
    cells.append(box("stray", kind="table", x0=xs[1], x1=xs[1] + 90,
                     top=114, bottom=124, lo=0))
    txt = construct_table(cells)
    # no headers (no H, majority not Nu): rows render without prefixes,
    # 2 columns after relocation; "stray" lands in column 0 of row 1
    assert "stray" in txt
    html = construct_table(cells, html=True)
    assert html.count("<tr>") == 4
    assert "<td>stray</td>" in html


def test_construct_table_singleton_row_relocation():
    # 5 rows x 4 cols; row 2 holds one cell ("3", under "qty") whose upper
    # neighbor (row 1, "qty") is empty -> the singleton merges up and the
    # row is dropped (tsr.py:266-324, applied when cols >= 4)
    xs = [90, 190, 290, 390]
    cells = [box(h, kind="table header", x0=xs[ci], x1=xs[ci] + 90, top=100, bottom=110, lo=0)
             for ci, h in enumerate(["item", "qty", "price", "note"])]
    rows = {1: ["apple", None, "1.5", "fresh"], 3: ["pear", "7", "2.0", "ripe"],
            4: ["plum", "9", "3.5", "dry"]}
    for ri, vals in rows.items():
        for ci, v in enumerate(vals):
            if v is not None:
                cells.append(box(v, kind="table", x0=xs[ci], x1=xs[ci] + 90,
                                 top=100 + ri * 14, bottom=110 + ri * 14, lo=0))
    cells.append(box("3", kind="table", x0=xs[1], x1=xs[1] + 90, top=128, bottom=138, lo=0))
    assert construct_table(cells) == (
        "item：apple; qty：3; price：1.5; note：fresh\n"
        "item：pear; qty：7; price：2.0; note：ripe\n"
        "item：plum; qty：9; price：3.5; note：dry"
    )
    assert construct_table(cells, html=True) == (
        "<table><tr><th>item</th><th>qty</th><th>price</th><th>note</th></tr>"
        "<tr><td>apple</td><td>3</td><td>1.5</td><td>fresh</td></tr>"
        "<tr><td>pear</td><td>7</td><td>2.0</td><td>ripe</td></tr>"
        "<tr><td>plum</td><td>9</td><td>3.5</td><td>dry</td></tr></table>"
    )


def test_assemble_caption_to_nearest():
    cells = [
        box("h", kind="table", x0=90, x1=180, top=100, bottom=110, lo=0),
        box("v", kind="table", x0=90, x1=180, top=114, bottom=124, lo=0),
    ]
    cap = box("Table 1: stuff", kind="table caption", x0=90, x1=300, top=86, bottom=96)
    fig = box("", kind="figure", x0=300, x1=400, top=400, bottom=480, lo=1,
              media_ref="blob://d/0#geom=0,300,400,400,480,1")
    figcap = box("Figure 1: pic", kind="figure caption", x0=300, x1=400, top=486, bottom=496)
    body = box("body", top=600, bottom=610)
    rest, media = assemble([cap, body, fig, figcap] + cells)
    kinds = sorted(m["kind"] for m in media)
    assert kinds == ["figure", "table"]
    tbl = next(m for m in media if m["kind"] == "table")
    # caption now renders reference-style as a per-row suffix
    assert "Table 1: stuff" in tbl["text"] and tbl["text"].startswith("h")
    figm = next(m for m in media if m["kind"] == "figure")
    assert figm["text"] == "Figure 1: pic"
    assert figm["media_ref"].startswith("blob://d/0")
    assert [b["text"] for b in rest] == ["body"]


def test_credit_line_dropped():
    boxes = [box("数据来源: internal", kind="table", lo=0), box("keep", kind="text")]
    assert [b["text"] for b in L.drop_credits(boxes)] == ["keep"]


def test_proj_match_ranks():
    assert L.proj_match("ab") is None
    assert L.proj_match("12 345.6%") is False
    assert L.proj_match("第三章 总则") == 1
    assert L.proj_match("1. Introduction") == 5
    assert L.proj_match("2.3 Methods") == 6
    assert L.proj_match("Short heading:") == 9
    assert L.proj_match("• bullet item") == 12
    assert L.proj_match("plain body text here") is None


def test_scrap_filter_drops_narrow_margin_runs():
    # wide body paragraphs survive; narrow untagged margin notes vanish
    body = [
        box("Wide body paragraph one.", x0=72, x1=532, top=100, bottom=110),
        box("Wide body paragraph two.", x0=72, x1=532, top=130, bottom=140),
    ]
    scraps = [
        box("rev 3", x0=545, x1=585, top=117, bottom=127),
        box("rev 4", x0=545, x1=585, top=145, bottom=155),
    ]
    out = L.filter_scraps(body + scraps)
    assert [b["text"] for b in out] == [
        "Wide body paragraph one.", "Wide body paragraph two."
    ]


def test_scrap_filter_keeps_narrow_projection_title():
    # a narrow box that is layout-tagged "title" with a numbering projection
    # is kept even though its mean width is far below 0.35*page
    t = box("1. Intro", kind="title", x0=72, x1=160, top=100, bottom=110)
    out = L.filter_scraps([t])
    assert [b["text"] for b in out] == ["1. Intro"]


def test_scrap_filter_keeps_tall_boxes():
    # a merged paragraph (height >> mean) is useful even when narrow
    tall = box("merged para", x0=72, x1=180, top=100, bottom=180)
    wide = box("wide", x0=72, x1=532, top=200, bottom=210)
    out = L.filter_scraps([tall, wide])
    assert [b["text"] for b in out] == ["merged para", "wide"]


def test_overlapped_area():
    a = box("a", x0=0, x1=100, top=0, bottom=100)
    b = box("b", x0=50, x1=150, top=0, bottom=100)
    assert L.overlapped_area(a, b) == 0.5
    assert L.overlapped_area(a, b, ratio=False) == 5000
    c = box("c", x0=200, x1=300, top=0, bottom=100)
    assert L.overlapped_area(a, c) == 0.0


def test_layouts_cleanup_dedups_double_detection():
    # the same 2-cell table detected twice: lo=0 (full) and lo=1 (jittered
    # copy of the header). NMS keeps lo=0 and drops the duplicate cells.
    real = [
        box("name", kind="table header", x0=90, x1=180, top=100, bottom=110, lo=0),
        box("qty", kind="table header", x0=190, x1=280, top=100, bottom=110, lo=0),
        box("3", kind="table", x0=90, x1=180, top=114, bottom=124, lo=0),
        box("7", kind="table", x0=190, x1=280, top=114, bottom=124, lo=0),
    ]
    dup = [
        box("name", kind="table header", x0=92, x1=182, top=102, bottom=112, lo=1),
        box("qty", kind="table header", x0=192, x1=282, top=102, bottom=112, lo=1),
    ]
    out = L.layouts_cleanup(real + dup)
    assert len(out) == 4
    assert {b["lo"] for b in out} == {0}
    texts = sorted(b["text"] for b in out)
    assert texts == ["3", "7", "name", "qty"]


def test_layouts_cleanup_keeps_distinct_regions():
    # two non-overlapping tables on one page stay separate
    t1 = [box("a", kind="table", x0=90, x1=180, top=100, bottom=110, lo=0)]
    t2 = [box("b", kind="table", x0=90, x1=180, top=300, bottom=310, lo=1)]
    out = L.layouts_cleanup(t1 + t2)
    assert {b["lo"] for b in out} == {0, 1}


def test_sort_x_c_r_family():
    # sort_X_firstly: x-band then top
    boxes = [box("b", x0=302, top=100), box("a", x0=72, top=200), box("c", x0=300, top=300)]
    assert [b["text"] for b in L.sort_x(boxes, threshold=10)] == ["a", "b", "c"]
    # sort_C_firstly: explicit column ids dominate geometry
    cells = [
        dict(box("c1r2", x0=300, top=200), cn=0),
        dict(box("c2r1", x0=72, top=100), cn=1),
        dict(box("c1r1", x0=300, top=100), cn=0),
    ]
    assert [b["text"] for b in L.sort_c(cells, 10)] == ["c1r1", "c1r2", "c2r1"]
    # sort_R_firstly: explicit row ids then x0
    rows = [
        dict(box("r1c2", x0=300, top=500), rn=0),
        dict(box("r2c1", x0=72, top=100), rn=1),
        dict(box("r1c1", x0=72, top=500), rn=0),
    ]
    assert [b["text"] for b in L.sort_r(rows, 10)] == ["r1c1", "r1c2", "r2c1"]


def test_construct_table_cjk_hierarchical_and_caption():
    # CJK table: group header spanning both columns + leaf headers; the
    # hierarchical concat uses 的 and the caption suffix 来自 (tsr.py:399-501)
    cells = [
        box("财务指标", kind="table header", x0=90, x1=280, top=86, bottom=96, lo=0),
        box("项目", kind="table header", x0=90, x1=180, top=100, bottom=110, lo=0),
        box("金额", kind="table header", x0=190, x1=280, top=100, bottom=110, lo=0),
        box("收入", kind="table", x0=90, x1=180, top=114, bottom=124, lo=0),
        box("1,200", kind="table", x0=190, x1=280, top=114, bottom=124, lo=0),
    ]
    txt = construct_table(cells, cap="表1：年度收入")
    assert txt == "财务指标的项目：收入; 财务指标的金额：1,200\t——来自“表1：年度收入”"


def test_construct_table_headerless_two_col_coalesce():
    # no headers detected (all-text 2-col table): rows join with "：" and
    # short rows coalesce under 64 chars (tsr.py:475-487 append closure)
    cells = []
    for ri, (a, b) in enumerate([("alpha", "beta"), ("gamma", "delta")]):
        cells.append(box(a, kind="table", x0=90, x1=180, top=100 + ri * 14,
                         bottom=110 + ri * 14, lo=0))
        cells.append(box(b, kind="table", x0=190, x1=280, top=100 + ri * 14,
                         bottom=110 + ri * 14, lo=0))
    txt = construct_table(cells)
    assert txt == "alpha：beta\ngamma：delta"


def test_construct_table_tsr_tags_override_geometry():
    """Explicit TSR R/C/H tags win over geometric clustering
    (deepdoc/parser/pdf_parser.py:257-294: the TSR model tags boxes before
    reconstruction). The fixture's two body rows sit 5px apart — inside the
    geometric row threshold, so gap clustering fuses them into ONE row —
    while the planted R tags keep them separate: the grids differ and the
    tags must win."""
    def mk(conflict_tags):
        cells = []
        for ci, h in enumerate(["name", "qty"]):
            # tall headers inflate the mean height -> row_thr 7, so the
            # 7px body-row gap below stays inside the fuse threshold
            c = box(h, kind="table header", x0=90 + ci * 100,
                    x1=180 + ci * 100, top=80, bottom=110, lo=0)
            if conflict_tags:
                c.update(R=0, C=ci, H=True)
            cells.append(c)
        for ri, row in enumerate([["apple", "3"], ["pear", "7"]]):
            for ci, v in enumerate(row):
                c = box(v, kind="table", x0=90 + ci * 100, x1=180 + ci * 100,
                        top=114 + ri * 7, bottom=120 + ri * 7, lo=0)
                if conflict_tags:
                    c.update(R=1 + ri, C=ci, H=False)
                cells.append(c)
        return cells

    geo = construct_table(mk(False), html=True)
    tagged = construct_table(mk(True), html=True)
    assert tagged != geo
    # geometry fuses apple/pear into one row; tags restore the true grid
    assert "apple" in geo and "pear" in geo
    assert (
        tagged
        == "<table><tr><th>name</th><th>qty</th></tr>"
        "<tr><td>apple</td><td>3</td></tr>"
        "<tr><td>pear</td><td>7</td></tr></table>"
    )


def test_construct_table_partial_tags_fall_back_to_geometry():
    cells = _table_fixture()
    half = [dict(c) for c in cells]
    half[0]["R"] = 5  # only one cell tagged: no consistent id space
    assert construct_table(half, html=True) == construct_table(
        [dict(c) for c in cells], html=True
    )
