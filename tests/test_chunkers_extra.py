"""laws + qa chunker kernels (reference: rag/app/laws.py:143-211,
rag/app/qa.py:313-471, QUESTION_PATTERN rag/nlp/__init__.py:74-86)."""

from __future__ import annotations

from ragflow_spark.kernels.chunkers import is_question, laws_chunk, qa_pairs
from ragflow_spark.kernels.extract import chunk_doc


def test_laws_hierarchical():
    secs = [
        ("第一章 总则", "title"),
        ("第一条 为了规范数据处理", "text"),
        ("相关活动适用本条款", "text"),
        ("第二条 在境内开展数据活动", "text"),
        ("第二章 数据安全", "title"),
        ("第三条 国家建立数据分类保护制度", "text"),
    ]
    chunks = laws_chunk(secs)
    joined = "\n\n".join(chunks)
    # every article lands in some chunk, chapter titles chain above articles
    assert "第一条" in joined and "第三条" in joined
    assert any("第一章" in c and "第一条" in c for c in chunks)
    assert any("第二章" in c and "第三条" in c for c in chunks)


def test_laws_fallback_naive():
    secs = [(f"plain sentence number {i}.", "text") for i in range(10)]
    chunks = laws_chunk(secs, chunk_token_num=16)
    assert len(chunks) >= 2
    assert "".join(chunks).count("plain sentence") == 10


def test_is_question():
    assert is_question("Q1: what is a shuffle?")
    assert is_question("Question 2. why broadcast")
    assert is_question("第三问 什么是分区")
    assert is_question("12. how many executors do we need?")
    assert not is_question("This is a plain statement.")
    assert not is_question("12. plain numbered statement without mark")


def test_qa_pairs():
    secs = [
        "Intro text to drop",
        "Q1: what is a shuffle?",
        "A data exchange between stages.",
        "It is expensive.",
        "Q2: what is a broadcast?",
        "A small-side replication.",
    ]
    pairs = qa_pairs(secs)
    assert pairs == [
        ("Q1: what is a shuffle?", "A data exchange between stages.\nIt is expensive."),
        ("Q2: what is a broadcast?", "A small-side replication."),
    ]


def test_chunk_doc_qa_and_laws():
    spans = [
        {"seq": 0, "kind": "text", "text": "Q1: what is x?", "media_ref": ""},
        {"seq": 1, "kind": "text", "text": "x is y.", "media_ref": ""},
    ]
    out = chunk_doc(spans, chunker="qa")
    assert len(out) == 1 and out[0]["text"] == "Q1: what is x?\nx is y."
    out2 = chunk_doc(
        [{"seq": 0, "kind": "text", "text": "第一条 条款内容", "media_ref": ""}],
        chunker="laws",
    )
    assert len(out2) >= 1


def test_naive_merge_with_media_attaches_refs():
    from ragflow_spark.kernels.chunkers import naive_merge_with_media

    sections = [
        ("First paragraph about things. ", ""),
        ("Figure 1: a chart", "blob://d/0"),
        ("More prose after the figure. ", ""),
        ("", "blob://d/1"),  # caption-less figure rides along
    ]
    cks, refs = naive_merge_with_media(sections, chunk_token_num=512)
    assert len(cks) == 1
    assert "Figure 1: a chart" in cks[0]
    assert refs[0] == ["blob://d/0", "blob://d/1"]
    # small budget: refs follow their sections into separate chunks
    cks2, refs2 = naive_merge_with_media(sections, chunk_token_num=4)
    assert len(cks2) >= 2
    flat = [r for rr in refs2 for r in rr]
    assert flat == ["blob://d/0", "blob://d/1"]


def test_chunk_doc_media_attachment():
    from ragflow_spark.kernels.extract import chunk_doc

    spans = [
        {"seq": 0, "kind": "text", "text": "Intro text. ", "media_ref": ""},
        {"seq": 1, "kind": "figure", "text": "Figure 1: pic", "media_ref": "blob://d/0"},
        {"seq": 2, "kind": "table", "text": "name：1", "media_ref": ""},
        {"seq": 3, "kind": "text", "text": "Closing text.", "media_ref": ""},
    ]
    out = chunk_doc(spans, chunker="naive", chunk_token_num=512)
    # table standalone; figure caption merged into the text chunk w/ its ref
    tbl = [c for c in out if c["text"] == "name：1"]
    assert len(tbl) == 1 and tbl[0]["media_refs"] == []
    txt = [c for c in out if "Figure 1: pic" in c["text"] and c is not tbl[0]]
    assert len(txt) == 1 and txt[0]["media_refs"] == ["blob://d/0"]


def test_index_int_converters():
    from ragflow_spark.kernels.chunkers import index_int

    assert index_int("7") == 7
    assert index_int("THREE".lower()) == 3
    assert index_int("twenty-one") == 21
    assert index_int("十三") == 13
    assert index_int("二十五") == 25
    assert index_int("一百") == 100
    assert index_int("IX") == 9
    assert index_int("VII") == 7
    assert index_int("gibberish") == -1


def test_qa_pairs_tabular_delimiter_sniff_and_continuation():
    from ragflow_spark.kernels.chunkers import qa_pairs_tabular

    # comma majority -> comma delimiter
    assert qa_pairs_tabular(["q1,a1", "q2,a2"]) == [("q1", "a1"), ("q2", "a2")]
    # tab wins ties; delimiter-less lines append to the open answer
    out = qa_pairs_tabular(["q1\ta1", "cont", "q2\ta2"])
    assert out == [("q1", "a1\ncont"), ("q2", "a2")]
    # preamble before the first question is counted as a failure, not output
    assert qa_pairs_tabular(["junk", "q\ta"]) == [("q", "a")]


def test_qa_pairs_markdown_heading_stack():
    from ragflow_spark.kernels.chunkers import qa_pairs_markdown

    lines = [
        "# Top",
        "## Sub A",
        "answer a",
        "## Sub B",
        "answer b",
        "# Next",
        "answer c",
        "```",
        "# not a heading",
        "```",
    ]
    out = qa_pairs_markdown(lines)
    assert out[0] == ("Top\nSub A", "answer a")
    assert out[1] == ("Top\nSub B", "answer b")
    # code-fence content joins the answer instead of opening a question
    assert out[2][0] == "Next"
    assert "# not a heading" in out[2][1]


def test_qa_pairs_pdf_geometry_checks():
    from ragflow_spark.kernels.chunkers import qa_pairs_pdf

    def bx(text, x0=72.0, top=100.0, kind="text"):
        return {"text": text, "x0": x0, "top": top, "kind": kind}

    # questions need >=20px vertical clearance from the previous line and
    # aligned x0 (has_qbullet's continuation/indent rejections — a
    # vertically-tight or indented numbered line is answer content)
    boxes = [
        bx("Quiz Document", top=40),
        bx("1. What is a span?", top=100),
        bx("A span is a unit.", top=114),
        bx("2. What is a chunk?", top=140),
        bx("A chunk groups spans.", top=154),
        bx("3. nested enumeration", x0=95.0, top=168),
    ]
    out = qa_pairs_pdf(boxes)
    assert len(out) == 2
    assert out[0] == ("1. What is a span?", "A span is a unit.")
    assert out[1][0] == "2. What is a chunk?"
    assert "nested enumeration" in out[1][1]


def test_manual_chunk_section_fold():
    from ragflow_spark.kernels.chunkers import manual_chunk

    long_body = ("word " * 40).strip() + "."
    sections = [
        ("Chapter 1 Setup", "title"),
        (long_body, "text"),
        (long_body, "text"),
        ("Chapter 2 Operation", "title"),
        (long_body, "text"),
    ]
    out = manual_chunk(sections)
    # tiny head glues (<32 tokens), same-section bodies glue under 1024,
    # the new section id at Chapter 2 opens a new chunk
    assert len(out) == 2
    assert out[0].startswith("Chapter 1 Setup")
    assert out[1].startswith("Chapter 2 Operation")


def test_email_chunk_is_naive_merge_at_email_budget():
    from ragflow_spark.kernels.chunkers import email_chunk, naive_merge

    texts = ["From: a@b.c\n", "Subject: hi\n", ("body " * 200).strip()]
    assert email_chunk(texts) == naive_merge(texts, 128, "\n。；！？")


def test_tag_pairs():
    from ragflow_spark.kernels.chunkers import tag_pairs

    out = tag_pairs([
        "preamble context",
        "entry one\tnlp, ml.core",
        "entry two\tdata",
    ])
    assert out == [
        ("\npreamble context\nentry one", ["nlp", "ml_core"]),
        ("\nentry two", ["data"]),
    ]


def test_chunk_doc_qa_markdown_route_end_to_end():
    """A markdown doc flows through the md parser (which glues headings to
    bodies) and still reaches the markdown qa route via physical-line
    re-split."""
    from ragflow_spark.kernels.extract import chunk_doc, extract_doc

    md = "# Question One\nanswer text a\n## Sub\nanswer b\n"
    out = extract_doc([{"kind": "md", "text": md, "media_ref": "", "offset": 0}])
    chunks = [c["text"] for c in chunk_doc(out, chunker="qa")]
    assert chunks == [
        "Question One\nanswer text a",
        "Question One\nSub\nanswer b",
    ]


def test_presentation_chunk_slide_per_chunk():
    """Every slide (delimited by its media span) is one chunk carrying the
    slide thumbnail; garbage lines (pure numeric/punct or <3 chars) drop
    (rag/app/presentation.py:63-68,104-178)."""
    from ragflow_spark.kernels.chunkers import presentation_chunk

    spans = [
        ("text", "deck intro before any slide", ""),
        ("figure", "", "img://slide1"),
        ("text", "Slide one title\n42\nab\nreal content line", ""),
        ("figure", "", "img://slide2"),
        ("text", "100%", ""),  # garbage-only slide: kept for its thumbnail
    ]
    texts, refs = presentation_chunk(spans)
    assert texts == [
        "deck intro before any slide",
        "Slide one title\nreal content line",
        "",
    ]
    assert refs == [[], ["img://slide1"], ["img://slide2"]]


def test_chunk_doc_presentation_route():
    from ragflow_spark.kernels.extract import chunk_doc

    out_spans = [
        {"doc_id": "d", "seq": 0, "kind": "text", "text": "intro words here",
         "media_ref": ""},
        {"doc_id": "d", "seq": 1, "kind": "figure", "text": "",
         "media_ref": "img://s1"},
        {"doc_id": "d", "seq": 2, "kind": "text", "text": "slide one body",
         "media_ref": ""},
    ]
    chunks = chunk_doc(out_spans, chunker="presentation")
    assert [(c["text"], c["media_refs"]) for c in chunks] == [
        ("intro words here", []),
        ("slide one body", ["img://s1"]),
    ]
    assert [c["chunk_seq"] for c in chunks] == [0, 1]
