import hashlib
import json

from ragflow_spark.functions.tokens import num_tokens
from ragflow_spark.kernels import chunkers as C


def test_bullets_category_en():
    secs = ["Chapter 1 Intro", "Section 2 Body", "plain text", "Chapter 2 More"]
    assert C.bullets_category(secs) == 3


def test_bullets_category_none():
    assert C.bullets_category(["plain text", "more plain"]) == -1


def test_naive_merge_budget():
    secs = ["word " * 20 for _ in range(10)]  # 20 tokens each
    cks = C.naive_merge(secs, chunk_token_num=50, delimiter="\n")
    assert len(cks) > 1
    # semantics: a chunk closes only after exceeding the budget, so each
    # chunk is at most budget + one section worth of tokens
    for ck in cks:
        assert num_tokens(ck) <= 50 + 20


def test_naive_merge_oversized_section_presplit():
    sec = "。".join(["字" * 30 for _ in range(10)])  # ~300 tokens, CJK
    cks = C.naive_merge([sec], chunk_token_num=64, delimiter="。")
    assert len(cks) > 1
    assert "".join(cks).replace("。", "") == sec.replace("。", "")


def test_naive_merge_overlap():
    secs = ["alpha " * 30, "beta " * 30, "gamma " * 30]
    cks = C.naive_merge(secs, chunk_token_num=25, overlapped_percent=20)
    assert len(cks) >= 2
    # the second chunk starts with the tail of the first
    assert cks[1].startswith(cks[0][int(len(cks[0]) * 0.8):][:10])


def test_naive_merge_counts_each_section_once(monkeypatch):
    """The one merge loop token-counts every section once: the budget
    check's count is the one the chunk accumulates. Counted through the
    module global, the name the loop calls."""
    calls = []

    def counting(s):
        calls.append(s)
        return num_tokens(s)

    monkeypatch.setattr(C, "num_tokens", counting)
    secs = [f"section {i} " + "word " * (i % 7) for i in range(40)]
    C.naive_merge(secs, chunk_token_num=16)
    assert calls == secs
    # an over-budget section: one count for the budget check, then one per
    # delimiter-split piece
    calls.clear()
    C.naive_merge(["one two three four\nfive six seven eight"], chunk_token_num=4,
                  delimiter="\n")
    assert calls == ["one two three four\nfive six seven eight",
                     "one two three four", "five six seven eight"]


def test_naive_chunk_rows_golden_digest():
    """sha256 of ``chunk_doc(extract_doc(doc), chunker="naive")`` rows over
    datagen seed 1, docs 0-299, taken before the naive merge loops were
    folded into one. The hot path's merge has no independent oracle, so
    this digest pins its output. Corpus: datagen ``CORPUS_VERSION`` 7; a
    version bump regenerates the docs and needs a new digest."""
    from ragflow_spark.datagen import CORPUS_VERSION, gen_docs
    from ragflow_spark.kernels.extract import chunk_doc, extract_doc

    assert CORPUS_VERSION == 7
    h = hashlib.sha256()
    n = 0
    for d in gen_docs(1, 0, 300):
        for row in chunk_doc(extract_doc(d["spans"]), chunker="naive"):
            h.update(json.dumps([d["doc_id"], row], sort_keys=True).encode())
            n += 1
    assert n == 664
    assert h.hexdigest() == (
        "e86311938ef6c302b3b64fcf204e6d6bc5f3d762961dcb99c738fd02363debb7"
    )


def test_all_chunker_rows_golden_digest():
    """sha256 of each doc's ``extract_doc`` spans and of its
    ``chunk_doc`` rows under every chunker in ``CHUNKERS`` over datagen
    seed 1, docs 0-299, taken before the layout passes' per-box string
    scans were cut. It pins the layout and assembly kernels bit for bit on
    every chunker's path. Corpus: datagen ``CORPUS_VERSION`` 7; a version
    bump regenerates the docs and needs a new digest."""
    from ragflow_spark.datagen import CORPUS_VERSION, gen_docs
    from ragflow_spark.kernels.extract import CHUNKERS, chunk_doc, extract_doc

    assert CORPUS_VERSION == 7
    assert len(CHUNKERS) == 8
    h = hashlib.sha256()
    n = 0
    for d in gen_docs(1, 0, 300):
        out = extract_doc(d["spans"])
        h.update(json.dumps([d["doc_id"], out], sort_keys=True).encode())
        for chunker in CHUNKERS:
            for row in chunk_doc(out, chunker=chunker):
                h.update(json.dumps([d["doc_id"], row], sort_keys=True).encode())
                n += 1
    assert n == 8222
    assert h.hexdigest() == (
        "59ac48dd8790dc8f72919f6e8bdd461ce552e3d4e88e2c3a9da8c14fe3350fba"
    )


def test_html_table_spans_golden_digest():
    """sha256 of each doc's ``extract_doc(spans, html_tables=True)`` spans
    over datagen seed 1, docs 0-299, taken before the table grid's row and
    column mirrors were merged. It pins the html render and the html branch
    of span resolution, which the chunker digests (description render)
    never run. Corpus: datagen ``CORPUS_VERSION`` 7; a version bump
    regenerates the docs and needs a new digest."""
    from ragflow_spark.datagen import CORPUS_VERSION, gen_docs
    from ragflow_spark.kernels.extract import extract_doc

    assert CORPUS_VERSION == 7
    h = hashlib.sha256()
    n = tables = 0
    for d in gen_docs(1, 0, 300):
        out = extract_doc(d["spans"], html_tables=True)
        h.update(json.dumps([d["doc_id"], out], sort_keys=True).encode())
        n += len(out)
        tables += sum(o["kind"] == "table" for o in out)
    assert (n, tables) == (6698, 111)
    assert h.hexdigest() == (
        "389093a2f959c297d762f7f448fde236c68cd8ecbbc5006443b7ef6c09491508"
    )


def test_make_colon_as_title():
    body = "x" * 40 + "。" + "key terms follow:"
    secs = [(body, ""), ("item one, item two", "")]
    out = C.make_colon_as_title(secs)
    assert out[0] == ("key terms follow:", "title")
    assert out[1][0] == body
    # a bare colon-line without a long preceding sentence spawns nothing
    assert C.make_colon_as_title([("short:", "")]) == [("short:", "")]


def test_remove_contents_table():
    secs = [("Contents", ""), ("Chapter 1 Alpha ..... 2", ""), ("Chapter 2 Beta ..... 5", ""),
            ("Chapter 1 Alpha", ""), ("body", "")]
    out = C.remove_contents_table(secs, eng=True)
    assert [t for t, _ in out] == ["Chapter 1 Alpha", "body"]


def test_title_frequency():
    secs = [("Chapter 1 Intro", ""), ("body text here", ""), ("Chapter 2 More", "")]
    bull = C.bullets_category([t for t, _ in secs])
    most, levels = C.title_frequency(bull, secs)
    assert levels[0] == levels[2] < levels[1]
    assert most == levels[0]


def test_hierarchical_merge_title_chain():
    secs = [
        ("Chapter 1 Alpha", ""),
        ("Section 1 Sub", ""),
        ("body paragraph one that is long enough to stand alone " * 10, ""),
        ("Chapter 2 Beta", ""),
        ("body paragraph two " * 30, ""),
    ]
    bull = C.bullets_category([t for t, _ in secs])
    cks = C.hierarchical_merge(bull, secs, 5)
    flat = ["\n".join(ck) for ck in cks]
    joined = "\n".join(flat)
    assert "Chapter 2 Beta" in joined
    # body chunk carries its nearest ancestor title (the reference's
    # binary-search chain keeps the closest preceding outline entry,
    # rag/nlp/__init__.py:486-492)
    body_ck = next(ck for ck in cks if any("body paragraph one" in s for s in ck))
    assert any("Section 1 Sub" in s for s in body_ck)


def test_hierarchical_singleton_coalesce():
    secs = [("Chapter 1 A", ""), ("Chapter 2 B", ""), ("Chapter 3 C", "")]
    cks = C.hierarchical_merge(3, secs, 5)
    # three tiny title-only chunks coalesce under the 218-token threshold
    assert len(cks) == 1 and len(cks[0]) == 3


def test_paper_chunk_pivot():
    secs = [
        ("A Fancy Paper Title", "title"),
        ("Alice Smith, Bob Jones", "text"),
        ("Abstract " + "lots of abstract words here " * 10, "text"),
        ("1. Introduction", "title"),
        ("intro body one.", "text"),
        ("intro body two.", "text"),
        ("2. Methods", "title"),
        ("methods body.", "text"),
    ]
    out = C.paper_chunk(secs)
    assert out["title"] == "A Fancy Paper Title"
    assert out["authors"] == "Alice Smith, Bob Jones"
    assert out["abstract"].startswith("Abstract")
    # chunks pivot at numbered section titles
    assert any(c.startswith("1. Introduction") for c in out["chunks"])
    assert any(c.startswith("2. Methods") for c in out["chunks"])
    intro = next(c for c in out["chunks"] if c.startswith("1. Introduction"))
    assert "intro body one." in intro and "intro body two." in intro


def test_book_chunk_falls_back_to_naive():
    secs = [(f"plain paragraph {i} " + "w " * 30, "") for i in range(8)]
    cks = C.book_chunk(secs, eng=True)
    assert cks and all(isinstance(c, str) for c in cks)
