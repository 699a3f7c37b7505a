"""The correctness gate (FIXTURES.md §2): the Spark pipeline must equal the
single-doc pandas oracle on every fixture document under span-sequence
equality (kind, text, media_ref, order) — and be invariant to partitioning
(catches nondeterminism / salting bugs)."""

import pytest

from ragflow_spark.datagen import corpus_df, gen_docs
from ragflow_spark.kernels.extract import chunk_doc, extract_doc
from ragflow_spark.operators import extract as ox
from ragflow_spark.operators.extract import extract_chunks_fused, extract_spans

N_DOCS = 120
SEED = 42


@pytest.fixture(scope="module")
def docs(spark):
    df = corpus_df(spark, seed=SEED, count=N_DOCS, giant_factor=60, partitions=6)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def oracle_spans():
    golden = {}
    for d in gen_docs(SEED, 0, N_DOCS, giant_factor=60):
        golden[d["doc_id"]] = [
            (o["seq"], o["kind"], o["text"], o["media_ref"])
            for o in extract_doc(d["spans"])
        ]
    return golden


def collect_spans(df):
    rows = df.collect()
    out = {}
    for r in rows:
        out.setdefault(r.doc_id, []).append((r.seq, r.kind, r.text, r.media_ref))
    for v in out.values():
        v.sort()
    return out


def test_spark_equals_oracle(spark, docs, oracle_spans):
    got = collect_spans(extract_spans(docs))
    assert set(got) == set(oracle_spans)
    for doc_id in sorted(oracle_spans):
        assert got[doc_id] == oracle_spans[doc_id], f"span mismatch in {doc_id}"


def test_partition_invariance(spark, docs, oracle_spans, monkeypatch):
    """Same result at a different parallelism / salt layout — the engine's
    stand-in for the local[2]-vs-local[8] determinism property. Every doc
    takes the giant-doc tail in 7-span salt blocks, so a doc of more than
    7 spans reaches the doc_id regroup from several strip tasks (up to 21)
    and must come back in (offset, sub) order."""
    monkeypatch.setattr(ox, "SALT_BLOCK", 7)
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 0)
    salts = [
        len({s["offset"] // 7 for s in d["spans"]})
        for d in gen_docs(SEED, 0, N_DOCS, giant_factor=60)
    ]
    # the 45 one- and three-span docs fit one block; the other 75 spread
    assert sum(n > 1 for n in salts) == 75 and max(salts) == 21
    got = collect_spans(extract_spans(docs.repartition(17)))
    assert got == oracle_spans


def test_exploded_path_equals_whole_doc_path(spark, docs, oracle_spans, monkeypatch):
    """The zero-shuffle whole-doc path and the explode→salt→regroup giant
    path are interchangeable physical plans for identical semantics."""
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 0)
    exploded = collect_spans(extract_spans(docs))
    assert exploded == oracle_spans
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 50)
    routed = collect_spans(extract_spans(docs))
    assert routed == oracle_spans


def collect_chunks(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.doc_id, []).append(
            (r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        )
    for v in out.values():
        v.sort()
    return out


def oracle_chunks(**chunk_args):
    """{doc_id: chunk rows} from the single-doc kernels; docs without
    chunks are absent, as they are from the Spark output."""
    out = {}
    for d in gen_docs(SEED, 0, N_DOCS, giant_factor=60):
        chunks = chunk_doc(extract_doc(d["spans"]), **chunk_args)
        if chunks:
            out[d["doc_id"]] = [
                (c["chunk_seq"], c["text"], c["token_count"], tuple(c["media_refs"]))
                for c in chunks
            ]
    return out


def test_fused_chunks_equal_oracle(spark, docs):
    """Default routing: every doc of this corpus is below
    GIANT_SPAN_THRESHOLD, so all run whole through the doc-batch runner."""
    got = collect_chunks(extract_chunks_fused(docs, chunker="naive"))
    assert got == oracle_chunks(chunker="naive")


def test_giant_tail_chunks_equal_oracle(spark, docs, monkeypatch):
    """GIANT_SPAN_THRESHOLD 0: every doc through explode → salted strip →
    the one regroup that finalizes and chunks."""
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 0)
    got = collect_chunks(extract_chunks_fused(docs, chunk_token_num=128))
    assert got == oracle_chunks(chunker="naive", chunk_token_num=128)


def test_all_profiles_nonempty(spark, docs):
    from ragflow_spark.datagen import profile_of

    got = collect_spans(extract_spans(docs))
    by_profile = {}
    for doc_id, spans in got.items():
        idx = int(doc_id.split("-")[1])
        by_profile.setdefault(profile_of(idx), []).append(len(spans))
    for prof, counts in by_profile.items():
        assert all(c > 0 for c in counts), f"profile {prof} produced empty docs"
    assert len(by_profile) == 8


def test_md_embedded_html_table_fixture(spark):
    """Markdown with a pasted HTML table (all three wrapper cases,
    markdown_parser.py:68-106): the distributed strip path must equal the
    single-doc kernel and surface each table verbatim as kind='table' in
    document order."""
    cell = "<table><tr><td>alpha</td><td>7</td></tr></table>"
    md = (
        "# heading one\nintro body line\n\n"
        f"{cell}\n"
        "middle text line\n"
        f"<body>{cell}</body>\n"
        f"<html><body>{cell}</body></html>\n"
        "tail line\n"
    )
    spans = [{"kind": "md", "text": md, "media_ref": "", "offset": 0}]
    df = spark.createDataFrame(
        [("mdh-1", [("md", md, "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = collect_spans(extract_spans(df))["mdh-1"]
    expected = [
        (o["seq"], o["kind"], o["text"], o["media_ref"])
        for o in extract_doc(spans)
    ]
    assert got == expected
    tables = [t for _, k, t, _ in got if k == "table"]
    assert cell in tables                       # bare table, verbatim
    assert f"<body>{cell}</body>" in tables     # body wrapper
    assert f"<html><body>{cell}</body></html>" in tables
    # order preserved: the bare table precedes the middle text line
    kinds_texts = [(k, t) for _, k, t, _ in got]
    assert kinds_texts.index(("table", cell)) < kinds_texts.index(
        ("text", "middle text line")
    )


def test_vectorized_plain_finalize_equals_kernel(spark, monkeypatch):
    """The giant-doc tail's finalize regroup must equal extract_doc on a
    doc with no geometry rows and these edge rows: garbage kinds,
    empty/None texts, plain blob refs, table-header kind mapping,
    out-of-order offsets."""
    spans = [
        {"kind": "text", "text": "last", "media_ref": "", "offset": 5},
        {"kind": "header", "text": "running head", "media_ref": "", "offset": 0},
        {"kind": "title", "text": "Title", "media_ref": "", "offset": 1},
        {"kind": "text", "text": None, "media_ref": "", "offset": 2},
        {"kind": "figure", "text": "", "media_ref": "blob://d/0", "offset": 3},
        {"kind": "table header", "text": "h1", "media_ref": "", "offset": 4},
        {"kind": "footer", "text": "page", "media_ref": "", "offset": 6},
        {"kind": "text", "text": "  ", "media_ref": "", "offset": 7},
        {"kind": "reference", "text": "refs", "media_ref": "", "offset": 8},
    ]
    docs = spark.createDataFrame(
        [("d0", [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    # threshold 0 forces explode → strip → finalize_stage
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 0)
    got = collect_spans(extract_spans(docs))["d0"]
    exp = [
        (o["seq"], o["kind"], o["text"], o["media_ref"])
        for o in extract_doc(spans)
    ]
    assert got == exp
    assert [k for _, k, _, _ in got] == ["title", "figure", "table", "text"]
