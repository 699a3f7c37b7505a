"""Per-document extraction driver — the single-doc oracle AND the kernel the
Spark operators run inside Arrow batches.

Canonical stage order (the engine's documented dataflow, derived from the
reference's naive/book PDF pipelines — rag/app/naive.py:254-296,
SURVEY.md §3.2):

    1. strip   — format parse per span (html / md / txt / json)
    2. layout  — junk drop, garbage drop (+repeated furniture), banded Y-sort,
                 column detection + reading order, horizontal merge
    3. assemble— table/figure region grouping, cross-page merge, caption 1-NN,
                 grid reconstruction; then vertical merge, ToC removal,
                 bullet merge, scrap filter over the remaining text stream
    4. emit    — interleaved (kind, text, media_ref) spans in final reading
                 order, seq dense from 0

Per-row invariant (BASELINE.json input_hint): for every doc the output
sequence (kind, text, media_ref, order) is a pure function of the input span
sequence — independent of partitioning, salting, and batch boundaries.
"""

from __future__ import annotations

import re

from ragflow_spark.functions.textstats import doc_is_english
from ragflow_spark.functions.tokens import num_tokens
from ragflow_spark.kernels import chunkers
from ragflow_spark.kernels.assemble import assemble
from ragflow_spark.kernels.html_strip import html_to_sections
from ragflow_spark.kernels.layout import (
    bullet_merge,
    drop_garbage,
    drop_junk,
    filter_scraps,
    filter_toc,
    horizontal_merge,
    layouts_cleanup,
    median_height,
    reading_order,
    sort_y,
    vertical_merge,
)
from ragflow_spark.kernels.parsers import parse_json, parse_markdown, parse_txt
from ragflow_spark.schemas import PAGE_H, strip_geom, unpack_geom

PLAIN_KINDS = {"html", "md", "txt", "json"}


def _out(kind: str, text: str, media_ref: str = "") -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref}


def strip_span(kind: str, text: str) -> list[tuple[str, str]]:
    """Stage-1 kernel for one plain-format span → [(kind, text)].
    Span-local: safe to run under any partitioning/salting."""
    if kind == "html":
        secs = html_to_sections(text or "")
        out = []
        for i, s in enumerate(secs):
            out.append(("title" if i == 0 else "text", s))
        return out
    if kind == "md":
        return [(k, t) for t, k in parse_markdown(text or "")]
    if kind == "txt":
        return [("text", t) for t in parse_txt(text or "")]
    if kind == "json":
        return [("text", t) for t in parse_json(text or "")]
    return [(kind, text)]


def layout_doc(boxes: list[dict], html_tables: bool = False) -> list[dict]:
    """Stages 2+3 for one document's geometry boxes. Input boxes carry
    pn/x0/x1/top/bottom/lo; returns interleaved out-span dicts in final
    reading order."""
    if not boxes:
        return []
    boxes = drop_junk(boxes)
    boxes = drop_garbage(boxes)
    boxes = layouts_cleanup(boxes)
    if not boxes:
        return []
    boxes = sort_y(boxes, median_height(boxes) / 3)
    boxes = reading_order(boxes)
    boxes = horizontal_merge(boxes)
    rest, media = assemble(boxes, html_tables=html_tables)
    eng = doc_is_english([b["text"] for b in rest])
    rest = vertical_merge(rest, eng)
    rest = filter_toc(rest)
    rest = bullet_merge(rest)
    rest = filter_scraps(rest)
    merged = rest + media
    merged.sort(key=lambda b: (b["pn"] * PAGE_H + b["top"], b["x0"]))
    out = []
    for b in merged:
        kind = b["kind"] if b["kind"] in ("title", "table", "figure") else "text"
        out.append(_out(kind, b["text"], strip_geom(b.get("media_ref", ""))))
    return out


def strip_rows(spans: list[dict]) -> list[dict]:
    """Stage-1 (span-local, salt-safe): parse plain-format spans; geometry
    spans pass through untouched. Each output row carries (offset, sub) so
    doc order can be restored after any shuffle."""
    rows: list[dict] = []
    for s in spans:
        mr = s.get("media_ref") or ""
        if s["kind"] in PLAIN_KINDS and not mr.startswith("geom://"):
            for sub, (kind, text) in enumerate(strip_span(s["kind"], s.get("text") or "")):
                rows.append(
                    {"kind": kind, "text": text, "media_ref": "",
                     "offset": s["offset"], "sub": sub}
                )
        else:
            rows.append(
                {"kind": s["kind"], "text": s.get("text") or "", "media_ref": mr,
                 "offset": s["offset"], "sub": 0}
            )
    return rows


def finalize_doc(rows: list[dict], html_tables: bool = False) -> list[dict]:
    """Stages 2-4 (doc-level): layout + assembly over geometry rows, ordered
    passthrough for stripped plain rows; dense ``seq`` over the interleaved
    result."""
    rows = sorted(rows, key=lambda r: (r["offset"], r.get("sub", 0)))
    plain_out: list[dict] = []
    boxes: list[dict] = []
    for s in rows:
        g = unpack_geom(s.get("media_ref"))
        if g is not None:
            boxes.append(
                {
                    "kind": s["kind"],
                    "text": s.get("text") or "",
                    "media_ref": s.get("media_ref") or "",
                    "pn": g.pn,
                    "x0": g.x0,
                    "x1": g.x1,
                    "top": g.top,
                    "bottom": g.bottom,
                    "lo": g.layoutno,
                }
            )
        else:
            # pre-parsed / stripped span without geometry (garbage kinds
            # still dropped for parity with the layout path)
            if s["kind"] in ("header", "footer", "reference"):
                continue
            # empty boxes are junk on the layout path (drop_junk) — mirror
            # that here, but keep media-bearing spans (figures)
            if not (s.get("text") or "").strip() and not strip_geom(s.get("media_ref")):
                continue
            if s["kind"] in ("title", "figure"):
                kind = s["kind"]
            elif s["kind"] in ("table", "table header"):
                kind = "table"
            else:
                kind = "text"
            plain_out.append(_out(kind, s.get("text") or "", strip_geom(s.get("media_ref"))))

    pdf_out = layout_doc(boxes, html_tables=html_tables)
    out = plain_out + pdf_out
    for i, o in enumerate(out):
        o["seq"] = i
    return out


def extract_doc(spans: list[dict], html_tables: bool = False) -> list[dict]:
    """Full extraction for one document (the single-doc oracle):
    strip_rows → finalize_doc."""
    return finalize_doc(strip_rows(spans), html_tables=html_tables)


CHUNKERS = (
    "naive", "book", "paper", "laws", "qa", "manual", "email", "presentation"
)


def chunk_doc(
    out_spans: list[dict],
    chunker: str = "naive",
    chunk_token_num: int = 512,
    delimiter: str = "\n!?。；！？",
    overlapped_percent: int = 0,
) -> list[dict]:
    """Chunk one document's extracted spans. Tables become standalone chunks
    (the reference routes them through tokenize_table,
    rag/nlp/__init__.py:302-329). Figures: the naive chunker joins a
    figure's caption text to the text stream and its media_ref rides on
    whichever chunk the caption lands in (the reference's
    naive_merge_with_images/concat_img semantics, __init__.py:566-656);
    every other chunker keeps figures as standalone chunks. Every chunk row
    carries a ``media_refs`` list."""
    out_spans = sorted(out_spans, key=lambda s: s["seq"])
    media_kinds = {"naive": ("table",), "presentation": ()}.get(chunker, ("table", "figure"))
    media_chunks = [
        (s["text"], [s["media_ref"]] if s.get("media_ref") else [])
        for s in out_spans
        if s["kind"] in media_kinds and ((s["text"] or "").strip() or s.get("media_ref"))
    ]
    # the (text, kind) section stream of every chunker but naive and
    # presentation, which read the spans themselves
    sections = [] if chunker in ("naive", "presentation") else [
        (s["text"], s["kind"]) for s in out_spans if s["kind"] in ("text", "title") and (s["text"] or "").strip()
    ]
    media_refs: list[list[str]] | None = None
    if chunker == "presentation":
        # every slide (delimited by its media span) is one chunk; tables
        # and figures are slide boundaries, not standalone chunks
        texts, media_refs = chunkers.presentation_chunk(
            [(s["kind"], s["text"] or "", s.get("media_ref") or "") for s in out_spans]
        )
    elif chunker == "naive":
        stream = [
            (s["text"] or "", s.get("media_ref") or "")
            for s in out_spans
            if s["kind"] in ("text", "title", "figure")
            and ((s["text"] or "").strip() or s.get("media_ref"))
        ]
        texts, media_refs = chunkers.naive_merge_with_media(
            stream, chunk_token_num, delimiter, overlapped_percent
        )
    elif chunker == "book":
        eng = doc_is_english([t for t, _ in sections])
        texts = chunkers.book_chunk(sections, eng, chunk_token_num=256, delimiter=delimiter)
    elif chunker == "laws":
        texts = chunkers.laws_chunk(sections, chunk_token_num, delimiter)
    elif chunker == "manual":
        texts = chunkers.manual_chunk(sections)
    elif chunker == "paper":
        paper = chunkers.paper_chunk(sections)
        texts = ([paper["abstract"]] if paper["abstract"] else []) + paper["chunks"]
    elif chunker == "email":
        texts = chunkers.email_chunk([t for t, _ in sections], chunk_token_num, delimiter)
    elif chunker == "qa":
        lines = [t for t, _ in sections]
        # extracted sections may hold several physical lines (the md parser
        # glues a heading to its body); the md/tabular routes are
        # line-oriented, so re-split for them
        phys = [pl for t in lines for pl in (t or "").split("\n")]
        # route sniffing (the reference dispatches on file extension,
        # rag/app/qa.py:313-471; extracted spans have no extension, so:
        # markdown headings → md route, tab-delimited 2-field lines →
        # tabular route, else question-bullet text route)
        if any(re.match(r"^#{1,6}\s", ln) for ln in phys):
            pairs = chunkers.qa_pairs_markdown(phys)
        elif any(len(ln.split("\t")) == 2 for ln in phys):
            pairs = chunkers.qa_pairs_tabular(phys)
        else:
            pairs = chunkers.qa_pairs(lines)
        texts = [(q + "\n" + a).strip() for q, a in pairs]
    else:
        raise ValueError(f"unknown chunker {chunker!r}")

    if media_refs is None:
        media_refs = [[] for _ in texts]
    chunks = media_chunks + [(t, r) for t, r in zip(texts, media_refs) if t.strip() or r]
    return [
        {
            "chunker": chunker,
            "chunk_seq": i,
            "text": t,
            "token_count": num_tokens(t),
            "media_refs": refs,
        }
        for i, (t, refs) in enumerate(chunks)
    ]


ERROR_MARK = "__error__"


def error_row(e: Exception, chunked: bool) -> dict:
    """The one row a document whose ``extract_doc``/``finalize_doc``/
    ``chunk_doc`` raised emits in place of its output, so a bad document
    never fails its task. The marker sits in ``kind`` (span rows) or
    ``chunker`` (chunk rows); ``text`` carries the exception repr."""
    if chunked:
        return {"chunker": ERROR_MARK, "chunk_seq": 0, "text": repr(e),
                "token_count": 0, "media_refs": []}
    return {"seq": 0, "kind": ERROR_MARK, "text": repr(e), "media_ref": ""}


def guarded_doc(
    kernel, records: list[dict], html_tables: bool, chunk_args: dict | None
) -> list[dict]:
    """One document through ``kernel`` (``extract_doc`` on its spans, or
    ``finalize_doc`` on its stripped rows), then ``chunk_doc`` with
    ``chunk_args`` (None means output spans, not chunks). The per-doc guard
    both per-doc loops share: a document whose kernels raise emits one
    ``error_row`` in place of its output and never fails its task."""
    try:
        out = kernel(records, html_tables=html_tables)
        return out if chunk_args is None else chunk_doc(out, **chunk_args)
    except Exception as e:  # noqa: BLE001 — per-doc isolation
        return [error_row(e, chunk_args is not None)]
