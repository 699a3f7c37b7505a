"""Schemas and the geometry side-channel for the interleaved-span data model.

Input contract (BASELINE.json ``input_hint``):
    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

``kind`` vocabulary (FIXTURES.md §1): html, md, txt, json, text, title, table,
"table caption", "figure caption", figure, header, footer, reference.

Geometry for PDF-like documents rides inside ``media_ref`` (the input shape is
fixed by the contract, so geometry is packed, not a separate column):

    non-figure spans:  ``geom://pn,x0,x1,top,bottom[,layoutno]``
    figure spans:      ``blob://<doc>/<n>#geom=pn,x0,x1,top,bottom[,layoutno]``

``layoutno`` is the analog of the reference's per-page layout-region id
(deepdoc/vision/layout_recognizer.py:130 ``layoutno``): table cells of the
same table share one, figure boxes get their own. Output spans drop the
``geom://`` side-channel and keep only ``blob://...`` refs for figures
(FIXTURES.md §2: media_ref preserved for figures, "" otherwise).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# fixture page geometry (US letter, points) — all synthetic docs use this
PAGE_W = 612.0
PAGE_H = 792.0

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# final extracted spans (FIXTURES.md §2 expected_spans)
OUT_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
    ]
)

# chunker output (FIXTURES.md §3 expected_chunks)
CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("chunker", T.StringType(), False),
        T.StructField("chunk_seq", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("token_count", T.IntegerType(), False),
        # media carried by the chunk (concat_img analog: refs of figures
        # whose captions merged into this chunk)
        T.StructField("media_refs", T.ArrayType(T.StringType()), True),
    ]
)

@dataclass
class Geom:
    pn: int  # 0-based page number
    x0: float
    x1: float
    top: float
    bottom: float
    layoutno: int = -1  # per-page layout-region id; -1 = unassigned

    @property
    def height(self) -> float:
        return self.bottom - self.top

    @property
    def width(self) -> float:
        return self.x1 - self.x0

    def cum_top(self) -> float:
        """Global Y — the reference's cumulative page height
        (deepdoc/parser/pdf_parser.py:368-372)."""
        return self.pn * PAGE_H + self.top

    def cum_bottom(self) -> float:
        return self.pn * PAGE_H + self.bottom


def pack_geom(g: Geom, blob: str = "") -> str:
    """Encode geometry into media_ref (geom:// or blob://...#geom=)."""
    parts = f"{g.pn},{g.x0:g},{g.x1:g},{g.top:g},{g.bottom:g}"
    if g.layoutno >= 0:
        parts += f",{g.layoutno}"
    if blob:
        return f"{blob}#geom={parts}"
    return f"geom://{parts}"


def unpack_geom(media_ref: str | None) -> Geom | None:
    """Decode geometry from media_ref; returns None for plain refs."""
    if not media_ref:
        return None
    if media_ref.startswith("geom://"):
        body = media_ref[7:]
    elif "#geom=" in media_ref:
        body = media_ref.split("#geom=", 1)[1]
    else:
        return None
    parts = body.split(",")
    if len(parts) < 5:
        return None
    pn = int(parts[0])
    x0 = float(parts[1])
    x1 = float(parts[2])
    top = float(parts[3])
    bottom = float(parts[4])
    lo = int(parts[5]) if len(parts) > 5 else -1
    # x != x is the allocation-free NaN test
    if x0 != x0 or x1 != x1 or top != top or bottom != bottom:
        return None
    return Geom(pn, x0, x1, top, bottom, lo)


def strip_geom(media_ref: str | None) -> str:
    """Output-side media_ref: keep blob:// refs (with their #geom fragment —
    it is part of the fixture's opaque ref), drop pure geom:// side-channels."""
    if not media_ref:
        return ""
    if media_ref.startswith("geom://"):
        return ""
    return media_ref
