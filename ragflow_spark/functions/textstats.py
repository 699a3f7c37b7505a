"""Language/character-class text statistics.

Reference analogs: is_english (doc_is_english) / is_chinese
(rag/nlp/__init__.py:228-257), language detect sampling
(deepdoc/parser/pdf_parser.py:1059-1066 — made deterministic: first-N
prefix instead of random sample, per SURVEY.md §4.3).
"""

from __future__ import annotations

import re
from itertools import islice

# whole-string variant: one fullmatch instead of a per-character match loop
_FULL_ENG = re.compile(r"[`a-zA-Z0-9\s.,':;/\"?<>!\(\)\-]*")
_CJK = re.compile(r"[一-鿿]")


def is_chinese(text: str) -> bool:
    """>20% CJK chars (rag/nlp/__init__.py:248-257)."""
    if not text:
        return False
    return len(_CJK.findall(text)) / len(text) > 0.2


def doc_is_english(texts: list[str], sample: int = 200) -> bool:
    """>80% of the doc's first ``sample`` non-empty texts are fully
    english-charset once stripped (rag/nlp/__init__.py:228-245 is_english;
    the first-N prefix replaces the reference's random_choices sampling,
    rag/nlp/__init__.py:196-198 / book.py:132-133). Each text is stripped
    once, and only until the sample is full."""
    stripped = list(islice(filter(None, (t.strip() for t in texts if t)), sample))
    if not stripped:
        return False
    eng = sum(1 for t in stripped if _FULL_ENG.fullmatch(t))
    return (eng / len(stripped)) > 0.8
