"""Language/character-class text statistics.

Reference analogs: is_english / is_chinese (rag/nlp/__init__.py:228-257),
language detect sampling (deepdoc/parser/pdf_parser.py:1059-1066 — made
deterministic: first-N prefix instead of random sample, per SURVEY.md §4.3).
"""

from __future__ import annotations

import re

# whole-string variant: one fullmatch instead of a per-character match loop
_FULL_ENG = re.compile(r"[`a-zA-Z0-9\s.,':;/\"?<>!\(\)\-]*")
_CJK = re.compile(r"[一-鿿]")


def is_english(texts) -> bool:
    """>80% of sampled strings are fully english-charset
    (rag/nlp/__init__.py:228-245)."""
    if not texts:
        return False
    if isinstance(texts, str):
        texts = list(texts)
    texts = [t for t in texts if isinstance(t, str) and t.strip()]
    if not texts:
        return False
    eng = sum(1 for t in texts if _full_eng(t))
    return (eng / len(texts)) > 0.8


def _full_eng(t: str) -> bool:
    t = t.strip()
    return bool(t) and _FULL_ENG.fullmatch(t) is not None


def is_chinese(text: str) -> bool:
    """>20% CJK chars (rag/nlp/__init__.py:248-257)."""
    if not text:
        return False
    return len(_CJK.findall(text)) / len(text) > 0.2


def doc_is_english(texts: list[str], sample: int = 200) -> bool:
    """Deterministic doc-level language flag: first `sample` non-empty lines
    (replaces the reference's random_choices sampling,
    rag/nlp/__init__.py:196-198 / book.py:132-133)."""
    texts = [t for t in texts if t and t.strip()][:sample]
    return is_english(texts)

