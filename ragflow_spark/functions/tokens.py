"""Deterministic token counting.

The reference counts tokens with tiktoken cl100k_base
(rag/utils/__init__.py:81-89). That wheel is unavailable offline, so this is
the engine's *vendored deterministic counter* (SURVEY.md §7 "hard parts" #4):
a closed-form approximation of BPE token counts that is exactly reproducible,
fully vectorizable over Arrow batches, and expressible in ANSI SQL (so the
DuckDB oracle can recompute it):

    tokens(s) = #matches([A-Za-z0-9]{1,4})          -- ~4 chars per BPE piece
              + #matches([一-鿿])           -- ~1 token per CJK char
              + #matches(other non-space runs, <=3 chars per token)

Greedy non-overlapping regex matching makes a 9-letter word count as
ceil(9/4)=3 pieces, mirroring BPE's subword splitting. All chunk budgets in
this engine (128/256/512/218) are interpreted against this counter.
"""

from __future__ import annotations

import re

_WORD = r"[A-Za-z0-9]{1,4}"
_CJK = r"[一-鿿]"
_OTHER = r"[^\sA-Za-z0-9一-鿿]{1,3}"

# the same counter as a SQL expression template (DuckDB + Spark SQL both
# support regexp-extract-all / regexp_count style functions)
SPARK_SQL_EXPR = (
    "(regexp_count({c}, '[A-Za-z0-9]{{1,4}}') "
    "+ regexp_count({c}, '[\\\\x{{4e00}}-\\\\x{{9fff}}]') "
    "+ regexp_count({c}, '[^\\\\sA-Za-z0-9\\\\x{{4e00}}-\\\\x{{9fff}}]{{1,3}}'))"
)
DUCKDB_SQL_EXPR = (
    "(length(regexp_extract_all({c}, '[A-Za-z0-9]{{1,4}}')) "
    "+ length(regexp_extract_all({c}, '[\\x{{4e00}}-\\x{{9fff}}]')) "
    "+ length(regexp_extract_all({c}, '[^\\sA-Za-z0-9\\x{{4e00}}-\\x{{9fff}}]{{1,3}}')))"
)


# the three classes are disjoint, so one greedy alternation pass yields
# exactly the same count as the three separate passes (hot-path form)
_ALL_RE = re.compile(f"{_WORD}|{_CJK}|{_OTHER}")


def num_tokens(s: str | None) -> int:
    """Token count of one string (reference analog:
    rag/utils/__init__.py:81-89 num_tokens_from_string)."""
    if not s:
        return 0
    return len(_ALL_RE.findall(s))


def truncate(s: str, max_tokens: int) -> str:
    """Prefix of ``s`` with at most ``max_tokens`` tokens (reference analog:
    rag/utils/__init__.py:92-94). Binary search on the closed-form counter."""
    if num_tokens(s) <= max_tokens:
        return s
    lo, hi = 0, len(s)
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if num_tokens(s[:mid]) <= max_tokens:
            lo = mid
        else:
            hi = mid - 1
    return s[:lo]
