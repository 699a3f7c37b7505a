"""Template chunkers — merge/split with token budgets.

From-scratch implementations of the reference's chunking semantics:

- naive_merge            rag/nlp/__init__.py:521-656 (one loop: naive_merge_with_media)
- bullets_category       rag/nlp/__init__.py:168-225
- title_frequency        rag/nlp/__init__.py:401-428
- hierarchical_merge     rag/nlp/__init__.py:431-518 (incl. 218-token coalesce)
- make_colon_as_title    rag/nlp/__init__.py:379-398
- remove_contents_table  rag/nlp/__init__.py:347-376
- paper pivot merge      rag/app/paper.py:186-209 (+ title/author/abstract 86-118)
- book dispatch          rag/app/book.py:131-143

All random sampling in the reference (random_choices) is replaced with
deterministic first-k prefixes (SURVEY.md §4.3 "deterministic everything").
Sections are (text, layout_kind) pairs; positions are structs, never inline
tags, so the reference's pos/tag plumbing has no analog here.
"""

from __future__ import annotations

import re
from collections import Counter

from ragflow_spark.functions.delimiters import get_delimiters
from ragflow_spark.functions.tokens import num_tokens
from ragflow_spark.kernels.layout import _is_toc_head, toc_kept

BULLET_DIALECTS: list[list[str]] = [
    [  # CN legal
        r"第[零一二三四五六七八九十百0-9]+(?:分?编|部分)",
        r"第[零一二三四五六七八九十百0-9]+章",
        r"第[零一二三四五六七八九十百0-9]+节",
        r"第[零一二三四五六七八九十百0-9]+条",
        r"[\(（][零一二三四五六七八九十百]+[\)）]",
    ],
    [  # numeric dotted
        r"第[0-9]+章",
        r"第[0-9]+节",
        r"[0-9]{,2}[\. 、]",
        r"[0-9]{,2}\.[0-9]{,2}[^a-zA-Z/%~-]",
        r"[0-9]{,2}\.[0-9]{,2}\.[0-9]{,2}",
        r"[0-9]{,2}\.[0-9]{,2}\.[0-9]{,2}\.[0-9]{,2}",
    ],
    [  # CN enumerations
        r"第[零一二三四五六七八九十百0-9]+章",
        r"第[零一二三四五六七八九十百0-9]+节",
        r"[零一二三四五六七八九十百]+[ 、]",
        r"[\(（][零一二三四五六七八九十百]+[\)）]",
        r"[\(（][0-9]{,2}[\)）]",
    ],
    [  # EN Part/Chapter/Section/Article
        r"PART (?:ONE|TWO|THREE|FOUR|FIVE|SIX|SEVEN|EIGHT|NINE|TEN)",
        r"Chapter (?:I+V?|VI*|XI|IX|X)",
        r"Section [0-9]+",
        r"Article [0-9]+",
        # engine extension: plain english "Chapter 3" numbering (fixtures use it)
        r"Chapter [0-9]+",
    ],
]

# each dialect as one ordered alternation, one capturing group per pattern
# (the patterns' own groups are non-capturing): under match() the first
# pattern that matches wins, as a loop over the patterns would, and
# m.lastindex - 1 is its rank
_DIALECT_RES = [re.compile("|".join(f"({p})" for p in d)) for d in BULLET_DIALECTS]

_NOT_BULLET = [re.compile(p) for p in (r"0", r"[0-9]+ +[0-9~个只-]", r"[0-9]+\.{2,}")]


def not_bullet(line: str) -> bool:
    return any(p.match(line) for p in _NOT_BULLET)


def outline_rank(bull: int, txt: str, layout: str | None = "", strict: bool = False) -> int:
    """Outline level of one section under dialect ``bull``: the rank of the
    first dialect pattern matching the stripped text; else ``len(dialect)``
    for a ``(title|head)`` layout whose text reads as a title, else
    ``len(dialect) + 1`` (body). ``strict`` denies a pattern rank to a text
    ``not_bullet`` rejects: the reference's title_frequency tests it and its
    hierarchical_merge does not, a difference kept here."""
    m = _DIALECT_RES[bull].match(txt.strip())
    if m and not (strict and not_bullet(txt)):
        return m.lastindex - 1
    size = len(BULLET_DIALECTS[bull])
    if layout and ("title" in layout or "head" in layout) and not not_title(txt):
        return size
    return size + 1


def bullets_category(sections: list[str]) -> int:
    """Pick the bullet dialect with the most distinct matching sections; -1
    when nothing matches (rag/nlp/__init__.py:208-225)."""
    stripped = [sec.strip() for sec in sections]
    best, best_hits = -1, 0
    for i, dialect in enumerate(BULLET_DIALECTS):
        hits = sum(outline_rank(i, s, strict=True) < len(dialect) for s in stripped)
        if hits > best_hits:
            best, best_hits = i, hits
    return best


def not_title(txt: str) -> bool:
    """rag/nlp/__init__.py:423-428."""
    if re.match(r"第[零一二三四五六七八九十百0-9]+条", txt):
        return False
    if len(txt.split()) > 12 or (txt.find(" ") < 0 and len(txt) >= 32):
        return True
    return bool(re.search(r"[,;，。；！!]", txt))


def title_frequency(bull: int, sections: list[tuple[str, str]]) -> tuple[int, list[int]]:
    """Per-section outline level (``outline_rank``, strict) + the most
    frequent real level (rag/nlp/__init__.py:401-420)."""
    if bull < 0 or not sections:
        size = 0 if bull < 0 else len(BULLET_DIALECTS[bull])
        return size + 1, [size + 1] * len(sections)
    size = len(BULLET_DIALECTS[bull])
    levels = [outline_rank(bull, txt, layout, strict=True) for txt, layout in sections]
    most = size + 1
    for level, _cnt in sorted(Counter(levels).items(), key=lambda kv: -kv[1]):
        if level <= size:
            most = level
            break
    return most, levels


def _section_ids(levels: list[int], most_level: int) -> list[int]:
    """Section id per section: it advances at every section of a title
    level (<= ``most_level``) whose level differs from the one before
    (the paper and manual templates' pivot rule)."""
    ids, sid = [], 0
    for k, lvl in enumerate(levels):
        if lvl <= most_level and k > 0 and lvl != levels[k - 1]:
            sid += 1
        ids.append(sid)
    return ids


def make_colon_as_title(sections: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """A trailing colon-phrase after a >=32-char sentence spawns a synthetic
    title section before itself (rag/nlp/__init__.py:379-398).

    Note: the reference's guard at :395 tests ``len(arr[1])`` — the *captured
    separator* (always 1-2 chars) — which makes the operator inert. This
    engine implements the evident intent: the segment *before* the separator
    (``arr[2]``) must be >=32 chars."""
    out: list[tuple[str, str]] = []
    for txt, layout in sections:
        t = txt.strip()
        if t and t[-1] in ":：":
            rev = t[::-1]
            arr = re.split(r"([。？！!?;；]| \.)", rev)
            if len(arr) >= 3 and len(arr[2]) >= 32:
                out.append((arr[0][::-1], "title"))
        out.append((txt, layout))
    return out


def remove_contents_table(sections: list[tuple[str, str]], eng: bool) -> list[tuple[str, str]]:
    """Drop every table-of-contents block (rag/nlp/__init__.py:347-376):
    ``layout.toc_kept`` with a contents heading read from the stripped text
    and the doc's language flag for every block."""
    keep = toc_kept([t for t, _ in sections], lambda t: _is_toc_head(t.strip()), lambda _: eng)
    return [sections[k] for k in keep]


def naive_merge(
    sections: list[str],
    chunk_token_num: int = 128,
    delimiter: str = "\n。；！？",
    overlapped_percent: int = 0,
) -> list[str]:
    """Greedy token-budget accumulation (rag/nlp/__init__.py:521-563): the
    text-only view of ``naive_merge_with_media``, the one merge loop."""
    return naive_merge_with_media(
        [(s, "") for s in sections], chunk_token_num, delimiter, overlapped_percent
    )[0]


def naive_merge_with_media(
    sections: list[tuple[str, str]],
    chunk_token_num: int = 128,
    delimiter: str = "\n。；！？",
    overlapped_percent: int = 0,
) -> tuple[list[str], list[list[str]]]:
    """The greedy token-budget merge (rag/nlp/__init__.py:521-563
    naive_merge, carrying media as in :566-656 naive_merge_with_images +
    concat_img): a new chunk starts once the current one has *exceeded*
    budget*(100-ov)/100; overlap carries the character tail of the previous
    chunk; sections larger than the budget are pre-split on the delimiter
    set. Each section is (text, media_ref); a chunk collects the refs of
    every section merged into it. The concat_img analog for
    reference-valued media is ref-list concatenation with
    identical-neighbor dedup (concat_img returns one image when both sides
    are pixel-identical). A ref with blank text still attaches to the chunk
    being accumulated. Each section or sub-section is token-counted once:
    the budget check's count is the one ``add`` accumulates."""
    if not sections:
        return [], []
    cks = [""]
    refs: list[list[str]] = [[]]
    tk_nums = [0]
    keep = (100 - overlapped_percent) / 100.0

    def attach(ref: str) -> None:
        if ref and (not refs[-1] or refs[-1][-1] != ref):
            refs[-1].append(ref)

    def add(t: str, ref: str, tnum: int) -> None:
        if cks[-1] == "" or tk_nums[-1] > chunk_token_num * keep:
            if overlapped_percent and cks[-1]:
                prev = cks[-1]
                t = prev[int(len(prev) * keep):] + t
            cks.append(t)
            refs.append([])
            tk_nums.append(tnum)
        else:
            cks[-1] += t
            tk_nums[-1] += tnum
        attach(ref)

    dels = get_delimiters(delimiter)
    dels_re = re.compile(f"^(?:{dels})$") if dels else None
    for sec, ref in sections:
        if ref and not sec.strip():
            attach(ref)  # caption-less figure: ride with the current chunk
            continue
        tnum = num_tokens(sec)
        if tnum < chunk_token_num:
            add(sec, ref, tnum)
            continue
        first = True
        for sub in re.split(f"({dels})", sec, flags=re.DOTALL) if dels else [sec]:
            if not sub or (dels_re and dels_re.match(sub)):
                continue
            add(sub, ref if first else "", num_tokens(sub))
            first = False

    out_c, out_r = [], []
    for c, r in zip(cks, refs):
        if c.strip() or r:
            out_c.append(c)
            out_r.append(r)
    return out_c, out_r


def hierarchical_merge(
    bull: int, sections: list[tuple[str, str]], depth: int
) -> list[list[str]]:
    """Outline-driven chunking (rag/nlp/__init__.py:431-518): bucket sections
    by outline level; for each section at the top ``depth`` levels, walk the
    most recent ancestor at every deeper level to build a [title-chain...,
    body] chunk; coalesce singleton chunks while they stay under 218 tokens."""
    if not sections or bull < 0:
        return []
    secs = [
        (t, o)
        for t, o in sections
        if t and len(t.strip()) > 1 and not re.match(r"[0-9]+$", t.strip())
    ]
    if not secs:
        return []
    import numpy as np

    n_levels = len(BULLET_DIALECTS[bull]) + 2  # pattern ranks, layout-title, body
    texts = [t for t, _ in secs]

    # 1. level vector: one pass classifying every section
    lvl = np.array([outline_rank(bull, t, o) for t, o in secs])
    # position index per level for O(log n) most-recent-ancestor lookups
    pos = {L: np.flatnonzero(lvl == L) for L in range(n_levels)}

    def before(L: int, j: int) -> int:
        """Most recent section index strictly before j at level L, -1 if
        none (the reference's binary search over its level buckets)."""
        arr = pos[L]
        k = int(np.searchsorted(arr, j))
        return int(arr[k - 1]) if k > 0 else -1

    # 2. chunk assembly: the deepest ``depth`` levels start chunks; each
    # start pulls its most-recent ancestor at every shallower level. An
    # ancestor found AFTER the previously collected one supersedes it (the
    # deeper heading belonged to an earlier branch).
    consumed = np.zeros(len(texts), dtype=bool)
    chunks: list[list[str]] = []
    start_levels = [n_levels - 1 - d for d in range(min(depth, n_levels))]
    for L in start_levels:
        for j in pos[L]:
            j = int(j)
            if consumed[j]:
                continue
            chain = [j]
            if L != 1:  # quirk preserved: level-1 starts take no ancestors
                for L2 in range(L - 1, -1, -1):
                    a = before(L2, j)
                    if a < 0:
                        continue
                    if a > chain[-1]:
                        chain.pop()
                    chain.append(a)
            consumed[chain] = True
            chunks.append([texts[k] for k in reversed(chain)])

    if not chunks:
        return []

    # 3. singleton coalescing: lone sections pack together under 218 tokens
    res: list[list[str]] = [[]]
    budget_used = [0]
    for ck in chunks:
        if len(ck) == 1:
            n = num_tokens(ck[0])
            if n + budget_used[-1] < 218:
                res[-1].append(ck[0])
                budget_used[-1] += n
                continue
            res.append(ck)
            budget_used.append(n)
        else:
            res.append(ck)
            budget_used.append(218)
    return [r for r in res if r]


_PAPER_BEGIN = re.compile(
    r"[0-9. 一、i]*(introduction|abstract|摘要|引言|keywords|key words|关键词|"
    r"background|背景|目录|前言|contents)"
)


def paper_chunk(sections: list[tuple[str, str]]) -> dict:
    """Paper pivot merge (rag/app/paper.py:86-209): sniff title/authors from
    the first title box, pull the abstract as an unsplittable chunk, then set
    a pivot at every section whose outline level <= the doc's most frequent
    title level and concatenate between pivots."""
    title, authors = "", []
    i = 0
    boxes = sections
    while i < min(32, len(boxes) - 1):
        txt, layout = boxes[i]
        i += 1
        if "title" in (layout or ""):
            title = txt
            if _PAPER_BEGIN.match(title.lower().strip()):
                title = ""
                break
            for j in range(min(3, len(boxes) - i)):
                if _PAPER_BEGIN.match(boxes[i + j][0].lower().strip()):
                    break
                authors.append(boxes[i + j][0])
                break
            break

    abstract = ""
    i = 0
    while i + 1 < min(32, len(boxes)):
        txt = boxes[i][0].lower().strip()
        i += 1
        if re.match(r"(abstract|摘要)", txt):
            if len(txt.split()) > 32 or len(txt) > 64:
                abstract = boxes[i - 1][0]
                break
            nxt = boxes[i][0].lower().strip()
            if len(nxt.split()) > 32 or len(nxt) > 64:
                abstract = boxes[i][0]
            i += 1
            break
    if not abstract:
        i = 0

    body = boxes[i:]
    bull = bullets_category([t for t, _ in body])
    most_level, levels = title_frequency(bull, body)
    sec_ids = _section_ids(levels, most_level)
    chunks: list[str] = []
    last_sid = -2
    for (txt, _), sec_id in zip(body, sec_ids):
        if sec_id == last_sid and chunks:
            chunks[-1] += "\n" + txt
            continue
        chunks.append(txt)
        last_sid = sec_id
    return {
        "title": title,
        "authors": " ".join(authors),
        "abstract": abstract,
        "chunks": chunks,
    }


def book_chunk(
    sections: list[tuple[str, str]],
    eng: bool,
    chunk_token_num: int = 256,
    delimiter: str = "\n。；！？",
) -> list[str]:
    """Book dispatch (rag/app/book.py:131-143): colon titles, ToC removal,
    bullet-dialect detection on the first 100 sections (deterministic stand-in
    for random_choices), hierarchical merge depth 5, else naive merge 256."""
    secs = make_colon_as_title(remove_contents_table(sections, eng))
    return _outline_or_naive(secs, chunk_token_num, delimiter)


def laws_chunk(
    sections: list[tuple[str, str]],
    chunk_token_num: int = 512,
    delimiter: str = "\n。；！？",
) -> list[str]:
    """Laws template (rag/app/laws.py:143-211): sections arrive already
    vertically merged (laws.py:135 uses _naive_vertical_merge only); bullet
    dialect → hierarchical merge depth 5 (laws.py:206); no dialect → the
    naive budget fallback."""
    secs = [(t, o) for t, o in sections if t and t.strip()]
    return _outline_or_naive(secs, chunk_token_num, delimiter)


def _outline_or_naive(
    secs: list[tuple[str, str]], chunk_token_num: int, delimiter: str
) -> list[str]:
    """The book and laws tail: a bullet dialect among the first 100
    sections → hierarchical merge depth 5, each chunk newline-joined; no
    dialect → the naive budget merge."""
    bull = bullets_category([t for t, _ in secs[:100]])
    if bull >= 0:
        return ["\n".join(ck) for ck in hierarchical_merge(bull, secs, 5)]
    return naive_merge([t for t, _ in secs], chunk_token_num, delimiter)


# question bullets (reference QUESTION_PATTERN rag/nlp/__init__.py:74-86,
# has_qbullet :89-129) — the live subset: CN 第X问/题, Q1:/Question 1:,
# numbered questions ending in ?/？
QUESTION_PATTERNS = [
    re.compile(r"^第[零一二三四五六七八九十百0-9]+[问题]"),
    re.compile(r"^[QqＱ][uestion]*\s*[0-9０-９]+[::：.、\s]"),
    re.compile(r"^[0-9０-９]+[::：.、\s].{0,200}[?？]\s*$"),
    re.compile(r"^(问|Q|q)[::：]"),
]


def is_question(line: str) -> bool:
    t = (line or "").strip()
    if not t:
        return False
    return any(p.search(t) for p in QUESTION_PATTERNS)


def qa_pairs(sections: list[str]) -> list[tuple[str, str]]:
    """QA template (rag/app/qa.py:313-471 text path): a question-bullet line
    opens a pair; subsequent non-question lines accumulate as the answer;
    preamble before the first question is dropped (qa.py beginQ semantics)."""
    pairs: list[tuple[str, str]] = []
    q: str | None = None
    ans: list[str] = []
    for line in sections:
        if is_question(line):
            if q is not None:
                pairs.append((q.strip(), "\n".join(ans).strip()))
            q, ans = line, []
        elif q is not None:
            ans.append(line)
    if q is not None:
        pairs.append((q.strip(), "\n".join(ans).strip()))
    return pairs


# ---------------------------------------------------------- qa: index parse
# (rag/nlp/__init__.py:132-147 index_int — w2n / cn2an / roman libs replaced
# by self-contained converters for the value ranges the QUESTION_PATTERN
# families can produce)

_EN_NUMS = {
    "zero": 0, "one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
    "six": 6, "seven": 7, "eight": 8, "nine": 9, "ten": 10, "eleven": 11,
    "twelve": 12, "thirteen": 13, "fourteen": 14, "fifteen": 15,
    "sixteen": 16, "seventeen": 17, "eighteen": 18, "nineteen": 19,
    "twenty": 20, "thirty": 30, "forty": 40, "fifty": 50, "sixty": 60,
    "seventy": 70, "eighty": 80, "ninety": 90,
}
_CN_DIGITS = {"零": 0, "一": 1, "二": 2, "三": 3, "四": 4, "五": 5,
              "六": 6, "七": 7, "八": 8, "九": 9}
_ROMAN = {"I": 1, "V": 5, "X": 10, "L": 50, "C": 100}


def _en2num(s: str) -> int:
    total = 0
    for w in re.split(r"[\s-]+", s.lower().strip()):
        if w not in _EN_NUMS:
            raise ValueError(s)
        total += _EN_NUMS[w]
    return total


def _cn2num(s: str) -> int:
    s = s.strip()
    if not s or any(c not in _CN_DIGITS and c not in "十百" for c in s):
        raise ValueError(s)
    total, cur = 0, 0
    for c in s:
        if c == "十":
            total += (cur or 1) * 10
            cur = 0
        elif c == "百":
            total += (cur or 1) * 100
            cur = 0
        else:
            cur = _CN_DIGITS[c]
    return total + cur


def _roman2num(s: str) -> int:
    s = s.strip().upper()
    if not s or any(c not in _ROMAN for c in s):
        raise ValueError(s)
    total = 0
    for i, c in enumerate(s):
        v = _ROMAN[c]
        if i + 1 < len(s) and _ROMAN[s[i + 1]] > v:
            total -= v
        else:
            total += v
    return total


def index_int(index_str: str) -> int:
    """Question-bullet index → int: arabic, english words, chinese numerals,
    roman numerals; -1 when unparseable (rag/nlp/__init__.py:132-147)."""
    for conv in (int, _en2num, _cn2num, _roman2num):
        try:
            return int(conv(index_str))
        except (ValueError, TypeError):
            continue
    return -1


# QUESTION_PATTERN dialects (rag/nlp/__init__.py:74-86) — capture group 1 is
# the bullet index
QUESTION_DIALECTS = [
    re.compile(p)
    for p in [
        r"第([零一二三四五六七八九十百0-9]+)问",
        r"第([零一二三四五六七八九十百0-9]+)条",
        r"[\(（]([零一二三四五六七八九十百]+)[\)）]",
        r"第([0-9]+)问",
        r"第([0-9]+)条",
        r"([0-9]{1,2})[\. 、]",
        r"([零一二三四五六七八九十百]+)[ 、]",
        r"[\(（]([0-9]{1,2})[\)）]",
        r"QUESTION (ONE|TWO|THREE|FOUR|FIVE|SIX|SEVEN|EIGHT|NINE|TEN)",
        r"QUESTION (I+V?|VI*|XI|IX|X)",
        r"QUESTION ([0-9]+)",
    ]
]


def qbullets_category(sections: list[str]) -> tuple[int, re.Pattern | None]:
    """Pick the question-bullet dialect (rag/nlp/__init__.py:150-165),
    faithfully: the reference ``break``s after the FIRST matching section
    per pattern, so per-pattern hits are 0/1 and the argmax (with its
    ``h <= maxium: continue`` tie rule) reduces to the EARLIEST pattern
    in the list with any matching non-not_bullet section — not the
    most-frequently-matching one."""
    for i, pat in enumerate(QUESTION_DIALECTS):
        for s in sections:
            t = (s or "").strip()
            if pat.match(t) and not not_bullet(t):
                return i, QUESTION_DIALECTS[i]
    return -1, None


_Q_TAIL = r"(\w|\W)*?(?:？|\?|\n|$)+"
_ASK_RE = re.compile(r"(what|when|where|how|why|which|who|whose|为什么|为啥|哪)")


def has_qbullet(
    reg: re.Pattern,
    box: dict,
    last_box: dict,
    last_index: int,
    last_bull,
    bull_x0_list: list[float],
):
    """Geometry-aware question-bullet detection for the PDF route
    (rag/nlp/__init__.py:89-129): a bullet is rejected when it is indented
    past the previous bullet (x0 drift > 10), when an unbulleted line just
    above continues at the same indent, or when its index regresses without
    a '?', title tag, or interrogative opener."""
    section = box["text"] or ""
    last_section = (last_box.get("text") or "")
    m = re.match(reg.pattern + _Q_TAIL, section)
    if not m:
        return None, last_index
    last_x0 = last_box.get("x0", box["x0"])
    last_top = last_box.get("top", box["top"])
    if last_bull and box["x0"] - last_x0 > 10:
        return None, last_index
    if not last_bull and box["x0"] >= last_x0 and box["top"] - last_top < 20:
        return None, last_index
    avg_x0 = sum(bull_x0_list) / len(bull_x0_list) if bull_x0_list else box["x0"]
    if box["x0"] - avg_x0 > 10:
        return None, last_index
    index = index_int(m.group(1))
    if last_section.endswith((":", "：")):
        return None, last_index
    if not last_index or index >= last_index:
        bull_x0_list.append(box["x0"])
        return m, index
    if section.rstrip().endswith(("?", "？")):
        bull_x0_list.append(box["x0"])
        return m, index
    if box.get("kind") == "title":
        bull_x0_list.append(box["x0"])
        return m, index
    lead = reg.match(section)
    pure = section[lead.end():].strip().lower() if lead else section.lower()
    if _ASK_RE.match(pure):
        bull_x0_list.append(box["x0"])
        return m, index
    return None, last_index


def qa_pairs_pdf(boxes: list[dict]) -> list[tuple[str, str]]:
    """PDF qa route (rag/app/qa.py:79-180 reduced to the text/geometry
    core): dialect-detect the question bullets, then fold boxes into
    (question, answer) pairs using has_qbullet's geometry checks. Table
    interleave is not replayed here — tables are standalone chunks in this
    engine."""
    sections = [(b["text"] or "") for b in boxes]
    q_bull, reg = qbullets_category(sections)
    if q_bull == -1 or reg is None:
        return []
    pairs: list[tuple[str, str]] = []
    last_q, ans = "", []
    last_index = -1
    last_box: dict = {"text": ""}
    last_bull = None
    bull_x0_list: list[float] = []
    for box in boxes:
        m, index = has_qbullet(
            reg, box, last_box, last_index, last_bull, bull_x0_list
        )
        last_box, last_index, last_bull = box, index, m
        if m:
            if last_q:
                pairs.append((last_q.strip(), "\n".join(ans).strip()))
            last_q, ans = box["text"] or "", []
        elif last_q:
            ans.append(box["text"] or "")
    if last_q:
        pairs.append((last_q.strip(), "\n".join(ans).strip()))
    return pairs


def qa_pairs_tabular(lines: list[str]) -> list[tuple[str, str]]:
    """Tabular qa route (rag/app/qa.py:338-375 txt path): sniff the
    delimiter (tab vs comma by 2-field line counts, tab wins ties); a
    2-field line opens a new pair (pushing the previous when both question
    and answer are filled); other lines append to the open answer; the
    trailing question flushes."""
    comma = sum(1 for ln in lines if len(ln.split(",")) == 2)
    tab = sum(1 for ln in lines if len(ln.split("\t")) == 2)
    delim = "\t" if tab >= comma else ","
    pairs: list[tuple[str, str]] = []
    question, answer = "", ""
    for ln in lines:
        arr = ln.split(delim)
        if len(arr) != 2:
            if question:
                answer += "\n" + ln
            continue
        if question and answer:
            pairs.append((question, answer))
        question, answer = arr
    if question:
        pairs.append((question, answer))
    return pairs


_MD_HEADING = re.compile(r"^(#+)\s*(.*)$")


def qa_pairs_markdown(lines: list[str]) -> list[tuple[str, str]]:
    """Markdown qa route (rag/app/qa.py:418-452): headings are questions; a
    heading stack tracks the hierarchy (a new heading pops deeper/equal
    levels); accumulated body lines become the answer of the joined
    question stack. Answers stay raw markdown (the reference renders HTML
    via the markdown lib — documented deviation); code fences suppress
    heading detection."""
    pairs: list[tuple[str, str]] = []
    last_answer = ""
    question_stack: list[str] = []
    level_stack: list[int] = []
    code_block = False
    for line in lines:
        if line.strip().startswith("```"):
            code_block = not code_block
        level, question = 0, ""
        if not code_block:
            m = _MD_HEADING.match(line)
            if m:
                level, question = len(m.group(1)), m.group(2)
        if not level or level > 6:
            last_answer += "\n" + line
            continue
        if last_answer.strip():
            sum_q = "\n".join(question_stack)
            if sum_q:
                pairs.append((sum_q, last_answer.strip()))
            last_answer = ""
        while question_stack and level <= level_stack[-1]:
            question_stack.pop()
            level_stack.pop()
        question_stack.append(question)
        level_stack.append(level)
    if last_answer.strip():
        sum_q = "\n".join(question_stack)
        if sum_q:
            pairs.append((sum_q, last_answer.strip()))
    return pairs


def manual_chunk(sections: list[tuple[str, str]]) -> list[str]:
    """Manual template (rag/app/manual.py:214-253, non-outline PDF path):
    bullet dialect → per-section outline levels → section ids that advance
    when a title-level section changes level; then a fold that keeps
    gluing while the chunk is tiny (<32 tokens) or stays in the same
    section under 1024 tokens. Position tags ride as structs upstream, and
    tables are standalone chunks in this engine, so the pos/table
    interleave of the reference is not replayed here."""
    if not sections:
        return []
    bull = bullets_category([t for t, _ in sections])
    most_level, levels = title_frequency(bull, sections)
    sec_ids = _section_ids(levels, most_level)
    chunks: list[str] = []
    last_sid = -2
    tk_cnt = 0
    for (txt, _), sec_id in zip(sections, sec_ids):
        if chunks and (tk_cnt < 32 or (tk_cnt < 1024 and sec_id == last_sid)):
            chunks[-1] += "\n" + txt
            tk_cnt += num_tokens(txt)
            continue
        chunks.append(txt)
        tk_cnt = num_tokens(txt)
        last_sid = sec_id
    return chunks


def email_chunk(
    texts: list[str],
    chunk_token_num: int = 128,
    delimiter: str = "\n。；！？",
) -> list[str]:
    """Email template (rag/app/email.py:85): the text body reduces to a
    naive_merge at the email default budget; header fields enter as
    ordinary leading sections."""
    return naive_merge(texts, chunk_token_num, delimiter)


_PRESENTATION_GARBAGE = re.compile(r"[0-9.,%/-]+$")


def presentation_chunk(
    spans: list[tuple[str, str, str]],
) -> tuple[list[str], list[list[str]]]:
    """Presentation template (rag/app/presentation.py:104-178): every
    slide/page becomes exactly one chunk carrying its thumbnail. In the
    interleaved span model a slide boundary IS the slide's media span (the
    pptx path emits (slide_text, thumbnail) pairs, presentation.py:33-56);
    text spans between media spans belong to the preceding slide, and text
    before any media span forms a leading slide without a thumbnail. Lines
    that are pure ``[0-9.,%/-]`` or shorter than 3 chars are dropped
    (the PDF path's __garbage, presentation.py:63-68).

    Input: ordered (kind, text, media_ref) triples; returns (texts, refs)
    aligned per chunk."""
    slides: list[tuple[list[str], list[str]]] = []

    def new_slide(ref: str) -> None:
        slides.append(([], [ref] if ref else []))

    for kind, text, ref in spans:
        if kind in ("figure", "slide", "table") and ref:
            new_slide(ref)
            lines = (text or "").split("\n")
        else:
            if not slides:
                new_slide("")
            lines = (text or "").split("\n")
        for ln in lines:
            t = ln.strip()
            if not t or len(t.lower().strip()) < 3:
                continue
            if _PRESENTATION_GARBAGE.match(t.lower().strip()):
                continue
            slides[-1][0].append(ln)
    texts, refs = [], []
    for lines, r in slides:
        if lines or r:
            texts.append("\n".join(lines))
            refs.append(r)
    return texts, refs


def tag_pairs(lines: list[str]) -> list[tuple[str, list[str]]]:
    """Tag template (rag/app/tag.py:66-97 txt path): delimiter sniff (tab vs
    comma 2-field counts, tab wins ties); non-2-field lines accumulate into
    the pending content; a 2-field line closes a pair — content gets the
    first field appended, tags parse from the second (comma-split, dots
    becoming underscores, rag/app/tag.py:25)."""
    comma = sum(1 for ln in lines if len(ln.split(",")) == 2)
    tab = sum(1 for ln in lines if len(ln.split("\t")) == 2)
    delim = "\t" if tab >= comma else ","
    pairs: list[tuple[str, list[str]]] = []
    content = ""
    for ln in lines:
        arr = ln.split(delim)
        if len(arr) != 2:
            content += "\n" + ln
            continue
        content += "\n" + arr[0]
        tags = [t.strip().replace(".", "_") for t in arr[1].split(",") if t.strip()]
        pairs.append((content, tags))
        content = ""
    return pairs
