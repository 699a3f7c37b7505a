"""Single-doc assembly kernels for the model-fronted chunker family:
picture, audio, resume (rag/app/picture.py, rag/app/audio.py,
rag/app/resume.py).

Each of these reference chunkers is a thin shell around an external
model — OCR + a CV LLM for pictures, a speech2text LLM for audio, a
remote resume-parse service for resumes. The models are sanctioned
non-goals in this container (SURVEY §2.4), so every kernel here takes
the model's OUTPUT as an argument (or an injectable hook) and implements
everything the reference does after the model returns: route branches,
extension gates, title composition, field mapping, and the tokenized
doc-field assembly. This is the same contract as ops/multimodal.py's
stubbed decode — the plumbing and semantics are real and tested; the
model call is the documented seam.
"""

from __future__ import annotations

import re

from ragflow_spark.functions.trie_tokenizer import (
    fine_grained_tokenize,
    tokenize,
)

# reference tokenize() strips these before building ltks
# (rag/nlp/__init__.py:261)
TABLE_TAG_RE = re.compile(r"</?(table|td|caption|tr|th)( [^<>]{0,12})?>")

_EXT_RE = re.compile(r"\.[a-zA-Z]+$")


def tks_pair(text: str, title: bool = False) -> tuple[str, str]:
    """(tks, sm_tks): the reference's tokenized field pair — ``text``
    loses its table tags (a ``title`` its file extension instead), the trie
    tokenizer builds ``tks`` and ``sm_tks`` is its fine-grained re-split.
    The one copy of this contract: every content/title field pair of the
    doc assemblies here and in operators/extract goes through it."""
    text = _EXT_RE.sub("", text) if title else TABLE_TAG_RE.sub(" ", text)
    tks = tokenize(text)
    return tks, fine_grained_tokenize(tks)


def rm_space(txt: str) -> str:
    """Collapse spaces that touch a non-alphanumeric neighbour
    (rag/utils/__init__.py:37-39) — the reference applies this to every
    ``*_tks`` resume field before display."""
    txt = re.sub(
        r"([^a-z0-9.,\)>]) +([^ ])", r"\1\2", txt, flags=re.IGNORECASE
    )
    return re.sub(
        r"([^ ]) +([^a-z0-9.,\(<])", r"\1\2", txt, flags=re.IGNORECASE
    )


def doc_text_fields(doc: dict, text: str) -> dict:
    """The reference ``tokenize(d, t, eng)`` doc assembly
    (rag/nlp/__init__.py:260-264): raw text becomes
    ``content_with_weight``; table tags are stripped before the trie
    tokenizer builds ``content_ltks``; ``content_sm_ltks`` is the
    fine-grained re-split."""
    doc["content_with_weight"] = text
    doc["content_ltks"], doc["content_sm_ltks"] = tks_pair(text)
    return doc


def picture_doc(
    filename: str,
    ocr_text: str,
    is_english: bool = True,
    describe=None,
) -> dict | None:
    """Picture chunker (rag/app/picture.py:34-65). ``ocr_text`` is the
    OCR model's line-joined output; ``describe`` is the CV-LLM hook
    ``(filename, ocr_text) -> str`` used only when the OCR text is too
    short (<=32 words english / <=32 chars otherwise). With no hook the
    short route returns None — the reference's empty-result exception
    path — because no CV model exists in this container."""
    doc = {
        "docnm_kwd": filename,
        "title_tks": tks_pair(filename, title=True)[0],
        "doc_type_kwd": "image",
    }
    txt = ocr_text or ""
    if (is_english and len(txt.split()) > 32) or len(txt) > 32:
        return doc_text_fields(doc, txt)
    if describe is None:
        return None
    try:
        ans = describe(filename, txt)
    except Exception:
        return None
    return doc_text_fields(doc, txt + "\n" + ans)


# vendored from rag/app/audio.py:37 (duplicates dropped)
AUDIO_EXTS = frozenset(
    [".da", ".wave", ".wav", ".mp3", ".aac", ".flac", ".ogg", ".aiff",
     ".au", ".midi", ".wma", ".realaudio", ".vqf", ".oggvorbis", ".ape"]
)


def audio_doc(
    filename: str,
    transcription: str | None,
    is_english: bool = True,
) -> dict | None:
    """Audio chunker (rag/app/audio.py:26-61). ``transcription`` is the
    speech2text model's output (None = no model / transcription failed —
    the reference's exception path). Files without an extension or with
    an unsupported one are rejected before the model would even run
    (splitext semantics, audio.py:33-38). The title strip regex is the
    reference's ``\\.[a-zA-Z]+$`` — which does NOT strip digit-bearing
    extensions like .mp3, so those land in the title tokens; reproduced
    faithfully."""
    base, dot, tail = filename.rpartition(".")
    ext = (dot + tail).lower() if base else ""
    if not ext or ext not in AUDIO_EXTS:
        return None
    if transcription is None:
        return None
    title_tks, title_sm_tks = tks_pair(filename, title=True)
    doc = {"docnm_kwd": filename, "title_tks": title_tks, "title_sm_tks": title_sm_tks}
    return doc_text_fields(doc, transcription)


# vendored output contract (rag/app/resume.py:95-125): target field →
# display label; the （…） parenthetical is stripped from labels when the
# content text is rendered, exactly as the reference does.
RESUME_FIELD_MAP: dict[str, str] = {
    "name_kwd": "姓名/名字",
    "name_pinyin_kwd": "姓名拼音/名字拼音",
    "gender_kwd": "性别（男，女）",
    "age_int": "年龄/岁/年纪",
    "phone_kwd": "电话/手机/微信",
    "email_tks": "email/e-mail/邮箱",
    "position_name_tks": "职位/职能/岗位/职责",
    "expect_city_names_tks": "期望城市",
    "work_exp_flt": "工作年限/工作年份/N年经验/毕业了多少年",
    "corporation_name_tks": "最近就职(上班)的公司/上一家公司",
    "first_school_name_tks": "第一学历毕业学校",
    "first_degree_kwd": "第一学历（高中，职高，硕士，本科，博士，初中，中技，中专，专科，专升本，MPA，MBA，EMBA）",
    "highest_degree_kwd": "最高学历（高中，职高，硕士，本科，博士，初中，中技，中专，专科，专升本，MPA，MBA，EMBA）",
    "first_major_tks": "第一学历专业",
    "edu_first_fea_kwd": "第一学历标签（211，留学，双一流，985，海外知名，重点大学，中专，专升本，专科，本科，大专）",
    "degree_kwd": "过往学历（高中，职高，硕士，本科，博士，初中，中技，中专，专科，专升本，MPA，MBA，EMBA）",
    "major_tks": "学过的专业/过往专业",
    "school_name_tks": "学校/毕业院校",
    "sch_rank_kwd": "学校标签（顶尖学校，精英学校，优质学校，一般学校）",
    "edu_fea_kwd": "教育标签（211，留学，双一流，985，海外知名，重点大学，中专，专升本，专科，本科，大专）",
    "corp_nm_tks": "就职过的公司/之前的公司/上过班的公司",
    "edu_end_int": "毕业年份",
    "industry_name_tks": "所在行业",
    "birth_dt": "生日/出生年份",
    "expect_position_name_tks": "期望职位/期望职能/期望岗位",
}

# multi-valued fields that stay lists in the doc (rag/app/resume.py:30)
RESUME_FORBIDDEN_SELECT = frozenset(
    ["name_pinyin_kwd", "edu_first_fea_kwd", "degree_kwd",
     "sch_rank_kwd", "edu_fea_kwd"]
)

_PAREN_RE = re.compile(r"（[^（）]+）")


def resume_doc(filename: str, parsed: dict) -> dict | None:
    """Resume chunker post-parse assembly (rag/app/resume.py:75-168).
    ``parsed`` is the parse service's field dict (the step_two output
    shape — the remote call itself is the non-goal seam). Fewer than 7
    parsed fields is the reference's parse-failure contract → None.

    The title concatenates name/gender/position/age plus the 简历
    suffix; content renders 'label: value' lines with label
    parentheticals stripped; every ``*_tks`` field is rm_space'd for
    display and fine-grained-tokenized in the doc copy; listed values
    collapse to their first element unless the field is in the
    forbidden-select set."""
    if len(parsed.keys()) < 7:
        return None
    titles = []
    for n in ["name_kwd", "gender_kwd", "position_name_tks", "age_int"]:
        v = parsed.get(n, "")
        if isinstance(v, list):
            v = v[0] if v else ""
        if n.find("tks") > 0:
            v = rm_space(str(v))
        titles.append(str(v))
    title_tks = tokenize("-".join(titles) + "-简历")
    doc: dict = {
        "docnm_kwd": filename,
        "title_tks": title_tks,
        "title_sm_tks": fine_grained_tokenize(title_tks),
    }
    pairs = []
    for n, label in RESUME_FIELD_MAP.items():
        if not parsed.get(n):
            continue
        v = parsed[n]
        if isinstance(v, list):
            v = " ".join(str(x) for x in v)
        if n.find("tks") > 0:
            v = rm_space(str(v))
        pairs.append((label, str(v)))
    content = "\n".join(
        "{}: {}".format(_PAREN_RE.sub("", k), v) for k, v in pairs
    )
    doc["content_with_weight"] = content
    doc["content_ltks"] = tokenize(content)
    doc["content_sm_ltks"] = fine_grained_tokenize(doc["content_ltks"])
    for n in RESUME_FIELD_MAP:
        if n not in parsed:
            continue
        v = parsed[n]
        if isinstance(v, list) and (
            len(v) == 1 or n not in RESUME_FORBIDDEN_SELECT
        ):
            v = v[0] if v else ""
        if n.find("_tks") > 0:
            v = fine_grained_tokenize(str(v))
        doc[n] = v
    return doc


def clean_markdown_block(text: str) -> str:
    """Strip the ```markdown fence a vision LLM wraps its answer in
    (rag/utils/__init__.py:97-100) — the local half of
    ``vision_llm_chunk`` (rag/app/picture.py:68-94); the model call is
    the injectable seam, same as ``picture_doc``'s describe hook."""
    text = re.sub(r"^\s*```markdown\s*\n?", "", text)
    text = re.sub(r"\n?\s*```\s*$", "", text)
    return text.strip()


def vision_llm_doc(filename: str, describe=None) -> str:
    """vision_llm_chunk (rag/app/picture.py:68-94): the model's markdown
    answer, fence-stripped, prefixed with the reference's newline. Empty
    string on a missing/failing model — the reference's exception path."""
    if describe is None:
        return ""
    try:
        ans = clean_markdown_block(describe(filename))
    except Exception:
        return ""
    return "\n" + ans
