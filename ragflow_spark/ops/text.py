"""Text-analysis operators for a training-data pipeline: token counting,
language ID, quality scoring, document fingerprinting.

All hot-path expressions are JVM-side (``F.regexp_count`` / ``F.md5`` /
arithmetic) so they run inside whole-stage codegen — no Python in the scan.
Each operator ships with its DuckDB oracle SQL (identical semantics; integer
or single-division arithmetic so both engines produce bit-identical values).

Reference analogs: token counting rag/utils/__init__.py:81-89 (tiktoken,
replaced by the vendored deterministic counter in functions/tokens.py);
is_english/is_chinese char-class ratios rag/nlp/__init__.py:228-257.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ragflow_spark.functions.tokens import DUCKDB_SQL_EXPR, SPARK_SQL_EXPR
from ragflow_spark.ops.tables import load

# ---------------------------------------------------------------- shared exprs
# language marker stopwords (word-boundary regex; same pattern string is valid
# for Java regex and RE2)
LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is|was|that|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein)\b",
    "fr": r"\b(le|la|les|et|est|dans|pour|une)\b",
    "es": r"\b(el|los|las|y|es|en|por|una)\b",
}
CJK_CLASS = "[\\x{4e00}-\\x{9fff}]"
PUNCT_CLASS = r"[.,;:!?]"

# normalized text: lowercase, whitespace collapsed, trimmed
SPARK_NORM = "lower(trim(regexp_replace({c}, '\\\\s+', ' ')))"
DUCK_NORM = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"


def _word_count_spark(c):
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    )


_WORD_COUNT_DUCK = (
    "case when length(trim({c})) = 0 then 0 "
    "else len(regexp_split_to_array(trim({c}), '\\s+')) end"
)


# ---------------------------------------------------------------- token stats
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token / word / char counts (vendored BPE-approximating
    counter, fully JVM-side)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(SPARK_SQL_EXPR.format(c="text")).cast("int").alias("n_tokens"),
        _word_count_spark(F.col("text")).cast("int").alias("n_words"),
        F.length("text").cast("int").alias("n_chars_actual"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id,
       CAST({DUCKDB_SQL_EXPR.format(c="text")} AS INTEGER) AS n_tokens,
       CAST({_WORD_COUNT_DUCK.format(c="text")} AS INTEGER) AS n_words,
       CAST(length(text) AS INTEGER) AS n_chars_actual
FROM documents
"""


# ---------------------------------------------------------------- quality
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + blended score. All ratios are single
    divisions of identical integers → bit-identical doubles across engines."""
    docs = load(spark, sf_dir, "documents")
    words = _word_count_spark(F.col("text"))
    punct = F.regexp_count(F.col("text"), F.lit(PUNCT_CLASS))
    stop = F.regexp_count(F.lower(F.col("text")), F.lit(LANG_MARKERS["en"]))
    chars = F.length("text")
    stop_ratio = F.round(stop / F.greatest(words, F.lit(1)), 4)
    mean_wl = F.round(chars / F.greatest(words, F.lit(1)), 4)
    score = F.round(
        F.least(words / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(stop / F.greatest(words, F.lit(1)) * 5.0, F.lit(1.0)) * 0.3
        + F.least(punct / F.greatest(words, F.lit(1)) * 10.0, F.lit(1.0)) * 0.2,
        4,
    )
    return docs.select(
        "doc_id",
        words.cast("int").alias("n_words"),
        punct.cast("int").alias("n_punct"),
        stop.cast("int").alias("n_stopwords"),
        stop_ratio.alias("stop_ratio"),
        mean_wl.alias("mean_word_len"),
        score.alias("quality"),
    )


QUALITY_SQL = f"""
WITH f AS (
  SELECT doc_id,
         {_WORD_COUNT_DUCK.format(c="text")} AS words,
         length(regexp_extract_all(text, '{PUNCT_CLASS}')) AS punct,
         length(regexp_extract_all(lower(text), '{LANG_MARKERS["en"]}')) AS stop,
         length(text) AS chars
  FROM documents)
SELECT doc_id,
       CAST(words AS INTEGER) AS n_words,
       CAST(punct AS INTEGER) AS n_punct,
       CAST(stop AS INTEGER) AS n_stopwords,
       round(stop / greatest(words, 1), 4) AS stop_ratio,
       round(chars / greatest(words, 1), 4) AS mean_word_len,
       round(least(words / 100.0, 1.0) * 0.5
             + least(stop / greatest(words, 1) * 5.0, 1.0) * 0.3
             + least(punct / greatest(words, 1) * 10.0, 1.0) * 0.2, 4) AS quality
FROM f
"""


# ------------------------------------------------------------- text profile
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang_id + fingerprint in ONE scan/window slot (the two queries were
    separate driver entries through r4; consolidated so the 50-entry oracle
    window can admit the r5 additions — both operators stay bit-checked by
    this row). Columns are the union of the two originals."""
    docs = load(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    cjk = F.regexp_count(F.col("text"), F.lit(CJK_CLASS))
    hits = {k: F.regexp_count(low, F.lit(p)) for k, p in LANG_MARKERS.items()}
    en, de, fr, es = hits["en"], hits["de"], hits["fr"], hits["es"]
    pred = (
        F.when(cjk * 20 >= F.length("text"), F.lit("zh"))
        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    fp = F.md5(F.expr(SPARK_NORM.format(c="text")))
    return docs.select(
        "doc_id",
        pred.alias("lang_pred"),
        cjk.cast("int").alias("cjk_chars"),
        en.cast("int").alias("en_hits"),
        "source",
        fp.alias("fp"),
    )


TEXT_PROFILE_SQL = f"""
WITH f AS (
  SELECT doc_id, text, source,
         length(regexp_extract_all(text, '{CJK_CLASS}')) AS cjk,
         length(regexp_extract_all(lower(text), '{LANG_MARKERS["en"]}')) AS en,
         length(regexp_extract_all(lower(text), '{LANG_MARKERS["de"]}')) AS de,
         length(regexp_extract_all(lower(text), '{LANG_MARKERS["fr"]}')) AS fr,
         length(regexp_extract_all(lower(text), '{LANG_MARKERS["es"]}')) AS es
  FROM documents)
SELECT doc_id,
       CASE WHEN cjk * 20 >= length(text) THEN 'zh'
            WHEN en >= de AND en >= fr AND en >= es THEN 'en'
            WHEN de >= fr AND de >= es THEN 'de'
            WHEN fr >= es THEN 'fr'
            ELSE 'es' END AS lang_pred,
       CAST(cjk AS INTEGER) AS cjk_chars,
       CAST(en AS INTEGER) AS en_hits,
       source,
       md5({DUCK_NORM.format(c="text")}) AS fp
FROM f
"""
