"""Guard the Spark↔DuckDB oracle parity at sf0.001 (the driver's gate runs
the full set at sf0.01; this keeps the contract green in pytest)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from ragflow_spark.ops.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"

# fast, representative subset (one per family)
SUBSET = [
    "token_stats",
    "quality_score",
    "text_profile",
    "retrieval_quality",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "embedding_neardup",
    "knn_bruteforce",
    "pricing_summary",
    "sessionize",
    # round-3 families: chunker folds, dispatch union, model-fronted doc
    # assembly, tokenizer-backed docs, embedding blend
    "chunk_naive_docs",
    "chunk_book_laws_docs",
    # round-5: table/figure assembly through the real construct_table path
    "table_docs",
    "chunk_manual_docs",
    "chunk_presentation_docs",
    "chunk_resume",
    "chunk_audio",
    "es_docs",
    "title_vector_blend",
    # every per-doc fixture query is bit-checked here
    "chunk_qa",
    "chunk_tag",
    "chunk_naive_overlap_docs",
    "chunk_hier_docs",
    "chunk_email_docs",
    "chunk_paper_docs",
    "chunk_picture",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind in "fiu":
            df[c] = df[c].astype(float)
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_match(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.sql(entrymod.oracle_sql()[name]).df()
    a, b = canon(sdf), canon(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_table_docs_html_closed_form(spark):
    """The html_tables=True assembly branch (tsr.py:353-397) on the
    table_docs construction: two th header rows, four td body rows, a
    caption element, figure span unchanged — closed form per document."""
    import duckdb

    sdf = entrymod.queries()["table_docs_html"](spark, SF_DIR).toPandas()
    got = {
        (r.doc_id, int(r.seq)): (r.kind, r.text, r.media_ref)
        for r in sdf.itertuples()
    }
    rows = duckdb.sql(
        "SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w"
        f" FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    assert len(got) == 2 * len(rows) > 0

    def tr(tag, a, b, c):
        return (
            f"<tr><{tag}>{a}</{tag}><{tag}>{b}</{tag}>"
            f"<{tag}>{c}</{tag}></tr>"
        )

    for doc_id, w in rows:
        w = [None] + list(w)  # 1-based
        exp_html = (
            f"<table><caption>{w[6]} summary</caption>"
            + tr("th", w[1], w[2], w[3])
            + tr("th", w[4], w[5], w[6])
            + tr("td", w[7], w[8], w[9])
            + tr("td", w[10], w[6], w[1])
            + tr("td", w[10], w[1], w[2])
            + tr("td", w[3], w[4], w[5])
            + "</table>"
        )
        did = f"tb-{doc_id}"
        assert got[(did, 0)] == (
            "figure",
            f"{w[2]} chart",
            f"blob://tb-{doc_id}/fig0#geom=0,50,550,100,200,1",
        )
        assert got[(did, 1)] == ("table", exp_html, ""), got[(did, 1)]
