"""Codec sniffing, whole-doc chunker, chunk ids."""

from __future__ import annotations

from ragflow_spark.datagen import corpus_df
from ragflow_spark.functions.encoding import decode_blob, find_codec
from ragflow_spark.operators.extract import (
    extract_chunks_fused,
    extract_spans,
    with_chunk_ids,
)
from ragflow_spark.ops.assembly import one_chunk


def test_find_codec():
    assert find_codec("hello".encode()) == "utf-8"
    assert find_codec("数据分析".encode()) == "utf-8"
    # reference ladder order: gb2312 (a gb18030 subset) tried first and wins
    got = find_codec("数据".encode("gb18030"))
    assert "数据".encode("gb18030").decode(got) == "数据"
    assert find_codec(b"\xef\xbb\xbfabc") == "utf-8-sig"
    # arbitrary single bytes land on the first single-byte codec that
    # accepts them (cp037 in the reference's ladder) — decode never fails
    got = find_codec("caf\xe9".encode("latin-1"))
    assert isinstance("caf\xe9".encode("latin-1").decode(got), str)
    assert find_codec(b"") == "utf-8"
    # round trip through decode_blob never raises
    for blob in (b"\xff\xfeh\x00i\x00", b"\x80\x81\x82", "日本語".encode("shift_jis")):
        assert isinstance(decode_blob(blob), str)


def test_one_chunk_preserves_order(spark):
    docs = corpus_df(spark, seed=21, count=30).cache()
    spans = extract_spans(docs).cache()
    out = {r.doc_id: r.text for r in one_chunk(spans).collect()}
    per_doc = {}
    for r in spans.collect():
        per_doc.setdefault(r.doc_id, []).append((r.seq, r.text))
    for doc_id, items in per_doc.items():
        want = "\n".join(t for _, t in sorted(items))
        assert out[doc_id] == want


def test_chunk_ids_stable_and_unique_per_doc(spark):
    docs = corpus_df(spark, seed=21, count=30).cache()
    chunks = with_chunk_ids(extract_chunks_fused(docs)).cache()
    a = {(r.doc_id, r.chunk_seq): r.chunk_id for r in chunks.collect()}
    b = {
        (r.doc_id, r.chunk_seq): r.chunk_id
        for r in with_chunk_ids(extract_chunks_fused(docs)).collect()
    }
    assert a == b  # content-addressed: identical across runs
    assert all(isinstance(v, int) for v in a.values())


def test_query_build_strips_stopwords_and_boosts(spark):
    from ragflow_spark.ops import retrieval

    sf = "/root/testdata/sf0.001"
    out = retrieval.query_build(spark, sf).toPandas()
    assert {"term", "phrase", "field", "min_match"} <= set(out["term_type"])
    terms = out[out.term_type == "term"]
    # rmWWW: english function words never survive as terms
    assert not (terms["term"].isin(["the", "is", "of", "what", "and"])).any()
    # normalized term boosts sum to ~1 per query
    sums = terms.groupby("query_id")["boost_r4"].sum()
    assert ((sums - 1.0).abs() < 0.01).all()
    fields = out[out.term_type == "field"]
    assert set(fields["term"]) == {f for f, _ in retrieval.QUERY_FIELDS}
    # phrase boost = 2x the max of its member terms (spot check shape)
    phrases = out[out.term_type == "phrase"]
    assert (phrases["boost_r4"] > 0).all()
    assert phrases["term"].str.contains(" ").all()


def test_term_weights_mix(spark):
    from ragflow_spark.ops import retrieval

    sf = "/root/testdata/sf0.001"
    out = retrieval.term_weights(spark, sf).toPandas()
    assert len(out) > 0
    sums = out.groupby("query_id")["weight_r6"].sum()
    assert ((sums - 1.0).abs() < 0.001).all()
    # rare tokens outweigh common ones within a query (idf-dominant mix)
    g = out.groupby("query_id")["weight_r6"]
    assert (g.max() > g.min()).any()


def test_ner_pos_dictionary_boosts(spark):
    """The vendored NER/POS dictionaries must change raw weights for their
    entries — tokens the old regex proxy weighted at exactly 1.0."""
    from pyspark.sql import functions as F

    from ragflow_spark.ops import retrieval

    rows = [("spark", 50, 20), ("plain", 50, 20), ("window", 50, 20),
            ("the", 50, 20)]
    df = retrieval._with_tag_dims(
        spark.createDataFrame(rows, "token string, freq long, df long"),
        spark,
    )
    out = {
        r["token"]: r["w"]
        for r in df.select(
            "token",
            retrieval._raw_weight(
                F.col("token"), F.col("freq"), F.col("df")
            ).alias("w"),
        ).collect()
    }
    base = out["plain"]  # no dict entry, no regex class → boost 1
    assert abs(out["spark"] - 3.0 * base) < 1e-9   # ner corp → 3
    assert abs(out["window"] - 2.0 * base) < 1e-9  # postag n → 2
    assert abs(out["the"] - 0.3 * base) < 1e-9     # postag d → 0.3


def test_query_build_expansion_rows(spark):
    """Synonym rows at w/4, one slop-2 proximity row per multi-token query,
    and the 0.6→0.1 min_match ladder (query.py:104-110,188;
    search.py:122-128)."""
    from ragflow_spark.ops import retrieval

    sf = "/root/testdata/sf0.001"
    out = retrieval.query_build(spark, sf).toPandas()
    syn = out[out.term_type == "synonym"]
    assert len(syn) > 0
    assert set(syn["term"]) <= {
        s for syns in retrieval.SYNONYMS.values() for s in syns
    }
    # synonym boost = w/4 of its source term at the same position
    terms = out[out.term_type == "term"].set_index(["query_id", "pos"])
    for _, r in syn.head(20).iterrows():
        w = terms.loc[(r["query_id"], r["pos"]), "boost_r4"]
        assert abs(r["boost_r4"] - round(w / 4, 4)) <= 1e-4
    prox = out[out.term_type == "proximity"]
    assert len(prox) > 0
    assert (prox["boost_r4"] == 1.5).all()
    assert prox["term"].str.contains(" ").all()
    mm = out[out.term_type == "min_match"]
    per_q = mm.groupby("query_id")["boost_r4"].apply(
        lambda s: sorted(s.tolist())
    )
    assert all(v == [0.1, 0.6] for v in per_q)


def test_assemble_es_docs_fields(spark):
    from ragflow_spark.operators.extract import assemble_es_docs

    chunks = spark.createDataFrame(
        [
            ("d1", 0, "running cats here", "notes_1.txt"),
            ("d1", 1, "   ", "notes_1.txt"),  # empty: skipped
            ("d1", 2, "second part", "notes_1.txt"),
            ("d2", 0, "<table><td>x</td></table> cell", "r.mp3"),
        ],
        "doc_id string, chunk_seq int, text string, docnm string",
    )
    rows = {
        (r["doc_id"], r["chunk_seq"]): r
        for r in assemble_es_docs(chunks).collect()
    }
    assert set(rows) == {("d1", 0), ("d1", 2), ("d2", 0)}
    r = rows[("d1", 2)]
    # pseudo positions from the chunk index (add_positions [[ii]*5])
    assert r["page_num_int"] == [3]
    assert r["position_int"] == [[3, 2, 2, 2, 2]]
    assert r["top_int"] == [2]
    assert r["docnm_kwd"] == "notes_1.txt"
    assert r["title_tks"] == "notes_1"
    # en_normalize fires in content tokens
    assert rows[("d1", 0)]["content_ltks"] == "run cats here"
    # table tags stripped before tokenization; digit-ext title quirk
    r2 = rows[("d2", 0)]
    assert r2["content_ltks"].strip() == "x cell"
    assert r2["title_tks"] == "r mp3"


def test_table_html_docs_chunk_shape(spark):
    """Excel html4excel route (excel_parser.py:92-132): 256-row positional
    chunks, escaped-header <th> row repeated atop each chunk, caption,
    trailing newline, rows in key order."""
    from ragflow_spark.ops.assembly import table_html_docs

    out = {
        r.doc_seq: r
        for r in table_html_docs(spark, "/root/testdata/sf0.001").collect()
    }
    # sf0.001 customer = 150 rows → a single chunk
    assert set(out) == {0} and out[0].n_rows == 150
    t = out[0].text
    assert t.startswith(
        "<table><caption>customer</caption>"
        "<tr><th>c_name</th><th>c_mktsegment</th><th>c_acctbal_cents</th></tr>"
    )
    assert t.endswith("</table>\n")
    assert t.count("<tr>") == 151  # header + 150 data rows
    # smaller chunk_rows exercises the chunk boundary: 150 = 64+64+22
    chunks = {
        r.doc_seq: r.n_rows
        for r in table_html_docs(
            spark, "/root/testdata/sf0.001", chunk_rows=64
        ).collect()
    }
    assert chunks == {0: 64, 1: 64, 2: 22}


def test_int_overflow_promotion(spark):
    """table.py:271-275 analog: one int cell past 2**63-1 promotes the
    column to float; boundary values and negatives do not."""
    from ragflow_spark.ops import schema_infer
    from pyspark.sql import functions as F

    rows = [
        ("at_max", "9223372036854775807"),      # == i64 max → stays int
        ("over", "9223372036854775808"),        # max+1 → promote
        ("over_long", "123456789012345678901"), # 21 digits → promote
        ("neg_big", "-99999999999999999999"),   # negative → reference skips
        ("zeros", "0009223372036854775807"),    # leading zeros → == max
    ]
    df = spark.createDataFrame(rows, "col_name string, str_val string")
    got = {
        r.col_name: bool(r.ovf)
        for r in df.select(
            "col_name",
            schema_infer._int_overflow(F.col("str_val")).alias("ovf"),
        ).collect()
    }
    assert got == {
        "at_max": False,
        "over": True,
        "over_long": True,
        "neg_big": False,
        "zeros": False,
    }


def test_synonym_file_loader(tmp_path):
    """rag/res/synonym.json-format loader: string values wrap to lists,
    keys lowercase + whitespace-normalized, SYN_TOPN cap, self-mappings
    dropped (rag/nlp/synonym.py:70-78 contract)."""
    import json

    from ragflow_spark.ops.retrieval import SYN_TOPN, load_synonym_file

    p = tmp_path / "synonym.json"
    json.dump(
        {
            "Fast  CAR": "quick car",
            "big": ["large", "huge", "big"],          # self-mapping dropped
            "many": [f"s{i}" for i in range(20)],     # capped at topn
            "empty": [],
            "阿为特": "873693",
        },
        open(p, "w", encoding="utf-8"),
    )
    d = load_synonym_file(str(p))
    assert d["fast car"] == ["quick car"]
    assert d["big"] == ["large", "huge"]
    assert len(d["many"]) == SYN_TOPN
    assert "empty" not in d
    assert d["阿为特"] == ["873693"]


def test_synonym_env_knob_consistent_sides(tmp_path):
    """$RAGFLOW_SPARK_SYNONYM_JSON swaps the dictionary for BOTH the Spark
    literal table and the DuckDB VALUES oracle (they derive from the same
    module table), including SQL-quote escaping."""
    import importlib
    import json
    import os
    import subprocess
    import sys

    p = tmp_path / "syn.json"
    json.dump({"rock": ["stone", "o'brien"]}, open(p, "w", encoding="utf-8"))
    code = (
        "from ragflow_spark.ops import retrieval as r\n"
        "assert r.SYNONYMS == {'rock': ['stone', \"o'brien\"]}, r.SYNONYMS\n"
        "assert \"('rock', 'stone')\" in r._SYN_VALUES\n"
        "assert \"('rock', 'o''brien')\" in r._SYN_VALUES\n"
        "import duckdb\n"
        "got = duckdb.sql(\"SELECT * FROM (VALUES \" + r._SYN_VALUES +\n"
        "                 \") v(token, syn)\").fetchall()\n"
        "assert ('rock', \"o'brien\") in got, got\n"
        "print('ok')\n"
    )
    env = dict(os.environ, RAGFLOW_SPARK_SYNONYM_JSON=str(p),
               PYTHONPATH="/root/repo")
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr
    assert "ok" in out.stdout


def test_tag_file_loader(tmp_path):
    """load_tag_file: keys lowercase, entries with unknown tags dropped
    (reference KeyErrors on them, term_weight.py:173-176), missing path
    raises (driver/executor divergence guard)."""
    import json

    import pytest

    from ragflow_spark.ops.retrieval import NER_BOOSTS, load_tag_file

    p = tmp_path / "ner.json"
    json.dump(
        {"OpenAI": "corp", "beijing": "loca", "weird": "zzz"},
        open(p, "w", encoding="utf-8"),
    )
    d = load_tag_file(str(p), NER_BOOSTS)
    assert d == {"openai": "corp", "beijing": "loca"}
    with pytest.raises(OSError):
        load_tag_file(str(tmp_path / "missing.json"), NER_BOOSTS)


def test_ner_pos_env_knobs_consistent_sides(tmp_path):
    """$RAGFLOW_SPARK_NER_JSON / $RAGFLOW_SPARK_POS_JSON swap the boost
    dictionaries for BOTH the Spark dim table and the DuckDB VALUES oracle
    (they derive from the same module tables), incl. SQL-quote escaping."""
    import json
    import os
    import subprocess
    import sys

    np = tmp_path / "ner.json"
    json.dump({"o'corp": "corp", "paris": "loca"}, open(np, "w"))
    pp = tmp_path / "pos.json"
    json.dump({"lake": "ns"}, open(pp, "w"))
    code = (
        "from ragflow_spark.ops import retrieval as r\n"
        "assert r.NER_DICT == {\"o'corp\": 'corp', 'paris': 'loca'}\n"
        "assert r.POS_DICT == {'lake': 'ns'}\n"
        "import duckdb\n"
        "got = duckdb.sql(\"SELECT * FROM \" +\n"
        "                 r._values_dim(r.NER_DICT, r.NER_BOOSTS, 'ner_b')\n"
        "                 ).fetchall()\n"
        "assert (\"o'corp\", 3.0) in got and ('paris', 3.0) in got, got\n"
        "print('ok')\n"
    )
    env = dict(os.environ, RAGFLOW_SPARK_NER_JSON=str(np),
               RAGFLOW_SPARK_POS_JSON=str(pp), PYTHONPATH="/root/repo")
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr
    assert "ok" in out.stdout


def test_tag_dims_large_dict_join_path(spark, monkeypatch):
    """Above _SMALL_DICT_MAX the lookup switches from a literal map to a
    broadcast dim join; both shapes must produce identical boosts."""
    from pyspark.sql import functions as F

    from ragflow_spark.ops import retrieval

    big = {f"tok{i}": "corp" for i in range(1500)}
    big["spark"] = "corp"
    monkeypatch.setattr(retrieval, "NER_DICT", big)
    rows = [("spark", 50, 20), ("plain", 50, 20), ("tok7", 50, 20)]
    df = retrieval._with_tag_dims(
        spark.createDataFrame(rows, "token string, freq long, df long"),
        spark,
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan  # big dict went through the join path
    out = {
        r["token"]: r["w"]
        for r in df.select(
            "token",
            retrieval._raw_weight(
                F.col("token"), F.col("freq"), F.col("df")
            ).alias("w"),
        ).collect()
    }
    base = out["plain"]
    assert abs(out["spark"] - 3.0 * base) < 1e-9
    assert abs(out["tok7"] - 3.0 * base) < 1e-9


def test_pos_derived_from_huqie_dict(tmp_path):
    """With $RAGFLOW_SPARK_HUQIE_DICT set and no POS json, POS boosts come
    from the huqie tag column (reference: term_weight.py:177-186 via
    rag_tokenizer.tag)."""
    import os
    import subprocess
    import sys

    p = tmp_path / "huqie.txt"
    p.write_text("lake 2000000 ns\nrun 500000 v\nthe 9000000 d\n")
    code = (
        "from ragflow_spark.ops import retrieval as r\n"
        "assert r.POS_DICT == {'lake': 'ns', 'the': 'd'}, r.POS_DICT\n"
        "print('ok')\n"
    )
    env = dict(os.environ, RAGFLOW_SPARK_HUQIE_DICT=str(p),
               PYTHONPATH="/root/repo")
    env.pop("RAGFLOW_SPARK_POS_JSON", None)
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr
    assert "ok" in out.stdout


def test_reset_dictionaries_in_process(tmp_path, monkeypatch):
    """reset_dictionaries() re-resolves the env knobs without a subprocess
    and rebuilds the dict-derived SQL fragments (ADVICE r4)."""
    import json

    from ragflow_spark.ops import retrieval as r

    syn = tmp_path / "syn.json"
    syn.write_text(json.dumps({"rock": ["stone"]}))
    monkeypatch.setenv(r.SYNONYM_ENV, str(syn))
    try:
        r.reset_dictionaries()
        assert r.SYNONYMS == {"rock": ["stone"]}
        assert "('rock', 'stone')" in r._SYN_VALUES
        assert "('rock', 'stone')" in r.QUERY_BUILD_SQL
    finally:
        monkeypatch.delenv(r.SYNONYM_ENV)
        r.reset_dictionaries()
    assert r.SYNONYMS == r.VENDORED_SYNONYMS
    assert "('fast', 'quick')" in r.QUERY_BUILD_SQL
