"""Checkpoint/resume + lineage metrics (FIXTURES.md §4; north rule:
snapshot-granularity resume, per-partition lineage rows)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ragflow_spark.datagen import corpus_df
from ragflow_spark.operators.extract import extract_spans
from ragflow_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def docs(spark):
    return corpus_df(spark, seed=11, count=40).cache()


def test_kill_resume_and_equality(spark, docs, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt"))

    # phase 1: "killed" after the extract stage committed
    r1 = run_pipeline(spark, docs, base, run_id="r1", stop_after="extract")
    assert not r1.stages["strip"].resumed
    assert not r1.stages["extract"].resumed
    snap_strip = r1.stages["strip"].snapshot_id
    snap_extract = r1.stages["extract"].snapshot_id

    # phase 2: resume — strip/extract must NOT be recomputed
    r2 = run_pipeline(spark, docs, base, run_id="r2")
    assert r2.stages["strip"].resumed
    assert r2.stages["extract"].resumed
    assert r2.stages["strip"].snapshot_id == snap_strip
    assert r2.stages["extract"].snapshot_id == snap_extract
    assert not r2.stages["chunk"].resumed

    # resumed output ≡ direct (non-checkpointed) computation
    direct = extract_spans(docs)
    got = {tuple(r) for r in r2.spans.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want

    # lineage metrics cover every stage; span counts match the outputs
    m = r2.run.metrics()
    by_stage = {
        r["stage"]: r
        for r in m.groupBy("stage")
        .agg(
            F.sum("span_count").alias("spans"),
            F.sum("doc_count").alias("docs"),
            F.sum("failure_count").alias("failures"),
        )
        .collect()
    }
    assert set(by_stage) == {"strip", "extract", "chunk"}
    assert by_stage["extract"]["spans"] == len(want)
    assert by_stage["extract"]["failures"] == 0
    assert by_stage["chunk"]["spans"] == r2.chunks.count()


def test_native_pipeline_resume(spark, tmp_path_factory):
    from ragflow_spark.datagen import write_corpus
    from ragflow_spark.plans.pipeline import run_pipeline_native

    base = tmp_path_factory.mktemp("ckpt_native")
    inp = str(base / "in")
    write_corpus(spark, inp, count=30, seed=8, partitions=2)
    r1 = run_pipeline_native(spark, inp, str(base / "ck"), run_id="n1")
    assert not r1.stages["chunks"].resumed
    n1 = r1.chunks.count()
    r2 = run_pipeline_native(spark, inp, str(base / "ck"), run_id="n2")
    assert r2.stages["chunks"].resumed
    assert r2.stages["chunks"].snapshot_id == r1.stages["chunks"].snapshot_id
    assert r2.chunks.count() == n1
    m = r1.run.metrics()
    assert m.where(F.col("stage") == "chunks").agg(F.sum("span_count")).first()[0] == n1
    # committed chunks ≡ the single-doc kernels over the same generated docs
    from ragflow_spark.datagen import gen_doc
    from ragflow_spark.kernels.extract import chunk_doc, extract_doc

    want = sorted(
        (d["doc_id"], c["chunker"], c["chunk_seq"], c["text"], c["token_count"],
         tuple(c["media_refs"]))
        for d in (gen_doc(8, i) for i in range(30))
        for c in chunk_doc(extract_doc(d["spans"]), chunker="naive", chunk_token_num=512)
    )
    for r in (r1, r2):
        got = sorted(
            (x.doc_id, x.chunker, x.chunk_seq, x.text, x.token_count,
             tuple(x.media_refs or ()))
            for x in r.chunks.collect()
        )
        assert got == want and len(want) > 0


def test_failure_capture_lineage(spark, tmp_path_factory):
    """A malformed doc (unparseable geom ref → kernel raises) becomes a
    failure_count lineage row, not a task failure; healthy docs survive."""
    base = str(tmp_path_factory.mktemp("ckpt_fail"))
    bad = spark.createDataFrame(
        [
            ("doc-bad", [{"kind": "text", "text": "x", "media_ref": "geom://1,a,b,c,d", "offset": 0}]),
            ("doc-ok", [{"kind": "txt", "text": "hello world", "media_ref": "", "offset": 0}]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    r = run_pipeline(spark, bad, base, run_id="rf")
    out = r.spans.collect()
    assert {x["doc_id"] for x in out} == {"doc-ok"}
    failures = (
        r.run.metrics()
        .where(F.col("stage") == "extract")
        .agg(F.sum("failure_count"))
        .first()[0]
    )
    assert failures == 1


def test_manifest_crash_tolerance_and_metric_dedup(spark, docs, tmp_path_factory):
    """Truncated manifest reads as not-committed; a committed snapshot with
    missing metrics is healed on resume; duplicate metric appends dedup."""
    import json
    import os

    from ragflow_spark.plans.checkpoint import (
        CheckpointedRun,
        is_committed,
        read_manifest,
    )

    base = str(tmp_path_factory.mktemp("ckpt_crash"))
    run = CheckpointedRun(spark, base, run_id="c1")
    df = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", F.col("s.kind").alias("kind"), F.col("s.text").alias("text"))
    out, res = run.write_stage("demo", df)
    n = out.count()
    sdir = run.stage_dir("demo")

    # 1. truncated manifest => not committed (resume recomputes, not crashes)
    mp = os.path.join(sdir, "_manifest.json")
    good = open(mp).read()
    with open(mp, "w") as f:
        f.write(good[: len(good) // 2])
    assert is_committed(sdir) is False
    with open(mp, "w") as f:
        f.write(good)
    assert is_committed(sdir) is True

    # 2. crash window: metrics lost after commit -> healed on resume
    import shutil

    shutil.rmtree(run.metrics_dir())
    out2, res2 = run.write_stage("demo", df)
    assert res2.resumed
    m = run.metrics().where(F.col("stage") == "demo")
    assert m.agg(F.sum("span_count")).first()[0] == n

    # 3. a double append of the same snapshot's rows does not double-count
    run._append_metrics(sdir, res.snapshot_id, "demo", "doc_id", "__error__", "c1")
    m2 = run.metrics().where(F.col("stage") == "demo")
    assert m2.agg(F.sum("span_count")).first()[0] == n

