"""Checkpoint/resume + lineage metrics (FIXTURES.md §4; north rule:
snapshot-granularity resume, per-partition lineage rows)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ragflow_spark.datagen import corpus_df
from ragflow_spark.kernels.extract import chunk_doc, extract_doc

# one doc whose geometry ref is unparseable (finalize raises) next to a
# healthy one
BAD_PAIR = [
    ("doc-bad", [("text", "x", "geom://1,a,b,c,d", 0)]),
    ("doc-ok", [("txt", "hello world", "", 0)]),
]
OK_SPANS = [{"kind": "txt", "text": "hello world", "media_ref": "", "offset": 0}]
DOCS_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


@pytest.fixture(scope="module")
def docs(spark):
    return corpus_df(spark, seed=11, count=40).cache()


@pytest.fixture(scope="module")
def bad_pair(spark, tmp_path_factory):
    """The pair as a DataFrame and as a parquet copy (no ``n_spans``
    column, so the parquet paths must plan the giant-doc tail)."""
    df = spark.createDataFrame(BAD_PAIR, DOCS_DDL)
    path = str(tmp_path_factory.mktemp("bad_pair") / "in")
    df.write.parquet(path)
    return df, path


def test_native_pipeline_resume(spark, tmp_path_factory):
    from ragflow_spark.datagen import gen_doc, write_corpus
    from ragflow_spark.plans.pipeline import run_pipeline_native
    from ragflow_spark.sources.parquet_spans import extract_chunks_native

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
    # committed chunks ≡ the single-doc kernels over the same generated docs
    want = sorted(
        (d["doc_id"], c["chunker"], c["chunk_seq"], c["text"], c["token_count"],
         tuple(c["media_refs"]))
        for d in (gen_doc(8, i) for i in range(30))
        for c in chunk_doc(extract_doc(d["spans"]), chunker="naive", chunk_token_num=512)
    )

    def rows(df):
        return sorted(
            (x.doc_id, x.chunker, x.chunk_seq, x.text, x.token_count,
             tuple(x.media_refs or ()))
            for x in df.collect()
        )

    for r in (r1, r2):
        assert rows(r.chunks) == want and len(want) > 0
    # resumed output ≡ the direct (non-checkpointed) computation
    assert rows(extract_chunks_native(spark, inp)) == want
    # lineage: chunk and doc counts match the output, no failures
    m = (
        r2.run.metrics()
        .where(F.col("stage") == "chunks")
        .agg(
            F.sum("span_count").alias("rows"),
            F.sum("doc_count").alias("docs"),
            F.sum("failure_count").alias("failures"),
        )
        .first()
    )
    assert m["rows"] == n1
    assert m["docs"] == len({w[0] for w in want})
    assert m["failures"] == 0


def test_committed_stage_reruns_without_a_job(spark, tmp_path_factory):
    """A rerun of a committed stage runs no Spark job: the stage is read
    back with the writer's schema (``CHUNKS_SCHEMA``), not one inferred
    from its files, so nothing runs until the caller reads the rows."""
    from ragflow_spark.datagen import write_corpus
    from ragflow_spark.plans.pipeline import run_pipeline_native
    from ragflow_spark.schemas import CHUNKS_SCHEMA

    base = tmp_path_factory.mktemp("ckpt_rerun")
    inp, ck = str(base / "in"), str(base / "ck")
    write_corpus(spark, inp, count=10, seed=8, partitions=1)
    n = run_pipeline_native(spark, inp, ck, run_id="j1").chunks.count()
    sc = spark.sparkContext
    group = "committed-stage-rerun"
    sc.setJobGroup(group, "rerun of a committed stage")
    try:
        r = run_pipeline_native(spark, inp, ck, run_id="j2")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert r.stages["chunks"].resumed
    assert jobs == [], jobs
    assert r.chunks.schema.names == CHUNKS_SCHEMA.names
    assert r.chunks.count() == n > 0


def test_failure_capture_lineage(spark, bad_pair, tmp_path_factory):
    """A malformed doc (unparseable geom ref → kernel raises) becomes a
    failure_count lineage row, not a task failure; healthy docs survive."""
    from ragflow_spark.plans.pipeline import run_pipeline_native

    base = str(tmp_path_factory.mktemp("ckpt_fail"))
    r = run_pipeline_native(spark, bad_pair[1], base, run_id="rf")
    assert {x["doc_id"] for x in r.chunks.collect()} == {"doc-ok"}
    failures = (
        r.run.metrics()
        .where(F.col("stage") == "chunks")
        .agg(F.sum("failure_count"))
        .first()[0]
    )
    assert failures == 1


def _sink_rows(spark, df, path, out):
    from ragflow_spark.sources.parquet_spans import extract_chunks_native_to_parquet

    extract_chunks_native_to_parquet(spark, path, out).collect()
    return spark.read.parquet(f"{out}/part-*.parquet").collect()


def _checkpoint_rows(spark, df, path, out):
    """The committed stage files, error markers included; the lineage
    must count the bad doc as the stage's one failure."""
    from ragflow_spark.plans.pipeline import run_pipeline_native

    r = run_pipeline_native(spark, path, out)
    m = r.run.metrics().agg(F.sum("failure_count")).first()[0]
    assert m == 1
    assert {x.doc_id for x in r.chunks.collect()} == {"doc-ok"}
    return spark.read.parquet(r.stages["chunks"].path).collect()


def _paths():
    from ragflow_spark.operators.extract import extract_spans
    from ragflow_spark.sources.parquet_spans import extract_chunks_native

    return {
        "runner": lambda spark, df, path, out: extract_spans(df).collect(),
        "tail": lambda spark, df, path, out: extract_spans(df).collect(),
        "native_tail": lambda spark, df, path, out: extract_chunks_native(
            spark, path).collect(),
        "sink": _sink_rows,
        "checkpoint": _checkpoint_rows,
    }


@pytest.mark.parametrize("path_name", list(_paths()))
def test_bad_doc_never_fails_a_path(
    spark, bad_pair, tmp_path_factory, monkeypatch, path_name
):
    """Per-doc fault isolation on every extraction path: the doc whose
    kernels raise becomes exactly one ``__error__`` marker row (``kind``
    on span rows, ``chunker`` on chunk rows), the healthy doc still equals
    the single-doc kernels, and the job does not fail. The ``*tail`` paths
    send every doc through the giant-doc tail (threshold 0)."""
    from ragflow_spark.operators import extract as ox

    if path_name.endswith("tail"):
        monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 0)
    df, path = bad_pair
    out = str(tmp_path_factory.mktemp(f"bad_{path_name}") / "out")
    rows = [r.asDict() for r in _paths()[path_name](spark, df, path, out)]
    chunked = "chunker" in rows[0]
    mark = "chunker" if chunked else "kind"
    errors = [r for r in rows if r[mark] == "__error__"]
    assert len(errors) == 1, errors
    err = errors[0]
    assert err["doc_id"] == "doc-bad" and err["text"]
    assert err["chunk_seq" if chunked else "seq"] == 0
    if chunked:
        assert err["token_count"] == 0 and not err["media_refs"]
    want = extract_doc(OK_SPANS)
    if chunked:
        want = chunk_doc(want)
    keys = list(want[0])
    got = sorted(
        (r for r in rows if r["doc_id"] == "doc-ok"),
        key=lambda r: r["chunk_seq" if chunked else "seq"],
    )
    assert [{k: r[k] for k in keys} for r in got] == want


def test_manifest_crash_tolerance_and_metric_dedup(spark, docs, tmp_path_factory):
    """Truncated manifest reads as not-committed; a committed snapshot whose
    metrics file is lost is healed from its manifest on resume; a replayed
    commit does not double-count."""
    import os
    import shutil

    from ragflow_spark.plans.checkpoint import (
        CheckpointedRun,
        is_committed,
        read_manifest,
    )

    base = str(tmp_path_factory.mktemp("ckpt_crash"))
    run = CheckpointedRun(spark, base, run_id="c1")
    # span rows: each doc's spans numbered from seq 0
    df = docs.select("doc_id", F.posexplode("spans").alias("seq", "s")).select(
        "doc_id", "seq", F.col("s.kind").alias("kind"), F.col("s.text").alias("text")
    )
    out, res = run.write_stage("demo", df)
    want = (df.select("doc_id").distinct().count(), out.count(), 0, 1)
    sdir = run.stage_dir("demo")

    def lineage():
        m = run.metrics().where(F.col("stage") == "demo")
        return tuple(m.agg(F.sum("doc_count"), F.sum("span_count"),
                           F.sum("failure_count"), F.count("*")).first())

    assert lineage() == want

    # 1. truncated manifest => not committed (resume recomputes, not crashes)
    mp = os.path.join(sdir, "_manifest.json")
    good = open(mp).read()
    with open(mp, "w") as f:
        f.write(good[: len(good) // 2])
    assert is_committed(sdir) is False
    with open(mp, "w") as f:
        f.write(good)
    assert is_committed(sdir) is True

    # 2. crash window: metrics lost after commit -> healed from the manifest
    shutil.rmtree(run.metrics_dir())
    out2, res2 = run.write_stage("demo", df)
    assert res2.resumed and res2.snapshot_id == res.snapshot_id
    assert lineage() == want

    # 3. a replayed commit rewrites the snapshot's metrics file, not a copy
    run._write_metrics(read_manifest(sdir))
    assert lineage() == want


def test_checkpoint_with_giants_resumes_one_split(spark, tmp_path_factory):
    """The checkpointed run over a corpus with giant docs: every doc's
    committed rows equal the single-doc kernels; the lineage sums equal the
    committed rows, giants included; and after losing one split's part and
    the stage manifest, a rerun rewrites only that split."""
    import os

    from ragflow_spark.datagen import gen_doc, write_corpus
    from ragflow_spark.operators.extract import GIANT_SPAN_THRESHOLD
    from ragflow_spark.plans.pipeline import run_pipeline_native

    base = tmp_path_factory.mktemp("ckpt_giants")
    inp, ck = str(base / "in"), str(base / "ck")
    write_corpus(spark, inp, count=100, seed=4, giant_factor=3200, partitions=4)
    gen = [gen_doc(4, i, 3200) for i in range(100)]
    assert max(len(d["spans"]) for d in gen) >= GIANT_SPAN_THRESHOLD
    want = {
        d["doc_id"]: [
            (c["chunker"], c["chunk_seq"], c["text"], c["token_count"],
             list(c["media_refs"]))
            for c in chunk_doc(extract_doc(d["spans"]))
        ]
        for d in gen
    }

    def committed(r):
        got: dict = {}
        rows = spark.read.option("recursiveFileLookup", "true").parquet(
            r.stages["chunks"].path
        ).collect()
        for x in sorted(rows, key=lambda x: x.chunk_seq):
            got.setdefault(x.doc_id, []).append(
                (x.chunker, x.chunk_seq, x.text, x.token_count, list(x.media_refs or []))
            )
        return got

    def lineage(r):
        m = r.run.metrics().where(F.col("snapshot_id") == r.stages["chunks"].snapshot_id)
        return sorted(tuple(x) for x in m.select(
            "partition_id", "doc_count", "span_count", "failure_count").collect())

    r1 = run_pipeline_native(spark, inp, ck, run_id="g1")
    got = committed(r1)
    assert got == {d: rows for d, rows in want.items() if rows}
    sums = [sum(x[i] for x in lineage(r1)) for i in (1, 2, 3)]
    assert sums == [len(got), sum(map(len, got.values())), 0]
    tail = [x for x in lineage(r1) if x[0] == -1]
    assert len(tail) == 1 and tail[0][2] > 0  # the giant tail's own row

    sdir = r1.stages["chunks"].path
    parts = sorted(f for f in os.listdir(sdir) if f.startswith("part-"))
    kept = parts[1:] + [f"giants/{f}" for f in os.listdir(f"{sdir}/giants")]

    def mtimes():
        return {f: os.stat(os.path.join(sdir, f)).st_mtime_ns for f in kept}

    before = mtimes()
    os.remove(os.path.join(sdir, parts[0]))
    os.remove(os.path.join(sdir, "_manifest.json"))
    r2 = run_pipeline_native(spark, inp, ck, run_id="g2")
    assert not r2.stages["chunks"].resumed
    assert os.path.exists(os.path.join(sdir, parts[0]))
    assert mtimes() == before
    assert committed(r2) == got
    assert lineage(r2) == lineage(r1)
