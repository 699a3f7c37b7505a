"""Python-native parquet source ≡ DataFrame path (including the giant-doc
routing split)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ragflow_spark.datagen import gen_docs, write_corpus
from ragflow_spark.kernels.extract import CHUNKERS, chunk_doc, extract_doc
from ragflow_spark.operators import extract as ox
from ragflow_spark.operators.extract import (
    GIANT_SPAN_THRESHOLD,
    extract_chunks_fused,
    extract_spans,
)
from ragflow_spark.sources.parquet_spans import (
    extract_chunks_native,
    extract_spans_native,
    plan_splits,
)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("native") / "corpus")
    write_corpus(spark, p, count=120, seed=5, partitions=4,
                 row_group_bytes=256 * 1024)
    return p


def _lineage(manifest):
    """A sink manifest's lineage rows, without the output paths."""
    cols = ["split_id", "n_docs", "n_chunks", "n_failures"]
    return sorted(map(tuple, manifest[cols].to_numpy().tolist()))


def _mtimes(root, names):
    import os

    return {n: os.stat(os.path.join(root, n)).st_mtime_ns for n in names}


def _assert_derived_splits(spark, path):
    """Derived policy: ceil(footer rows / (4 x defaultParallelism)) rows per
    split; each split closes at the first row group where the running
    total reaches it (or at the end of its file), and the splits tile
    every row group of every file exactly once."""
    import math

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    splits, _ = plan_splits(path, GIANT_SPAN_THRESHOLD)
    metas = {f: pq.ParquetFile(f).metadata for f in ds.dataset(path).files}
    target = math.ceil(
        sum(md.num_rows for md in metas.values())
        / (4 * spark.sparkContext.defaultParallelism)
    )
    tiles = {f: [] for f in metas}
    for f, a, b in splits:
        assert b > a
        tiles[f].append((a, b))
        md = metas[f]
        running = [
            sum(md.row_group(i).num_rows for i in range(a, j + 1)) for j in range(a, b)
        ]
        assert all(r < target for r in running[:-1])
        assert running[-1] >= target or b == md.num_row_groups
    for f, md in metas.items():
        bounds = [x for ab in sorted(tiles[f]) for x in ab]
        assert bounds[0] == 0 and bounds[-1] == md.num_row_groups
        assert bounds[1:-1:2] == bounds[2:-1:2]  # contiguous, no gaps
    return splits


def test_split_planning(spark, corpus_path, tmp_path):
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    assert spark.sparkContext.defaultParallelism == 4
    assert len(_assert_derived_splits(spark, corpus_path)) >= 4
    # the fixture's files hold one row group each; a one-file copy in
    # 7-row groups makes the splits close inside a file (target 8 → 2 groups)
    pq.write_table(
        ds.dataset(corpus_path).to_table(), str(tmp_path / "one.parquet"),
        row_group_size=7,
    )
    multi = _assert_derived_splits(spark, str(tmp_path))
    assert [b - a for _, a, b in multi[:-1]] == [2] * (len(multi) - 1)
    # metadata-only giant detection: threshold above every doc → provably none
    _, g_hi = plan_splits(corpus_path, giant_threshold=10**6)
    assert g_hi is False
    # threshold below the biggest fixture docs → giants detected
    _, g_lo = plan_splits(corpus_path, giant_threshold=120)
    assert g_lo is True


def test_spans_native_equals_dataframe_path(spark, corpus_path, monkeypatch):
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 120)
    native = {
        (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
        for r in extract_spans_native(spark, corpus_path).collect()
    }
    monkeypatch.undo()
    df_path = {
        (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
        for r in extract_spans(spark.read.parquet(corpus_path)).collect()
    }
    assert native == df_path


def test_sink_in_task_equals_fused(spark, corpus_path, tmp_path_factory, monkeypatch):
    from ragflow_spark.sources.parquet_spans import (
        extract_chunks_native_to_parquet,
    )

    out = str(tmp_path_factory.mktemp("sink") / "chunks")
    b = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in extract_chunks_fused(spark.read.parquet(corpus_path)).collect()
    }
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 120)
    manifest = extract_chunks_native_to_parquet(spark, corpus_path, out)
    # one task per split: split 0's task also emits the giant tail's row
    n_splits = len(plan_splits(corpus_path, 120)[0])
    assert manifest.rdd.getNumPartitions() == n_splits
    manifest = manifest.toPandas()
    assert (manifest["n_chunks"] >= 0).all() and len(manifest) >= 2
    assert (manifest["split_id"] == -1).sum() == 1  # the giant tail's row
    written = spark.read.option("recursiveFileLookup", "true").parquet(out)
    a = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or [])) for r in written.collect()
    }
    assert a == b
    # rerun is idempotent WITH real giants: the giants subdir is overwritten,
    # not appended, so giant-doc chunks don't duplicate
    extract_chunks_native_to_parquet(spark, corpus_path, out).count()
    again = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(out)
        .collect()
    }
    assert again == b
    dup_check = (
        spark.read.option("recursiveFileLookup", "true").parquet(out)
        .groupBy("doc_id", "chunk_seq").count()
    )
    assert dup_check.where("count > 1").count() == 0
    # resume: a kill/rerun skips committed splits and the committed giant
    # tail, recounting their lineage from the committed files
    import os

    parts = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    os.remove(os.path.join(out, parts[0]))  # simulate a split lost mid-run
    before = _mtimes(out, parts[1:] + ["giants/_lineage"])
    m2 = extract_chunks_native_to_parquet(spark, corpus_path, out, resume=True)
    assert m2.rdd.getNumPartitions() == n_splits
    m2 = m2.toPandas()
    assert _lineage(m2) == _lineage(manifest)
    assert (m2["split_id"] == -1).sum() == 1  # the giant tail's row
    assert _mtimes(out, parts[1:] + ["giants/_lineage"]) == before
    resumed = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(out)
        .collect()
    }
    assert resumed == b


def test_sink_manifest_numbers_splits(spark, corpus_path, tmp_path):
    """The sink manifest is per-split lineage: ``split_id`` is the split's
    index in ``plan_splits`` order, each id names its own part file, and
    ``n_docs`` counts every doc once."""
    import os

    from ragflow_spark.sources.parquet_spans import (
        extract_chunks_native_to_parquet,
    )

    splits, _ = plan_splits(corpus_path, GIANT_SPAN_THRESHOLD)
    m = extract_chunks_native_to_parquet(
        spark, corpus_path, str(tmp_path / "out")
    ).toPandas()
    assert sorted(m["split_id"]) == list(range(len(splits)))
    for sid, out_file in zip(m["split_id"], m["out_file"]):
        p, a, z = splits[sid]
        want = f"part-{os.path.basename(p)}-{a}-{z}.parquet"
        assert os.path.basename(out_file) == want
    assert int(m["n_docs"].sum()) == 120


def test_sink_deletes_parts_its_plan_does_not_name(spark, corpus_path, tmp_path):
    """Part names encode row-group ranges that ``plan_splits`` sizes from
    the session's parallelism, so a rerun under another plan would commit
    differently named parts next to the old ones. With or without
    ``resume``, the sink deletes every ``part-*`` file its plan does not
    name: no ``(doc_id, chunk_seq)`` is committed twice."""
    import os
    import shutil

    from ragflow_spark.sources.parquet_spans import (
        extract_chunks_native_to_parquet,
    )

    out = str(tmp_path / "out")
    extract_chunks_native_to_parquet(spark, corpus_path, out).collect()
    parts = sorted(os.listdir(out))
    for resume in (False, True):
        # a part of another plan: same rows as a real one, another name
        shutil.copy(os.path.join(out, parts[0]), os.path.join(out, "part-x-0-9.parquet"))
        extract_chunks_native_to_parquet(spark, corpus_path, out, resume=resume).collect()
        dup = spark.read.parquet(out).groupBy("doc_id", "chunk_seq").count()
        assert dup.where("count > 1").count() == 0, resume
        assert sorted(os.listdir(out)) == parts


def test_chunks_native_equals_fused_with_giant_routing(spark, corpus_path, monkeypatch):
    # threshold 120 forces a real split: some fixture docs exceed it
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 120)
    native = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in extract_chunks_native(spark, corpus_path).collect()
    }
    monkeypatch.undo()
    fused = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in extract_chunks_fused(spark.read.parquet(corpus_path)).collect()
    }
    assert native == fused
    # both routing branches actually ran
    import pyarrow.parquet as pq
    import pyarrow.dataset as ds

    tbl = ds.dataset(corpus_path, format="parquet").to_table(columns=["n_spans"])
    n_spans = tbl.column("n_spans").to_pylist()
    assert any(n >= 120 for n in n_spans), "fixture lacks giant docs"
    assert any(n < 120 for n in n_spans)


def test_sink_portable_commit_protocols(spark, corpus_path, tmp_path_factory, monkeypatch):
    """The sink's object-store protocol (direct all-or-nothing write, footer
    validity = commit marker) and URI resolution produce the same output as
    the local rename protocol, including rerun idempotence and resume."""
    from ragflow_spark.sources.parquet_spans import (
        extract_chunks_native_to_parquet,
    )

    base = tmp_path_factory.mktemp("sink_fs")
    out_rename = str(base / "rename")
    out_direct = f"file://{base}/direct"  # URI resolution path

    # no giants: the footer stats plan the tail away
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 10**6)
    m1 = extract_chunks_native_to_parquet(spark, corpus_path, out_rename).toPandas()
    # direct_write=True exercises the object-store commit branch
    m2 = extract_chunks_native_to_parquet(
        spark, corpus_path, out_direct, direct_write=True
    ).toPandas()
    a = {
        (r.doc_id, r.chunk_seq, r.text)
        for r in spark.read.parquet(out_rename).collect()
    }
    b = {
        (r.doc_id, r.chunk_seq, r.text)
        for r in spark.read.parquet(out_direct).collect()
    }
    assert a == b and len(a) > 0
    assert int(m1["n_chunks"].sum()) == int(m2["n_chunks"].sum())

    # resume on the direct protocol: footer validity gates the skip
    import os

    ddir = f"{base}/direct"
    parts = sorted(f for f in os.listdir(ddir) if f.endswith(".parquet"))
    # truncate one part (simulates a non-atomic-visibility failure): resume
    # must recompute it, not trust bare existence
    victim = os.path.join(ddir, parts[0])
    with open(victim, "r+b") as f:
        f.truncate(10)
    before = _mtimes(ddir, parts[1:])
    m3 = extract_chunks_native_to_parquet(
        spark, corpus_path, out_direct, direct_write=True, resume=True
    ).toPandas()
    assert _lineage(m3) == _lineage(m2)
    assert _mtimes(ddir, parts[1:]) == before
    again = {
        (r.doc_id, r.chunk_seq, r.text)
        for r in spark.read.parquet(out_direct).collect()
    }
    assert again == a


@pytest.mark.parametrize("chunker", CHUNKERS)
def test_chunks_native_equals_chunk_doc_every_chunker(
    spark, corpus_path, chunker, monkeypatch
):
    """The native path with the giant tail forced (threshold 120) equals
    per-doc ``chunk_doc(extract_doc(spans))`` for every chunker."""
    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 120)
    native = sorted(
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in extract_chunks_native(spark, corpus_path, chunker=chunker).collect()
    )
    want = sorted(
        (d["doc_id"], c["chunk_seq"], c["text"], c["token_count"],
         tuple(c["media_refs"]))
        for d in gen_docs(5, 0, 120)
        for c in chunk_doc(extract_doc(d["spans"]), chunker=chunker)
    )
    assert native == want and len(want) > 0


def test_every_doc_routed_exactly_once(spark, tmp_path):
    """Routing trusts one quantity — the ``n_spans`` column when the table
    has one — and a null count is never a giant, so the readers split the
    docs into exact complements even when ``n_spans`` is wrong. Docs whose
    ``n_spans`` understates, is null, overstates or is right each come out
    of the emit path, the sink and the checkpointed pipeline as
    ``chunk_doc(extract_doc(spans))``, exactly once, with lineage sums equal
    to the committed rows. The docs are sized from the real threshold: the
    routing has no caller option to lower it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ragflow_spark.plans.pipeline import run_pipeline_native
    from ragflow_spark.sources.parquet_spans import extract_chunks_native_to_parquet

    t = ox.GIANT_SPAN_THRESHOLD

    def spans(doc, n):
        return [{"kind": "txt", "text": f"{doc} sentence {i}.", "media_ref": "",
                 "offset": i} for i in range(n)]

    docs = {  # doc_id: (n_spans, spans)
        "under": (2, spans("under", t + 10)),
        "null": (None, spans("null", t + 10)),
        "over": (t + 50, spans("over", 3)),
        "right": (5, spans("right", 5)),
    }
    span_type = pa.struct([("kind", pa.string()), ("text", pa.string()),
                           ("media_ref", pa.string()), ("offset", pa.int32())])
    tbl = pa.table(
        {"doc_id": list(docs), "spans": [s for _, s in docs.values()],
         "n_spans": [n for n, _ in docs.values()]},
        schema=pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_type)),
                          ("n_spans", pa.int32())]),
    )
    path = tmp_path / "in"
    path.mkdir()
    pq.write_table(tbl, str(path / "docs.parquet"))
    path = str(path)
    want = sorted(
        (d, c["chunk_seq"], c["text"], c["token_count"], tuple(c["media_refs"]))
        for d, (_, s) in docs.items()
        for c in chunk_doc(extract_doc(s))
    )
    assert {w[0] for w in want} == set(docs)

    def rows(df):
        return sorted((r.doc_id, r.chunk_seq, r.text, r.token_count,
                       tuple(r.media_refs or ())) for r in df.collect())

    def committed(d):
        return spark.read.option("recursiveFileLookup", "true").parquet(d)

    assert rows(extract_chunks_native(spark, path)) == want

    out = str(tmp_path / "sink")
    m = extract_chunks_native_to_parquet(spark, path, out).toPandas()
    assert rows(committed(out)) == want
    assert [m[c].sum() for c in ("n_docs", "n_chunks", "n_failures")] == [4, len(want), 0]
    # the tail took exactly the doc whose n_spans reaches the threshold
    assert {r.doc_id for r in committed(f"{out}/giants").collect()} == {"over"}

    r = run_pipeline_native(spark, path, str(tmp_path / "ck"))
    assert rows(committed(r.stages["chunks"].path)) == want
    sums = r.run.metrics().agg(F.sum("doc_count"), F.sum("span_count"),
                               F.sum("failure_count")).first()
    assert list(sums) == [4, len(want), 0]
