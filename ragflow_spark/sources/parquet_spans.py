"""Python-native parquet source for the interleaved-span table, and the
one doc-batch runner every extraction path shares.

Motivation (measured, see BENCH.md): feeding nested ``array<struct>`` rows
from the JVM scan through Arrow IPC into Python workers costs more CPU than
the extraction kernels themselves and stops scaling past ~8 workers (the JVM
feed threads compete with the Python workers for the same cores). pyarrow
reads the same corpus columnar-natively at >100k docs/s on one core.

So the hot ingest path puts the *reader inside the Python task*: the driver
lists parquet row-group splits (metadata only — no data touched), Spark
schedules one task per split (locality/retries/speculation still apply), and
each task reads its row groups straight into Arrow and runs the kernels.
The JVM never materializes the span arrays. This is the same architecture as
Spark's own Python DataSource API; rebuilt here explicitly so the split
planning stays under our control (row-group granularity = the salting unit
for giant files). ``plan_splits`` sizes splits from the footers alone: about
four tasks per slot of the active session.

Both readers — that in-task pyarrow read for parquet paths, and the JVM
scan for DataFrame inputs (``operators.extract.extract_spans`` /
``extract_chunks_fused``, hence streaming ``foreachBatch`` and
``__spark_entry__.entry``) — feed the same runner, ``_run_docs``: one
Arrow batch or table of ``(doc_id, spans)`` → ``_iter_docs`` decode →
``extract_doc`` (→ ``chunk_doc``) per doc → one Arrow table typed from
``OUT_SPANS_SCHEMA`` / ``CHUNKS_SCHEMA``. The sink commits that table from inside the task;
every other path yields its batches from a ``mapInArrow`` stage
(``_route``).

Giant documents are routed by the readers, once, and the runner never sees
one. A doc is a giant when its routing count is at least
``operators.extract.GIANT_SPAN_THRESHOLD``; the routing count is the
``n_spans`` column when the table's schema has one, else the span-list
length, and a null count is never a giant. ``_routing`` builds that
predicate as Spark Columns for both JVM sites (the DataFrame branch of
``_route`` and ``_plan``'s giants scan) and ``_small_arrow`` is its Arrow
twin for the in-task read, ``_read_split``, which drops the giants before
any decode; the small side is the exact complement of the giant side, so
every doc is routed exactly once, even when ``n_spans`` is wrong.
``operators.extract._giant_tail`` (exploded/salted DataFrame path) handles
the giants. ``_plan`` is the one planner of both in-task paths (emit and
sink): the numbered split rows, the split reader bound to its routing
decision, and the giants' JVM scan, which the ``n_spans`` stats column
prunes to whole row groups — or none at all, when the footer stats prove
there are no giants.
"""

from __future__ import annotations

import functools
import math
import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ragflow_spark.kernels.extract import chunk_doc, error_row, extract_doc
from ragflow_spark.operators import extract as ox
from ragflow_spark.operators.extract import _chunk_args, _giant_tail
from ragflow_spark.plans.checkpoint import table_lineage, write_observed
from ragflow_spark.schemas import CHUNKS_SCHEMA, OUT_SPANS_SCHEMA

SPLITS_SCHEMA = "split_id int, path string, rg_start int, rg_end int"
_SPANS_ARROW = to_arrow_schema(OUT_SPANS_SCHEMA)
_CHUNKS_ARROW = to_arrow_schema(CHUNKS_SCHEMA)


def plan_splits(
    path: str, giant_threshold: int
) -> tuple[list[tuple[str, int, int]], bool]:
    """Row-group split planning from parquet footers only (no data I/O).
    Groups consecutive row groups of a file until the running row total
    reaches ceil(footer rows ÷ (4 × defaultParallelism)) of the active
    session — about four tasks per slot. A split never spans files and
    never cuts a row group.

    Returns (splits, may_have_giants): when the table carries the
    ``n_spans`` stats column, row-group max statistics prove the absence of
    giant docs without reading any data — the giant-doc tail pipeline is
    skipped entirely in that case."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    files = ds.dataset(path, format="parquet").files
    metas = [pq.ParquetFile(f).metadata for f in files]
    spark = SparkSession.getActiveSession()
    slots = spark.sparkContext.defaultParallelism if spark else 1
    target_rows = math.ceil(sum(md.num_rows for md in metas) / (4 * slots))
    splits: list[tuple[str, int, int]] = []
    may_have_giants = False
    for f, md in zip(files, metas):
        ncol = None
        if md.num_row_groups > 0:
            # leaf-column index of n_spans (nested spans flatten to leaves,
            # so the arrow field index does NOT match the parquet one)
            rg0 = md.row_group(0)
            for j in range(rg0.num_columns):
                if rg0.column(j).path_in_schema == "n_spans":
                    ncol = j
                    break
        if ncol is None:
            may_have_giants = True  # no stats column → must assume giants
        n_rg = md.num_row_groups
        start, acc = 0, 0
        for i in range(n_rg):
            rg = md.row_group(i)
            acc += rg.num_rows
            if ncol is not None:
                stats = rg.column(ncol).statistics
                if stats is None or stats.max is None:
                    may_have_giants = True
                elif stats.max >= giant_threshold:
                    may_have_giants = True
            if acc >= target_rows or i == n_rg - 1:
                splits.append((f, start, i + 1))
                start, acc = i + 1, 0
    return splits, may_have_giants


def _routing(by_n_spans: bool, threshold: int) -> tuple[Column, Column]:
    """The routing predicate as (small, giant) Spark Columns: a doc is a
    giant when its routing count — ``n_spans`` if ``by_n_spans``, else the
    span-list length — is at least ``threshold``. A null count is never a
    giant, so small is the exact complement of giant, nulls included."""
    count = F.col("n_spans") if by_n_spans else F.size("spans")
    return F.coalesce(count < threshold, F.lit(True)), count >= threshold


def _small_arrow(tbl, by_n_spans: bool, threshold: int):
    """``_routing``'s small side over an Arrow table of the docs."""
    import pyarrow.compute as pc

    count = tbl.column("n_spans") if by_n_spans else pc.list_value_length(tbl.column("spans"))
    return pc.fill_null(pc.less(count, threshold), True)


def _read_split(path: str, rg_start: int, rg_end: int, by_n_spans: bool, threshold: int):
    """The one in-task read: row groups [rg_start, rg_end) of ``path`` as an
    Arrow table of (doc_id, spans), minus the giant docs (the giant-doc
    tail's), dropped by ``_small_arrow`` before any decode."""
    import pyarrow.parquet as pq

    cols = ["doc_id", "spans"] + (["n_spans"] if by_n_spans else [])
    tbl = pq.ParquetFile(path).read_row_groups(
        list(range(rg_start, rg_end)), columns=cols, use_threads=False
    )
    return tbl.filter(_small_arrow(tbl, by_n_spans, threshold))


def _iter_docs(batch) -> tuple[list, list]:
    """Arrow RecordBatch/Table of (doc_id, spans) → (doc_ids,
    list-of-span-record-lists). A null ``spans`` decodes as an empty doc."""
    doc_ids = batch.column("doc_id").to_pylist()
    per_doc = [
        []
        if spans is None
        else [
            {
                "kind": s["kind"],
                "text": s["text"],
                "media_ref": s["media_ref"],
                "offset": s["offset"],
            }
            for s in spans
        ]
        for spans in batch.column("spans").to_pandas()
    ]
    return doc_ids, per_doc


def _run_docs(batch, html_tables: bool, chunk_args: dict | None):
    """The doc-batch runner: decode → ``extract_doc`` (→ ``chunk_doc`` with
    ``chunk_args``; None means output spans, not chunks) per doc → one
    Arrow table typed from OUT_SPANS_SCHEMA / CHUNKS_SCHEMA. Its input
    holds no giant doc: the readers route those to the giant-doc tail.
    A doc whose kernels raise emits one ``error_row`` instead of failing
    the task."""
    import pyarrow as pa

    ids: list[str] = []
    rows: list[dict] = []
    for doc_id, recs in zip(*_iter_docs(batch)):
        try:
            out = extract_doc(recs, html_tables=html_tables)
            if chunk_args is not None:
                out = chunk_doc(out, **chunk_args)
        except Exception as e:  # noqa: BLE001 — per-doc isolation
            out = [error_row(e, chunk_args is not None)]
        ids += [doc_id] * len(out)
        rows += out
    schema = _SPANS_ARROW if chunk_args is None else _CHUNKS_ARROW
    cols = {n: [r[n] for r in rows] for n in schema.names[1:]}
    return pa.Table.from_pydict({"doc_id": ids, **cols}, schema=schema)


def _plan(
    spark: SparkSession, path: str
) -> tuple[list, DataFrame, DataFrame | None, Callable]:
    """The one planner of the in-task paths: (the ``plan_splits`` splits;
    their rows numbered ``split_id`` in that order, one per partition of a
    JVM ``Range`` — no Python task feeds them; the JVM scan of the giant
    docs, or None when the footer stats prove there are none; the split
    reader, ``_read_split`` bound to the same routing decision, so the
    runner keeps exactly the docs the scan leaves out). The threshold is
    read here, once per call, and so is the routing count: ``n_spans``
    when the table's schema has it — the giant predicate is then pushed
    into the parquet reader and prunes row groups via min/max, so the JVM
    never decodes the span arrays of non-giant row groups — else
    ``size(spans)`` (full decode: only correct, not fast; production
    tables must carry n_spans)."""
    import pyarrow.dataset as ds

    threshold = ox.GIANT_SPAN_THRESHOLD
    by_n_spans = "n_spans" in ds.dataset(path, format="parquet").schema.names
    read = functools.partial(_read_split, by_n_spans=by_n_spans, threshold=threshold)
    splits, may_have_giants = plan_splits(path, threshold)
    # exactly one split per partition, WITHOUT a shuffle (a repartition here
    # would let AQE coalesce the byte-tiny split rows into a handful of fat
    # tasks) and without a Python source: createDataFrame over a parallelized
    # RDD runs its own Python task per split ahead of the split task. The
    # JVM generates split i as row i of a Range and looks its columns up in
    # literal arrays, O(splits) in the broadcast task binary.
    i = F.col("id").cast("int")
    fields = T.StructType.fromDDL(SPLITS_SCHEMA).fields
    columns = [list(c) for c in zip(*splits)] or [[]] * (len(fields) - 1)
    splits_df = spark.range(0, len(splits), 1, max(len(splits), 1)).select(
        i.alias(fields[0].name),
        *(F.lit(c).cast(T.ArrayType(f.dataType))[i].alias(f.name)
          for f, c in zip(fields[1:], columns)),
    )
    if not may_have_giants:
        return splits, splits_df, None, read
    giants = spark.read.parquet(path).where(_routing(by_n_spans, threshold)[1])
    return splits, splits_df, giants.select("doc_id", "spans"), read


def _route(
    spark: SparkSession,
    source: DataFrame | str,
    html_tables: bool,
    chunk_args: dict | None,
) -> DataFrame:
    """Every emitting extraction path: a ``mapInArrow`` stage yielding the
    runner's batches for the docs below the giant threshold, unioned with
    ``_giant_tail`` over the rest. ``source`` picks the reader: a docs
    DataFrame is fed by its JVM scan, split by ``_routing``; a parquet path
    is read inside the task by ``_plan``'s split reader, one split per
    task, and its tail is planned away when the footer stats prove there
    are no giants."""
    in_task = isinstance(source, str)
    if in_task:
        _, feed, giants, read = _plan(spark, source)
    else:
        is_small, is_giant = _routing("n_spans" in source.columns, ox.GIANT_SPAN_THRESHOLD)
        feed = source.where(is_small).select("doc_id", "spans")
        giants = source.where(is_giant).select("doc_id", "spans")

    def run(batches):
        for b in batches:
            tables = [b]
            if in_task:
                d = b.to_pydict()
                tables = (read(p, a, z) for p, a, z in zip(d["path"], d["rg_start"], d["rg_end"]))
            for t in tables:
                yield from _run_docs(t, html_tables, chunk_args).to_batches()

    small = feed.mapInArrow(run, OUT_SPANS_SCHEMA if chunk_args is None else CHUNKS_SCHEMA)
    if giants is None:
        # row-group max(n_spans) statistics prove no giants exist: the
        # whole tail pipeline (scan + 2 shuffles) is planned away
        return small
    return small.unionByName(_giant_tail(giants, html_tables, chunk_args))


def extract_chunks_native(
    spark: SparkSession,
    path: str,
    chunker: str = "naive",
    chunk_token_num: int = 512,
    delimiter: str = "\n!?。；！？",
    overlapped_percent: int = 0,
) -> DataFrame:
    """parquet → chunks with the reader inside the Python task (hot path) and
    the exploded/salted DataFrame path for the giant-doc tail."""
    chunk_args = _chunk_args(chunker, chunk_token_num, delimiter, overlapped_percent)
    return _route(spark, path, False, chunk_args)


MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("split_id", T.IntegerType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_chunks", T.LongType()),
        T.StructField("n_failures", T.LongType()),
        T.StructField("out_file", T.StringType()),
    ]
)
_MANIFEST_ARROW = to_arrow_schema(MANIFEST_SCHEMA)


def _resolve_fs(path: str):
    """(pyarrow FileSystem, fs-local path) for a plain path or URI
    (s3://, hdfs://, gs://, file://). Gives the sink S3/HDFS portability
    without extra deps — pyarrow ships the filesystem impls."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _use_rename_protocol(fs, direct_write: bool | None) -> bool:
    from pyarrow import fs as pafs

    if direct_write is not None:
        return not direct_write
    return isinstance(fs, pafs.LocalFileSystem)


def _commit_table(fs, path: str, tbl, compression: str, rename: bool) -> None:
    """Atomic per-split commit. Local/HDFS-like (rename=True): write a temp
    file then rename — atomic on POSIX and HDFS. Object stores
    (rename=False): write the final object directly — S3/GCS PUTs become
    visible all-or-nothing and a failed task aborts its multipart upload,
    so a *readable* object at the final key IS the commit marker."""
    import pyarrow.parquet as pq

    if rename:
        tmp = path + ".tmp"
        with fs.open_output_stream(tmp) as f:
            pq.write_table(tbl, f, compression=compression)
        fs.move(tmp, path)
    else:
        with fs.open_output_stream(path) as f:
            pq.write_table(tbl, f, compression=compression)


def _read_committed(fs, path: str, columns: list | None = None):
    """``columns`` of a committed file, None if absent or unreadable.
    Footer validation (rather than bare existence) is the commit check —
    a truncated object can only exist on filesystems without atomic
    visibility, and it must read as not committed."""
    import pyarrow.parquet as pq

    try:
        with fs.open_input_file(path) as f:
            return pq.read_table(f, columns=columns)
    except Exception:  # noqa: BLE001 — any unreadable file is uncommitted
        return None


def _part_name(path: str, rg_start: int, rg_end: int) -> str:
    return f"part-{os.path.basename(path)}-{rg_start}-{rg_end}.parquet"


def extract_chunks_native_to_parquet(
    spark: SparkSession,
    path: str,
    out_dir: str,
    chunker: str = "naive",
    chunk_token_num: int = 512,
    delimiter: str = "\n!?。；！？",
    overlapped_percent: int = 0,
    resume: bool = False,
    direct_write: bool | None = None,
) -> DataFrame:
    """Full python-native pipeline INCLUDING the sink: each task reads its
    row-group split, extracts+chunks, and commits its own parquet part —
    the chunk rows never cross the JVM boundary. Returns the manifest
    DataFrame (split_id, n_docs, n_chunks, n_failures, out_file): one row
    per split, counted (``plans.checkpoint.table_lineage``) by its task on
    the table it committed, and file-per-split makes reruns idempotent
    (same split → same file name, committed atomically). Giant docs go
    through the salted DataFrame path into ``giants/``, written before the
    manifest job; that Spark write's observed lineage is one more row,
    ``split_id`` -1, kept in ``giants/_lineage`` and emitted by split 0's
    task, so the manifest job runs exactly one task per split.

    The directory holds only this plan's parts: part names encode
    row-group ranges, which ``plan_splits`` sizes from the session's
    parallelism, so a run first deletes every ``part-*`` file its plan
    does not rewrite. With ``resume``, a split whose part reads back is
    skipped (its row recounted from the file), and so is a giant tail whose
    ``giants/_lineage`` reads back.

    ``out_dir`` may be a plain path or an s3://, hdfs://, gs://, file://
    URI — the commit protocol adapts (temp+rename on rename-capable
    filesystems, direct all-or-nothing object write elsewhere; override
    with ``direct_write``).

    At cluster scale this is the shape that keeps the write path scaling
    with executors instead of funneling Arrow batches back through the
    scheduler side."""
    import pyarrow as pa
    from pyarrow import fs as pafs

    chunk_args = _chunk_args(chunker, chunk_token_num, delimiter, overlapped_percent)
    fs0, root0 = _resolve_fs(out_dir)
    fs0.create_dir(root0, recursive=True)
    plan, splits, giants, read = _plan(spark, path)
    keep = {_part_name(*s) for s in plan} if resume else set()
    for info in fs0.get_file_info(pafs.FileSelector(root0)):
        if info.base_name.startswith("part-") and info.base_name not in keep:
            fs0.delete_file(info.path)

    tail = []  # the giant tail's lineage row, carried by split 0's task
    if giants is not None:
        gdir = f"{root0.rstrip('/')}/giants"
        lineage = _read_committed(fs0, f"{gdir}/_lineage") if resume else None
        if lineage is None:
            # overwrite (not append): the giants output is a pure function of
            # the input, so reruns replace it instead of duplicating every giant
            row = write_observed(
                _giant_tail(giants, False, chunk_args), out_dir.rstrip("/") + "/giants"
            )
            lineage = pa.Table.from_pylist(
                [dict(zip(MANIFEST_SCHEMA.names, (*row, gdir)))], schema=_MANIFEST_ARROW
            )
            rename = _use_rename_protocol(fs0, direct_write)
            _commit_table(fs0, f"{gdir}/_lineage", lineage, "snappy", rename)
        tail = lineage.to_pylist()

    def run(batches):
        fs, root = _resolve_fs(out_dir)
        rename = _use_rename_protocol(fs, direct_write)
        for b in batches:
            d = b.to_pydict()
            rows = []
            for sid, p, a, z in zip(d["split_id"], d["path"], d["rg_start"], d["rg_end"]):
                fname = f"{root.rstrip('/')}/{_part_name(p, a, z)}"
                tbl = _read_committed(fs, fname, ["chunk_seq", "chunker"]) if resume else None
                if tbl is None:
                    tbl = _run_docs(read(p, a, z), False, chunk_args)
                    _commit_table(fs, fname, tbl, "snappy", rename)
                rows.append(dict(zip(MANIFEST_SCHEMA.names, (sid, *table_lineage(tbl), fname))))
                if sid == 0:
                    rows += tail
            yield pa.RecordBatch.from_pylist(rows, schema=_MANIFEST_ARROW)

    return splits.mapInArrow(run, MANIFEST_SCHEMA)


def extract_spans_native(spark: SparkSession, path: str) -> DataFrame:
    """parquet → extracted spans, Python-native reader (same routing)."""
    return _route(spark, path, False, None)
