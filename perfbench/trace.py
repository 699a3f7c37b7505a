"""Traced in-task replay of the extraction kernels.

A benchmark-owned ``mapInPandas`` over the same ``plan_splits`` splits makes
the same calls, in the same order, as the production in-task loop of
``sources.parquet_spans``: ``ParquetFile.read_row_groups`` → ``_iter_docs`` →
per doc ``strip_rows`` → ``finalize_doc`` (→ ``layout_doc``) → ``chunk_doc``
(→ ``num_tokens``) → sink commit (``_commit_table``) or the pandas frame the
JVM emit path yields. ``extract_doc`` is ``finalize_doc(strip_rows(...))``,
so the replay calls its two halves separately to time them.

With tracing on, each call is wrapped in a span (name, start, end, parent,
run id); ``num_tokens`` and ``layout_doc`` are wrapped at the module
attribute for the duration of one split and restored afterwards, since the
Python worker is reused by later tasks. Spans stay in memory in the task and
come back as rows of the replay's output. With tracing off the same loop
runs without spans or wrappers, which gives the tracing overhead.
"""

from __future__ import annotations

import time

import pandas as pd

SPAN_SCHEMA = (
    "run_id string, task int, span_id int, parent_id int, name string, "
    "start_ns long, end_ns long, n long"
)
SPAN_COLUMNS = ["run_id", "task", "span_id", "parent_id", "name",
                "start_ns", "end_ns", "n"]

# in-task layers, named <module>.<public function>
READ, DECODE = "parquet_spans.read", "parquet_spans.decode"
STRIP, FINALIZE, LAYOUT = "extract.strip_rows", "extract.finalize_doc", "extract.layout_doc"
CHUNK, TOKENS = "extract.chunk_doc", "tokens.num_tokens"
SINK, EMIT = "parquet_spans.sink", "parquet_spans.emit"
ROOT = "replay.split"
USEFUL = "parquet_spans.decode.useful"  # zero-length counter row
IN_TASK_LAYERS = (READ, DECODE, STRIP, FINALIZE, LAYOUT, CHUNK, TOKENS, SINK, EMIT)


class Tracer:
    """Span recorder for one task: a stack gives each span its parent."""

    def __init__(self, run_id: str, task: int):
        self.run_id = run_id
        self.task = task
        self.rows: list[tuple] = []
        self._stack = [-1]
        self._next = 0

    def begin(self, name: str) -> tuple:
        sid = self._next
        self._next += 1
        parent = self._stack[-1]
        self._stack.append(sid)
        return sid, parent, name, time.perf_counter_ns()

    def end(self, tok: tuple, n: int = 0) -> None:
        t1 = time.perf_counter_ns()
        self._stack.pop()
        self.rows.append((tok[0], tok[1], tok[2], tok[3], t1, n))

    def count(self, name: str, n: int) -> None:
        t = time.perf_counter_ns()
        self.rows.append((self._next, self._stack[-1], name, t, t, n))
        self._next += 1

    def wrap(self, fn, name: str, size=None):
        def traced(*args, **kwargs):
            tok = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(tok, size(args) if size else 1)

        return traced

    def frame(self) -> pd.DataFrame:
        df = pd.DataFrame(self.rows, columns=SPAN_COLUMNS[2:])
        df.insert(0, "task", self.task)
        df.insert(0, "run_id", self.run_id)
        return df


def _chunk_rows(ids: list[str], rows: list[dict]) -> dict:
    return {
        "doc_id": ids,
        "chunker": [c["chunker"] for c in rows],
        "chunk_seq": [c["chunk_seq"] for c in rows],
        "text": [c["text"] for c in rows],
        "token_count": [c["token_count"] for c in rows],
        "media_refs": [c["media_refs"] for c in rows],
    }


def _replay_split(row, opts: dict, tr: Tracer | None) -> tuple[int, int]:
    """One split, exactly as the production in-task loop runs it.
    Returns (docs kept, chunk rows)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ragflow_spark.kernels import extract as kx
    from ragflow_spark.sources import parquet_spans as ps

    threshold = opts["giant_threshold"]
    rgs = list(range(row.rg_start, row.rg_end))
    tok = tr.begin(READ) if tr else None
    pf = pq.ParquetFile(row.path)
    tbl = pf.read_row_groups(rgs, columns=["doc_id", "spans"],
                             use_threads=opts["read_threads"])
    if tr:
        md = pf.metadata
        nbytes = sum(
            md.row_group(i).column(j).total_compressed_size
            for i in rgs
            for j in range(md.num_columns)
            if md.row_group(i).column(j).path_in_schema.split(".")[0]
            in ("doc_id", "spans")
        )
        tr.end(tok, nbytes)
        tok = tr.begin(DECODE)
    doc_ids, per_doc = ps._iter_docs(tbl)
    if tr:
        tr.end(tok, sum(len(r) for r in per_doc))
    ids_out: list[str] = []
    rows: list[dict] = []
    n_docs = useful = 0
    for doc_id, recs in zip(doc_ids, per_doc):
        if len(recs) >= threshold:
            continue  # the giant-doc tail handles it
        n_docs += 1
        useful += len(recs)
        if tr:
            tok = tr.begin(STRIP)
            stripped = kx.strip_rows(recs)
            tr.end(tok, len(stripped))
            tok = tr.begin(FINALIZE)
            out = kx.finalize_doc(stripped, html_tables=False)
            tr.end(tok, len(stripped))
            tok = tr.begin(CHUNK)
            chunks = kx.chunk_doc(out, **opts["chunk_args"])
            tr.end(tok, len(chunks))
        else:
            chunks = kx.chunk_doc(kx.extract_doc(recs, html_tables=False),
                                  **opts["chunk_args"])
        for c in chunks:
            ids_out.append(doc_id)
            rows.append(c)
    if tr:
        tr.count(USEFUL, useful)

    if opts["sink_dir"] is None:
        # the JVM emit path: the frame extract_chunks_native yields
        tok = tr.begin(EMIT) if tr else None
        cols = _chunk_rows(ids_out, rows)
        cols["media_refs"] = pd.Series(cols["media_refs"], dtype=object)
        pd.DataFrame(cols)
        if tr:
            tr.end(tok, len(rows))
        return n_docs, len(rows)

    tok = tr.begin(SINK) if tr else None
    cols = _chunk_rows(ids_out, rows)
    out_tbl = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.string()),
            "chunker": pa.array(cols["chunker"], pa.string()),
            "chunk_seq": pa.array(cols["chunk_seq"], pa.int32()),
            "text": pa.array(cols["text"], pa.string()),
            "token_count": pa.array(cols["token_count"], pa.int32()),
            "media_refs": pa.array(cols["media_refs"], pa.list_(pa.string())),
        }
    )
    fs, root = ps._resolve_fs(opts["sink_dir"])
    fname = (f"{root.rstrip('/')}/part-{os.path.basename(row.path)}"
             f"-{row.rg_start}-{row.rg_end}.parquet")
    ps._commit_table(fs, fname, out_tbl, "snappy",
                     ps._use_rename_protocol(fs, None))
    if tr:
        tr.end(tok, fs.get_file_info(fname).size)
    return n_docs, len(rows)


def make_replay(opts: dict):
    """The replay's mapInPandas function. ``opts``: run_id, trace,
    giant_threshold, read_threads, chunk_args, sink_dir (None = emit)."""

    def run(batches):
        from ragflow_spark.kernels import chunkers as kc
        from ragflow_spark.kernels import extract as kx

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if not opts["trace"]:
                    _replay_split(row, opts, None)
                    continue
                tr = Tracer(opts["run_id"], int(row.task))
                saved = (kx.num_tokens, kc.num_tokens, kx.layout_doc)
                kx.num_tokens = tr.wrap(saved[0], TOKENS)
                kc.num_tokens = tr.wrap(saved[1], TOKENS)
                kx.layout_doc = tr.wrap(saved[2], LAYOUT, size=lambda a: len(a[0]))
                try:
                    tok = tr.begin(ROOT)
                    n_docs, _ = _replay_split(row, opts, tr)
                    tr.end(tok, n_docs)
                finally:
                    kx.num_tokens, kc.num_tokens, kx.layout_doc = saved
                yield tr.frame()

    return run


def replay(spark, splits: list, opts: dict) -> pd.DataFrame:
    """Run the replay over ``splits`` (one task per split, as the
    production planner lays them out); returns the span rows."""
    rows = [(p, a, b, i) for i, (p, a, b) in enumerate(splits)]
    rdd = spark.sparkContext.parallelize(rows, max(len(rows), 1))
    df = spark.createDataFrame(rdd, "path string, rg_start int, rg_end int, task int")
    return df.mapInPandas(make_replay(opts), schema=SPAN_SCHEMA).toPandas()


def self_times(spans: pd.DataFrame) -> pd.DataFrame:
    """Per span name: self seconds (duration minus the part covered by its
    child spans), call count and summed ``n``."""
    if spans.empty:
        return pd.DataFrame(columns=["self_s", "calls", "n"])
    dur = spans["end_ns"] - spans["start_ns"]
    key = ["run_id", "task"]
    child = (
        spans.assign(dur=dur)
        .groupby(key + ["parent_id"])["dur"].sum()
        .rename("child_ns")
    )
    s = spans.assign(dur=dur).merge(
        child, left_on=key + ["span_id"], right_index=True, how="left"
    )
    s["self_s"] = (s["dur"] - s["child_ns"].fillna(0)) / 1e9
    return s.groupby("name").agg(
        self_s=("self_s", "sum"), calls=("span_id", "size"), n=("n", "sum")
    )
