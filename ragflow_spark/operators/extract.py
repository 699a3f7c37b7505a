"""Spark operators for the extraction pipeline.

Physical layout (SURVEY.md §4.3, north-rule "partitioning / shuffle / skew
handled explicitly"):

- **strip** is span-local → ``explode`` the span arrays, then *salted
  repartition* on ``(doc_id, offset-block)`` so one giant document's spans
  spread across the cluster instead of pinning a single task. The stage runs
  as ``mapInPandas`` (Arrow batches; the kernel is pure Python over batch
  rows, no Spark-level per-row UDF).
- **finalize** (layout + assembly + emit, then chunking) is doc-level and
  order-dependent → ``applyInPandas`` over ``doc_id``, one regroup that
  runs ``finalize_doc`` and ``chunk_doc`` per document. Inside, the kernel
  is numpy-vectorized per document; across documents, vectorization comes
  from Arrow batching.

At 100 TB the dominant costs are the input scan (columnar, pruned to
doc_id+spans) and the one shuffle into finalize; strip's salting bounds the
largest task by ``SALT_BLOCK`` spans rather than by the largest document.

These stages serve only the giant-doc tail (``_giant_tail``). Docs below
``GIANT_SPAN_THRESHOLD`` run whole, in one Arrow map, through the doc-batch
runner in ``sources.parquet_spans``; the readers route the giants here, so
that runner never sees one. Both per-doc loops call one guarded per-doc
kernel, ``kernels.extract.guarded_doc``: a document whose kernels raise
becomes one ``error_row`` marker row and never fails its task.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ragflow_spark.kernels.extract import (
    CHUNKERS,
    finalize_doc,
    guarded_doc,
    strip_rows,
)
from ragflow_spark.kernels.media_docs import tks_pair
from ragflow_spark.schemas import CHUNKS_SCHEMA, OUT_SPANS_SCHEMA

STRIPPED_SCHEMA = (
    "doc_id string, kind string, text string, media_ref string, "
    "offset int, sub int"
)
SALT_BLOCK = 256  # spans of one giant doc per strip-shuffle key


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) → one row per span, salted.

    ``salt`` buckets ``offset`` into blocks of ``SALT_BLOCK`` so a 10^6-span
    document becomes ~4k independent tasks' worth of rows instead of one hot
    key. The strip stage never needs whole-doc context, so this is safe."""
    return (
        docs.select("doc_id", F.explode("spans").alias("span"))
        .select(
            "doc_id",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
            F.col("span.offset").alias("offset"),
        )
        .withColumn("salt", (F.col("offset") / F.lit(SALT_BLOCK)).cast("int"))
    )


def strip_stage(exploded: DataFrame) -> DataFrame:
    """Format parsing (html/md/txt/json) as an Arrow-batched map. Salted
    repartition spreads giant docs; the map itself is stateless."""
    # explicit numPartitions: a bare repartition(cols) is AQE-coalescible,
    # and a giant doc's spans are SMALL by bytes (AQE's only yardstick)
    # while huge by kernel CPU — AQE folded the salted shuffle back into
    # one partition, silently re-serializing the exact straggler this
    # stage exists to spread (measured: skew bench straggler cut 1.0x
    # before, 5.8x after on 8 cores; the CLAUDE.md tiny-task-list
    # invariant, now on the giant-doc path). User-specified counts are
    # exempt from AQE.
    par = exploded.sparkSession.sparkContext.defaultParallelism
    df = exploded.repartition(par * 4, "doc_id", "salt")

    def run(batches):
        for pdf in batches:
            out_rows: list[dict] = []
            spans = pdf[["doc_id", "kind", "text", "media_ref", "offset"]].to_dict("records")
            for s in spans:
                for r in strip_rows([s]):
                    r["doc_id"] = s["doc_id"]
                    out_rows.append(r)
            yield pd.DataFrame(
                out_rows,
                columns=["doc_id", "kind", "text", "media_ref", "offset", "sub"],
            )

    return df.mapInPandas(run, schema=STRIPPED_SCHEMA)


def finalize_stage(
    stripped: DataFrame, html_tables: bool = False, chunk_args: dict | None = None
) -> DataFrame:
    """Doc-level layout/assembly/emit (→ ``chunk_doc`` with ``chunk_args``;
    None means output spans, not chunks) in ONE regroup: a shuffle on
    doc_id pinned to an explicit partition count (AQE would coalesce a
    bare one, as it did the salted strip shuffle), then the kernels per
    document. A doc whose kernels raise emits one ``error_row`` instead of
    failing the task."""
    schema = OUT_SPANS_SCHEMA if chunk_args is None else CHUNKS_SCHEMA
    cols = ["kind", "text", "media_ref", "offset", "sub"]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = pdf["doc_id"].iloc[0]
        recs = pdf[cols].to_dict("records")
        out = guarded_doc(finalize_doc, recs, html_tables, chunk_args)
        return pd.DataFrame(out, columns=schema.names[1:]).assign(doc_id=doc_id)

    par = stripped.sparkSession.sparkContext.defaultParallelism
    return (
        stripped.repartition(par * 4, "doc_id")
        .groupBy("doc_id")
        .applyInPandas(run, schema=schema)
    )


GIANT_SPAN_THRESHOLD = 2048


def _giant_tail(giants: DataFrame, html_tables: bool, chunk_args: dict | None) -> DataFrame:
    """The giant-doc route every extraction entry point shares: explode →
    salted strip → one per-doc regroup that finalizes (and chunks, given
    ``chunk_args``; None means output spans, not chunks)."""
    stripped = strip_stage(explode_spans(giants))
    return finalize_stage(stripped, html_tables, chunk_args)


def _chunk_args(
    chunker: str, chunk_token_num: int, delimiter: str, overlapped_percent: int
) -> dict:
    """``chunk_doc``'s keywords for every chunking entry point, checked on
    the driver: per-doc error capture would otherwise turn a chunker typo
    into one marker row per document."""
    if chunker not in CHUNKERS:
        raise ValueError(f"unknown chunker {chunker!r}; expected one of {CHUNKERS}")
    return dict(
        chunker=chunker,
        chunk_token_num=chunk_token_num,
        delimiter=delimiter,
        overlapped_percent=overlapped_percent,
    )


def extract_spans(docs: DataFrame, html_tables: bool = False) -> DataFrame:
    """Full extraction with explicit skew routing:

    - docs below ``GIANT_SPAN_THRESHOLD`` spans (≈all docs): whole-doc
      single-pass map, ZERO shuffles — input scan → Arrow batch → output.
    - giant docs (the heavy tail): explode → salted strip (spreads one
      document's spans across the cluster) → per-doc finalize regroup.

    Both paths run the identical kernels (tests assert equality). The
    readers own the routing decision (``sources.parquet_spans._routing``):
    it takes no caller option; tests and the skew bench monkeypatch
    ``GIANT_SPAN_THRESHOLD`` (0 sends every doc through the tail)."""
    from ragflow_spark.sources.parquet_spans import _route  # deferred: it imports this module

    return _route(docs.sparkSession, docs, html_tables, None)


def extract_chunks_fused(
    docs: DataFrame,
    chunker: str = "naive",
    chunk_token_num: int = 512,
    delimiter: str = "\n!?。；！？",
    overlapped_percent: int = 0,
) -> DataFrame:
    """End-to-end extract+chunk in ONE pass for non-giant docs (zero
    shuffles input→chunks); giant docs take the giant-doc tail, whose one
    regroup finalizes and chunks each document."""
    from ragflow_spark.sources.parquet_spans import _route  # deferred: it imports this module

    chunk_args = _chunk_args(chunker, chunk_token_num, delimiter, overlapped_percent)
    return _route(docs.sparkSession, docs, False, chunk_args)


def with_chunk_ids(chunks: DataFrame) -> DataFrame:
    """Stable content-addressed chunk ids (reference:
    rag/svr/task_executor.py:287 — xxhash64(content + doc_id)); built-in
    ``F.xxhash64``, no UDF. Idempotent re-runs produce identical ids, which
    is what makes sink upserts and digest-based reuse possible."""
    return chunks.withColumn("chunk_id", F.xxhash64("text", "doc_id"))


def with_ltks(chunks: DataFrame) -> DataFrame:
    """Doc-field assembly (reference tokenize, rag/nlp/__init__.py:258-263):
    add ``content_ltks`` (table tags stripped, trie-tokenized text) and
    ``content_sm_ltks`` (fine-grained re-split) columns through the one
    ``kernels.media_docs.tks_pair`` helper. Arrow-batched mapInPandas; the
    trie builds once per worker (module-level lazy singleton), so the
    per-row cost is the tokenization itself."""
    schema = T.StructType(
        chunks.schema.fields
        + [
            T.StructField("content_ltks", T.StringType(), True),
            T.StructField("content_sm_ltks", T.StringType(), True),
        ]
    )

    def run(batches):
        for pdf in batches:
            yield _add_content_tks(pdf.copy())

    return chunks.mapInPandas(run, schema=schema)


def _add_content_tks(pdf: pd.DataFrame) -> pd.DataFrame:
    """``content_ltks`` / ``content_sm_ltks`` of ``pdf["text"]``, in place."""
    pairs = pdf["text"].fillna("").map(tks_pair)
    pdf["content_ltks"] = pairs.map(lambda p: p[0])
    pdf["content_sm_ltks"] = pairs.map(lambda p: p[1])
    return pdf


def assemble_es_docs(chunks: DataFrame, docnm_col: str = "docnm") -> DataFrame:
    """Index-doc assembly — the reference ``tokenize_chunks`` non-PDF path
    (rag/nlp/__init__.py:267-286 + add_positions :332-344): every non-empty
    chunk becomes a search document carrying the file-level title fields
    (``docnm_kwd``, ``title_tks``, ``title_sm_tks`` from the name minus its
    extension), the pseudo position ``[[ii]*5]`` → page_num_int [ii+1] /
    position_int [[ii+1,ii,ii,ii,ii]] / top_int [ii], and the tokenized
    content fields. The PDF crop branch is the ONNX non-goal; real PDF
    geometry rides as structs upstream (schemas.Geom). One Arrow pass, no
    shuffle — the per-doc title tokenization is cached per batch because
    consecutive chunks share their document."""
    schema = T.StructType(
        chunks.schema.fields
        + [
            T.StructField("docnm_kwd", T.StringType(), True),
            T.StructField("title_tks", T.StringType(), True),
            T.StructField("title_sm_tks", T.StringType(), True),
            T.StructField("page_num_int", T.ArrayType(T.IntegerType()), True),
            T.StructField(
                "position_int",
                T.ArrayType(T.ArrayType(T.IntegerType())),
                True,
            ),
            T.StructField("top_int", T.ArrayType(T.IntegerType()), True),
            T.StructField("content_ltks", T.StringType(), True),
            T.StructField("content_sm_ltks", T.StringType(), True),
        ]
    )

    def run(batches):
        title_cache: dict[str, tuple[str, str]] = {}

        def titles(nm: str) -> tuple[str, str]:
            if nm not in title_cache:
                title_cache[nm] = tks_pair(nm, title=True)
            return title_cache[nm]

        for pdf in batches:
            keep = pdf["text"].fillna("").str.strip().str.len() > 0
            pdf = pdf[keep].copy()
            tt = pdf[docnm_col].fillna("").map(titles)
            pdf["docnm_kwd"] = pdf[docnm_col]
            pdf["title_tks"] = tt.map(lambda t: t[0])
            pdf["title_sm_tks"] = tt.map(lambda t: t[1])
            # explicit object dtype: Arrow can't convert numpy-inferred
            # nested-list arrays
            seq = pdf["chunk_seq"].astype(int).tolist()
            pdf["page_num_int"] = pd.Series(
                [[i + 1] for i in seq], dtype=object, index=pdf.index
            )
            pdf["position_int"] = pd.Series(
                [[[i + 1, i, i, i, i]] for i in seq],
                dtype=object,
                index=pdf.index,
            )
            pdf["top_int"] = pd.Series(
                [[i] for i in seq], dtype=object, index=pdf.index
            )
            yield _add_content_tks(pdf)

    return chunks.mapInPandas(run, schema=schema)
