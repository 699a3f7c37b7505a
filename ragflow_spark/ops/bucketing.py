"""Bucketed co-located joins — the repeated-key join path at 100 TB.

Every per-document join in this engine (chunk↔title vectors, chunk↔doc
metadata, re-ingestion upserts) shares one key space. At small scale AQE
broadcasts the small side; at 10^9+ rows both sides are huge and the
plain join pays a full shuffle of each PER QUERY. Bucketing pays that
shuffle ONCE at write time: both tables are hash-bucketed (and
sort-ordered) on the key, and every subsequent equi-join on it compiles
to a zero-Exchange sort-merge over co-located buckets —
tests/test_bucketing.py pins the plan shape (no Exchange with broadcast
disabled) and output equality with the shuffle-join path.

This is plain Spark bucketing (``bucketBy().sortBy().saveAsTable``), so
the same tables serve any number of downstream joins; the bucket count
is the knob that must match the cluster's target parallelism at scale
(buckets ≫ executors → small files; buckets ≪ cores → idle cores).

Reference analog: the reference re-reads chunk/doc rows from ES by id
per operation (rag/nlp/search.py); a columnar engine amortizes that
access pattern through bucket co-location instead of an external index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ragflow_spark.ops.similarity import blend_frames
from ragflow_spark.ops.tables import load


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    mode: str = "overwrite",
) -> None:
    """Materialize ``df`` hash-bucketed + sorted on ``key``. The one-time
    shuffle this write pays is what every later equi-join on ``key``
    skips."""
    (
        df.write.mode(mode)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def ensure_schema(spark: SparkSession, schema: str, location: str) -> None:
    spark.sql(f"CREATE SCHEMA IF NOT EXISTS {schema} LOCATION '{location}'")


def title_vector_blend_bucketed(
    spark: SparkSession,
    sf_dir: str,
    schema: str = "rs_buckets",
    location: str = "/tmp/rs_buckets_wh",
    buckets: int = 8,
    chunks_per_doc: int = 5,
    title_w: float = 0.1,
    refresh: bool = False,
) -> DataFrame:
    """title_vector_blend over bucketed tables: chunk vectors and title
    vectors both bucketed on the doc key → the blend join runs with no
    Exchange on either side (both sides huge at scale — this is the plan
    the shuffle-join version degrades to, minus its per-query shuffles).
    Output is bit-identical to ops/similarity.title_vector_blend."""
    ensure_schema(spark, schema, location)
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/").split("/")[-1])
    # chunks_per_doc decides each vector's doc key: a cache built with
    # another value holds other tables, never stale ones
    suffix = f"{tag}_b{buckets}_c{chunks_per_doc}"
    chunks_t = f"{schema}.chunk_vecs_{suffix}"
    titles_t = f"{schema}.title_vecs_{suffix}"
    have = {
        r.tableName for r in spark.sql(f"SHOW TABLES IN {schema}").collect()
    }
    if refresh or not {chunks_t.split(".")[1], titles_t.split(".")[1]} <= have:
        # bucket metadata lives in the session catalog: a fresh session
        # cannot reuse a previous session's files AS bucketed tables, so
        # clear any stale on-disk leftovers before rewriting
        import shutil

        for t in (chunks_t, titles_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(
                f"{location}/{t.split('.')[1]}", ignore_errors=True
            )
        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        doc = (
            (F.col("vec_id") - F.col("vec_id") % chunks_per_doc)
            / chunks_per_doc
        )
        e = emb.withColumn("doc", doc.cast("long"))
        write_bucketed(e, chunks_t, "doc", buckets)
        titles = e.where(F.col("vec_id") % chunks_per_doc == 0).select(
            "doc", F.col("embedding").alias("tv")
        )
        write_bucketed(titles, titles_t, "doc", buckets)
    return blend_frames(
        spark.table(chunks_t), spark.table(titles_t), title_w
    )
