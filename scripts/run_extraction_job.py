"""spark-submit entry point for the extraction pipeline.

    python -m ragflow_spark... is not needed — submit this file with the
    engine zip shipped to executors:

    ZIP=$(python -c "import sys; sys.path.insert(0,'/root/repo'); \\
          from ragflow_spark.packaging import package_zip; print(package_zip())")
    spark-submit --master local[8] --py-files "$ZIP" \\
        scripts/run_extraction_job.py \\
        --input /data/docs_parquet --output /data/out --chunker naive

The script itself imports ragflow_spark from the --py-files zip (no
sys.path surgery), which is exactly the multi-executor cluster contract:
driver and executors resolve the engine from the shipped artifact.

The input is read inside the Python tasks, one row-group split per task
(sources/parquet_spans.extract_chunks_native). With --checkpoint, that
extract+chunk stage commits a snapshot + lineage metrics and a rerun
reuses it (plans/pipeline.py).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of (doc_id, spans[, n_spans])")
    ap.add_argument("--output", required=True, help="chunk sink parquet dir")
    ap.add_argument("--checkpoint", default=None, help="snapshot/lineage base dir (enables resume)")
    # keep in sync with ragflow_spark.kernels.extract.CHUNKERS (no import
    # here: the engine resolves from the --py-files zip after session build)
    ap.add_argument("--chunker", default="naive",
                    choices=["naive", "book", "paper", "laws", "qa",
                             "manual", "email", "presentation"])
    ap.add_argument("--chunk-tokens", type=int, default=512)
    ap.add_argument("--native-sink", action="store_true",
                    help="sink-in-task: tasks write their own parquet parts; "
                         "only the per-split lineage manifest reaches the driver")
    ap.add_argument("--ltks", action="store_true",
                    help="add content_ltks/content_sm_ltks doc fields "
                         "(trie tokenizer; rag/nlp/__init__.py:258-263)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ragflow_spark_extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from ragflow_spark.operators.extract import with_chunk_ids

    if args.native_sink:
        from ragflow_spark.sources.parquet_spans import (
            extract_chunks_native_to_parquet,
        )

        manifest = extract_chunks_native_to_parquet(
            spark, args.input, args.output,
            chunker=args.chunker, chunk_token_num=args.chunk_tokens,
        ).toPandas()
        print(
            f"wrote {int(manifest['n_chunks'].sum())} chunks in "
            f"{len(manifest)} split files to {args.output}"
        )
        spark.stop()
        return

    if args.checkpoint:
        from ragflow_spark.plans.pipeline import run_pipeline_native

        chunks = run_pipeline_native(
            spark,
            args.input,
            args.checkpoint,
            chunker=args.chunker,
            chunk_token_num=args.chunk_tokens,
        ).chunks
    else:
        from ragflow_spark.sources.parquet_spans import extract_chunks_native

        chunks = extract_chunks_native(
            spark, args.input, chunker=args.chunker, chunk_token_num=args.chunk_tokens
        )

    if args.ltks:
        from ragflow_spark.operators.extract import with_ltks

        chunks = with_ltks(chunks)
    with_chunk_ids(chunks).write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"wrote {n} chunks to {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
