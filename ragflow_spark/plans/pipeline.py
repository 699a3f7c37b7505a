"""End-to-end checkpointed extraction pipeline: one fused extract+chunk
stage over the python-native parquet source, committed as a snapshot with
per-partition lineage metrics.

A killed run resumes from the committed snapshot (reference analog: task
digest + chunk reuse, api/db/services/task_service.py:371-398, and
chunk_ids-slice resume, rag/svr/task_executor.py:627-650).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ragflow_spark.plans.checkpoint import CheckpointedRun, StageResult


@dataclass
class PipelineResult:
    chunks: DataFrame
    stages: dict[str, StageResult] = field(default_factory=dict)
    run: CheckpointedRun | None = None


def run_pipeline_native(
    spark: SparkSession,
    input_path: str,
    base_dir: str,
    run_id: str | None = None,
    chunker: str = "naive",
    chunk_token_num: int = 512,
    resume: bool = True,
) -> PipelineResult:
    """Checkpointed run over the python-native parquet source (the fast
    path): one fused extract+chunk stage committed as a snapshot with
    per-partition lineage; a rerun with the same base_dir is a no-op read.
    Docs whose kernels raised count as ``failure_count`` in the lineage
    and are left out of ``chunks``."""
    from ragflow_spark.sources.parquet_spans import extract_chunks_native

    run = CheckpointedRun(spark, base_dir, run_id=run_id)
    chunks = extract_chunks_native(
        spark, input_path, chunker=chunker, chunk_token_num=chunk_token_num
    )
    chunks, res = run.write_stage("chunks", chunks, resume=resume)
    return PipelineResult(chunks=chunks, stages={"chunks": res}, run=run)
