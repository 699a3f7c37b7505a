"""End-to-end checkpointed extraction pipeline: strip → extract → chunk,
each stage committed as a snapshot with per-partition lineage metrics.

Stage boundaries match the dataflow in SURVEY.md §3.2; a killed run resumes
from the last committed snapshot (reference analog: task digest + chunk
reuse, api/db/services/task_service.py:371-398, and chunk_ids-slice resume,
rag/svr/task_executor.py:627-650).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ragflow_spark.operators.extract import (
    chunk_stage,
    explode_spans,
    finalize_stage,
    strip_stage,
)
from ragflow_spark.plans.checkpoint import CheckpointedRun, StageResult


@dataclass
class PipelineResult:
    chunks: DataFrame
    spans: DataFrame
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
    per-partition lineage; a rerun with the same base_dir is a no-op read."""
    from ragflow_spark.sources.parquet_spans import extract_chunks_native

    run = CheckpointedRun(spark, base_dir, run_id=run_id)
    chunks = extract_chunks_native(
        spark, input_path, chunker=chunker, chunk_token_num=chunk_token_num
    )
    chunks, res = run.write_stage("chunks", chunks, resume=resume)
    return PipelineResult(chunks=chunks, spans=None, stages={"chunks": res}, run=run)


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    base_dir: str,
    run_id: str | None = None,
    chunker: str = "naive",
    chunk_token_num: int = 512,
    resume: bool = True,
    stop_after: str | None = None,
) -> PipelineResult:
    """Run (or resume) the extraction pipeline with snapshot checkpoints.

    stop_after: commit up to that stage and return early (used by the
    kill/resume tests to simulate a mid-run failure)."""
    run = CheckpointedRun(spark, base_dir, run_id=run_id)
    stages: dict[str, StageResult] = {}

    stripped = strip_stage(explode_spans(docs))
    stripped, stages["strip"] = run.write_stage("strip", stripped, resume=resume)
    if stop_after == "strip":
        return PipelineResult(chunks=None, spans=None, stages=stages, run=run)

    spans = finalize_stage(stripped, capture_errors=True)
    spans, stages["extract"] = run.write_stage("extract", spans, resume=resume)
    if stop_after == "extract":
        return PipelineResult(chunks=None, spans=spans, stages=stages, run=run)

    chunks = chunk_stage(spans, chunker=chunker, chunk_token_num=chunk_token_num)
    chunks, stages["chunk"] = run.write_stage("chunk", chunks, resume=resume)
    return PipelineResult(chunks=chunks, spans=spans, stages=stages, run=run)
