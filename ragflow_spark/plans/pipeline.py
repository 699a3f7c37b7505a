"""End-to-end checkpointed extraction pipeline: the sink writes one fused
extract+chunk stage over the python-native parquet source, and the stage
commits as a snapshot from the lineage rows the sink's tasks counted.

A killed run resumes from the committed snapshot, or from the committed
splits of an uncommitted one (reference analog: task
digest + chunk reuse, api/db/services/task_service.py:371-398, and
chunk_ids-slice resume, rag/svr/task_executor.py:627-650).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ragflow_spark.plans.checkpoint import CheckpointedRun, StageResult
from ragflow_spark.schemas import CHUNKS_SCHEMA


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
    path): the sink (``extract_chunks_native_to_parquet``) commits every
    split into ``stage=chunks`` — resuming per split when ``resume`` — and
    the stage commits from the sink's manifest, one lineage row per split
    plus one for the giant tail. A rerun of a committed stage is a no-op
    read. Docs whose kernels raised count as ``failure_count`` in the
    lineage and are left out of ``chunks``."""
    from ragflow_spark.sources.parquet_spans import extract_chunks_native_to_parquet

    def write(sdir: str) -> list:
        manifest = extract_chunks_native_to_parquet(
            spark, input_path, sdir, chunker=chunker,
            chunk_token_num=chunk_token_num, resume=resume,
        )
        # (split_id, n_docs, n_chunks, n_failures) is a LINEAGE row
        return [r[:4] for r in manifest.collect()]

    run = CheckpointedRun(spark, base_dir, run_id=run_id)
    chunks, res = run.commit_stage("chunks", CHUNKS_SCHEMA, write, resume)
    return PipelineResult(chunks=chunks, stages={"chunks": res}, run=run)
