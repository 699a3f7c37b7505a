"""Snapshot-granularity checkpointing with per-partition lineage metrics.

The north rule asks for Iceberg-snapshot checkpointing with lineage rows
``(partition_id, doc_count, span_count, failure_count)``. This container has
no Iceberg runtime jar, so the same semantics are implemented over parquet
directories with an explicit commit protocol; the mapping to Iceberg is 1:1
and noted inline:

- stage output dir + ``_manifest.json``  ↔  Iceberg table + snapshot entry
  (``writeTo(t).append()`` producing ``snapshot_id``)
- write-to-temp + atomic rename         ↔  Iceberg's atomic snapshot commit
- resume = skip stages with a committed manifest  ↔  reading the metrics
  table and anti-joining completed partitions (task digest reuse in the
  reference: api/db/services/task_service.py:371-398)

Lineage rows are computed from the *written* data (one cheap aggregate over
the checkpoint), so they describe exactly what a resume would read.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ragflow_spark.kernels.extract import ERROR_MARK

DOC_COL = "doc_id"
# the column a stage's rows carry the per-doc error marker in (span rows,
# chunk rows); a stage with neither has no failures to count
_MARK_COLS = ("kind", "chunker")


@dataclass
class StageResult:
    stage: str
    snapshot_id: int
    path: str
    resumed: bool  # True if read from an existing committed snapshot


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_manifest.json")


def is_committed(stage_dir: str) -> bool:
    mp = _manifest_path(stage_dir)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as f:
            return bool(json.load(f).get("committed"))
    except (json.JSONDecodeError, OSError):
        # truncated/unreadable manifest = not committed (a crash mid-write
        # must look like "stage not done", never break resume)
        return False


def read_manifest(stage_dir: str) -> dict:
    with open(_manifest_path(stage_dir)) as f:
        return json.load(f)


class CheckpointedRun:
    """One pipeline run rooted at ``base_dir``; each stage commits a
    snapshot and appends lineage rows to ``{base_dir}/metrics``."""

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str | None = None):
        self.spark = spark
        self.base_dir = base_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(base_dir, exist_ok=True)

    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.base_dir, f"stage={stage}")

    def metrics_dir(self) -> str:
        return os.path.join(self.base_dir, "metrics")

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        resume: bool = True,
    ) -> tuple[DataFrame, StageResult]:
        """Commit ``df`` as the stage's snapshot (or reuse a committed one).

        Returns (stage output DataFrame read back from the checkpoint —
        so downstream stages never recompute upstream lineage — and the
        StageResult). The stored data carries ``partition_id`` so lineage
        is reconstructible from the files alone. Error-marker rows
        (``kernels.extract.error_row``) are committed, counted as
        ``failure_count``, and left out of the returned DataFrame."""
        sdir = self.stage_dir(stage)
        if resume and is_committed(sdir):
            man = read_manifest(sdir)
            # heal the crash window between commit and metrics append: if the
            # committed snapshot has no metrics rows yet, write them now
            if not self._has_metrics(man["snapshot_id"], stage):
                self._append_metrics(sdir, man["snapshot_id"], stage, man["run_id"])
            out = self.spark.read.parquet(sdir)
            return self._strip_errors(out), StageResult(
                stage, man["snapshot_id"], sdir, resumed=True
            )

        snapshot_id = int(time.time() * 1000)
        tmp = f"{sdir}.tmp-{snapshot_id}"
        staged = df.withColumn("partition_id", F.spark_partition_id())
        staged.write.mode("overwrite").parquet(tmp)
        # atomic commit: rename + manifest (↔ Iceberg snapshot commit).
        # Metrics are appended only AFTER the commit (keyed by snapshot_id and
        # deduped in metrics()) so a crash mid-stage never leaves orphan
        # metrics for data a resume will recompute.
        if os.path.exists(sdir):
            import shutil

            shutil.rmtree(sdir)
        os.rename(tmp, sdir)
        mp = _manifest_path(sdir)
        with open(mp + ".tmp", "w") as f:
            json.dump(
                {
                    "committed": True,
                    "stage": stage,
                    "snapshot_id": snapshot_id,
                    "run_id": self.run_id,
                },
                f,
            )
        os.replace(mp + ".tmp", mp)  # manifest itself commits atomically
        self._append_metrics(sdir, snapshot_id, stage, self.run_id)
        out = self.spark.read.parquet(sdir)
        return self._strip_errors(out), StageResult(
            stage, snapshot_id, sdir, resumed=False
        )

    def _append_metrics(
        self, sdir: str, snapshot_id: int, stage: str, run_id: str
    ) -> None:
        """Lineage rows from the *committed* files (exactly what a resume
        reads), keyed by (snapshot_id, stage) for dedup."""
        written = self.spark.read.parquet(sdir)
        metrics = written.groupBy("partition_id").agg(
            F.countDistinct(DOC_COL).alias("doc_count"),
            F.count("*").alias("span_count"),
            F.sum(_is_error(written).cast("long")).alias("failure_count"),
        ).select(
            F.lit(run_id).alias("run_id"),
            F.lit(snapshot_id).alias("snapshot_id"),
            F.lit(stage).alias("stage"),
            F.col("partition_id").cast("int"),
            "doc_count",
            "span_count",
            "failure_count",
        )
        metrics.write.mode("append").parquet(self.metrics_dir())

    def _has_metrics(self, snapshot_id: int, stage: str) -> bool:
        mdir = self.metrics_dir()
        if not os.path.exists(mdir):
            return False
        try:
            m = self.spark.read.parquet(mdir)
        except Exception:
            return False
        return (
            m.where(
                (F.col("snapshot_id") == snapshot_id)
                & (F.col("stage") == stage)
            ).limit(1).count()
            > 0
        )

    @staticmethod
    def _strip_errors(df: DataFrame) -> DataFrame:
        return df.where(~_is_error(df)).drop("partition_id")

    def metrics(self) -> DataFrame:
        """Lineage rows, deduped by (snapshot_id, stage, partition_id) —
        a crash/replay can append the same snapshot's rows twice; the key
        makes the duplicates idempotent instead of double-counting."""
        return self.spark.read.parquet(self.metrics_dir()).dropDuplicates(
            ["snapshot_id", "stage", "partition_id"]
        )


def _is_error(df: DataFrame):
    """True on the error-marker rows of a stage's output."""
    col = next((c for c in _MARK_COLS if c in df.columns), None)
    return F.lit(False) if col is None else F.col(col).eqNullSafe(ERROR_MARK)
