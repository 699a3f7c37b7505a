"""Snapshot-granularity checkpointing with per-partition lineage metrics.

The north rule asks for Iceberg-snapshot checkpointing with lineage rows
``(partition_id, doc_count, span_count, failure_count)``. This container has
no Iceberg runtime jar, so the same semantics are implemented over parquet
directories with an explicit commit protocol; the mapping to Iceberg is 1:1
and noted inline:

- stage output dir + ``_manifest.json``  ↔  Iceberg table + snapshot entry
  (``writeTo(t).append()`` producing ``snapshot_id``)
- manifest write                         ↔  snapshot commit: whatever files
  a stage dir holds, it is committed only once its manifest is readable
- lineage from the writing tasks         ↔  snapshot summary: each writer
  counts the rows it committed (a sink split task on its Arrow table, a
  Spark write through ``DataFrame.observe``); nothing re-reads the output
- resume = skip stages with a committed manifest  ↔  reading the metrics
  table and anti-joining completed partitions (task digest reuse in the
  reference: api/db/services/task_service.py:371-398)

One lineage definition serves every writer: ``doc_count`` counts the rows
numbered 0 (``chunk_seq`` on chunk rows, ``seq`` on span rows), which is
the distinct doc count because every doc numbers its rows from 0 and an
error marker is row 0 — and unlike DISTINCT it is an observable aggregate;
``span_count`` counts rows and ``failure_count`` error-marker rows.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ragflow_spark.kernels.extract import ERROR_MARK

# row-number column → error-marker column, of chunk rows and of span rows
_SEQ_MARK = {"chunk_seq": "chunker", "seq": "kind"}
LINEAGE = ("partition_id", "doc_count", "span_count", "failure_count")
SPARK_WRITE_ID = -1  # partition_id of the one row observed on a Spark write
_METRICS = pa.schema(
    [("run_id", pa.string()), ("snapshot_id", pa.int64()), ("stage", pa.string()),
     ("partition_id", pa.int32()), ("doc_count", pa.int64()),
     ("span_count", pa.int64()), ("failure_count", pa.int64())]
)


def _cols(names) -> tuple[str, str]:
    seq = next(c for c in _SEQ_MARK if c in names)
    return seq, _SEQ_MARK[seq]


def table_lineage(tbl) -> tuple[int, int, int]:
    """(doc_count, span_count, failure_count) of an Arrow table of rows."""
    seq, mark = _cols(tbl.column_names)

    def count(mask) -> int:
        return pc.sum(mask, min_count=0).as_py()

    return count(pc.equal(tbl[seq], 0)), tbl.num_rows, count(pc.equal(tbl[mark], ERROR_MARK))


def write_observed(df: DataFrame, path: str) -> tuple[int, int, int, int]:
    """Write ``df`` as parquet at ``path`` (overwrite) and return its one
    lineage row, observed on that write — no second scan."""
    seq, mark = _cols(df.columns)
    obs = Observation()
    df.observe(
        obs,
        F.count_if(F.col(seq) == 0).alias("d"),
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col(mark) == ERROR_MARK).alias("f"),
    ).write.mode("overwrite").parquet(path)
    m = obs.get
    return SPARK_WRITE_ID, m["d"], m["n"], m["f"]


@dataclass
class StageResult:
    stage: str
    snapshot_id: int
    path: str
    resumed: bool  # True if read from an existing committed snapshot


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_manifest.json")


def _replace(path: str, write) -> None:
    """``write(tmp)``, then rename over ``path``: readers see the old file or
    the new one, never a partial one (the dot name hides tmp from them)."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    write(tmp)
    os.replace(tmp, path)


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
    snapshot and one lineage file under ``{base_dir}/metrics``."""

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str | None = None):
        self.spark = spark
        self.base_dir = base_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(base_dir, exist_ok=True)

    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.base_dir, f"stage={stage}")

    def metrics_dir(self) -> str:
        return os.path.join(self.base_dir, "metrics")

    def commit_stage(
        self, stage: str, schema: StructType, write, resume: bool = True
    ) -> tuple[DataFrame, StageResult]:
        """Commit a stage's snapshot, or reuse a committed one (``resume``).

        ``write(stage_dir)`` writes the stage's rows and returns their
        lineage rows (``LINEAGE`` tuples), counted by the writing tasks.
        The manifest write that follows, carrying those rows, is the commit;
        then one metrics file per ``(stage, snapshot_id)``, which a resume
        rewrites from the manifest, with no Spark job, when it is missing.
        Returns the committed rows read back with the writer's ``schema``
        (so downstream stages never recompute upstream lineage, and the
        read-back runs no schema-inference job) minus the error markers
        (``kernels.extract.error_row``, counted as ``failure_count``), and
        the StageResult."""
        sdir = self.stage_dir(stage)
        mp = _manifest_path(sdir)
        resumed = resume and is_committed(sdir)
        if resumed:
            man = read_manifest(sdir)
        else:
            if os.path.exists(mp):
                os.remove(mp)  # uncommit before the stage's files change
            lineage = [list(r) for r in write(sdir)]
            man = {"committed": True, "stage": stage, "run_id": self.run_id,
                   "snapshot_id": int(time.time() * 1000), "lineage": lineage}
            _replace(mp, lambda p: Path(p).write_text(json.dumps(man)))
        if not (resumed and os.path.exists(self._metrics_file(man))):
            self._write_metrics(man)
        out = self.spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(sdir)
        mark = F.col(_cols(out.columns)[1])
        return out.where(~mark.eqNullSafe(ERROR_MARK)), StageResult(
            stage, man["snapshot_id"], sdir, resumed
        )

    def write_stage(
        self, stage: str, df: DataFrame, resume: bool = True
    ) -> tuple[DataFrame, StageResult]:
        """``commit_stage`` of one Spark write of ``df``, whose observed
        lineage is the stage's one lineage row."""
        return self.commit_stage(
            stage, df.schema, lambda sdir: [write_observed(df, sdir)], resume
        )

    def _metrics_file(self, man: dict) -> str:
        return os.path.join(self.metrics_dir(), f"{man['stage']}-{man['snapshot_id']}.parquet")

    def _write_metrics(self, man: dict) -> None:
        """The snapshot's lineage rows as its one metrics file; a replay
        replaces the file, so it never double-counts."""
        keys = {k: man[k] for k in ("run_id", "snapshot_id", "stage")}
        rows = [{**keys, **dict(zip(LINEAGE, r))} for r in man["lineage"]]
        os.makedirs(self.metrics_dir(), exist_ok=True)
        tbl = pa.Table.from_pylist(rows, schema=_METRICS)
        _replace(self._metrics_file(man), lambda p: pq.write_table(tbl, p))

    def metrics(self) -> DataFrame:
        """Lineage rows of every committed snapshot."""
        return self.spark.read.parquet(self.metrics_dir())
