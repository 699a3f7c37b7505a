"""The spark-submit --py-files contract, exercised literally: a fresh JVM,
the engine shipped ONLY as a zip (cwd outside the repo, no sys.path to
/root/repo), the CLI job script, output parquet validated."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from ragflow_spark.datagen import write_corpus
from ragflow_spark.packaging import package_zip


def _spark_submit() -> str | None:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    return shutil.which("spark-submit")


@pytest.mark.slow
def test_spark_submit_py_files(spark, tmp_path_factory):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not available")
    base = tmp_path_factory.mktemp("submit")
    inp, out = str(base / "in"), str(base / "out")
    write_corpus(spark, inp, count=40, seed=17, partitions=2)
    zip_path = package_zip()

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # engine must come from --py-files only
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", zip_path,
            "/root/repo/scripts/run_extraction_job.py",
            "--input", inp,
            "--output", out,
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(base),  # NOT the repo
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    written = spark.read.parquet(out)
    assert written.count() > 0
    assert "chunk_id" in written.columns
    # chunk ids are content-addressed xxhash64(text, doc_id)
    import pyspark.sql.functions as F

    bad = written.where(
        F.col("chunk_id") != F.xxhash64("text", "doc_id")
    ).count()
    assert bad == 0
