"""ragflow_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the *capabilities* of RAGFlow's deepdoc extraction
core (reference: dawn9551/ragflow v0.20.3, read-only at /root/reference) on
idiomatic Spark: DataFrames + Arrow-vectorized pandas UDFs, salted
repartitioning for giant-document skew, snapshot checkpointing with
per-partition lineage metrics.

Layout:
    functions/   deterministic scalar/series kernels (tokens, delimiters, text stats)
    kernels/     pure pandas/numpy per-document extraction kernels (shared by
                 the pytest oracle and the Spark operators)
    operators/   Spark operators (extraction stages, dedup, similarity, text analysis)
    sources/     table loaders / adapters for the interleaved-span input contract
    plans/       end-to-end pipeline + snapshot checkpoint/resume + lineage
    streaming/   incremental (Structured Streaming) extraction
"""

__version__ = "0.1.0"

import os
import sys


def _cache_zip_directories() -> None:
    """Re-read a zip archive's directory only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task, and on Python < 3.13 that makes every ``zipimporter`` on the path
    re-read its archive's whole central directory (pyspark.zip, py4j, the
    engine zip, a spark-core jar): 0.15-0.4 s per task. The wrapper calls
    the stdlib method only when the archive's (mtime_ns, size) differs from
    the stamp taken at its last re-read, or when ``stat`` fails; otherwise
    the importer takes the directory that re-read cached."""
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict = {}  # archive -> (st_mtime_ns, st_size) at its last re-read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamps.get(self.archive) != stamp:
            stamps[self.archive] = stamp
            reread(self)
        else:
            self._files = zipimport._zip_directory_cache.get(self.archive, {})

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# Python workers only (a task is running: this import is the unpickling of
# its function); the driver keeps the stdlib import system. A worker has
# always imported pyspark.taskcontext; a plain-kernel user need not.
_tc = sys.modules.get("pyspark.taskcontext")
if _tc is not None and _tc.TaskContext.get() is not None:
    _cache_zip_directories()
