"""Cross-check of the replay spans against Spark's own Python UDF profiler.

``spark.sql.pyspark.udf.profiler=perf`` wraps the production job's
``mapInPandas`` function in cProfile inside each worker (the ``memory`` mode
needs ``memory_profiler``, which is not installed). Each layer's share of
kernel time in that profile is compared with its share in the replay spans,
using the same self-time rules: ``finalize_doc`` excludes ``layout_doc`` and
``chunk_doc`` excludes ``num_tokens``. cProfile charges every Python call,
so pure-Python layers read larger there than in the spans.
"""

from __future__ import annotations

import glob
import os
import pstats

from perfbench import trace as T

# layer → (file basename, function) as cProfile records them
PROFILED = {
    T.READ: ("core.py", "read_row_groups"),
    T.DECODE: ("parquet_spans.py", "_iter_docs"),
    T.STRIP: ("extract.py", "strip_rows"),
    T.FINALIZE: ("extract.py", "finalize_doc"),
    T.LAYOUT: ("extract.py", "layout_doc"),
    T.CHUNK: ("extract.py", "chunk_doc"),
    T.TOKENS: ("tokens.py", "num_tokens"),
    T.SINK: ("parquet_spans.py", "_commit_table"),
}


def profile_layers(dump_dir: str) -> dict[str, float]:
    """Self seconds per layer from the dumped perf profiles."""
    files = glob.glob(os.path.join(dump_dir, "*.pstats"))
    if not files:
        return {}
    st = pstats.Stats(files[0])
    for f in files[1:]:
        st.add(f)
    cum: dict[str, float] = {k: 0.0 for k in PROFILED}
    for (fname, _line, func), (_cc, _nc, _tt, ct, _callers) in st.stats.items():
        for layer, key in PROFILED.items():
            if (os.path.basename(fname), func) == key:
                cum[layer] += ct
    cum[T.FINALIZE] -= cum[T.LAYOUT]
    cum[T.CHUNK] -= cum[T.TOKENS]
    return cum


def shares(seconds: dict[str, float]) -> dict[str, float]:
    tot = sum(max(v, 0.0) for v in seconds.values())
    return {k: (max(v, 0.0) / tot if tot else 0.0) for k, v in seconds.items()}


def compare(span_self: dict[str, float], prof_self: dict[str, float]):
    """Returns (largest share difference in points, the layers differing
    by more than 10 points, every layer's (span pts, profile pts))."""
    common = [k for k in PROFILED if k in prof_self]
    a = shares({k: span_self.get(k, 0.0) for k in common})
    b = shares({k: prof_self[k] for k in common})
    diffs = {k: (100 * a[k], 100 * b[k]) for k in common}
    worst = max((abs(x - y) for x, y in diffs.values()), default=0.0)
    flagged = {k: v for k, v in diffs.items() if abs(v[0] - v[1]) > 10}
    return worst, flagged, diffs
