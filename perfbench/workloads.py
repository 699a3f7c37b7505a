"""Workloads, their corpora, the production job each runs, the per-doc
oracle and the routing guard."""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

import pyarrow.parquet as pq

# production defaults of extract_chunks_native* / run_pipeline_native
CHUNK_ARGS = {"chunker": "naive", "chunk_token_num": 512,
              "delimiter": "\n!?。；！？", "overlapped_percent": 0}
CHUNK_COLS = ["doc_id", "chunker", "chunk_seq", "text", "token_count", "media_refs"]


@dataclass(frozen=True)
class Workload:
    name: str
    docs: int          # corpus size; every job extracts the whole corpus
    giant_factor: int  # datagen giant_doc size knob (pages = factor // 30)
    job: str           # "sink" or "checkpoint"
    giants: bool       # the giant-doc tail must run


WORKLOADS = {
    w.name: w
    for w in (
        # fixture profile mix; giant_doc profile at its default size
        # (64-146 spans), far below GIANT_SPAN_THRESHOLD
        Workload("mixed_sink", 3000, 100, "sink", giants=False),
        Workload("mixed_checkpoint", 3000, 100, "checkpoint", giants=False),
        # 5% of docs are 2,300-3,800-span geometry docs above the threshold.
        # Fifteen mid-size giants rather than ten ~4,600-span ones: the
        # per-doc finalize regroup is the job's straggler, and fewer, larger
        # giants made docs_per_s spread 22% across ten seeds, against 14-16%
        Workload("giant_tail", 300, 3200, "sink", giants=True),
    )
}


def warm_worker(batches):
    """First-touch warm-up of one worker slot: the kernel and reader
    imports the extraction tasks need."""
    import pandas as pd
    import pyarrow.dataset  # noqa: F401
    import pyarrow.parquet  # noqa: F401

    import ragflow_spark.kernels.chunkers  # noqa: F401
    import ragflow_spark.kernels.extract  # noqa: F401
    import ragflow_spark.sources.parquet_spans  # noqa: F401

    for pdf in batches:
        yield pd.DataFrame({"n": [len(pdf)]})


def write_corpus(spark, wl: Workload, seed: int, path: str) -> None:
    from ragflow_spark.datagen import write_corpus as datagen_write

    datagen_write(spark, path, count=wl.docs, seed=seed,
                  giant_factor=wl.giant_factor)


def run_job(spark, wl: Workload, corpus: str, out: str):
    """One production job, from call to committed output."""
    if wl.job == "sink":
        from ragflow_spark.sources.parquet_spans import (
            extract_chunks_native_to_parquet,
        )

        # the manifest is lazy: collecting it runs and commits the splits
        return extract_chunks_native_to_parquet(spark, corpus, out).toPandas()
    from ragflow_spark.plans.pipeline import run_pipeline_native

    return run_pipeline_native(spark, corpus, out)


def committed_files(wl: Workload, out: str) -> list[str]:
    if wl.job == "sink":
        return sorted(glob.glob(os.path.join(out, "part-*.parquet"))
                      + glob.glob(os.path.join(out, "giants", "*.parquet")))
    return sorted(glob.glob(os.path.join(out, "stage=chunks", "*.parquet")))


class Oracle:
    """Expected chunk rows per doc from the single-doc kernels
    (``extract_doc`` + ``chunk_doc``, same chunker and parameters), computed
    in the benchmark process from the generated docs, never through Spark."""

    def __init__(self, wl: Workload, seed: int):
        self.wl = wl
        self.seed = seed
        self.expected: dict[str, list[tuple]] = {}
        self.span_counts: dict[str, int] = {}
        self.giant_docs: list[str] = []

    def compute(self) -> "Oracle":
        from ragflow_spark.datagen import gen_doc, profile_of
        from ragflow_spark.kernels.extract import chunk_doc, extract_doc

        for i in range(self.wl.docs):
            doc = gen_doc(self.seed, i, self.wl.giant_factor)
            self.span_counts[doc["doc_id"]] = len(doc["spans"])
            if profile_of(i) == "giant_doc":
                self.giant_docs.append(doc["doc_id"])
            chunks = chunk_doc(extract_doc(doc["spans"]), **CHUNK_ARGS)
            self.expected[doc["doc_id"]] = [
                (c["chunker"], c["chunk_seq"], c["text"], c["token_count"],
                 list(c["media_refs"]))
                for c in chunks
            ]
        return self

    def check(self, files: list[str]) -> tuple[int, int, int]:
        """Compare committed chunk rows with the oracle.
        Returns (docs checked, docs missing or different, rows read)."""
        got: dict[str, list[tuple]] = {}
        n_rows = 0
        for f in files:
            t = pq.read_table(f, columns=CHUNK_COLS).to_pydict()
            n_rows += len(t["doc_id"])
            for i, d in enumerate(t["doc_id"]):
                got.setdefault(d, []).append(
                    (t["chunker"][i], t["chunk_seq"][i], t["text"][i],
                     t["token_count"][i], list(t["media_refs"][i] or []))
                )
        bad = sum(
            sorted(got.get(d, []), key=lambda r: r[1]) != exp
            for d, exp in self.expected.items()
        )
        bad += len(set(got) - set(self.expected))  # docs nobody asked for
        return len(self.expected), bad, n_rows

    def check_lineage(self, base_dir: str, n_rows: int) -> bool:
        """Checkpoint lineage rows must describe the committed snapshot:
        every doc with chunks counted once, every chunk row, no failures."""
        m = pq.read_table(os.path.join(base_dir, "metrics")).to_pydict()
        docs_with_chunks = sum(1 for v in self.expected.values() if v)
        return (sum(m["doc_count"]) == docs_with_chunks
                and sum(m["span_count"]) == n_rows
                and sum(m["failure_count"]) == 0)


def routing_problems(wl: Workload, oracle: Oracle, may_have_giants: bool,
                     out_dirs: list[str]) -> list[str]:
    """The workload must exercise the layer it exists for: giant_tail plans
    and runs the giant-doc tail over docs that are all at or above the
    threshold; the mixed workloads plan the tail away."""
    from ragflow_spark.operators.extract import GIANT_SPAN_THRESHOLD as T

    probs = []
    giants = [d for d, n in oracle.span_counts.items() if n >= T]
    if wl.giants:
        if not may_have_giants:
            probs.append("plan_splits did not plan the giant-doc tail")
        short = [d for d in oracle.giant_docs if oracle.span_counts[d] < T]
        if short or not oracle.giant_docs:
            probs.append(f"{len(short)} giant_doc docs below {T} spans")
        for out in out_dirs:
            tail = glob.glob(os.path.join(out, "giants", "*.parquet"))
            if sum(pq.ParquetFile(f).metadata.num_rows for f in tail) == 0:
                probs.append(f"no giant-tail chunk rows committed in {out}")
    else:
        if may_have_giants:
            probs.append("plan_splits kept the giant-doc tail")
        if giants:
            probs.append(f"{len(giants)} docs at or above {T} spans")
        for out in out_dirs:
            if os.path.exists(os.path.join(out, "giants")):
                probs.append(f"giant-tail output written in {out}")
    return probs
