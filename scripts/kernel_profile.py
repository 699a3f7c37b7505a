"""Serial kernel throughput and seconds per layout pass, in one process.

    python3 scripts/kernel_profile.py --seed 1 --docs 3000 --reps 5

Generates a datagen corpus in memory (``gen_doc(seed, i, giant_factor)``
for ``i`` in ``0..docs-1``; the defaults are perfbench's mixed corpus) and
runs every doc through the production per-doc kernels: ``strip_rows`` →
``finalize_doc`` → ``chunk_doc`` (at its defaults, the production chunk
arguments: naive, 512 tokens). Prints one JSON line:

- ``docs_per_s``: median over ``--reps`` unwrapped runs of the whole
  corpus (``docs_per_s_runs`` holds each run).
- ``pass_s``: seconds per pass from one further run with every pass
  wrapped in a timer: the layout passes ``layout_doc`` calls
  (``drop_junk`` … ``filter_scraps``), ``unpack_geom``, and the three
  per-doc stages (``strip``, ``finalize``, ``chunk``). The passes are
  wrapped as module attributes of ``ragflow_spark.kernels.extract``, the
  names the kernels look up at call time, so the engine carries no timing
  hook. The wrappers add a few per cent to the timed run only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ragflow_spark.datagen import gen_doc  # noqa: E402
from ragflow_spark.kernels import extract as kx  # noqa: E402

# layout_doc's passes in call order, then the per-box geometry decode
PASSES = ("drop_junk", "drop_garbage", "layouts_cleanup", "median_height",
          "sort_y", "reading_order", "horizontal_merge", "assemble",
          "doc_is_english", "vertical_merge", "filter_toc", "bullet_merge",
          "filter_scraps", "unpack_geom")
STAGES = {"strip": "strip_rows", "finalize": "finalize_doc", "chunk": "chunk_doc"}


def run_corpus(docs: list[list[dict]]) -> float:
    """Seconds to run every doc through strip → finalize → chunk."""
    t0 = time.perf_counter()
    for spans in docs:
        # chunk_doc's defaults are the extraction jobs' chunk arguments
        kx.chunk_doc(kx.finalize_doc(kx.strip_rows(spans)))
    return time.perf_counter() - t0


def timed_passes(docs: list[list[dict]]) -> dict[str, float]:
    """One run with each pass and stage wrapped in a timer."""
    acc = {name: 0.0 for name in (*PASSES, *STAGES)}

    def wrap(fn, key):
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                acc[key] += time.perf_counter() - t0
        return timed

    names = {**{p: p for p in PASSES}, **STAGES}
    saved = {attr: getattr(kx, attr) for attr in names.values()}
    try:
        for key, attr in names.items():
            setattr(kx, attr, wrap(saved[attr], key))
        run_corpus(docs)
    finally:
        for attr, fn in saved.items():
            setattr(kx, attr, fn)
    return {k: round(v, 4) for k, v in acc.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=3000)
    ap.add_argument("--giant-factor", type=int, default=100)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    docs = [gen_doc(args.seed, i, args.giant_factor)["spans"]
            for i in range(args.docs)]
    run_corpus(docs[:100])  # warm imports and caches
    runs = [args.docs / run_corpus(docs) for _ in range(args.reps)]
    print(json.dumps({
        "seed": args.seed,
        "docs": args.docs,
        "giant_factor": args.giant_factor,
        "docs_per_s": round(statistics.median(runs), 1),
        "docs_per_s_runs": [round(r, 1) for r in runs],
        "pass_s": timed_passes(docs),
    }))


if __name__ == "__main__":
    main()
