"""Giant-doc skew stress bench (r4 verdict ask #8): demonstrate empirically
that the salted exploded path bounds the straggler a P99.99 outlier
document creates on the whole-doc path — the north rule's skew claim,
previously argued structurally.

Corpus: N_NORMAL synthetic docs of ~NORMAL_SPANS txt spans each, plus ONE
giant doc of GIANT_SPANS spans (all deterministic). Three measurements on
the same session/cores:

  normal-only        — baseline wall for the well-behaved corpus
  whole-doc routing  — GIANT_SPAN_THRESHOLD set above the giant's span
                       count: the giant rides one mapInArrow task; wall ≈
                       baseline + full giant on a single core (the
                       straggler)
  salted routing     — default threshold: the giant explodes into
                       offset-block salted strip tasks + one doc-level
                       finalize; the strip work spreads across the cluster

Usage: python scripts/skew_bench.py [--cores 8] [--giant 100000]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_NORMAL = 2000
NORMAL_SPANS = 15


def build(spark, n_docs: int, spans_per_doc: int, prefix: str):
    """HTML spans — the expensive per-span strip (readability scoring) is
    what the salted path exists to spread; trivial txt spans would make
    salting look like pure shuffle overhead (measured: 0.5x)."""
    from pyspark.sql import functions as F

    page = (
        '<html><body><div class="nav"><a href="/">home</a> '
        '<a href="/a">about</a> <a href="/b">more</a></div>'
        '<div class="content"><p>alpha beta gamma delta epsilon zeta eta '
        "theta iota kappa</p><p>one two three four five six seven eight "
        "nine ten, as noted in <a href='/x'>the appendix</a> of this "
        "report.</p><p>lorem ipsum dolor sit amet consectetur adipiscing "
        "elit sed do PART</p></div>"
        '<div class="footer"><p>copyright, all rights reserved.</p></div>'
        "</body></html>"
    )
    base = spark.range(n_docs).select(
        F.concat(F.lit(prefix), F.col("id")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(spans_per_doc - 1)),
            lambda i: F.struct(
                F.lit("html").alias("kind"),
                F.concat(
                    F.lit(page.replace("PART", "part ")), i.cast("string")
                ).alias("text"),
                F.lit("").alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    return base


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--giant", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from ragflow_spark.session import get_spark
    from ragflow_spark.operators import extract as ox
    from ragflow_spark.operators.extract import extract_spans

    spark = get_spark(cores=args.cores, app_name="skew_bench")
    normal = build(spark, N_NORMAL, NORMAL_SPANS, "n")
    giant = build(spark, 1, args.giant, "giant")
    mixed = normal.unionByName(giant)
    # materialize inputs once so the runs measure extraction, not datagen
    normal.cache().count()
    mixed.cache().count()
    extract_spans(normal).count()  # warm worker slots

    def best(label: str, df_fn):
        b = 1e9
        for _ in range(args.reps):
            t0 = time.time()
            n = df_fn().count()
            b = min(b, time.time() - t0)
        print(f"{label}: best {b:.2f}s ({n} spans)")
        return b

    t_norm = best("normal-only (default routing)", lambda: extract_spans(normal))
    default = ox.GIANT_SPAN_THRESHOLD
    ox.GIANT_SPAN_THRESHOLD = args.giant * 2  # read when each plan is built
    t_whole = best(
        f"mixed, WHOLE-DOC routing (threshold {args.giant * 2})",
        lambda: extract_spans(mixed),
    )
    ox.GIANT_SPAN_THRESHOLD = default
    t_salt = best(
        f"mixed, SALTED routing (default threshold {default})",
        lambda: extract_spans(mixed),
    )
    added_whole = t_whole - t_norm
    added_salt = t_salt - t_norm
    print(
        f"giant-doc added wall: whole-doc {added_whole:.2f}s, "
        f"salted {added_salt:.2f}s "
        f"(straggler cut {added_whole / max(added_salt, 1e-9):.1f}x, "
        f"cores={args.cores})"
    )
    spark.stop()


if __name__ == "__main__":
    main()
