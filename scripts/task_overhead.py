"""Fixed cost of one Python task: run rounds of trivial tasks that import
``ragflow_spark`` (as every engine task does when its function is
unpickled) on a ``get_spark`` session, and print one JSON line:

  wall_s_per_task       median over rounds 2.. of round wall / --tasks
  round_walls_s         every round's wall (round 1 starts the workers)
  invalidate_ms_median  median over rounds 2.. of the in-task
                        ``importlib.invalidate_caches()`` time — what PySpark's
                        worker pays before each task (worker_util.setup_spark_files)
  zipimporters          {archive file name: importers} on one worker's path
  source_wall_s         {source: wall} of a round of one-row tasks through an
                        identity ``mapInArrow`` fed by each source (the
                        second round; the first starts the map's workers):
                        ``createDataFrame(sc.parallelize(rows, n))`` (a
                        Python-RDD source: one more Python task per row,
                        ahead of the map task) and ``spark.range(0, n, 1, n)``

Usage: python scripts/task_overhead.py [--tasks 64] [--rounds 3] [--cores 4]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def task(_):
    import importlib
    from collections import Counter

    import ragflow_spark  # noqa: F401

    t0 = time.perf_counter()
    importlib.invalidate_caches()
    dt = time.perf_counter() - t0
    archives = Counter(
        os.path.basename(f.archive) for f in sys.path_importer_cache.values()
        if hasattr(f, "archive")
    )
    yield dt, dict(archives)


def identity(batches):
    """The map body of an engine task, minus the work: import the engine,
    pass the batches through."""
    import ragflow_spark  # noqa: F401

    return batches


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=64)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from ragflow_spark.session import get_spark

    spark = get_spark(cores=args.cores, app_name="task_overhead",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    walls, later = [], []
    for r in range(max(args.rounds, 2)):
        t0 = time.perf_counter()
        out = sc.parallelize(range(args.tasks), args.tasks).mapPartitions(task).collect()
        walls.append(time.perf_counter() - t0)
        if r:
            later += [dt for dt, _ in out]
    n = args.tasks
    sources = {
        "parallelize": lambda: spark.createDataFrame(
            sc.parallelize([(i,) for i in range(n)], n), "id long"),
        "range": lambda: spark.range(0, n, 1, n),
    }
    source_wall = {}
    for _ in range(2):  # the first round of each pays the first map stage's start-up
        for name, source in sources.items():
            t0 = time.perf_counter()
            source().mapInArrow(identity, "id long").collect()
            source_wall[name] = round(time.perf_counter() - t0, 3)
    spark.stop()
    print(json.dumps({
        "tasks": args.tasks,
        "cores": args.cores,
        "wall_s_per_task": round(statistics.median(walls[1:]) / args.tasks, 4),
        "round_walls_s": [round(w, 3) for w in walls],
        "invalidate_ms_median": round(1000 * statistics.median(later), 3),
        "zipimporters": out[-1][1],
        "source_wall_s": source_wall,
    }))


if __name__ == "__main__":
    main()
