"""Extraction benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload mixed_sink --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout: the engine is imported from the
checkout (``ragflow_spark``) and everything the run writes stays under
``.perfbench_run/`` there. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` makes the separate traced run and reports per-layer metrics.
Exits non-zero, without a result line, when the engine is not importable,
and with ``"correct": false`` when any committed doc is missing or differs
from the oracle or a workload does not exercise its layer.
See perfbench/README.md for the metrics and how each is measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3  # session set-ups per run; setup_s is their median
RSS_INTERVAL_S = 0.2  # VmHWM holds each worker's peak between polls


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


class Bench:
    def __init__(self, wl, seed: int, seconds: int, trace: bool, work: str):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.slots = len(os.sched_getaffinity(0))
        self.spark = None
        self.setups: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}

    # ------------------------------------------------------------ session
    def _conf(self) -> dict[str, str]:
        from perfbench import eventlog

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata under /tmp; JVM temp files stay in the checkout
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(self.work, "tmp"),
        }
        if self.trace:
            conf.update(eventlog.session_settings(os.path.join(self.work, "eventlog")))
        return conf

    def setup(self) -> None:
        """SETUPS session builds: get_spark + first-touch warm-up of every
        worker slot. The first launches the JVM; later ones stop the
        session and build it again in the same JVM."""
        from ragflow_spark.session import get_spark

        from perfbench.workloads import warm_worker

        gs, wu, tot = [], [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(cores=self.slots, app_name="perfbench",
                                   extra_conf=self._conf())
            t1 = time.perf_counter()
            self.spark.range(0, self.slots, 1, self.slots).mapInPandas(
                warm_worker, "n long").collect()
            t2 = time.perf_counter()
            gs.append(t1 - t0)
            wu.append(t2 - t1)
            tot.append(t2 - t0)
        self.setups = tot
        self.metrics["setup_s"] = (_med(tot), "s")
        self.metrics["session.get_spark.s"] = (_med(gs), "s")
        self.metrics["session.warmup.s"] = (_med(wu), "s")
        self.metrics["session.cold_setup.s"] = (tot[0], "s")

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started (the JVM and its Python workers) to exit."""
        from perfbench import procs

        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = procs.descendants(os.getpid())
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the launcher exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — force it below
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        procs.wait_gone(kids)
        self.spark = None

    def _desc(self, desc: str) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    # ------------------------------------------------------------ helpers
    def _prepare(self):
        """Corpus, oracle (in a thread, overlapping the untimed corpus write
        and warm-up job) and the warm-up job; returns (corpus, oracle)."""
        from perfbench.workloads import Oracle, run_job, write_corpus

        oracle = Oracle(self.wl, self.seed)
        err: list[BaseException] = []

        def compute():
            try:
                oracle.compute()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                err.append(e)

        th = threading.Thread(target=compute)
        t0 = time.perf_counter()
        th.start()
        corpus = os.path.join(self.work, "corpus")
        self._desc("corpus")
        write_corpus(self.spark, self.wl, self.seed, corpus)
        t1 = time.perf_counter()
        self._desc("warm")
        warm_out = os.path.join(self.work, "out-warm")
        run_job(self.spark, self.wl, corpus, warm_out)
        t2 = time.perf_counter()
        th.join()
        self.notes.append(
            f"untimed: corpus {t1 - t0:.2f} s, warm-up job {t2 - t1:.2f} s, "
            f"oracle wait {time.perf_counter() - t2:.2f} s")
        if err:
            raise err[0]
        self._verify(oracle, warm_out, count=False)
        return corpus, oracle

    def _verify(self, oracle, out: str, count: bool = True) -> None:
        from perfbench.workloads import committed_files

        n, bad, n_rows = oracle.check(committed_files(self.wl, out))
        if self.wl.job == "checkpoint" and not oracle.check_lineage(out, n_rows):
            self.problems.append(f"lineage rows disagree with {out}")
            bad = n
        if count:
            self.attempted += n
            self.failed += bad
        elif bad:
            self.problems.append(f"{bad} docs wrong in untimed job {out}")

    def _plan(self, corpus: str):
        from ragflow_spark.operators.extract import GIANT_SPAN_THRESHOLD
        from ragflow_spark.sources.parquet_spans import plan_splits

        return plan_splits(corpus, giant_threshold=GIANT_SPAN_THRESHOLD)

    # ------------------------------------------------------------ timed
    def timed(self) -> None:
        from perfbench.procs import RssSampler
        from perfbench.workloads import routing_problems, run_job

        self.setup()
        corpus, oracle = self._prepare()
        _splits, may_have_giants = self._plan(corpus)
        walls, outs = [], []
        self._desc("timed")
        with RssSampler(RSS_INTERVAL_S) as rss:
            t_end = time.perf_counter() + self.seconds
            while True:
                out = os.path.join(self.work, f"out-{len(walls)}")
                t0 = time.perf_counter()
                run_job(self.spark, self.wl, corpus, out)
                walls.append(time.perf_counter() - t0)
                outs.append(out)
                if time.perf_counter() >= t_end:
                    break
        self.problems += routing_problems(self.wl, oracle, may_have_giants, outs)
        for out in outs:
            self._verify(oracle, out)
            shutil.rmtree(out, ignore_errors=True)
        rates = [self.wl.docs / w for w in walls]
        q1, q3 = _quartiles(rates)
        self.metrics["docs_per_s"] = (_med(rates), "docs/s")
        self.metrics["worker_rss_peak_mb"] = (rss.peak_mb, "MB")
        self.notes.append(
            f"docs_per_s median {_med(rates):.2f} q1 {q1:.2f} q3 {q3:.2f} "
            f"over {len(rates)} jobs of {self.wl.docs} docs "
            f"(job walls {', '.join(f'{w:.2f}' for w in walls)} s)"
        )
        self.notes.append(
            f"setup_s median {_med(self.setups):.3f} of "
            + ", ".join(f"{s:.3f}" for s in self.setups)
        )
        self.notes.append(
            f"worker_rss_peak_mb {rss.peak_mb:.1f} (VmHWM of {len(rss.workers)} "
            f"workers polled every {int(RSS_INTERVAL_S * 1000)} ms, "
            f"{rss.samples} polls; largest polled VmRSS {rss.rss_peak_mb:.1f})"
        )

    # ------------------------------------------------------------ traced
    def traced(self) -> None:
        from ragflow_spark.operators.extract import GIANT_SPAN_THRESHOLD

        from perfbench import eventlog
        from perfbench import trace as T
        from perfbench.workloads import CHUNK_ARGS, routing_problems, run_job

        self.setup()
        corpus, oracle = self._prepare()
        m = self.metrics
        S = self.slots

        # the production job, untraced, for the Spark runtime figures
        self._desc("job")
        out = os.path.join(self.work, "out-job")
        t0 = time.perf_counter()
        run_job(self.spark, self.wl, corpus, out)
        job_wall = time.perf_counter() - t0
        self._verify(oracle, out)

        # traced window: plan → giant-doc tail call → replay → checkpoint
        win: dict[str, float] = {}
        t0 = time.perf_counter()
        splits, may_have_giants = self._plan(corpus)
        win["plan"] = time.perf_counter() - t0
        self.problems += routing_problems(self.wl, oracle, may_have_giants, [out])
        sink = self.wl.job == "sink"
        base = os.path.join(self.work, "out-traced")
        opts = {"giant_threshold": GIANT_SPAN_THRESHOLD, "read_threads": not sink,
                "chunk_args": CHUNK_ARGS, "run_id": f"{self.wl.name}-{self.seed}"}
        if sink:
            from ragflow_spark.sources.parquet_spans import (
                extract_chunks_native_to_parquet,
            )

            # plans the splits and, when giants may exist, runs and commits
            # the giant-doc tail; its in-task manifest is left uncollected,
            # the traced replay below does that work into the same directory
            self._desc("operators.tail")
            t0 = time.perf_counter()
            extract_chunks_native_to_parquet(self.spark, corpus, base)
            win["tail"] = time.perf_counter() - t0
        untraced = os.path.join(self.work, "out-untraced")
        if sink:
            os.makedirs(untraced)
        # untraced/traced replays alternate; the last traced replay is the
        # one whose spans are kept and whose wall enters the traced window
        walls = {False: [], True: []}
        for i, traced in enumerate((False, True, False, True)):
            self._desc("replay.traced" if i == 3 else f"replay.{i}")
            out_dir = base if traced else untraced  # same-name commits replace
            t0 = time.perf_counter()
            spans = T.replay(self.spark, splits, {
                **opts, "trace": traced, "sink_dir": out_dir if sink else None})
            walls[traced].append(time.perf_counter() - t0)
        win["replay"] = walls[True][-1]
        overhead = _med(walls[True]) / _med(walls[False]) - 1.0
        if not sink:
            from ragflow_spark.plans.checkpoint import CheckpointedRun
            from ragflow_spark.sources.parquet_spans import extract_chunks_native

            chunks = extract_chunks_native(self.spark, corpus).cache()
            self._desc("checkpoint.input")
            chunks.count()
            self._desc("checkpoint.write_stage")
            t0 = time.perf_counter()
            CheckpointedRun(self.spark, base).write_stage("chunks", chunks)
            win["checkpoint"] = time.perf_counter() - t0
            chunks.unpersist()
        self._verify(oracle, base)
        self._desc("")

        prof = None
        if not self.wl.giants:
            prof = self._profile(corpus, oracle)

        self.close()
        stages = eventlog.read_stages(os.path.join(self.work, "eventlog"))
        self.notes += [eventlog.describe(st) for st in stages if st.job_desc
                       in ("job", "operators.tail", "checkpoint.write_stage")]
        self._layer_metrics(spans, stages, win, S, job_wall, overhead)
        if prof is not None:
            from perfbench import profcheck

            st = T.self_times(spans)["self_s"].to_dict()
            worst, flagged, diffs = profcheck.compare(st, prof)
            m["profiler.max_share_diff_pts"] = (worst, "pts")
            self.notes.append("udf profiler vs spans (share pts): " + ", ".join(
                f"{k} {a:.1f}/{b:.1f}" for k, (a, b) in diffs.items()))
            if flagged:
                self.notes.append("layers off by >10 pts: " + ", ".join(flagged))
        else:
            m["profiler.max_share_diff_pts"] = (0.0, "pts")
        self._save_spans(spans)

    def _profile(self, corpus: str, oracle) -> dict[str, float]:
        from perfbench import profcheck
        from perfbench.workloads import run_job

        key = "spark.sql.pyspark.udf.profiler"
        self.spark.conf.set(key, "perf")
        self._desc("profiler")
        out = os.path.join(self.work, "out-profiler")
        try:
            run_job(self.spark, self.wl, corpus, out)
        finally:
            self.spark.conf.unset(key)
            self._desc("")
        self._verify(oracle, out, count=False)
        dump = os.path.join(self.work, "profile")
        self.spark.profile.dump(dump)
        return profcheck.profile_layers(dump)

    def _layer_metrics(self, spans, stages, win, S, job_wall, overhead):
        from perfbench import eventlog as E
        from perfbench import trace as T

        m = self.metrics
        st = T.self_times(spans)

        def sp(name: str, col: str) -> float:
            return float(st.at[name, col]) if name in st.index else 0.0

        m["parquet_spans.plan_splits.s"] = (win["plan"], "s")
        m["parquet_spans.plan_splits.splits"] = (sp(T.ROOT, "calls"), "count")
        m["parquet_spans.read.s"] = (sp(T.READ, "self_s"), "s")
        m["parquet_spans.read.bytes"] = (sp(T.READ, "n"), "bytes")
        m["parquet_spans.decode.s"] = (sp(T.DECODE, "self_s"), "s")
        decoded = sp(T.DECODE, "n")
        m["parquet_spans.decode.spans"] = (decoded, "count")
        m["parquet_spans.decode.useful_frac"] = (
            sp(T.USEFUL, "n") / decoded if decoded else 0.0, "frac")
        m["extract.strip_rows.s"] = (sp(T.STRIP, "self_s"), "s")
        m["extract.strip_rows.rows_out"] = (sp(T.STRIP, "n"), "count")
        m["extract.layout_doc.s"] = (sp(T.LAYOUT, "self_s"), "s")
        m["extract.finalize_doc.s"] = (sp(T.FINALIZE, "self_s"), "s")
        m["extract.finalize_doc.boxes_in"] = (sp(T.FINALIZE, "n"), "count")
        m["extract.chunk_doc.s"] = (sp(T.CHUNK, "self_s"), "s")
        m["extract.chunk_doc.chunks_out"] = (sp(T.CHUNK, "n"), "count")
        m["tokens.num_tokens.s"] = (sp(T.TOKENS, "self_s"), "s")
        m["tokens.num_tokens.calls"] = (sp(T.TOKENS, "calls"), "count")
        m["parquet_spans.sink.s"] = (sp(T.SINK, "self_s"), "s")
        m["parquet_spans.sink.bytes"] = (sp(T.SINK, "n"), "bytes")
        m["parquet_spans.sink.files"] = (sp(T.SINK, "calls"), "count")
        m["parquet_spans.emit.s"] = (sp(T.EMIT, "self_s"), "s")

        tail = E.classify_tail(E.for_desc(stages, "operators.tail"))
        ops = {k: sum(s.task_s for s in tail[k])
               for k in ("explode_strip", "finalize_stage", "chunk_stage")}
        fin = tail["finalize_stage"]
        m["operators.explode_strip.s"] = (ops["explode_strip"], "s")
        m["operators.finalize_stage.s"] = (ops["finalize_stage"], "s")
        m["operators.chunk_stage.s"] = (ops["chunk_stage"], "s")
        m["operators.shuffle_write_bytes"] = (
            float(sum(s.shuffle_write_bytes for v in tail.values() for s in v)),
            "bytes")
        m["operators.finalize_stage.task_skew"] = (
            max((s.skew for s in fin), default=0.0), "ratio")
        m["operators.finalize_stage.tasks"] = (
            float(sum(len(s.task_ms) for s in fin)), "count")
        n_ops = sum(len(tail[k]) for k in ops)
        m["operators.stages"] = (float(n_ops), "count")

        ck = E.for_desc(stages, "checkpoint.write_stage")
        m["checkpoint.write_stage.s"] = (sum(s.task_s for s in ck), "s")
        m["checkpoint.lineage_rows"] = (float(self._lineage_rows()), "count")

        job = E.for_desc(stages, "job")
        job_task_s = sum(s.task_s for s in job)
        m["spark.slot_busy_frac"] = (job_task_s / (S * job_wall), "frac")
        m["spark.gc_s"] = (sum(s.gc_ms for s in job) / 1000.0, "s")
        # routing guard, from what ran: the production job's Python stages
        # of the giant-doc tail, and everything under the tail call
        job_ops = sum(s.tail_python for s in job)
        if self.wl.giants and not (job_ops and fin):
            self.problems.append("giant-doc tail stages did not run")
        if not self.wl.giants and (job_ops or n_ops):
            self.problems.append(f"{job_ops + n_ops} operators.* stages ran")

        # slot-second accounting of the traced window
        m["trace.overhead_frac"] = (overhead, "frac")
        window = sum(win.values())
        traced_descs = ("operators.tail", "replay.traced", "checkpoint.write_stage")
        task_s = sum(s.task_s for s in stages if s.job_desc in traced_descs)
        layer_s = (sum(sp(k, "self_s") for k in T.IN_TASK_LAYERS)
                   + sum(ops.values()) + m["checkpoint.write_stage.s"][0])
        driver_s = win["plan"] * S  # the planner runs with every slot idle
        cap = S * window
        residue = task_s - layer_s
        idle = cap - task_s - driver_s
        m["trace.attributed_frac"] = ((layer_s + driver_s) / cap, "frac")
        m["trace.residue_frac"] = (residue / cap, "frac")
        m["trace.idle_frac"] = (idle / cap, "frac")
        self.notes.append(
            f"traced window {window:.3f} s x {S} slots = {cap:.2f} slot-s: "
            f"layers {layer_s:.2f} + planner {driver_s:.2f} + residue "
            f"{residue:.2f} (task time outside layer spans) + idle {idle:.2f}"
        )
        if residue < -0.1 * cap:
            self.problems.append(
                f"layer self times exceed task time by {-residue:.2f} slot-s")

    def _lineage_rows(self) -> int:
        if self.wl.job != "checkpoint":
            return 0
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(self.work, "out-traced", "metrics")).num_rows

    def _save_spans(self, spans) -> None:
        out = os.path.join(ROOT, ".perfbench_run", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.wl.name}-seed{self.seed}.spans.parquet")
        spans.to_parquet(path, index=False)
        self.notes.append(f"spans: {len(spans)} rows in {os.path.relpath(path, ROOT)}")


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import ragflow_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_run",
                        f"{args.workload}-seed{args.seed}-{os.getpid()}")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every temp file (package zip, shuffle, JVM temp) in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None

    from pyspark import cloudpickle

    import perfbench

    cloudpickle.register_pickle_by_value(perfbench)  # workers lack perfbench

    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace), work)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.trace:
            bench.traced()
        else:
            bench.timed()
    finally:
        t_close = time.perf_counter()
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    bench.notes.append(f"close {time.perf_counter() - t_close:.2f} s, "
                       f"process {time.perf_counter() - T_START:.2f} s")

    correct = bench.failed == 0 and not bench.problems
    rate = bench.failed / bench.attempted if bench.attempted else 0.0
    print(f"# {args.workload} seed {args.seed}: doc_error_rate {rate:.6f} "
          f"({bench.failed} of {bench.attempted} docs)")
    for note in bench.notes:
        print(f"# {note}")
    for p in bench.problems:
        print(f"# PROBLEM: {p}")
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in bench.metrics.items()
                    if (k in END_TO_END) != bool(args.trace)},
    }))
    return 0 if correct else 1


END_TO_END = ("docs_per_s", "setup_s", "worker_rss_peak_mb")


if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench as a package, never its modules bare
    sys.exit(main())
