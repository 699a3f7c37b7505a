"""Physical-plan regression guards for the round-5 fixes: these pin plan
SHAPES that silently regressed before (AQE re-coalescing the salted strip
shuffle; the bounded default query batch reaching the scan), plus the code
shape of the extraction paths (one doc-batch runner, one giant-doc tail)."""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest


def _one_doc(spark):
    return spark.createDataFrame(
        [("d0", [("txt", "hello world", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def test_strip_stage_salted_repartition_has_explicit_count(spark):
    """The salted exploded-path shuffle must be RepartitionByExpression
    WITH an explicit numPartitions — a bare column repartition is
    AQE-coalescible and got folded to ONE partition for byte-small/
    CPU-huge giant-doc span sets (r5 skew bench, straggler cut 5.8x
    after pinning)."""
    from ragflow_spark.operators.extract import (
        explode_spans,
        finalize_stage,
        strip_stage,
    )

    plan = (
        finalize_stage(strip_stage(explode_spans(_one_doc(spark))))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    m = re.search(r"RepartitionByExpression \[[^\]]*salt[^\]]*\], (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) > 0
    # the doc_id regroup feeding finalize is pinned the same way
    m = re.search(r"RepartitionByExpression \[doc_id#\d+\], (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) > 0


def test_giant_chunk_path_runs_one_grouped_stage(spark, monkeypatch):
    """The giant-doc chunk path regroups by doc_id ONCE: its executed plan
    has one ``FlatMapGroupsInPandas`` (finalize and chunk together) and
    two Exchanges (the salted strip shuffle and the doc_id regroup), both
    with an explicit partition count AQE cannot coalesce."""
    from ragflow_spark.operators import extract as ox

    monkeypatch.setattr(ox, "GIANT_SPAN_THRESHOLD", 0)
    df = ox.extract_chunks_fused(_one_doc(spark))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FlatMapGroupsInPandas") == 1, final
    exchanges = re.findall(r"Exchange hashpartitioning\(.*", final)
    assert len(exchanges) == 2, final
    assert all("REPARTITION_BY_NUM" in e for e in exchanges), exchanges


def test_knn_default_batch_predicates_reach_scan(spark):
    """The default query batch's stride AND cap must land in the
    query-side embeddings scan as data filters (the cap is what makes
    the batch fixed-size at any corpus scale)."""
    from ragflow_spark.ops.similarity import knn_bruteforce

    s = (
        knn_bruteforce(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .toString()
    )
    assert re.search(r"vec_id#\d+L % 100\) = 0", s), "stride not in scan"
    assert re.search(r"vec_id#\d+L < 1600", s), "cap not in scan"


def _calls_by_function(paths, qualified=False):
    """{called name: {innermost enclosing function names}} over the
    modules at ``paths``; ``qualified`` names a caller
    ``module.py:outer.inner`` instead."""
    calls: dict[str, set[str]] = {}

    def visit(node, fn, qual):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name, f"{qual}.{child.name}" if fn else f"{qual}{child.name}")
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    caller = (qual if qualified else fn) if fn else "<module>"
                    calls.setdefault(name, set()).add(caller)
            visit(child, fn, qual)

    for p in paths:
        with open(p) as fh:
            visit(ast.parse(fh.read()), None, f"{os.path.basename(p)}:")
    return calls


def test_extraction_paths_share_one_runner_and_tail():
    """Every extraction path runs the one doc-batch runner and the one
    giant-doc tail instead of re-implementing them: ``applyInPandas`` is
    called from a single function of ``operators/`` + ``sources/``, which
    call no per-doc kernel (``extract_doc``, ``finalize_doc``,
    ``chunk_doc``, ``error_row``) themselves: the one guarded per-doc call
    ``kernels.extract.guarded_doc`` runs them, called from exactly the two
    per-doc loops (``_run_docs`` and ``finalize_stage``'s regroup) in the
    whole package; ``explode_spans`` only from
    ``_giant_tail``; neither split sizing nor the strip shuffle's
    partition count nor the salt block nor the giant threshold is a public
    knob, and no public function of ``operators/``, ``sources/`` or
    ``plans/`` takes an error-capture or stop-early switch (per-doc error
    capture is unconditional)."""
    import ragflow_spark

    pkg = os.path.dirname(ragflow_spark.__file__)
    paths = sorted(
        glob.glob(os.path.join(pkg, "operators", "*.py"))
        + glob.glob(os.path.join(pkg, "sources", "*.py"))
    )
    calls = _calls_by_function(paths)
    for kernel in ("extract_doc", "finalize_doc", "chunk_doc", "error_row"):
        assert kernel not in calls, (kernel, calls[kernel])
    qualified = _calls_by_function(
        glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True), qualified=True
    )
    assert qualified.get("guarded_doc") == {
        "parquet_spans.py:_run_docs", "extract.py:finalize_stage.run"
    }, qualified.get("guarded_doc")
    assert calls.get("applyInPandas") == {"finalize_stage"}, calls.get("applyInPandas")
    every = _calls_by_function(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True))
    assert every["explode_spans"] == {"_giant_tail"}
    banned = {
        "target_rows", "repartition", "capture_errors", "stop_after", "salt_block",
        "giant_threshold",
    }
    # plan_splits keeps its threshold parameter: the extraction benchmark
    # (perfbench/run.py) calls it with that keyword
    exempt = {"plan_splits"}
    for p in paths + sorted(glob.glob(os.path.join(pkg, "plans", "*.py"))):
        with open(p) as fh:
            tree = ast.parse(fh.read())
        tops = tree.body + [
            m for c in tree.body if isinstance(c, ast.ClassDef) for m in c.body
        ]
        for fn in tops:
            if (isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_")
                    and fn.name not in exempt):
                args = fn.args.args + fn.args.kwonlyargs
                assert not banned & {a.arg for a in args}, (p, fn.name)


def test_readers_route_giants_once():
    """Giant routing is a reader decision: ``read_row_groups`` is called
    from one function of ``sources/`` (``_read_split``, which drops the
    giants before any decode), the runner takes no threshold, and of the
    public extraction entry points only ``extract_spans`` (the
    ``table_docs_html`` render) takes ``html_tables``. The routing
    predicate is built once: the ``n_spans`` / ``size(spans)`` Columns
    appear only in ``_routing`` (both JVM sites, ``_plan`` and ``_route``,
    call it) and the Arrow span-list length only in its twin
    ``_small_arrow``, which only ``_read_split`` calls."""
    import inspect

    import ragflow_spark
    from ragflow_spark.operators import extract as ox
    from ragflow_spark.sources import parquet_spans as ps

    pkg = os.path.dirname(ragflow_spark.__file__)
    calls = _calls_by_function(glob.glob(os.path.join(pkg, "sources", "*.py")))
    assert calls.get("read_row_groups") == {"_read_split"}, calls.get("read_row_groups")
    ext = glob.glob(os.path.join(pkg, "operators", "*.py")) + glob.glob(
        os.path.join(pkg, "sources", "*.py")
    )
    every = _calls_by_function(ext)
    assert every.get("size") == {"_routing"}, every.get("size")
    assert every.get("list_value_length") == {"_small_arrow"}, every.get("list_value_length")
    assert every.get("_routing") == {"_plan", "_route"}, every.get("_routing")
    assert every.get("_small_arrow") == {"_read_split"}, every.get("_small_arrow")
    n_spans_cols = set()
    for p in ext:
        with open(p) as fh:
            for fn in ast.parse(fh.read()).body:
                for node in ast.walk(fn):
                    if (isinstance(node, ast.Call)
                            and getattr(node.func, "attr", None) == "col"
                            and [getattr(x, "value", None) for x in node.args] == ["n_spans"]):
                        n_spans_cols.add(fn.name)
    assert n_spans_cols == {"_routing"}, n_spans_cols
    assert "giant_threshold" not in inspect.signature(ps._run_docs).parameters
    takes_html = {
        name
        for mod in (ox, ps)
        for name, fn in inspect.getmembers(mod, inspect.isfunction)
        if name.startswith("extract_") and fn.__module__ == mod.__name__
        and "html_tables" in inspect.signature(fn).parameters
    }
    assert takes_html == {"extract_spans"}, takes_html


def test_split_rows_need_no_python_source():
    """The in-task paths' split rows come from a JVM ``Range``: no module
    of ``sources/`` calls ``parallelize`` or ``createDataFrame``, whose
    Python-RDD source would run one more Python task per split ahead of
    every split task."""
    import ragflow_spark

    pkg = os.path.dirname(ragflow_spark.__file__)
    calls = _calls_by_function(glob.glob(os.path.join(pkg, "sources", "*.py")))
    assert not {"parallelize", "createDataFrame"} & calls.keys(), calls.keys()


def test_chunk_args_validated_on_driver(tmp_path):
    """An unknown chunker raises ValueError at the call, before any input
    is read or output written (per-doc error capture would otherwise turn
    the typo into one marker row per doc), and the spark-submit script's
    hand-kept ``--chunker`` choices equal ``CHUNKERS``."""
    from ragflow_spark.kernels.extract import CHUNKERS
    from ragflow_spark.operators.extract import extract_chunks_fused
    from ragflow_spark.sources.parquet_spans import (
        extract_chunks_native,
        extract_chunks_native_to_parquet,
    )

    missing = str(tmp_path / "no-such-input")
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="unknown chunker"):
        extract_chunks_fused(None, chunker="nave")
    with pytest.raises(ValueError, match="unknown chunker"):
        extract_chunks_native(None, missing, chunker="nave")
    with pytest.raises(ValueError, match="unknown chunker"):
        extract_chunks_native_to_parquet(None, missing, str(out), chunker="nave")
    assert not out.exists()

    script = os.path.join(
        os.path.dirname(__file__), "..", "scripts", "run_extraction_job.py"
    )
    with open(script) as fh:
        tree = ast.parse(fh.read())
    choices = [
        ast.literal_eval(kw.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "--chunker"
        for kw in node.keywords
        if kw.arg == "choices"
    ]
    assert choices == [list(CHUNKERS)]


def test_fixture_queries_share_one_per_doc_map():
    """The kernel-fixture queries go through one per-doc helper:
    exactly one function of ``__spark_entry__.py`` starts a Python map
    stage (``mapInPandas``/``mapInArrow``)."""
    import __spark_entry__ as entrymod

    calls = _calls_by_function([entrymod.__file__])
    mappers = calls.get("mapInPandas", set()) | calls.get("mapInArrow", set())
    assert mappers == {"_per_doc"}, mappers


def test_one_commit_protocol():
    """Extraction output commits one way: ``run_pipeline_native`` commits
    through the sink, whose in-task writes all go through ``_commit_table``
    (the only writer of ``sources/``), and the checkpoint takes lineage from
    the writes — it never renames or deletes stage directories and never
    re-aggregates its output."""
    import ragflow_spark

    pkg = os.path.dirname(ragflow_spark.__file__)
    with open(os.path.join(pkg, "plans", "checkpoint.py")) as fh:
        src = fh.read()
    for banned in ("os.rename", "shutil", "groupBy", "spark_partition_id"):
        assert banned not in src, banned
    with open(os.path.join(pkg, "plans", "pipeline.py")) as fh:
        tree = ast.parse(fh.read())
    fn = next(n for n in ast.walk(tree)
              if isinstance(n, ast.FunctionDef) and n.name == "run_pipeline_native")
    called = {getattr(c.func, "id", getattr(c.func, "attr", None))
              for c in ast.walk(fn) if isinstance(c, ast.Call)}
    assert "extract_chunks_native_to_parquet" in called, called
    calls = _calls_by_function(glob.glob(os.path.join(pkg, "sources", "*.py")))
    writers = calls.get("write_table", set()) | calls.get("open_output_stream", set())
    assert writers == {"_commit_table"}, writers


def test_one_import_system_hook():
    """The zip-directory cache is the one import-system hook: no module of
    the engine, the scripts or the driver entry but ``ragflow_spark/__init__.py``
    references ``zipimport``."""
    import ragflow_spark

    pkg = os.path.dirname(ragflow_spark.__file__)
    repo = os.path.dirname(pkg)
    paths = (glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
             + glob.glob(os.path.join(repo, "scripts", "*.py"))
             + glob.glob(os.path.join(repo, "*.py")))
    refs = set()
    for p in paths:
        with open(p) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            names = {getattr(node, "id", None), getattr(node, "attr", None)}
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                names |= {getattr(node, "module", None)} | {a.name for a in node.names}
            if names & {"zipimport", "zipimporter"}:
                refs.add(os.path.relpath(p, repo))
    assert refs == {os.path.join("ragflow_spark", "__init__.py")}, refs
