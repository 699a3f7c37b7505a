"""The ``--py-files`` artifact: one per code version, shared by every
checkout, and stale versions swept from the temp dir."""

from __future__ import annotations

import importlib.util
import os
import shutil
import tempfile
import zipfile

import ragflow_spark


def _copy_package(dest):
    """A copy of the package at ``dest``/ragflow_spark and its own
    ``package_zip`` (loaded from the copy, so it zips the copy)."""
    pkg = os.path.join(dest, "ragflow_spark")
    shutil.copytree(os.path.dirname(ragflow_spark.__file__), pkg,
                    ignore=shutil.ignore_patterns("__pycache__"))
    spec = importlib.util.spec_from_file_location(
        f"packaging_{os.path.basename(dest)}", os.path.join(pkg, "packaging.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return pkg, mod.package_zip, mod.STALE_S


def test_one_artifact_per_code_version(tmp_path, monkeypatch):
    tmp_dir = tmp_path / "tmp"
    tmp_dir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_dir))
    _, zip_a, _ = _copy_package(str(tmp_path / "a"))
    pkg_b, zip_b, stale_s = _copy_package(str(tmp_path / "b"))

    # two checkouts of the same code share one artifact
    first = zip_a()
    assert zip_b() == first
    assert os.listdir(tmp_dir) == [os.path.basename(first)]
    with zipfile.ZipFile(first) as zf:
        assert "ragflow_spark/packaging.py" in zf.namelist()

    # a content change publishes a new artifact; the old one survives while
    # a session may still need it, and is swept once stale
    with open(os.path.join(pkg_b, "schemas.py"), "a") as fh:
        fh.write("\n# changed\n")
    second = zip_b()
    assert second != first
    assert sorted(os.listdir(tmp_dir)) == sorted(map(os.path.basename, (first, second)))
    old = os.path.getmtime(first) - stale_s - 1
    os.utime(first, (old, old))
    assert zip_b() == second
    assert os.listdir(tmp_dir) == [os.path.basename(second)]
