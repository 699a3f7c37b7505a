"""--py-files packaging: ship the engine to executors as a zip.

The reference's worker processes import the whole repo; on Spark the engine
must travel to executors explicitly (``spark-submit --py-files engine.zip``).
``package_zip()`` builds that artifact; ``get_spark`` attaches it via
``sc.addPyFile`` so interactive drivers work identically to spark-submit.
No module-level state is shipped — kernels are pure functions
(SURVEY.md §7 M5: the reference's import-time singletons are the
anti-pattern to avoid on executors).
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile
import time
import zipfile

# An artifact left unused this long is swept from the temp dir. A session
# needs its artifact until its executors first fetch it (its first task);
# after that its Python workers import the copy under
# SparkFiles.getRootDirectory(), so deleting the original is safe.
STALE_S = 3600


def package_zip(out_path: str | None = None) -> str:
    """Zip the ragflow_spark package; returns the zip path. The default
    path lives in the temp dir and is named by a hash of what the zip
    holds (package-relative file names and their bytes), so every checkout
    of the same code shares one artifact. Each default call marks its
    artifact used and deletes the other ``ragflow_spark-*.zip`` artifacts
    unused for ``STALE_S`` seconds."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.dirname(pkg_dir)
    files = []
    for root, _dirs, names in os.walk(pkg_dir):
        for n in sorted(names):
            if n.endswith(".py"):
                files.append(os.path.join(root, n))
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, base).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    default = out_path is None
    if default:
        out_path = os.path.join(tempfile.gettempdir(), f"ragflow_spark-{h.hexdigest()[:12]}.zip")
    if not os.path.exists(out_path):
        tmp = out_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for f in sorted(files):
                zf.write(f, os.path.relpath(f, base))
        os.replace(tmp, out_path)  # atomic publish
    if default:
        os.utime(out_path)  # used now: a concurrent sweep keeps it
        cutoff = time.time() - STALE_S
        for old in glob.glob(os.path.join(os.path.dirname(out_path), "ragflow_spark-*.zip")):
            try:
                if old != out_path and os.path.getmtime(old) < cutoff:
                    os.remove(old)
            except OSError:
                pass  # another session swept it first
    return out_path
