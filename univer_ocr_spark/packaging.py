"""Package zipping for the ``spark-submit --py-files`` deployment contract
(BASELINE.json north_star). ``get_spark`` ships the zip automatically via
``addPyFile`` so Python workers can import the package regardless of cwd —
the local-mode equivalent of distributing it to a 1000-executor cluster.

``ship_package`` (get_spark, every __spark_entry__ query, register_sql_udfs)
ships once per SparkContext: it returns early when ``SparkContext.listFiles``
has the zip (Spark ignores a re-added path); a new context ships again.

``build_zip`` writes a temporary file and ``os.replace``s it over the
destination, so a rebuilt zip has a new inode and mtime. ``worker_setup``'s
guard keys each archive by ``(st_ino, st_size, st_mtime_ns)``, so a process
that imported from the old zip re-reads the new one at its next
``importlib.invalidate_caches()``.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP_NAME = "univer_ocr_spark_pyfiles.zip"


def build_zip(dest_path: str | None = None) -> str:
    """Zip the package (py files only); return the zip path."""
    if dest_path is None:
        dest_path = os.path.join(tempfile.gettempdir(), ZIP_NAME)
    pkg_root = os.path.join(_REPO_ROOT, "univer_ocr_spark")
    tmp = f"{dest_path}.tmp.{os.getpid()}"  # pid-unique: concurrent sessions must not race
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, _REPO_ROOT))
    os.replace(tmp, dest_path)
    return dest_path


def ship_package(spark) -> None:
    """Build + register the zip on the session's SparkContext, once."""
    sc = spark.sparkContext
    # by file name: listed as file:<path> locally, a spark:// URL on a cluster
    if not any(uri.rsplit("/", 1)[-1] == ZIP_NAME for uri in sc.listFiles):
        sc.addPyFile(build_zip())
