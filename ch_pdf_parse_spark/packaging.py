"""Executor-side packaging (spark-submit --py-files parity).

The pipeline's pandas-UDF kernels reference this package by module name, so
Python workers must be able to import it regardless of the driver's cwd. On a
real cluster that is ``spark-submit --py-files ch_pdf_parse_spark.zip``
(north_rule); in-process (driver-owned SparkSession, tests, the grading
driver) we build the same zip once and ``addPyFile`` it — identical code path
to what ships to a 1000-executor cluster.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

_ENSURED: set[str] = set()
_LOCK = threading.Lock()


def build_zip(dest: str | None = None) -> str:
    """Zip this package (its ``.py`` modules plus ``native.c``, the C source
    workers compile on first use) for --py-files / addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    dest = dest or os.path.join(tempfile.gettempdir(), "ch_pdf_parse_spark.zip")
    # unique tmp per call: concurrent builders (e.g. the lineage runner's
    # bucket threads) must not share a staging path — os.replace stays the
    # single atomic publish step
    tmp = f"{dest}.tmp.{os.getpid()}.{threading.get_ident()}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith((".py", ".c")):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join("ch_pdf_parse_spark",
                                   os.path.relpath(full, pkg_dir))
                z.write(full, rel)
    os.replace(tmp, dest)
    return dest


def ensure_on_executors(spark: SparkSession) -> None:
    """Idempotently ship the package to Python workers of this session
    (thread-safe: concurrent first calls collapse to one addPyFile).

    Under ``spark-submit --py-files`` the package is ALREADY shipped — and
    that copy is authoritative: rebuilding the zip here would publish fresh
    bytes to the same /tmp path, and any executor that then fetches it for
    addPyFile fails with "exists and does not match contents" whenever the
    working tree changed after the submit zip was built (found by a
    kill/resume probe: the resume run crashed on the stale staged zip). So
    if spark.submit.pyFiles names this package, skip addPyFile entirely."""
    key = spark.sparkContext.applicationId
    if key in _ENSURED:
        return
    with _LOCK:
        if key in _ENSURED:
            return
        submitted = spark.conf.get("spark.submit.pyFiles", "") or ""
        if "ch_pdf_parse_spark" not in submitted:
            spark.sparkContext.addPyFile(build_zip())
        _ENSURED.add(key)
