"""Package shipping: make ``crawspark`` importable on every executor.

This is the ``spark-submit --py-files crawspark.zip`` story
(BASELINE.json:L6) made self-serve: when the driver process didn't launch
via spark-submit (e.g. an external harness created the SparkSession),
``ensure_shipped(spark)`` zips the package and registers it with
``sc.addPyFile`` so Python workers can unpickle our UDFs regardless of the
driver's cwd/sys.path. ``session.get_spark`` ships every session it
returns; only a session built elsewhere (``__spark_entry__``'s harness
session) needs its own call.
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

_SHIPPED_APPS: set[str] = set()


def build_zip(dest: str | None = None) -> str:
    """Zip the crawspark package (source only, deterministic order)."""
    pkg_root = pathlib.Path(__file__).resolve().parent
    # pid-scoped default: concurrent driver processes must not clobber
    # each other's bundle mid-upload
    dest = dest or os.path.join(tempfile.gettempdir(),
                                f"crawspark-bundle-{os.getpid()}.zip")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            zf.write(py, arcname=str(py.relative_to(pkg_root.parent)))
    return dest


def ensure_shipped(spark) -> None:
    """Idempotent per-session: addPyFile the package zip once."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_APPS:
        return
    # Also cover locally-forked workers that inherit the environment.
    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    existing = os.environ.get("PYTHONPATH", "")
    if repo not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo + (os.pathsep + existing if existing else ""))
    zip_path = build_zip()
    sc.addPyFile(zip_path)
    # Defense-in-depth for worker imports: ``sc.environment`` is attached
    # as the worker env of every Python UDF created AFTER this call
    # (pyspark/core/rdd.py::_prepare_for_python_RDD returns it next to
    # _python_includes), so workers get the package on PYTHONPATH even in
    # execution contexts where the addPyFile include list is not applied
    # (observed once for a Structured Streaming foreachBatch stage driven
    # from a foreign cwd). The driver-tempdir zip path only resolves on
    # local-mode workers; on a real cluster it is inert and the
    # addPyFile/SparkFiles mechanism is the effective one.
    env_pp = sc.environment.get("PYTHONPATH", "")
    parts = [p for p in env_pp.split(os.pathsep) if p]
    for extra in (repo, zip_path):
        if extra not in parts:
            parts.append(extra)
    sc.environment["PYTHONPATH"] = os.pathsep.join(parts)
    _SHIPPED_APPS.add(app_id)
