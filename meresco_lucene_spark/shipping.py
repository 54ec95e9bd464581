"""Ship the engine package to executor Python workers.

The production story is ``spark-submit --py-files mls.zip`` (north rule);
for consumers that hand us an already-running SparkSession (the driver
contract, notebooks), :func:`ensure_shipped` zips the package and
registers it with ``sc.addPyFile`` so pandas-UDF deserialization works
on workers regardless of the consumer's cwd/PYTHONPATH. Idempotent per
SparkContext.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def package_zip_path(pkg_dir: str | None = None) -> str:
    """A zip of the package at ``pkg_dir`` (default: this package) for
    --py-files / addPyFile, named by the package directory and a content
    hash of its ``.py`` files: two checkouts on one host never ship each
    other's code, an edited package never ships a stale zip (new modules
    would raise ModuleNotFoundError inside UDF deserialization), and an
    unchanged package reuses its zip as it is."""
    pkg_dir = os.path.abspath(pkg_dir or os.path.dirname(__file__))
    base = os.path.dirname(pkg_dir)
    rels = sorted(
        os.path.relpath(os.path.join(root, f), base)
        for root, _dirs, files in os.walk(pkg_dir)
        if "__pycache__" not in root
        for f in files
        if f.endswith(".py")
    )
    h = hashlib.sha256(pkg_dir.encode())
    for rel in rels:
        with open(os.path.join(base, rel), "rb") as f:
            body = f.read()
        h.update(b"\0%s\0%d\0%s" % (rel.encode(), len(body), body))
    name = f"meresco_lucene_spark_pyfiles-{h.hexdigest()[:24]}.zip"
    out = os.path.join(tempfile.gettempdir(), name)
    if not os.path.exists(out):
        tmp = f"{out}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel in rels:
                zf.write(os.path.join(base, rel), rel)
        os.replace(tmp, out)
    return out


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    sc.addPyFile(package_zip_path())
    _SHIPPED.add(app_id)
