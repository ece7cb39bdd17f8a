"""spark-graft engine: a PySpark-native analytics engine.

Capabilities spec: SURVEY.md §2 (the reference repo at /root/reference is an
empty directory — see SURVEY.md §0 — so the survey's operator inventory is the
binding spec; no reference file:line citations are possible).

Design: everything is DataFrame/SQL so Catalyst + AQE optimize it (predicate
pushdown, column pruning, broadcast conversion, partial aggregation, skew
handling). Python UDFs appear only in the §2.K UDF-surface operators and the
vectorized similarity fast path; every other operator stays JVM-side.

Use ``engine.registry.collect()`` to get the populated QUERIES/ORACLES maps.

Worker bootstrap: ``engine.session.tune`` ships this package to the
executors, so a Python worker imports it whatever its cwd. Importing it in a
worker installs the zip guard below.
"""

from __future__ import annotations

import os
import sys
import zipimport


def file_identity(path: str) -> "tuple | None":
    """(realpath, st_mtime_ns, st_size) of ``path``; None when it cannot
    be stat-ed. A rewrite in place changes it, so anything keyed on it
    misses on a regenerated corpus."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (os.path.realpath(path), st.st_mtime_ns, st.st_size)


# PySpark calls importlib.invalidate_caches() at the start of every Python
# task (worker_util.setup_spark_files). On Python 3.11 every zipimporter
# then re-reads its archive's whole central directory: a worker holds ~16
# of them over pyspark.zip, the spark-core jar and py4j, 145-229 ms of CPU
# per task before the UDF runs. The guard re-reads an archive only when its
# identity moved since that importer's last read, or when it cannot be
# stat-ed (stock behaviour). Each importer's first call reads, so a worker's
# first two tasks pay and every later one skips.
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _reread_if_changed(self) -> None:
    ident = file_identity(self.archive)
    if ident is None or ident != getattr(self, "_read_as", None):
        _stock_invalidate(self)
        self._read_as = ident


def _on_python_worker() -> bool:
    # set by setup_spark_files before the task's function is unpickled
    files = sys.modules.get("pyspark.core.files")
    return files is not None and files.SparkFiles._is_running_on_worker


if _on_python_worker():
    zipimport.zipimporter.invalidate_caches = _reread_if_changed
