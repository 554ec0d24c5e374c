"""Worker-side importability for the few Python kernels.

pandas_udf / mapInPandas functions defined in this package are pickled
BY REFERENCE (cloudpickle keeps the module path), so executor Python
workers must be able to `import etl_building_inspector_spark`. When the
host application's driver runs from another cwd without PYTHONPATH,
that import fails. ensure_workers_can_import() zips the package once
and ships it with SparkContext.addPyFile -- the standard dependency
distribution path, and the same call a real cluster deployment needs.

It is called in two places, not per kernel: ``session.get_spark`` for
the package's own sessions, and the registry's query wrapper for a
session the package did not build (the driver's).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

_SHIPPED: set[str] = set()  # app ids already handled


def ensure_workers_can_import(spark) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(app_id)
