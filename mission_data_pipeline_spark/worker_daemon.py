"""PySpark's worker daemon, importing PySpark from a directory install.

Spark starts the Python daemon of each executor as ``python -m <module>
[worker_module]`` with its bundled ``python/lib/pyspark.zip``, the py4j
zip and the spark-core jar at the front of ``PYTHONPATH``. Every Python
task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 each
``zipimporter`` on the path re-reads its archive's central directory:
about 16 importers and 26k entries, 0.13-0.3 s per task and worker.

When the same PySpark version is also installed as a plain directory
further down the path (the driver's own ``site-packages`` install), this
module drops Spark's archives from ``sys.path`` before anything imports
``pyspark``, then runs ``pyspark.daemon.manager()`` unchanged; the worker
module in ``argv`` is left for it to read. Without such an install the
path stays exactly as Spark set it. ``get_spark`` selects this module
through ``spark.python.daemon.module``.

Only the standard library may be imported above ``main``: the package
``__init__`` runs first under ``python -m`` and imports nothing either.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""")


def _parse_version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_version(entry: str) -> str | None:
    """The PySpark version bundled in archive ``entry``, or None."""
    try:
        with zipfile.ZipFile(entry) as zf:
            return _parse_version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _directory_version(entry: str) -> str | None:
    """The version of a ``pyspark`` package in directory ``entry``, or None."""
    try:
        with open(os.path.join(entry or os.curdir, "pyspark", "version.py")) as f:
            return _parse_version(f.read())
    except OSError:
        return None


def _provides(entry: str, package: str) -> bool:
    """Whether ``package`` imports from path entry ``entry``."""
    if os.path.isfile(entry):
        try:
            with zipfile.ZipFile(entry) as zf:
                return f"{package}/__init__.py" in zf.namelist()
        except (OSError, zipfile.BadZipFile):
            return False
    return os.path.isfile(os.path.join(entry or os.curdir, package, "__init__.py"))


def without_bundled_pyspark(path: list[str]) -> list[str]:
    """``path`` without Spark's bundled zips and jars, or ``path`` itself.

    The bundled archive is the first entry ``pyspark`` would import
    from; the zips beside it (``python/lib``) and every ``.jar`` entry go.
    They go only if, on what is left, ``pyspark`` and ``py4j`` would both
    import from plain directories and that ``pyspark``'s ``version.py``
    names the bundled version. Otherwise ``path`` is returned unchanged.
    """
    bundled = next((e for e in path if _provides(e, "pyspark")), None)
    if bundled is None or not os.path.isfile(bundled):
        return path
    version = _archive_version(bundled)
    if version is None:
        return path
    lib_dir = os.path.dirname(bundled)
    kept = [
        e for e in path
        if not (e.endswith(".jar") or (e.endswith(".zip") and os.path.dirname(e) == lib_dir))
    ]
    for package in ("pyspark", "py4j"):
        home = next((e for e in kept if _provides(e, package)), None)
        if home is None or os.path.isfile(home):
            return path
        if package == "pyspark" and _directory_version(home) != version:
            return path
    return kept


def main() -> None:
    path = without_bundled_pyspark(sys.path)
    if path is not sys.path:
        sys.path[:] = path
        sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
