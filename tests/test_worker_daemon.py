"""Where Python workers import PySpark from (``worker_daemon``).

The path rule is tested on fake Spark and site-packages trees without
Spark; one task on the session shows the rule applied; one subprocess
started outside the checkout shows ``get_spark`` making the daemon
module importable, sizing ``local[N]`` to the host's CPUs and turning
PySpark's per-call call-site capture off.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow as pa
import pyspark

from mission_data_pipeline_spark.worker_daemon import without_bundled_pyspark

ROOT = Path(__file__).resolve().parent.parent


def _version_py(version: str) -> str:
    return f"__version__: str = '{version}'\n"


def _zip(path: Path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _site(root: Path, version: str | None, py4j: bool = True) -> str:
    """A directory install: ``pyspark`` at ``version`` (None: absent) and ``py4j``."""
    root.mkdir(parents=True)
    if version is not None:
        (root / "pyspark").mkdir()
        (root / "pyspark" / "__init__.py").write_text("")
        (root / "pyspark" / "version.py").write_text(_version_py(version))
    if py4j:
        (root / "py4j").mkdir()
        (root / "py4j" / "__init__.py").write_text("")
    return str(root)


def _worker_path(tmp_path: Path, site: str) -> tuple[list[str], list[str]]:
    """A worker's ``sys.path`` as Spark builds it, and its bundled entries."""
    lib = tmp_path / "spark" / "python" / "lib"
    bundled = [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": "",
                                   "pyspark/version.py": _version_py("4.1.2")}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar",
             {"org/apache/spark/SparkContext.class": ""}),
    ]
    work = tmp_path / "work"
    work.mkdir()
    engine = tmp_path / "engine"
    engine.mkdir()
    stdlib_zip = str(tmp_path / "python311.zip")  # listed, absent, as in CPython
    return [str(work), *bundled, str(engine), stdlib_zip, site], bundled


def test_no_directory_install_keeps_path(tmp_path):
    path, _ = _worker_path(tmp_path, _site(tmp_path / "site", None))
    before = list(path)
    assert without_bundled_pyspark(path) is path
    assert path == before


def test_other_version_directory_install_keeps_path(tmp_path):
    path, _ = _worker_path(tmp_path, _site(tmp_path / "site", "4.0.1"))
    assert without_bundled_pyspark(path) is path


def test_directory_install_without_py4j_keeps_path(tmp_path):
    path, _ = _worker_path(tmp_path, _site(tmp_path / "site", "4.1.2", py4j=False))
    assert without_bundled_pyspark(path) is path


def test_same_version_directory_install_drops_zips_and_jar(tmp_path):
    path, bundled = _worker_path(tmp_path, _site(tmp_path / "site", "4.1.2"))
    before = list(path)
    kept = without_bundled_pyspark(path)
    assert kept == [e for e in before if e not in bundled]
    assert path == before  # the caller's list is not edited


def test_workers_import_pyspark_from_directory_install(spark):
    def probe(batches):  # nested: pickled by value, not by this module's name
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "file": [pyspark.__file__],
            "version": [pyspark.__version__],
            "zipimporters": [sum(isinstance(v, zipimport.zipimporter)
                                 for v in sys.path_importer_cache.values())],
        })

    rows = spark.range(2, numPartitions=2).mapInArrow(
        probe, "file string, version string, zipimporters long").collect()
    assert len(rows) == 2
    for r in rows:
        assert ".zip" not in r.file and ".jar" not in r.file, r.file
        assert r.version == pyspark.__version__
        assert r.zipimporters == 0


_OUTSIDE = """
import json, sys
sys.path.insert(0, {root!r})
from pyspark.errors.utils import is_debugging_enabled
from mission_data_pipeline_spark import get_spark
from mission_data_pipeline_spark.models.ccsds import generate_housekeeping_stream
from mission_data_pipeline_spark.operators import ParameterDefinition, decommutate
from mission_data_pipeline_spark.sources import read_packets

spark = get_spark(app_name="mdps-outside-checkout")
spark.sparkContext.setLogLevel("ERROR")
with open("hk.bin", "wb") as f:
    f.write(generate_housekeeping_stream(40))
params = decommutate(read_packets(spark, "hk.bin", sec_hdr_length=4),
                     [ParameterDefinition("obc_temp", 0x100, 0, 16)])
rows = sorted((r.seq_count, r.raw_value) for r in params.collect())
print(json.dumps({{"master": spark.sparkContext.master, "rows": rows,
                  "call_sites": is_debugging_enabled()}}))
spark.stop()
"""


def test_get_spark_outside_checkout(tmp_path):
    """No ``PYTHONPATH``, no ``SPARK_GRAFT_CPUS``, cwd outside the repo."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")}
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE.format(root=str(ROOT))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    assert out["call_sites"] is False
    assert out["rows"] == [[i, float(int(2048 + 200 * math.sin(i / 20.0)))]
                           for i in range(40)]
