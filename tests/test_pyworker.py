"""Start-up fixes in Spark Python workers
(``project2_bigdata_spark.pyworker`` and the root ``sitecustomize.py``).

Spark's worker calls ``importlib.invalidate_caches()`` before every task;
ungated, every ``zipimporter`` re-parses its archive each time. The gate
must skip unchanged archives, still see a rewritten or newly shipped one,
and be installed in every worker that runs engine code. Every worker
process must also import pyspark compiled, from a same-release installed
copy, and fall back to ``pyspark.zip`` otherwise. Worker-side probes
are defined inside the tests so they pickle by value: a module-level helper
would make the worker import this file, and with it the package.
"""

from __future__ import annotations

import importlib
import json
import os
import pathlib
import pickle
import subprocess
import sys
import uuid
import zipfile
import zipimport

import cloudpickle
import pytest

from project2_bigdata_spark import pyworker

GATE_MODULE = "project2_bigdata_spark.pyworker"


def _write_module_zip(path, module: str, version: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", f"VERSION = {version!r}\n")


def test_gate_skips_unchanged_archives_and_rereads_rewritten(tmp_path, monkeypatch):
    archive = tmp_path / "gate_probe.zip"
    module = f"p2bd_gate_probe_{uuid.uuid4().hex}"
    _write_module_zip(archive, module, "v1")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker._invalidate_caches)
    monkeypatch.setattr(pyworker, "_seen", {})
    assert importlib.import_module(module).VERSION == "v1"

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read_directory(p))
    importlib.invalidate_caches()  # the first gated call reads each archive
    assert str(archive) in reads
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []  # nothing on sys.path changed: nothing re-read

    # rewritten in place: same path and inode, new size and mtime
    _write_module_zip(archive, module, "v2-rewritten")
    monkeypatch.delitem(sys.modules, module)
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module(module).VERSION == "v2-rewritten"


def test_gate_is_never_installed_on_the_driver(monkeypatch):
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is not pyworker._invalidate_caches


def test_simhash_udf_pickles_by_reference():
    """A decorated module-level UDF pickles by value and its worker never
    imports the package, so it would never install the gate."""
    from project2_bigdata_spark.operators.dedup import simhash64

    assert pickle.loads(cloudpickle.dumps(simhash64.func)) is simhash64.func


def test_gate_installed_in_simhash_and_pyds_tasks(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import InputPartition

    from project2_bigdata_spark.operators.dedup import simhash64
    from project2_bigdata_spark.sources import pyds

    def gate_report() -> str:
        """'<module of the installed invalidate_caches>|<seconds per call>'."""
        import importlib
        import time
        import zipimport

        importlib.invalidate_caches()
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        dt = time.perf_counter() - t0
        return f"{zipimport.zipimporter.invalidate_caches.__module__}|{dt}"

    @F.pandas_udf("string")
    def probe(h):
        import pandas as pd

        return pd.Series([gate_report()] * len(h))

    df = spark.createDataFrame([(i, f"w{i} x y") for i in range(16)],
                               "doc_id long, text string").repartition(4)
    simhash_reports = {r.g for r in df.select(probe(simhash64("text")).alias("g")).collect()}

    class _ProbeReader(pyds.JsonlSaleReader):
        def partitions(self):
            return [InputPartition(i) for i in range(2)]

        def read(self, part):
            yield (gate_report(), "", 0.0, "")

    class _ProbeSource(pyds.JsonlSaleDataSource):
        @classmethod
        def name(cls):
            return "p2bd_gate_probe"

        def reader(self, schema):
            return _ProbeReader(self.options)

    spark.dataSource.register(_ProbeSource)
    pyds_reports = {r.sale_id for r in spark.read.format("p2bd_gate_probe")
                    .option("path", "unused").load().collect()}

    for report in simhash_reports | pyds_reports:
        module, per_call_s = report.split("|")
        assert module == GATE_MODULE, report
        assert float(per_call_s) < 0.010, report


def test_addpyfile_zip_imports_after_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    from project2_bigdata_spark.operators.dedup import simhash64

    df = spark.createDataFrame([(i, f"w{i}") for i in range(8)],
                               "doc_id long, text string").repartition(4)
    df.select(simhash64("text")).collect()  # workers now run gated

    module = f"p2bd_addpyfile_probe_{uuid.uuid4().hex}"
    archive = tmp_path / f"{module}.zip"
    _write_module_zip(archive, module, "shipped")
    spark.sparkContext.addPyFile(str(archive))

    @F.pandas_udf("string")
    def shipped(h):
        import importlib
        import zipimport

        import pandas as pd

        import project2_bigdata_spark  # noqa: F401  installs the gate

        assert zipimport.zipimporter.invalidate_caches.__module__ == GATE_MODULE
        importlib.invalidate_caches()
        return pd.Series([importlib.import_module(module).VERSION] * len(h))

    got = {r.v for r in df.select(shipped(simhash64("text")).alias("v")).collect()}
    assert got == {"shipped"}


# -- compiled pyspark: the same-release redirect and the sitecustomize hook

ROOT = pathlib.Path(__file__).resolve().parent.parent

_RESOLVE = """
import json, os, sys
sys.path[:] = {entries!r} + [
    p for p in sys.path
    if not os.path.isfile(os.path.join(p or os.curdir, "pyspark", "__init__.py"))]
before = list(sys.path)
from project2_bigdata_spark import pyworker  # the package installs it
import pyspark
print(json.dumps({{
    "where": pyspark.WHERE,
    "path_unchanged": sys.path == before,
    "finder": any(isinstance(f, pyworker.InstalledPyspark) for f in sys.meta_path),
}}))
"""


def _fake_pyspark_zip(path, version: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "WHERE = 'zip'\n")
        z.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")


def _fake_installed_pyspark(root, version: str) -> None:
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("WHERE = 'installed'\n")
    (pkg / "version.py").write_text(f"__version__: str = {version!r}\n")


def _python(code: str, cwd, *, worker: bool, pythonpath: list[str] | None = None):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYTHON_WORKER_FACTORY_SECRET")}
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test"
    if pythonpath:
        env["PYTHONPATH"] = os.pathsep.join(pythonpath)
    out = subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("installed, worker, where", [
    ("9.9.9", True, "installed"),  # same release: compiled copy
    ("9.9.8", True, "zip"),        # another release: the zip, as Spark ships it
    (None, True, "zip"),           # no installed copy
    ("9.9.9", False, "zip"),       # not a Spark Python worker: untouched
])
def test_pyspark_resolves_from_same_release_installed_copy(
        tmp_path, installed, worker, where):
    archive = tmp_path / "pyspark.zip"
    _fake_pyspark_zip(archive, "9.9.9")
    entries = [str(archive)]
    if installed is not None:
        _fake_installed_pyspark(tmp_path / "site", installed)
        entries.append(str(tmp_path / "site"))
    entries.append(str(ROOT))
    got = _python(_RESOLVE.format(entries=entries), tmp_path, worker=worker)
    assert got["where"] == where
    assert got["path_unchanged"]
    assert got["finder"] == (where == "installed")


def test_workers_import_compiled_same_release_pyspark(spark):
    """A UDF worker and a DataSource planner process both import pyspark
    from outside ``pyspark.zip``, and it is the session's release."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import InputPartition

    from project2_bigdata_spark.operators.dedup import simhash64
    from project2_bigdata_spark.sources import pyds

    @F.pandas_udf("string")
    def probe(h):
        import pandas as pd
        import pyspark

        return pd.Series([f"{pyspark.__file__}|{pyspark.__version__}"] * len(h))

    df = spark.createDataFrame([(i, f"w{i} x y") for i in range(16)],
                               "doc_id long, text string").repartition(4)
    udf_reports = {r.p for r in df.select(probe(simhash64("text")).alias("p")).collect()}

    class _PlannerProbeReader(pyds.JsonlSaleReader):
        def partitions(self):  # runs in the plan_data_source_read daemon
            import pyspark

            return [InputPartition(f"{pyspark.__file__}|{pyspark.__version__}")]

        def read(self, part):
            yield (part.value, "", 0.0, "")

    class _PlannerProbeSource(pyds.JsonlSaleDataSource):
        @classmethod
        def name(cls):
            return "p2bd_planner_probe"

        def reader(self, schema):
            return _PlannerProbeReader(self.options)

    spark.dataSource.register(_PlannerProbeSource)
    planner_reports = {r.sale_id for r in spark.read.format("p2bd_planner_probe")
                       .option("path", "unused").load().collect()}

    assert udf_reports and planner_reports
    for report in udf_reports | planner_reports:
        file, version = report.split("|")
        assert "pyspark.zip" not in file, report
        assert version == spark.sparkContext.version, report


_REPORT_HOOKS = """
import json, sys, zipimport
print(json.dumps({
    "engine_modules": sorted(m for m in sys.modules
                             if m.split(".")[0] == "project2_bigdata_spark"),
    "gate": zipimport.zipimporter.invalidate_caches.__module__,
}))
"""


def test_sitecustomize_still_runs_a_shadowed_sitecustomize(tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    marker = tmp_path / "marker"
    (other / "sitecustomize.py").write_text(
        f"open({str(marker)!r}, 'w').write('ran')\n")
    got = _python(_REPORT_HOOKS, tmp_path, worker=True,
                  pythonpath=[str(ROOT), str(other)])
    assert got["gate"] == GATE_MODULE  # the checkout's hook ran ...
    assert marker.read_text() == "ran"  # ... and so did the one it shadows


def test_sitecustomize_imports_nothing_outside_workers(tmp_path):
    got = _python(_REPORT_HOOKS, tmp_path, worker=False, pythonpath=[str(ROOT)])
    assert got["engine_modules"] == []
    assert got["gate"] == "zipimport"
