"""The stat-gated zip-cache invalidation in Spark Python workers
(``project2_bigdata_spark.pyworker``).

Spark's worker calls ``importlib.invalidate_caches()`` before every task;
ungated, every ``zipimporter`` re-parses its archive each time. The gate
must skip unchanged archives, still see a rewritten or newly shipped one,
and be installed in every worker that runs engine code. Worker-side probes
are defined inside the tests so they pickle by value: a module-level helper
would make the worker import this file, and with it the package.
"""

from __future__ import annotations

import importlib
import pickle
import sys
import uuid
import zipfile
import zipimport

import cloudpickle

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
