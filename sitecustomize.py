"""Interpreter start-up hook for Spark Python workers.

Python imports ``sitecustomize`` at start-up, before ``python -m
pyspark.daemon`` (or any other worker entry module) resolves
``pyspark``. Workers need this checkout on ``PYTHONPATH`` anyway, to
import the engine's UDFs and DataSource connector by name, so this file
is on their path. In a Spark Python worker it installs
``project2_bigdata_spark.pyworker``: pyspark then loads compiled from a
same-release installed copy instead of being compiled from
``pyspark.zip``, and zip re-reads are gated. Any other process imports
nothing from the package. A ``sitecustomize`` further down ``sys.path``,
which this file shadows, still runs.
"""

import os

if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    # the package __init__ runs pyworker.install()
    import project2_bigdata_spark  # noqa: F401


def _run_shadowed() -> None:
    import sys
    from importlib.machinery import PathFinder
    from importlib.util import module_from_spec

    here = os.path.dirname(os.path.abspath(__file__))
    dirs = [os.path.abspath(p or os.curdir) for p in sys.path]
    if here not in dirs:
        return
    i = dirs.index(here) + 1
    later = [p for p, d in zip(sys.path[i:], dirs[i:]) if d != here]
    spec = PathFinder.find_spec(__name__, later)
    if spec is not None and spec.loader is not None:
        spec.loader.exec_module(module_from_spec(spec))


_run_shadowed()
