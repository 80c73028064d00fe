"""Dump the analyzed and the formatted physical plan for a list of queries.

Usage: python tools/dump_plans.py <out_dir> <suffix> <name1> [name2 ...]
Writes <out_dir>/<name>_<suffix>.txt (``.explain("formatted")``) and,
next to it, <out_dir>/<name>_<suffix>.analyzed.txt (the analyzed logical
plan) for each query. Expression IDs are masked (``#123L`` → ``#N``), so
a ``diff -r`` of a before and an after dump shows only real plan
changes. Runs on sf0.1 (``SPARK_GRAFT_SF_DIR`` overrides) at the same
session posture as bench.py.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project2_bigdata_spark.plans import REGISTRY  # noqa: E402
from project2_bigdata_spark.session import get_session  # noqa: E402


def _mask_ids(plan: str) -> str:
    return re.sub(r"#\d+L?", "#N", plan)


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        qe = REGISTRY[n].fn(spark, sf_dir)._jdf.queryExecution()
        physical = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        for ext, txt in (("txt", physical),
                         ("analyzed.txt", qe.analyzed().toString())):
            with open(os.path.join(out_dir, f"{n}_{suffix}.{ext}"), "w") as f:
                f.write(_mask_ids(txt))
        print("dumped", n)
    spark.stop()


if __name__ == "__main__":
    main()
