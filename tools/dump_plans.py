"""Dump .explain("formatted") for a list of queries.

Usage: python tools/dump_plans.py <out_dir> <suffix> <name1> [name2 ...]
Writes <out_dir>/<name>_<suffix>.txt for each query. Runs on sf0.1
(``SPARK_GRAFT_SF_DIR`` overrides) at the same session posture as
bench.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project2_bigdata_spark.plans import REGISTRY  # noqa: E402
from project2_bigdata_spark.session import get_session  # noqa: E402


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        df = REGISTRY[n].fn(spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        with open(os.path.join(out_dir, f"{n}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print("dumped", n)
    spark.stop()


if __name__ == "__main__":
    main()
