"""Physical-plan quality gates (the 100 TB story, asserted).

These tests pin the *plan shape*, not timings: filters reach the parquet
scan, column pruning holds, small dims broadcast, nothing falls back to
cartesian products or row-at-a-time Python in core paths. A regression
here is a scale bug even when sf0.01 results stay correct.
"""

from __future__ import annotations

import pytest

from pyspark.sql import DataFrame

from project2_bigdata_spark.plans import REGISTRY


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df: DataFrame) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """sales_daily_filtered's date-range predicate must land in
    PushedFilters on the orders scan, not a post-scan Filter only."""
    plan = _formatted(REGISTRY["sales_daily_filtered"].fn(spark, sf_dir))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines()
              if "PushedFilters" in ln and "o_orderdate" in ln]
    assert pushed, "date predicate not pushed to the orders parquet scan"


def test_column_pruning_on_core_query(spark, sf_dir):
    """sales_daily reads 4 lineitem columns, not all 7+ — ReadSchema is
    the I/O contract at 100 TB."""
    plan = _formatted(REGISTRY["sales_daily"].fn(spark, sf_dir))
    li_schemas = [ln for ln in plan.splitlines()
                  if "ReadSchema" in ln and "l_orderkey" in ln]
    assert li_schemas
    assert "l_comment" not in li_schemas[0]
    assert "l_shipdate" not in li_schemas[0]


def test_dimension_joins_broadcast(spark, sf_dir):
    """part (dimension) must broadcast in the core query — a shuffled
    fact⇄dim join would repartition lineitem by partkey for nothing."""
    plan = _plan(REGISTRY["sales_daily"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


@pytest.mark.slow
def test_no_cartesian_products(executed_plan):
    """No registered query may plan a cartesian product. (Broadcast
    nested-loop is fine — that's the deliberate range-join strategy.)"""
    offenders = []
    for name in sorted(REGISTRY):
        if name.startswith("stream_") or name.startswith("ml_"):
            continue  # streaming queries materialize eagerly; ml trains
        plan = executed_plan(name)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


@pytest.mark.slow
def test_no_python_row_udfs_in_core_paths(executed_plan):
    """Relational/nested/window queries must stay JVM-side: no
    BatchEvalPython (row-at-a-time UDF) anywhere; ArrowEvalPython is
    allowed only in the explicitly-Python operators (simhash,
    multimodal, ml)."""
    allowed_arrow = {"simhash_buckets", "multimodal_decode",
                     "ml_train_per_product", "ml_sparkml_global",
                     "chunk_documents_udtf"}  # r9: the Arrow UDTF
                     # surface exhibit (lateral table function)
    for name in sorted(REGISTRY):
        if name.startswith("stream_") or name in allowed_arrow or name.startswith("ml_"):
            continue
        plan = executed_plan(name)
        assert "BatchEvalPython" not in plan, f"row-wise Python UDF in {name}"
        assert "ArrowEvalPython" not in plan, f"unexpected pandas UDF in {name}"


def test_single_shuffle_for_core_aggregate(spark, sf_dir):
    """sales_daily = scan → broadcast joins → partial agg → ONE exchange
    → final agg. More exchanges means a lost partial-aggregation or a
    misplaced repartition."""
    plan = _plan(REGISTRY["sales_daily"].fn(spark, sf_dir))
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles == 1, f"expected 1 shuffle, found {shuffles}"


def test_corpus_operators_shuffle_free(spark, sf_dir):
    """The corpus-prep scans (sampling, chunking, winnowing, lang-ID)
    must stay single-pass with ZERO key shuffles — at 100 TB these run
    at scan bandwidth or not at all. A round-robin spread of a SMALL
    single-split input (table_parallel) is allowed: it moves < 64 MB
    once and never fires on real multi-split inputs. Packing gets
    exactly its one shard window shuffle."""
    for name in ["stratified_sample", "chunk_documents",
                 "winnowing_fingerprints", "lang_id_ngram"]:
        plan = _plan(REGISTRY[name].fn(spark, sf_dir))
        assert "Exchange hashpartitioning" not in plan, (
            f"unexpected key shuffle in {name}")
        assert "Exchange rangepartitioning" not in plan, (
            f"unexpected sort shuffle in {name}")
    pack = _plan(REGISTRY["sequence_packing"].fn(spark, sf_dir))
    assert pack.count("Exchange hashpartitioning") == 1


def test_driver_order_invariants():
    """driver_order() must enumerate every registered query exactly once,
    fronting (1) erred / hash-mismatched / newly-oracled re-checks,
    (2) never-checked queries (LLM core, then oracle-bearing), (3) the
    checked tail — derived from the CORRECTNESS_r*.json files on disk so
    each driver round re-prioritizes the next automatically."""
    from project2_bigdata_spark.plans import (
        REGISTRY,
        _correctness_rows,
        driver_order,
    )

    order = driver_order()
    assert len(order) == len(set(order)), "duplicate names in driver order"
    assert set(order) == set(REGISTRY), "driver order must cover the registry"

    tagged = _correctness_rows()
    assert tagged, "driver CORRECTNESS files must be readable"
    rows = {n: row for n, (row, _rnd) in tagged.items()}  # r10: round tags
    pos = {n: i for i, n in enumerate(order)}

    never = [n for n in REGISTRY if n not in rows]
    recheck = [
        n for n in REGISTRY if n in rows and (
            rows[n].get("hash_match") is False
            or (rows[n].get("err") == "no_oracle"
                and REGISTRY[n].oracle is not None)
            or rows[n].get("err") not in (None, "no_oracle")
        )
    ]
    done = [n for n in REGISTRY if n in rows and n not in recheck]

    # every re-check and never-checked query precedes the checked tail
    frontier = len(recheck) + len(never)
    assert all(pos[n] < frontier for n in recheck), "re-checks must lead"
    assert all(pos[n] < frontier for n in never), "never-checked precede tail"
    assert all(pos[n] >= frontier for n in done), "green rows go to the tail"
    # within the never-checked block, oracle-bearing queries come first
    no_oracle_never = [n for n in never if REGISTRY[n].oracle is None]
    oracled_never = [n for n in never if REGISTRY[n].oracle is not None]
    if no_oracle_never and oracled_never:
        assert max(pos[n] for n in oracled_never) < min(
            pos[n] for n in no_oracle_never)
