"""Distributed Lloyd k-means (spherical: cosine assignment) over the
embedding corpus, two fully-materialized iterations with a fully
unrolled DuckDB oracle — the clustering pre-pass that upgrades
``ivf_ann_topk``'s seed centroids (similarity.py:204 documents the
drop-in point), and the standard corpus-organization step (topic
sharding, curriculum buckets) of a training-data pipeline.

Engine-exactness recipe (the same one the BPE and label-centroid
queries use):
 - vectors enter as round(double, 6) so both engines fold identical
   doubles;
 - assignment = argmax of 6dp-rounded cosine with a (sim desc, cid asc)
   tie-break — comparator-sorted, no float negation;
 - centroid update = per-(cluster, dim) mean via EXACT decimal(18,6)
   sums (order-insensitive, safe under any partitioning / AQE re-plan)
   divided by the member count.

Scale shape per iteration: assignment is ROW-LOCAL (K centroids ride in
as one broadcast row — no shuffle of the corpus); the update is one
(cluster, dim)-keyed aggregation, i.e. K×dims cells, never vectors².
That is exactly the plan a 1000-executor k-means runs; more iterations
just repeat it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table_parallel
from ..functions.money import dsum
from ..plans.registry import register
from ..session import truncate_lineage
from .fixpoint import iterate

K = 4
N_ITER = 2
_DIMS = 64

# rounded cosine between the row's `ed` (double array) and a centroid
# struct `c` — sequential folds, shared 6dp rounding with the oracle
_SIM = (
    "round("
    "aggregate(zip_with(ed, c.cemb, (x, y) -> x * y), cast(0.0 as double), "
    "(acc, v) -> acc + v) / ("
    "sqrt(aggregate(zip_with(ed, ed, (x, y) -> x * y), cast(0.0 as double), "
    "(acc, v) -> acc + v)) * "
    "sqrt(aggregate(zip_with(c.cemb, c.cemb, (x, y) -> x * y), "
    "cast(0.0 as double), (acc, v) -> acc + v))), 6)"
)

_BEST_CID = (
    f"element_at(array_sort(transform(cents, c -> struct({_SIM} as s, c.cid as cid)), "
    "(l, r) -> CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1 "
    "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 ELSE 0 END), 1).cid"
)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, v -> round(cast(v as double), 6))").alias("ed"),
    )


def _assign(vecs: DataFrame, cents_row: DataFrame) -> DataFrame:
    """Row-local nearest-centroid assignment: (vec_id, ed, cid)."""
    return (
        vecs.crossJoin(F.broadcast(cents_row))
        .withColumn("cid", F.expr(_BEST_CID))
        .drop("cents")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids from an assignment: exact decimal per-dim means →
    one row {cents: array<struct<cid,cemb>>} for the next broadcast."""
    per_dim = assigned.select(
        "cid", F.posexplode("ed").alias("pos", "val")
    ).groupBy("cid", "pos").agg(
        (
            dsum(F.col("val"), dec="decimal(18,6)")
            / F.count("*")
        ).alias("cmean")
    )
    return (
        per_dim.groupBy("cid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, cmean))), s -> s.cmean)"
            ).alias("cemb")
        )
        .select(F.struct(F.col("cid").cast("int").alias("cid"), "cemb").alias("c"))
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )


def lloyd(vecs: DataFrame, k: int, rounds: int) -> tuple[DataFrame, DataFrame]:
    """Seed ``k`` centroids deterministically (vec_id < k) and refine
    them by ``rounds`` assign→update rounds on the fixpoint driver.
    Returns the centroid rows {cents: array<struct<cid,cemb>>} before
    and after the last round."""
    seed = (
        vecs.filter(F.col("vec_id") < k)
        .select(
            F.struct(F.col("vec_id").cast("int").alias("cid"), F.col("ed").alias("cemb")).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )

    def lloyd_round(cents: DataFrame) -> DataFrame:
        return _update(_assign(vecs, cents))

    # Every 1-row centroid frame is truncated (the seed here, each
    # round's in iterate): round t's assignment then does NOT re-derive
    # round t-1's whole assign+update subtree, so the corpus is scanned
    # once per round (was 8 scan branches for 2 rounds) — the standard
    # fix for iterative-lineage blowup. The truncated frames are K
    # centroids (one row), so materialization cost is nil at any
    # corpus size.
    prev = iterate(truncate_lineage(seed), lloyd_round, rounds=rounds - 1)
    return prev, iterate(prev, lloyd_round, rounds=1)


def kmeans_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run N_ITER assign→update rounds from the deterministic seed set
    (vec_id < K); report per-cluster size, final centroid norm, and the
    centroid movement of the last update (the convergence signal)."""
    vecs = _vectors(spark, sf_dir)
    prev_cents, cents = lloyd(vecs, K, N_ITER)
    assigned = _assign(vecs, prev_cents)
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("n_vecs"))
    fold = (
        "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    norm = (
        "aggregate(zip_with(cemb, cemb, (x, y) -> x * y), cast(0.0 as double), "
        "(acc, v) -> acc + v)"
    )
    final = (
        cents.select(F.explode("cents").alias("c"))
        .select(F.col("c.cid").alias("cid"), F.col("c.cemb").alias("cemb"))
    )
    prev = (
        prev_cents.select(F.explode("cents").alias("c"))
        .select(F.col("c.cid").alias("pcid"), F.col("c.cemb").alias("pemb"))
    )
    return (
        sizes.join(F.broadcast(final), "cid")
        .join(F.broadcast(prev), F.col("cid") == F.col("pcid"))
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_vecs",
            F.round(F.sqrt(F.expr(norm)), 6).alias("centroid_norm"),
            F.round(
                F.sqrt(F.expr(fold.format(a="cemb", b="pemb"))), 6
            ).alias("movement"),
        )
    )


# --------------------------------------------------------------------------
# Fully unrolled oracle: every iteration spelled out in SQL
# --------------------------------------------------------------------------

_O_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _o_assign(src_vecs: str, src_cents: str, out: str) -> str:
    """vec → nearest centroid (sim desc, cid asc), as two CTEs."""
    return f"""
    {out}_rank AS (
      SELECT v.vec_id, v.ed, c.cid,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY
               {_O_COS.format(a='v.ed', b='c.cemb')} DESC, c.cid) AS rn
      FROM {src_vecs} v CROSS JOIN {src_cents} c
    ), {out} AS (
      SELECT vec_id, ed, cid FROM {out}_rank WHERE rn = 1
    )"""


def _o_update(src_assign: str, out: str) -> str:
    """assignment → per-cluster exact-decimal-mean centroids."""
    return f"""
    {out}_dim AS (
      SELECT cid, x.pos AS pos,
             CAST(CAST(SUM(CAST(x.val AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS cmean
      FROM (SELECT cid,
                   unnest(list_transform(range(1, len(ed) + 1),
                          i -> {{'pos': CAST(i AS INT), 'val': ed[i]}})) AS x
            FROM {src_assign})
      GROUP BY 1, 2
    ), {out} AS (
      SELECT cid, list(cmean ORDER BY pos) AS cemb FROM {out}_dim GROUP BY 1
    )"""


_KMEANS_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> round(x, 6)) AS ed
  FROM embeddings
), c0 AS (
  SELECT CAST(vec_id AS INT) AS cid, ed AS cemb FROM e WHERE vec_id < {K}
), {_o_assign('e', 'c0', 'a1')}, {_o_update('a1', 'c1')},
   {_o_assign('e', 'c1', 'a2')}, {_o_update('a2', 'c2')}
SELECT c2.cid AS cid,
       (SELECT COUNT(*) FROM a2 WHERE a2.cid = c2.cid) AS n_vecs,
       round(sqrt(list_dot_product(c2.cemb, c2.cemb)), 6) AS centroid_norm,
       round(sqrt(list_sum(list_transform(range(1, len(c2.cemb) + 1),
             i -> (c2.cemb[i] - c1.cemb[i]) * (c2.cemb[i] - c1.cemb[i])))), 6)
         AS movement
FROM c2 JOIN c1 USING (cid)
"""


@register(
    "kmeans_lloyd_2iter",
    oracle=_KMEANS_ORACLE,
    doc=f"Spherical Lloyd k-means over the embedding corpus: K={K} "
        f"deterministic seeds (vec_id < {K}), {N_ITER} full assign→update "
        "iterations, reporting per-cluster size, final centroid norm, and "
        "last-step centroid movement. The DuckDB oracle unrolls BOTH "
        "iterations in SQL (like the BPE trainer), value-checking every "
        "assignment and every exact-decimal centroid mean through the "
        "whole loop. Per iteration: broadcast-K row-local assignment + a "
        "(K×dims)-cell aggregation — no vectors² stage anywhere.",
)
def q_kmeans_lloyd_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_cluster_summary(spark, sf_dir)
