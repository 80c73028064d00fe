"""Connected components — the clustering step of a dedup pipeline.

Near-dup detection yields PAIRS (dedup.py); production dedup needs
CLUSTERS: transitive groups with one canonical survivor each. That is
connected components over the pair graph — the one operator in this
engine that runs until it converges, so it is a label-propagation
fixpoint on the round driver (fixpoint.iterate; the GraphX/GraphFrames
pattern without the library): every vertex repeatedly adopts the
minimum label among itself and its neighbors; convergence in O(graph
diameter) rounds.

Scale shape per round: one shuffle join (edges ⋈ labels on src) + one
min-aggregate by dst — both key-partitioned, no stage is quadratic.
The convergence signal is the sum of labels (monotonically
decreasing), observed on the job that materializes the round's labels,
so no round runs a probe job of its own. Each round's labels are
truncated via session.truncate_lineage — localCheckpoint on local
mode, reliable checkpoint() when SPARK_GRAFT_CHECKPOINT_DIR is set (a
cluster run) — so plans don't grow with the round count and executor
loss can't kill the loop mid-flight. A graph that has not converged
within MAX_CC_ITERATIONS rounds (a component of diameter ≥ 20) raises
instead of returning wrong cluster ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..session import truncate_lineage
from .dedup import blocked_jaccard_pairs
from .fixpoint import iterate
from .textstats import fingerprint

MAX_CC_ITERATIONS = 20


def connected_components(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-label propagation: (doc_id) × (src, dst) → (doc_id, cluster_id)
    where cluster_id = min doc_id in the component. Deterministic for any
    edge order; singleton vertices keep themselves as cluster_id."""
    # Materialize the symmetrized edge table ONCE before iterating: the
    # edge relation's lineage is the whole pair-generation pipeline
    # (shingling + blocked self-join), and every fixpoint round consumes
    # it — without the checkpoint each round re-runs pair generation
    # from the raw corpus (2× per round via the union). The edge list is
    # graph-sized, far smaller than the corpus, so pinning it is exactly
    # what a 100 TB run wants (same pattern as pagerank/kmeans).
    sym = truncate_lineage(
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
        eager=True,
    )

    def propagate(labels: DataFrame) -> DataFrame:
        nbr_min = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        label = F.least(F.col("label"), F.coalesce("nbr_min", F.col("label")))
        return labels.join(nbr_min, labels.doc_id == nbr_min.dst, "left").select(
            "doc_id", label.alias("label")
        )

    labels = iterate(
        vertices.select("doc_id", F.col("doc_id").alias("label")),
        propagate,
        rounds=MAX_CC_ITERATIONS,
        until=F.sum("label"),  # no label moved ⇔ the sum repeats
    )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering over the documents table: edges = exact-duplicate
    star edges (doc → its fingerprint group's min id) ∪ blocked-Jaccard
    near-dup pairs (≥ 0.8); output = every doc with its transitive
    cluster's canonical (minimum) doc_id."""
    d = table(spark, sf_dir, "documents")
    docs = d.select("doc_id", fingerprint(F.col("text")).alias("text_hash"))
    root = F.min("doc_id").over(Window.partitionBy("text_hash"))
    exact_edges = (
        docs.withColumn("src", root)
        .filter(F.col("src") != F.col("doc_id"))
        .select("src", F.col("doc_id").alias("dst"))
    )
    jac_edges = blocked_jaccard_pairs(spark, sf_dir, threshold=0.8).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(
        d.select("doc_id"), exact_edges.union(jac_edges)
    )


#: DuckDB oracle: transitive closure by recursive CTE, cluster_id = min
#: reachable doc_id. The edge construction mirrors the Spark side
#: exactly (same fingerprint, same capped blocked-Jaccard pairs).
ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE
docs AS (
  SELECT doc_id, md5(lower(text)) AS text_hash FROM documents
),
exact_edges AS (
  SELECT src, dst FROM (
    SELECT MIN(doc_id) OVER (PARTITION BY text_hash) AS src,
           doc_id AS dst
    FROM docs
  ) WHERE src <> dst
),
wd AS (
  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
),
ws0 AS (
  SELECT doc_id, lang,
         CAST(len(words) AS BIGINT) AS n_words,
         list_distinct(words) AS word_set,
         CAST(len(list_distinct(words)) AS BIGINT) AS set_size
  FROM wd
),
ws AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY lang, n_words) AS block_n
    FROM ws0
  ) WHERE block_n <= 500
),
jac_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_filter(a.word_set, x -> list_contains(b.word_set, x)))
             / CAST(a.set_size + b.set_size
                    - len(list_filter(a.word_set, x -> list_contains(b.word_set, x)))
                    AS DOUBLE) AS jaccard
    FROM ws a JOIN ws b
      ON a.lang = b.lang AND a.n_words = b.n_words AND a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.8
),
edges AS (
  SELECT src, dst FROM exact_edges
  UNION
  SELECT dst, src FROM exact_edges
  UNION
  SELECT src, dst FROM jac_edges
  UNION
  SELECT dst, src FROM jac_edges
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, MIN(dst) AS cluster_id
FROM reach GROUP BY 1
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: per dedup cluster, keep the best member, drop the
    rest — the step that turns clusters into an actual deduplicated
    corpus (the reference pipeline stops at pair/cluster detection;
    production dedup needs the keep/drop decision).

    "Best" = most words, ties to the smallest doc_id — the standard
    keep-longest heuristic (the longest member of a near-dup cluster is
    usually the least-truncated crawl of the page).

    Scale shape: reuses the cluster relation (one CC fixpoint), joins
    document lengths on doc_id (key-partitioned), then one window over
    cluster_id. Cluster sizes are bounded by near-dup semantics (a
    cluster is copies of one page, not a corpus-sized group), so the
    per-cluster window never sees a skewed partition.
    """
    clusters = dedup_clusters(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_words")
    )
    cw = Window.partitionBy("cluster_id")
    rw = Window.partitionBy("cluster_id").orderBy(
        F.col("n_words").desc(), F.col("doc_id").asc()
    )
    return clusters.join(d, "doc_id").select(
        "doc_id",
        "cluster_id",
        "n_words",
        F.count("*").over(cw).alias("n_members"),
        (F.row_number().over(rw) == 1).alias("keep"),
    )


#: Oracle: the cluster oracle as a derived table, then the same
#: keep-longest window decision in SQL.
ORACLE_DEDUP_KEEP_BEST = f"""
SELECT c.doc_id, c.cluster_id, q.n_words,
       COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
       (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                           ORDER BY q.n_words DESC, c.doc_id ASC) = 1) AS keep
FROM ({ORACLE_DEDUP_CLUSTERS}) c
JOIN (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM documents) q USING (doc_id)
"""
