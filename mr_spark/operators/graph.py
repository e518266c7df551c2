"""Iterative graph algorithm: connected components over the near-duplicate
pair graph — the clustering step of a real dedup pipeline (group near-dups,
keep one canonical doc per cluster).

Spark side: iterative min-label propagation (the standard large-graph
approach — each round is one join + one agg, converges in O(diameter)
rounds; at 100 TB this is the same loop GraphFrames/GraphX run).
Oracle side: a recursive CTE computing the transitive closure — feasible
for the oracle's small pair set, NOT the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..session import persist_tracked
from .dedup import ngram_jaccard_pairs

_MAX_ROUNDS = 20
_DRIVER_EDGE_THRESHOLD = 1_000_000  # directed edges; ~16 MB on the driver


def _driver_union_find(spark: SparkSession, edges: DataFrame) -> DataFrame:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges.collect():
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(rows, schema="doc_id bigint, component bigint")


_COMP_CTES = r"""
    pairs AS (
      SELECT doc_a, doc_b FROM (
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '') AS ws
          FROM documents
        ), tri AS (
          SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
          FROM toks, unnest(range(1, len(ws) - 1)) AS t(i)
          WHERE len(ws) >= 3
        ), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tri GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON inter.doc_a = sa.doc_id
        JOIN sizes sb ON inter.doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5
      )
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges)"""
# ^ shared recursive-closure CTE block of the near-dup component oracles


@query(
    "neardup_components",
    oracle="WITH RECURSIVE "
    + _COMP_CTES
    + """
    SELECT node AS doc_id,
           LEAST(node, MIN(v)) AS component
    FROM nodes LEFT JOIN reach ON reach.u = node
    GROUP BY node
    """,
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the Jaccard-≥0.5 near-dup graph:
    component id = min doc_id reachable. Iterative min-label propagation
    with an early-exit convergence check per round (an AGGREGATE per
    iteration, not a driver-side loop over rows)."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # both directions in ONE pass over the (expensive) pair pipeline —
    # pairs.union(pairs.swapped) would run the Jaccard join twice
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v").distinct()
    # edges feeds the count() gate AND the chosen strategy — persist across
    # both actions, TRACKED (r4 verdict: an untracked cache here leaked
    # past release_tracked_caches; the returned plan on the distributed
    # path still references edges, so release must be deferred to the next
    # top-level query).
    persist_tracked(edges)
    # Size-based strategy, like any real graph engine: a near-dup edge set
    # that fits on the driver is solved with union-find in microseconds —
    # the distributed label-propagation loop below is the >threshold path
    # (it costs one join+agg+action per round, which dominates wall time on
    # tiny graphs). Both produce identical labels (tests pin this).
    if edges.count() <= _DRIVER_EDGE_THRESHOLD:
        result = _driver_union_find(spark, edges)
        # fully consumed by the collect above — release eagerly (the
        # deferred tracked release then no-ops on the already-free frame)
        edges.unpersist()
        return result
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for round_no in range(_MAX_ROUNDS):
        # neighbor's current label, take the min of (own, neighbors')
        neighbor = (
            edges.join(labels, edges.v == labels.node)
            .select(F.col("u").alias("node"), F.col("component"))
        )
        new_labels = (
            labels.select("node", "component")
            .union(neighbor)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # tracked: the FINAL round's frame is referenced by the returned
        # plan (can't unpersist before return); earlier rounds are freed
        # eagerly below and their deferred release no-ops.
        persist_tracked(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
        # every iteration appends a join+agg to the logical plan; by round
        # ~10 analysis/planning time dominates tiny rounds. Truncate
        # lineage periodically (localCheckpoint materializes and cuts the
        # plan at this node). Note localCheckpoint stores blocks on
        # executors WITHOUT lineage to rebuild them — losing an executor
        # afterwards fails the job; use reliable checkpoint() on a cluster
        # where executor-loss recovery matters more than the local write.
        if round_no % 5 == 4:
            labels = labels.localCheckpoint()
    return labels.select(F.col("node").alias("doc_id"), "component")


@query(
    "dedup_neardup_docs",
    oracle="WITH RECURSIVE "
    + _COMP_CTES
    + """,
    comp AS (
      SELECT node AS doc_id, LEAST(node, MIN(v)) AS component
      FROM nodes LEFT JOIN reach ON reach.u = node
      GROUP BY node
    ),
    all_docs AS (
      SELECT d.doc_id, length(d.text) AS n,
             COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY component ORDER BY n DESC, doc_id
      ) AS rn
      FROM all_docs
    ),
    multi AS (
      SELECT component FROM all_docs
      GROUP BY component HAVING COUNT(*) >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_in,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped,
           CAST(SUM(CASE WHEN rn > 1 THEN n ELSE 0 END) AS BIGINT)
             AS chars_dropped,
           CAST((SELECT COUNT(*) FROM multi) AS BIGINT) AS n_clusters
    FROM ranked
    """,
)
def dedup_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUPLICATE REMOVAL TRANSFORM — the document-level step every
    pretraining pipeline runs after clustering (MinHash/Jaccard →
    components → keep ONE representative per cluster; Lee et al. 2022's
    NearDup, FineWeb's MinHash stage): over the EXACT Jaccard-≥0.5
    component graph (neardup_components — the same distributed
    min-label propagation; the oracle shares its recursive-closure CTE
    block verbatim), keep the LONGEST document of each cluster (ties →
    smallest doc_id), drop the rest; singletons pass through.

    Output is the corpus accounting row a curation run reports:
    docs in/kept/dropped, characters dropped, multi-doc cluster count —
    the oracle recomputes all five through the recursive transitive
    closure, so a wrong component assignment or keep-rule divergence
    hash-mismatches.

    Scale: the component step is the heavy part (see
    neardup_components' loop notes); the keep-best window partitions by
    component — bounded by cluster size, the same shape as
    dedup_keep_best — and the summary is one single-row agg. No new
    pair emission beyond the gated Jaccard join."""
    from ..sources import load_table

    comps = neardup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n")
    )
    labeled = docs.join(comps, "doc_id", "left").select(
        "doc_id",
        "n",
        F.coalesce("component", "doc_id").alias("component"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.desc("n"), F.asc("doc_id")
    )
    ranked = labeled.withColumn("rn", F.row_number().over(w))
    sizes = labeled.groupBy("component").count()
    n_clusters = sizes.where(F.col("count") >= 2).agg(
        F.count("*").cast("bigint").alias("n_clusters")
    )
    summary = ranked.agg(
        F.count("*").cast("bigint").alias("n_docs_in"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_dropped"),
        F.coalesce(
            F.sum(F.when(F.col("rn") > 1, F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("chars_dropped"),
    )
    return summary.crossJoin(F.broadcast(n_clusters)).select(
        "n_docs_in", "n_docs_kept", "docs_dropped", "chars_dropped",
        "n_clusters",
    )
