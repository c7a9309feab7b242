"""Near-duplicate clustering — connected components over the similarity
graph.

Pairwise near-dup detection (dedup.py) yields EDGES; a real corpus
cleaner needs CLUSTERS: transitively-connected groups collapse to one
representative (pair-wise "drop doc_b" keeps a doc that is similar to a
dropped one whenever similarity chains, e.g. edges (1,3),(2,3) drop
only 3 while the cluster {1,2,3} should keep exactly one). This module
closes that gap with a deterministic min-label connected-components
operator, oracle-checked against a DuckDB recursive CTE.

Scale design: the alternating large-star/small-star algorithm (Kiveris
et al., "Connected Components in MapReduce and Beyond", public paper)
converges in O(log n) rounds even on adversarial long-chain graphs —
unlike plain min-label propagation, whose O(diameter) rounds a
1000-link similarity chain would stretch to 1000. Each half-round is
one min-aggregate plus one equi-join over the edge relation — no
driver-side graph, no collect; `localCheckpoint` truncates lineage each
round so plans don't nest. Non-convergence within the round budget
RAISES instead of returning silently-wrong labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark import gate
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.dedup import (
    _jaccard_pairs,
    _token_sets,
)
from kafka_clickhouse_implementation_spark.registry import query


def _large_star(pairs: DataFrame) -> DataFrame:
    """Large-star: every node u connects its LARGER neighbors to
    m(u) = min(Γ(u) ∪ {u}). Input/output: canonical (lo, hi) pairs."""
    sym = pairs.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
        pairs.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    """Small-star: orient each edge toward its larger endpoint; every
    node u connects its smaller neighbors (and itself) to their min."""
    orient = pairs.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    m = orient.groupBy("u").agg(F.min("v").alias("m"))
    with_m = orient.join(m, "u")
    return (
        with_m.select(F.col("v").alias("a"), F.col("m").alias("b"))
        .union(with_m.select(F.col("u").alias("a"), F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
        .distinct()
    )


def _driver_components(rows) -> dict[int, int]:
    """Min-label components of the collected (lo, hi) edges: standard
    union-find with path compression, then one pass mapping every root
    to the minimum node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for lo, hi in rows:
        for v in (lo, hi):
            if v not in parent:
                parent[v] = v
        ra, rb = find(lo), find(hi)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    return {v: comp_min[find(v)] for v in parent}


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected edge list via alternating
    large-star / small-star rounds (Kiveris et al., 2014). Returns
    (id, comp) where comp is the smallest node id in the component.
    Deterministic for any edge order; O(log n) rounds.

    Convergence is detected by edge-set fixpoint (at a fixpoint the
    graph is a forest of min-centered stars, which both operations map
    to themselves); the driver holds only per-round counts, never the
    graph. Raises RuntimeError if `max_iter` rounds don't converge —
    silently returning partially-propagated labels would corrupt every
    downstream keep-one dedup decision."""
    # Materialize the canonicalized edge set ONCE and derive both the
    # node set and the loop edges from it: `edges` is usually a lazy
    # expensive chain (the LSH near-dup pipeline), and deriving nodes
    # from the raw frame re-evaluated that whole chain a second time
    # when the final labeling materialized (r15 measurement: the
    # chain, not the star rounds, dominated CC wall time). least/
    # greatest permute the endpoint pair, so endpoints(e0) ==
    # endpoints(edges) including self-loop nodes (lo == hi rows are
    # kept in e0 and only filtered from the iteration).
    e0 = (
        edges.select(
            F.least(src, dst).alias("lo"), F.greatest(src, dst).alias("hi")
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e0.select(F.col("lo").alias("id"))
        .union(e0.select(F.col("hi").alias("id")))
        .distinct()
    )
    e = e0.filter(F.col("lo") != F.col("hi")).localCheckpoint()
    # Under the shared driver gate (gate.py) the edge set is labeled
    # with path-compressed union-find in O(E α) instead of O(E log n)
    # distributed star rounds, each of which costs a checkpoint + count
    # + (on the convergence round) a join-count of job/shuffle
    # machinery. Same (id, comp) result by construction: components and
    # their min labels are properties of the edge SET. An empty edge
    # set is already a fixpoint (both star operations map empty →
    # empty), so it skips the loop outright: one star round + the
    # fixpoint join-count on empty 32-partition frames still costs a
    # full second of shuffle/job machinery (r15 measurement).
    rows = gate.driver_rows(e)
    if rows:
        labels = _driver_components((int(r.lo), int(r.hi)) for r in rows)
        spark = e.sparkSession
        nbr = spark.createDataFrame(
            sorted(labels.items()), schema="id long, mn long"
        )
    else:
        if rows is None:
            n_e = e.count()
            for _ in range(max_iter):
                new_e = _small_star(_large_star(e)).localCheckpoint()
                n_new = new_e.count()
                unchanged = n_new == n_e and (
                    new_e.join(e, ["lo", "hi"]).count() == n_new
                )
                e, n_e = new_e, n_new
                if unchanged or n_e == 0:
                    break
            else:
                raise RuntimeError(
                    f"connected_components did not converge in {max_iter} "
                    "large-star/small-star rounds — labels would be incorrect"
                )
        # fixpoint graph is min-centered stars: comp(u) = min(u, nbrs)
        sym = e.select(F.col("lo").alias("id"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("id"), F.col("lo").alias("v"))
        )
        nbr = sym.groupBy("id").agg(F.min("v").alias("mn"))
    return nodes.join(nbr, "id", "left").select(
        "id", F.least("id", F.coalesce("mn", "id")).alias("comp")
    )


@query(
    "q_near_dup_components",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id < 50
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
    )
    SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS component,
           (id = min(lbl)) AS is_representative
    FROM reach GROUP BY id
    """,
)
def q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the exact-Jaccard (≥0.8) near-dup graph over the first 50
    docs into connected components; `is_representative` marks the one
    doc per cluster a keep-one dedup retains. The oracle computes the
    same min-reachable label with a recursive CTE."""
    docs = load(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(_token_sets(docs, 50)).filter(F.col("jac") >= 0.8)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component"),
        (F.col("id") == F.col("comp")).alias("is_representative"),
    )
