"""Graph analytics over the near-duplicate pair graph: PageRank.

Complements connected components (cluster.py): CC answers "which docs are
the same", PageRank answers "which docs are the most central templates" —
a real curation signal (high-rank nodes are the canonical/boilerplate
sources their near-dups orbit). Same distributed-iteration machinery as
the CC fixpoint: per round one edge⋈rank shuffle + one aggregation,
lineage cut with localCheckpoint, shuffles sized to the (small) node set.

Determinism: fixed 6 power iterations (no convergence test — iteration
count IS the contract, so both engines run the identical computation);
ranks are reported scaled by |V| (≈1.0-sized values) so the shared 4dp
parity rounding keeps signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark.parity import r4
from upflow_spark.pipeline.cluster import _PAIRS_CTE, _cc_edges
from upflow_spark.registry import query
from upflow_spark.session import small_shuffles

N_ITER = 6
DAMPING = 0.85


def _oracle_sql() -> str:
    steps = []
    prev = "r0"
    for i in range(1, N_ITER + 1):
        steps.append(
            f"r{i} AS (SELECT e.v AS n, 0.15 / (SELECT nv FROM nv) "
            f"+ {DAMPING} * sum({prev}.r / deg.d) AS r "
            f"FROM {prev} JOIN deg ON deg.n = {prev}.n "
            f"JOIN edges e ON e.u = {prev}.n GROUP BY e.v)"
        )
        prev = f"r{i}"
    return f"""
WITH {_PAIRS_CTE},
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT u AS n, CAST(count(*) AS DOUBLE) AS d FROM edges GROUP BY u),
nv AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM deg),
r0 AS (SELECT n, 1.0 / (SELECT nv FROM nv) AS r FROM deg),
{", ".join(steps)}
SELECT n AS doc_id,
       floor((r * (SELECT nv FROM nv)) * 10000 + 0.5) / 10000 AS pr_scaled
FROM {prev}
"""


def _pagerank_round(wedges: DataFrame, ranks: DataFrame, nv: float) -> DataFrame:
    """One power-iteration round: map-side broadcast join of the small rank
    table onto the degree-carrying edge list, then ONE groupBy(v) shuffle.
    Division is per-contribution (r/d, never r·(1/d)) so the sum matches
    the oracle bit-for-bit. Factored out so tests/test_plans.py can pin
    the round's physical shape (the checkpointed loop hides it)."""
    contrib = wedges.join(F.broadcast(ranks), wedges.u == ranks.n).select(
        F.col("v").alias("n"), (F.col("r") / F.col("d")).alias("c")
    )
    return contrib.groupBy("n").agg(
        (F.lit(0.15 / nv) + DAMPING * F.sum("c")).alias("r")
    )


@query("graph_pagerank", oracle=_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (6 iterations, d=0.85) over the symmetrized SimHash
    near-dup graph; output (doc_id, rank·|V| @4dp) per in-graph doc.

    The graph is symmetric so every node has out-degree ≥ 1 — no dangling
    mass; rank conservation is exact. Edge list reuses the per-application
    materialization shared with the CC keys (cluster._cc_edges).
    """
    edges = _cc_edges(spark, sf_dir)
    with small_shuffles(spark):
        deg = edges.groupBy("u").agg(
            F.count(F.lit(1)).cast("double").alias("d")
        ).withColumnRenamed("u", "n").localCheckpoint()
        nv = float(deg.count())  # bounded driver scalar: one row per graph node
        if nv == 0:
            return spark.createDataFrame([], "doc_id long, pr_scaled double")
        # r8: fold 1/out-degree into the edge list ONCE (w_uv = 1/d_u) and
        # broadcast the small rank table each round — the edge table is
        # then never re-shuffled inside the loop (the r7 shape shuffled
        # 823k edge rows per iteration for the ranks⋈deg⋈edges join);
        # per round = one map-side broadcast join + ONE groupBy(v) shuffle.
        # At cluster scale this is the standard PageRank layout: edges
        # partitioned once, ranks small enough to broadcast (one row per
        # node of the near-dup graph, not per document).
        wedges = (
            edges.join(deg, edges.u == deg.n)
            .select("u", "v", "d")  # carry the DEGREE, not 1/d: the oracle
            # sums r/d, and r*(1/d) differs in the last ulp — same division
            # per contribution keeps the engines bit-identical
            .localCheckpoint()
        )
        ranks = deg.select("n", F.lit(1.0 / nv).alias("r"))
        for _ in range(N_ITER):
            ranks = _pagerank_round(wedges, ranks, nv).localCheckpoint()
        return ranks.select(
            F.col("n").alias("doc_id"), r4(F.col("r") * nv).alias("pr_scaled")
        )
