package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The row-form k-hop BFS — the reference oracle the bitmask
  * [[graft.operators.Graph.kHopCountsBitset]] is gated against. Same
  * contract: (src, dst) edges treated as directed, `seeds` with a `seed`
  * column; output (seed, dist, n_nodes), dist in 1..k, rows only where
  * n_nodes > 0, the seed itself (dist 0) not counted.
  *
  * Level-synchronous frontier form, one (seed, node) row per reached
  * pair: each hop joins the CURRENT frontier (not the visited set)
  * against the edge list, dedups, then anti-joins the visited set. The
  * visited/frontier tables are localCheckpoint'ed each hop so the k-deep
  * lineage never re-executes.
  */
object RowFormKHop {

  def kHopCounts(edges: DataFrame, seeds: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    var visited = seeds.select(col("seed"), col("seed").as("node"))
      .distinct().localCheckpoint(false)
    var frontier = visited
    val levels = (1 to k).map { d =>
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(visited, Seq("seed", "node"), "left_anti")
        .localCheckpoint(false)
      // visited is a union of already-checkpointed frontiers — constant
      // lineage depth, no re-materialization of the growing set
      visited = visited.unionByName(next)
      frontier = next
      next.groupBy(col("seed"))
        .agg(count(lit(1)).as("n_nodes")).withColumn("dist", lit(d))
    }
    levels.reduce(_ unionByName _)
      .select(col("seed"), col("dist"), col("n_nodes"))
  }
}
