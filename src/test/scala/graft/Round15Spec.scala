package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.RowFormKHop.kHopCounts

/** Gates for the exact k-hop BFS: the bitmask [[Graph.kHopCountsBitset]]
  * must be row-for-row identical to the row-form [[RowFormKHop]] oracle —
  * on the hand-built path/triangle fixture (where the expected counts are
  * derivable by eye), on the real sf0.001 order graph with the canonical
  * seed slice (where the g07/g08/g18 oracles lock the consumer outputs)
  * and on a seed set spanning many 64-seed chunks.
  */
class Round15Spec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("kHopCountsBitset equals kHopCounts on the path+triangle fixture") {
    import spark.implicits._
    // path 1-2-3-4-5 plus triangle 10-11-12, undirected (GraphSpec's
    // fixture — one seed walks, one saturates after a single hop)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("seed")
    val want = rows(kHopCounts(edges, seeds, k = 3))
    val got = rows(Graph.kHopCountsBitset(edges, seeds, k = 3))
    assert(got === want)
    assert(got.contains((1L, 3, 1L)))
  }

  test("kHopCountsBitset equals kHopCounts on the sf0.001 order graph " +
      "with a dense seed slice (65+ seeds crosses the 64-bit word " +
      "boundary, so multi-word masks and the bit->seed readoff are " +
      "exercised)") {
    val e = graft.queries.Shared.orderGraphEdges(spark, sf)
    val seeds = e.select(col("src").as("seed")).distinct()
      .filter(col("seed") < 1000000 && col("seed") % 2 === 0)
    assert(seeds.count() >= 65,
      "fixture drift: dense slice no longer crosses a word boundary")
    val want = rows(kHopCounts(e, seeds, k = 3))
    val got = rows(Graph.kHopCountsBitset(e, seeds, k = 3,
      edgesDeduped = true))
    assert(got === want)
    assert(want.nonEmpty)
    // the fused (checkpoint=false) variant is the same math with a
    // lineage boundary removed — identical rows
    val fused = rows(Graph.kHopCountsBitset(e, seeds, k = 3,
      edgesDeduped = true, checkpoint = false))
    assert(fused === want)
  }

  test("kHopCountsBitset equals kHopCounts on 4200 seeds (some repeated) " +
      "spread over part-filled 64-seed chunks, with nodes shared across " +
      "chunks at dist 1..3") {
    import spark.implicits._
    // seed i -> hub (i % 7) -> pair (i % 2) -> one sink: seeds from every
    // chunk meet at dist 1, 2 and 3; seed i -> i + 1 for i % 5 == 0 makes
    // some seeds reach other seeds, and the private tail i -> -i - 1 gives
    // every seed its own dist-1 node
    val n = 4200L
    val edges = ((0L until n).flatMap(i => Seq((i, 100000L + i % 7),
        (i, -i - 1))) ++
      (0L until 7L).map(h => (100000L + h, 200000L + h % 2)) ++
      Seq((200000L, 300000L), (200001L, 300000L)) ++
      (0L until n by 5).map(i => (i, i + 1))).toDF("src", "dst")
    // every third seed listed twice: a repeat keeps one id
    val seeds = ((0L until n) ++ (0L until n by 3)).toDF("seed")
      .repartition(3)
    // ids are numbered per seed partition (partition index << 33), so
    // every partition boundary leaves a chunk part-filled
    assert(seeds.rdd.getNumPartitions >= 2)
    val want = rows(kHopCounts(edges, seeds, k = 3))
    val got = rows(Graph.kHopCountsBitset(edges, seeds, k = 3))
    assert(got === want)
    assert(want.count(_._2 == 3) === n.toInt)
  }

  test("building kHopCountsBitset starts no Spark job before the first " +
      "action (no driver-side seed collect)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("seed")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.TestBridge.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    // the fused layout: with per-hop checkpoints each cut runs its own
    // shuffle stages while it is built (AQE plans a checkpoint's stages
    // eagerly), which is the cut layout's price, not a seed collect
    val out = try {
      val df = Graph.kHopCountsBitset(edges, seeds, k = 3,
        checkpoint = false)
      org.apache.spark.graft.TestBridge.waitListenerBus(spark.sparkContext)
      df
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() === 0, "kHopCountsBitset ran jobs while building")
    assert(rows(out) === Set((1L, 1, 1L), (1L, 2, 1L), (2L, 1, 1L)))
  }

  test("adaptiveHopCheckpoint fails safe: an unknown (<= 0) input size " +
      "keeps checkpoints ON, while the fixture graph keeps its fused " +
      "layout") {
    assert(Graph.adaptiveHopCheckpoint(0L))
    assert(Graph.adaptiveHopCheckpoint(-1L))
    assert(!Graph.adaptiveHopCheckpoint(1L))
    assert(Graph.adaptiveHopCheckpoint((1L << 30) + 1))
    // g20/g21 size their layout from these two tables: the fixture must
    // read as known and small, or the spec runs the checkpointed layout
    val bytes = graft.streaming.StreamOps.inputBytes(
      graft.Tables.load(spark, sf, "orders"),
      graft.Tables.load(spark, sf, "lineitem"))
    assert(bytes > 0, s"fixture tables sized $bytes")
    assert(!Graph.adaptiveHopCheckpoint(bytes))
  }

  test("kHopCountsBitset with an empty seed set returns an empty frame " +
      "with the (seed, dist, n_nodes) schema") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq.empty[Long].toDF("seed")
    val out = Graph.kHopCountsBitset(edges, seeds, k = 3)
    assert(out.columns.toSeq === Seq("seed", "dist", "n_nodes"))
    assert(out.count() === 0L)
  }
}
