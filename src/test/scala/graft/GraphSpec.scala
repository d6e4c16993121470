package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkSpec {

  test("pagerank: hub outranks leaves; mass conserved on a graph with " +
      "no dangling nodes") {
    import spark.implicits._
    // star with back-edges: every leaf links the hub, hub links back
    val leaves = (1L to 20L)
    val edges = (leaves.map(l => (l, 0L)) ++ leaves.map(l => (0L, l)))
      .toDF("src", "dst")
    val pr = Graph.pageRank(edges, iterations = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(leaves.forall(l => pr(0L) > pr(l)),
      s"hub=${pr(0L)} leaves=${leaves.map(pr).max}")
    // bidirectional edges => no dangling nodes => total mass stays ~n
    val total = pr.values.sum
    assert(math.abs(total - pr.size) < 1e-4 * pr.size, s"total=$total")
    // leaves are symmetric: identical scores
    assert(leaves.map(pr).distinct.size === 1)
  }

  test("personalized pagerank: components with no seed score exactly " +
      "zero; mass flows outward from seeds; all-seeds degenerates to " +
      "plain pagerank bit-for-bit") {
    import spark.implicits._
    // two components: a seeded path 0-1-2 and an unseeded triangle 10-11-12
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L),
      (10L, 11L), (11L, 10L), (11L, 12L), (12L, 11L), (10L, 12L),
      (12L, 10L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    val got = Graph.personalizedPageRank(edges, seeds, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(Seq(10L, 11L, 12L).forall(got(_) === 0.0),
      s"unseeded component leaked mass: $got")
    // mass decays with distance from the seed's neighborhood: the far
    // end of the path scores lowest but still positive (reachable); the
    // middle node tops the component (it drains the seed's full
    // out-mass AND the far end's)
    assert(got(1L) > got(0L) && got(0L) > got(2L) && got(2L) > 0.0, s"$got")
    // seeding EVERY node reproduces plain pageRank exactly (same init,
    // same per-node restart term)
    val all = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val ppr = Graph.personalizedPageRank(edges, all, iterations = 6)
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq.sorted
    val pr = Graph.pageRank(edges, iterations = 6)
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq.sorted
    assert(ppr === pr)
  }

  test("weighted pagerank: uniform weights reproduce plain pagerank " +
      "bit-for-bit; a heavier edge pulls strictly more rank") {
    import spark.implicits._
    val plain = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L))
    val uniform = plain.map { case (s, d) => (s, d, 1L) }
      .toDF("src", "dst", "w")
    val pr = Graph.pageRank(plain.toDF("src", "dst"), iterations = 4)
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq.sorted
    val wpr = Graph.weightedPageRank(uniform, iterations = 4)
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq.sorted
    assert(pr === wpr)
    // hub 0 splits 9:1 between nodes 1 and 2
    val skew = Seq((0L, 1L, 9L), (0L, 2L, 1L), (1L, 0L, 1L),
      (2L, 0L, 1L)).toDF("src", "dst", "w")
    val got = Graph.weightedPageRank(skew, iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) > got(2L), s"$got")
  }

  test("triangle counts: K4 gives every node 3; chain gives none; " +
      "direction and duplicate edges don't matter") {
    import spark.implicits._
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b }
      yield (a, b))
    // add reversed duplicates + a chain 10-11-12 that closes nothing
    val edges = (k4 ++ k4.map(_.swap) ++ Seq((10L, 11L), (11L, 12L)))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each K4 node sits in C(3,2)=3 triangles; chain nodes absent
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("pagerank is bit-stable under repartitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong,
      rnd.nextInt(40).toLong)).filter(p => p._1 != p._2)
      .toDF("src", "dst")
    // 6 iterations crosses the it=5 lineage cut, so the checkpoint path
    // is exercised and proven value-neutral
    def run(parts: Int): Seq[(Long, Long)] =
      Graph.pageRank(edges.repartition(parts), iterations = 6).collect()
        .map(r => (r.getLong(0),
          java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq.sorted
    assert(run(2) === run(17))
  }

  test("k-core: tail peels in cascade (one node per round), the core " +
      "survives with exact induced degrees, and the default rounds " +
      "converge on the fixture") {
    import spark.implicits._
    // triangle {0,1,2} + tail 2-10, 10-11, 11-12: at k=2 the tail
    // peels one node per round (12 then 11 then 10) — three rounds to
    // converge, exactly the default
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (2L, 10L), (10L, 11L), (11L, 12L)).toDF("src", "dst")
    val got = Graph.kCore(edges, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    // one round fewer leaves the peel unconverged: node 10 still
    // alive (its sub-k degree exposes the non-convergence)
    val partial = Graph.kCore(edges, k = 2, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(partial.contains(10L) && partial(10L) < 2L)
    // two K4s bridged by one edge: all survive the 3-core, bridge
    // endpoints carry the extra degree
    def k4(off: Long) = for { a <- 0L to 3L; b <- 0L to 3L if a < b }
      yield (a + off, b + off)
    val bridged = (k4(0) ++ k4(10) ++ Seq((3L, 10L))).toDF("src", "dst")
    val core = Graph.kCore(bridged, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.size === 8)
    assert(core(3L) === 4L && core(10L) === 4L)
    assert(core.filterNot(p => p._1 == 3L || p._1 == 10L)
      .values.toSet === Set(3L))
  }

  test("link prediction: exact overlap scores on known shapes; adjacent " +
      "pairs excluded; hub cap drops star wedges; duplicate/reversed " +
      "edges don't matter") {
    import spark.implicits._
    // square 1-2-3-4-1 (+ reversed dupes): diagonals (1,3) and (2,4)
    // are the only non-adjacent pairs; each shares BOTH opposite
    // corners => cn=2, all degrees 2 => jaccard = 2/(2+2-2) = 1.0,
    // ra = 2 * (1000000 div 2) = 1000000
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val got = Graph.linkPrediction((sq ++ sq.map(_.swap))
        .toDF("src", "dst")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got === Map((1L, 3L) -> ((2L, 1000000L, 1.0)),
      (2L, 4L) -> ((2L, 1000000L, 1.0))))
    // path 1-2-3: one candidate (1,3) through center 2 (deg 2):
    // ra = 500000; leaf degrees 1 => jaccard 1/(1+1-1) = 1.0
    val path = Graph.linkPrediction(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(path === Map((1L, 3L) -> ((1L, 500000L, 1.0))))
    // triangle: every pair adjacent => empty
    assert(Graph.linkPrediction(Seq((1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("src", "dst")).count() === 0)
    // star on 0 with 5 leaves: all C(5,2) leaf pairs via the hub —
    // and a hub cap below 5 removes every wedge
    val star = (1L to 5L).map(l => (0L, l)).toDF("src", "dst")
    assert(Graph.linkPrediction(star).count() === 10)
    assert(Graph.linkPrediction(star, maxCenterDegree = 4).count() === 0)
  }

  test("label propagation: two dense clusters bridged by ONE weak edge " +
      "stay separate communities (the plurality contrast with connected " +
      "components), direction-invariant") {
    import spark.implicits._
    // K4 on {0..3}, K4 on {10..13}, one bridge 3-10
    def k4(off: Long) = for { a <- 0L to 3L; b <- 0L to 3L if a < b }
      yield (a + off, b + off)
    val edges = (k4(0) ++ k4(10) ++ Seq((3L, 10L))).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iterations = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // min-label plurality pulls each K4 to its smallest member
    assert((0L to 3L).map(got).toSet === Set(0L))
    assert((10L to 13L).map(got).toSet === Set(10L))
    // connected components WOULD merge them through the bridge
    val cc = graft.operators.Dedup.connectedComponents(
        edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet.size === 1)
    // reversed edges give the identical labeling
    val rev = Graph.labelPropagation(
        edges.select(col("dst").as("src"), col("src").as("dst")),
        iterations = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev === got)
  }

  test("co-occurrence projection: df band prunes hub and hapax tokens, " +
      "counts are exact") {
    import spark.implicits._
    // "hubhub" appears in EVERY doc (df 7 > floor(0.78*7) = 5) and must
    // vanish before the pair stage; "rare"/"solo" are hapax
    // (df 1 < minDf 2); "abc" is too short for the token filter.
    val fixture = Seq(
      (1L, "alpha beta hubhub gamma abc"),
      (2L, "alpha beta hubhub"),
      (3L, "alpha beta hubhub delta"),
      (4L, "gamma delta hubhub"),
      (5L, "rare hubhub gamma"),
      (6L, "hubhub solo"),
      (7L, "gamma delta hubhub")).toDF("doc_id", "text")
    val out = Graph.cooccurrenceProjection(fixture, minDf = 2,
        maxDfRatio = 0.78, minCount = 2, topK = 10)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    // alpha∩beta = {1,2,3}; delta∩gamma = {4,7}; everything else < 2
    assert(out.toSeq === Seq(("alpha", "beta", 3L, 1),
      ("delta", "gamma", 2L, 2)))
  }

  test("k-hop counts: path expands one node per level, cycle revisits " +
      "nothing, multiple seeds stay independent") {
    import spark.implicits._
    // path 1-2-3-4-5 plus triangle 10-11-12, undirected
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("seed")
    val got = Graph.kHopCountsBitset(edges, seeds, k = 3).collect()
      .map(r => (r.getAs[Long]("seed"), r.getAs[Int]("dist")) ->
        r.getAs[Long]("n_nodes")).toMap
    // seed 1 walks the path: {2}, {3}, {4}
    assert(got((1L, 1)) === 1L)
    assert(got((1L, 2)) === 1L)
    assert(got((1L, 3)) === 1L)
    // seed 10's triangle: both neighbors at hop 1, then NOTHING — hop 2
    // would only revisit
    assert(got((10L, 1)) === 2L)
    assert(!got.contains((10L, 2)) && !got.contains((10L, 3)))
    assert(got.size === 4)
  }
}
