package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator/capability from SURVEY.md §2;
  * [[oracleSql]] carries the DuckDB-equivalent SQL the driver hash-compares
  * against at sf0.01.
  */
object SparkEntry {

  private val groups: Seq[(Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = Seq(
    (Relational.defs, Relational.oracles),
    (Relational2.defs, Relational2.oracles),
    (KafkaParity.defs, KafkaParity.oracles),
    (NorthStar.defs, NorthStar.oracles),
    (Pipeline.defs, Pipeline.oracles),
    (Extras.defs, Extras.oracles),
    (Extras2.defs, Extras2.oracles),
    (Extras3.defs, Extras3.oracles),
    (Extras4.defs, Extras4.oracles),
    (Extras5.defs, Extras5.oracles),
    (Extras6.defs, Extras6.oracles),
    (Extras7.defs, Extras7.oracles),
    (Extras8.defs, Extras8.oracles),
    (Extras9.defs, Extras9.oracles),
    (Extras10.defs, Extras10.oracles))

  /** Merges per-group maps into one, refusing a name that two groups
    * declare (a plain `++` would let the later group silently shadow
    * the earlier one).
    */
  private[graft] def mergeUnique[V](maps: Seq[Map[String, V]])
      : Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val dup = acc.keySet intersect m.keySet
      require(dup.isEmpty,
        s"query names declared twice: ${dup.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }

  private lazy val registry = {
    val qs = mergeUnique(groups.map(_._1))
    val os = mergeUnique(groups.map(_._2))
    require(qs.keySet == os.keySet,
      s"queries without an oracle: ${(qs.keySet -- os.keySet).toSeq.sorted}" +
        s"; oracles without a query: ${(os.keySet -- qs.keySet).toSeq.sorted}")
    (qs, os)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = registry._1

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; every query has one.
    */
  def oracleSql: Map[String, String] = registry._2
}
