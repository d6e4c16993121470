package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sinks.Sinks
import graft.sources.KafkaSource
import graft.streaming.StreamOps

/** The kafka_consumer ingest pipeline ingest_backlog runs: replayed
  * records -> JSON decode, then two consumers of the decoded stream, each
  * with its own streaming parquet sink: dedup within the watermark, and
  * watermarked window counts. They are separate queries because one query
  * may not define its watermark twice. */
object Ingest {
  val Window = "1 minute"
  val Lateness = "30 seconds"
  val PropsSchema: StructType = StructType(Seq(
    StructField("u", LongType), StructField("v", DoubleType),
    StructField("t", StringType)))

  /** Starts both queries on `records` under AvailableNow; the sink of query
    * `name` writes to work/out/name with checkpoint work/ckpt/name. Decode
    * errors stay data: counted by an observed metric, then kept out of both
    * consumers. */
  def start(t: Tracer, records: DataFrame, work: Path)
      : Seq[(String, StreamingQuery)] = {
    val decoded = t.span("sources", "KafkaSource.withJsonDecoded")(
      KafkaSource.withJsonDecoded(records, PropsSchema))
      .observe("ingest", count(lit(1)).as("rows"),
        count(when(col("error").isNotNull, 1)).as("errors"),
        count(when(col("value").isNotNull, 1)).as("with_value"),
        count(when(col("decoded").isNotNull, 1)).as("decoded"))
      .filter(col("error").isNull)
    val consumers = Seq(
      "dedup" -> t.span("streaming", "StreamOps.dedupWithinWatermark")(
        StreamOps.dedupWithinWatermark(decoded, Seq("offset"), "timestamp",
          Lateness)),
      "counts" -> t.span("streaming", "StreamOps.windowedCounts")(
        StreamOps.windowedCounts(decoded, "timestamp", Window, Lateness)))
    consumers.map { case (name, df) =>
      name -> t.span("sinks", "Sinks.parquetSink")(Sinks.parquetSink(df,
        work.resolve("out").resolve(name).toString,
        work.resolve("ckpt").resolve(name).toString, Trigger.AvailableNow()))
    }
  }

  /** The bench-built file stream the backlog drain uses (so that
    * maxFilesPerTrigger can be set), normalized like StreamOps.eventStream. */
  def fileStream(spark: SparkSession, dir: String, maxFiles: Option[Int])
      : DataFrame = {
    val glob = s"$dir/events*.parquet"
    val schema = spark.read.parquet(glob).schema
    val reader = maxFiles.foldLeft(spark.readStream.schema(schema))(
      (r, n) => r.option("maxFilesPerTrigger", n.toLong))
    reader.parquet(glob).withColumn("ts", col("ts").cast(TimestampNTZType))
  }

  /** Where each query wrote, and its progress events. */
  def describe(work: Path, qs: Seq[(String, StreamingQuery)])
      : Seq[Map[String, Any]] = qs.map { case (name, q) =>
    Map("name" -> name,
      "checkpoint" -> work.resolve("ckpt").resolve(name).toString,
      "out" -> work.resolve("out").resolve(name).toString,
      "progress" -> q.recentProgress.toSeq.map(p => RawJson(p.json)))
  }

  /** Drains `dir` under AvailableNow; the pass ends when both queries do. */
  def drain(spark: SparkSession, t: Tracer, dir: String, work: Path,
      maxFiles: Option[Int]): Pass = {
    val records = t.span("sources", "KafkaSource.replay")(
      KafkaSource.replay(fileStream(spark, dir, maxFiles)))
    val start = Clock.now()
    val qs = Ingest.start(t, records, work)
    t.span("streaming", "query")(qs.foreach(_._2.awaitTermination()))
    val end = Clock.now()
    val queries = describe(work, qs)
    Pass(Map("start" -> start, "end" -> end, "queries" -> queries),
      queries.map(_("progress").asInstanceOf[Seq[_]].size).sum)
  }
}

/** ingest_backlog: the whole backlog is on disk before start() and drains
  * under AvailableNow in a fixed number of multi-file batches. */
final class IngestBacklog(dir: String) extends Workload {
  private val in = s"$dir/in"
  private lazy val maxFiles = Files.readString(Paths.get(dir, "max_files"))
    .trim.toInt

  def warmUp(spark: SparkSession): Unit =
    Ingest.drain(spark, new Tracer(false), s"$dir/warm",
      Paths.get(dir, "warmrun"), None)

  def pass(spark: SparkSession, t: Tracer, n: Int): Pass =
    Ingest.drain(spark, t, in, Paths.get(dir, s"pass-$n"), Some(maxFiles))

  /** Single-thread baseline: one drain on a fresh local[1] session. */
  override def tracedExtras(cores: Int, mkSession: Int => SparkSession,
      last: Map[String, Any]): Map[String, Any] = {
    val s = mkSession(1)
    try {
      val d = Ingest.drain(s, new Tracer(false), in,
        Paths.get(dir, "local1"), Some(maxFiles)).fields
      Map("local1_rows" -> Files.readString(Paths.get(dir, "rows_total"))
          .trim.toLong,
        "local1_s" -> (d("end").asInstanceOf[Double] -
          d("start").asInstanceOf[Double]))
    } finally s.stop()
  }
}
