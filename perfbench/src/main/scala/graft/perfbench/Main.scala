package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** What one pass of a workload reports: its fields go to the result file. */
final case class Pass(fields: Map[String, Any], operations: Int)

/** One workload: a warm-up run on the small inputs under warm/, and a pass
  * over the inputs under in/ that is repeated for the measured time. */
trait Workload {
  def warmUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, t: Tracer, n: Int): Pass
  /** Traced-only measurements made after the traced pass (`last`), on a
    * fresh session from `mkSession(cores)`. */
  def tracedExtras(cores: Int, mkSession: Int => SparkSession,
      last: Map[String, Any]): Map[String, Any] = Map.empty
}

/** Stage helpers shared by the batch workloads. Each stage materializes its
  * result at its boundary in both modes, so the traced pass does the same
  * work as the untraced one and the difference is the tracing cost. */
object Stage {
  /** Runs `op`, forces its physical plan (a `spark` span when traced) and
    * materializes it as a local checkpoint. */
  def checkpoint(t: Tracer, layer: String, name: String)(op: => DataFrame)
      : DataFrame = t.span(layer, name) {
    val df = op
    t.span("spark", "plan")(df.queryExecution.executedPlan)
    df.localCheckpoint()
  }

  /** Runs `op` and writes it as parquet under `path`. */
  def output(t: Tracer, layer: String, name: String, path: String)
      (op: => DataFrame): Unit = t.span(layer, name) {
    val df = op
    t.span("spark", "plan")(df.queryExecution.executedPlan)
    df.write.mode("overwrite").parquet(path)
  }
}

/** The benchmark JVM's entry point. Arguments (all required):
  * --workload NAME --dir WORKDIR --seconds S --trace 0|1 --cores N.
  * Writes WORKDIR/result.json; exits non-zero on failure. */
object Main {
  /** Untraced runs report medians over at least this many passes. */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val dir = kv("dir")
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val cores = kv("cores").toInt
    val workload: Workload = kv("workload") match {
      case "ingest_backlog" => new IngestBacklog(dir)
      case "curation" => new Curation(dir)
      case "graph_reach" => new GraphReach(dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = collection.mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0
    var failed = 0
    var error: String = null

    def session(n: Int, listeners: Option[Listeners]): SparkSession = {
      val s = GraftSession.create("perfbench", n.toString)
      listeners.foreach { l =>
        s.sparkContext.addSparkListener(l)
        s.listenerManager.register(l)
        s.streams.addListener(l.streaming)
      }
      s
    }

    def attempt(body: => Unit): Unit =
      if (error == null) try body catch {
        case e: Throwable =>
          attempted += 1
          failed += 1
          error = s"${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
      }

    // Drops what the previous pass left cached (local checkpoints) and
    // collects garbage, so every pass starts from the same state.
    def settle(s: SparkSession): Unit = {
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      s.catalog.clearCache()
      System.gc()
    }

    // Set-up: session start and one warm-up run on the small inputs.
    var spark: SparkSession = session(cores, None)
    result("session_ready") = Clock.now()
    attempt(workload.warmUp(spark))
    result("warm") = Clock.now()

    // At least `min` passes; another only while it still fits the budget.
    // Pass numbers run on across calls: each pass has its own directory.
    var n = 0
    def runPasses(t: Tracer, budget: Double, min: Int)
        : Seq[Map[String, Any]] = {
      val passes = ArrayBuffer.empty[Map[String, Any]]
      val start = Clock.now()
      var last = 0.0
      while (error == null &&
          (passes.size < min || Clock.now() - start + last <= budget)) {
        t.run = s"pass-$n"
        settle(spark)
        val p0 = Clock.now()
        attempt {
          val p = workload.pass(spark, t, n)
          attempted += p.operations
          passes += Map("start" -> p0, "end" -> Clock.now()) ++ p.fields
        }
        last = Clock.now() - p0
        n += 1
      }
      passes.toSeq
    }

    if (!traced) result("passes") =
      runPasses(new Tracer(false), seconds, MinPasses)
    else {
      // Untraced reference pass, then a fresh session with the listeners
      // under one root span: session start plus one traced pass.
      result("untraced") = runPasses(new Tracer(false), 0.0, 1)
      spark.stop()
      val t = new Tracer(true)
      val listeners = new Listeners
      val passes = t.span("run", "traced") {
        result("root_id") = t.current
        spark = t.span("session", "GraftSession.create")(
          session(cores, Some(listeners)))
        val p = runPasses(t, 0.0, 1)
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        p
      }
      result("passes") = passes
      result("listeners") = listeners.toJson
      result("spans") = t.toJson
      if (error == null) {
        spark.stop()
        spark = null
        attempt(result("extras") = workload.tracedExtras(cores,
          c => session(c, None), passes.last))
      }
    }
    result("attempted") = attempted
    result("failed") = failed
    result("error") = error
    result("vm_hwm_kb") = vmHwmKb()
    Files.write(Paths.get(dir, "result.json"),
      Json(result).getBytes(StandardCharsets.UTF_8))
    // Every query has ended and the result is on disk; the work directory
    // is discarded, so skip Spark's shutdown hooks and end the JVM now.
    Runtime.getRuntime.halt(if (error == null) 0 else 1)
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def vmHwmKb(): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }
}
