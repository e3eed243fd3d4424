package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured: raw samples (the Python side turns them into
  * percentiles), correctness checks, operation counts, per-layer values
  * and, when traced, the spans. */
final class Report {
  /** When the process started measuring: set-up time counts from here. */
  val startNs: Long = System.nanoTime()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val extra = mutable.LinkedHashMap[String, Any]()
  @volatile var attempted = 0
  @volatile var failed = 0

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  }

  /** The timed loop can begin: records `setup_s`. */
  def setupDone(): Unit = sample("setup_s", (System.nanoTime() - startNs) / 1e9)

  def check(name: String, ok: Boolean, detail: String = ""): Unit = synchronized {
    checks += ((name, ok, detail))
  }

  /** Count one attempted operation; a thrown call counts as failed and
    * is recorded as a failed check instead of ending the run. */
  def attempt[T](name: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch {
      case e: Throwable =>
        synchronized { failed += 1 }
        check(s"$name completes", ok = false, s"${e.getClass.getName}: ${e.getMessage}".take(400))
        None
    }
  }
}

/** Arguments shared by every workload. `plan` holds the generator's
  * planted facts as `key=value` lines. */
final case class Ctx(workload: String, data: String, work: String, seconds: Double,
                     trace: Boolean, cpus: Int, plan: Map[String, String]) {
  def deadline(startNs: Long): Long = startNs + (seconds * 1e9).toLong
}

trait Workload {
  /** Operation kinds whose traced counters make the per-layer metrics. */
  def measuredKinds: Set[String]
  /** Standing state, then `report.setupDone()`, then the timed loop and
    * its correctness checks. */
  def run(spark: SparkSession, ctx: Ctx, trace: Trace, report: Report): Unit
}

object Main {

  /** The session `graft.Bench` builds, at local[nproc] with nproc
    * shuffle partitions. Scratch locations point into the run's work
    * root so nothing lands beside the sources; a traced run also counts
    * local file-system operations. */
  def session(ctx: Ctx): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/spark-warehouse")
    if (ctx.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    try {
      Seq("org.apache.spark.ml.util.Instrumentation",
        "org.apache.spark.ml.regression.LinearRegression").foreach(
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          _, org.apache.logging.log4j.Level.ERROR))
    } catch { case _: Throwable => () }
    s
  }

  def workloadOf(name: String): Workload = name match {
    case "dashboard" => Dashboard
    case "curate" => Curate
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def readPlan(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.contains('=')).map { l =>
      val i = l.indexOf('=')
      l.take(i) -> l.drop(i + 1)
    }.toMap finally src.close()
  }

  /** Heap in use after forced collections. Spark frees cached and
    * checkpointed blocks from its cleaner thread once a collection has
    * found their datasets unreachable, so collect, let it run, repeat. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(200)
    }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val ctx = Ctx(a("workload"), a("data"), a("work"), a("seconds").toDouble,
      a("trace") == "1", a("cpus").toInt, readPlan(s"${a("data")}/plan.txt"))
    val workload = workloadOf(ctx.workload)
    val report = new Report
    // set-up: the session with its extensions, the query registry and
    // the input conformance check, from a cold start; the workload adds
    // its standing state before it starts the timed loop
    val spark = session(ctx)
    graft.SparkEntry.queries.size
    graft.SchemaReport.assertConformable(spark, ctx.data)
    val trace = new Trace(spark, ctx.trace, ctx.work)
    try workload.run(spark, ctx, trace, report)
    catch {
      case e: Throwable =>
        report.failed += 1
        report.check("workload completes", ok = false,
          s"${e.getClass.getName}: ${e.getMessage}".take(400))
    }
    trace.drain()
    report.extra("heap_live_mb") = liveHeapMb()
    if (ctx.trace) Layers.fill(trace, workload.measuredKinds, report, ctx.cpus)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> ctx.workload,
      "attempted" -> report.attempted,
      "failed" -> report.failed,
      "samples" -> report.samples,
      "checks" -> report.checks.map { case (n, ok, d) =>
        mutable.LinkedHashMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "layers" -> report.layers)
    out ++= report.extra
    if (ctx.trace)
      out("spans") = trace.spanList.map(s => Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }
}
