package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.jobs.Pipeline
import graft.ml.ModelArtifact
import graft.serve.Views

/** `dashboard`: page loads over the ten `serve.Views` loaders from two
  * clients sharing one session, in a closed loop. The lake the lake-backed
  * views read is standing state, built in set-up by the pipeline's
  * backfill plus one replayed day (the planted refit day). `op_s` is one
  * view; `pass_s` a page at typical latency, the sum of every view's
  * median. */
object Dashboard extends Workload {
  val Clients = 2

  /** Zipf draws over the dense head of the generated symbols. */
  final class Symbols(seed: Long, head: Int) {
    private val cdf = {
      val w = (1 to head).map(r => 1.0 / r)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val rnd = new java.util.Random(seed)
    def next(): Long = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(head - 1).toLong
    }
  }

  /** Build view `name` for symbol `sym` (no action yet). */
  def view(spark: SparkSession, ctx: Ctx, lake: Pipeline.LakePaths, name: String,
           sym: Long): DataFrame = name match {
    case "stockData" => Views.stockData(spark, ctx.data, sym, ctx.plan("view_start"), ctx.plan("view_end"))
    case "stockPredictions" => Views.stockPredictions(spark.read.parquet(lake.predictions), sym)
    case "companyNews" => Views.companyNews(spark, ctx.data, sym)
    case "newsAnalysis" => Views.newsAnalysis(spark.read.parquet(lake.analysis), sym)
    case "topGainers" => Views.topGainers(spark, ctx.data)
    case "topLosers" => Views.topLosers(spark, ctx.data)
    case "marketBehavior" => Views.marketBehavior(spark, ctx.data)
    case "highVolatility" => Views.highVolatility(spark, ctx.data)
    case "tradingPatterns" => Views.tradingPatterns(spark, ctx.data)
    case "companyList" => Views.companyList(spark, ctx.data)
  }

  /** Standing state: the pipeline's backfill bounded before the replay
    * day into a fresh lake at `root`, then `runDay` on that day. Records
    * the pipeline's own stage timings, and checks that the served model
    * changed on that day exactly as often as planted. */
  private def buildLake(spark: SparkSession, ctx: Ctx, root: String, trace: Trace,
                        report: Report): Pipeline.LakePaths = {
    val day = java.sql.Date.valueOf(ctx.plan("replay_day"))
    val lake = Pipeline.LakePaths(root)
    trace.op("backfill", "run") {
      report.attempt("Pipeline.run")(Pipeline.run(spark, ctx.data, root, before = Some(day)))
    }
    Pipeline.lastStageSeconds.foreach { case (n, s) => report.sample(s"jobs.backfill.${n}_s", s) }
    val served = ModelArtifact.servedVersionMeta(spark, lake.models)
    trace.op("day", day.toString) {
      report.attempt(s"Pipeline.runDay $day")(Pipeline.runDay(spark, ctx.data, root, day))
    }
    Pipeline.lastDayStageSeconds.foreach { case (n, s) => report.sample(s"jobs.${n}_s", s) }
    val refits = if (ModelArtifact.servedVersionMeta(spark, lake.models) != served) 1 else 0
    report.sample("ml.refits", refits)
    report.layers("sources.history_files_per_partition") = Files.filesPerPartition(lake.history)
    val planted = ctx.plan("planted_refits").toInt
    report.check("ml.refits equals the planted count", refits == planted,
      s"$refits refits on $day, planted $planted")
    lake
  }

  /** Order-sensitive hash of a collected result. */
  def rowsHash(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq.map(_.toSeq))

  override val measuredKinds: Set[String] = Set("view")

  override def run(spark: SparkSession, ctx: Ctx, trace: Trace, report: Report): Unit = {
    // standing state: the lake, and one page load to warm the view paths
    val root = s"${ctx.work}/lake"
    val lake = buildLake(spark, ctx, root, trace, report)
    val names = Layers.ViewNames
    names.foreach(n => view(spark, ctx, lake, n, 0L).collect())
    report.setupDone()

    // timed: each client loads pages (every view once, in turn) until the
    // deadline; the two clients start half a page apart
    val hashes = new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()
    val mismatched = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val completed = new AtomicInteger(0)
    val start = System.nanoTime()
    val deadline = ctx.deadline(start)
    val clients = (0 until Clients).map { c =>
      val symbols = new Symbols(ctx.plan("seed").toLong * Clients + c, ctx.plan("head_symbols").toInt)
      new Thread(() => {
        var i = c * names.size / Clients
        while (System.nanoTime() < deadline) {
          val name = names(i % names.size)
          val sym = symbols.next()
          i += 1
          val (out, secs) = trace.op("view", name) {
            report.attempt(s"view $name") {
              val t = System.nanoTime()
              val df = trace.span("build")(view(spark, ctx, lake, name, sym))
              report.sample("serve.build_s", (System.nanoTime() - t) / 1e9)
              trace.span("collect")(df.collect())
            }
          }
          out.foreach { rows =>
            report.sample("op_s", secs)
            report.sample(s"view.${name}_s", secs)
            completed.incrementAndGet()
            val h = rowsHash(rows)
            Option(hashes.putIfAbsent((name, sym), h)).filter(_ != h)
              .foreach(_ => mismatched.add(s"$name($sym)"))
          }
        }
      }, s"dashboard-client-$c")
    }
    trace.window {
      clients.foreach(_.start())
      clients.foreach(_.join())
    }
    val wall = (System.nanoTime() - start) / 1e9
    report.extra("timed_s") = wall
    report.sample("ops_per_s", completed.get / wall)
    // a page at typical latency: every view once, each at its median
    report.sample("pass_s", names.map(n =>
      Layers.median(report.samples.get(s"view.${n}_s").map(_.toSeq).getOrElse(Nil))).sum)
    report.extra("lake_bytes") = Files.bytes(root)

    // ── correctness (untimed) ──
    report.check("repeated calls return identical rows", mismatched.isEmpty,
      s"${hashes.size} distinct (view, symbol) calls; differing: ${mismatched.toArray.distinct.mkString(", ")}")
    // each view for the densest symbol, for the DuckDB comparison
    val oracle = mutable.LinkedHashMap[String, Any]()
    for (name <- names) {
      val df = view(spark, ctx, lake, name, 0L)
      oracle(name) = mutable.LinkedHashMap(
        "columns" -> df.columns.toSeq,
        "rows" -> df.collect().toSeq.map(_.toSeq.map {
          case day: java.sql.Date => day.toString
          case v => v
        }))
    }
    report.extra("views") = oracle
    report.extra("lake") = root
  }
}
