package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Everything the engine did on behalf of one operation (one replayed
  * day, one view, one batch, the curate pass). Filled from the listener
  * bus thread and read after [[Trace.drain]]. */
final class OpStats(val id: Int, val kind: String, val name: String) {
  var wallS = 0.0
  var planS = 0.0
  var jobs = 0
  var jobWallS = 0.0
  var writeJobs = 0
  var writeS = 0.0
  var stages = 0
  var tasks = 0
  var taskS = 0.0
  var deserS = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  /** Job wall seconds and job count by the repo module whose frame is
    * innermost in the job's call site. */
  val moduleS = mutable.Map[String, Double]().withDefaultValue(0.0)
  val moduleJobs = mutable.Map[String, Int]().withDefaultValue(0)
  /** (max / median) task duration of each stage with at least 2 tasks. */
  val skew = mutable.ArrayBuffer[Double]()
}

/** One timed interval: a layer boundary crossed by the runner. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** The traced run's collector. Registers a SparkListener (jobs, stages,
  * tasks, and each SQL execution's planning phases from its
  * QueryExecution tracker), attributed to operations by job tag, and
  * reads Hadoop FileSystem statistics, the counting local file system and
  * JVM MXBeans around the measured window. Spans stay in memory until the
  * run writes them out. With tracing off nothing is installed and [[op]]
  * only times its body. */
class Trace(val spark: SparkSession, val enabled: Boolean, workRoot: String) {
  private val t0 = System.nanoTime()
  private val nextId = new AtomicInteger(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ops = new ConcurrentHashMap[Int, OpStats]()
  private val opOrder = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  private val current = new ThreadLocal[List[(Int, Int)]] { // (span id, op id)
    override def initialValue(): List[(Int, Int)] = Nil
  }
  /** Listener-thread nanoseconds: the collector's own cost. */
  val listenerNs = new AtomicLong(0L)

  private val jobOp = new ConcurrentHashMap[Int, Int]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val execOp = new ConcurrentHashMap[Long, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, Boolean)]()

  private val TagPrefix = "perfbench-op-"

  private def opOfTags(tags: Iterable[String]): Int =
    tags.collectFirst { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt }
      .getOrElse(0)

  private def timedListener(body: => Unit): Unit = {
    val s = System.nanoTime()
    try body finally listenerNs.addAndGet(System.nanoTime() - s)
  }

  private def op(id: Int): Option[OpStats] = Option(ops.get(id))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedListener {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val id = opOfTags(tags)
      jobOp.put(e.jobId, id)
      e.stageIds.foreach(stageOp.put(_, id))
      val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      jobStart.put(e.jobId, (e.time, Trace.moduleOf(details), details.contains("DataFrameWriter")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedListener {
      val id = jobOp.getOrDefault(e.jobId, 0)
      Option(jobStart.remove(e.jobId)).foreach { case (start, module, write) =>
        op(id).foreach { o => o.synchronized {
          val s = (e.time - start) / 1e3
          o.jobs += 1
          o.jobWallS += s
          if (write) { o.writeJobs += 1; o.writeS += s }
          o.moduleS(module) += s
          o.moduleJobs(module) += 1
        } }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedListener {
      if (e.taskInfo != null)
        stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]())
          .synchronized { stageTasks.get(e.stageId) += e.taskInfo.duration }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timedListener {
      val si = e.stageInfo
      val id = stageOp.getOrDefault(si.stageId, 0)
      val durs = Option(stageTasks.remove(si.stageId)).map(_.sorted).getOrElse(mutable.ArrayBuffer[Long]())
      op(id).foreach { o => o.synchronized {
        val m = si.taskMetrics
        o.stages += 1
        o.tasks += si.numTasks
        if (m != null) {
          o.taskS += m.executorRunTime / 1e3
          o.deserS += m.executorDeserializeTime / 1e3
          o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          o.inputBytes += m.inputMetrics.bytesRead
          o.inputRows += m.inputMetrics.recordsRead
        }
        if (durs.size >= 2) {
          val med = durs(durs.size / 2).toDouble
          o.skew += durs.last / math.max(1.0, med)
        }
      } }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timedListener {
      e match {
        case s: SparkListenerSQLExecutionStart => execOp.put(s.executionId, opOfTags(s.jobTags))
        case s: SparkListenerSQLExecutionEnd =>
          val id = Option(execOp.remove(s.executionId)).map(_.intValue).getOrElse(0)
          for (qe <- PerfbenchAccess.queryExecution(s); o <- op(id)) {
            val phases = qe.tracker.phases
            val secs = Seq("analysis", "optimization", "planning")
              .flatMap(phases.get).map(_.durationMs).sum / 1e3
            o.synchronized { o.planS += secs }
          }
        case _ =>
      }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
  }

  private def fsStats(): Map[String, Long] = {
    val written = Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(st => Option(st.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)
    Map(
      "bytes_written" -> written,
      "read_ops" -> CountingLocalFileSystem.reads.get,
      "write_ops" -> CountingLocalFileSystem.writes.get)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run `body` as one operation: its jobs, queries and file-system
    * traffic are attributed to it. With tracing off this only times it. */
  def op[T](kind: String, name: String)(body: => T): (T, Double) = {
    if (!enabled) {
      val s = System.nanoTime()
      val out = body
      return (out, (System.nanoTime() - s) / 1e9)
    }
    val id = nextId.getAndIncrement()
    val stats = new OpStats(id, kind, name)
    ops.put(id, stats)
    opOrder.add(id)
    val sc = spark.sparkContext
    val tag = TagPrefix + id
    sc.addJobTag(tag)
    val saved = current.get()
    current.set((id, id) :: Nil)
    val s = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - s) / 1e9)
    } finally {
      val e = System.nanoTime()
      current.set(saved)
      sc.removeJobTag(tag)
      spans.add(Span(id, 0, id, s"$kind:$name", s - t0, e - t0))
      stats.wallS = (e - s) / 1e9
    }
  }

  /** JVM-wide counters over the measured windows: bytes written, read and
    * write operations of the local file system, data files written, GC
    * seconds. Operations overlap (the two dashboard clients), so these
    * are read once around the whole timed phase, not per operation. */
  val measured = mutable.Map[String, Double]().withDefaultValue(0.0)

  /** Run the timed phase `body`, adding its global counters to [[measured]]. */
  def window[T](body: => T): T = {
    if (!enabled) return body
    val fs0 = fsStats()
    val gc0 = gcMs()
    val startMs = System.currentTimeMillis()
    try body finally {
      fsStats().foreach { case (k, v) => measured(k) += v - fs0(k) }
      measured("gc_s") += (gcMs() - gc0) / 1e3
      measured("files_written") += Files.dataFilesSince(workRoot, startMs)
    }
  }

  /** A child span of the enclosing operation (no-op when tracing is off). */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val stack = current.get()
    val (parent, opId) = stack.headOption.getOrElse((0, 0))
    val id = nextId.getAndIncrement()
    current.set((id, opId) :: stack)
    val s = System.nanoTime()
    try body finally {
      spans.add(Span(id, parent, opId, name, s - t0, System.nanoTime() - t0))
      current.set(stack)
    }
  }

  /** Wait for the listener bus, then detach the listeners. */
  def drain(): Unit = if (enabled) {
    PerfbenchAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  def opStats: Seq[OpStats] = opOrder.asScala.toSeq.map(ops.get)
  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Trace {
  /** The repo module a job belongs to: the innermost `graft.` frame of
    * its call site that is not the benchmark's own, as `jobs.Pipeline`,
    * `sources.Sinks`, `Tables`, ... ; `perfbench` when the action was
    * called by the benchmark itself. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim.stripPrefix("at "))
      .collectFirst {
        case f if f.startsWith("graft.") && !f.startsWith("graft.perfbench.") =>
          val cls = f.takeWhile(_ != '(').split('.').dropRight(1)
          cls.drop(1).mkString(".").takeWhile(_ != '$')
      }
      .getOrElse("perfbench")
}
