package e2ebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. Spans are opened around
  * calls into a layer's public function; a span's parent is the innermost
  * span open on the same thread. Disabled, `span` is a plain call. */
object Tracer {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                        parent: Long, op: Long)

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opOf = ThreadLocal.withInitial[java.lang.Long](() => -1L)
  /** The op of the single traced reader: jobs submitted from server
    * threads carry no op tag and are charged to it. */
  val readerOp = new AtomicLong(-1)

  def setOp(op: Long): Unit = opOf.set(op)
  def currentOp: Long = opOf.get()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      val t0 = System.nanoTime()
      stack.set(id :: stack.get())
      try body
      finally {
        stack.set(stack.get().tail)
        val op = opOf.get().longValue match { case -1L => readerOp.get(); case o => o }
        spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def reset(): Unit = spans.clear()

  /** Wall-clock ms of a `nanoTime` reading, to line spans up with Spark's
    * event times. */
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def epochMs(ns: Long): Double = ns / 1e6 + epochOffsetMs

  /** Self time of each span name: its duration minus its children's, and
    * minus the engine time (`engineMs`) spent inside it but outside its
    * children — that time is the engine layer's. */
  def selfMs(ss: Seq[Span], engineMs: Span => Double): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
        (s.endNs - s.startNs - cs.map(c => c.endNs - c.startNs).sum) / 1e6 -
          math.max(0.0, engineMs(s) - cs.map(engineMs).sum)
      }.sum
    }
  }

  /** Write the spans as tab-separated lines (name, start, end, parent, op). */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"${s.id}\t${s.name}\t${s.startNs}\t${s.endNs}\t${s.parent}\t${s.op}")
    java.nio.file.Files.write(path, ("id\tname\tstart_ns\tend_ns\tparent\top" +: lines).asJava)
  }
}

/** Engine-side counters: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for planning phases and scan metrics, and a log
  * appender counting whole-stage codegen fallbacks. Jobs are charged to the
  * op tagged on the submitting thread (property `e2ebench.op`), or to the
  * single traced reader's open op. */
final class EngineProbe(spark: SparkSession) {
  final case class Job(op: Long, startMs: Long, var endMs: Long, stages: Int,
                       listing: Boolean, var tasks: Int = 0, var failedTasks: Int = 0)
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  final class Acc {
    var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
    var inputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val accs = new java.util.concurrent.ConcurrentHashMap[Long, Acc]()
  private val planningMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  private val filesRead = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val codegenFallbacks = new AtomicLong(0)

  private def opOfProps(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty("e2ebench.op"))).map(_.toLong)
      .filter(_ >= 0).getOrElse(Tracer.readerOp.get())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOfProps(e.properties)
      val sqlExec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val names = e.stageInfos.map(_.name).mkString(" ")
      // jobs outside any SQL execution are file listing or schema inference
      val listing = sqlExec.isEmpty || names.contains("Listing leaf files")
      jobs.put(e.jobId, Job(op, e.time, -1, e.stageInfos.size, listing))
      e.stageIds.foreach { s => stageOp.put(s, op); stageJob.put(s, e.jobId) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op: Long = stageOp.getOrDefault(e.stageId, -1L)
      val acc = accs.computeIfAbsent(op, _ => new Acc)
      val info = e.taskInfo
      val m = e.taskMetrics
      acc.synchronized {
        if (m != null) {
          acc.cpuNs += m.executorCpuTime
          acc.gcMs += m.jvmGCTime
          acc.inputBytes += m.inputMetrics.bytesRead
          acc.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          acc.schedDelayMs += math.max(0L, delay)
        }
      }
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized { j.tasks += 1; if (!info.successful) j.failedTasks += 1 }
      }
    }
  }

  private val qel = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val op = Tracer.currentOp match { case -1L => Tracer.readerOp.get(); case o => o }
      val ph = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      planningMs.merge(op, ph, (a: Double, b: Double) => a + b)
      val files = qe.executedPlan.collectWithSubqueries { case p => p }.flatMap { p =>
        p.metrics.get("numFiles").map(_.value)
      }.sum
      filesRead.merge(op, files, (a: Long, b: Long) => a + b)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val appenderName = "e2ebench-codegen"

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender(appenderName, null, null, true, Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit = {
        val msg = ev.getMessage.getFormattedMessage
        if (msg.contains("Whole-stage codegen disabled") || msg.contains("failed to compile") ||
            msg.contains("grows beyond 64 KB")) codegenFallbacks.incrementAndGet()
      }
    }
    app.start()
    cfg.addAppender(app)
    Seq("org.apache.spark.sql.execution.WholeStageCodegenExec",
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").foreach { name =>
      val lc = new LoggerConfig(name, org.apache.logging.log4j.Level.INFO, true)
      lc.addAppender(app, org.apache.logging.log4j.Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** Counters of one op id set, after the listener bus has drained. */
  final case class OpEngine(jobs: Int, stages: Int, tasks: Int, listingJobs: Int,
                            failedTasks: Int, busyMs: Double, cpuMs: Double, gcMs: Double,
                            schedDelayMs: Double, scanBytes: Double, shuffleBytes: Double,
                            spillBytes: Double, planningMs: Double, filesRead: Double)

  def drain(): Unit = org.apache.spark.E2eBenchBus.drain(spark.sparkContext)

  def forOps(ops: Set[Long]): OpEngine = {
    val js = jobs.values().asScala.filter(j => ops.contains(j.op)).toSeq
    val as = ops.toSeq.flatMap(o => Option(accs.get(o)))
    OpEngine(js.size, js.map(_.stages).sum, js.map(_.tasks).sum, js.count(_.listing),
      js.map(_.failedTasks).sum, EngineProbe.unionMs(js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))),
      as.map(_.cpuNs).sum / 1e6, as.map(_.gcMs).sum.toDouble, as.map(_.schedDelayMs).sum.toDouble,
      as.map(_.inputBytes).sum.toDouble, as.map(_.shuffleBytes).sum.toDouble,
      as.map(_.spillBytes).sum.toDouble,
      ops.toSeq.map(o => planningMs.getOrDefault(o, 0.0)).sum,
      ops.toSeq.map(o => filesRead.getOrDefault(o, 0L).toDouble).sum)
  }

  /** Job intervals of one op, for the driver-only residual. */
  def jobIntervals(op: Long): Seq[(Long, Long)] =
    jobs.values().asScala.filter(j => j.op == op && j.endMs >= 0).map(j => (j.startMs, j.endMs)).toSeq

  /** Engine time of a span: its op's job intervals clipped to the span. */
  def engineMs(s: Tracer.Span): Double = {
    val (a, b) = (Tracer.epochMs(s.startNs).toLong, Tracer.epochMs(s.endNs).toLong)
    EngineProbe.unionMs(jobIntervals(s.op).map { case (x, y) => (math.max(x, a), math.min(y, b)) }.filter(p => p._2 > p._1))
  }
}

object EngineProbe {
  /** Length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
