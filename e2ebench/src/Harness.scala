package e2ebench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import Stats.{Metric, Op}

/** What one workload run hands back to [[Main]]. */
final case class RunResult(ops: Seq[Op], windowS: Double, metrics: Seq[Metric],
                           layer: Seq[Metric], checksOk: Boolean)

/** Run-wide context: arguments, the scratch root inside the checkout, and
  * session lifecycle. */
final class Harness(val workload: String, val seed: Long, val seconds: Int,
                    val trace: Boolean, val root: Path) {

  val cores: Int = Runtime.getRuntime.availableProcessors()
  private val opIds = new java.util.concurrent.atomic.AtomicLong(0)
  def nextOp(): Long = opIds.incrementAndGet()

  def log(msg: String): Unit = System.err.println(s"[e2ebench] $msg")

  private var lastMark = System.nanoTime()
  /** Log the time since the previous mark, to break set-up down. */
  def mark(what: String): Unit = {
    val now = System.nanoTime()
    log(f"$what: ${(now - lastMark) / 1e9}%.2f s")
    lastMark = now
  }

  def session(): SparkSession = {
    val spark = graft.GraftSession.create(s"e2ebench-$workload", s"local[$cores]")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A fresh directory under the scratch root. */
  def dir(name: String): Path = {
    val p = root.resolve(name)
    Harness.rmrf(p)
    Files.createDirectories(p)
  }

  /** Tag the calling thread's Spark jobs and spans with `op`. */
  def tagged[T](spark: SparkSession, op: Long)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("e2ebench.op", op.toString)
    Tracer.setOp(op)
    try body
    finally { sc.setLocalProperty("e2ebench.op", null); Tracer.setOp(-1L) }
  }

  /** Bytes of all regular files under `p`, and their count. */
  def duBytes(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val files = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }
}

object Harness {
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Run the bodies on their own threads, wait for all of them, and
    * rethrow the first failure. */
  def parallel(bodies: Seq[() => Any]): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ths = bodies.map(b => new Thread(() =>
      try { b(); () } catch { case e: Throwable => err.compareAndSet(null, e); () }))
    ths.foreach(_.start())
    ths.foreach(_.join())
    Option(err.get).foreach(e => throw e)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: Throwable => Double.NaN }

  /** Read-side end-to-end metrics shared by the workloads. */
  def latencyMetrics(ops: Seq[Op], windowS: Double): Seq[Metric] = {
    val reads = ops.filter(_.kind == "read").map(_.latencyMs)
    val writes = ops.filter(_.kind == "write").map(_.latencyMs)
    Seq(Metric("ops_per_s", ops.size / windowS, "1/s")) ++
      (if (reads.nonEmpty) Seq(
        Metric("read_p50_ms", Stats.percentile(reads, 50), "ms"),
        Metric("read_p90_ms", Stats.percentile(reads, 90), "ms"),
        Metric("read_samples", reads.size.toDouble, "count")) else Nil) ++
      (if (writes.nonEmpty) Seq(Metric("write_p50_ms", Stats.percentile(writes, 50), "ms"),
        Metric("write_samples", writes.size.toDouble, "count")) else Nil) ++
      Seq(Metric("failed_frac", Stats.failedFrac(ops), "ratio"))
  }
}
