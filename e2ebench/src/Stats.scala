package e2ebench

import scala.collection.mutable.ArrayBuffer

/** Measurement arithmetic shared by every workload: the percentile rule,
  * op accounting, the order-independent result fingerprint and the JSON
  * result line. Kept free of Spark so the self-tests exercise it directly. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. Defined for any non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile rank out of range: $p")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** One attempted operation. `latencyMs` runs from when the op was due
    * (a write) or sent (a read) to when its answer was checked, so a
    * request that was shed and retried carries its whole wait. */
  final case class Op(kind: String, route: String, latencyMs: Double, ok: Boolean,
                      sheds: Int = 0, bytes: Long = 0, detail: String = "",
                      opId: Long = Tracer.currentOp)

  /** Thread-safe op log for one timed window. */
  final class OpLog {
    private val ops = ArrayBuffer.empty[Op]
    def add(op: Op): Unit = synchronized { ops += op }
    def all: Seq[Op] = synchronized(ops.toList)
  }

  /** Failed ops over attempted ops. An op fails when its output check
    * failed, its status was not 2xx, it threw, or it was still shed (429)
    * after its retries — all of which the workloads record as `ok=false`. */
  def failedFrac(ops: Seq[Op]): Double =
    if (ops.isEmpty) 0.0 else ops.count(!_.ok).toDouble / ops.size

  /** Closed-loop HTTP retry policy for shed requests: up to `maxRetries`
    * re-sends after a 429, each after its Retry-After wait. Returns the
    * final status, body and how many times the request was shed. */
  def withShedRetry(maxRetries: Int, sleepMs: Long => Unit)
                   (send: () => (Int, String, Long)): (Int, String, Int) = {
    var attempt = 0
    var sheds = 0
    var last = send()
    while (last._1 == 429 && attempt < maxRetries) {
      sheds += 1
      attempt += 1
      sleepMs(math.max(1L, last._3) * 1000L)
      last = send()
    }
    if (last._1 == 429) sheds += 1
    (last._1, last._2, sheds)
  }

  // ---- order-independent fingerprint ------------------------------------

  /** Per-row 64-bit hash of a row's rendered values (two seeded murmur3
    * halves). */
  def rowHash(rendered: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(rendered, 0x5eed)
    val b = scala.util.hashing.MurmurHash3.stringHash(rendered, 0xbe7c)
    (a.toLong << 32) | (b.toLong & 0xFFFFFFFFL)
  }

  /** Combine (count, wrapping sum, wrapping xor-of-squares) partials: all
    * three are commutative and associative, so the result does not depend
    * on row order or partitioning. */
  final case class Fp(n: Long, sum: Long, mix: Long) {
    def +(o: Fp): Fp = Fp(n + o.n, sum + o.sum, mix ^ o.mix)
    def render: String = f"$n:$sum%016x:$mix%016x"
  }
  object Fp { val zero: Fp = Fp(0, 0, 0) }

  def fpOf(h: Long): Fp = Fp(1, h, h * 0x9E3779B97F4A7C15L + (h >>> 29))

  def fingerprintOf(renderedRows: Iterator[String]): Fp =
    renderedRows.foldLeft(Fp.zero)((acc, r) => acc + fpOf(rowHash(r)))

  // ---- result line --------------------------------------------------------

  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val ms = metrics.map(m => s"${jsonStr(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${jsonStr(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
