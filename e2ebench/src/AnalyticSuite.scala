package e2ebench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import Stats.{Fp, Metric, Op}

/** `analytic-suite`: one client runs the pinned list of
  * `SparkEntry.queries` entries over the generated sf0.01 tables, whole
  * passes at a time, each pass in an order the seed shuffles. Each op builds
  * the query's DataFrame and folds every output column of every row into an
  * order-independent fingerprint, which must equal the pinned one. */
final class AnalyticSuite(h: Harness, spark: SparkSession, expectedPath: Path) extends Workload {
  import AnalyticSuite._

  private val expected = readExpected(expectedPath)
  private val data = h.dir("analytic-data").toString
  private val constructMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val executeMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val runs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  def setup(): Unit = {
    Gen.writeTables(spark, data, Sf, DataSeed)
    h.mark("tables")
    // warm-up: one pass in pinned order (codegen, class loading, the
    // stores the retrieval queries build on first call)
    expected.foreach { case (n, _) => runOne(spark, data, n) }
    h.mark("warm-up")
  }

  def storeBytesPerRow: Double =
    h.duBytes(java.nio.file.Paths.get(data))._1.toDouble / Gen.rows(Sf).values.sum

  def defaultClients: Int = 1

  def window(seconds: Double, clients: Int, log: Stats.OpLog, traced: Boolean): Double = {
    val rng = new scala.util.Random(h.seed)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds) {
      rng.shuffle(expected).foreach { case (name, want) =>
        val op = h.nextOp()
        if (traced) Tracer.readerOp.set(op)
        val st = System.nanoTime()
        val r =
          try Right(h.tagged(spark, op)(runOne(spark, data, name)))
          catch { case e: Throwable => Left(e) }
        val ms = (System.nanoTime() - st) / 1e6
        r match {
          case Right(t) =>
            if (t.fp != want) h.log(s"$name fingerprint ${t.fp} != pinned $want")
            val f = families(name)
            constructMs(f) += t.constructMs; executeMs(f) += t.executeMs; runs(f) += 1
            log.add(Op("read", name, ms, t.fp == want, detail = t.fp, opId = op))
          case Left(e) =>
            h.log(s"$name failed: $e")
            log.add(Op("read", name, ms, ok = false, detail = e.toString, opId = op))
        }
      }
    }
    elapsed
  }

  def layer(ops: Seq[Op], spans: Seq[Tracer.Span]): Seq[Metric] = {
    val n = math.max(1, runs.values.sum)
    Seq(Metric("queries.construct_ms", constructMs.values.sum / n, "ms"),
      Metric("queries.execute_ms", executeMs.values.sum / n, "ms")) ++
      Families.map(f => Metric(s"queries.$f.execute_ms",
        if (runs(f) == 0) 0.0 else executeMs(f) / runs(f), "ms"))
  }

  def close(): Unit = ()
}

object AnalyticSuite {

  val Sf = 0.01
  /** The tables are fixed inputs: the run seed only shuffles query order. */
  val DataSeed = 42L

  val Families: Seq[String] =
    Seq("relational", "extension", "extra", "pipeline", "batching", "curation", "retrieval")

  /** Query family of each `SparkEntry.queries` entry. */
  lazy val families: Map[String, String] = {
    import graft.queries._
    Families.zip(Seq(RelationalQueries.queries, ExtensionQueries.queries, ExtraQueries.queries,
      PipelineQueries.queries, BatchingQueries.queries, CurationQueries.queries,
      RetrievalQueries.queries)).flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap
  }

  /** Materialize every column of every row into the fingerprint.
    * `Row.toString` renders nested values too, with locale-free numbers. */
  def fingerprint(df: DataFrame): Fp = {
    val parts = df.mapPartitions { (rows: Iterator[Row]) =>
      val fp = Stats.fingerprintOf(rows.map(_.toString))
      Iterator((fp.n, fp.sum, fp.mix))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)).collect()
    parts.foldLeft(Fp.zero) { case (acc, (n, s, m)) => acc + Fp(n, s, m) }
  }

  /** Pinned `name<TAB>fingerprint` lines; `#` starts a comment. */
  def readExpected(path: Path): Seq[(String, String)] = {
    val src = scala.io.Source.fromFile(path.toFile)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, fp) = l.split("\t"); n -> fp
    }.toList
    finally src.close()
  }

  final case class Timed(constructMs: Double, executeMs: Double, fp: String)

  def runOne(spark: SparkSession, dir: String, name: String): Timed = {
    val q = graft.SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val df = Tracer.span(s"queries.${families(name)}.construct")(q(spark, dir))
    val t1 = System.nanoTime()
    val fp = Tracer.span(s"queries.${families(name)}.execute")(fingerprint(df))
    Timed((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, fp.render)
  }
}
