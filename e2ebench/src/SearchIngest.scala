package e2ebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Quantize, Retrieval}
import graft.serve.{GraftConfig, SearchApi}
import Stats.{Metric, Op}

/** The search half of the `serve` workload: hybrid `/search` over BM25 and
  * IVF-PQ stores that one open-loop writer appends to, deletes from and
  * maintains. Every query is unique within the run, so every request
  * misses the result cache but still pays its version-token lookup. */
final class SearchIngest(h: Harness, spark: SparkSession) {

  private val work = h.dir("search-stores")
  private val lex = work.resolve("lex").toString
  private val vec = work.resolve("vec").toString
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  /** Port of the `ApiServer` `/search` is mounted on. */
  var port = 0
  var search: SearchApi = _
  var cfg: GraftConfig = _

  // id → nanoTime its append started (held-out ids only; base ids are
  // live from the start) and id → nanoTime its delete returned
  private val appendStarted = new ConcurrentHashMap[Long, java.lang.Long]()
  private val deleteDone = new ConcurrentHashMap[Long, java.lang.Long]()
  private val baseIds = scala.collection.mutable.Set.empty[Long]
  private var heldOut: IndexedSeq[Long] = IndexedSeq.empty
  private var hybrid: DataFrame = _
  private var corpusRows = 0L
  private val writeSeq = new AtomicLong(0)
  private val epoch = new AtomicLong(0)
  val writerLagMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  val filesWrittenPerWrite = scala.collection.mutable.ArrayBuffer.empty[Double]
  val sheds = new AtomicLong(0)
  private val queries = new AtomicLong(0)
  val K = 10

  /** Build both stores from the held-in corpus and the serving API. */
  def prepare(): Unit = {
    val tables = Gen.tableFrames(spark, SearchIngest.Sf, AnalyticSuite.DataSeed)
    val emb = tables("embeddings").localCheckpoint()
    hybrid = tables("documents").join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding")).localCheckpoint()
    // a seeded quarter of the corpus is held out for the writer to append
    val held = Gen.u(h.seed, col("doc_id"), 99) < 0.25
    val base = hybrid.filter(!held)
    heldOut = scala.util.Random.javaRandomToRandom(new java.util.Random(h.seed))
      .shuffle(hybrid.filter(held).select("doc_id").collect().map(_.getLong(0)).toIndexedSeq)
    baseIds ++= base.select("doc_id").collect().map(_.getLong(0))
    corpusRows = baseIds.size
    Harness.parallel(Seq(
      () => Retrieval.writeBm25Store(base.select("doc_id", "text"), "text", "doc_id", lex, 64,
        storeDocs = true),
      () => Quantize.buildSelfContained(spark, base.select("doc_id", "embedding"), "doc_id",
        "embedding",
        emb.filter(col("vec_id") < 8).select(col("vec_id").as("centroid_id"), col("embedding").as("cen_emb")),
        "centroid_id", "cen_emb",
        emb.filter(col("vec_id") < 4).select(col("vec_id").as("code_id"), col("embedding").as("cb_emb")),
        "code_id", "cb_emb", 64, 4, residual = false, vec, storeVectors = true)))
    h.mark("search stores")
    cfg = GraftConfig.fromString(
      s"""retrieval:
         |  lex_store: "$lex"
         |  vec_store: "$vec"
         |""".stripMargin, Map.empty)
    search = SearchApi.fromConfig(spark, cfg).get
  }

  /** Each mode once, over HTTP and in-process. */
  def warmUps: Seq[() => Unit] =
    Seq("hybrid" -> false, "hybrid" -> true, "lexical" -> true, "vector" -> true)
      .zipWithIndex.map { case ((m, direct), i) =>
        () => read(m, new scala.util.Random(h.seed ^ (0x5a + i)), new Stats.OpLog, direct)
      }

  def rows: Long = baseIds.synchronized(corpusRows)
  def storeBytes: Long = h.duBytes(work)._1

  private def storeFiles: Long = h.duBytes(work)._2

  /** A unique query: three vocabulary words and a seeded unit vector. */
  private def payload(rng: scala.util.Random, mode: String): String = {
    val n = queries.incrementAndGet()
    // the trailing nonce matches no posting; it only makes the text unique
    val words = (Seq.fill(3)(Gen.Vocab(rng.nextInt(Gen.Vocab.size))) :+ s"zq$n").mkString(" ")
    val g = Array.fill(64)(rng.nextGaussian())
    val norm = math.sqrt(g.map(x => x * x).sum)
    val v = g.map(x => (x / norm).toFloat).mkString("[", ",", "]")
    if (mode == "lexical") s"""{"text":"$words","k":$K,"mode":"lexical"}"""
    else s"""{"text":"$words","vector":$v,"k":$K,"mode":"$mode"}"""
  }

  private def send(body: String): (Int, String, Long) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body(), r.headers().firstValue("Retry-After").orElse("1").toLong)
  }

  /** Hits must be k well-formed rows naming only ids that were live at
    * some instant between send and receipt. */
  def checkHits(body: String, sentNs: Long, recvNs: Long): Option[String] = {
    val data = mapper.readTree(body).get("data")
    if (data == null || !data.isArray) return Some("no data array")
    val ids = data.elements().asScala.map(r => Option(r.get("doc_id")).map(_.asLong)).toSeq
    if (ids.size != K) return Some(s"${ids.size} hits, want $K")
    if (ids.exists(_.isEmpty)) return Some("hit without doc_id")
    ids.flatten.collectFirst {
      case id if !baseIds.contains(id) && !Option(appendStarted.get(id)).exists(_ < recvNs) =>
        s"hit $id was not appended yet"
      case id if Option(deleteDone.get(id)).exists(_ < sentNs) =>
        s"hit $id was deleted before the request"
    }
  }

  def read(mode: String, rng: scala.util.Random, log: Stats.OpLog, direct: Boolean): Unit = {
    val body = payload(rng, mode)
    val st = System.nanoTime()
    val route = if (direct) s"$mode.direct" else mode
    try {
      val (code, resp, shed) =
        if (direct) {
          val span = if (mode == "hybrid") "serve.search" else s"operators.${mode}_search"
          Tracer.span(span) { val r = search.searchPost(body); (r.status, r.body, 0) }
        } else Tracer.span("http.search")(Stats.withShedRetry(3, ms => Thread.sleep(ms))(() => send(body)))
      sheds.addAndGet(shed)
      val recv = System.nanoTime()
      val bad = if (code != 200) Some(s"status $code ${resp.take(120)}") else checkHits(resp, st, recv)
      bad.foreach(b => h.log(s"search check failed: $b"))
      log.add(Op("read", route, (recv - st) / 1e6, bad.isEmpty, shed, resp.length, bad.getOrElse("")))
    } catch {
      case e: Throwable =>
        h.log(s"search failed: $e")
        log.add(Op("read", route, (System.nanoTime() - st) / 1e6, ok = false, detail = e.toString))
    }
  }

  /** One write: an append batch, a delete batch, or every K-th a
    * maintenance cycle. Latency is timed from when the write was due. */
  private def write(dueNs: Long, rng: scala.util.Random, log: Stats.OpLog): Unit = {
    val n = writeSeq.incrementAndGet()
    val start = System.nanoTime()
    writerLagMs += (start - dueNs) / 1e6
    val filesBefore = storeFiles
    import spark.implicits._
    val (kind, ok, detail) =
      try {
        if (n % SearchIngest.CycleEvery == 0) {
          val reports = Tracer.span("operators.maintenance")(graft.StoreCtl.cycle(spark,
            Seq(graft.StoreCtl.LexStore(lex), graft.StoreCtl.VecStore(vec))))
          val errs = reports.filter(_.action == "error")
          ("cycle", errs.isEmpty, errs.map(_.detail).mkString("; "))
        } else if (n % 2 == 1 && heldOut.nonEmpty) {
          val batch = heldOut.take(SearchIngest.Batch)
          heldOut = heldOut.drop(SearchIngest.Batch)
          val now = System.nanoTime()
          batch.foreach(id => appendStarted.put(id, now))
          val rows = hybrid.filter(col("doc_id").isin(batch: _*))
          Tracer.span("operators.bm25_append")(
            Retrieval.appendBm25Store(rows.select("doc_id", "text"), "text", "doc_id", lex,
              epoch.incrementAndGet()))
          Tracer.span("operators.ivfpq_append")(
            Quantize.appendSelfContained(spark, vec, rows.select("doc_id", "embedding"), "embedding"))
          baseIds.synchronized { corpusRows += batch.size }
          ("append", true, "")
        } else {
          val live = baseIds.toSeq.filterNot(deleteDone.containsKey).sorted
          val doomed = rng.shuffle(live).take(SearchIngest.Batch)
          val ids = doomed.toDF("doc_id")
          Tracer.span("operators.delete") {
            Retrieval.deleteFromBm25Store(spark, lex, ids, epoch.incrementAndGet())
            Quantize.addTombstones(spark, vec, ids, "doc_id")
          }
          val now = System.nanoTime()
          doomed.foreach(id => deleteDone.put(id, now))
          baseIds.synchronized { corpusRows -= doomed.size }
          ("delete", true, "")
        }
      } catch { case e: Throwable => ("error", false, e.toString) }
    filesWrittenPerWrite += math.max(0L, storeFiles - filesBefore).toDouble
    if (!ok) h.log(s"write $n ($kind) failed: $detail")
    log.add(Op("write", kind, (System.nanoTime() - dueNs) / 1e6, ok, detail = detail))
  }

  /** Reset the per-window writer and shed counters. */
  def startWindow(): Unit = {
    writerLagMs.clear(); filesWrittenPerWrite.clear(); sheds.set(0)
  }

  /** The open-loop writer: a write due every `IntervalMs` from half an
    * interval after `t0` until `deadline`. */
  def writer(t0: Long, deadline: Long, log: Stats.OpLog): Unit = {
    val rng = new scala.util.Random(h.seed * 7919L)
    var due = t0 + SearchIngest.IntervalMs * 1000000L / 2
    while (due < deadline) {
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      h.tagged(spark, h.nextOp())(write(due, rng, log))
      due += SearchIngest.IntervalMs * 1000000L
    }
  }

  private val traceModes = Seq("hybrid", "hybrid.direct", "lexical.direct", "vector.direct")

  /** Search op `i` of a client: hybrid over HTTP; the traced run rotates
    * HTTP hybrid with in-process hybrid, lexical and vector calls. */
  def op(i: Int, rng: scala.util.Random, log: Stats.OpLog, traced: Boolean): Unit = {
    val m = if (traced) traceModes(i % traceModes.size) else "hybrid"
    read(m.stripSuffix(".direct"), rng, log, m.endsWith(".direct"))
  }

  def layer(all: Seq[Op], spans: Seq[Tracer.Span]): Seq[Metric] = {
    val ops = all.filter(o => Set("hybrid", "lexical", "vector", "append", "delete", "cycle",
      "error")(o.route.stripSuffix(".direct")))
    def p50(route: String) = {
      val xs = ops.filter(_.route == route).map(_.latencyMs)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def spanP50(name: String) = {
      val xs = spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    Seq(
      Metric("serve.search_p50_ms", p50("hybrid.direct"), "ms"),
      Metric("serve.sheds", sheds.get.toDouble, "count"),
      Metric("operators.lexical_search_ms", p50("lexical.direct"), "ms"),
      Metric("operators.vector_search_ms", p50("vector.direct"), "ms"),
      Metric("operators.bm25_append_ms", spanP50("operators.bm25_append"), "ms"),
      Metric("operators.ivfpq_append_ms", spanP50("operators.ivfpq_append"), "ms"),
      Metric("operators.delete_ms", spanP50("operators.delete"), "ms"),
      Metric("operators.maintenance_ms", spanP50("operators.maintenance"), "ms"),
      Metric("operators.files_written_per_write",
        if (filesWrittenPerWrite.isEmpty) 0.0 else Stats.median(filesWrittenPerWrite.toSeq), "count"),
      Metric("bench.writer_lag_ms", if (writerLagMs.isEmpty) 0.0 else Stats.median(writerLagMs.toSeq), "ms"))
  }
}

object SearchIngest {
  /** The hybrid corpus is `documents ⋈ embeddings` at sf0.01: 200 docs. */
  val Sf = 0.01
  val IntervalMs = 6000L
  val Batch = 20
  val CycleEvery = 3
}
