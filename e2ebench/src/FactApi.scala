package e2ebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.serve.{FinancialApi, GraftConfig, ResultCache}
import graft.sources.{CompanyFacts, EdgarIngest, FactStore}
import Stats.{Metric, Op}

/** Version state of the CompanyFacts universe, shared with the fetch
  * function that runs inside Spark tasks (same JVM in local mode). */
object FactUniverse {
  @volatile var seed = 0L
  @volatile var firstYear = 2009
  @volatile var years = FactApi.Years
  /** Version the next fetch of a ticker serves. */
  val target = new ConcurrentHashMap[String, Integer]()
  val fetchCalls = new AtomicLong(0)

  def index(t: String): Int = t.drop(1).toInt

  /** The in-memory EDGAR: the ticker's current target version. */
  val fetch: String => String = { t =>
    fetchCalls.incrementAndGet()
    Gen.companyFacts(seed, index(t), target.getOrDefault(t, 0), firstYear, years)
  }
}

/** Expected answers of the fact routes for a ticker at a version. */
object FactOracle {
  import FactUniverse._

  private def conceptOf(tag: String): Int = Gen.Concepts.indexWhere(_._1 == tag)

  /** Statement/compare metrics resolve through the tag fallback. */
  def tagConcept(metric: String): Int =
    graft.model.MetricCatalog.tagFallback(metric).map(conceptOf).find(_ >= 0).get

  /** `/financials/{t}/{metric}`: label-alias match, argmax value per
    * (fy, fp), newest first, capped at `years` periods per year. */
  def series(t: Int, v: Int, metric: String, period: String, n: Int): Seq[(Int, String, Double)] = {
    val aliases = graft.model.MetricCatalog.labelAliases.getOrElse(metric, Seq(metric))
      .map(_.toLowerCase)
    val cands = Gen.Concepts.indices.filter(c =>
      aliases.exists(a => Gen.Concepts(c)._2.toLowerCase.contains(a)))
    val ps = if (period == "quarterly") Seq(1, 2, 3) else Seq(0)
    val rows = for (y <- 0 until FactUniverse.years; p <- ps) yield {
      val fy = firstYear + y
      (fy, Gen.Periods(p), cands.map(c => Gen.factValue(seed, t, v, c, fy, p)).max)
    }
    rows.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 > b._2))
      .take(n * (if (period == "quarterly") 4 else 1))
  }

  def annual(t: Int, v: Int, concept: Int, fy: Int): Double =
    Gen.factValue(seed, t, v, concept, fy, 0)
}

/** The fact-API half of the `serve` workload: a seeded CompanyFacts store
  * behind `FinancialApi`, its route mix, refresh writes through
  * `POST /etl/fetch` and the answer checks. */
final class FactApi(h: Harness, spark: SparkSession) {
  import FactUniverse._

  val tickers: Int = FactApi.Tickers
  private val names = (0 until tickers).map(Gen.ticker)
  private val base = h.dir("factstore").toString
  private val mapper = new ObjectMapper()
  val cache: ResultCache = GraftConfig.fromString("{}", Map.empty).buildCache()
  val cacheMax: Int = GraftConfig.fromString("{}", Map.empty).getIntOr("cache.max_size", 1000)

  private val committed = new ConcurrentHashMap[String, AtomicInteger]()
  private val locks = new ConcurrentHashMap[String, Object]()
  private val ingestOk = new ConcurrentHashMap[String, java.lang.Boolean]()
  val invalidations = new AtomicLong(0)

  // Route bodies run on server threads; in the traced run (one client)
  // they tag their Spark jobs with that client's open op.
  private def tagServerThread(): Unit =
    if (Tracer.enabled) spark.sparkContext.setLocalProperty("e2ebench.op", Tracer.readerOp.get.toString)

  private val facts: () => DataFrame = () => Tracer.span("sources.factstore_read") {
    tagServerThread()
    FactStore.read(spark, base)
  }
  private val onMiss: String => Unit = t => Tracer.span("sources.ingest") {
    tagServerThread()
    val jobs = EdgarIngest.ingest(spark, Seq(t), fetch, base)
    ingestOk.put(t, jobs.nonEmpty && jobs.forall(_.status == EdgarIngest.Completed))
  }
  val api = new FinancialApi(spark, facts, cache, onMiss)
  /** Port of the `ApiServer` the routes are mounted on. */
  var port = 0
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Ingest every ticker's first version into the store. */
  def prepare(): Unit = {
    FactUniverse.seed = h.seed
    target.clear()
    names.foreach { t => target.put(t, 0); committed.put(t, new AtomicInteger(0)); locks.put(t, new Object) }
    import spark.implicits._
    val raw = names.map(t => (t, fetch(t))).toDF("ticker", "json")
    FactStore.write(CompanyFacts.flatten(raw), base)
    h.log(s"fact store: $tickers tickers, ${2 * tickers * FactUniverse.years} partition dirs, " +
      s"cache max_size $cacheMax vs $distinctKeys distinct read keys")
  }

  /** Every read route once over HTTP, side by side; then an empty cache. */
  def warmUps: Seq[() => Unit] =
    Seq("metric", "financials", "compare", "ticker_info", "tickers", "storage_stats")
      .zipWithIndex.map { case (r, i) =>
        () => request(r, new scala.util.Random(h.seed ^ (0x77 + i)), new Stats.OpLog, direct = false)
      }

  def storeBytes: Long = h.duBytes(java.nio.file.Paths.get(base))._1
  def rows: Long = tickers.toLong * Gen.Concepts.size * FactUniverse.years * Gen.Periods.size

  def storeFiles: Double = h.duBytes(java.nio.file.Paths.get(base))._2.toDouble

  // Zipf(s = 1) over ticker ranks
  private val zipfCdf: Array[Double] = {
    val w = (1 to tickers).map(r => 1.0 / r)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipf(rng: scala.util.Random): String = {
    val x = rng.nextDouble()
    val i = zipfCdf.indexWhere(_ >= x)
    names(if (i < 0) tickers - 1 else i)
  }

  private val seriesMetrics = Seq("revenue", "net_income", "assets", "liabilities", "equity", "cash")
  private val statementMetrics = FinancialApi.StatementMetrics

  /** The request mix as a fixed, evenly interleaved cycle (smooth
    * weighted round-robin), so every stretch of a short window carries
    * close to the target mix; the seed draws tickers and parameters. */
  val routeCycle: IndexedSeq[String] = FactApi.smoothRoundRobin(Seq(
    "metric" -> 16, "financials" -> 8, "compare" -> 6, "ticker_info" -> 4,
    "tickers" -> 1, "storage_stats" -> 1, "write" -> 4))

  /** Distinct cache keys the read mix can address. */
  def distinctKeys: Long = {
    val n = tickers.toLong
    n * seriesMetrics.size * 2 * FactApi.MaxYears + n * FactApi.MaxYears +
      (n * (n - 1) * (n - 2) / 6) * statementMetrics.size * FactApi.MaxYears + n + 2
  }

  private def send(method: String, path: String, body: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val req = if (method == "POST") b.POST(HttpRequest.BodyPublishers.ofString(body)).build()
              else b.GET().build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def versions(ts: Seq[String]): Seq[Int] = ts.map(t => committed.get(t).get)

  /** One op of `route`. Reads check the answer against every version the
    * ticker could legally show: from the version committed before the
    * request was sent up to the newest version whose refresh had started
    * by the time the answer arrived. */
  def request(route: String, rng: scala.util.Random, log: Stats.OpLog, direct: Boolean): Unit = {
    val years = 1 + rng.nextInt(FactApi.MaxYears)
    val t = zipf(rng)
    val st = System.nanoTime()
    def done(kind: String, ok: Boolean, bytes: Long, detail: String = ""): Unit =
      log.add(Op(kind, route + (if (direct) ".direct" else ""), (System.nanoTime() - st) / 1e6, ok,
        bytes = bytes, detail = detail))
    def call(method: String, path: String, body: String)(directCall: => FinancialApi.Response): (Int, String) =
      if (direct) Tracer.span(s"serve.route.$route") { val r = directCall; (r.status, r.body) }
      else Tracer.span(s"http.$route")(send(method, path, body))
    try route match {
      case "write" =>
        locks.get(t).synchronized {
          val next = committed.get(t).get + 1
          target.put(t, next)
          ingestOk.remove(t)
          val (code, body) = send("POST", s"/etl/fetch/$t", "")
          val ok = code == 200 && java.lang.Boolean.TRUE == ingestOk.get(t)
          if (ok) {
            committed.get(t).set(next)
            invalidations.addAndGet(mapper.readTree(body).get("invalidated").asLong)
          }
          done("write", ok, body.length, if (ok) "" else s"$code ${body.take(120)}")
        }
      case "metric" =>
        val m = seriesMetrics(rng.nextInt(seriesMetrics.size))
        val period = if (rng.nextBoolean()) "annual" else "quarterly"
        val lo = versions(Seq(t)).head
        val (code, body) = call("GET", s"/financials/$t/$m?period=$period&years=$years", "")(
          api.metric(t, m, period, years, "json"))
        val hi = target.get(t).intValue
        val ok = code == 200 && (lo to hi).exists(v => checkSeries(body, t, v, m, period, years))
        done("read", ok, body.length, if (ok) "" else s"$t $m $period $years v$lo..$hi ${body.take(160)}")
      case "financials" =>
        val lo = versions(Seq(t)).head
        val (code, body) = call("GET", s"/financials/$t?period=annual&years=$years", "")(
          api.financials(t, "annual", years, "json"))
        val hi = target.get(t).intValue
        val ok = code == 200 && (lo to hi).exists(v => checkStatement(body, t, v, years))
        done("read", ok, body.length, if (ok) "" else s"$t $years v$lo..$hi ${body.take(160)}")
      case "compare" =>
        val ts = Iterator.continually(zipf(rng)).distinct.take(3).toSeq
        val m = statementMetrics(rng.nextInt(statementMetrics.size))
        val req = s"""{"tickers":[${ts.map("\"" + _ + "\"").mkString(",")}],"metric":"$m","period":"annual","years":$years}"""
        val los = versions(ts)
        val (code, body) = call("POST", "/financials/compare", req)(api.compare(req))
        val his = ts.map(x => target.get(x).intValue)
        val ok = code == 200 && checkCompare(body, ts, los, his, m, years)
        done("read", ok, body.length, if (ok) "" else s"$req ${body.take(160)}")
      case "ticker_info" =>
        val (code, body) = call("GET", s"/data/ticker/$t/info", "")(api.tickerInfo(t))
        val ok = code == 200 && {
          val parts = mapper.readTree(body).get("partitions").get("data").elements().asScala.toSeq
          parts.size == 2 * FactUniverse.years &&
            parts.map(_.get("record_count").asLong).sum == Gen.Concepts.size * FactUniverse.years * Gen.Periods.size
        }
        done("read", ok, body.length, if (ok) "" else body.take(160))
      case "tickers" =>
        val (code, body) = call("GET", "/data/tickers", "")(api.tickers())
        val ok = code == 200 && mapper.readTree(body).get("total_tickers").asInt == tickers
        done("read", ok, body.length, if (ok) "" else body.take(160))
      case "storage_stats" =>
        val (code, body) = call("GET", "/storage/stats", "")(api.storageStats())
        val ok = code == 200 && {
          val row = mapper.readTree(body).get("data").get(0)
          row.get("total_facts").asLong == tickers.toLong * Gen.Concepts.size * FactUniverse.years * Gen.Periods.size &&
            row.get("n_tickers").asInt == tickers
        }
        done("read", ok, body.length, if (ok) "" else body.take(160))
    } catch {
      case e: Throwable => done(if (route == "write") "write" else "read", ok = false, 0, e.toString)
    }
  }

  private def rows(body: String): Seq[JsonNode] =
    mapper.readTree(body).get("data").elements().asScala.toSeq

  def checkSeries(body: String, t: String, v: Int, metric: String, period: String, years: Int): Boolean = {
    val want = FactOracle.series(index(t), v, metric, period, years)
    val got = rows(body)
    got.size == want.size && got.zip(want).forall { case (r, (fy, fp, value)) =>
      r.get("fiscal_year").asInt == fy && r.get("fiscal_period").asText == fp &&
        r.get("value").asDouble == value && r.get("company_name").asText == s"Company $t v$v"
    }
  }

  def checkStatement(body: String, t: String, v: Int, years: Int): Boolean = {
    val got = rows(body)
    val lastYear = firstYear + FactUniverse.years - 1
    got.size == statementMetrics.size && got.forall { r =>
      val c = FactOracle.tagConcept(r.get("metric").asText)
      val ys = r.fieldNames().asScala.filter(_.forall(_.isDigit)).toSeq
      ys.size == years && ys.forall { y =>
        y.toInt > lastYear - years && r.get(y).asDouble == FactOracle.annual(index(t), v, c, y.toInt)
      }
    }
  }

  def checkCompare(body: String, ts: Seq[String], los: Seq[Int], his: Seq[Int], metric: String,
                   years: Int): Boolean = {
    val got = rows(body)
    val c = FactOracle.tagConcept(metric)
    val lastYear = firstYear + FactUniverse.years - 1
    got.size == years && ts.indices.forall { i =>
      (los(i) to his(i)).exists { v =>
        got.forall { r =>
          val fy = r.get("fiscal_year").asInt
          fy > lastYear - years && r.get(ts(i)).asDouble == FactOracle.annual(index(ts(i)), v, c, fy)
        }
      }
    }
  }

  private var base0 = (0L, 0L, 0L, 0L) // cache hits, misses, invalidations, fetches

  /** Snapshot the counters the layer metrics report as deltas. */
  def startWindow(): Unit = {
    val st = cache.stats
    base0 = (st("hits").toString.toLong, st("misses").toString.toLong, invalidations.get, fetchCalls.get)
  }

  // Per (client, route): a fixed sequence of parameter draws (tickers,
  // metrics, periods, years), the same in every run, so every run asks for
  // the same work; the seed sets the fact values and the search side.
  private val draws = new ConcurrentHashMap[(Int, String), AtomicInteger]()
  private def nextDraw(c: Int, route: String): scala.util.Random = {
    val i = draws.computeIfAbsent((c, route), _ => new AtomicInteger(0)).getAndIncrement()
    new scala.util.Random(((31L * c + route.hashCode) << 20) + i)
  }

  /** Op `i` of a client: the next route of the cycle, from the client's
    * own offset. Traced runs alternate HTTP and in-process route calls. */
  def op(c: Int, i: Int, log: Stats.OpLog, traced: Boolean): Unit = {
    val route = routeCycle((i + c * routeCycle.size / 2) % routeCycle.size)
    request(route, nextDraw(c, route), log, direct = traced && route != "write" && i % 2 == 1)
  }

  val Routes: Set[String] =
    Set("metric", "financials", "compare", "ticker_info", "tickers", "storage_stats", "write")

  def layer(all: Seq[Op], spans: Seq[Tracer.Span]): Seq[Metric] = {
    val ops = all.filter(o => Routes(o.route.stripSuffix(".direct")))
    def p50(route: String) = {
      val xs = ops.filter(_.route == route).map(_.latencyMs)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val reads = ops.count(_.kind == "read")
    val writes = ops.count(_.kind == "write")
    val fr = spans.filter(_.name == "sources.factstore_read")
    val ing = spans.filter(_.name == "sources.ingest")
    val stats = cache.stats
    val hits = stats("hits").toString.toDouble - base0._1
    val misses = stats("misses").toString.toDouble - base0._2
    Seq(
      Metric("sources.factstore_read_ms_per_op", fr.map(s => (s.endNs - s.startNs) / 1e6).sum / math.max(1, reads), "ms"),
      Metric("sources.factstore_reads_per_op", fr.size.toDouble / math.max(1, reads), "count"),
      Metric("sources.store_files", storeFiles, "count"),
      Metric("sources.ingest_ms", if (ing.isEmpty) 0.0 else Stats.median(ing.map(s => (s.endNs - s.startNs) / 1e6)), "ms"),
      Metric("sources.ingest_failed", ops.count(o => o.kind == "write" && !o.ok).toDouble, "count"),
      Metric("sources.fetch_calls_per_write",
        if (writes == 0) 0.0 else (fetchCalls.get - base0._4).toDouble / writes, "count"),
      Metric("serve.cache_hit_ratio", if (hits + misses == 0) 0.0 else hits / (hits + misses), "ratio"),
      Metric("serve.cache_invalidations", (invalidations.get - base0._3).toDouble, "count"),
      Metric("serve.route_p50_ms.metric", p50("metric.direct"), "ms"),
      Metric("serve.route_p50_ms.financials", p50("financials.direct"), "ms"),
      Metric("serve.route_p50_ms.compare", p50("compare.direct"), "ms"),
      Metric("serve.route_p50_ms.ticker_info", p50("ticker_info.direct"), "ms"),
      Metric("serve.route_p50_ms.tickers", p50("tickers.direct"), "ms"))
  }
}

object FactApi {
  /** 24 tickers × 2 period types × 5 fiscal years = 240 partition
    * directories. */
  val Tickers = 24
  val Years = 5
  /** Requests ask for 1..MaxYears years. */
  val MaxYears = 5

  def smoothRoundRobin(weights: Seq[(String, Int)]): IndexedSeq[String] = {
    val total = weights.map(_._2).sum
    val cur = Array.fill(weights.size)(0)
    (0 until total).map { _ =>
      weights.indices.foreach(i => cur(i) += weights(i)._2)
      val k = cur.indices.maxBy(cur)
      cur(k) -= total
      weights(k)._1
    }
  }
}
