package e2ebench

import org.apache.spark.sql.SparkSession
import graft.serve.ApiServer
import Stats.{Metric, Op}

/** `serve`: the product deployment — one `ApiServer` with the fact routes
  * and `/search` mounted — under closed-loop clients while both stores are
  * written: fact refreshes through `POST /etl/fetch` (a tenth of the fact
  * ops) and an open-loop writer appending to, deleting from and
  * maintaining the search stores. Each client cycles fact, fact, search. */
final class Serve(h: Harness, spark: SparkSession) extends Workload {

  val fact = new FactApi(h, spark)
  val search = new SearchIngest(h, spark)
  private var server: ApiServer = _

  def setup(): Unit = {
    Harness.parallel(Seq(() => fact.prepare(), () => search.prepare()))
    server = new ApiServer(fact.api, 0, search.cfg, Some(search.search)).start()
    fact.port = server.boundPort
    search.port = server.boundPort
    Harness.parallel(fact.warmUps ++ search.warmUps)
    fact.cache.clear()
    h.mark("warm-up")
  }

  def defaultClients: Int = math.max(1, h.cores / 2)

  def window(seconds: Double, clients: Int, log: Stats.OpLog, traced: Boolean): Double = {
    fact.startWindow()
    search.startWindow()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val writer = new Thread(() => search.writer(t0, deadline, log), "search-writer")
    writer.start()
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        val rng = new scala.util.Random(h.seed * 1000003L + c)
        var (i, nFact, nSearch) = (c, 0, 0)
        while (System.nanoTime() < deadline) {
          val op = h.nextOp()
          if (traced) Tracer.readerOp.set(op)
          h.tagged(spark, op) {
            if (i % 3 == 2) { search.op(nSearch, rng, log, traced); nSearch += 1 }
            else { fact.op(c, nFact, log, traced); nFact += 1 }
          }
          i += 1
        }
      }, s"serve-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    // the window is the clients' time; a write due inside it may finish after
    val elapsed = (System.nanoTime() - t0) / 1e9
    writer.join()
    elapsed
  }

  def storeBytesPerRow: Double =
    (fact.storeBytes + search.storeBytes).toDouble / (fact.rows + search.rows)

  def layer(ops: Seq[Op], spans: Seq[Tracer.Span]): Seq[Metric] = {
    // HTTP cost: each route's HTTP p50 minus its in-process p50, weighted
    // by the route's HTTP reads
    val http = ops.filter(o => o.kind == "read" && !o.route.endsWith(".direct"))
    val httpMinusDirect = http.groupBy(_.route).toSeq.flatMap { case (r, hs) =>
      val ds = ops.filter(_.route == s"$r.direct").map(_.latencyMs)
      if (ds.isEmpty) None
      else Some((Stats.median(hs.map(_.latencyMs)) - Stats.median(ds)) * hs.size)
    }
    fact.layer(ops, spans) ++ search.layer(ops, spans) ++ Seq(
      Metric("serve.http_ms_per_op", httpMinusDirect.sum / math.max(1, http.size), "ms"),
      Metric("serve.response_bytes_per_op", http.map(_.bytes).sum.toDouble / math.max(1, http.size), "B"))
  }

  def close(): Unit = if (server != null) server.stop()
}
