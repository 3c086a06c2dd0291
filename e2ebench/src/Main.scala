package e2ebench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import Stats.{Metric, Op}

/** One workload behind the common run protocol of [[Main]]. */
trait Workload {
  /** Build stores, start servers and warm up; timed as set-up. */
  def setup(): Unit
  def defaultClients: Int
  /** Run closed-loop clients (and any writer) for `seconds`; returns the
    * window's length in seconds. */
  def window(seconds: Double, clients: Int, log: Stats.OpLog, traced: Boolean): Double
  def storeBytesPerRow: Double
  /** Workload-specific per-layer metrics of the traced window. */
  def layer(ops: Seq[Op], spans: Seq[Tracer.Span]): Seq[Metric]
  def close(): Unit
}

/** Entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir> --bench <dir>`,
  * or `--selftest`, or `--pin <outDir> --root <dir>`. Prints the result as
  * the last stdout line; everything else goes to stderr. */
object Main {

  /** The end-to-end metrics the timed window's op log gives; set-up,
    * store size and memory are measured beside it. */
  val WindowMetrics: Set[String] = Set("ops_per_s", "read_p50_ms")

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    SelfTest.run()
    if (args.contains("--selftest")) { System.err.println("[e2ebench] self-tests passed"); return }
    val root = Paths.get(kv("root")).toAbsolutePath
    Files.createDirectories(root)
    if (kv.contains("pin")) { Pin.run(root, Paths.get(kv("pin"))); return }
    val h = new Harness(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", root)
    val line = run(h, Paths.get(kv("bench")))
    println(line)
  }

  private def make(h: Harness, spark: SparkSession, bench: Path): Workload = h.workload match {
    case "analytic-suite" => new AnalyticSuite(h, spark, bench.resolve("expected/analytic_fingerprints.tsv"))
    case "serve" => new Serve(h, spark)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(h: Harness, bench: Path): String = {
    val t0 = System.nanoTime()
    val spark = h.session()
    h.mark("session")
    val w = make(h, spark, bench)
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    h.log(f"setup: $setupS%.2f s")
    val result =
      if (!h.trace) {
        val log = new Stats.OpLog
        val win = w.window(h.seconds, w.defaultClients, log, traced = false)
        val ops = log.all
        val lat = Harness.latencyMetrics(ops, win)
        summarize(h, ops, lat)
        val metrics = Seq(Metric("setup_s", setupS, "s")) ++
          lat.filter(m => WindowMetrics(m.name)) ++
          Seq(Metric("store_bytes_per_row", w.storeBytesPerRow, "B"),
            Metric("peak_rss_mb", Harness.peakRssMb(), "MB"))
        (ops, metrics)
      } else traced(h, spark, w)
    w.close()
    spark.stop()
    val (ops, metrics) = result
    val failed = ops.count(!_.ok)
    Stats.resultLine(ops.nonEmpty && failed == 0, ops.size, failed, metrics)
  }

  private def summarize(h: Harness, ops: Seq[Op], lat: Seq[Metric]): Unit = {
    h.log(lat.map(m => f"${m.name}=${m.value}%.3f").mkString(" "))
    h.log("writes: " + ops.filter(_.kind == "write").map(o => f"${o.route}:${o.latencyMs}%.0f").mkString(" "))
    ops.filter(!_.ok).take(5).foreach(o => h.log(s"failed ${o.kind} ${o.route}: ${o.detail}"))
  }

  /** The traced run: one client, an untraced half-window for reference,
    * then the traced half-window with spans and engine listeners on. */
  private def traced(h: Harness, spark: SparkSession, w: Workload): (Seq[Op], Seq[Metric]) = {
    val refLog = new Stats.OpLog
    val refWin = w.window(h.seconds / 2.0, 1, refLog, traced = false)
    val probe = new EngineProbe(spark)
    probe.install()
    Tracer.reset()
    Tracer.enabled = true
    val log = new Stats.OpLog
    val win = w.window(h.seconds / 2.0, 1, log, traced = true)
    Tracer.enabled = false
    probe.drain()
    probe.uninstall()
    val ops = log.all
    val spans = Tracer.all
    Tracer.write(h.root.resolve(s"trace-${h.workload}.tsv"))
    // HTTP and in-process route calls alternate in the traced window; the
    // read path measured end to end is the HTTP one (or, for the batch
    // suite, every query)
    val reads = ops.filter(_.kind == "read")
    val e = probe.forOps(reads.map(_.opId).toSet)
    val n = math.max(1, reads.size).toDouble
    val driverOnly = reads.map(o => o.latencyMs - EngineProbe.unionMs(probe.jobIntervals(o.opId)))
    val self = Tracer.selfMs(spans, probe.engineMs)
    def layerSelf(prefix: String) = self.filter(_._1.startsWith(prefix)).values.sum / n
    val refLat = Harness.latencyMetrics(refLog.all, refWin)
    val lat = Harness.latencyMetrics(ops.filter(o => !o.route.endsWith(".direct")), win)
    def get(ms: Seq[Metric], k: String) = ms.find(_.name == k).map(_.value).getOrElse(0.0)
    val refP50 = get(refLat, "read_p50_ms")
    // fact refreshes; the search writer's ops report under operators.*
    val writes = ops.filter(o => o.kind == "write" && o.route == "write")
    val ingestJobs = probe.forOps(writes.map(_.opId).toSet)
    val metrics = Seq(
      Metric("engine.jobs_per_op", e.jobs / n, "count"),
      Metric("engine.stages_per_op", e.stages / n, "count"),
      Metric("engine.tasks_per_op", e.tasks / n, "count"),
      Metric("engine.listing_jobs_per_op", e.listingJobs / n, "count"),
      Metric("engine.files_read_per_op", e.filesRead / n, "count"),
      Metric("engine.planning_ms_per_op", e.planningMs / n, "ms"),
      Metric("engine.scheduler_delay_ms_per_op", e.schedDelayMs / n, "ms"),
      Metric("engine.job_busy_ms_per_op", e.busyMs / n, "ms"),
      Metric("engine.driver_only_ms_per_op", driverOnly.sum / n, "ms"),
      Metric("engine.executor_cpu_ms_per_op", e.cpuMs / n, "ms"),
      Metric("engine.scan_bytes_per_op", e.scanBytes / n, "B"),
      Metric("engine.shuffle_bytes_per_op", e.shuffleBytes / n, "B"),
      Metric("engine.spill_bytes_per_op", e.spillBytes / n, "B"),
      Metric("engine.gc_ms_per_op", e.gcMs / n, "ms"),
      Metric("engine.codegen_fallbacks", probe.codegenFallbacks.get.toDouble, "count"),
      Metric("engine.failed_tasks", e.failedTasks.toDouble, "count"),
      Metric("layer.queries.self_ms_per_op", layerSelf("queries."), "ms"),
      Metric("layer.serve.self_ms_per_op", layerSelf("serve."), "ms"),
      Metric("layer.sources.self_ms_per_op", layerSelf("sources."), "ms"),
      Metric("layer.operators.self_ms_per_op", layerSelf("operators."), "ms"),
      Metric("layer.engine.self_ms_per_op", e.busyMs / n, "ms"),
      Metric("sources.ingest_jobs_per_write",
        if (writes.isEmpty) 0.0 else ingestJobs.jobs.toDouble / writes.size, "count"),
      Metric("bench.read_samples", get(lat, "read_samples"), "count"),
      Metric("bench.read_p90_ms", get(lat, "read_p90_ms"), "ms"),
      Metric("bench.write_p50_ms", get(lat, "write_p50_ms"), "ms"),
      Metric("bench.failed_frac", Stats.failedFrac(ops), "ratio"),
      Metric("bench.untraced_read_p50_ms", refP50, "ms"),
      Metric("bench.tracing_overhead_frac",
        if (refP50 > 0) get(lat, "read_p50_ms") / refP50 - 1.0 else 0.0, "ratio")) ++
      w.layer(ops, spans)
    val have = metrics.map(_.name).toSet
    // a layer a workload never calls did no work there: report 0
    val filled = metrics ++ PerLayer.filterNot(p => have(p._1)).map { case (k, u) => Metric(k, 0.0, u) }
    summarize(h, ops, lat)
    (ops, filled.filter(m => PerLayer.exists(_._1 == m.name)).sortBy(_.name))
  }

  /** Every per-layer metric, in the units the traced run reports. */
  val PerLayer: Seq[(String, String)] = Seq(
    "engine.jobs_per_op" -> "count", "engine.stages_per_op" -> "count",
    "engine.tasks_per_op" -> "count", "engine.listing_jobs_per_op" -> "count",
    "engine.files_read_per_op" -> "count", "engine.planning_ms_per_op" -> "ms",
    "engine.scheduler_delay_ms_per_op" -> "ms", "engine.job_busy_ms_per_op" -> "ms",
    "engine.driver_only_ms_per_op" -> "ms", "engine.executor_cpu_ms_per_op" -> "ms",
    "engine.scan_bytes_per_op" -> "B", "engine.shuffle_bytes_per_op" -> "B",
    "engine.spill_bytes_per_op" -> "B", "engine.gc_ms_per_op" -> "ms",
    "engine.codegen_fallbacks" -> "count", "engine.failed_tasks" -> "count",
    "layer.queries.self_ms_per_op" -> "ms", "layer.serve.self_ms_per_op" -> "ms",
    "layer.sources.self_ms_per_op" -> "ms", "layer.operators.self_ms_per_op" -> "ms",
    "layer.engine.self_ms_per_op" -> "ms",
    "queries.construct_ms" -> "ms", "queries.execute_ms" -> "ms") ++
    AnalyticSuite.Families.map(f => s"queries.$f.execute_ms" -> "ms") ++ Seq(
    "sources.store_files" -> "count", "sources.factstore_read_ms_per_op" -> "ms",
    "sources.factstore_reads_per_op" -> "count", "sources.ingest_ms" -> "ms",
    "sources.ingest_jobs_per_write" -> "count", "sources.ingest_failed" -> "count",
    "sources.fetch_calls_per_write" -> "count",
    "serve.cache_hit_ratio" -> "ratio", "serve.cache_invalidations" -> "count",
    "serve.route_p50_ms.metric" -> "ms", "serve.route_p50_ms.financials" -> "ms",
    "serve.route_p50_ms.compare" -> "ms", "serve.route_p50_ms.ticker_info" -> "ms",
    "serve.route_p50_ms.tickers" -> "ms", "serve.search_p50_ms" -> "ms",
    "serve.http_ms_per_op" -> "ms", "serve.response_bytes_per_op" -> "B",
    "serve.sheds" -> "count",
    "operators.lexical_search_ms" -> "ms", "operators.vector_search_ms" -> "ms",
    "operators.bm25_append_ms" -> "ms", "operators.ivfpq_append_ms" -> "ms",
    "operators.delete_ms" -> "ms", "operators.maintenance_ms" -> "ms",
    "operators.files_written_per_write" -> "count",
    "bench.writer_lag_ms" -> "ms", "bench.read_samples" -> "count", "bench.read_p90_ms" -> "ms",
    "bench.write_p50_ms" -> "ms", "bench.failed_frac" -> "ratio",
    "bench.untraced_read_p50_ms" -> "ms", "bench.tracing_overhead_frac" -> "ratio")
}

/** Pinning: run every `SparkEntry.queries` entry twice over the generated
  * tables, write each result as parquet for the DuckDB oracle check, and
  * write `name<TAB>fingerprint<TAB>stable<TAB>ms` lines. */
object Pin {
  def run(root: Path, out: Path): Unit = {
    val h = new Harness("pin", 0, 0, trace = false, root)
    val spark = h.session()
    val data = h.dir("analytic-data").toString
    Gen.writeTables(spark, data, AnalyticSuite.Sf, AnalyticSuite.DataSeed)
    Files.createDirectories(out)
    val lines = graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
      try {
        val a = AnalyticSuite.runOne(spark, data, name)
        val b = AnalyticSuite.runOne(spark, data, name)
        graft.SparkEntry.queries(name)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(name).toString)
        h.log(s"$name ${a.fp} ${a.fp == b.fp} ${b.constructMs + b.executeMs}")
        s"$name\t${a.fp}\t${a.fp == b.fp}\t${b.constructMs + b.executeMs}"
      } catch { case e: Throwable => h.log(s"$name failed: $e"); s"$name\tFAILED\tfalse\t0" }
    }
    Files.write(out.resolve("pins.tsv"), scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
    val oracle = graft.SparkEntry.oracleSql.map { case (k, v) => s"${Stats.jsonStr(k)}: ${Stats.jsonStr(v)}" }
    Files.writeString(out.resolve("oracle_sql.json"), oracle.mkString("{", ",\n", "}"))
    spark.stop()
  }
}
