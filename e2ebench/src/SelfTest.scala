package e2ebench

import Stats.Op

/** Self-tests of the benchmark's own logic. They run at the start of every
  * benchmark run (a failure aborts the run before anything is measured)
  * and alone with `--selftest`. */
object SelfTest {

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"self-test failed: $what")

  def run(): Unit = {
    // percentile rule: nearest rank
    val xs = (1 to 100).map(_.toDouble)
    check(Stats.percentile(xs, 50) == 50.0, "p50 of 1..100 is 50")
    check(Stats.percentile(xs, 90) == 90.0, "p90 of 1..100 is 90")
    check(Stats.percentile(Seq(7.0), 90) == 7.0, "p90 of one sample is that sample")
    check(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0, "p50 ignores input order")
    check(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.0, "p50 of an even sample is the lower middle")
    check(scala.util.Try(Stats.percentile(Nil, 50)).isFailure, "empty sample is refused")
    // sample counts and latency metrics
    val ops = (1 to 120).map(i => Op("read", "r", i.toDouble, ok = true)) ++
      (1 to 10).map(i => Op("write", "w", 100.0 + i, ok = i != 3))
    val m = Harness.latencyMetrics(ops, 10.0).map(x => x.name -> x.value).toMap
    check(m("read_samples") == 120 && m("write_samples") == 10, "sample counts")
    check(m("read_p50_ms") == 60.0 && m("read_p90_ms") == 108.0, "read percentiles")
    check(m("ops_per_s") == 13.0, "ops per second counts every attempted op")
    // failed_frac: failed checks, non-2xx and exhausted 429 retries count
    check(math.abs(Stats.failedFrac(ops) - 1.0 / 130) < 1e-12, "one failed op in 130")
    var sleeps = List.empty[Long]
    val statuses = Iterator(429, 429, 200)
    val served = Stats.withShedRetry(3, ms => sleeps ::= ms)(() => (statuses.next(), "ok", 1L))
    check(served == ((200, "ok", 2)), "shed twice then served")
    check(sleeps == List(1000L, 1000L), "each retry waits its Retry-After")
    val shed = Stats.withShedRetry(2, _ => ())(() => (429, "busy", 1L))
    check(shed._1 == 429 && shed._3 == 3, "still shed after the retries")
    val logged = Seq(Op("read", "s", 2000.0, ok = true, sheds = 2),
      Op("read", "s", 2500.0, ok = shed._1 / 100 == 2, sheds = shed._3))
    check(Stats.failedFrac(logged) == 0.5, "an exhausted 429 fails its op")
    check(Harness.latencyMetrics(logged, 1.0).find(_.name == "read_p90_ms").get.value == 2500.0,
      "a shed-then-served request keeps its whole wait")
    // generator determinism: the same seed gives the same documents
    val a = Gen.companyFacts(11L, 3, 2, 2009, 15)
    check(a == Gen.companyFacts(11L, 3, 2, 2009, 15), "CompanyFacts JSON is a function of the seed")
    check(a != Gen.companyFacts(12L, 3, 2, 2009, 15), "another seed gives other facts")
    check(a != Gen.companyFacts(11L, 3, 3, 2009, 15), "another version gives other facts")
    // fingerprint: independent of row order and partitioning, sensitive to content
    val rows = (1 to 50).map(i => s"[$i,row$i,${i * 0.5}]")
    val fp = Stats.fingerprintOf(rows.iterator)
    check(fp == Stats.fingerprintOf(scala.util.Random.shuffle(rows).iterator), "row order")
    check(fp == Stats.fingerprintOf(rows.take(17).iterator) + Stats.fingerprintOf(rows.drop(17).iterator),
      "partitioning")
    check(fp != Stats.fingerprintOf(rows.updated(3, "[4,row4,2.5001]").iterator), "a changed value")
    check(fp != Stats.fingerprintOf((rows :+ rows.head).iterator), "a duplicated row")
    // interval union for the driver-only residual
    check(EngineProbe.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25.0, "interval union")
  }
}
