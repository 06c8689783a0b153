package graft

/** Structural cap on bench creep: every inventory query must finish
  * within a per-query budget at sf0.01 on the 4-core test session, and
  * the whole inventory within a total budget. Round 2's regression
  * (single queries drifting 6-17x between rounds) would have been caught
  * here before a driver run ever saw it. Budgets are deliberately loose —
  * ~5x the observed values — so machine noise cannot flake the suite
  * while an accidental quadratic (or a lost broadcast, or a cache leak
  * compounding across the loop) still fails it.
  */
class BenchBudgetSpec extends SparkTestBase {

  // Budgets recalibrated for the round-14 materialize primitive (the
  // count()-era plans hid up to 10x of some queries' work): observed
  // worst is the FIRST query in sorted order (r01), which absorbs the
  // suite's JVM/codegen warmup — ~10s of its ~10.4s is warmup, and it
  // crossed a 12s cap once under mild contention. 20s still catches
  // the round-2-class 6-17x drift the spec exists for.
  private val perQueryBudgetSec = 20.0
  private val totalBudgetSec = 180.0

  test(s"every query stays under ${perQueryBudgetSec}s at sf0.01 " +
    s"(total under ${totalBudgetSec}s)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory, "sf0.01 testdata not present")
    val times = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // the graded primitive (full materialization) — a budget on the
      // count()-weakened plan would miss creep in the elided work
      Bench.materialize(fn(spark, dir))
      name -> (System.nanoTime() - t0) / 1e9
    }
    val total = times.map(_._2).sum
    val worst = times.sortBy(-_._2).take(5)
      .map { case (n, s) => f"$n=$s%.2fs" }.mkString(", ")
    info(f"total ${total}%.1fs over ${times.size} queries; slowest: $worst")
    val over = times.filter(_._2 > perQueryBudgetSec)
    assert(over.isEmpty,
      s"per-query budget exceeded: ${over.map { case (n, s) =>
        f"$n=$s%.2fs" }.mkString(", ")}")
    assert(total <= totalBudgetSec,
      f"inventory total $total%.1fs exceeds ${totalBudgetSec}s budget")
  }

  test("normalizedTotal deflates a congested canary segment and leaves " +
    "clean segments, retried queries, and failures alone") {
    // 6 queries, stride 2 -> segments {0,1} {2,3} {4,5}; canaries at the
    // start, before q2, before q4, and a closing sample. The canary spike
    // at position 2 brackets BOTH later segments: seg canary for {2,3} is
    // (0.3+1.5)/2 = 0.9 and for {4,5} is (1.5+0.3)/2 = 0.9, so every 3x
    // query rescales by 0.3/0.9 = 1/3 back to its clean cost.
    val canaries = Seq(0.3, 0.3, 1.5, 0.3)
    val results = Seq("a" -> 1.0, "b" -> 1.0, "c" -> 3.0, "d" -> 3.0,
      "e" -> 3.0, "f" -> 3.0)
    val n = Bench.normalizedTotal(results, Seq.empty, canaries, 2)
    assert(math.abs(n - 6.0) < 1e-9, n)
    // a retried query keeps min(first, retry) verbatim — no rescale
    val withRetry = Bench.normalizedTotal(results,
      Seq("c" -> ((3.0, 0.8))), canaries, 2)
    assert(math.abs(withRetry - (1.0 + 1.0 + 0.8 + 1.0 + 1.0 + 1.0)) < 1e-9,
      withRetry)
    // a failed retry (sentinel -1) falls back to the canary rescale
    val failedRetry = Bench.normalizedTotal(results,
      Seq("c" -> ((3.0, -1.0))), canaries, 2)
    assert(math.abs(failedRetry - 6.0) < 1e-9, failedRetry)
    // a failed QUERY's -1 sentinel passes through un-normalized
    val withFail = Bench.normalizedTotal(
      results.updated(0, "a" -> -1.0), Seq.empty, canaries, 2)
    assert(math.abs(withFail - (-1.0 + 5.0)) < 1e-9, withFail)
    // a flat series is the identity (normalized == raw total)
    val flat = Bench.normalizedTotal(results, Seq.empty,
      Seq(0.3, 0.3, 0.3, 0.3), 2)
    assert(math.abs(flat - 14.0) < 1e-9, flat)
    // ordinary canary noise (under the 1.5x congestion threshold) must
    // not deflate a clean run — only real congestion windows rescale
    val noisy = Bench.normalizedTotal(results, Seq.empty,
      Seq(0.30, 0.36, 0.33, 0.38), 2)
    assert(math.abs(noisy - 14.0) < 1e-9, noisy)
    // a single outlier-FAST canary must not drag the nominal down and
    // deflate a clean run (median nominal, not min)
    val fastOutlier = Bench.normalizedTotal(results, Seq.empty,
      Seq(0.30, 0.30, 0.15, 0.30), 2)
    assert(math.abs(fastOutlier - 14.0) < 1e-9, fastOutlier)
  }

  test("widenRetrySet re-measures exactly the queries above 1.5x their " +
    "clean nominal — skipping failures, already-retried queries, and " +
    "queries without a recorded nominal") {
    val nominals = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0)
    val results = Seq(
      "a" -> 1.4,   // within 1.5x nominal: left alone
      "b" -> 1.6,   // above: re-measure
      "c" -> 4.0,   // above but already retried by the outlier pass
      "d" -> -1.0,  // failed: sentinel must stay visibly wrong
      "e" -> 9.0)   // no nominal (new query this round): left alone
    assert(Bench.widenRetrySet(results, Set("c"), nominals) == Seq("b"))
    // without nominals (non-graded SF) the widened pass is empty
    assert(Bench.widenRetrySet(results, Set.empty, Map.empty) == Seq.empty)
    // order is deterministic (sorted) regardless of result order
    assert(Bench.widenRetrySet(
      Seq("z" -> 9.0, "b" -> 9.0), Set.empty,
      Map("z" -> 1.0, "b" -> 1.0)) == Seq("b", "z"))
  }

  test("uniformlySlow fires on a uniformly-moderate congestion window " +
    "(many 1.5-2.9x exceedances, no single outlier) and stays silent " +
    "on clean runs, sparse noise, and nominal-less inventories") {
    val nominals = (1 to 20).map(i => s"q$i" -> 1.0).toMap
    // the r10 residual: everything ~2x nominal, nothing crossing the
    // max(3x median, 2s) outlier threshold -> no halved retry, but the
    // widened pass must still fire
    val uniform = (1 to 20).map(i => s"q$i" -> 2.0)
    assert(Bench.uniformlySlow(uniform, nominals))
    // clean run: everything within noise of nominal
    val clean = (1 to 20).map(i => s"q$i" -> 1.1)
    assert(!Bench.uniformlySlow(clean, nominals))
    // sparse noise: a few uncorrelated crossers stay under minCount
    // (clean hosts measure 0-3; the calibration data is in the scaladoc)
    val sparse = (1 to 20).map(i =>
      s"q$i" -> (if (i <= 5) 2.0 else 1.0))
    assert(!Bench.uniformlySlow(sparse, nominals))
    // exactly minCount crossers fires; failures and nominal-less
    // queries never count
    val atThreshold = (1 to 20).map(i =>
      s"q$i" -> (if (i <= 6) 2.0 else 1.0))
    assert(Bench.uniformlySlow(atThreshold, nominals))
    val withFailures = (1 to 20).map(i => s"q$i" -> -1.0)
    assert(!Bench.uniformlySlow(withFailures, nominals))
    assert(!Bench.uniformlySlow(uniform, Map.empty))
  }

  test("needsAnotherRetry: measure once always, stop as soon as a " +
    "re-measurement lands within 1.5x nominal or fails, cap the tries") {
    assert(Bench.needsAnotherRetry(1.0, Seq.empty))          // first try
    assert(!Bench.needsAnotherRetry(1.0, Seq(1.2)))          // stable: stop
    assert(!Bench.needsAnotherRetry(1.0, Seq(1.5)))          // boundary: stop
    assert(Bench.needsAnotherRetry(1.0, Seq(2.0)))           // still hot
    assert(!Bench.needsAnotherRetry(1.0, Seq(2.0, 1.9)))     // cap at 2
    assert(!Bench.needsAnotherRetry(1.0, Seq(-1.0)))         // failure: stop
    assert(!Bench.needsAnotherRetry(1.0, Seq(2.0, -1.0)))
    // normalizedTotal treats a widened retry like any retried query:
    // the direct re-measurement wins over the canary inference
    val n = Bench.normalizedTotal(
      Seq("a" -> 1.0, "b" -> 5.0), Seq("b" -> ((5.0, 1.1))),
      Seq(0.3, 0.3), 2)
    assert(math.abs(n - 2.1) < 1e-9, n)
  }

  test("queryEmitOrder: heaviest clean nominal first, alphabetical " +
    "ties, nominal-less queries last alphabetically") {
    val results = Seq("c" -> 0.1, "a" -> 9.0, "b" -> 0.2, "d" -> 0.3)
    val nominals = Map("b" -> 2.0, "c" -> 2.0, "d" -> 5.0)
    assert(Bench.queryEmitOrder(results, nominals).map(_._1) ==
      Seq("d", "b", "c", "a"))
  }

  test("fitEntries keeps a greedy prefix within the budget and never " +
    "skips past the first non-fitting entry") {
    val es = Seq("aaaa", "bbbb", "cc", "dddddddd")
    // 5 + 5 = 10 fits a budget of 12; "cc" (3 more) does not
    assert(Bench.fitEntries(es, 12) == Seq("aaaa", "bbbb"))
    // "cc" would fit a budget of 13 but sits behind the cut — greedy
    // prefix only, so the emitted key set is a deterministic prefix of
    // the nominal ordering
    assert(Bench.fitEntries(es, 13) == Seq("aaaa", "bbbb", "cc"))
    assert(Bench.fitEntries(es, 0) == Seq.empty)
    assert(Bench.fitEntries(Seq.empty, 100) == Seq.empty)
  }

  test("totalLine stays inside the harness tail window with the full " +
    "150-query inventory, parses as JSON, and carries the heaviest " +
    "queries plus every congestion scalar") {
    import scala.jdk.CollectionConverters._
    // realistic shape: the actual inventory names + nominal highs
    val names = BenchNominals.sf01.keys.toSeq.sorted
    assert(names.size >= 140, s"expected the full inventory, ${names.size}")
    val results = names.map(n => n -> 1.234)
    val nominals = BenchNominals.forDir("/root/testdata/sf0.1")
    val retriesJson = (1 to 4).map(i =>
      s""""x6${i}_some_query_name":{"first":18.610,"retry":2.246}""")
      .mkString("{", ",", "}")
    val line = Bench.totalLine(results, nominals, 169.0, 0.441,
      0, 0, 1, retriesJson, 17, 13, suspect = true, 121.71, 121.71,
      "/root/testdata/sf0.1")
    assert(line.length <= 1800, s"line is ${line.length} chars")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(tree.get("metric").asText == "total")
    assert(tree.get("value").asDouble == 169.0)
    assert(tree.get("unit").asText == "sec")
    assert(tree.get("timed").asText == "materialize")
    assert(tree.get("suspect_congestion").asBoolean)
    assert(tree.get("adjusted_total").asDouble == 121.71)
    assert(tree.get("normalized_total").asDouble == 121.71)
    assert(tree.get("widened_retries").asInt == 13)
    assert(tree.get("retries").size == 4)
    val qs = tree.get("queries")
    val emitted = qs.fieldNames.asScala.toSeq
    // every emitted entry carries the measured value, at 2 decimals
    emitted.foreach(n => assert(qs.get(n).asDouble == 1.23, n))
    assert(emitted.size + tree.get("queries_omitted").asInt == names.size)
    // the emitted set is exactly the heaviest-nominal prefix — the
    // deterministic subset contract the low-core scaling run relies on
    val expectedOrder = Bench.queryEmitOrder(results, nominals).map(_._1)
    assert(emitted == expectedOrder.take(emitted.size))
    // substantial coverage: the window fits at least the top 50 (47 at
    // 3 decimals)
    assert(emitted.size >= 50, s"only ${emitted.size} entries fit")
    info(s"${emitted.size} of ${names.size} entries fit in ${line.length} chars")
    // scalars keep 3 decimals; entries drop trailing zeros, and a whole
    // second prints as an integer
    assert(line.contains("\"value\":169.000,"), line)
    val small = Bench.totalLine(Seq("a" -> 2.0, "b" -> 0.5, "c" -> 0.004,
      "d" -> 12.345, "e" -> -1.0), Map.empty, 14.849, 0.4, 0, 0, 0, "{}", 0,
      0, suspect = false, 14.849, 14.849, "sf")
    assert(small.contains(
      "\"queries\":{\"a\":2,\"b\":0.5,\"c\":0,\"d\":12.35,\"e\":-1}"), small)
  }
}
