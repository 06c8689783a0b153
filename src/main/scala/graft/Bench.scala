package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
object Bench {

  /** The timed action for every benchmark surface here (Bench,
    * BenchBudgetSpec, perfbench): materialize EVERY output row,
    * discarding them executor-side — what a consumer writing the result
    * would pay, minus the sink. NOT `count()`: under count the optimizer
    * is free to elide exactly the work being benchmarked — pruned projections
    * turn a per-doc text pipeline into a bare scan-count, aggregate
    * pruning drops unreferenced aggregate expressions (measured: s29's
    * HLL sketch vanished, 0.56s vs 4.4s real), and a row-preserving
    * final left join against aggregated-unique keys disappears
    * entirely (x46/x47: flat 0.3s from 5k to 500k docs). The
    * count-vs-materialize audit recorded in SCALE.md round-14 found 18
    * of 109 queries over 2x hollow, ~17s of elided work at sf0.1.
    */
  def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** Canary-normalized inventory total. `adjusted_total` substitutes only
    * the retried outliers, so a congested run's NON-retried middle stays
    * inflated (rounds 7/8 both over-reported ~3s vs a clean judge rerun).
    * This scales every non-retried query by (nominal canary / its
    * segment's canary), where a query's segment is bracketed by the
    * canary run just before and just after it in the loop (query index i
    * under `stride` lives in segment i/stride, bracketed by canaries
    * s and s+1 — the series always carries a closing sample). The nominal
    * canary is the series MEDIAN — robust in both directions: a single
    * outlier-fast sample must not drag the nominal down and deflate a
    * clean run (observed: one 0.15s canary in an otherwise-0.26s series
    * would have "normalized" a clean 44s run to 33s under a min-based
    * nominal), and a minority of congestion-inflated samples cannot
    * raise it. A segment only rescales when its canary exceeds 1.5x
    * nominal — ordinary noise (±20% on a clean host) must not deflate a
    * clean total, while a genuine congestion window (measured 2-6x
    * canary inflation in rounds 2/6/7/8) is far past the threshold. If
    * MOST of a run is congested the median rises and this
    * under-corrects — the conservative failure mode. Retried queries
    * keep min(first, retry) — a direct re-measurement beats an
    * inference.
    */
  def normalizedTotal(results: Seq[(String, Double)],
      retried: Seq[(String, (Double, Double))], canaries: Seq[Double],
      stride: Int): Double = {
    require(stride >= 1 && canaries.nonEmpty)
    val best = retried.collect { case (n, (first, retry)) if retry >= 0 =>
      n -> math.min(first, retry) }.toMap
    val nominal = canaries.sorted.apply(canaries.size / 2)
    results.zipWithIndex.map { case ((name, t), i) =>
      best.get(name).getOrElse {
        if (t < 0) t // failure sentinel: stays visibly wrong
        else {
          val s = i / stride
          val before = canaries(math.min(s, canaries.size - 1))
          val after = canaries(math.min(s + 1, canaries.size - 1))
          val seg = (before + after) / 2
          if (seg > nominal * 1.5) t * (nominal / seg) else t
        }
      }
    }.sum
  }

  /** The widened-retry set for load-dependent congestion (the BENCH_r09
    * blind spot): a congestion window that hits only the heavy parallel
    * queries leaves the tiny fixed-work canary flat, so no segment
    * crosses the 1.5x threshold and normalizedTotal cannot correct the
    * inflated middle — rounds 7/8/9 all over-reported this way. When the
    * outlier pass has DIRECT evidence of congestion (a retry halving a
    * first-run time), stop inferring and re-measure: every successful,
    * not-already-retried query whose first run exceeded `factor` x its
    * recorded clean nominal gets re-run. Sorted for deterministic order.
    * Queries without a recorded nominal (new this round) just don't
    * participate — the manifest is a measurement aid, not a gate.
    */
  def widenRetrySet(results: Seq[(String, Double)],
      alreadyRetried: Set[String], nominals: Map[String, Double],
      factor: Double = 1.5): Seq[String] =
    results.collect { case (n, t) if t >= 0 && !alreadyRetried(n) &&
      nominals.get(n).exists(nom => t > nom * factor) => n }.sorted

  /** Retry-until-stable policy for one widened query: measure again
    * while every re-measurement so far is still above `factor` x the
    * nominal, up to `maxTries` re-measurements; a failed re-measurement
    * (sentinel < 0) stops immediately. The first call (no tries yet)
    * always measures once.
    */
  def needsAnotherRetry(nominal: Double, tries: Seq[Double],
      maxTries: Int = 2, factor: Double = 1.5): Boolean =
    !tries.exists(_ < 0) && (tries.isEmpty ||
      (tries.size < maxTries && tries.min > nominal * factor))

  /** Per-query entries for the FINAL total line, in emission order:
    * descending recorded clean nominal (ties and nominal-less queries
    * alphabetical). The driver's per-round PERF comparison reads the
    * total line's `queries` map, and that line must survive the
    * harness's fixed stdout tail window (2000 chars, measured across 22
    * driver rounds), so only the heaviest-nominal entries fit — the
    * ordering makes the chosen subset DETERMINISTIC for one binary
    * (nominal-driven, not measurement-driven), so the 32-core and
    * low-core driver runs emit the same key set and their per-query
    * scaling ratios line up.
    */
  def queryEmitOrder(results: Seq[(String, Double)],
      nominals: Map[String, Double]): Seq[(String, Double)] =
    results.sortBy { case (n, _) => (-nominals.getOrElse(n, 0.0), n) }

  /** Greedy prefix of `entries` whose rendered length (with a 1-char
    * separator each) stays within `budget`. Stops at the FIRST entry
    * that does not fit — a skip-and-continue would make the emitted key
    * set depend on name lengths deep in the tail for marginal gain.
    */
  def fitEntries(entries: Seq[String], budget: Int): Seq[String] = {
    var used = 0
    entries.takeWhile { e =>
      val cost = e.length + 1
      if (used + cost <= budget) { used += cost; true } else false
    }
  }

  /** Assemble the final total JSON line: every scalar the congestion
    * machinery produces, plus as many per-query entries as fit under
    * `lineBudget` chars (see queryEmitOrder/fitEntries for why there is
    * a budget at all). Pure so the line-length contract is unit-testable
    * without running the bench.
    *
    * The scalars keep 3 decimals. A per-query entry prints at most 2,
    * without trailing zeros (`1.234` as `1.23`, `2.0` as `2`): with
    * BenchBudgetSpec's line (four retries) 50 entries fit instead of 47.
    */
  def totalLine(results: Seq[(String, Double)],
      nominals: Map[String, Double], total: Double, canaryHead: Double,
      preGateWaits: Int, midGateWaits: Int, midGateHot: Int,
      retriesJson: String, retriesOmitted: Int, widenedCount: Int,
      suspect: Boolean, adjusted: Double, normalized: Double,
      sfDir: String, lineBudget: Int = 1800): String = {
    def f(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def short(v: Double): String = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).bigDecimal
      .stripTrailingZeros.toPlainString
    val head = s"""{"metric":"total","value":${f(total)},"unit":"sec"""" +
      s""","timed":"materialize","canary_sec":${f(canaryHead)}""" +
      s""","pre_gate_waits":$preGateWaits,"mid_gate_waits":$midGateWaits""" +
      s""","mid_gate_hot":$midGateHot,"retries":$retriesJson""" +
      s""","retries_omitted":$retriesOmitted""" +
      s""","widened_retries":$widenedCount""" +
      s""","suspect_congestion":$suspect,"adjusted_total":${f(adjusted)}""" +
      s""","normalized_total":${f(normalized)},"queries":{"""
    // reserve the worst-case closing segment ("}," + queries_omitted up
    // to 4 digits + sf) before fitting entries
    def close(omitted: Int) =
      s"""},"queries_omitted":$omitted,"sf":"$sfDir"}"""
    val fitted = fitEntries(
      queryEmitOrder(results, nominals)
        .map { case (n, t) => "\"" + n + "\":" + short(t) },
      lineBudget - head.length - close(9999).length)
    head + fitted.mkString(",") + close(results.size - fitted.size)
  }

  /** The OTHER congestion signature (VERDICT r10 nit 2): a uniformly-
    * moderate window inflates many queries 1.5-2.9x their clean nominal
    * without pushing ANY single one past the outlier threshold
    * (max(3x median, 2s) — the median itself rises with the tide), so
    * no retry ever halves and the direct-evidence trigger stays silent.
    * When at least `minCount` nominal-carrying queries sit above
    * `factor` x nominal, that many simultaneous exceedances is itself
    * the evidence — on a clean host the per-query noise that crosses
    * 1.5x is rare and uncorrelated (r10's two judge runs: 0 and 1
    * crossers of 106), so 6 concurrent crossers is far outside clean
    * behavior while still below what real windows produce (BENCH_r10's
    * congested run had 22; r11's mildest uncorrected ~20%-inflated run
    * had exactly 6 — the case this threshold is calibrated to catch —
    * while its ~10-15% runs had 2-3).
    */
  def uniformlySlow(results: Seq[(String, Double)],
      nominals: Map[String, Double], factor: Double = 1.5,
      minCount: Int = 6): Boolean =
    results.count { case (n, t) => t >= 0 &&
      nominals.get(n).exists(nom => t > nom * factor) } >= minCount

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .appName("graft-bench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm JIT + codegen caches on the tiny SF so the timed loop measures
    // the engine, not JVM startup. Most plans are the same at both scales,
    // so the timed loop reuses their generated classes from the cache,
    // which holds the whole inventory (GraftSession.CodegenCacheEntries).
    // Measured on a 4-core host: the warm-up compiles about 1,600 classes
    // and the first sf0.1 pass after it about 40 to 60; under Spark's
    // 100-entry cap that pass compiled about 2,290.
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val warmupStart = compiles()
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.foreach { case (name, fn) =>
        try materialize(fn(spark, warmDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name: ${e.getMessage}") }
      }
    val warmupCompiles = compiles() - warmupStart
    // Fixed-work canary: a 32-slice hash-sum whose cost depends only on
    // the machine's EFFECTIVE parallel throughput (clean local[32]
    // series land 0.26-0.31s — BenchNominals.canaryNominal). Rounds
    // 2/3 showed identical builds measuring 35s or 59s depending on host
    // congestion (a 32-way burn ran at half speed in the slow windows);
    // rounds 3/4 then showed the failure mode of a SINGLE start-of-run
    // canary: clean 0.34s canaries alongside 3.6x-inflated totals,
    // because the congestion window arrived MID-loop (different query
    // ranges inflated 5-22x in each run on identical binaries). So the
    // canary re-runs every `canaryStride` queries and the full series is
    // emitted — a reader can localize a congestion window to a segment of
    // the loop and normalize, instead of mistaking noisy-neighbor load
    // for a regression.
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    def runCanary(): Double = {
      val c0 = System.nanoTime()
      // pmod keeps the 64M-term sum under 2^46 — ANSI mode would throw on
      // a raw sum of full-range hashes
      spark.range(0, 64000000L, 1, 32)
        .select(sum(pmod(xxhash64(col("id")), lit(1000000L)))).collect()
      (System.nanoTime() - c0) / 1e9
    }
    // Stride 10 (was 15) narrows each canary segment so a short
    // congestion window is bracketed more tightly, and the pre-loop
    // gate below refuses to START the loop inside a busy window at
    // all: two consecutive driver rounds (r14, r15) began congested
    // (~19s of retry burn) while every quiet-host run landed in-band,
    // so waiting tens of seconds up front is strictly cheaper than
    // retrying mid-loop. Bounded: after `maxGateWaits` sleeps the run
    // proceeds regardless (a permanently-busy host still produces a
    // flagged, normalized number rather than no number).
    val canaryStride = 10
    // The canary nominal was measured at local[32] (the driver/judge
    // configuration); at fewer threads the fixed 32-slice work is
    // legitimately slower, so the gate only arms there — a dev-loop
    // local[4] run must not burn 2 minutes "waiting out" its own
    // thread count. SPARK_GRAFT_CANARY_NOMINAL overrides the
    // hand-maintained constant: a clean-but-slower 32-core host would
    // otherwise deterministically burn the full gate budget on every
    // run, and the constant silently drifts as hardware changes.
    val canaryNominal = sys.env.get("SPARK_GRAFT_CANARY_NOMINAL")
      .map { s =>
        val v =
          try s.toDouble
          catch { case _: NumberFormatException => sys.error(
            s"SPARK_GRAFT_CANARY_NOMINAL must be a number, got '$s'") }
        require(v > 0,
          s"SPARK_GRAFT_CANARY_NOMINAL must be > 0, got '$s' — a zero or " +
          "negative nominal makes every canary read hot and burns the " +
          "full gate budget deterministically")
        v
      }.getOrElse(BenchNominals.canaryNominal)
    val gateLimit =
      if (cpus.toInt >= 32) canaryNominal * 1.5
      else Double.MaxValue
    val maxGateWaits = 6
    var gateWaits = 0
    var preGateWaits = 0
    var midGateWaits = 0
    // Mid-loop re-arm (VERDICT r16: three consecutive driver rounds
    // were congestion-flagged because the window arrived MID-run,
    // after the pre-loop gate passed): every stride canary is itself
    // gated — a hot sample sleeps-and-rechecks on the SAME bounded
    // 6x20s budget before the next segment is timed, so first-run
    // numbers (what BENCH_r*.json archives) stop absorbing host noise.
    // The hot observations are kept in gateHot, keyed by the series
    // index the canary occupies, so the hot segment stays localizable
    // and correctable OFFLINE (emitting only the count threw that
    // information away); they also arm the widened pass — the
    // already-timed segment is re-MEASURED, not canary-inferred. The
    // recorded series entry is the post-wait sample, so the next
    // segment's bracket reflects the host state it actually ran under
    // (recording the hot sample would deflate the following CLEAN
    // segment by up to 2x). Hot evidence is recorded even when the
    // shared wait budget is already exhausted (the persistently-
    // congested case burns the budget FIRST, exactly when suppressing
    // the evidence would be worst) and for the closing post-loop
    // sample, which never sleeps — no further segment is timed, so its
    // waits would gate nothing.
    val gateHot =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var seriesIdx = 0
    def gatedCanary(label: String): Double = {
      var c = runCanary()
      while (c > gateLimit && label != "post-loop" &&
          gateWaits < maxGateWaits) {
        if (label == "mid-loop") gateHot += ((seriesIdx, c))
        System.err.println(f"[bench] $label canary $c%.3fs > " +
          f"$gateLimit%.3fs (1.5x clean nominal) — host busy, waiting " +
          s"20s (${gateWaits + 1}/$maxGateWaits)")
        Thread.sleep(20000)
        gateWaits += 1
        if (label == "mid-loop") midGateWaits += 1 else preGateWaits += 1
        c = runCanary()
      }
      // Still hot on exit: post-loop (never sleeps), or the budget ran
      // out. Either way queries were / will be timed under congestion —
      // the evidence must arm the widened pass. A pre-loop canary that
      // cleared inside the budget records nothing (the run starts clean).
      if (c > gateLimit) gateHot += ((seriesIdx, c))
      seriesIdx += 1
      c
    }
    val canaries =
      scala.collection.mutable.ArrayBuffer(gatedCanary("pre-loop"))
    // A failing query must not masquerade as a fast success: log it and
    // record a sentinel -1.0 so the JSON total goes visibly wrong.
    // Fixed sorted order: deterministic run-to-run and round-to-round, so
    // per-query deltas are comparable and any cross-query interference
    // (cache pressure, GC) hits the same neighbors every time.
    val loopStart = compiles()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((name, fn), i) =>
        if (i > 0 && i % canaryStride == 0) canaries += gatedCanary("mid-loop")
        val t0 = System.nanoTime()
        val elapsed =
          try { materialize(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
          }
        name -> elapsed
      }
    val loopCompiles = compiles() - loopStart
    canaries += gatedCanary("post-loop")
    // Outlier re-run: round 6's driver number was distorted 47x on ONE
    // unchanged query by a mid-loop congestion window that the stride-15
    // canary straddled (canaries at positions 60/75 looked clean while
    // x14 at position 73 ate 11s). Any query that took > max(3x the loop
    // median, 2s) gets ONE immediate re-run; the total line then carries
    // {first, retry} per outlier plus a suspect_congestion flag, so a
    // noisy number self-identifies without a judge rerun. `value` stays
    // the first-run sum (round-over-round comparable);
    // adjusted_total replaces each outlier with min(first, retry).
    val positive = results.map(_._2).filter(_ >= 0).sorted
    val median = if (positive.nonEmpty) positive(positive.size / 2) else 0.0
    val threshold = math.max(3 * median, 2.0)
    val retried = results.filter(_._2 > threshold).sortBy(-_._2).take(8)
      .map { case (name, first) =>
        val t0 = System.nanoTime()
        val retry =
          try { materialize(SparkEntry.queries(name)(spark, sfDir))
            (System.nanoTime() - t0) / 1e9 }
          catch { case scala.util.control.NonFatal(_) => -1.0 }
        name -> ((first, retry))
      }
    val halvedRetry = retried.exists { case (_, (first, retry)) =>
      retry >= 0 && retry < first / 2 }
    // Widened pass (the BENCH_r09 blind spot): when there is evidence of
    // congestion, re-measure everything above 1.5x its recorded clean
    // nominal instead of trusting the flat canaries — load-dependent
    // congestion inflates the heavy queries while the tiny canary stays
    // flat, so normalization alone cannot see it. Evidence is either
    // DIRECT (a retry halved a first-run time) or DISTRIBUTIONAL (many
    // queries moderately over nominal at once — the uniform window that
    // fires no single outlier, see uniformlySlow).
    val nominals = BenchNominals.forDir(sfDir)
    // a gate observing a hot canary (mid-loop, budget-exhausted, or
    // post-loop) is direct evidence the host was congested while
    // queries were being timed — arm the widened pass
    val suspect = halvedRetry || uniformlySlow(results, nominals) ||
      gateHot.nonEmpty
    val widened: Seq[(String, (Double, Double))] =
      if (!suspect) Seq.empty
      else widenRetrySet(results, retried.map(_._1).toSet, nominals)
        .map { name =>
          val first = results.collectFirst { case (`name`, t) => t }.get
          val tries = scala.collection.mutable.ArrayBuffer.empty[Double]
          while (needsAnotherRetry(nominals(name), tries.toSeq)) {
            val t0 = System.nanoTime()
            // NonFatal only: an OOM or interrupt must fail the bench
            // run, not be recorded as a "failed query" sentinel
            tries +=
              (try { materialize(SparkEntry.queries(name)(spark, sfDir))
                (System.nanoTime() - t0) / 1e9 }
              catch { case scala.util.control.NonFatal(_) => -1.0 })
          }
          val good = tries.filter(_ >= 0)
          name -> ((first, if (good.nonEmpty) good.min else -1.0))
        }
    val allRetried = retried ++ widened
    def f(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val adjusted = results.map { case (n, t) =>
      allRetried.collectFirst { case (`n`, (first, retry)) if retry >= 0 =>
        math.min(first, retry) }.getOrElse(t)
    }.sum
    // The harness captures only the LAST 2000 chars of stdout (measured:
    // every BENCH_r01-r21 archive carries a tail of exactly 2000 chars).
    // With 150 queries the full per-query map alone is ~4.5k chars, so a
    // single line with the total at its head gets its head cut off
    // (rounds 1 AND 2 both produced parsed:null this way). Three lines,
    // least-critical first:
    //   1. the FULL per-query map (humans / gen_nominals read the log);
    //   2. bench_diag: the bulky congestion diagnostics (canary series,
    //      gate-hot samples, the full retry map) that rounds 1-21 carried
    //      on the total line — moved here to make room on the final line;
    //   3. the total line, which must survive the tail window COMPLETE:
    //      every congestion scalar plus as many per-query entries as fit
    //      under the line budget, heaviest clean-nominal first (VERDICT
    //      r21 item 1: the driver's PERF comparison reads the total
    //      line's `queries` map, and an empty map left it blind to
    //      per-query regressions every round).
    // canary_sec stays the start-of-run value (round-over-round
    // comparable with BENCH_r02-r04); canaries_sec is the full series,
    // one per `canaryStride` queries plus a closing sample — flat series
    // = clean host; a spike localizes congestion to that loop segment.
    val diagShown = allRetried.sortBy(-_._2._1).take(24)
    val diagRetriesJson = diagShown.map { case (n, (first, retry)) =>
      "\"" + n + "\":{\"first\":" + f(first) + ",\"retry\":" + f(retry) + "}"
    }.mkString("{", ",", "}")
    // the total line keeps the 4 largest retries inline (direct
    // congestion evidence — a retry halving a first run — stays readable
    // from the parsed line alone); the rest ride bench_diag
    val shown = allRetried.sortBy(-_._2._1).take(4)
    val retriesJson = shown.map { case (n, (first, retry)) =>
      "\"" + n + "\":{\"first\":" + f(first) + ",\"retry\":" + f(retry) + "}"
    }.mkString("{", ",", "}")
    val omitted = allRetried.size - shown.size
    val cs = canaries.map(f).mkString("[", ",", "]")
    // normalized_total additionally rescales the NON-retried queries by
    // each loop segment's canary (see normalizedTotal) — the number a
    // congested run would have produced on a clean host
    val normalized =
      normalizedTotal(results, allRetried, canaries.toSeq, canaryStride)
    println(s"""{"metric":"per_query","queries":$qs,"sf":"$sfDir"}""")
    // gate_hot_samples carries the VALUES, keyed by the series index of
    // the canary that observed them (ADVICE r17: a count alone makes the
    // hot segment impossible to localize or correct offline)
    val hotJson = gateHot
      .map { case (idx, v) => s"[$idx,${f(v)}]" }.mkString("[", ",", "]")
    println(s"""{"metric":"bench_diag","canary_stride":$canaryStride,"canaries_sec":$cs,"gate_hot_samples":$hotJson,"retries":$diagRetriesJson,"retries_omitted":${allRetried.size - diagShown.size},"warmup_compiles":$warmupCompiles,"loop_compiles":$loopCompiles,"sf":"$sfDir"}""")
    // "timed" self-identifies the round-14 primitive change (count ->
    // full materialization): totals are NOT comparable with rounds <= 13,
    // which benchmarked the count()-weakened plans (~17s less work)
    println(totalLine(results, nominals, total, canaries.head,
      preGateWaits, midGateWaits, gateHot.size, retriesJson, omitted,
      widened.size, suspect, adjusted, normalized, sfDir))
    spark.stop()
  }
}
