package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find training documents that share word
  * n-grams with an evaluation/benchmark corpus, the standard leakage
  * guard run before LLM pretraining (cf. the n-gram overlap filters
  * described in the GPT-3 and PaLM dataset papers).
  *
  * Flagging convention: a document is contaminated when
  * n_hits / n_grams >= tau AND n_hits >= 1, where n_grams counts the
  * doc's DISTINCT word n-grams and n_hits the distinct grams also
  * present in the eval corpus. tau = 0.0 degenerates to the strict
  * any-hit rule (one shared gram flags the doc); pipelines on noisy web
  * corpora typically run a small positive tau so that a single
  * boilerplate gram (a license line, a navigation string) does not
  * delete an otherwise-clean document.
  *
  * Scale shape at 100 TB:
  *  - both sides explode to n-grams map-side (a codegen'd
  *    transform+explode over the token array — no UDFs), and
  *    immediately reduce each gram to a 128-bit digest (two correlated
  *    xxhash64 draws, 16 fixed bytes — not a true 128-bit digest like
  *    the md5 it replaced, but far below the 64-bit birthday regime on
  *    natural-text grams, ample for equality-only use — minus the
  *    MessageDigest allocation and at
  *    half the bytes of the old 32-char hex form) so no raw n-gram
  *    string is ever shuffled (same never-shuffle-raw-text rule as
  *    Dedup.exact); the digest is internal equality-only — it never
  *    reaches the output, so the compiled non-cryptographic family is
  *    the right dial (Dedup.simhashNearDups' rule);
  *  - the training side's gram mass is exchanged ONCE, not twice: the
  *    (id, digest) rows are explicitly hash-partitioned on the id, and
  *    HashPartitioning(id) satisfies the clustered-distribution
  *    requirement of BOTH the per-doc distinct (grouping keys (id, g) —
  *    a partitioning on a subset of the keys co-locates every group)
  *    and the per-doc stats aggregate (grouping key id), so Catalyst
  *    inserts no further exchange between them. Trade-off (measured,
  *    round 10): repartition does NO map-side partial dedup, so this
  *    one exchange carries the raw, un-deduplicated gram mass — on
  *    duplicate-heavy boilerplate (each doc one phrase repeated 50x,
  *    ~50x intra-doc gram duplication) the old two-exchange shape,
  *    whose first exchange shipped deduped rows, edges ahead ~10%
  *    (SCALE.md round-10 `boilergrams`: 2.11s vs 2.34s), while on the
  *    real corpus the one-exchange shape stays ahead (0.85s vs 0.89s) —
  *    the single exchange stays: real corpora are the target and a
  *    ~10% corner penalty does not buy back an exchange.
  *    Round-9 measurement of the other alternatives: per-row
  *    array_distinct inside the doc's row removes the exchange entirely
  *    but evaluates O(grams^2) per doc on string arrays (1.5-2x slower
  *    end to end), and md5 inside a transform lambda runs interpreted
  *    (HOF lambdas don't codegen);
  *  - the eval side is a benchmark (10^3-10^5 docs — tiny next to the
  *    corpus), so after its distinct it is broadcast by AQE's size
  *    estimate. The join is NOT hint-forced: a pathological
  *    benchmark-larger-than-memory still plans as a shuffled hash join
  *    on the digest instead of OOMing the executors (the x25 lesson) —
  *    that fallback re-scatters the digest rows on g, surrendering the
  *    shared id-partitioning, the right trade when the broadcast would
  *    not fit;
  *  - `clean` necessarily scans the training corpus twice — once
  *    projecting grams for the flag computation and once projecting
  *    full rows for the anti-join output. Under lazy evaluation those
  *    are different projections of the same scan and cannot be merged
  *    without caching the corpus (not an option at 100 TB); that pass
  *    is inherent, not a plan defect.
  */
object Decontaminate {

  /** Output and internal working names the id column must not shadow
    * (the Repetition/Importance reserved-name rule: fail here with a
    * clear message, not later with an ambiguous-column analysis error).
    */
  private def requireIdCol(idCol: String): Unit =
    Seq("g", "g2", "gram", "hit", "n_hits", "n_grams", "hit_frac").foreach(c =>
      require(idCol != c, s"Decontaminate reserves column name '$c'"))

  /** Distinct 128-bit digests of the eval corpus's word n-grams (two
    * xxhash64 draws — see trainDigests for the dial rationale).
    */
  private def evalDigests(
      eval: DataFrame, textCol: String, n: Int): DataFrame =
    eval
      .select(explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .select(xxhash64(col("gram")).as("g"),
        xxhash64(lit(1), col("gram")).as("g2"))
      .distinct()

  /** Distinct (id, digest) pairs of the training corpus's word n-grams,
    * hash-partitioned on the id so the downstream per-doc aggregate
    * reuses this one exchange (see the scaladoc above).
    */
  private def trainDigests(
      train: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    train
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("g"),
        xxhash64(lit(1), col("gram")).as("g2"))
      .repartition(col(idCol))
      .dropDuplicates(idCol, "g", "g2")

  /** (id, n_hits): distinct contaminated n-grams per training document,
    * for every training doc sharing at least one word n-gram with
    * `eval`. Documents shorter than n tokens produce no grams (cannot
    * be flagged).
    */
  def overlapHits(
      train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    requireIdCol(idCol)
    trainDigests(train, idCol, textCol, n)
      .join(evalDigests(eval, textCol, n), Seq("g", "g2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** (id, n_grams, n_hits, hit_frac) for EVERY training document that
    * produced at least one gram — the per-doc evidence the fraction
    * threshold reads. hit_frac is one IEEE division of two exact
    * integer counts (correctly rounded, hence engine-reproducible).
    * Same plan as overlapHits with the digest join turned outer.
    */
  def overlapStats(
      train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    requireIdCol(idCol)
    trainDigests(train, idCol, textCol, n)
      .join(evalDigests(eval, textCol, n).withColumn("hit", lit(1L)),
        Seq("g", "g2"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .withColumn("hit_frac",
        col("n_hits").cast("double") / col("n_grams"))
  }

  /** The training corpus with every flagged document removed — the
    * pipeline's actual output. Strict any-hit rule (tau = 0.0).
    */
  def clean(
      train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    train.join(
      overlapHits(train, eval, idCol, textCol, n).select(idCol),
      Seq(idCol), "left_anti")

  /** Fraction-thresholded clean: remove documents whose contaminated
    * share of distinct grams reaches tau (and is at least one gram —
    * so tau = 0.0 equals the strict rule, not flag-everything). One
    * anti-join on the id.
    */
  def clean(
      train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int, tau: Double): DataFrame = {
    require(tau >= 0.0 && tau <= 1.0, "tau must be in [0, 1]")
    val flagged = overlapStats(train, eval, idCol, textCol, n)
      .filter(col("n_hits") >= 1 && col("hit_frac") >= tau)
      .select(idCol)
    train.join(flagged, Seq(idCol), "left_anti")
  }
}
