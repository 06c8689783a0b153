package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class QualitySelectSpec extends SparkTestBase {
  import spark.implicits._

  private def scored(rows: (Long, String, Double)*) =
    rows.toDF("id", "grp", "score")

  private def keeps(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.filter(col("keep")).select("id").collect().map(_.getLong(0)).toSet

  test("topFraction keeps the best tertile per group, ties at the cut " +
    "included") {
    // group a: 6 rows, ceil(6/3) = 2 -> cut = 2nd best = 0.8; the tie
    // at 0.8 rides along (3 kept). group b: 3 rows, cut = best-of-1.
    val out = QualitySelect.topFraction(scored(
      (1L, "a", 0.9), (2L, "a", 0.8), (3L, "a", 0.8),
      (4L, "a", 0.7), (5L, "a", 0.6), (6L, "a", 0.5),
      (7L, "b", 0.4), (8L, "b", 0.3), (9L, "b", 0.2)),
      "id", "score", "grp", 3)
    assert(keeps(out) == Set(1L, 2L, 3L, 7L))
  }

  test("groups smaller than the denominator keep their single best row") {
    val out = QualitySelect.topFraction(
      scored((1L, "solo", 0.1), (2L, "duo", 0.5), (3L, "duo", 0.6)),
      "id", "score", "grp", 3)
    assert(keeps(out) == Set(1L, 3L))
  }

  test("reserved working names fail loudly instead of colliding") {
    val e = intercept[IllegalArgumentException] {
      QualitySelect.topFraction(
        scored((1L, "a", 0.1)).withColumnRenamed("id", "cut"),
        "cut", "score", "grp", 3)
    }
    assert(e.getMessage.contains("reserves"))
  }

  private def budgeted(rows: (Long, Double, Long)*) =
    rows.toDF("id", "score", "tokens")

  test("selectByTokenBudget keeps the greedy (score desc, id) prefix " +
    "and splits the boundary score group by id") {
    // order: 3 (0.9, 10t), 1 (0.8, 10t), 2 (0.8, 10t), 4 (0.7, 10t)
    // budget 25 -> 3 and 1 fit (cum 20); 2 crosses (cum 30) -> dropped;
    // 4 is after the crossing -> dropped, NOT back-filled
    val out = QualitySelect.selectByTokenBudget(
      budgeted((1L, 0.8, 10L), (2L, 0.8, 10L), (3L, 0.9, 10L),
        (4L, 0.7, 10L)),
      "id", "score", "tokens", 25L)
    assert(keeps(out) == Set(3L, 1L))
    // the boundary score is reported on every row
    assert(out.select("cut").distinct().collect()
      .map(_.getDouble(0)).toSet == Set(0.8))
  }

  test("selectByTokenBudget: budget >= total keeps everything with a " +
    "NULL cut; budget 0 keeps only zero-token rows ahead of the " +
    "crossing") {
    val df = budgeted((1L, 0.9, 5L), (2L, 0.8, 5L))
    val all = QualitySelect.selectByTokenBudget(
      df, "id", "score", "tokens", 10L)
    assert(keeps(all) == Set(1L, 2L))
    assert(all.filter(col("cut").isNotNull).count() == 0)
    // a zero-token doc ahead of the crossing row still "fits" budget 0;
    // one after it does not (cum is already past the budget)
    val zero = QualitySelect.selectByTokenBudget(
      budgeted((1L, 0.9, 0L), (2L, 0.9, 5L), (3L, 0.9, 0L)),
      "id", "score", "tokens", 0L)
    assert(keeps(zero) == Set(1L))
  }

  test("selectByTokenBudget equals the single-window global prefix " +
    "rule on the graded corpus (boundary formulation == naive oracle)") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val sc = docs.select(col("doc_id"),
      round(TextAnalysis.qualityScore(
        col("text"), TextAnalysis.langMarkers("en")), 4).as("score"),
      size(split(col("text"), " ")).cast("long").as("tokens"))
    for (budget <- Seq(0L, 10000L, 40000L, 10000000L)) {
      val naive = sc.withColumn("cum",
        sum(col("tokens")).over(Window
          .orderBy(col("score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cum") <= budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val ours = QualitySelect.selectByTokenBudget(
        sc, "doc_id", "score", "tokens", budget)
      val kept = ours.filter(col("keep")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == naive, s"budget $budget")
      assert(ours.count() == sc.count(), s"budget $budget row count")
    }
  }

  test("selectByTokenBudget drops NULL score/token rows up front and " +
    "reserves its working names") {
    val withNulls = Seq[(Long, Option[Double], Option[Long])](
      (1L, Some(0.9), Some(5L)), (2L, None, Some(5L)),
      (3L, Some(0.8), None))
      .toDF("id", "score", "tokens")
    val out = QualitySelect.selectByTokenBudget(
      withNulls, "id", "score", "tokens", 100L)
    assert(out.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    val e = intercept[IllegalArgumentException] {
      QualitySelect.selectByTokenBudget(
        budgeted((1L, 0.1, 1L)).withColumnRenamed("id", "cut"),
        "cut", "score", "tokens", 10L)
    }
    assert(e.getMessage.contains("reserves"))
  }
}
