package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The injected optimizer rule must turn the natural abs-range join into
  * a hash join with identical results.
  */
class IntervalJoinRewriteSpec extends SparkTestBase {

  private val W = 600000000L // ±10 min in µs

  private def purchases = graft.Tables.load(spark, sfDir, "events")
    .filter(col("event_type") === "purchase")
    .select(col("event_id").as("pid"), col("user_id").as("pu"),
      unix_micros(col("ts")).as("pus"))

  private def clicks = graft.Tables.load(spark, sfDir, "events")
    .filter(col("event_type") === "click")
    .select(col("event_id").as("cid"), col("user_id").as("cu"),
      unix_micros(col("ts")).as("cus"))

  private def naturalJoin = purchases.join(clicks,
    col("pu") === col("cu") && abs(col("pus") - col("cus")) <= W)

  test("natural abs-range join is rewritten away from nested loop") {
    val plan = naturalJoin.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("__ij_cell"), s"rewrite did not fire:\n$plan")
  }

  test("rewritten join returns exactly the un-rewritten rows") {
    val withRule = naturalJoin.select("pid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the same band as two one-sided bounds: three conjuncts and no
    // abs, so the rule does not match and Spark plans it unchanged
    val reference = purchases.join(clicks, col("pu") === col("cu") &&
      col("pus") - col("cus") <= W && col("cus") - col("pus") <= W)
    val refPlan = reference.queryExecution.executedPlan.toString
    assert(!refPlan.contains("__ij_cell"), s"reference was rewritten:\n$refPlan")
    val without = reference.select("pid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withRule == without)
    assert(withRule.nonEmpty)
  }

  test("rule leaves unrelated joins alone") {
    val o = graft.Tables.load(spark, sfDir, "orders")
    val c = graft.Tables.load(spark, sfDir, "customer")
    val plan = o.join(c, col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("__ij_cell"))
  }

  test("fires regardless of conjunct order (range first, equality second)") {
    val rangeFirst = purchases.join(clicks,
      abs(col("pus") - col("cus")) <= W && col("pu") === col("cu"))
    val plan = rangeFirst.queryExecution.executedPlan.toString
    assert(plan.contains("__ij_cell"), s"rewrite must not depend on conjunct order:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("strict inequality and flipped operand order also fire") {
    // abs(b - a) <= w with sides swapped inside the subtraction
    val flipped = purchases.join(clicks,
      col("pu") === col("cu") && abs(col("cus") - col("pus")) <= W)
    val plan = flipped.queryExecution.executedPlan.toString
    assert(plan.contains("__ij_cell"), plan)
  }
}
