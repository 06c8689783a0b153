package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.StaticSQLConf

/** Contract checks over the whole graded inventory: the flagship entry,
  * name/oracle consistency, and determinism (every query must produce the
  * identical result when run twice — the oracle hash-compare depends on
  * it).
  */
class QueriesSpec extends SparkTestBase {

  test("entry returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("approx_count_distinct lands within 5% of exact") {
    // independent of the query's own within_5pct attestation: recompute
    // approx and exact straight off the table
    val approx = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v).toDouble / v < 0.05,
        s"$k: approx=${approx(k)} exact=$v")
    }
    // and the graded row itself attests TRUE on every group
    val rows = SparkEntry.queries("s29_approx_distinct")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty && rows.forall(_.getBoolean(2)),
      rows.mkString(", "))
  }

  test("sample queries are run-to-run deterministic") {
    for (name <- Seq("s01_group_agg", "s24_tpch_q3", "x08_ann_bruteforce",
      "x13_events_sessionize")) {
      val a = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
      val b = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
      assert(a == b, s"$name not deterministic")
    }
  }

  test("a repeated round of the pipeline queries compiles no class: the " +
    "generated-class cache holds the round's working set") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt ==
      GraftSession.CodegenCacheEntries)
    // the five x* builders a pipeline benchmark round runs; together they
    // generate about 160 classes, more than Spark's default cap of 100,
    // so under that cap every round evicts and recompiles them all
    val round = Seq("x32_dedup_clusters", "x35_corpus_pipeline",
      "x45_semantic_dedup", "x57_cluster_canonical", "x86_text_retrieval")
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      round.foreach(n => Bench.materialize(SparkEntry.queries(n)(spark, sfDir)))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    pass()
    val again = pass()
    assert(again == 0, s"the second round compiled $again classes")
  }
}
