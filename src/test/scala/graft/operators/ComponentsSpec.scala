package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def labelsOf(nodes: Seq[Long], edges: Seq[(Long, Long)]) =
    Components.minLabel(nodes.toDF("id"), edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("path, pair, and singleton resolve to min-id components") {
    val got = labelsOf(
      Seq(1L, 2L, 3L, 4L, 5L, 6L),
      Seq((1L, 2L), (2L, 3L), (5L, 6L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("a long path converges in logarithmic rounds (pointer jumping)") {
    // diameter 11: plain propagation needs 11 rounds; with the pointer
    // jump the label chain halves each round, so 6 rounds must suffice
    val n = 12L
    val got = Components.minLabel(
      (1L to n).toDF("id"),
      (1L until n).map(i => (i, i + 1)).toDF("a", "b"),
      maxIter = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L))
  }

  test("edge orientation and duplicate edges do not matter") {
    val a = labelsOf(Seq(1L, 2L, 3L), Seq((3L, 1L), (1L, 3L), (2L, 3L)))
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("canonicalByScore keeps the best-score doc per cluster, NOT the " +
    "min id; ties break to the smaller id; singletons keep themselves") {
    val labels = Components.minLabel(
      Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b"))
    val scores = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9), // cluster 1: 2 and 3 tie above 1
      (4L, 0.1), // singleton
      (5L, 0.5), (6L, 0.8)) // cluster 5: 6 wins despite larger id
      .toDF("id", "score")
    val out = Components.canonicalByScore(labels, scores, "id", "score")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out == Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      4L -> ((4L, true)),
      5L -> ((5L, false)), 6L -> ((5L, true))))
  }

  test("canonicalByScore refuses a scores frame whose columns collide " +
    "with its working names") {
    val labels = Seq((1L, 1L)).toDF("id", "cluster")
    intercept[IllegalArgumentException] {
      Components.canonicalByScore(
        labels, Seq((1L, 0.5, 9L)).toDF("id", "score", "cluster"),
        "id", "score")
    }
  }
}
