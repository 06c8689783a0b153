package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  /** minLabel with the driver closure ruled out: no edge list fits a
    * broadcast threshold of -1, so the distributed rounds run. Their
    * result is a checkpoint, so it is read inside the conf.
    */
  private def rounds(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25): (StructType, Seq[(Option[Long], Option[Long])]) =
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = Components.minLabel(nodes, edges, maxIter)
      assert(!closedOnDriver(df))
      df.schema -> rowsOf(df)
    }

  /** The rounds return their last checkpoint; the driver closure returns
    * a lazy plan over `nodes` and its local (vertex, root) relation.
    */
  private def closedOnDriver(df: DataFrame): Boolean =
    !df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  private def rowsOf(df: DataFrame): Seq[(Option[Long], Option[Long])] = {
    def long(r: Row, i: Int) = Option(r.get(i)).map(_.asInstanceOf[Number].longValue)
    df.collect().map(r => long(r, 0) -> long(r, 1)).toSeq.sorted
  }

  /** A seeded random graph meant to break every shortcut: clustered
    * edges among duplicated node ids, a null node id, self-loops,
    * duplicate and reversed edges, endpoints absent from `nodes` (some
    * smaller than every node id, some hanging off real nodes, some
    * forming components of their own) and null endpoints, with ids of
    * type `idType`.
    */
  private def randomGraph(seed: Int, idType: DataType): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val real = Seq.fill(20 + rnd.nextInt(30))(10L + rnd.nextInt(120))
    def some(xs: Seq[Long]) = xs(rnd.nextInt(xs.size))
    // absent from nodes, on both sides of the real ids
    val phantom = Seq.fill(6)(rnd.nextInt(10) + (if (rnd.nextBoolean()) 0L else 500L))
    val clustered = Seq.fill(real.size / 2)(some(real) -> some(real))
    val edges: Seq[(java.lang.Long, java.lang.Long)] =
      (clustered ++ clustered.take(4) ++ clustered.take(4).map(_.swap) ++
        Seq.fill(3)(some(real)).map(v => v -> v) ++
        Seq.fill(3)(some(real) -> some(phantom)) ++
        Seq.fill(3)(some(phantom) -> some(phantom)) ++
        Seq(some(phantom) -> some(phantom)).map(e => e.swap))
        .map { case (a, b) => (Long.box(a), Long.box(b)) } ++
        Seq((Long.box(some(real)), null), (null, Long.box(some(phantom))), (null, null))
    val nodes: Seq[java.lang.Long] =
      rnd.shuffle(real ++ real.take(5)).map(Long.box) :+ null
    def frame(rows: Seq[Row], names: String*) = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(names.map(StructField(_, LongType))))
      .select(names.map(n => col(n).cast(idType)): _*)
    (frame(nodes.map(Row(_)), "id"), frame(edges.map(e => Row(e._1, e._2)), "a", "b"))
  }

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
    val (_, got) = rounds(
      (1L to n).toDF("id"),
      (1L until n).map(i => (i, i + 1)).toDF("a", "b"),
      maxIter = 6)
    assert(got.map(_._2).toSet == Set(Some(1L)))
  }

  test("the rounds converge on a null node id beside a component of " +
    "endpoints absent from nodes") {
    // the null id's row once counted as a change every round, and the
    // stability probe never passes while (8, 9) has no labels
    val nodes = Seq(Some(1L), Some(2L), None).toDF("id")
    val edges = Seq((1L, 2L), (8L, 9L)).toDF("a", "b")
    val (_, got) = rounds(nodes, edges)
    assert(got == Seq(None -> None, Some(1L) -> Some(1L), Some(2L) -> Some(1L)))
    assert(rowsOf(Components.minLabel(nodes, edges)) == got)
  }

  test("the driver closure equals the distributed rounds on seeded random " +
    "graphs: phantom endpoints, self-loops, duplicates, nulls, INT and " +
    "BIGINT ids") {
    val graphs = for (seed <- 1 to 6; idType <- Seq(IntegerType, LongType))
      yield (s"seed $seed $idType", randomGraph(seed, idType))
    val (nodes1, edges1) = graphs.head._2
    for ((name, (nodes, edges)) <- graphs :+ ("no edges", (nodes1, edges1.limit(0)))) {
      val driver = Components.minLabel(nodes, edges)
      assert(closedOnDriver(driver), name)
      val (schema, want) = rounds(nodes, edges)
      assert(driver.schema.map(_.dataType) == schema.map(_.dataType), name)
      assert(rowsOf(driver) == want, name)
    }
  }

  test("the driver closure is chosen by the edge list's size against the " +
    "broadcast threshold: just under it closes on the driver, just over " +
    "it runs the rounds, and both equal the forced rounds") {
    // m undirected edges on a path are 2m symmetric rows of two BIGINTs
    def path(m: Long) = (1L to m + 3).toDF("id") ->
      (1L to m).map(i => (i, i + 1)).toDF("a", "b")
    val bound = 2 * 5 * 2 * LongType.defaultSize // the 10 rows of path(5)
    for ((m, onDriver) <- Seq(5L -> true, 6L -> false)) {
      val (nodes, edges) = path(m)
      val (_, want) = rounds(nodes, edges)
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> bound.toString) {
        val got = Components.minLabel(nodes, edges)
        assert(closedOnDriver(got) == onDriver, s"m = $m")
        assert(rowsOf(got) == want, s"m = $m")
      }
    }
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
