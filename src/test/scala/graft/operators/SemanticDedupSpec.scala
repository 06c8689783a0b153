package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** SemanticDedup.clusters on hand-built vectors with known geometry:
  * two centroids split the space, similar-direction vectors group,
  * transitive chains close, and cross-cell near-parallel vectors do
  * NOT pair (the SemDeDup contract: blocking is by cell).
  */
class SemanticDedupSpec extends SparkTestBase {

  private val centroids = Seq(
    0 -> Array(1.0, 0.0, 0.0, 0.0),
    1 -> Array(0.0, 1.0, 0.0, 0.0))

  private def corpus(rows: (Long, Array[Float])*) = {
    val schema = StructType(Seq(
      StructField("vid", LongType),
      StructField("emb", ArrayType(FloatType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (id, v) => Row(id, v.toSeq) }),
      schema)
  }

  private def run(rows: (Long, Array[Float])*): Map[Long, (Long, Boolean)] =
    SemanticDedup.clusters(corpus(rows: _*), "vid", "emb", centroids, 0.9)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap

  test("parallel vectors in one cell cluster; orthogonal ones do not") {
    val out = run(
      1L -> Array(1f, 0.1f, 0f, 0f),    // cell 0
      2L -> Array(1f, 0.11f, 0f, 0f),   // cell 0, ~parallel to 1
      3L -> Array(1f, 0f, 0.9f, 0f),    // cell 0, far from 1/2
      4L -> Array(0f, 1f, 0f, 0f))      // cell 1, isolated
    assert(out(1L) == (1L, true))
    assert(out(2L) == (1L, false)) // dup of 1, dropped
    assert(out(3L) == (3L, true))
    assert(out(4L) == (4L, true))
  }

  test("transitive chains close: a~b, b~c => one cluster, min id kept") {
    // unit-ish vectors stepping 10 degrees apart in the (x, z) plane:
    // adjacent pairs are cos(10deg) ~ 0.985 >= 0.9, the ends are
    // cos(20deg) ~ 0.94 — all in cell 0, one cluster via transitivity
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, 0f, math.sin(r).toFloat, 0f)
    }
    val out = run(5L -> at(0), 6L -> at(10), 7L -> at(20))
    assert(out == Map(
      5L -> (5L, true), 6L -> (5L, false), 7L -> (5L, false)))
  }

  test("near-parallel vectors in DIFFERENT cells never pair") {
    // 44deg and 46deg off x toward y: cosine 0.9994 but they straddle
    // the cell boundary — blocking-by-cell means no comparison happens
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
    }
    val out = run(8L -> at(44), 9L -> at(46))
    assert(out == Map(8L -> (8L, true), 9L -> (9L, true)))
  }

  test("malformed vectors fail loudly instead of becoming kept singletons") {
    val e = intercept[IllegalArgumentException] {
      run(10L -> Array(1f, 0f, 0f, 0f), 11L -> Array(1f, 0f))
    }
    assert(e.getMessage.contains("failed centroid assignment"))
  }

  test("duplication law: an exact copy of every vector clusters with " +
    "its original and never becomes a keeper") {
    // threshold 0.95 exceeds the corpus's max genuine within-cell
    // cosine (~0.51 probed across SFs), so the ONLY pairs are
    // (original, copy): cos(v, v) = 1, same cell by determinism of
    // assignment. Every original keeps; every copy labels to its
    // original.
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("emb"))
    val n = 100000L
    val doubled = emb.union(
      emb.select((col("vid") + n).as("vid"), col("emb")))
    val cents = emb.orderBy("vid").limit(8).collect().zipWithIndex
      .map { case (r, i) =>
        (i, r.getSeq[Float](1).map(_.toDouble).toArray) }.toSeq
    val out = SemanticDedup.clusters(doubled, "vid", "emb", cents, 0.95)
      .cache()
    try {
      assert(out.filter(col("id") < n && !col("keep")).count() == 0,
        "an original lost keeper status to its own copy")
      assert(out.filter(col("id") >= n &&
        (col("keep") || col("cluster") =!= col("id") - n)).count() == 0,
        "a copy kept, or labelled to something other than its original")
    } finally out.unpersist()
  }

  test("graded slice sanity: clusters form and keeps are the min ids") {
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
    val cents = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
      .orderBy("vec_id").limit(16).collect().zipWithIndex
      .map { case (r, i) =>
        (i, r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      }.toSeq
    val out = SemanticDedup
      .clusters(emb, "vec_id", "embedding", cents, 0.4)
      .cache()
    try {
      assert(out.count() == emb.count()) // every vector labelled
      // a representative is always its own cluster, and every cluster's
      // representative is kept exactly once
      assert(out.filter(col("keep") && col("id") =!= col("cluster"))
        .count() == 0)
      val clusters = out.select("cluster").distinct().count()
      assert(out.filter(col("keep")).count() == clusters)
      // the threshold-0.4 pair set is non-trivial at sf0.001 (probed:
      // 24 pairs) so at least one non-singleton cluster must exist
      assert(out.filter(!col("keep")).count() > 0)
    } finally out.unpersist()
  }

  test("the guarded pair filter keeps exactly the pairs of " +
    "round(cosine, 6) >= t") {
    def exact(cos: Column, t: Double): Column = round(cos, 6) >= t
    // (id, predicate) for both forms, nulls kept: the filter drops a
    // null, but the two forms must agree on it as well
    def both(df: DataFrame, t: Double): (Seq[(Long, Option[Boolean])],
        Seq[(Long, Option[Boolean])]) = {
      val rows = df.select(col("id"),
        SemanticDedup.roundedAtLeast(col("cos"), t), exact(col("cos"), t))
        .collect().toSeq.sortBy(_.getLong(0))
      def at(i: Int) = rows.map(r =>
        r.getLong(0) -> Option(r.get(i)).map(_.asInstanceOf[Boolean]))
      (at(1), at(2))
    }

    // seeded vectors: near-copies of a few bases, so cosines crowd the
    // thresholds; each threshold set includes rounded cosines of actual
    // pairs and the next 6-decimal step above them
    val r = new scala.util.Random(7)
    val bases = Seq.fill(4)(Array.fill(8)(r.nextGaussian()))
    val vecs = (0 until 40).map { i =>
      i.toLong -> bases(i % 4).map(x => (x + 0.05 * r.nextGaussian()).toFloat)
    } ++ Seq(
      40L -> Array.fill(8)(0f),                      // zero vector: NaN
      41L -> Array(1f, 2f, 3f))                      // mismatched length
    val vs = corpus(vecs: _*)
    val pairs = vs.select(col("vid").as("ia"), col("emb").as("va"))
      .crossJoin(vs.select(col("vid").as("ib"), col("emb").as("vb")))
      .select((col("ia") * 100 + col("ib")).as("id"),
        Similarity.cosine(col("va"), col("vb")).as("cos"))
      .localCheckpoint()
    val cosines = pairs.select("cos").collect().map(_.get(0))
      .collect { case d: Double if !d.isNaN => d }
    assert(cosines.size > 1000)
    val near = cosines.sorted.reverse.take(400).grouped(57).map(_.head)
      .map(c => BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble).toSeq
    val ts = Seq(0.5, 0.9, 0.95, 0.99) ++ near ++ near.map(_ + 1e-6)
    for (t <- ts) {
      val (guarded, reference) = both(pairs, t)
      assert(guarded == reference, s"threshold $t")
    }
    assert(both(pairs, 0.9)._1.exists(_._2.contains(true)))
    // a NaN cosine (zero vector) passes both forms; a mismatched length
    // is a null cosine, null in both
    assert(both(pairs, 0.9)._1.toMap.apply(4001L).contains(true))
    assert(both(pairs, 0.9)._1.toMap.apply(4101L).isEmpty)

    // constructed cosines around t = 0.95: 0.9499995 rounds HALF_UP to
    // 0.95 and is kept, 0.94999949 is not; a null element nulls the
    // cosine; the guard itself sits at t - 1e-6
    val t = 0.95
    val built = spark.createDataFrame(Seq[(Long, Option[Double])](
      1L -> Some(t - 5e-7), 2L -> Some(t - 4.9e-7), 3L -> Some(t - 5.1e-7),
      4L -> Some(Math.nextUp(t)), 5L -> Some(t), 6L -> Some(t - 1e-6),
      7L -> Some(Math.nextDown(t - 1e-6)), 8L -> Some(Double.NaN),
      9L -> None, 10L -> Some(1.0), 11L -> Some(-1.0), 12L -> Some(t + 5e-7)))
      .toDF("id", "cos")
    val (guarded, reference) = both(built, t)
    assert(guarded == reference)
    assert(guarded.toMap == Map(1L -> Some(true), 2L -> Some(true),
      3L -> Some(false), 4L -> Some(true), 5L -> Some(true),
      6L -> Some(false), 7L -> Some(false), 8L -> Some(true), 9L -> None,
      10L -> Some(true), 11L -> Some(false), 12L -> Some(true)))
    // a null element in a vector gives a null cosine as well
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Seq[Any](1.0, null)))),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType)))))
      .select(col("id"), Similarity.cosine(col("v"), array(lit(1.0), lit(1.0)))
        .as("cos"))
    val (g, e) = both(withNull, t)
    assert(g == e && g == Seq(1L -> None))
  }
}
