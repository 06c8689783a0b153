package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class TfIdfSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "apple banana apple cherry"),
    (2L, "banana cherry cherry cherry"),
    (3L, "apple date")).toDF("id", "text")

  test("tf, df and score compute the textbook values") {
    val out = TfIdf.topTerms(docs, "id", "text", 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // df: apple 2, banana 2, cherry 2, date 1; N = 3
    val idf2 = math.log(3.0 / 2.0)
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(out.contains((1L, "apple", 2L, 2L, r4(2 * idf2))))
    assert(out.contains((2L, "cherry", 3L, 2L, r4(3 * idf2))))
    assert(out.contains((3L, "date", 1L, 1L, r4(math.log(3.0)))))
  }

  test("top-k ranks by rounded score desc with term as tiebreak and " +
    "caps at k per document") {
    val out = TfIdf.topTerms(docs, "id", "text", 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: apple 2·ln1.5 beats banana/cherry 1·ln1.5
    assert(out(1L) == "apple")
    // doc 2: cherry 3·ln1.5 ≈ 1.2164 beats banana ≈ 0.4055
    assert(out(2L) == "cherry")
    // doc 3: date 1·ln3 ≈ 1.0986 beats apple 1·ln1.5
    assert(out(3L) == "date")
    assert(TfIdf.topTerms(docs, "id", "text", 2)
      .groupBy("id").count().collect().forall(_.getLong(1) <= 2))
  }

  test("terms present in every document score exactly zero, and ties " +
    "at zero break on term order") {
    val all = Seq((1L, "same text"), (2L, "same text")).toDF("id", "text")
    val out = TfIdf.topTerms(all, "id", "text", 2)
      .orderBy("id", "rn")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(4)))
    assert(out.forall(_._3 == 0.0))
    assert(out.map(_._2).toSeq == Seq("same", "text", "same", "text"))
  }

  test("hashedVec: unit-norm dim-sized vectors; token-less and " +
    "zero-idf docs dropped; the textbook weight lands in the right " +
    "bucket") {
    val fixture = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry cherry cherry"),
      (3L, "apple date"),
      (4L, ""), // token-less: no direction, must be dropped
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val out = TfIdf.hashedVec(fixture, "id", "text", 16)
      .collect().map(r =>
        r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"got ${out.keySet}")
    assert(out.values.forall(_.length == 16))
    out.values.foreach { v =>
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-6,
        s"not unit-norm: ${v.toSeq}")
    }
    // replay doc 3 by hand: two tokens, distinct buckets (unless they
    // collide — then one bucket with both weights), N = 5 docs
    def bucket(t: String): Int = {
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      (((h % 16) + 16) % 16).toInt
    }
    def microIdf(df: Long): Long =
      math.rint(math.log((5.0 + 1.0) / (df + 1.0)) * 1e6).toLong
    // df over the fixture: apple 2 (docs 1, 3), date 1 (doc 3)
    val wApple = 1L * microIdf(2)
    val wDate = 1L * microIdf(1)
    val (ba, bd) = (bucket("apple"), bucket("date"))
    val raw = Array.fill(16)(0.0)
    raw(ba) += wApple.toDouble
    raw(bd) += wDate.toDouble
    val n2 = raw.map(x => x * x).sum
    val want = raw.map(x => (x / math.sqrt(n2)).toFloat.toDouble)
    assert(out(3L).toSeq == want.toSeq,
      s"doc 3 vector mismatch:\n got ${out(3L).toSeq}\nwant ${want.toSeq}")
    // a corpus where every token appears in every doc has idf exactly
    // zero everywhere -> zero vectors -> ALL dropped, not NaN
    val flat = Seq((1L, "same text"), (2L, "same text")).toDF("id", "text")
    assert(TfIdf.hashedVec(flat, "id", "text", 8).count() == 0)
  }

  test("dense_vec_norm2 equals the declarative map assembly on seeded " +
    "sparse pairs, and rejects malformed buckets") {
    // the native is hashedVec's assembly; its executable spec is the
    // map_from_entries + sequence/element_at + index-ordered fold it
    // replaced — parity on 200 seeded sparse rows plus the edges
    val rnd = new scala.util.Random(44)
    val dim = 32
    val rows = (0 until 200).map { i =>
      val nnz = rnd.nextInt(dim + 1)
      val bs = rnd.shuffle((0 until dim).toList).take(nnz)
      (i.toLong, bs.map(b => (b, rnd.between(-1000000L, 1000000L))))
    }
    val df = rows.toDF("id", "pairs")
      .select(col("id"), col("pairs").cast(
        "array<struct<__b:int,__w:bigint>>").as("pairs"))
    val native = graft.functions.VectorFunctions
      .denseVecNorm2(col("pairs"), dim)
    val m = map_from_entries(col("pairs"))
    val declaredVec = transform(sequence(lit(0), lit(dim - 1)),
      i => coalesce(element_at(m, i), lit(0L)).cast("double"))
    val got = df.select(col("id"),
        native.getField("vec").as("nv"), native.getField("n2").as("nn"),
        declaredVec.as("dv"),
        aggregate(declaredVec, lit(0.0), (a, x) => a + x * x).as("dn"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Double](1) == r.getSeq[Double](3), s"vec @ ${r.get(0)}")
      assert(r.getDouble(2) == r.getDouble(4), s"n2 @ ${r.get(0)}")
    }
    // malformed: out-of-range bucket, null field, null input -> null
    val bad = Seq(
      (1L, Seq((dim, 5L))), (2L, Seq((-1, 5L)))).toDF("id", "pairs")
      .select(col("id"), col("pairs").cast(
        "array<struct<__b:int,__w:bigint>>").as("pairs"))
      .select(graft.functions.VectorFunctions
        .denseVecNorm2(col("pairs"), dim)).collect()
    bad.foreach(r => assert(r.isNullAt(0)))
    // a null struct FIELD must not silently read as bucket 0
    val nullField = spark.sql(
      """SELECT dense_vec_norm2(
           array(named_struct('b', CAST(NULL AS INT), 'w', 5L)), 8)""")
      .collect()(0)
    assert(nullField.isNullAt(0))
    // duplicate buckets ADD (documented sum semantics)
    val dup = Seq((1L, Seq((3, 2L), (3, 5L)))).toDF("id", "pairs")
      .select(col("pairs").cast("array<struct<__b:int,__w:bigint>>")
        .as("pairs"))
      .select(graft.functions.VectorFunctions
        .denseVecNorm2(col("pairs"), dim).getField("vec")).collect()(0)
      .getSeq[Double](0)
    assert(dup(3) == 7.0 && dup.sum == 7.0)
  }

  test("hashedVec output feeds the similarity stack directly: a seeded " +
    "near-dup text pair scores cosine 1 verbatim and above 0.9 diluted " +
    "on the real corpus") {
    // The contract that makes hashedVec useful: its (id, embedding)
    // output is EXACTLY the shape the ANN/dedup operators consume — no
    // glue beyond a rename. Seed guaranteed near-dups of a real doc and
    // score them with Similarity.cosine over the featurized corpus.
    // Two seeds, both regen-proof: 900000 is the donor VERBATIM (same
    // buckets, same tf, same idf -> the identical unit vector: cosine
    // exactly 1),
    // and 900001 is the donor doubled plus one nonsense token (pure tf
    // scaling normalizes away; the lone unseen token dilutes across 2x
    // the mass — a deterministic high-but-not-1 cosine). A single
    // appended token is NOT a safe seed here: on this corpus's short
    // docs its df=1 idf can rival the whole doc's common-token mass
    // and sink the pair below threshold.
    val real = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id").limit(50)
    val donor = real.orderBy("doc_id").limit(1).collect()(0)
    val donorId = donor.getLong(0)
    val dText = donor.getString(1)
    val seeded = real.unionByName(Seq(
      (900000L, dText),
      (900001L, dText + " " + dText + " zzqxveq")).toDF("doc_id", "text"))
    val vecs = TfIdf.hashedVec(seeded, "doc_id", "text", 64)
      .select(col("doc_id").as("id"), col("embedding").as("vec"))
    // direct cosine over the featurized vectors
    val byId = vecs.filter(col("id").isin(donorId, 900000L, 900001L))
    val sims = byId.select(col("id"), col("vec"))
      .crossJoin(byId.select(col("id").as("id2"), col("vec").as("vec2")))
      .filter(col("id") === donorId && col("id2") > 899999L)
      .select(col("id2"), round(Similarity.cosine(col("vec"), col("vec2")), 6))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sims(900000L) >= 0.999999, s"verbatim copy cos ${sims(900000L)}")
    assert(sims(900001L) > 0.9 && sims(900001L) < 1.0,
      s"diluted perturbation cos ${sims(900001L)}")
  }

  test("hashedVec: the md5 dial is hash-equal to a by-hand md5 bucket " +
    "replay, and reserved column names are refused") {
    val out = TfIdf.hashedVec(docs, "id", "text", 16, fastHash = false)
    assert(out.count() == 3)
    // the md5 bucket of a token is replayable without Spark
    def bucket(t: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 16).toInt
    }
    val nonzero = out.orderBy("id").collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).zipWithIndex
        .filter(_._1 != 0f).map(_._2).toSet).toMap
    // doc 3 = {apple, date}: its nonzero buckets are exactly those
    // tokens' md5 buckets (unless idf zeroed one — apple has df 2 < N)
    assert(nonzero(3L) == Set(bucket("apple"), bucket("date")))
    val ex = intercept[IllegalArgumentException] {
      TfIdf.hashedVec(docs.withColumnRenamed("text", "embedding"),
        "id", "embedding", 8)
    }
    assert(ex.getMessage.contains("reserves"))
  }
}
