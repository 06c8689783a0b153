package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  /** Corpus with planted near/exact duplicates: base docs from testdata
    * plus copies with small token edits.
    */
  private lazy val planted = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 60).select("doc_id", "text")
    val exact = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000).as("doc_id"), col("text"))
    val near = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 2000).as("doc_id"),
        concat(col("text"), lit(" extra token")).as("text"))
    base.union(exact).union(near)
  }

  test("exact dedup groups identical texts and keeps the min id") {
    val groups = Dedup.exact(planted, "doc_id", "text")
    val dups = groups.filter(col("n_copies") > 1).collect()
    assert(dups.length == 5)
    assert(dups.forall(_.getAs[Long]("keep_id") < 5))
    // total mass preserved
    assert(groups.agg(sum("n_copies")).collect()(0).getLong(0) ==
      planted.count())
  }

  test("minhash-LSH finds every exact and near duplicate pair") {
    val pairs = Dedup.minhashNearDups(planted, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach { i =>
      assert(pairs.contains((i, i + 1000)), s"missed exact dup $i")
      assert(pairs.contains((i, i + 2000)), s"missed near dup $i")
    }
  }

  test("minhash candidates have high recall vs exact shingle-Jaccard >= 0.7") {
    // ground truth in the space minhash actually estimates: Jaccard over
    // 3-shingle sets (unigram sets are useless here — the synthetic corpus
    // shares one small vocabulary, so unigram Jaccard is high everywhere)
    val sh = planted.select(col("doc_id").as("id"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("s"))
    val truth = sh.toDF("id_a", "sa")
      .join(sh.toDF("id_b", "sb"), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb")))).as("j"))
      .filter(col("j") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.minhashCandidates(planted, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = truth.count(cands.contains)
    assert(truth.nonEmpty, "expected some true near-dup pairs")
    assert(hit.toDouble / truth.size >= 0.9,
      s"recall ${hit.toDouble / truth.size} over ${truth.size} true pairs")
  }

  test("simhash: identical docs collide, near dups are close, " +
    "unrelated docs are far") {
    val sigs = planted.select(col("doc_id"),
      Dedup.simhash(col("text")).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    (0L until 5L).foreach { i =>
      assert(ham(sigs(i), sigs(i + 1000)) == 0)
      assert(ham(sigs(i), sigs(i + 2000)) <= 8)
    }
  }

  test("simhashNearDups returns exactly the planted families at k<=8") {
    val pairs = Dedup.simhashNearDups(planted, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach { i =>
      assert(pairs.contains((i, i + 1000)))
    }
  }

  test("simhashNearDups equals the exact Hamming ball (pigeonhole " +
    "blocking is complete for the declared radius)") {
    val sigs = planted.select(col("doc_id"),
      graft.functions.SketchFunctions.simhash64(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (radius <- Seq(2, 6, 10)) {
      val want = (for {
        (ia, sa) <- sigs
        (ib, sb) <- sigs
        if ia < ib && ham(sa, sb) <= radius
      } yield (ia, ib)).toSet
      val got = Dedup.simhashNearDups(planted, "doc_id", "text", radius)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"radius $radius: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("hot bucket streams: 400 identical docs yield all C(400,2) pairs " +
    "without building the pair set as one value") {
    // every doc identical -> every band maps all 400 ids to ONE bucket;
    // the streamed pair generation must emit all 79800 ordered pairs
    // (the array-building formulation would have assembled an 8x-duplicated
    // 638400-struct value per band here, and at corpus scale would OOM)
    val n = 400
    val hot = (0 until n)
      .map(i => (i.toLong, "the same document body repeated verbatim " +
        "across the whole crawl with enough tokens to shingle"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(hot, "doc_id", "text")
    assert(cands.count() == n.toLong * (n - 1) / 2)
    // a<b orientation holds for every emitted pair
    assert(cands.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("simhashNearDups excludes zero-token documents (no signature-0 " +
    "pairing between empty / all-space docs)") {
    // two empty-ish docs would both sketch to 0 and emit a hamming-0
    // pair, while a token-exploding oracle never sees them — the engine
    // drops them pre-sketch so both sides agree by construction
    val degen = planted.select(col("doc_id"), col("text"))
      .union(Seq((9001L, ""), (9002L, "   "), (9003L, " ")
      ).toDF("doc_id", "text"))
    val pairs = Dedup.simhashNearDups(degen, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists { case (a, b) => a >= 9000L || b >= 9000L },
      s"zero-token docs paired: ${pairs.filter(p => p._1 >= 9000L || p._2 >= 9000L)}")
    // same exclusion on the md5-60 graded variant
    val md5Pairs = Dedup.simhashMd5NearDups(degen, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!md5Pairs.exists { case (a, b) => a >= 9000L || b >= 9000L })
  }

  test("shingles produce n-k+1 grams and empty below k") {
    val df = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1).isEmpty)
  }

  test("charNgrams: n-L+1 distinct grams, empty below n") {
    val df = Seq("abcd", "ab", "aaaa").toDF("t")
      .select(Dedup.charNgrams(col("t"), 3).as("g"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("abc", "bcd"))
    assert(rows(1).isEmpty)
    assert(rows(2) == Seq("aaa")) // distinct
  }

  test("charNgramJaccard: identical=1, disjoint=0, order-insensitive-ish") {
    val df = Seq(("abcabc", "abcabc", "xyzxyz")).toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.charNgramJaccard(col("t1"), col("t2"), 3),
      Dedup.charNgramJaccard(col("t1"), col("t3"), 3)).collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("crossDocDupFraction: copied spans count, unique text does not, " +
    "short docs score 0") {
    // d1/d2 share the 5-gram span "p q r s t" (d2 embeds it in fresh
    // text); d3 is fully unique; d4 is too short for any 5-gram
    val docs = Seq(
      (1L, "p q r s t u v w"),
      (2L, "x1 x2 p q r s t x3 x4"),
      (3L, "m1 m2 m3 m4 m5 m6"),
      (4L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.crossDocDupFraction(docs, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // d1: grams pqrst,qrstu,rstuv,stuvw -> only pqrst repeats elsewhere
    assert(out(1L) == (4L, 1L, 0.25))
    // d2: 5 grams, only pqrst shared
    assert(out(2L) == (5L, 1L, 0.2))
    assert(out(3L) == (2L, 0L, 0.0))
    assert(out(4L) == (0L, 0L, 0.0))
  }

  test("crossDocDupFraction: exact duplicate docs score 1.0 and " +
    "within-doc repeats alone score 0") {
    val docs = Seq(
      (1L, "c1 c2 c3 c4 c5 c6"),
      (2L, "c1 c2 c3 c4 c5 c6"), // full copy of 1
      // repeats its own 5-gram twice but shares nothing across docs
      (3L, "r1 r2 r3 r4 r5 r1 r2 r3 r4 r5")).toDF("doc_id", "text")
    val out = Dedup.crossDocDupFraction(docs, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 1.0)
    assert(out(2L) == 1.0)
    assert(out(3L) == 0.0)
  }

  test("crossDocDupFraction law: duplicating the whole corpus drives " +
    "every doc with grams to exactly 1.0") {
    // every gram then exists in the doc's copy -> df >= 2 for all grams
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 100)
    val doubled = base.union(
      base.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val out = Dedup.crossDocDupFraction(doubled, "doc_id", "text", 5)
    assert(out.filter(col("n_grams") > 0 && col("dup_frac") =!= 1.0)
      .count() == 0)
    assert(out.filter(col("n_grams") > 0).count() > 0)
  }

  test("jaccard is 1 for identical, 0 for disjoint token sets") {
    val df = Seq(("a b c", "a b c", "x y z")).toDF("t1", "t2", "t3")
    val r = df.select(DedupSpec.jaccard(col("t1"), col("t2")),
      DedupSpec.jaccard(col("t1"), col("t3"))).collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("minhashNearDupsAgainst finds every planted cross-corpus dup and " +
    "emits NO intra-side pairs") {
    // corpus = originals; incoming = their exact and near copies. Every
    // copy must pair with its original; the exact copy of doc i and the
    // near copy of doc i are near-dups OF EACH OTHER too, but both live
    // on the incoming side — the cross form must not report them.
    val corpus = planted.filter(col("doc_id") < 60)
    val incoming = planted.filter(col("doc_id") >= 1000)
    val pairs = Dedup.minhashNearDupsAgainst(
      corpus, incoming, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach { i =>
      assert(pairs.contains((i + 1000, i)), s"missed exact ingest dup $i")
      assert(pairs.contains((i + 2000, i)), s"missed near ingest dup $i")
    }
    assert(pairs.forall { case (n, o) => n >= 1000 && o < 60 },
      s"intra-side pair leaked: $pairs")
  }

  test("minhashNearDupsAgainst equals the self-form's cross-side slice " +
    "(split formulation loses no pairs)") {
    val corpus = planted.filter(col("doc_id") < 60)
    val incoming = planted.filter(col("doc_id") >= 1000)
    val self = Dedup.minhashNearDups(planted, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // self emits (a < b); orient its cross-side subset as (new, old)
    val crossFromSelf = self.collect {
      case (a, b) if a < 60 && b >= 1000 => (b, a)
      case (a, b) if b < 60 && a >= 1000 => (a, b)
    }
    val cross = Dedup.minhashNearDupsAgainst(
      corpus, incoming, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross == crossFromSelf)
  }

  test("minhashNearDupsAgainst: an empty incoming batch yields no rows") {
    val corpus = planted.filter(col("doc_id") < 60)
    assert(Dedup.minhashNearDupsAgainst(
      corpus, corpus.filter(col("doc_id") < 0), "doc_id", "text", 0.6)
      .count() == 0)
  }

  test("blockedJaccardPairs equals the per-pair-text formulation on " +
    "seeded corpora") {
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    // null and empty text, repeated and empty tokens, a one-document
    // block ("solo"), a null block key, and a pair at exactly 0.5:
    // {a, b} against {a, b, c, d}
    val fixed = Seq[(Long, String, String)](
      (0L, null, "en"), (1L, "", "en"), (2L, "", "en"), (3L, "a  a", "en"),
      (4L, "a a a b", "en"), (5L, "b a", "en"), (6L, "a b", "xx"),
      (7L, "a b c d", "xx"), (8L, "a b", "solo"), (9L, "a b", null),
      (10L, "a b", null))
    def corpus(seed: Int): Seq[(Long, String, String)] = {
      val r = new scala.util.Random(seed)
      fixed ++ (0 until 60).map { i =>
        val text = Seq.fill(r.nextInt(6))(vocab(r.nextInt(vocab.size)))
          .mkString(" ")
        (100L + i, text, Seq("en", "fr", "de")(r.nextInt(3)))
      }
    }
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    for (seed <- 1 to 4; t <- Seq(0.0, 0.5, 0.8)) {
      val docs = corpus(seed).toDF("doc_id", "text", "lang")
      val got = rows(Dedup.blockedJaccardPairs(docs, "doc_id", "text",
        "lang", t))
      val want = rows(DedupSpec.blockedJaccardPairsPerPair(docs, "doc_id",
        "text", "lang", t))
      assert(got == want, s"seed $seed, threshold $t")
      assert(got.nonEmpty, s"seed $seed, threshold $t: no pairs")
      assert(got.contains((6L, 7L, 0.5)) == (t <= 0.5))
      // {"a", ""} (a double space splits out an empty token) and {a, b}
      assert(got.contains((3L, 4L, 0.3333)) == (t <= 1.0 / 3))
      assert(got.contains((4L, 5L, 1.0)))
      assert(got.contains((1L, 2L, 1.0)))
      assert(!got.exists { case (a, b, _) => a == 0L || b == 0L ||
        a == 8L || b == 8L || a == 9L || b == 9L })
    }
  }
}

object DedupSpec {
  import graft.operators.TextAnalysis.tokens

  /** Exact Jaccard similarity between the distinct-token sets of two
    * text columns (rational arithmetic: |∩| / |∪|), splitting both
    * texts wherever it is evaluated.
    */
  def jaccard(textA: Column, textB: Column): Column =
    Dedup.setJaccard(array_distinct(tokens(textA)),
      array_distinct(tokens(textB)))

  /** Dedup.blockedJaccardPairs as it was before it split each document
    * once: both texts travel through the self-join and every pair splits
    * them again. The reference its law compares against.
    */
  def blockedJaccardPairsPerPair(
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val n = docs.select(col(idCol).as("id"), col(textCol).as("txt"),
      col(blockCol).as("blk"))
    val a = n.toDF("id_a", "text_a", "blk_a")
    val b = n.toDF("id_b", "text_b", "blk_b")
    a.join(b, col("blk_a") === col("blk_b") && col("id_a") < col("id_b"))
      .filter(jaccard(col("text_a"), col("text_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("text_a"), col("text_b")), 4).as("jaccard"))
  }
}
