package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("native cosine expression equals the HOF spec bit-for-bit") {
    val pairs = emb.limit(50).select(col("embedding").as("a"))
      .crossJoin(emb.limit(50).select(col("embedding").as("b")))
    val diff = pairs.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("spec"))
      .filter(col("native") =!= col("spec")).count()
    assert(diff == 0)
  }

  test("cosine matches a hand computation") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f)))
      .toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).collect()
      .map(_.getDouble(0))
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
    assert(math.abs(sims(2) + 1.0) < 1e-12)
  }

  test("native hyperplane bucket equals the HOF spec on real embeddings") {
    val diff = emb.select(
      Similarity.lshBucket(col("embedding"), 8, 64).as("native"),
      Similarity.lshBucketHof(col("embedding"), 8, 64).as("spec"))
      .filter(col("native") =!= col("spec")).count()
    assert(diff == 0)
  }

  test("randomProject native equals the HOF spec bit-for-bit on real " +
    "embeddings, shrinks the vector, and preserves cosine structure " +
    "approximately (JL, measured not assumed)") {
    val diff = emb.select(
      Similarity.randomProject(col("embedding"), 64, 16).as("native"),
      Similarity.randomProjectHof(col("embedding"), 64, 16).as("spec"))
      .filter(col("native") =!= col("spec")).count()
    assert(diff == 0)
    // output shape: dense 16-d float
    val first = emb.select(
      Similarity.randomProject(col("embedding"), 64, 16).as("p"))
      .limit(1).collect()(0).getSeq[Float](0)
    assert(first.length == 16)
    // JL sanity on a planted pair: a vector and its tiny perturbation
    // stay near-parallel after projection; two orthogonal-ish random
    // vectors do not become near-parallel (loose bounds — the real
    // recall curve is measured in the `jl` scale flow)
    val rows = emb.limit(2).select(col("embedding")).collect()
    val a = rows(0).getSeq[Float](0).toArray
    val b = rows(1).getSeq[Float](0).toArray
    val aPert = a.clone(); aPert(0) = aPert(0) + 0.01f
    val pairDf = Seq((a.toSeq, aPert.toSeq), (a.toSeq, b.toSeq))
      .toDF("x", "y")
    val sims = pairDf.select(Similarity.cosine(
        Similarity.randomProject(col("x"), 64, 16),
        Similarity.randomProject(col("y"), 64, 16)))
      .collect().map(_.getDouble(0))
    assert(sims(0) > 0.98, s"perturbed pair lost parallelism: ${sims(0)}")
    assert(sims(1) < 0.9, s"unrelated pair became parallel: ${sims(1)}")
  }

  test("randomProject edge parity: wrong-length and null-element " +
    "vectors are NULL (the vector-native posture); the matrix is " +
    "seed-stable across calls") {
    val short = Seq(Array.fill(32)(1.0f)).toDF("v")
    assert(short.select(Similarity.randomProject(col("v"), 64, 8))
      .collect()(0).isNullAt(0))
    val nullVec: Seq[java.lang.Float] = (0 until 64)
      .map(i => if (i == 7) null else java.lang.Float.valueOf(1.0f))
    assert(Seq(Tuple1(nullVec)).toDF("v")
      .select(Similarity.randomProject(col("v"), 64, 8))
      .collect()(0).isNullAt(0))
    // append stability: two independent calls project identically
    assert(Similarity.randomProjectRows(64, 8) ==
      Similarity.randomProjectRows(64, 8))
  }

  test("cosine edge parity: mismatched lengths and null elements are " +
    "NULL like the HOF spec and the SQL oracles") {
    import spark.implicits._
    val mixed = Seq(
      (Array.fill(64)(1.0f), Array.fill(32)(1.0f)),
      (Array.fill(32)(1.0f), Array.fill(64)(1.0f)))
      .toDF("a", "b")
    val r = mixed.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("spec")).collect()
    r.foreach(row => assert(row.isNullAt(0) && row.isNullAt(1), row))
    val nullElem: Seq[java.lang.Float] = (0 until 64)
      .map(i => if (i == 3) null else java.lang.Float.valueOf(1.0f))
    val withNull = Seq((nullElem, Seq.fill(64)(java.lang.Float.valueOf(1.0f))))
      .toDF("a", "b")
    val r2 = withNull.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("spec")).collect()(0)
    assert(r2.isNullAt(0) && r2.isNullAt(1), r2)
  }

  test("hyperplane bucket edge parity: wrong-length and null-element " +
    "vectors land in bucket 0 like the HOF spec") {
    import spark.implicits._
    val short = Seq(Array.fill(32)(1.0f)).toDF("embedding")
    val longer = Seq(Array.fill(80)(1.0f)).toDF("embedding")
    for (df <- Seq(short, longer)) {
      val r = df.select(
        Similarity.lshBucket(col("embedding"), 8, 64).as("native"),
        Similarity.lshBucketHof(col("embedding"), 8, 64).as("spec"))
        .collect()(0)
      assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    }
    val nullVec: Seq[java.lang.Float] = (0 until 64)
      .map(i => if (i == 7) null else java.lang.Float.valueOf(1.0f))
    val withNull = Seq(Tuple1(nullVec)).toDF("embedding")
    val r = withNull.select(
      Similarity.lshBucket(col("embedding"), 8, 64).as("native"),
      Similarity.lshBucketHof(col("embedding"), 8, 64).as("spec")).collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
  }

  test("NearestCentroid native equals the least-over-literal-structs " +
    "spec on real embeddings — cells, ties, and null edges included") {
    val corpus = emb.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    val cents = corpus.orderBy("id").limit(24).collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble).toArray) }
      .toSeq
    val diff = Similarity.ivfAssign(corpus, "vec", cents).select("id", "cell")
      .join(Similarity.ivfAssignDeclarative(corpus, "vec", cents)
        .select(col("id"), col("cell").as("cell_spec")), Seq("id"))
      .filter(!(col("cell") <=> col("cell_spec"))).count()
    assert(diff == 0)
    // a centroid that IS a corpus vector assigns that vector to itself
    // at distance 0 (and the tie toward the smaller cid is exercised by
    // duplicating it under a larger cid)
    val dup = cents.head._2
    val tied = cents :+ (99, dup)
    val self = Similarity.ivfAssign(corpus.orderBy("id").limit(1), "vec", tied)
      .select("cell").collect()(0).getInt(0)
    assert(self == 0, s"tie must break toward the smaller cid, got $self")
    // edge DIVERGENCE, deliberate and pinned: the native yields NULL
    // for wrong-length / null-element vectors; the least-over-structs
    // formulation accidentally assigns them to the smallest cid
    // (struct(null_dist, cid) compares null-first, so least picks
    // cid 0) — at scale that silently funnels every malformed vector
    // into one cell, so the native tightens the contract instead of
    // replicating the accident (unobservable on well-formed data,
    // which is what the parity join above covers)
    val edges = Seq(
      (1L, Seq.fill(64)(Option(1.0f)).updated(3, None)),
      (2L, Seq.fill(63)(Option(1.0f)))
    ).toDF("id", "vec")
    val e = Similarity.ivfAssign(edges, "vec", cents)
      .select("cell").collect()
    assert(e.forall(_.isNullAt(0)), "native must yield null on malformed")
    val eSpec = Similarity.ivfAssignDeclarative(edges, "vec", cents)
      .select("cell").collect()
    assert(eSpec.forall(r => !r.isNullAt(0) && r.getInt(0) == 0),
      "the declarative accident this test documents has changed")
    // NaN elements are NOT shape-malformed: every distance goes NaN,
    // Spark's nan-safe ordering ties all centroids, and BOTH
    // formulations break to the smallest cid (Double.compare in the
    // native replicates nanSafeCompareDoubles — a primitive < would
    // leave a phantom Int.MaxValue cell here)
    val nan = Seq((3L, Seq.fill(64)(Float.NaN))).toDF("id", "vec")
    val nNan = Similarity.ivfAssign(nan, "vec", cents)
      .select("cell").collect()(0)
    val sNan = Similarity.ivfAssignDeclarative(nan, "vec", cents)
      .select("cell").collect()(0)
    assert(!nNan.isNullAt(0) && nNan.getInt(0) == 0, s"native: $nNan")
    assert(!sNan.isNullAt(0) && sNan.getInt(0) == 0, s"spec: $sNan")
    // kmeansStep's struct variant assigns the same cells as ivfAssign
    val viaDist = corpus.limit(200).select(col("id"),
      graft.functions.VectorFunctions.nearestCentroidDist(col("vec"), cents)
        .getField("cell").as("cell"))
    val viaInt = Similarity.ivfAssign(corpus.limit(200), "vec", cents)
      .select("id", "cell")
    assert(viaDist.join(viaInt.withColumnRenamed("cell", "c2"), Seq("id"))
      .filter(!(col("cell") <=> col("c2"))).count() == 0)
  }

  test("bruteForceTopK: a planted duplicate vector is its own top-1") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dupQuery = emb.filter(col("vec_id") === 7)
      .select(lit(9007L).as("qid"), col("embedding").as("qvec"))
    val top = Similarity.bruteForceTopK(dupQuery, corpus, 3)
      .filter(col("rank") === 1).collect()(0)
    assert(top.getAs[Long]("id") == 7L)
    assert(math.abs(top.getAs[Double]("sim") - 1.0) < 1e-9)
  }

  test("lshTopK results are a subset of correct scores with decent recall") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(qs, corpus, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(qs, corpus, 5, nPlanes = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every LSH hit must carry the exact same (deterministic) score as
    // brute force would give it, and recall should be nontrivial for
    // 4-plane buckets (1/16 of the corpus per bucket on random data)
    val recall = brute.count(lsh.contains).toDouble / brute.size
    assert(recall > 0.05, s"recall=$recall")
    assert(lsh.nonEmpty)
  }

  private def testCentroids: Seq[(Int, Array[Double])] =
    emb.filter(pmod(col("vec_id"), lit(97)) === 0)
      .orderBy("vec_id").limit(16)
      .collect().zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Float](r.fieldIndex("embedding"))
          .map(_.toDouble).toArray)
      }.toSeq

  test("ivfTopK with nprobe = nlist degenerates to exact brute force") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cs = testCentroids
    val ivf = Similarity.ivfTopK(qs, corpus, cs, nprobe = cs.size, k = 5)
      .select("qid", "rank", "id", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val brute = Similarity.bruteForceTopK(qs, corpus, 5)
      .select("qid", "rank", "id", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(ivf == brute)
  }

  test("ivfTopK at nprobe=2 returns correctly-scored neighbors from " +
    "probed cells only") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Similarity.ivfTopK(qs, corpus, testCentroids, 2, 5)
    assert(got.count() > 0)
    // every returned sim must equal the exact cosine for that pair
    val joined = got.join(
      corpus.withColumnRenamed("id", "cid2").withColumnRenamed("vec", "cvec"),
      col("id") === col("cid2"))
      .join(qs.withColumnRenamed("qid", "qid2")
        .withColumnRenamed("qvec", "qv2"), col("qid") === col("qid2"))
      .filter(col("sim") =!=
        round(Similarity.cosine(col("qv2"), col("cvec")), 6))
    assert(joined.count() == 0)
  }

  test("signBandSigs: identical vectors collide on every band; a sign " +
    "flip inside one band changes exactly that band") {
    import spark.implicits._
    val v = (1 to 16).map(i => (if (i % 3 == 0) -1.0f else 1.0f) * i)
    val flipped = v.updated(5, -v(5)) // coord 6 lives in band 1 (coords 5-8)
    val df = Seq((v.toArray, v.toArray, flipped.toArray)).toDF("a", "b", "c")
    val r = df.select(
      Similarity.signBandSigs(col("a"), 4, 4).as("sa"),
      Similarity.signBandSigs(col("b"), 4, 4).as("sb"),
      Similarity.signBandSigs(col("c"), 4, 4).as("sc")).collect()(0)
    val sa = r.getSeq[Int](0)
    val sb = r.getSeq[Int](1)
    val sc = r.getSeq[Int](2)
    assert(sa == sb)
    assert(sa.zip(sc).count { case (x, y) => x != y } == 1)
    assert(sa(1) != sc(1) && sa(0) == sc(0) && sa(2) == sc(2) && sa(3) == sc(3))
  }

  test("bandConcentration measures the exact candidate-pair mass of " +
    "each config in one aggregation") {
    import spark.implicits._
    // 4 vectors, (1,1) banding on coord 1's sign: sigs [+,+,+,-] ->
    // one bucket of 3 (3 pairs) + one of 1 (0 pairs)
    val df = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, -1.0f)),
      (3L, Array(0.5f, 1.0f)), (4L, Array(-2.0f, 1.0f)))
      .toDF("id", "vec")
    val Seq(s) = Similarity.bandConcentration(df, "vec", Seq((1, 1)))
    assert(s == Similarity.BandStats(1, 1, 4L, 3L))
    // two configs from ONE call agree with two separate probes
    val both = Similarity.bandConcentration(df, "vec", Seq((1, 1), (2, 1)))
    assert(both.head == s)
    assert(both(1) ==
      Similarity.bandConcentration(df, "vec", Seq((2, 1))).head)
  }

  test("selectBandConfig takes the highest-recall config within budget, " +
    "falling back to the most selective") {
    import Similarity.BandStats
    val stats = Seq(BandStats(4, 4, 100, 10000),
      BandStats(8, 8, 100, 3000), BandStats(4, 16, 100, 10))
    assert(Similarity.selectBandConfig(stats, 48.0) == (8, 8))
    assert(Similarity.selectBandConfig(stats, 200.0) == (4, 4))
    // nothing fits a budget of 0.05/row -> most selective measurement
    assert(Similarity.selectBandConfig(stats, 0.05) == (4, 16))
  }

  test("the probe picks (8,8)-or-wider on the embeddings corpus — the " +
    "measured concentration rejects the 149x-per-decade (4,4) default") {
    val corpus = emb.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    val stats = Similarity.bandConcentration(corpus, "vec")
    // behavioral asserts only — the exact masses (31375/3890/6 on the
    // round-8 fixture, cross-checked against DuckDB) are data-dependent
    // and would break on any fixture regeneration even when selection
    // behavior is intact. The ladder must be strictly more selective
    // rung by rung on this concentrated corpus:
    assert(stats.map(_.candidatePairs) == stats.map(_.candidatePairs)
      .sorted(Ordering[Long].reverse), stats)
    assert(stats.last.candidatePairs < stats.head.candidatePairs, stats)
    val m44 = stats.find(s => (s.bands, s.rowsPerBand) == (4, 4)).get
    // the concentrated sign distribution: (4,4) collides far beyond the
    // linear budget (measured ~63 cands/row at this SF, 250 at sf0.1)
    assert(m44.candidatePairs > 48.0 * m44.rows, stats.toString)
    val chosen = Similarity.chooseBandConfig(corpus, "vec")
    assert(chosen._2 >= 8, s"probe chose $chosen from $stats")
    assert(chosen == (8, 8), s"expected (8,8) on this corpus: $stats")
  }

  test("(8,8) bands keep FULL recall for true near-duplicates: a " +
    "sign-preserving perturbation (cos ~0.999) collides on every band") {
    // the SCALE.md claim under test: wide bands lose recall only at LOW
    // thresholds; at production near-dup thresholds the pair's signs
    // agree, so wide-band blocking cannot miss it
    val base = emb.limit(50)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dups = base.select((col("id") + 100000L).as("id"),
      transform(col("vec"), (x, i) =>
        (x * when(pmod(i, lit(2)) === 0, lit(1.05f)).otherwise(lit(0.95f)))
          .cast("float")).as("vec"))
    val corpus = base.unionByName(dups)
    val pairs = Similarity.signBandNearDupPairs(corpus, 0.9, 8, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = base.select("id").as[Long].collect()
      .map(id => (id, id + 100000L)).toSet
    assert(planted.subsetOf(pairs),
      s"missed ${(planted -- pairs).size} of ${planted.size} planted dups")
  }

  test("pigeonhole recall floor: a B-band config recalls EVERY near-dup " +
    "with fewer than B flipped signs — (4,16) through k=3, (8,8) " +
    "through k=7 — and the k>=B tail stays high on this fixture") {
    // bands read disjoint coordinate blocks, so k flips dirty at most k
    // bands: k < B leaves a clean band and the pair MUST collide. This
    // is the production-threshold recall argument made exact: for
    // equal-magnitude coords, cos ~ 1 - 2k/64, so (4,16)'s guaranteed
    // zone (k<=3) is cos >~ 0.906 — sign-flip near-dups above the
    // production 0.9 threshold cannot be missed even by the ladder's
    // most selective rung. SCALE.md's recall10 flow measures the tail
    // on the x10 slice ((4,16): 0.89 at k=4 down to 0.33 at k=8;
    // (8,8): 0.99 at k=8).
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val off = 1000000L
    def recallAt(k: Int, bands: Int, rowsPerBand: Int): (Long, Long) = {
      val planted = graft.tools.Replicas.plantFlipDups(
        emb.select(col("vec_id"), col("embedding"), col("label")), k, off)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val corpus = base.unionByName(planted)
      val eligible = base
        .join(planted.select((col("id") - off).as("id"),
          col("vec").as("pvec")), "id")
        .filter(Similarity.cosine(col("vec"), col("pvec")) >= 0.7)
        .count()
      val found = Similarity.signBandNearDupPairs(corpus, 0.7,
          bands, rowsPerBand)
        .filter(col("id_b") - col("id_a") === off && col("id_a") < off)
        .count()
      (found, eligible)
    }
    val (f3, e3) = recallAt(3, 4, 16)
    assert(e3 > 0 && f3 == e3, s"(4,16) missed k=3 dups: $f3 of $e3")
    val (f7, e7) = recallAt(7, 8, 8)
    assert(e7 > 0 && f7 == e7, s"(8,8) missed k=7 dups: $f7 of $e7")
    // past the guarantee the tail is probabilistic but high (theory:
    // P(all 4 bands dirty at k=4) ~ 0.094); deterministic fixture
    val (f4, e4) = recallAt(4, 4, 16)
    assert(e4 > 0 && f4.toDouble / e4 >= 0.8,
      s"(4,16) k=4 recall collapsed: $f4 of $e4")
  }

  test("ivfAssign conserves corpus mass across cells") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centroids = emb.filter(col("vec_id") < 8).collect().zipWithIndex
      .map { case (r, i) =>
        (i, r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      }.toSeq
    val cells = Similarity.ivfAssign(corpus, "vec", centroids)
    assert(cells.count() == corpus.count())
    val hist = cells.groupBy("cell").count().collect()
    assert(hist.map(_.getLong(1)).sum == corpus.count())
    assert(hist.length > 1, "degenerate: everything in one cell")
  }

  test("kmeans: inertia never increases across Lloyd's iterations, and " +
    "trained centroids beat the untrained every-97th seed") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val (_, costs) = Similarity.kmeans(corpus, "vec", 64, testCentroids, 4)
    assert(costs.length == 4)
    costs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * (1 + 1e-12), s"inertia rose: $costs")
    }
    assert(costs.last < costs.head, s"training never improved: $costs")
  }

  test("kmeansStep conserves mass and drops dead cells only") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val (c1, _) = Similarity.kmeansStep(corpus, "vec", 64, testCentroids)
    assert(c1.nonEmpty && c1.size <= testCentroids.size)
    // updated centroids must themselves assign every vector somewhere
    val cells = Similarity.ivfAssign(corpus, "vec", c1)
    assert(cells.count() == corpus.count())
    assert(c1.map(_._1).toSet.subsetOf(testCentroids.map(_._1).toSet))
  }

  test("x36 determinism footing: the best-vs-second-best cell margin " +
    "under TRAINED centroids dwarfs double summation error") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val (c1, _) = Similarity.kmeansStep(corpus, "vec", 64, testCentroids)
    val minMargin = Similarity.assignMargin(corpus, "vec", c1)
      .agg(min(col("margin"))).collect()(0).getDouble(0)
    // double-fold wobble on these magnitudes is ~1e-12; demand 6 orders
    assert(minMargin > 1e-6, s"trained-centroid margin $minMargin too thin")
  }

  test("a vector's own centroid assignment is itself when it is a centroid") {
    val corpus = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id").collect()
      .zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      }.toSeq
    val cells = Similarity.ivfAssign(corpus, "vec", centroids)
      .orderBy("id").collect()
    cells.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Int]("cell") == i, s"vec $i assigned to ${r.getAs[Int]("cell")}")
    }
  }

  test("nearest_cells native replays the slice-of-sorted-structs spec " +
    "for every probe width on the graded slice") {
    // first-16-rows centroid set (the stride-sampled pool is only ~6
    // deep at sf0.001 — the seed-pool-exhaustion lesson)
    val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id").collect()
      .zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Float](r.fieldIndex("embedding"))
          .map(_.toDouble).toArray)
      }.toSeq
    val e = emb.select(col("vec_id"), col("embedding"))
    for (k <- Seq(1, 2, 5, 16)) {
      val diff = e.select(col("vec_id"),
        Similarity.ivfProbeCells(col("embedding"), cents, k).as("native"),
        Similarity.ivfProbeCellsDeclarative(
          col("embedding"), cents, k).as("spec"))
        .filter(col("native") =!= col("spec"))
      assert(diff.count() == 0,
        s"k=$k: ${diff.collect().take(3).mkString(", ")}")
    }
  }

  test("nearest_cells clamps k past nlist — nprobe over the cell count " +
    "widens to all cells instead of throwing at plan time") {
    val cents = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))
    val out = Seq((1L, Seq(0.9f, 0.1f))).toDF("id", "vec")
      .select(Similarity.ivfProbeCells(col("vec"), cents, 10).as("cells"))
      .collect().head.getSeq[Int](0)
    assert(out == Seq(0, 1), out.toString)
  }

  test("knnLabelAgreement rejects duplicate eval-set ids loudly " +
    "(self-exclusion would strand the duplicated row)") {
    val dup = Seq((5L, Seq(1.0f, 0.0f), 1), (5L, Seq(0.0f, 1.0f), 2),
      (6L, Seq(0.5f, 0.5f), 1)).toDF("id", "vec", "lab")
    val e = intercept[IllegalArgumentException] {
      Similarity.knnLabelAgreement(dup, "id", "vec", "lab").collect()
    }
    assert(e.getMessage.contains("distinct"), e.getMessage)
  }

  test("nearest_cells breaks exact-tie distances toward the smaller " +
    "cid, like the struct sort") {
    // two identical centroids -> identical distances; cid must decide
    val cents = Seq((7, Array(1.0, 0.0)), (3, Array(1.0, 0.0)),
      (5, Array(0.0, 1.0)))
    val out = Seq((1L, Seq(0.9f, 0.1f))).toDF("id", "vec")
      .select(Similarity.ivfProbeCells(col("vec"), cents, 3).as("cells"))
      .collect().head.getSeq[Int](0)
    assert(out == Seq(3, 7, 5), out.toString)
  }

  test("knnLabelAgreement finds each vector's true neighbor and scores " +
    "the label match") {
    // 1-2 mutually nearest (same label), 3 nearest to 1 (other label)
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 7), (2L, Seq(0.9f, 0.1f), 7),
      (3L, Seq(0.8f, 0.6f), 8)).toDF("id", "vec", "lab")
    val out = Similarity.knnLabelAgreement(corpus, "id", "vec", "lab")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(5)))
    assert(out.toSeq == Seq((1L, 2L, true), (2L, 1L, true), (3L, 2L, false)))
  }

  test("nearest_neighbor_cosine fails loudly on malformed eval vectors " +
    "instead of nulling them away") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 7), (2L, Seq(0.9f, 0.1f), 7),
      (3L, Seq(0.5f), 8)).toDF("id", "vec", "lab") // wrong dim
    val e = intercept[Exception] {
      Similarity.knnLabelAgreement(corpus, "id", "vec", "lab").collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("dimension") || e.getMessage.contains("dims")),
      s"unexpected failure shape: $e")
  }

  test("labelCentroidOutliers: a planted far vector ranks 1 in its " +
    "label; identical vectors tie on d2 and break rank by id") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val lbl = base.select("label").head().getInt(0)
    val far = Seq((800000L, Seq.fill(64)(99.0f), lbl),
        (800001L, Seq.fill(64)(99.0f), lbl))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidOutliers(
      base.unionByName(far), "vec_id", "embedding", "label", 64)
    val mine = out.filter(col("label") === lbl)
      .orderBy("outlier_rank").collect()
    // the two identical planted vectors are farthest; equal d2, id
    // breaks the tie
    assert(mine(0).getLong(0) == 800000L && mine(0).getInt(3) == 1)
    assert(mine(1).getLong(0) == 800001L && mine(1).getInt(3) == 2)
    assert(mine(0).getDouble(2) == mine(1).getDouble(2))
    // ranks are a permutation of 1..n within every label
    out.collect().groupBy(_.getInt(1)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length))
    }
  }

  test("labelCentroidOutliers reserves its working names") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f), 0, 0.0)).toDF("id", "vec", "label", "d2")
    val e = intercept[IllegalArgumentException] {
      Similarity.labelCentroidOutliers(df, "id", "vec", "label", 1)
    }
    assert(e.getMessage.contains("reserves"))
  }

  test("contrastivePairs: a planted duplicate is the top positive, " +
    "kinds partition by label agreement, self excluded") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val anchor = base.filter(col("vec_id") === 0)
    val aRow = anchor.head()
    val dup = Seq((700000L, aRow.getSeq[Float](1), aRow.getInt(2)))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.contrastivePairs(
      anchor, base.unionByName(dup),
      "vec_id", "embedding", "label", 3).collect()
    assert(out.length == 6)
    assert(!out.exists(_.getLong(3) == 0L), "self-match leaked")
    val pos = out.filter(_.getString(2) == "positive")
      .sortBy(_.getInt(6))
    assert(pos.head.getLong(3) == 700000L && pos.head.getDouble(5) == 1.0,
      s"planted duplicate not the top positive: ${pos.head}")
    out.foreach { r =>
      val same = r.getInt(4) == r.getInt(1)
      assert(if (r.getString(2) == "positive") same else !same, r.toString)
    }
  }

  test("x77/x79 determinism footing: the 4th-vs-5th nearest-cell " +
    "margin over EVERY vector (the nprobe=4 probe boundary both " +
    "graded queries cut at) dwarfs double summation error") {
    // x33 measured the boundary for ITS 3 queries at nprobe=2; x77
    // probes 4 cells for 4 queries and x79 for every anchor, so the
    // margin that keeps the two engines' probe sets identical is the
    // min over the whole corpus at the 4/5 boundary
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val rows = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).map(_.toDouble).toArray))
      val cents = rows.filter(_._1 % 97 == 0).sortBy(_._1).take(16)
        .map(_._2)
      val minMargin = rows.map { case (_, v) =>
        val ds = cents.map(c => l2(v, c)).sorted
        ds(4) - ds(3)
      }.min
      info(s"$dir: min 4th-vs-5th cell margin over ${rows.length} " +
        s"vectors: $minMargin")
      // double-fold wobble on these magnitudes is ~1e-12; demand 6 orders
      assert(minMargin > 1e-6,
        s"$dir probe boundary margin $minMargin too thin for " +
          "cross-engine determinism")
    }
  }

  test("contrastivePairsByCell with nprobe = nlist equals the " +
    "broadcast-square form over the full anchor set row-for-row " +
    "(cell blocking changes WHICH rows are compared, never the " +
    "scores); ln-ruled nprobe keeps a pair-recall floor") {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val nlist = 8
    val cells = base
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nlist).collect().zipWithIndex
      .map { case (r, i) =>
        (i, r.getSeq[Float](1).map(_.toDouble).toArray) }.toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "kind", "rank").collect().map(_.toString).toSeq
    val exact = rows(Similarity.contrastivePairs(
      base, base, "vec_id", "embedding", "label", 3))
    val blockedAll = rows(Similarity.contrastivePairsByCell(
      base, "vec_id", "embedding", "label", cells, nprobe = nlist, 3))
    assert(blockedAll == exact,
      "probing every cell must reproduce the broadcast square")
    // the ln-scaled dial: recall of the exact (qid, kind, id) triples
    val nprobe = Similarity.nprobeForNlist(nlist)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "kind", "vec_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = triples(Similarity.contrastivePairsByCell(
      base, "vec_id", "embedding", "label", cells, nprobe, 3))
    val want = triples(Similarity.contrastivePairs(
      base, base, "vec_id", "embedding", "label", 3))
    val recall = (got & want).size.toDouble / want.size
    info(s"cell-blocked contrastive pair recall at nprobe=$nprobe/$nlist: " +
      s"$recall")
    assert(recall >= 0.4, s"cell-blocked pair recall collapsed: $recall")
  }

  test("nprobeForNlist grows with ln(nlist), floors at base, clamps " +
    "at nlist") {
    assert(Similarity.nprobeForNlist(1) == 1)   // clamp: can't probe > nlist
    assert(Similarity.nprobeForNlist(4) == 4)   // base floor
    assert(Similarity.nprobeForNlist(39) == 8)  // 20k corpus: ceil(2 ln 39)
    assert(Similarity.nprobeForNlist(390) == 12) // 200k: ceil(2 ln 390)
    assert(Similarity.nprobeForNlist(3900) == 17)
    intercept[IllegalArgumentException](Similarity.nprobeForNlist(0))
  }
}
