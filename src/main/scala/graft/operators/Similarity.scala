package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector similarity search over an embedding column (array<float>).
  *
  * Two tiers, per the usual ANN playbook:
  * - brute force: broadcast the (small) query set, score every corpus
  *   vector, per-query top-k via window rank. Exact; the baseline and the
  *   verifier for everything else. Scales linearly in corpus size — the
  *   scan parallelizes perfectly, the only shuffle is the tiny top-k.
  * - LSH (random hyperplanes): per-row bucket signature (map-side
  *   expression), candidates = bucket collisions, exact re-scoring inside
  *   buckets. At 100 TB the bucket join replaces the full cross product —
  *   that is the entire point of the index.
  *
  * Dot products are folded in index order with double accumulation, so
  * scores are bit-deterministic (same fold order every engine/run).
  */
object Similarity {

  /** Cosine similarity: fused native expression (one pass, primitive
    * double accumulation in index order — see functions.CosineSimilarity).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** Executable spec of cosine as pure higher-order functions; parity
    * with the native expression is asserted in SimilaritySpec.
    */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (u, v) =>
        u.cast(DoubleType) * v.cast(DoubleType)),
        lit(0.0), (acc, p) => acc + p)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Shared tail of every ANN variant here: exclude self-matches, score
    * with 6-decimal cosine, per-query top-k via window rank with ties
    * broken by id. ONE definition because the rounding and tie-break are
    * oracle-load-bearing — the SQL oracles replay exactly this.
    */
  private def scoredTopK(joined: DataFrame, k: Int): DataFrame = {
    val scored = joined
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        round(cosine(col("qvec"), col("vec")), 6).as("sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact top-k neighbors for each query vector.
    *
    * @param queries (qid, qvec) — small; broadcast.
    * @param corpus  (id, vec) — arbitrarily large.
    * Self-matches (qid == id) are excluded. Ties broken by id for
    * deterministic output.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    scoredTopK(corpus.crossJoin(broadcast(queries)), k)

  // Deterministic pseudo-random hyperplanes (seeded), emitted as literal
  // arrays so the signature is a pure per-row expression.
  private def hyperplanes(nPlanes: Int, dim: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** The plane matrix as plain rows — x09's oracle bakes these into SQL
    * as double literals (Double.toString round-trips exactly), so an
    * external engine recomputes the identical buckets. Safe because the
    * smallest |dot(vec, plane)| over every SF is ~3.5e-6 — seven orders
    * of magnitude above double-fold summation error — so the sign (and
    * hence the bucket) cannot differ between engines.
    */
  private[graft] def lshPlaneRows(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    hyperplanes(nPlanes, dim).map(_.toSeq)

  /** Random-hyperplane LSH bucket id (0 .. 2^nPlanes-1) for a vector:
    * bit i = sign of dot(vec, plane_i). Native fused expression
    * (functions.HyperplaneBucket) — one pass over the vector per row.
    */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column =
    graft.functions.VectorFunctions.hyperplaneBucket(
      vec, hyperplanes(nPlanes, dim).map(_.toSeq))

  /** Executable spec of lshBucket as pure higher-order functions (same
    * planes, same ascending-index double fold); parity with the native
    * expression is asserted in SimilaritySpec.
    */
  def lshBucketHof(vec: Column, nPlanes: Int, dim: Int): Column = {
    val planes = hyperplanes(nPlanes, dim)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit(_)): _*)
      val d = aggregate(zip_with(vec, planeLit,
        (u, v) => u.cast(DoubleType) * v), lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** ANN top-k via hyperplane LSH: score only corpus vectors sharing the
    * query's bucket. Recall < 1 by construction; the ScalaTest suite
    * measures recall against bruteForceTopK. One shuffle on bucket id.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nPlanes: Int, dim: Int): DataFrame = {
    val qb = queries.withColumn("qbucket",
      lshBucket(col("qvec"), nPlanes, dim))
    val cb = corpus.withColumn("bucket", lshBucket(col("vec"), nPlanes, dim))
    scoredTopK(cb.join(broadcast(qb), col("bucket") === col("qbucket")), k)
  }

  // Seeded Rademacher ±1 rows for the Johnson–Lindenstrauss projection:
  // outDim rows of inDim signs, Random(seed) drawn row-major — RNG-free
  // at run time (the matrix is construction data, like hyperplanes), so
  // the projection is append-stable: a vector projects to the same
  // output today and in next year's run.
  private def rademacherRows(inDim: Int, outDim: Int,
      seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(outDim)(Seq.fill(inDim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** The projection matrix as plain rows — x87's oracle bakes these
    * into SQL as ±1.0 literals (exact in any engine), the lshPlaneRows
    * pattern.
    */
  private[graft] def randomProjectRows(inDim: Int, outDim: Int,
      seed: Long = 13L): Seq[Seq[Double]] = rademacherRows(inDim, outDim, seed)

  /** Johnson–Lindenstrauss random projection to a DENSE outDim-vector:
    * out(j) = float((1/√outDim) · Σ_i vec(i) · s(j)(i)) with s a seeded
    * Rademacher ±1 matrix (Achlioptas 2001: ±1 entries satisfy the JL
    * lemma with the same distortion bound as Gaussians and cost only
    * adds). THE use here: hashedVec's sparse-featurized output is
    * axis-aligned by construction (one token basket per coordinate);
    * projecting it mixes every input coordinate into every output one,
    * producing the closest thing to a dense neural embedding this
    * sandbox can make — the honest proxy the SCALE.md dense-embedding
    * open point called for, measured on the IVF/1-NN dials in the
    * `jl` scale flow. Distance preservation is approximate (JL bound,
    * not exactness): downstream recall is a measured property, never
    * assumed.
    *
    * One compiled pass per row (MatVecProject, matrix as instance
    * data, constant plan size in outDim); ascending-index double fold,
    * one double multiply, one float cast — bit-replayable by the SQL
    * oracle (x87 grades it element-wise). Null on malformed input
    * (wrong dim / null element), the vector-native posture.
    */
  def randomProject(vec: Column, inDim: Int, outDim: Int,
      seed: Long = 13L): Column = {
    require(inDim >= 1 && outDim >= 1, "dims must be >= 1")
    graft.functions.VectorFunctions.matVecProject(vec,
      rademacherRows(inDim, outDim, seed), 1.0 / math.sqrt(outDim.toDouble))
  }

  /** Executable spec of randomProject as pure higher-order functions
    * (same matrix, same ascending-index double fold, same single
    * multiply + float cast); parity with the native is asserted in
    * SimilaritySpec.
    */
  private[graft] def randomProjectHof(vec: Column, inDim: Int, outDim: Int,
      seed: Long = 13L): Column = {
    val rows = rademacherRows(inDim, outDim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    array(rows.map { row =>
      val rowLit = array(row.map(lit(_)): _*)
      (aggregate(zip_with(vec, rowLit, (u, v) => u.cast(DoubleType) * v),
        lit(0.0), (acc, x) => acc + x) * scale).cast(FloatType)
    }: _*)
  }

  /** Squared L2 distance to a literal centroid, double accumulation in
    * ascending index order (the same fold the SQL oracles replay).
    */
  private def sqDist(vec: Column, cvec: Array[Double]): Column = {
    val cLit = array(cvec.map(lit(_)): _*)
    aggregate(zip_with(vec, cLit, (u, v) =>
      (u.cast(DoubleType) - v) * (u.cast(DoubleType) - v)),
      lit(0.0), (acc, x) => acc + x)
  }

  private def centroidStructs(vec: Column,
      centroids: Seq[(Int, Array[Double])]): Seq[Column] =
    centroids.map { case (cid, cvec) =>
      struct(sqDist(vec, cvec).as("dist"), lit(cid).as("cid"))
    }

  /** IVF-style coarse quantization: assign every vector to its nearest
    * centroid (argmin over a broadcast literal centroid set), so search
    * probes only matching cells. Centroid choice is the caller's (sampled
    * or trained upstream); this operator is the partition-and-probe step.
    * Returns the corpus with a `cell` column. Ties break toward the
    * smaller centroid id (struct comparison is (dist, cid)).
    *
    * Assignment is the NearestCentroid native: one compiled pass over
    * nlist x dim with the centroid matrix as instance data, so plan and
    * generated-code size stay CONSTANT in nlist — the literal-argmin
    * formulation (`ivfAssignDeclarative`, kept as the executable spec)
    * grows linearly and measurably degraded already at 64 cells
    * (SCALE.md round-11 ivfrecall). Bit-identical on well-formed
    * vectors (SimilaritySpec pins parity): ascending-index double
    * accumulation, ties toward the smaller cid. Malformed vectors
    * (dim mismatch / null element) yield null — a deliberate
    * tightening over the declarative formulation's accidental
    * smallest-cid assignment; see NearestCentroid's scaladoc.
    */
  def ivfAssign(corpus: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Double])]): DataFrame =
    corpus.withColumn("cell",
      graft.functions.VectorFunctions.nearestCentroid(col(vecCol), centroids))

  /** Executable spec of ivfAssign as the least-over-literal-structs
    * formulation — the SQL-oracle-shaped twin the native is
    * parity-pinned against.
    */
  private[graft] def ivfAssignDeclarative(corpus: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Double])]): DataFrame =
    corpus.withColumn("cell",
      least(centroidStructs(col(vecCol), centroids): _*).getField("cid"))

  /** The `nprobe` nearest centroid ids for a vector, nearest first —
    * the query-side half of IVF search. NearestCells native since
    * round 14: the literal-structs formulation was fine while probes
    * ran only over a small query frame, but corpus-wide blocking
    * (contrastivePairsByCell — every row probes) put an O(nlist)
    * interpreted struct sort on the corpus path and an O(nlist) plan
    * on every consumer, the exact promotion trigger its old scaladoc
    * named. Identical semantics (SimilaritySpec pins parity against
    * the declarative twin below across k): (dist, cid)-ascending
    * selection, nearest first.
    */
  def ivfProbeCells(vec: Column, centroids: Seq[(Int, Array[Double])],
      nprobe: Int): Column =
    graft.functions.VectorFunctions.nearestCells(vec, centroids, nprobe)

  /** Executable spec of ivfProbeCells as the slice-of-sorted-structs
    * formulation — the SQL-oracle-shaped twin the native is
    * parity-pinned against.
    */
  private[graft] def ivfProbeCellsDeclarative(vec: Column,
      centroids: Seq[(Int, Array[Double])], nprobe: Int): Column =
    transform(
      slice(array_sort(array(centroidStructs(vec, centroids): _*)),
        1, nprobe),
      s => s.getField("cid"))

  /** Cost-bounded fidelity dial for blocked kNN as the corpus grows:
    * nprobe = max(base, ceil(c·ln nlist)), clamped at nlist. With
    * nlist scaling as n/512 a FIXED nprobe probes a shrinking fraction
    * of cells and blocked 1-NN agreement decayed 88% → 57% of exact
    * over the 20k → 200k decade (SCALE.md round-14); this rule grows
    * per-query candidate mass only logarithmically (~512·c·ln nlist)
    * and recovered 57% → 72.5% at 200k for 3.3× less wall than exact.
    *
    * What the rule does NOT promise — measured, not assumed (SCALE.md
    * round-15 knnfidelity, both a raw-sample and a Lloyd-trained
    * quantizer, nprobe ∈ {4..16}, both decades): fidelity on the
    * replica corpus follows the probe FRACTION (≈88% at nprobe/nlist =
    * 10%, 67–70% at 2%, 57% at 1%, both sizes, both quantizers —
    * training moved it only +3pts), because hash-sampled cells of a
    * quasi-orthogonal corpus pollute the probe list with extreme-value
    * noise cosines that grow with nlist. On such structure no
    * sub-linear nprobe reaches 90% below exact's own cost (nprobe=16 =
    * 4% of cells already costs 156s vs exact's 368s at 200k) — the
    * honest scale answer there is the exact instance-data form or a
    * different blocking family, not a bigger nprobe. Corpora whose
    * growth adds locally-clustered structure (real web/embedding
    * drift, the IVF operating assumption, x33's ivfrecall regime) are
    * where the ln rule holds fidelity. These numbers are SCALE.md
    * records of blocked 1-NN agreement; PqSpec and the
    * contrastivePairsByCell law size their nprobe with this rule.
    */
  def nprobeForNlist(nlist: Int, base: Int = 4, c: Double = 2.0): Int = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    math.min(nlist,
      math.max(base, math.ceil(c * math.log(nlist.toDouble)).toInt))
  }

  /** IVF probe search: exact top-k cosine, but each query scores ONLY
    * the vectors assigned to its `nprobe` nearest cells — the standard
    * recall/cost dial of IVF ANN (nprobe = all cells degenerates to
    * brute force). Corpus side is one map pass (cell assignment is a
    * per-row argmin over broadcast literals); the query side explodes to
    * (query, cell) pairs and broadcasts, so the only shuffle is the
    * final tiny top-k window — the same shape as bruteForceTopK with the
    * scan mass divided by nlist/nprobe.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      centroids: Seq[(Int, Array[Double])], nprobe: Int,
      k: Int): DataFrame = {
    val assigned = ivfAssign(corpus, "vec", centroids)
    val qProbe = queries.withColumn("cell",
      explode(ivfProbeCells(col("qvec"), centroids, nprobe)))
    scoredTopK(assigned.join(broadcast(qProbe), Seq("cell")), k)
  }

  /** One Lloyd's (k-means) iteration, the distributed shape: assignment
    * is a map-side one-pass argmin with the centroid matrix broadcast as
    * expression instance data (no shuffle of
    * vectors against centroids), the update is ONE hash-aggregate with
    * map-side partial sums — (dim+1) doubles per cell — and only
    * k*(dim+1) values return to the driver: the sanctioned small collect,
    * same class as the IVF centroid bootstrap. At 100 TB this is one scan
    * + one tiny agg per iteration; nothing driver-side grows with the
    * corpus.
    *
    * Returns (newCentroids, inertia) where inertia is the total squared
    * distance to the INPUT centroids — the cost Lloyd's provably never
    * increases iteration over iteration (SimilaritySpec asserts it).
    * Cells left empty by an iteration are dropped (dead-centroid
    * removal), which is also what a SQL replay naturally produces.
    */
  def kmeansStep(corpus: DataFrame, vecCol: String, dim: Int,
      centroids: Seq[(Int, Array[Double])])
      : (Seq[(Int, Array[Double])], Double) = {
    require(centroids.nonEmpty, "kmeansStep needs at least one centroid")
    // NearestCentroidDist native, same reason as ivfAssign: the
    // least-over-literal-structs formulation grows the plan linearly in
    // nlist, and training runs this expression over the whole corpus
    // every iteration. Step-for-step parity is pinned by x36's oracle
    // (DuckDB replays the training verbatim, assignment + inertia) and
    // SimilaritySpec's kmeans invariants
    val best = graft.functions.VectorFunctions
      .nearestCentroidDist(col(vecCol), centroids)
    val assigned = corpus.select(best.getField("cell").as("cell"),
      best.getField("dist").as("d2"), col(vecCol).as("__v"))
    val coordMeans = (0 until dim).map(i =>
      avg(element_at(col("__v"), i + 1).cast(DoubleType)).as(s"c$i"))
    val rows = assigned.groupBy("cell")
      .agg(sum(col("d2")).as("cost"), coordMeans: _*)
      .collect()
    val inertia = rows.map(_.getDouble(1)).sum
    val next = rows.map(r => (r.getInt(0),
      Array.tabulate(dim)(i => r.getDouble(i + 2)))).sortBy(_._1).toSeq
    (next, inertia)
  }

  /** Fixed-iteration Lloyd's k-means: trains `init` for `iters` rounds
    * and returns the final centroids plus the inertia series (one value
    * per round, measured with that round's input centroids). Production
    * would loop on the inertia delta instead of a fixed count — the
    * series this returns is exactly that signal; the x36 graded query
    * fixes iters=2 so a SQL oracle can replay the training verbatim.
    */
  def kmeans(corpus: DataFrame, vecCol: String, dim: Int,
      init: Seq[(Int, Array[Double])], iters: Int)
      : (Seq[(Int, Array[Double])], Seq[Double]) = {
    require(iters >= 1, "iters must be >= 1")
    var cents = init
    val costs = Seq.newBuilder[Double]
    for (_ <- 0 until iters) {
      val (next, cost) = kmeansStep(corpus, vecCol, dim, cents)
      costs += cost
      cents = next
    }
    (cents, costs.result())
  }

  /** Per-vector margin between the best and second-best cell distance —
    * the empirical footing of the cross-engine determinism argument for
    * IVF/k-means queries (a margin orders of magnitude above double
    * summation error means both engines pick identical cells).
    */
  def assignMargin(corpus: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    // diagnostic operator (determinism-margin studies), not a pipeline
    // stage: the O(nlist) literal-struct sort per row is fine at probe
    // sizes and keeps the margin definition visibly identical to the
    // SQL the oracle replays
    require(centroids.size >= 2, "margin needs at least two centroids")
    val sorted = array_sort(array(
      centroidStructs(col(vecCol), centroids): _*))
    corpus.select((element_at(sorted, 2).getField("dist") -
      element_at(sorted, 1).getField("dist")).as("margin"))
  }

  /** 1-NN label agreement: each vector's nearest neighbor (by exact
    * cosine, self excluded) and whether the neighbor carries the same
    * label — the standard embedded-eval-set probe for label noise /
    * cluster purity (a leave-one-out 1-NN classifier, scored per row so
    * the caller aggregates accuracy by label, source, or anything
    * else). EXACT, instance-data form: the whole (id, label, vector)
    * set rides in NearestNeighborCosine and every row scans it in one
    * fused pass — zero joins, zero shuffles beyond a parallelizing
    * round-robin. The bound is the n² ARITHMETIC, not memory: measured
    * 0.95s at 2k and 250s at 200k vectors (SCALE.md round-14) — so
    * this form is for eval sets (≲10⁴·5 vectors); SCALE.md round-14
    * records an IVF-cell-blocked form at corpus scale (~linear at
    * fixed cell size).
    */
  def knnLabelAgreement(corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame = {
    val e = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      col(labelCol).as("label"))
    // the sanctioned eval-set collect: the (id, label, vector) matrix
    // rides as expression instance data (NearestNeighborCosine),
    // bounded by the eval set itself — 100k × 64 floats is ~50 MB of
    // doubles, the broadcast class of collect, never the corpus.
    // Carrying the label in the instance data (rather than joining it
    // back) keeps the whole operator join-free: a label join's
    // inferred isnotnull(best) filter pushed the quadratic pass below
    // the exchange and evaluated it twice, once single-threaded.
    val queries = e.select(col("id"), col("label"), col("vec"))
      .collect().map { r =>
        (r.getLong(0), r.getInt(1),
          r.getSeq[Number](2).map(_.doubleValue()).toArray)
      }.toSeq
    val best = graft.functions.VectorFunctions
      .nearestNeighborCosine(col("vec"), col("id"), queries)
    // decouple the quadratic pass's parallelism from the input file
    // layout: an eval set often arrives as one small file (one scan
    // partition), which would single-thread the n·m matrix scan; the
    // round-robin exchange is linear in the eval set and negligible
    // next to the pass it spreads (measured 5.0 -> 0.9 s at sf0.1)
    e.repartition(e.sparkSession.sparkContext.defaultParallelism)
      .select(col("id").as("vec_id"), col("label"), best.as("best"))
      .select(col("vec_id"), col("label"),
        col("best.nn_id").as("nn_id"),
        col("best.nn_label").as("nn_label"),
        round(col("best.sim"), 6).as("sim"))
      .withColumn("agree", col("label") === col("nn_label"))
  }

  /** Axis-sign LSH band signatures: band k packs the sign bits of
    * `rowsPerBand` consecutive coordinates (coords k*r+1 .. k*r+r,
    * 1-based) into one int. Sign tests against the coordinate hyperplanes
    * ARE hyperplane LSH (planes = the axes), with one property the
    * gaussian variant (lshBucket) lacks: the signature reads the SIGN of
    * a stored float — zero float arithmetic — so an external engine
    * reproduces the blocking bit-for-bit. That is what makes the blocked
    * near-dup pipeline below oracle-checkable end to end.
    */
  def signBandSigs(vec: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { k =>
      (0 until rowsPerBand).map { r =>
        when(element_at(vec, k * rowsPerBand + r + 1) >= 0, lit(1 << r))
          .otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)

  /** Per-config result of the band-concentration probe: `rows` vectors
    * produced `candidatePairs` = Σ_buckets n·(n-1)/2 colliding pairs
    * under (bands, rowsPerBand) sign banding — the exact candidate mass
    * signBandNearDupPairs would stream for that config.
    */
  case class BandStats(bands: Int, rowsPerBand: Int, rows: Long,
      candidatePairs: Long)

  /** The default band ladder, highest recall first: per-band collision
    * probability for incoherent signs is 2^-rowsPerBand, so each rung is
    * ~16-256x more selective than the last. All rungs fit dim >= 64
    * ((4,4) reads coords 1-16; the others read all 64).
    *
    * Recall floor (pigeonhole): bands read DISJOINT coordinate blocks,
    * so a near-dup differing in k coordinate signs dirties at most k
    * bands — a B-band config recalls EVERY pair with k < B flips with
    * probability 1. For equal-magnitude coords cos ~ 1 - 2k/dim, so even
    * the most selective rung here (4 bands) guarantees recall of
    * sign-flip near-dups at cos >~ 0.906 over dim 64 — above the
    * production 0.9 threshold. The k >= B tail is measured in SCALE.md's
    * recall10 table ((4,16): 0.89 at k=4 falling to 0.33 at k=8; (8,8):
    * 1.0 through k=7, 0.99 at k=8) and pinned in SimilaritySpec: a
    * deployment needing tolerance to k flips must keep every ladder rung
    * above k bands.
    */
  val defaultBandLadder: Seq[(Int, Int)] = Seq((4, 4), (8, 8), (4, 16))

  /** Band-signature concentration probe — ONE corpus pass, one shuffle:
    * every config's banded signatures are emitted from a single scan
    * (tagged structs, one explode), bucket-counted in one hash-aggregate,
    * and reduced to configs.size rows. This is the measurement that makes
    * band selectivity data-driven: SCALE.md's 10x decade showed the (4,4)
    * default costing 149x per decade on this corpus's concentrated sign
    * distribution (25% of ALL pairs collide in some band) while (8,8)
    * takes the same decade at 5.6x — the dial must be set from measured
    * concentration, not guessed.
    */
  def bandConcentration(corpus: DataFrame, vecCol: String,
      configs: Seq[(Int, Int)] = defaultBandLadder): Seq[BandStats] = {
    require(configs.nonEmpty, "need at least one band config")
    val tagged = configs.zipWithIndex.map { case ((b, r), i) =>
      transform(signBandSigs(col(vecCol), b, r), (s, idx) =>
        struct(lit(i).as("cfg"), idx.as("band"), s.as("sig")))
    }
    val byCfg = corpus
      .select(explode(concat(tagged: _*)).as("t"))
      .groupBy(col("t.cfg").as("cfg"), col("t.band").as("band"),
        col("t.sig").as("sig"))
      .agg(count(lit(1)).as("n"))
      .groupBy("cfg")
      // n·(n-1) stays in exact long arithmetic; halved on the driver
      .agg(sum(col("n") * (col("n") - lit(1L))).as("mass2"),
        sum(col("n")).as("tot"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    configs.zipWithIndex.map { case ((b, r), i) =>
      val (mass2, tot) = byCfg.getOrElse(i, (0L, 0L))
      BandStats(b, r, tot / b, mass2 / 2)
    }
  }

  /** The selection rule, separated for unit testing: the first (=
    * highest-recall) config whose measured candidate mass is at most
    * `maxCandidatesPerRow` pairs per corpus row — the linear-in-corpus
    * budget that keeps the verify stage the same order as the scan —
    * falling back to the most selective measurement if none fits.
    */
  def selectBandConfig(stats: Seq[BandStats],
      maxCandidatesPerRow: Double): (Int, Int) = {
    require(stats.nonEmpty, "need at least one probed config")
    stats.find(s => s.candidatePairs <= maxCandidatesPerRow * s.rows)
      .orElse(Some(stats.minBy(_.candidatePairs)))
      .map(s => (s.bands, s.rowsPerBand)).get
  }

  /** Probe + select in one call. On this repo's embeddings corpus the
    * measured masses are ~63 (sf0.001/0.01) to 250 (sf0.1) candidate
    * pairs per row at (4,4) vs ~8-31 at (8,8), so the default budget of
    * 48 rejects (4,4) and lands on (8,8) at every graded SF
    * (SimilaritySpec pins it). On the ×10 replica slice the measured
    * masses are 2499/row at (4,4) and 312/row at (8,8) — cross-replica
    * sign noise collides 8-bit bands by chance at 20k rows — and the
    * probe steps down to (4,16) at 0.6/row: the budget reacts to
    * measured concentration instead of trusting a static default, which
    * is the entire point (SCALE.md documents both decisions).
    */
  def chooseBandConfig(corpus: DataFrame, vecCol: String,
      configs: Seq[(Int, Int)] = defaultBandLadder,
      maxCandidatesPerRow: Double = 48.0): (Int, Int) =
    selectBandConfig(bandConcentration(corpus, vecCol, configs),
      maxCandidatesPerRow)

  /** Embedding near-dup pairs at scale: candidates = pairs colliding on
    * ANY sign band (banding trades precision for recall exactly as in
    * MinHash banding), verified with exact cosine >= threshold. ONE
    * shuffle of (band, sig, id) triples into buckets, pairs streamed
    * per bucket (Dedup.explodeMemberPairs — hot-bucket safe), vectors
    * joined back only for surviving candidates. Never a cross product:
    * the x10 PlanSpec pins that. Input columns are (id, vec); output is
    * (id_a, id_b, sim).
    *
    * (bands, rowsPerBand) carry NO default on purpose: the right setting
    * is a property of the corpus's sign distribution, and SCALE.md's
    * measured decade shows the wrong static guess ((4,4) on a
    * concentrated distribution) costing 149x per 10x. Set the bands from
    * chooseBandConfig (x10b passes its choice here); (4,4) remains the
    * graded x10 oracle setting.
    */
  def signBandNearDupPairs(
      corpus: DataFrame, threshold: Double,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = corpus.select(col("id"),
      posexplode(signBandSigs(col("vec"), bands, rowsPerBand))
        .as(Seq("band", "sig")))
    val buckets = banded.groupBy("band", "sig")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val cands = Dedup.explodeMemberPairs(buckets, "ids")
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
    val vecs = corpus.select(col("id").as("vid"), col("vec").as("vv"))
    cands
      .join(vecs.toDF("vid_a", "vec_a"), col("id_a") === col("vid_a"))
      .join(vecs.toDF("vid_b", "vec_b"), col("id_b") === col("vid_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("vec_a"), col("vec_b")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Contrastive pair mining: for each anchor, the k most-similar
    * SAME-label vectors (positives) and the k most-similar
    * DIFFERENT-label vectors (hard negatives) — the triplet/InfoNCE
    * training-data feed for embedding models, where random negatives
    * are too easy to carry gradient and the hard ones live exactly at
    * the decision boundary this finds. Output: (qid, qlabel, kind
    * 'positive'|'negative', rank, id, label, sim), ranked within
    * (anchor, kind) by (sim desc, id) on the 6-decimal-rounded cosine
    * (x08's determinism discipline).
    *
    * Anchors are small-by-contract and broadcast — the same deliberate
    * broadcast square as bruteForceTopK, and the honest graded form.
    * At corpus scale (every vector an anchor) use
    * contrastivePairsByCell below — the IVF-cell-blocked composition,
    * equivalence-law-pinned against this form and decade-measured in
    * the `contrastive` scale flow.
    */
  def contrastivePairs(
      anchors: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    Seq("qid", "qvec", "qlabel", "kind", "rank", "sim").foreach(c =>
      require(!corpus.columns.contains(c),
        s"contrastivePairs reserves column name '$c'; rename the input"))
    val a = anchors.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      col(labelCol).as("qlabel"))
    corpus.crossJoin(broadcast(a))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col("qlabel"),
        when(col(labelCol) === col("qlabel"), lit("positive"))
          .otherwise(lit("negative")).as("kind"),
        col(idCol), col(labelCol),
        round(cosine(col(vecCol), col("qvec")), 6).as("sim"))
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("qid"), col("kind"))
        .orderBy(col("sim").desc, col(idCol))).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Contrastive mining at CORPUS scale: every vector is an anchor,
    * and candidate generation is IVF-cell blocked instead of the
    * broadcast square — each anchor is compared only against vectors
    * whose assigned cell is among the anchor's `nprobe` nearest
    * centroids (the IVF-blocked composition the graded x72 scaladoc
    * promised). WHICH rows are compared changes,
    * the scoring never does: with nprobe = nlist every corpus cell is
    * probed and the output equals contrastivePairs over the full
    * anchor set row-for-row (spec-pinned equivalence law, the
    * ivfPqTopK pattern). Below that, positives/negatives split across
    * unprobed cells are missed — the same recall/cost dial as ivfTopK,
    * measured against the exact form in the `contrastive` scale flow.
    *
    * Shape: one map-side cell assignment + probe explode (rows ×
    * nprobe), one equi-join on cell, one (qid, kind)-partitioned
    * rank window over the ~probe-fraction candidate set. No broadcast
    * of the anchor side — anchors ARE the corpus here; the join is
    * shuffle-parallel on cell and the window on (qid, kind).
    *
    * Output contract difference from the exact form: an anchor with no
    * candidate of a kind in its probed cells emits no row of that
    * kind; rate computations must use this frame's own rows, never
    * the corpus size.
    */
  def contrastivePairsByCell(
      corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, centroids: Seq[(Int, Array[Double])],
      nprobe: Int, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    Seq("qid", "qvec", "qlabel", "kind", "rank", "sim", "cell").foreach(c =>
      require(!corpus.columns.contains(c),
        s"contrastivePairsByCell reserves column name '$c'; " +
          "rename the input"))
    val assigned = ivfAssign(
      corpus.select(col(idCol), col(vecCol), col(labelCol)),
      vecCol, centroids)
    val probes = corpus
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        col(labelCol).as("qlabel"))
      .withColumn("cell",
        explode(ivfProbeCells(col("qvec"), centroids, nprobe)))
    assigned.join(probes, Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col("qlabel"),
        when(col(labelCol) === col("qlabel"), lit("positive"))
          .otherwise(lit("negative")).as("kind"),
        col(idCol), col(labelCol),
        round(cosine(col(vecCol), col("qvec")), 6).as("sim"))
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("qid"), col("kind"))
        .orderBy(col("sim").desc, col(idCol))).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Label-centroid outlier scoring: each vector's squared L2 distance
    * to its OWN label's mean vector, plus its within-label outlier rank
    * (1 = farthest). The nearest-class-mean cousin of
    * knnLabelAgreement's 1-NN probe: where 1-NN asks "does my
    * nearest neighbor agree with my label", this asks "how far am I
    * from my class's center" — the cheap first-pass filter for
    * mislabeled / out-of-distribution rows in an embedded dataset
    * (top-ranked outliers are what a labeling-QA queue reviews first).
    *
    * Scale shape: class means use kmeansStep's coordinate-means
    * aggregation — ONE hash aggregate with dim avg() columns and
    * map-side partials, never an (n × dim)-row explode (the obvious
    * posexplode formulation pushes corpus×64 rows through a shuffle; at
    * 10^9 vectors that is the difference between one agg and a 6×10^10
    * -row exchange). The |labels|-row centroid frame broadcasts back
    * and the distance is one codegen'd zip_with per row; the only
    * window partitions by label. Cross-engine note: avg() accumulates
    * in engine-specific order, so d2 carries ~1e-12 summation jitter —
    * the graded query rounds to 4 decimals (margin >> jitter) and
    * ranks on the raw value, where a flip would need two DISTINCT
    * vectors within 1e-12 of each other (identical vectors get
    * identical d2 in both engines and break ties by id).
    */
  def labelCentroidOutliers(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      dim: Int): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    Seq("__cent", "d2", "outlier_rank").foreach(c =>
      require(!emb.columns.contains(c),
        s"labelCentroidOutliers reserves column name '$c'; rename the " +
          "input column"))
    val coordMeans = (0 until dim).map(i =>
      avg(element_at(col(vecCol), i + 1).cast("double")).as(s"__m$i"))
    val cents = emb.groupBy(col(labelCol))
      .agg(coordMeans.head, coordMeans.tail: _*)
      .select(col(labelCol),
        array((0 until dim).map(i => col(s"__m$i")): _*).as("__cent"))
    val d2 = aggregate(
      zip_with(col(vecCol), col("__cent"),
        (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, x) => acc + x)
    emb.join(broadcast(cents), Seq(labelCol))
      .select(col(idCol), col(labelCol), d2.as("d2"))
      .withColumn("outlier_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(labelCol))
          .orderBy(col("d2").desc, col(idCol))).cast("int"))
  }
}
