package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import graft.functions.{CosineSimilarity, MinHashSignature, SimHash64}

/** SparkSessionExtensions wiring: exposes the native graft expressions to
  * the SQL surface, so `spark.sql("SELECT simhash64(text) ...")` works
  * anywhere DataFrame code does. Activate with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  /** The instance-data natives (HyperplaneBucket, NearestCentroid,
    * BatchMergePairs) carry their parameter family as constructor data —
    * bound once at plan time, shipped per-instance via addReferenceObj —
    * rather than as a per-row child expression. SQL can still reach them
    * when the argument is a FOLDABLE literal array: fold it here, at
    * injection, into the instance data. A non-foldable argument (a
    * column) genuinely cannot work — the whole point of the instance
    * form is a plan-time-constant family — so reject it loudly.
    */
  private def foldedLiteral(e: Expression, to: ArrayType,
      what: String): ArrayData = {
    require(e.foldable,
      s"$what must be a foldable literal array (e.g. array(array(...))): " +
        "instance data binds at plan time, not per row")
    val v = Cast(e, to).eval()
    require(v != null, s"$what must not be null")
    v.asInstanceOf[ArrayData]
  }

  /** array<array<double>> literal -> row-major matrix. */
  private def litDoubleMatrix(e: Expression,
      what: String): Seq[Array[Double]] = {
    val rows = foldedLiteral(e, ArrayType(ArrayType(DoubleType)), what)
      .toObjectArray(ArrayType(DoubleType))
    require(rows.forall(_ != null), s"$what must not contain null rows")
    rows.toSeq.map(_.asInstanceOf[ArrayData].toDoubleArray())
  }

  /** array<array<string>> literal of [left, right] pairs. */
  private def litStringPairs(e: Expression,
      what: String): Seq[(String, String)] = {
    val ps = foldedLiteral(e, ArrayType(ArrayType(StringType)), what)
      .toObjectArray(ArrayType(StringType))
    ps.toSeq.map { p =>
      require(p != null, s"$what must not contain null pairs")
      val a = p.asInstanceOf[ArrayData]
      require(a.numElements() == 2,
        s"each $what element must be a [left, right] pair")
      (a.getUTF8String(0).toString, a.getUTF8String(1).toString)
    }
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.IntervalJoinRewrite)
    e.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit simhash of whitespace tokens"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    e.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(text, k, n) - minhash over k-shingles, n hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(t, k, n) => MinHashSignature(t,
          k.eval().asInstanceOf[Int], n.eval().asInstanceOf[Int])
        case Seq(t) => MinHashSignature(t, 3, 32)
        case _ => throw new IllegalArgumentException(
          "minhash_signature(text[, k, n])")
      }))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of arrays"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("approx_top_k_ss"),
      info("approx_top_k_ss",
        "approx_top_k_ss(col, k, capacity) - SpaceSaving heavy hitters"),
      (args: Seq[Expression]) => graft.functions.ApproxTopK(args(0),
        args(1).eval().asInstanceOf[Int], args(2).eval().asInstanceOf[Int])))
    e.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles",
        "word_shingles(text, k) - k-token shingle strings, one pass"),
      (args: Seq[Expression]) => graft.functions.WordShingles(args(0),
        args(1).eval().asInstanceOf[Int])))
    e.injectFunction((FunctionIdentifier("rolling_hash_31"),
      info("rolling_hash_31",
        "rolling_hash_31(text) - code-point 31-rolling hash mod 2^31-1"),
      (args: Seq[Expression]) => graft.functions.RollingHash31(args.head)))
    e.injectFunction((FunctionIdentifier("char_ngrams"),
      info("char_ngrams",
        "char_ngrams(text, n) - distinct char n-grams, first-occurrence order"),
      (args: Seq[Expression]) => graft.functions.CharNgrams(args(0),
        args(1).eval().asInstanceOf[Int])))
    e.injectFunction((FunctionIdentifier("image_header_meta"),
      info("image_header_meta",
        "image_header_meta(bytes) - packed PNG/JPEG header metadata " +
          "(fmt<<56 | depth<<48 | width<<24 | height; -1 unparseable)"),
      (args: Seq[Expression]) => graft.functions.ImageHeaderMeta(args.head)))
    e.injectFunction((FunctionIdentifier("media_header_meta"),
      info("media_header_meta",
        "media_header_meta(bytes) - packed PNG/JPEG/GIF/WAV header " +
          "metadata (fmt<<56 | depth<<48 | a<<24 | b; a/b = " +
          "width/height for images, sample_rate/channels for wav; " +
          "-1 unparseable)"),
      (args: Seq[Expression]) => graft.functions.MediaHeaderMeta(args.head)))
    e.injectFunction((FunctionIdentifier("md5_long60"),
      info("md5_long60",
        "md5_long60(s) - first 15 hex chars of md5(s) as a 60-bit " +
          "long, one pass (the engine-portable hash dial)"),
      (args: Seq[Expression]) => graft.functions.Md5Long60(args.head)))
    e.injectFunction((FunctionIdentifier("dense_vec_norm2"),
      info("dense_vec_norm2",
        "dense_vec_norm2(pairs, dim) - scatter array<struct<int,long>> " +
          "sparse pairs to struct<vec: array<double>, n2: double> " +
          "(squared norm folded in index order), one pass"),
      (args: Seq[Expression]) => args match {
        // accept any foldable integral dim (an unadorned SQL literal
        // like 64 parses as INT, but a BIGINT or an expression that
        // folds to one must not ClassCastException / unbound-eval —
        // they get the real message instead)
        case Seq(p, d) if d.foldable &&
            (d.dataType == org.apache.spark.sql.types.IntegerType ||
             d.dataType == org.apache.spark.sql.types.LongType) =>
          val dim = d.eval() match {
            case i: Int => i.toLong
            case l: Long => l
          }
          require(dim >= 1 && dim <= 65536,
            s"dense_vec_norm2 dim must be in [1, 65536], got $dim")
          graft.functions.DenseVecNorm2(p, dim.toInt)
        case Seq(_, _) => throw new IllegalArgumentException(
          "dense_vec_norm2(pairs, dim): dim must be an integer literal")
        case _ => throw new IllegalArgumentException(
          "dense_vec_norm2(pairs, dim)")
      }))
    e.injectFunction((FunctionIdentifier("char_split"),
      info("char_split",
        "char_split(text) - one string per code point, one pass"),
      (args: Seq[Expression]) => graft.functions.CharSplit(args.head)))
    e.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnow_fingerprints(text, k, w) - sorted distinct winnowing " +
          "fingerprints over md5-grid k-gram hashes, window w"),
      (args: Seq[Expression]) => {
        require(args.length == 3 && args(1).foldable && args(2).foldable,
          "winnow_fingerprints(text, k, w) needs literal int k and w")
        graft.functions.WinnowFingerprints(args(0),
          args(1).eval().asInstanceOf[Int],
          args(2).eval().asInstanceOf[Int])
      }))
    // ---- instance-data natives: literal family folded at injection ----
    e.injectFunction((FunctionIdentifier("classifier_margin"),
      info("classifier_margin",
        "classifier_margin(text, weights, bias[, fast]) - hashed " +
          "unigram+bigram linear margin; weights a literal " +
          "array<double>, bias a literal double, fast = xxhash64 " +
          "bucket family (default false = md5)"),
      (args: Seq[Expression]) => {
        require(args.length == 3 || args.length == 4,
          "classifier_margin(text, weights, bias[, fast])")
        val w = foldedLiteral(args(1), ArrayType(DoubleType),
          "classifier_margin weights").toDoubleArray()
        require(args(2).foldable,
          "classifier_margin bias must be a literal")
        val bias = Cast(args(2), DoubleType).eval()
        require(bias != null, "classifier_margin bias must not be null")
        val fast = if (args.length == 4) {
          require(args(3).foldable &&
            args(3).dataType == org.apache.spark.sql.types.BooleanType,
            "classifier_margin fast must be a literal boolean")
          val v = args(3).eval()
          require(v != null, "classifier_margin fast must not be null")
          v.asInstanceOf[Boolean]
        } else false
        graft.functions.ClassifierMargin(args(0), w.toIndexedSeq,
          bias.asInstanceOf[Double], fast)
      }))
    e.injectFunction((FunctionIdentifier("hyperplane_bucket"),
      info("hyperplane_bucket",
        "hyperplane_bucket(vec, planes) - sign-pattern LSH bucket id; " +
          "planes is a literal array<array<double>>"),
      (args: Seq[Expression]) => graft.functions.HyperplaneBucket(args(0),
        litDoubleMatrix(args(1), "hyperplane_bucket planes").map(_.toSeq))))
    e.injectFunction((FunctionIdentifier("mat_vec_project"),
      info("mat_vec_project",
        "mat_vec_project(vec, rows, scale) - array<float> projection " +
          "out(j) = float(scale * dot(vec, rows[j])); rows a literal " +
          "array<array<double>>, scale a literal double"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "mat_vec_project(vec, rows, scale)")
        require(args(2).foldable, "mat_vec_project scale must be a literal")
        val scale = Cast(args(2), DoubleType).eval()
        require(scale != null, "mat_vec_project scale must not be null")
        graft.functions.MatVecProject(args(0),
          litDoubleMatrix(args(1), "mat_vec_project rows").map(_.toSeq),
          scale.asInstanceOf[Double])
      }))
    e.injectFunction((FunctionIdentifier("nearest_centroid"),
      info("nearest_centroid",
        "nearest_centroid(vec, centroids) - argmin-L2 cell index; " +
          "centroids is a literal array<array<double>>, cell id = position"),
      (args: Seq[Expression]) => graft.functions.NearestCentroid(args(0),
        litDoubleMatrix(args(1), "nearest_centroid centroids")
          .zipWithIndex.map { case (v, i) => (i, v) })))
    e.injectFunction((FunctionIdentifier("nearest_centroid_dist"),
      info("nearest_centroid_dist",
        "nearest_centroid_dist(vec, centroids) - struct(cell, dist) of the " +
          "argmin-L2 cell; centroids as in nearest_centroid"),
      (args: Seq[Expression]) => graft.functions.NearestCentroidDist(args(0),
        litDoubleMatrix(args(1), "nearest_centroid_dist centroids")
          .zipWithIndex.map { case (v, i) => (i, v) })))
    e.injectFunction((FunctionIdentifier("nearest_cells"),
      info("nearest_cells",
        "nearest_cells(vec, centroids, k) - the k nearest cell indices, " +
          "nearest first; centroids as in nearest_centroid, k a literal int"),
      (args: Seq[Expression]) => {
        require(args.length == 3 && args(2).foldable,
          "nearest_cells(vec, centroids, k) needs a literal k")
        graft.functions.NearestCells(args(0),
          litDoubleMatrix(args(1), "nearest_cells centroids")
            .zipWithIndex.map { case (v, i) => (i, v) },
          args(2).eval().asInstanceOf[Int])
      }))
    e.injectFunction((FunctionIdentifier("batch_merge_pairs"),
      info("batch_merge_pairs",
        "batch_merge_pairs(syms, pairs) - apply non-conflicting BPE merge " +
          "pairs in one pass; pairs is a literal array<array<string>> of " +
          "[left, right]"),
      (args: Seq[Expression]) => graft.functions.BatchMergePairs(args(0),
        litStringPairs(args(1), "batch_merge_pairs pairs"))))
  }
}

/** Session factory with the engine's standard configuration: the settings
  * every entry point (Verify, Bench, Cli, tests) needs to behave
  * identically — UTC, right-sized shuffle partitions for local mode, AQE,
  * the events-nanos reader flag, the generated-class cache size, and the
  * graft SQL functions.
  *
  * The generated-class cache is JVM-wide and static: `CodeGenerator`
  * reads `spark.sql.codegen.cache.maxEntries` once, when it is first
  * initialized, and keeps that size for the life of the JVM. A session
  * not built here, or code that generates a class before a session built
  * here exists, leaves Spark's 100-entry cap in place for every later
  * session in the same JVM.
  */
object GraftSession {

  /** Entries in Spark's generated-class cache: the smallest power of two
    * above the graded inventory's working set.
    *
    * Measured on a 4-core host at local[4], passes over all 150 queries in
    * name order: with this cap, the first pass at sf0.001 compiles 1,596
    * classes, the second 22 (classes whose code differs from run to run),
    * the first pass at sf0.1 after them 39 (those 22 plus 17 for plans
    * AQE picks only at the larger scale). So one pass needs about 1,640
    * entries. Under Spark's default cap of 100 every pass compiled about
    * 2,290 classes, because a loop over more than 100 classes evicts each
    * class before it recurs; the five `pipeline_sf0.1` queries alone
    * recompiled 158 per round. With this cap: 0 per round, and the
    * second sf0.1 pass took 58 s instead of 97 s. Keeping the working set
    * retains about 52 MB more heap after GC and 14 MB more Metaspace.
    */
  val CodegenCacheEntries = 2048

  def builder(master: String = "local[4]",
      shufflePartitions: Int = 4): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
