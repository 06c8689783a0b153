package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for embedding search (Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011): cut
  * each dim-D vector into `m` contiguous subvectors, learn a small
  * codebook per subspace, and store each vector as its `m` nearest-
  * codeword ids — one int (a byte at k <= 256) per subspace. At the
  * repo's 64-float embeddings with m=8, that is 256 bytes -> 8 bytes,
  * a 32x compression that is the difference between "the corpus's
  * vectors fit in executor memory" and "they don't" at 10^9+ rows.
  *
  * Search is asymmetric distance computation (ADC, the paper's §IV.A):
  * the QUERY stays exact — per query, precompute an m x k lookup table
  * of partial squared L2 distances to every codeword, then a corpus
  * vector's approximate distance is m table lookups summed. On Spark
  * that is: tiny LUT frame broadcast, one codegen'd projection over the
  * codes column, top-k per query via a query-partitioned rank window —
  * a map-only scan of 8-byte codes with NO corpus exchange, against
  * brute force's full-vector reads (x08). Fidelity dial: re-rank ADC's
  * top k' >> k candidates with exact vectors (a bounded id-join), the
  * same recover-fidelity-by-spending-candidates move as IVF's nprobe
  * (SCALE.md round-15 kNN sweep); composing with ivfAssign's cell
  * blocking gives IVF-PQ, the standard billion-scale layout — both are
  * compositions of operators this repo already grades, not new code.
  *
  * Training reuses Similarity.kmeans VERBATIM per subspace (m
  * independent small problems of dimension dim/m): the driver loop is
  * m x iters bounded jobs, each returning k x (dim/m + 1) rows — the
  * sanctioned kmeans collect class, growing with the index, not the
  * corpus. Production trains on a sample (the paper uses ~100k-1M
  * vectors regardless of corpus size) and encodes the full corpus with
  * the frozen codebooks; encode is one compiled map pass (m
  * NearestCentroid natives over slices — constant plan size).
  *
  * The graded query (x69/x70) freezes the codebook to the every-97th-id
  * seed pool (x36's deterministic pattern) so a DuckDB oracle replays
  * encode and ADC exactly; the kmeans-trained path is graded by
  * PqSpec's laws instead (training must beat the untrained codebook on
  * reconstruction error and recall — hash-free, engine-internal).
  *
  * REGIME GUIDANCE, measured per corpus family (SCALE.md pq256 +
  * round-20 textpq): PQ's fidelity is a property of the VECTOR
  * DISTRIBUTION, not the corpus size. On sparse-featurized text
  * (hashed TF-IDF — near-sparse, axis-aligned coordinates) the
  * production k=256/m=8 dial reads ADC recall@10 ≈ 0.34 and
  * rerank-50 ≈ 0.65 at 200k vectors — the same collapse class as the
  * quasi-orthogonal corpus (0.30 / 0.50), because subspace codewords
  * cannot represent "exactly one of these 8 buckets is hot" geometry
  * — while IVF-FLAT on the identical vectors reads recall 1.00 at a
  * comparable search wall (textemb). So: for sparse-featurized text,
  * use IVF-flat and skip quantization; reserve PQ/ADC (and IVF-PQ)
  * for DENSE embedding distributions, where the memory win is also
  * the reason it exists. The drift probe below is regime-independent
  * (it measures reconstruction error against the shipped codebooks,
  * whatever their fidelity).
  */
object Pq {

  /** Per-subspace codebooks from seed vectors: subspace i's codebook is
    * the i-th slice of each seed, codes assigned in seed order 0..k-1.
    * The deterministic bootstrap (and the x69 oracle's replayable
    * form); kmeans refinement starts from exactly this.
    */
  def seedCodebooks(seeds: Seq[Array[Double]], dim: Int, m: Int)
      : Seq[Seq[(Int, Array[Double])]] = {
    require(m >= 1 && dim % m == 0, s"m must divide dim, got $dim/$m")
    require(seeds.nonEmpty, "need at least one seed vector")
    seeds.foreach(sd => require(sd.length == dim,
      s"seed length ${sd.length} != dim $dim"))
    val sub = dim / m
    (0 until m).map(i =>
      seeds.zipWithIndex.map { case (sd, c) =>
        (c, sd.slice(i * sub, (i + 1) * sub))
      })
  }

  /** Lloyd-refine each subspace's codebook for `iters` rounds —
    * Similarity.kmeans on the sliced corpus, m independent problems.
    * The result is REINDEXED to contiguous codes 0..k'-1: kmeansStep
    * drops cells that lose all members (dead-centroid removal), and a
    * gap in the code sequence would silently misalign the positional
    * ADC LUT below (element_at(lut, code+1) holds code c's distance at
    * position c+1 ONLY when codes are dense). Reindexing is safe here
    * because codes never travel without their codebook — encode always
    * derives them fresh from the codebook it is handed.
    */
  def trainCodebooks(
      corpus: DataFrame, vecCol: String, dim: Int,
      init: Seq[Seq[(Int, Array[Double])]], iters: Int)
      : Seq[Seq[(Int, Array[Double])]] = {
    val m = init.size
    require(m >= 1 && dim % m == 0, s"m must divide dim, got $dim/$m")
    val sub = dim / m
    init.zipWithIndex.map { case (cb, i) =>
      val sliced = corpus.select(
        slice(col(vecCol), i * sub + 1, sub).as("__sub"))
      Similarity.kmeans(sliced, "__sub", sub, cb, iters)._1
        .sortBy(_._1).zipWithIndex.map { case ((_, v), c) => (c, v) }
    }
  }

  /** Every ADC path indexes its LUT positionally, so every codebook it
    * accepts must carry codes exactly 0..k-1 — fail loudly instead of
    * misindexing (a gapped codebook reads the WRONG code's distance
    * with no error; caught in round-15 self-review before any trained
    * codebook hit a dead cell in practice).
    */
  private def requireContiguous(
      codebooks: Seq[Seq[(Int, Array[Double])]]): Unit =
    codebooks.zipWithIndex.foreach { case (cb, i) =>
      require(cb.map(_._1) == (0 until cb.size),
        s"subspace $i codebook codes ${cb.map(_._1).mkString(",")} are " +
          s"not contiguous 0..${cb.size - 1}: the positional ADC LUT " +
          "would misindex — retrain via trainCodebooks (which reindexes)")
    }

  /** Per-query LUT: lut(i)(c) = ||q_i - codeword_c||^2, j-ascending
    * double summation — the order the SQL oracles replay. Shared by
    * the flat and cell-blocked search paths so a tweak cannot diverge.
    */
  private def lutFor(q: Array[Double],
      codebooks: Seq[Seq[(Int, Array[Double])]], dim: Int)
      : Seq[Seq[Double]] = {
    require(q.length == dim, s"query length ${q.length} != dim $dim")
    val m = codebooks.size
    val sub = dim / m
    (0 until m).map { i =>
      codebooks(i).sortBy(_._1).map { case (_, cw) =>
        var d2 = 0.0
        var j = 0
        while (j < sub) {
          val diff = q(i * sub + j) - cw(j)
          d2 += diff * diff
          j += 1
        }
        d2
      }
    }
  }

  /** The ascending-subspace ADC sum over a codes column against a lut
    * column — one shared expression for both search paths.
    */
  private def adcExpr(codesCol: String, m: Int): Column =
    (0 until m).map(i =>
      element_at(element_at(col("lut"), i + 1),
        element_at(col(codesCol), i + 1) + 1))
      .reduce(_ + _)

  /** Reserve-check for the names exactRerank introduces on the CORPUS
    * frame: a corpus already carrying e.g. `query_id` would make the
    * candidate id-join resolve against the wrong column (ambiguity
    * error at best, silent mis-join at worst). Called by both public
    * entry points that reach exactRerank, before any candidate work.
    */
  private def requireRerankSafe(corpus: DataFrame, entry: String): Unit =
    Seq("query_id", "qvec", "rank", "d2", "__d2").foreach(c =>
      require(!corpus.columns.contains(c),
        s"Pq.$entry reserves column name '$c' on the corpus frame; " +
          "rename the input column"))

  /** Exact-L2 re-rank of a bounded (query_id, id) candidate frame:
    * fetch full vectors by id, score against the broadcast query set,
    * keep each query's best k by (d2, id). Shared by adcTopKReranked
    * and ivfPqTopKIndexed.
    */
  private def exactRerank(
      cand: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Double])], k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qdf = queries.map { case (qid, q) => (qid, q.toSeq) }
      .toDF("query_id", "qvec")
    val d2 = aggregate(
      zip_with(col(vecCol), col("qvec"),
        (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, x) => acc + x)
    cand.select(col("query_id"), col(idCol))
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(qdf), Seq("query_id"))
      .select(col("query_id"), col(idCol), d2.as("__d2"))
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("__d2"), col(idCol))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol),
        round(col("__d2"), 6).as("d2"))
  }

  private def codeExprs(vecCol: Column,
      codebooks: Seq[Seq[(Int, Array[Double])]], dim: Int): Seq[Column] = {
    val m = codebooks.size
    val sub = dim / m
    (0 until m).map(i => graft.functions.VectorFunctions
      .nearestCentroid(slice(vecCol, i * sub + 1, sub), codebooks(i)))
  }

  /** Encode the corpus: (idCol, codes array<int> of length m). One
    * compiled map pass; ties inside a subspace resolve to the smallest
    * code (NearestCentroid's contract), so encoding is deterministic.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, codebooks: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    require(codebooks.nonEmpty && dim % codebooks.size == 0,
      s"m must divide dim, got $dim/${codebooks.size}")
    requireContiguous(codebooks)
    require(!corpus.columns.contains("codes"),
      "Pq.encode reserves column name 'codes'; rename the input column")
    corpus.select(col(idCol),
      array(codeExprs(col(vecCol), codebooks, dim): _*).as("codes"))
  }

  /** ADC top-k over an encoded corpus: for each query, approximate
    * squared L2 = sum over subspaces of LUT[sub][code], smallest k by
    * (distance, id). Output: (query_id, rank, id, adc_d2). The LUT
    * rides a broadcast crossJoin (|queries| rows — bounded by contract,
    * like bruteForceTopK's query set); the corpus side reads ONLY the
    * codes column. Distances compare raw and round for display only
    * (x06's boundary discipline).
    */
  def adcTopK(
      encoded: DataFrame, idCol: String, codesCol: String,
      queries: Seq[(Long, Array[Double])],
      codebooks: Seq[Seq[(Int, Array[Double])]], dim: Int,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val m = codebooks.size
    require(m >= 1 && dim % m == 0, s"m must divide dim, got $dim/$m")
    requireContiguous(codebooks)
    Seq("query_id", "lut", "rank", "adc_d2", "__adc").foreach(c =>
      require(!encoded.columns.contains(c),
        s"Pq.adcTopK reserves column name '$c'; rename the input column"))
    val spark = encoded.sparkSession
    import spark.implicits._
    val luts = queries
      .map { case (qid, q) => (qid, lutFor(q, codebooks, dim)) }
      .toDF("query_id", "lut")
    // ascending-subspace sum of lookups, same association order as the
    // SQL twin's list_sum over m-ordered partials
    encoded.crossJoin(broadcast(luts))
      .select(col("query_id"), col(idCol),
        adcExpr(codesCol, m).as("__adc"))
      // a malformed vector encodes to null codes -> null ADC, and the
      // ascending window sort is NULLS FIRST, which would hand every
      // corrupt row rank 1 — drop them here so corruption surfaces in
      // the encode output (null codes), never in the search results
      .filter(col("__adc").isNotNull)
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("__adc"), col(idCol))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol),
        round(col("__adc"), 6).as("adc_d2"))
  }

  /** ADC top-kCand then EXACT re-rank to top-k — the paper's §V.C
    * two-stage search and the operator's fidelity dial: quantization
    * noise decides only which kCand candidates survive the cheap scan;
    * the final ordering is exact squared L2 over full vectors fetched
    * for the bounded |queries| x kCand candidate set (an equi-join on
    * id — narrow, never a corpus exchange). kCand is the same
    * spend-candidates-to-buy-fidelity knob as IVF's nprobe (SCALE.md
    * round-15 kNN sweep): on quasi-orthogonal corpora, where neighbor
    * gaps are small relative to quantization noise (PqSpec measures
    * ADC-alone recall collapsing exactly there), widening kCand is what
    * restores recall at the cost of kCand/corpus exact reads.
    */
  def adcTopKReranked(
      encoded: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, codesCol: String,
      queries: Seq[(Long, Array[Double])],
      codebooks: Seq[Seq[(Int, Array[Double])]], dim: Int,
      kCand: Int, k: Int): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    requireRerankSafe(corpus, "adcTopKReranked")
    val cand = adcTopK(encoded, idCol, codesCol, queries, codebooks,
      dim, kCand)
    exactRerank(cand, corpus, idCol, vecCol, queries, k)
  }

  /** IVF-PQ: the billion-scale layout (Jégou et al. §V.D) as a
    * composition of two already-graded operators — ivfAssign's cell
    * blocking decides WHICH rows are scored, PQ codes decide HOW
    * CHEAPLY, and the exact re-rank restores fidelity. Per query the
    * driver picks the `nprobe` nearest cell centroids (|queries| x
    * nlist doubles — index-sized, the sanctioned collect class); the
    * LUT frame then carries one row per (query, probed cell) and joins
    * the encoded corpus EQUI ON THE CELL, so the ADC projection runs
    * only over probed rows — on a cell-bucketed/partitioned table the
    * join prunes physically and the scan itself shrinks by the probe
    * fraction, which is the number that matters at 10^9 rows. nprobe
    * defaults follow Similarity.nprobeForNlist's ln-scaled rule (the
    * round-15 fidelity-decay lesson: fixed nprobe probes a vanishing
    * fraction as nlist grows with the corpus).
    */
  def ivfPqTopK(
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      cells: Seq[(Int, Array[Double])],
      codebooks: Seq[Seq[(Int, Array[Double])]],
      queries: Seq[(Long, Array[Double])],
      nprobe: Int, kCand: Int, k: Int): DataFrame =
    ivfPqTopKIndexed(
      ivfPqIndex(corpus, idCol, vecCol, dim, cells, codebooks),
      corpus, idCol, vecCol, dim, cells, codebooks,
      queries, nprobe, kCand, k)

  /** The (id, cell, codes) index frame — ONE compiled map pass
    * (ivfAssign's nearest_centroid + the m subspace natives) that
    * production runs once at ingest, persisted bucketed by cell so
    * every later search's probe join prunes physically. ivfPqTopK
    * builds it inline for the self-contained form; a repeated search
    * should checkpoint it first, because re-deriving the O(nlist·dim)
    * assignment per query batch measurably dominated search wall at
    * the ×100 slice (the build-vs-search split is the measurement, see
    * SCALE.md round-15 PQ).
    */
  def ivfPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      cells: Seq[(Int, Array[Double])],
      codebooks: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    require(codebooks.nonEmpty && dim % codebooks.size == 0,
      s"m must divide dim, got $dim/${codebooks.size}")
    requireContiguous(codebooks)
    Seq("cell", "codes").foreach(c =>
      require(!corpus.columns.contains(c),
        s"Pq.ivfPqIndex reserves column name '$c'; rename the input column"))
    Similarity.ivfAssign(corpus, vecCol, cells)
      .select(col(idCol), col("cell"),
        array(codeExprs(col(vecCol), codebooks, dim): _*).as("codes"))
  }

  /** Search a prebuilt IVF-PQ index (ivfPqIndex's schema). `corpus` is
    * still needed for the exact re-rank reads of the bounded candidate
    * set.
    */
  def ivfPqTopKIndexed(
      index: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int,
      cells: Seq[(Int, Array[Double])],
      codebooks: Seq[Seq[(Int, Array[Double])]],
      queries: Seq[(Long, Array[Double])],
      nprobe: Int, kCand: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && kCand >= k && k >= 1,
      s"need nprobe >= 1 ($nprobe), kCand >= k >= 1 ($kCand, $k)")
    val m = codebooks.size
    require(m >= 1 && dim % m == 0, s"m must divide dim, got $dim/$m")
    requireContiguous(codebooks)
    Seq("query_id", "lut", "rank", "__adc", "__rn").foreach(c =>
      require(!index.columns.contains(c),
        s"Pq.ivfPqTopKIndexed reserves column name '$c'; rename the " +
          "input column"))
    requireRerankSafe(corpus, "ivfPqTopKIndexed")
    def l2(q: Array[Double], c: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < q.length) { val x = q(i) - c(i); d += x * x; i += 1 }
      d
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    // (query, probed cell, lut): nprobe nearest centroids per query,
    // ties toward the smaller cell id — same order ivfAssign breaks them
    val probeRows = queries.flatMap { case (qid, q) =>
      val lut = lutFor(q, codebooks, dim)
      cells.map { case (cid, cv) => (l2(q, cv), cid) }
        .sorted.take(nprobe)
        .map { case (_, cid) => (qid, cid, lut) }
    }
    val probes = probeRows.toDF("query_id", "cell", "lut")
    // The probed cell set is known DRIVER-SIDE (the probe selection
    // above is plan-time arithmetic), so push it as a LITERAL IN
    // filter on the index before the join: on an in-memory index this
    // is free, and on a cell-PARTITIONED index table it is guaranteed
    // static partition pruning — the scan physically reads only the
    // probed fraction, no dynamic-pruning heuristics needed. This is
    // the mechanism behind the 10^9-row claim, demonstrated against a
    // partitioned on-disk index in PqSpec (PartitionFilters pin).
    val probedCells = probeRows.map(_._2).distinct
    val cand = index
      .filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col(idCol),
        adcExpr("codes", m).as("__adc"))
      // same null-ADC guard as adcTopK (NULLS FIRST would rank corrupt
      // rows 1st); malformed vectors also assign a null CELL, so most
      // never reach this join — the filter covers the belt-and-braces
      .filter(col("__adc").isNotNull)
      .withColumn("__rn", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("__adc"), col(idCol))))
      .filter(col("__rn") <= kCand)
    exactRerank(cand, corpus, idCol, vecCol, queries, k)
  }

  /** Per-row squared reconstruction error under a codebook: sum over
    * subspaces of the argmin-L2 codeword distance (ascending-j
    * summation inside each native, ascending-subspace left-associated
    * sum across them — the replayable arithmetic x69/x70 pinned, so a
    * DuckDB oracle reproduces it bit-for-bit; x83 grades exactly this
    * column per row).
    */
  def reconstructionErrCol(vecCol: Column, dim: Int,
      codebooks: Seq[Seq[(Int, Array[Double])]]): Column = {
    val m = codebooks.size
    require(m >= 1 && dim % m == 0, s"m must divide dim, got $dim/$m")
    val sub = dim / m
    (0 until m).map { i =>
      graft.functions.VectorFunctions
        .nearestCentroidDist(slice(vecCol, i * sub + 1, sub),
          codebooks(i))
        .getField("dist")
    }.reduce(_ + _)
  }

  /** Mean squared reconstruction error of a codebook over the corpus —
    * the training objective, used by PqSpec to assert Lloyd refinement
    * actually improves on the seed codebook (and by extension that
    * encode/codebook wiring is consistent: a code permutation bug would
    * show as a huge error). Record this number AT TRAINING TIME: it is
    * the denominator reconstructionErrRatio monitors against.
    */
  def reconstructionError(
      corpus: DataFrame, vecCol: String, dim: Int,
      codebooks: Seq[Seq[(Int, Array[Double])]]): Double =
    corpus.select(reconstructionErrCol(col(vecCol), dim, codebooks)
        .as("__d2"))
      .agg(avg(col("__d2"))).head().getDouble(0)

  /** Encode + drift-probe column in ONE map pass: (idCol, codes,
    * recon_err) where codes is exactly encode's output and recon_err is
    * the row's squared reconstruction error under the same codebooks.
    * The per-subspace struct(cell, dist) natives are staged ONCE as a
    * multi-use alias (CollapseProject keeps non-trivial multi-use
    * aliases staged), so the probe costs the daily ingest job ZERO
    * extra distance computations over the encode it already pays —
    * codes read the cell fields, the error sums the dist fields.
    * `avg(recon_err) / trainErr` on this frame is
    * reconstructionErrRatio without a second scan.
    */
  def encodeWithErr(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, codebooks: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    val m = codebooks.size
    require(m >= 1 && dim % m == 0, s"m must divide dim, got $dim/$m")
    requireContiguous(codebooks)
    Seq("codes", "recon_err", "__ncd").foreach(c =>
      require(!corpus.columns.contains(c),
        s"Pq.encodeWithErr reserves column name '$c'; rename the input " +
          "column"))
    val sub = dim / m
    val ncd = array((0 until m).map(i =>
      graft.functions.VectorFunctions.nearestCentroidDist(
        slice(col(vecCol), i * sub + 1, sub), codebooks(i))): _*)
    corpus.select(col(idCol), ncd.as("__ncd"))
      .select(col(idCol),
        transform(col("__ncd"), s => s.getField("cell")).as("codes"),
        (0 until m).map(i =>
            element_at(col("__ncd"), i + 1).getField("dist"))
          .reduce(_ + _).as("recon_err"))
  }

  /** THE QUANTIZER DRIFT PROBE — the decision a real ingest job must
    * make daily, as one number it can compute for the cost of the
    * encode pass it already pays: mean squared reconstruction error of
    * TODAY'S batch under YESTERDAY'S codebooks, relative to the error
    * those codebooks had on their own training data (`trainErr`,
    * recorded by reconstructionError at train time).
    *
    * SHIPPED RULE (measured, SCALE.md pqmaint ×10/×100): **retrain when
    * the ratio exceeds 2; append otherwise.**
    * - ratio ≈ 1: the quantizer still covers the batch — APPEND (encode
    *   the batch, union the code tables): 20-50× cheaper than rebuild
    *   and recall-EQUAL in the stable regime.
    * - ratio > 2: the batch left the codeword support — RETRAIN +
    *   re-encode before search recall silently decays (the measured
    *   drift regime cost 11-25 recall points under append; rebuild
    *   recovered them).
    * The measured separation is two orders of magnitude (stable
    * 1.03-1.05 vs drifted 93-100), so the threshold is far from both
    * operating points; no recall oracle, ground truth, or query set is
    * needed at decision time.
    */
  def reconstructionErrRatio(
      batch: DataFrame, vecCol: String, dim: Int,
      codebooks: Seq[Seq[(Int, Array[Double])]],
      trainErr: Double): Double = {
    require(trainErr > 0,
      s"trainErr must be > 0 (got $trainErr) — record it at training " +
        "time via reconstructionError on the training sample")
    reconstructionError(batch, vecCol, dim, codebooks) / trainErr
  }
}
