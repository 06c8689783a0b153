package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus deduplication operators, each designed as the standard
  * shuffle-shape for its algorithm at 100 TB:
  *
  * - exact: one hash-aggregate on a 16-byte text digest (never shuffle
  *   raw text).
  * - MinHash-LSH: per-row signatures (map-side only), then ONE shuffle on
  *   (band, bandHash) to form candidate buckets, then pair verification —
  *   the canonical shingle→minhash→band→bucket-join pipeline.
  * - SimHash: per-row 64-bit sketch, candidate blocking on 16-bit chunks
  *   (pigeonhole for Hamming<=3), verify with bit_count(xor).
  * - token-set Jaccard: exact quadratic verifier for use inside small
  *   blocks.
  *
  * All sketches are pure Catalyst higher-order-function expressions (no
  * UDFs), so the map side stays inside whole-stage codegen. Hash
  * arithmetic is kept under 2^62 (a,p < 2^31) because Spark 4 runs ANSI
  * mode by default and a long overflow would throw instead of wrapping.
  */
object Dedup {

  import TextAnalysis.tokens

  /** Spread a thin input across the cluster before CPU-heavy per-row
    * sketching. A small corpus file arrives as one scan partition (one
    * parquet rowgroup = one split), which would pin the whole map side to
    * a single core; the shuffle this inserts moves only the raw text —
    * trivially cheap next to the hashing it parallelizes. Guarded so a
    * properly-split big input (the 100 TB case: thousands of splits)
    * passes through untouched, shuffle-free.
    *
    * The guard reads the optimizer's size estimate, NOT
    * `df.rdd.getNumPartitions`: converting to the RDD forces a full
    * physical-planning pass of the upstream plan per call (a planning
    * tax in every sketch pipeline) and plans the tree a second time
    * outside AQE's view. An input whose estimated bytes can't fill
    * `parallelism` scan splits of `spark.sql.files.maxPartitionBytes`
    * is thin; anything bigger already arrives as >= parallelism splits
    * and passes through.
    */
  private[operators] def fanOut(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val p = sess.sparkContext.defaultParallelism
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      sess.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(maxSplit) * p) df.repartition(p) else df
  }

  /** Exact dedup: group rows by content digest, keep the smallest id.
    * Returns (keep_id, n_copies) per distinct content.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word k-shingles as strings: ["a b c", "b c d", ...]; empty array when
    * the document has fewer than k tokens (or is null, matching the old
    * when/otherwise declarative formula).
    *
    * Native one-pass expression since round 10: the declarative
    * formulation (`transform(sequence(...), i => array_join(slice(
    * tokens(text), ...)))`) re-evaluated the token split inside its
    * interpreted lambda on EVERY iteration — O(tokens²) per document,
    * measured at 50s for 2M grams on 400-token docs (the split itself:
    * 0.5s). Harmless on the ~150-token synthetic docs, a real hazard at
    * web-document lengths. SketchExpressionsSpec pins native ==
    * declarative on adversarial inputs (consecutive/trailing spaces,
    * short docs, k=1, null).
    */
  def shingles(text: Column, k: Int): Column =
    coalesce(graft.functions.SketchFunctions.wordShingles(text, k),
      array().cast(ArrayType(StringType)))

  // Deterministic 2-universal hash family: h_i(x) = (a_i*(x mod p)+b_i) mod p
  // with p = 2^31-1, so every intermediate fits in a long under ANSI mode.
  private val P = 2147483647L // 2^31 - 1
  private def hashFamily(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Adds `sigCol` = MinHash signature (array<bigint>, length numHashes)
    * via the one-pass native expression (graft.functions.MinHashSignature
    * — same hash family, compiled instead of interpreted lambdas).
    * Documents with fewer than shingleK tokens are dropped (null
    * signature: nothing to compare).
    */
  def withMinhashSignature(
      docs: DataFrame, textCol: String, sigCol: String,
      shingleK: Int, numHashes: Int): DataFrame =
    fanOut(docs).withColumn(sigCol, graft.functions.SketchFunctions
        .minhashSignature(col(textCol), shingleK, numHashes))
      .filter(col(sigCol).isNotNull)

  /** Reference formulation of the signature as pure higher-order
    * functions — semantically identical to the native expression (parity
    * asserted in SketchExpressionsSpec), kept as the executable spec.
    */
  def minhashSignatureHof(text: Column, shingleK: Int,
      numHashes: Int): Column = {
    val hs = transform(shingles(text, shingleK),
      s => pmod(xxhash64(s), lit(P)))
    val mins = hashFamily(numHashes).map { case (a, b) =>
      array_min(transform(hs, h => pmod(h * a + b, lit(P))))
    }
    when(size(hs) > 0, array(mins: _*))
  }

  /** All (a, b) pairs with a-before-b from each bucket's SORTED member
    * array — the in-bucket pair generator shared by every LSH/blocking
    * pipeline here. Two chained Generates: explode the members, then each
    * member's strict successors. The O(k^2) pair set is therefore
    * STREAMED as rows, never built as one array value — a degenerate hot
    * bucket (a corpus that skipped exact dedup and carries 100k identical
    * docs) degrades to many cheap rows exactly like the self-join
    * formulation would, instead of assembling a multi-GB single value
    * and dying on Spark's 2GB value limit. (The right tool for such a
    * corpus is still an x01-style exact-dedup pass first; this keeps the
    * blocking pipeline from being the thing that falls over.)
    */
  private[operators] def explodeMemberPairs(
      buckets: DataFrame, msCol: String): DataFrame =
    buckets
      .select(col(msCol), posexplode(col(msCol)).as(Seq("__i", "a")))
      .select(col("a"),
        explode(slice(col(msCol), col("__i") + lit(2), size(col(msCol))))
          .as("b"))

  /** LSH banding: candidate near-duplicate pairs (id_a < id_b) whose
    * signatures collide in at least one of `bands` bands of width
    * numHashes/bands.
    *
    * Tuning (bands b, rows-per-band r = numHashes/b): a pair with true
    * Jaccard s collides with probability 1 - (1 - s^r)^b, an S-curve with
    * threshold ~ (1/b)^(1/r). The default (b=8, r=4) puts the knee at
    * ~0.59 — matched to the 0.6 verify threshold the x06 query uses.
    * More bands (b=16, r=2 -> knee ~0.25) buys recall for fuzzier dups at
    * the cost of more candidate pairs to verify; fewer, wider bands
    * (b=4, r=8 -> knee ~0.84) is the near-exact-dup regime. Cost scales
    * as b in shuffle volume and as the bucket collision mass in verify
    * work — tune b/r to put the knee just below the verify threshold so
    * the verifier, not the blocker, draws the line.
    *
    * Shape: ONE shuffle of the (band, bandHash, id) triples into buckets,
    * then pairs are generated inside each bucket (collect_list + streamed
    * explodeMemberPairs). The textbook alternative — self-joining the
    * banded frame with itself — would recompute the whole
    * shingle+signature scan for BOTH join sides (Spark materializes
    * nothing between them); the signature pass dominates this pipeline,
    * so the bucket formulation halves the map-side work on top of moving
    * strictly fewer bytes.
    */
  def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(bands * (numHashes / bands) == numHashes,
      "bands must divide numHashes")
    val buckets = bandedFrame(docs, idCol, textCol, shingleK, numHashes, bands)
      .groupBy("band", "bhash")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    explodeMemberPairs(buckets, "ids")
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
  }

  /** One band's bucket hash per band: xxhash64 of the comma-joined
    * signature slice. Shared by the batch bucket-join and the streaming
    * bucket-state dedup so their blocking is identical by construction.
    */
  private[graft] def bandHashExprs(
      sigCol: Column, numHashes: Int, bands: Int): Seq[Column] = {
    val r = numHashes / bands
    (0 until bands).map { bIdx =>
      xxhash64(array_join(
        transform(slice(sigCol, bIdx * r + 1, r), _.cast(StringType)),
        ","))
    }
  }

  /** The banded (id, band, bhash) frame minhashCandidates buckets on —
    * factored out so the incremental and standing-index paths (and
    * their specs) band with the exact shape the engine runs rather than
    * a hand-copied twin.
    */
  private[graft] def bandedFrame(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    val sig = withMinhashSignature(docs, textCol, "sig", shingleK, numHashes)
      .select(col(idCol).as("id"), col("sig"))
    sig.select(col("id"),
      posexplode(array(bandHashExprs(col("sig"), numHashes, bands): _*))
        .as(Seq("band", "bhash")))
  }

  /** MinHash-LSH near-dup pipeline: LSH candidates verified with exact
    * Jaccard over the SHINGLE sets — the same similarity the MinHash
    * signature estimates. Verifying in the sketch's own space is what
    * makes the S-curve analysis in minhashCandidates meaningful (an
    * earlier version verified token-set Jaccard, a different metric:
    * shared-vocabulary corpora have high token overlap with near-zero
    * shingle overlap, so candidates and verifier disagreed about what
    * "similar" means) — and it makes the pipeline oracle-checkable
    * against exact shingle-Jaccard SQL (x06).
    *
    * The verifier joins back each document's DISTINCT SHINGLE SET as
    * sorted 64-bit shingle hashes (functions.ShingleHashSet — one
    * compiled pass; Jaccard over hash sets equals Jaccard over string
    * sets, collisions being ~n^2/2^64), computed once map-side — not the
    * raw text. Re-shingling inside the pair join would redo
    * O(candidate-pairs) splits instead of O(docs); with a hot near-dup
    * cluster the same document is verified against many partners, so the
    * precomputed-set shape is the one that survives a 100x scale-up.
    * Hashes instead of strings cut the set-join bytes ~10x. (The sets
    * are NOT carried through the band explode — that would multiply the
    * shuffled bytes by the band count; they travel through this narrow
    * post-candidate join only.)
    */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int = 3): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, shingleK)
    val sets = docs.select(col(idCol).as("jid"),
      graft.functions.SketchFunctions.shingleHashSet(col(textCol), shingleK)
        .as("jset"))
    cands
      .join(sets.toDF("jid_a", "set_a"), col("id_a") === col("jid_a"))
      .join(sets.toDF("jid_b", "set_b"), col("id_b") === col("jid_b"))
      // threshold the UNROUNDED similarity (round only for display): a
      // pair in [threshold - 5e-5, threshold) must not round its way in,
      // or the engine and a SQL oracle filtering the raw ratio disagree
      // on boundary pairs
      .filter(setJaccard(col("set_a"), col("set_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(setJaccard(col("set_a"), col("set_b")), 4).as("jaccard"))
  }

  /** Cross-corpus MinHash-LSH near-dup: every (incoming, existing) pair
    * whose shingle-Jaccard clears `threshold` — x30's incremental exact
    * dedup lifted to near-dups, the ingest cadence production pipelines
    * run daily (today's crawl against the accumulated corpus). Candidate
    * generation is the SAME banding as minhashCandidates, but as an
    * equi-join of the two banded frames on (band, bhash) instead of
    * in-bucket pair explosion — pairs WITHIN either side are
    * deliberately not produced (intra-batch near-dups are
    * minhashNearDups' job on the batch alone; corpus-internal ones were
    * resolved when those docs were ingested). Verification joins each
    * side's precomputed shingle-hash set through the narrow
    * post-candidate join, exactly like minhashNearDups (see its
    * scaladoc for why sets ride neither the band explode nor a re-
    * shingling pair join).
    *
    * Scale shape: the incoming batch is orders of magnitude smaller
    * than the corpus, so AQE broadcasts the batch's banded frame and
    * the CORPUS side never shuffles at all in-plan. The corpus half of
    * the work (signature + banding + shingle sets) is also ingest-
    * INVARIANT: at production cadence it is written once as a table
    * bucketed by (band, bhash) and the daily join runs in place —
    * re-signing 100 TB per day is the cost this operator's split
    * formulation exists to avoid. Dropping the flagged docs is then
    * `incoming.join(pairs, incoming(id) === pairs("id_new"),
    * "left_anti")` — composition, not a second operator.
    */
  def minhashNearDupsAgainst(
      corpus: DataFrame, incoming: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(bands * (numHashes / bands) == numHashes,
      "bands must divide numHashes")
    val bandedOld = bandedFrame(corpus, idCol, textCol,
        shingleK, numHashes, bands)
      .select(col("band"), col("bhash"), col("id").as("id_old"))
    val bandedNew = bandedFrame(incoming, idCol, textCol,
        shingleK, numHashes, bands)
      .select(col("band"), col("bhash"), col("id").as("id_new"))
    val cands = bandedNew.join(bandedOld, Seq("band", "bhash"))
      .select(col("id_new"), col("id_old")).distinct()
    val setsNew = incoming.select(col(idCol).as("jid_n"),
      graft.functions.SketchFunctions.shingleHashSet(col(textCol), shingleK)
        .as("set_n"))
    val setsOld = corpus.select(col(idCol).as("jid_o"),
      graft.functions.SketchFunctions.shingleHashSet(col(textCol), shingleK)
        .as("set_o"))
    cands
      .join(setsNew, col("id_new") === col("jid_n"))
      .join(setsOld, col("id_old") === col("jid_o"))
      // unrounded threshold, round only for display — same boundary-pair
      // discipline as minhashNearDups
      .filter(setJaccard(col("set_n"), col("set_o")) >= threshold)
      .select(col("id_new"), col("id_old"),
        round(setJaccard(col("set_n"), col("set_o")), 4).as("jaccard"))
  }

  /** Persist the ingest-INVARIANT corpus half of the cross-corpus
    * near-dup stage — the mechanism behind minhashNearDupsAgainst's
    * "re-signing 100 TB per day is the cost this operator exists to
    * avoid" claim. Two bucketed tables, not one:
    *
    * - `<prefix>_bands` (band, bhash, id_old), bucketed AND sorted by
    *   (band, bhash): the candidate join's corpus side. Narrow — three
    *   longs per (doc, band) — so the ×bands row explosion costs ~24
    *   bytes/band/doc on disk, nothing like the shingle sets would.
    * - `<prefix>_sets` (id_old, set_o), bucketed by id_old: the heavy
    *   verification column stored ONCE (riding it through the band
    *   table would multiply the dominant bytes by the band count — the
    *   same reasoning that keeps sets off the band explode in-plan).
    *
    * The daily join then needs ZERO work on the corpus side beyond the
    * bucketed scans: the candidate join keys (band, bhash) and the
    * verify join key (id_old) each match their table's bucketing
    * exactly, so only the day's incoming batch ever shuffles —
    * demonstrated, not asserted, in PlanSpec (no Exchange above either
    * corpus scan with broadcast disabled). Refresh cadence: append the
    * day's accepted docs' bands/sets after each batch (both frames are
    * per-doc, so append ≡ rebuild); callers pass the CLEANED text
    * column, same as minhashNearDupsAgainst.
    */
  def writeNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
      tablePrefix: String, buckets: Int, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 8): Unit = {
    require(bands * (numHashes / bands) == numHashes,
      "bands must divide numHashes")
    require(buckets >= 1, "buckets must be >= 1")
    require(!tablePrefix.contains("."),
      "tablePrefix must be a bare table-name prefix in the session's " +
        "current database (the stale-location reset derives the " +
        "warehouse path from it)")
    // Overwrite semantics across SESSIONS, not just within one: with an
    // in-memory catalog (a fresh driver JVM), the table is unknown to
    // the catalog while its managed LOCATION from the previous run
    // still exists on disk — saveAsTable(Overwrite) then refuses with
    // LOCATION_ALREADY_EXISTS. Drop any registered table, then clear a
    // leftover location, so "rebuild the index" means the same thing on
    // the first run of a new driver as on the tenth of an old one.
    val spark = corpus.sparkSession
    def reset(tbl: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      // the catalog owns the managed-location convention — ask it for
      // the path (custom database locationUri, future layout changes)
      // instead of string-rebuilding warehouse.dir + db + name by hand
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    reset(s"${tablePrefix}_bands")
    reset(s"${tablePrefix}_sets")
    bandedFrame(corpus, idCol, textCol, shingleK, numHashes, bands)
      .select(col("band"), col("bhash"), col("id").as("id_old"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(buckets, "band", "bhash").sortBy("band", "bhash")
      .format("parquet").saveAsTable(s"${tablePrefix}_bands")
    corpus.select(col(idCol).as("id_old"),
        graft.functions.SketchFunctions
          .shingleHashSet(col(textCol), shingleK).as("set_o"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(buckets, "id_old").sortBy("id_old")
      .format("parquet").saveAsTable(s"${tablePrefix}_sets")
    // stamp the banding-family dials ON the tables: append/read sites
    // re-derive the batch side under caller-passed dials, and a silent
    // mismatch poisons the candidate join (wrong family) with zero
    // runtime signal — so the dials travel with the index, like the
    // bucket counts already do via the catalog's bucketSpec
    Seq(s"${tablePrefix}_bands", s"${tablePrefix}_sets").foreach { tbl =>
      spark.sql(s"ALTER TABLE `$tbl` SET TBLPROPERTIES (" +
        s"'graft.shingle_k' = '$shingleK', " +
        s"'graft.num_hashes' = '$numHashes', " +
        s"'graft.bands' = '$bands')")
    }
  }

  /** Require the caller-passed banding dials to equal the ones stamped
    * on the index table by writeNearDupIndex — the dials parameterize
    * the batch side's re-derivation, and a mismatch silently joins two
    * different banding families (candidates missed or spurious, no
    * error). Tables written before the dials were stamped fail loudly
    * with a rebuild instruction rather than being trusted blind.
    */
  private def requireIndexDials(spark: org.apache.spark.sql.SparkSession,
      tbl: String, shingleK: Int, numHashes: Int, bands: Int): Unit = {
    val props = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .properties
    def check(key: String, expected: Int): Unit = props.get(key) match {
      case Some(v) =>
        require(v == expected.toString,
          s"$tbl was written with $key = $v but the caller passed " +
            s"$expected — the banding families differ and the candidate " +
            "join would be silently wrong; pass the index's dials or " +
            "rebuild it with writeNearDupIndex")
      case None =>
        throw new IllegalArgumentException(
          s"$tbl carries no $key table property — it predates the " +
            "dial-stamping contract (or was not written by " +
            "writeNearDupIndex); rebuild it with writeNearDupIndex")
    }
    check("graft.shingle_k", shingleK)
    check("graft.num_hashes", numHashes)
    check("graft.bands", bands)
  }

  /** The daily-cadence half of writeNearDupIndex's refresh contract:
    * APPEND one batch's accepted docs to the standing index instead of
    * rebuilding it. Both tables are pure per-doc frames (one sets row
    * per doc, `bands` band rows per signed doc — no cross-doc state,
    * no aggregate to merge), so append ≡ rebuild on corpus ∪ batch by
    * construction; IngestSpec pins the equivalence through the full
    * verdict path. Cost is O(batch): sign + band the accepted docs and
    * write them into the existing bucket layout (Spark bucketing is
    * per-file, so appended files extend each bucket; the bucketed-scan
    * join shape is unchanged — IngestSpec re-checks the Bucketed scan
    * flag on the GROWN tables). The bucket counts are READ from the
    * table metadata, so an append can never silently diverge from the
    * layout the index was written with; the (shingleK, numHashes,
    * bands) dials must still match the original write, same contract
    * as minhashNearDupsAgainstIndex. Callers pass the CLEANED text.
    *
    * Caller contract: the appended ids must be NEW (an id present in
    * the index would after append hold two generations of rows; the
    * candidate join would then verify against both). The ingest path
    * satisfies this for free — accepted docs passed its near-dup
    * reject, so their ids are not in the index — and the contract is
    * EXECUTABLE, not prose: by default the append probes `_sets` for
    * the batch's ids (one column-pruned scan of the id column with the
    * batch ids broadcast — no shuffle, no set_o bytes read) and throws
    * listing offenders before writing anything. A caller that has
    * already proven freshness (the daily ingest loop) passes
    * `requireNewIds = false` to skip the probe and its index scan.
    *
    * The (shingleK, numHashes, bands) dials are validated against the
    * values stamped on the tables by writeNearDupIndex, same as the
    * bucket counts — a mismatched family can no longer poison the
    * index silently.
    */
  def appendToNearDupIndex(accepted: DataFrame, idCol: String,
      textCol: String, tablePrefix: String, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      requireNewIds: Boolean = true): Unit = {
    require(bands * (numHashes / bands) == numHashes,
      "bands must divide numHashes")
    val spark = accepted.sparkSession
    requireIndexDials(spark, s"${tablePrefix}_bands",
      shingleK, numHashes, bands)
    requireIndexDials(spark, s"${tablePrefix}_sets",
      shingleK, numHashes, bands)
    def bucketsOf(tbl: String): Int = {
      val spec = spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .bucketSpec
      require(spec.nonEmpty, s"$tbl is not bucketed — was the index " +
        "written by writeNearDupIndex?")
      spec.get.numBuckets
    }
    if (requireNewIds) {
      val stale = spark.table(s"${tablePrefix}_sets")
        .join(broadcast(accepted.select(col(idCol).as("id_old"))),
          Seq("id_old"), "left_semi")
        .select(col("id_old")).limit(20).collect().map(_.get(0))
      require(stale.isEmpty,
        s"appendToNearDupIndex(${tablePrefix}): ${stale.length}+ of the " +
          s"batch ids already exist in ${tablePrefix}_sets (e.g. " +
          s"${stale.take(5).mkString(", ")}) — appending would leave two " +
          "generations of rows per id and candidate verification would " +
          "match against both; re-crawled docs need a rebuild " +
          "(writeNearDupIndex / compactNearDupIndex), not an append")
    }
    bandedFrame(accepted, idCol, textCol, shingleK, numHashes, bands)
      .select(col("band"), col("bhash"), col("id").as("id_old"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(bucketsOf(s"${tablePrefix}_bands"), "band", "bhash")
      .sortBy("band", "bhash")
      .format("parquet").saveAsTable(s"${tablePrefix}_bands")
    accepted.select(col(idCol).as("id_old"),
        graft.functions.SketchFunctions
          .shingleHashSet(col(textCol), shingleK).as("set_o"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(bucketsOf(s"${tablePrefix}_sets"), "id_old")
      .sortBy("id_old")
      .format("parquet").saveAsTable(s"${tablePrefix}_sets")
  }

  /** Rewrite the near-dup index tables into fresh one-file-per-bucket
    * layouts — the compaction half of the append lifecycle. Spark
    * bucketed APPENDS extend buckets by adding files (one per bucket
    * per append), so a year of daily closes leaves ~365 files per
    * bucket; the bucketed-scan join SHAPE survives (still zero
    * corpus-side exchange — IngestSpec pins it through appends AND
    * through this), but per-file open/footer overhead grows linearly
    * until it erodes the exchange-free win — the measured crossover
    * and the recommended cadence live in SCALE.md (ndcompact flow).
    *
    * Mechanism, chosen for the 100 TB posture: each table is
    * repartitioned BY ITS BUCKET COLUMNS into exactly `numBuckets`
    * output partitions (HashPartitioning and bucket-id assignment use
    * the same hash, so every write task holds exactly one bucket →
    * exactly one file per bucket), written to a fresh `_compact`
    * table with the same bucketing + sort + dial properties, then
    * swapped in with DROP + RENAME — a metadata move, not a data
    * copy, and the read path never sees a half-written index. No
    * localCheckpoint of the index, nothing driver-side: the rewrite
    * is one shuffle of each table, the cost a compaction honestly is.
    *
    * Single-WRITER contract, and a caveat for concurrent READERS
    * (ADVICE r20): the swap is DROP then RENAME, so between the two
    * statements the index table does not exist and its managed
    * directory is gone — a reader (including a running stream's
    * micro-batch, which relists the catalog location every batch, the
    * StreamingSpec pin) sees old, NOTHING (table-not-found / empty
    * dir), or new — never torn data, but not "safe at any moment".
    * Run compaction where the daily loop runs the rebuild, between
    * batches and with no stream attached. An append running
    * concurrently would likewise land files the path read already
    * missed. Crash recovery: if the process dies between DROP and
    * RENAME, the fully-written `*_compact` table survives — manually
    * `ALTER TABLE <tbl>_compact RENAME TO <tbl>` to restore the index.
    */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Unit = {
    for (suffix <- Seq("_bands", "_sets")) {
      val tbl = s"$tablePrefix$suffix"
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"$tbl is not bucketed — was the index written by " +
          "writeNearDupIndex?"))
      val dialProps = meta.properties.filter(_._1.startsWith("graft."))
      require(dialProps.nonEmpty,
        s"$tbl carries no graft.* dial properties — rebuild it with " +
          "writeNearDupIndex before compacting")
      val tmp = s"${tbl}_compact"
      spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
      val tmpLoc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(tmp)))
      val fs = tmpLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(tmpLoc)) fs.delete(tmpLoc, true)
      val bucketCols = spec.bucketColumnNames
      // read the table's FILES by path, not `spark.table`: a bucketed
      // catalog read advertises (or half-advertises) the hash layout
      // and the planner then elides the repartition below WITHOUT
      // aligning write tasks to buckets — measured: 16 files instead
      // of 4 on a 4-bucket table. The path read has no bucketing
      // metadata, so the repartition is a real exchange whose
      // HashPartitioning is the same murmur-pmod the bucket writer
      // uses → every task holds exactly one bucket → one file each.
      spark.read.parquet(meta.location.toString)
        .repartition(spec.numBuckets, bucketCols.map(col): _*)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(spec.numBuckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
        .format("parquet").saveAsTable(tmp)
      spark.sql(s"ALTER TABLE `$tmp` SET TBLPROPERTIES (" +
        dialProps.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
      spark.sql(s"DROP TABLE `$tbl`")
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$tbl`")
    }
  }

  /** minhashNearDupsAgainst sourced from a writeNearDupIndex table pair
    * instead of re-deriving the corpus half per batch: signatures,
    * banding, and shingle sets for the corpus are READ, not recomputed
    * — the per-day cost is (bucketed index scan + sign the batch),
    * not (re-sign the corpus + sign the batch). Results are identical
    * to minhashNearDupsAgainst on the same corpus by construction
    * (same banding family, same verification sets; x82 grades the
    * composed ingest path through this entry against x81's oracle).
    * The (shingleK, numHashes, bands) dials must match the ones the
    * index was written with — they parameterize the batch side's
    * banding, which must join the stored family. Enforced, not
    * trusted: the dials are read back from the table properties
    * writeNearDupIndex stamped and a mismatch throws.
    */
  def minhashNearDupsAgainstIndex(
      incoming: DataFrame, tablePrefix: String, idCol: String,
      textCol: String, threshold: Double, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(bands * (numHashes / bands) == numHashes,
      "bands must divide numHashes")
    val spark = incoming.sparkSession
    requireIndexDials(spark, s"${tablePrefix}_bands",
      shingleK, numHashes, bands)
    val bandedOld = spark.table(s"${tablePrefix}_bands")
    val setsOld = spark.table(s"${tablePrefix}_sets")
    val bandedNew = bandedFrame(incoming, idCol, textCol,
        shingleK, numHashes, bands)
      .select(col("band"), col("bhash"), col("id").as("id_new"))
    val cands = bandedNew.join(bandedOld, Seq("band", "bhash"))
      .select(col("id_new"), col("id_old")).distinct()
    val setsNew = incoming.select(col(idCol).as("jid_n"),
      graft.functions.SketchFunctions.shingleHashSet(col(textCol), shingleK)
        .as("set_n"))
    cands
      .join(setsNew, col("id_new") === col("jid_n"))
      .join(setsOld, Seq("id_old"))
      .filter(setJaccard(col("set_n"), col("set_o")) >= threshold)
      .select(col("id_new"), col("id_old"),
        round(setJaccard(col("set_n"), col("set_o")), 4).as("jaccard"))
  }

  /** 64-bit SimHash of the token multiset: per bit, sum +1/-1 votes from
    * each token's xxhash64 bit, take the sign.
    *
    * This is the executable spec as pure higher-order functions; the hot
    * path uses the compiled one-pass twin
    * graft.functions.SketchFunctions.simhash64 (bit-identical — asserted
    * in SketchExpressionsSpec).
    */
  def simhash(text: Column): Column =
    simhashGeneric(text, xxhash64(_), 64)

  /** 60-bit SimHash whose per-token hash is the first 15 hex chars of
    * md5(token) — the cross-engine-reproducible variant (HOF executable
    * spec of functions.SketchFunctions.simhashMd5_60; parity asserted in
    * SketchExpressionsSpec). See simhashMd5NearDups for why this exists.
    */
  def simhashMd5(text: Column): Column =
    simhashGeneric(text,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast(LongType), 60)

  private def simhashGeneric(
      text: Column, tokHash: Column => Column, bits: Int): Column =
    aggregate(
      // empty tokens (consecutive/leading/trailing spaces) carry no
      // content and are skipped — matching the native one-pass twin
      filter(tokens(text), t => length(t) > 0),
      array_repeat(lit(0), bits),
      (acc, t) => {
        val h = tokHash(t)
        val votes = (0 until bits).map(i =>
          when(shiftright(h, i).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1))
        zip_with(acc, array(votes: _*), (a, v) => a + v)
      },
      votes => (0 until bits).map(i =>
        when(element_at(votes, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b)))

  /** SimHash near-dup pairs: block on `maxHamming + 1` bit-chunks of the
    * signature — a pair within Hamming distance h differs in at most h
    * chunks, so with h+1 chunks it must agree EXACTLY on at least one
    * (pigeonhole) — then verify bit_count(xor) <= maxHamming. Deriving
    * the chunk count from the threshold makes the blocking COMPLETE for
    * the declared radius at any maxHamming (a fixed 4-chunk split would
    * silently miss pairs beyond hamming 3: 4-6 differing bits can spread
    * across all four chunks); block count — and with it shuffle volume —
    * scales linearly with the radius, the standard multi-index Hamming
    * tradeoff.
    */
  def simhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      sig: Column => Column = graft.functions.SketchFunctions.simhash64(_),
      bits: Int = 64): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits, s"maxHamming in [0, $bits)")
    // Zero-token documents (empty or all-space text — trim strips the
    // same ' ' the tokenizer splits on) carry no content but would all
    // share signature 0 and pair with each other at Hamming 0, while an
    // oracle that explodes tokens never sees them at all. Excluding
    // them keeps engine and oracle in agreement by construction; the
    // right tool for empty docs is an exact-dedup pass, not a Hamming
    // search.
    val sigs = fanOut(docs.filter(length(trim(col(textCol))) > 0))
      .select(col(idCol).as("id"), sig(col(textCol)).as("sh"))
    val nBlocks = maxHamming + 1
    val bounds = (0 to nBlocks).map(i => i * bits / nBlocks)
    val chunks = (0 until nBlocks).map { bIdx =>
      val lo = bounds(bIdx)
      val width = bounds(bIdx + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftright(col("sh"), lo).bitwiseAND(lit(mask))
    }
    // Same bucket-join shape as minhashCandidates: one shuffle of
    // (block, chunk, {id, sh}), pairs generated inside each bucket —
    // never a self-join that would rescan and re-sketch the corpus twice.
    // sort_array orders the structs by id (first field), so a.id < b.id.
    val buckets = sigs
      .select(struct(col("id"), col("sh")).as("m"),
        posexplode(array(chunks: _*)).as(Seq("blk", "chunk")))
      .groupBy("blk", "chunk")
      .agg(sort_array(collect_list(col("m"))).as("ms"))
      .filter(size(col("ms")) > 1)
    explodeMemberPairs(buckets, "ms")
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** simhashNearDups over the md5-prefix 60-bit signature. Same blocked
    * pipeline, one difference: the per-token hash (md5 hex prefix) has an
    * exact DuckDB twin, so the pair set is fully oracle-checkable — and
    * because pigeonhole blocking is COMPLETE for the declared radius (a
    * theorem, not a tuned recall), the blocked output provably equals the
    * all-pairs Hamming ball an oracle computes without blocking. The
    * xxhash64 default stays the scale path (faster hash); this variant
    * trades ~2x hash cost for cross-engine verifiability.
    */
  def simhashMd5NearDups(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashNearDups(docs, idCol, textCol, maxHamming,
      graft.functions.SketchFunctions.simhashMd5_60(_), 60)

  /** Character n-gram set of a text column (["abc","bcd",...]) — the
    * tokenization-free similarity unit, robust to scripts with no word
    * boundaries. Empty below n chars (or null, matching the old
    * when/otherwise formula). Native one-pass expression since round
    * 10: the declarative transform(sequence(...), i => substr(i, n)) +
    * array_distinct was O(len²) per document for the same
    * substring-scan reason as shingles/rollingHash
    * (SketchExpressionsSpec pins parity, non-ASCII included).
    */
  def charNgrams(text: Column, n: Int): Column =
    coalesce(graft.functions.SketchFunctions.charNgrams(text, n),
      array().cast(ArrayType(StringType)))

  /** Jaccard of two precomputed element-set columns — the shared core of
    * every set-similarity verifier here (token sets, char-gram sets).
    */
  def setJaccard(sa: Column, sb: Column): Column =
    size(array_intersect(sa, sb)).cast(DoubleType) /
      size(array_union(sa, sb))

  /** Jaccard over character n-gram sets. */
  def charNgramJaccard(textA: Column, textB: Column, n: Int): Column =
    setJaccard(charNgrams(textA, n), charNgrams(textB, n))

  /** Per-document CROSS-document duplication fraction — the "fraction
    * of text duplicated across documents" signal of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"):
    * for each document, the fraction of its word n-gram OCCURRENCES
    * whose gram also appears in at least one OTHER document. 1.0 means
    * every passage exists elsewhere in the corpus (a pure copy); high
    * values mark boilerplate-heavy documents that survive exact and
    * near-dup removal because only parts of them repeat. Complements
    * Repetition.signals, which measures repetition WITHIN a document.
    *
    * Output: (idCol, n_grams, n_dup, dup_frac); documents shorter than
    * n tokens have no grams — n_grams = 0, dup_frac = 0.0 (nothing to
    * judge). dup_frac is one IEEE division of two exact integer counts:
    * bit-identical in any engine, no rounding needed.
    *
    * Scale shape at 100 TB: the same single gram-keyed exchange as
    * Decontaminate's overlap join, self-corpus instead of cross-corpus
    * — but keyed by RAW grams, not digests: a word 5-gram (~30 chars)
    * sits at the 32-char md5 hex break-even, so digesting buys nothing
    * (Decontaminate's 8-grams, ~48 chars, are past it).
    * Explode → hash-aggregate on (gram, id) with map-side combine
    * (collapses within-doc repeats before the shuffle), a window count
    * over the gram partition for the distinct-document frequency (the
    * exchange serves both the count and the join-back — no second
    * shuffle against a gram-keyed frequency table), then one aggregate
    * back to the document key. Every shuffle is keyed by gram or id;
    * nothing global, nothing driver-side.
    */
  def crossDocDupFraction(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    Seq("n_grams", "n_dup", "dup_frac", "gram", "g1", "g2", "occ",
      "docs_with").foreach(
      c => require(idCol != c, s"Dedup.crossDocDupFraction reserves '$c'"))
    // grams reduce to a 128-bit digest pair before the aggregate: the
    // old raw-gram keys sat at the 32-char md5-hex break-even, but the
    // two-xxhash64 digest is 16 fixed bytes — under a ~30-char 5-gram,
    // cheaper to hash, and a flat BIGINT pair groups/windows cheaper
    // than variable-length text (digest is internal equality-only; the
    // output carries counts, never the gram)
    val perDocGram = fanOut(docs)
      .select(col(idCol), explode(shingles(col(textCol), n)).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("g1"),
        xxhash64(lit(1), col("gram")).as("g2"))
      .groupBy(col("g1"), col("g2"), col(idCol))
      .agg(count(lit(1)).as("occ"))
    // rows are distinct (gram, doc) after the aggregate, so a plain
    // window count over the gram partition IS the distinct-doc
    // frequency — and rides the aggregate's existing clustering
    val docsWith = count(lit(1))
      .over(Window.partitionBy(col("g1"), col("g2")))
    val per = perDocGram
      .withColumn("docs_with", docsWith)
      .groupBy(col(idCol))
      .agg(sum(col("occ")).as("n_grams"),
        sum(when(col("docs_with") >= 2, col("occ")).otherwise(lit(0L)))
          .as("n_dup"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_dup").cast(DoubleType) / col("n_grams"), lit(0.0))
          .as("dup_frac"))
  }

  /** Exact pairwise token-set Jaccard within a blocking key — the
    * quadratic verifier, for use inside small blocks only.
    *
    * Each document's distinct-token set, `array_distinct(tokens(text))`,
    * is computed once, below the self-join, and the pair stage runs
    * `setJaccard` on the two sets: O(docs) splits instead of
    * O(pairs), the rule minhashNearDups states for its shingle sets. The
    * result is the same as splitting both texts inside every pair: the
    * set is a pure function of the text, and `setJaccard` reads only
    * the sizes of its intersection and union, which the element order
    * does not change. A null text yields a null set and a null
    * similarity, so its pairs fail the filter either way; rows with a
    * null block key join nothing.
    */
  def blockedJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val n = docs.select(col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("set"), col(blockCol).as("blk"))
    val a = n.toDF("id_a", "set_a", "blk_a")
    val b = n.toDF("id_b", "set_b", "blk_b")
    a.join(b, col("blk_a") === col("blk_b") && col("id_a") < col("id_b"))
      // unrounded threshold, rounded display — see minhashNearDups
      .filter(setJaccard(col("set_a"), col("set_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(setJaccard(col("set_a"), col("set_b")), 4).as("jaccard"))
  }
}
