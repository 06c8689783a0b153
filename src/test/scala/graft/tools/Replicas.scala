package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Disjoint-shard replica generators — the data side of the decade
  * measurements recorded in SCALE.md, used by Scale10Spec,
  * SimilaritySpec and SessionizeSpec to assert the decade INVARIANTS
  * (exact output multiples, zero cross-replica pairs, probe behavior)
  * inside `sbt test` at small reps.
  *
  * A replica set is NOT naive duplication — 10 copies of every row
  * would plant ~45 near-dup partners per document and measure an
  * adversarial quadratic workload. Each replica is a disjoint shard of
  * the same statistical shape:
  *  - documents: replica r suffixes every token with "_r" — token
  *    counts, lengths, and language mix are preserved, the vocabulary
  *    grows with the corpus (as a real one's would), and replicas share
  *    no shingles, so near-dup structure per replica matches the
  *    original and NO pair can cross replicas.
  *  - embeddings: replica r flips a deterministic per-replica sign
  *    pattern across coordinates — WITHIN a replica every pairwise dot
  *    product is bit-identical to the original (sign flips cancel:
  *    (s_i a_i)(s_i b_i) = a_i b_i) and every sign-band collision
  *    structure is preserved (both vectors flip the same coords), while
  *    cross-replica similarities are scrambled to noise.
  *  - events: replica r shifts user_id (and event_id) into a disjoint
  *    range with timestamps UNCHANGED — N× the users, each with the
  *    original per-user event counts and inter-arrival statistics, so
  *    sessions/as-of/interval results per user are preserved exactly
  *    and output row counts scale exactly N×.
  *
  * Id strides are the ones the SCALE.md decades used (documents 10^4,
  * embeddings 10^5, events 10^4 users / 10^6 events) — `replicaOf`
  * recovers the replica index from an output id, which is what the
  * cross-replica assertions key on.
  */
object Replicas {

  val docIdStride = 10000L
  val vecIdStride = 100000L
  val userIdStride = 10000L
  val eventIdStride = 1000000L
  val orderKeyStride = 1000000L

  def replicaOf(id: org.apache.spark.sql.Column, stride: Long)
      : org.apache.spark.sql.Column = (id / stride).cast("int")

  private def reps(df: DataFrame, nReps: Int): DataFrame = {
    val spark = df.sparkSession
    spark.range(0, nReps).select(col("id").cast("int").as("rep"))
  }

  /** Token-suffix document replicas: (doc_id, text, lang, source,
    * n_chars) in, same schema out with doc_id shifted by `docIdStride`
    * per replica. Replica 0 is the identity.
    */
  def documents(src: DataFrame, nReps: Int): DataFrame =
    src.crossJoin(reps(src, nReps))
      .select(
        (col("doc_id") + col("rep") * docIdStride).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("_"), col("rep").cast(StringType))), " "))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** Sign-masked embedding replicas: (vec_id, embedding, label) in,
    * same schema out with vec_id shifted by `vecIdStride` per replica.
    * Replica 0 is sign-masked like every other replica (its mask is the
    * fixed pattern xxhash64(0, i) yields), so replica-0 vectors are NOT
    * byte-equal to the source corpus — only within-replica structure
    * (every pairwise dot product, every sign-band collision) is
    * preserved. Consumers needing value-identity against the source
    * (exact cosine vs an external query, IVF centroid comparison) must
    * compare against the masked replica 0, not the raw corpus.
    */
  def embeddings(src: DataFrame, nReps: Int): DataFrame =
    src.crossJoin(reps(src, nReps))
      .select(
        (col("vec_id") + col("rep") * vecIdStride).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * when(pmod(xxhash64(col("rep"), i), lit(2L)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))).cast("float")).as("embedding"),
        col("label"))

  /** Disjoint-user event replicas: (event_id, ts, user_id, event_type,
    * value, props) in, same schema out; timestamps untouched.
    */
  def events(src: DataFrame, nReps: Int): DataFrame =
    src.crossJoin(reps(src, nReps))
      .select(
        (col("event_id") + col("rep") * eventIdStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * userIdStride).as("user_id"),
        col("event_type"), col("value"), col("props"))

  /** Disjoint-orderkey TPC-H fact replicas: o_orderkey/l_orderkey shift
    * into a disjoint range per replica while every dimension key
    * (custkey, partkey, suppkey), date, and measure stays untouched —
    * N× the facts against the SAME dimensions, which is what a fact
    * decade actually looks like (dimensions grow ~log of facts; a
    * 100 TB warehouse is fact mass). Per-orderkey join/group structure
    * is preserved exactly, so orderkey-keyed results replicate per
    * replica and dimension-keyed measures scale exactly N×
    * (Scale10Spec pins both).
    */
  def orders(src: DataFrame, nReps: Int): DataFrame =
    shiftKey(src, nReps, "o_orderkey")

  def lineitem(src: DataFrame, nReps: Int): DataFrame =
    shiftKey(src, nReps, "l_orderkey")

  private def shiftKey(src: DataFrame, nReps: Int,
      keyCol: String): DataFrame =
    src.crossJoin(reps(src, nReps))
      .withColumn(keyCol, col(keyCol) + col("rep") * orderKeyStride)
      .drop("rep")

  /** Zipfian-head key skew for the events tier: reassign ~1/`hotEvery`
    * of all events (chosen by event_id hash — uniform over users and
    * time) to a single hot user, the bot/system-account distribution
    * that turns a user-keyed window into one straggler task. Timestamps
    * and all other columns untouched; the hot user's event stream is a
    * uniform sample of the whole day, which is what bot traffic looks
    * like (always on, high rate).
    */
  def skewEvents(src: DataFrame, hotEvery: Int = 10,
      hotUser: Long = 0L): DataFrame =
    src.withColumn("user_id",
      when(pmod(xxhash64(col("event_id")), lit(hotEvery.toLong)) === 0,
        lit(hotUser)).otherwise(col("user_id")))

  /** The sparse-bot worst case for chunked sessionization: reassign
    * ~1/`hotEvery` of all events to one hot user AND respace that user's
    * timestamps exactly `gapSeconds + 1` apart, so every hot event is its
    * own session (sessions == events for the bot — the input that defeats
    * the sessions-per-chunk reduction sessionsChunked's phase 2 relies
    * on). Hot events keep their other columns; their relative order is
    * by event_id. Non-hot events are untouched, so every other user's
    * sessions are identical to the unskewed corpus. The bot id defaults
    * to -1 — an id OUTSIDE the generated user range, so no organic event
    * shares the bot's stream and the sessions == events property is
    * exact (an existing id would interleave its organic events at their
    * original timestamps and merge some into sessions).
    *
    * Scaling bound (fixture generator, not a pipeline): the spacing
    * index is a row_number over an UNPARTITIONED window, funneling all
    * hot events (~1M rows on the x100 slice) through one task. Fine at
    * flow sizes; if generation ever becomes the bottleneck, derive the
    * index from a per-partition zipWithIndex-style offset instead.
    */
  def sparseBotEvents(src: DataFrame, gapSeconds: Long,
      hotEvery: Int = 10, hotUser: Long = -1L): DataFrame = {
    val spacingUs = (gapSeconds + 1) * 1000000L
    val isHot = pmod(xxhash64(col("event_id")), lit(hotEvery.toLong)) === 0
    val hot = src.filter(isHot)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("event_id")))
      .withColumn("user_id", lit(hotUser))
      .withColumn("ts",
        expr(s"timestamp_micros(1600000000000000L + (__rn - 1) * ${spacingUs}L)"))
      .drop("__rn")
    hot.unionByName(src.filter(!isHot))
  }

  /** Near-duplicate planting for recall measurements: one dup per source
    * vector with EXACTLY `k` coordinate signs flipped, id shifted by
    * `idOffset` (the planted pair is (vec_id, vec_id + idOffset)). The
    * flipped coordinates are the k smallest by xxhash64(vec_id, coord) —
    * deterministic per id, uniformly spread across coordinates, and
    * different for every vector. cos(orig, dup) ~ 1 - 2k/dim for
    * incoherent coordinate magnitudes (~0.97 at k=1 down to ~0.75 at
    * k=8 for dim 64); recall studies compute the exact cosine per pair
    * for their denominator rather than trusting the approximation.
    */
  def plantFlipDups(src: DataFrame, k: Int, idOffset: Long): DataFrame = {
    require(k >= 0, "k must be >= 0")
    val dim = lit(63) // 0-based upper bound; embeddings here are dim 64
    val ranked = array_sort(transform(sequence(lit(0), dim),
      i => struct(xxhash64(col("vec_id"), i).as("h"), i.as("i"))))
    val flipIdx = transform(slice(ranked, 1, k), s => s.getField("i"))
    src.select(
      (col("vec_id") + idOffset).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x * when(array_contains(flipIdx, i), lit(-1.0f))
          .otherwise(lit(1.0f))).cast("float")).as("embedding"),
      col("label"))
  }
}
