package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.CorpusStats
import graft.operators._
import Q._

/** Tier-3: the LLM-training-data pipeline operators (BASELINE.json north
  * star; SURVEY.md §7.4) over the documents / embeddings / events tables.
  * Every query here carries a DuckDB oracle. Where the engine's default
  * path hinges on engine-specific hashing (xxhash64 sketches, LSH
  * bucketing), the graded query either verifies its output against an
  * exact, hash-free formulation (x06: shingle-Jaccard; x10: cosine) or
  * runs a cross-engine-reproducible hash variant (x07: md5-prefix
  * simhash; x09: plane literals baked into the SQL) — the xxhash64
  * defaults stay the production scale path and are covered by ScalaTest
  * ground truth (DedupSpec, SimilaritySpec).
  */
object PipelineOps {

  private val stop = TextAnalysis.langMarkers("en") // the, a, of, and, to

  /** Exact dedup by content digest (Dedup.exact). */
  private val x01 = Q(
    "x01_dedup_exact",
    (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text")
      .orderBy("digest"),
    Some("""SELECT md5(text) AS digest, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text) ORDER BY digest"""))

  /** Token statistics + canonical fingerprint per document. */
  private val x02 = Q(
    "x02_token_stats",
    (s, d) => t(s, d, "documents")
      .select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.distinctTokenCount(col("text")).as("n_distinct"),
        round(TextAnalysis.avgTokenLen(col("text")), 4).as("avg_tok_len"),
        round(TextAnalysis.wordRatio(col("text"), stop), 4).as("stop_ratio"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
                   round(CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_tok_len,
                   round(CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
            FROM documents ORDER BY doc_id"""))

  /** Language-ID heuristic (argmax of function-word ratios; ties resolve
    * to the lexicographically larger lang in both formulations).
    */
  private val x03 = Q(
    "x03_lang_id",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langIdGuess(col("text")).as("pred_lang"),
        round(TextAnalysis.wordRatio(col("text"),
          TextAnalysis.langMarkers("en")), 4).as("en_ratio"))
      .orderBy("doc_id"),
    Some("""WITH sc AS (
              SELECT doc_id, lang,
                CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(string_split(text,' ')) AS s_en,
                CAST(len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que','los'))) AS DOUBLE) / len(string_split(text,' ')) AS s_es,
                CAST(len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','les','des'))) AS DOUBLE) / len(string_split(text,' ')) AS s_fr,
                CAST(len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','das','ist'))) AS DOUBLE) / len(string_split(text,' ')) AS s_de
              FROM documents)
            SELECT doc_id, lang,
                   CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
                        WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
                        WHEN s_en >= s_de AND s_en > 0 THEN 'en'
                        WHEN s_de > 0 THEN 'de'
                        ELSE 'und' END AS pred_lang,
                   round(s_en, 4) AS en_ratio
            FROM sc ORDER BY doc_id"""))

  /** Corpus quality scoring rolled up per source (exact decimal mean). */
  private val x04 = Q(
    "x04_quality_by_source",
    (s, d) => {
      val q = TextAnalysis.qualityScore(col("text"), stop)
      t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (sum(q.cast(DecimalType(8, 4))).cast(DoubleType) / count(lit(1)))
            .as("avg_quality"),
          (sum(TextAnalysis.tokenCount(col("text")))
            .cast(DoubleType) / count(lit(1))).as("avg_tokens"))
        .orderBy("source")
    },
    Some("""WITH f AS (
              SELECT source,
                CAST(len(string_split(text,' ')) AS DOUBLE) AS n,
                CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS nd,
                CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS DOUBLE) AS ns
              FROM documents)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CAST(round((least(n/50.0, 1.0) + nd/n + least(ns/n*10.0, 1.0)) / 3.0, 4) AS DECIMAL(8,4))) AS DOUBLE) / count(*) AS avg_quality,
                   CAST(sum(n) AS DOUBLE) / count(*) AS avg_tokens
            FROM f GROUP BY source ORDER BY source"""))

  /** Exact pairwise token-set Jaccard inside lang blocks (the quadratic
    * verifier — bounded block, oracle-checkable).
    */
  private val x05 = Q(
    "x05_jaccard_pairs",
    (s, d) => Dedup.blockedJaccardPairs(
      t(s, d, "documents").filter(col("doc_id") < 150),
      "doc_id", "text", "lang", 0.5)
      .orderBy("id_a", "id_b"),
    Some("""WITH n AS (SELECT doc_id AS id, lang,
                              list_distinct(string_split(text, ' ')) AS toks
                       FROM documents WHERE doc_id < 150)
            SELECT a.id AS id_a, b.id AS id_b,
                   round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
            FROM n a JOIN n b ON a.lang = b.lang AND a.id < b.id
            WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
            ORDER BY id_a, id_b"""))

  /** MinHash-LSH near-dup candidates verified by exact shingle-set
    * Jaccard. The xxhash64 signatures are engine-specific, but the
    * VERIFIED OUTPUT is not: every pair the verifier keeps has exact
    * shingle-Jaccard >= 0.6, and on this corpus the similarity histogram
    * is bimodal (planted near-dups at J >= 0.89, everything else under
    * 0.31 — measured at every SF), so band-collision recall on the
    * qualifying pairs is exactly 1 and the output equals the all-pairs
    * exact SQL below. DedupSpec separately asserts candidate recall on
    * planted dup fixtures.
    */
  private val x06 = Q(
    "x06_dedup_minhash",
    (s, d) => Dedup.minhashNearDups(
      t(s, d, "documents"), "doc_id", "text", 0.6)
      .orderBy("id_a", "id_b"),
    Some("""WITH n AS (SELECT doc_id AS id,
                   list_distinct(list_transform(
                     range(1, len(string_split(text,' ')) - 1),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2])) AS sh
                 FROM documents
                 WHERE len(string_split(text,' ')) >= 3)
            SELECT a.id AS id_a, b.id AS id_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))), 4)
                     AS jaccard
            FROM n a JOIN n b ON a.id < b.id
              -- lossless size prefilter: J >= t forces min(|A|,|B|) >=
              -- t*max(|A|,|B|) (J <= min/max); prunes the quadratic
              -- intersect work without touching the result
              AND len(a.sh) >= 0.6 * len(b.sh)
              AND len(b.sh) >= 0.6 * len(a.sh)
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6
            ORDER BY id_a, id_b"""))

  /** SimHash near-dup pairs (blocked Hamming search) over the md5-prefix
    * 60-bit signature. Fully oracle-checkable even though the engine
    * blocks and the oracle doesn't: pigeonhole blocking is COMPLETE for
    * the declared radius (maxHamming+1 chunks), so the blocked pair set
    * provably equals the all-pairs Hamming ball the SQL below computes,
    * and the per-token hash (first 15 hex chars of md5 as a 60-bit int)
    * is bit-identical in both engines. The xxhash64 64-bit variant
    * (Dedup.simhashNearDups default) stays the production scale path —
    * same pipeline, ~2x cheaper hash, no SQL twin.
    */
  private val x07 = Q(
    "x07_dedup_simhash",
    (s, d) => Dedup.simhashMd5NearDups(
      t(s, d, "documents"), "doc_id", "text", 6)
      .orderBy("id_a", "id_b"),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                         FROM documents),
                 h AS (SELECT doc_id,
                              CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
                       FROM tok WHERE t <> ''),
                 bits AS (SELECT doc_id, b,
                                 sum(CASE WHEN (h >> b) & 1 = 1
                                          THEN 1 ELSE -1 END) AS v
                          FROM h CROSS JOIN
                               (SELECT unnest(range(0, 60)) AS b) bs
                          GROUP BY doc_id, b),
                 sig AS (SELECT doc_id,
                                CAST(sum(CASE WHEN v > 0
                                              THEN 1::BIGINT << b
                                              ELSE 0 END) AS BIGINT) AS sh
                         FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 6
            ORDER BY id_a, id_b"""))

  /** Brute-force exact ANN: top-5 cosine neighbors for 3 query vectors.
    * The oracle recomputes the same double-precision fold in SQL.
    */
  private val x08 = Q(
    "x08_ann_bruteforce",
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(qs, corpus, 5)
        .select("qid", "rank", "id", "sim")
        .orderBy("qid", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
              SELECT q.qid, e.vec_id AS id,
                     round(
                       list_sum(list_transform(range(1, 65), i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))),
                     6) AS sim
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
            SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS INT) AS rank,
                   id, sim
            FROM scored
            QUALIFY rank <= 5
            ORDER BY qid, rank"""))

  /** ANN via random-hyperplane LSH (the scale path; recall vs brute force
    * asserted in SimilaritySpec). Oracle-able even though the buckets are
    * engine-internal: the seeded gaussian planes are baked into the SQL
    * as exact double literals, and the smallest |dot(vec, plane)| across
    * every SF is ~3.5e-6 — far above summation error — so both engines
    * compute identical sign bits, buckets, and top-k.
    */
  private val x09 = Q(
    "x09_ann_lsh",
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.lshTopK(qs, corpus, 5, nPlanes = 8, dim = 64)
        .select("qid", "rank", "id", "sim")
        .orderBy("qid", "rank")
    },
    Some {
      val planes = Similarity.lshPlaneRows(8, 64)
      val planeCols = planes.zipWithIndex.map { case (p, i) =>
        p.mkString("[", ", ", s"] AS p$i")
      }.mkString(",\n                   ")
      def dotPlane(v: String, i: Int) =
        s"list_sum(list_transform(range(1, 65), j -> CAST($v[j] AS DOUBLE) * p$i[j]))"
      val bucket = (0 until 8).map(i =>
        s"(CASE WHEN ${dotPlane("embedding", i)} >= 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH p AS (SELECT $planeCols),
                 b AS (SELECT vec_id, embedding, $bucket AS bk
                       FROM embeddings CROSS JOIN p),
                 q AS (SELECT vec_id AS qid, embedding AS qvec, bk AS qbk
                       FROM b WHERE vec_id < 3),
                 scored AS (SELECT q.qid, c.vec_id AS id,
                     round(
                       list_sum(list_transform(range(1, 65), i -> CAST(q.qvec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))),
                     6) AS sim
                   FROM b c JOIN q ON c.bk = q.qbk AND c.vec_id <> q.qid)
            SELECT qid, CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY sim DESC, id) AS INT) AS rank, id, sim
            FROM scored
            QUALIFY rank <= 5
            ORDER BY qid, rank"""
    })

  /** Embedding-cosine near-duplicate pairs, LSH-blocked on axis-sign
    * bands (Similarity.signBandNearDupPairs) and exact-cosine verified.
    * The sign blocking reads stored float signs — no float arithmetic —
    * so the oracle reproduces candidates AND verification exactly; an
    * earlier formulation was an all-pairs nested-loop join, which is the
    * one shape that cannot survive a 100x scale-up.
    */
  private val x10 = Q(
    "x10_embed_neardup",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.signBandNearDupPairs(e, 0.3, bands = 4, rowsPerBand = 4)
        .orderBy("id_a", "id_b")
    },
    Some {
      // band k = sign bits of coords 4k+1..4k+4 (mirrors signBandSigs)
      val sigs = (0 until 4).map { k =>
        val bits = (0 until 4).map(r =>
          s"${1 << r}*CAST(vec[${k * 4 + r + 1}] >= 0 AS INT)").mkString(" + ")
        s"($bits) AS s$k"
      }.mkString(",\n                   ")
      val anyBand = (0 until 4).map(k => s"a.s$k = b.s$k").mkString(" OR ")
      def dot(x: String, y: String) =
        s"list_sum(list_transform(range(1, 65), i -> CAST($x.vec[i] AS DOUBLE) * CAST($y.vec[i] AS DOUBLE)))"
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
                 b AS (SELECT id, $sigs FROM e),
                 p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                       FROM b a JOIN b b ON a.id < b.id AND ($anyBand)),
                 v AS (SELECT p.id_a, p.id_b,
                              round(${dot("ea", "eb")}
                                    / sqrt(${dot("ea", "ea")})
                                    / sqrt(${dot("eb", "eb")}), 6) AS sim
                       FROM p JOIN e ea ON ea.id = p.id_a
                              JOIN e eb ON eb.id = p.id_b)
            SELECT id_a, id_b, sim FROM v WHERE sim >= 0.3
            ORDER BY id_a, id_b"""
    })

  /** Embedding near-dups with the band config chosen by the MEASURED
    * band-signature concentration (Similarity.chooseBandConfig) —
    * the scale path x10's static (4,4) is not: SCALE.md's 10x decade
    * measured (4,4) at 149x per decade on this corpus's concentrated
    * sign distribution vs 5.6x at (8,8). The probe's masses here are
    * ~63 candidate pairs/row at (4,4) vs ~8 at (8,8) against the
    * 48/row budget, so the selection provably lands on (8,8) — which is
    * what the oracle replays (fixed (8,8) sign bands over all 64
    * coords; SimilaritySpec pins the choice itself). Fewer pairs than
    * x10 at this low threshold (recall/selectivity trade); at
    * production near-dup thresholds (cos>=0.9) wide bands keep recall.
    */
  private val x10b = Q(
    "x10b_embed_neardup_auto",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // the probe's choice checked before the pipeline runs, so a
      // drifted probe fails with a direct message instead of
      // an opaque oracle hash mismatch — the SQL below replays (8,8).
      // Deliberately a runtime require, not (only) a spec pin: a fixture
      // regeneration or budget tweak must fail THIS query loudly in
      // Verify/Bench (where the stale oracle would otherwise mis-grade),
      // not just in a test that nobody reruns against new fixtures.
      // SimilaritySpec additionally pins the (8,8) choice on its own data.
      val chosen = Similarity.chooseBandConfig(e, "vec")
      require(chosen == ((8, 8)),
        s"x10b's oracle replays (8,8) but the probe chose $chosen — " +
          "fixture data or the candidate budget moved the selection; " +
          "update the oracle SQL to the probe's config")
      Similarity.signBandNearDupPairs(e, 0.3, chosen._1, chosen._2)
        .orderBy("id_a", "id_b")
    },
    Some {
      // band k = sign bits of coords 8k+1..8k+8 (mirrors signBandSigs
      // at the probe-chosen (8,8) config)
      val sigs = (0 until 8).map { k =>
        val bits = (0 until 8).map(r =>
          s"${1 << r}*CAST(vec[${k * 8 + r + 1}] >= 0 AS INT)").mkString(" + ")
        s"($bits) AS s$k"
      }.mkString(",\n                   ")
      val anyBand = (0 until 8).map(k => s"a.s$k = b.s$k").mkString(" OR ")
      def dot(x: String, y: String) =
        s"list_sum(list_transform(range(1, 65), i -> CAST($x.vec[i] AS DOUBLE) * CAST($y.vec[i] AS DOUBLE)))"
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
                 b AS (SELECT id, $sigs FROM e),
                 p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                       FROM b a JOIN b b ON a.id < b.id AND ($anyBand)),
                 v AS (SELECT p.id_a, p.id_b,
                              round(${dot("ea", "eb")}
                                    / sqrt(${dot("ea", "ea")})
                                    / sqrt(${dot("eb", "eb")}), 6) AS sim
                       FROM p JOIN e ea ON ea.id = p.id_a
                              JOIN e eb ON eb.id = p.id_b)
            SELECT id_a, id_b, sim FROM v WHERE sim >= 0.3
            ORDER BY id_a, id_b"""
    })

  /** IVF-style cell assignment (centroids = every 97th vector): cell
    * histogram. Argmin in deterministic double — oracle-able because the
    * centroid choice is itself SQL-expressible and the smallest margin
    * between best and second-best cell distance over every SF is ~2e-5,
    * far above summation error, so both engines pick identical cells
    * (ties would break toward the smaller cell id in both formulations).
    * SimilaritySpec additionally checks mass conservation + probe recall.
    */
  private val x11 = Q(
    "x11_ann_ivf_cells",
    (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfAssign(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")),
        "vec", ivfCentroids(s, d))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .orderBy("cell")
    },
    Some("""WITH c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                     AS INT) AS cid, embedding AS cvec
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16)),
                 d AS (SELECT e.vec_id, c.cid,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))) AS d2
                   FROM embeddings e CROSS JOIN c),
                 a AS (SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY d2, cid) AS rn FROM d)
            SELECT cid AS cell, count(*) AS n
            FROM a WHERE rn = 1 GROUP BY cell ORDER BY cell"""))

  /** Tumbling-window event aggregation (Structured-Streaming-compatible
    * window() operator run in batch). Output keyed by epoch micros to stay
    * timezone-free across engines.
    */
  private val x12 = Q(
    "x12_events_hourly",
    (s, d) => t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast(DoubleType).as("sum_value"))
      .select(unix_micros(col("w.start")).as("hour_us"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("hour_us", "event_type"),
    Some("""SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hour_us,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type"""))

  /** Gaps-and-islands sessionization (30-min gap) — batch twin of the
    * streaming session operator.
    */
  private val x13 = Q(
    "x13_events_sessionize",
    (s, d) => Sessionize.sessions(t(s, d, "events"), 1800L)
      .orderBy("user_id", "session_seq"),
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value
                       FROM events),
                 g AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                                      OR tus - lag(tus) OVER w > 1800000000
                                      THEN 1 ELSE 0 END AS new_s
                       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
                 s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                                  ROWS UNBOUNDED PRECEDING) AS session_seq
                       FROM g)
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   min(tus) AS session_start_us, max(tus) AS session_end_us,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM s GROUP BY user_id, session_seq
            ORDER BY user_id, session_seq"""))

  /** Semi-structured props: JSON field extraction + aggregation. */
  private val x14 = Q(
    "x14_events_json",
    (s, d) => t(s, d, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).cast(LongType).as("sum_k"),
        countDistinct(col("k")).as("n_k"))
      .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
                   count(DISTINCT CAST(json_extract_string(props, '$.k') AS INT)) AS n_k
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Multimodal binary plumbing: payload digest + byte length as native
    * expressions (Multimodal.asBinary); decode stub exercised in
    * MultimodalSpec via the partition-iterator path.
    */
  private val x15 = Q(
    "x15_multimodal_binary",
    (s, d) => Multimodal.asBinary(t(s, d, "documents"), "doc_id", "text")
      .select("media_id", "sha256", "byte_len")
      .orderBy("media_id"),
    Some("""SELECT doc_id AS media_id, sha256(text) AS sha256,
                   CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len
            FROM documents ORDER BY media_id"""))

  /** Decode/feature-extraction over partition iterators (stubbed codec,
    * real plumbing): channel histogram of the fake-decoded metadata.
    *
    * Oracle-able because the stub decode is deterministic arithmetic:
    * fakeDecode hashes the payload with java.util.Arrays.hashCode (fold
    * acc = 31*acc + byte, acc0 = 1, 32-bit wraparound), and the corpus is
    * all-ASCII so byte == code point. The SQL below tracks the hash as
    * its unsigned-mod-2^32 representative u; then Java's
    * (h & 0x7fffffff) = u % 2^31 and (h >> 8) & 0x7fffffff =
    * u // 256 + (u // 2^31) * 0x7F000000 (arithmetic shift sign bits).
    */
  private val x16 = Q(
    "x16_multimodal_decode",
    (s, d) => {
      val bin = Multimodal.asBinary(t(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeFeatures(s, bin).toDF()
        .groupBy("channels").agg(count(lit(1)).as("n"),
          max(col("width")).as("max_w"), max(col("height")).as("max_h"))
        .orderBy("channels")
    },
    Some("""WITH h AS (SELECT doc_id,
                   list_reduce(list_prepend(CAST(1 AS BIGINT),
                       list_transform(range(1, length(text)+1),
                                      i -> CAST(ascii(text[i]) AS BIGINT))),
                     (a, c) -> (a*31 + c) % 4294967296) AS u
                 FROM documents),
                 m AS (SELECT
                   CAST(((u % 2147483648) % 1920) + 1 AS INT) AS width,
                   CAST((((u // 256) + (u // 2147483648) * 2130706432)
                         % 1080) + 1 AS INT) AS height,
                   CASE WHEN u % 2 = 0 THEN 3 ELSE 1 END AS channels
                 FROM h)
            SELECT channels, count(*) AS n, max(width) AS max_w,
                   max(height) AS max_h
            FROM m GROUP BY channels ORDER BY channels"""))

  /** Per-document rolling-hash fingerprint (order-sensitive, unlike the
    * canonical md5 fingerprint of x02). The hash is plain modular
    * arithmetic over code points, so the oracle recomputes it exactly
    * with list_reduce.
    */
  private val x17 = Q(
    "x17_text_rolling_hash",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        TextAnalysis.rollingHash(col("text")).as("rhash"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, length(text)+1),
                                      i -> CAST(ascii(text[i]) AS BIGINT))),
                     (a, c) -> (a*31 + c) % 2147483647) AS rhash
            FROM documents ORDER BY doc_id"""))

  /** As-of join (operators.AsOfJoin): each purchase event picks up the
    * most recent click by the same user at-or-before its timestamp.
    * Oracle = DuckDB's native ASOF LEFT JOIN. AsOfJoin breaks equal-
    * timestamp ties toward the LARGEST payload, so the oracle collapses
    * clicks to max(value) per (user, ts) first — DuckDB's own ASOF
    * tiebreak is arbitrary and would flake the hash-compare otherwise.
    */
  private val x18 = Q(
    "x18_asof_join",
    (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      AsOfJoin.join(purchases, clicks, "user_id", "ts", "ts", Seq("value"))
        .select("event_id", "user_id", "ts_us", "asof_ts_us", "asof_value")
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                       FROM events WHERE event_type = 'purchase'),
                 c AS (SELECT user_id, epoch_us(ts) AS cts,
                              max(value) AS cvalue
                       FROM events WHERE event_type = 'click'
                       GROUP BY 1, 2)
            SELECT p.event_id, p.user_id, p.ts_us,
                   c.cts AS asof_ts_us, c.cvalue AS asof_value
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts_us >= c.cts
            ORDER BY p.event_id"""))

  /** Skew-safe salted aggregation (operators.Skew): two-phase count+sum
    * must equal the direct group-by — oracle is the plain SQL aggregate.
    */
  private val x19 = Q(
    "x19_salted_agg",
    (s, d) => Skew.saltedCountSum(t(s, d, "events"), "event_type",
      "value", "event_id", salts = 8)
      .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Custom typed Aggregator (functions.CorpusStats) grouped per lang:
    * partial-aggregating corpus statistics; oracle recomputes the same
    * stats in plain SQL.
    */
  private val x20 = Q(
    "x20_corpus_stats",
    (s, d) => {
      val stats = udaf(CorpusStats.agg)
      t(s, d, "documents")
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("toks"))
        .groupBy("lang")
        .agg(stats(col("toks")).as("st"))
        .select(col("lang"), col("st.n_docs"), col("st.sum_tokens"),
          col("st.min_tokens"), col("st.max_tokens"), col("st.avg_tokens"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
                   CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
                   CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                     / CAST(count(*) AS DOUBLE) AS avg_tokens
            FROM documents GROUP BY lang ORDER BY lang"""))

  /** BPE-ish regex tokenization (letter runs / digit runs / single
    * non-space symbols) — the cheap token-count proxy used before real BPE.
    */
  private val x21 = Q(
    "x21_regex_tokens",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
          .as("n_word_tokens"),
        size(expr("regexp_extract_all(text, '[aeiou]+', 0)"))
          .as("n_vowel_runs"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_word_tokens,
                   CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INT) AS n_vowel_runs
            FROM documents ORDER BY doc_id"""))

  /** Interval join (operators.IntervalJoin): purchases paired with clicks
    * by the same user within ±10 minutes — bucketed equi-join instead of
    * the nested-loop Spark would plan for the raw inequality. Oracle uses
    * the plain inequality join (exact at sf scale).
    */
  private val x22 = Q(
    "x22_interval_join",
    (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      IntervalJoin.join(purchases, clicks, "user_id", "ts", "ts",
        Seq("event_id", "value"), windowUs = 600000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("match_event_id"), col("match_ts_us"), col("match_value"))
        .orderBy("event_id", "match_event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                       FROM events WHERE event_type = 'purchase'),
                 c AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS cts,
                              value FROM events WHERE event_type = 'click')
            SELECT p.event_id, p.user_id, p.ts_us,
                   c.cid AS match_event_id, c.cts AS match_ts_us,
                   c.value AS match_value
            FROM p JOIN c ON p.user_id = c.user_id
                         AND abs(p.ts_us - c.cts) <= 600000000
            ORDER BY p.event_id, match_event_id"""))

  /** Heavy hitters per language via the SpaceSaving
    * TypedImperativeAggregate (functions.ApproxTopK). Sketch capacity
    * exceeds the corpus vocabulary, so counts are exact here and the
    * oracle is the true top-k; ApproxTopKSpec covers the lossy regime.
    */
  private val x23 = Q(
    "x23_top_tokens",
    (s, d) => t(s, d, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang")
      .agg(graft.functions.ApproxTopK.approxTopK(col("tok"), 5, 256).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("lang"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("t.item").as("token"), col("t.count").as("cnt"))
      .orderBy("lang", "rank"),
    Some("""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token
                       FROM documents),
                 c AS (SELECT lang, token, count(*) AS cnt
                       FROM t GROUP BY 1, 2),
                 r AS (SELECT lang, token, cnt,
                              row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, token ASC) AS rk
                       FROM c)
            SELECT lang, CAST(rk AS INT) AS rank, token, cnt
            FROM r WHERE rk <= 5 ORDER BY lang, rank"""))

  /** Normalization + scrubbing (TextAnalysis.normalize/scrub): the text
    * cleanup pass before dedup; digest proves byte-exact parity.
    */
  private val x24 = Q(
    "x24_text_scrub",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        md5(TextAnalysis.normalize(col("text"))).as("norm_digest"),
        length(TextAnalysis.scrub(col("text"))).as("scrub_len"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_digest,
                   CAST(length(regexp_replace(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'), 'https?://\S+', '<URL>', 'g')) AS INT) AS scrub_len
            FROM documents ORDER BY doc_id"""))

  /** Vocabulary encoding: build the corpus vocab (tokens ranked by count,
    * tie-broken by token), then re-encode each document as its id
    * sequence. The rank is Ranking.globalOrdinal — range-shard + local
    * rank + prefix offsets, NOT an unpartitioned row_number window (which
    * would sort the entire corpus vocabulary, 10^8-10^9 tokens at 100 TB,
    * through one task); (cnt desc, tok asc) is a total order so the
    * sharded ordinal is byte-identical to the global window the oracle
    * runs. collect_list order is nondeterministic, so positions ride
    * along and the final sequence is rebuilt with array_sort — the
    * standard trick for order-stable sequence assembly after a shuffle.
    */
  private val x25 = Q(
    "x25_vocab_encode",
    (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 100)
      val toks = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val vocab = Ranking.globalOrdinal(
        toks.groupBy("tok").agg(count(lit(1)).as("cnt")),
        Seq(col("cnt").desc, col("tok").asc), "tok_id",
        shards = s.sparkContext.defaultParallelism)
        .select("tok", "tok_id")
      // No broadcast hint on the encode join: a 100 TB corpus has a
      // 10^8-10^9-row vocabulary (tens of GB) that must NOT be forced
      // onto every executor. AQE picks broadcast when the vocab is
      // actually small and a shuffle join otherwise — the decision
      // belongs to the runtime, not the query. PlanSpec pins the
      // absence of the hint and re-runs the query with broadcast
      // disabled entirely.
      toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok_id")))),
            e => e.getField("tok_id").cast(StringType)), " ").as("ids"))
        .orderBy("doc_id")
    },
    Some("""WITH arrs AS (
              SELECT doc_id, string_split(text, ' ') AS arr
              FROM documents WHERE doc_id < 100),
            toks AS (
              SELECT doc_id, unnest(arr) AS tok,
                     unnest(range(0, len(arr))) AS pos
              FROM arrs),
            vocab AS (
              SELECT tok,
                     row_number() OVER (ORDER BY count(*) DESC, tok ASC) - 1
                       AS tok_id
              FROM toks GROUP BY tok)
            SELECT t.doc_id,
                   array_to_string(list(v.tok_id ORDER BY t.pos), ' ') AS ids
            FROM toks t JOIN vocab v USING (tok)
            GROUP BY t.doc_id ORDER BY t.doc_id"""))

  /** Int8 embedding quantization (operators.Quantize): per-vector scale +
    * code statistics, arithmetic replicated exactly in the oracle
    * (floor(x+0.5), not engine round()).
    */
  private val x26 = Q(
    "x26_quantize_int8",
    (s, d) => Quantize.withInt8(
      t(s, d, "embeddings"), "embedding", "scale", "codes")
      .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("sum_codes"),
        array_min(col("codes")).as("min_code"),
        array_max(col("codes")).as("max_code"))
      .orderBy("vec_id"),
    Some("""WITH q AS (
              SELECT vec_id,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
                     embedding
              FROM embeddings),
                 c AS (
              SELECT vec_id, scale,
                     CASE WHEN scale = 0 THEN
                       list_transform(embedding, x -> 0)
                     ELSE
                       list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))
                     END AS codes
              FROM q)
            SELECT vec_id, round(scale, 6) AS scale_r,
                   CAST(list_sum(codes) AS BIGINT) AS sum_codes,
                   CAST(list_min(codes) AS INT) AS min_code,
                   CAST(list_max(codes) AS INT) AS max_code
            FROM c ORDER BY vec_id"""))

  /** Character-trigram Jaccard near-dup pairs (tokenization-free variant
    * of x05) — gram sets computed once per document BEFORE the pair join,
    * which is the shape that scales: per-row feature extraction map-side,
    * quadratic verify only inside lang blocks.
    */
  private val x27 = Q(
    "x27_char_ngram_pairs",
    (s, d) => {
      val g = t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id").as("id"), col("lang"),
          Dedup.charNgrams(col("text"), 3).as("gs"))
      val a = g.toDF("id_a", "lang_a", "gs_a")
      val b = g.toDF("id_b", "lang_b", "gs_b")
      a.join(b, col("lang_a") === col("lang_b") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Dedup.setJaccard(col("gs_a"), col("gs_b")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH g AS (
              SELECT doc_id AS id, lang,
                     list_distinct(list_transform(range(1, length(text) - 1),
                       i -> substr(text, CAST(i AS INT), 3))) AS gs
              FROM documents WHERE doc_id < 100),
                 p AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                           / len(list_distinct(list_concat(a.gs, b.gs))), 4)
                       AS jaccard
              FROM g a JOIN g b ON a.lang = b.lang AND a.id < b.id)
            SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
            ORDER BY id_a, id_b"""))

  /** Bloom-filtered join (operators.BloomJoin): orders pre-filtered by a
    * broadcast Bloom filter of the rich-customer key set before the exact
    * join. The exact join scrubs false positives, so the result — and the
    * oracle — is the plain inner join.
    */
  private val x28 = Q(
    "x28_bloom_join",
    (s, d) => {
      val dim = t(s, d, "customer").filter(col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
      BloomJoin.join(t(s, d, "orders"), dim, "o_custkey", "c_custkey",
        expectedItems = 20000L)
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, c_custkey, c_name, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_acctbal > 9000
            ORDER BY o_orderkey"""))

  /** Skew-safe salted JOIN (operators.Skew.saltedJoin): events joined to
    * a tiny per-type dimension on a 5-value key — the textbook hot-key
    * join. The small side replicates `salts` times, the big side salts
    * deterministically, so each hot key fans over 8 tasks; result is
    * provably the plain join (the oracle).
    */
  private val x29 = Q(
    "x29_salted_join",
    (s, d) => {
      val ev = t(s, d, "events")
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("n_type"))
      Skew.saltedJoin(ev.filter(col("event_id") < 5000)
          .select("event_id", "event_type"),
        dim, "event_type", "event_id", salts = 8)
        .select("event_id", "event_type", "n_type")
        .orderBy("event_id")
    },
    Some("""WITH d AS (SELECT event_type, count(*) AS n_type
                       FROM events GROUP BY 1)
            SELECT e.event_id, e.event_type, d.n_type
            FROM events e JOIN d USING (event_type)
            WHERE e.event_id < 5000
            ORDER BY e.event_id"""))

  /** Incremental dedup: a new crawl batch deduped against the historical
    * corpus by content digest — anti join on the 16-byte digest, never
    * the text, then exact dedup within the batch itself. The daily-ingest
    * shape: history side is a digest-only table that can be billions of
    * rows and still shuffle cheaply.
    */
  private val x30 = Q(
    "x30_dedup_incremental",
    (s, d) => {
      val docs = t(s, d, "documents")
      val hist = docs.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("digest")).distinct()
      docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), md5(col("text")).as("digest"))
        .join(hist, Seq("digest"), "left_anti")
        .groupBy("digest")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("digest")
    },
    Some("""WITH hist AS (SELECT DISTINCT md5(text) AS digest
                          FROM documents WHERE doc_id < 250),
                 batch AS (SELECT doc_id, md5(text) AS digest
                           FROM documents WHERE doc_id >= 250)
            SELECT digest, min(doc_id) AS keep_id, count(*) AS n_copies
            FROM batch
            WHERE digest NOT IN (SELECT digest FROM hist)
            GROUP BY digest ORDER BY digest"""))

  /** Token-budget sequence packing (operators.Pack): documents are
    * packed, in stable doc_id order per language, into training
    * sequences of <= 2048 tokens (prefix-sum bucketing — deterministic,
    * single window pass). The graded query runs shards=1 so the SQL
    * oracle stays a plain per-lang window; the scale path is shards>1
    * (window key (lang, shard), no single task sees a whole language) —
    * its invariants are asserted in PackSpec at shards=4 and the plan
    * key is pinned in PlanSpec.
    */
  private val x31 = Q(
    "x31_sequence_pack",
    (s, d) => Pack.assign(
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tok")),
      "lang", "doc_id", "n_tok", budget = 2048L, shards = 1)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "pack_id"),
    Some("""WITH t AS (SELECT lang, doc_id,
                              CAST(len(string_split(text, ' ')) AS BIGINT)
                                AS n_tok
                       FROM documents),
                 c AS (SELECT *, CAST(sum(n_tok) OVER (PARTITION BY lang
                                  ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                                AS BIGINT) AS cum
                       FROM t)
            SELECT lang, (cum - n_tok) // 2048 AS pack_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM c GROUP BY lang, pack_id
            ORDER BY lang, pack_id"""))

  /** The SHARDED packing scale path, graded: shards=4 with the
    * md5-prefix shard hash (Pack.assign oracleHash — same cross-engine
    * fold as x07/s46), so the window key is (lang, shard) and DuckDB
    * replays shard assignment bit-for-bit. This is the query x31 can't
    * be: the shape that never puts a whole language through one window
    * task, itself under the oracle gate instead of ScalaTest-only.
    */
  private val x31b = Q(
    "x31b_sequence_pack_sharded",
    (s, d) => Pack.assign(
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tok")),
      "lang", "doc_id", "n_tok", budget = 2048L, shards = 4,
      oracleHash = true)
      .groupBy("lang", "shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "shard", "pack_id"),
    Some("""WITH t AS (SELECT lang, doc_id,
                              CAST(len(string_split(text, ' ')) AS BIGINT)
                                AS n_tok,
                              CAST(CAST('0x' ||
                                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                                   AS BIGINT) % 4 AS INT) AS shard
                       FROM documents),
                 c AS (SELECT *, CAST(sum(n_tok) OVER (
                                   PARTITION BY lang, shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING)
                                 AS BIGINT) AS cum
                       FROM t)
            SELECT lang, shard, (cum - n_tok) // 2048 AS pack_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM c GROUP BY lang, shard, pack_id
            ORDER BY lang, shard, pack_id"""))

  /** Near-dup CLUSTERS (operators.Components): the x05 pair list closed
    * transitively by min-label propagation, labelling every doc with its
    * cluster's smallest id — the keep-one-per-cluster step of dedup.
    * Oracle is DuckDB's recursive-CTE reachability closure.
    */
  private val x32 = Q(
    "x32_dedup_clusters",
    (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 150)
      val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text", "lang", 0.5)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Components.minLabel(docs.select(col("doc_id").as("id")), pairs)
        .orderBy("id")
    },
    Some("""WITH RECURSIVE
              n AS (SELECT doc_id AS id, lang,
                           list_distinct(string_split(text, ' ')) AS toks
                    FROM documents WHERE doc_id < 150),
              p AS (SELECT a.id AS id_a, b.id AS id_b
                    FROM n a JOIN n b ON a.lang = b.lang AND a.id < b.id
                    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.toks, b.toks)))
                          >= 0.5),
              e AS (SELECT id_a AS a, id_b AS b FROM p
                    UNION SELECT id_b, id_a FROM p),
              reach(id, x) AS (
                SELECT id, id FROM n
                UNION
                SELECT r.id, e.b FROM reach r JOIN e ON r.x = e.a
              )
            SELECT id, min(x) AS cluster
            FROM reach GROUP BY id ORDER BY id"""))

  /** Centroid set shared by x11/x33/x36: every 97th vector in id order,
    * capped at 16. The every-Nth + limit pattern under-fills SILENTLY
    * when the id range shrinks (the ivfrecall flow's "64-cell" index was
    * 21 cells before its sample-size assert) — so the guard lives here,
    * next to the pattern. It can NOT require a full 16: the pool is 6 at
    * sf0.001/sf0.01 and 16 (of 21) at sf0.1 today, and the oracle SQL
    * replays the same selection, so a 6-cell index is the graded,
    * agreed-upon shape at small SFs. What must never happen silently is
    * the index degenerating below what downstream assumes: x33 probes
    * the 2 nearest cells, so anything under 4 cells turns "IVF" into a
    * near-full scan with a green oracle. That floor fails loudly.
    */
  private def ivfCentroids(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Int, Array[Double])] = {
    val pool = t(s, d, "embeddings")
      .filter(pmod(col("vec_id"), lit(97)) === 0)
      .orderBy("vec_id").limit(16)
      .collect()
    require(pool.length >= 4,
      s"IVF seed pool starved: every-97th-id sampling yielded only " +
        s"${pool.length} centroids (< 4) — the embeddings slice shrank; " +
        "widen the stride or the corpus (see ivfrecall's sample-size " +
        "lesson in SCALE.md)")
    pool.zipWithIndex.map { case (r, i) =>
      (i, r.getSeq[Float](r.fieldIndex("embedding"))
        .map(_.toDouble).toArray)
    }.toSeq
  }

  /** IVF probe SEARCH (the full index path, completing x11's assignment
    * step): top-5 cosine over only each query's 2 nearest cells. Same
    * determinism argument as x11 — centroids are SQL-expressible, the
    * probe boundary margin (3rd-vs-2nd nearest cell over the query set)
    * is >= 0.025 at every SF, and cell assignment margins are >= 2e-5.
    */
  private val x33 = Q(
    "x33_ann_ivf_search",
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfTopK(qs, corpus, ivfCentroids(s, d), nprobe = 2, k = 5)
        .select("qid", "rank", "id", "sim")
        .orderBy("qid", "rank")
    },
    Some("""WITH c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                     AS INT) AS cid, embedding AS cvec
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16)),
                 d AS (SELECT e.vec_id, e.embedding, c.cid,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))) AS d2
                   FROM embeddings e CROSS JOIN c),
                 ca AS (SELECT vec_id, embedding, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
                 qp AS (SELECT vec_id AS qid, embedding AS qvec, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2, cid) AS rn FROM d WHERE vec_id < 3)
                     WHERE rn <= 2),
                 scored AS (SELECT qp.qid, ca.vec_id AS id,
                     round(
                       list_sum(list_transform(range(1, 65), i -> CAST(qp.qvec[i] AS DOUBLE) * CAST(ca.embedding[i] AS DOUBLE)))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qp.qvec[i] AS DOUBLE) * CAST(qp.qvec[i] AS DOUBLE))))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ca.embedding[i] AS DOUBLE) * CAST(ca.embedding[i] AS DOUBLE)))),
                     6) AS sim
                   FROM ca JOIN qp ON ca.cid = qp.cid
                   WHERE ca.vec_id <> qp.qid)
            SELECT qid, CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY sim DESC, id) AS INT) AS rank, id, sim
            FROM scored
            QUALIFY rank <= 5
            ORDER BY qid, rank"""))

  /** TRAINED IVF centroids (operators.Similarity.kmeans): two Lloyd's
    * iterations from the deterministic every-97th seed, graded as the
    * per-iteration cell histograms (iter 1 = assignment under the seed,
    * iter 2 = assignment under the once-updated means). Counts are
    * integers, so the only cross-engine risk is a flipped assignment;
    * margins carry the determinism argument as in x11/x33 — the seed
    * assignment margin is >= 2e-5 and the trained-centroid margin is
    * re-measured in SimilaritySpec (assignMargin), both orders of
    * magnitude above the ~1e-13 relative wobble double summation order
    * can put on the means. Dead cells drop out identically in both
    * engines (no group, no row).
    */
  private val x36 = Q(
    "x36_ivf_kmeans",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = ivfCentroids(s, d)
      val (c1, _) = Similarity.kmeansStep(e, "vec", 64, c0)
      def hist(cents: Seq[(Int, Array[Double])], iter: Int) =
        Similarity.ivfAssign(e, "vec", cents)
          .groupBy("cell").agg(count(lit(1)).as("n"))
          .select(lit(iter).as("iter"), col("cell"), col("n"))
      hist(c0, 1).union(hist(c1, 2)).orderBy("iter", "cell")
    },
    Some("""WITH c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                     AS INT) AS cid, embedding AS cvec
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16)),
                 d1 AS (SELECT e.vec_id, c.cid,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))) AS d2
                   FROM embeddings e CROSS JOIN c0 c),
                 a1 AS (SELECT vec_id, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2, cid) AS rn FROM d1) WHERE rn = 1),
                 m1 AS (SELECT a.cid, u.i,
                               avg(CAST(e.embedding[u.i] AS DOUBLE)) AS m
                        FROM a1 a JOIN embeddings e USING (vec_id)
                             CROSS JOIN (SELECT unnest(range(1, 65)) AS i) u
                        GROUP BY a.cid, u.i),
                 c1 AS (SELECT cid, list(m ORDER BY i) AS cvec
                        FROM m1 GROUP BY cid),
                 d2_ AS (SELECT e.vec_id, c.cid,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS d2
                   FROM embeddings e CROSS JOIN c1 c),
                 a2 AS (SELECT vec_id, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2, cid) AS rn FROM d2_) WHERE rn = 1)
            SELECT 1 AS iter, cid AS cell, count(*) AS n
            FROM a1 GROUP BY cid
            UNION ALL
            SELECT 2 AS iter, cid AS cell, count(*) AS n
            FROM a2 GROUP BY cid
            ORDER BY iter, cell"""))

  /** Video-ish frame sampling (Multimodal.sampleFrames): every 2nd
    * 256-byte chunk of each payload as its own row with a per-frame
    * digest — the one-to-many explode shape a frame pipeline needs. The
    * chunking stub is deterministic bytes math over an ASCII corpus, so
    * the oracle replays it with substring+sha256.
    */
  private val x34 = Q(
    "x34_frame_sample",
    (s, d) => {
      val bin = Multimodal.asBinary(
        t(s, d, "documents").filter(col("doc_id") < 200), "doc_id", "text")
      Multimodal.sampleFrames(s, bin, frameBytes = 256, stride = 2).toDF()
        .select(col("mediaId").as("media_id"),
          col("frameIdx").as("frame_idx"),
          col("sha256"), col("nBytes").as("n_bytes"))
        .orderBy("media_id", "frame_idx")
    },
    Some("""WITH f AS (
              SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
                     sha256(substring(text, CAST(i*256 + 1 AS BIGINT), 256))
                       AS sha256,
                     CAST(least(256, length(text) - i*256) AS INT) AS n_bytes
              FROM documents
                CROSS JOIN unnest(range(0,
                  CAST(ceil(length(text)/256.0) AS BIGINT))) AS t(i)
              WHERE doc_id < 200 AND i % 2 = 0)
            SELECT media_id, frame_idx, sha256, n_bytes FROM f
            ORDER BY media_id, frame_idx"""))

  /** End-to-end corpus cleaning pipeline — the composition the
    * individual operators exist for, as ONE oracle-checked query:
    * normalize (case/punct/whitespace) -> exact-dedup on normalized
    * content (keep min id) -> exact Jaccard near-dup pairs within lang
    * blocks -> connected-component closure -> cluster census. Every
    * stage is deterministic string/set arithmetic, so the whole chain
    * replays in SQL down to the recursive CTE.
    */
  private val x35 = Q(
    "x35_corpus_pipeline",
    (s, d) => {
      val normed = t(s, d, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.normalize(col("text")).as("ntext"))
      // dedup groups on the 16-byte digest, never the raw normalized
      // text — the Dedup-module rule (a text grouping key is the exact
      // shuffle-volume trap at corpus scale)
      val keepIds = normed.groupBy(md5(col("ntext")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val kept = normed.join(keepIds, Seq("doc_id"))
      val pairs = Dedup.blockedJaccardPairs(kept, "doc_id", "ntext",
          "lang", 0.5)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Components.minLabel(kept.select(col("doc_id").as("id")), pairs)
        .groupBy("cluster").agg(count(lit(1)).as("members"))
        .orderBy("cluster")
    },
    Some("""WITH RECURSIVE
              nd AS (SELECT doc_id, lang,
                       trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS ntext
                     FROM documents WHERE doc_id < 150),
              keep AS (SELECT min(doc_id) AS id FROM nd
                       GROUP BY md5(ntext)),
              k AS (SELECT nd.doc_id AS id, nd.lang,
                           list_distinct(string_split(nd.ntext, ' ')) AS toks
                    FROM nd JOIN keep ON nd.doc_id = keep.id),
              p AS (SELECT a.id AS id_a, b.id AS id_b
                    FROM k a JOIN k b ON a.lang = b.lang AND a.id < b.id
                    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.toks, b.toks)))
                          >= 0.5),
              e AS (SELECT id_a AS a, id_b AS b FROM p
                    UNION SELECT id_b, id_a FROM p),
              reach(id, x) AS (
                SELECT id, id FROM k
                UNION
                SELECT r.id, e.b FROM reach r JOIN e ON r.x = e.a
              ),
              lab AS (SELECT id, min(x) AS cluster FROM reach GROUP BY id)
            SELECT cluster, count(*) AS members
            FROM lab GROUP BY cluster ORDER BY cluster"""))

  /** Benchmark decontamination (operators.Decontaminate): training docs
    * sharing any word 4-gram with a held-out eval slice (every-97th
    * doc), the pre-training leakage guard. Both sides reduce grams to
    * md5 digests before the join so no raw n-gram text is shuffled; the
    * eval side is NOT hint-broadcast (AQE decides — the x25 rule). The
    * gram strings are engine-neutral token joins, so DuckDB replays the
    * whole pipeline exactly.
    */
  private val x37 = Q(
    "x37_decontaminate",
    (s, d) => {
      val docs = t(s, d, "documents")
      Decontaminate.overlapHits(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4)
        .orderBy("doc_id")
    },
    Some("""WITH g AS (SELECT doc_id, string_split(text, ' ') AS arr
                       FROM documents),
            ev AS (SELECT DISTINCT md5(gram) AS h FROM (
                SELECT unnest(list_transform(range(1, len(arr) - 2),
                  i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]
                       || ' ' || arr[i+3])) AS gram
                FROM g WHERE doc_id % 97 = 0 AND len(arr) >= 4)),
            tr AS (SELECT DISTINCT doc_id, md5(gram) AS h FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(arr) - 2),
                  i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]
                       || ' ' || arr[i+3])) AS gram
                FROM g WHERE doc_id % 97 <> 0 AND len(arr) >= 4))
            SELECT tr.doc_id, count(*) AS n_hits
            FROM tr JOIN ev USING (h)
            GROUP BY tr.doc_id ORDER BY doc_id"""))

  /** The decontaminated corpus itself — Decontaminate.clean at
    * tau = 0.02, the way pipelines actually consume the guard (x37
    * grades the per-doc evidence; this grades the surviving rows).
    * tau thresholding: flag when n_hits / n_grams >= tau AND
    * n_hits >= 1; at this SF the hit fractions straddle 0.02 (range
    * ~0.007-0.034 at sf0.01, ~0.01-1.0 at sf0.001), so BOTH branches —
    * contaminated-but-kept and removed — execute. hit_frac is one IEEE
    * division of exact integer counts, reproducible in any engine.
    */
  private val x37b = Q(
    "x37b_decontaminate_clean",
    (s, d) => {
      val docs = t(s, d, "documents")
      Decontaminate.clean(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4, tau = 0.02)
        .orderBy("doc_id")
    },
    Some("""WITH g AS (SELECT doc_id, string_split(text, ' ') AS arr
                       FROM documents),
            ev AS (SELECT DISTINCT md5(gram) AS h FROM (
                SELECT unnest(list_transform(range(1, len(arr) - 2),
                  i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]
                       || ' ' || arr[i+3])) AS gram
                FROM g WHERE doc_id % 97 = 0 AND len(arr) >= 4)),
            tr AS (SELECT DISTINCT doc_id, md5(gram) AS h FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(arr) - 2),
                  i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]
                       || ' ' || arr[i+3])) AS gram
                FROM g WHERE doc_id % 97 <> 0 AND len(arr) >= 4)),
            st AS (SELECT tr.doc_id, count(*) AS n_grams,
                          sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)
                            AS n_hits
                   FROM tr LEFT JOIN ev USING (h) GROUP BY tr.doc_id),
            fl AS (SELECT doc_id FROM st
                   WHERE n_hits >= 1
                     AND CAST(n_hits AS DOUBLE) / n_grams >= 0.02)
            SELECT * FROM documents
            WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM fl)
            ORDER BY doc_id"""))

  /** Domain mixing weights (operators.Mix): temperature-scaled
    * (α = 1/2) per-source sampling weights and the per-source keep
    * rates that hit a 26k-token target in expectation — 26k sits inside
    * the corpus's per-source rate spread at sf0.01, so both sides of
    * the least(1.0, …) clamp execute. sqrt is IEEE-correctly-rounded in
    * both engines and the normalizing sum runs in exact DECIMAL(18,6),
    * so every weight is bit-reproducible.
    */
  private val x38 = Q(
    "x38_mix_weights",
    (s, d) => Mix.weights(t(s, d, "documents"), "source",
      TextAnalysis.tokenCount(col("text")), targetTokens = 26000L)
      .orderBy("source"),
    Some("""WITH per AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS tokens
              FROM documents GROUP BY source),
            w AS (SELECT *,
                    CAST(round(sqrt(CAST(tokens AS DOUBLE)), 6)
                         AS DECIMAL(18,6)) AS wd
                  FROM per),
            t AS (SELECT sum(wd) AS tot FROM w)
            SELECT source, n_docs, tokens,
                   round(CAST(wd AS DOUBLE) / CAST(tot AS DOUBLE), 6)
                     AS weight,
                   round(least(1.0,
                     26000.0 * round(CAST(wd AS DOUBLE) / CAST(tot AS DOUBLE), 6)
                       / CAST(tokens AS DOUBLE)), 6) AS rate
            FROM w CROSS JOIN t ORDER BY source"""))

  /** Deterministic training-order shuffle + round-robin worker shard
    * (operators.ShuffleOrder): every doc gets a pseudorandom but
    * reproducible global position via the range-sharded ordinal (NOT a
    * single-task global window), then worker = ord mod W / pos = ord
    * div W for perfectly balanced disjoint slices. Order key is the
    * md5-prefix fold (cross-engine) with the id as total-order
    * tiebreak, so DuckDB's global row_number replays it exactly.
    */
  private val x39 = Q(
    "x39_shuffle_shards",
    (s, d) => ShuffleOrder.assign(
      t(s, d, "documents").select("doc_id", "source"),
      "doc_id", workers = 4, shards = s.sparkContext.defaultParallelism)
      .select("doc_id", "worker", "pos")
      .orderBy("doc_id"),
    Some("""WITH o AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                            AS BIGINT), doc_id) - 1 AS ord
              FROM documents)
            SELECT doc_id, ord % 4 AS worker, ord // 4 AS pos
            FROM o ORDER BY doc_id"""))

  /** Gopher-family repetition quality signals (operators.Repetition):
    * top-token fraction and duplicate-bigram occurrence fraction per
    * document, plus the keep verdict at the paper-ish 0.3 / 0.2
    * thresholds. One tagged explode (unigrams + bigrams in a single
    * stream) and two hash-aggregates; every double is one IEEE division
    * of exact integer counts, so no rounding is needed on either side.
    */
  private val x40 = Q(
    "x40_repetition_signals",
    (s, d) => Repetition.signals(
      t(s, d, "documents"), "doc_id", "text", n = 2)
      .orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS arr
                         FROM documents),
            g AS (SELECT doc_id, 1 AS sz, unnest(arr) AS gram FROM tok
                  UNION ALL
                  SELECT doc_id, 2 AS sz,
                         unnest(list_transform(range(1, len(arr)),
                           i -> arr[i] || ' ' || arr[i+1])) AS gram
                  FROM tok WHERE len(arr) >= 2),
            c AS (SELECT doc_id, sz, gram, count(*) AS c
                  FROM g GROUP BY doc_id, sz, gram),
            p AS (SELECT doc_id,
                    CAST(sum(CASE WHEN sz = 1 THEN c END) AS BIGINT)
                      AS n_tokens,
                    CAST(max(CASE WHEN sz = 1 THEN c END) AS BIGINT)
                      AS max_tok,
                    CAST(sum(CASE WHEN sz = 2 THEN c END) AS BIGINT)
                      AS total_n,
                    CAST(sum(CASE WHEN sz = 2 AND c >= 2 THEN c END)
                      AS BIGINT) AS dup_occ
                  FROM c GROUP BY doc_id)
            SELECT doc_id, n_tokens,
                   CAST(max_tok AS DOUBLE) / n_tokens AS top_tok_frac,
                   coalesce(CAST(dup_occ AS DOUBLE) / total_n, 0.0)
                     AS dup_gram_frac,
                   CAST(max_tok AS DOUBLE) / n_tokens <= 0.3
                     AND coalesce(CAST(dup_occ AS DOUBLE) / total_n, 0.0)
                         <= 0.2 AS keep
            FROM p ORDER BY doc_id"""))

  /** DSIR hashed-n-gram importance weights (operators.Importance):
    * score raw docs by hashed-bigram similarity to a target slice
    * (source src0), add-one smoothed, quantized to exact integer ppm so
    * the per-doc sum is order-independent. The bucket hash is the
    * md5-prefix fold; the ≤64-row histograms and 1-row totals are the
    * bounded-by-construction broadcasts (not the x25 kind).
    */
  private val x41 = Q(
    "x41_importance_weights",
    (s, d) => {
      val docs = t(s, d, "documents")
      Importance.weights(docs, docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 2, buckets = 64)
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS arr
                         FROM documents),
            g AS (SELECT doc_id, source,
                         unnest(list_transform(range(1, len(arr)),
                           i -> arr[i] || ' ' || arr[i+1])) AS gram
                  FROM tok WHERE len(arr) >= 2),
            bk AS (SELECT doc_id, source,
                          CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                            % 64 AS b
                   FROM g),
            ht AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM bk
                   WHERE source = 'src0' GROUP BY b),
            hr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bk
                   GROUP BY b),
            nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM ht),
            nr AS (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) AS nr FROM hr),
            r AS (SELECT doc_id,
                    CAST(floor(
                      (CAST(coalesce(ht.ct, 0) + 1 AS DOUBLE)
                         * CAST(nr.nr + 64 AS DOUBLE))
                      / (CAST(hr.cr + 1 AS DOUBLE)
                         * CAST(nt.nt + 64 AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS ppm
                  FROM bk JOIN hr USING (b) LEFT JOIN ht USING (b)
                       CROSS JOIN nt CROSS JOIN nr)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(ppm) AS BIGINT) AS score_ppm,
                   CAST(sum(ppm) AS DOUBLE) / (count(*) * 1000000.0)
                     AS avg_ratio
            FROM r GROUP BY doc_id ORDER BY doc_id"""))

  /** BPE tokenizer-training pair counts (operators.Bpe): the top-20
    * adjacent character pairs over the frequency-weighted vocabulary —
    * iteration 1 of subword-merge learning (x25's missing other half:
    * training a vocabulary instead of applying one). The corpus-sized
    * work is one wordcount; pair counting runs on DISTINCT words only,
    * and the deterministic (cnt desc, a, b) order makes top-k
    * replayable. The multi-iteration merge loop is driver-iterative
    * (engine-side regex state) and graded in BpeSpec instead.
    */
  private val x42 = Q(
    "x42_bpe_pairs",
    (s, d) => Bpe.topPairs(
      Bpe.pairCounts(Bpe.initSymbols(
        Bpe.wordFreqs(t(s, d, "documents"), "text"))), 20),
    Some("""WITH w AS (SELECT t AS w, count(*) AS freq FROM
                         (SELECT unnest(string_split(text, ' ')) AS t
                          FROM documents)
                       WHERE NOT contains(t, chr(1))
                       GROUP BY t),
            p AS (SELECT unnest(list_transform(range(1, length(w)),
                           i -> substr(w, i, 2))) AS pr, freq
                  FROM w WHERE length(w) >= 2)
            SELECT substr(pr, 1, 1) AS a, substr(pr, 2, 1) AS b,
                   CAST(sum(freq) AS BIGINT) AS cnt
            FROM p GROUP BY a, b
            ORDER BY cnt DESC, a, b LIMIT 20"""))

  /** Hot-key-safe sessionization (Sessionize.sessionsChunked): phase 1
    * windows on (user_id, hour chunk) so a bot holding 10% of a day's
    * events no longer serializes on one core; phase 2 stitches sessions
    * across chunk boundaries from per-session rows. Output is
    * bit-identical to plain sessions — the oracle IS x13's plain
    * gaps-and-islands SQL, which is the strongest possible check that
    * the chunked rewrite changes the plan, not the semantics. Hour
    * chunks at the 30-minute gap guarantee both phase-2 branches run
    * (sessions split by a chunk boundary merge back; intra-chunk splits
    * stay split).
    */
  private val x43 = Q(
    "x43_sessionize_chunked",
    (s, d) => Sessionize.sessionsChunked(t(s, d, "events"), 1800L, 3600L)
      .orderBy("user_id", "session_seq"),
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value
                       FROM events),
                 g AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                                      OR tus - lag(tus) OVER w > 1800000000
                                      THEN 1 ELSE 0 END AS new_s
                       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
                 s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                                  ROWS UNBOUNDED PRECEDING) AS session_seq
                       FROM g)
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   min(tus) AS session_start_us, max(tus) AS session_end_us,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM s GROUP BY user_id, session_seq
            ORDER BY user_id, session_seq"""))

  /** Capped interval join (IntervalJoin.joinNearest): each purchase
    * keeps its 2 nearest in-window clicks by |Δt| — the bounded-output
    * variant SCALE.md's skew measurement motivates (a bot user turns
    * the unbounded join's output quadratic in its density; the cap
    * bounds it at k·|left| by construction, and the ranking window
    * partitions on the unique left event id, so no hot key can
    * serialize it). Ties: (|Δt|, match ts, match event id, match value)
    * — total because the click event id is unique.
    */
  private val x44 = Q(
    "x44_interval_join_nearest",
    (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      IntervalJoin.joinNearest(purchases, clicks, "user_id", "ts", "ts",
        Seq("event_id", "value"), windowUs = 600000000L,
        leftIdCol = "event_id", k = 2)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("match_event_id"), col("match_ts_us"), col("match_value"),
          col("match_rank"))
        .orderBy("event_id", "match_rank")
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                       FROM events WHERE event_type = 'purchase'),
                 c AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS cts,
                              value FROM events WHERE event_type = 'click'),
                 m AS (SELECT p.event_id, p.user_id, p.ts_us,
                              c.cid AS match_event_id, c.cts AS match_ts_us,
                              c.value AS match_value
                       FROM p JOIN c ON p.user_id = c.user_id
                                    AND abs(p.ts_us - c.cts) <= 600000000),
                 r AS (SELECT *, CAST(row_number() OVER (
                              PARTITION BY event_id
                              ORDER BY abs(ts_us - match_ts_us),
                                       match_ts_us, match_event_id,
                                       match_value) AS INT) AS match_rank
                       FROM m)
            SELECT event_id, user_id, ts_us, match_event_id, match_ts_us,
                   match_value, match_rank
            FROM r WHERE match_rank <= 2
            ORDER BY event_id, match_rank"""))

  /** Semantic dedup (operators.SemanticDedup — the SemDeDup recipe):
    * assign every embedding to its nearest centroid (the shared
    * x11/x33/x36 seed set), connect within-cell pairs with
    * round(cosine, 6) >= 0.4, and keep one representative per
    * connected group. Deterministic: cell-assignment margins are the
    * x11/x33 argument, and the nearest threshold-0.4 cosine sits
    * >= 1.2e-4 away at every graded SF (probed over the full
    * within-cell pair set) — 100x the 1e-6 rounding grain. The oracle
    * replays assignment, pairing, and the reachability closure
    * (x32's recursive CTE) verbatim.
    */
  private val x45 = Q(
    "x45_semantic_dedup",
    (s, d) => SemanticDedup.clusters(
      t(s, d, "embeddings"), "vec_id", "embedding",
      ivfCentroids(s, d), 0.4).orderBy("id"),
    Some("""WITH RECURSIVE
              c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                      AS INT) AS cid, embedding AS cvec
                    FROM (SELECT vec_id, embedding FROM embeddings
                          WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16)),
              d AS (SELECT e.vec_id, e.embedding, c.cid,
                      list_sum(list_transform(range(1, 65),
                        i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                           * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))) AS d2
                    FROM embeddings e CROSS JOIN c),
              ca AS (SELECT vec_id, embedding, cid FROM
                      (SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
              p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                    FROM ca a JOIN ca b ON a.cid = b.cid AND a.vec_id < b.vec_id
                    WHERE round(
                        list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                        / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                        / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))),
                      6) >= 0.4),
              e2 AS (SELECT id_a AS a, id_b AS b FROM p
                     UNION SELECT id_b, id_a FROM p),
              reach(id, x) AS (
                SELECT vec_id, vec_id FROM ca
                UNION
                SELECT r.id, e2.b FROM reach r JOIN e2 ON r.x = e2.a
              )
            SELECT ca.vec_id AS id, ca.cid AS cell, cl.cluster,
                   ca.vec_id = cl.cluster AS keep
            FROM ca JOIN (SELECT id, min(x) AS cluster
                          FROM reach GROUP BY id) cl ON cl.id = ca.vec_id
            ORDER BY id"""))

  /** Corpus-bigram-LM quality score (operators.LmQuality — the CCNet
    * perplexity filter re-expressed engine-native): every document's
    * average add-one-smoothed bigram log-likelihood under the corpus's
    * own bigram model. Cross-engine determinism comes from integer
    * micro-nat terms — see LmQuality's scaladoc.
    */
  private val x46 = Q(
    "x46_bigram_lm",
    // the trailing predicate is an always-true sanity bound (log
    // probabilities are <= 0; transition-less docs score exactly 0) —
    // its real job is keeping a bare count() honest: without a
    // reference to the COMPUTED column, the optimizer elides the
    // row-preserving final left join and "benchmarks" a corpus scan
    // (measured: flat 0.3s from 5k to 500k docs, SCALE.md round-14)
    (s, d) => LmQuality.bigramLogLikelihood(
      t(s, d, "documents"), "doc_id", "text")
      .filter(col("avg_ll") <= 0.0).orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                          FROM documents),
                 ucnt AS (SELECT w, count(*) AS cu
                          FROM (SELECT unnest(l) AS w FROM toks) GROUP BY w),
                 v AS (SELECT count(*) AS v FROM ucnt),
                 big AS (SELECT doc_id,
                           unnest(list_transform(range(1, len(l)),
                             i -> l[i] || ' ' || l[i + 1])) AS g,
                           unnest(list_transform(range(1, len(l)),
                             i -> l[i])) AS w1
                         FROM toks),
                 bcnt AS (SELECT g, count(*) AS cb FROM big GROUP BY g),
                 t AS (SELECT doc_id,
                         CAST(round(ln((cb + 1.0) / (cu + v)) * 1000000.0,
                           0) AS BIGINT) AS m
                       FROM big JOIN bcnt USING (g)
                                JOIN ucnt ON big.w1 = ucnt.w
                                CROSS JOIN v),
                 p AS (SELECT doc_id, count(*) AS n_trans,
                              CAST(sum(m) AS BIGINT) AS sm
                       FROM t GROUP BY doc_id)
            SELECT d.doc_id, coalesce(p.n_trans, 0) AS n_trans,
                   coalesce(CAST(p.sm AS DOUBLE) / p.n_trans / 1000000.0,
                     0.0) AS avg_ll
            FROM documents d LEFT JOIN p USING (doc_id)
            ORDER BY doc_id"""))

  /** Cross-document duplicated-5-gram fraction (Dedup
    * .crossDocDupFraction — the Lee et al. 2022 duplicate-text signal):
    * per document, the fraction of its word 5-gram occurrences whose
    * gram appears in >= 2 distinct documents. All-integer counts plus
    * one IEEE division — no rounding needed anywhere.
    */
  private val x47 = Q(
    "x47_dup_ngram_frac",
    // always-true bound on the computed fraction, same count()-honesty
    // role as x46's predicate (dup_frac is 0 when nothing repeats)
    (s, d) => Dedup.crossDocDupFraction(
      t(s, d, "documents"), "doc_id", "text", 5)
      .filter(col("dup_frac") >= 0.0).orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                          FROM documents),
                 grams AS (SELECT doc_id,
                             unnest(list_transform(range(1, len(l) - 3),
                               i -> array_to_string(l[i:i+4], ' '))) AS gram
                           FROM toks),
                 pg AS (SELECT gram, doc_id, count(*) AS occ
                        FROM grams GROUP BY gram, doc_id),
                 wf AS (SELECT *, count(*) OVER (PARTITION BY gram)
                          AS docs_with FROM pg),
                 per AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_grams,
                                CAST(sum(CASE WHEN docs_with >= 2 THEN occ
                                         ELSE 0 END) AS BIGINT) AS n_dup
                         FROM wf GROUP BY doc_id)
            SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
                   coalesce(n_dup, 0) AS n_dup,
                   coalesce(CAST(n_dup AS DOUBLE) / n_grams, 0.0) AS dup_frac
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY doc_id"""))

  /** The fixed "shipped tokenizer" x48 encodes with — rank order is
    * load-bearing (BPE applies merges in training order). Chosen to
    * exercise the order semantics on this corpus: (th,e) consumes
    * (t,h)'s concatenation and (ba,t) consumes (b,a)'s — each forces an
    * order-preserving batch boundary in encodeVocab — and (o,w) fires
    * on `window` but NOT on `row`, whose `o` was already merged into
    * `ro` by the earlier rank-3 rule.
    */
  private val bpeTokenizer: Seq[(String, String)] = Seq(
    ("s", "t"), ("a", "n"), ("r", "o"), ("t", "a"), ("e", "r"),
    ("t", "h"), ("th", "e"), ("q", "u"), ("o", "w"), ("l", "u"),
    ("i", "n"), ("s", "m"), ("b", "a"), ("ba", "t"), ("c", "o"),
    ("k", "e"))

  /** BPE ENCODE (operators.Bpe.encodeVocab — the production half of
    * x42's training): apply the shipped tokenizer to the corpus
    * vocabulary, emitting each word's piece sequence and count. The
    * corpus-sized work is ONE wordcount; the merge loop runs on the
    * distinct vocabulary (the x25/x42 shape). The oracle replays the
    * exact greedy left-to-right non-overlapping merge semantics with a
    * boundary-safe double-separator replace inside a recursive CTE
    * over merge ranks — RE2 has no lookahead, so the padding carries
    * the symbol boundaries the Spark side's anchored regex asserts.
    */
  private val x48 = Q(
    "x48_bpe_encode",
    (s, d) => Bpe.encodeVocab(
      Bpe.wordFreqs(t(s, d, "documents"), "text"), bpeTokenizer)
      .select(col("w"), col("freq"),
        size(col("syms")).as("n_pieces"),
        array_join(col("syms"), " ").as("encoded"))
      .orderBy("w"),
    Some {
      val vals = bpeTokenizer.zipWithIndex
        .map { case ((a, b), i) => s"(${i + 1},'$a','$b')" }.mkString(", ")
      s"""WITH RECURSIVE
            m(rank, a, b) AS (VALUES $vals),
            v AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
                  FROM (SELECT unnest(string_split(text, ' ')) AS w
                        FROM documents)
                  WHERE NOT contains(w, chr(1))
                  GROUP BY w),
            init AS (SELECT w, freq,
                       chr(1)||chr(1) || array_to_string(
                         string_split(w, ''), chr(1)||chr(1))
                       || chr(1)||chr(1) AS s
                     FROM v),
            enc(w, freq, s, i) AS (
              SELECT w, freq, s, 0 FROM init
              UNION ALL
              SELECT e.w, e.freq,
                     replace(e.s,
                       chr(1)||m.a||chr(1)||chr(1)||m.b||chr(1),
                       chr(1)||m.a||m.b||chr(1)),
                     e.i + 1
              FROM enc e JOIN m ON m.rank = e.i + 1
            )
          SELECT w, freq,
                 CAST(len(string_split(substring(s, 3, length(s) - 4),
                   chr(1)||chr(1))) AS INT) AS n_pieces,
                 array_to_string(string_split(substring(s, 3,
                   length(s) - 4), chr(1)||chr(1)), ' ') AS encoded
          FROM enc WHERE i = (SELECT max(rank) FROM m)
          ORDER BY w"""
    })

  /** Quantile-threshold quality selection (operators.QualitySelect —
    * the CCNet keep-the-best-tertile step): per-language order-
    * statistic cut at rank ceil(n/3) over the x04 quality score, keep
    * everything at or above it, ties included. No percentile
    * interpolation anywhere — rank selection over already-rounded
    * scores is the cross-engine-deterministic formulation (see the
    * operator's scaladoc for why interpolated quantiles are not).
    */
  private val x49 = Q(
    "x49_quality_select",
    (s, d) => {
      val scored = t(s, d, "documents").select(
        col("doc_id"), col("lang"),
        round(TextAnalysis.qualityScore(col("text"), stop), 4)
          .as("score"))
      QualitySelect.topFraction(scored, "doc_id", "score", "lang", 3)
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id, lang,
                  CAST(len(string_split(text,' ')) AS DOUBLE) AS n,
                  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS nd,
                  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS DOUBLE) AS ns
                FROM documents),
            sc AS (SELECT doc_id, lang,
                     round((least(n/50.0, 1.0) + nd/n
                            + least(ns/n*10.0, 1.0)) / 3.0, 4) AS score
                   FROM f),
            r AS (SELECT *,
                    row_number() OVER (PARTITION BY lang
                      ORDER BY score DESC, doc_id) AS rn,
                    count(*) OVER (PARTITION BY lang) AS n
                  FROM sc),
            cut AS (SELECT lang, score AS cut FROM r
                    WHERE rn = CAST(ceil(n / 3.0) AS BIGINT))
          SELECT sc.doc_id, sc.lang, sc.score, cut.cut,
                 sc.score >= cut.cut AS keep
          FROM sc JOIN cut USING (lang) ORDER BY doc_id"""))

  /** DuckDB twin of Split.hashBucket: first 8 md5 hex chars of the id
    * rendered as VARCHAR, read as an integer on the [0, 2^32) grid.
    */
  private def duckHashBucket(idCol: String): String =
    s"('0x'||substr(md5(CAST($idCol AS VARCHAR)),1,8))::UBIGINT"

  /** Exact integer cutoff for a cumulative per-mille weight — the same
    * Long arithmetic as Split.cutoff, evaluated here at oracle-build
    * time so both engines compare against literally the same constant.
    */
  private def pmCutoff(cumPerMille: Long): Long = (cumPerMille << 32) / 1000L

  /** Deterministic hash split (Split.assign): the train/val/test
    * assignment as a pure function of doc_id — append-stable,
    * order-independent, RNG-free. 800/100/100 per-mille bands on the
    * md5-prefix grid; the oracle replays the integer cutoffs verbatim.
    */
  private val x50 = Q(
    "x50_hash_split",
    (s, d) => Split.assign(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", Seq("train" -> 800, "val" -> 100, "test" -> 100))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, lang,
                   CASE WHEN ${duckHashBucket("doc_id")} < ${pmCutoff(800)}
                          THEN 'train'
                        WHEN ${duckHashBucket("doc_id")} < ${pmCutoff(900)}
                          THEN 'val'
                        ELSE 'test' END AS split
            FROM documents ORDER BY doc_id"""))

  /** Deterministic stratified downsample (Split.stratifiedSample):
    * rebalance the corpus by keeping 25% of the majority language and
    * 50% of zh, everything else intact — the language-rebalancing pass
    * of a multilingual mix, reproducible because membership is a pure
    * function of (doc_id, stratum weights).
    */
  private val x51 = Q(
    "x51_stratified_sample",
    (s, d) => Split.stratifiedSample(
        t(s, d, "documents").select(col("doc_id"), col("lang"),
          col("source")),
        "doc_id", "lang", Map("en" -> 250, "zh" -> 500), 1000)
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, lang, source FROM documents
            WHERE ${duckHashBucket("doc_id")} <
              CASE lang WHEN 'en' THEN ${pmCutoff(250)}
                        WHEN 'zh' THEN ${pmCutoff(500)}
                        ELSE ${pmCutoff(1000)} END
            ORDER BY doc_id"""))

  /** TF-IDF top-3 terms per document (TfIdf.topTerms). Both engines
    * rank on the ALREADY-ROUNDED score with the term as tiebreak, so a
    * libm ulp on ln cannot flip a rank (see TfIdf scaladoc).
    */
  private val x52 = Q(
    "x52_tfidf_terms",
    (s, d) => TfIdf.topTerms(t(s, d, "documents"), "doc_id", "text", 3)
      .orderBy("doc_id", "rn"),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                         FROM documents),
                 tf AS (SELECT doc_id, term, count(*) AS tf
                        FROM tok GROUP BY 1, 2),
                 df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
                 n AS (SELECT count(*) AS n_docs FROM documents),
                 sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                          round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df),
                                4) AS score
                        FROM tf JOIN df USING (term) CROSS JOIN n),
                 r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, term) AS rn
                       FROM sc)
            SELECT doc_id, term, tf, df, score, rn
            FROM r WHERE rn <= 3 ORDER BY doc_id, rn"""))

  /** Gopher-style rule gate with per-rule verdicts (FilterRules):
    * word-count bounds, mean-word-length bounds, type-token-ratio
    * floor, stop-word floor — all exact rational arithmetic, keep =
    * AND of the four flags.
    */
  private val x53 = Q(
    "x53_filter_reasons",
    (s, d) => FilterRules(t(s, d, "documents"), "doc_id", "text", stop)
      .orderBy("doc_id"),
    Some("""WITH f AS (SELECT doc_id,
                  CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
                  CAST(list_sum(list_transform(string_split(text,' '),
                       x -> length(x))) AS DOUBLE)
                    / len(string_split(text,' ')) AS avglen,
                  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                    / len(string_split(text,' ')) AS ttr,
                  CAST(len(list_filter(string_split(text,' '),
                       x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
                    / len(string_split(text,' ')) AS stopr
                FROM documents)
            SELECT doc_id, n_tokens,
                   n_tokens BETWEEN 20 AND 80 AS r_len,
                   avglen BETWEEN 3.0 AND 4.5 AS r_wordlen,
                   ttr >= 0.5 AS r_ttr,
                   stopr >= 0.05 AS r_stop,
                   (n_tokens BETWEEN 20 AND 80) AND
                   (avglen BETWEEN 3.0 AND 4.5) AND
                   ttr >= 0.5 AND stopr >= 0.05 AS keep
            FROM f ORDER BY doc_id"""))

  /** 1-NN label agreement (Similarity.knnLabelAgreement): leave-one-out
    * nearest-neighbor label match per vector — the label-noise /
    * cluster-purity probe over the embedded eval set. Exact brute-force
    * at the graded SF (the oracle replays the all-pairs square); the
    * corpus-scale path is the IVF-cell-blocked variant, measured
    * against this exact form in the scale flows.
    */
  private val x54 = Q(
    "x54_knn_label_agree",
    (s, d) => Similarity.knnLabelAgreement(
        t(s, d, "embeddings"), "vec_id", "embedding", "label")
      .orderBy("vec_id"),
    Some {
      def dot(x: String, y: String) =
        s"list_sum(list_transform(range(1, 65), i -> CAST($x.vec[i] AS DOUBLE) * CAST($y.vec[i] AS DOUBLE)))"
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec, label
                     FROM embeddings),
               p AS (SELECT a.id AS qid, b.id AS id,
                            round(${dot("a", "b")}
                                  / sqrt(${dot("a", "a")})
                                  / sqrt(${dot("b", "b")}), 6) AS sim
                     FROM e a JOIN e b ON a.id <> b.id),
               r AS (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY sim DESC, id) AS rk
                     FROM p)
          SELECT r.qid AS vec_id, q.label, r.id AS nn_id,
                 n.label AS nn_label, r.sim, q.label = n.label AS agree
          FROM r JOIN e q ON q.id = r.qid JOIN e n ON n.id = r.id
          WHERE rk = 1 ORDER BY vec_id"""
    })

  /** Per-source contribution cap (QualitySelect.capPerGroup): keep each
    * source's best 15 documents by quality score — the per-domain
    * ceiling that stops one spammy domain from dominating the mix.
    * Hard row budget, so the (score desc, doc_id asc) total order
    * decides the cut deterministically in both engines.
    */
  private val x55 = Q(
    "x55_source_cap",
    (s, d) => {
      val scored = t(s, d, "documents").select(
        col("doc_id"), col("source"),
        round(TextAnalysis.qualityScore(col("text"), stop), 4)
          .as("score"))
      QualitySelect.capPerGroup(scored, "doc_id", "score", "source", 15)
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id, source,
                  CAST(len(string_split(text,' ')) AS DOUBLE) AS n,
                  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS nd,
                  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS DOUBLE) AS ns
                FROM documents),
            sc AS (SELECT doc_id, source,
                     round((least(n/50.0, 1.0) + nd/n
                            + least(ns/n*10.0, 1.0)) / 3.0, 4) AS score
                   FROM f)
          SELECT doc_id, source, score,
                 row_number() OVER (PARTITION BY source
                   ORDER BY score DESC, doc_id) AS rn,
                 row_number() OVER (PARTITION BY source
                   ORDER BY score DESC, doc_id) <= 15 AS keep
          FROM sc ORDER BY doc_id"""))

  /** Sub-document boilerplate removal (operators.ChunkDedup): cut every
    * 4-word chunk that appears verbatim in >= 3 distinct documents and
    * rebuild each document's text in original order — the line-level
    * dedup step (CCNet/RefinedWeb) on a corpus whose sub-document unit
    * is a word window. Distinct from x01 (whole-doc survivor pick) and
    * x47 (dup fraction score): this one REWRITES the text. The oracle
    * replays chunking, the distinct-doc threshold, and the ordered
    * string reassembly.
    */
  private val x56 = Q(
    "x56_chunk_dedup",
    (s, d) => ChunkDedup.dropSharedChunks(
        t(s, d, "documents"), "doc_id", "text", 4, 3)
      .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                          FROM documents),
                 ch AS (SELECT doc_id,
                          unnest(list_transform(
                            range(0, CAST(ceil(len(l) / 4.0) AS BIGINT)),
                            i -> struct_pack(ci := i,
                              ck := array_to_string(l[i*4+1:i*4+4], ' '))))
                            AS c
                        FROM toks),
                 flat AS (SELECT doc_id, c.ci AS chunk_idx, c.ck AS chunk
                          FROM ch),
                 bo AS (SELECT chunk
                        FROM (SELECT chunk, count(DISTINCT doc_id) AS dw
                              FROM flat GROUP BY 1)
                        WHERE dw >= 3),
                 per AS (SELECT f.doc_id,
                           count(*) AS n_chunks,
                           count(b.chunk) AS n_dropped,
                           coalesce(string_agg(
                               CASE WHEN b.chunk IS NULL THEN f.chunk END,
                               ' ' ORDER BY f.chunk_idx), '') AS text_clean
                         FROM flat f LEFT JOIN bo b ON f.chunk = b.chunk
                         GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(n_chunks, 0) AS n_chunks,
                   coalesce(n_dropped, 0) AS n_dropped,
                   coalesce(text_clean, '') AS text_clean
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY doc_id"""))

  /** Quality-aware dedup survivorship (Components.canonicalByScore):
    * x32's near-dup clusters re-decided by QUALITY — keep each
    * cluster's best document by the x04 quality score (id as tiebreak)
    * instead of blindly keeping the smallest id. Oracle: the x32
    * recursive-CTE closure joined to the x49 score replay, survivor
    * picked by the same (score desc, id asc) window.
    */
  private val x57 = Q(
    "x57_cluster_canonical",
    (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 150)
      val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text", "lang", 0.5)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val labels = Components
        .minLabel(docs.select(col("doc_id").as("id")), pairs)
        .withColumnRenamed("id", "doc_id")
      val scored = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text"), stop), 4).as("score"))
      Components.canonicalByScore(labels, scored, "doc_id", "score")
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
              n AS (SELECT doc_id AS id, lang,
                           list_distinct(string_split(text, ' ')) AS toks
                    FROM documents WHERE doc_id < 150),
              p AS (SELECT a.id AS id_a, b.id AS id_b
                    FROM n a JOIN n b ON a.lang = b.lang AND a.id < b.id
                    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.toks, b.toks)))
                          >= 0.5),
              e AS (SELECT id_a AS a, id_b AS b FROM p
                    UNION SELECT id_b, id_a FROM p),
              reach(id, x) AS (
                SELECT id, id FROM n
                UNION
                SELECT r.id, e.b FROM reach r JOIN e ON r.x = e.a
              ),
              cl AS (SELECT id, min(x) AS cluster FROM reach GROUP BY id),
              f AS (SELECT doc_id,
                      CAST(len(string_split(text,' ')) AS DOUBLE) AS nw,
                      CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS nd,
                      CAST(len(list_filter(string_split(text,' '),
                           w -> w IN ('the','a','of','and','to'))) AS DOUBLE) AS ns
                    FROM documents WHERE doc_id < 150),
              sc AS (SELECT doc_id,
                       round((least(nw/50.0, 1.0) + nd/nw
                              + least(ns/nw*10.0, 1.0)) / 3.0, 4) AS score
                     FROM f)
            SELECT cl.id AS doc_id, cl.cluster, sc.score,
                   row_number() OVER (PARTITION BY cl.cluster
                     ORDER BY sc.score DESC, cl.id) = 1 AS keep
            FROM cl JOIN sc ON sc.doc_id = cl.id
            ORDER BY doc_id"""))

  /** Packed-corpus token offsets (Ranking.globalPrefixSum): each
    * document's starting token offset when the corpus is concatenated
    * in doc_id order — the index a packed training shard needs. The
    * Spark side is the sharded prefix sum (NO corpus-wide window task);
    * the oracle is the single-task window the sharded form must equal
    * byte-for-byte.
    */
  private val x58 = Q(
    "x58_corpus_offsets",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      Ranking.globalPrefixSum(docs, Seq(col("doc_id").asc),
          col("n_tokens"), "tok_offset", 8)
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(coalesce(sum(len(string_split(text, ' '))) OVER
                       (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS tok_offset
            FROM documents ORDER BY doc_id"""))

  /** Corpus novelty curve (operators.Novelty): per document, the
    * fraction of its distinct word 4-grams first seen HERE when the
    * corpus is read in doc_id order — the diminishing-returns signal
    * curation uses to retire a mined-out source. Every distinct gram is
    * novel exactly once corpus-wide (attributed to its min-id doc), a
    * budget NoveltySpec pins and the oracle's min-per-gram replays.
    */
  private val x59 = Q(
    "x59_novelty",
    (s, d) => Novelty.firstSeenFraction(
        t(s, d, "documents"), "doc_id", "text", 4)
      .orderBy("doc_id"),
    Some("""WITH g AS (SELECT doc_id, string_split(text, ' ') AS arr
                       FROM documents),
                 fl AS (SELECT DISTINCT doc_id, gram FROM (
                     SELECT doc_id,
                            unnest(list_transform(range(1, len(arr) - 2),
                              i -> array_to_string(arr[i:i+3], ' '))) AS gram
                     FROM g WHERE len(arr) >= 4)),
                 fs AS (SELECT gram, min(doc_id) AS first_id
                        FROM fl GROUP BY 1),
                 per AS (SELECT fl.doc_id, count(*) AS n_grams,
                           CAST(sum(CASE WHEN fs.first_id = fl.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                         FROM fl JOIN fs USING (gram) GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(n_grams, 0) AS n_grams,
                   coalesce(n_novel, 0) AS n_novel,
                   coalesce(CAST(n_novel AS DOUBLE) / n_grams, 0.0)
                     AS novelty_frac
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY doc_id"""))

  /** Split-leakage audit: x50's deterministic hash split composed with
    * x37's n-gram overlap — per TRAIN document, how many of its
    * distinct 4-grams also occur in the TEST split (the held-out-
    * leakage check run before any split is trusted). Pure composition
    * of two shipped operators; the oracle replays the integer md5
    * cutoffs and the gram exchange end to end.
    */
  private val x60 = Q(
    "x60_split_leakage",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val assigned = Split.assign(docs, "doc_id",
        Seq("train" -> 800, "val" -> 100, "test" -> 100))
      Decontaminate.overlapStats(
          assigned.filter(col("split") === "train"),
          assigned.filter(col("split") === "test"),
          "doc_id", "text", n = 4)
        .orderBy("doc_id")
    },
    Some(s"""WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr,
                   CASE WHEN ${duckHashBucket("doc_id")} < ${pmCutoff(800)}
                          THEN 'train'
                        WHEN ${duckHashBucket("doc_id")} < ${pmCutoff(900)}
                          THEN 'val'
                        ELSE 'test' END AS split
                 FROM documents),
              ev AS (SELECT DISTINCT md5(gram) AS h FROM (
                  SELECT unnest(list_transform(range(1, len(arr) - 2),
                    i -> array_to_string(arr[i:i+3], ' '))) AS gram
                  FROM a WHERE split = 'test' AND len(arr) >= 4)),
              tr AS (SELECT DISTINCT doc_id, md5(gram) AS h FROM (
                  SELECT doc_id,
                         unnest(list_transform(range(1, len(arr) - 2),
                           i -> array_to_string(arr[i:i+3], ' '))) AS gram
                  FROM a WHERE split = 'train' AND len(arr) >= 4))
            SELECT tr.doc_id, count(*) AS n_grams,
                   CAST(coalesce(sum(CASE WHEN ev.h IS NOT NULL THEN 1 END),
                     0) AS BIGINT) AS n_hits,
                   CAST(coalesce(sum(CASE WHEN ev.h IS NOT NULL THEN 1 END),
                     0) AS DOUBLE) / count(*) AS hit_frac
            FROM tr LEFT JOIN ev USING (h)
            GROUP BY 1 ORDER BY doc_id"""))

  /** Winnowing fingerprint overlap (operators.Winnow — Schleimer et
    * al. 2003, the MOSS scheme): per-window rightmost-min selection
    * over md5-grid 3-gram hashes (w=4), then candidate partial-overlap
    * pairs sharing >= 2 fingerprints with a doc-frequency cap of 10
    * (over-shared fingerprints are boilerplate and would pair
    * quadratically). The oracle replays hashing, the rightmost-min
    * window selection, the cap, and the pair counts verbatim.
    */
  private val x61 = Q(
    "x61_winnow_pairs",
    (s, d) => Winnow.overlapPairs(t(s, d, "documents"),
        "doc_id", "text", k = 3, w = 4, minShared = 2, maxDf = 10)
      .orderBy("id_a", "id_b"),
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS arr
                       FROM documents),
            h AS (SELECT doc_id,
                    list_transform(range(1, len(arr) - 1),
                      i -> CAST(('0x'||substr(md5(
                             array_to_string(arr[i:i+2], ' ')),1,8))::UBIGINT
                           AS BIGINT)) AS hs
                  FROM t WHERE len(arr) >= 3),
            f AS (SELECT DISTINCT doc_id, fp FROM (
                    SELECT doc_id,
                      unnest(list_transform(
                        range(1, greatest(len(hs) - 3, 1) + 1),
                        j -> hs[j + len(hs[j:j+3])
                                - list_indexof(list_reverse(hs[j:j+3]),
                                               list_min(hs[j:j+3]))])) AS fp
                    FROM h)),
            d AS (SELECT fp, count(*) AS dfc FROM f GROUP BY 1),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                         count(*) AS n_shared
                  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
                  JOIN d ON d.fp = a.fp
                  WHERE d.dfc BETWEEN 2 AND 10
                  GROUP BY 1, 2)
            SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
            FROM p WHERE n_shared >= 2 ORDER BY id_a, id_b"""))

  /** The shippable boilerplate list itself (ChunkDedup
    * .boilerplateChunks): the thresholded chunk artifact x56 computes
    * implicitly and the ingest-time applyBoilerplate loads — graded on
    * its own so BOTH halves of the two-phase operator have an oracle
    * (the equivalence of applying this list to the same corpus is
    * pinned in ChunkDedupSpec's two-phase law).
    */
  private val x62 = Q(
    "x62_boiler_list",
    (s, d) => ChunkDedup.boilerplateChunks(
        t(s, d, "documents"), "doc_id", "text", 4, 3)
      .orderBy("chunk"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                          FROM documents),
                 ch AS (SELECT doc_id,
                          unnest(list_transform(
                            range(0, CAST(ceil(len(l) / 4.0) AS BIGINT)),
                            i -> array_to_string(l[i*4+1:i*4+4], ' ')))
                            AS chunk
                        FROM toks)
            SELECT chunk
            FROM (SELECT chunk, count(DISTINCT doc_id) AS dw
                  FROM ch GROUP BY 1)
            WHERE dw >= 3 ORDER BY chunk"""))

  /** Domain-scoped boilerplate removal (ChunkDedup
    * .dropSharedChunksWithin): a chunk is cut only where it is
    * boilerplate WITHIN ITS OWN SOURCE — the per-domain form
    * production pipelines run (site chrome repeats per domain; one
    * site's chrome can be another's content). Same rewrite contract
    * as x56 with every key widened to (source, chunk).
    */
  private val x63 = Q(
    "x63_chunk_dedup_scoped",
    (s, d) => ChunkDedup.dropSharedChunksWithin(
        t(s, d, "documents"), "doc_id", "source", "text", 4, 3)
      .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l
                          FROM documents),
                 ch AS (SELECT doc_id, source,
                          unnest(list_transform(
                            range(0, CAST(ceil(len(l) / 4.0) AS BIGINT)),
                            i -> struct_pack(ci := i,
                              ck := array_to_string(l[i*4+1:i*4+4], ' '))))
                            AS c
                        FROM toks),
                 flat AS (SELECT doc_id, source, c.ci AS chunk_idx,
                                 c.ck AS chunk
                          FROM ch),
                 bo AS (SELECT source, chunk
                        FROM (SELECT source, chunk,
                                     count(DISTINCT doc_id) AS dw
                              FROM flat GROUP BY 1, 2)
                        WHERE dw >= 3),
                 per AS (SELECT f.doc_id, f.source,
                           count(*) AS n_chunks,
                           count(b.chunk) AS n_dropped,
                           coalesce(string_agg(
                               CASE WHEN b.chunk IS NULL THEN f.chunk END,
                               ' ' ORDER BY f.chunk_idx), '') AS text_clean
                         FROM flat f LEFT JOIN bo b
                           ON f.source = b.source AND f.chunk = b.chunk
                         GROUP BY 1, 2)
            SELECT d.doc_id, d.source,
                   coalesce(n_chunks, 0) AS n_chunks,
                   coalesce(n_dropped, 0) AS n_dropped,
                   coalesce(text_clean, '') AS text_clean
            FROM documents d
            LEFT JOIN per ON per.doc_id = d.doc_id AND per.source = d.source
            ORDER BY d.doc_id"""))

  /** Winnowing matched-coverage pairs (Winnow.coveragePairs — the
    * MOSS-report half of Schleimer et al. 2003 §4): x61's pair set,
    * each pair annotated with the fraction of each document's tokens
    * covered by the shared fingerprints' spans. The oracle replays the
    * position-carrying selection (the same rightmost-min arithmetic as
    * x61's, kept as the struct (fp, pos) instead of the bare hash),
    * the df cap, the pair counts, and the exact span-union coverage.
    */
  private val x64 = Q(
    "x64_winnow_coverage",
    (s, d) => Winnow.coveragePairs(t(s, d, "documents"),
        "doc_id", "text", k = 3, w = 4, minShared = 2, maxDf = 10)
      .orderBy("id_a", "id_b"),
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS arr
                       FROM documents),
            h AS (SELECT doc_id,
                    list_transform(range(1, len(arr) - 1),
                      i -> CAST(('0x'||substr(md5(
                             array_to_string(arr[i:i+2], ' ')),1,8))::UBIGINT
                           AS BIGINT)) AS hs
                  FROM t WHERE len(arr) >= 3),
            f AS (SELECT DISTINCT doc_id, u.fp AS fp, u.pos AS pos FROM (
                    SELECT doc_id,
                      unnest(list_transform(
                        range(1, greatest(len(hs) - 3, 1) + 1),
                        j -> struct_pack(
                          fp := hs[j + len(hs[j:j+3])
                                   - list_indexof(list_reverse(hs[j:j+3]),
                                                  list_min(hs[j:j+3]))],
                          pos := j + len(hs[j:j+3])
                                   - list_indexof(list_reverse(hs[j:j+3]),
                                                  list_min(hs[j:j+3]))))) AS u
                    FROM h)),
            ff AS (SELECT DISTINCT doc_id, fp FROM f),
            d AS (SELECT fp, count(*) AS dfc FROM ff GROUP BY 1),
            pf AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp
                   FROM ff a JOIN ff b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id
                   JOIN d ON d.fp = a.fp
                   WHERE d.dfc BETWEEN 2 AND 10),
            q AS (SELECT id_a, id_b, count(*) AS n_shared
                  FROM pf GROUP BY 1, 2 HAVING count(*) >= 2),
            ca AS (SELECT id_a, id_b, count(DISTINCT tok) AS cov FROM (
                     SELECT p.id_a, p.id_b,
                            unnest(range(f.pos, f.pos + 3)) AS tok
                     FROM pf p JOIN q USING (id_a, id_b)
                     JOIN f ON f.doc_id = p.id_a AND f.fp = p.fp)
                   GROUP BY 1, 2),
            cb AS (SELECT id_a, id_b, count(DISTINCT tok) AS cov FROM (
                     SELECT p.id_a, p.id_b,
                            unnest(range(f.pos, f.pos + 3)) AS tok
                     FROM pf p JOIN q USING (id_a, id_b)
                     JOIN f ON f.doc_id = p.id_b AND f.fp = p.fp)
                   GROUP BY 1, 2),
            l AS (SELECT doc_id, len(string_split(text,' ')) AS n
                  FROM documents)
            SELECT q.id_a, q.id_b, CAST(q.n_shared AS BIGINT) AS n_shared,
                   round(CAST(ca.cov AS DOUBLE) / la.n, 4) AS cov_a,
                   round(CAST(cb.cov AS DOUBLE) / lb.n, 4) AS cov_b
            FROM q JOIN ca USING (id_a, id_b) JOIN cb USING (id_a, id_b)
            JOIN l la ON la.doc_id = q.id_a
            JOIN l lb ON lb.doc_id = q.id_b
            ORDER BY id_a, id_b"""))

  /** Lexicon sentiment (TextAnalysis.sentimentScore): signed
    * positive-minus-negative marker ratio per document, with a
    * thresholded verdict — the last SURVEY §7.4 noun that had no named
    * operator (its primitive, wordRatio, already powers x03/x04). The
    * lexicons use the corpus's own valence vocabulary so the score is
    * non-degenerate at every SF.
    */
  private val x65 = Q(
    "x65_sentiment",
    (s, d) => {
      val pos = Seq("fast", "big")
      val neg = Seq("slow", "small")
      val sent = TextAnalysis.sentimentScore(col("text"), pos, neg)
      t(s, d, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.wordRatio(col("text"), pos), 4).as("pos_ratio"),
          round(TextAnalysis.wordRatio(col("text"), neg), 4).as("neg_ratio"),
          round(sent, 4).as("sentiment"),
          when(sent > 0, "pos").when(sent < 0, "neg")
            .otherwise("neutral").as("verdict"))
        .orderBy("doc_id")
    },
    Some("""WITH sc AS (
              SELECT doc_id,
                CAST(len(list_filter(string_split(text,' '),
                  x -> x IN ('fast','big'))) AS DOUBLE)
                  / len(string_split(text,' ')) AS p,
                CAST(len(list_filter(string_split(text,' '),
                  x -> x IN ('slow','small'))) AS DOUBLE)
                  / len(string_split(text,' ')) AS n
              FROM documents)
            SELECT doc_id, round(p, 4) AS pos_ratio, round(n, 4) AS neg_ratio,
                   round(p - n, 4) AS sentiment,
                   CASE WHEN p - n > 0 THEN 'pos'
                        WHEN p - n < 0 THEN 'neg'
                        ELSE 'neutral' END AS verdict
            FROM sc ORDER BY doc_id"""))

  /** Line-unit boilerplate removal (ChunkDedup.dropSharedChunksBy with
    * ChunkDedup.Lines) — the unit real newline corpora run, graded
    * with an oracle: the corpus has no newlines, so both engines first
    * inject them with the SAME regex (a newline after every 4th word),
    * then dedup whole lines at the x56 threshold. Proves "only the
    * splitter changes" end-to-end against DuckDB, not just in the
    * spec's fixtures.
    */
  private val x66 = Q(
    "x66_chunk_dedup_lines",
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "((\\S+ ){3}\\S+) ", "$1\n")
            .as("text"))
      ChunkDedup.dropSharedChunksBy(docs, "doc_id", "text",
          ChunkDedup.Lines, 3)
        .orderBy("doc_id")
    },
    Some("""WITH nl AS (SELECT doc_id,
                   regexp_replace(text, '((\S+ ){3}\S+) ',
                     '\1' || chr(10), 'g') AS t
                 FROM documents),
                 toks AS (SELECT doc_id, string_split(t, chr(10)) AS l
                          FROM nl),
                 ch AS (SELECT doc_id,
                          unnest(list_transform(range(1, len(l) + 1),
                            i -> struct_pack(ci := i, ck := l[i]))) AS c
                        FROM toks),
                 flat AS (SELECT doc_id, c.ci AS chunk_idx, c.ck AS chunk
                          FROM ch),
                 bo AS (SELECT chunk
                        FROM (SELECT chunk, count(DISTINCT doc_id) AS dw
                              FROM flat GROUP BY 1)
                        WHERE dw >= 3),
                 per AS (SELECT f.doc_id,
                           count(*) AS n_chunks,
                           count(b.chunk) AS n_dropped,
                           coalesce(string_agg(
                               CASE WHEN b.chunk IS NULL THEN f.chunk END,
                               chr(10) ORDER BY f.chunk_idx), '')
                             AS text_clean
                         FROM flat f LEFT JOIN bo b ON f.chunk = b.chunk
                         GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(n_chunks, 0) AS n_chunks,
                   coalesce(n_dropped, 0) AS n_dropped,
                   coalesce(text_clean, '') AS text_clean
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY doc_id"""))

  /** Token-budget corpus selection (QualitySelect.selectByTokenBudget):
    * keep the best-quality documents, in (score desc, doc_id) order,
    * while the running token total stays <= 40k — the fixed-token-count
    * curation gate. The oracle replays the global greedy prefix as one
    * cumulative window; the engine computes only the prefix sum's
    * BOUNDARY (per-score aggregate + summary-frame window + broadcast
    * verdict + boundary-slice window) and must land on identical rows —
    * which is exactly what makes the boundary formulation trustworthy.
    */
  private val x67 = Q(
    "x67_token_budget_select",
    (s, d) => {
      val scored = t(s, d, "documents").select(
        col("doc_id"),
        round(TextAnalysis.qualityScore(col("text"), stop), 4).as("score"),
        size(split(col("text"), " ")).cast(LongType).as("tokens"))
      QualitySelect.selectByTokenBudget(
        scored, "doc_id", "score", "tokens", 40000L)
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id,
                  CAST(len(string_split(text,' ')) AS BIGINT) AS tokens,
                  CAST(len(string_split(text,' ')) AS DOUBLE) AS n,
                  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS nd,
                  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS DOUBLE) AS ns
                FROM documents),
            sc AS (SELECT doc_id, tokens,
                     round((least(n/50.0, 1.0) + nd/n
                            + least(ns/n*10.0, 1.0)) / 3.0, 4) AS score
                   FROM f),
            c AS (SELECT *, sum(tokens) OVER (ORDER BY score DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM sc),
            cut AS (SELECT score AS cut FROM c WHERE cum > 40000
                    ORDER BY score DESC, doc_id LIMIT 1)
          SELECT doc_id, score, tokens, (SELECT cut FROM cut) AS cut,
                 cum <= 40000 AS keep
          FROM c ORDER BY doc_id"""))

  /** Incremental near-dup ingest (Dedup.minhashNearDupsAgainst):
    * incoming batch (doc_id >= 250) against the existing corpus
    * (doc_id < 250) — x30's ingest cadence lifted from exact digests to
    * shingle-Jaccard near-dups. The oracle is the exact all-cross-pairs
    * Jaccard (same hash-free formulation as x06), so the LSH banding's
    * candidate set is graded against ground truth, not against itself.
    *
    * FIXTURE DEPENDENCE: exact equality with the oracle holds only
    * because the corpus's planted duplicate pairs sit far above the
    * 0.6 threshold (well past the numHashes=32/bands=8 S-curve knee —
    * a pair AT the threshold has ~33% chance of colliding in no band).
    * A regenerated corpus with near-threshold pairs would make this
    * grade flake probabilistically rather than reveal an engine bug;
    * regrade as candidate recall with a floor if the fixture ever
    * grows such pairs.
    */
  private val x68 = Q(
    "x68_neardup_ingest",
    (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.minhashNearDupsAgainst(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250),
        "doc_id", "text", 0.6)
        .orderBy("id_new", "id_old")
    },
    Some("""WITH sh AS (SELECT doc_id AS id,
                   list_distinct(list_transform(
                     range(1, len(string_split(text,' ')) - 1),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2])) AS sh
                 FROM documents
                 WHERE len(string_split(text,' ')) >= 3)
            SELECT a.id AS id_new, b.id AS id_old,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))), 4)
                     AS jaccard
            FROM sh a JOIN sh b ON a.id >= 250 AND b.id < 250
              AND len(a.sh) >= 0.6 * len(b.sh)
              AND len(b.sh) >= 0.6 * len(a.sh)
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6
            ORDER BY id_new, id_old"""))

  /** Product-quantization encode (Pq.encode, Jégou et al. 2011): each
    * 64-float embedding as 8 nearest-codeword ids over the
    * deterministic every-97th-id seed codebook (x36's pool pattern),
    * flattened to (vec_id, sub, code) so the compare is scalar. The
    * oracle replays the per-subspace argmin verbatim — ascending-j
    * double summation, ties to the smaller code — which is
    * NearestCentroid's pinned contract.
    */
  private val x69 = Q(
    "x69_pq_encode",
    (s, d) => {
      val cbs = Pq.seedCodebooks(ivfCentroids(s, d).map(_._2), 64, 8)
      Pq.encode(t(s, d, "embeddings"), "vec_id", "embedding", 64, cbs)
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("sub", "code")))
        .orderBy("vec_id", "sub")
    },
    Some("""WITH seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                     AS INT) AS cid, embedding AS cvec
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16)),
                 d AS (SELECT e.vec_id, u.m, s.cid,
                     list_sum(list_transform(range(1, 9),
                       j -> (CAST(e.embedding[u.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[u.m*8 + j] AS DOUBLE))
                          * (CAST(e.embedding[u.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[u.m*8 + j] AS DOUBLE)))) AS d2
                   FROM embeddings e
                     CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS m) u
                     CROSS JOIN seeds s)
            SELECT vec_id, m AS sub, cid AS code FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                 ORDER BY d2, cid) AS rn FROM d)
            WHERE rn = 1 ORDER BY vec_id, sub"""))

  /** PQ asymmetric-distance top-10 (Pq.adcTopK): exact queries against
    * the 8-byte codes, distance = sum of 8 LUT lookups. The oracle
    * recomputes every per-subspace partial from the seed codebook and
    * the replayed encode, summing in ascending-subspace order (list_sum
    * over an m-ordered list) — the engine's reduce does the same left
    * association, so the doubles are bit-identical and rank ties break
    * on vec_id in both.
    */
  private val x70 = Q(
    "x70_pq_adc_topk",
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cbs = Pq.seedCodebooks(ivfCentroids(s, d).map(_._2), 64, 8)
      val queries = e.filter(col("vec_id") < 4)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
      Pq.adcTopK(Pq.encode(e, "vec_id", "embedding", 64, cbs),
          "vec_id", "codes", queries, cbs, 64, 10)
        .orderBy("query_id", "rank")
    },
    Some("""WITH seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                     AS INT) AS cid, embedding AS cvec
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16)),
                 d AS (SELECT e.vec_id, u.m, s.cid,
                     list_sum(list_transform(range(1, 9),
                       j -> (CAST(e.embedding[u.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[u.m*8 + j] AS DOUBLE))
                          * (CAST(e.embedding[u.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[u.m*8 + j] AS DOUBLE)))) AS d2
                   FROM embeddings e
                     CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS m) u
                     CROSS JOIN seeds s),
                 enc AS (SELECT vec_id, m, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                        ORDER BY d2, cid) AS rn FROM d)
                   WHERE rn = 1),
                 qs AS (SELECT vec_id AS qid, embedding AS qvec
                        FROM embeddings WHERE vec_id < 4),
                 part AS (SELECT q.qid, e.vec_id, e.m,
                     list_sum(list_transform(range(1, 9),
                       j -> (CAST(q.qvec[e.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[e.m*8 + j] AS DOUBLE))
                          * (CAST(q.qvec[e.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[e.m*8 + j] AS DOUBLE)))) AS pd
                   FROM enc e JOIN seeds s ON s.cid = e.cid
                     CROSS JOIN qs q),
                 tot AS (SELECT qid, vec_id,
                           list_sum(list(pd ORDER BY m)) AS adc
                         FROM part GROUP BY qid, vec_id)
            SELECT qid AS query_id,
                   CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY adc, vec_id) AS INT) AS rank,
                   vec_id, round(adc, 6) AS adc_d2
            FROM tot
            QUALIFY rank <= 10 ORDER BY query_id, rank"""))

  /** Label-centroid outlier scoring
    * (Similarity.labelCentroidOutliers): distance to own class mean +
    * within-label outlier rank — the labeling-QA queue feed. Rounded to
    * 4 decimals because avg() accumulates in engine-specific order
    * (~1e-12 jitter, see the operator's scaladoc); the rank compares
    * raw doubles, where flips would need distinct vectors within that
    * jitter.
    */
  private val x71 = Q(
    "x71_label_outliers",
    (s, d) => Similarity.labelCentroidOutliers(
        t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label")),
        "vec_id", "embedding", "label", 64)
      .select(col("vec_id"), col("label"),
        round(col("d2"), 4).as("d2"), col("outlier_rank"))
      .orderBy("vec_id"),
    Some("""WITH c AS (SELECT label, i,
                  avg(CAST(embedding[i] AS DOUBLE)) AS m
                FROM embeddings
                  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) u
                GROUP BY label, i),
            cent AS (SELECT label, list(m ORDER BY i) AS cv
                     FROM c GROUP BY label),
            dd AS (SELECT e.vec_id, e.label,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - cv[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - cv[i])))
                       AS d2
                   FROM embeddings e JOIN cent USING (label))
          SELECT vec_id, label, round(d2, 4) AS d2,
                 CAST(row_number() OVER (PARTITION BY label
                   ORDER BY d2 DESC, vec_id) AS INT) AS outlier_rank
          FROM dd ORDER BY vec_id"""))

  /** Contrastive pair mining (Similarity.contrastivePairs): top-3
    * same-label positives + top-3 different-label hard negatives per
    * anchor — the triplet/InfoNCE feed. Same broadcast square, rounded
    * cosine, and (sim desc, id) determinism as x08.
    */
  private val x72 = Q(
    "x72_contrastive_pairs",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      Similarity.contrastivePairs(
        e.filter(col("vec_id") < 4), e,
        "vec_id", "embedding", "label", 3)
        .orderBy("qid", "kind", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qvec,
                   label AS qlabel
                 FROM embeddings WHERE vec_id < 4),
            scored AS (
              SELECT q.qid, q.qlabel,
                     CASE WHEN e.label = q.qlabel THEN 'positive'
                          ELSE 'negative' END AS kind,
                     e.vec_id, e.label,
                     round(
                       list_sum(list_transform(range(1, 65), i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))),
                     6) AS sim
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
            SELECT qid, qlabel, kind, vec_id, label, sim,
                   CAST(row_number() OVER (PARTITION BY qid, kind
                     ORDER BY sim DESC, vec_id) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 3 ORDER BY qid, kind, rank"""))

  /** Retrieval chunking (TextAnalysis.slidingChunks): overlapping
    * 5-token windows every 3 tokens — the embed-index prep stage. The
    * oracle replays starts/slices with DuckDB list arithmetic.
    */
  private val x73 = Q(
    "x73_sliding_chunks",
    (s, d) => TextAnalysis.slidingChunks(
        t(s, d, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", size = 5, stride = 3)
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents WHERE doc_id < 100),
                 w AS (SELECT doc_id,
                         unnest(range(0,
                           CAST(floor((len(t) - 1) / 3.0) AS BIGINT) + 1))
                           AS i, t
                       FROM toks)
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   i * 3 AS tok_start,
                   least(5, len(t) - i * 3) AS n_tok,
                   array_to_string(t[i*3 + 1 : i*3 + 5], ' ') AS chunk
            FROM w ORDER BY doc_id, chunk_idx"""))

  /** Hashed-n-gram classifier gate (Classifier.ngramScore): the
    * supervised quality filter's inference pass. The graded weight
    * vector is the deterministic Knuth-multiplier grid (w(j) =
    * (j·2654435761 mod 1000)/1000 − 0.5 — integer arithmetic then one
    * exact division, identical doubles in both engines); a production
    * run loads trained weights, same plan. Score is the raw margin
    * (exp differs across libms — operator scaladoc), summed in
    * feature order by both engines.
    */
  private val x74 = Q(
    "x74_classifier_gate",
    (s, d) => {
      val w = (0 until 256).map(j =>
        (j * 2654435761L % 1000L) / 1000.0 - 0.5)
      Classifier.ngramScore(
        t(s, d, "documents"), "doc_id", "text", w, bias = -0.1)
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          col("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents),
                 f AS (SELECT doc_id,
                         list_concat(t,
                           list_transform(range(1, len(t)),
                             i -> t[i] || ' ' || t[i+1])) AS feats
                       FROM toks),
                 sc AS (SELECT doc_id,
                          -0.1 + list_sum(list_transform(feats,
                            g -> (CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT
                                     % 256 AS BIGINT)
                                  * 2654435761 % 1000) / 1000.0 - 0.5))
                            AS s
                        FROM f)
            SELECT doc_id, round(s, 6) AS score, s > 0 AS keep
            FROM sc ORDER BY doc_id"""))

  /** The curation funnel end-to-end: rule gates (x53) ∧ classifier
    * gate (x74) → per-language quality tertile among survivors (x49)
    * → token-budget fill of the tertile (x67) → hash split (x50), one
    * verdict row per input document with every stage's flag. The
    * point is COMPOSITION: each stage consumes the previous stage's
    * survivor set, so the tertile cut and the budget boundary are
    * population-dependent — exactly what a real pipeline computes and
    * exactly what the oracle must replay stage-for-stage (each CTE
    * below is the corresponding graded query's oracle restricted to
    * the upstream survivor set). Stage flags are false (not null) for
    * documents gated out upstream: a funnel report reads "why did
    * this doc drop", and every doc must answer.
    */
  private val x75 = Q(
    "x75_curation_funnel",
    (s, d) => {
      val docs = t(s, d, "documents")
      val scored = docs.select(col("doc_id"), col("lang"),
        round(TextAnalysis.qualityScore(col("text"), stop), 4)
          .as("score"),
        size(split(col("text"), " ")).cast(LongType).as("tokens"))
      // Every stage verdict below is narrow (doc_id + a flag or two)
      // but referenced by SEVERAL downstream branches (gated, the
      // budget stage, the final verdict join); pushed filters and
      // pruned projections make those copies structurally divergent,
      // so exchange reuse cannot dedup them and the rule gates +
      // classifier HOF fold re-run ~3x (38 documents scans in the
      // un-checkpointed post-AQE plan, 7.4s vs a ~3.9s stage sum at
      // sf0.1). Lazily checkpoint each stage boundary — the x67
      // shared-work-divergence fix applied one level up — so every
      // expensive subtree evaluates ONCE and downstream stages read
      // the materialized verdict rows. PlanSpec pins the shape: one
      // documents scan in the composed plan, no classifier fold
      // outside the clf checkpoint.
      val rules = FilterRules(docs, "doc_id", "text", stop)
        .select(col("doc_id"), col("keep").as("rule_pass"))
        .localCheckpoint(false)
      val w = (0 until 256).map(j =>
        (j * 2654435761L % 1000L) / 1000.0 - 0.5)
      val clf = Classifier.ngramScore(docs, "doc_id", "text", w, -0.1)
        .select(col("doc_id"), col("keep").as("clf_pass"))
        .localCheckpoint(false)
      val gated = scored.join(rules, Seq("doc_id"))
        .join(clf, Seq("doc_id"))
        .filter(col("rule_pass") && col("clf_pass"))
        .localCheckpoint(false)
      val tert = QualitySelect.topFraction(
          gated.select(col("doc_id"), col("score"), col("lang")),
          "doc_id", "score", "lang", 3)
        .select(col("doc_id"), col("keep").as("tertile_keep"))
        .localCheckpoint(false)
      val budget = QualitySelect.selectByTokenBudget(
          gated.join(tert, Seq("doc_id")).filter(col("tertile_keep"))
            .select(col("doc_id"), col("score"), col("tokens")),
          "doc_id", "score", "tokens", 300L)
        .select(col("doc_id"), col("keep").as("budget_keep"))
      // Split.assign is a pure projection, so seed the verdict frame
      // with it directly instead of computing splits on a separate
      // scan and joining back — one documents scan, one fewer join.
      Split.assign(docs.select(col("doc_id")), "doc_id",
          Seq("train" -> 800, "val" -> 100, "test" -> 100))
        .join(rules, Seq("doc_id"))
        .join(clf, Seq("doc_id"))
        .join(tert, Seq("doc_id"), "left")
        .join(budget, Seq("doc_id"), "left")
        .select(col("doc_id"), col("rule_pass"), col("clf_pass"),
          coalesce(col("tertile_keep"), lit(false)).as("tertile_keep"),
          coalesce(col("budget_keep"), lit(false)).as("budget_keep"),
          col("split"),
          coalesce(col("budget_keep"), lit(false)).as("final_keep"))
        .orderBy("doc_id")
    },
    Some(s"""WITH f AS (SELECT doc_id, lang,
                  CAST(len(string_split(text,' ')) AS BIGINT) AS tokens,
                  CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
                  CAST(len(string_split(text,' ')) AS DOUBLE) AS n,
                  CAST(list_sum(list_transform(string_split(text,' '),
                       x -> length(x))) AS DOUBLE)
                    / len(string_split(text,' ')) AS avglen,
                  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS nd,
                  CAST(len(list_filter(string_split(text,' '),
                       x -> x IN ('the','a','of','and','to'))) AS DOUBLE) AS ns,
                  string_split(text, ' ') AS t
                FROM documents),
            rules AS (SELECT doc_id,
                  (n_tokens BETWEEN 20 AND 80) AND
                  (avglen BETWEEN 3.0 AND 4.5) AND
                  nd / n >= 0.5 AND ns / n >= 0.05 AS rule_pass
                FROM f),
            clf AS (SELECT doc_id,
                  -0.1 + list_sum(list_transform(
                    list_concat(t, list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])),
                    g -> (CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT
                             % 256 AS BIGINT)
                          * 2654435761 % 1000) / 1000.0 - 0.5)) > 0
                    AS clf_pass
                FROM f),
            base AS (SELECT doc_id, lang, tokens,
                  round((least(n/50.0, 1.0) + nd/n
                         + least(ns/n*10.0, 1.0)) / 3.0, 4) AS score
                FROM f),
            gated AS (SELECT b.* FROM base b
                  JOIN rules USING (doc_id) JOIN clf USING (doc_id)
                  WHERE rule_pass AND clf_pass),
            r AS (SELECT *,
                    row_number() OVER (PARTITION BY lang
                      ORDER BY score DESC, doc_id) AS rn,
                    count(*) OVER (PARTITION BY lang) AS cnt
                  FROM gated),
            cut AS (SELECT lang, score AS cut FROM r
                    WHERE rn = CAST(ceil(cnt / 3.0) AS BIGINT)),
            tert AS (SELECT g.doc_id, g.score >= cut.cut AS tertile_keep
                     FROM gated g JOIN cut USING (lang)),
            bin AS (SELECT g.doc_id, g.score, g.tokens
                    FROM gated g JOIN tert USING (doc_id)
                    WHERE tertile_keep),
            c AS (SELECT *, sum(tokens) OVER (ORDER BY score DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
                  FROM bin),
            budget AS (SELECT doc_id, cum <= 300 AS budget_keep FROM c)
          SELECT d.doc_id, rules.rule_pass, clf.clf_pass,
                 coalesce(tert.tertile_keep, false) AS tertile_keep,
                 coalesce(budget.budget_keep, false) AS budget_keep,
                 CASE WHEN ${duckHashBucket("d.doc_id")} < ${pmCutoff(800)}
                        THEN 'train'
                      WHEN ${duckHashBucket("d.doc_id")} < ${pmCutoff(900)}
                        THEN 'val'
                      ELSE 'test' END AS split,
                 coalesce(budget.budget_keep, false) AS final_keep
          FROM documents d
            JOIN rules USING (doc_id) JOIN clf USING (doc_id)
            LEFT JOIN tert USING (doc_id) LEFT JOIN budget USING (doc_id)
          ORDER BY doc_id"""))

  /** The mixture APPLIED (Mix.weights ∘ Split.stratifiedSample):
    * x38's temperature-scaled per-domain rates become per-mille
    * integers (tens of rows collected driver-side — the bounded
    * class), and the hash sampler materializes the sampled corpus —
    * closing the loop from "weights are advisory" to "this is the
    * training mixture", deterministically and append-stably. The
    * per-mille conversion is round(rate·1000) on the SAME double in
    * both engines (rate is x38's hash-equal 6-decimal value;
    * half-up == half-away-from-zero for positives), after which
    * everything is x50/x51's exact integer cutoff arithmetic.
    */
  private val x76 = Q(
    "x76_mix_sample",
    (s, d) => {
      val docs = t(s, d, "documents")
      val pm = Mix.weights(docs, "source",
          TextAnalysis.tokenCount(col("text")), targetTokens = 26000L)
        .select(col("source"), col("rate")).collect()
        .map(r => r.getString(0) ->
          math.round(r.getDouble(1) * 1000).toInt).toMap
      Split.stratifiedSample(
        docs.select(col("doc_id"), col("source")),
        "doc_id", "source", pm, defaultPerMille = 1000)
        .orderBy("doc_id")
    },
    Some(s"""WITH per AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS tokens
              FROM documents GROUP BY source),
            w AS (SELECT *,
                    CAST(round(sqrt(CAST(tokens AS DOUBLE)), 6)
                         AS DECIMAL(18,6)) AS wd
                  FROM per),
            t AS (SELECT sum(wd) AS tot FROM w),
            rates AS (SELECT source,
                   CAST(round(
                     round(least(1.0,
                       26000.0 * round(CAST(wd AS DOUBLE)
                                       / CAST(tot AS DOUBLE), 6)
                         / CAST(tokens AS DOUBLE)), 6) * 1000.0)
                     AS BIGINT) AS pm
                 FROM w CROSS JOIN t)
          SELECT d.doc_id, d.source
          FROM documents d JOIN rates USING (source)
          WHERE ${duckHashBucket("d.doc_id")} < (pm << 32) // 1000
          ORDER BY doc_id"""))

  /** IVF-PQ composed search (Pq.ivfPqTopK) graded END-TO-END: cell
    * assignment, per-query probe selection, positional-LUT ADC over
    * only the probed cells, candidate cut at kCand, exact re-rank to
    * k — every stage replayed by the oracle on the seeded geometry
    * (the every-97th-id pool serves as BOTH the 16 IVF cells and, via
    * seedCodebooks, the 8 per-subspace codebooks; x69/x70 grade the
    * parts, this grades the composition, closing VERDICT r15 gap #1).
    * Determinism rides the same arguments as x33 (probe margins) and
    * x70 (ascending-subspace ADC sum, ties on vec_id): both engines
    * produce bit-identical doubles at every cut. nprobe=4 of 16 cells
    * means the ADC scan covers ~1/4 of the corpus — the plan pin
    * asserts the probe join is EQUI ON CELL with the probe side
    * broadcast and no shuffle under it, the shape that prunes
    * physically on a cell-bucketed table at 10^9 rows.
    */
  private val x77 = Q(
    "x77_ivfpq_topk",
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cells = ivfCentroids(s, d)
      val cbs = Pq.seedCodebooks(cells.map(_._2), 64, 8)
      val queries = e.filter(col("vec_id") < 4)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
      Pq.ivfPqTopK(e.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", 64, cells, cbs, queries,
          nprobe = 4, kCand = 20, k = 10)
        .orderBy("query_id", "rank")
    },
    Some("""WITH seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                     AS INT) AS cid, embedding AS cvec
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16)),
                 dfull AS (SELECT e.vec_id, s.cid,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE)))) AS d2
                   FROM embeddings e CROSS JOIN seeds s),
                 asg AS (SELECT vec_id, cid AS cell FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2, cid) AS rn FROM dfull) WHERE rn = 1),
                 dsub AS (SELECT e.vec_id, u.m, s.cid,
                     list_sum(list_transform(range(1, 9),
                       j -> (CAST(e.embedding[u.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[u.m*8 + j] AS DOUBLE))
                          * (CAST(e.embedding[u.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[u.m*8 + j] AS DOUBLE)))) AS d2
                   FROM embeddings e
                     CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS m) u
                     CROSS JOIN seeds s),
                 enc AS (SELECT vec_id, m, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                        ORDER BY d2, cid) AS rn FROM dsub) WHERE rn = 1),
                 qs AS (SELECT vec_id AS qid, embedding AS qvec
                        FROM embeddings WHERE vec_id < 4),
                 probes AS (SELECT qid, cid AS cell FROM
                     (SELECT q.qid, s.cid, row_number() OVER (
                        PARTITION BY q.qid ORDER BY
                          list_sum(list_transform(range(1, 65),
                            i -> (CAST(q.qvec[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE))
                               * (CAST(q.qvec[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE)))),
                          s.cid) AS rn
                      FROM qs q CROSS JOIN seeds s) WHERE rn <= 4),
                 part AS (SELECT p.qid, a.vec_id, e.m,
                     list_sum(list_transform(range(1, 9),
                       j -> (CAST(q.qvec[e.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[e.m*8 + j] AS DOUBLE))
                          * (CAST(q.qvec[e.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[e.m*8 + j] AS DOUBLE)))) AS pd
                   FROM probes p
                     JOIN asg a ON a.cell = p.cell
                     JOIN enc e ON e.vec_id = a.vec_id
                     JOIN seeds s ON s.cid = e.cid
                     JOIN qs q ON q.qid = p.qid),
                 tot AS (SELECT qid, vec_id,
                           list_sum(list(pd ORDER BY m)) AS adc
                         FROM part GROUP BY qid, vec_id),
                 cand AS (SELECT qid, vec_id FROM
                     (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY adc, vec_id) AS rn FROM tot)
                     WHERE rn <= 20),
                 rr AS (SELECT c.qid, c.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE)))) AS d2
                   FROM cand c
                     JOIN embeddings e USING (vec_id)
                     JOIN qs q USING (qid))
            SELECT qid AS query_id,
                   CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY d2, vec_id) AS INT) AS rank,
                   vec_id, round(d2, 6) AS d2
            FROM rr
            QUALIFY rank <= 10 ORDER BY query_id, rank"""))

  /** The composed streaming ingest gate (Classifier.composedGate):
    * rule gates ∧ classifier margin as ONE joinless projection — the
    * form the stream-parity test runs, now also oracle-graded (the
    * rules replay x53's CTE, the margin x74's; their conjunction is
    * the frame an ingest pipeline actually persists). Null text
    * surfaces as null flags in both engines.
    */
  private val x78 = Q(
    "x78_composed_gate",
    (s, d) => {
      val w = (0 until 256).map(j =>
        (j * 2654435761L % 1000L) / 1000.0 - 0.5)
      Classifier.composedGate(
        t(s, d, "documents"), "doc_id", "text", stop, w, -0.1)
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id,
                  CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
                  CAST(list_sum(list_transform(string_split(text,' '),
                       x -> length(x))) AS DOUBLE)
                    / len(string_split(text,' ')) AS avglen,
                  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                    / len(string_split(text,' ')) AS ttr,
                  CAST(len(list_filter(string_split(text,' '),
                       x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
                    / len(string_split(text,' ')) AS stopr
                FROM documents),
                 r AS (SELECT doc_id,
                       (n_tokens BETWEEN 20 AND 80) AND
                       (avglen BETWEEN 3.0 AND 4.5) AND
                       ttr >= 0.5 AND stopr >= 0.05 AS rule_pass
                     FROM f),
                 toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents),
                 ft AS (SELECT doc_id,
                          list_concat(t,
                            list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])) AS feats
                        FROM toks),
                 sc AS (SELECT doc_id,
                          -0.1 + list_sum(list_transform(feats,
                            g -> (CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT
                                     % 256 AS BIGINT)
                                  * 2654435761 % 1000) / 1000.0 - 0.5))
                            AS s
                        FROM ft)
            SELECT r.doc_id, rule_pass, s > 0 AS clf_pass,
                   rule_pass AND s > 0 AS keep
            FROM r JOIN sc USING (doc_id) ORDER BY doc_id"""))

  /** Cell-blocked contrastive mining at corpus scale
    * (Similarity.contrastivePairsByCell): every vector an anchor,
    * candidates = vectors assigned to the anchor's 4 nearest seeded
    * cells, top-3 positives + top-3 hard negatives per anchor. The
    * oracle replays assignment (x33's argmin CTE), per-anchor probe
    * selection, the label split, and the (sim desc, id) rank — the
    * corpus-scale miner whose broadcast-square twin x72 grades. Both
    * engines' outputs are restricted to anchors qid < 50 (ranks are
    * within-anchor, so the restriction commutes with ranking).
    * Determinism footing: the 4th-vs-5th nearest-cell margin is
    * MEASURED over every vector at both graded SFs (SimilaritySpec
    * x77/x79 footing, ≥ 7.8e-5 — seven orders above double-fold
    * summation error), and the cosine fold is bit-identical
    * cross-engine per x33's argument.
    */
  private val x79 = Q(
    "x79_contrastive_bycell",
    (s, d) => {
      val base = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      Similarity.contrastivePairsByCell(base, "vec_id", "embedding",
          "label", ivfCentroids(s, d), nprobe = 4, k = 3)
        .filter(col("qid") < 50)
        .orderBy("qid", "kind", "rank")
    },
    Some("""WITH seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                     AS INT) AS cid, embedding AS cvec
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16)),
                 dd AS (SELECT e.vec_id, e.embedding, e.label, s.cid,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE)))) AS d2
                   FROM embeddings e CROSS JOIN seeds s),
                 ca AS (SELECT vec_id, embedding, label, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2, cid) AS rn FROM dd) WHERE rn = 1),
                 qp AS (SELECT vec_id AS qid, embedding AS qvec,
                          label AS qlabel, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2, cid) AS rn FROM dd) WHERE rn <= 4),
                 scored AS (SELECT q.qid, q.qlabel,
                     CASE WHEN c.label = q.qlabel THEN 'positive'
                          ELSE 'negative' END AS kind,
                     c.vec_id, c.label,
                     round(
                       list_sum(list_transform(range(1, 65), i -> CAST(q.qvec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))),
                     6) AS sim
                   FROM ca c JOIN qp q ON c.cid = q.cid
                   WHERE c.vec_id <> q.qid)
            SELECT qid, qlabel, kind, vec_id, label, sim,
                   CAST(row_number() OVER (PARTITION BY qid, kind
                     ORDER BY sim DESC, vec_id) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 3 AND qid < 50
            ORDER BY qid, kind, rank"""))

  /** REAL container-header decode (Multimodal.imageHeaderDecode): PNG
    * IHDR / JPEG SOF0 width/height/bit-depth read from actual container
    * bytes by the compiled one-pass functions.ImageHeaderMeta. Payloads
    * are spec-shaped file prefixes CONSTRUCTED per row from doc_id dial
    * arithmetic (no image libs in this container; the JPEG's COM
    * segment length varies per row so the marker walk is exercised at
    * different offsets), with a corrupted-signature arm surfacing as
    * nulls. The oracle computes the expected metadata from the SAME
    * dial arithmetic the constructors consume, independently of the
    * bytes — a hash match therefore certifies the parser inverts the
    * published layouts (signature checks, big-endian reads, the
    * variable-length segment walk) on every row. Real fixed byte
    * fixtures (a canonical 1x1 PNG, a minimal JPEG) are additionally
    * pinned in MultimodalSpec.
    */
  private val x80 = Q(
    "x80_image_headers",
    (s, d) => {
      val docs = t(s, d, "documents")
      val w = (pmod(col("doc_id") * 37, lit(1900)) + 1).cast(IntegerType)
      val h = (pmod(col("doc_id") * 59, lit(1060)) + 1).cast(IntegerType)
      val pad = pmod(col("doc_id"), lit(13)).cast(IntegerType)
      val depth = when(pmod(col("doc_id"), lit(4)) === 0, 16).otherwise(8)
      val payload = when(pmod(col("doc_id"), lit(17)) === 0,
          lit(Array[Byte](0, 0)))
        .when(pmod(col("doc_id"), lit(2)) === 0,
          Multimodal.pngHeaderBytes(w, h, depth, lit(6)))
        .otherwise(Multimodal.jpegHeaderBytes(w, h, pad))
      Multimodal.imageHeaderDecode(
        docs.select(col("doc_id").as("media_id"), payload.as("payload")),
        "media_id", "payload")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 17 = 0 THEN NULL
                        WHEN doc_id % 2 = 0 THEN 'png'
                        ELSE 'jpeg' END AS img_fmt,
                   CASE WHEN doc_id % 17 = 0 THEN NULL
                        ELSE CAST((doc_id * 37) % 1900 + 1 AS INT)
                     END AS width,
                   CASE WHEN doc_id % 17 = 0 THEN NULL
                        ELSE CAST((doc_id * 59) % 1060 + 1 AS INT)
                     END AS height,
                   CASE WHEN doc_id % 17 = 0 THEN NULL
                        WHEN doc_id % 4 = 0 THEN 16
                        ELSE 8 END AS bit_depth
            FROM documents ORDER BY media_id"""))

  /** The FULL ingest path composed (Ingest.ingestVerdicts):
    * boilerplate-strip with the corpus-derived shipped list → minhash
    * near-dup reject against the (equally cleaned) accumulated corpus →
    * rules ∧ classifier gate on the cleaned text, one verdict row per
    * incoming doc. Same corpus/incoming split as x68. The oracle
    * replays every stage in sequence, each restricted to the upstream
    * stage's survivor surface (the x75 CTE pattern): the x62 list CTE
    * on the corpus half, the x56 rewrite CTE, the x68 EXACT-pair
    * near-dup CTE over the cleaned shingle sets, and the x78 rules/clf
    * CTEs over text_clean. The boilerplate list collect is the bounded
    * artifact class applyBoilerplate documents (∝ shared text, not
    * corpus size).
    */
  private val x81 = Q(
    "x81_ingest_path",
    (s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") < 250)
      val incoming = docs.filter(col("doc_id") >= 250)
      val boiler = ChunkDedup
        .boilerplateChunks(corpus, "doc_id", "text", 4, 3)
        .orderBy("chunk").collect().map(_.getString(0)).toSeq
      val w = (0 until 256).map(j =>
        (j * 2654435761L % 1000L) / 1000.0 - 0.5)
      Ingest.ingestVerdicts(corpus, incoming, "doc_id", "text",
          4, boiler, 0.6, stop, w, -0.1)
        .orderBy("doc_id")
    },
    Some(ingestOracleSql))

  /** x81's four-stage ingest replay, shared with x82: the two queries
    * must produce IDENTICAL verdicts (same stages, same dials) — x81
    * derives the corpus half in-plan, x82 reads it back from the
    * persisted bucketed index. One oracle string keeps the two grades
    * from drifting apart.
    */
  private lazy val ingestOracleSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                          FROM documents),
                 flat AS (SELECT doc_id, c.ci AS chunk_idx, c.ck AS chunk
                          FROM (SELECT doc_id,
                            unnest(list_transform(
                              range(0, CAST(ceil(len(l) / 4.0) AS BIGINT)),
                              i -> struct_pack(ci := i,
                                ck := array_to_string(l[i*4+1:i*4+4], ' '))))
                              AS c
                          FROM toks)),
                 bo AS (SELECT chunk
                        FROM (SELECT chunk, count(DISTINCT doc_id) AS dw
                              FROM flat WHERE doc_id < 250 GROUP BY 1)
                        WHERE dw >= 3),
                 clean AS (SELECT f.doc_id,
                             count(*) AS n_chunks,
                             count(b.chunk) AS n_dropped,
                             coalesce(string_agg(
                                 CASE WHEN b.chunk IS NULL THEN f.chunk END,
                                 ' ' ORDER BY f.chunk_idx), '') AS text_clean
                           FROM flat f LEFT JOIN bo b ON f.chunk = b.chunk
                           GROUP BY 1),
                 sh AS (SELECT doc_id AS id,
                          list_distinct(list_transform(
                            range(1, len(string_split(text_clean,' ')) - 1),
                            i -> string_split(text_clean,' ')[i] || ' ' ||
                                 string_split(text_clean,' ')[i+1] || ' ' ||
                                 string_split(text_clean,' ')[i+2])) AS sh
                        FROM clean
                        WHERE len(string_split(text_clean,' ')) >= 3),
                 nd AS (SELECT DISTINCT a.id AS doc_id FROM sh a JOIN sh b
                          ON a.id >= 250 AND b.id < 250
                          AND len(a.sh) >= 0.6 * len(b.sh)
                          AND len(b.sh) >= 0.6 * len(a.sh)
                        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                              / len(list_distinct(list_concat(a.sh, b.sh)))
                              >= 0.6),
                 f2 AS (SELECT doc_id, string_split(text_clean,' ') AS t,
                          CAST(len(string_split(text_clean,' ')) AS INT)
                            AS n_tokens,
                          CAST(list_sum(list_transform(
                              string_split(text_clean,' '),
                              x -> length(x))) AS DOUBLE)
                            / len(string_split(text_clean,' ')) AS avglen,
                          CAST(len(list_distinct(
                              string_split(text_clean,' '))) AS DOUBLE)
                            / len(string_split(text_clean,' ')) AS ttr,
                          CAST(len(list_filter(string_split(text_clean,' '),
                              x -> x IN ('the','a','of','and','to')))
                              AS DOUBLE)
                            / len(string_split(text_clean,' ')) AS stopr
                        FROM clean WHERE doc_id >= 250),
                 gate AS (SELECT doc_id,
                            (n_tokens BETWEEN 20 AND 80) AND
                            (avglen BETWEEN 3.0 AND 4.5) AND
                            ttr >= 0.5 AND stopr >= 0.05 AS rule_pass,
                            -0.1 + list_sum(list_transform(
                              list_concat(t, list_transform(range(1, len(t)),
                                i -> t[i] || ' ' || t[i+1])),
                              g -> (CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT
                                       % 256 AS BIGINT)
                                    * 2654435761 % 1000) / 1000.0 - 0.5)) > 0
                              AS clf_pass
                          FROM f2)
            SELECT c.doc_id, c.n_chunks, c.n_dropped,
                   g.rule_pass, g.clf_pass,
                   (nd.doc_id IS NOT NULL) AS neardup_reject,
                   g.rule_pass AND g.clf_pass AND nd.doc_id IS NULL
                     AS final_keep
            FROM clean c
              JOIN gate g USING (doc_id)
              LEFT JOIN nd USING (doc_id)
            WHERE c.doc_id >= 250
            ORDER BY doc_id"""

  /** The SAME composed ingest path as x81, but the corpus near-dup half
    * is sourced from the PERSISTED bucketed index (Ingest.writeCorpusIndex
    * → ingestVerdictsIndexed) instead of being re-derived in-plan — the
    * production daily form, graded against the identical four-stage CTE
    * oracle. A hash match here certifies the index round-trip loses
    * nothing: banding family, shingle sets, and verdict assembly agree
    * byte-for-byte with the self-contained path. The exchange-free
    * corpus-side join shape is pinned in PlanSpec; per-day cost is
    * measured in SCALE.md (read index + sign the batch vs re-sign the
    * corpus).
    *
    * CATALOG SIDE EFFECT (unique in `all`): running this query writes
    * two managed tables into the session warehouse (the persisted
    * index IS the thing under grade). The table prefix is derived from
    * the data dir — `graft_x82_ndidx_<md5(dir)[0,8]>` — so harness
    * runs over different SF dirs sharing one warehouse never clobber
    * each other's index; two concurrent runs over the SAME dir still
    * race on the drop/recreate (same index, same contents — harmless
    * stale reads, but don't interleave them mid-write).
    */
  private val x82 = Q(
    "x82_ingest_indexed",
    (s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") < 250)
      val incoming = docs.filter(col("doc_id") >= 250)
      val boiler = ChunkDedup
        .boilerplateChunks(corpus, "doc_id", "text", 4, 3)
        .orderBy("chunk").collect().map(_.getString(0)).toSeq
      val w = (0 until 256).map(j =>
        (j * 2654435761L % 1000L) / 1000.0 - 0.5)
      val prefix = "graft_x82_ndidx_" + java.security.MessageDigest
        .getInstance("MD5").digest(d.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      Ingest.writeCorpusIndex(corpus, "doc_id", "text", 4, boiler,
        prefix, buckets = 8)
      Ingest.ingestVerdictsIndexed(incoming, prefix,
          "doc_id", "text", 4, boiler, 0.6, stop, w, -0.1)
        .orderBy("doc_id")
    },
    Some(ingestOracleSql))

  /** The quantizer drift probe's input column, graded PER ROW
    * (Pq.encodeWithErr): each vector's squared reconstruction error
    * under the deterministic seed codebooks, over three splits — the
    * training corpus (vec_id%10<9), a stable incoming batch (=9), and
    * the same batch TRANSLATED by +1.5 in PQ subspaces 0-1 (the SCALE.md
    * pqmaint drift fixture). The oracle replays the per-subspace argmin
    * distance verbatim (ascending-j summation, ties to the smaller
    * code — x69's pinned contract) and sums subspaces in ascending
    * order (x70's list_sum pattern), so recon_err is bit-identical
    * before the display rounding. Pq.reconstructionErrRatio is avg() of
    * this column per split over the train avg — the >2-retrain rule is
    * documented at that API and its separation law pinned in PqSpec;
    * grading the per-row column avoids hashing an order-dependent avg.
    */
  private val x83 = Q(
    "x83_pq_drift_probe",
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cbs = Pq.seedCodebooks(ivfCentroids(s, d).map(_._2), 64, 8)
      val train = e.filter(pmod(col("vec_id"), lit(10)) < 9)
      val batch = e.filter(pmod(col("vec_id"), lit(10)) === 9)
      val drifted = batch.select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i < 16, x + lit(1.5f)).otherwise(x))
          .as("embedding"))
      def errs(df: org.apache.spark.sql.DataFrame, split: String) =
        Pq.encodeWithErr(df, "vec_id", "embedding", 64, cbs)
          .select(lit(split).as("split"), col("vec_id"),
            round(col("recon_err"), 6).as("recon_err"))
      errs(train, "train")
        .unionByName(errs(batch, "batch"))
        .unionByName(errs(drifted, "batch_drifted"))
        .orderBy("split", "vec_id")
    },
    Some("""WITH seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                     - 1 AS INT) AS cid, embedding AS cvec
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16)),
                 base AS (
                   SELECT 'train' AS split, vec_id, embedding
                   FROM embeddings WHERE vec_id % 10 < 9
                   UNION ALL
                   SELECT 'batch' AS split, vec_id, embedding
                   FROM embeddings WHERE vec_id % 10 = 9
                   UNION ALL
                   SELECT 'batch_drifted' AS split, vec_id,
                          list_transform(embedding,
                            (x, i) -> CASE WHEN i <= 16
                              THEN CAST(CAST(x AS DOUBLE) + 1.5 AS FLOAT)
                              ELSE x END) AS embedding
                   FROM embeddings WHERE vec_id % 10 = 9),
                 d AS (SELECT b.split, b.vec_id, u.m, s.cid,
                     list_sum(list_transform(range(1, 9),
                       j -> (CAST(b.embedding[u.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[u.m*8 + j] AS DOUBLE))
                          * (CAST(b.embedding[u.m*8 + j] AS DOUBLE)
                               - CAST(s.cvec[u.m*8 + j] AS DOUBLE)))) AS d2
                   FROM base b
                     CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS m) u
                     CROSS JOIN seeds s),
                 best AS (SELECT split, vec_id, m, d2 FROM
                     (SELECT *, row_number() OVER (PARTITION BY split,
                        vec_id, m ORDER BY d2, cid) AS rn FROM d)
                   WHERE rn = 1)
            SELECT split, vec_id,
                   round(list_sum(list(d2 ORDER BY m)), 6) AS recon_err
            FROM best GROUP BY split, vec_id ORDER BY split, vec_id"""))

  /** x80's container-header decode extended beyond images
    * (Multimodal.mediaHeaderDecode / functions.MediaHeaderMeta): one
    * compiled parse per row over four public container layouts — PNG
    * IHDR, JPEG SOFn, GIF logical screen descriptor (LE dims,
    * colour-resolution bits), WAV RIFF fmt chunk (LE rate/channels/
    * bits, even-pad chunk walk exercised by per-row odd JUNK sizes).
    * Same construct-and-invert oracle pattern as x80: payloads are
    * built from dial arithmetic by the spec-shaped constructors, and
    * the oracle recomputes every expected field from the same dials, so
    * a hash match certifies the parser inverts all four published
    * layouts on every row.
    */
  private val x84 = Q(
    "x84_media_headers",
    (s, d) => {
      val docs = t(s, d, "documents")
      val w = (pmod(col("doc_id") * 37, lit(1900)) + 1).cast(IntegerType)
      val h = (pmod(col("doc_id") * 59, lit(1060)) + 1).cast(IntegerType)
      val depth = when(pmod(col("doc_id"), lit(8)) === 0, 16).otherwise(8)
      val pad = pmod(col("doc_id"), lit(13)).cast(IntegerType)
      val crbits = (pmod(col("doc_id"), lit(8)) + 1).cast(IntegerType)
      val rate = (pmod(col("doc_id") * 441, lit(48000)) + 8000)
        .cast(IntegerType)
      val ch = (pmod(col("doc_id"), lit(6)) + 1).cast(IntegerType)
      val bits = ((pmod(col("doc_id"), lit(3)) + 1) * 8).cast(IntegerType)
      val jpad = pmod(col("doc_id"), lit(11)).cast(IntegerType)
      val sel = pmod(col("doc_id"), lit(4))
      val payload = when(pmod(col("doc_id"), lit(17)) === 0,
          lit(Array[Byte](0, 0)))
        .when(sel === 0, Multimodal.pngHeaderBytes(w, h, depth, lit(6)))
        .when(sel === 1, Multimodal.jpegHeaderBytes(w, h, pad))
        .when(sel === 2, Multimodal.gifHeaderBytes(w, h, crbits))
        .otherwise(Multimodal.wavHeaderBytes(rate, ch, bits, jpad))
      Multimodal.mediaHeaderDecode(
        docs.select(col("doc_id").as("media_id"), payload.as("payload")),
        "media_id", "payload")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 17 = 0 THEN NULL
                        WHEN doc_id % 4 = 0 THEN 'png'
                        WHEN doc_id % 4 = 1 THEN 'jpeg'
                        WHEN doc_id % 4 = 2 THEN 'gif'
                        ELSE 'wav' END AS media_fmt,
                   CASE WHEN doc_id % 17 = 0 OR doc_id % 4 = 3 THEN NULL
                        ELSE CAST((doc_id * 37) % 1900 + 1 AS INT)
                     END AS width,
                   CASE WHEN doc_id % 17 = 0 OR doc_id % 4 = 3 THEN NULL
                        ELSE CAST((doc_id * 59) % 1060 + 1 AS INT)
                     END AS height,
                   CAST(CASE WHEN doc_id % 17 = 0 THEN NULL
                        WHEN doc_id % 4 = 0 THEN
                          CASE WHEN doc_id % 8 = 0 THEN 16 ELSE 8 END
                        WHEN doc_id % 4 = 1 THEN 8
                        WHEN doc_id % 4 = 2 THEN doc_id % 8 + 1
                        ELSE (doc_id % 3 + 1) * 8 END AS INT)
                     AS bit_depth,
                   CASE WHEN doc_id % 17 = 0 OR doc_id % 4 <> 3 THEN NULL
                        ELSE CAST((doc_id * 441) % 48000 + 8000 AS INT)
                     END AS sample_rate,
                   CASE WHEN doc_id % 17 = 0 OR doc_id % 4 <> 3 THEN NULL
                        ELSE CAST(doc_id % 6 + 1 AS INT)
                     END AS channels
            FROM documents ORDER BY media_id"""))

  /** Hashing-trick TF-IDF featurization (TfIdf.hashedVec): the
    * model-free text → embedding vectorizer behind the round-19
    * textemb measurement, graded ELEMENT-WISE over the real documents
    * corpus (md5-hash dial, dim = 64). The whole vector is
    * bit-replayable with NO display rounding: idf is quantized to
    * integer micro-nats at the source (the x46 pattern), so per-bucket
    * weights are exact BIGINTs in both engines; the norm is a fold
    * over the dense vector in index order (DuckDB replays it with
    * list_sum(list(...) ORDER BY i), the x70 pattern); the divide and
    * the float cast are single IEEE ops. A hash match certifies the
    * full pipeline — tokenize, hash-bucket, tf, df, quantized idf,
    * dense assembly, L2 norm — agrees bit-for-bit.
    */
  private val x85 = Q(
    "x85_hashed_tfidf",
    (s, d) => {
      TfIdf.hashedVec(t(s, d, "documents"), "doc_id", "text", 64,
          fastHash = false)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("doc_id"), col("i"), col("v").cast(DoubleType).as("v"))
        .orderBy("doc_id", "i")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                          FROM documents),
                 tk AS (SELECT doc_id,
                          CAST(CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)
                            % 64 AS INT) AS b
                        FROM toks WHERE len(t) > 0),
                 tf AS (SELECT doc_id, b, count(*) AS tf
                        FROM tk GROUP BY doc_id, b),
                 df AS (SELECT b, count(*) AS df
                        FROM (SELECT DISTINCT doc_id, b FROM tk)
                        GROUP BY b),
                 n AS (SELECT CAST(count(*) AS DOUBLE) AS n
                       FROM documents),
                 w AS (SELECT doc_id, b,
                         tf * CAST(round(ln((n + 1.0) / (df + 1.0))
                             * 1000000.0, 0) AS BIGINT) AS w
                       FROM tf JOIN df USING (b) CROSS JOIN n),
                 cells AS (SELECT d.doc_id, i.i
                           FROM (SELECT DISTINCT doc_id FROM tk) d
                           CROSS JOIN (SELECT CAST(unnest(range(0, 64))
                             AS INT) AS i) i),
                 dense AS (SELECT c.doc_id, c.i,
                             CAST(coalesce(w.w, 0) AS DOUBLE) AS v
                           FROM cells c LEFT JOIN w
                             ON c.doc_id = w.doc_id AND c.i = w.b),
                 n2 AS (SELECT doc_id,
                          list_sum(list(v * v ORDER BY i)) AS n2
                        FROM dense GROUP BY doc_id)
            SELECT d.doc_id, d.i,
                   CAST(CAST(d.v / sqrt(n2.n2) AS FLOAT) AS DOUBLE) AS v
            FROM dense d JOIN n2 USING (doc_id)
            WHERE n2.n2 > 0
            ORDER BY doc_id, i"""))

  /** Text retrieval END TO END (Retrieval.moreLikeThis): documents →
    * hashed-TF-IDF featurization → IVF cell assignment → blocked top-5
    * cosine neighbors, in ONE graded query — the composition seam x85
    * (text→vector) and x33 (vector→top-k) each grade only half of.
    * The oracle replays BOTH halves: x85's featurization CTEs produce
    * the per-doc FLOAT vector lists, then x33's centroid/assign/probe/
    * score CTEs run over those instead of the embeddings table.
    * Determinism composes from the two parents': the vectors are
    * bit-identical (x85's micro-nat idf + index-ordered norm fold +
    * single-IEEE-op divide/cast), and every distance/cosine downstream
    * is the same ascending-index double fold both engines replay
    * (ties to the smaller cid/id). Centroids are the stride-97 sample
    * of the FEATURIZED frame, so both engines select them from
    * identical rows. One featurization pass feeds centroid sample,
    * corpus side, and query side (the checkpoint inside the operator
    * — PlanSpec pins both final-plan sides scan the materialized
    * frame, no re-featurization).
    */
  private val x86 = Q(
    "x86_text_retrieval",
    (s, d) => {
      Retrieval.moreLikeThis(t(s, d, "documents"), "doc_id", "text",
          queryIds = Seq(0L, 1L, 2L), dim = 64, centroidStride = 97,
          maxCentroids = 16, nprobe = 2, k = 5, fastHash = false)
        .select("qid", "rank", "id", "sim")
        .orderBy("qid", "rank")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                          FROM documents),
                 tk AS (SELECT doc_id,
                          CAST(CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)
                            % 64 AS INT) AS b
                        FROM toks WHERE len(t) > 0),
                 tf AS (SELECT doc_id, b, count(*) AS tf
                        FROM tk GROUP BY doc_id, b),
                 df AS (SELECT b, count(*) AS df
                        FROM (SELECT DISTINCT doc_id, b FROM tk)
                        GROUP BY b),
                 n AS (SELECT CAST(count(*) AS DOUBLE) AS n
                       FROM documents),
                 w AS (SELECT doc_id, b,
                         tf * CAST(round(ln((n + 1.0) / (df + 1.0))
                             * 1000000.0, 0) AS BIGINT) AS w
                       FROM tf JOIN df USING (b) CROSS JOIN n),
                 grid AS (SELECT d.doc_id, i.i
                          FROM (SELECT DISTINCT doc_id FROM tk) d
                          CROSS JOIN (SELECT CAST(unnest(range(0, 64))
                            AS INT) AS i) i),
                 dense AS (SELECT g.doc_id, g.i,
                             CAST(coalesce(w.w, 0) AS DOUBLE) AS v
                           FROM grid g LEFT JOIN w
                             ON g.doc_id = w.doc_id AND g.i = w.b),
                 n2 AS (SELECT doc_id,
                          list_sum(list(v * v ORDER BY i)) AS n2
                        FROM dense GROUP BY doc_id),
                 emb AS (SELECT d.doc_id,
                           list(CAST(d.v / sqrt(n2.n2) AS FLOAT)
                             ORDER BY d.i) AS embedding
                         FROM dense d JOIN n2 USING (doc_id)
                         WHERE n2.n2 > 0 GROUP BY d.doc_id),
                 c AS (SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1
                         AS INT) AS cid, embedding AS cvec
                       FROM (SELECT doc_id, embedding FROM emb
                             WHERE doc_id % 97 = 0
                             ORDER BY doc_id LIMIT 16)),
                 dd AS (SELECT e.doc_id, e.embedding, c.cid,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE)
                               - CAST(c.cvec[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE)
                               - CAST(c.cvec[i] AS DOUBLE)))) AS d2
                   FROM emb e CROSS JOIN c),
                 ca AS (SELECT doc_id, embedding, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY d2, cid) AS rn FROM dd) WHERE rn = 1),
                 qp AS (SELECT doc_id AS qid, embedding AS qvec, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY d2, cid) AS rn FROM dd WHERE doc_id < 3)
                     WHERE rn <= 2),
                 scored AS (SELECT qp.qid, ca.doc_id AS id,
                     round(
                       list_sum(list_transform(range(1, 65), i -> CAST(qp.qvec[i] AS DOUBLE) * CAST(ca.embedding[i] AS DOUBLE)))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qp.qvec[i] AS DOUBLE) * CAST(qp.qvec[i] AS DOUBLE))))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ca.embedding[i] AS DOUBLE) * CAST(ca.embedding[i] AS DOUBLE)))),
                     6) AS sim
                   FROM ca JOIN qp ON ca.cid = qp.cid
                   WHERE ca.doc_id <> qp.qid)
            SELECT qid, CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY sim DESC, id) AS INT) AS rank, id, sim
            FROM scored
            QUALIFY rank <= 5
            ORDER BY qid, rank"""))

  /** Johnson–Lindenstrauss random projection to dense 8-d
    * (Similarity.randomProject over the embeddings corpus), graded
    * ELEMENT-WISE with zero display rounding: the seeded Rademacher ±1
    * matrix is baked into the SQL as exact literals (the x09 plane
    * pattern), each output element is one ascending-index double fold
    * × one double multiply × one float cast — all IEEE-replayable
    * (x85's determinism class). A hash match certifies the projection
    * arithmetic agrees bit-for-bit, which is what lets the `jl` scale
    * flow's recall numbers stand on a verified operator.
    */
  private val x87 = Q(
    "x87_jl_project",
    (s, d) => {
      t(s, d, "embeddings")
        .select(col("vec_id"),
          Similarity.randomProject(col("embedding"), 64, 8).as("proj"))
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "v")))
        .select(col("vec_id"), col("j"),
          col("v").cast(DoubleType).as("v"))
        .orderBy("vec_id", "j")
    },
    Some {
      val rows = Similarity.randomProjectRows(64, 8)
      val scale = 1.0 / math.sqrt(8.0)
      val rowCols = rows.zipWithIndex.map { case (r, j) =>
        r.mkString("[", ", ", s"] AS m$j")
      }.mkString(",\n                   ")
      val outs = (0 until 8).map(j =>
        "CAST(CAST(list_sum(list_transform(range(1, 65), " +
          s"i -> CAST(embedding[i] AS DOUBLE) * m$j[i])) * $scale " +
          "AS FLOAT) AS DOUBLE)")
        .mkString(",\n                     ")
      s"""WITH m AS (SELECT $rowCols),
                 p AS (SELECT vec_id,
                     [$outs] AS proj
                   FROM embeddings CROSS JOIN m)
            SELECT vec_id, CAST(u.i - 1 AS INT) AS j, proj[u.i] AS v
            FROM p CROSS JOIN (SELECT unnest(range(1, 9)) AS i) u
            ORDER BY vec_id, j"""
    })

  /** Full-text SEARCH end to end (Retrieval.searchTextTopK): queries
    * arrive as TEXT — 40-token snippets of three documents, under
    * fresh qids — and are featurized in the CORPUS's idf space
    * (TfIdf.hashedVecQueries: same md5 bucket dial, corpus df/N,
    * unseen buckets at df = 0), then IVF-searched against the corpus
    * vectors. The oracle extends x86's replay with the query-side
    * featurization CTEs (LEFT JOIN df + coalesce 0 — the unseen-term
    * convention, replayed exactly) and probes/scores from the qemb
    * frame. Same determinism stack as x85/x86: bit-replayable
    * vectors, ascending-index double folds, ties to the smaller
    * cid/id.
    */
  private val x88 = Q(
    "x88_text_search",
    (s, d) => {
      val docs = t(s, d, "documents")
      val queries = docs.filter(col("doc_id") < 3)
        .select((col("doc_id") + 1000000L).as("qid"),
          array_join(slice(split(col("text"), " "), 1, 40), " ")
            .as("qtext"))
      Retrieval.searchTextTopK(docs, "doc_id", "text", queries,
          "qid", "qtext", dim = 64, centroidStride = 97,
          maxCentroids = 16, nprobe = 2, k = 5, fastHash = false)
        .select("qid", "rank", "id", "sim")
        .orderBy("qid", "rank")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                          FROM documents),
                 tk AS (SELECT doc_id,
                          CAST(CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)
                            % 64 AS INT) AS b
                        FROM toks WHERE len(t) > 0),
                 tf AS (SELECT doc_id, b, count(*) AS tf
                        FROM tk GROUP BY doc_id, b),
                 df AS (SELECT b, count(*) AS df
                        FROM (SELECT DISTINCT doc_id, b FROM tk)
                        GROUP BY b),
                 n AS (SELECT CAST(count(*) AS DOUBLE) AS n
                       FROM documents),
                 w AS (SELECT doc_id, b,
                         tf * CAST(round(ln((n + 1.0) / (df + 1.0))
                             * 1000000.0, 0) AS BIGINT) AS w
                       FROM tf JOIN df USING (b) CROSS JOIN n),
                 grid AS (SELECT d.doc_id, i.i
                          FROM (SELECT DISTINCT doc_id FROM tk) d
                          CROSS JOIN (SELECT CAST(unnest(range(0, 64))
                            AS INT) AS i) i),
                 dense AS (SELECT g.doc_id, g.i,
                             CAST(coalesce(w.w, 0) AS DOUBLE) AS v
                           FROM grid g LEFT JOIN w
                             ON g.doc_id = w.doc_id AND g.i = w.b),
                 n2 AS (SELECT doc_id,
                          list_sum(list(v * v ORDER BY i)) AS n2
                        FROM dense GROUP BY doc_id),
                 emb AS (SELECT d.doc_id,
                           list(CAST(d.v / sqrt(n2.n2) AS FLOAT)
                             ORDER BY d.i) AS embedding
                         FROM dense d JOIN n2 USING (doc_id)
                         WHERE n2.n2 > 0 GROUP BY d.doc_id),
                 qdocs AS (SELECT doc_id + 1000000 AS qid,
                             array_to_string(
                               (string_split(text, ' '))[1:40], ' ')
                               AS qtext
                           FROM documents WHERE doc_id < 3),
                 qtoks AS (SELECT qid, unnest(string_split(qtext, ' ')) AS t
                           FROM qdocs),
                 qtk AS (SELECT qid,
                           CAST(CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)
                             % 64 AS INT) AS b
                         FROM qtoks WHERE len(t) > 0),
                 qtf AS (SELECT qid, b, count(*) AS tf
                         FROM qtk GROUP BY qid, b),
                 qw AS (SELECT qid, qtf.b,
                          tf * CAST(round(ln((n + 1.0)
                              / (coalesce(df.df, 0) + 1.0))
                              * 1000000.0, 0) AS BIGINT) AS w
                        FROM qtf LEFT JOIN df ON qtf.b = df.b
                          CROSS JOIN n),
                 qgrid AS (SELECT q.qid, i.i
                           FROM (SELECT DISTINCT qid FROM qtk) q
                           CROSS JOIN (SELECT CAST(unnest(range(0, 64))
                             AS INT) AS i) i),
                 qdense AS (SELECT g.qid, g.i,
                              CAST(coalesce(w.w, 0) AS DOUBLE) AS v
                            FROM qgrid g LEFT JOIN qw w
                              ON g.qid = w.qid AND g.i = w.b),
                 qn2 AS (SELECT qid,
                           list_sum(list(v * v ORDER BY i)) AS n2
                         FROM qdense GROUP BY qid),
                 qemb AS (SELECT d.qid,
                            list(CAST(d.v / sqrt(qn2.n2) AS FLOAT)
                              ORDER BY d.i) AS qvec
                          FROM qdense d JOIN qn2 USING (qid)
                          WHERE qn2.n2 > 0 GROUP BY d.qid),
                 c AS (SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1
                         AS INT) AS cid, embedding AS cvec
                       FROM (SELECT doc_id, embedding FROM emb
                             WHERE doc_id % 97 = 0
                             ORDER BY doc_id LIMIT 16)),
                 dd AS (SELECT e.doc_id, e.embedding, c.cid,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE)
                               - CAST(c.cvec[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE)
                               - CAST(c.cvec[i] AS DOUBLE)))) AS d2
                   FROM emb e CROSS JOIN c),
                 ca AS (SELECT doc_id, embedding, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY d2, cid) AS rn FROM dd) WHERE rn = 1),
                 qd AS (SELECT q.qid, q.qvec, c.cid,
                     list_sum(list_transform(range(1, 65),
                       i -> (CAST(q.qvec[i] AS DOUBLE)
                               - CAST(c.cvec[i] AS DOUBLE))
                          * (CAST(q.qvec[i] AS DOUBLE)
                               - CAST(c.cvec[i] AS DOUBLE)))) AS d2
                   FROM qemb q CROSS JOIN c),
                 qp AS (SELECT qid, qvec, cid FROM
                     (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY d2, cid) AS rn FROM qd)
                     WHERE rn <= 2),
                 scored AS (SELECT qp.qid, ca.doc_id AS id,
                     round(
                       list_sum(list_transform(range(1, 65), i -> CAST(qp.qvec[i] AS DOUBLE) * CAST(ca.embedding[i] AS DOUBLE)))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qp.qvec[i] AS DOUBLE) * CAST(qp.qvec[i] AS DOUBLE))))
                       / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ca.embedding[i] AS DOUBLE) * CAST(ca.embedding[i] AS DOUBLE)))),
                     6) AS sim
                   FROM ca JOIN qp ON ca.cid = qp.cid
                   WHERE ca.doc_id <> qp.qid)
            SELECT qid, CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY sim DESC, id) AS INT) AS rank, id, sim
            FROM scored
            QUALIFY rank <= 5
            ORDER BY qid, rank"""))

  val all: Seq[Q] = Seq(x01, x02, x03, x04, x05, x06, x07, x08, x09, x10,
    x10b, x11, x12, x13, x14, x15, x16, x17, x18, x19, x20, x21, x22, x23,
    x24, x25, x26, x27, x28, x29, x30, x31, x31b, x32, x33, x34, x35, x36,
    x37, x37b, x38, x39, x40, x41, x42, x43, x44, x45, x46, x47, x48, x49,
    x50, x51, x52, x53, x54, x55, x56, x57, x58, x59, x60, x61, x62, x63,
    x64, x65, x66, x67, x68, x69, x70, x71, x72, x73, x74, x75, x76, x77,
    x78, x79, x80, x81, x82, x83, x84, x85, x86, x87, x88)
}
