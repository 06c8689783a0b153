package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

import graft.tools.Plans.deepNodes

/** Physical-plan assertions: correctness tests prove the small-SF result;
  * these prove the plan SHAPE survives a 1000x scale-up. Each assertion
  * encodes a property that, if lost by a refactor, would silently turn a
  * scalable plan into a cluster-killer (full scans instead of pruned
  * columns, cartesian products instead of hash joins, global sorts
  * instead of top-k).
  */
class PlanSpec extends SparkTestBase {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  /** All window operators in the optimized logical plan — the structural
    * way to assert "no unpartitioned window" (an empty partitionSpec =
    * the whole input sorts through ONE task at scale), which a string
    * match on windowspecdefinition(...) can't do reliably.
    */
  private def windowsOf(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }

  test("r01: filter and column pruning reach the parquet scan") {
    val qe: QueryExecution = q("r01_scan_project").queryExecution
    val scan = qe.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_partkey), LessThan(l_partkey,50)]")
      || scan.contains("LessThan(l_partkey,50)"), s"no pushed filter:\n$scan")
    // only the 5 referenced columns are read, not all 11
    assert(scan.contains("ReadSchema") && !scan.contains("l_extendedprice"),
      "scan reads columns the query never uses")
  }

  test("r08: declared cross join + equality filter becomes a real join") {
    val plan = planOf(q("r08_cross_join_filter"))
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product survived optimization:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"))
  }

  test("r09: 3-way comma join plans as two hash joins, zero cartesians") {
    val plan = planOf(q("r09_nway_join"))
    assert(!plan.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2)
  }

  test("s03: ORDER BY + LIMIT is top-k (TakeOrderedAndProject), not a " +
    "global sort") {
    val plan = planOf(q("s03_orderby_limit"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("s04: dimension join broadcasts the small side") {
    val plan = planOf(q("s04_join_inner"))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("s01: grouped aggregation is partial (map-side) then final") {
    val plan = planOf(q("s01_group_agg"))
    assert(plan.contains("HashAggregate"), plan)
    // partial + final pair = map-side combine before the shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("s24: q3 join tree = broadcast for customer, no cartesian, " +
    "top-k tail") {
    val plan = planOf(q("s24_tpch_q3"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("s25: all four dimensions of q5 broadcast") {
    val plan = planOf(q("s25_tpch_q5"))
    assert(!plan.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
  }

  test("s07/s08: exists/not-exists plan as semi/anti joins") {
    assert(planOf(q("s07_semi_join")).contains("LeftSemi"))
    assert(planOf(q("s08_anti_join")).contains("LeftAnti"))
  }

  test("x01: exact dedup shuffles the 16-byte digest, not raw text") {
    val plan = planOf(q("x01_dedup_exact"))
    // the pre-shuffle partial aggregate keys on md5(text); text itself
    // must not be an exchange output column
    val exchange = plan.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchange.contains("text"), plan)
  }

  test("x06: minhash candidates are a bucket-join (no self-join that " +
    "would rescan the corpus for each side)") {
    val df = operators.Dedup.minhashCandidates(
      Tables.load(spark, sfDir, "documents"), "doc_id", "text")
    val plan = planOf(df)
    // one grouped exchange on the band key + in-bucket pair explode;
    // any Join node would mean the upstream signature scan runs twice
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Generate"), plan) // explode(memberPairs)
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate")
      || plan.contains("ObjectHashAggregate"), plan) // collect_list buckets
  }

  test("x07: simhash near-dups is a pure bucket pipeline — one grouped " +
    "exchange on the chunk key, pairs streamed by Generate, NO join " +
    "(a self-join would re-sketch the corpus for each side)") {
    val plan = planOf(q("x07_dedup_simhash"))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Generate"), plan)
    assert(plan.contains("simhash_md5_60"), // the oracle-able variant
      s"x07 must run the cross-engine md5-60 signature:\n$plan")
  }

  test("x08: brute-force ANN broadcasts the query set over the corpus scan") {
    val plan = planOf(q("x08_ann_bruteforce"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("s41: q18 aggregates lineitem BEFORE joining orders (reduced side)") {
    val plan = planOf(q("s41_tpch_q18"))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("s47: cross-side EXISTS plans as a semi join, not a distinct+join") {
    val plan = planOf(q("s47_tpch_q4"))
    assert(plan.contains("LeftSemi"), plan)
  }

  test("s50: the month spine is generated, never scanned from a table") {
    val plan = planOf(q("s50_date_spine"))
    assert(plan.contains("Generate"), plan) // explode(sequence(...))
  }

  test("x28: bloom pre-filter sits below the join on the fact side, " +
    "as a codegen expression (never a Scala UDF)") {
    val plan = planOf(q("x28_bloom_join"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan)
    // the probe must be Catalyst's BloomFilterMightContain (prettyName
    // might_contain) — a ScalaUDF would fence whole-stage codegen on the
    // one stage the operator exists to protect
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("UDF("), plan)
  }

  test("x10: embedding near-dup pairs never plan a cross product " +
    "(LSH bucket join, not all-pairs)") {
    val plan = planOf(q("x10_embed_neardup"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("x10b: the probe-selected near-dup pipeline keeps the bucket-join " +
    "shape (no cross product, no nested loop)") {
    val plan = planOf(q("x10b_embed_neardup_auto"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("x33: IVF search broadcasts the exploded query-cell pairs over " +
    "the assigned corpus (no cartesian)") {
    val plan = planOf(q("x33_ann_ivf_search"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("x29: salted join spreads a 5-value key over salts tasks") {
    val plan = planOf(q("x29_salted_join"))
    assert(!plan.contains("CartesianProduct"), plan)
    // the physical join key must include the salt, not just event_type —
    // a BroadcastHashJoin alone proves nothing (the replicated small
    // side always broadcasts at this scale)
    assert(plan.contains("__salt"), plan)
  }

  test("s19: window top-k is group-limited on BOTH sides of the shuffle " +
    "(Partial WindowGroupLimit prunes map-side, like a combiner)") {
    // Spark 4's InferWindowGroupLimit turns row_number()+filter(rn<=k)
    // into partial+final WindowGroupLimit — each map task forwards only
    // its local top-k per group before the exchange. This is why the
    // engine composes window+filter instead of shipping a custom top-k
    // SparkPlan: the built-in plan already has the scale-out shape.
    val plan = planOf(q("s19_window_topk"))
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Partial"), plan)
  }

  test("s48: q10's return-flag filter is pushed into the lineitem scan") {
    val plan = planOf(q("s48_tpch_q10"))
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  /** The bounded-offsets exemption for Ranking's shard-offset window:
    * an unpartitioned window is corpus-scale poison UNLESS it reads the
    * per-shard size aggregate (grouping on Ranking's __pid working
    * column) — a frame of ≤ shards ~ parallelism rows BY CONSTRUCTION,
    * the same bounded-summary class as the repo's histogram windows.
    */
  private def isBoundedOffsetsWindow(
      w: org.apache.spark.sql.catalyst.plans.logical.Window): Boolean =
    w.child.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.groupingExpressions.exists(
          _.references.exists(_.name == "__pid")) => a
    }.nonEmpty

  test("x25: vocab ranking plans no corpus-scale unpartitioned window " +
    "(the global ordinal is range-shard + local rank + bounded offsets)") {
    val ws = windowsOf(q("x25_vocab_encode"))
    assert(ws.exists(_.partitionSpec.nonEmpty),
      "expected the shard-local rank window")
    ws.filter(_.partitionSpec.isEmpty).foreach(w =>
      assert(isBoundedOffsetsWindow(w),
        s"unpartitioned window over a corpus-sized stream would sort " +
          s"the whole vocabulary in one task:\n$w"))
  }

  test("x31: the packing prefix-sum window is keyed by the pack group " +
    "(lang[, shard]), never unpartitioned") {
    val ws = windowsOf(q("x31_sequence_pack"))
    assert(ws.nonEmpty, "expected the prefix-sum window")
    assert(ws.forall(_.partitionSpec.nonEmpty))
    assert(ws.forall(_.partitionSpec.exists(
      _.references.exists(_.name == "lang"))),
      "pack window must shuffle on the group key")
  }

  test("x31b: the sharded packing window is keyed by (lang, shard) — " +
    "no single task ever sees a whole language") {
    val ws = windowsOf(q("x31b_sequence_pack_sharded"))
    assert(ws.nonEmpty, "expected the prefix-sum window")
    assert(ws.forall(w =>
      w.partitionSpec.exists(_.references.exists(_.name == "lang")) &&
        w.partitionSpec.exists(_.references.exists(_.name == "shard"))),
      "sharded pack window must key on BOTH lang and shard")
  }

  test("s46: hash-mod sampling is a pure map-side filter — no window, " +
    "no aggregate, nothing between scan and the output sort") {
    val df = q("s46_stratified_sample")
    assert(windowsOf(df).isEmpty, "sampling must not rank the table")
    val plan = planOf(df)
    assert(!plan.contains("HashAggregate") && !plan.contains("Window"), plan)
  }

  test("x13: sessionize windows and final aggregate all shuffle on " +
    "user_id (per-user state, no global ordering)") {
    val df = q("x13_events_sessionize")
    val ws = windowsOf(df)
    assert(ws.nonEmpty, "expected the gap-flag + session-seq windows")
    assert(ws.forall(_.partitionSpec.exists(
      _.references.exists(_.name == "user_id"))),
      "session windows must be keyed by user_id, not constant/global")
  }

  test("x44: the capped interval join ranks inside per-LEFT-ROW window " +
    "groups (not per user) and keeps the bucketed equi-join — no " +
    "nested loop, no cartesian") {
    val df = q("x44_interval_join_nearest")
    val ws = windowsOf(df)
    assert(ws.nonEmpty)
    // the ranking window must partition on the unique left event id —
    // partitioning on user_id would hand a hot user's whole match list
    // to one task, recreating the skew the cap exists to bound
    ws.foreach(w => assert(w.partitionSpec.exists(
      _.references.exists(_.name == "event_id")),
      s"rank window not keyed by the left row id: ${w.partitionSpec}"))
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), plan)
  }

  test("x43: the chunked sessionize's EVENT-level window partitions on " +
    "(user_id, chunk) — the hot-key mitigation is structural, not " +
    "incidental — and only session rows see a user-only window") {
    val df = q("x43_sessionize_chunked")
    val ws = windowsOf(df)
    assert(ws.nonEmpty)
    assert(ws.forall(_.partitionSpec.nonEmpty), "unpartitioned window")
    // the window computing per-chunk session ordinals must carry BOTH
    // keys; the phase-2 stitch window (session rows, not events) is the
    // only user-only one
    val eventLevel = ws.filter(_.output.exists(_.name == "__lseq"))
    assert(eventLevel.nonEmpty, "missing the per-chunk session window")
    eventLevel.foreach(w => assert(w.partitionSpec.size == 2,
      s"event window lost the chunk key: ${w.partitionSpec}"))
  }

  test("x25: AQE reuses the vocab-count exchange across the rank/size/" +
    "offset branches (the corpus explode+agg runs once, not 3x)") {
    // stage reuse is finalized only at runtime -> execute, then walk the
    // final adaptive plan structurally for the reused-stage nodes
    val df = q("x25_vocab_encode")
    df.collect()
    val reused = deepNodes(df.queryExecution.executedPlan).filter(
      _.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ReusedExchangeExec])
    assert(reused.nonEmpty,
      s"no ReusedExchange in the final adaptive plan:\n" +
        df.queryExecution.executedPlan.toString)
  }

  test("x25: the encode join never force-broadcasts the vocabulary " +
    "(10^8-10^9 rows at 100 TB — the join strategy is AQE's call)") {
    // the only sanctioned hint in the whole query is globalOrdinal's
    // S-row shard-offset broadcast (output column __off)
    val hints = q("x25_vocab_encode").queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.forall(_.child.output.exists(_.name == "__off")),
      s"found a join hint over a non-offset frame: $hints")
    // and the query must survive with broadcast joins off entirely —
    // the shape a too-big-to-broadcast vocabulary forces at scale
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(q("x25_vocab_encode").count() > 0)
    }
  }

  test("x37: decontamination joins on 16-byte digests with no cartesian, " +
    "no forced broadcast, and no window") {
    val df = q("x37_decontaminate")
    assert(windowsOf(df).isEmpty, "no ranking belongs in this pipeline")
    // nothing in the query hints a join strategy: whether the eval gram
    // set broadcasts is AQE's size-based call (the x25 rule)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"unexpected join hint: $hints")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    // every exchange carries 16-byte digests, never raw n-gram strings:
    // grams reduce to md5 map-side BEFORE any shuffle (the x01 rule —
    // at 100 TB a raw-gram shuffle is ~25x the digest bytes)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchanges.contains("gram"), plan)
    // and the shape survives a benchmark too big to broadcast
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(q("x37_decontaminate").count() > 0)
    }
  }

  test("x37b: the thresholded clean keeps the digest-only exchange shape " +
    "and plans the removal as an anti join") {
    val df = q("x37b_decontaminate_clean")
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("LeftAnti"), plan)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchanges.contains("gram"), plan)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(q("x37b_decontaminate_clean").count() > 0)
    }
  }

  test("x38: the only hint in the mixing query is the 1-row normalizing " +
    "scalar; the corpus sees exactly one aggregate") {
    val df = q("x38_mix_weights")
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.forall(_.child.output.exists(_.name == "__tot")),
      s"found a hint over a non-scalar frame: $hints")
    assert(windowsOf(df).isEmpty)
  }

  test("x39: the training-order shuffle plans NO unpartitioned window " +
    "(global position comes from the range-sharded ordinal)") {
    val ws = windowsOf(q("x39_shuffle_shards"))
    assert(ws.exists(_.partitionSpec.nonEmpty),
      "expected the shard-local rank window")
    ws.filter(_.partitionSpec.isEmpty).foreach(w =>
      assert(isBoundedOffsetsWindow(w),
        s"unpartitioned window over a corpus-sized stream would sort " +
          s"the whole corpus in one task:\n$w"))
  }

  test("x40: repetition signals are one explode + two hash-aggregates — " +
    "no join, no window, map-side partial combine") {
    val df = q("x40_repetition_signals")
    assert(windowsOf(df).isEmpty, "no window belongs in this pipeline")
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"per-doc signals must not join: $joins")
    val plan = planOf(df)
    // partial+final pairs for both aggregates = repeats collapse BEFORE
    // the (id, gram) shuffle — the property that makes a looping
    // billion-token document cheap instead of a shuffle bomb
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("x41: importance scoring never shuffle-joins the corpus stream — " +
    "every join builds on a bounded histogram, and the corpus explodes " +
    "exactly three times (target fit, raw fit, raw score)") {
    val df = q("x41_importance_weights")
    // the Nt/Nr totals are window sums over the ≤buckets-row histograms
    // (single-consumer form — a separate ht.agg/hr.agg consumer re-ran
    // each corpus explode, measured round 21); every such window must
    // sit ABOVE the bucket aggregate, never over the raw gram stream
    windowsOf(df).foreach { w =>
      val aggBelow = w.child.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggBelow.nonEmpty,
        s"window over a non-aggregated (corpus-sized) stream:\n$w")
    }
    val plan = planOf(df)
    // histograms are <= buckets rows by construction: all joins must be
    // broadcast, never a corpus-side shuffle join
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
      && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the totals must not re-run the gram explode: one explode per
    // histogram fit plus one for scoring = exactly 3 (was 5 when each
    // total re-derived its histogram from scratch). Counted as
    // GenerateExec NODES, not a rendered-string regex (ADVICE r21 #5:
    // substring counting is brittle against plan-format changes and
    // unrelated Generate operators).
    val gens = deepNodes(df.queryExecution.executedPlan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
    assert(gens == 3, s"expected 3 gram explodes, got $gens:\n$plan")
  }

  test("x36: k-means cell histograms are map-side argmin + hash-aggregate " +
    "— no join, no window (centroids ride as broadcast literals)") {
    val df = q("x36_ivf_kmeans")
    assert(windowsOf(df).isEmpty)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"cell assignment must not join: $joins")
    val plan = planOf(df)
    // partial+final pairs in both histogram branches = counts combine
    // map-side before the single cell-keyed exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("x42: BPE pair counting is wordcount + vocab-side aggregate with " +
    "a top-k tail — no join, no window, no global sort") {
    val df = q("x42_bpe_pairs")
    assert(windowsOf(df).isEmpty)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"pair counting must not join: $joins")
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not be a global sort:\n$plan")
    // both aggregates (word freq, pair count) keep map-side partials
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("long-doc regression pin: the one-pass native text expressions " +
    "stay in the hot pipeline plans — a 'cleaner' declarative " +
    "reformulation of shingles/rolling-hash/ngrams/char-split would " +
    "reintroduce the O(len²)-per-document cost the ~150-token graded " +
    "corpus can never surface (it took nine rounds to find the first " +
    "time; see SCALE.md round-10). x05 carries no pin: its Jaccard is " +
    "WORD-level (split+array ops, linear per doc), not shingled") {
    import graft.functions._
    def nativesOf(df: DataFrame): Set[String] =
      deepNodes(df.queryExecution.executedPlan)
        .flatMap(_.expressions.flatMap(_.collect {
          case e @ (_: WordShingles | _: RollingHash31 | _: CharNgrams |
            _: ShingleHashSet | _: MinHashSignature | _: CharSplit |
            _: SimHash64 | _: SimHashMd5_60 | _: CosineSimilarity |
            _: HyperplaneBucket | _: BatchMergePairs) =>
            e.getClass.getSimpleName
        })).toSet
    def pin(query: String, expected: String*): Unit = {
      val got = nativesOf(q(query))
      expected.foreach(e => assert(got.contains(e),
        s"$query lost the $e native (plan now has: $got)"))
    }
    pin("x06_dedup_minhash", "MinHashSignature", "ShingleHashSet")
    pin("x07_dedup_simhash", "SimHashMd5_60")
    pin("x17_text_rolling_hash", "RollingHash31")
    pin("x27_char_ngram_pairs", "CharNgrams")
    pin("x37_decontaminate", "WordShingles")
    pin("x40_repetition_signals", "WordShingles")
    pin("x42_bpe_pairs", "CharSplit")
    pin("x48_bpe_encode", "CharSplit", "BatchMergePairs")
    // the ANN natives carry the same risk in the vector tier: the HOF
    // zip_with/aggregate formulations are interpreted per element
    pin("x08_ann_bruteforce", "CosineSimilarity")
    pin("x09_ann_lsh", "HyperplaneBucket")
  }

  test("x45: semantic dedup's pair stage is a cell-keyed join — no " +
    "cartesian, no forced broadcast, assignment via the native") {
    val df = q("x45_semantic_dedup")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    // the operator eagerly checkpoints its stages (pair blocking needs
    // the assigned frame thrice), so the native shows in the OPERATOR's
    // plan, not the returned checkpoint-backed frame: assert on a fresh
    // assignment plan over the same centroid shape instead
    val cents = Seq(0 -> Array.fill(64)(0.0), 1 -> Array.fill(64)(1.0))
    val assignPlan = graft.operators.Similarity.ivfAssign(
      graft.Tables.load(spark, sfDir, "embeddings")
        .select(org.apache.spark.sql.functions.col("embedding").as("vec")),
      "vec", cents)
    val natives = assignPlan.queryExecution.executedPlan.expressions
      .flatMap(_.collect {
        case e: graft.functions.NearestCentroid => e
      })
    assert(natives.nonEmpty ||
      assignPlan.queryExecution.executedPlan.toString
        .contains("nearest_centroid"),
      "assignment lost the NearestCentroid native")
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"unexpected join hint: $hints")
  }

  test("x46: the bigram model build runs ONCE — the (sz, gram) count " +
    "table is checkpointed and its three consumers read the persisted " +
    "table; only the scoring pass explodes the corpus") {
    val df = q("x46_bigram_lm")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // vocab/bigram/unigram each read the checkpointed model table (a
    // Scan ExistingRDD leaf), never re-run the corpus explode — the
    // round-20 shape relied on AQE exchange reuse, which the pushed-down
    // sz filters defeated for two of the three consumers (four explodes
    // in the measured round-21 plan)
    val nodes = deepNodes(df.queryExecution.executedPlan)
    assert(nodes.count(_.isInstanceOf[
        org.apache.spark.sql.execution.RDDScanExec]) >= 3,
      s"model consumers not reading the checkpoint:\n$plan")
    assert(nodes.count(_.isInstanceOf[
        org.apache.spark.sql.execution.GenerateExec]) == 1,
      s"expected exactly the scoring explode:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the one-row vocab scalar is the only sanctioned broadcast hint
    // (the x38 rule)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.forall(_.child.output.exists(_.name == "v")),
      s"found a hint over a non-scalar frame: $hints")
  }

  test("x47: the distinct-doc frequency window is PARTITIONED by gram " +
    "(never a global window), and the shape survives no-broadcast") {
    val df = q("x47_dup_ngram_frac")
    val ws = windowsOf(df)
    assert(ws.nonEmpty, "expected the docs_with window")
    assert(ws.forall(_.partitionSpec.nonEmpty),
      "an unpartitioned window funnels every gram through one task")
    assert(!planOf(df).contains("CartesianProduct"))
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(q("x47_dup_ngram_frac").count() > 0)
    }
  }

  test("x50/x51: hash split and stratified sample are stateless map " +
    "passes — no window, no join, no aggregation shuffle anywhere") {
    for (name <- Seq("x50_hash_split", "x51_stratified_sample")) {
      val df = q(name)
      assert(windowsOf(df).isEmpty, s"$name planned a window")
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.isEmpty, s"$name planned a join: $joins")
      // the presentation orderBy range-partitions; nothing may
      // hash-partition — a hash exchange here would mean the assignment
      // stopped being a pure per-row map
      assert(!planOf(df).contains("hashpartitioning"),
        s"$name hash-shuffles:\n${planOf(df)}")
    }
  }

  test("x52: tf-idf aggregates partially map-side and ranks in a " +
    "per-document window — no cartesian beyond the 1-row total") {
    val df = q("x52_tfidf_terms")
    val ws = windowsOf(df)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "top-k must rank within documents, never globally")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    // tf and df each plan a partial+final pair: token repeats collapse
    // before the (doc, term) shuffle and pair rows before the term one
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("x53: the rule gate is a pure per-row projection — no exchange " +
    "of any kind before the presentation sort") {
    val df = q("x53_filter_reasons")
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    assert(!plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("x54: exact form is the deliberate broadcast square; the " +
    "cell-blocked scale path plans only equi-joins") {
    val exact = q("x54_knn_label_agree")
    // the all-pairs square lives INSIDE the NearestNeighborCosine
    // instance-data pass: no window, no join of ANY kind, no pair row
    // ever materializes (labels ride in the instance data — a label
    // join's inferred isnotnull filter would re-evaluate the pass
    // below the parallelizing exchange)
    assert(windowsOf(exact).isEmpty,
      "top-1 planned a rank window — the scored square would shuffle")
    val joins = exact.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"the exact form must be join-free: $joins")
    val plan = planOf(exact)
    // exactly ONE evaluation of the native — a pushed filter or a
    // collapsed projection would clone the quadratic pass
    assert("nearest_neighbor_cosine".r.findAllIn(plan).size == 1, plan)

    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val cents = e.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(97)) === 0)
      .orderBy("vec_id").limit(8).collect()
      .zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Float](r.fieldIndex("embedding"))
          .map(_.toDouble).toArray)
      }.toSeq
    val blocked = graft.operators.Similarity.selfKnnLabelAgreementByCell(
      e, "vec_id", "embedding", "label", cents, nprobe = 2)
    val bplan = planOf(blocked)
    assert(!bplan.contains("BroadcastNestedLoopJoin") &&
      !bplan.contains("CartesianProduct"),
      s"cell blocking degenerated to an all-pairs square:\n$bplan")
  }

  test("x55: the source cap ranks within sources — never an " +
    "unpartitioned window") {
    val ws = windowsOf(q("x55_source_cap"))
    assert(ws.nonEmpty, "expected the per-source rank window")
    assert(ws.forall(_.partitionSpec.nonEmpty),
      "an unpartitioned window would sort the whole corpus in one task")
  }

  test("x56: chunk dedup is windows-free; the boilerplate join is equi " +
    "on the digest, never a nested loop") {
    val df = q("x56_chunk_dedup")
    // reassembly is collect_list + array_sort inside a hash aggregate,
    // NOT a per-doc rank window; nothing here may sort globally
    assert(windowsOf(df).isEmpty, "chunk dedup must not plan a window")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"boilerplate join degenerated:\n$plan")
    // the single-distinct count plans as two aggregate pairs keyed
    // (digest, doc) then (digest): token repeats collapse map-side
    // before either shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("x63: scoped chunk dedup keeps x56's shape with the widened " +
    "(source, digest) key — windows-free, no nested loop") {
    val df = q("x63_chunk_dedup_scoped")
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("x63 skew slice: with 90% of docs in one source every scoped " +
    "exchange key stays a (source, digest/doc) composite — a hot " +
    "domain cannot serialize a shuffle") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
      .withColumn("source",
        when(pmod(col("doc_id"), lit(10)) < 9, lit("hotdomain"))
          .otherwise(col("source")))
    val df = graft.operators.ChunkDedup
      .dropSharedChunksWithin(docs, "doc_id", "source", "text", 4, 3)
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // no exchange may be keyed by the scope ALONE: the digest (or the
    // doc id) must ride every source-carrying hashpartitioning, which
    // is what keeps the skewed domain spread across partitions
    val parts = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(parts.exists(_.contains("source")), plan)
    parts.filter(_.contains("source")).foreach(p =>
      assert(p.contains("__d") || p.contains("doc_id"),
        s"source-only exchange would serialize the hot domain: $p"))
  }

  test("x57: survivor selection ranks within clusters — never an " +
    "unpartitioned window") {
    val ws = windowsOf(q("x57_cluster_canonical"))
    assert(ws.nonEmpty, "expected the per-cluster rank window")
    assert(ws.forall(_.partitionSpec.nonEmpty),
      "an unpartitioned window would sort the whole corpus in one task")
  }

  test("x58: corpus offsets shard the prefix sum — every window is " +
    "partitioned, and AQE reuses the one range exchange across the " +
    "local-sum/shard-size branches") {
    val df = q("x58_corpus_offsets")
    val ws = windowsOf(df)
    assert(ws.exists(_.partitionSpec.nonEmpty),
      "the local cumulative sum must be per-shard, never corpus-global")
    ws.filter(_.partitionSpec.isEmpty).foreach(w =>
      assert(isBoundedOffsetsWindow(w),
        s"unpartitioned window over a corpus-sized stream:\n$w"))
    df.collect()
    val reused = deepNodes(df.queryExecution.executedPlan).filter(
      _.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ReusedExchangeExec])
    assert(reused.nonEmpty,
      s"no ReusedExchange in the final adaptive plan:\n" +
        df.queryExecution.executedPlan.toString)
  }

  test("x59: novelty's first-seen attribution is a digest-partitioned " +
    "window over ONE exchange — no self-join of the gram mass, no " +
    "unpartitioned window") {
    val df = q("x59_novelty")
    val ws = windowsOf(df)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "first-seen must be per-digest, never a corpus-global window")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // exactly one REPARTITION of the gram digests: the window and the
    // distinct share it; a second one would mean the single-reader
    // formulation regressed to the double-explode the first cut had
    assert("REPARTITION_BY_COL".r.findAllIn(plan).size == 1, plan)
    // the only join left is the cheap final doc-restore, not a join of
    // two gram-mass streams
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1, s"expected only the doc-restore join: $joins")
  }

  test("x60: split leakage keeps x50's map-only assignment and x37's " +
    "equi-join gram exchange — no cartesian, no window") {
    val df = q("x60_split_leakage")
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("x61: winnow pairs use the bucket pattern — pre-capped " +
    "fingerprint buckets, streamed in-bucket pairs, no pair-stream " +
    "join, no window") {
    val df = q("x61_winnow_pairs")
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // exactly ONE join: the df-cap semi-shape (fps x surviving-fp
    // list) that drops viral fingerprints BEFORE any id list
    // materializes. Pair generation itself must stay the bucketed
    // collect_set explode — a second join would mean pairs come from
    // joining two full fingerprint streams
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1, s"expected only the df-cap join: $joins")
  }

  test("x64: coverage pairs keep x61's pre-capped bucket shape — no " +
    "cartesian, no window, and every join equi-keyed on (id, fp) " +
    "streams bounded by the capped pair set") {
    val df = q("x64_winnow_coverage")
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // pair generation must still come from the bucketed collect_set
    // explode (x61's shape), never from self-joining two full
    // fingerprint streams: every join in the plan is either the df-cap
    // semi-shape, the minShared qualification, a coverage
    // position-lookup, or a doc-length attach — all equi-joins over
    // streams already bounded by the cap. 13 logical joins because
    // DataFrame reuse RE-EXPANDS the pf/qualified subtrees per
    // reference (the df-cap join appears once per copy); physically
    // AQE reuses the identical exchanges (6 ReusedExchange observed)
    // and the re-run fingerprint scans are the documented
    // recompute-over-reshuffle trade. The count is pinned so a
    // refactor that sneaks in a pair-stream self-join trips here,
    // like x61's single-join pin.
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 13, s"expected the 13 bounded equi-joins, got " +
      s"${joins.size}: ${joins.map(_.joinType)}")
    assert(joins.forall(_.condition.isDefined), "non-equi join appeared")
  }

  test("x66: line-unit chunk dedup keeps the word-unit plan shape — " +
    "only the splitter changed") {
    val df = q("x66_chunk_dedup_lines")
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("x67: token-budget selection computes only the prefix sum's " +
    "BOUNDARY — the one unpartitioned window runs on the per-score " +
    "aggregate, the corpus is never range-exchanged") {
    val df = q("x67_token_budget_select")
    val ws = windowsOf(df)
    // exactly ONE window in the returned plan, and it is partitioned:
    // the boundary slice's id-order split. The summary-frame cumulative
    // (unpartitioned by design, over the post-aggregate score codomain)
    // lives inside the lazily-checkpointed 1-row cut — see the
    // operator's scaladoc for why the checkpoint exists (column pruning
    // would otherwise fork the cut subtree into two structurally
    // different copies that each re-aggregate the corpus)
    assert(ws.size == 1, s"expected 1 window, got ${ws.size}:\n$ws")
    assert(ws.head.partitionSpec.nonEmpty,
      "the boundary-slice window lost its partitioning")
    // the checkpointed cut must actually BE the checkpoint (an RDD
    // scan), not a re-derived aggregate per branch
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("LogicalRDD") ||
      optimized.contains("ExistingRDD"),
      s"cut is not the shared checkpoint:\n$optimized")
    // the corpus feeds exactly the two union branches — a refactor that
    // re-derives the cut from raw parquet would show a third scan
    assert("Relation \\[doc_id".r.findAllIn(optimized).size == 2,
      s"expected 2 corpus scans:\n$optimized")
    // no range exchange before the output orderBy (the whole point vs
    // globalPrefixSum: the corpus is never exchanged) — strip the final
    // presentation Sort before asserting
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val innerPlan = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!innerPlan.contains("rangepartitioning"),
      s"corpus was range-exchanged:\n$innerPlan")
    // the 1-row cut reaches the corpus as a broadcast (the nested-loop
    // join here is the deliberate broadcast-scalar pattern, like x38's
    // mixing totals), never a shuffled join of corpus vs cut
    assert(!innerPlan.contains("CartesianProduct"), innerPlan)
  }

  test("x68: near-dup ingest joins the two banded frames equi on " +
    "(band, bhash) and verifies through narrow set joins — no " +
    "cartesian, no window, no nested loop") {
    val df = q("x68_neardup_ingest")
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // band-bucket join + two set-attach joins, all condition-carrying
    assert(joins.size == 3, s"expected 3 equi-joins, got ${joins.size}")
    assert(joins.forall(_.condition.isDefined), "non-equi join appeared")
  }

  test("x69: PQ encode is one compiled map pass — no window, no " +
    "exchange before the presentation sort") {
    val df = q("x69_pq_encode")
    assert(windowsOf(df).isEmpty)
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val inner = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!inner.contains("Exchange"),
      s"encode shuffled the corpus:\n$inner")
    assert(inner.contains("nearest_centroid"),
      s"encode lost the compiled assignment native:\n$inner")
  }

  test("x70: PQ ADC search reads codes against a broadcast LUT and " +
    "ranks in a query-partitioned window — no cartesian, no corpus " +
    "exchange beyond the rank window's query partitioning") {
    val df = q("x70_pq_adc_topk")
    val ws = windowsOf(df)
    assert(ws.size == 1 && ws.head.partitionSpec.nonEmpty,
      s"expected one query-partitioned rank window: $ws")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("broadcast"), s"LUT not broadcast:\n$plan")
  }

  test("x71: label centroids aggregate coordinate-wise in ONE hash " +
    "agg (no n x dim explode), broadcast back, rank within label") {
    val df = q("x71_label_outliers")
    // the posexplode formulation would put a Generate below the
    // centroid aggregate — the shape that ships corpus x 64 rows
    // through a shuffle at scale
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isEmpty, "centroid computation exploded the vectors")
    val ws = windowsOf(df)
    assert(ws.size == 1 && ws.head.partitionSpec.nonEmpty, ws.toString)
    val plan = planOf(df)
    assert(plan.contains("BroadcastExchange"),
      s"centroids not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("x72: contrastive mining is the deliberate broadcast square " +
    "(x08's shape) ranked in ONE (anchor, kind)-partitioned window") {
    val df = q("x72_contrastive_pairs")
    val ws = windowsOf(df)
    assert(ws.size == 1 && ws.head.partitionSpec.size == 2, ws.toString)
    val plan = planOf(df)
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("Broadcast"), s"anchors not broadcast:\n$plan")
  }

  test("x73: sliding chunks are a pure Generate over the scan — no " +
    "window, no exchange before the presentation sort") {
    val df = q("x73_sliding_chunks")
    assert(windowsOf(df).isEmpty)
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val inner = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!inner.contains("Exchange"),
      s"chunking shuffled the corpus:\n$inner")
    assert(inner.contains("Generate"), s"no explode found:\n$inner")
  }

  test("x74: classifier inference is a pure per-row fold — no window, " +
    "no join, no exchange before the presentation sort") {
    val df = q("x74_classifier_gate")
    assert(windowsOf(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "classifier grew a join — weights must ride as a literal")
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val inner = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!inner.contains("Exchange"),
      s"classifier shuffled the corpus:\n$inner")
    // round 16: the margin is the compiled one-pass native, not the
    // interpreted HOF fold (11.75s -> 1.28s at the x100 decade,
    // SCALE.md) — a regression to the fold would keep correctness and
    // silently give the wall back
    assert(inner.contains("classifier_margin"),
      s"classifier margin is not the compiled native:\n$inner")
    assert(!inner.contains("aggregate("),
      s"the HOF fold re-appeared in the hot path:\n$inner")
  }

  test("x75: the curation funnel composes stages without a cartesian " +
    "and every visible window stays partitioned (the budget stage's " +
    "global summary window lives inside its 1-row checkpoint)") {
    val df = q("x75_curation_funnel")
    windowsOf(df).foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window leaked into the funnel:\n$w"))
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    // Stage boundaries are lazily checkpointed (the x67
    // shared-work-divergence fix one level up): the composed plan
    // reads materialized stage verdicts, so the classifier HOF fold
    // lives ONLY inside the clf checkpoint (it must not re-appear —
    // that was the 38-scans-of-documents defect), and documents is
    // re-scanned exactly once, for the split/base projection.
    assert(!plan.contains("aggregate("),
      s"classifier fold leaked outside its stage checkpoint:\n$plan")
    val docScans = "Scan parquet".r.findAllIn(plan).size
    assert(docScans == 1,
      s"expected exactly 1 documents scan in the composed plan, " +
        s"got $docScans:\n$plan")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 4,
      s"expected the 4+ checkpointed stage verdict scans:\n$plan")
  }

  test("x77: IVF-PQ probes join the index EQUI ON CELL with the probe " +
    "side broadcast and no shuffle beneath the join — the shape that " +
    "prunes the scan physically on a cell-bucketed table") {
    val df = q("x77_ivfpq_topk")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val cellJoins = deepNodes(df.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if (j.leftKeys ++ j.rightKeys)
          .exists(_.toString.contains("cell")) => j
    }
    assert(cellJoins.nonEmpty,
      s"no broadcast hash join on cell in the probe path:\n$plan")
    // the corpus flows into the probe join unshuffled: encode + cell
    // assignment are map-only, so the join's whole subtree carries no
    // shuffle exchange (the probe side arrives by broadcast)
    cellJoins.foreach(j => assert(j.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, s"shuffle under the cell probe join:\n$j"))
  }

  test("x86: end-to-end retrieval runs ONE featurization pass — both " +
    "final-plan sides scan the materialized frame, the corpus reaches " +
    "the cell join unshuffled, and the probe side arrives by broadcast") {
    val df = q("x86_text_retrieval")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the featurization (tokenize → explode → 3 hash-aggregates) must
    // NOT appear in the search plan: it ran once into the checkpoint,
    // and both the corpus and query sides scan that RDD. The only
    // Generate left is the query side's nprobe cell explode — a second
    // one means a consumer re-inlined the tokenize+hash chain (the
    // x75/x81 exchange-reuse failure mode).
    val nodes = deepNodes(df.queryExecution.executedPlan)
    val gens = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
    assert(gens == 1, s"expected exactly the probe explode, got $gens " +
      s"Generates (re-featurization?):\n$plan")
    val rddScans = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec])
    assert(rddScans == 2, s"expected corpus + query scans of the " +
      s"checkpointed featurized frame, got $rddScans:\n$plan")
    // the cell join: probes broadcast, corpus subtree shuffle-free
    val cellJoins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if (j.leftKeys ++ j.rightKeys)
          .exists(_.toString.contains("cell")) => j
    }
    assert(cellJoins.nonEmpty,
      s"no broadcast hash join on cell in the retrieval path:\n$plan")
    cellJoins.foreach(j => assert(j.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, s"shuffle under the cell join:\n$j"))
    // the only window is the per-query top-k, partitioned (never global)
    val ws = windowsOf(df)
    assert(ws.size == 1 && ws.forall(_.partitionSpec.nonEmpty), plan)
  }

  test("x87: the JL projection is map-only — no join, no window, no " +
    "exchange before the presentation sort, and the projection is the " +
    "compiled native (one constant-size pass, not outDim lambda folds)") {
    val df = q("x87_jl_project")
    assert(windowsOf(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "the projection grew a join")
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val inner = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!inner.contains("Exchange"),
      s"the projection shuffled the corpus:\n$inner")
    assert(inner.contains("mat_vec_project"),
      s"projection is not the compiled native:\n$inner")
  }

  test("x88: text search keeps x86's corpus shape — the corpus side " +
    "scans the materialized frame unshuffled into the cell join, and " +
    "the query-side featurization (the only Generates) stays on the " +
    "tiny query frame with corpus stats arriving by broadcast") {
    val df = q("x88_text_search")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    val nodes = deepNodes(df.queryExecution.executedPlan)
    // exactly ONE nested-loop join is legitimate: the query weights'
    // crossJoin with the broadcast 1-row corpus count (the Mix totals
    // pattern) — anything more is a real cross product
    val bnlj = nodes.count(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
    assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj):\n$plan")
    // exactly two Generates: the query token explode and the probe
    // explode — a third would mean the CORPUS featurization re-inlined
    val gens = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
    assert(gens == 2, s"expected query-tokenize + probe explodes, got " +
      s"$gens Generates:\n$plan")
    // the corpus embedding checkpoint and the tf checkpoint (feeding
    // the broadcast df stats) are the only RDD scans
    val rddScans = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec])
    assert(rddScans == 2, s"expected emb + tf checkpoint scans, got " +
      s"$rddScans:\n$plan")
    val cellJoins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if (j.leftKeys ++ j.rightKeys)
          .exists(_.toString.contains("cell")) => j
    }
    assert(cellJoins.nonEmpty,
      s"no broadcast hash join on cell in the search path:\n$plan")
    // the corpus (streamed) side must be shuffle-free; the BROADCAST
    // side is the query featurization, whose query-sized aggregates
    // legitimately shuffle a handful of rows
    cellJoins.foreach { j =>
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case _ => j.left
      }
      assert(streamed.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"shuffle on the corpus side of the cell join:\n$j")
    }
    val ws = windowsOf(df)
    assert(ws.size == 1 && ws.forall(_.partitionSpec.nonEmpty), plan)
  }

  test("x78: the composed ingest gate is ONE joinless projection — " +
    "no join, no window, no exchange before the presentation sort, " +
    "and the margin is the compiled native") {
    val df = q("x78_composed_gate")
    assert(windowsOf(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "the composed gate grew a join — it must stay one projection")
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val inner = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!inner.contains("Exchange"),
      s"the composed gate shuffled the corpus:\n$inner")
    assert(inner.contains("classifier_margin"),
      s"gate margin is not the compiled native:\n$inner")
  }

  test("x80: the image-header decode is one joinless projection with " +
    "EXACTLY ONE compiled parse per row — no join, no window, no " +
    "exchange before the presentation sort, and the packed meta stays " +
    "a staged alias (field decodes must not re-inline the parser)") {
    val df = q("x80_image_headers")
    assert(windowsOf(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "header decode grew a join")
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val inner = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!inner.contains("Exchange"),
      s"header decode shuffled the corpus:\n$inner")
    val parses = "image_header_meta".r.findAllIn(inner).size
    assert(parses == 1,
      s"expected exactly one image_header_meta in the plan, got " +
        s"$parses (CollapseProject re-inlined the parse per field?):\n" +
        inner)
  }

  test("x84: the four-format media-header decode keeps x80's shape — " +
    "one joinless projection, EXACTLY ONE compiled parse per row " +
    "across seven derived fields, no window, no exchange before the " +
    "presentation sort") {
    val df = q("x84_media_headers")
    assert(windowsOf(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "media decode grew a join")
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val inner = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!inner.contains("Exchange"),
      s"media decode shuffled the corpus:\n$inner")
    // seven output columns read the ONE staged packed long — with more
    // consumers than x80's four, a CollapseProject re-inline would cost
    // 7 parses per row instead of 1
    val parses = "media_header_meta".r.findAllIn(inner).size
    assert(parses == 1,
      s"expected exactly one media_header_meta in the plan, got " +
        s"$parses (CollapseProject re-inlined the parse per field?):\n" +
        inner)
  }

  test("x85: hashed TF-IDF featurization never shuffle-joins the token " +
    "stream — df is a <= dim-row broadcast, N a 1-row broadcast, no " +
    "window, no sort before the presentation ORDER BY") {
    val df = q("x85_hashed_tfidf")
    assert(windowsOf(df).isEmpty)
    val plan = planOf(df)
    // the fact side (exploded tokens / per-doc rows) shuffles only into
    // its hash-aggregates; both joins build on bounded frames (df has
    // at most `dim` rows, totals exactly 1), so neither may plan as a
    // corpus-side exchange
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
      && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // tf, the distinct for df, df itself, and the dense per-doc
    // assembly are all hash-aggregates (partial + final pairs) — the
    // whole operator is aggregates + broadcasts, nothing else
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("x81: the composed ingest path reads ONLY checkpointed stage " +
    "frames (zero re-scans of documents), keeps the classifier inside " +
    "the prefix checkpoint, and plans no cartesian and no window") {
    val df = q("x81_ingest_path")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(windowsOf(df).isEmpty,
      "no window belongs in the ingest path")
    // Stage boundaries are lazily checkpointed (the x75 lesson by
    // construction): the composed plan joins materialized stage frames
    // — documents must NOT be re-scanned downstream of the checkpoints,
    // and the strip + gate expressions (classifier margin, chunk
    // filter) live only INSIDE the prefix checkpoint.
    assert(!plan.contains("Scan parquet"),
      s"documents re-scanned outside the stage checkpoints:\n$plan")
    assert(!plan.contains("classifier_margin"),
      s"classifier leaked outside the prefix checkpoint:\n$plan")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 3,
      s"expected the checkpointed stage frames in the plan:\n$plan")
  }

  test("x82: the indexed near-dup stage reads the bucketed corpus " +
    "tables with ZERO exchange above either corpus scan — only the " +
    "incoming batch shuffles (broadcast + AQE off to expose the " +
    "bucketing mechanism, the x77 claim-to-mechanism pattern)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
    val boiler = operators.ChunkDedup
      .boilerplateChunks(corpus, "doc_id", "text", 4, 3)
      .orderBy("chunk").collect().map(_.getString(0)).toSeq
    operators.Ingest.writeCorpusIndex(corpus, "doc_id", "text", 4,
      boiler, "graft_plan_ndidx", buckets = 4)
    try withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val cleanedInc = operators.ChunkDedup
        .applyBoilerplate(incoming, "doc_id", "text", 4, boiler)
        .select(col("doc_id"), col("text_clean"))
      val pairs = operators.Dedup.minhashNearDupsAgainstIndex(
        cleanedInc, "graft_plan_ndidx", "doc_id", "text_clean", 0.6)
      val plan = pairs.queryExecution.executedPlan
      val planStr = plan.toString
      // both corpus halves arrive from the persisted tables (nothing
      // re-signs or re-bands the corpus in-plan), as BUCKETED scans
      assert(planStr.contains("graft_plan_ndidx_bands") &&
        planStr.contains("graft_plan_ndidx_sets"), planStr)
      assert("Bucketed: true".r.findAllIn(planStr).size == 2,
        s"corpus scans are not both bucketed:\n$planStr")
      // THE mechanism pin: in each join that touches a corpus table,
      // the corpus-scan child reaches its join with NO exchange — the
      // bucketed output partitioning satisfies the (band, bhash)
      // candidate join and the id_old verify join directly. (The
      // DERIVED candidate-pair frame shuffling between the two joins is
      // the incoming-sized cost the design intends.)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      // a join side is THE corpus side for `table` when its subtree is
      // just the (bucketed) scan of that table — one FileScan, no join
      // below it (the other join's sides contain the table only as
      // transitive lineage of the derived candidate-pair frame)
      def pureScanSide(side: SparkPlan, table: String): Boolean = {
        val s = side.toString
        s.contains(table) && "FileScan".r.findAllIn(s).size == 1 &&
          side.collect { case j: SortMergeJoinExec => j }.isEmpty
      }
      def corpusSides(table: String): Seq[SparkPlan] = plan.collect {
        case j: SortMergeJoinExec if pureScanSide(j.left, table) ||
            pureScanSide(j.right, table) =>
          if (pureScanSide(j.left, table)) j.left else j.right
      }
      Seq("graft_plan_ndidx_bands", "graft_plan_ndidx_sets").foreach {
        table =>
          val sides = corpusSides(table)
          assert(sides.nonEmpty, s"no sort-merge join reads $table " +
            s"on exactly one side:\n$planStr")
          sides.foreach(side => assert(side.collect {
            case e: ShuffleExchangeExec => e
          }.isEmpty,
            s"$table reaches its join through a shuffle:\n$side"))
      }
      // and the incoming side does shuffle (the pin is not vacuous —
      // someone pays the exchange, and it is the batch, not the corpus)
      assert(plan.collect {
        case e: ShuffleExchangeExec => e
      }.nonEmpty, "no shuffle anywhere? broadcast must be off")
      // and the joins produce the same pairs as the self-derived path
      // (plan shape must not have cost correctness)
      val cleanedCorp = operators.ChunkDedup
        .applyBoilerplate(corpus, "doc_id", "text", 4, boiler)
        .select(col("doc_id"), col("text_clean"))
      val want = operators.Dedup.minhashNearDupsAgainst(
          cleanedCorp, cleanedInc, "doc_id", "text_clean", 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want && got.nonEmpty, s"pairs diverged: $got vs $want")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_plan_ndidx_bands")
      spark.sql("DROP TABLE IF EXISTS graft_plan_ndidx_sets")
    }
  }

  test("x83: the fused encode+probe is a joinless union of per-split " +
    "projections — no window, no exchange before the presentation " +
    "sort, and the 8 per-subspace natives are staged ONCE per split " +
    "(codes and recon_err must read the staged array, not re-evaluate)") {
    val df = q("x83_pq_drift_probe")
    assert(windowsOf(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "the probe grew a join — codebooks must ride as literals")
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val inner = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!inner.contains("Exchange"),
      s"the probe shuffled the corpus:\n$inner")
    // 3 splits x 8 subspaces, each native exactly once: a CollapseProject
    // re-inline would evaluate the staged array per consuming column
    // (16+ per split) and double the probe's distance arithmetic
    val natives = "nearest_centroid_dist".r.findAllIn(inner).size
    assert(natives == 24,
      s"expected 24 staged natives (3 splits x 8 subspaces), got " +
        s"$natives:\n$inner")
  }

  test("x79: cell-blocked contrastive mining joins candidates EQUI ON " +
    "CELL (no cartesian) and ranks in (anchor, kind)-partitioned " +
    "windows only") {
    val df = q("x79_contrastive_bycell")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val ws = windowsOf(df)
    assert(ws.nonEmpty)
    ws.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window in the miner:\n$w"))
  }

  test("x76: the applied mixture is a stateless map filter — the rate " +
    "table collapsed to literals driver-side, no join, no window, no " +
    "exchange before the presentation sort") {
    val df = q("x76_mix_sample")
    assert(windowsOf(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "sampling grew a join — rates must fold into the filter")
    val noSort = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case p => p
    }
    val inner = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      noSort).executedPlan.toString
    assert(!inner.contains("Exchange"),
      s"the sampler shuffled the corpus:\n$inner")
  }

  test("whole-stage codegen covers the scan->filter->project spine") {
    // AQE reports codegen spans only on the finalized plan -> execute first
    val df = q("r03_filter_and_or")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Op" in the compact plan string
    assert(plan.contains("WholeStageCodegen") || "\\*\\(\\d+\\) ".r
      .findFirstIn(plan).isDefined, plan)
  }
}
