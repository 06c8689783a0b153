package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PqSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private lazy val seeds = emb
    .filter(pmod(col("id"), lit(97)) === 0).orderBy("id").limit(16)
    .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq

  private lazy val seedCbs = Pq.seedCodebooks(seeds, 64, 8)

  test("encode emits one in-range code per subspace, deterministically") {
    val out = Pq.encode(emb, "id", "vec", 64, seedCbs)
    val rows = out.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == 8, s"row $r")
      assert(codes.forall(c => c >= 0 && c < 16), s"row $r")
    }
    val again = Pq.encode(emb, "id", "vec", 64, seedCbs).collect()
    assert(rows.map(_.toString).sorted.sameElements(
      again.map(_.toString).sorted))
  }

  test("Lloyd refinement monotonically improves reconstruction error " +
    "over the seed codebook (codebook/encode wiring is consistent)") {
    val e0 = Pq.reconstructionError(emb, "vec", 64, seedCbs)
    val t1 = Pq.trainCodebooks(emb, "vec", 64, seedCbs, iters = 1)
    val e1 = Pq.reconstructionError(emb, "vec", 64, t1)
    val t3 = Pq.trainCodebooks(emb, "vec", 64, seedCbs, iters = 3)
    val e3 = Pq.reconstructionError(emb, "vec", 64, t3)
    assert(e1 < e0, s"one Lloyd round did not improve: $e0 -> $e1")
    assert(e3 <= e1 + 1e-9, s"more rounds got worse: $e1 -> $e3")
  }

  test("encodeWithErr: codes equal encode's exactly, recon_err is the " +
    "per-row reconstructionErrCol value, and the frame's avg matches " +
    "reconstructionError — one pass yields both outputs consistently") {
    val fused = Pq.encodeWithErr(emb, "id", "vec", 64, seedCbs)
    val plain = Pq.encode(emb, "id", "vec", 64, seedCbs)
    assert(fused.select("id", "codes").exceptAll(plain).isEmpty &&
      plain.exceptAll(fused.select("id", "codes")).isEmpty,
      "fused codes diverged from encode")
    val viaCol = emb.select(col("id"),
      Pq.reconstructionErrCol(col("vec"), 64, seedCbs).as("recon_err"))
    assert(fused.select("id", "recon_err").exceptAll(viaCol).isEmpty,
      "fused recon_err diverged from reconstructionErrCol")
    val avgFused = fused.agg(avg(col("recon_err"))).head().getDouble(0)
    val scalar = Pq.reconstructionError(emb, "vec", 64, seedCbs)
    assert(math.abs(avgFused - scalar) < 1e-9, s"$avgFused vs $scalar")
    assert(fused.filter(col("recon_err") < 0).count() == 0)
  }

  test("drift probe separation: reconstructionErrRatio reads ~1 on a " +
    "same-distribution batch and far above the retrain-when->2 rule " +
    "on a translated batch (the SCALE.md pqmaint drift fixture)") {
    // yesterday: train on the 90% split, record the training error
    val old = emb.filter(pmod(col("id"), lit(10)) < 9)
    val batch = emb.filter(pmod(col("id"), lit(10)) === 9)
    val cbs = Pq.trainCodebooks(old, "vec", 64, seedCbs, iters = 2)
    val trainErr = Pq.reconstructionError(old, "vec", 64, cbs)
    assert(trainErr > 0)
    val stable = Pq.reconstructionErrRatio(batch, "vec", 64, cbs,
      trainErr)
    assert(stable < 2.0,
      s"stable batch tripped the retrain rule: ratio $stable")
    // drift: translate PQ subspaces 0-1 out of the codeword support
    val drifted = batch.select(col("id"),
      transform(col("vec"),
        (x, i) => when(i < 16, x + lit(1.5f)).otherwise(x)).as("vec"))
    val driftRatio = Pq.reconstructionErrRatio(drifted, "vec", 64, cbs,
      trainErr)
    assert(driftRatio > 2.0,
      s"drifted batch did not trip the retrain rule: ratio $driftRatio")
    // the two regimes are far from the threshold in BOTH directions —
    // the rule is robust, not a knife-edge (measured 100x in SCALE.md)
    assert(driftRatio / stable > 10.0,
      s"probe separation collapsed: $stable vs $driftRatio")
    val e = intercept[IllegalArgumentException](
      Pq.reconstructionErrRatio(batch, "vec", 64, cbs, 0.0))
    assert(e.getMessage.contains("trainErr"))
  }

  /** Exact squared-L2 top-k via a brute-force crossJoin — the ground
    * truth ADC approximates.
    */
  private def exactTopK(queries: Seq[(Long, Array[Double])], k: Int)
      : Map[Long, Set[Long]] = {
    val l2 = (a: Seq[Float], q: Array[Double]) =>
      a.zip(q).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val corpus = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    queries.map { case (qid, q) =>
      qid -> corpus.map { case (id, v) => (l2(v, q), id) }
        .sortBy(identity).take(k).map(_._2).toSet
    }.toMap
  }

  test("ADC recall@10 clears the floor with seed codebooks and rises " +
    "with training (the fidelity the 32x compression buys back)") {
    val queries = emb.filter(col("id") < 8)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val truth = exactTopK(queries, 10)
    def recall(cbs: Seq[Seq[(Int, Array[Double])]]): Double = {
      val got = Pq.adcTopK(Pq.encode(emb, "id", "vec", 64, cbs),
          "id", "codes", queries, cbs, 64, 10)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      queries.map { case (qid, _) =>
        (got(qid) & truth(qid)).size / 10.0 }.sum / queries.size
    }
    def recallReranked(cbs: Seq[Seq[(Int, Array[Double])]],
        kCand: Int): Double = {
      val got = Pq.adcTopKReranked(Pq.encode(emb, "id", "vec", 64, cbs),
          emb, "id", "vec", "codes", queries, cbs, 64, kCand, 10)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      queries.map { case (qid, _) =>
        (got(qid) & truth(qid)).size / 10.0 }.sum / queries.size
    }
    val rSeed = recall(seedCbs)
    val trained = Pq.trainCodebooks(emb, "vec", 64, seedCbs, 3)
    val rTrained = recall(trained)
    val rRerank = recallReranked(trained, 50)
    info(s"recall@10: seed $rSeed, trained $rTrained, " +
      s"trained+rerank50 $rRerank")
    // This corpus is the QUASI-ORTHOGONAL regime (SCALE.md round-15
    // kNN sweep): neighbor gaps are small vs quantization noise, so
    // ADC-alone recall is structurally low — the floors pin the
    // measured reality (~0.19 seed / ~0.31 trained at the ~6-codeword
    // sf0.001 pool), the improvement DIRECTION under training, and the
    // re-rank dial's recovery, which is the production path here.
    assert(rSeed >= 0.1, s"seed-codebook recall collapsed: $rSeed")
    assert(rTrained >= rSeed - 0.05,
      s"training degraded recall: $rSeed -> $rTrained")
    assert(rRerank >= rTrained + 0.2,
      s"re-ranking did not recover fidelity: $rTrained -> $rRerank")
    assert(rRerank >= 0.6, s"re-ranked recall below floor: $rRerank")
  }

  test("adcTopK output contract: ranks 1..k per query, ordered by " +
    "(adc, id), every query present") {
    val queries = emb.filter(col("id") < 4)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val out = Pq.adcTopK(Pq.encode(emb, "id", "vec", 64, seedCbs),
        "id", "codes", queries, seedCbs, 64, 5)
      .orderBy("query_id", "rank").collect()
    assert(out.length == queries.size * 5)
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).toSeq == (1 to 5))
      val d = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b })
    }
  }

  test("ivfPqTopK with nprobe = nlist equals adcTopKReranked exactly " +
    "(cell blocking changes WHICH rows are scored, never the scores); " +
    "ln-ruled nprobe keeps a recall floor") {
    val queries = emb.filter(col("id") < 8)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val nlist = 8
    val cells = emb.orderBy(md5(col("id").cast("string")), col("id"))
      .limit(nlist).collect().zipWithIndex
      .map { case (r, i) =>
        (i, r.getSeq[Float](1).map(_.toDouble).toArray) }.toSeq
    val cbs = Pq.trainCodebooks(emb, "vec", 64, seedCbs, 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val full = rows(Pq.adcTopKReranked(
      Pq.encode(emb, "id", "vec", 64, cbs),
      emb, "id", "vec", "codes", queries, cbs, 64, 50, 10))
    val allCells = rows(Pq.ivfPqTopK(emb, "id", "vec", 64, cells, cbs,
      queries, nprobe = nlist, kCand = 50, k = 10))
    assert(allCells == full,
      "probing every cell must reproduce the unblocked search")
    // the ln-scaled probe rule on a small index: recall vs exact truth
    val nprobe = Similarity.nprobeForNlist(nlist)
    val got = Pq.ivfPqTopK(emb, "id", "vec", 64, cells, cbs,
        queries, nprobe, kCand = 50, k = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val truth = exactTopK(queries, 10)
    val recall = queries.map { case (qid, _) =>
      (got(qid) & truth(qid)).size / 10.0 }.sum / queries.size
    info(s"ivf-pq recall@10 at nprobe=$nprobe/$nlist: $recall")
    assert(recall >= 0.4, s"ivf-pq recall collapsed: $recall")
  }

  test("trained-k=256 regime (the production dial): dead-cell reindex " +
    "keeps codes contiguous at realistic k, and recall clears the " +
    "measured floors with and without re-rank") {
    // The graded queries use seed-pool-sized codebooks (6-16 codewords)
    // for oracle replayability; production PQ is k=256/m=8 (Jégou 2011
    // §V). On this 500-vector slice k approaches n, so Lloyd drops many
    // dead cells — exactly the reindex path the misindex fix guards —
    // and the fine codebook's recall must beat the coarse regime's
    // (SCALE.md round-16 pq256 measures the same contrast at 200k).
    val seeds256 = emb
      .orderBy(md5(col("id").cast("string")), col("id")).limit(256)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    val cbs = Pq.trainCodebooks(emb, "vec", 64,
      Pq.seedCodebooks(seeds256, 64, 8), iters = 2)
    cbs.zipWithIndex.foreach { case (cb, i) =>
      assert(cb.map(_._1) == (0 until cb.size),
        s"subspace $i codes not contiguous at trained k: ${cb.map(_._1)}")
    }
    val queries = emb.filter(col("id") < 8)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val truth = exactTopK(queries, 10)
    val codes = Pq.encode(emb, "id", "vec", 64, cbs)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      queries.map { case (qid, _) =>
        (got(qid) & truth(qid)).size / 10.0 }.sum / queries.size
    }
    val rAdc = recallOf(Pq.adcTopK(
      codes, "id", "codes", queries, cbs, 64, 10))
    val rRerank = recallOf(Pq.adcTopKReranked(
      codes, emb, "id", "vec", "codes", queries, cbs, 64, 50, 10))
    info(s"trained-k256 recall@10: adc $rAdc, rerank50 $rRerank, " +
      s"k_eff ${cbs.map(_.size).min}-${cbs.map(_.size).max}")
    assert(rAdc >= 0.3, s"trained-k256 ADC recall below floor: $rAdc")
    assert(rRerank >= rAdc,
      s"re-rank degraded recall: $rAdc -> $rRerank")
    assert(rRerank >= 0.7,
      s"trained-k256 re-ranked recall below floor: $rRerank")
  }

  test("IVF-PQ search against a cell-PARTITIONED on-disk index prunes " +
    "the scan to the probed cells (static partition pruning from the " +
    "driver-side probe list) and returns the in-memory index's rows " +
    "exactly") {
    val nlist = 8
    val cells = emb.orderBy(md5(col("id").cast("string")), col("id"))
      .limit(nlist).collect().zipWithIndex
      .map { case (r, i) =>
        (i, r.getSeq[Float](1).map(_.toDouble).toArray) }.toSeq
    val cbs = Pq.trainCodebooks(emb, "vec", 64, seedCbs, 1)
    val queries = emb.filter(col("id") < 4)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val mem = Pq.ivfPqIndex(emb, "id", "vec", 64, cells, cbs)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pq-index").toString
    mem.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(dir)
    val disk = spark.read.parquet(dir)
    def run(idx: org.apache.spark.sql.DataFrame) =
      Pq.ivfPqTopKIndexed(idx, emb, "id", "vec", 64, cells, cbs,
        queries, nprobe = 2, kCand = 20, k = 5)
    val fromDisk = run(disk)
    assert(fromDisk.orderBy("query_id", "rank").collect().map(_.toString)
      .toSeq == run(mem).orderBy("query_id", "rank").collect()
      .map(_.toString).toSeq,
      "partitioned on-disk index changed the search result")
    // the pin: the probed-cell IN filter reaches the scan as a
    // PARTITION filter — the physical mechanism behind "the scan
    // shrinks by the probe fraction at 10^9 rows"
    val scan = fromDisk.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined,
      s"probe list did not prune the partitioned index scan:\n$scan")
  }

  test("trained codebooks are reindexed contiguous (dead cells close " +
    "the gap) and a gapped codebook is refused, never misindexed") {
    // kmeansStep drops cells that lose every member; the positional
    // ADC LUT would then read the WRONG code's distance silently.
    // trainCodebooks must hand back dense codes whatever Lloyd did...
    val trained = Pq.trainCodebooks(emb, "vec", 64, seedCbs, 2)
    trained.zipWithIndex.foreach { case (cb, i) =>
      assert(cb.map(_._1) == (0 until cb.size),
        s"subspace $i codes not contiguous: ${cb.map(_._1)}")
    }
    // ...and every ADC entry point refuses a gapped codebook loudly
    val gapped = seedCbs.map(cb =>
      cb.filterNot(_._1 == 2)) // drop code 2, keep 0,1,3..
    val enc = Pq.encode(emb, "id", "vec", 64, seedCbs)
    val qs = Seq((0L, Array.fill(64)(0.0)))
    val e = intercept[IllegalArgumentException] {
      Pq.adcTopK(enc, "id", "codes", qs, gapped, 64, 5)
    }
    assert(e.getMessage.contains("not contiguous"))
    intercept[IllegalArgumentException] {
      Pq.encode(emb, "id", "vec", 64, gapped)
    }
  }

  test("m must divide dim; malformed vectors yield null codes rather " +
    "than a poisoned cell") {
    intercept[IllegalArgumentException] {
      Pq.seedCodebooks(seeds, 64, 7)
    }
    import spark.implicits._
    val bad = Seq((1L, Seq.fill(63)(0.5f))).toDF("id", "vec")
    val codes = Pq.encode(bad, "id", "vec", 64, seedCbs).collect()(0)
    // array(null-code, ...) — every subspace sees a short slice except
    // the ones fully inside 63 elements; the LAST slice is short, so at
    // least one code is null and the row is visibly corrupt
    assert(codes.getSeq[Any](1).contains(null))
  }

  test("a corrupt vector's null ADC never reaches the top-k (NULLS " +
    "FIRST would otherwise rank it 1st)") {
    import spark.implicits._
    val corrupt = Seq((900000L, Seq.fill(63)(0.5f))).toDF("id", "vec")
    val mixed = emb.unionByName(corrupt)
    val queries = emb.filter(col("id") < 2)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val out = Pq.adcTopK(Pq.encode(mixed, "id", "vec", 64, seedCbs),
        "id", "codes", queries, seedCbs, 64, 5).collect()
    assert(out.length == queries.size * 5)
    assert(!out.exists(_.getLong(2) == 900000L),
      "corrupt row leaked into the top-k")
  }
}
