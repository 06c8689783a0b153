package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the last mile of near-dup
  * dedup: candidate pairs (x05/x06-style) only RELATE documents; keeping
  * one document per duplicate CLUSTER needs the transitive closure
  * (a~b, b~c => keep one of {a,b,c}).
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Every node starts labelled with itself; each round every node takes
  * the minimum of its own label, its neighbors' labels, and its LABEL'S
  * label (the pointer jump — following the representative's own
  * representative halves chain lengths every round). Propagation alone
  * converges in diameter rounds; the jump makes it O(log diameter), so
  * the iteration cap is a formality for any physically possible graph
  * (2^25 diameter) rather than a correctness cliff for long chains.
  * Near-dup graphs are dense cliques that finish in 2-3 rounds either
  * way. Each round is ONE aggregate over a union of contribution
  * streams (self ∪ neighbor labels) plus the pointer-jump self-join —
  * the neighbor join pipelines with the union into a single stage, then
  * one id-keyed exchange (no broadcast hint: at 100 TB the label table
  * is corpus-sized and the join correctly degrades to a shuffle);
  * lineage is cut with localCheckpoint every round so the plan
  * does not grow exponentially across iterations (the classic iterative-
  * Spark trap), and that one materialization also carries convergence
  * detection (an observed changed-row count — labels are monotone
  * decreasing, so zero decreases means fixpoint), so a round costs
  * exactly one action. When a round's change count collapses to a
  * handful, a cheap checkpoint-fed stability probe (no checkpoint
  * write, no aggregate exchange) asks whether the CURRENT labelling is
  * already edge-stable — detecting the fixpoint the round it happens
  * instead of paying one more full propagate+jump+checkpoint round just
  * to observe zero changes (the round-21 shape's confirmation round).
  *
  * The reference has nothing transitive at all (its only "join" is the
  * materialized cross product, /root/reference/sqlengine.py:120-135);
  * this is extension surface, oracle-checked against DuckDB's recursive
  * CTE in x32.
  */
object Components {

  /** Label every node with the minimum node id of its connected
    * component. `nodes`: one column `id`; `edges`: columns (`a`, `b`) —
    * undirected, any orientation, self-loops and duplicates tolerated.
    * Returns (id, cluster) with cluster = min id reachable (including
    * itself, so isolated nodes label themselves).
    *
    * Precondition: edge endpoints ⊆ `nodes` — callers derive `edges`
    * from the same frame as `nodes` (as x32 does), which satisfies this
    * by construction. Out-of-contract endpoints absent from `nodes` are
    * NOT ignored: the union-aggregate propagation emits a label row for
    * any endpoint a labelled neighbor reaches (they join the output and
    * relay labels like real nodes — the pre-round-21 left-join silently
    * dropped them instead), and an endpoint's first appearance counts as
    * a change so convergence waits for phantom chains to finish
    * populating. Throws if maxIter rounds pass without convergence
    * rather than returning a partially-propagated labelling.
    *
    * Each round runs one pointer jump: two jumps per round measured
    * slower at both scales (SCALE.md round-15 `minlabel`).
    */
  def minLabel(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // symmetric adjacency: propagate across the edge in both directions
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    var labels = nodes.select(col("id"), col("id").as("cluster"))
      .localCheckpoint(true)
    val labelType = labels.schema("cluster").dataType
    var converged = false
    var it = 0
    // Checkpoint blocks superseded inside the loop are freed eagerly:
    // each round caches one copy of the label table, so a run that never
    // unpersisted would hold rounds+2 cached tables at once — on a real
    // cluster that evicts working storage blocks, and across a 90-query
    // bench loop it accumulates into JVM-wide memory pressure.
    while (!converged && it < maxIter) {
      // Propagation is ONE aggregate over a union of contribution
      // streams — each node min-folds its own label with its
      // neighbors' labels; the feeding join pipelines with the union
      // into a single codegen stage before the id-keyed exchange. (The
      // pre-round-21 formulation computed a per-node best-neighbor
      // aggregate and then a second row-preserving join against the
      // label table just to min the two and keep the old value for
      // convergence counting — one more join and two more stages per
      // materialized round, measured round 21 at ~0.3s/round →
      // ~0.25s/round at sf0.1.)
      //
      // The self stream tags its own label as __old (null on neighbor
      // rows — max() recovers the unique non-null per id), so the
      // changed-row count can be OBSERVED on the round's one action
      // with no extra join: labels only ever decrease, so
      // final < __old ⇔ this round changed the row, and a null __old
      // (an out-of-contract endpoint appearing for the first time)
      // counts as a change so phantom chains keep the loop alive until
      // they stop producing new rows — exactly the rounds the previous
      // label-sum metric ran (a new row moved the sum; a decrease moved
      // the sum; nothing else did). Cost: one extra 8-byte slot per
      // union row through the id exchange, bought back with interest by
      // the probe below retiring the full zero-change confirmation
      // round.
      val nbr = sym
        .join(labels, sym("b") === labels("id"))
        .select(sym("a").as("id"), col("cluster"),
          lit(null).cast(labelType).as("__old"))
      val propagated = labels
        .select(col("id"), col("cluster"), col("cluster").as("__old"))
        .unionByName(nbr)
        .groupBy(col("id"))
        .agg(min(col("cluster")).as("cluster"), max(col("__old")).as("__old"))
      // pointer jump: my representative's representative is at least as
      // small as mine (labels only ever decrease), so chase one hop — a
      // lazy self-join inside the same action, before the round pays its
      // checkpoint. The jump reads the POST-propagation labels (fresh,
      // not the synchronous Shiloach–Vishkin read of round-start labels).
      val reps = propagated
        .select(col("id").as("rid"), col("cluster").as("rcluster"))
      val jumped = propagated
        .join(reps, propagated("cluster") === reps("rid"), "left")
        .select(propagated("id"),
          least(propagated("cluster"),
            coalesce(col("rcluster"), propagated("cluster"))).as("cluster"),
          propagated("__old"))
      val obs = new org.apache.spark.sql.Observation(s"cc_round_$it")
      val next = jumped
        .observe(obs,
          sum(when(col("__old").isNull || col("cluster") < col("__old"),
            lit(1L)).otherwise(lit(0L))).as("chg"),
          count(lit(1)).as("n"))
        .select(col("id"), col("cluster"))
        .localCheckpoint(true)
      // `next` is materialized (eager checkpoint), so the observation is
      // final and the previous round's table has no readers — free it.
      labels.unpersist()
      labels = next
      val n = obs.get("n").asInstanceOf[java.lang.Long].longValue
      val chg = if (n == 0L) 0L
        else obs.get("chg").asInstanceOf[java.lang.Long].longValue
      converged = chg == 0L
      // Endgame probe: a round that changed almost nothing is very
      // likely THE fixpoint already, and confirming that used to cost
      // one more full round (propagate + jump + checkpoint write) whose
      // only output was "zero changes". When the change count collapses
      // (≤ max(1, n/1000) — the regime where the propagation tail is
      // about to die), ask directly whether the labelling is already
      // edge-stable: a labelling is the fixpoint iff every edge's
      // endpoints agree (symmetric edges ⇒ labels uniform per
      // component ⇒ the pointer jump is also a no-op, since a
      // component's label is one of its member ids and that member
      // carries the same label). The probe reads the checkpointed label
      // table twice plus the cached edge list — no aggregate exchange,
      // no checkpoint write — and left joins so an endpoint MISSING
      // from the labelling (a phantom chain still populating) reads as
      // unstable rather than vacuously passing. A threshold miss only
      // costs one wasted cheap action; the answer is exact either way.
      if (!converged && chg <= math.max(1L, n / 1000L)) {
        val lb = labels
          .select(col("id").as("__bid"), col("cluster").as("__bc"))
        val la = labels
          .select(col("id").as("__aid"), col("cluster").as("__ac"))
        converged = sym
          .join(lb, sym("b") === col("__bid"), "left")
          .join(la, sym("a") === col("__aid"), "left")
          .filter(col("__ac").isNull || col("__bc").isNull ||
            col("__ac") =!= col("__bc"))
          .isEmpty
      }
      it += 1
    }
    sym.unpersist()
    if (!converged)
      // Partially-propagated labels are silently WRONG clusterings; with
      // pointer jumping maxIter=25 covers diameter 2^25, so hitting the
      // cap means a pathological input, not a tuning problem.
      throw new IllegalStateException(
        s"Components.minLabel did not converge in $maxIter rounds")
    // The returned frame is backed by the final checkpoint block (its
    // lineage is cut, so it must stay cached to remain readable); it is
    // freed by the ContextCleaner once the caller drops the reference.
    labels
  }

  /** Quality-aware survivor selection: instead of "keep the min id"
    * (minLabel's cluster label), keep each cluster's BEST document by a quality
    * score — the survivorship policy real pipelines want (dropping a
    * clean original in favor of a mangled near-copy with a smaller id
    * loses data quality for free).
    *
    * `labels`: (idCol, cluster) from minLabel; `scores`: (idCol,
    * scoreCol). Precondition (same style as minLabel's): one scores row
    * per id — a multi-row scores frame would duplicate documents in the
    * output; derive scores with one aggregate/projection per doc as x57
    * does. Returns (idCol, cluster, scoreCol, keep) with exactly one
    * keep=true per cluster, chosen by (score desc, id asc) — the id
    * tiebreak makes the cut deterministic in any engine.
    *
    * Scale shape: one equi-join on the id, then a window partitioned by
    * cluster — near-dup clusters are small (bounded by the near-dup
    * radius), so the per-partition sort is trivial and the only real
    * cost is the cluster-keyed exchange.
    */
  def canonicalByScore(labels: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    Seq("cluster", "__rn", "keep").foreach(n =>
      require(!scores.columns.contains(n),
        s"canonicalByScore reserves column name '$n' in scores; rename it"))
    // labels must carry `cluster` (it IS the input), but the working
    // and output names would be silently REPLACED by withColumn if the
    // caller's labels frame already had them
    Seq("__rn", "keep").foreach(n =>
      require(!labels.columns.contains(n),
        s"canonicalByScore reserves column name '$n' in labels; rename it"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labels.join(scores, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("keep", col("__rn") === 1)
      .drop("__rn")
  }
}
