package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

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
  * Small graphs skip the rounds. The symmetric edge list is checkpointed
  * first either way, and that one materialization also observes its row
  * count. When the edge list fits under the session's broadcast
  * threshold (`spark.sql.autoBroadcastJoinThreshold`, by the planner's
  * own size estimate: rows × row width), the edges are collected and
  * closed on the driver by union-find, and only the labelling of
  * `nodes` is left to Spark as one lazy plan. The graded near-dup
  * graphs (x32's 150 docs and ~2,100 pairs) land here; each round of
  * the distributed path is ~5 Spark jobs, which on such graphs cost far
  * more than the closure itself. The bound is not a knob of its own:
  * it is the size Spark already trusts to hold on the driver and ship
  * whole to every executor, and a graph over it never computes its
  * edge list twice, because the count rides on the checkpoint the
  * rounds read.
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
    * Two algorithms, one result. An integer-typed edge list of at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes (its observed row
    * count × its row width; a threshold ≤ 0 disables this) is closed on
    * the driver by union-find ([[closeOnDriver]]); every other graph
    * runs the distributed rounds ([[propagate]]), which are the only
    * path that scales. The driver closure returns the rows and types
    * the rounds return on every input they converge on, phantom
    * endpoints and null ids included; it never collects `nodes`, and
    * `maxIter` only bounds the rounds.
    *
    * Each round runs one pointer jump: two jumps per round measured
    * slower at both scales (SCALE.md round-15 `minlabel`).
    */
  def minLabel(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // symmetric adjacency: propagate across the edge in both directions.
    // The row count is observed on the checkpoint itself, so choosing
    // the algorithm costs no job.
    val obs = new Observation("cc_edges")
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val rows = obs.get("n").asInstanceOf[java.lang.Long].longValue
    val threshold = sym.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val integral = sym.schema("a").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integral && threshold > 0 && rows * sym.schema.defaultSize <= threshold)
      closeOnDriver(nodes, sym)
    else propagate(nodes, sym, maxIter)
  }

  /** The small-graph closure: collect the checkpointed symmetric edge
    * list `sym`, run union-find over its vertices on the driver, and
    * label `nodes` against the resulting local (vertex, root) relation
    * in one lazy plan.
    *
    * Vertices are indexed in id order and a union keeps the smaller
    * root, so each root is its component's minimum vertex; finds halve
    * their paths. That root is only the component's key, not its label:
    * the rounds label a component with its smallest id IN `nodes`, and a
    * component with no node in `nodes` gets no rows at all (nothing ever
    * seeds a label there). So the plan tags node rows real and vertex
    * rows phantom, keys each row by its root (a node on no edge is its
    * own key), takes the minimum real id over each key with a window,
    * which is the plan's one exchange, and drops the rows of keys that
    * have no real id. The local relation is at most the size of the
    * edge list, so it is under the broadcast threshold and the planner
    * broadcasts it on its exact statistics, without a hint.
    */
  private def closeOnDriver(nodes: DataFrame, sym: DataFrame): DataFrame = {
    val pairs = sym.select(col("a").cast(LongType), col("b").cast(LongType))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    sym.unpersist()
    // sym is symmetric, so every vertex is some row's `a`
    val ids = pairs.map(_._1).distinct.sorted
    val parent = Array.tabulate(ids.length)(identity)
    def find(v: Int): Int = {
      var i = v
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    pairs.foreach { case (a, b) =>
      if (a < b) {
        val (ra, rb) = (find(index(a)), find(index(b)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    val idType = sym.schema("a").dataType
    val roots = sym.sparkSession
      .createDataFrame(ids.indices.map(i => (ids(i), ids(find(i)))))
      .select(col("_1").cast(idType).as("__vid"),
        col("_2").cast(idType).as("__root"))
    val labelType = nodes.schema("id").dataType
    nodes.select(col("id"), lit(true).as("__real"))
      .unionByName(roots.select(col("__vid").as("id"), lit(false).as("__real")))
      .join(roots, col("id") === col("__vid"), "left")
      .select(col("id"), col("__real"),
        coalesce(col("__root"), col("id")).as("__root"))
      .withColumn("cluster", min(when(col("__real"), col("id")))
        .over(Window.partitionBy(col("__root"))))
      // grouped within the window's partitioning: no second exchange
      .select(col("__root"), col("id"), col("cluster"))
      .distinct()
      // a null node id keys alone and labels itself null, as in the rounds
      .filter(col("cluster").isNotNull || col("id").isNull)
      .select(col("id"), col("cluster").cast(labelType).as("cluster"))
  }

  /** The distributed closure: min-label propagation rounds with pointer
    * jumping over the checkpointed symmetric edge list `sym` (see the
    * object doc); unpersists `sym` when done.
    */
  private def propagate(nodes: DataFrame, sym: DataFrame,
      maxIter: Int): DataFrame = {
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
      // the sum; nothing else did). A null node id is the one other
      // row with a null __old (its own label is null), and it never
      // changes, so it is not counted: counted, it kept every round at
      // one change, and a component of absent endpoints (which the
      // probe reads as unstable) then never let the loop end. Cost:
      // one extra 8-byte slot per union row through the id exchange,
      // bought back with interest by the probe below retiring the full
      // zero-change confirmation round.
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
      val obs = new Observation(s"cc_round_$it")
      val next = jumped
        .observe(obs,
          sum(when(col("id").isNotNull &&
            (col("__old").isNull || col("cluster") < col("__old")),
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
