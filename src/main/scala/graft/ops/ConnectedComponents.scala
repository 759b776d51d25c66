package graft.ops

import graft.Cached
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Distributed connected components over an edge list — the step a
  * training-data pipeline needs right after near-dup pair generation:
  * pairs (da, db) say "these two documents are duplicates", components
  * turn that into dedup CLUSTERS (each doc labeled with the smallest
  * doc_id of its duplicate group, which becomes the canonical keeper).
  *
  * Execution is SIZE-ADAPTIVE (the GraphFrames-CC design): the edge
  * list is counted first, and a graph at or under `localEdgeThreshold`
  * edges is solved by driver-side union-find — a dedup pair graph is
  * orders of magnitude smaller than the corpus that produced it (pairs
  * only exist where banding collided), and iterating Spark jobs over a
  * few-hundred-node graph costs ~2s/round in pure scheduling for work a
  * union-find finishes in microseconds. Graphs too big to collect run
  * the distributed loop below. Both paths produce identical labels
  * (min-id per component; the union-find always points the larger root
  * at the smaller, so roots are component minima by construction).
  *
  * Distributed algorithm: min-label propagation with pointer jumping.
  * Every node starts labeled with itself; each round a node takes the
  * min of its own label and its neighbors' labels (one join + one
  * partial-agg shuffle), then labels are short-circuited through one
  * pointer jump label(n) := label(label(n)) (labels are always node
  * ids, so the jump is a self-join). The jump collapses label chains
  * geometrically, so rounds are O(log diameter) instead of
  * O(diameter) — on a 100 TB dedup graph (billions of edges, but
  * components are near-cliques of copies of the same source text) this
  * converges in 2-3 rounds, and even an adversarial path graph of
  * length 10^6 needs ~20.
  *
  * Everything is integer min-arithmetic — no floats — so a SQL oracle
  * (recursive-CTE transitive closure) matches bit-for-bit.
  *
  * Distributed-loop scale notes: per round it shuffles the edge list
  * once (neighbor join keyed by node) and the label table twice (agg +
  * jump); the driver sees only the changed-label count. Two details
  * keep the loop cheap:
  *
  *   - **Partitioning follows the edge count, not the session default.**
  *     The loop's shuffles run at ceil(edges / 64k) partitions (capped
  *     at the session setting): iterating a small label table at
  *     corpus-sized shuffle width costs more in task scheduling than in
  *     data movement (measured 11s -> 4s at sf0.1's 477-node graph
  *     under a 64-partition session, before the driver path made it
  *     milliseconds).
  *   - **The convergence check rides the materialization job.** The
  *     changed-label count is an `observe()` metric on the same plan
  *     that the per-round `localCheckpoint` executes, so each round is
  *     ONE job — not a separate join-and-count against the previous
  *     labels.
  *
  * The label table is lineage-truncated every round (localCheckpoint —
  * swap for checkpoint() on a real cluster where executor loss must be
  * survivable): without truncation the iterated plan tree doubles per
  * round and the driver OOMs just *printing* it. Superseded label
  * blocks are dropped by Spark's ContextCleaner once unreferenced.
  */
object ConnectedComponents {

  /** Target rows per shuffle partition inside the loop; the label/edge
    * tables are narrow (two longs), so 64k rows is ~1 MB a partition —
    * small enough to never spill, big enough to amortize task launch. */
  private val RowsPerPartition = 65536L

  /** Default cutover to driver-side union-find: 1M edges collect (via
    * the primitive tuple encoder) to ~60 MB of boxed pairs — inside any
    * realistic driver, milliseconds to solve, and far above every dedup
    * graph the contract corpora produce. */
  val DefaultLocalEdgeThreshold: Long = 1L << 20

  /** Components of the undirected graph given by `edges` (columns
    * (`srcCol`, `dstCol`), any orientation, duplicates fine; ids are
    * cast to long). Returns one row per node appearing in an edge:
    * (node, component) where component = min node id reachable.
    * Isolated nodes never appear in an edge list, so callers wanting
    * them must union singletons.
    *
    * Throws IllegalStateException if the distributed loop hits
    * `maxRounds` before converging — partial labels are WRONG labels,
    * and with pointer jumping the default 50 rounds covers graphs of
    * diameter ~2^50, so hitting the cap means something is broken, not
    * slow.
    *
    * @param localEdgeThreshold raw-edge-count cutover below which the
    *        graph is collected and solved on the driver; 0 forces the
    *        distributed loop (used by tests and oversized-driver
    *        deployments)
    */
  def components(edges: DataFrame, srcCol: String = "a", dstCol: String = "b",
                 maxRounds: Int = 50,
                 localEdgeThreshold: Long = DefaultLocalEdgeThreshold): DataFrame = {
    val spark = edges.sparkSession
    val e2 = Cached.keep(edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")))
    val rawEdges = e2.count()
    try {
      if (rawEdges <= localEdgeThreshold) localComponents(spark, e2)
      else distributedComponents(spark, e2, maxRounds)
    } finally e2.unpersist(false)
  }

  /** Driver-side union-find with union-by-min (larger root attaches
    * under smaller), so every root is its component's minimum id —
    * identical labels to the distributed loop. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              e2: DataFrame): DataFrame = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    import spark.implicits._
    e2.as[(Long, Long)].collect().foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted.map(n => (n, find(n))).toDF("node", "component")
  }

  private def distributedComponents(spark: org.apache.spark.sql.SparkSession,
                                    e2: DataFrame, maxRounds: Int): DataFrame = {
    // the loop runs on a CLONED session (shared context + cached blocks,
    // own conf): sizing spark.sql.shuffle.partitions on the caller's
    // session would resize any query another thread plans concurrently
    val s2 = spark.newSession()
    val sym = Cached.keep(s2.createDataFrame(e2.rdd, e2.schema)
      .union(s2.createDataFrame(e2.select(col("b").as("a"), col("a").as("b")).rdd, e2.schema))
      .distinct())
    // materializes sym AND sizes the loop's shuffles to the graph
    val edgeCount = sym.count()
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    val loopParts = math.max(1L, math.min(sessionParts.toLong,
      (edgeCount + RowsPerPartition - 1) / RowsPerPartition)).toInt
    s2.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    try {
      var labels = sym.select(col("a").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
        .localCheckpoint()

      var changed = 1L
      var round = 0
      while (changed > 0 && round < maxRounds) {
        // each node pulls its neighbors' current labels, keeps the min
        val nbrMin = sym.join(labels, sym("b") === labels("node"))
          .groupBy(sym("a").as("node")).agg(min("label").as("nl"))
        // left join keeps nodes with no neighbor update AND carries the
        // previous label along as `old` for the convergence metric
        val prop = Cached.keep(labels.select(col("node"), col("label").as("old"))
          .join(nbrMin, Seq("node"), "left")
          .select(col("node"), col("old"),
            least(col("old"), coalesce(col("nl"), col("old"))).as("label")))
        // pointer jump: labels are node ids, so label(label(n)) is defined
        val jmap = prop.select(col("node").as("jn"), col("label").as("jl"))
        val jumped = prop.join(jmap, prop("label") === jmap("jn"), "left")
          .select(prop("node"), prop("old"),
            least(prop("label"), coalesce(col("jl"), prop("label"))).as("label"))
        // ONE job: the localCheckpoint materialization also collects the
        // changed-count metric (no separate count job, no join with the
        // previous round's labels)
        val obs = Observation(s"cc_round_$round")
        val next = jumped
          .observe(obs, coalesce(
            sum(when(col("label") =!= col("old"), 1L).otherwise(0L)), lit(0L)).as("changed"))
          .select(col("node"), col("label"))
          .localCheckpoint() // truncate lineage: iterated plans grow 2x/round
        changed = obs.get("changed").asInstanceOf[Long]
        prop.unpersist(false)
        labels = next
        round += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"connected components did not converge after $maxRounds rounds " +
            s"($changed labels still changing) — partial labels would be wrong")
      labels.select(col("node"), col("label").as("component"))
    } finally {
      sym.unpersist(false)
      // restore the clone's shuffle width: the returned labels frame is
      // bound to s2, and Spark plans at ACTION time — without the reset a
      // caller's downstream write/join on the result would run at the
      // loop's tiny partition count
      s2.conf.set("spark.sql.shuffle.partitions", sessionParts.toString)
    }
  }

  /** Dedup policy over near-dup pairs: every document in a duplicate
    * cluster maps to the cluster's canonical keeper (the smallest
    * doc_id). Docs not in any pair are their own keeper and are NOT
    * returned (identity mapping is implicit). */
  def dedupClusters(pairs: DataFrame): DataFrame =
    components(pairs, srcCol = "da", dstCol = "db")
      .select(col("node").as("doc_id"), col("component").as("keep_id"))
}
