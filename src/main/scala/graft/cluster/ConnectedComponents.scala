package graft.cluster

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C1 + C2 — union-find as distributed connected components
  * (SURVEY.md §2.7).
  *
  * The reference's mutable `parent[]` with path compression
  * (`/root/reference/lsh_based_clustering.py:210-229,399-418`) has no shared
  * state on a cluster. We use the alternating large-star / small-star
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) which converges in O(log² n) rounds even on path graphs
  * — crucial because our bucket chaining (V4) emits chains whose diameter
  * grows with cluster size, where naive min-propagation would need O(n)
  * rounds.
  *
  * Each star step is a window-min + projection + distinct — NO
  * `collect_list`, so a mega-node's neighborhood never has to fit in one
  * task's memory. The surviving label is the component MINIMUM, matching the
  * reference's min-center union convention (`:413`).
  */
object ConnectedComponents {

  /** One large-star step: every node connects its larger neighbors to the
    * neighborhood minimum. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
    val w = Window.partitionBy("u")
    sym
      .withColumn("mn", least(col("u"), min(col("v")).over(w)))
      .where(col("v") > col("u"))
      .select(col("v").as("a"), col("mn").as("b"))
      .where(col("a") =!= col("b"))
    // no distinct here: smallStar dedups at its end; dropping it removes a
    // full shuffle per iteration (duplicate edges are rare on chain graphs)
  }

  /** One small-star step: orient edges to the smaller endpoint; every node
    * connects its smaller neighbors (and itself) to the minimum. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
    val w = Window.partitionBy("u")
    val withMin = oriented.withColumn("mn", min(col("v")).over(w))
    val reattached = withMin
      .where(col("v") =!= col("mn"))
      .select(col("v").as("a"), col("mn").as("b"))
    val self = withMin.select(col("u").as("a"), col("mn").as("b"))
    reattached.unionAll(self)
      .where(col("a") =!= col("b"))
      .distinct()
  }

  /** Default edge cap for the driver union-find fast path (see
    * [[components]]): the bound is on the probe's raw rows, the spanning
    * forest of each edge partition (at most one row per input edge). Graphs
    * whose forest rows fit under it are solved with the reference's own
    * parent-array union-find on the driver
    * (`lsh_based_clustering.py:210-229`) instead of the
    * iterative star rounds. 200k rows ≈ 3.2 MB of longs —
    * a bounded, scale-independent driver allocation, while the star loop
    * costs O(log n) Spark jobs of ~6 stages each, which dominates wall time
    * on fixture-scale graphs by 10×+ (guide §1.2: fix the distributed
    * algorithm first — here the fix is to not distribute a 3 MB problem).
    * The same cap bounds the CC of the pipeline's one state update
    * (Pipeline.advance): round 0's edges and every macro pass's label
    * graph. Override per session with
    * `spark.graft.cc.driverUnionFindMaxEdges` (0 disables the fast path);
    * beyond the cap the distributed loop runs exactly as before, so 100 TB
    * behavior is unchanged. */
  val DefaultDriverUnionFindMaxEdges: Long = 200000L

  /** The session's edge cap. An override above the largest probe size
    * (`Int.MaxValue - 1`) is clamped to it, so it still takes the fast
    * path, and a non-numeric one falls back to the default; both print a
    * named warning. */
  private def driverCap(spark: SparkSession): Long = {
    val key = "spark.graft.cc.driverUnionFindMaxEdges"
    val raw = spark.conf.get(key, DefaultDriverUnionFindMaxEdges.toString)
    val maxCap = Int.MaxValue - 1L
    raw.trim.toLongOption match {
      case Some(cap) if cap > maxCap =>
        System.err.println(s"[graft] CC CAP CLAMPED: $key=$raw exceeds the largest " +
          s"driver probe; using $maxCap.")
        maxCap
      case Some(cap) => cap
      case None =>
        System.err.println(s"[graft] CC CAP IGNORED: $key=\"$raw\" is not an integer; " +
          s"using the default $DefaultDriverUnionFindMaxEdges.")
        DefaultDriverUnionFindMaxEdges
    }
  }

  /** Reference parent-array union-find with path compression + min-center
    * union (`:210-229,:413`) over a bounded edge list; returns every node
    * mapped to its component minimum (roots included). */
  private[cluster] def driverUnionFind(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (pa, pb) = (find(a), find(b))
      if (pa != pb) parent.put(math.max(pa, pb), math.min(pa, pb)) // min-center
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](edges.length * 2)
    val seen = new java.util.HashSet[Long](edges.length * 2)
    edges.foreach { case (a, b) =>
      if (seen.add(a)) out += ((a, find(a)))
      if (seen.add(b)) out += ((b, find(b)))
    }
    out.toArray
  }

  /** Each partition of `edges` reduced to a spanning forest by
    * [[driverUnionFind]]: one `(v, local root)` row per non-root, and
    * `(v, v)` for a node whose only edges are self-loops. Every edge's two
    * endpoints share a local root, so the forest has the components, the
    * minimum labels and the node set of `edges`, and never more rows than
    * the partition has edges. Built on the row RDD: a typed
    * `Dataset.mapPartitions` pays encoder codegen on every cold JVM. */
  private def spanningForest(edges: DataFrame): RDD[(Long, Long)] =
    edges.select("a", "b").queryExecution.toRdd.mapPartitions { rows =>
      val local = driverUnionFind(rows.map(r => (r.getLong(0), r.getLong(1))).toArray)
      val roots = local.iterator.collect { case (v, r) if v != r => r }.toSet
      local.iterator.filter { case (v, r) => v != r || !roots(r) }
    }

  /** Run to fixpoint. Input: edge DataFrame with long columns (a, b).
    * Output: (row_id, cluster_id) for every node occurring in `edges`,
    * cluster_id = component minimum. Throws `IllegalStateException` if the
    * star loop has not converged after `maxIter` star-pairs.
    *
    * Small graphs short-circuit to a driver union-find. The probe reduces
    * each partition of the normalized edges to its spanning forest
    * ([[spanningForest]]) and takes `cap + 1` rows; when the forest rows fit
    * under [[DefaultDriverUnionFindMaxEdges]] (or the session override), the
    * union-find over them replaces the whole star loop (each iteration of
    * which is a localCheckpoint materialization + a signature job ≈ 6
    * stages). The output clustering is identical — both algorithms produce
    * the component-minimum label (spec-pinned against the same oracle).
    * When the forest overflows the cap, the star loop runs on the original
    * edges, unchanged. The probe's `take(cap+1)` fully materializes the
    * lazy checkpoint (LocalRDDCheckpointData computes missing partitions at
    * job end), so the distributed fallback loses nothing: its first
    * signature job reads cached blocks either way.
    *
    * `retire` (round 5, tightened round 6): invoked after EVERY star-pair
    * materialization, once the superseded iteration state is freed —
    * callers that retire shuffle files explicitly (Pipeline) pass their
    * pass-boundary retire hook so CC's own star-round shuffles (≈6 × |E|
    * rows per star-pair — the dominant in-flight scratch at 32M+ edges)
    * are reclaimed as the fixpoint loop advances instead of piling up
    * until the pass ends. Round 6 moved from two star-pairs per
    * convergence check to one: the 64M df trace put the run's 74.8 GB
    * peak-scratch moment exactly at round-0 CC (BENCH.md), and with two
    * lazily-chained pairs per signature job BOTH pairs' star shuffles
    * (~12 × |E| rows) were in flight at once. One pair per job halves
    * that window to ~6 × |E|, costs the same total star-pair work (the
    * job count doubles but each job does half the pairs), and detects
    * convergence one pair earlier.
    * Contract: safe because `cur`/`mid`/`next` are localCheckpoint'ed
    * (lineage truncated at materialization) and the input `edges` must be
    * checkpoint-backed or keep-set-backed, which every retiring caller
    * guarantees (see ShuffleRetirement's safety contract).
    *
    * `inputNormalized` (round 8, guide §2.4 — remove shuffles outright):
    * a caller that ALREADY provides (a < b)-normalized, distinct,
    * self-loop-free edges may set it to skip the normalize+distinct
    * prologue — at 32M rows that prologue is a full exchange of ~108M
    * verified-pair rows plus a ~GBs localCheckpoint materialization at
    * the exact moment the run's scratch disk peaks (the round-0 crest,
    * BENCH.md round 8). When set, `edges` is used as iteration state
    * directly and is NEVER unpersisted here (the caller owns it); a lazy
    * (neither checkpointed nor cached) input that reaches the star loop is
    * localCheckpointed first, so its query runs at most twice (probe and
    * checkpoint), not once per reader. The
    * flag is a pure optimization even on contract breach: the star steps
    * filter self-loops and re-distinct internally, so a non-normalized
    * input converges to the same labels, just without the saved shuffle
    * (spec-pinned). */
  def components(spark: SparkSession, edges: DataFrame, maxIter: Int = 100,
                 retire: () => Unit = () => (),
                 inputNormalized: Boolean = false): DataFrame = {
    // LAZY localCheckpoint: truncates the LOGICAL plan immediately (the
    // star steps union branches, so an un-truncated plan tree grows
    // exponentially with iterations) while the signature aggregation
    // doubles as the single materializing job per iteration — an eager
    // checkpoint would cost a second job.
    var cur =
      if (inputNormalized) edges
      else edges
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint(false)
    // the caller owns an inputNormalized relation — never unpersist it
    var curOwned = !inputNormalized

    val cap = driverCap(spark)
    if (cap > 0) {
      import spark.implicits._
      // the probe reads each partition's spanning forest, not its raw edges:
      // dense groups collapse to one row per non-root, so a graph whose raw
      // edges overflow the cap can still be solved on the driver
      val probe = spanningForest(cur).take(cap.toInt + 1)
      if (probe.length <= cap) {
        // the probe materialized `cur`, so every candidate-generation
        // shuffle upstream of the checkpoint is dead — let the caller
        // reclaim them now, exactly like a star-round boundary
        retire()
        val assignPairs = driverUnionFind(probe)
        // LocalRelation output: small (≤ 2·cap rows), broadcastable by the
        // planner, and a no-op for Checkpoints.unpersistCheckpoint (no
        // LogicalRDD leaf) — callers' free-the-result contract still holds
        val out = assignPairs.toSeq.toDF("row_id", "cluster_id")
        if (curOwned) graft.util.Checkpoints.unpersistCheckpoint(cur)
        return out
      }
      // fall through: > cap forest rows — distributed star loop below, on
      // the original edges
      // (the probe already paid a checkpointed cur's materialization, which
      // the first signature job would otherwise pay)
    }
    // A lazy inputNormalized query (DocDedup's verify joins, macroStep's
    // label graph) would re-run for the signature AND the first star step:
    // checkpoint it so the signature job below runs it once and the star
    // steps read the blocks.
    if (!curOwned && !isStored(cur)) {
      cur = cur.localCheckpoint(false)
      curOwned = true
    }

    var converged = false
    var iter = 0
    var curSig = signature(cur)
    if (curSig._1 == 0) { // no edge, no component: a local result, as the driver path's
      if (curOwned) graft.util.Checkpoints.unpersistCheckpoint(cur)
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("row_id", "cluster_id")
    }
    while (!converged && iter < maxIter) {
      // ONE star-pair per convergence check (see `retire` doc above): the
      // signature job materializes exactly one pair's star shuffles before
      // the previous pair's are retired, halving CC's in-flight scratch
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextSig = signature(next) // materializes next
      // bounded retention: superseded iteration state is freed immediately —
      // driver-GC-only release accumulated ~50 GB on long runs (round-1
      // scale blocker at 8–16M rows)
      if (curOwned) graft.util.Checkpoints.unpersistCheckpoint(cur)
      retire()
      converged = nextSig == curSig
      cur = next
      curOwned = true
      curSig = nextSig
      iter += 1
    }
    if (!converged) // a partial star forest is not a clustering
      throw new IllegalStateException(
        s"ConnectedComponents: star loop did not converge in $maxIter iterations")

    // Fixpoint is a star forest: non-roots appear once as `a` pointing at the
    // root; roots appear only as `b`. The output is EAGERLY checkpointed so
    // every internal iteration block can be freed here and the caller can
    // free the (small) result once it has folded it into its own state.
    val out = cur
      .select(col("a").as("row_id"), col("b").as("cluster_id"))
      .unionAll(cur.select(col("b").as("row_id"), col("b").as("cluster_id")))
      .distinct()
      .localCheckpoint()
    if (curOwned) graft.util.Checkpoints.unpersistCheckpoint(cur)
    out
  }

  /** Whether `df` reads stored rows — a checkpoint or a cached relation —
    * rather than re-running its query on every action. */
  private def isStored(df: DataFrame): Boolean = df.queryExecution.withCachedData match {
    case _: LogicalRDD | _: InMemoryRelation => true
    case _ => false
  }

  /** Whether a [[components]] result is empty, read with no Spark job: an
    * empty result is always a LocalRelation (the driver path's, or the star
    * loop's on an edgeless graph), and a star-loop checkpoint never is. */
  private[cluster] def isEmpty(comps: DataFrame): Boolean =
    comps.queryExecution.analyzed.collectLeaves() match {
      case Seq(local: LocalRelation) => local.data.isEmpty
      case _ => false
    }

  /** Cheap convergence fingerprint: (count, xor of edge hashes) — xor is
    * order-independent and cannot overflow under ANSI mode. */
  private def signature(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(
      count(lit(1)).as("c"),
      coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Full assignment over a row universe: nodes absent from `edges` are their
    * own singleton cluster (the reference's initial `parent[i] = i`). */
  def assign(rows: DataFrame, comps: DataFrame): DataFrame =
    rows.select("row_id")
      .join(comps, Seq("row_id"), "left")
      .select(col("row_id"),
        coalesce(col("cluster_id"), col("row_id")).as("cluster_id"))
}
