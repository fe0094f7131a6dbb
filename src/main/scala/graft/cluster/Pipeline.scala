package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.feat.MinHash
import graft.lsh.{Banding, VerifyPairs}
import graft.model.GraftConfig

/** End-to-end near-duplicate clustering pipeline (SURVEY.md §3, §7).
  *
  * Phase structure mirrors the reference's `run()`
  * (`/root/reference/lsh_based_clustering.py:697-711`):
  *   1. featurize       (pre_step :120-152)      — one mapPartitions pass
  *   2. chunk phase     (chunk_partitioning :441) — fused substring rounds
  *   3. LSH banding     (clustering_in_chunks :550) — fused L rounds, global
  *   4. final clustering (final_clustering :567)  — macro rounds over the
  *      focus set (singles + per-cluster score reps), fresh lane subsets
  *      each macro round, until the work rate collapses (C5/C6).
  *
  * Where the reference loops hundreds of sequential micro-rounds, we fuse
  * every feedback-free group of rounds into ONE Spark job (banding is a
  * monotone OR-construction — SURVEY.md §7.3), keeping the driver loop only
  * where the reference genuinely feeds back state (focus-set refresh).
  *
  * Round-3 latency-floor fixes (VERDICT r2 #1/#3): pipeline state is ONE
  * relation `(row_id, cluster_id, score)`, the reference's cluster map
  * (`C_til`, `:134`) as rows — cluster sizes and singles are read off it
  * where needed, never kept beside it; round 0 and every macro pass update
  * it through one step ([[advance]]), which keeps the state when CC merges
  * nothing; and when the focus set is small, CONSECUTIVE MACRO ROUNDS ARE
  * FUSED into a single pass — round j of a fused pass samples (singles ∪
  * rank-of-j reps) × round-j's L lane subsets, so the pass emits exactly
  * the union of the sequential rounds' candidate draws from ONE explode
  * (each focus row over the bands its rank draws in the pass,
  * [[Banding.explodePassBands]]) feeding one chain/verify/CC, instead of T
  * sequential passes.
  */
object Pipeline {

  final case class PhaseStat(
      phase: String,
      macroRound: Int,
      verifiedPairs: Long,
      clusters: Long,
      singles: Long,
      workRate: Double,
      seconds: Double = 0.0)

  final case class Result(
      assign: DataFrame, // (row_id, cluster_id)
      scores: DataFrame, // (row_id, score) — A6
      features: DataFrame, // hot cache: (row_id, minhash, phash)
      captions: DataFrame, // cold cache: (row_id, caption), DISK_ONLY
      stats: Seq[PhaseStat])

  /** The run's two caches (see [[buildCaches]]), their row count, the
    * typical caption length, and the shuffles that back them — the keep
    * set of every shuffle retirement. */
  private[graft] final case class Caches(features: DataFrame, captions: DataFrame, n: Long,
                                         capLen: Int, keep: Set[Int])

  /** A2 — (clusters, singles) of the pass state `rel`, in one query: the
    * cluster map is `rel.groupBy(cluster_id)` (SURVEY.md A2). */
  private def clusterStats(rel: DataFrame): (Long, Long) = {
    val r = rel.groupBy("cluster_id").count()
      .agg(count(lit(1)), sum(when(col("count") === 1, 1L).otherwise(0L))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** C5 — the focus set of a pass whose rounds sample rep ranks up to
    * `maxRank + 1`: every single (rk 0) and each multi cluster's reps of
    * rank ≤ maxRank + 1 (rk = rank), the reference's cycling r
    * (`:623-628`); reps are score-ranked, ties by row_id. One window over
    * the pass state gives each row its cluster size and rank: both
    * functions share one spec, so the plan is one exchange on cluster_id,
    * one sort and one Window operator. */
  private[graft] def focus(rel: DataFrame, maxRank: Int): DataFrame = {
    val wRank = Window.partitionBy("cluster_id").orderBy(col("score").desc, col("row_id"))
    val whole = wRank.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rel.select(col("row_id"), count(lit(1)).over(whole).as("sz"), row_number().over(wRank).as("rn"))
      .where(col("sz") === 1 || col("rn") <= maxRank + 1)
      .select(col("row_id"), when(col("sz") === 1, lit(0)).otherwise(col("rn")).as("rk"))
  }

  /** A6 — score accumulation: +1 per verified-pair endpoint (`:546-547`). */
  private def endpointCounts(verified: DataFrame): DataFrame =
    verified.select(explode(array(col("a"), col("b"))).as("row_id"))
      .groupBy("row_id").agg(count(lit(1)).as("score"))

  /** C6 — adaptive round control (reference `:123-125,602,649-657`), scaled
    * to fused macro rounds (1 macro round = L micro rounds):
    *   micro budget   = max(⌈n^(1/2.2)⌉, 300)           (`:602`, min_rounds)
    *   work_in_bad    = ⌈n^(1/5)⌉ singles per micro      (`:125`)
    *   allowed_bad    = clamp(⌈1e7/n⌉, 4, 1000) micros   (`:123`)
    * A macro round is "bad" when it resolves ≤ L·work_in_bad singles; the
    * run stops once ⌈allowed_bad/L⌉ consecutive bad macro rounds have
    * occurred AND ⌈300/L⌉ macro rounds have run (the reference's min_rounds
    * gate — on small inputs bad rounds are cheap, so the budget is patient).
    * Documented divergence: singles == 0 stops immediately; the reference
    * idles to min_rounds because its micro round is nearly free, whereas a
    * Spark macro round carries fixed job overhead and with no singles the
    * focus holds only cluster reps, which the completed rounds' L fresh lane
    * subsets each already sampled.
    *
    * Pass fusion (round 3): `passSize` returns how many consecutive macro
    * rounds the next pass may fuse — up to the next stop-decision point
    * (min-rounds boundary, then the remaining bad-round patience), further
    * capped so the fused explode stays ≤ `cfg.fusedBandRowCap` rows
    * (T × L × |focus|). A fused pass of T rounds that resolves
    * ≤ T·work_in_bad singles counts as T consecutive bad rounds (if it
    * resolved more, the run is making progress and the counter resets —
    * marginally MORE patient than the sequential rule when work is skewed
    * inside the pass, which is the recall-safe direction).
    *
    * `cfg.maxMacroRounds > 0` is an explicit override (tests, bounded runs):
    * fixed budget, the per-round work-rate stop, NO fusion — exactly the
    * round-1 behavior. */
  final case class RoundControl(cfg: GraftConfig, n: Long) {
    private val l = cfg.bandRounds
    val maxMacro: Int =
      if (cfg.maxMacroRounds > 0) cfg.maxMacroRounds
      else math.ceil(math.max(math.ceil(math.pow(n.toDouble, 1.0 / 2.2)), 300.0) / l).toInt
    val workInBadMacro: Long = l * math.ceil(math.pow(n.toDouble, 0.2)).toLong
    val allowedBadMacro: Int =
      math.max(1, math.ceil(math.min(math.max(1e7 / n.toDouble, 4.0), 1000.0) / l).toInt)
    val minMacro: Int = math.ceil(300.0 / l).toInt

    /** How many consecutive macro rounds the next pass may fuse, given the
      * current bad-round count and an estimate of the focus-set size
      * (|focus| ≤ clusters: all singles + one rep per multi cluster). */
    def passSize(macroItr: Int, bad: Int, focusEst: Long): Int =
      if (cfg.maxMacroRounds > 0) 1 // explicit mode: per-round stop checks
      else {
        val stopWindow =
          if (macroItr <= minMacro) minMacro - macroItr + 1
          else math.max(1, allowedBadMacro - bad)
        val volCap = math.max(1L, math.min(
          cfg.fusedBandRowCap / math.max(1L, l.toLong * math.max(focusEst, 1L)),
          1024L)).toInt
        math.max(1, Seq(stopWindow, volCap, maxMacro - macroItr + 1).min)
      }

    /** Fold one finished pass (rounds `rounds`) into the control state.
      * Returns (new bad-round count, stop?). */
    def stepPass(bad: Int, rounds: Seq[Int], prevSingles: Long, stat: PhaseStat): (Int, Boolean) = {
      val nbad =
        if (cfg.maxMacroRounds > 0) 0
        else if (prevSingles - stat.singles <= rounds.size * workInBadMacro) bad + rounds.size
        else 0
      (nbad, stopped(nbad, rounds.last, stat.workRate))
    }

    /** The stop decision after a pass ending at `lastRound` that left `bad`
      * consecutive bad rounds and work rate `workRate` — also how a resumed
      * run decides whether its last saved pass already stopped the run. */
    def stopped(bad: Int, lastRound: Int, workRate: Double): Boolean =
      if (cfg.maxMacroRounds > 0) workRate < cfg.minWorkRate
      else bad >= allowedBadMacro && lastRound >= minMacro
  }

  /** Exact-duplicate collapse (round-2 scale fix). Web-scale corpora are
    * duplicate-heavy, and every exact-duplicate row multiplies the L×n
    * explode, the candidate set and the verification join for no
    * information: rows sharing (caption, phash) are instead linked by
    * salted identity chains — pairs that verify trivially (Dice 1, lev 0,
    * hamming 0) — and only the min-row_id representative of each identity
    * class enters candidate generation/verification. CC over
    * identity ∪ verified edges restores full connectivity, so the output
    * clustering is IDENTICAL to running on all rows (the reference merges
    * identical strings through the same sort-adjacency chaining, `:639-641`;
    * this hoists those merges out of the hot path). Exact string keys in
    * the window — no hash, no collision risk.
    *
    * ONE query over one read of the corpus: [[Banding.chainPredecessors]]
    * gives each row its chain predecessor `x`, and the representative is
    * the minimum of the class's shard minima, taken by a window with the
    * second chain window's partitioning (no extra exchange or sort). The
    * (x, row_id, rep) rows — one per input row — are eagerly
    * localCheckpoint'ed, not merely persisted (ADVICE r4): they stay live
    * across the round-0 batch loop's mid-pass shuffle retirements, and a
    * persisted-only cache there would hold shuffle-backed lineage it could
    * no longer recompute through.
    *
    * Returns (identity edges; representative row ids — two projections of
    * the one checkpoint, each freed via
    * [[graft.util.Checkpoints.unpersistCheckpoint]]; duplicate count
    * = n − |reps|). */
  private[graft] def collapseExactDups(features: DataFrame, captions: DataFrame,
      saltShards: Int): (DataFrame, DataFrame, Long) = {
    val chained = exactDupChains(features, captions, saltShards).localCheckpoint()
    val linked = chained.where(col("x").isNotNull)
    val identity = linked
      .select(least(col("x"), col("row_id")).as("a"), greatest(col("x"), col("row_id")).as("b"))
    val repIds = chained.where(col("rep")).select("row_id")
    val nDup = linked.count() // cheap checkpoint scan
    (identity, repIds, nDup)
  }

  /** The (x, row_id, rep) query [[collapseExactDups]] checkpoints. */
  private[graft] def exactDupChains(features: DataFrame, captions: DataFrame,
      saltShards: Int): DataFrame = {
    // both caches are hash-partitioned on row_id, so this join is
    // exchange-free; it is the ONE full-corpus caption scan of round 0
    val salted = features.select(col("row_id"), col("phash"))
      .join(captions, "row_id")
      .withColumn("salt", pmod(xxhash64(col("row_id")), lit(saltShards)))
    val keys = Seq("caption", "phash")
    val minima = Window.partitionBy((keys :+ "k").map(col): _*).orderBy("salt", "row_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Banding.chainPredecessors(salted, keys)
      .select(col("x"), col("row_id"),
        (col("k") === -1L && col("row_id") === min("row_id").over(minima)).as("rep"))
  }

  /** Rep-id sets up to this many rows ride a broadcast hint so the feature
    * relation is filtered without a shuffle; beyond it (≈ a few hundred MB
    * as a LongHashedRelation) the hint would bypass Spark's broadcast-size
    * safety and OOM the driver/executors, so we fall back to a shuffle join
    * (ADVICE r2). */
  private[graft] val RepBroadcastMaxRows = 4000000L

  /** The score-delta relation holds one row per DISTINCT verified-pair
    * endpoint — at most 2·nVerified rows — so it may ride a broadcast hint
    * only when that bound stays within [[RepBroadcastMaxRows]] (VERDICT r3
    * #3: the round-3 gate allowed up to 4× the documented cap) and within
    * the `n` rows of the state it joins. The state is hash-partitioned on
    * row_id, so without the hint only the deltas shuffle; a broadcast pays
    * when it spares sorting a much larger state, and adds one stage for
    * nothing once the deltas can be as large as the state (round 0 of a
    * duplicate-heavy corpus: a 757,494-row bound against 83,025 rows at
    * 8,000 groups). */
  private[graft] def deltasBroadcastable(nVerified: Long, n: Long): Boolean =
    2L * nVerified <= math.min(RepBroadcastMaxRows, n)

  /** Runs `f` with AQE off and 16 static shuffle partitions when `small`,
    * restoring both session confs afterwards. Its one caller is the frozen
    * `SparkEntry.smallJob`, which wraps the fixture document queries
    * (DocDedup, doc CC, metrics) whose inputs are too small for adaptive
    * replanning to pay for itself. The pipeline's own passes run under the
    * session's conf.
    *
    * CONCURRENCY (ADVICE r4): the flip mutates SESSION-GLOBAL runtime conf,
    * so a concurrent query on the same SparkSession would silently observe
    * AQE off / 16 shuffle partitions, and nested or parallel use races the
    * save-and-restore. Callers that share a session across threads should
    * run on `spark.newSession()` instead. */
  private[graft] def withSmallPassConf[A](spark: SparkSession, small: Boolean)(f: => A): A =
    if (!small) f
    else {
      val conf = spark.conf
      val aqe = conf.get("spark.sql.adaptive.enabled", "true")
      val parts = conf.get("spark.sql.shuffle.partitions", "200")
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.shuffle.partitions", "16")
      try f finally {
        conf.set("spark.sql.adaptive.enabled", aqe)
        conf.set("spark.sql.shuffle.partitions", parts)
      }
    }

  /** Measured hot-cache footprint (features cache after the round-5 diet:
    * row_id + phash + 40 32-bit minhash lanes + row overhead), BENCH.md:
    * ~186–196 B/row across 2M–64M corpora; `MeasurementSpec` pins it on the
    * e2e fixture. Used only by the heap-pressure warning below. */
  private[graft] val HotCacheBytesPerRow = 200L

  /** VERDICT r7 "what's wrong" #2 — name the misconfiguration before it
    * crashes: when the JVM's managed memory pool is smaller than the
    * estimated hot-cache footprint, heavy eviction makes lazily-
    * checkpointed iteration state lose blocks, and the recompute can walk
    * retained lineage into already-retired shuffles — surfacing as a
    * cryptic blockmgr ENOENT mid-CC (three CcScratchBench crashes at
    * default heap, round 7). Returns the warning it printed, if any, so a
    * spec can pin the guard. Heap ∝ data remains the protocol; this turns
    * a violation into a diagnosed warning instead of a mystery crash.
    *
    * Only a `local` master is checked: elsewhere the caches live in the
    * executors' heaps, which this JVM's max memory says nothing about. */
  private[graft] def heapPressureWarning(spark: SparkSession, n: Long): Option[String] =
    if (!spark.sparkContext.isLocal) None
    else heapPressureWarning(n, spark.conf.get("spark.memory.fraction", "0.6"))

  /** The check above for a raw `spark.memory.fraction` value; a value that
    * is not a number in (0, 1] is ignored, with a named warning, for
    * Spark's default 0.6. */
  private[graft] def heapPressureWarning(n: Long, fractionConf: String): Option[String] = {
    val frac = fractionConf.trim.toDoubleOption.filter(f => f > 0 && f <= 1).getOrElse {
      System.err.println("[graft] MEMORY FRACTION IGNORED: spark.memory.fraction=" +
        s"\"$fractionConf\" is not a number in (0, 1]; the heap-pressure check uses 0.6.")
      0.6
    }
    val pool = (Runtime.getRuntime.maxMemory() * frac).toLong
    val est = n * HotCacheBytesPerRow
    if (est > pool) {
      val msg = f"[graft] HEAP PRESSURE: estimated hot-cache footprint " +
        f"${est / 1e9}%.1f GB (n=$n × $HotCacheBytesPerRow B/row, measured) exceeds the " +
        f"managed pool ${pool / 1e9}%.1f GB (heap × spark.memory.fraction=$frac). " +
        "Under this pressure lazily-checkpointed iteration state can lose " +
        "blocks and recompute into retired shuffles (blockmgr ENOENT " +
        "mid-CC). Size the driver heap to the data (BENCH.md protocol: " +
        "heap ∝ rows) or lower spark.memory.storageFraction."
      System.err.println(msg)
      Some(msg)
    } else None
  }

  /** The hot and cold caches every pass joins, built once per run from
    * `hot` (row_id, minhash, phash) and `cold` (row_id, caption) — both
    * scans of the same source.
    *
    * Both are HASH-PARTITIONED ON row_id: every pass joins them 4-6 times
    * on row_id (verify sides, focus filter), and the cached partitioning
    * propagates through the projections, so those joins shuffle only the
    * (much smaller) pair side — profiled at 8M rows, the per-round full-
    * corpus re-shuffles dominated macro-round cost at both parallelism
    * levels. Round-5 cache diet (VERDICT r4 #1): the hot cache carries ONLY
    * the columns the per-pass scans touch (with 32-bit lanes: 186 of the
    * round-4 456 B/row, BENCH.md round 5), so at 32M+ rows it stops competing
    * with execution memory. The caption column (92 B/row, read only by
    * round-0 exact-dup/chunk hashing and the hamming-SURVIVOR side of each
    * verify) lives in its own DISK_ONLY cache: columnar-compressed on
    * scratch disk, OS-page-cache-hot, zero JVM-heap charge.
    *
    * DETERMINISM REQUIREMENT (ADVICE r5): the two scans must yield the same
    * row set — a bare limit()/sample() without a checkpoint can hand the
    * two caches different rows, and the inner verify joins would then drop
    * rows with no error. Each cache materializes in ONE job that also folds
    * in a bit_xor(row_id) signature and a row count (ADVICE r6: row-set
    * differences with even multiplicity XOR-cancel, so the signature alone
    * can pass while the caches disagree on cardinality); the run fails
    * loudly on mismatch. The captions job also takes the typical caption
    * length for the chunk phase. */
  private[cluster] def buildCaches(spark: SparkSession, hot: DataFrame, cold: DataFrame): Caches = {
    val features = hot.repartition(col("row_id")).persist(StorageLevel.MEMORY_AND_DISK)
    val fRow = features.agg(
      count(lit(1)), coalesce(expr("bit_xor(row_id)"), lit(0L))).head()
    val n = fRow.getLong(0)
    val captions = cold.repartition(col("row_id")).persist(StorageLevel.DISK_ONLY)
    val capRow = captions.agg(
      coalesce(expr("bit_xor(row_id)"), lit(0L)),
      coalesce(max(length(col("caption"))), lit(0)),
      count(lit(1))).head()
    if (capRow.getLong(0) != fRow.getLong(1) || capRow.getLong(2) != n)
      throw new IllegalStateException(
        "Pipeline: the input yielded different row sets across its two cache " +
        "scans (non-deterministic input, e.g. limit()/sample() without a " +
        "checkpoint) — the hot features cache and the captions cache would " +
        "disagree and verify joins would silently drop rows. Materialize the " +
        "input (localCheckpoint/cache/parquet) before calling run.")
    heapPressureWarning(spark, n)
    // Shuffle retirement (round 4): snapshot the ids backing the two caches
    // (their exchanges — the shuffles a future recompute of an evicted
    // cache block could still need); everything created after this point
    // is per-pass and provably dead at each pass boundary.
    val keep = org.apache.spark.graft.ShuffleRetirement.liveIds(spark.sparkContext)
    Caches(features, captions, n, if (n == 0) 0 else capRow.getInt(1), keep)
  }

  /** The one state update of round 0 and every macro pass — the
    * reference's per-round merge after its chunk rounds and after every
    * final round (`:531-548`, `:633-647`). CC runs over `labels`, the label
    * graph of the eagerly checkpointed `verified` edges (`nVerified` rows),
    * and the new state is `rel ⋈ remap ⋈ deltas`: each row takes its
    * cluster's new label and +1 score per verified endpoint (A6). Returns
    * the state with its (clusters, singles).
    *
    * No verified edge runs no CC (under AQE, the probe of an empty plan
    * could leave an abandoned shuffle stage running into the retire); when
    * CC merges nothing the state is kept with `prev` and no further job
    * runs — the one zero-work branch, for round 0 and every pass alike.
    * (Documented divergence: a pass whose verified pairs all sit inside
    * existing clusters drops their score bumps; they only shuffle rep
    * ranking, and rank cycling explores reps regardless.) Frees `verified`
    * and the remap.
    *
    * Ownership: the loop frees a superseded state only when the loop itself
    * checkpointed it — a step's output, or the resumed state
    * `CheckpointedPipeline` checkpoints for it — and never the identity
    * state: [[graft.util.Checkpoints.unpersistCheckpoint]] frees every
    * checkpoint leaf of the analyzed plan, and the identity state's plan
    * reaches the caller's input, which [[buildCaches]] tells callers to
    * localCheckpoint. */
  private def advance(spark: SparkSession, c: Caches, rel: DataFrame, verified: DataFrame,
                      nVerified: Long, labels: DataFrame, prev: (Long, Long),
                      retire: () => Unit): (DataFrame, Long, Long) = {
    // labels are built (a < b)-normalized and distinct, so CC skips its
    // normalize+distinct prologue (round 8): at 32M rows round 0's prologue
    // was a full exchange and checkpoint of ~108M edges at the scratch crest
    val comps = if (nVerified == 0) None
      else Some(ConnectedComponents.components(spark, labels, retire = retire,
        inputNormalized = true))
    val next = comps.filterNot(ConnectedComponents.isEmpty).map { cc =>
      // the driver path's remap is a LocalRelation the planner knows is
      // small (it broadcasts it unhinted); a star-loop remap is unbounded
      val remap = cc.where(col("row_id") =!= col("cluster_id"))
        .select(col("row_id").as("cluster_id"), col("cluster_id").as("new_cluster_id"))
      // the score delta is hinted only when its size is bounded (an
      // unbounded hint bypasses Spark's broadcast safety, ADVICE) and small
      // beside the state
      val deltas = endpointCounts(verified).withColumnRenamed("score", "delta")
      val deltasJ = if (deltasBroadcastable(nVerified, c.n)) broadcast(deltas) else deltas
      // EAGER (round 4): materialize the new state while `verified` is
      // still cached; truncating its lineage here is what makes pass-
      // boundary shuffle retirement safe
      val state = rel
        .join(remap, Seq("cluster_id"), "left")
        .join(deltasJ, Seq("row_id"), "left")
        .select(col("row_id"),
          coalesce(col("new_cluster_id"), col("cluster_id")).as("cluster_id"),
          (col("score") + coalesce(col("delta"), lit(0L))).as("score"))
        .localCheckpoint()
      val (clusters, singles) = clusterStats(state)
      (state, clusters, singles)
    }
    graft.util.Checkpoints.unpersistCheckpoint(verified)
    comps.foreach(graft.util.Checkpoints.unpersistCheckpoint) // the remap's one leaf
    next.getOrElse((rel, prev._1, prev._2))
  }

  /** Phases 2+3: chunk rounds + global banding, then [[advance]] from the
    * identity state `rel0`. */
  private def initialState(spark: SparkSession, c: Caches, cfg: GraftConfig, rel0: DataFrame,
                           retire: () => Unit): (DataFrame, PhaseStat) = {
    val (features, captions, n) = (c.features, c.captions, c.n)

    val (identityEdges, repIds, nDup) = collapseExactDups(features, captions, cfg.saltShards)
    // dup-free corpora skip the rep join entirely; otherwise the rep-id set
    // (one Long per distinct row) is broadcast when small enough. Round-0
    // candidate hashing needs BOTH signature lanes (band hashes) and the
    // caption (chunk substring hashes), so the captions cache is joined
    // back here — exchange-free (both sides hash-partitioned on row_id).
    val repSlim =
      if (nDup == 0) features
      else if (n - nDup <= RepBroadcastMaxRows) features.join(broadcast(repIds), "row_id")
      else features.join(repIds, "row_id")
    val repFeatures = repSlim.join(captions, "row_id")

    // 2+3. Chunk-phase substring rounds AND global LSH banding contribute
    // candidates; the union is verified ONCE at the final thresholds
    // (:569-570). The reference verifies chunk-phase pairs at the stricter
    // 0.32/0.28 (:522), so any pair it accepts there is also accepted here —
    // fusing the two verify passes is monotone (recall-safe) and halves the
    // feature-join shuffles; the chunk-phase thresholds are therefore
    // intentionally not configured anywhere (VERDICT r2 #6). Round-2: both
    // candidate FAMILIES are fused into ONE explode + chaining pass as well
    // (the L LSH band hashes, then the chunkRounds substring hashes), so
    // round 0 plans a single wide exchange + a single pair-distinct for
    // everything.
    // Round-4 shuffle diet (VERDICT r3 #1): the exploded relation is just
    // (row_id, band_hash) — per-round seeds live inside the hashes, so the
    // band int the round-3 plan carried through this wide exchange is gone.
    //
    // The explode/chain/verify block runs in `cfg.round0Batches` sequential
    // queries over disjoint subsets of the hash columns, each eagerly
    // checkpointed and followed by shuffle retirement: within ONE query
    // every shuffle intermediate (explode exchange, chain windows, pair
    // distinct, the two fat verify joins) coexists on scratch disk, so the
    // in-flight footprint of round 0 divides by the batch count. A bucket
    // lives entirely within one hash column, so batching never splits a
    // bucket: each batch emits exactly its buckets' spanning chains and the
    // UNION of batch edge sets equals the single-query edge set (a pair
    // candidate in several batches just verifies more than once — CC is
    // insensitive to duplicate edges).
    val allHashes = Banding.bandHashCols(col("minhash"), cfg, 0) ++
      ChunkPhase.hashCols(cfg, n, c.capLen)
    val nBatches = math.max(1, math.min(cfg.round0Batches, allHashes.size))
    val batchEdges = allHashes.grouped(
      (allHashes.size + nBatches - 1) / nBatches).toSeq.map { batch =>
      val buckets = repFeatures.select(
        col("row_id"), explode(array(batch: _*)).as("band_hash"))
      val cand = Banding.chainPairs(buckets, cfg.saltShards)
      val verified = VerifyPairs.verify(
        cand, features, captions, cfg.q, cfg.sdHigh, cfg.sdLow,
        cfg.distanceThreshold, cfg.hammingThreshold, cfg.minLcs)
        .localCheckpoint()
      retire()
      verified
    }
    // With >1 batch a pair whose bucket collides in SEVERAL batches' hash
    // columns verifies once per batch, and chainPairs' distinct is only
    // per-batch — without a cross-batch distinct those duplicates inflate
    // endpointCounts (A6 scores) and the verifiedPairs stat vs the
    // single-query plan (ADVICE r4). Identity edges are disjoint from chain
    // edges (a rep never pairs with itself), so distinct-ing just the chain
    // side restores EXACT single-query semantics, scores included.
    val chainEdges0 = batchEdges.reduce(_ unionAll _)
    val chainEdges = if (nBatches > 1) chainEdges0.distinct() else chainEdges0
    // EAGER checkpoint, not persist: connected components retires shuffles
    // PER ITERATION (round 5 — the un-retired CC window was the 54.7 GB
    // peak-scratch driver at 32M), and the cross-batch distinct would
    // otherwise be live shuffle lineage under a persisted-only cache.
    // firstEdges is (a<b)-normalized and distinct (chainPairs' distinct /
    // the cross-batch distinct; identity edges are disjoint and normalized
    // at construction), and round-0 labels are row ids, so it is its own
    // label graph.
    val firstEdges = chainEdges.unionAll(identityEdges).localCheckpoint()
    val nVerified = firstEdges.count() // a scan of the checkpoint blocks
    val (rel, clusters, singles) =
      advance(spark, c, rel0, firstEdges, nVerified, firstEdges, (n, n), retire)
    batchEdges.foreach(graft.util.Checkpoints.unpersistCheckpoint)
    graft.util.Checkpoints.unpersistCheckpoint(identityEdges)
    graft.util.Checkpoints.unpersistCheckpoint(repIds)
    (rel, PhaseStat("chunk+band", 0, nVerified, clusters, singles, 1.0))
  }

  /** Phase 4, one PASS = the fused consecutive macro rounds `rounds`:
    * focus set -> one explode over every round's bands -> chain ->
    * verify -> [[advance]] over the label graph. Returns the new state and
    * the pass's stat (attributed to `rounds.last`). */
  private def macroStep(spark: SparkSession, c: Caches, rel: DataFrame, cfg: GraftConfig,
                        rounds: Seq[Int], prevClusters: Long, prevSingles: Long,
                        retire: () => Unit): (DataFrame, PhaseStat) = {
    val (features, captions) = (c.features, c.captions)
    // round j samples rank (j-1) % reps_per_cluster + 1
    val maxRank = rounds.map(j => (j - 1) % cfg.repsPerCluster).max

    // Fused candidate generation: ONE explode of the focus rows, each over
    // the (seed, lanes) bands its rank draws in this pass — singles every
    // round's L bands, a rank-r rep those of the rounds that sample rank r.
    // Per-(macro round, band) seeds inside the hash keep buckets of
    // different rounds disjoint. It feeds ONE salted chaining pass, which
    // reads the explode once (so the focus join runs once, unpersisted) —
    // the same candidate draws a sequential run of these rounds would make
    // (modulo focus refresh between rounds, which fusion trades for a T×
    // cut in stage-barrier latency). Rep draws CAN diverge from the
    // sequential schedule: ranks use pass-start scores and pass-start
    // membership, so a row that would become a rep only after an intra-pass
    // merge or score update is not sampled this pass. Only the singles side
    // is a guaranteed superset of each fused round's unresolved rows —
    // "recall-safe" is an approximation that has held at every measured
    // scale, not an invariant (ADVICE r3; watch recall if fusedBandRowCap
    // ever allows very wide passes on skewed corpora).
    val cand = Banding.chainPairs(
      Banding.explodePassBands(features.join(focus(rel, maxRank), "row_id"), cfg, rounds),
      cfg.saltShards)
    // EAGER localCheckpoint, not persist (ADVICE r4): `verified` stays live
    // across this pass's early retirement below, and a persisted-only cache
    // would keep shuffle-backed lineage it could no longer recompute
    // through once those shuffles are retired. The checkpoint job IS the
    // pass's first materializing action (it runs the whole verify
    // pipeline); the count and the CC probe below are then cheap scans.
    val verified = VerifyPairs.verify(
      cand, features, captions, cfg.q, cfg.sdHigh, cfg.sdLow,
      cfg.distanceThreshold, cfg.hammingThreshold, cfg.minLcs)
      .localCheckpoint()
    val nVerified = verified.count() // cheap: scans the checkpoint blocks

    // Incremental CC on the LABEL graph: new pairs touch existing clusters,
    // so mapping endpoints to their current labels gives a graph with
    // ≤ |verified| edges — orders of magnitude smaller than re-running CC
    // over all assignment edges. rel is hash-partitioned on row_id, so
    // only the small verified side shuffles here; small label graphs then
    // union-find on the driver (the reference's own merge structure,
    // :399-418) and large ones run the star loop. CC's retire after its
    // probe is this pass's early retirement: with `verified` checkpointed,
    // the pass's candidate-generation shuffles (explode exchange, chain
    // windows, pair distinct, focus window and join) are provably dead, so
    // the state-update jobs and the next pass never sit on top of this
    // pass's widest intermediate.
    val la = rel.select(col("row_id").as("a"), col("cluster_id").as("la"))
    val lb = rel.select(col("row_id").as("b"), col("cluster_id").as("lb"))
    val labels = verified.join(la, "a").join(lb, "b")
      .where(col("la") =!= col("lb"))
      .select(least(col("la"), col("lb")).as("a"), greatest(col("la"), col("lb")).as("b"))
      .distinct()
    val (next, clusters, singles) =
      advance(spark, c, rel, verified, nVerified, labels, (prevClusters, prevSingles), retire)
    val workRate =
      if (prevSingles == 0) 0.0
      else (prevSingles - singles).toDouble / prevSingles
    (next, PhaseStat("final", rounds.last, nVerified, clusters, singles, workRate))
  }

  /** 1. Featurize -- bytes column pruned from the scan (SURVEY.md par.4).
    * Shingles live only inside featurize; verification recomputes caption
    * grams at the verify site, so the cached relation carries ~10x less per
    * row. Then the shared driver loop ([[loop]]). */
  def run(spark: SparkSession, images: DataFrame, cfg: GraftConfig = GraftConfig()): Result =
    loop(spark, caches(spark, images, cfg), cfg)

  /** The two caches [[run]] clusters. Captions come from a second scan of
    * the SOURCE (caption is a source column; row_id is a hash of
    * image_id), not a second featurize pass — no double shingle/signature
    * compute — so `images` must be deterministic ([[buildCaches]]). */
  private[graft] def caches(spark: SparkSession, images: DataFrame, cfg: GraftConfig): Caches = {
    val hot = MinHash.featurize(spark, images, cfg).toDF().drop("caption")
    val cold = images.select(
      graft.feat.RowIds.rowIdCol(col("image_id")).as("row_id"), col("caption"))
    buildCaches(spark, hot, cold)
  }

  /** The driver loop — the reference's `run()` (`:697-711`): round 0, then
    * fused macro-round passes over the focus set (C5/C6) until
    * [[RoundControl]] stops the run (budget, bad-round patience and pass
    * width scale with n). Every pass is handed to `save` with the bad-round
    * count it left, then the pass's shuffles are retired.
    *
    * `resume` = (rel, stat, bad-round count) as saved after pass
    * `stat.macroRound`: the loop skips round 0 and continues at the next
    * macro round, exactly as an uninterrupted run would (pass boundaries
    * are deterministic functions of config and corpus). The returned stats
    * cover only the passes this call ran. */
  private[cluster] def loop(spark: SparkSession, c: Caches, cfg: GraftConfig,
      resume: Option[(DataFrame, PhaseStat, Int)] = None,
      save: (DataFrame, PhaseStat, Int) => Unit = (_, _, _) => ()): Result = {
    def retire(): Unit = {
      org.apache.spark.graft.ShuffleRetirement
        .retireAllExcept(spark.sparkContext, c.keep); ()
    }
    val stats = scala.collection.mutable.ArrayBuffer.empty[PhaseStat]
    def timed(step: => (DataFrame, PhaseStat)): (DataFrame, PhaseStat) = {
      val t = System.nanoTime()
      val (rel, stat) = step
      (rel, stat.copy(seconds = (System.nanoTime() - t) / 1e9))
    }
    def commit(rel: DataFrame, stat: PhaseStat, bad: Int): Unit = {
      stats += stat
      save(rel, stat, bad)
      retire()
    }

    // the identity state `parent[i] = i` (`:134`) that round 0 updates:
    // every row its own cluster, score 0 — a projection of the features
    // cache (so hash-partitioned on row_id), not a checkpoint
    val rel0 = c.features.select(col("row_id"), col("row_id").as("cluster_id"), lit(0L).as("score"))
    var (rel, last, bad) = resume.getOrElse {
      val (first, stat0) = timed(initialState(spark, c, cfg, rel0, retire))
      commit(first, stat0, 0)
      (first, stat0, 0)
    }
    val ctl = RoundControl(cfg, c.n)
    var done = last.macroRound > 0 && ctl.stopped(bad, last.macroRound, last.workRate)
    while (!done && last.singles > 0 && last.macroRound < ctl.maxMacro) {
      val from = last.macroRound + 1
      val rounds = from until (from + ctl.passSize(from, bad, last.clusters))
      val (rel2, stat) = timed(
        macroStep(spark, c, rel, cfg, rounds, last.clusters, last.singles, retire))
      // the new state is materialized: free the superseded one NOW (driver
      // GC would retain its blocks for the whole run: the round-1 scale-
      // killer that exhausted scratch disk at 8M+ rows) — unless it is the
      // identity state, which the loop does not own (see [[advance]])
      if ((rel2 ne rel) && (rel ne rel0)) graft.util.Checkpoints.unpersistCheckpoint(rel)
      val (nbad, stop) = ctl.stepPass(bad, rounds, last.singles, stat)
      commit(rel2, stat, nbad)
      rel = rel2; last = stat; bad = nbad; done = stop
    }

    Result(
      rel.select("row_id", "cluster_id"),
      // A6 divergence (documented at the zero-work branch in advance): a
      // row whose only verified pairs occur in merge-free passes keeps
      // score 0 and is absent here — downstream consumers get a slightly
      // sparser scores relation than a sequential per-round run would emit.
      rel.where(col("score") > 0).select("row_id", "score"),
      c.features, c.captions, stats.toSeq)
  }
}
