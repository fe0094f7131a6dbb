package graft.lsh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.GraftConfig
import graft.util.Hashing

/** P4 + V4 + J1 — LSH banding and candidate-pair emission (SURVEY.md §2.2,
  * §2.3, §2.4).
  *
  * The reference's per-round scheme (`/root/reference/lsh_based_clustering.py
  * :531-548,633-647`): pick a random k-of-m lane subset, compact the chosen
  * MinHash values to one integer, sort rows by it, and pair only ADJACENT
  * equal signatures — a bucket of b rows yields exactly b-1 chained pairs,
  * never C(b,2). Rounds are an OR-construction: more rounds only add pairs.
  *
  * Spark realization: banding is MONOTONE, so L rounds whose candidate
  * generation doesn't depend on intermediate merges are FUSED into one job
  * (SURVEY.md §7.3 — the main scale lever): L band hashes are computed as
  * column expressions (whole-stage codegen), exploded, and shuffled once.
  * Within a bucket, chaining is a window `lag` — with SALTING for
  * skew-heavy mega-buckets (north rule): each bucket is split into
  * `saltShards` shards keyed by a per-(row, bucket) hash; rows chain within
  * their shard, and shard minima are chained across shards, preserving the
  * exact "b rows → b-1 pairs" connectivity while capping any single window
  * partition at ~bucket/shards rows.
  *
  * Shuffle diet (round 4, VERDICT r3 #1): the exploded relation is TWO
  * columns, `(row_id, band_hash)` — the per-round SEED is folded into the
  * band hash itself, so the hash alone keys buckets globally and the band
  * int the round-3 plan carried through the L×n wide exchange is gone.
  * Seeds are unique per (macro round, band) and domain-separated from the
  * chunk-phase round seeds, so buckets of different rounds can only merge
  * on a 64-bit hash collision — and banding being an OR-construction,
  * a collision only ADDS candidates (verification still gates every pair).
  */
object Banding {

  private final val BAND_DOMAIN = 0x42414E44L // "BAND"

  /** Per-round band seeds for the L fused rounds of one macro iteration —
    * each seed both draws the round's k-of-m lane subset and domain-
    * separates the round's buckets inside the band hash. */
  def laneSeeds(cfg: GraftConfig, macroRound: Int): Array[Long] =
    Array.tabulate(cfg.bandRounds)(r =>
      Hashing.hash3(cfg.seed, BAND_DOMAIN, macroRound.toLong * 100000L + r))

  /** Seeded k-of-m lane subsets for rounds [0, L) of a macro iteration. */
  def lanes(cfg: GraftConfig, macroRound: Int): Array[Array[Int]] =
    laneSeeds(cfg, macroRound).map(Hashing.sampleIndices(_, cfg.m, cfg.k))

  /** One globally-keyed band-hash column per round, for a `minhash` array
    * column: hash r = xxhash64(seed_r, minhash[lanes_r]). Exposed as
    * individual columns so callers can BATCH the explode over subsets of
    * rounds (bounding the in-flight shuffle footprint of one query —
    * buckets live entirely within one round's hash, so batching never
    * splits a bucket and the emitted chain-pair set is identical). */
  def bandHashCols(minhashCol: Column, cfg: GraftConfig, macroRound: Int): Seq[Column] =
    laneSeeds(cfg, macroRound).zip(lanes(cfg, macroRound)).toSeq.map { case (seed, ls) =>
      xxhash64((lit(seed) +: ls.map(i => minhashCol.getItem(i))): _*)
    }

  /** Column of L globally-keyed band hashes for a `minhash` array column. */
  def bandHashArray(minhashCol: Column, cfg: GraftConfig, macroRound: Int): Column =
    array(bandHashCols(minhashCol, cfg, macroRound): _*)

  /** Exploded (row_id, band_hash) relation for the fused L rounds of one
    * macro iteration. `df` must have `row_id` and `minhash` columns. */
  def explodeBands(df: DataFrame, cfg: GraftConfig, macroRound: Int): DataFrame =
    df.select(
      col("row_id"),
      explode(bandHashArray(col("minhash"), cfg, macroRound)).as("band_hash"))

  /** One band of a pass's lookup table: its seed and its k lanes. */
  final case class Band(seed: Long, lanes: Seq[Int])

  /** The band-hash rows of one fused macro PASS (macro rounds `rounds`)
    * from ONE explode. `focus` must have `row_id`, `minhash` and the focus
    * rank `rk`: 0 for a single, r ≥ 1 for a cluster's r-th rep. Round j
    * samples the singles and the reps of rank (j-1) % repsPerCluster + 1
    * (the reference's cycling r, `:623-628`), so a literal table indexed by
    * rk lists the bands each row draws — entry 0 every round's L bands,
    * entry r the bands of the rounds of rank r — and a rep whose rank no
    * round of the pass samples explodes to nothing. Each row is exploded
    * over its entry and hashed as xxhash64(seed, minhash[lanes]), the same
    * Long seed and Int lanes [[bandHashCols]] hashes, so the emitted
    * (row_id, band_hash) multiset is exactly the union over the pass's
    * rounds of round j's band hashes on its sampled rows. The plan does not
    * grow with the pass width: only the literal does. */
  def explodePassBands(focus: DataFrame, cfg: GraftConfig, rounds: Seq[Int]): DataFrame = {
    val perRound = rounds.map { j =>
      ((j - 1) % cfg.repsPerCluster + 1,
        laneSeeds(cfg, j).zip(lanes(cfg, j)).map { case (s, ls) => Band(s, ls.toSeq) }.toSeq)
    }
    val table = (0 to cfg.repsPerCluster).map { r =>
      perRound.collect { case (rk, bands) if r == 0 || rk == r => bands }.flatten
    }
    val (byRank, band) = (typedLit(table), col("band"))
    focus
      .select(col("row_id"), col("minhash"), explode(byRank(col("rk"))).as("band"))
      .select(col("row_id"), xxhash64((band("seed") +:
        (0 until cfg.k).map(i => col("minhash")(band("lanes")(i)))): _*).as("band_hash"))
  }

  /** V4 — salted within-bucket chaining. Input must have columns
    * (row_id, band_hash); output is normalized pairs (a < b), distinct.
    *
    * Connectivity invariant: for every band_hash bucket of b rows the
    * emitted pairs form a spanning chain (b-1 pairs): rows chain within a
    * salt shard, shard minima chain across shards. This is the reference's
    * adjacency pairing (`:507-509,541-542,639-641`) made skew-proof.
    *
    * Plan shape (round-2 fix): the wide (band_hash, salt) exchange of the
    * exploded L×n relation happens exactly ONCE — the window pass that
    * emits the intra-shard chain. Round 1 derived the shard minima from a
    * second branch off the same window, and Catalyst's column pruning
    * specialized the branches into TWO wide exchanges (PlanAudit finding,
    * commit e0388f1). The shard minimum is simply min(row_id) per shard (the
    * chain is ordered by row_id), so it is now recomputed via a hash
    * aggregate whose map-side partial aggregation means only distinct
    * (band_hash, salt, min) tuples are shuffled — a tiny exchange, bounded
    * by buckets × saltShards, never L×n. The input is scanned twice, but
    * callers keep it cheap to recompute (cached features + codegen'd hash
    * columns), trading a second wide SHUFFLE for a second map pass.
    */
  def chainPairs(buckets: DataFrame, saltShards: Int): DataFrame = {
    val salted = buckets.withColumn(
      "salt", pmod(xxhash64(col("row_id"), col("band_hash")), lit(saltShards)))

    // alias y := row_id AFTER the window: aliasing before it makes Catalyst
    // carry BOTH y and row_id through the wide exchange (round-4 PlanAudit
    // finding — one redundant 8-byte column on every exploded row)
    val wIntra = Window.partitionBy("band_hash", "salt").orderBy("row_id")
    val intra = salted
      .withColumn("x", lag("row_id", 1).over(wIntra))
      .where(col("x").isNotNull)
      .select(col("x"), col("row_id").as("y"))

    // Shard minima chained across shards of the same bucket — partial-agg
    // shuffle (≤ saltShards rows per bucket) + a small window.
    val wInter = Window.partitionBy("band_hash").orderBy("salt", "mn")
    val inter = salted
      .groupBy("band_hash", "salt").agg(min("row_id").as("mn"))
      .withColumn("prev", lag("mn", 1).over(wInter))
      .where(col("prev").isNotNull)
      .select(col("prev").as("x"), col("mn").as("y"))

    intra.select("x", "y").unionAll(inter)
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
  }

  /** Full fused banding pass: features (row_id, minhash) → candidate pairs
    * (a, b), a < b, distinct across all L rounds. */
  def candidatePairs(features: DataFrame, cfg: GraftConfig, macroRound: Int): DataFrame =
    chainPairs(explodeBands(features, cfg, macroRound), cfg.saltShards)
}
