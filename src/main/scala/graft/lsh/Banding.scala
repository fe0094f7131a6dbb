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
  * column expressions (whole-stage codegen) and exploded once.
  * Within a bucket, chaining is a window `lag` — with SALTING for
  * skew-heavy mega-buckets (north rule): each bucket is split into
  * `saltShards` shards keyed by a per-(row, bucket) hash; rows chain within
  * their shard, and a second window chains the shard minima across shards,
  * preserving the exact "b rows → b-1 pairs" connectivity while capping any
  * single window partition at ~bucket/shards rows. Both windows read the
  * one explode, so every exploded row crosses two exchanges.
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

  /** Adds `x`, each row's salted-chain predecessor, to `salted`, which has
    * `row_id`, a non-negative `salt` and the bucket `keys`. Two sort-based
    * windows over ONE read of the input:
    *   W1 — lag(row_id) within the (keys, salt) shard, ordered by row_id; a
    *        null marks the shard's first row, i.e. its minimum;
    *   W2 — over (keys, k), where k = -1 on shard minima and salt on every
    *        other row, ordered by (salt, row_id): on a minimum it is the
    *        previous shard's minimum in salt order.
    * x = coalesce(W1, W2): rows chain within their shard and shard minima
    * chain across shards, so a bucket of b rows gets b-1 non-null x. Each W1
    * partition is one shard; each W2 partition is one shard's non-minimum
    * rows or one bucket's ≤ saltShards minima, so no window partition holds
    * a whole skewed bucket. Also adds `k` (callers may window on it again
    * with the W2 partitioning at no extra exchange or sort). */
  private[graft] def chainPredecessors(salted: DataFrame, keys: Seq[String]): DataFrame = {
    val w1 = Window.partitionBy((keys :+ "salt").map(col): _*).orderBy("row_id")
    val w2 = Window.partitionBy((keys :+ "k").map(col): _*).orderBy("salt", "row_id")
    salted
      .withColumn("w1", lag("row_id", 1).over(w1))
      .withColumn("k", when(col("w1").isNull, lit(-1L)).otherwise(col("salt")))
      .withColumn("x", coalesce(col("w1"), lag("row_id", 1).over(w2)))
      .drop("w1")
  }

  /** V4 — salted within-bucket chaining ([[chainPredecessors]]). Input must
    * have columns (row_id, band_hash); output is normalized pairs (a < b),
    * distinct: for every bucket of b rows a spanning chain of b-1 pairs, the
    * reference's adjacency pairing (`:507-509,541-542,639-641`) made
    * skew-proof.
    *
    * The input is read once, and every exploded row crosses the
    * (band_hash, salt) and the (band_hash, k) window exchanges. Buckets are
    * small, so nearly every row is its shard's minimum (cold large-dup,
    * seed 42: 96% of round 0's 373,920 exploded rows, 99.97% of the macro
    * pass's 299,584); the shard-minimum aggregate this replaced re-read,
    * re-exploded and re-shuffled almost all of the input. */
  def chainPairs(buckets: DataFrame, saltShards: Int): DataFrame =
    chainPredecessors(buckets.withColumn(
      "salt", pmod(xxhash64(col("row_id"), col("band_hash")), lit(saltShards))), Seq("band_hash"))
      .where(col("x").isNotNull)
      .select(least(col("x"), col("row_id")).as("a"), greatest(col("x"), col("row_id")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
}
