package graft.feat

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.{FeatureRow, GraftConfig}
import graft.util.Hashing._

/** P2 — batched MinHash signatures + SimHash sketch (SURVEY.md §2.2 P2).
  *
  * The reference materializes m explicit permutations of {0..4^q-1}
  * (`/root/reference/lsh_based_clustering.py:277-286`) — viable only at a
  * 4096-element domain. At a 2^64 shingle domain we use the standard
  * universal-hash MinHash family: h_i(x) = mix64(seed_i ^ x), seeded
  * deterministically per lane — identical collision semantics
  * (P[sig_i(A)=sig_i(B)] ≈ Jaccard(A,B)), nothing to broadcast but m seeds.
  *
  * Everything is computed in ONE typed mapPartitions pass over the input
  * (per input_hint: typed Dataset, no RDD), emitting the m-lane signature
  * per row; Spark's native parallelism replaces the reference's
  * multiprocessing queues (`:289-397`). [[simhash]] serves `DocDedup`.
  */
object MinHash {

  private final val MINHASH_DOMAIN = 0x4D494E48L // "MINH"

  def laneSeeds(cfg: GraftConfig): Array[Long] =
    Array.tabulate(cfg.m)(i => hash3(cfg.seed, MINHASH_DOMAIN, i.toLong))

  /** MinHash signature over a shingle array.
    *
    * Lanes are 32-BIT (round-5 features-cache diet): the lane value only
    * ever participates in EQUALITY tests — band hashes fold k lanes, and
    * P(min_a = min_b) = Jaccard needs any fixed total order on hash values
    * — so lane width buys nothing beyond collision resistance, and a
    * spurious per-lane collision adds 2⁻³² to the match probability,
    * immeasurable against the sdLow = 0.22 verification gate. 32-bit lanes
    * are the standard MinHash width (Spark's own MinHashLSH uses int
    * hashes); the switch halved the dominant column of the features cache
    * (340 → 170 B/row of a measured 456 B/row at m = 40, BENCH.md round 5),
    * which at 32M rows was competing with execution memory (−17% per-row
    * throughput, BENCH.md round 4). The min is taken over the UNSIGNED
    * 32-bit order via the signed-flip trick so the lane keeps uniform
    * min-hash statistics. */
  def signature(shingles: Array[Long], seeds: Array[Long]): Array[Int] = {
    val m = seeds.length
    val sig = Array.fill(m)(Int.MaxValue) // flipped domain max = unsigned max
    var i = 0
    while (i < shingles.length) {
      val x = shingles(i)
      var j = 0
      while (j < m) {
        // top 32 bits of the 64-bit universal hash, sign-flipped so signed
        // Int comparison realizes the unsigned order
        val h = ((mix64(seeds(j) ^ x) >>> 32).toInt) ^ Int.MinValue
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash: weighted bit vote over mixed shingle hashes. */
  def simhash(shingles: Array[Long]): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < shingles.length) {
      val h = mix64(shingles(i) ^ 0x53494D48L) // "SIMH" domain
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Featurize the input table: one mapPartitions pass producing FeatureRow.
    * Only (image_id, caption, phash) are read — Catalyst prunes `bytes` out
    * of the parquet scan, which dominates I/O otherwise (SURVEY.md §4). */
  def featurize(spark: SparkSession, images: DataFrame, cfg: GraftConfig): Dataset[FeatureRow] = {
    import spark.implicits._
    val q = cfg.q
    val seeds = laneSeeds(cfg)
    val usePhash = cfg.usePhash
    images
      .select("image_id", "caption", "phash")
      .as[(String, String, Long)]
      .mapPartitions { it =>
        it.map { case (id, caption, phash) =>
          val sh =
            if (usePhash) Shingler.shingles(caption, phash, q)
            else Shingler.captionShingles(caption, q)
          FeatureRow(RowIds.rowId(id), caption, signature(sh, seeds), phash)
        }
      }
  }
}
