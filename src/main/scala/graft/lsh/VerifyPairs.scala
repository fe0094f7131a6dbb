package graft.lsh

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** V1 + V2 + V3 — candidate-pair verification (SURVEY.md §2.3).
  *
  * The reference merges a candidate pair when
  *   dice ≥ sd_high  OR  (dice ≥ sd_low AND levenshtein ≤ distance_threshold)
  * (`/root/reference/lsh_based_clustering.py:543-545,642-644`).
  *
  * Graft transposition for image+caption rows: the DNA strand's analog is the
  * caption, so the Dice test runs on CAPTION q-grams at the reference's
  * thresholds, while the image side contributes an independent confirmation:
  * `bit_count(phash_a XOR phash_b) ≤ hammingThreshold`. Both must hold — the
  * 57 pHash bit-n-grams are NOT independent evidence (one colliding pHash
  * shares all of them), so folding them into a single Dice would let a chance
  * pHash collision merge rows with unrelated captions (observed: precision
  * 0.75 on the planted corpus; 1.00 with the two-modality test).
  *
  * Two-phase plan shape (round-2 scale fix): at 8M+ rows the verification
  * join dominated round-0 scratch disk because every candidate pair shipped
  * two ~1 KB shingle arrays through the shuffle. Phase 1 joins the pair list
  * against an (row_id, phash) projection — an 8-BYTE payload — and applies
  * the hamming gate, which kills the vast majority of cross-group
  * candidates; only survivors join the captions, and the q-gram hashes are
  * recomputed from the caption AT the verify site. Shuffle payload per pair
  * drops ~10×; the gram recompute runs only on hamming survivors.
  *
  * Phase 2 is ONE accept kernel per surviving pair ([[accept]], one UDF
  * call): it hashes each caption's q-grams once and runs, in cost order,
  *   V1 — Sorensen-Dice with the reference's exact semantics (`:231-242`):
  *        SET intersection over LIST lengths, from the sorted gram hashes;
  *   V2 — the edit-distance rescue, Spark's code-point Levenshtein;
  *   V3 — the suffix-array longest-common-substring confirmation (north
  *        rule), only for gray-zone pairs the Levenshtein rescue rejected.
  *
  * The pair side is hash-partitioned on `a` into the features cache's
  * partition count before the first join. The pair rows are 16 bytes, so
  * AQE, which coalesces by bytes, would otherwise run this CPU-bound stage
  * in a single task at fixture scale; an explicit count is never coalesced.
  * When the joins sort-merge (at scale) this is the exchange the join on `a`
  * needs anyway — the cache side is already hash-partitioned on row_id into
  * the same count — so it adds no shuffle there.
  */
object VerifyPairs {

  /** Spark's `xxhash64` seed: gram hashes equal `xxhash64(substr(...))`. */
  private final val Seed = 42L

  /** Caption q-gram hashes, sorted, duplicates preserved (the reference's
    * numset list semantics, `:244-258`); the whole-string hash when shorter
    * than q. Each window is q code points, as Spark's `length`/`substr`
    * count them, hashed with XXH64 over its UTF-8 bytes — bit-identical to
    * `xxhash64(cap.substr(i, q))` for i in 1 .. length(cap) - q + 1. */
  private[graft] def gramHashes(cap: UTF8String, q: Int): Array[Long] = {
    val base = cap.getBaseObject
    val off = cap.getBaseOffset
    val nb = cap.numBytes
    // byte offset of every code point start, plus the end
    val starts = new Array[Int](nb + 1)
    var n = 0
    var i = 0
    while (i < nb) {
      starts(n) = i
      n += 1
      i += UTF8String.numBytesForFirstByte(cap.getByte(i))
    }
    starts(n) = nb
    val out =
      if (n < q) Array(XXH64.hashUnsafeBytes(base, off, nb, Seed))
      else Array.tabulate(n - q + 1) { k =>
        XXH64.hashUnsafeBytes(base, off + starts(k), starts(k + q) - starts(k), Seed)
      }
    java.util.Arrays.sort(out)
    out
  }

  /** Sorensen-Dice of two SORTED gram-hash lists: 2·|set(a) ∩ set(b)| /
    * (|a| + |b|), list lengths in the denominator (`:231-242`). */
  private[graft] def dice(a: Array[Long], b: Array[Long]): Double = {
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        inter += 1
        while (i < a.length && a(i) == x) i += 1
        while (j < b.length && b(j) == x) j += 1
      }
    }
    2.0 * inter / (a.length + b.length)
  }

  /** Whether two captions verify: dice ≥ sdLow, and then dice ≥ sdHigh,
    * else Levenshtein ≤ distanceThreshold, else suffix-array LCS ≥ minLcs.
    * Predicate order = cost order: Dice gates the expensive rescues
    * (profiled round 1: −22% wall at 32 cores). */
  def accept(capA: String, capB: String, q: Int, sdHigh: Double, sdLow: Double,
             distanceThreshold: Int, minLcs: Int): Boolean = {
    val (ua, ub) = (UTF8String.fromString(capA), UTF8String.fromString(capB))
    val d = dice(gramHashes(ua, q), gramHashes(ub, q))
    d >= sdLow && (d >= sdHigh ||
      ua.levenshteinDistance(ub) <= distanceThreshold ||
      SuffixLcs.lcs(capA, capB) >= minLcs)
  }

  /** Join candidate pairs (a, b) with per-row features and keep verified
    * pairs. `features` needs (row_id, phash) — the hot cache; `captions`
    * needs (row_id, caption) — since round 5 a separate DISK_ONLY cache
    * (the caption column only pays its memory cost at the much smaller
    * hamming-survivor site, never in the per-pass hot scans). Both are
    * hash-partitioned on row_id into the same count. */
  def verify(
      pairs: DataFrame,
      features: DataFrame,
      captions: DataFrame,
      q: Int,
      sdHigh: Double,
      sdLow: Double,
      distanceThreshold: Int,
      hammingThreshold: Int,
      minLcs: Int): DataFrame = {
    val accepted = udf((a: String, b: String) =>
      accept(a, b, q, sdHigh, sdLow, distanceThreshold, minLcs))

    // Phase 1 — hamming gate on an 8-byte payload.
    val pa = features.select(col("row_id").as("a"), col("phash").as("ph_a"))
    val pb = features.select(col("row_id").as("b"), col("phash").as("ph_b"))
    val hammingOk = pairs
      .repartition(features.rdd.getNumPartitions, col("a"))
      .join(pa, "a").join(pb, "b")
      .where(bit_count(col("ph_a").bitwiseXOR(col("ph_b"))) <= hammingThreshold)
      .select("a", "b")

    // Phase 2 — captions for survivors only, one accept-kernel call each.
    val fa = captions.select(col("row_id").as("a"), col("caption").as("cap_a"))
    val fb = captions.select(col("row_id").as("b"), col("caption").as("cap_b"))
    hammingOk.join(fa, "a").join(fb, "b")
      .where(accepted(col("cap_a"), col("cap_b")))
      .select("a", "b")
  }
}
