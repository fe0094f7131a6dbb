package graft.cluster

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.GraftConfig
import graft.util.Hashing

/** P3 + C3 — common-substring pre-clustering rounds (SURVEY.md §2.2 P3,
  * §2.7 C3), transposed from the reference's `chunk_partitioning`
  * (`/root/reference/lsh_based_clustering.py:441-519`).
  *
  * Per round the reference draws `multi_sigs` ∈ {2, 1} random anchors of
  * length w; a row's signature is the substring of length w+t starting at
  * the first anchor occurrence (position 0 when absent, `:455-462`), the
  * per-row key being the SORTED tuple of its anchor signatures (`:499`).
  * Equal keys become adjacency-chained candidate pairs.
  *
  * Spark realization: all rounds are fused — each round contributes one
  * column expression `xxhash64(round, sorted anchor substrings)`, the array
  * is exploded into a `(row_id, band_hash)` relation and fed through the
  * same salted chaining as LSH banding (monotone OR-construction, SURVEY.md
  * §7.3). The reference de-escalates
  * from 2 anchors to 1 longer anchor after bad rounds (`:476-489`); we run
  * the first half of rounds with 2 anchors and the second half with 1 —
  * the same coverage without driver feedback.
  *
  * We deliberately do NOT reproduce the reference's 3-reps-per-chunk
  * sampling (C4, `:497-505`): it exists to bound per-round sort cost on one
  * machine; bucket chaining already bounds pair count linearly, and skipping
  * rows would only lose recall.
  */
object ChunkPhase {

  private final val CHUNK_DOMAIN = 0x43484E4BL // "CHNK"

  // Anchor alphabet is configurable (GraftConfig.anchorAlphabet): common
  // English letters for caption corpora — the caption-domain analog of the
  // reference's uniform draw over ACGT (`:491`) — and "ACGT" for DNA parity.
  private def anchor(alphabet: String, seed: Long, len: Int): String = {
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) {
      sb.append(alphabet.charAt(Hashing.boundedInt(Hashing.hash2(seed, i.toLong), alphabet.length)))
      i += 1
    }
    sb.toString
  }

  /** Anchor-substring signature column for one anchor: the reference's
    * `cmn_substr` (`:455-462`) — substring of length w+t from the first
    * occurrence of the anchor (start of string when absent). */
  private def cmnSubstr(captionCol: Column, a: String, w: Int, t: Int): Column = {
    val start = greatest(instr(captionCol, lit(a)), lit(1))
    captionCol.substr(start, lit(w + t))
  }

  /** One hash column per common-substring round; `n` is the (approximate)
    * corpus size and `capLen` a typical caption length — the reference
    * derives w and t from exactly these (`:468-469,484-485`). Exposed so
    * the pipeline can fuse these columns with the LSH band hashes into a
    * single explode + chaining pass (one wide exchange for BOTH
    * candidate families instead of two). */
  def hashCols(cfg: GraftConfig, n: Long, capLen: Int): Seq[Column] = {
    val rounds = cfg.chunkRounds
    val w2 = math.max(math.ceil(math.log(math.max(capLen, 4)) / math.log(4)).toInt - 1, 1)
    val t2 = math.max(math.ceil(math.log(math.max(n, 4).toDouble) / math.log(4)).toInt - 1, w2)
    val w1 = w2 + 1
    val t1 = math.max(t2 + 1, w1)

    // The round seed `rs` is folded INTO the hash (round-4 shuffle diet):
    // it domain-separates chunk-round buckets from each other and from the
    // LSH band buckets, so the exploded relation needs no band column.
    (0 until rounds).map { r =>
      val rs = Hashing.hash3(cfg.seed, CHUNK_DOMAIN, r.toLong)
      if (r < (rounds + 1) / 2) {
        // two anchors, sorted pair (the reference's sorted multi-sig, :499)
        val a1 = anchor(cfg.anchorAlphabet, Hashing.hash2(rs, 1L), w2)
        val a2 = anchor(cfg.anchorAlphabet, Hashing.hash2(rs, 2L), w2)
        val s1 = cmnSubstr(col("caption"), a1, w2, t2)
        val s2 = cmnSubstr(col("caption"), a2, w2, t2)
        xxhash64(lit(rs), array_join(array_sort(array(s1, s2)), ""))
      } else {
        val a1 = anchor(cfg.anchorAlphabet, Hashing.hash2(rs, 1L), w1)
        xxhash64(lit(rs), cmnSubstr(col("caption"), a1, w1, t1))
      }
    }
  }
}
