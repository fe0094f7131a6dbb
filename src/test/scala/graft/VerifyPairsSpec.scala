package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.cluster.{ChunkPhase, Pipeline}
import graft.gen.SyntheticCorpus
import graft.lsh.{Banding, SuffixLcs, VerifyPairs}
import graft.model.GraftConfig

/** The verify accept kernel against the Column expressions it replaced,
  * which this spec keeps as its oracle: Spark's `transform` over
  * `xxhash64(substr)` gram lists, `array_intersect` Dice, the built-in
  * `levenshtein` and a separate suffix-LCS UDF. */
class VerifyPairsSpec extends SparkSpec {
  import spark.implicits._
  import VerifyPairsSpec.cfg

  /** The Column-expression gram list: whole-string hash below q chars. */
  private def oracleGrams(cap: Column, q: Int): Column =
    when(length(cap) >= q,
      transform(sequence(lit(1), length(cap) - (q - 1)),
        i => xxhash64(cap.substr(i, lit(q)))))
      .otherwise(array(xxhash64(cap)))

  private def oracleDice(ga: Column, gb: Column): Column =
    lit(2.0) * size(array_intersect(ga, gb)) / (size(ga) + size(gb))

  private val oracleLcs = udf((a: String, b: String) => SuffixLcs.lcs(a, b))

  /** The old verify predicate over captions `cap_a`, `cap_b`. */
  private def oracleAccept(q: Int): Column = {
    val dice = oracleDice(oracleGrams(col("cap_a"), q), oracleGrams(col("cap_b"), q))
    dice >= cfg.sdLow && (dice >= cfg.sdHigh ||
      when(levenshtein(col("cap_a"), col("cap_b")) <= cfg.distanceThreshold, lit(true))
        .otherwise(oracleLcs(col("cap_a"), col("cap_b")) >= cfg.minLcs))
  }

  private val acceptUdf = udf((a: String, b: String) => VerifyPairs.accept(
    a, b, cfg.q, cfg.sdHigh, cfg.sdLow, cfg.distanceThreshold, cfg.minLcs))

  private def kernelDice(a: String, b: String, q: Int): Double =
    VerifyPairs.dice(VerifyPairs.gramHashes(UTF8String.fromString(a), q),
      VerifyPairs.gramHashes(UTF8String.fromString(b), q))

  test("kernel gram hashes and Dice equal the Column expressions on edge captions") {
    val q = cfg.q
    val edge = Seq(
      "", "abc", "abcdef", "abcdefg", "aaaaaaaaaa", "aaaaaaaaab",
      "café crème brûlée", "café creme brulee", "日本語のキャプション文字列",
      "a🙂b🙂c🙂d🙂e", "a🙂b🙂c🙂d🙂f", "🙂🙂🙂🙂🙂🙂🙂", "x🙂", "🙂🙂🙂🙂🙂🙂")
    // a UTF-16 window of a supplementary code point differs from a
    // code-point window, so this case would catch String.substring hashing
    assert("a🙂b🙂c🙂d🙂e".length != "a🙂b🙂c🙂d🙂e".codePointCount(0, "a🙂b🙂c🙂d🙂e".length))
    val caps = edge.toDF("cap")
    val oracle = caps.select(col("cap"), array_sort(oracleGrams(col("cap"), q)).as("g"))
      .as[(String, Seq[Long])].collect().toMap
    edge.foreach { c =>
      assert(VerifyPairs.gramHashes(UTF8String.fromString(c), q).toSeq == oracle(c), c)
    }
    val pairs = for (a <- edge; b <- edge) yield (a, b)
    val oracleDices = pairs.toDF("cap_a", "cap_b")
      .select(col("cap_a"), col("cap_b"),
        oracleDice(oracleGrams(col("cap_a"), q), oracleGrams(col("cap_b"), q)))
      .as[(String, String, Double)].collect()
    assert(oracleDices.length == pairs.size)
    oracleDices.foreach { case (a, b, d) =>
      assert(kernelDice(a, b, q) == d, s"dice('$a', '$b')")
    }
    // repeated grams: a set intersection over list lengths
    assert(kernelDice("aaaaaaaaaa", "aaaaaaaaaa", q) == 2.0 / 10)
    val oracleAccepts = pairs.toDF("cap_a", "cap_b")
      .select(col("cap_a"), col("cap_b"), oracleAccept(q))
      .as[(String, String, Boolean)].collect()
    oracleAccepts.foreach { case (a, b, ok) =>
      assert(VerifyPairs.accept(a, b, q, cfg.sdHigh, cfg.sdLow, cfg.distanceThreshold,
        cfg.minLcs) == ok, s"accept('$a', '$b')")
    }
  }

  test("accept equals the old verify predicate on every 150-group fixture candidate") {
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = 150)).cache()
    val c = Pipeline.caches(spark, SyntheticCorpus.imagesOf(gen), cfg)
    try {
      val hashes = Banding.bandHashCols(col("minhash"), cfg, 0) ++
        ChunkPhase.hashCols(cfg, c.n, c.capLen)
      val cand = Banding.chainPairs(
        c.features.join(c.captions, "row_id")
          .select(col("row_id"), explode(array(hashes: _*)).as("band_hash")),
        cfg.saltShards)
      def caption(side: String): DataFrame =
        c.captions.select(col("row_id").as(side), col("caption").as(s"cap_$side"))
      val dice = oracleDice(oracleGrams(col("cap_a"), cfg.q), oracleGrams(col("cap_b"), cfg.q))
      val r = cand.join(caption("a"), "a").join(caption("b"), "b")
        .select(oracleAccept(cfg.q).as("old"), acceptUdf(col("cap_a"), col("cap_b")).as("new"),
          (dice >= cfg.sdLow && dice < cfg.sdHigh).as("gray"))
        .agg(count(lit(1)), count(when(col("old") =!= col("new"), 1)),
          count(when(col("new"), 1)), count(when(col("gray"), 1)),
          count(when(col("gray") && col("new"), 1)))
        .head()
      val Seq(pairs, differ, accepted, gray, grayAccepted) = (0 until 5).map(r.getLong)
      info(s"$pairs candidates, $accepted accepted; gray zone $gray, $grayAccepted rescued")
      assert(pairs > 1000 && accepted > 0 && accepted < pairs, r)
      // the Levenshtein / suffix-LCS rescue both accepts and rejects here
      assert(grayAccepted > 0 && grayAccepted < gray, r)
      assert(differ == 0, s"$differ of $pairs candidates verify differently")
    } finally {
      c.features.unpersist(blocking = true)
      c.captions.unpersist(blocking = true)
      gen.unpersist()
    }
  }
}

object VerifyPairsSpec {
  // outside the suite class, so the UDF closures do not capture it
  private val cfg = GraftConfig(seed = 7L)
}
