package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.feat.MinHash
import graft.io.TableIO
import graft.model.GraftConfig

/** Resumable pipeline: a per-partition featurize stage plus the ledger-
  * backed state store for [[Pipeline]]'s driver loop (north rule;
  * SURVEY.md §7.4.5). Clustering runs in `Pipeline.loop`; this object only
  * saves each pass's state and loads the last one on resume.
  *
  *   workDir/
  *     features/part_id=k/   one parquet per INPUT partition (stage 1)
  *     state/round=r/rel     (row_id, cluster_id, score) (stages 2-4)
  *     _ledger/features_k.json, _ledger/round_r.json
  *
  * A kill at any point resumes by replaying the ledger: completed feature
  * partitions are skipped (per-partition lineage + metrics in their ledger
  * entries), and clustering restarts from the last completed round's state.
  * Ledger entries are written AFTER their artifact (write-ahead artifact,
  * commit-last), so a torn run can only re-do work, never skip it.
  */
object CheckpointedPipeline {

  final case class ResumeReport(
      featuresComputed: Seq[Int], featuresSkipped: Seq[Int],
      roundsComputed: Seq[Int], roundsSkipped: Seq[Int])

  /** Signature-format tag written into every stage-1 ledger entry and
    * checked on resume (ADVICE r5): a workDir whose features were written
    * by an engine with a different lane width / layout must NOT be mixed
    * with newly written partitions — the directory-wide parquet read would
    * fail (or silently mis-infer) on int32-beside-int64 minhash files.
    * Bump on any featurize output-format change (round 5: 64→32-bit lanes). */
  val SigFormat = "minhash-i32-v1"

  /** Shingle-config key recorded beside [[SigFormat]] in stage-1 ledger
    * entries (ADVICE r6): the featurize OUTPUT is a function of shingle
    * width (cfg.q) and composition (cfg.usePhash folds pHash bit n-grams
    * into the shingle set), so reuse must be keyed on them as well.
    * Pre-r7 ledger entries lack this key and therefore recompute —
    * conservative by construction. */
  def shingleKey(cfg: GraftConfig): String =
    s"q=${cfg.q},phash=${cfg.usePhash}"

  def run(spark: SparkSession, imagesPath: String, workDir: String,
          cfg: GraftConfig = GraftConfig()): (Pipeline.Result, ResumeReport) = {
    val done = TableIO.completedKeys(workDir)
    val parts = TableIO.listPartitions(spark, imagesPath)

    // ---- Stage 1: featurize per input partition (resumable unit). ----
    // A completed partition is reusable only if its ledger entry matches
    // the current signature format AND the full signature config; a
    // mismatch (or a pre-versioning entry missing a key) means "recompute
    // this partition" — mirroring the round-ledger format-drift guard
    // below. The shingle key covers cfg.q and cfg.usePhash (ADVICE r6):
    // featurize output depends on shingle width and composition too, not
    // just the hash-family params, and a resume after q/usePhash drift
    // must not silently reuse stale feature partitions.
    val (fDone, fTodo) = parts.partition { p =>
      done.contains(s"features_$p") && {
        val m = TableIO.readEntry(workDir, s"features_$p").metrics
        m.get("sig_format").contains(SigFormat) &&
          m.get("config_seed").contains(cfg.seed.toString) &&
          m.get("m").contains(cfg.m.toString) &&
          m.get("shingle").contains(shingleKey(cfg))
      }
    }
    // Re-featurizing ANY partition invalidates clustering state derived
    // from the old signatures; refuse to silently continue a resume whose
    // rounds were computed against them.
    if (fTodo.exists(p => done.contains(s"features_$p")) &&
        done.exists(_.startsWith("round_")))
      throw new IllegalStateException(
        s"workDir $workDir holds clustering rounds computed from feature " +
        s"partitions whose signature format/config no longer matches " +
        s"($SigFormat, seed=${cfg.seed}, m=${cfg.m}, ${shingleKey(cfg)}) — " +
        "delete the workDir (or its state/ and _ledger/round_* entries) to " +
        "re-run; refusing to resume across a signature-format drift. " +
        "Note: every pre-r7 workDir lacks the 'shingle' ledger key, so " +
        "resuming one after upgrading recomputes its feature partitions — " +
        "a one-time migration cost (delete old round state after upgrading).")
    fTodo.foreach { p =>
      val slice = spark.read.parquet(imagesPath).where(col("part_id") === p)
      MinHash.featurize(spark, slice, cfg)
        .write.mode("overwrite").parquet(s"$workDir/features/part_id=$p")
      val rows = spark.read.parquet(s"$workDir/features/part_id=$p").count()
      TableIO.writeEntry(workDir, TableIO.LedgerEntry(
        s"features_$p", "features", p, rows,
        Map("config_seed" -> cfg.seed.toString, "m" -> cfg.m.toString,
            "sig_format" -> SigFormat, "shingle" -> shingleKey(cfg))))
    }
    // The same caches as Pipeline.run, built by the same builder from two
    // column-pruned parquet scans of the stage-1 artifacts.
    val features = spark.read.parquet(s"$workDir/features")
    val caches = Pipeline.buildCaches(spark, features.select("row_id", "minhash", "phash"),
      features.select("row_id", "caption"))

    // ---- Stage 2-4: clustering rounds (round = resumable unit). ----
    // The pass state is ONE relation (row_id, cluster_id, score), saved and
    // loaded as is. Ledger key = the pass's LAST macro round — pass boundaries
    // are deterministic functions of (config, corpus), so a resumed run
    // re-derives the same chunking and replays at most one torn pass.
    def saveState(rel: DataFrame, stat: Pipeline.PhaseStat, bad: Int): Unit = {
      val r = stat.macroRound
      rel.write.mode("overwrite").parquet(s"$workDir/state/round=$r/rel")
      TableIO.writeEntry(workDir, TableIO.LedgerEntry(
        s"round_$r", "round", -1, stat.clusters,
        Map("singles" -> stat.singles.toString,
            "verified" -> stat.verifiedPairs.toString,
            "workRate" -> stat.workRate.toString,
            "badRounds" -> bad.toString)))
    }
    def loadState(r: Int): DataFrame =
      spark.read.parquet(s"$workDir/state/round=$r/rel")
        .repartition(col("row_id")) // restore the join-aligned partitioning
        .localCheckpoint()          // eager: truncate before any retirement
    def loadStat(r: Int): (Pipeline.PhaseStat, Int) = {
      // clusters + singles + workRate + bad-round count (loop control) via
      // the structured ledger reader — a missing/malformed field aborts the
      // resume instead of silently defaulting loop state (ADVICE r3)
      val e = TableIO.readEntry(workDir, s"round_$r")
      def metric(k: String): String = e.metrics.getOrElse(k,
        throw new IllegalStateException(
          s"ledger round_$r is missing required metric \"$k\" — format drift; refusing to resume"))
      (Pipeline.PhaseStat("saved", r, -1L, e.rows, metric("singles").toLong,
        metric("workRate").toDouble), metric("badRounds").toInt)
    }

    // resume from the last completed round's state, if any (stage 1 writes
    // only features_* entries, so `done` still lists every round)
    val lastDone = done.filter(_.startsWith("round_")).map(_.stripPrefix("round_").toInt)
      .maxOption
    val resume = lastDone.map { r =>
      val (stat, bad) = loadStat(r)
      (loadState(r), stat, bad)
    }
    val res = Pipeline.loop(spark, caches, cfg, resume, saveState)
    (res, ResumeReport(fTodo, fDone, res.stats.map(_.macroRound),
      lastDone.toSeq.flatMap(0 to _)))
  }
}
