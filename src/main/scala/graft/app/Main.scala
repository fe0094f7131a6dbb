package graft.app

import org.apache.spark.sql.SparkSession

import graft.cluster.Pipeline
import graft.eval.Metrics
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import graft.model.GraftConfig

/** spark-submit-shaped entry point (SURVEY.md §7.1 app/Main).
  *
  * Modes:
  *   demo   --groups N [--seed S] [--maxEdits E]
  *          generate a corpus, run the full pipeline, print the metric report
  *          (the analog of `python lsh_based_clustering.py -e evyat.txt`,
  *          `/root/reference/lsh_based_clustering.py:932-937`).
  *   gen    --groups N --out DIR      write images+truth parquet
  *   cluster --in DIR --out DIR       cluster a written corpus, write assign
  */
object Main {

  def parseArgs(args: Array[String]): Map[String, String] =
    args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val b = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.shuffle.partitions", math.max(cpus.toInt, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // under spark-submit master comes from the launcher; default local otherwise
    val withMaster = if (sys.props.contains("spark.master")) b else b.master(s"local[$cpus]")
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("demo")
    val opts = parseArgs(args)
    val spark = session()
    val t0 = System.nanoTime()
    mode match {
      case "gen" =>
        val cfg = SyntheticCorpus.GenConfig(
          groups = opts.getOrElse("groups", "1000").toInt,
          seed = opts.getOrElse("seed", "42").toLong,
          maxEdits = opts.getOrElse("maxEdits", "8").toInt,
          megaGroupRows = opts.getOrElse("mega", "0").toInt)
        val out = opts("out")
        val gen = SyntheticCorpus.generate(spark, cfg).cache()
        TableIO.writeImages(SyntheticCorpus.imagesOf(gen), s"$out/images", 8)
        SyntheticCorpus.truthOf(gen).write.mode("overwrite").parquet(s"$out/truth")
        println(s"""{"mode":"gen","rows":${gen.count()},"out":"$out"}""")

      case "cluster" =>
        val in = opts("in"); val out = opts("out")
        val images = spark.read.parquet(s"$in/images")
        val res = Pipeline.run(spark, images, GraftConfig(seed = opts.getOrElse("seed", "42").toLong))
        res.assign.write.mode("overwrite").parquet(s"$out/assign")
        val truth = spark.read.parquet(s"$in/truth")
        val rep = Metrics.evaluate(spark, res.assign, truth)
        println(report(rep, res, (System.nanoTime() - t0) / 1e9))

      case _ => // demo
        val cfg = SyntheticCorpus.GenConfig(
          groups = opts.getOrElse("groups", "1000").toInt,
          seed = opts.getOrElse("seed", "42").toLong,
          maxEdits = opts.getOrElse("maxEdits", "8").toInt,
          megaGroupRows = opts.getOrElse("mega", "0").toInt)
        val gen = SyntheticCorpus.generate(spark, cfg).cache()
        val images = SyntheticCorpus.imagesOf(gen)
        val truth = SyntheticCorpus.truthOf(gen)
        val res = Pipeline.run(spark, images,
          GraftConfig(seed = opts.getOrElse("pipelineSeed", "7").toLong))
        val rep = Metrics.evaluate(spark, res.assign, truth)
        println(report(rep, res, (System.nanoTime() - t0) / 1e9))
    }
    spark.stop()
  }

  def report(rep: Metrics.Report, res: Pipeline.Result, secs: Double): String = {
    val sb = new StringBuilder
    sb.append(f"Total time: $secs%.2f s, throughput: ${rep.n / secs}%.0f images/s%n")
    sb.append(s"Total Clusters: ${rep.clusters}, Singles: ${rep.singles}%n".replace("%n", "\n"))
    sb.append("Metric Accrcy:\n")
    Metrics.GAMMAS.foreach(g => sb.append(f"$g: ${rep.gammaAccuracy(g)}%.4f%n"))
    sb.append(s"Total num. of strands: ${rep.n}\n")
    sb.append(s"(FP) False Positives: ${rep.falsePositives}\n")
    sb.append(s"(TN) True Negatives: ${rep.trueNegatives}\n")
    sb.append(s"(FN) False Negatives: ${rep.falseNegatives}\n")
    sb.append(s"(TP) True Positives: ${rep.truePositives}\n")
    sb.append(f"(TS) Threat Score / (CSI): ${rep.csi}%.4f%n")
    sb.append(f"NMI: ${rep.nmi}%.4f%n")
    sb.append(f"Adjusted Rand: ${rep.adjustedRand}%.4f%n")
    sb.append(f"Purity: ${rep.purity}%.4f%n")
    sb.append(f"Dup-pair recall: ${rep.dupPairRecall}%.6f (north-star target >= 0.99)%n")
    sb.append(f"Dup-pair precision: ${rep.dupPairPrecision}%.6f%n")
    res.stats.foreach(s => sb.append(
      f"phase=${s.phase} round=${s.macroRound} verified=${s.verifiedPairs} clusters=${s.clusters} singles=${s.singles} workRate=${s.workRate}%.4f%n"))
    sb.toString
  }
}
