package perfbench

import java.io.File
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cluster.{ChunkPhase, CheckpointedPipeline, ConnectedComponents, Pipeline}
import graft.eval.Metrics
import graft.feat.{MinHash, RowIds}
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import graft.lsh.{Banding, VerifyPairs}
import graft.model.{GenRow, GraftConfig}

/** JVM side of the dedup benchmark; perfbench/run.py builds and launches it.
  *
  * One closed-loop client: this thread hands one job at a time to a
  * `local[k]` session and waits for it. Every record goes to `--out` as a
  * JSON line; run.py turns them into metrics.
  *
  * Untraced (`--trace 0`): set up (session, then corpus generation three
  * times, keeping the last), then time `Pipeline.run` repetitions for at
  * least `--seconds`, checking and scoring each one. The first repetition
  * runs in a fresh JVM, as a batch user's job does.
  *
  * Traced (`--trace 1`): the same set-up and one pipeline repetition with
  * the benchmark's [[JobLedger]] attached, then the round-0 layers called one
  * by one (featurize, band, verify, CC), then the durable path
  * (`CheckpointedPipeline.run`, a simulated kill, and the resume) on groups
  * 0..499 of the corpus written as 16 `part_id` partitions. Each call is
  * wrapped in a span.
  */
object DedupBench {

  /** Corpus size of each workload, in planted groups. */
  val Workloads: Map[String, Int] = Map("small-dup" -> 500, "large-dup" -> 1000)
  /** Driver union-find edge cap (`spark.graft.cc.driverUnionFindMaxEdges`),
    * scaled from the engine's 200k default to these corpus sizes so that, as
    * at 15k vs 156k rows under the default, round-0 CC of small-dup (about
    * 24k edges) takes the driver path and that of large-dup (about 48k
    * edges) the distributed star loop. Both workloads run with it. */
  val DriverCcCap = 36000
  /** Groups 0 until this many (the small-dup corpus) form the durable-path
    * table in traced runs. */
  val DurableGroups = 500
  val DurableParts = 16
  val SetupRepeats = 3
  val Cfg: GraftConfig = GraftConfig(seed = 7L)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val groups = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val runDir = Paths.get(args("run-dir"))
    val localDir = runDir.resolve("local")
    val out = new JsonLines(new File(args("out")))

    val mainMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.graft.cc.driverUnionFindMaxEdges", DriverCcCap.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    out.write("provenance",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "master" -> s"local[$cores]",
      "heap_bytes" -> Runtime.getRuntime.maxMemory(),
      "shuffle_partitions" -> cores,
      "groups" -> groups,
      "driver_cc_cap" -> DriverCcCap)

    val ledger = new JobLedger
    if (traced) spark.sparkContext.addSparkListener(ledger)
    val span = new Spans(out)
    try {
      val genCfg = SyntheticCorpus.GenConfig(groups = groups, seed = seed, fastPayload = true)
      def generate(): Dataset[GenRow] = {
        val gen = SyntheticCorpus.generate(spark, genCfg)
          .persist(StorageLevel.MEMORY_AND_DISK)
        gen.count()
        gen
      }
      // set-up, repeated so its median is steady; the last corpus is kept
      val genS = (1 until SetupRepeats).map { _ =>
        val t = System.nanoTime(); generate().unpersist(blocking = true); (System.nanoTime() - t) / 1e9
      }
      val tg = System.nanoTime()
      val durablePath = runDir.resolve("durable_images").toString
      val gen = span("gen.generate") {
        val g = generate()
        if (traced)
          TableIO.writeImages(
            SyntheticCorpus.imagesOf(g.where(col("true_cluster_id") < DurableGroups)),
            durablePath, DurableParts)
        g
      }
      val lastGenS = (System.nanoTime() - tg) / 1e9
      out.write("setup", "jvm_start_ms" -> args("launch-ms").toLong, "main_ms" -> mainMs,
        "session_s" -> sessionS, "gen_s" -> (genS :+ lastGenS))

      val images = SyntheticCorpus.imagesOf(gen)
      val truth = SyntheticCorpus.truthOf(gen)
      val n = gen.count()
      val keepRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val keepShuffles = org.apache.spark.graft.ShuffleRetirement.liveIds(spark.sparkContext)

      def cleanup(): Unit = {
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!keepRdds(id)) rdd.unpersist(blocking = true)
        }
        org.apache.spark.graft.ShuffleRetirement.retireAllExcept(spark.sparkContext, keepShuffles)
        System.gc()
      }

      // ---- timed repetitions of the pipeline (one when traced) ----
      val timed0 = System.nanoTime()
      var rep = 0
      while (rep == 0 || (!traced && (System.nanoTime() - timed0) / 1e9 < seconds)) {
        if (rep > 0) cleanup()
        rep += 1
        try {
          // a collection before each timed call, so no call pays for the
          // garbage of the one before it
          System.gc()
          val sampler = new CrestSampler(localDir)
          val t = System.nanoTime()
          val res = span("cluster.pipeline") {
            val r = Pipeline.run(spark, images, Cfg)
            r.assign.count()
            r
          }
          val wall = (System.nanoTime() - t) / 1e9
          val crest = sampler.stop()
          val cacheBytes = spark.sparkContext.getRDDStorageInfo
            .filterNot(i => keepRdds(i.id)).map(i => i.memSize + i.diskSize).sum
          val cover = coverage(res.assign, truth)
          System.gc()
          val ts = System.nanoTime()
          val m = span("eval.evaluate") { Metrics.evaluate(spark, res.assign, truth) }
          val scoreS = (System.nanoTime() - ts) / 1e9
          val st = res.stats
          out.write("rep", "i" -> rep, "rows" -> n, "wall_s" -> wall, "score_s" -> scoreS,
            "recall" -> m.dupPairRecall, "precision" -> m.dupPairPrecision,
            "cache_bytes" -> cacheBytes, "peak_scratch_bytes" -> crest,
            "coverage" -> cover,
            "passes" -> (st.size - 1), "round0_edges" -> st.head.verifiedPairs,
            "round0_s" -> st.head.seconds, "macro_s" -> st.drop(1).map(_.seconds).sum)
        } catch {
          case e: Throwable =>
            out.write("rep", "i" -> rep, "error" -> e.toString.take(400))
            if (traced) throw e
        }
      }

      if (traced) {
        cleanup()
        layers(spark, images, span, out)
        cleanup()
        durable(spark, durablePath, runDir.resolve("work"), span, out)
        org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
        ledger.dump(out)
      }
    } catch {
      case e: Throwable =>
        out.write("error", "message" -> e.toString.take(400))
        e.printStackTrace()
    } finally {
      out.close()
      spark.stop()
    }
  }

  /** Output coverage in one job: rows of the result, input rows with no
    * cluster_id, result rows not in the input, and the most cluster_ids
    * any row received. Each input row must get exactly one cluster_id. */
  private def coverage(assign: DataFrame, truth: DataFrame): Map[String, Long] = {
    val perRow = assign.groupBy("row_id").agg(count(lit(1)).as("c"))
    val r = truth.select(col("row_id"), lit(1).as("t"))
      .join(perRow, Seq("row_id"), "full_outer")
      .agg(
        coalesce(sum(col("c")), lit(0L)),
        sum(when(col("c").isNull, 1L).otherwise(0L)),
        sum(when(col("t").isNull, 1L).otherwise(0L)),
        coalesce(max(col("c")), lit(0L)))
      .head()
    Map("assigned" -> r.getLong(0), "missing" -> r.getLong(1),
      "extra" -> r.getLong(2), "max_ids_per_row" -> r.getLong(3))
  }

  /** Round 0 called layer by layer, as `Pipeline.initialState` composes it
    * (without its exact-duplicate collapse, which is private to it). Counts
    * are taken outside the spans so they do not add to them. */
  private def layers(spark: SparkSession, images: DataFrame, span: Spans, out: JsonLines): Unit = {
    val cfg = Cfg
    val (features, captions, n, capLen) = span("feat.featurize") {
      val f = MinHash.featurize(spark, images, cfg).toDF()
        .drop("shingles", "caption", "simhash")
        .repartition(col("row_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = f.count()
      val c = images.select(RowIds.rowIdCol(col("image_id")).as("row_id"), col("caption"))
        .repartition(col("row_id"))
        .persist(StorageLevel.DISK_ONLY)
      val capLen = c.agg(coalesce(max(length(col("caption"))), lit(0))).head().getInt(0)
      (f, c, n, capLen)
    }
    val hashes = Banding.bandHashCols(col("minhash"), cfg, 0) ++ ChunkPhase.hashCols(cfg, n, capLen)
    val buckets = features.join(captions, "row_id")
      .select(col("row_id"), explode(array(hashes: _*)).as("band_hash"))
    val cand = span("lsh.band") { Banding.chainPairs(buckets, cfg.saltShards).localCheckpoint() }
    val b = buckets.groupBy("band_hash").agg(count(lit(1)).as("c"))
      .agg(sum("c"), max("c"), coalesce(sum(when(col("c") === 1, 1L)), lit(0L))).head()
    val pairsIn = cand.count()
    out.write("counts", "span" -> "lsh.band", "exploded_rows" -> b.getLong(0),
      "max_bucket_rows" -> b.getLong(1), "singleton_rows" -> b.getLong(2),
      "candidate_pairs" -> pairsIn)

    val verified = span("lsh.verify") {
      VerifyPairs.verify(cand, features, captions, cfg.q, cfg.sdHigh, cfg.sdLow,
        cfg.distanceThreshold, cfg.hammingThreshold, cfg.minLcs).localCheckpoint()
    }
    val pairsOut = verified.count()
    out.write("counts", "span" -> "lsh.verify", "pairs_in" -> pairsIn, "pairs_out" -> pairsOut)

    // verified pairs are (a < b)-normalized and distinct, as the pipeline's
    // round-0 edges are
    val comps = span("cluster.cc") {
      ConnectedComponents.components(spark, verified, inputNormalized = true)
    }
    val starPath = comps.queryExecution.analyzed.collectLeaves().exists(_.isInstanceOf[LogicalRDD])
    out.write("counts", "span" -> "cluster.cc", "edges_in" -> pairsOut,
      "components" -> comps.select("cluster_id").distinct().count(), "star_path" -> starPath)
  }

  /** The durable path: a straight run from an empty workDir, a simulated
    * kill through the public ledger API (drop `features_2` and every
    * `round_*` entry), and the resume. The resumed clustering must equal the
    * straight one as partition sets. */
  private def durable(spark: SparkSession, imagesPath: String, workDir: Path,
                      span: Spans, out: JsonLines): Unit = {
    val wd = workDir.toString
    val straight = span("cluster.durable") {
      val (res, _) = CheckpointedPipeline.run(spark, imagesPath, wd, Cfg)
      res.assign.count()
      res
    }
    val golden = partitionSets(straight.assign)
    out.write("counts", "span" -> "io.workdir", "workdir_bytes" -> DirSize.of(workDir))
    TableIO.dropEntry(wd, "features_2")
    TableIO.completedKeys(wd).filter(_.startsWith("round_")).foreach(TableIO.dropEntry(wd, _))
    val (resumed, rep) = span("cluster.resume") {
      val (res, rep) = CheckpointedPipeline.run(spark, imagesPath, wd, Cfg)
      res.assign.count()
      (res, rep)
    }
    out.write("counts", "span" -> "cluster.resume",
      "features_recomputed" -> rep.featuresComputed.size,
      "rounds_recomputed" -> rep.roundsComputed.size,
      "features_recomputed_ids" -> rep.featuresComputed,
      "same_partition" -> (partitionSets(resumed.assign) == golden))
  }

  private def partitionSets(assign: DataFrame): Set[Set[Long]] =
    assign.select("row_id", "cluster_id").collect()
      .groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSet).toSet
}
