package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graft.StageProfiler
import org.apache.spark.sql.SparkSession

import graft.cluster.Pipeline
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import graft.model.GraftConfig

/** Scale runs of the pipeline on a generated corpus, one timed run per JVM.
  *
  *  - `gen` writes a `SPARK_GRAFT_BENCH_GROUPS`-group corpus (default 8,000)
  *    to `SPARK_GRAFT_BENCH_PATH` as partitioned parquet, unless it is
  *    already there; `SPARK_GRAFT_FAST_GEN` replaces the encoded payloads
  *    with a placeholder.
  *  - `single <cpus>` runs a warm-up on a 5,000-row slice, then one timed
  *    `Pipeline.run` at `local[cpus]`, and prints its `[phase]` and
  *    `[stages]` lines and one JSON line with rows, seconds, throughput and
  *    recall. The measurement protocol (one fresh JVM per point, heap,
  *    pinning) is in BENCH.md.
  */
object ScalingBench {

  /** The production session of every scale tool; `extra` confs are set
    * last, so a tool can override one. */
  def session(cpus: Int, app: String, extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      // 256 initial shuffle partitions + AQE coalescing: the large stages
      // (the L×n explode and its windows) get partitions small enough to
      // sort without heavy spill, while the tiny late-pass shuffles coalesce
      // instead of paying a 256-task barrier for a few thousand rows
      .config("spark.sql.shuffle.partitions", "256")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.io.compression.codec", "zstd") // denser shuffle spill
      // Lean-heap survivability (round 7): the first 2-core/4 g attempt
      // died at 6,182 s with UNABLE_TO_ACQUIRE_MEMORY in a tail-pass
      // HashAggregate — the full 1.58 GB hot features cache sat under the
      // default unevictable-storage threshold (0.5 × 2.28 GB pool =
      // 1.14 GB protected), capping execution at ~1.1 GB for the whole
      // run. 0.2 lets execution evict the MEMORY_AND_DISK cache to disk
      // under pressure — the behavior a lean production executor needs.
      .config("spark.memory.storageFraction", "0.2")
      // shuffle files of superseded stages are reclaimed by ContextCleaner
      // only after the driver GCs their references — with a large heap that
      // never happens on its own and scratch disk fills (~45 GB observed at
      // 8M rows); force a driver GC every 2 min so dead shuffles are freed
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stage-level profile of the timed run: wall duration vs summed task
    * time exposes whether a stage is barrier-bound (few/short tasks) or
    * compute-bound. */
  private def report(prof: StageProfiler): Unit = {
    val stages = prof.stages
    System.err.println("[stages] top by wall duration:")
    stages.sortBy(-_.wallMs).take(25).foreach { st =>
      System.err.println(f"[stages] id=${st.id}%4d wall=${st.wallMs / 1000.0}%7.1fs tasks=${st.tasks}%4d taskTimeSum=${st.runMs / 1000.0}%8.1fs gc=${st.gcMs / 1000.0}%6.1fs  ${st.name}")
    }
    val wall = stages.map(_.wallMs).sum / 1000.0
    val task = stages.map(_.runMs).sum / 1000.0
    val gc = stages.map(_.gcMs).sum / 1000.0
    System.err.println(f"[stages] total stage-wall=$wall%.1fs total task-time=$task%.1fs gc-time=$gc%.1fs stages=${stages.size}")
    System.err.println(f"[stages] total shuffle-write=${stages.map(_.shuffleWriteBytes).sum / 1e9}%.2fGB disk-spill=${stages.map(_.spillBytes).sum / 1e9}%.2fGB")
  }

  private def single(cpus: Int, imagesPath: String): Unit = {
    val spark = session(cpus, s"graft-scaling-$cpus")
    val prof = StageProfiler.attach(spark.sparkContext)
    val images = spark.read.parquet(imagesPath)
    // tiny warm-up: JIT + codegen caches, not reported.
    // eager checkpoint: limit() is evaluated ONCE, so Pipeline.run's two
    // input scans (hot features + captions cache) see the SAME 5000 rows
    // — a bare limit() re-evaluates per scan and can pick different rows,
    // which run() rejects loudly (ADVICE r5)
    val slice = images.limit(5000).localCheckpoint()
    val w = Pipeline.run(spark, slice, GraftConfig(seed = 7L))
    w.assign.count()
    // drop the warm-up's caches NOW: the blanket post-run retirement
    // below would otherwise strand live caches whose lineage includes
    // the warm-up featurize/caption exchanges (ADVICE r4)
    w.features.unpersist()
    w.captions.unpersist()
    graft.util.Checkpoints.unpersistCheckpoint(slice)
    prof.reset() // `[stages]` covers the timed run alone
    // disk-envelope knobs for the largest corpora: round-0 batch count and
    // the fused-pass volume cap bound the in-flight scratch of any single
    // query (see GraftConfig.round0Batches / Pipeline.RoundControl.passSize)
    val cfgRun = GraftConfig(seed = 7L,
      round0Batches = sys.env.getOrElse("SPARK_GRAFT_R0_BATCHES", "1").toInt,
      fusedBandRowCap = sys.env.getOrElse("SPARK_GRAFT_FUSED_CAP",
        GraftConfig().fusedBandRowCap.toString).toLong)
    val t0 = System.nanoTime()
    val res = Pipeline.run(spark, images, cfgRun)
    val n = res.assign.count()
    val sec = (System.nanoTime() - t0) / 1e9
    res.stats.foreach(s => System.err.println(
      f"[phase] ${s.phase} round=${s.macroRound} sec=${s.seconds}%.2f verified=${s.verifiedPairs} singles=${s.singles} workRate=${s.workRate}%.4f"))
    report(prof)
    // the timed run is over: drop the features cache and retire every
    // remaining shuffle so the (unmeasured) recall evaluation below does
    // not stack its own shuffles on the tail's files — at 16M rows that
    // stacking alone would overrun the sandbox disk
    res.features.unpersist()
    res.captions.unpersist()
    org.apache.spark.graft.ShuffleRetirement
      .retireAllExcept(spark.sparkContext, Set.empty)
    val truth = SyntheticCorpus.truthOfIds(images)
    val recall = graft.eval.Metrics.evaluate(spark, res.assign, truth).dupPairRecall
    spark.stop()
    println(f"""{"metric":"single_run","cpus":$cpus,"rows":$n,"sec":$sec%.2f,"images_per_sec":${n / sec}%.1f,"recall":$recall%.6f}""")
  }

  private def gen(groups: Int, path: String): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, "graft-scaling-gen")
    if (!Files.exists(Paths.get(s"$path/_SUCCESS_MARKER"))) {
      val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(
        groups = groups,
        fastPayload = sys.env.contains("SPARK_GRAFT_FAST_GEN"),
        numParts = 64))
      TableIO.writeImages(SyntheticCorpus.imagesOf(gen), path, numParts = 64)
      Files.createFile(Paths.get(s"$path/_SUCCESS_MARKER"))
    }
    println(s"""{"metric":"gen","path":"$path"}""")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val groups = sys.env.getOrElse("SPARK_GRAFT_BENCH_GROUPS", "8000").toInt
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_PATH",
      s"/tmp/graft_scaling_corpus_g$groups")
    args.toList match {
      case List("gen") => gen(groups, path)
      case List("single", cpus) if cpus.toIntOption.exists(_ > 0) =>
        require(Files.exists(Paths.get(s"$path/_SUCCESS_MARKER")),
          s"corpus missing at $path — run `gen` mode first")
        single(cpus.toInt, path)
      case _ =>
        System.err.println("usage: ScalingBench gen | single <cpus>")
        sys.exit(2)
    }
  }
}
