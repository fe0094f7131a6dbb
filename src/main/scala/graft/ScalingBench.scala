package graft

import org.apache.spark.graft.StageProfiler
import org.apache.spark.sql.SparkSession

import graft.cluster.Pipeline
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import graft.model.GraftConfig

/** Two-cluster-size scaling evidence (north rule: throughput scaling
  * efficiency ≥ 0.8 from N to 4N executors). No real cluster exists in this
  * sandbox, so — per the driver instruction — the same job runs at two
  * parallelism levels (default local[8] vs local[32]) on the SAME input and
  * we report throughput at both; efficiency = (T_lo / T_hi) / (hi / lo).
  *
  * Methodology notes (these mirror what a real N vs 4N cluster run holds
  * constant):
  *  - the corpus is GENERATED ONCE to partitioned parquet and both runs read
  *    the same files — fixture cost excluded, input bytes identical;
  *  - the shuffle config is the PRODUCTION one and identical for both runs
  *    (256 initial partitions + AQE coalescing on, zstd — rationale at the
  *    config site below): only the executor-thread count varies. Round 1
  *    pinned 64 partitions with coalescing OFF to keep task counts honest
  *    at toy scale; at the 8M+ row scales measured since round 2 every
  *    stage carries real work, so the honest config is the production one;
  *  - one fresh JVM per data point (`single <cpus>` mode), low point
  *    CPU-pinned, machine otherwise idle, best-of-N pairs on identical
  *    code (protocol details in BENCH.md);
  *  - PER-CORE resources are held constant across the two points: the JVM
  *    heap scales with the core count (SPARK_DRIVER_MEM — 16g at 8 cores,
  *    64g at 32), because growing a real cluster N→4N executors quadruples
  *    total memory while per-executor heaps stay fixed. (Round 2 gave both
  *    points one 64g heap, silently handing the low point 4× the per-core
  *    memory — an anti-conservative bias in the efficiency denominator.)
  */
object ScalingBench {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-$cpus")
      // 256 initial shuffle partitions + AQE coalescing, fixed for BOTH
      // parallelism levels: large stages (the L×n explode/window) get small
      // enough partitions to sort without heavy spill, while the tiny
      // late-macro-round shuffles coalesce down instead of paying a
      // 256-task barrier for a few thousand rows — exactly the config a
      // real cluster job of either size would run. (Round-1 protocol pinned
      // 64 partitions with coalescing OFF to keep task counts honest at toy
      // scale; at 8M+ rows every stage has real work, so the concern is
      // moot and the honest config is the production one.)
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
      // Provably a no-op at the 16 g/64 g points: their pools (9.2 g /
      // 38 g) never pressured storage (peak execution + 1.6 GB cache fit
      // either threshold), so the recorded 8- and 32-core measurements
      // remain comparable; disclosed in BENCH.md beside the 2-core row.
      .config("spark.memory.storageFraction", "0.2")
      // shuffle files of superseded stages are reclaimed by ContextCleaner
      // only after the driver GCs their references — with a large heap that
      // never happens on its own and scratch disk fills (~45 GB observed at
      // 8M rows); force a driver GC every 2 min so dead shuffles are freed
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "2min"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stage-level profile of one timed run: wall duration vs summed task
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
    // task-second and GC totals expose single-box contention: equal work
    // at both core counts should show equal task-time sums; inflation at
    // the high count = shared heap/GC/memory-bus contention inside ONE
    // JVM, which a real N→4N cluster (4× heaps, 4× memory buses) never
    // pays. Reported alongside the efficiency pair in BENCH.md.
    val gc = stages.map(_.gcMs).sum / 1000.0
    System.err.println(f"[stages] total stage-wall=$wall%.1fs total task-time=$task%.1fs gc-time=$gc%.1fs stages=${stages.size}")
    System.err.println(f"[stages] total shuffle-write=${stages.map(_.shuffleWriteBytes).sum / 1e9}%.2fGB disk-spill=${stages.map(_.spillBytes).sum / 1e9}%.2fGB")
  }

  private def timedRun(cpus: Int, imagesPath: String, warm: Boolean): (Long, Double, Double) = {
    val spark = session(cpus)
    val prof = StageProfiler.attach(spark.sparkContext)
    val images = spark.read.parquet(imagesPath)
    if (warm) { // tiny warm-up: JIT + codegen caches, not reported
      // eager checkpoint: limit() is evaluated ONCE, so Pipeline.run's two
      // input scans (hot features + captions cache) see the SAME 5000 rows
      // — a bare limit() re-evaluates per scan and can pick different rows,
      // which run() now rejects loudly (ADVICE r5)
      val slice = images.limit(5000).localCheckpoint()
      val w = Pipeline.run(spark, slice, GraftConfig(seed = 7L))
      w.assign.count()
      // drop the warm-up's caches NOW: the blanket post-run retirement
      // below would otherwise strand live caches whose lineage includes
      // the warm-up featurize/caption exchanges (ADVICE r4)
      w.features.unpersist()
      w.captions.unpersist()
      graft.util.Checkpoints.unpersistCheckpoint(slice)
    }
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
    // Quality at scale (outside the timing): truth group is encoded in the
    // generator's image_id ("img-<group>-<copy>[_r<replica>]"), so recall is
    // measurable on any generated or replicated corpus.
    // the timed run is over: drop the features cache and retire every
    // remaining shuffle so the (unmeasured) recall evaluation below does
    // not stack its own shuffles on the tail's files — at 16M rows that
    // stacking alone would overrun the sandbox disk
    res.features.unpersist()
    res.captions.unpersist()
    org.apache.spark.graft.ShuffleRetirement
      .retireAllExcept(spark.sparkContext, Set.empty)
    import org.apache.spark.sql.functions._
    val truth = images.select(
      graft.feat.RowIds.rowIdCol(col("image_id")).as("row_id"),
      col("image_id"),
      regexp_extract(col("image_id"), "img-(\\d+)-", 1).cast("long").as("true_cluster_id"))
    val recall = graft.eval.Metrics.evaluate(spark, res.assign, truth).dupPairRecall
    spark.stop()
    (n, sec, recall)
  }

  def main(args: Array[String]): Unit = {
    val lo = sys.env.getOrElse("SPARK_GRAFT_CPUS_LO", "8").toInt
    val hi = sys.env.getOrElse("SPARK_GRAFT_CPUS_HI", "32").toInt
    val groups = sys.env.getOrElse("SPARK_GRAFT_BENCH_GROUPS", "8000").toInt
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_PATH",
      s"/tmp/graft_scaling_corpus_g$groups")

    // `single <cpus>`: one timed measurement in THIS (fresh) JVM — the
    // preferred protocol (one JVM per data point avoids heap/codegen-cache
    // drift across runs); efficiency is computed from two such invocations.
    if (args.length >= 2 && args(0) == "single") {
      val cpus = args(1).toInt
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS_MARKER")),
        s"corpus missing at $path — run `gen` mode first")
      val (n, sec, recall) = timedRun(cpus, path, warm = true)
      println(f"""{"metric":"single_run","cpus":$cpus,"rows":$n,"sec":$sec%.2f,"images_per_sec":${n / sec}%.1f,"recall":$recall%.6f}""")
      return
    }
    // `membench <threads>`: framework-free control experiment for the
    // efficiency analysis. Runs a FIXED amount of embarrassingly parallel
    // work (64 independent 32 MB generate+sort tasks — the same
    // hash/sort/alloc shape as a shuffle map task) on a plain
    // fixed-size thread pool, and reports wall plus summed per-task
    // seconds. Zero Spark, zero shuffle, zero barriers: any task-second
    // inflation between thread counts is pure shared-hardware contention
    // (memory bus / LLC / allocator) on this box — the same inflation a
    // single-JVM local[N] pipeline run pays, and the term that vanishes on
    // a real cluster where 4× executors bring 4× memory buses. Invoke
    // externally CPU-pinned, e.g. `taskset -c 0-7 ... membench 8`.
    if (args.length >= 2 && args(0) == "membench") {
      val threads = args(1).toInt
      val tasks = 64
      def work(seed: Long): Long = {
        val n = 4 << 20 // 4M longs = 32 MB per task
        val a = new Array[Long](n)
        var i = 0; var x = seed
        while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x; i += 1 }
        java.util.Arrays.sort(a)
        a(n / 2)
      }
      work(-1L) // warm-up: JIT both loops before timing
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val taskNanos = new java.util.concurrent.atomic.AtomicLong
      val sink = new java.util.concurrent.atomic.AtomicLong
      val t0 = System.nanoTime()
      val futs = (0 until tasks).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val s = System.nanoTime()
            sink.addAndGet(work(t.toLong))
            taskNanos.addAndGet(System.nanoTime() - s); ()
          }
        })
      }
      futs.foreach(_.get)
      val wall = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      println(f"""{"metric":"membench","threads":$threads,"tasks":$tasks,"wall_sec":$wall%.2f,"task_sec_sum":${taskNanos.get / 1e9}%.2f,"sink":${sink.get}}""")
      return
    }
    // `replicate <factor> <srcPath> <dstPath>`: build a larger measurement
    // corpus by unioning `factor` id-suffixed copies of an existing corpus
    // (payload bytes replaced by a 1-byte placeholder — the pipeline never
    // reads them, and generating 16M real images would take ~90 min).
    // Groups get `factor`x larger (identical captions merge across copies),
    // which also stresses the salted mega-bucket path.
    if (args.length >= 4 && args(0) == "replicate") {
      val factor = args(1).toInt
      val srcPath = args(2); val dstPath = args(3)
      val spark = session(hi)
      import org.apache.spark.sql.functions._
      val src0 = spark.read.parquet(srcPath).drop("part_id")
      val copies = (0 until factor).map { c =>
        src0.withColumn("image_id", concat(col("image_id"), lit(s"_r$c")))
          .withColumn("bytes", lit(Array[Byte](1)))
      }.reduce(_ unionAll _)
      TableIO.writeImages(copies, dstPath, numParts = 64)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dstPath/_SUCCESS_MARKER"))
      println(s"""{"metric":"replicate","rows":${spark.read.parquet(dstPath).count()},"path":"$dstPath"}""")
      spark.stop()
      return
    }
    if (args.length >= 1 && args(0) == "gen") {
      val spark = session(hi)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS_MARKER"))) {
        val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(
          groups = groups,
          fastPayload = sys.env.contains("SPARK_GRAFT_FAST_GEN"),
          numParts = 64))
        TableIO.writeImages(SyntheticCorpus.imagesOf(gen), path, numParts = 64)
        java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$path/_SUCCESS_MARKER"))
      }
      println(s"""{"metric":"gen","path":"$path"}""")
      spark.stop()
      return
    }

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS_MARKER"))) {
      val spark = session(hi)
      val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = groups))
      TableIO.writeImages(SyntheticCorpus.imagesOf(gen), path, numParts = 64)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$path/_SUCCESS_MARKER"))
      spark.stop()
    }

    val (n1, tHiWarm, _) = timedRun(hi, path, warm = true)
    val (_, tLo, _) = timedRun(lo, path, warm = false)
    val (_, tHi, _) = timedRun(hi, path, warm = false)
    val speedup = tLo / tHi
    val eff = speedup / (hi.toDouble / lo)
    println(
      f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio","rows":$n1,"cpus_lo":$lo,"cpus_hi":$hi,"sec_lo":$tLo%.2f,"sec_hi":$tHi%.2f,"sec_hi_warm":$tHiWarm%.2f,"images_per_sec_lo":${n1 / tLo}%.1f,"images_per_sec_hi":${n1 / tHi}%.1f,"speedup":$speedup%.2f}""")
  }
}
