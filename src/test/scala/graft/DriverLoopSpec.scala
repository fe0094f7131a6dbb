package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.StageProfiler
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.LogicalRDD

import graft.cluster.{CheckpointedPipeline, ConnectedComponents, Pipeline}
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import graft.model.GraftConfig

/** Differential specs for the single driver loop: the in-memory and the
  * ledger-backed entry points, the two CC paths and the round-0 batch
  * counts must produce the same clustering pass for pass. Min-row_id
  * labels are canonical, so assignments compare exactly. */
class DriverLoopSpec extends SparkSpec {
  import spark.implicits._

  private val capKey = "spark.graft.cc.driverUnionFindMaxEdges"

  private lazy val imagesPath: String = {
    val path = tempDir("graft_driver_loop").resolve("images").toString
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = 60)).cache()
    TableIO.writeImages(SyntheticCorpus.imagesOf(gen), path, numParts = 4)
    gen.unpersist()
    path
  }

  private def assignOf(res: Pipeline.Result): Map[Long, Long] = {
    val a = res.assign.as[(Long, Long)].collect().toMap
    res.features.unpersist(); res.captions.unpersist()
    a
  }

  test("Pipeline.run and CheckpointedPipeline.run agree on assign and every PhaseStat; durable passes are timed") {
    val cfg = GraftConfig(seed = 7L)
    val straight = Pipeline.run(spark, spark.read.parquet(imagesPath), cfg)
    val workDir = tempDir("graft_driver_loop_wd").toString
    val (durable, rep) = CheckpointedPipeline.run(spark, imagesPath, workDir, cfg)
    val untimed = (r: Pipeline.Result) => r.stats.map(_.copy(seconds = 0.0))
    assert(untimed(durable) == untimed(straight))
    assert(rep.roundsComputed == straight.stats.map(_.macroRound))
    assert(durable.stats.forall(_.seconds > 0), durable.stats)
    assert(assignOf(durable) == assignOf(straight))
  }

  test("label-graph remap through the star loop: driverUnionFindMaxEdges 0 gives the identical assign") {
    // a grid over round 0's paths: CC cap {0, default} x round0Batches {1, 4}.
    // Two band rounds and two chunk rounds leave round 0 incomplete, so the
    // fixed macro passes merge clusters and the remap is non-empty; their
    // four hash columns make four round-0 batches. A pair that collides in
    // several batches verifies once per batch, so the scores are the probe
    // of the cross-batch distinct, not the partition (CC ignores duplicate
    // edges)
    val cfg = GraftConfig(seed = 7L, bandRounds = 2, chunkRounds = 2, maxMacroRounds = 3)
    val images = spark.read.parquet(imagesPath)
    val cells = for {
      cap <- Seq("0", ConnectedComponents.DefaultDriverUnionFindMaxEdges.toString)
      batches <- Seq(1, 4)
    } yield withConf(capKey -> cap) {
      val res = Pipeline.run(spark, images, cfg.copy(round0Batches = batches))
      val scores = res.scores.as[(Long, Long)].collect().toMap
      s"cap $cap, $batches batches" -> (res.stats.map(_.copy(seconds = 0.0)), scores, assignOf(res))
    }
    val (stats, scores, _) = cells.head._2
    assert(stats.sliding(2).exists(p => p(1).macroRound > 0 && p(1).clusters < p(0).clusters),
      s"no macro pass merged clusters: $stats")
    // A6: each endpoint of a step's verified pairs scores 1, round 0's and
    // those of every pass that merged; a pass that merges nothing keeps
    // the state, its scores included
    val merging = stats.head +: stats.sliding(2).collect {
      case Seq(prev, s) if s.clusters < prev.clusters => s
    }.toSeq
    assert(scores.values.sum == 2 * merging.map(_.verifiedPairs).sum, stats)
    for ((cell, got) <- cells.tail) assert(got == cells.head._2, cell)
  }

  test("identity state: a round 0 that merges nothing keeps it and frees no input") {
    // one band round and no chunk round miss all three planted pairs of
    // this corpus in round 0; the macro pass's fresh bands find them. That
    // pass supersedes the identity state, a projection of the features
    // cache whose plan reaches the caller's checkpoint, which the loop must
    // not free
    val images = SyntheticCorpus.imagesOf(SyntheticCorpus.generate(spark,
      SyntheticCorpus.GenConfig(groups = 6, maxCopies = 2, seed = 1L))).localCheckpoint()
    val input = images.queryExecution.analyzed.collectLeaves().collect { case r: LogicalRDD => r.rdd.id }
    val n = images.count()
    try {
      val res = Pipeline.run(spark, images, GraftConfig(seed = 7L, bandRounds = 1, chunkRounds = 0))
      val stats = res.stats.map(_.copy(seconds = 0.0))
      assert(assignOf(res).size == n)
      assert(stats.head == Pipeline.PhaseStat("chunk+band", 0, 0, n, n, 1.0))
      assert(stats.last.clusters < n, stats)
      assert(input.size == 1 && spark.sparkContext.getPersistentRDDs.contains(input.head), input)
    } finally graft.util.Checkpoints.unpersistCheckpoint(images)
  }

  test("shuffle partitions 1, 7 and 64 give the identical assign and every PhaseStat") {
    // CC's probe contracts each edge partition to a spanning forest, so how
    // the edges are partitioned is the axis that could change its result;
    // coalescing is off so every stage keeps the partition count it is given,
    // round 0 and every macro pass alike (all run under the session conf)
    val cfg = GraftConfig(seed = 7L)
    val images = spark.read.parquet(imagesPath)
    val runs = Seq(1, 7, 64).map { parts =>
      withConf("spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        val res = Pipeline.run(spark, images, cfg)
        parts -> (res.stats.map(_.copy(seconds = 0.0)), assignOf(res))
      }
    }
    val (_, (stats1, assign1)) = runs.head
    for ((parts, (stats, assign)) <- runs.tail) {
      assert(stats == stats1, s"$parts partitions")
      assert(assign == assign1, s"$parts partitions")
    }
  }

  test("every pipeline job runs under the session's shuffle partitions and AQE setting") {
    // SQL executions copy the session's explicitly set SQL confs into each
    // job's properties, so the job-start event shows the conf a job ran
    // under; jobs run straight on an RDD carry none and are skipped
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Option[String]]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(keys.map(k => Option(e.properties).flatMap(p => Option(p.getProperty(k)))))
    }
    val sc = spark.sparkContext
    val prof = StageProfiler.attach(sc)
    sc.addSparkListener(listener)
    try {
      val stats = withConf(keys.head -> "7", keys(1) -> "true") {
        val res = Pipeline.run(spark, spark.read.parquet(imagesPath), GraftConfig(seed = 7L))
        assignOf(res)
        res.stats
      }
      assert(stats.exists(_.macroRound > 0), s"no macro pass ran: $stats")
      assert(prof.jobs > 0) // drains the bus: every job start is recorded
      val confs = seen.asScala.toSeq.filter(_.exists(_.isDefined))
      info(s"${confs.size} of ${seen.size} jobs carry the SQL confs")
      assert(confs.nonEmpty)
      assert(confs.forall(_ == Seq(Some("7"), Some("true"))), confs.distinct)
    } finally {
      sc.removeSparkListener(listener)
      sc.removeSparkListener(prof)
    }
  }

  test("a run whose macro passes verify no pair runs no failed job") {
    // the demo corpus: round 0 resolves every group, so each macro pass
    // verifies nothing; such a pass plans no label graph and no CC, whose
    // probe over an empty plan under AQE left an abandoned shuffle stage
    // running into the pass's retire, which failed that stage's job
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobResult != JobSucceeded) failed.add(s"job ${e.jobId}: ${e.jobResult}")
    }
    val sc = spark.sparkContext
    val prof = StageProfiler.attach(sc)
    sc.addSparkListener(listener)
    val gen = SyntheticCorpus.generate(spark,
      SyntheticCorpus.GenConfig(groups = 300, seed = 42L)).cache()
    try {
      val res = Pipeline.run(spark, SyntheticCorpus.imagesOf(gen), GraftConfig(seed = 7L))
      assert(assignOf(res).values.toSet.size == 300)
      assert(res.stats.exists(s => s.macroRound > 0 && s.verifiedPairs == 0), res.stats)
      assert(prof.jobs > 0) // drains the bus: every job end is recorded
      assert(failed.isEmpty, failed.asScala.mkString("\n"))
    } finally {
      sc.removeSparkListener(listener)
      sc.removeSparkListener(prof)
      gen.unpersist()
    }
  }
}
