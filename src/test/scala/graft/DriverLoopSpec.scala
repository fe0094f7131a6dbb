package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.StageProfiler
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.cluster.{CheckpointedPipeline, Pipeline}
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import graft.model.GraftConfig

/** Differential specs for the single driver loop: the in-memory and the
  * ledger-backed entry points, and the two CC paths of the label-graph
  * remap, must produce the same clustering pass for pass. Min-row_id
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
    // two band rounds and one chunk round leave round 0 incomplete, so the
    // fixed macro passes merge clusters and the remap is non-empty
    val cfg = GraftConfig(seed = 7L, bandRounds = 2, chunkRounds = 1, maxMacroRounds = 3)
    val images = spark.read.parquet(imagesPath)
    val viaDriver = Pipeline.run(spark, images, cfg)
    val statsDriver = viaDriver.stats.map(_.copy(seconds = 0.0))
    assert(statsDriver.sliding(2).exists(p => p(1).macroRound > 0 && p(1).clusters < p(0).clusters),
      s"no macro pass merged clusters: $statsDriver")
    val assignDriver = assignOf(viaDriver)
    spark.conf.set(capKey, "0")
    try {
      val viaStar = Pipeline.run(spark, images, cfg)
      assert(viaStar.stats.map(_.copy(seconds = 0.0)) == statsDriver)
      assert(assignOf(viaStar) == assignDriver)
    } finally spark.conf.unset(capKey)
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
