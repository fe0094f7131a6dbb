package graft

import org.apache.spark.graft.StageProfiler
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.cluster.Pipeline
import graft.gen.SyntheticCorpus
import graft.model.GraftConfig

/** The figures the engine relies on, measured: the hot features cache's
  * footprint per row, and the job/stage counts of the shared stage
  * profiler. */
class MeasurementSpec extends SparkSpec {

  test("hot features cache stays within HotCacheBytesPerRow on the e2e fixture") {
    // the heap-pressure warning sizes the hot cache as n × HotCacheBytesPerRow;
    // a new cached column must show up here before it reaches a 32M run
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = 150)).cache()
    val c = Pipeline.caches(spark, SyntheticCorpus.imagesOf(gen), GraftConfig(seed = 7L))
    try {
      val rddId = c.features.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
      }.get
      val stored = spark.sparkContext.getRDDStorageInfo.find(_.id == rddId).get
      val perRow = (stored.memSize + stored.diskSize) / c.n
      info(s"hot cache: $perRow B/row over ${c.n} rows")
      assert(perRow <= Pipeline.HotCacheBytesPerRow,
        s"hot cache $perRow B/row over ${c.n} rows exceeds ${Pipeline.HotCacheBytesPerRow}")
    } finally {
      c.features.unpersist(blocking = true)
      c.captions.unpersist(blocking = true)
      gen.unpersist()
    }
  }

  test("stage profiler reads exactly the last action's jobs and stages, with no sleep") {
    val sc = spark.sparkContext
    // a slow listener ahead on the same bus queue delays every event the
    // profiler sees, as a loaded driver does: a read that does not drain
    // the bus first undercounts
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(200)
    }
    sc.addSparkListener(slow)
    val prof = StageProfiler.attach(sc)
    try {
      for (i <- 1 to 3) {
        prof.reset()
        // one job of two stages: the reduceByKey shuffle and the result
        val n = sc.parallelize(1 to 1000, 4).map(x => (x % 7, x)).reduceByKey(_ + _).count()
        assert(n == 7)
        assert(prof.jobs == 1, s"rep $i")
        assert(prof.stages.size == 2, s"rep $i: ${prof.stages}")
      }
    } finally {
      sc.removeSparkListener(prof)
      sc.removeSparkListener(slow)
    }
  }
}
