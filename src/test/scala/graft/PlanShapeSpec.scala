package graft

import org.apache.spark.graft.StageProfiler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.cluster.Pipeline
import graft.feat.MinHash
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import graft.lsh.{Banding, VerifyPairs}
import graft.model.GraftConfig

/** The plan shapes the engine's cost model rests on (SURVEY.md §4: what
  * Catalyst gives us), asserted on the physical plans. Planning runs with
  * AQE off so the static plan holds every exchange. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val images: DataFrame = {
    val path = tempDir("graft_plan_shape").resolve("images").toString
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = 20))
    TableIO.writeImages(SyntheticCorpus.imagesOf(gen), path, numParts = 4)
    spark.read.parquet(path)
  }

  private def plan(df: DataFrame): SparkPlan =
    withConf("spark.sql.adaptive.enabled" -> "false")(df.queryExecution.executedPlan)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case s: FileSourceScanExec => s }

  /** The nodes below `p` down to, and including, the next exchanges —
    * what one shuffle's map side runs. */
  private def mapSide(p: SparkPlan): Seq[SparkPlan] = p.children.flatMap {
    case e: ShuffleExchangeExec => Seq(e)
    case c => c +: mapSide(c)
  }

  private def isPartialAgg(p: SparkPlan): Boolean = p match {
    case a: HashAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
    case _ => false
  }

  test("featurize scan prunes the payload bytes") {
    val s = scans(plan(MinHash.featurize(spark, images, GraftConfig()).toDF()))
    assert(s.nonEmpty)
    s.foreach(x => assert(!x.requiredSchema.fieldNames.contains("bytes"), x.requiredSchema))
  }

  test("a part_id = 2 read carries a partition filter") {
    val s = scans(plan(images.where(col("part_id") === 2).select("image_id")))
    assert(s.size == 1)
    assert(s.head.partitionFilters.nonEmpty, s.head)
  }

  /** The salted chain over an explode: the exploded rows cross exactly one
    * exchange, the (band_hash, salt) window's; the second window's
    * (band_hash, k) exchange reads that window's output; and no aggregate
    * but the pair distinct's runs above the explode. */
  private def assertOneWideBandExchange(p: SparkPlan): Unit = {
    val fed = p.collect {
      case e: ShuffleExchangeExec if mapSide(e).exists(_.isInstanceOf[GenerateExec]) => e
    }
    assert(fed.size == 1, s"exploded rows cross ${fed.size} exchanges:\n$p")
    assert(hashKeys(fed.head) == Seq("band_hash", "salt"))
    val second = p.collect { case e: ShuffleExchangeExec if mapSide(e).contains(fed.head) => e }
    assert(second.map(hashKeys) == Seq(Seq("band_hash", "k")), s"second window exchange:\n$p")
    val aggs = p.collect {
      case a: HashAggregateExec if a.exists(_.isInstanceOf[GenerateExec]) &&
        a.groupingExpressions.map(_.name) != Seq("a", "b") => a
    }
    assert(aggs.isEmpty, s"an aggregate between the explode and the pair distinct:\n$p")
  }

  /** Round-0 candidate pairs: the L band hashes exploded inline, as
    * `Pipeline`'s round 0 and `DocDedup.minhashLsh` explode them. */
  private def round0Candidates(features: DataFrame, cfg: GraftConfig): DataFrame =
    Banding.chainPairs(features.select(col("row_id"),
      explode(array(Banding.bandHashCols(col("minhash"), cfg, 0): _*)).as("band_hash")), cfg.saltShards)

  test("banding: the exploded L×n relation crosses exactly one exchange, the (band_hash, salt) window") {
    val cfg = GraftConfig()
    val features = MinHash.featurize(spark, images, cfg).toDF()
    assertOneWideBandExchange(plan(round0Candidates(features, cfg)))
  }

  test("macro pass: one explode, one wide exchange, and a plan that does not grow with the pass width") {
    val cfg = GraftConfig()
    val focus = MinHash.featurize(spark, images, cfg).toDF()
      .withColumn("rk", pmod(col("row_id"), lit(cfg.repsPerCluster + 1)).cast("int"))
    def generates(p: SparkPlan): Int = p.collect { case g: GenerateExec => g }.size
    val explode = plan(Banding.explodePassBands(focus, cfg, 1 to 10))
    assert(generates(explode) == 1, s"expected one explode:\n$explode")
    def passPlan(rounds: Seq[Int]): SparkPlan =
      plan(Banding.chainPairs(Banding.explodePassBands(focus, cfg, rounds), cfg.saltShards))
    val (one, ten) = (passPlan(Seq(1)), passPlan(1 to 10))
    // chainPairs reads its input once: one explode, whatever the number of rounds
    assert(generates(ten) == 1, s"expected one explode:\n$ten")
    assertOneWideBandExchange(ten)
    def nodes(p: SparkPlan): Seq[String] = p.collect { case n => n.nodeName }
    assert(nodes(one) == nodes(ten), s"T = 1:\n$one\nT = 10:\n$ten")
  }

  private def hashKeys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
    case other => fail(s"exchange is not hash-partitioned: $other")
  }

  test("focus: one window over the pass state, one cluster_id exchange, no join") {
    val rel = spark.range(0, 200).select(col("id").as("row_id"),
      (col("id") % 37).as("cluster_id"), (col("id") % 3).as("score"))
      .repartition(col("row_id")).localCheckpoint() // the pass state's layout
    val p = plan(Pipeline.focus(rel, maxRank = 2))
    assert(p.collect { case w: WindowExec => w }.size == 1, p)
    assert(p.collect { case e: ShuffleExchangeExec => hashKeys(e) } == Seq(Seq("cluster_id")), p)
    assert(p.collect { case j: BaseJoinExec => j }.isEmpty, p)
  }

  test("exact-dup collapse: one read of each cache, two window exchanges and sorts, no aggregate") {
    val cfg = GraftConfig()
    val c = Pipeline.caches(spark, images, cfg)
    try {
      val p = plan(Pipeline.exactDupChains(c.features, c.captions, cfg.saltShards))
      assert(p.collect { case s: InMemoryTableScanExec => s }.size == 2, p)
      val exchanges = p.collect { case e: ShuffleExchangeExec => hashKeys(e) }
      assert(exchanges == Seq(Seq("caption", "phash", "k"), Seq("caption", "phash", "salt")), p)
      // the rep's min window shares the second chain window's partitioning
      // and sort: no third sort on the class keys
      val sorts = p.collect {
        case s: SortExec if s.sortOrder.headOption.exists(_.child.references.exists(_.name == "caption")) => s
      }
      assert(sorts.size == 2, p)
      assert(p.collect { case a: HashAggregateExec => a }.isEmpty, p)
    } finally unpersist(c)
  }

  /** Round-0 candidates (checkpointed, so a plan over them holds only the
    * verify exchanges) verified against the caches `c`. */
  private def verifyRound0(c: Pipeline.Caches, cfg: GraftConfig): DataFrame =
    VerifyPairs.verify(round0Candidates(c.features, cfg).localCheckpoint(),
      c.features, c.captions, cfg.q, cfg.sdHigh, cfg.sdLow, cfg.distanceThreshold,
      cfg.hammingThreshold, cfg.minLcs)

  private def unpersist(c: Pipeline.Caches): Unit = {
    c.features.unpersist(blocking = true)
    c.captions.unpersist(blocking = true)
  }

  test("verify with broadcast joins off: only the pairs cross exchanges, four as before, none above a cache scan") {
    // what a run at scale plans: every join sort-merges, and both caches
    // are hash-partitioned on row_id, so only the pair side may shuffle —
    // the repartition on `a` is the exchange the first join needs anyway
    val cfg = GraftConfig()
    val c = Pipeline.caches(spark, images, cfg)
    try {
      val p = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(plan(verifyRound0(c, cfg)))
      def unaryLeaf(n: SparkPlan): Option[SparkPlan] = n.children match {
        case Seq() => Some(n)
        case Seq(child) => unaryLeaf(child)
        case _ => None
      }
      val exchanges = p.collect { case e: ShuffleExchangeExec => e }
      exchanges.foreach { e =>
        assert(!unaryLeaf(e.child).exists(_.isInstanceOf[InMemoryTableScanExec]),
          s"exchange above a cache scan:\n$p")
      }
      assert(exchanges.map(hashKeys).sortBy(_.mkString) == Seq(Seq("a"), Seq("a"), Seq("b"), Seq("b")),
        s"expected the pair side to cross a, b, a, b:\n$p")
      val cacheParts = c.features.rdd.getNumPartitions
      assert(exchanges.forall(_.outputPartitioning.numPartitions == cacheParts), p)
    } finally unpersist(c)
  }

  test("verify under AQE: the accept stage runs one task per features-cache partition") {
    // 16-byte pair rows fall far below AQE's coalescing floor, which ran this
    // CPU-bound stage as ONE task; the explicit count keeps every partition
    val cfg = GraftConfig()
    withConf("spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "3") {
      val c = Pipeline.caches(spark, images, cfg)
      val prof = StageProfiler.attach(spark.sparkContext)
      try {
        val verify = verifyRound0(c, cfg)
        prof.reset()
        assert(verify.localCheckpoint().count() > 0)
        val accept = prof.stages.filter(_.name.startsWith("localCheckpoint"))
        assert(accept.map(_.tasks) == Seq(3), prof.stages.mkString("\n"))
      } finally {
        spark.sparkContext.removeSparkListener(prof)
        unpersist(c)
      }
    }
  }

  test("q1_agg pushes its projection into the scan and aggregates partially before the exchange") {
    // q1_agg has no predicate, so its scan pushes columns, not filters
    val dir = tempDir("graft_plan_q1").toString
    Seq(("A", "F", 1.0, 10.0, 0.1, 0.0, 1L, "x"), ("N", "O", 2.0, 20.0, 0.2, 0.0, 2L, "y"))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_orderkey", "l_comment")
      .write.parquet(s"$dir/lineitem.parquet")
    val p = plan(SparkEntry.queries("q1_agg")(spark, dir))
    val s = scans(p)
    assert(s.size == 1)
    assert(s.head.requiredSchema.fieldNames.toSet == Set("l_returnflag", "l_linestatus",
      "l_quantity", "l_extendedprice", "l_discount"), s.head.requiredSchema)
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, p)
    assert(mapSide(exchanges.head).exists(isPartialAgg), p)
  }
}
