package graft

import org.apache.spark.graft.StageProfiler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.cluster.{ConnectedComponents, Pipeline}
import graft.eval.Metrics
import graft.gen.SyntheticCorpus
import graft.lsh.Banding
import graft.model.GraftConfig

/** In-memory union-find oracle for the CC spec (the reference's
  * parent-array semantics, lsh_based_clustering.py:210-229,399-418). */
object UnionFindOracle {
  def components(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (pa, pb) = (find(a), find(b))
      if (pa != pb) {
        val center = math.min(pa, pb); val merged = math.max(pa, pb)
        parent(merged) = center // min-center convention (:413)
      }
    }
    nodes.map(n => n -> find(n)).toMap
  }
}

/** The shard-minimum formulations of the salted chains that one read per
  * chain replaced, kept as differential oracles: an intra-shard `lag`, plus
  * a min(row_id) aggregate per shard whose minima a second `lag` chains in
  * salt order. */
object ChainOracles {
  private def predecessors(salted: DataFrame, keys: Seq[String]): (DataFrame, DataFrame) = {
    val wShard = Window.partitionBy((keys :+ "salt").map(col): _*).orderBy("row_id")
    val intra = salted
      .withColumn("x", lag("row_id", 1).over(wShard))
      .where(col("x").isNotNull)
      .select(col("x"), col("row_id").as("y"))
    val shardMins = salted.groupBy((keys :+ "salt").map(col): _*).agg(min("row_id").as("mn"))
    val inter = shardMins
      .withColumn("x", lag("mn", 1).over(Window.partitionBy(keys.map(col): _*).orderBy("salt", "mn")))
      .where(col("x").isNotNull)
      .select(col("x"), col("mn").as("y"))
    (intra.unionAll(inter)
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b")), shardMins)
  }

  def chainPairs(buckets: DataFrame, saltShards: Int): DataFrame =
    predecessors(buckets.withColumn(
      "salt", pmod(xxhash64(col("row_id"), col("band_hash")), lit(saltShards))), Seq("band_hash"))
      ._1.where(col("a") =!= col("b")).distinct()

  /** (identity edges, rep ids) of the exact-duplicate collapse. */
  def collapse(features: DataFrame, captions: DataFrame, saltShards: Int): (DataFrame, DataFrame) = {
    val salted = features.select(col("row_id"), col("phash"))
      .join(captions, "row_id")
      .withColumn("salt", pmod(xxhash64(col("row_id")), lit(saltShards)))
    val (identity, shardMins) = predecessors(salted, Seq("caption", "phash"))
    (identity, shardMins.groupBy("caption", "phash").agg(min("mn").as("row_id")).select("row_id"))
  }
}

/** The focus formulation the one-window `Pipeline.focus` replaced, kept as
  * its differential oracle: cluster sizes aggregated beside the state and
  * joined back, singles at rank 0, and a rank window over the rows of
  * multi clusters only. */
object FocusOracle {
  def focus(rel: DataFrame, maxRank: Int): DataFrame = {
    val sizes = rel.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val relSz = rel.join(broadcast(sizes), "cluster_id")
    val singles = relSz.where(col("sz") === 1).select(col("row_id"), lit(0).as("rk"))
    val wRank = Window.partitionBy("cluster_id").orderBy(col("score").desc, col("row_id"))
    val reps = relSz.where(col("sz") > 1)
      .withColumn("rk", row_number().over(wRank))
      .where(col("rk") <= maxRank + 1)
      .select(col("row_id"), col("rk"))
    singles.unionAll(reps)
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Pin the distributed star loop on (fast path off) for the body. */
  private def withDistributedCc[A](f: => A): A = {
    spark.conf.set("spark.graft.cc.driverUnionFindMaxEdges", "0")
    try f finally spark.conf.unset("spark.graft.cc.driverUnionFindMaxEdges")
  }

  test("CC matches union-find oracle on random graphs incl. long chains") {
    // exercised BOTH ways (round 8): the driver union-find fast path (the
    // session default — these graphs are under the edge cap) and the
    // distributed star loop pinned on, must agree with the oracle AND
    // with each other row-for-row
    val rnd = new java.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 200 + trial * 100
      val nodes = (0 until n).map(i => Hashing.stable(i)).distinct
      // random edges + one long chain (the V4 adjacency pattern)
      val rand = (0 until n / 2).map { _ =>
        (nodes(rnd.nextInt(nodes.length)), nodes(rnd.nextInt(nodes.length)))
      }.filter(e => e._1 != e._2)
      val chain = nodes.take(60).sliding(2).map(s => (s(0), s(1))).toSeq
      val edges = rand ++ chain
      val oracle = UnionFindOracle.components(nodes, edges)

      val edgesDf = edges.toDF("a", "b")
      val nodesDf = nodes.toDF("row_id")
      val gotFast = ConnectedComponents
        .assign(nodesDf, ConnectedComponents.components(spark, edgesDf))
        .as[(Long, Long)].collect().toMap
      assert(gotFast == oracle, s"trial $trial mismatch (driver fast path)")
      val gotDist = withDistributedCc {
        ConnectedComponents
          .assign(nodesDf, ConnectedComponents.components(spark, edgesDf))
          .as[(Long, Long)].collect().toMap
      }
      assert(gotDist == oracle, s"trial $trial mismatch (distributed loop)")
    }
  }

  test("CC driver fast path falls back to the star loop beyond the edge cap") {
    // cap 10 < 39 chain edges -> the probe overflows and the distributed
    // loop must still produce the oracle clustering
    val nodes = (0 until 40).map(i => Hashing.stable(i)).distinct
    val chain = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    spark.conf.set("spark.graft.cc.driverUnionFindMaxEdges", "10")
    try {
      val got = ConnectedComponents
        .assign(nodes.toDF("row_id"),
          ConnectedComponents.components(spark, chain.toDF("a", "b")))
        .as[(Long, Long)].collect().toMap
      assert(got == UnionFindOracle.components(nodes, chain))
    } finally spark.conf.unset("spark.graft.cc.driverUnionFindMaxEdges")
  }

  /** Two complete groups of 200 nodes: 39,800 distinct (a < b) edges, over
    * [[denseCap]], while each partition's spanning forest has at most
    * 398 rows, so even 64 partitions' forests fit under it. */
  private lazy val denseEdges: Seq[(Long, Long)] = {
    val groups = (0 until 400).map(i => Hashing.stable(i)).grouped(200).toSeq
    for (g <- groups; i <- g.indices; j <- i + 1 until g.size)
      yield (math.min(g(i), g(j)), math.max(g(i), g(j)))
  }
  private val denseCap = 30000

  /** `components` over `edges`, stored in `parts` partitions, with the edge
    * cap at [[denseCap]]; and the stages it ran that are not the probe's.
    * The driver path runs the probe's `take` jobs only, while every star-pair
    * adds checkpoint, window and signature stages. */
  private def probedComponents(edges: Seq[(Long, Long)], parts: Int): (DataFrame, Seq[String]) = {
    val stored = edges.toDF("a", "b").repartition(parts).localCheckpoint()
    val prof = StageProfiler.attach(spark.sparkContext)
    try withConf("spark.graft.cc.driverUnionFindMaxEdges" -> denseCap.toString) {
      val comps = ConnectedComponents.components(spark, stored, inputNormalized = true)
      (comps, prof.stages.map(_.name).filterNot(_.startsWith("take at ConnectedComponents")))
    } finally {
      spark.sparkContext.removeSparkListener(prof)
      graft.util.Checkpoints.unpersistCheckpoint(stored)
    }
  }

  test("CC probe contracts each partition to a spanning forest: dense groups over the edge cap take the driver path") {
    val nodes = denseEdges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(denseEdges.size > denseCap)
    val oracle = UnionFindOracle.components(nodes, denseEdges)
    for (parts <- Seq(1, 7, 64)) {
      val (comps, starStages) = probedComponents(denseEdges, parts)
      val leaves = comps.queryExecution.analyzed.collectLeaves()
      assert(leaves.forall(_.isInstanceOf[LocalRelation]), s"$parts partitions: $leaves")
      assert(starStages.isEmpty, s"$parts partitions ran stages beyond the probe: $starStages")
      val got = ConnectedComponents.assign(nodes.toDF("row_id"), comps)
        .as[(Long, Long)].collect().toMap
      assert(got == oracle, s"$parts partitions")
    }
  }

  test("CC spanning-forest probe keeps the node set and labels on an inputNormalized breach") {
    // duplicates, reversed edges and self-loops under inputNormalized, plus
    // nodes whose only edge is a self-loop: the driver path must still
    // name every endpoint and give the oracle labels
    val loners = (400 until 405).map(i => Hashing.stable(i))
    val breach = denseEdges ++ denseEdges.take(500) ++ denseEdges.take(2000).map(_.swap) ++
      denseEdges.take(50).map(e => (e._1, e._1)) ++ loners.map(x => (x, x))
    val endpoints = breach.flatMap(e => Seq(e._1, e._2)).distinct
    val nodes = endpoints ++ (405 until 410).map(i => Hashing.stable(i))
    val oracle = UnionFindOracle.components(nodes, breach)
    for (parts <- Seq(1, 7)) {
      val (comps, starStages) = probedComponents(breach, parts)
      assert(starStages.isEmpty, s"$parts partitions ran stages beyond the probe: $starStages")
      assert(comps.as[(Long, Long)].collect().map(_._1).toSet == endpoints.toSet,
        s"$parts partitions: node set changed")
      val got = ConnectedComponents.assign(nodes.toDF("row_id"), comps)
        .as[(Long, Long)].collect().toMap
      assert(got == oracle, s"$parts partitions")
    }
  }

  test("CC retire hook fires once per star-pair materialization (round 6)") {
    // a 40-node chain needs several star-pairs to converge; the round-6
    // one-pair-per-check loop must invoke retire() after EVERY pair (the
    // in-flight-scratch halving claim), i.e. exactly `iterations` times —
    // and at least twice on a graph this deep. Distributed loop pinned on:
    // the round-8 driver fast path retires exactly once (after its probe),
    // which is asserted separately below.
    val nodes = (0 until 40).map(i => Hashing.stable(i)).distinct
    val chain = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    var retires = 0
    val got = withDistributedCc {
      ConnectedComponents
        .assign(nodes.toDF("row_id"),
          ConnectedComponents.components(spark, chain.toDF("a", "b"),
            retire = () => retires += 1))
        .as[(Long, Long)].collect().toMap
    }
    assert(got == UnionFindOracle.components(nodes, chain))
    assert(retires >= 2,
      s"expected one retire per star-pair (>=2 on a 40-chain), got $retires")
  }

  test("CC star loop on an edgeless graph runs no star round") {
    // self-loops only (normalized away) and an empty inputNormalized input:
    // the star loop's first signature finds no edge, so it returns an empty
    // local result, which the pipeline's zero-work check reads with no job
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("a", "b")
    for ((edges, normalized) <- Seq(loops -> false, loops.where("a < b") -> true)) {
      var retires = 0
      val comps = withDistributedCc {
        ConnectedComponents.components(spark, edges, retire = () => retires += 1,
          inputNormalized = normalized)
      }
      assert(comps.queryExecution.analyzed.collectLeaves() match {
        case Seq(local: LocalRelation) => local.data.isEmpty
        case _ => false
      }, s"normalized=$normalized")
      assert(retires == 0, s"normalized=$normalized")
    }
  }

  test("CC inputNormalized matches the oracle — and stays correct on contract breach") {
    val nodes = (0 until 60).map(i => Hashing.stable(i)).distinct
    val chain = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    val oracle = UnionFindOracle.components(nodes, chain)
    val nodesDf = nodes.toDF("row_id")
    // honest caller: normalized, distinct
    val norm = chain.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val gotHonest = ConnectedComponents
      .assign(nodesDf, ConnectedComponents.components(spark, norm.toDF("a", "b"),
        inputNormalized = true))
      .as[(Long, Long)].collect().toMap
    assert(gotHonest == oracle)
    // breaching caller: reversed duplicates + self loops, flag still set —
    // the star steps re-filter/re-distinct internally, so labels must be
    // identical (the flag only skips the saved shuffle, per its contract);
    // exercised on BOTH the driver fast path and the pinned star loop
    val breach = (chain ++ chain.map(_.swap) ++ nodes.take(5).map(x => (x, x)))
      .toDF("a", "b")
    val gotBreachFast = ConnectedComponents
      .assign(nodesDf, ConnectedComponents.components(spark, breach, inputNormalized = true))
      .as[(Long, Long)].collect().toMap
    assert(gotBreachFast == oracle)
    val gotBreachDist = withDistributedCc {
      ConnectedComponents
        .assign(nodesDf, ConnectedComponents.components(spark, breach, inputNormalized = true))
        .as[(Long, Long)].collect().toMap
    }
    assert(gotBreachDist == oracle)
  }

  test("CC star loop runs a lazy inputNormalized input twice, not once per reader") {
    // macroStep's label graph and DocDedup's verified pairs reach CC as lazy
    // joins; past the cap, the probe, the first signature and the first
    // star step each re-ran them. Now the probe runs the query and one
    // checkpoint stores it for every later reader.
    val rows = 40L
    val evals = spark.sparkContext.longAccumulator("edge evaluations")
    val tick = udf { (a: Long) => evals.add(1); a }
    // a chain 0-1-...-39, behind an exchange like the label graph's distinct
    val edges = spark.range(rows - 1)
      .select(tick(col("id")).as("a"), (col("id") + 1).as("b")).distinct()
    spark.conf.set("spark.graft.cc.driverUnionFindMaxEdges", "10")
    try {
      val got = ConnectedComponents
        .assign(spark.range(rows).toDF("row_id"),
          ConnectedComponents.components(spark, edges, inputNormalized = true))
        .as[(Long, Long)].collect()
      assert(got.length == rows && got.forall(_._2 == 0L), got.toSeq)
      assert(evals.value == 2 * (rows - 1),
        s"${evals.value.toDouble / (rows - 1)} executions of the input query")
    } finally spark.conf.unset("spark.graft.cc.driverUnionFindMaxEdges")
  }

  test("heap-pressure guard: warns when the managed pool cannot hold the hot cache") {
    // VERDICT r7 #2: undersized heap must produce a NAMED warning instead
    // of a cryptic blockmgr ENOENT crash later. Enormous n -> warn; small
    // n -> silent.
    val big = Pipeline.heapPressureWarning(spark, Long.MaxValue / 400)
    assert(big.isDefined && big.get.contains("HEAP PRESSURE"))
    assert(Pipeline.heapPressureWarning(spark, 1000L).isEmpty)
  }

  test("heap-pressure guard: a malformed spark.memory.fraction is ignored loudly, not thrown") {
    // spark.memory.fraction is a core conf (not settable on a live session),
    // so the raw-value entry point is driven directly
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val (big, small) =
      try (Pipeline.heapPressureWarning(Long.MaxValue / 400, "lots"),
        Pipeline.heapPressureWarning(1000L, "1.5"))
      finally System.setErr(saved)
    assert(big.exists(w => w.contains("HEAP PRESSURE") && w.contains("fraction=0.6")), big)
    assert(small.isEmpty)
    val ignored = err.toString.linesIterator.filter(_.contains("MEMORY FRACTION IGNORED")).toSeq
    assert(ignored.size == 2 && ignored.head.contains("\"lots\""), err.toString)
    // a well-formed value is used as given
    assert(Pipeline.heapPressureWarning(Long.MaxValue / 400, " 0.5 ")
      .exists(_.contains("fraction=0.5")))
  }

  test("CC driver fast path retires candidate shuffles once, after the probe") {
    val nodes = (0 until 40).map(i => Hashing.stable(i)).distinct
    val chain = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    var retires = 0
    val got = ConnectedComponents
      .assign(nodes.toDF("row_id"),
        ConnectedComponents.components(spark, chain.toDF("a", "b"),
          retire = () => retires += 1))
      .as[(Long, Long)].collect().toMap
    assert(got == UnionFindOracle.components(nodes, chain))
    assert(retires == 1, s"driver fast path should retire exactly once, got $retires")
  }

  test("CC edge-cap override above the probe limit is clamped, not a silent star-loop fallback") {
    // a cap beyond Int.MaxValue - 1 is clamped, so a 39-edge chain still
    // takes the driver path (LocalRelation result, no checkpointed
    // LogicalRDD leaf). A non-numeric cap falls back to the default, which
    // also takes the driver path here.
    val nodes = (0 until 40).map(i => Hashing.stable(i)).distinct
    val chain = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    for (cap <- Seq("9999999999", "lots")) {
      spark.conf.set("spark.graft.cc.driverUnionFindMaxEdges", cap)
      try {
        val comps = ConnectedComponents.components(spark, chain.toDF("a", "b"))
        val leaves = comps.queryExecution.analyzed.collectLeaves()
        assert(leaves.forall(_.isInstanceOf[LocalRelation]), s"cap $cap: $leaves")
        val got = ConnectedComponents.assign(nodes.toDF("row_id"), comps)
          .as[(Long, Long)].collect().toMap
        assert(got == UnionFindOracle.components(nodes, chain))
      } finally spark.conf.unset("spark.graft.cc.driverUnionFindMaxEdges")
    }
  }

  test("CC star loop that stops at maxIter unconverged fails loudly") {
    // one star-pair cannot collapse a 40-node chain; a partial star forest
    // must not be returned as a clustering
    val nodes = (0 until 40).map(i => Hashing.stable(i)).distinct
    val chain = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    val ex = intercept[IllegalStateException] {
      withDistributedCc {
        ConnectedComponents.components(spark, chain.toDF("a", "b"), maxIter = 1)
      }
    }
    assert(ex.getMessage.contains("did not converge in 1 iterations"), ex.getMessage)
  }

  private object Hashing {
    def stable(i: Int): Long = graft.util.Hashing.mix64(i.toLong)
  }
}

class BandingSpec extends SparkSpec {
  import spark.implicits._

  test("V4 chaining: a bucket of b rows emits a spanning chain of b-1 pairs") {
    // 3 buckets: sizes 1, 5, 40 — the size-40 one spreads over all salt shards
    val rows =
      (0 until 1).map(i => (100L + i, 111L)) ++
      (0 until 5).map(i => (200L + i, 222L)) ++
      (0 until 40).map(i => (300L + i, 333L))
    val buckets = rows.toDF("row_id", "band_hash")
    val pairs = Banding.chainPairs(buckets, saltShards = 16)
      .as[(Long, Long)].collect().toSeq
    assert(pairs.size == 0 + 4 + 39, s"got ${pairs.size} pairs")
    // connectivity: pairs within each bucket must span the bucket
    def connected(ids: Seq[Long]): Boolean = {
      val cc = UnionFindOracle.components(ids, pairs.filter(p => ids.contains(p._1)))
      cc.values.toSet.size == 1
    }
    assert(connected((0 until 5).map(200L + _)))
    assert(connected((0 until 40).map(300L + _)))
    // no cross-bucket pairs
    assert(pairs.forall { case (a, b) => a / 100 == b / 100 })
  }

  test("chainPairs equals the shard-minimum oracle on random buckets with duplicate rows") {
    val rnd = new scala.util.Random(23)
    // row ids from a shared pool, so rows sit in several buckets and large
    // buckets draw the same (row_id, band_hash) more than once; a tenth of
    // every bucket is also repeated outright
    val pool = Array.fill(3000)(rnd.nextLong())
    val rows = Seq(1, 2, 3, 5, 17, 40, 200, 1000).flatMap { b =>
      val h = rnd.nextLong()
      val ids = Seq.fill(b)(pool(rnd.nextInt(pool.length)))
      (ids ++ ids.take(b / 10)).map(id => (id, h))
    }
    val buckets = rnd.shuffle(rows).toDF("row_id", "band_hash")
    for (shards <- Seq(1, 16)) {
      val got = Banding.chainPairs(buckets, shards).as[(Long, Long)].collect().toSeq
      val want = ChainOracles.chainPairs(buckets, shards).as[(Long, Long)].collect().toSeq
      assert(got.size == got.distinct.size)
      assert(got.sorted == want.sorted, s"saltShards $shards")
    }
  }

  test("band lanes are deterministic and differ across rounds") {
    val cfg = GraftConfig()
    val l1 = Banding.lanes(cfg, 0)
    val l2 = Banding.lanes(cfg, 0)
    assert(l1.map(_.toSeq).toSeq == l2.map(_.toSeq).toSeq)
    assert(l1.length == cfg.bandRounds)
    assert(l1.map(_.toSeq).distinct.length > cfg.bandRounds / 2)
  }

  test("pass explode emits exactly the per-round band-hash union filtered by rank") {
    val cfg = GraftConfig()
    val rnd = new scala.util.Random(11)
    // three rows of every rank 0 (single) .. repsPerCluster
    val rows = for (rk <- 0 to cfg.repsPerCluster; i <- 0 until 3)
      yield (rk * 100L + i, Array.fill(cfg.m)(rnd.nextInt()), rk)
    val focus = rows.toDF("row_id", "minhash", "rk")
    def perRound(rounds: Seq[Int]): Seq[(Long, Long)] = rounds.flatMap { j =>
      val rkJ = (j - 1) % cfg.repsPerCluster + 1
      focus.where(col("rk") === 0 || col("rk") === rkJ)
        .select(col("row_id"), explode(array(Banding.bandHashCols(col("minhash"), cfg, j): _*)))
        .as[(Long, Long)].collect().toSeq
    }.sorted
    // a full cycle, a pass starting mid-cycle, a single-round pass
    for (rounds <- Seq(1 to 10, 7 to 16, Seq(3))) {
      val got = Banding.explodePassBands(focus, cfg, rounds)
        .select("row_id", "band_hash").as[(Long, Long)].collect().toSeq.sorted
      assert(got == perRound(rounds), s"rounds $rounds")
      // a single draws L bands per round, a rank-r rep L per round of rank
      // r — so a rep whose rank no round of the pass samples emits nothing
      val ranks = rounds.map(j => (j - 1) % cfg.repsPerCluster + 1)
      for ((id, _, rk) <- rows) {
        val n = if (rk == 0) rounds.size else ranks.count(_ == rk)
        assert(got.count(_._1 == id) == n * cfg.bandRounds, s"rounds $rounds row $id rk $rk")
      }
    }
  }
}

class CorpusSpec extends SparkSpec {

  test("payload fidelity: PNG exact, JPEG PSNR >= 40 dB; phash tight in-group") {
    val cfg = SyntheticCorpus.GenConfig(groups = 30, seed = 42L)
    val rows = SyntheticCorpus.generate(spark, cfg).collect()
    assert(rows.length > 30)
    // decode every payload and compare against the regenerated source pixels
    rows.foreach { r =>
      val g = r.true_cluster_id
      val gseed = graft.util.Hashing.hash2(cfg.seed, g)
      val c = r.image_id.split("-").last.toInt
      val cseed = graft.util.Hashing.hash3(gseed, 5L, c.toLong)
      val base = SyntheticCorpus.groupPixels(gseed, r.w, r.h)
      val src = SyntheticCorpus.perturbPixels(base, cseed, 4)
      val img = SyntheticCorpus.decode(r.bytes)
      val decoded = img.getRGB(0, 0, r.w, r.h, null, 0, r.w)
        .map(_ & 0xFFFFFF)
      if (r.fmt == "png") {
        assert(decoded.toSeq == src.toSeq, s"${r.image_id}: png not lossless")
      } else {
        val p = SyntheticCorpus.psnr(src, decoded)
        assert(p >= 40.0, s"${r.image_id}: jpeg PSNR $p < 40")
      }
    }
    // in-group phash proximity vs cross-group distance
    val byGroup = rows.groupBy(_.true_cluster_id)
    val inGroup = byGroup.values.filter(_.length > 1).flatMap { g =>
      g.combinations(2).map(p => java.lang.Long.bitCount(p(0).phash ^ p(1).phash))
    }.toSeq
    assert(inGroup.nonEmpty && inGroup.max <= 10, s"in-group hamming max ${inGroup.max}")
  }

  test("captions: copies stay within edit budget; generation deterministic") {
    val cfg = SyntheticCorpus.GenConfig(groups = 20, seed = 42L)
    val a = SyntheticCorpus.generate(spark, cfg).collect().sortBy(_.image_id)
    val b = SyntheticCorpus.generate(spark, cfg).collect().sortBy(_.image_id)
    assert(a.map(_.caption).toSeq == b.map(_.caption).toSeq)
    assert(a.map(_.phash).toSeq == b.map(_.phash).toSeq)
    assert(a.map(r => java.util.Arrays.hashCode(r.bytes)).toSeq ==
      b.map(r => java.util.Arrays.hashCode(r.bytes)).toSeq)
  }

  test("truth read back from image ids equals truthOf, mega group included") {
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(
      groups = 40, megaGroupRows = 150, fastPayload = true))
    val fromIds = SyntheticCorpus.truthOfIds(SyntheticCorpus.imagesOf(gen)).collect()
    val truth = SyntheticCorpus.truthOf(gen).collect()
    assert(truth.count(_.getLong(2) == 0L) == 150)
    assert(fromIds.length == truth.length)
    assert(fromIds.toSet == truth.toSet)
  }
}

class PipelineSpec extends SparkSpec {

  test("e2e: dup-pair recall >= 0.99 and precision >= 0.99 at reference config") {
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = 150)).cache()
    val images = SyntheticCorpus.imagesOf(gen)
    val truth = SyntheticCorpus.truthOf(gen)
    val res = Pipeline.run(spark, images, GraftConfig(seed = 7L))
    val rep = Metrics.evaluate(spark, res.assign, truth)
    assert(rep.dupPairRecall >= 0.99, s"recall ${rep.dupPairRecall}")
    assert(rep.dupPairPrecision >= 0.99, s"precision ${rep.dupPairPrecision}")
    assert(rep.falsePositives == 0, s"FP ${rep.falsePositives}")
    assert(rep.gammaAccuracy(0.99) >= 0.95)
    gen.unpersist()
  }

  test("permutation invariance: repartitioned input yields the same clustering") {
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = 60)).cache()
    val images = SyntheticCorpus.imagesOf(gen)
    // fixed small budget: this test asserts partition-order invariance, not
    // round control — two runs at the adaptive budget would double its cost
    val cfg = GraftConfig(seed = 7L, maxMacroRounds = 4)
    def partitionOf(img: org.apache.spark.sql.DataFrame): Set[Set[Long]] = {
      import spark.implicits._
      Pipeline.run(spark, img, cfg).assign.as[(Long, Long)].collect()
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    }
    val p1 = partitionOf(images)
    val p2 = partitionOf(images.repartition(17, col("caption")))
    assert(p1 == p2, "clustering changed under repartitioning")
    gen.unpersist()
  }

  test("round-0 batching invariance: batched explode yields the same clustering AND scores") {
    // a bucket never spans batches, so the unioned edge set — and the CC
    // partition — must be IDENTICAL whatever the batch count (the disk-
    // envelope knob must not be a semantics knob). Scores too (ADVICE r4):
    // a pair that is a candidate in several batches verifies once per
    // batch, and without the cross-batch distinct those duplicate edges
    // inflate endpointCounts — so A6 scores are the sensitive probe here,
    // not just the CC partition (which ignores duplicate edges).
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = 60)).cache()
    val images = SyntheticCorpus.imagesOf(gen)
    def runOf(b: Int): (Set[Set[Long]], Map[Long, Long]) = {
      import spark.implicits._
      val res = Pipeline.run(spark, images, GraftConfig(seed = 7L, maxMacroRounds = 2,
        round0Batches = b))
      val part = res.assign.as[(Long, Long)].collect()
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
      (part, res.scores.as[(Long, Long)].collect().toMap)
    }
    val (p1, s1) = runOf(1)
    val (p3, s3) = runOf(3)
    assert(p1 == p3, "clustering changed under round-0 batching")
    assert(s1 == s3, "A6 scores changed under round-0 batching")
    gen.unpersist()
  }

  test("focus equals the sizes-join oracle on random states: cluster sizes 1-50, tied scores, maxRank 0-4") {
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    for (state <- 1 to 3) {
      // 80 clusters, a third of them singles; scores 0..2 tie often, so the
      // row_id tie-break decides ranks
      val sizes = Seq.fill(80)(if (rnd.nextInt(3) == 0) 1 else 1 + rnd.nextInt(50))
      val ids = rnd.shuffle((0L until sizes.sum.toLong).toVector)
      val rows = sizes.zipWithIndex.flatMap { case (sz, c) => Seq.fill(sz)((c.toLong, rnd.nextInt(3).toLong)) }
        .zip(ids).map { case ((c, score), id) => (id, c * 1000 + state, score) }
      val rel = rows.toDF("row_id", "cluster_id", "score").repartition(col("row_id")).localCheckpoint()
      try for (maxRank <- 0 to 4) {
        val got = Pipeline.focus(rel, maxRank).as[(Long, Int)].collect()
        val want = FocusOracle.focus(rel, maxRank).as[(Long, Int)].collect()
        assert(got.length == got.toSet.size, s"state $state, maxRank $maxRank: a row twice")
        assert(got.toSet == want.toSet, s"state $state, maxRank $maxRank")
        assert(got.exists(_._2 == 0) && got.exists(_._2 == maxRank + 1), s"state $state, maxRank $maxRank")
      } finally graft.util.Checkpoints.unpersistCheckpoint(rel)
    }
  }

  test("exact-duplicate collapse equals the shard-minimum oracle: identity edges, reps and nDup") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // classes of 1..100 rows; every odd class shares its caption with the
    // class before it under a different phash, so both keys matter
    val rows = (1 to 100).flatMap { c =>
      val caption = s"caption ${c - c % 2}"
      Seq.fill(c)((rnd.nextLong(), caption, c.toLong))
    }
    val features = rows.map { case (id, _, ph) => (id, ph) }.toDF("row_id", "phash")
    val captions = rows.map { case (id, cap, _) => (id, cap) }.toDF("row_id", "caption")
    val shards = 16
    val (identity, repIds, nDup) = Pipeline.collapseExactDups(features, captions, shards)
    val (wantIdentity, wantReps) = ChainOracles.collapse(features, captions, shards)
    try {
      val reps = repIds.as[Long].collect().toSet
      assert(identity.as[(Long, Long)].collect().toSeq.sorted ==
        wantIdentity.as[(Long, Long)].collect().toSeq.sorted)
      assert(reps == wantReps.as[Long].collect().toSet)
      assert(reps == rows.groupBy(r => (r._2, r._3)).values.map(_.map(_._1).min).toSet)
      assert(nDup == rows.size - reps.size)
      // the classes do spread over the shards: a 100-row class fills all 16
      assert(features.where(col("phash") === 100L)
        .select(pmod(xxhash64(col("row_id")), lit(shards))).distinct().count() == shards)
    } finally {
      graft.util.Checkpoints.unpersistCheckpoint(identity)
      graft.util.Checkpoints.unpersistCheckpoint(repIds)
    }
  }
}

class SkewSpec extends SparkSpec {
  test("mega-group skew fixture: 10%-of-corpus duplicate group stays correct") {
    val gen = SyntheticCorpus.generate(spark,
      SyntheticCorpus.GenConfig(groups = 40, megaGroupRows = 60)).cache()
    val res = Pipeline.run(spark, SyntheticCorpus.imagesOf(gen), GraftConfig(seed = 7L))
    val rep = Metrics.evaluate(spark, res.assign, SyntheticCorpus.truthOf(gen))
    assert(rep.dupPairRecall >= 0.99, s"recall ${rep.dupPairRecall}")
    assert(rep.dupPairPrecision >= 0.99, s"precision ${rep.dupPairPrecision}")
    gen.unpersist()
  }
}

class ShuffleRetirementSpec extends SparkSpec {
  import org.apache.spark.graft.ShuffleRetirement

  test("retireAllExcept unregisters exactly the non-kept shuffles") {
    import spark.implicits._
    val sc = spark.sparkContext
    // shuffle S: materialized before the snapshot -> in the keep set
    val s = (1 to 1000).toDF("x").groupBy(pmod(col("x"), lit(7))).count()
    assert(s.collect().length == 7)
    val keep = ShuffleRetirement.liveIds(sc)
    // shuffle T: created after the snapshot -> retired
    val t = (1 to 1000).toDF("x").groupBy(pmod(col("x"), lit(11))).count()
    assert(t.collect().length == 11)
    assert((ShuffleRetirement.liveIds(sc) -- keep).nonEmpty,
      "expected the second aggregation to register at least one new shuffle")
    val n = ShuffleRetirement.retireAllExcept(sc, keep)
    assert(n >= 1, s"retired $n")
    // unregistration is synchronous in the tracker (file deletion is async)
    assert((ShuffleRetirement.liveIds(sc) -- keep).isEmpty,
      "non-kept shuffles must be unregistered")
    // kept shuffles remain untouched; S's cached-free plan can even re-run
    assert(s.collect().length == 7)
  }
}

/** Helper for the cache-split determinism-guard spec: a process-wide
  * counter makes each evaluation of the image_id column observably
  * distinct, modeling any non-deterministic source plan (bare limit(),
  * sample(), rand-ordered reads) whose two scans can disagree. */
object NonDetIds {
  val counter = new java.util.concurrent.atomic.AtomicLong(0L)
}

class DeterminismGuardSpec extends SparkSpec {

  test("cache-split guard: non-deterministic images plan fails loudly, not silently") {
    // VERDICT r6 "what's wrong" #1(b): Pipeline.run scans the source twice
    // (hot features cache + DISK_ONLY captions cache). If the plan yields
    // different row sets per execution, verify joins would silently drop
    // rows — the guard must throw instead. Model the hazard with an
    // explicitly non-deterministic id column: the featurize scan and the
    // captions scan each draw fresh ids, so their bit_xor(row_id)
    // signatures (and counts) cannot both match.
    import org.apache.spark.sql.functions._
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = 20)).cache()
    val base = SyntheticCorpus.imagesOf(gen).localCheckpoint()
    gen.unpersist()

    val freshId = udf { () =>
      "img-" + NonDetIds.counter.getAndIncrement()
    }.asNondeterministic()
    val images = base.withColumn("image_id", freshId())

    val ex = intercept[IllegalStateException] {
      Pipeline.run(spark, images, GraftConfig(seed = 7L, maxMacroRounds = 2))
    }
    assert(ex.getMessage.contains("different row sets"))

    // sanity: the SAME corpus with stable ids runs fine (the guard keys on
    // plan determinism, not on this suite's fixture)
    val res = Pipeline.run(spark, base, GraftConfig(seed = 7L, maxMacroRounds = 2))
    assert(res.assign.count() > 0)
    res.features.unpersist(); res.captions.unpersist()
  }
}
