package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.cluster.ConnectedComponents

/** Single-variable CC scratch microbench (round-7 ROADMAP #1/#2 enabler).
  *
  * The 32M trace (`tools/r7_32m_dftrace.log`) showed CC owning the
  * pipeline's peak in-flight scratch (46.6 GB crest) — but inside a full
  * pipeline run the CC window can never be measured in isolation, so
  * engine-level CC changes (one-pair-per-check, retire-inside-star-pair)
  * lack single-variable attribution. This tool isolates it: a
  * deterministic chain-graph edge set (the exact shape V4 bucket chaining
  * emits — G spanning chains of length S−1, worst case for star-step
  * depth), `components()` with the production retire hook, and a 0.5 s
  * sampler of this run's own scratch. Two runs on two engine revisions
  * give the CC delta and nothing else.
  *
  * The run gets a fresh `spark.local.dir` of its own, created under the
  * `-Dspark.local.dir` given to the JVM (else `java.io.tmpdir`) and removed
  * on exit; the sampler sums the sizes of the files under it, so other
  * writers on the same volume do not count as CC scratch.
  * `SPARK_LOCAL_DIRS` would override that directory, so it must be unset.
  *
  * Usage: runMain graft.tools.CcScratchBench <nodes> <chainLen> <cpus>
  *   e.g.   runMain graft.tools.CcScratchBench 8000000 64 32
  * Prints one JSON line:
  *   {"metric":"cc_scratch","nodes":…,"edges":…,"chain_len":…,"cpus":…,
  *    "components":…,"sec":…,"baseline_gb":…,"peak_inflight_gb":…,
  *    "sampled_path":…}
  */
object CcScratchBench {

  def main(args: Array[String]): Unit = {
    val nodes = if (args.length > 0) args(0).toLong else 2000000L
    val chainLen = if (args.length > 1) args(1).toInt else 64
    val cpus = if (args.length > 2) args(2).toInt else 32
    require(chainLen >= 2, "chainLen must be >= 2")
    require(!sys.env.contains("SPARK_LOCAL_DIRS"),
      "SPARK_LOCAL_DIRS overrides the run's own spark.local.dir; unset it")
    val scratchDir = Files.createTempDirectory(
      Paths.get(sys.props.getOrElse("spark.local.dir", sys.props("java.io.tmpdir"))
        .split(",").head.trim), "graft-cc-scratch").toFile

    // the production session (graft.ScalingBench.session), so the measured
    // window matches what the pipeline's CC phase sees, with three settings
    // of this tool's own
    val spark = graft.ScalingBench.session(cpus, "graft-cc-scratch",
      "spark.local.dir" -> scratchDir.getPath,
      // NOT the pipeline's 2min: this tool retires explicitly after every
      // star pair, so the periodic driver GC adds nothing — and it is
      // actively dangerous here. Both 64M-node attempts on 2min died at
      // exactly the 120 s mark: the JVM may collect a local's object after
      // its LAST USE even mid-method, so once `edges` is passed to
      // components() its checkpoint RDD is only weakly reachable, and a
      // forced driver GC lets ContextCleaner delete rdd blocks that the
      // in-flight lazily-checkpointed first CC iteration still reads
      // ("/tmp/blockmgr-…/rdd_3_… No such file or directory"). The
      // pipeline is immune (its caches live in Result and are unpersisted
      // explicitly); a microbench is exactly where the sharp edge shows.
      "spark.cleaner.periodicGC.interval" -> "1h",
      // this tool measures the DISTRIBUTED star loop's scratch: pin the
      // round-8 driver union-find fast path off so small invocations still
      // measure the loop they claim to
      "spark.graft.cc.driverUnionFindMaxEdges" -> "0")

    // scratch sampler: summed size of every file under the run's own local
    // dir (files can vanish mid-walk: a gone file reads as 0 bytes)
    def usedBytes(f: java.io.File = scratchDir): Long =
      Option(f.listFiles()).fold(f.length())(_.map(usedBytes).sum)
    val baseline = usedBytes()
    val peak = new AtomicLong(baseline)
    val sampler = new Thread(() => {
      try while (true) {
        peak.updateAndGet(math.max(_, usedBytes()))
        Thread.sleep(500)
      } catch { case _: InterruptedException => () }
    }, "cc-scratch-sampler")
    sampler.setDaemon(true)

    // G chains of chainLen nodes: edge (i, i+1) unless i closes a chain.
    // localCheckpoint'ed so the retire hook's safety contract holds (the
    // input must be checkpoint- or keep-set-backed).
    val edges = spark.range(0, nodes, 1, cpus * 8)
      .where(pmod(col("id"), lit(chainLen)) =!= (chainLen - 1))
      .select(col("id").as("a"), (col("id") + 1).as("b"))
      .localCheckpoint()
    val eCount = edges.count()

    val keep = org.apache.spark.graft.ShuffleRetirement.liveIds(spark.sparkContext)
    val retire = () => {
      org.apache.spark.graft.ShuffleRetirement
        .retireAllExcept(spark.sparkContext, keep); ()
    }

    sampler.start()
    val t0 = System.nanoTime()
    val comps = ConnectedComponents.components(spark, edges, retire = retire)
    val nComps = comps.select(countDistinct(col("cluster_id"))).head().getLong(0)
    val sec = (System.nanoTime() - t0) / 1e9
    sampler.interrupt()

    // post-run use of `edges` (unpersist) doubles as a strong reference
    // that keeps its checkpoint RDD reachable for the whole CC run — see
    // the periodicGC comment above
    graft.util.Checkpoints.unpersistCheckpoint(edges)

    val expected = (nodes + chainLen - 1) / chainLen
    require(nComps == expected,
      s"CC returned $nComps components, expected $expected — measurement invalid")
    println(f"""{"metric":"cc_scratch","nodes":$nodes,"edges":$eCount,"chain_len":$chainLen,"cpus":$cpus,"components":$nComps,"sec":$sec%.2f,"baseline_gb":${baseline / 1e9}%.4f,"peak_inflight_gb":${(peak.get() - baseline) / 1e9}%.4f,"sampled_path":"$scratchDir"}""")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(scratchDir)
  }
}
