package org.apache.spark.graft

import org.apache.spark.{MapOutputTrackerMaster, SparkContext}

/** Explicit shuffle-file retirement for long-lived iterative drivers.
  *
  * Spark reclaims a stage's shuffle files only when the driver GARBAGE
  * COLLECTS the corresponding `ShuffleDependency` — reclamation is tied to
  * the reference graph, not to logical liveness. Measured on this engine
  * (BENCH.md round 4): across a multi-pass clustering run NO pipeline
  * shuffle was reclaimed mid-run — peak scratch equalled the CUMULATIVE
  * shuffle bytes of every pass (~6.3 GB per million input rows), which is
  * what made a 16M-row run overrun a 94 GB disk while its true working set
  * was half that. The pass structure makes liveness provable — after a
  * pass's state relations are EAGERLY localCheckpoint'ed (lineage
  * truncated) and its side caches unpersisted, no plan that can ever run
  * again references any shuffle from that pass or its predecessors except
  * the featurize exchange backing the features cache — so the driver
  * retires them explicitly instead of waiting for a GC that may never
  * collect the references.
  *
  * Lives under `org.apache.spark` because `SparkContext.cleaner`,
  * `SparkContext.env` and `MapOutputTrackerMaster.shuffleStatuses` are
  * `private[spark]`. Only Spark's own cleanup path
  * (`ContextCleaner.doCleanupShuffle`) is invoked — the same call the GC
  * hook would eventually make — so retirement is idempotent with normal
  * cleaner activity.
  *
  * SAFETY CONTRACT (caller-enforced): every shuffle id not in `keep` must
  * be unreachable by any future action. Retiring a live shuffle does not
  * corrupt data — a downstream fetch would fail and Spark would recompute
  * the map stage — but a consumer whose lineage was truncated by
  * localCheckpoint cannot recompute and would fail the job. The pipeline
  * therefore retires only when every still-live relation is either (a)
  * eagerly localCheckpoint'ed — lineage truncated, so no plan path through
  * a retired shuffle exists — or (b) backed solely by keep-set shuffles
  * (the features cache, and round 0's identity state projected from it).
  * This holds at pass boundaries AND at the two mid-pass sites (the
  * round-0 batch loop, and CC's post-probe retire inside the state update
  * `Pipeline.advance` that round 0 and every macro pass share): `verified`,
  * `identityEdges` and `repIds` are checkpoints, not persisted caches,
  * precisely so those sites satisfy the contract (ADVICE r4).
  *
  * Executor-loss caveat (real clusters): localCheckpoint blocks themselves
  * are not fault-tolerant — Spark documents that losing an executor loses
  * its local checkpoint blocks regardless of retirement. Retirement does
  * not change that failure mode; a multi-executor deployment that needs
  * kill-resume durability should layer the reliable per-partition ledger
  * (`CheckpointedPipeline`) on top, which persists state to stable storage
  * between passes.
  */
object ShuffleRetirement {

  /** Shuffle ids currently registered with the driver's map-output
    * tracker (= shuffles whose files may exist on disk). */
  def liveIds(sc: SparkContext): Set[Int] =
    sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
      .shuffleStatuses.keySet.toSet

  /** Retire every registered shuffle except `keep`. Returns the number of
    * shuffles retired. Non-blocking: file deletion proceeds on the
    * cleaner's thread while the driver starts the next pass. */
  def retireAllExcept(sc: SparkContext, keep: Set[Int]): Int =
    sc.cleaner match {
      case Some(cleaner) =>
        val dead = liveIds(sc) -- keep
        dead.foreach(id => cleaner.doCleanupShuffle(id, blocking = false))
        dead.size
      case None => 0
    }
}
