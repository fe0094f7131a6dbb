package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.cluster.Pipeline
import graft.eval.Metrics
import graft.io.{EvyatIO, TableIO}
import graft.model.GraftConfig
import graft.util.Hashing._

/** S1 parity: the reference's native evyat.txt input
  * (`/root/reference/lsh_based_clustering.py:155-208`, README.md:8-32) —
  * parse a DNAsimulator-shaped fixture, cluster it with the DNA-alphabet
  * config at the reference's shingle/signature parameters, and round-trip
  * the result back through the (distributed) evyat export. */
class EvyatSpec extends SparkSpec {

  private val BASES = "ACGT"

  private def strand(gseed: Long, len: Int): String = {
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) {
      sb.append(BASES.charAt(boundedInt(hash2(gseed, i.toLong), 4)))
      i += 1
    }
    sb.toString
  }

  /** Noisy copy: nEdits seeded substitutions/insertions/deletions —
    * the evyat noisy-copy model. */
  private def mutate(base: String, cseed: Long, nEdits: Int): String = {
    val sb = new StringBuilder(base)
    var e = 0
    while (e < nEdits && sb.length > 8) {
      val es = hash3(cseed, 7L, e.toLong)
      val pos = boundedInt(hash2(es, 1L), sb.length)
      val ch = BASES.charAt(boundedInt(hash2(es, 3L), 4))
      boundedInt(hash2(es, 2L), 3) match {
        case 0 => sb.setCharAt(pos, ch)
        case 1 => sb.insert(pos, ch)
        case _ => sb.deleteCharAt(pos)
      }
      e += 1
    }
    sb.toString
  }

  /** Deterministic evyat fixture: G clusters of 2..5 noisy copies. Returns
    * (file text, per-cluster copies). */
  private def fixture(groups: Int, seed: Long): (String, Vector[Vector[String]]) = {
    val sb = new StringBuilder
    val clusters = Vector.tabulate(groups) { g =>
      val gseed = hash2(seed, g.toLong)
      val orig = strand(gseed, 105 + boundedInt(hash2(gseed, 99L), 11))
      val copies = Vector.tabulate(2 + boundedInt(hash2(gseed, 98L), 4)) { c =>
        val cseed = hash3(gseed, 5L, c.toLong)
        mutate(orig, cseed, boundedInt(hash2(cseed, 1L), 7))
      }
      sb.append(orig).append('\n')
      sb.append("*****************************\n")
      copies.foreach(cp => sb.append(cp).append('\n'))
      sb.append("\n\n")
      copies
    }
    (sb.toString, clusters)
  }

  test("evyat reader parses reps/reads with the reference's semantics") {
    val (text, clusters) = fixture(groups = 40, seed = 11L)
    val f = Files.createTempFile("evyat_parse", ".txt")
    Files.write(f, text.getBytes(StandardCharsets.UTF_8))

    val (reads, reps) = EvyatIO.readEvyat(spark, f.toString)
    assert(reps.count() == 40)
    assert(reads.count() == clusters.map(_.size).sum)

    // per-cluster multiset of strands matches the planted fixture
    import spark.implicits._
    val byCluster = reads.as[(Long, String, Long)].collect()
      .groupBy(_._3).map { case (cid, rows) => cid -> rows.map(_._2).sorted.toVector }
    clusters.zipWithIndex.foreach { case (copies, g) =>
      assert(byCluster(g.toLong) == copies.sorted, s"cluster $g member mismatch")
    }
    Files.deleteIfExists(f)
  }

  test("DNA parity: cluster an evyat corpus at the reference config, recall >= 0.99, export round-trips") {
    val (text, _) = fixture(groups = 120, seed = 23L)
    val f = Files.createTempFile("evyat_dna", ".txt")
    Files.write(f, text.getBytes(StandardCharsets.UTF_8))

    val (reads, _) = EvyatIO.readEvyat(spark, f.toString)
    // reference shingle/signature config (q=6, k=3, m=40, L=32, dist=12 are
    // the GraftConfig defaults) + the DNA-corpus switches
    val cfg = GraftConfig(seed = 7L, usePhash = false, anchorAlphabet = "ACGT",
      maxMacroRounds = 6)
    val res = Pipeline.run(spark, EvyatIO.asImages(reads), cfg)
    val rep = Metrics.evaluate(spark, res.assign, EvyatIO.truthOf(reads))
    assert(rep.dupPairRecall >= 0.99, s"recall ${rep.dupPairRecall}")
    assert(rep.dupPairPrecision >= 0.99, s"precision ${rep.dupPairPrecision}")

    // export the clustering in evyat format and re-parse: the partition of
    // strands must survive the round trip byte-exactly
    val strands = reads.select(
      graft.feat.RowIds.rowIdCol(concat(lit("read-"), col("read_id").cast("string"))).as("row_id"),
      col("strand"))
    val keyed = res.assign.join(strands, "row_id")
      .select(col("cluster_id"), col("strand").as("member"),
        col("strand").as("rep_candidate"))
    val out = tempDir("evyat_export").resolve("evyat_out.txt")
    TableIO.exportEvyat(spark, keyed, out.toString)

    val (reads2, _) = EvyatIO.readEvyat(spark, out.toString)
    import spark.implicits._
    def partition(df: org.apache.spark.sql.DataFrame): Set[Vector[String]] =
      df.as[(Long, String, Long)].collect()
        .groupBy(_._3).values.map(_.map(_._2).sorted.toVector).toSet
    val exported = partition(reads2)
    val original = keyed.as[(Long, String, String)].collect()
      .groupBy(_._1).values.map(_.map(_._2).sorted.toVector).toSet
    assert(exported == original, "export/parse round trip changed the partition")
    Files.deleteIfExists(f)
  }
}
