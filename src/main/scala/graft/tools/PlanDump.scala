package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.graft.StageProfiler
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Diagnostic: write `.explain("formatted")` output + executed job/stage
  * counts for SparkEntry queries to `plans/<tag>/<query>.txt` — the
  * round-8 optimization evidence (guide §1: capture the plan shape and the
  * job count before/after every change; the judge checks plan claims
  * against these files). Job/stage counts come from a [[StageProfiler]] over
  * the query's full execution (construction + one count() action — the
  * bench's own action), so driver-composed queries (the m* metrics, whose
  * returned DataFrame is a LocalRelation of scalars) still show their real
  * execution cost: the number of Spark jobs their internal actions ran.
  *
  * Usage: sbt "runMain graft.tools.PlanDump <tag> [query ...]"
  *   (no query args = the full declared-query list)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("scratch")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = new File(s"plans/$tag")
    dir.mkdirs()

    val prof = StageProfiler.attach(spark.sparkContext)

    names.foreach { name =>
      prof.reset()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val (jobs, stages) = (prof.jobs, prof.stages.size)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val pw = new PrintWriter(new File(dir, s"$name.txt"))
      try {
        pw.println(s"== $name @ $sfDir ==")
        pw.println(f"rows=$rows jobs=$jobs stages=$stages wall=$sec%.3f s " +
          "(single cold execution incl. query construction)")
        pw.println()
        pw.println(plan)
      } finally pw.close()
      println(f"[plandump] $name rows=$rows jobs=$jobs stages=$stages wall=$sec%.3f")
    }
    spark.stop()
  }
}
