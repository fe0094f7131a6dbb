package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JacksonException, JsonParser}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1/S2 + checkpoint ledger — Iceberg-emulating table layout
  * (SURVEY.md §7.4.5). No Iceberg runtime jar ships offline, so the table is
  * directory-partitioned parquet (`part_id=k/`) with an explicit `_ledger/`
  * of atomically-written (temp+rename) JSON entries carrying per-partition
  * lineage and metrics — exactly the north rule's "checkpoint cluster state
  * per Iceberg partition so a killed job resumes with per-partition lineage
  * and metrics intact".
  */
object TableIO {

  final case class LedgerEntry(key: String, stage: String, partition: Int,
                               rows: Long, metrics: Map[String, String])

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def ledgerDir(base: String): Path = Paths.get(base, "_ledger")

  /** Atomic single-entry write: temp file + rename, so a kill mid-write can
    * never leave a half-entry (resume treats missing = not done). */
  def writeEntry(base: String, e: LedgerEntry): Unit = {
    val dir = ledgerDir(base)
    Files.createDirectories(dir)
    val json =
      s"""{"key": ${q(e.key)}, "stage": ${q(e.stage)}, "partition": ${e.partition}, "rows": ${e.rows}, "metrics": {""" +
        e.metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ") + "}}"
    val tmp = dir.resolve(s".${e.key}.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"${e.key}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Files.list/walk return AutoCloseable directory streams — always close
    * them (ADVICE r2: leaked fds across repeated exports in a long-lived
    * driver). */
  private def withStream[A](s: java.util.stream.Stream[Path])(f: Iterator[Path] => A): A =
    try f(s.iterator().asScala) finally s.close()

  def completedKeys(base: String): Set[String] = {
    val dir = ledgerDir(base)
    if (!Files.isDirectory(dir)) Set.empty
    else withStream(Files.list(dir))(_
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json")).toSet)
  }

  def dropEntry(base: String, key: String): Unit = {
    val f = ledgerDir(base).resolve(s"$key.json")
    Files.deleteIfExists(f)
  }

  private val ledgerJson = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)

  private val LedgerFields = Set("key", "stage", "partition", "rows", "metrics")

  /** Strict inverse of [[writeEntry]] (ADVICE r3): resume-control state must
    * come from a structured parse that FAILS LOUDLY on format drift, never
    * from regex scraping with silent defaults — a ledger written by a
    * different format should abort the resume, not replay it with wrong
    * pass sizing. Exactly the five [[LedgerEntry]] fields, integer
    * `partition`/`rows` and string metric values are accepted; anything
    * else, a torn file or trailing content throws. */
  def readEntry(base: String, key: String): LedgerEntry = {
    val f = ledgerDir(base).resolve(s"$key.json")
    def fail(msg: String): Nothing = throw new IllegalStateException(s"ledger entry $f: $msg")
    val root =
      try ledgerJson.readTree(Files.readAllBytes(f))
      catch { case e: JacksonException => fail(s"malformed JSON: ${e.getOriginalMessage}") }
    if (!root.isObject) fail("not a JSON object")
    val fields = root.properties().asScala.map(_.getKey).toSet
    if (fields != LedgerFields) fail(s"fields ${fields.toSeq.sorted.mkString(", ")}; " +
      s"expected ${LedgerFields.toSeq.sorted.mkString(", ")}")
    def str(n: JsonNode, what: String): String =
      if (n.isTextual) n.textValue else fail(s"$what is not a string")
    val part = root.get("partition")
    if (!part.isInt) fail("partition is not an int")
    val rows = root.get("rows")
    if (!rows.isIntegralNumber || !rows.canConvertToLong) fail("rows is not a long")
    val m = root.get("metrics")
    if (!m.isObject) fail("metrics is not an object")
    val metrics = m.properties().asScala
      .map(e => e.getKey -> str(e.getValue, s"metric ${e.getKey}")).toMap
    val k = str(root.get("key"), "key")
    if (k != key) fail(s"key mismatch: file says \"$k\"")
    LedgerEntry(k, str(root.get("stage"), "stage"), part.intValue, rows.longValue, metrics)
  }

  /** Write the images table in the Iceberg-emulating layout. */
  def writeImages(images: DataFrame, path: String, numParts: Int): Unit =
    images
      .withColumn("part_id", pmod(xxhash64(col("image_id")), lit(numParts)).cast("int"))
      .write.mode("overwrite").partitionBy("part_id").parquet(path)

  /** Distinct part_id values present in a partitioned table — from the
    * directory listing (partition pruning metadata), not a data scan. */
  def listPartitions(spark: SparkSession, path: String): Seq[Int] =
    withStream(Files.list(Paths.get(path)))(_
      .map(_.getFileName.toString)
      .filter(_.startsWith("part_id="))
      .map(_.stripPrefix("part_id=").toInt)
      .toSeq.sorted)

  /** S2 — evyat-style text export
    * (`/root/reference/lsh_based_clustering.py:677-695`): per cluster a
    * majority-vote representative line, a separator, then sorted members.
    *
    * Distributed (round-2 fix — the round-1 version collected the whole
    * corpus to the driver): one text block per cluster is written via the
    * text sink after an `orderBy(cluster_id)` (range partitioning ⇒ part
    * files are globally ordered by file name), then the part files are
    * stream-concatenated into `outFile` with bounded driver memory. */
  def exportEvyat(spark: SparkSession, assignWithKeys: DataFrame, outFile: String): Unit = {
    // assignWithKeys: (cluster_id, member: String, rep_candidate: String)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("cnt").desc, col("rep_candidate"))
    val majority = assignWithKeys.groupBy("cluster_id", "rep_candidate")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("cluster_id"), col("rep_candidate").as("rep"))
    val blocks = assignWithKeys.groupBy("cluster_id")
      .agg(sort_array(collect_list(col("member"))).as("members"))
      .join(majority, "cluster_id")
      .orderBy("cluster_id")
      .select(concat(
        col("rep"), lit("\n*****************************\n"),
        array_join(col("members"), "\n"), lit("\n\n")).as("value"))

    val partsDir = Paths.get(outFile + ".parts")
    blocks.write.mode("overwrite").text(partsDir.toString)

    val parent = Paths.get(outFile).getParent
    if (parent != null) Files.createDirectories(parent)
    val os = new java.io.BufferedOutputStream(
      Files.newOutputStream(Paths.get(outFile)))
    try {
      withStream(Files.list(partsDir))(_.toSeq)
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
        .foreach(p => Files.copy(p, os))
    } finally os.close()
    // drop the intermediate part files
    withStream(Files.walk(partsDir))(_.toSeq).reverse
      .foreach(Files.deleteIfExists(_))
  }
}
