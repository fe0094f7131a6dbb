package graft.gen

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.GenRow
import graft.util.Hashing._

/** Deterministic synthetic image+caption corpus with planted duplicate
  * groups (FIXTURES.md §1) — the transposition of the DNAsimulator's evyat
  * generator (`/root/reference/README.md:82-94`): G planted groups (analog of
  * original strands, `lsh_based_clustering.py:174-178`) of 1..maxCopies noisy
  * copies each.
  *
  * Generation is fully distributed: one `flatMap` over `spark.range(groups)`,
  * each group derived from a splittable seed — no driver-side materialization,
  * so the same generator scales to arbitrarily many groups. Emitted order is
  * decorrelated from group order via hash-repartitioning (the analog of the
  * reference's `random.shuffle`, `lsh_based_clustering.py:187`).
  *
  * Noise model mirrors the evyat noisy-copy model: each copy applies
  * 0..maxEdits character edits (sub/ins/del) to the group caption, and a few
  * ±2 pixel perturbations to the group image, so that a copy's pHash differs
  * from the group's by only a few bits.
  */
object SyntheticCorpus {

  final case class GenConfig(
      groups: Int,
      seed: Long = 42L,
      maxCopies: Int = 20,
      maxEdits: Int = 8,
      numParts: Int = 8,
      /** If > 0, group 0 has this many copies — the skew/mega-bucket fixture
        * (SURVEY.md §7.4.2). */
      megaGroupRows: Int = 0,
      jpegFraction: Double = 0.3,
      /** Fast-payload mode for large scaling corpora: pHash is computed from
        * the perturbed pixels directly (same texture, same noise model) and
        * the encoded payload is replaced by a 1-byte placeholder — the
        * pipeline prunes `bytes` from every scan, so only payload-fidelity
        * fixtures need real encodings; this skips the imageio encode/decode
        * that dominates generation cost (~80%). */
      fastPayload: Boolean = false
  )

  private val WORDS: Array[String] = Array(
    "amber", "anchor", "apple", "arrow", "aurora", "autumn", "basalt", "beach",
    "bear", "bell", "birch", "bison", "blaze", "bloom", "bluff", "breeze",
    "bridge", "brook", "canyon", "castle", "cedar", "cliff", "cloud", "clover",
    "coast", "comet", "coral", "crane", "creek", "crest", "crystal", "cypress",
    "dawn", "delta", "desert", "drift", "dune", "eagle", "ember", "falcon",
    "feather", "fern", "field", "fjord", "flame", "flint", "forest", "fox",
    "frost", "garden", "geyser", "glacier", "glade", "glen", "granite", "grove",
    "harbor", "hawk", "hazel", "heron", "hill", "hollow", "horizon", "island",
    "ivory", "jasper", "juniper", "lagoon", "lake", "lantern", "larch", "ledge",
    "lichen", "light", "lily", "linden", "lotus", "lynx", "maple", "marsh",
    "meadow", "mesa", "mist", "moon", "moss", "mountain", "night", "oasis",
    "ocean", "onyx", "orchid", "osprey", "otter", "owl", "palm", "peak",
    "pebble", "pine", "plain", "pond", "prairie", "quartz", "rain", "rapids",
    "raven", "reef", "ridge", "river", "rock", "rose", "sage", "sand",
    "sequoia", "shadow", "shore", "sierra", "sky", "slope", "snow", "sparrow",
    "spring", "spruce", "star", "steppe", "stone", "storm", "stream", "summit",
    "sun", "swan", "thicket", "thorn", "tide", "timber", "trail", "tundra",
    "valley", "vine", "wave", "willow", "wind", "winter", "wolf", "wren"
  )

  private val EDIT_ALPHABET: String = "abcdefghijklmnopqrstuvwxyz "

  /** Seeded caption for a group: 12..17 words from the bank. */
  private[gen] def groupCaption(gseed: Long): String = {
    val n = 12 + boundedInt(hash2(gseed, 101L), 6)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(WORDS(boundedInt(hash3(gseed, 102L, i.toLong), WORDS.length)))
      i += 1
    }
    sb.toString
  }

  /** Apply `nEdits` seeded character edits (analog of the per-copy
    * substitution/indel noise in the evyat model). */
  private[gen] def perturbCaption(base: String, cseed: Long, nEdits: Int): String = {
    val sb = new StringBuilder(base)
    var e = 0
    while (e < nEdits && sb.length > 4) {
      val es = hash3(cseed, 7L, e.toLong)
      val pos = boundedInt(hash2(es, 1L), sb.length)
      boundedInt(hash2(es, 2L), 3) match {
        case 0 => sb.setCharAt(pos, EDIT_ALPHABET.charAt(boundedInt(hash2(es, 3L), EDIT_ALPHABET.length)))
        case 1 => sb.insert(pos, EDIT_ALPHABET.charAt(boundedInt(hash2(es, 3L), EDIT_ALPHABET.length)))
        case _ => sb.deleteCharAt(pos)
      }
      e += 1
    }
    sb.toString
  }

  /** Smooth seeded 2-D cosine texture — JPEG-friendly (PSNR ≥ 40 dB at
    * quality 0.98, SURVEY.md §7.4.4) while giving each group a distinctive
    * 8x8 block-mean structure, so pHashes are diverse across groups (a plain
    * gradient degenerates to a half-plane average-hash and collides). */
  def groupPixels(gseed: Long, w: Int, h: Int): Array[Int] = {
    // Shared-luma cosine texture with LOW-SATURATION per-channel offsets:
    // Java's JPEG writer subsamples chroma even at quality 0.98, so chroma
    // amplitude must stay small for the PSNR >= 40 dB payload invariant,
    // while the luma pattern gives each group a distinctive pHash.
    def wave(chSeed: Long): (Double, Double, Double, Double, Double, Double) = (
      1 + boundedInt(hash2(chSeed, 1L), 3), // fx1 in 1..3
      1 + boundedInt(hash2(chSeed, 2L), 3),
      1 + boundedInt(hash2(chSeed, 3L), 3),
      1 + boundedInt(hash2(chSeed, 4L), 3),
      boundedInt(hash2(chSeed, 5L), 628) / 100.0,
      boundedInt(hash2(chSeed, 6L), 628) / 100.0)
    val (lfx1, lfy1, lfx2, lfy2, lp1, lp2) = wave(hash2(gseed, 11L))
    val (cfx, cfy, _, _, cp1, cp2) = wave(hash2(gseed, 12L))
    val tau = 2.0 * math.Pi
    def clamp(v: Double): Int = math.max(0, math.min(255, v.round.toInt))
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        def cs(fx: Double, fy: Double, p: Double) =
          math.cos(tau * (fx * x / w + fy * y / h) + p)
        val luma = 128 + 56 * cs(lfx1, lfy1, lp1) + 40 * cs(lfx2, lfy2, lp2)
        val cr = 10 * cs(cfx, cfy, cp1)   // small chroma modulation
        val cb = 10 * cs(cfy, cfx, cp2)
        val r = clamp(luma + cr)
        val g = clamp(luma - 0.5 * cr - 0.3 * cb)
        val b = clamp(luma + cb)
        px(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    px
  }

  /** ±2-per-channel perturbation on a handful of pixels (copy noise). */
  def perturbPixels(px: Array[Int], cseed: Long, n: Int): Array[Int] = {
    val out = px.clone()
    var i = 0
    while (i < n) {
      val es = hash3(cseed, 23L, i.toLong)
      val pos = boundedInt(hash2(es, 1L), out.length)
      val d = boundedInt(hash2(es, 2L), 5) - 2 // -2..2
      val p = out(pos)
      def clamp(v: Int) = math.max(0, math.min(255, v))
      val r = clamp(((p >> 16) & 0xFF) + d)
      val g = clamp(((p >> 8) & 0xFF) + d)
      val b = clamp((p & 0xFF) + d)
      out(pos) = (r << 16) | (g << 8) | b
      i += 1
    }
    out
  }

  def encode(px: Array[Int], w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new ByteArrayOutputStream()
    if (fmt == "jpg") {
      val writer = ImageIO.getImageWritersByFormatName("jpg").next()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.98f)
      writer.write(null, new IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
    } else {
      ImageIO.write(img, "png", bos)
    }
    bos.toByteArray
  }

  def decode(bytes: Array[Byte]): BufferedImage =
    ImageIO.read(new ByteArrayInputStream(bytes))

  /** 64-bit average-hash pHash over decoded pixels: 8x8 luma block means,
    * bit = block mean > global mean. Copies of a group differ by few bits;
    * unrelated gradients differ by many. */
  def phashOf(img: BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Double](64)
    val counts = new Array[Int](64)
    var y = 0
    while (y < h) {
      var x = 0
      val by = math.min(7, y * 8 / h)
      while (x < w) {
        val bx = math.min(7, x * 8 / w)
        val p = img.getRGB(x, y)
        val luma = 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
        val bi = by * 8 + bx
        sums(bi) += luma; counts(bi) += 1
        x += 1
      }
      y += 1
    }
    val means = Array.tabulate(64)(i => if (counts(i) > 0) sums(i) / counts(i) else 0.0)
    val global = means.sum / 64.0
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (means(i) > global) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** PSNR in dB between two equal-size pixel arrays (RGB, per-channel MSE).
    * Returns Double.PositiveInfinity for identical pixels. */
  def psnr(a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length)
    var se = 0.0
    var i = 0
    while (i < a.length) {
      val pa = a(i); val pb = b(i)
      val dr = ((pa >> 16) & 0xFF) - ((pb >> 16) & 0xFF)
      val dg = ((pa >> 8) & 0xFF) - ((pb >> 8) & 0xFF)
      val db = (pa & 0xFF) - (pb & 0xFF)
      se += dr * dr + dg * dg + db * db
      i += 1
    }
    val mse = se / (3.0 * a.length)
    if (mse == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 / mse)
  }

  private def genGroup(cfg: GenConfig)(g: Long): Iterator[GenRow] = {
    val gseed = hash2(cfg.seed, g)
    val copies =
      if (g == 0L && cfg.megaGroupRows > 0) cfg.megaGroupRows
      else 1 + boundedInt(hash2(gseed, 1L), cfg.maxCopies)
    val w = 32 + 8 * boundedInt(hash2(gseed, 2L), 5) // 32..64
    val h = 32 + 8 * boundedInt(hash2(gseed, 3L), 5)
    val fmt = if (boundedInt(hash2(gseed, 4L), 1000) < (cfg.jpegFraction * 1000).toInt) "jpg" else "png"
    val caption = groupCaption(gseed)
    val basePx = groupPixels(gseed, w, h)
    (0 until copies).iterator.map { c =>
      val cseed = hash3(gseed, 5L, c.toLong)
      val nEdits = boundedInt(hash2(cseed, 1L), cfg.maxEdits + 1)
      val cap = perturbCaption(caption, cseed, nEdits)
      val px = perturbPixels(basePx, cseed, 4)
      val (bytes, ph) =
        if (cfg.fastPayload) {
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          img.setRGB(0, 0, w, h, px, 0, w)
          (Array[Byte](1), phashOf(img))
        } else {
          val enc = encode(px, w, h, fmt)
          (enc, phashOf(decode(enc)))
        }
      val id = s"img-$g-$c"
      GenRow(id, bytes, w, h, fmt, cap, ph, g, (stringHash(id) & 0x7FFFFFFF).toInt % cfg.numParts)
    }
  }

  /** The full corpus with truth column; hash-distributed across partitions. */
  def generate(spark: SparkSession, cfg: GenConfig): Dataset[GenRow] = {
    import spark.implicits._
    spark.range(0, cfg.groups.toLong, 1, math.min(cfg.numParts * 4, math.max(1, cfg.groups)))
      .as[Long]
      .flatMap(genGroup(cfg) _)
  }

  /** Input table in the north-rule shape (truth column dropped). */
  def imagesOf(gen: Dataset[GenRow]): DataFrame =
    gen.toDF().select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

  /** Metric-only ground truth (FIXTURES.md §2). */
  def truthOf(gen: Dataset[GenRow]): DataFrame = {
    import org.apache.spark.sql.functions._
    gen.toDF().select(
      graft.feat.RowIds.rowIdCol(col("image_id")).as("row_id"),
      col("image_id"),
      col("true_cluster_id"))
  }

  /** The same truth read back from `image_id` alone (`img-<group>-<copy>`,
    * written by `genGroup`), for a corpus stored without its truth column. */
  def truthOfIds(images: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    images.select(
      graft.feat.RowIds.rowIdCol(col("image_id")).as("row_id"),
      col("image_id"),
      regexp_extract(col("image_id"), "img-(\\d+)-", 1).cast("long").as("true_cluster_id"))
  }
}
