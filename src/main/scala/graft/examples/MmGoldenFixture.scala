package graft.examples

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

import graft.Sessions

/** Generator for the REAL-codec golden fixture (VERDICT r8 #2: the
  * `javax.imageio` codec was spec-proven but not oracle-gated). Builds
  * a small deterministic corpus of synthetic PNGs — solids, gradients,
  * checkerboards, half-splits, seeded noise, plus perturbed near-dup
  * twins — and, INDEPENDENTLY of [[graft.operators.ImageIoCodec]],
  * computes each image's expected decode dims / aHash64 / 8-dim
  * grayscale histogram / factor-2 resize dims straight from the pixel
  * matrix it drew (the codec never runs here; the only shared stage is
  * ImageIO's lossless PNG encode). Output is two committed parquet
  * dirs under `fixtures/`:
  *
  *  - `mm_golden_images.parquet` (img_id, payload) — real PNG bytes;
  *  - `mm_golden_expected.parquet` (img_id, width, height, phash_hi,
  *    phash_lo, rs_width, rs_height, f0..f7) — the expectations.
  *
  * `q_mm_phash_real` then drives payloads through the real codec end
  * to end and the DuckDB oracle replays the expected table verbatim —
  * a decode/pooling/packing regression anywhere in the codec shows as
  * a hash mismatch. Expectations are pixel-derived only (never
  * payload-byte-derived), so a JDK PNG-encoder change can't break the
  * gate: PNG is lossless and the decoded matrix is the contract.
  *
  * Run once, commit the output: `runMain graft.examples.MmGoldenFixture`.
  */
object MmGoldenFixture {

  // SINGLE SOURCE for the generator's write paths and the battery's
  // read paths: both come from MultimodalQueries (repo-relative via
  // SPARK_GRAFT_REPO, VERDICT r9 #6) — two independent derivations
  // could drift on a future edit and silently split what the fixture
  // writes from what q_mm_phash_real reads
  val imagesPath = graft.operators.MultimodalQueries.goldenImagesPath
  val expectedPath = graft.operators.MultimodalQueries.goldenExpectedPath
  val fixtureDir =
    imagesPath.substring(0, imagesPath.lastIndexOf('/'))

  /** Explicit LCG (numerical-recipes constants) so the noise images are
    * bit-stable across Scala/JVM versions. */
  private final class Lcg(seed: Long) {
    private var s = seed
    def nextInt(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound).toInt + bound) % bound
    }
  }

  /** One image = a row-major matrix of packed RGB ints. */
  type Mat = Array[Array[Int]]

  private def rgb(r: Int, g: Int, b: Int): Int =
    ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff)

  private def build(w: Int, h: Int)(f: (Int, Int) => Int): Mat =
    Array.tabulate(h, w)((y, x) => f(x, y))

  /** The deterministic corpus: varied sizes (incl. odd dims that
    * exercise the 8×8 cell-boundary arithmetic) × varied structure. */
  def images(): Seq[(Long, Mat)] = {
    val rnd = new Lcg(20260814L)
    val solids = Seq((32, 32), (64, 48), (33, 17), (8, 8)).zipWithIndex.map {
      case ((w, h), i) =>
        val c = rgb(i * 60, 255 - i * 50, i * 35)
        build(w, h)((_, _) => c)
    }
    val hgrads = Seq((64, 32), (40, 56), (31, 29)).map { case (w, h) =>
      build(w, h)((x, _) => { val v = x * 255 / math.max(w - 1, 1); rgb(v, v, v) })
    }
    val vgrads = Seq((48, 64), (27, 41)).map { case (w, h) =>
      build(w, h)((_, y) => { val v = y * 255 / math.max(h - 1, 1); rgb(v, v / 2, 255 - v) })
    }
    val checkers = Seq((32, 32, 4), (56, 40, 8), (33, 33, 5)).map {
      case (w, h, bs) => build(w, h)((x, y) =>
        if (((x / bs) + (y / bs)) % 2 == 0) rgb(20, 20, 20) else rgb(235, 235, 235))
    }
    val halves = Seq((64, 64), (24, 60)).map { case (w, h) =>
      build(w, h)((x, _) => if (x < w / 2) rgb(0, 0, 0) else rgb(255, 255, 255))
    }
    val noises = Seq((32, 32), (48, 32), (29, 37)).map { case (w, h) =>
      build(w, h)((_, _) => rgb(rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    }
    val bases = solids ++ hgrads ++ vgrads ++ checkers ++ halves ++ noises
    // near-dup twins: +1 on one channel of a handful of pixels — same
    // perceptual content, different exact bytes (what pHash exists for)
    val twins = Seq(4, 9, 12, 15).map { k =>
      val src = bases(k)
      val m = src.map(_.clone())
      var i = 0
      while (i < 5) {
        val y = (i * 7) % m.length; val x = (i * 11) % m(0).length
        m(y)(x) = (m(y)(x) & 0xffff00) | math.min((m(y)(x) & 0xff) + 1, 255)
        i += 1
      }
      m
    }
    (bases ++ twins).zipWithIndex.map { case (m, i) => (i.toLong, m) }
  }

  /** Rec.601 integer luma — the published pHash/grayscale convention,
    * restated here independently of the codec. */
  private def gray(p: Int): Int =
    (((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 + (p & 0xff) * 114) / 1000

  /** Expected aHash from the matrix: 8×8 integer-mean pooling over
    * [c·d/8, max((c+1)·d/8, c·d/8+1)) cells, global floor-mean
    * threshold, bit i of half hi/lo at position 31-i / 63-i. */
  def expectedAHash(m: Mat): (Long, Long) = {
    val h = m.length; val w = m(0).length
    val cells = (0 until 64).map { i =>
      val cx = i % 8; val cy = i / 8
      val x0 = cx * w / 8; val x1 = math.max((cx + 1) * w / 8, x0 + 1)
      val y0 = cy * h / 8; val y1 = math.max((cy + 1) * h / 8, y0 + 1)
      val px = for { y <- y0 until y1; x <- x0 until x1 } yield gray(m(y)(x)).toLong
      (px.sum / px.size).toInt
    }
    val mean = cells.map(_.toLong).sum / 64
    val hi = (0 until 32).filter(i => cells(i) > mean)
      .foldLeft(0L)((acc, i) => acc | (1L << (31 - i)))
    val lo = (32 until 64).filter(i => cells(i) > mean)
      .foldLeft(0L)((acc, i) => acc | (1L << (63 - i)))
    (hi, lo)
  }

  /** Expected `dim`-bucket grayscale histogram, normalized by pixels. */
  def expectedFeatures(m: Mat, dim: Int): Array[Double] = {
    val counts = new Array[Long](dim)
    m.foreach(_.foreach(p => counts(gray(p) * dim / 256) += 1))
    val n = m.length.toLong * m(0).length
    counts.map(_.toDouble / n)
  }

  def encodePng(m: Mat): Array[Byte] = {
    val img = new BufferedImage(m(0).length, m.length, BufferedImage.TYPE_INT_RGB)
    for (y <- m.indices; x <- m(0).indices) img.setRGB(x, y, m(y)(x))
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  final case class Expected(img_id: Long, width: Long, height: Long,
      phash_hi: Long, phash_lo: Long, rs_width: Long, rs_height: Long,
      f0: Double, f1: Double, f2: Double, f3: Double,
      f4: Double, f5: Double, f6: Double, f7: Double)

  def expectedRows(): Seq[Expected] = images().map { case (id, m) =>
    val h = m.length; val w = m(0).length
    val (hi, lo) = expectedAHash(m)
    val f = expectedFeatures(m, 8)
    Expected(id, w.toLong, h.toLong, hi, lo,
      math.max(1, w / 2).toLong, math.max(1, h / 2).toLong,
      f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    images().map { case (id, m) => (id, encodePng(m)) }
      .toDF("img_id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(imagesPath)
    expectedRows().toDS().toDF()
      .coalesce(1).write.mode("overwrite").parquet(expectedPath)
    // tidy for commit: drop Spark's _SUCCESS/.crc clutter
    Seq(imagesPath, expectedPath).foreach { p =>
      new java.io.File(p).listFiles().foreach { f =>
        if (f.getName == "_SUCCESS" || f.getName.endsWith(".crc")) f.delete()
      }
    }
    println(s"wrote ${images().size} images + expectations under $fixtureDir")
    spark.stop()
  }
}
