package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.hadoop.conf.Configuration
import graft.sources.LineSource
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** `LineSource`: parity with the CSV-reader line read it replaced, and
  * the chunk planner. */
class LineSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()
  private val Mb = 1L << 20

  private def tmpDir(): Path = Files.createTempDirectory("linesource")

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(bytes); gz.close()
    out.toByteArray
  }

  private def latin1(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  /** The line read `CsvIngest.read` used before `LineSource`, kept as
    * the semantics oracle: whole lines through the CSV reader with a
    * NUL separator, no quoting, ISO-8859-1. */
  private def oracle(path: String, header: Boolean): Seq[String] =
    spark.read.schema(LineSource.schema)
      .option("sep", "\u0000").option("quote", "")
      .option("encoding", "ISO-8859-1").option("mode", "PERMISSIVE")
      .option("header", header).csv(path)
      .collect().map(_.getString(0)).toSeq

  private def lines(path: String, header: Boolean): Seq[String] =
    LineSource.read(spark, path, header).collect().map(_.getString(0)).toSeq

  private def withMaxPartitionBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** What the byte before a chunk start and the byte at it make of the
    * boundary. */
  private def boundary(b: Array[Byte], s: Long): String = {
    val (prev, at) = (b(s.toInt - 1), if (s < b.length) b(s.toInt) else 0.toByte)
    if (prev == '\r' && at == '\n') "cr|lf"
    else if (prev == '\n' || prev == '\r') "line start"
    else "mid-line"
  }

  test("lines equal the CSV reader's line read over every cut (property)") {
    val ending = Gen.frequency(3 -> Gen.const("\n"), 2 -> Gen.const("\r\n"), 2 -> Gen.const("\r"))
    val blank = Gen.oneOf("", " ", "  \t", "\u000b \u000c")
    val atom = Gen.frequency(
      5 -> Gen.alphaNumStr.map(_.take(5)),
      2 -> Gen.const(";"),
      1 -> Gen.const(" "),
      1 -> Gen.const("\\;"),
      3 -> Gen.choose(0x80, 0xff).map(_.toChar.toString))
    val text = Gen.choose(1, 8).flatMap(Gen.listOfN(_, atom)).map(_.mkString)
    val line = Gen.frequency(5 -> text, 1 -> blank, 1 -> text.map(" " + _ + " "))
    val file = for {
      before <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, blank))
      header <- Gen.oneOf(Seq("H;E;A;D"), Seq.empty[String])
      n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 60))
      body <- Gen.listOfN(n, line)
      ends <- Gen.listOfN(before.size + header.size + n, ending)
      lastEnd <- Gen.oneOf(true, false)
    } yield {
      val ls = before ++ header ++ body
      val s = ls.zip(ends).map { case (l, e) => l + e }.mkString
      latin1(if (lastEnd || ls.isEmpty) s else s.dropRight(ends.last.length))
    }
    val fuzz = Gen.listOfN(10, file).apply(Gen.Parameters.default, Seed(7L)).get
    // cut at byte m of 2m by a 2-chunk read: mid-line, on a line start,
    // and between `\r` and `\n`
    val directed = Seq("ab" -> "cd\n", "ab\n" -> "cd\n", "ab\r" -> "\ncd\r\n").map {
      case (l, r) =>
        val pad = "x" * (40 - l.length)
        latin1("H;E;A;D\n" + pad + l + r + "y" * (48 - r.length))
    } ++ Seq(
      "\u00ef\u00bb\u00bfab;c\nd\n", // a UTF-8 byte order mark (read without header)
      "\n \r\nH;E;A;D\nx;1\n",      // blank lines before the header
      "H;E;A;D",                     // header only, no final newline (without header)
      "H;E;A;D\r\n"                  // header only
    ).map(latin1)
    val dir = tmpDir()
    val seen = scala.collection.mutable.Set.empty[String]
    for {
      (content, i) <- (directed ++ fuzz).zipWithIndex
      kind <- Seq("plain", "gz", "gz2")
    } {
      val bytes = kind match {
        case "plain" => content
        case "gz" => gzip(content)
        // two members, cut at an arbitrary byte
        case _ => val k = content.length / 3
          gzip(content.take(k)) ++ gzip(content.drop(k))
      }
      val f = dir.resolve(s"f$i.csv" + (if (kind == "plain") "" else ".gz"))
      Files.write(f, bytes)
      val header = i % 2 == 0
      for (k <- Seq(1, 2, 3, 5)) {
        val maxBytes = math.max(1L, (content.length + k - 1) / k)
        LineSource.plan(conf, f.toString, maxBytes, 4).flatten
          .filter(c => c.start > 0 && c.start < content.length)
          .foreach(c => seen += boundary(content, c.start))
        withMaxPartitionBytes(maxBytes) {
          val want = oracle(f.toString, header)
          val got = lines(f.toString, header)
          assert(got == want, s"$kind file $i, $k chunks, header $header: " +
            s"${got.take(5)} vs ${want.take(5)} (${got.size} vs ${want.size} lines)")
        }
      }
    }
    assert(seen == Set("mid-line", "line start", "cr|lf"), s"boundaries cut: $seen")
  }

  test("intended difference: a NUL byte no longer truncates the line") {
    val dir = tmpDir()
    val f = dir.resolve("nul.csv")
    Files.write(f, latin1("NAME;N\na\u0000b;c\n"))
    assert(oracle(f.toString, header = true) == Seq("a"))
    assert(lines(f.toString, header = true) == Seq("a\u0000b;c"))
  }

  test("target chunk size: min(maxPartitionBytes, max(1 MB, total / parallelism))") {
    assert(LineSource.targetBytes(8 * Mb, 128 * Mb, 4) == 2 * Mb)
    assert(LineSource.targetBytes(1000, 128 * Mb, 4) == Mb)
    assert(LineSource.targetBytes(4096 * Mb, 128 * Mb, 4) == 128 * Mb)
    assert(LineSource.targetBytes(8 * Mb, 8192, 4) == 8192)
  }

  test("plain files are cut into even byte ranges") {
    val f = tmpDir().resolve("p.csv")
    Files.write(f, new Array[Byte](10001))
    def ranges(maxPartitionBytes: Long) =
      LineSource.plan(conf, f.toString, maxPartitionBytes, 4).map(_.map(c => (c.start, c.end)))
    // below the 1 MB floor: one chunk
    assert(ranges(128 * Mb) == Seq(Seq((0L, 10001L))))
    assert(ranges(2501) ==
      Seq(Seq((0L, 2501L)), Seq((2501L, 5002L)), Seq((5002L, 7503L)), Seq((7503L, 10001L))))
  }

  test("gzip chunks are sized from ISIZE and capped at the parallelism") {
    val dir = tmpDir()
    val f = dir.resolve("g.csv.gz")
    val raw = latin1((1 to 100000).map(i => s"row$i;$i").mkString("\n"))
    Files.write(f, gzip(raw))
    val four = LineSource.plan(conf, f.toString, 64 * 1024, 4).flatten
    assert(four.size == 4 && four.forall(_.compressed))
    val step = (raw.length + 3) / 4
    assert(four.map(_.start) == Seq(0L, step, 2L * step, 3L * step))
    assert(four.last.end == Long.MaxValue && four.head.end == step)
    assert(LineSource.plan(conf, f.toString, 64 * 1024, 2).flatten.size == 2)
    // at the 1 MB floor, ~1.4 MB decompressed makes two chunks
    assert(raw.length > Mb && raw.length < 2 * Mb)
    assert(LineSource.plan(conf, f.toString, 128 * Mb, 4).flatten.size == 2)
  }

  test("small files are packed into one partition up to the target") {
    val dir = tmpDir()
    (1 to 12).foreach(i => Files.write(dir.resolve(f"s$i%02d.csv"), new Array[Byte](100)))
    val parts = LineSource.plan(conf, dir.toString, 1000, 4)
    assert(parts.map(_.size) == Seq(10, 2))
    assert(parts.flatten.map(c => new org.apache.hadoop.fs.Path(c.path).getName) ==
      (1 to 12).map(i => f"s$i%02d.csv"))
  }

  test("hidden and empty files are skipped; directories and globs are expanded") {
    val dir = tmpDir()
    Files.createDirectories(dir.resolve("sub/_tmp"))
    Files.createDirectories(dir.resolve(".hidden"))
    Seq("a.csv", "_SUCCESS", ".a.csv.crc", "sub/b.csv", "sub/_tmp/c.csv", ".hidden/d.csv")
      .foreach(n => Files.write(dir.resolve(n), latin1("x\n")))
    Files.write(dir.resolve("empty.csv"), Array.emptyByteArray)
    def names(p: String) = LineSource.listFiles(conf, p).map(_.getPath.getName)
    assert(names(dir.toString) == Seq("a.csv", "b.csv"))
    assert(names(dir.toString + "/*.csv") == Seq("a.csv"))
    assert(names(dir.toString + "/_SUCCESS").isEmpty)
    intercept[java.io.FileNotFoundException](names(dir.toString + "/nope*.csv"))
  }

  test("the rows a chunk emits are its task's input records") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val f = tmpDir().resolve("r.csv")
    Files.write(f, latin1("H\na\n\n  \nb\nc"))
    val sc = spark.sparkContext
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("linesource.test") == "records") e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("linesource.test", "records")
    try {
      LineSource.read(spark, f.toString, skipHeader = true).rdd.count()
      org.apache.spark.graftbridge.ListenerBridge.drain(sc)
      assert(records.get == 3)
    } finally {
      sc.setLocalProperty("linesource.test", null)
      sc.removeSparkListener(listener)
    }
  }

  test("a gzip file read in several chunks loses exactly its header, in order") {
    val dir = tmpDir()
    val data = (1 to 3000).map(i => s"r$i;$i;$i.5")
    Files.write(dir.resolve("big.csv.gz"), gzip(latin1(("NAME;N;X" +: data).mkString("\n"))))
    withMaxPartitionBytes(8192) {
      val df = LineSource.read(spark, dir.resolve("big.csv.gz").toString, skipHeader = true)
      assert(df.rdd.getNumPartitions == 4)
      assert(df.collect().map(_.getString(0)).toSeq == data)
    }
  }
}
