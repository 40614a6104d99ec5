package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.sources.{CsvIngest, FilePick, SchemaIO}
import graft.workflow.EtlError._
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** S1–S4, S10: file pick, extension gate, strict CSV read (quote-less,
  * `;`, escapechar, gzip, header skip), archive. */
class CsvIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(): Path = Files.createTempDirectory("csvingest")

  private val schema = StructType(Seq(
    StructField("NAME", StringType), StructField("N", LongType),
    StructField("X", DoubleType)))

  private def write(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes("ISO-8859-1"))

  test("REPEATED schema field parses '|'-separated cells: typed elements, " +
    "NULL element on junk, NULL array on empty cell") {
    val dir = tmpDir()
    write(dir, "rep_1.csv", Seq(
      "ID;VALS",
      "0;1|2|3",
      "1;4|x|6",
      "2;",
      "3;7"))
    val sch = StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("VALS", ArrayType(LongType))))
    val rows = CsvIngest.read(spark, dir.resolve("rep_1.csv").toString, sch)
      .orderBy("ID").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows(0).getSeq[Any](1) == Seq(1L, 2L, 3L))
    assert(rows(1).getSeq[Any](1) == Seq(4L, null, 6L),
      s"junk element must coerce to NULL, got ${rows(1).getSeq[Any](1)}")
    assert(rows(2).isNullAt(1), "empty cell must be a NULL array")
    assert(rows(3).getSeq[Any](1) == Seq(7L))
  }

  test("pickLatest: lexicographic max; none → CsvNotFound; bad ext → CsvInvalid") {
    val dir = tmpDir()
    write(dir, "cars_202107.csv", Seq("h"))
    write(dir, "cars_202109.csv", Seq("h"))
    write(dir, "cars_202108.csv", Seq("h"))
    assert(FilePick.mostRecentCsv(spark, dir.toString, "cars_").getName
      == "cars_202109.csv")
    intercept[CsvNotFound](FilePick.mostRecentCsv(spark, dir.toString, "nope_"))
    write(dir, "cars_202110.txt", Seq("h"))
    intercept[CsvInvalid](FilePick.mostRecentCsv(spark, dir.toString, "cars_"))
  }

  test("strict read: header skip, arity filter, escaped delimiter, coercion") {
    val dir = tmpDir()
    write(dir, "d.csv", Seq(
      "NAME;N;X",            // header (skipped)
      "plain;1;1.5",
      "esc\\;aped;2;2.5",    // escaped ; inside NAME
      "short;3",             // wrong arity → dropped
      "bad;two;x"))          // coercion failures → NULLs
    val out = CsvIngest.read(spark, dir.resolve("d.csv").toString, schema)
      .orderBy("NAME").collect()
    assert(out.length == 3)
    assert(out.map(_.getString(0)).toSeq == Seq("bad", "esc;aped", "plain"))
    assert(out(1).getLong(1) == 2L && out(2).getDouble(2) == 1.5)
    assert(out(0).isNullAt(1) && out(0).isNullAt(2))
  }

  test("gzip by extension") {
    val dir = tmpDir()
    val gz = new GZIPOutputStream(Files.newOutputStream(dir.resolve("g.csv.gz")))
    gz.write("NAME;N;X\ngz;9;9.5\n".getBytes("ISO-8859-1")); gz.close()
    val out = CsvIngest.read(spark, dir.resolve("g.csv.gz").toString, schema).collect()
    assert(out.length == 1 && out(0).getString(0) == "gz" && out(0).getLong(1) == 9L)
  }

  test("archive moves consumed files under ARCHIVED/ (main.py:182-190)") {
    val dir = tmpDir()
    write(dir, "cars_1.csv", Seq("a"))
    write(dir, "cars_2.csv", Seq("b"))
    write(dir, "other.csv", Seq("c"))
    FilePick.archive(spark, dir.toString, "cars_")
    assert(!Files.exists(dir.resolve("cars_1.csv")))
    assert(Files.exists(dir.resolve("ARCHIVED/cars_1.csv")))
    assert(Files.exists(dir.resolve("ARCHIVED/cars_2.csv")))
    assert(Files.exists(dir.resolve("other.csv"))) // non-matching untouched
  }

  test("file pick and archive take the prefix literally, not as a glob") {
    val dir = tmpDir()
    write(dir, "a?b[1]{_202101.csv", Seq("NAME;N;X", "lit;1;1.0"))
    // each would match the prefix read as a glob (`?`, `[1]`)
    write(dir, "axb1{_202109.csv", Seq("h"))
    write(dir, "a?b1{_202112.csv", Seq("h"))
    val pick = FilePick.mostRecentCsv(spark, dir.toString, "a?b[1]{_")
    assert(pick.getName == "a?b[1]{_202101.csv")
    assert(CsvIngest.read(spark, pick.toString, schema).collect()
      .map(_.getString(0)).toSeq == Seq("lit"))
    // an unclosed `{` is a plain character too
    intercept[CsvNotFound](FilePick.mostRecentCsv(spark, dir.toString, "{nope"))
    FilePick.archive(spark, dir.toString, "a?b[1]{_")
    assert(Files.exists(dir.resolve("ARCHIVED/a?b[1]{_202101.csv")))
    assert(Files.exists(dir.resolve("axb1{_202109.csv")))
    assert(Files.exists(dir.resolve("a?b1{_202112.csv")))
  }

  test("header skip is narrow (no Exchange) and handles multi-file scans") {
    val dir = tmpDir()
    write(dir, "m1.csv", Seq("NAME;N;X", "a;1;1.0"))
    write(dir, "m2.csv", Seq("NAME;N;X", "b;2;2.0", "c;3;3.0"))
    val df = CsvIngest.read(spark, dir.toString + "/m*.csv", schema)
    // both headers dropped, all data rows kept
    assert(df.orderBy("NAME").collect().map(_.getString(0)).toSeq
      == Seq("a", "b", "c"))
    // the skip must not cluster each file onto one reducer, nor take a
    // typed object round trip: scan → filter → project stays one pass
    val plan = df.queryExecution.executedPlan.toString
    Seq("Exchange", "DeserializeToObject", "MapPartitions").foreach { op =>
      assert(!plan.contains(op), s"unexpected $op in:\n$plan")
    }
  }

  test("a file read in several splits loses exactly its header") {
    val dir = tmpDir()
    val data = (1 to 3000).map(i => s"r$i;$i;$i.5")
    write(dir, "big.csv", "NAME;N;X" +: data)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "8k")
    try {
      val df = CsvIngest.read(spark, dir.resolve("big.csv").toString, schema)
      assert(df.rdd.getNumPartitions >= 3)
      val names = df.collect().map(_.getString(0))
      assert(names.length == data.length)
      assert(names.toSet == data.map(_.takeWhile(_ != ';')).toSet)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("blank lines before the header do not shift the header skip") {
    val dir = tmpDir()
    write(dir, "b.csv", Seq("", "", "NAME;N;X", "a;1;1.0", "", "b;2;2.0"))
    val out = CsvIngest.read(spark, dir.resolve("b.csv").toString, schema)
      .orderBy("NAME").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("a header-only file gives 0 rows") {
    val dir = tmpDir()
    write(dir, "h.csv", Seq("NAME;N;X"))
    assert(CsvIngest.read(spark, dir.resolve("h.csv").toString, schema).count() == 0)
  }

  test("writeFixed emits the repaired FIXED_ artifact (S9) and round-trips") {
    val dir = tmpDir()
    write(dir, "cars_f.csv", Seq(
      "NAME;N;X",
      "plain;1;1.5",
      "esc\\;aped;2;2.5",   // escaped ; must survive re-serialization
      "short;3",            // dropped
      "bad;two;x"))         // repaired to NULLs → empty cells
    val dest = CsvIngest.writeFixed(spark, dir.resolve("cars_f.csv").toString,
      schema, outDir = dir.toString)
    assert(dest.getName == "FIXED_cars_f.csv")
    val lines = new String(
      Files.readAllBytes(dir.resolve("FIXED_cars_f.csv")), "ISO-8859-1")
      .split("\n").filter(_.nonEmpty).toSeq
    assert(lines.sorted == Seq("bad;;", "esc\\;aped;2;2.5", "plain;1;1.5"))
    // round-trip: reading the artifact back yields the same repaired rows
    val back = CsvIngest.read(spark,
      dir.resolve("FIXED_cars_f.csv").toString, schema,
      CsvIngest.Options(skipHeaders = false)).orderBy("NAME").collect()
    assert(back.length == 3)
    assert(back.map(_.getString(0)).toSeq == Seq("bad", "esc;aped", "plain"))
    assert(back(0).isNullAt(1) && back(1).getLong(1) == 2L)
    // .gz source names the artifact without the .gz suffix (main.py:90)
    val gz = new GZIPOutputStream(Files.newOutputStream(dir.resolve("g.csv.gz")))
    gz.write("NAME;N;X\ngz;9;9.5\n".getBytes("ISO-8859-1")); gz.close()
    val dest2 = CsvIngest.writeFixed(spark, dir.resolve("g.csv.gz").toString,
      schema, outDir = dir.toString)
    assert(dest2.getName == "FIXED_g.csv")
  }

  test("ISO-8859-1 bytes survive the read") {
    val dir = tmpDir()
    write(dir, "e.csv", Seq("NAME;N;X", "café;1;1.0")) // é in latin-1
    val out = CsvIngest.read(spark, dir.resolve("e.csv").toString, schema).collect()
    assert(out(0).getString(0) == "café")
  }
}
