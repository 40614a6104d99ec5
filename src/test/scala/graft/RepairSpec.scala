package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.Repair

/** F1–F4 coercion fidelity (SURVEY §5.1/§5.2): the repair transforms
  * must reproduce the reference's Python null-on-failure semantics
  * (`functions/load_csv/main.py:109-131`). */
class RepairSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def longOf(s: String): Option[Long] =
    Seq(s).toDF("c").select(Repair.lenientLong(col("c"))).as[Option[Long]].head()

  private def doubleOf(s: String): Option[Double] =
    Seq(s).toDF("c").select(Repair.lenientDouble(col("c"))).as[Option[Double]].head()

  private def tsOf(s: String): Option[String] =
    Seq(s).toDF("c").select(Repair.canonicalTimestampString(col("c")))
      .as[Option[String]].head()

  test("lenient int: python int() semantics (main.py:111-115)") {
    assert(longOf("42").contains(42L))
    assert(longOf(" 42 ").contains(42L))   // int(" 42 ") succeeds
    assert(longOf("-7").contains(-7L))
    assert(longOf("12.5").isEmpty)         // int("12.5") raises → NULL
    assert(longOf("eight").isEmpty)
    assert(longOf("").isEmpty)
  }

  test("lenient float: python float() semantics (main.py:116-120)") {
    assert(doubleOf("12.5").contains(12.5))
    assert(doubleOf("1e3").contains(1000.0))
    assert(doubleOf("-0.25").contains(-0.25))
    assert(doubleOf("n/a").isEmpty)
    assert(doubleOf("").isEmpty)
  }

  test("timestamp formats in declared order (main.py:30-35,121-130)") {
    assert(tsOf("2021-06-12 08:30:00").contains("2021-06-12 08:30:00"))
    assert(tsOf("2021-06-12").contains("2021-06-12 00:00:00"))
    assert(tsOf("12/06/2021").contains("2021-06-12 00:00:00")) // dd/MM/yyyy
    assert(tsOf("20210612").contains("2021-06-12 00:00:00"))   // yyyyMMdd
    assert(tsOf("not-a-date").isEmpty)
    // order sensitivity: 8-digit strings must be yyyyMMdd (format 4),
    // not misread by any earlier format
    assert(tsOf("19991231").contains("1999-12-31 00:00:00"))
  }

  test("native multi-format parse equals the try_to_timestamp coalesce chain") {
    // the pre-native formulation, kept verbatim as the semantics oracle
    def chain(c: org.apache.spark.sql.Column) =
      coalesce(Repair.TimestampFormats.map(f => try_to_timestamp(c, lit(f))): _*)
    val adversarial = Seq(
      "2021-06-12 08:30:00", "2021-06-12", "12/06/2021", "20210612",
      "19991231", "2021-6-2", "2021-06-12 8:30:00", "2021-06-12T08:30:00",
      "12/6/2021", "1/1/1", "00000000", "99999999", "20211301", "20210230",
      "2021-13-01", "31/02/2021", "2021/06/12", "12-06-2021",
      " 2021-06-12", "2021-06-12 ", "", " ", "-", "/", ":", "abc",
      "2021-06-12 08:30", "202106", "2021061", "202106123",
      "+2021-06-12", "2021-06-12 08:30:00.5", "12345678")
    val gen = Gen.oneOf(Gen.numStr.map(_.take(10)),
      Gen.asciiPrintableStr.map(_.take(19)))
    val fuzz = Gen.listOfN(300, gen).sample.get
    val df = (adversarial ++ fuzz).distinct.toDF("c")
      .select(col("c"), Repair.lenientTimestamp(col("c")).as("native"),
        chain(col("c")).as("chain"))
    val bad = df.filter(col("native") =!= col("chain") ||
      (col("native").isNull =!= col("chain").isNull)).collect()
    assert(bad.isEmpty,
      s"native != chain on: ${bad.take(5).map(_.getString(0)).mkString("['", "', '", "']")}")
  }

  test("coercion is total: never throws, null iff unparseable (property)") {
    val gen = Gen.oneOf(
      Gen.numStr.map(_.take(15)), Gen.alphaStr.map(_.take(10)),
      Gen.asciiPrintableStr.map(_.take(12)))
    val samples = Gen.listOfN(300, gen).sample.get.distinct
    val df = samples.toDF("c")
      .select(col("c"), Repair.lenientLong(col("c")).as("l"),
        Repair.lenientDouble(col("c")).as("d"))
    // must evaluate without exception
    val rows = df.collect()
    assert(rows.length == samples.length)
    // parseable longs round-trip
    rows.foreach { r =>
      val s = r.getString(0)
      if (s.matches("""\s*[+-]?\d{1,15}\s*"""))
        assert(!r.isNullAt(1), s"expected parse for '$s'")
    }
  }

  test("arity filter drops rows with wrong field count (main.py:101-103)") {
    val df = Seq("a;b;c", "a;b", "a;b;c;d", "x\\;y;b;c").toDF("value")
    val kept = df.filter(Repair.arityFilter(col("value"), ";", 3))
      .as[String].collect().toSet
    // the escaped `\;` does not count as a delimiter
    assert(kept == Set("a;b;c", "x\\;y;b;c"))
  }

  test("native split and count equal the lookbehind-regex split (property)") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => native, expression}
    import org.scalacheck.rng.Seed
    import java.util.regex.Pattern.quote
    // the pre-native formulation, kept verbatim as the semantics oracle
    def regexParts(line: Column, sep: String) = split(line, "(?<!\\\\)" + quote(sep))
    def regexCells(line: Column, sep: String) =
      transform(regexParts(line, sep), c => regexp_replace(c, quote("\\" + sep), sep))
    Seq(";", "|", "||", ".").zipWithIndex.foreach { case (sep, k) =>
      val atom = Gen.frequency(
        4 -> Gen.alphaNumStr.map(_.take(4)),
        2 -> Gen.oneOf("é", "ü", "ß", "ñ", "Ø", "ÿ"),
        4 -> Gen.const(sep),
        2 -> Gen.const("\\" + sep),
        1 -> Gen.const("\\\\" + sep),
        2 -> Gen.const("\\"),
        2 -> Gen.oneOf(";", "|", ".", " ", sep.take(1)))
      val line = Gen.choose(0, 12).flatMap(Gen.listOfN(_, atom)).map(_.mkString)
      val edges = Seq("", sep, sep * 3, "a" + sep, sep + "a", "a" + sep + sep + "b",
        "a\\" + sep + "b", "a\\\\" + sep + "b", "a" + sep + "b\\", "\\",
        "\\" + sep, "café" + sep + "über" + sep + "ñ")
      val fuzz = Gen.listOfN(400, line).apply(Gen.Parameters.default, Seed(k + 1L)).get
      val lines = (edges ++ fuzz).distinct
      val rows = lines.toDF("l").select(col("l"),
        size(regexParts(col("l"), sep)).as("rc"),
        native(graft.plans.CountEscapedExpr(expression(col("l")), sep)).as("nc"),
        regexCells(col("l"), sep).as("rs"),
        native(graft.plans.SplitEscapedExpr(expression(col("l")), sep)).as("ns"))
        .collect()
      assert(rows.length == lines.length)
      val bad = rows.filter(r => r.getInt(1) != r.getInt(2) ||
        r.getSeq[String](3) != r.getSeq[String](4))
      assert(bad.isEmpty, s"sep '$sep': native != regex on " +
        bad.take(3).map(r => s"'${r.getString(0)}': ${r.getSeq[String](3)} vs " +
          s"${r.getSeq[String](4)}").mkString("; "))
    }
  }

  test("an empty separator is rejected") {
    intercept[IllegalArgumentException](Repair.arityFilter(col("value"), "", 3))
  }

  test("repair coerces by schema type, preserves strings") {
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("n", LongType),
      StructField("x", DoubleType), StructField("ts", TimestampType)))
    val df = Seq(("ok", "5", "2.5", "20210612"), ("bad", "five", "pi", "noon"))
      .toDF("name", "n", "x", "ts")
    val out = Repair.repair(df, schema).collect()
    assert(out(0).getString(0) == "ok" && out(0).getLong(1) == 5L &&
      out(0).getDouble(2) == 2.5 && !out(0).isNullAt(3))
    assert(out(1).getString(0) == "bad" && out(1).isNullAt(1) &&
      out(1).isNullAt(2) && out(1).isNullAt(3))
  }
}
