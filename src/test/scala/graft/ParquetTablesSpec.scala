package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Q
import graft.sources.ParquetTables

/** [[ParquetTables]]: a memoized schema gives the same table as Spark's
  * own inference, costs no job, and is inferred again when the files or
  * the settings that shape inference change. */
class ParquetTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftbridge.ListenerBridge.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every sf0.001 table reads with the schema and rows of a plain read") {
    tables.foreach { n =>
      Q.t(spark, sf, n) // the first read may infer; the second is a hit
      val got = Q.t(spark, sf, n)
      val want = spark.read.parquet(s"$sf/$n.parquet")
      assert(got.schema == want.schema, n)
      assert(got.collect().toSeq == want.collect().toSeq, n)
    }
  }

  test("a second read of an unchanged table starts no job and binds fresh attributes") {
    val first = Q.t(spark, sf, "orders")
    assert(jobsDuring(spark.read.parquet(s"$sf/orders.parquet").schema) > 0,
      "a plain read infers the schema with a job")
    var second: DataFrame = null
    assert(jobsDuring { second = Q.t(spark, sf, "orders"); second.schema } == 0)
    val ids = (d: DataFrame) => d.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(first).intersect(ids(second)).isEmpty)
    assert(first.join(second, first("o_orderkey") === second("o_orderkey")).count() ==
      first.count())
  }

  test("overwriting a table's files with another schema infers it again") {
    val dir = TestSpark.scratchDir("pt_over")
    val table = s"$dir/t.parquet"
    import spark.implicits._
    Seq(1, 2).toDF("a").write.mode("overwrite").parquet(table)
    assert(ParquetTables.read(spark, table).columns.toSeq == Seq("a"))
    Seq("x").toDF("b").write.mode("overwrite").parquet(table)
    val b = ParquetTables.read(spark, table)
    assert(b.columns.toSeq == Seq("b") && b.collect().toSeq == Seq(Row("x")))

    // a single-file table replaced in place under the same name
    val file = Paths.get(dir, "one.parquet")
    Files.copy(Paths.get(sf, "nation.parquet"), file)
    assert(ParquetTables.read(spark, file.toString).columns.contains("n_nationkey"))
    Files.copy(Paths.get(sf, "region.parquet"), file, StandardCopyOption.REPLACE_EXISTING)
    assert(ParquetTables.read(spark, file.toString).schema ==
      spark.read.parquet(file.toString).schema)
    assert(!ParquetTables.read(spark, file.toString).columns.contains("n_nationkey"))
  }

  /** A one-row parquet file written by parquet's example writer: no
    * Spark schema in its footer, so inference converts the parquet
    * types under the session settings (and Spark cannot write
    * TIMESTAMP(NANOS) itself). */
  private def writeOneRow(path: String, message: String)(
      fill: org.apache.parquet.example.data.Group => Unit): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      fill(g)
      w.write(g)
    } finally w.close()
  }

  test("flipping binaryAsString or nanosAsLong between reads infers again") {
    val dir = TestSpark.scratchDir("pt_conf")
    val bin = s"$dir/bin.parquet"
    writeOneRow(bin, "message m { required binary v; }")(_.append("v", "ab"))
    val binType = () => ParquetTables.read(spark, bin).schema("v").dataType
    withConf("spark.sql.parquet.binaryAsString", "false") {
      assert(binType() == BinaryType)
      withConf("spark.sql.parquet.binaryAsString", "true")(assert(binType() == StringType))
      assert(binType() == BinaryType)
    }

    val nanos = s"$dir/nanos.parquet"
    writeOneRow(nanos, "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")(
      _.append("ts", 1500000000123456789L))
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      val t = ParquetTables.read(spark, nanos)
      assert(t.schema("ts").dataType == LongType)
      assert(t.collect().toSeq == Seq(Row(1500000000123456789L)))
      withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
        val plain = intercept[AnalysisException](spark.read.parquet(nanos))
        val memo = intercept[AnalysisException](ParquetTables.read(spark, nanos))
        assert(memo.getMessage == plain.getMessage)
      }
      assert(ParquetTables.read(spark, nanos).schema("ts").dataType == LongType)
    }
  }

  test("a missing path fails as spark.read.parquet does") {
    val missing = s"${TestSpark.scratchDir("pt_missing")}/nope.parquet"
    val plain = intercept[AnalysisException](spark.read.parquet(missing))
    val memo = intercept[AnalysisException](ParquetTables.read(spark, missing))
    assert(memo.getCondition == plain.getCondition)
    assert(memo.getMessage == plain.getMessage)
  }
}
