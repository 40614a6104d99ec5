package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.operators.Repair
import graft.sources.{CsvIngest, FilePick, SchemaIO, SqlSource, TableSink}
import graft.workflow.{Etl, LoadCsvConfig, LoadQueryConfig}

/** The reference's daily job, two "days" per pass: a plain one, then
  * a gzip one.
  *
  * Each day lands a directory of month-named `;`-delimited ISO-8859-1
  * lineitem files (older months plus the day's own, newest, file) and a
  * `.sql` aggregate over the day's table joined to `orders`. The day
  * runs `Etl.loadCsv` (pick newest, repair, overwrite the month table,
  * archive) and then `Etl.loadQuery` (append to `daily_status`).
  *
  * The generator plants four fault classes at known rates, one fault at
  * most per row: wrong arity, a bad INTEGER cell, a bad FLOAT cell, a
  * bad TIMESTAMP cell. Every day must reconcile exactly: rows in =
  * loaded + rejected for arity, nulls per coercion class = planted, and
  * the appended aggregate = the one computed from the generated rows.
  */
final class EtlDaily(rowsPerDay: Int) extends Workload {
  import EtlDaily._

  val name = "etl_daily"

  /** One rendered day file and what the checks expect of it. */
  final case class DayInput(file: Path, gz: Boolean, lines: Long, planted: Map[String, Long],
                            status: Map[String, (Long, Long, Long)])
  /** One day run: global index, the input it used, its landing dir. */
  final case class DayRun(g: Int, opId: String, in: DayInput, landing: Path, timed: Boolean)

  private var inputs: IndexedSeq[DayInput] = IndexedSeq.empty
  private var old: Path = _
  private var schemas: Path = _
  private var queries: Path = _
  private var nextDay = 0
  private val runs = mutable.ArrayBuffer.empty[DayRun]
  private val checked = mutable.Set.empty[Int]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def inputNote(ctx: Ctx): String = {
    val mb = inputs.map(d => Files.size(d.file)).sum / 1e6
    f"${inputs.size} days x $rowsPerDay lineitem rows per pass (${inputs.count(_.gz)} gzip), " +
      f"$mb%.1f MB of CSV per pass; no caching"
  }

  def stage(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.dataRoot}/sf0.1"
    val root = ctx.work
    schemas = Files.createDirectories(root.resolve("schemas"))
    queries = Files.createDirectories(root.resolve("queries"))
    Files.writeString(schemas.resolve("lineitem.yaml"), SchemaYaml)
    spark.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("orders")
    val (rows, status) = readSource(ctx, dir)
    val render = Files.createDirectories(root.resolve("render"))
    inputs = Seq(false, true).zipWithIndex.map { case (gz, d) =>
      val slice = Array.tabulate(rowsPerDay)(i => rows((d * rowsPerDay + i) % rows.length))
      renderDay(render.resolve(s"day$d.csv" + (if (gz) ".gz" else "")), gz, slice,
        status, new scala.util.Random(ctx.rng.nextLong()))
    }.toIndexedSeq
    old = render.resolve("old.csv")
    renderDay(old, gz = false, rows.take(50), status, new scala.util.Random(0))
  }

  /** The lineitem slice the days render, and order key -> status.
    * The day files cycle through it, so set-up collects only
    * `SourceRows` rows from parquet. */
  private def readSource(ctx: Ctx, dir: String): (Array[Row], Map[Long, String]) = {
    val spark = ctx.spark
    val li = spark.read.parquet(s"$dir/lineitem.parquet").select(SourceCols.map(col): _*)
    val maxKey = li.agg(org.apache.spark.sql.functions.max("l_orderkey")).head().getLong(0)
    // about four lines per order: start early enough to fill the slice
    val from = ctx.rng.nextInt(math.max(1, (maxKey - SourceRows / 3).toInt))
    val rows = li.where(col("l_orderkey") >= from).limit(SourceRows).collect()
    require(rows.length == SourceRows, s"source slice too short: ${rows.length}")
    val keys = rows.map(_.getLong(0))
    val status = spark.read.parquet(s"$dir/orders.parquet")
      .where(col("o_orderkey").between(keys.min, keys.max))
      .select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (rows, status)
  }

  private def renderDay(path: Path, gz: Boolean, rows: Array[Row], status: Map[Long, String],
                        rng: scala.util.Random): DayInput = {
    val os0 = Files.newOutputStream(path)
    val os = if (gz) new GZIPOutputStream(os0, 1 << 16) else os0
    val w = new BufferedWriter(new OutputStreamWriter(os, ISO_8859_1), 1 << 16)
    val planted = mutable.Map("arity" -> 0L, "int" -> 0L, "float" -> 0L, "ts" -> 0L)
    val agg = mutable.Map.empty[String, (Long, Long, Long)]
    w.write(Header); w.write('\n')
    rows.foreach { r =>
      val cells = cellsOf(r, rng)
      val u = rng.nextDouble()
      val fault =
        if (u < ArityRate) "arity" else if (u < ArityRate + IntRate) "int"
        else if (u < ArityRate + IntRate + FloatRate) "float"
        else if (u < ArityRate + IntRate + FloatRate + TsRate) "ts" else ""
      var qtyOk = true; var lineOk = true
      fault match {
        case "arity" =>
          if (rng.nextBoolean()) cells.remove(cells.size - 1) else cells += "extra"
        case "int" =>
          val c = IntCols(rng.nextInt(IntCols.size)); if (c == 3) lineOk = false
          cells(c) = BadInts(rng.nextInt(BadInts.size))
        case "float" =>
          val c = FloatCols(rng.nextInt(FloatCols.size)); if (c == 4) qtyOk = false
          cells(c) = BadFloats(rng.nextInt(BadFloats.size))
        case "ts" =>
          cells(TsCols(rng.nextInt(TsCols.size))) = BadTs(rng.nextInt(BadTs.size))
        case _ =>
      }
      if (fault.nonEmpty) planted(fault) += 1
      if (fault != "arity") {
        val s = status(r.getLong(0))
        val (n, q, l) = agg.getOrElse(s, (0L, 0L, 0L))
        agg(s) = (n + 1, q + (if (qtyOk) 1 else 0), l + (if (lineOk) r.getInt(3) else 0))
      }
      w.write(cells.mkString(";")); w.write('\n')
    }
    w.close()
    DayInput(path, gz, rows.length.toLong, planted.toMap, agg.toMap)
  }

  private def cellsOf(r: Row, rng: scala.util.Random): mutable.ArrayBuffer[String] = {
    val ship = r.get(10) match {
      case t: java.sql.Timestamp => t.toLocalDateTime
      case t: java.time.LocalDateTime => t
    }
    val receipt = ship.plusDays(1 + (r.getLong(0) % 30))
    mutable.ArrayBuffer(
      r.getLong(0).toString, r.getLong(1).toString, r.getLong(2).toString,
      r.getInt(3).toString, r.getDouble(4).toString, r.getDouble(5).toString,
      r.getDouble(6).toString, r.getDouble(7).toString, r.getString(8), r.getString(9),
      ship.format(TsFormats(rng.nextInt(TsFormats.size))),
      receipt.format(TsFormats(rng.nextInt(TsFormats.size))),
      Words(rng.nextInt(Words.size)) + " " + Words(rng.nextInt(Words.size)))
  }

  def pass(ctx: Ctx, p: Int): Seq[Op] = inputs.indices.map { d =>
    val g = nextDay; nextDay += 1
    val in = inputs(d)
    val landing = Files.createDirectories(ctx.work.resolve(s"landing/day$g"))
    link(old, landing.resolve(s"lineitem_${month(g)}.csv"))
    link(old, landing.resolve(s"lineitem_${month(g + 1)}.csv"))
    link(in.file, landing.resolve(s"lineitem_${month(g + 2)}.csv" + (if (in.gz) ".gz" else "")))
    Files.writeString(queries.resolve(s"day$g.sql"), querySql(g))
    val run = DayRun(g, s"p$p.day$g", in, landing, p >= 0)
    runs += run
    Op(run.opId, if (in.gz) "day_gz" else "day_plain", () => runDay(ctx, run))
  }

  private def link(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch { case _: UnsupportedOperationException | _: java.io.IOException => Files.copy(src, dst) }

  private def runDay(ctx: Ctx, run: DayRun): Unit = {
    val spark = ctx.spark
    ctx.ledger.span("workflow.load_csv") {
      Etl.loadCsv(spark, LoadCsvConfig(run.landing.toString, "lineitem_", "lineitem.yaml",
        "lineitem_{9:15}", schemas.toString))
    }
    ctx.ledger.span("workflow.load_query") {
      Etl.loadQuery(spark, LoadQueryConfig(queries.toString, s"day${run.g}.sql",
        "daily_status", append = true))
    }
  }

  /** Reconciles every day run since the last call (this session's). */
  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val todo = runs.filterNot(r => checked(r.g))
    if (todo.isEmpty) return
    val byDay = spark.table("daily_status").collect()
      .groupBy(_.getAs[String]("day"))
      .map { case (k, rs) => k -> rs.map(r => r.getAs[String]("status") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_qty"),
          Option(r.getAs[java.lang.Long]("sum_linenumber")).map(_.longValue).getOrElse(0L)))).toMap }
    todo.foreach { run =>
      checked += run.g
      val table = s"lineitem_${month(run.g + 2)}"
      val nulls = IntCols.map(c => s"count_if(${Fields(c)._1} IS NULL)").mkString(" + ")
      val fl = FloatCols.map(c => s"count_if(${Fields(c)._1} IS NULL)").mkString(" + ")
      val ts = TsCols.map(c => s"count_if(${Fields(c)._1} IS NULL)").mkString(" + ")
      val r = spark.sql(s"SELECT count(*), $nulls, $fl, $ts FROM $table").head()
      val loaded = r.getLong(0)
      val in = run.in
      val archived = Option(run.landing.resolve("ARCHIVED").toFile.list()).map(_.length).getOrElse(0)
      val left = Option(run.landing.toFile.list()).map(_.count(_.startsWith("lineitem_"))).getOrElse(-1)
      val problems = Seq(
        "arity" -> (in.lines == loaded + in.planted("arity")),
        "int" -> (r.getLong(1) == in.planted("int")),
        "float" -> (r.getLong(2) == in.planted("float")),
        "ts" -> (r.getLong(3) == in.planted("ts")),
        "archive" -> (archived == 3 && left == 0),
        "query" -> byDay.get(s"day${run.g}").contains(in.status)
      ).collect { case (k, false) => k }
      if (problems.nonEmpty) {
        ctx.failedOps += run.opId
        System.err.println(s"[perfbench] day${run.g} reconciliation failed: ${problems.mkString(",")} " +
          s"(lines ${in.lines}, loaded $loaded, planted ${in.planted}, nulls ${r.getLong(1)}/${r.getLong(2)}/${r.getLong(3)})")
      }
      if (run.timed) {
        val stored = Files.walk(ctx.work.resolve("warehouse").resolve(table))
          .iterator().asScala.filter(Files.isRegularFile(_))
          .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
        counts("repair.rows_in") += in.lines
        counts("repair.rows_kept") += loaded
        counts("repair.rejected.arity") += in.lines - loaded
        counts("repair.nulled.int") += r.getLong(1)
        counts("repair.nulled.float") += r.getLong(2)
        counts("repair.nulled.ts") += r.getLong(3)
        counts("sources.files_archived") += archived
        counts("stored_bytes") += stored
        counts("csv_bytes") += Files.size(in.file)
      }
    }
  }

  override def rowsIngested: Option[Long] = Some(runs.filter(_.timed).map(_.in.lines).sum)

  override def layerCounters(passes: Int): Map[String, Double] = {
    val per = counts.toMap.map { case (k, v) => k -> v / passes }
    (per - "stored_bytes" - "csv_bytes") ++ Map(
      "repair.kept_ratio" -> counts("repair.rows_kept") / counts("repair.rows_in"),
      "sources.stored_bytes_per_input_byte" -> counts("stored_bytes") / counts("csv_bytes"))
  }

  override def probes(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val in = inputs.find(!_.gz).get
    val gzIn = inputs.find(_.gz).get
    val schemaPath = schemas.resolve("lineitem.yaml")
    val schema = SchemaIO.parseFile(schemaPath)
    def stageProbe(day: DayInput): Path = {
      val g = nextDay; nextDay += 1
      val landing = Files.createDirectories(ctx.work.resolve(s"landing/probe$g"))
      link(old, landing.resolve(s"lineitem_${month(g)}.csv"))
      link(old, landing.resolve(s"lineitem_${month(g + 1)}.csv"))
      link(day.file, landing.resolve(s"lineitem_${month(g + 2)}.csv" + (if (day.gz) ".gz" else "")))
      landing
    }
    val landings = (0 until 3).map(_ => stageProbe(in))
    probe(ctx, "sources.pick")(FilePick.mostRecentCsv(spark, landings.head.toString, "lineitem_"))
    probe(ctx, "sources.schema")(SchemaIO.parseFile(schemaPath))
    // a plain day is read in several splits, a gzip day in one task
    Seq("sources.load" -> landings.head, "sources.load_gz" -> stageProbe(gzIn)).foreach {
      case (name, landing) =>
        val pick = FilePick.mostRecentCsv(spark, landing.toString, "lineitem_").toString
        probe(ctx, name)(
          TableSink.save(CsvIngest.read(spark, pick, schema), "probe_load", append = false))
        ctx.probes(name + "_tasks") = ctx.ledger.opCountersOf("probe." + name).tasks / 3.0
    }
    val it = landings.iterator
    probe(ctx, "sources.archive")(FilePick.archive(spark, it.next().toString, "lineitem_"))
    probe(ctx, "sources.sql_read")(SqlSource.readQuery(spark, queries.toString, "day0.sql"))
    val raw = spark.read.text(in.file.toString).cache()
    raw.count()
    val split = Repair.splitLine(
      raw.filter(Repair.arityFilter(col("value"), ";", schema.fields.length)), "value", ";", schema)
    probe(ctx, "repair.split")(noop(split))
    val cells = split.cache()
    cells.count()
    probe(ctx, "repair.coerce")(noop(Repair.repair(cells, schema)))
    probe(ctx, "plans.ts_parse")(
      noop(cells.select(TsCols.map(c => Repair.lenientTimestamp(col(Fields(c)._1))): _*)))
    cells.unpersist(blocking = true)
    raw.unpersist(blocking = true)
  }
}

object EtlDaily {
  val Fields: Seq[(String, String)] = Seq(
    "l_orderkey" -> "INTEGER", "l_partkey" -> "INTEGER", "l_suppkey" -> "INTEGER",
    "l_linenumber" -> "INTEGER", "l_quantity" -> "FLOAT", "l_extendedprice" -> "FLOAT",
    "l_discount" -> "FLOAT", "l_tax" -> "FLOAT", "l_returnflag" -> "STRING",
    "l_linestatus" -> "STRING", "l_shipdate" -> "TIMESTAMP", "l_receiptdate" -> "TIMESTAMP",
    "l_comment" -> "STRING")
  val SourceCols: Seq[String] = Fields.map(_._1).take(11)
  val SourceRows = 30000
  val IntCols = Seq(1, 2, 3)
  val FloatCols = Seq(4, 5, 6, 7)
  val TsCols = Seq(10, 11)
  val ArityRate = 0.02
  val IntRate = 0.02
  val FloatRate = 0.02
  val TsRate = 0.02
  val BadInts = Seq("12.5", "1x2", "", "n/a")
  val BadFloats = Seq("n/a", "1,5", "", "abc")
  val BadTs = Seq("2024-13-45", "not-a-date", "31/31/2020", "")
  val TsFormats: Seq[java.time.format.DateTimeFormatter] =
    Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "dd/MM/yyyy", "yyyyMMdd")
      .map(java.time.format.DateTimeFormatter.ofPattern)
  // Latin-1 text and an escaped separator ride along in the comments
  val Words = Seq("quick", "café", "naïve", "crème", "deposits", "a\\;b", "slyly", "furious")
  val Header: String = Fields.map(_._1).mkString(";")

  val SchemaYaml: String = Fields.map { case (n, t) =>
    s"  - name: $n\n    type: $t\n    mode: NULLABLE\n"
  }.mkString("fields:\n", "", "")

  /** Month tag of global day `g` (distinct per day, so tables never clash). */
  def month(g: Int): String = f"${2000 + g / 12}%04d${g % 12 + 1}%02d"

  def querySql(g: Int): String =
    s"""SELECT 'day$g' AS day, o.o_orderstatus AS status, COUNT(*) AS n_lines,
       |  COUNT(l.l_quantity) AS n_qty, SUM(l.l_linenumber) AS sum_linenumber
       |FROM lineitem_${month(g + 2)} l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |GROUP BY o.o_orderstatus""".stripMargin
}
