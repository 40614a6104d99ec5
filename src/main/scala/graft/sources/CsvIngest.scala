package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Repair

/** File-selection + CSV ingestion (SURVEY §2.1 S1–S4, S9, S10).
  *
  * The reference lists bucket blobs by prefix and picks the
  * lexicographically greatest name — ≈ most recent when names embed
  * `YYYYMM` (`functions/load_csv/main.py:66-86`, README.md:22-23) —
  * erroring when nothing matches (:75-77) or when the pick isn't
  * `.csv`/`.csv.gz` (:79-81). Consumed files move under `ARCHIVED/`
  * (`clean_bucket`, `main.py:182-190`).
  *
  * All of this is driver-side control flow (one filename decision per
  * run), NOT a distributed operator — so it stays driver-side Scala on
  * the Hadoop FileSystem API, exactly as cheap at 100 TB as at 18 KB.
  */
object FilePick {
  import graft.workflow.EtlError._

  /** Lexicographic max of names under `dir` starting with `prefix`
    * (reference running-max loop `main.py:69-73`, no sort of the
    * listing). Throws CsvNotFound / CsvInvalid per the reference
    * taxonomy. */
  def mostRecentCsv(spark: SparkSession, dir: String, prefix: String): Path = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = matching(fs, p, prefix).map(_.getPath)
    if (names.isEmpty) throw CsvNotFound()
    val pick = names.maxBy(_.getName)
    if (!pick.getName.endsWith(".csv") && !pick.getName.endsWith(".csv.gz"))
      throw CsvInvalid()
    pick
  }

  /** Post-load archive: rename consumed blobs under `ARCHIVED/`
    * (`clean_bucket`, `main.py:182-190`; prefix constant `:25`). */
  def archive(spark: SparkSession, dir: String, prefix: String): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val archived = new Path(base, "ARCHIVED")
    if (!fs.exists(archived)) fs.mkdirs(archived)
    matching(fs, base, prefix).foreach { st =>
      fs.rename(st.getPath, new Path(archived, st.getPath.getName))
    }
  }

  /** Files directly under `dir` whose name starts with `prefix`, taken
    * literally: the reference lists blobs by prefix, so `?`, `*`, `[`,
    * `{` or `\` in a prefix are plain characters, not glob syntax. */
  private def matching(fs: FileSystem, dir: Path, prefix: String): Array[FileStatus] =
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
}

/** Destination-name templating (SURVEY §2.3 T1): expand `{a:b}` in a
  * destination table name with `csvName[a:b]` — Python slice semantics,
  * `a` inclusive / `b` exclusive (reference regex
  * `functions/load_csv/main.py:26`, expansion `:45-47`; example
  * README.md:32: `super-table-{12:16}` + `MON_FICHIER_20210612.csv` →
  * `super-table-2021`).
  */
object NameTemplate {
  private val Slice = raw"\{(\d+):(\d+)\}".r

  def expand(template: String, csvName: String): String =
    Slice.replaceAllIn(template, m => {
      val a = m.group(1).toInt
      val b = m.group(2).toInt
      // Python slice: clamp, empty when a >= b
      val hi = math.min(b, csvName.length)
      val lo = math.min(a, csvName.length)
      if (lo >= hi) "" else csvName.substring(lo, hi)
    })
}

/** CSV scan with the reference's exact wire format (SURVEY §2.1 S3/S4):
  * `;` delimiter, QUOTE_NONE, escapechar `\`, ISO-8859-1, optional gzip
  * by extension (`functions/load_csv/main.py:23,92-93`), header skipped
  * by default (`:95-96`, default `:40,202`).
  */
object CsvIngest {
  final case class Options(sep: String = ";", skipHeaders: Boolean = true)

  /** Strict reference-faithful read: raw Latin-1 lines → header skip →
    * arity filter (F1, drops malformed rows exactly like
    * `main.py:101-103`) → byte-scan split with escape handling → lenient
    * typed repair (F2–F4). Entirely lazy; scan → filter → project is one
    * codegen'd pass at action time, with no shuffle and no object round
    * trip.
    *
    * The lines come from `LineSource`, which cuts each file into about
    * one chunk per core: byte ranges of a plain file, decompressed
    * ranges of a gzip file (each task decompresses from the start and
    * skips to its range). The chunk that starts a file drops its first
    * non-blank line when `skipHeaders` is set, so every file loses
    * exactly its header however it is cut; blank lines are dropped
    * everywhere. Rows keep file order.
    */
  def read(spark: SparkSession, path: String, schema: StructType,
           opts: Options = Options()): DataFrame = {
    val lines = LineSource.read(spark, path, opts.skipHeaders)
    val kept = lines.filter(
      Repair.arityFilter(col("value"), opts.sep, schema.fields.length))
    Repair.repair(Repair.splitLine(kept, "value", opts.sep, schema), schema)
  }

  /** S9 fidelity path (`functions/load_csv/main.py:90,134-137`): write
    * the repaired rows back as a `FIXED_<name>` CSV artifact next to
    * the destination — same wire format as the read side (`;`,
    * QUOTE_NONE analog, escapechar `\`, ISO-8859-1, no header), nulls
    * as empty cells, timestamps normalized to `yyyy-MM-dd HH:mm:ss`
    * (the reference's strftime at `main.py:125`). The reference
    * produces ONE blob per run (it loads exactly one file), so the
    * single-file coalesce is the artifact contract, not a scale
    * pattern — the distributed load path stays lazy and partitioned.
    * Returns the artifact path.
    */
  def writeFixed(spark: SparkSession, csvPath: String, schema: StructType,
                 opts: Options = Options(), outDir: String): Path = {
    val srcName = new Path(csvPath).getName
    val fixedName = "FIXED_" + srcName.replace(".gz", "")
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(out, s".__fixed_tmp_$fixedName")
    // QUOTE_NONE + escapechar is inexpressible by the csv WRITER
    // (univocity quotes instead of escaping), so serialize each line
    // manually: escape backslash then the separator, nulls -> empty
    // cells (coalesce BEFORE concat_ws, which would skip nulls) - and
    // ship whole lines through a NUL-separated single-column csv write
    // (the text writer is UTF-8-only).
    val cells = schema.fields.map { f =>
      val base = f.dataType match {
        case TimestampType => date_format(col(f.name), "yyyy-MM-dd HH:mm:ss")
        case _ => col(f.name).cast("string")
      }
      coalesce(
        replace(replace(base, lit("\\"), lit("\\\\")),
          lit(opts.sep), lit("\\" + opts.sep)),
        lit(""))
    }
    read(spark, csvPath, schema, opts)
      .select(concat_ws(opts.sep, cells: _*).as("value"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("sep", "\u0000")
      .option("quote", "")
      .option("encoding", "ISO-8859-1")
      .option("header", "false")
      .csv(tmp.toString)
    val part = fs.globStatus(new Path(tmp, "part-*"))(0).getPath
    val dest = new Path(out, fixedName)
    if (fs.exists(dest)) fs.delete(dest, false)
    fs.rename(part, dest)
    fs.delete(tmp, true)
    dest
  }
}

/** SQL-file source (SURVEY §2.1 S6): fetch a `.sql` blob and hand its
  * text to the engine (`functions/load_query/main.py:25-39`, extension
  * check `:33-35,43-45`).
  */
object SqlSource {
  import graft.workflow.EtlError._

  def readQuery(spark: SparkSession, dir: String, name: String): String = {
    if (!name.endsWith(".sql")) throw QueryInvalid()
    val p = new Path(new Path(dir), name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw QueryNotFound()
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}

/** Table sink with the reference's write dispositions (SURVEY §2.1
  * S7/S8): WRITE_APPEND if `append` else WRITE_TRUNCATE, destination
  * created if needed (`functions/load_csv/main.py:163-164`,
  * `functions/load_query/main.py:50-55`).
  */
object TableSink {
  def save(df: DataFrame, table: String, append: Boolean): Unit =
    df.write.mode(if (append) "append" else "overwrite")
      .format("parquet").saveAsTable(table)

  def saveToPath(df: DataFrame, path: String, append: Boolean): Unit =
    df.write.mode(if (append) "append" else "overwrite").parquet(path)
}
