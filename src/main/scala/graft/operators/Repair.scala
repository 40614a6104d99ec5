package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => native, expression}

/** The CSV repair pipeline (SURVEY §2.2 F1–F4) as declarative
  * `DataFrame => DataFrame` transforms — Spark fuses all of them into a
  * single whole-stage-codegen pass, matching the reference's
  * single-pass streaming row repair (`functions/load_csv/main.py:89-131`)
  * with zero extra materialization.
  *
  * Reference semantics preserved:
  *  - rows whose field count differs from the schema arity are dropped
  *    (`main.py:101-103`) — [[arityFilter]];
  *  - INTEGER cells: Python `int(x)` probe, unparseable → NULL
  *    (`main.py:111-115`) — note `int("12.5")` FAILS in Python, so a
  *    decimal string must null out, which `try_cast(AS BIGINT)` matches;
  *  - FLOAT cells: `float(x)` probe, unparseable → NULL (`main.py:116-120`);
  *  - TIMESTAMP cells: 4 formats tried in declared order, first hit
  *    wins, none → NULL (`main.py:121-130`, formats `:30-35`).
  */
object Repair {

  /** The reference's timestamp formats in priority order
    * (`functions/load_csv/main.py:30-35`), translated from strptime to
    * Spark datetime patterns. Order matters: `20210612` must hit format
    * 4, `2021-06-12` must hit format 2 before 4 could misread it.
    */
  val TimestampFormats: Seq[String] =
    Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "dd/MM/yyyy", "yyyyMMdd")

  /** Lenient per-cell coercions, one expression per reference branch
    * (`fix_csv_row`, `main.py:109-131`). All built-ins — codegen'd,
    * ANSI-safe (`try_*` never throws).
    */
  def lenientLong(c: Column): Column = c.try_cast(LongType)

  def lenientDouble(c: Column): Column = c.try_cast(DoubleType)

  /** Ordered multi-format parse through the native shape-dispatching
    * expression (graft.plans.MultiFormatTimestampExpr) — identical
    * first-hit-wins semantics to
    * `coalesce(try_to_timestamp(c, f1), ..., try_to_timestamp(c, fn))`
    * (RepairSpec pins the equivalence), one parser attempt per row
    * instead of ~n/2. */
  def lenientTimestamp(c: Column): Column =
    native(graft.plans.MultiFormatTimestampExpr(expression(c), TimestampFormats))

  /** Reference re-emits matched timestamps canonically as
    * `%Y-%m-%d %H:%M:%S` (`main.py:127`). */
  def canonicalTimestampString(c: Column): Column =
    date_format(lenientTimestamp(c), "yyyy-MM-dd HH:mm:ss")

  private def coerce(c: Column, dt: DataType): Column = dt match {
    case LongType      => lenientLong(c)
    case DoubleType    => lenientDouble(c)
    case TimestampType => lenientTimestamp(c)
    case StringType    => c // passthrough, no branch in fix_csv_row
    // REPEATED cells (SchemaIO mode REPEATED → ArrayType): elements
    // '|'-separated inside the cell — BigQuery CSV can't carry REPEATED,
    // so the wire convention is this library's, documented here. Each
    // element gets the same lenient coercion as a scalar cell of the
    // element type (unparseable → NULL element); an empty cell is a
    // NULL array, matching the scalar null-on-empty behaviour.
    case ArrayType(et, _) =>
      when(c === "", lit(null).cast(ArrayType(et)))
        .otherwise(transform(split(c, "\\|"), e => coerce(e, et)))
    case other         => c.try_cast(other)
  }

  /** Drop rows whose raw-line arity ≠ schema arity (`main.py:101-103`).
    * Operates on a single string column holding the raw delimited line;
    * the delimiter may be escaped with `\` (reference parser uses
    * QUOTE_NONE + escapechar `\`, `main.py:92-93`). Counts cells with
    * the count-only form of the native byte-scan split
    * (graft.plans.EscapedSplit), which allocates nothing per row.
    */
  def arityFilter(line: Column, sep: String, arity: Int): Column =
    native(graft.plans.CountEscapedExpr(expression(line), sep)) === arity

  /** Split a raw line into the schema's string columns (post arity
    * filter), unescaping escaped delimiters: the native split
    * (graft.plans.SplitEscapedExpr) runs once per line and every cell
    * shares it through subexpression elimination.
    */
  def splitLine(df: DataFrame, lineCol: String, sep: String,
                schema: StructType): DataFrame = {
    val parts = native(graft.plans.SplitEscapedExpr(expression(col(lineCol)), sep))
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      parts.getItem(i).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Full repair: all-strings `df` (column per schema field, in schema
    * order) → typed `DataFrame` with the reference's null-on-failure
    * coercions. One `select`, fully codegen'd.
    */
  def repair(df: DataFrame, schema: StructType): DataFrame = {
    require(df.columns.length == schema.fields.length,
      s"arity mismatch: ${df.columns.length} cols vs ${schema.fields.length} schema fields")
    val cols = df.columns.zip(schema.fields).map { case (name, f) =>
      coerce(col(name), f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
