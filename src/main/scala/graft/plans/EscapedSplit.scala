package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's QUOTE_NONE + escapechar `\` line split
  * (`functions/load_csv/main.py:92-93`) as a byte scan over the line's
  * UTF-8 bytes.
  *
  * A separator splits unless the byte right before it is `\`; the scan
  * resumes after each separator it splits on, so matches never
  * overlap. Inside a cell, each `\`+sep (left to right, non-overlapping)
  * becomes sep. Every cell of an n-separator line is kept, empty ones
  * included, so the empty line is one empty cell. These are exactly the
  * semantics of Spark's regex `split(line, "(?<!\\)" + quote(sep))`
  * followed by `regexp_replace(cell, quote("\" + sep), sep)`, which
  * RepairSpec keeps as the parity oracle. Byte matching equals char
  * matching because UTF-8 is self-synchronizing and `\` is ASCII.
  */
object EscapedSplit {
  private final val Escape: Byte = '\\'

  /** The separator's UTF-8 bytes. It must be non-empty (an empty one
    * would cut every character into its own cell) and must not contain
    * the escape character. */
  def sepBytes(sep: String): Array[Byte] = {
    require(sep.nonEmpty, "CSV separator must not be empty")
    require(!sep.contains('\\'), s"CSV separator must not contain the escape character: '$sep'")
    sep.getBytes(UTF_8)
  }

  private def matchesAt(line: UTF8String, sep: Array[Byte], at: Int): Boolean = {
    var j = 0
    while (j < sep.length) {
      if (line.getByte(at + j) != sep(j)) return false
      j += 1
    }
    true
  }

  /** Offset of the first unescaped separator at or after `from`, or -1. */
  private def nextSep(line: UTF8String, sep: Array[Byte], from: Int): Int = {
    val last = line.numBytes() - sep.length
    val first = sep(0)
    var i = from
    while (i <= last) {
      if (line.getByte(i) == first && (i == 0 || line.getByte(i - 1) != Escape) &&
          matchesAt(line, sep, i)) return i
      i += 1
    }
    -1
  }

  /** Number of cells; allocates nothing. */
  def count(line: UTF8String, sep: Array[Byte]): Int = {
    var cells = 1
    var p = nextSep(line, sep, 0)
    while (p >= 0) {
      cells += 1
      p = nextSep(line, sep, p + sep.length)
    }
    cells
  }

  /** Bytes `[from, until)` with every `\`+sep turned into sep. */
  private def cell(line: UTF8String, sep: Array[Byte], from: Int, until: Int): UTF8String = {
    val out = new Array[Byte](until - from)
    var o = 0
    var i = from
    while (i < until) {
      val b = line.getByte(i)
      if (b == Escape && i + 1 + sep.length <= until && matchesAt(line, sep, i + 1)) {
        System.arraycopy(sep, 0, out, o, sep.length)
        o += sep.length
        i += 1 + sep.length
      } else {
        out(o) = b
        o += 1
        i += 1
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** The cells, unescaped. [[count]] sizes the array, then one more
    * pass cuts it. */
  def split(line: UTF8String, sep: Array[Byte]): ArrayData = {
    val cells = new Array[Any](count(line, sep))
    var start = 0
    var k = 0
    while (k < cells.length - 1) {
      val p = nextSep(line, sep, start)
      cells(k) = cell(line, sep, start, p)
      start = p + sep.length
      k += 1
    }
    cells(k) = cell(line, sep, start, line.numBytes())
    new GenericArrayData(cells)
  }
}

/** `split_escaped(line)` → the line's cells as `array<string>`
  * ([[EscapedSplit]] semantics). */
case class SplitEscapedExpr(child: Expression, sep: String)
    extends UnaryExpression with ExpectsInputTypes {
  private val sepBytes = EscapedSplit.sepBytes(sep)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes = Seq(StringType)
  override def prettyName: String = "split_escaped"

  def compute(line: UTF8String): ArrayData = EscapedSplit.split(line, sepBytes)

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("splitEscapedExpr", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): SplitEscapedExpr =
    copy(child = c)
}

/** `count_escaped(line)` → the number of cells [[SplitEscapedExpr]]
  * would return, without building them: the arity check's form. */
case class CountEscapedExpr(child: Expression, sep: String)
    extends UnaryExpression with ExpectsInputTypes {
  private val sepBytes = EscapedSplit.sepBytes(sep)

  override def dataType: DataType = IntegerType
  override def inputTypes = Seq(StringType)
  override def prettyName: String = "count_escaped"

  def compute(line: UTF8String): Int = EscapedSplit.count(line, sepBytes)

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("countEscapedExpr", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): CountEscapedExpr =
    copy(child = c)
}
