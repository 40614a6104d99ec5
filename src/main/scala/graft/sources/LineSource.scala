package graft.sources

import java.io.{Closeable, FileNotFoundException, InputStream}
import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.{CompressionCodecFactory, GzipCodec}
import org.apache.hadoop.util.LineReader
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.graftbridge.TaskMetricsBridge
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Raw-line source of the reference's CSV days (`;`, QUOTE_NONE,
  * ISO-8859-1, optional gzip; `functions/load_csv/main.py:89-131`):
  * a file, directory or glob → one `value: string` column, one row per
  * non-blank line, in file order within and across chunks.
  *
  * `read` plans the chunks before any task runs, and one task reads
  * each partition; there is no shuffle, so `Repair`'s arity filter, split
  * and coercion stay one codegen'd stage over the scan.
  *
  *  - A plain file is cut into byte ranges. A line belongs to the chunk
  *    that holds the byte before its first byte, a file's first line to
  *    the first chunk (Hadoop `LineRecordReader`'s rule): a chunk skips
  *    the line it starts inside or at, and reads past its end to finish
  *    the last line that starts at or before its end.
  *  - A compressed file is cut by decompressed offset, sized from the
  *    gzip `ISIZE` trailer (the compressed length for other codecs).
  *    Each task decompresses from the start of the file and discards
  *    bytes up to its range (the decompress-and-skip technique of
  *    Hadoop's SplittableGzipCodec). The last chunk is open-ended, so
  *    a wrong `ISIZE` — a multi-member or > 4 GB file — only
  *    unbalances the chunks.
  *
  * Lines end at `\n`, `\r\n` or `\r`. Lines of bytes ≤ 0x20 only are
  * dropped (`String.trim` semantics). With `skipHeader`, a chunk that
  * starts at offset 0 also drops its first non-blank line, so every
  * file loses exactly its header however it is cut. A UTF-8 byte order
  * mark at offset 0 is dropped, as `LineRecordReader` does. Bytes are
  * transcoded Latin-1 → UTF-8 in place; an ASCII line is copied as is.
  */
object LineSource {
  /** One range of one file. For a compressed file the offsets are
    * decompressed offsets and the last chunk ends at `Long.MaxValue`. */
  final case class Chunk(path: String, start: Long, end: Long, compressed: Boolean)

  /** Floor of the target chunk size. Spark's own floor,
    * `spark.sql.files.openCostInBytes` (4 MB), cuts an 8 MB day into 3
    * chunks on 4 cores; 1 MB gives every core one and ran `etl_daily`
    * 8 % faster in 6 of 6 pairs (BASELINE.md "ETL ingest: core-sized
    * chunks"). */
  val MinChunkBytes: Long = 1L << 20

  val schema: StructType = StructType(Seq(StructField("value", StringType)))

  def read(spark: SparkSession, path: String, skipHeader: Boolean): DataFrame = {
    val conf = ColumnBridge.hadoopConf(spark)
    val parts = plan(conf, path,
      JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes")),
      spark.sparkContext.defaultParallelism)
    ColumnBridge.internalFrame(spark,
      new LineRDD(spark.sparkContext, parts, new SerializableConfiguration(conf), skipHeader),
      schema)
  }

  /** Spark's split-size rule, `min(maxPartitionBytes, max(floor,
    * total / parallelism))`, with `MinChunkBytes` as the floor. */
  def targetBytes(totalBytes: Long, maxPartitionBytes: Long, parallelism: Int): Long =
    math.min(maxPartitionBytes, math.max(MinChunkBytes, totalBytes / math.max(1, parallelism)))

  /** Chunks per partition, in file order. Chunks of at most the target
    * size are packed next-fit into partitions of at most the target, as
    * `FilePartition` does (without its size sort, which would reorder
    * files). */
  def plan(conf: Configuration, path: String, maxPartitionBytes: Long,
           parallelism: Int): IndexedSeq[IndexedSeq[Chunk]] = {
    val codecs = new CompressionCodecFactory(conf)
    val sized = listFiles(conf, path).map { st =>
      val codec = codecs.getCodec(st.getPath)
      val bytes = if (codec.isInstanceOf[GzipCodec]) gzipSize(conf, st) else st.getLen
      (st.getPath.toString, bytes, codec != null)
    }
    val target = targetBytes(sized.map(_._2).sum, maxPartitionBytes, parallelism)
    // (chunk, estimated bytes) in file order
    val chunks = sized.flatMap { case (file, bytes, compressed) =>
      val n =
        if (compressed) math.max(1L, math.min(parallelism.toLong, ceilDiv(bytes, target)))
        else ceilDiv(bytes, target)
      val step = math.max(1L, ceilDiv(bytes, n))
      (0L until n).map { i =>
        val start = i * step
        val end = if (i == n - 1) (if (compressed) Long.MaxValue else bytes) else start + step
        Chunk(file, start, end, compressed) -> (math.min(end, bytes) - start).max(0L)
      }
    }
    val parts = ArrayBuffer.empty[IndexedSeq[Chunk]]
    val cur = ArrayBuffer.empty[Chunk]
    var curBytes = 0L
    chunks.foreach { case (c, bytes) =>
      if (cur.nonEmpty && curBytes + bytes > target) {
        parts += cur.toIndexedSeq; cur.clear(); curBytes = 0L
      }
      cur += c; curBytes += bytes
    }
    if (cur.nonEmpty) parts += cur.toIndexedSeq
    parts.toIndexedSeq
  }

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** Non-empty files under `path` (a file, directory or glob), sorted
    * by path within each directory, skipping `_`/`.` names as Spark's
    * file index does. Throws FileNotFoundException when nothing
    * matches. */
  def listFiles(conf: Configuration, path: String): IndexedSeq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // an existing path is taken literally, so a picked file whose name
    // holds glob syntax is still found
    val matched =
      if (fs.exists(p)) Array(fs.getFileStatus(p))
      else Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
    if (matched.isEmpty) throw new FileNotFoundException(s"Path does not exist: $path")
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def leaves(sts: Array[FileStatus]): IndexedSeq[FileStatus] =
      sts.filter(visible).sortBy(_.getPath.toString).toIndexedSeq.flatMap { st =>
        if (st.isDirectory) leaves(fs.listStatus(st.getPath)) else IndexedSeq(st)
      }
    leaves(matched).filter(_.getLen > 0)
  }

  /** Decompressed size from the gzip trailer: `ISIZE`, the last
    * member's length mod 2^32, little-endian. */
  private def gzipSize(conf: Configuration, st: FileStatus): Long =
    if (st.getLen < 4) 0L
    else {
      val in = st.getPath.getFileSystem(conf).open(st.getPath)
      try {
        val b = new Array[Byte](4)
        in.readFully(st.getLen - 4, b)
        (b(0) & 0xffL) | (b(1) & 0xffL) << 8 | (b(2) & 0xffL) << 16 | (b(3) & 0xffL) << 24
      } finally in.close()
    }
}

private final case class LinePartition(index: Int, chunks: IndexedSeq[LineSource.Chunk])
  extends Partition

private final class LineRDD(
    sc: SparkContext,
    @transient private val parts: IndexedSeq[IndexedSeq[LineSource.Chunk]],
    conf: SerializableConfiguration,
    skipHeader: Boolean) extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    parts.indices.map(i => LinePartition(i, parts(i)): Partition).toArray

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    split.asInstanceOf[LinePartition].chunks.iterator.flatMap { c =>
      val lines = new ChunkLines(conf.value, c, skipHeader)
      context.addTaskCompletionListener[Unit](_ => lines.close())
      lines
    }
}

/** The rows of one chunk. One `UnsafeRow` is reused for every line;
  * the row count goes to the task's input records on close. */
private final class ChunkLines(conf: Configuration, chunk: LineSource.Chunk, skipHeader: Boolean)
    extends Iterator[InternalRow] with Closeable {
  private val text = new Text()
  private val writer = new UnsafeRowWriter(1, 256)
  private var utf8 = new Array[Byte](256)
  private var header = skipHeader && chunk.start == 0
  private var ready = false
  private var done = false
  private var rows = 0L
  // the line holding byte `start` belongs to the previous chunk
  private var pos = chunk.start
  private var in: InputStream = open()
  private val lines = new LineReader(in, 1 << 16)
  if (chunk.start > 0) pos += lines.readLine(text)

  private def open(): InputStream = {
    val path = new Path(chunk.path)
    val raw = path.getFileSystem(conf).open(path)
    if (!chunk.compressed) { raw.seek(pos); raw }
    else {
      val s = new CompressionCodecFactory(conf).getCodec(path).createInputStream(raw)
      val buf = new Array[Byte](1 << 16)
      var left = pos
      var n = 0
      while (left > 0 && n >= 0) {
        n = s.read(buf, 0, math.min(left, buf.length.toLong).toInt)
        if (n > 0) left -= n
      }
      s
    }
  }

  override def hasNext: Boolean = {
    while (!ready && !done) {
      if (pos > chunk.end) close()
      else {
        val lineStart = pos
        val n = lines.readLine(text)
        if (n == 0) close()
        else {
          pos += n
          emit(if (lineStart == 0 && hasBom) 3 else 0)
        }
      }
    }
    ready
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    ready = false
    writer.getRow
  }

  private def hasBom: Boolean = {
    val b = text.getBytes
    text.getLength >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte
  }

  /** Writes `text` from `off` into the row unless it is blank or the
    * header; a Latin-1 byte ≥ 0x80 becomes two UTF-8 bytes. */
  private def emit(off: Int): Unit = {
    val b = text.getBytes
    val len = text.getLength
    var blank = true
    var ascii = true
    var i = off
    while (i < len) {
      val x = b(i)
      if ((x & 0xff) > 0x20) blank = false
      if (x < 0) ascii = false
      i += 1
    }
    if (blank) return
    if (header) { header = false; return }
    writer.reset()
    writer.zeroOutNullBytes()
    if (ascii) writer.write(0, b, off, len - off)
    else {
      if (utf8.length < 2 * len) utf8 = new Array[Byte](2 * len)
      var j = 0
      i = off
      while (i < len) {
        val x = b(i)
        if (x >= 0) { utf8(j) = x; j += 1 }
        else {
          utf8(j) = (0xC0 | ((x & 0xff) >>> 6)).toByte
          utf8(j + 1) = (0x80 | (x & 0x3F)).toByte
          j += 2
        }
        i += 1
      }
      writer.write(0, utf8, 0, j)
    }
    rows += 1
    ready = true
  }

  override def close(): Unit = {
    done = true
    if (in != null) {
      in.close(); in = null
      TaskMetricsBridge.addRecordsRead(rows)
    }
  }
}
