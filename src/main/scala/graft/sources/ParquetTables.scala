package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table reader that infers each table's schema once.
  *
  * `spark.read.parquet(path)` infers the schema on every call, and in
  * Spark 4.1 that launches a one-task job to read a footer, even for a
  * single file. `read` keeps the inferred [[StructType]] and passes it
  * back on later reads (`spark.read.schema(s).parquet(path)`), which
  * reads no footer and starts no job.
  *
  * The memo key is
  *  - the qualified path (globs expanded as Spark expands them);
  *  - (path, length, modification time) of every leaf file Spark's file
  *    index would see: a directory is listed recursively, skipping the
  *    `_`/`.` names Spark skips (but not `_metadata`,
  *    `_common_metadata` or `_col=v` partition directories);
  *  - every session setting (`spark.conf.getAll`), so the settings that
  *    change inference (`spark.sql.parquet.*`,
  *    `spark.sql.legacy.parquet.nanosAsLong`, `spark.sql.caseSensitive`)
  *    are covered.
  * Adding, removing or rewriting a file, or changing a setting, is a
  * new key, so the schema is inferred again. A miss runs Spark's own
  * `spark.read.parquet(path)`, so a hit gives the schema a miss would.
  * A path that does not exist is not memoized and fails as
  * `spark.read.parquet` does.
  *
  * Only the schema is kept, never a DataFrame: every call returns a
  * fresh relation with fresh attribute ids, which self-joins rely on.
  * The memo is shared by the JVM's sessions, thread-safe and holds at
  * most `MaxEntries` (256) schemas, least recently used out first.
  */
object ParquetTables {
  private val MaxEntries = 256

  private final case class Key(path: String, files: Seq[(String, Long, Long)],
                               conf: Map[String, String])

  private val memo = new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      size() > MaxEntries
  }

  def read(spark: SparkSession, path: String): DataFrame =
    keyOf(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(k) =>
        memo.synchronized(Option(memo.get(k))) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            memo.synchronized(memo.put(k, df.schema))
            df
        }
    }

  /** None when the path matches nothing. */
  private def keyOf(spark: SparkSession, path: String): Option[Key] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(p)
    val roots = Option(fs.globStatus(q)).map(_.toSeq).getOrElse(Nil)
    if (roots.isEmpty) None
    else {
      val files = roots.flatMap(leaves(fs, _))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
      Some(Key(q.toString, files, spark.conf.getAll))
    }
  }

  private def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves(fs, _))

  /** Spark's rule for names its file index skips
    * (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
}
