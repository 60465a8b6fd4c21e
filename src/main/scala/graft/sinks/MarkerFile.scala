package graft.sinks

import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** Small marker files (commit seqs, recorded schemas, refresh
  * checkpoints): read whole, replaced atomically. Callers parse the
  * content and read an absent or torn marker as their recomputable
  * default. */
private[sinks] object MarkerFile {

  private def fc(spark: SparkSession, p: String): FileContext = {
    val conf = spark.sparkContext.hadoopConfiguration
    FileContext.getFileContext(new Path(p).getFileSystem(conf).getUri, conf)
  }

  /** The marker's content; None when it does not exist. Read through
    * FileContext like the write: a FileSystem read fails with a
    * ChecksumException on a marker rewritten outside Hadoop, as a
    * restored or hand-rewound marker is. */
  def read(spark: SparkSession, p: String): Option[String] = {
    val c = fc(spark, p)
    val hp = c.makeQualified(new Path(p))
    if (!c.util.exists(hp)) None
    else {
      val in = c.open(hp)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** The marker's content as a long; None when absent, empty or torn. */
  def readLong(spark: SparkSession, p: String): Option[Long] =
    read(spark, p).flatMap(s => scala.util.Try(s.trim.toLong).toOption)

  /** Replace the marker with `s`.
    *
    * Temp-then-OVERWRITING-rename: a concurrent reader sees the old
    * content or the new content, never a half-written file and never a
    * no-file window (a delete-then-rename publish would let a reader of
    * `_base_max_commit` observe "absent" → horizon 0 and silently pass an
    * as-of pin that should fail). FileContext.rename(OVERWRITE) is the
    * atomic-replace rename; plain FileSystem.rename refuses existing
    * destinations. Create AND rename both go through FileContext:
    * creating via FileSystem would drop a .crc sidecar that the
    * FileContext rename leaves behind, accumulating stale checksums next
    * to the markers. */
  def write(spark: SparkSession, p: String, s: String): Unit = {
    val c = fc(spark, p)
    val tmp = c.makeQualified(new Path(p + ".tmp"))
    val out = c.create(tmp,
      java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(s.getBytes("UTF-8")) finally out.close()
    c.rename(tmp, c.makeQualified(new Path(p)), Options.Rename.OVERWRITE)
  }
}
