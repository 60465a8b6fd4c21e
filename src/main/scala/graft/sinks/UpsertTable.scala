package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** K4: primary-key upsert into a partitioned table with read-back
  * consistency — a merge-on-read emulation of the reference's Hudi sink
  * (HudiOutput.java:367-447: MERGE_ON_READ table type, pk + precombine
  * fields, dt/hr partition path, compaction every N delta commits;
  * wired for joined_impression / joined_action / flat_response_insertion
  * at FlatOutputJob.java:1205-1229) over plain parquet + Spark.
  *
  * Layout:
  * {{{
  *   <path>/_schema.json            record schema incl. partition cols
  *   <path>/_seq                    last issued commit seq (survives compaction)
  *   <path>/base/<part dirs>/       compacted base files (RO view)
  *   <path>/delta/c<seq 9 digits>/<part dirs>/   one dir per upsert commit
  * }}}
  *
  * Semantics (matching Hudi's defaults as the reference configures them):
  *  - each [[upsert]] is an append-only delta commit — no base rewrite on
  *    the write path, which is what makes a streaming upsert sink cheap;
  *  - the snapshot view resolves the latest row per key by
  *    (precombine DESC, commit seq DESC) — later commit wins ties. Commit
  *    seqs are issued from a persisted counter (`_seq`) so they stay
  *    monotonic ACROSS compactions; base rows retain their original
  *    `__commit`, and a post-compaction tie still resolves to the newer
  *    write;
  *  - resolution scopes to (partition, key) — Hudi's non-global index, as
  *    the reference runs it: a key re-appearing under a new dt/hr is a new
  *    row, and no cross-partition shuffle is ever needed;
  *  - an optional boolean delete column (Hudi's `_hoodie_is_deleted`)
  *    drops the key when the latest version has it set; a later upsert
  *    resurrects it;
  *  - [[compact]] folds deltas into the base, rewriting ONLY partitions
  *    the deltas touched (dynamic partition overwrite — at 100 TB a day's
  *    deltas touch a handful of dt/hr dirs, not the table's history).
  *    Delete winners are kept in the base as tombstone rows and filtered
  *    at read time: a partition whose every live row was tombstoned still
  *    has rows in the compaction output, so its stale base files ARE
  *    overwritten rather than silently surviving (the resurrection bug a
  *    row-dropping compactor would have). Tombstones are tiny (one row
  *    per deleted key) and a later upsert of the key supersedes them.
  *
  * Single-writer, like the reference's one Flink job per table (Hudi
  * serializes writers through its timeline lock). Readers never see a
  * half-written commit: each delta is written to a hidden temp dir and
  * atomically renamed to `c<seq>` only after the write completes, and
  * [[commits]] lists only fully-renamed dirs.
  *
  * File sizing: each commit is repartitioned by the partition columns
  * before write, so a commit emits one file per touched partition (split
  * by `maxRecordsPerFile` when set) instead of (input partitions ×
  * touched dirs) — streaming cadence doesn't spray small files.
  */
class UpsertTable(val path: String, val keyCols: Seq[String],
    val precombineCol: String, val partitionCols: Seq[String],
    val deleteCol: Option[String] = None, maxRecordsPerFile: Long = 0L)
    extends Serializable {
  require(keyCols.nonEmpty, "keyCols must be non-empty")

  private val CommitCol = "__commit"
  private def basePath = s"$path/base"
  private def deltaPath = s"$path/delta"
  private def schemaPath = s"$path/_schema.json"
  private def seqPath = s"$path/_seq"

  private def fs(spark: SparkSession) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stored record schema (incl. partition cols + commit col), written at
    * the first upsert. Supplying it to every read keeps partition-column
    * TYPES stable — directory-value inference would e.g. turn a
    * "dt=2024-01-01" string column into a date. */
  private def recordedSchema(spark: SparkSession): Option[StructType] =
    MarkerFile.read(spark, schemaPath)
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Fail fast on schema drift: every commit after the first must carry
    * exactly the recorded columns with the recorded types (order-free;
    * nullability not considered drift). Without this, a drifted commit
    * writes fine and only breaks later reads. */
  private def validateSchema(spark: SparkSession, df: DataFrame): Unit =
    recordedSchema(spark).foreach { rec =>
      val want = rec.fields.filter(_.name != CommitCol)
        .map(f => f.name -> f.dataType).toMap
      val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val retyped = want.keySet.intersect(got.keySet)
        .filter(c => want(c) != got(c))
        .map(c => s"$c: ${want(c).simpleString} -> ${got(c).simpleString}")
      require(missing.isEmpty && extra.isEmpty && retyped.isEmpty,
        s"upsert schema drift vs $schemaPath — missing: ${missing.mkString(",")}; " +
          s"unexpected: ${extra.mkString(",")}; retyped: ${retyped.mkString(", ")}")
    }

  /** Committed delta sequence numbers, ascending. Only fully-committed
    * dirs match `c\d{9}` — in-flight writes live under a `.tmp_` name
    * until the post-write rename, so a concurrent reader never lists a
    * partial commit. */
  def commits(spark: SparkSession): Seq[Long] = {
    val f = fs(spark)
    val d = new Path(deltaPath)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.matches("c\\d{9}")).map(_.drop(1).toLong).sorted
  }

  /** Last issued commit seq: the max of the persisted counter, the
    * visible delta dirs, and the base compaction horizon. The dir scan
    * recovers a crash between commit-dir rename and counter write; the
    * horizon covers the same crash AFTER a compaction has folded (and
    * deleted) those dirs — without it the next upsert would reissue a seq
    * already stamped on base rows and break later-commit-wins ties.
    * [[compact]] also heals the counter for the same reason. */
  def lastCommitSeq(spark: SparkSession): Long =
    Seq(MarkerFile.readLong(spark, seqPath).getOrElse(0L),
      commits(spark).lastOption.getOrElse(0L),
      baseMaxCommit(spark)).max

  /** Append one upsert commit. `df` must carry key, precombine and
    * partition columns; schema must match the first commit's. Returns the
    * commit sequence number. */
  def upsert(df: DataFrame): Long = upsertAll(Seq(df)).head

  /** Write `dfs` as consecutive delta commits whose write jobs OVERLAP
    * (one driver thread per commit — Spark schedules concurrent jobs
    * FIFO, so a later commit's tasks back-fill executors freed by the
    * earlier job's tail instead of waiting out the whole job). The
    * result is INDISTINGUISHABLE from calling [[upsert]] sequentially:
    * seqs are assigned upfront in input order, every commit lands in its
    * own dir, and the publish renames + the `_seq` marker happen in seq
    * order only after every write succeeded — a concurrent reader never
    * sees commit k+1 without commit k (the same prefix-visibility
    * sequential upserts give), and a failure publishes nothing. Batch
    * only commits with no read between them (the r16 maintenance-family
    * optimization).
    *
    * Failure: [[graft.Overlap.inParallel]] cancels the other writes and
    * waits them out, then the call's temp dirs are deleted and `_seq`
    * stays put. The temp dirs carry a per-call nonce, so a retry (which
    * reissues the same seqs) never writes into, or publishes, a dir a
    * cancelled write of an earlier call may still touch. */
  def upsertAll(dfs: Seq[DataFrame]): Seq[Long] = {
    if (dfs.isEmpty) return Nil
    val spark = dfs.head.sparkSession
    dfs.foreach { df =>
      require(df.columns.contains(precombineCol),
        s"missing precombine column $precombineCol")
      (keyCols ++ partitionCols).foreach(c =>
        require(df.columns.contains(c), s"missing column $c"))
    }
    val seq0 = lastCommitSeq(spark)
    val seqs = Seq.tabulate(dfs.length)(i => seq0 + 1L + i)
    if (recordedSchema(spark).isEmpty)
      MarkerFile.write(spark, schemaPath, dfs.head
        .withColumn(CommitCol, lit(seqs.head).cast(LongType)).schema.json)
    dfs.foreach(validateSchema(spark, _))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    def tmpDir(seq: Long) = new Path(f"$deltaPath/.tmp_c$seq%09d_$nonce")
    def writeTmp(df: DataFrame, seq: Long): Unit = {
      val stamped = df.withColumn(CommitCol, lit(seq).cast(LongType))
      // one output file per touched partition dir (maxRecordsPerFile
      // splits oversized ones) — not (input partitions × dirs) small
      // files. The partition count is EXPLICIT (defaultParallelism):
      // a bare repartition(cols) lets AQE coalesce the commit's write
      // onto 1-2 tasks and the per-dir file writes serialize (measured
      // 2.2 vs 0.6 s on a 1M-row 30-dir commit, r16 UpsertWriteProbe,
      // `git show d6f4c32:src/main/scala/graft/tools/UpsertWriteProbe.scala`);
      // hashing on the partition cols alone still keeps each dir's rows
      // in exactly one task, so the one-file-per-dir contract holds.
      val sized =
        if (partitionCols.nonEmpty)
          stamped.repartition(spark.sparkContext.defaultParallelism,
            partitionCols.map(col): _*)
        else stamped.coalesce(1)
      val w = sized.write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmpDir(seq).toString)
    }
    val f = fs(spark)
    try graft.Overlap.inParallel(spark)(dfs.zip(seqs).map { case (df, seq) =>
      () => writeTmp(df, seq) }: _*)
    catch { case e: Throwable =>
      seqs.foreach(seq => f.delete(tmpDir(seq), true))
      throw e
    }
    seqs.foreach { seq =>
      require(f.rename(tmpDir(seq), new Path(f"$deltaPath/c$seq%09d")),
        s"rename failed publishing commit $seq")
    }
    MarkerFile.write(spark, seqPath, seqs.last.toString)
    seqs
  }

  /** Undo Hive's %XX path escaping (same caveat as [[streamIncremental]]:
    * Hive never escapes '+', so only literal %XX pairs decode). */
  private def unescapePath(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val v = try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (v >= 0) { sb.append(v.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Distinct partition-value tuples touched by the given delta commits,
    * read from the Hive-style DIRECTORY NAMES instead of the parquet rows
    * — partition values are layout metadata, so deriving the touched set
    * from the fs skips one Spark scan+distinct job per maintenance call
    * ([[compact]], [[incrementalRead]]'s base prune, [[changedDistinct]];
    * r16 optimization, guide §6). A partitionBy write creates a dir iff
    * rows landed in it, so the dir-derived set equals the row-derived
    * one. Values decode exactly like [[streamIncremental]]'s path
    * re-derivation: %XX unescape, Hive default-partition sentinel →
    * null, cast to the recorded type. Returns one STRING (nullable)
    * per partition col per tuple; callers cast via [[castTuples]]. */
  private def touchedPartitionStrings(spark: SparkSession,
      seqs: Seq[Long]): Seq[Seq[String]] = {
    val f = fs(spark)
    def walk(dir: Path, cols: Seq[String]): Seq[Seq[String]] = cols match {
      case Nil => Seq(Seq.empty)
      case c +: rest =>
        f.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
          .filter(_.getName.startsWith(c + "="))
          .flatMap { p =>
            val raw = unescapePath(p.getName.substring(c.length + 1))
            val v = if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw
            walk(p, rest).map(v +: _)
          }
    }
    seqs.flatMap(s => walk(new Path(f"$deltaPath/c$s%09d"), partitionCols))
      .distinct
  }

  /** Local (no-scan) frame of the touched partition tuples projected to
    * `cols` (⊆ partitionCols), typed to the recorded schema. The
    * string→type cast runs through the same Catalyst Cast the
    * partition-value reader uses, and ConvertToLocalRelation folds the
    * projection back into a LocalRelation, so consumers that collect it
    * run NO job. */
  private def touchedLocalFrame(spark: SparkSession, seqs: Seq[Long],
      cols: Seq[String]): DataFrame = {
    val sch = recordedSchema(spark).get
    val idx = cols.map(partitionCols.indexOf)
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    touchedPartitionStrings(spark, seqs).map(t => idx.map(t(_))).distinct
      .foreach(t => rows.add(Row.fromSeq(t)))
    val strSchema = StructType(cols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType, nullable = true)))
    spark.createDataFrame(rows, strSchema)
      .select(cols.map(c => col(c).cast(sch(c).dataType).as(c)): _*)
  }

  /** Base-pruning predicate: rows in partitions touched by the given
    * delta commits (dir-metadata-derived, null-safe). */
  private def touchedCond(spark: SparkSession, seqs: Seq[Long]): Column = {
    val sch = recordedSchema(spark).get
    touchedPartitionStrings(spark, seqs).map(t =>
      partitionCols.zip(t).map { case (c, v) =>
        col(c) <=> lit(v).cast(sch(c).dataType)
      }.reduce(_ && _)).reduceOption(_ || _).getOrElse(lit(false))
  }

  private def readDir(spark: SparkSession, dir: String): Option[DataFrame] = {
    val f = fs(spark)
    if (!f.exists(new Path(dir))) None
    else recordedSchema(spark).map(sch =>
      spark.read.schema(sch).option("basePath", dir).parquet(dir))
  }

  private def notDeleted: Column = deleteCol match {
    case Some(d) => !coalesce(col(d), lit(false))
    case None => lit(true)
  }

  /** Latest-per-key resolution over any mix of base + delta rows. Keeps
    * delete-flagged winners when `keepDeletes` (compaction needs them as
    * tombstones; the snapshot view filters them). */
  private def resolve(all: DataFrame, keepDeletes: Boolean): DataFrame = {
    val w = Window
      .partitionBy((partitionCols ++ keyCols).map(col): _*)
      .orderBy(col(precombineCol).desc, col(CommitCol).desc)
    val latest = all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    if (keepDeletes) latest else latest.where(notDeleted)
  }

  /** Snapshot view (Hudi `_rt`): base merged with all deltas, latest
    * version per (partition, key), deletes applied. One shuffle on
    * (partition, key); the base side prunes to partitions the read
    * filters to, like any parquet scan. */
  def snapshot(spark: SparkSession): DataFrame = snapshotAt(spark, Long.MaxValue)

  /** Time-travel snapshot as of a commit seq: the table as a reader saw
    * it right after commit `asOfCommit`. Enabled by the commit-sequence
    * layout (Hudi's incremental/as-of query); history older than the
    * last compaction is folded into the base, so `asOfCommit` must be
    * ≥ the highest seq already compacted — pinning a corpus for
    * decontamination/mixture reproducibility only needs pins newer than
    * the compaction horizon. */
  def snapshotAt(spark: SparkSession, asOfCommit: Long): DataFrame = {
    val base = readDir(spark, basePath)
    val folded = baseMaxCommit(spark)
    require(asOfCommit >= folded,
      s"asOfCommit $asOfCommit predates the compaction horizon $folded")
    val deltaSeqs = commits(spark).filter(_ <= asOfCommit)
    val parts = base.toSeq ++ deltaSeqs
      .map(s => readDir(spark, f"$deltaPath/c$s%09d").get)
    require(parts.nonEmpty, s"empty upsert table at $path")
    if (base.nonEmpty && deltaSeqs.isEmpty)
      // base-only read: [[compact]] writes resolve(keepDeletes = true)
      // output, so the base holds EXACTLY one resolved row per
      // (partition, key) — re-resolving is a per-key no-op. Skip the
      // window (exchange + sort) and apply only the tombstone filter,
      // the [[readOptimized]] shape (r16 optimization: q209's pinned
      // as-of read across the compaction boundary was paying a full
      // window sort for rows compaction had already resolved).
      base.get.where(notDeleted).drop(CommitCol)
    else
      resolve(parts.reduce(_ unionByName _), keepDeletes = false).drop(CommitCol)
  }

  /** Highest commit seq folded into the base (0 when no base). */
  private def baseMaxCommit(spark: SparkSession): Long =
    MarkerFile.readLong(spark, s"$path/_base_max_commit").getOrElse(0L)

  /** Incremental (CDC-style) read — Hudi's incremental query: the CURRENT
    * resolved record of every (partition, key) touched by a commit with
    * seq > `sinceCommit`. A downstream job that checkpoints the last seq
    * it consumed pulls only changed records instead of rescanning the
    * snapshot — the pattern that keeps derived tables cheap at 100 TB.
    *
    * Keys whose latest version is a delete are omitted unless
    * `includeDeletes` (then they carry the delete column as the CDC
    * tombstone signal). Records are resolved against FULL history (base +
    * every delta), not just the new commits — an out-of-order upsert whose
    * older precombine version arrives after `sinceCommit` must not shadow
    * the current winner. History folded by compaction is gone, exactly as
    * in Hudi: `sinceCommit` must be ≥ the compaction horizon (loud
    * failure otherwise), so incremental consumers bound how far they lag
    * compaction scheduling. The base scan prunes to the partitions the
    * new commits touched (the bounded touched-partition collect compaction
    * uses). */
  def incrementalRead(spark: SparkSession, sinceCommit: Long,
      includeDeletes: Boolean = false): DataFrame = {
    val folded = baseMaxCommit(spark)
    require(sinceCommit >= folded,
      s"incremental window ($sinceCommit, now] predates the compaction " +
        s"horizon $folded — that history is folded into the base")
    val (newSeqs, oldSeqs) = commits(spark).partition(_ > sinceCommit)
    if (newSeqs.isEmpty)
      return snapshot(spark).where(lit(false)) // nothing changed: empty frame
    val newDeltas = newSeqs.map(s => readDir(spark, f"$deltaPath/c$s%09d").get)
      .reduce(_ unionByName _)
    val keyAndPart = partitionCols ++ keyCols
    val changed = newDeltas.select(keyAndPart.map(col): _*).distinct()
    val olderParts = oldSeqs.map(s => readDir(spark, f"$deltaPath/c$s%09d").get)
    val baseParts = readDir(spark, basePath) match {
      case Some(base) if partitionCols.nonEmpty =>
        // touched partitions from commit-dir names — no scan job (r16)
        Seq(base.where(touchedCond(spark, newSeqs)))
      case Some(base) => Seq(base)
      case None => Nil
    }
    val all = (baseParts ++ olderParts :+ newDeltas).reduce(_ unionByName _)
    val chg = changed.select(keyAndPart.map(c => col(c).as(s"__chg_$c")): _*)
    val mine = all.join(chg,
      keyAndPart.map(c => col(c) <=> col(s"__chg_$c")).reduce(_ && _), "left_semi")
    val latest = resolve(mine, keepDeletes = true)
    (if (includeDeletes) latest else latest.where(notDeleted)).drop(CommitCol)
  }

  /** Distinct values of `cols` over the RAW delta rows of commits >
    * `sinceCommit` — the churn-scoping read derived-view maintenance
    * needs: WHICH groups/keys were touched, not who won. Skips the
    * full-history resolution [[incrementalRead]] pays (no base scan, no
    * per-key window): over key/partition columns the raw touched-set
    * equals the resolved one (a record's identity never changes across
    * versions), and over value-derived group columns it is a SAFE
    * superset (a stale version contributes its old group, which then
    * recomputes to an identical derived row or tombstones out). Same
    * compaction-horizon contract as [[incrementalRead]]. */
  def changedDistinct(spark: SparkSession, sinceCommit: Long,
      cols: Seq[String]): DataFrame = {
    val folded = baseMaxCommit(spark)
    require(sinceCommit >= folded,
      s"incremental window ($sinceCommit, now] predates the compaction " +
        s"horizon $folded — that history is folded into the base")
    val newSeqs = commits(spark).filter(_ > sinceCommit)
    if (newSeqs.isEmpty)
      snapshot(spark).where(lit(false)).select(cols.map(col): _*)
    else if (partitionCols.nonEmpty && cols.forall(partitionCols.contains))
      // partition-column churn scope comes straight from the commit
      // dirs' Hive-style names: a LocalRelation, zero Spark jobs — the
      // derived-view refresh's touched-set collect becomes a driver-local
      // fs walk (r16 optimization, guide §6 metadata-over-scan)
      touchedLocalFrame(spark, newSeqs, cols)
    else newSeqs.map(s => readDir(spark, f"$deltaPath/c$s%09d").get)
      .reduce(_ unionByName _).select(cols.map(col): _*).distinct()
  }

  /** Streaming incremental source (Hudi's streaming read of a table):
    * a file stream over the delta commit dirs, so a Structured Streaming
    * job consumes every upserted record version continuously — the
    * push-based sibling of [[incrementalRead]] polling. Rows arrive
    * per-commit in version order within a key (later commits are later
    * files); downstream dedupe/resolution is the consumer's choice
    * (e.g. `StreamOps.keepFirstRows` keyed on (partition, key, ver)).
    *
    * Compaction deletes delta dirs: a consumer lagging past a compaction
    * loses unread commits (same contract as [[incrementalRead]]'s
    * horizon). Schedule compaction beyond the consumer's max lag, or
    * leave it off on CDC-fed tables. Requires at least one prior upsert
    * (the recorded schema). */
  def streamIncremental(spark: SparkSession): DataFrame = {
    val sch = recordedSchema(spark).getOrElse(
      throw new IllegalArgumentException(
        s"no recorded schema at $path — upsert at least once before streaming"))
    // Partition discovery can't span multiple commit roots (the non-kv
    // c* segment between basePath and the kv dirs is a "conflicting
    // directory structure" to the file source), so glob straight down to
    // the leaf dirs with the data-column schema and re-derive each
    // partition value from the file path (undoing Hive's %XX escaping),
    // cast to its recorded type.
    val dataSch = StructType(sch.fields.filterNot(f => partitionCols.contains(f.name)))
    val glob = (s"$deltaPath/c*" +: partitionCols.map(c => s"$c=*")).mkString("/")
    val raw = spark.readStream.schema(dataSch).parquet(glob)
    val withParts = partitionCols.foldLeft(raw) { (df, c) =>
      // Hive path escaping is %XX only — it does NOT escape '+', which
      // url_decode would turn into a space; pre-escape '+' so only the
      // %XX pairs decode. Null partitions round-trip via the Hive
      // default-partition sentinel.
      val rawVal = regexp_extract(input_file_name(), s"/$c=([^/]+)/", 1)
      val unescaped = url_decode(replace(rawVal, lit("+"), lit("%2B")))
      df.withColumn(c,
        when(unescaped === "__HIVE_DEFAULT_PARTITION__", lit(null))
          .otherwise(unescaped).cast(sch(c).dataType))
    }
    withParts.select(sch.fieldNames.map(col).toSeq: _*)
  }

  /** Read-optimized view (Hudi `_ro`): base files only — no merge cost,
    * data as of the last compaction. Tombstone rows (kept by compaction
    * so fully-deleted partitions overwrite their stale files) are
    * filtered here. */
  def readOptimized(spark: SparkSession): DataFrame = {
    val base = readDir(spark, basePath)
    require(base.nonEmpty, s"no base files at $path — run compact() first")
    base.get.where(notDeleted).drop(CommitCol)
  }

  /** Fold all delta commits into the base (Hudi compaction; the reference
    * schedules it NUM_OR_TIME every 600 s / N delta commits,
    * HudiOutput.java:441-442). Reads ONLY the partitions the deltas
    * touched, merges them with the matching base partitions, and
    * dynamically overwrites just those — untouched base partitions keep
    * their files byte-for-byte. Delete winners stay as tombstone rows
    * (see class doc) so a fully-tombstoned partition is rewritten, not
    * resurrected. */
  def compact(spark: SparkSession): Unit = {
    val seqs = commits(spark)
    if (seqs.isEmpty) return
    val deltas = seqs.map(s => readDir(spark, f"$deltaPath/c$s%09d").get)
      .reduce(_ unionByName _)
    val merged = readDir(spark, basePath) match {
      case Some(base) if partitionCols.nonEmpty =>
        // prune the base scan to touched partitions, derived from the
        // commit dirs' names — no scan+distinct+collect job (r16)
        base.where(touchedCond(spark, seqs)).unionByName(deltas)
      case Some(base) => base.unionByName(deltas)
      case None => deltas
    }
    // cluster the rewrite by partition dir so each touched dir gets a
    // contiguous set of writers (maxRecordsPerFile splits oversized
    // files; a pathological single-dir compaction would salt here)
    val resolved0 = resolve(merged, keepDeletes = true)
    val resolved =
      if (partitionCols.nonEmpty)
        // explicit N: see the upsert write path — AQE-coalesced keyed
        // repartitions serialize the per-dir writes
        resolved0.repartition(spark.sparkContext.defaultParallelism,
          partitionCols.map(col): _*)
      else resolved0
    // Publish the new horizon and heal the seq counter BEFORE the base
    // rewrite. A crash mid-rewrite then leaves a too-HIGH horizon, which
    // fails snapshotAt pins loudly (and over-conservatively — the deltas
    // still exist) instead of the reverse ordering's failure mode, where a
    // stale horizon passes the pin check yet silently returns base data
    // that already folded later commits. snapshot() stays correct either
    // way: deltas are deleted only after a successful rewrite, and
    // recovery is simply re-running compact(). The counter heal persists
    // max(counter, visible dirs) before those dirs are deleted, closing
    // the reissued-seq crash window lastCommitSeq documents.
    MarkerFile.write(spark, seqPath, lastCommitSeq(spark).toString)
    MarkerFile.write(spark, s"$path/_base_max_commit", seqs.max.toString)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val w = resolved.write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(basePath)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val f = fs(spark)
    seqs.foreach(s => f.delete(new Path(f"$deltaPath/c$s%09d"), true))
  }

  /** Hudi-cleaner-style tombstone retention. Post-compaction, delete
    * winners live on in the base as tombstone rows — required so
    * [[incrementalRead]] can emit the delete signal to lagging consumers
    * and so a fully-tombstoned partition keeps its (empty) identity. They
    * are NOT needed forever: once every consumer's checkpoint has passed
    * commit c, a tombstone with `__commit` < c informs nobody. `vacuum`
    * rewrites ONLY the partitions holding such expired tombstones
    * (dynamic partition overwrite, same pruned-rewrite shape as
    * [[compact]]) and drops those rows.
    *
    * Correctness: compaction keeps exactly one resolved row per key, so a
    * base tombstone masks nothing — removing it cannot change
    * [[snapshot]]/[[snapshotAt]] output (the snapshot filter drops it
    * anyway); only `incrementalRead(sinceCommit < beforeCommit)` loses
    * the delete signal, which is precisely the retention contract the
    * caller asserts (Hudi's "cleaner retain commits" semantics).
    * Tombstones newer than the compaction horizon live in delta dirs and
    * are never touched. Returns the number of purged tombstone rows. */
  def vacuum(spark: SparkSession, beforeCommit: Long): Long = {
    require(deleteCol.nonEmpty, "vacuum needs a delete column")
    readDir(spark, basePath) match {
      case None => 0L
      case Some(base) =>
        val horizon = baseMaxCommit(spark)
        val expired = base.where(!notDeleted &&
          col(CommitCol) < math.min(beforeCommit, horizon + 1))
        val touched =
          if (partitionCols.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else expired.select(partitionCols.map(col): _*).distinct().collect()
        val purged = expired.count()
        if (purged == 0L) return 0L
        val keep =
          if (partitionCols.isEmpty) base.where(notDeleted ||
            col(CommitCol) >= math.min(beforeCommit, horizon + 1))
          else {
            val cond = touched.map(r => partitionCols.zipWithIndex.map {
              case (c, i) => col(c) <=> lit(r.get(i))
            }.reduce(_ && _)).reduce(_ || _)
            base.where(cond).where(notDeleted ||
              col(CommitCol) >= math.min(beforeCommit, horizon + 1))
          }
        val clustered =
          if (partitionCols.nonEmpty)
            keep.repartition(spark.sparkContext.defaultParallelism,
              partitionCols.map(col): _*)
          else keep
        val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try {
          val w = clustered.write.mode("overwrite")
            .option("maxRecordsPerFile", maxRecordsPerFile)
          (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
            .parquet(basePath)
        } finally prev match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        purged
    }
  }

  /** Streaming upsert sink: each micro-batch is one delta commit, with
    * inline compaction every `compactEveryCommits` (the reference's
    * COMPACTION_DELTA_COMMITS trigger). Commit seqs advance per batch —
    * monotonically even across compactions, via the persisted counter —
    * so a replayed batch after a failure re-runs as a LATER commit with
    * the same precombine values — latest-version resolution makes the
    * replay idempotent for readers, like Hudi's upsert path. */
  def streamUpsert(df: DataFrame, checkpoint: String,
      compactEveryCommits: Int = 5): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val seq = upsert(batch)
        if (compactEveryCommits > 0 && seq % compactEveryCommits == 0)
          compact(batch.sparkSession)
      }
}
