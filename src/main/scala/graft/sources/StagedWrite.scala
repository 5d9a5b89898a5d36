package graft.sources

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter,
  OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.TaskOutput
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Graft's one staging primitive: every parquet write under a table root
  * (data files, deletion-vector sidecars, the columnar checkpoint) runs
  * Spark's `FileFormatWriter.write` — the call Delta's
  * `TransactionalWrite` makes — with three pieces of its own:
  *
  *  - '''In-place commit.''' Each task writes its `part-…` files straight
  *    into the fresh staging dir (under `col=val` / `gfb<n>_col` dirs when
  *    partitioned). The dir is unique per write and no reader references
  *    it until the log commit lands, so there is nothing to publish: no
  *    `_temporary`, no rename, no `_SUCCESS`, and no listing afterwards —
  *    each task reports the relative path and size of every file it
  *    closed. A task that fails deletes its own files; a failed job
  *    deletes the dir.
  *  - '''Stats in the writing task.''' With a stats schema, the task
  *    reads the footers it just wrote (with its own conf) and derives the
  *    commit stats from them ([[footerStats]]). A file whose footer
  *    cannot prove them comes back without stats, and the caller scans
  *    that file alone.
  *  - '''One shipped conf.''' Spark's own writers serialize the session's
  *    whole Hadoop conf (about 1,100 entries) into every write task — and
  *    a second copy inside the stats tracker — and each task pays for
  *    its deserialization. Here the job description carries only a
  *    `Configuration(false)` with the session's SQL entries and the keys
  *    `prepareWrite` sets; the base `sparkContext.hadoopConfiguration`
  *    travels once, as a broadcast reused until its content changes
  *    ([[ShippedConf]]). The writer factory and the committer see base +
  *    description entries: the keys a `DataFrameWriter` task sees, so the
  *    bytes written are the same.
  *
  * The write runs as its own SQL execution, as `DataFrameWriter` does, so
  * `QueryExecutionListener`s see every staged write. */
private[graft] object StagedWrite {

  /** A file one write produced: its path relative to the staging dir,
    * its bytes, and its commit stats when the footer proves them. */
  final case class Written(path: String, size: Long,
      stats: Option[Map[String, (Double, Double)]])

  /** Entries of the Hadoop conf the last staged write task deserialized
    * (its job description's conf, plus the few ids the task sets). */
  private[graft] val taskConfEntries = new AtomicInteger(-1)

  /** Write `df` as parquet into the fresh dir `dir` (absolute), under
    * the `layout` columns' dirs, and return every file written, sorted
    * by path. With `withStats`, each file carries its footer-derived
    * commit stats over the data columns. */
  def apply(df: DataFrame, dir: String, layout: Seq[String],
      withStats: Boolean): Seq[Written] = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    layout.foreach(c => require(df.columns.exists(_.equalsIgnoreCase(c)),
      s"partition column $c not in ${df.columns.mkString(",")}"))
    // the planned-write shape of a partitioned DataFrameWriter: a local
    // sort by the partition columns, optimized with the rest of the plan
    val toWrite =
      if (layout.isEmpty) df
      else df.sortWithinPartitions(
        layout.map(c => df.col(s"`${c.replace("`", "``")}`")): _*)
    val qe = toWrite.queryExecution
    val plan = qe.executedPlan
    val out = plan.output
    val partAttrs = layout.map(c => out.find(_.name.equalsIgnoreCase(c)).get)
    val dataSchema = StructType(out.filterNot(partAttrs.contains)
      .map(a => StructField(a.name, a.dataType, a.nullable)))
    val names = out.map(_.name.toLowerCase)
    require(names.distinct.size == names.size,
      s"duplicate column names in ${out.map(_.name).mkString(",")}")
    // resolve the dir's FileSystem with the full conf first: the small
    // description conf below must never be the one that creates (and
    // caches) it
    val dirFs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val small = new Configuration(false)
    spark.sessionState.conf.getAllConfs.foreach { case (k, v) =>
      if (v ne null) small.set(k, v) }
    val commit = new InPlaceCommit(dir, ShippedConf.of(spark.sparkContext),
      if (withStats && dataSchema.nonEmpty) Some(dataSchema) else None, dirFs)
    SQLExecution.withNewExecutionId(qe, Some("stage")) {
      FileFormatWriter.write(
        sparkSession = spark,
        plan = plan,
        fileFormat = new TaskConfParquet(commit),
        committer = commit,
        outputSpec = FileFormatWriter.OutputSpec(dir, Map.empty, out),
        hadoopConf = small,
        partitionColumns = partAttrs,
        bucketSpec = None,
        statsTrackers = Nil,
        options = Map.empty)
    }
    commit.written.sortBy(_.path)
  }

  /** The base Hadoop conf as one broadcast per content: a write reuses
    * the last broadcast while `sparkContext.hadoopConfiguration` holds
    * the same entries, and broadcasts a copy when they changed. A
    * replaced broadcast is only dropped — an in-flight write may still
    * read it — and Spark's `ContextCleaner` frees it once unreachable. */
  private object ShippedConf {
    private var last: Option[(SparkContext, java.util.Map[String, String],
      Broadcast[SerializableConfiguration])] = None

    def of(sc: SparkContext): Broadcast[SerializableConfiguration] =
      synchronized {
        val now = new java.util.HashMap[String, String]()
        sc.hadoopConfiguration.iterator.asScala
          .foreach(e => now.put(e.getKey, e.getValue))
        last match {
          case Some((c, seen, b)) if (c eq sc) && seen == now => b
          case _ =>
            val b = sc.broadcast(new SerializableConfiguration(
              new Configuration(sc.hadoopConfiguration)))
            last = Some((sc, now, b))
            b
        }
      }
  }

  /** Per-file commit stats from a parquet footer, exactly as the scan
    * fallback computes them: min/max of `cast(c as double)` for every
    * numeric column and `(nullCount, numRecords)` under the
    * [[GraftLog.NullStatsSuffix]] pseudo key for every column. None —
    * the caller scans the file — when the footer cannot prove them.
    * FLAT columns are one parquet leaf whose Statistics carry exact
    * numNulls (+ typed min/max for the numeric families). NESTED columns
    * (array/struct/map) have leaf-level null counts that in general
    * differ from the row-level column null count — but one implication
    * is exact: a row-level NULL forces a definition level below max at
    * EVERY leaf beneath the field, so if every leaf chunk under the field
    * reports numNulls == 0 there are zero null rows and the recorded
    * `<col>#nulls` is exactly (0, rows), bit-identical to the scan's.
    * Any leaf null (which may be an empty array, a null element, or a
    * genuine null row — indistinguishable from the footer) falls back to
    * the scan. MinHash signature / embedding state tables write dense
    * never-null arrays, so their commits take the footer path. */
  def footerStats(blocks: Seq[BlockMetaData], schema: StructType)
      : Option[Map[String, (Double, Double)]] = {
    val numeric = numericFields(schema).map(_.name).toSet
    val rows = blocks.map(_.getRowCount).sum
    val nulls = GraftLog.NullStatsSuffix
    // fold each column's chunks across row groups; bail (None) on any
    // chunk without exact null counts, or any non-empty numeric chunk
    // without min/max
    val perCol: Seq[Option[Seq[(String, (Double, Double))]]] =
      schema.fields.toSeq.map { fd =>
        fd.dataType match {
          case _: StructType | _: ArrayType | _: MapType =>
            // every leaf under the field, in every row group, must carry
            // exact stats with ZERO nulls for the row-level null count
            // to be provably 0 (scaladoc above)
            val leafChunks = blocks.map(_.getColumns.asScala.filter(
              _.getPath.toDotString.startsWith(fd.name + ".")))
            if (leafChunks.exists(_.isEmpty)) None
            else {
              val sts = leafChunks.flatten.map(_.getStatistics)
              if (sts.exists(s => s == null || !s.isNumNullsSet) ||
                  sts.exists(_.getNumNulls != 0L)) None
              else Some(Seq(s"${fd.name}$nulls" -> ((0.0, rows.toDouble))))
            }
          case _ =>
            val chunks = blocks.flatMap(_.getColumns.asScala.find(
              _.getPath.toDotString == fd.name))
            if (chunks.size != blocks.size) None
            else {
              val stats = chunks.map(_.getStatistics)
              if (stats.exists(s => s == null || !s.isNumNullsSet)) None
              else {
                val n = stats.map(_.getNumNulls).sum
                val nullsKv = s"${fd.name}$nulls" ->
                  ((n.toDouble, rows.toDouble))
                if (!numeric(fd.name)) Some(Seq(nullsKv))
                else {
                  val nonEmpty = stats.filter(_.hasNonNullValue)
                  if (nonEmpty.isEmpty && n < rows) None // no stats
                  else if (nonEmpty.isEmpty) Some(Seq(nullsKv)) // all null
                  else {
                    val mns = nonEmpty.map(s => numberOf(s.genericGetMin))
                    val mxs = nonEmpty.map(s => numberOf(s.genericGetMax))
                    if (mns.contains(None) || mxs.contains(None)) None
                    else Some(Seq(
                      fd.name -> ((mns.flatten.min, mxs.flatten.max)),
                      nullsKv))
                  }
                }
              }
            }
        }
      }
    if (perCol.contains(None)) None else Some(perCol.flatten.flatten.toMap)
  }

  /** The columns that carry min/max stats. */
  def numericFields(schema: StructType): Array[StructField] =
    schema.fields.filter(f => f.dataType match {
      case LongType | IntegerType | ShortType | FloatType | DoubleType => true
      case _ => false
    })

  /** Typed footer min/max → the double the scan's `cast(c as double)`
    * yields (exact for int/short; the long/float→double conversions are
    * monotone, so extrema commute with the cast). */
  private def numberOf(v: Any): Option[Double] = v match {
    case i: java.lang.Integer => Some(i.intValue.toDouble)
    case l: java.lang.Long    => Some(l.longValue.toDouble)
    case f: java.lang.Float   => Some(f.floatValue.toDouble)
    case d: java.lang.Double  => Some(d.doubleValue)
    case _ => None
  }
}

/** Parquet whose writers run on the task conf of `commit` (base +
  * description entries) instead of the description's small conf. */
private final class TaskConfParquet(commit: InPlaceCommit)
    extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType)
      : OutputWriterFactory = {
    val inner = super.prepareWrite(spark, job, options, dataSchema)
    new OutputWriterFactory {
      override def getFileExtension(ctx: TaskAttemptContext): String =
        inner.getFileExtension(commit.taskContext(ctx))
      override def newInstance(path: String, schema: StructType,
          ctx: TaskAttemptContext): OutputWriter =
        inner.newInstance(path, schema, commit.taskContext(ctx))
    }
  }
}

/** The in-place commit protocol of [[StagedWrite]]. One instance lives on
  * the driver (job setup and commit); each task deserializes its own copy
  * — the writer factory above references this same copy, so a task
  * builds its merged conf once. Files are named
  * `part-<split>-<attempt uuid><suffix>`: a retried or speculative
  * attempt never collides with another's files, and the names sort by
  * task, then by file within the task. */
private final class InPlaceCommit(dir: String,
    base: Broadcast[SerializableConfiguration],
    statsSchema: Option[StructType],
    @transient dirFs: FileSystem) extends FileCommitProtocol with Serializable {

  /** Driver side: every file the job's tasks committed. */
  @transient var written: Seq[StagedWrite.Written] = Nil

  // task side
  @transient private var files: mutable.ArrayBuffer[String] = _
  @transient private var tag: String = _
  @transient private var ctx: TaskAttemptContext = _

  /** The task's context on base + description entries. */
  def taskContext(c: TaskAttemptContext): TaskAttemptContext = synchronized {
    if (ctx == null) {
      val conf = new Configuration(base.value.value)
      c.getConfiguration.iterator.asScala
        .foreach(e => conf.set(e.getKey, e.getValue))
      ctx = new TaskAttemptContextImpl(conf, c.getTaskAttemptID)
    }
    ctx
  }

  override def setupJob(job: JobContext): Unit = ()

  override def commitJob(job: JobContext,
      commits: Seq[TaskCommitMessage]): Unit =
    written = commits.flatMap(_.obj.asInstanceOf[Seq[StagedWrite.Written]])

  override def abortJob(job: JobContext): Unit =
    try dirFs.delete(new HPath(dir), true)
    catch { case scala.util.control.NonFatal(_) => () } // orphans: vacuum

  override def setupTask(c: TaskAttemptContext): Unit = {
    files = mutable.ArrayBuffer.empty
    tag = UUID.randomUUID().toString
    StagedWrite.taskConfEntries.set(c.getConfiguration.size)
  }

  override def newTaskTempFile(c: TaskAttemptContext, sub: Option[String],
      ext: String): String = {
    val split = c.getTaskAttemptID.getTaskID.getId
    val name = f"part-$split%05d-$tag$ext"
    val rel = sub.fold(name)(d => s"$d/$name")
    files += rel
    s"$dir/$rel"
  }

  override def newTaskTempFileAbsPath(c: TaskAttemptContext,
      absoluteDir: String, ext: String): String =
    throw new UnsupportedOperationException(
      "graft staging writes no custom partition locations")

  override def commitTask(c: TaskAttemptContext): TaskCommitMessage = {
    lazy val conf = taskContext(c).getConfiguration
    val out = files.toSeq.map { rel =>
      val in = HadoopInputFile.fromPath(new HPath(s"$dir/$rel"), conf)
      val stats = statsSchema.flatMap { schema =>
        try {
          val r = ParquetFileReader.open(in,
            HadoopReadOptions.builder(conf).build())
          try StagedWrite.footerStats(
            r.getFooter.getBlocks.asScala.toSeq, schema)
          finally r.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      }
      StagedWrite.Written(rel, in.getLength, stats)
    }
    TaskOutput.bytesWritten(out.map(_.size).sum)
    new TaskCommitMessage(out)
  }

  override def abortTask(c: TaskAttemptContext): Unit = {
    lazy val conf = taskContext(c).getConfiguration
    files.foreach { rel =>
      val p = new HPath(s"$dir/$rel")
      try p.getFileSystem(conf).delete(p, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
