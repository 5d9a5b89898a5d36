package graft

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftLog, StagedWrite, Staging}

/** Graft's staging primitive ([[StagedWrite]]): files are written in
  * place into their fresh staging dir and reported by the writing tasks,
  * so a write leaves exactly its committed files, renames and lists
  * nothing, and ships its tasks a conf of tens of entries. */
class StagedWriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag)).toDF("id", "tag")

  /** Run `f` with [[StagingFs]] as the `file:` filesystem (uncached, so
    * every resolution builds one), restoring the conf afterwards. */
  private def throughStagingFs[T](f: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[StagingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try f
    finally saved.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
  }

  /** Visible files under `dir` (recursively), relative to `base`; the
    * local filesystem's hidden `.crc` sidecars are left out. */
  private def filesUnder(base: File, dir: File): Set[String] =
    if (!dir.exists) Set.empty
    else dir.listFiles.toSet.flatMap { (f: File) =>
      if (f.isDirectory) filesUnder(base, f)
      else if (f.getName.startsWith(".")) Set.empty[String]
      else Set(base.toURI.relativize(f.toURI).getPath)
    }

  /** Every data file and DV sidecar any version of `t` committed. */
  private def committed(t: String): Set[String] =
    GraftLog.versions(spark, t).flatMap { v =>
      GraftLog.snapshot(spark, t, Some(v))._1 ++
        GraftLog.deletionVectors(spark, t, Some(v))
    }.toSet

  test("an append, merge, DV delete and checkpoint leave exactly their " +
      "committed files, and rename or list no staging dir") {
    val t = Staging.tempDir("graft_staged_") + "/t"
    GraftLog.overwrite(df(0 until 40, "a").repartition(2), t)
    val before = StagingFs.snapshot()
    throughStagingFs {
      GraftLog.append(df(40 until 60, "b").repartition(2), t)
      GraftLog.merge(df(10 until 15, "m").union(df(60 until 62, "m")), t,
        Seq("id"))
      GraftLog.deleteVectors(spark, t, col("id") < 5L)
      GraftLog.checkpoint(spark, t)
    }
    val d = StagingFs.snapshot().map { case (k, v) => k -> (v - before(k)) }
    // the checkpoint's one directory rename is its publish step
    assert(d("renames") == 1L, d)
    assert(d("stagingListings") == 0L, d)
    assert(d("markers") == 0L, d)
    assert(d("stagingCreates") > 0L, d) // the writes went through it
    val root = new File(t)
    val onDisk = filesUnder(root, new File(root, "_data")) ++
      filesUnder(root, new File(root, "_dv"))
    assert(onDisk == committed(t))
    val everything = filesUnder(root, root)
    assert(!everything.exists(f =>
      f.contains("_temporary") || f.endsWith("_SUCCESS")), everything)
    assert(GraftLog.read(spark, t).count() == 57L)
  }

  test("a task that fails mid-write never has its files committed") {
    val t = Staging.tempDir("graft_staged_") + "/t"
    GraftLog.overwrite(df(0 until 10, "a"), t)
    // one task: it writes rows, then throws while its file is open
    val batch = spark.range(0L, 50L, 1L, 1).as[Long].mapPartitions { it =>
      it.zipWithIndex.map { case (id, i) =>
        if (i == 20) TaskHook.fire()
        (id + 100L, "f")
      }
    }.toDF("id", "tag")
    TaskHook.arm(() => throw new IllegalStateException("task dies"))
    val outcome =
      try scala.util.Try(GraftLog.append(batch, t))
      finally TaskHook.arm(null)
    val root = new File(t)
    assert(filesUnder(root, new File(root, "_data")) == committed(t))
    outcome match {
      case scala.util.Failure(_) => // the job failed: nothing landed
        assert(GraftLog.versions(spark, t) == Seq(0L))
        assert(GraftLog.read(spark, t).count() == 10L)
      case scala.util.Success(_) => // a retried attempt landed alone
        assert(GraftLog.read(spark, t).count() == 60L)
    }
  }

  test("a custom file: FileSystem in the session conf stages the files") {
    val t = Staging.tempDir("graft_staged_") + "/t"
    GraftLog.overwrite(df(0 until 10, "a"), t)
    val (files0, before) =
      (GraftLog.snapshot(spark, t)._1.size, StagingFs.dataCreates.get)
    throughStagingFs(GraftLog.append(df(10 until 30, "b").repartition(3), t))
    val staged = GraftLog.snapshot(spark, t)._1.size - files0
    assert(staged == 3)
    assert(StagingFs.dataCreates.get - before == staged.toLong)
    // with the conf restored, the next write no longer reaches it
    val after = StagingFs.dataCreates.get
    GraftLog.append(df(30 until 35, "c"), t)
    assert(StagingFs.dataCreates.get == after)
    assert(GraftLog.read(spark, t).count() == 35L)
  }

  test("a staged write task deserializes tens of conf entries, not the " +
      "session's whole Hadoop conf") {
    val t = Staging.tempDir("graft_staged_") + "/t"
    StagedWrite.taskConfEntries.set(-1)
    GraftLog.overwrite(df(0 until 10, "a").repartition(2), t)
    val shipped = StagedWrite.taskConfEntries.get
    val base = spark.sparkContext.hadoopConfiguration.size
    assert(shipped > 0 && shipped < 100, s"$shipped entries")
    assert(base > 10 * shipped, s"$shipped of $base entries")
  }
}

/** A local filesystem that counts what graft's staging must not do:
  * renames, listings of staging dirs (`_data`/`_dv` directories — a
  * plain parquet read of a data FILE also lists it, as a leaf), and
  * output-committer markers; plus the data files it creates. */
class StagingFs extends LocalFileSystem {
  private def staging(p: Path) = {
    val s = p.toUri.getPath
    s.contains("/_data") || s.contains("/_dv")
  }
  override def rename(src: Path, dst: Path): Boolean = {
    StagingFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    if (staging(f) && !f.getName.endsWith(".parquet"))
      StagingFs.stagingListings.incrementAndGet()
    super.listStatus(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    if (f.toUri.getPath.contains("_temporary"))
      StagingFs.markers.incrementAndGet()
    super.mkdirs(f, permission)
  }
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val s = f.toUri.getPath
    if (s.contains("_temporary") || f.getName == "_SUCCESS")
      StagingFs.markers.incrementAndGet()
    if (staging(f) && f.getName.endsWith(".parquet")) {
      StagingFs.stagingCreates.incrementAndGet()
      if (s.contains("/_data/")) StagingFs.dataCreates.incrementAndGet()
    }
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object StagingFs {
  val renames, stagingListings, markers, stagingCreates, dataCreates =
    new AtomicLong

  def snapshot(): Map[String, Long] = Map(
    "renames" -> renames.get, "stagingListings" -> stagingListings.get,
    "markers" -> markers.get, "stagingCreates" -> stagingCreates.get)
}
