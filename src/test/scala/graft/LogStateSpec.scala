package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftFileIndex, GraftLog, LogCounters}

/** The memoized table state behind the log accessors: what one
  * operation reads from `_graft_log` (pinned by the log counters), and
  * that the memo never serves a state the files on disk no longer
  * back. */
class LogStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    graft.sources.Staging.tempDir("graft_state_spec_") + "/t"

  private def df(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag)).toDF("id", "tag").coalesce(1)

  /** Log-counter deltas over `f`. */
  private def counted[A](f: => A): (A, Map[String, Long]) = {
    val before = LogCounters.read()
    val r = f
    val after = LogCounters.read()
    (r, after.map { case (k, v) => k -> (v - before(k)) })
  }

  /** A table of `n` versions: one overwrite, then appends of 5 rows. */
  private def table(n: Int): String = {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "v0"), t)
    (1 until n).foreach(i => GraftLog.append(df(i * 5 until i * 5 + 5,
      s"v$i"), t))
    t
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  test("a steady append lists the log once and reads no commit file") {
    val t = table(13) // v0..v12, the auto-checkpoint at v10 among them
    assert(GraftLog.checkpointVersions(spark, t) == Seq(10L))
    val (v, c) = counted(GraftLog.append(df(100 until 105, "s"), t))
    assert(v == 13L)
    assert(c("listings") == 1, c)
    assert(c("commitReads") == 0, c)
    assert(c("checkpointDecodes") == 0, c)
    assert(c("memoHits") == 1, c)
    assert(GraftLog.read(spark, t).count() == 70)
  }

  test("every write entry point lists the log once and reads no commit " +
      "file") {
    import org.apache.spark.sql.functions.lit
    def pin[A](f: => A): (Long, Long) = {
      val c = counted(f)._2
      (c("listings"), c("commitReads"))
    }
    def hive(): String = {
      val t = tmp()
      GraftLog.overwritePartitioned(df(0 until 5, "a"), t, Seq("tag"))
      GraftLog.appendPartitioned(df(5 until 10, "b"), t, Seq("tag"))
      t
    }
    val src = graft.sources.Staging.tempDir("graft_state_copy_") + "/in"
    df(200 until 205, "c").write.parquet(src)
    val batch = df(100 until 105, "s")
    // the tables are built before the counted writes
    val (flats, hives) = (Seq.fill(9)(table(2)), Seq.fill(2)(hive()))
    val pins = Seq[(String, String => Any)](
      "append" -> (GraftLog.append(batch, _)),
      "appendPartitioned" -> (GraftLog.appendPartitioned(batch, _, Seq("tag"))),
      "appendMergeSchema" ->
        (GraftLog.appendMergeSchema(batch.withColumn("x", lit(1L)), _)),
      "txnAppend" -> (GraftLog.txnAppend(batch, _, "pin", 0L)),
      "txnAppendPartitioned" ->
        (GraftLog.txnAppendPartitioned(batch, _, "pin", 0L, Seq("tag"))),
      "copyInto" -> (GraftLog.copyInto(spark, _, src)),
      "overwrite" -> (GraftLog.overwrite(batch, _)),
      "overwriteTxn" -> (GraftLog.overwriteTxn(batch, _, "pin", 0L)),
      "overwritePartitioned" ->
        (GraftLog.overwritePartitioned(batch, _, Seq("tag"))),
      "overwriteBucketTransform" ->
        (GraftLog.overwriteBucketTransform(batch, _, "id", 4)),
      "overwriteIndexed" -> (GraftLog.overwriteIndexed(batch, _, Seq("tag"))),
      "createGenerated" ->
        (GraftLog.createGenerated(batch, _, Map("id2" -> "id * 2"), Nil)))
    val targets = Seq(flats(0), hives(0), flats(1), flats(2), hives(1)) ++
      flats.drop(3) :+ tmp()
    val counts = pins.zip(targets).map { case ((name, write), t) =>
      name -> pin(write(t)) }
    assert(counts.forall(_._2 == ((1L, 0L))), counts.mkString(", "))
  }

  /** A metadata commit (`change`) made while the write `op` runs — the
    * hook fires in the Spark task that first reads the batch, after the
    * write read its state — must fail the write loudly and land none of
    * its rows. `change` runs Spark jobs of its own, so the task hands it
    * to a thread of the driver's session and waits for it. */
  private def metadataLandsMidWrite(change: String => Any)(
      op: (DataFrame, String) => Any): Unit = {
    val t = table(3)
    val batch = df(100 until 103, "w").as[(Long, String)]
      .mapPartitions { it => TaskHook.fire(); it }.toDF("id", "tag")
    TaskHook.arm(() => {
      val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val th = new Thread(() =>
        try {
          org.apache.spark.sql.SparkSession.setActiveSession(spark)
          change(t); ()
        } catch { case e: Throwable => failed.set(e) })
      th.start(); th.join()
      Option(failed.get).foreach(e => throw e)
    })
    try intercept[java.util.ConcurrentModificationException](op(batch, t))
    finally TaskHook.arm(null)
    assert(GraftLog.read(spark, t).count() == 15)
  }

  test("a CHECK or DEFAULT change landing while a write stages fails it") {
    val changes = Seq[String => Any](
      GraftLog.addConstraint(spark, _, "pos", "id >= 0"),
      GraftLog.setColumnDefault(spark, _, "tag", "'d'"))
    val writes = Seq[(DataFrame, String) => Any](
      GraftLog.append(_, _), GraftLog.overwrite(_, _))
    for (change <- changes; write <- writes)
      metadataLandsMidWrite(change)(write)
  }

  test("a checkpoint commit writes from the folded state") {
    val t = table(10) // v0..v9
    val (_, c) = counted(GraftLog.append(df(100 until 105, "ck"), t))
    assert(GraftLog.checkpointVersions(spark, t) == Seq(10L))
    assert(c("listings") == 1 && c("commitReads") == 0 &&
      c("checkpointDecodes") == 0, c)
    // the checkpoint this process wrote is never decoded in it, and
    // the next commit and read start from the memo, not the checkpoint
    val (n, r) = counted {
      GraftLog.append(df(105 until 110, "after"), t)
      GraftLog.read(spark, t).count()
    }
    assert(n == 60)
    assert(r("commitReads") == 0 && r("checkpointDecodes") == 0, r)
  }

  test("the columnar checkpoint keeps the case-class row schema") {
    assert(GraftLog.CkptSchema ==
      org.apache.spark.sql.Encoders.product[GraftLog.CkptRow].schema)
    val t = table(10)
    GraftLog.append(df(100 until 105, "ck"), t) // v10 checkpoints
    val pq = spark.read.parquet(f"$t/_graft_log/${10}%020d.checkpoint.parquet")
    assert(pq.columns.toSeq == GraftLog.CkptSchema.fieldNames.toSeq)
    assert(pq.inputFiles.length == 1)
    assert(pq.filter($"kind" === "add").count() == 11)
  }

  test("building a GraftFileIndex lists the log once") {
    val t = table(12)
    val probe = EqualTo(AttributeReference("id", LongType)(), Literal(7L))
    val (kept, c) = counted {
      val idx = new GraftFileIndex(spark, t)
      idx.countAfterPruning(Seq(probe))
    }
    assert(kept == 1, "stats pruning keeps the one file holding id 7")
    assert(c("listings") == 1 && c("commitReads") == 0 &&
      c("checkpointDecodes") == 0, c)
  }

  test("a table dropped and recreated at the same path is re-read") {
    val t = table(3)
    assert(GraftLog.read(spark, t).count() == 15) // memo at v2
    // the recreated table never passes through this process's log API
    // at `t`: it is built elsewhere and moved into place
    val other = table(6)
    GraftLog.append(df(900 until 903, "other"), other)
    rmrf(new java.io.File(t))
    Files.move(Paths.get(other), Paths.get(t))
    assert(GraftLog.versions(spark, t) == (0L to 6L))
    val ids = GraftLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids == ((0L until 30L) ++ (900L until 903L)).toSet)
    assert(GraftLog.append(df(950 until 952, "next"), t) == 7L)
    assert(GraftLog.read(spark, t).count() == 35)
  }

  test("a hand-written commit is seen by the next read and write") {
    val t = table(4)
    assert(GraftLog.properties(spark, t).isEmpty) // memo at v3
    val schemaDdl = GraftLog.snapshot(spark, t)._2.toDDL
      .replace("\"", "\\\"")
    Files.writeString(Paths.get(f"$t/_graft_log/${4}%020d.json"),
      s"""{"version":4,"operation":"set_properties",""" +
        s""""add":[],"remove":[],"schemaDdl":"$schemaDdl",""" +
        s""""timestampMs":${System.currentTimeMillis()},""" +
        s""""props":{"graft.note":"by hand"}}""")
    assert(GraftLog.properties(spark, t) == Map("graft.note" -> "by hand"))
    assert(GraftLog.append(df(100 until 102, "w"), t) == 5L)
    assert(GraftLog.properties(spark, t) == Map("graft.note" -> "by hand"),
      "the append inherits the hand-written commit's properties")
    assert(GraftLog.read(spark, t).count() == 22)
  }

  test("vacuum below the memo version and time travel past it") {
    val t = table(6)
    assert(GraftLog.read(spark, t).count() == 30) // memo at v5
    GraftLog.vacuum(spark, t, retainVersions = 2)
    assert(GraftLog.versions(spark, t) == Seq(4L, 5L))
    assert(GraftLog.read(spark, t).count() == 30)
    intercept[IllegalArgumentException] { GraftLog.readVersion(spark, t, 2L) }
    assert(GraftLog.readVersion(spark, t, 4L).count() == 25)
    assert(GraftLog.append(df(100 until 105, "x"), t) == 6L)
    assert(GraftLog.read(spark, t).count() == 35)

    val u = table(5)
    assert(GraftLog.read(spark, u).count() == 25) // memo at v4
    assert(GraftLog.readVersion(spark, u, 1L).count() == 10)
    assert(GraftLog.snapshot(spark, u, Some(2L))._1.size == 3)
    // the older reads left the memo at the latest version
    val (n, c) = counted(GraftLog.read(spark, u).count())
    assert(n == 25 && c("memoHits") == 1 && c("commitReads") == 0, c)
  }

  test("a lost OCC race still conflicts, and racing writers all land") {
    val t = table(2)
    // a claim on top of a state another writer has since moved past
    val st = GraftLog.logState(spark, t).get
    GraftLog.append(df(100 until 105, "winner"), t)
    intercept[GraftLog.CommitConflictException] {
      GraftLog.writeCommit(spark, t, GraftLog.Commit(st.version + 1,
        "append", Seq.empty, Seq.empty, st.schema.toDDL, 0L), Some(st))
    }
    // blind appends racing a property change: every writer lands once,
    // and every commit after the change still carries it
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val jobs = (0 until 4).map(i => () => {
        GraftLog.append(df(200 + 10 * i until 205 + 10 * i, s"r$i"), t)
        ()
      }) :+ (() => {
        GraftLog.setProperties(spark, t, Map("graft.note" -> "raced")); ()
      })
      val fs = jobs.map(j => pool.submit(new java.util.concurrent
        .Callable[Unit] { def call(): Unit = { start.await(); j() } }))
      start.countDown()
      fs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(GraftLog.versions(spark, t) == (0L to 7L))
    assert(GraftLog.read(spark, t).count() == 10 + 5 + 20)
    assert(GraftLog.properties(spark, t).get("graft.note").contains("raced"))
  }

  test("an uncontended rewrite attempt lists the log once") {
    import org.apache.spark.sql.functions.{col, lit}
    import GraftLog.MergeClause
    def listings[A](f: => A): Long = counted(f)._2("listings")
    val t = table(4) // v0..v3
    val once = Seq(
      "merge" -> listings(GraftLog.merge(df(0 until 3, "m"), t, Seq("id"))),
      "mergeClauses" -> listings(GraftLog.mergeClauses(df(3 until 6, "c"),
        t, Seq("id"), matched = Seq(MergeClause.Update()),
        notMatched = Seq(MergeClause.Insert()))),
      "compact" -> listings(GraftLog.compact(spark, t)),
      "deleteVectors" ->
        listings(GraftLog.deleteVectors(spark, t, col("id") === 1)),
      "reorgPurge" -> listings(GraftLog.reorgPurge(spark, t)),
      "setProperties" -> listings(GraftLog.setProperties(spark, t,
        Map("graft.note" -> "n"))),
      // the file-index probe reads the attempt's state too
      "delete" -> listings(GraftLog.delete(spark, t, col("id") === 4)),
      "update" -> listings(GraftLog.update(spark, t, col("id") === 5,
        Seq("tag" -> lit("u")))),
      "deleteMatching" -> listings(GraftLog.deleteMatching(spark, t,
        Seq(6L).toDF("id"), Seq("id"))),
      "replaceWhere" -> listings(GraftLog.replaceWhere(df(7 until 8, "r"),
        t, col("id") === 7)))
    assert(once.forall(_._2 == 1), once.mkString(", "))
    val rows = GraftLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(rows.size == 17 && !rows.contains(1L) && !rows.contains(4L) &&
      !rows.contains(6L))
    assert(rows(0L) == "m" && rows(3L) == "c" && rows(5L) == "u" &&
      rows(7L) == "r" && rows(19L) == "v3")
  }

  test("a rewrite attempt on a hive-partitioned table lists the log " +
      "once") {
    import org.apache.spark.sql.functions.{col, lit}
    def listings[A](f: => A): Long = counted(f)._2("listings")
    val t = tmp()
    GraftLog.overwritePartitioned((0 until 20).map(i => (i.toLong,
      s"t$i", i % 4)).toDF("id", "tag", "p"), t, Seq("p"))
    // the touched files are re-read through a file index on the
    // attempt's state, not on a fresh read of the log
    val once = Seq(
      "deleteMatching" -> listings(GraftLog.deleteMatching(spark, t,
        Seq(6L).toDF("id"), Seq("id"), prune = Some(col("p") === 2))),
      "delete" -> listings(GraftLog.delete(spark, t, col("id") === 4)),
      "update" -> listings(GraftLog.update(spark, t, col("id") === 5,
        Seq("tag" -> lit("u")))),
      "merge" -> listings(GraftLog.merge(
        Seq((1L, "m", 1), (100L, "n", 0)).toDF("id", "tag", "p"), t,
        Seq("id"))),
      "compact" -> listings(GraftLog.compact(spark, t)))
    assert(once.forall(_._2 == 1), once.mkString(", "))
    val rows = GraftLog.read(spark, t).select("id", "tag").as[(Long, String)]
      .collect().toMap
    assert(rows.size == 19 && !rows.contains(4L) && !rows.contains(6L))
    assert(rows(1L) == "m" && rows(5L) == "u" && rows(100L) == "n" &&
      rows(7L) == "t7")
  }

  test("a SQL MERGE of the upsert shape lists the log at most 4 times") {
    val t = table(3)
    spark.sql("DROP TABLE IF EXISTS log_state_upsert")
    spark.sql(s"CREATE TABLE log_state_upsert USING graft OPTIONS (path '$t')")
    try {
      Seq((0L, "x", "D"), (1L, "y", "U"), (100L, "z", "I"), (101L, "w", "D"))
        .toDF("id", "tag", "op").createOrReplaceTempView("log_state_cdc")
      val (_, c) = counted(spark.sql(
        """MERGE INTO log_state_upsert t USING log_state_cdc s
          |ON t.id = s.id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET tag = s.tag
          |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, tag)
          |  VALUES (s.id, s.tag)""".stripMargin))
      // the analyzer's relation, the MERGE's state, and the two
      // relations RefreshAfterDml resolves again for the catalog table
      assert(c("listings") <= 4, c)
      val rows = GraftLog.read(spark, t).as[(Long, String)].collect().toMap
      assert(rows.size == 15 && !rows.contains(0L) && rows(1L) == "y" &&
        rows(100L) == "z" && !rows.contains(101L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS log_state_upsert")
      // SHOW TABLES IN any database lists the session's temp views
      spark.catalog.dropTempView("log_state_cdc")
    }
  }

  test("a flat rewrite from a light checkpoint state reads the log " +
      "for stats at most once") {
    val t = table(13) // v0..v12, the auto-checkpoint at v10 among them
    // as in a fresh JVM: the state starts from a light checkpoint
    // decode, which carries no per-file stats; the delete's file probe
    // reads them once, and its rewrite of the touched files needs none
    GraftLog.resetStateMemo()
    GraftLog.snapshot(spark, t)
    val (_, c) = counted(GraftLog.delete(spark, t,
      org.apache.spark.sql.functions.col("id") === 3L))
    assert(c("listings") == 2, c)
    assert(GraftLog.read(spark, t).count() == 64)
  }

  test("a flat delete and compact list no data file") {
    val t = table(4) // v0..v3: four flat files
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[DataListingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    val before = DataListingFs.dataListings.get
    try {
      GraftLog.delete(spark, t, org.apache.spark.sql.functions.col("id")
        .isin(1L, 7L))
      GraftLog.compact(spark, t)
    } finally saved.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
    // the rewrite reads the touched files through the attempt's state:
    // their sizes come from the log, so no data file is listed
    assert(DataListingFs.dataListings.get - before == 0L)
    assert(GraftLog.read(spark, t).count() == 18)
  }

  test("restore replays the target version once") {
    val t = table(6) // v0..v5, no checkpoint
    val (v, c) = counted(GraftLog.restore(spark, t, 2L))
    assert(v == 6L)
    assert(c("commitReads") == 3 && c("checkpointDecodes") == 0, c)
    assert(GraftLog.read(spark, t).count() == 15)
  }

  /** A commit made from inside the first attempt of `op` (the hook runs
    * in the Spark task that first reads `op`'s input) marks the table
    * append-only; the retry must refuse and land nothing. */
  private def appendOnlyLandsMidAttempt(op: String => Any): Unit = {
    val t = table(3)
    TaskHook.arm(() => {
      GraftLog.setProperties(spark, t, Map("graft.appendOnly" -> "true"))
      ()
    })
    try intercept[UnsupportedOperationException](op(t))
    finally TaskHook.arm(null)
    assert(GraftLog.history(spark, t).select("operation").as[String]
      .collect().toSeq == Seq("set_properties", "append", "append",
        "overwrite"))
    assert(GraftLog.read(spark, t).count() == 15)
  }

  test("a MERGE retried after the table turned append-only refuses") {
    appendOnlyLandsMidAttempt { t =>
      val source = df(0 until 3, "m").as[(Long, String)]
        .mapPartitions { it => TaskHook.fire(); it }.toDF("id", "tag")
      GraftLog.merge(source, t, Seq("id"))
    }
  }

  test("a keyed DELETE retried after the table turned append-only " +
      "refuses") {
    appendOnlyLandsMidAttempt { t =>
      val keys = Seq(1L, 2L).toDS()
        .mapPartitions { it => TaskHook.fire(); it }.toDF("id")
      GraftLog.deleteMatching(spark, t, keys, Seq("id"))
    }
  }
}

/** Runs an armed action once, from whichever thread fires first — here
  * a Spark task, so a test can land a commit while an operation's
  * attempt is working, without sleeps. */
object TaskHook {
  private val armed =
    new java.util.concurrent.atomic.AtomicReference[() => Unit]()
  def arm(f: () => Unit): Unit = armed.set(f)
  def fire(): Unit = Option(armed.getAndSet(null)).foreach(_())
}

/** A local filesystem that counts listings of data files (a parquet
  * file listed as a leaf: what a plain `spark.read.parquet(paths)`
  * does to each path it resolves). */
class DataListingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName.endsWith(".parquet"))
      DataListingFs.dataListings.incrementAndGet()
    super.listStatus(f)
  }
}

object DataListingFs {
  val dataListings = new java.util.concurrent.atomic.AtomicLong
}
