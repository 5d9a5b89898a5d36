package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftLog

class GraftLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    graft.sources.Staging.tempDir("graft_log_spec_") + "/t"

  private def df(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag)).toDF("id", "tag")

  test("refreshStats: appends fold, data-erasing removes poison") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 100, "a"), t)
    GraftLog.analyzeColumns(spark, t, Seq("id", "tag"))
    // append-only drift folds incrementally
    GraftLog.append(df(100 until 160, "b"), t)
    val r1 = GraftLog.refreshStats(spark, t)
    assert(r1.isDefined, "append-only drift must refresh")
    assert(r1.get._1 == 160L, s"exact rowCount, got ${r1.get._1}")
    // pure compaction removes files, not rows — still refreshes
    GraftLog.compact(spark, t)
    val r2 = GraftLog.refreshStats(spark, t)
    assert(r2.isDefined && r2.get._1 == 160L,
      "a compaction rewrite must not poison the fold")
    // a DELETE erases rows the KMV sketch cannot un-merge → None
    GraftLog.delete(spark, t, col("id") < 50)
    assert(GraftLog.refreshStats(spark, t).isEmpty,
      "data-erasing removes since the analyze point must refuse")
    // a fresh ANALYZE re-arms the incremental path
    GraftLog.analyzeColumns(spark, t, Seq("id", "tag"))
    GraftLog.append(df(200 until 220, "c"), t)
    val r3 = GraftLog.refreshStats(spark, t)
    assert(r3.isDefined && r3.get._1 == 130L)
    // string min/max are NOT re-asserted once new data arrived (the
    // fold has no per-file bounds for strings; "c" may widen them)
    assert(r3.get._3("tag").min.isEmpty && r3.get._3("tag").max.isEmpty,
      "grown table must drop analyze-time string bounds")
  }

  test("API-path commits refresh cached catalog relations") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 50, "a"), t)
    spark.sql("DROP TABLE IF EXISTS glog_fresh_t")
    spark.sql(s"CREATE TABLE glog_fresh_t USING graft OPTIONS (path '$t')")
    try {
      assert(spark.table("glog_fresh_t").count() == 50) // cache it
      // an API-path write (no SQL DML command, no manual REFRESH) must
      // be visible to the next catalog read — writeCommit invalidates
      // the cached relation by path
      GraftLog.append(df(50 until 80, "b"), t)
      assert(spark.table("glog_fresh_t").count() == 80,
        "catalog read must see the API-path append without REFRESH")
      GraftLog.delete(spark, t, col("id") < 10)
      assert(spark.table("glog_fresh_t").count() == 70,
        "catalog read must see the API-path delete without REFRESH")
      // …and the invalidation is SCOPED: a commit to THIS table must
      // not evict an unrelated table's cached relation (a multi-table
      // pipeline would otherwise re-read every log snapshot per commit)
      val t2 = tmp()
      GraftLog.overwrite(df(0 until 5, "z"), t2)
      spark.sql("DROP TABLE IF EXISTS glog_fresh_other")
      spark.sql(
        s"CREATE TABLE glog_fresh_other USING graft OPTIONS (path '$t2')")
      assert(spark.table("glog_fresh_other").count() == 5) // cache it
      val key = org.apache.spark.sql.catalyst.QualifiedTableName(
        "spark_catalog", // CatalogManager.SESSION_CATALOG_NAME (private[sql])
        spark.sessionState.catalog.getCurrentDatabase, "glog_fresh_other")
      assert(spark.sessionState.catalog.getCachedTable(key) != null,
        "precondition: the unrelated relation is cached")
      GraftLog.append(df(80 until 90, "c"), t)
      assert(spark.sessionState.catalog.getCachedTable(key) != null,
        "a commit to one table must not flush other tables' pins")
      assert(spark.table("glog_fresh_t").count() == 80,
        "the committed table itself is fresh")
      spark.sql("DROP TABLE IF EXISTS glog_fresh_other")
    } finally spark.sql("DROP TABLE IF EXISTS glog_fresh_t")
  }

  test("overwrite/append/read roundtrip + history") {
    val t = tmp()
    assert(GraftLog.overwrite(df(0 until 10, "a"), t) == 0L)
    assert(GraftLog.append(df(10 until 15, "b"), t) == 1L)
    val back = GraftLog.read(spark, t)
    assert(back.count() == 15)
    assert(back.filter($"tag" === "b").count() == 5)
    val h = GraftLog.history(spark, t).collect()
    assert(h.map(_.getString(1)).toSeq == Seq("append", "overwrite"))
  }

  test("time travel: every version stays readable after overwrite") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "v0"), t)
    GraftLog.overwrite(df(0 until 3, "v1"), t)
    assert(GraftLog.readVersion(spark, t, 0L).count() == 10)
    assert(GraftLog.readVersion(spark, t, 1L).count() == 3)
    assert(GraftLog.read(spark, t).count() == 3)
    // immutability: v0's data files still on disk after the overwrite
    val (v0Files, _) = GraftLog.snapshot(spark, t, Some(0L))
    v0Files.foreach(f => assert(Files.exists(Paths.get(s"$t/$f")), f))
  }

  test("merge rewrites only files containing matched keys") {
    val t = tmp()
    // three appends with disjoint key ranges -> three separate data files
    GraftLog.overwrite(df(0 until 10, "a").coalesce(1), t)
    GraftLog.append(df(10 until 20, "b").coalesce(1), t)
    GraftLog.append(df(20 until 30, "c").coalesce(1), t)
    val (before, _) = GraftLog.snapshot(spark, t)
    assert(before.size == 3)
    // source touches only the middle file's keys, plus one insert
    val src = Seq((12L, "UPD"), (99L, "NEW")).toDF("id", "tag")
    GraftLog.merge(src, t, Seq("id"))
    val (after, _) = GraftLog.snapshot(spark, t)
    // files 1 and 3 carried by reference; file 2 replaced
    assert(after.contains(before(0)) && after.contains(before(2)))
    assert(!after.contains(before(1)))
    val back = GraftLog.read(spark, t)
    assert(back.count() == 31)
    assert(back.filter($"id" === 12L).select("tag").as[String].head() == "UPD")
    assert(back.filter($"id" === 99L).count() == 1)
    assert(back.filter($"id" === 11L).select("tag").as[String].head() == "b")
  }

  test("merge NOT MATCHED BY SOURCE DELETE: close-out prunes per clause") {
    val t = tmp()
    // three single-file commits: file 1 all-matched, file 2 mixed,
    // file 3 all-unmatched
    GraftLog.overwrite(df(0 until 10, "a").coalesce(1), t)
    GraftLog.append(df(10 until 20, "b").coalesce(1), t)
    GraftLog.append(df(20 until 30, "c").coalesce(1), t)
    val (before, _) = GraftLog.snapshot(spark, t)
    // source: all of file 1, half of file 2, plus a novel key
    val src = ((0 until 10) ++ (10 until 15) :+ 99)
      .map(i => (i.toLong, s"S$i")).toDF("id", "tag")
    // update + delete-by-source, NO insert clause
    GraftLog.merge(src, t, Seq("id"),
      updateMatched = true, insertUnmatched = false,
      deleteUnmatchedBySource = true)
    val back = GraftLog.read(spark, t)
    assert(back.count() == 15)                       // 15..19, 20..29 closed
    assert(back.filter($"id" === 99L).count() == 0)  // novel key NOT inserted
    assert(back.filter($"id" < 15).filter(!$"tag".startsWith("S"))
      .count() == 0)                                 // matched rows updated
  }

  test("merge delete-by-source only: matched-only files carry by reference") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a").coalesce(1), t)
    GraftLog.append(df(10 until 20, "b").coalesce(1), t)
    val (before, _) = GraftLog.snapshot(spark, t)
    // source covers ALL of file 1 and none of file 2; no update clause →
    // file 1 must be untouched (pure delete probe = anti-join)
    val src = (0 until 10).map(i => (i.toLong, "x")).toDF("id", "tag")
    GraftLog.merge(src, t, Seq("id"),
      updateMatched = false, insertUnmatched = false,
      deleteUnmatchedBySource = true)
    val (after, _) = GraftLog.snapshot(spark, t)
    assert(after.contains(before(0)))        // all-matched file untouched
    assert(!after.contains(before(1)))       // unmatched file rewritten away
    val back = GraftLog.read(spark, t)
    assert(back.count() == 10)
    assert(back.filter($"tag" =!= "a").count() == 0)  // no update applied
  }

  test("merge insert-only (no update clause) never duplicates matched keys") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a").coalesce(1), t)
    GraftLog.append(df(10 until 20, "b").coalesce(1), t)
    // matched keys live in a file the (absent) update clause would not
    // touch — the insert probe must still see them and skip the insert
    val src = Seq((5L, "dup"), (100L, "new")).toDF("id", "tag")
    GraftLog.merge(src, t, Seq("id"),
      updateMatched = false, insertUnmatched = true,
      deleteUnmatchedBySource = false)
    val back = GraftLog.read(spark, t)
    assert(back.count() == 21)
    assert(back.filter($"id" === 5L).count() == 1)    // no duplicate
    assert(back.filter($"id" === 5L).select("tag").as[String].head() == "a")
    assert(back.filter($"id" === 100L).count() == 1)  // novel key inserted
  }

  test("merge schema evolution: source-only columns widen the target") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a").coalesce(1), t)       // file 1
    GraftLog.append(df(10 until 20, "b").coalesce(1), t)         // file 2
    // source carries a NEW column and touches only file 2's keys
    val src = Seq((12L, "UP", 1.5), (99L, "NEW", 2.5))
      .toDF("id", "tag", "score")
    // without the flag: loud rejection, no partial commit
    intercept[IllegalArgumentException] {
      GraftLog.merge(src, t, Seq("id"))
    }
    GraftLog.merge(src, t, Seq("id"), mergeSchema = true)
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "tag", "score"))
    assert(back.count() == 21)
    // untouched file 1 reads the new column as typed NULLs
    assert(back.filter($"id" < 10).filter($"score".isNotNull)
      .count() == 0)
    // touched rows carry source values; carried rows of file 2 get NULL
    assert(back.filter($"id" === 12L).select("score").as[Double]
      .head() == 1.5)
    assert(back.filter($"id" === 99L).select("score").as[Double]
      .head() == 2.5)
    assert(back.filter($"id" === 11L).select("score").isEmpty ||
      back.filter($"id" === 11L).filter($"score".isNull).count() == 1)
    // shared-column type conflicts still fail loudly
    intercept[IllegalArgumentException] {
      GraftLog.merge(Seq((1, 2)).toDF("id", "tag"), t, Seq("id"),
        mergeSchema = true)
    }
    // SQL path honors the autoMerge conf
    spark.sql("DROP TABLE IF EXISTS am_t")
    spark.sql(s"CREATE TABLE am_t USING graft OPTIONS (path '$t')")
    try {
      Seq((5L, "SQ", 9.9, true)).toDF("id", "tag", "score", "flag")
        .createOrReplaceTempView("am_src")
      intercept[Exception] { // conf off: rejected
        spark.sql("""MERGE INTO am_t USING am_src ON am_t.id = am_src.id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
      }
      spark.conf.set("spark.graft.schema.autoMerge.enabled", "true")
      spark.sql("""MERGE INTO am_t USING am_src ON am_t.id = am_src.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      val widened = spark.table("am_t")
      assert(widened.columns.toSeq ==
        Seq("id", "tag", "score", "flag"))
      assert(widened.filter(col("id") === 5L)
        .select("flag").collect().head.getBoolean(0))
    } finally {
      spark.conf.set("spark.graft.schema.autoMerge.enabled", "false")
      spark.sql("DROP TABLE am_t")
    }
  }

  test("merge with no matched keys is insert-only") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "a"), t)
    GraftLog.merge(Seq((100L, "n")).toDF("id", "tag"), t, Seq("id"))
    assert(GraftLog.read(spark, t).count() == 6)
  }

  test("merge rejects a source with a different schema") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "a"), t)
    intercept[IllegalArgumentException] {
      GraftLog.merge(Seq((1L, "x", 1.0)).toDF("id", "tag", "extra"), t,
        Seq("id"))
    }
  }

  test("concurrent commit of the same version loses with a conflict") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "a"), t)
    val c = GraftLog.Commit(1L, "append", Seq.empty, Seq.empty,
      "id BIGINT", 0L)
    GraftLog.writeCommit(spark, t, c)
    intercept[GraftLog.CommitConflictException] {
      GraftLog.writeCommit(spark, t, c)
    }
    // and no torn/temp files left behind in the log dir
    val logs = new java.io.File(s"$t/_graft_log").listFiles().map(_.getName)
    assert(logs.forall(_.matches("\\d{20}\\.json")), logs.mkString(","))
  }

  test("delete is file-pruned and drops exactly the matching rows") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a").coalesce(1), t)
    GraftLog.append(df(10 until 20, "b").coalesce(1), t)
    val (before, _) = GraftLog.snapshot(spark, t)
    GraftLog.delete(spark, t, $"id" >= 15L)
    val (after, _) = GraftLog.snapshot(spark, t)
    assert(after.contains(before(0)))          // untouched file carried over
    assert(!after.contains(before(1)))
    val back = GraftLog.read(spark, t)
    assert(back.count() == 15)
    assert(back.agg(max($"id")).as[Long].head() == 14L)
  }

  test("deleteMatching: frame-keyed delete equals the isin form, prunes files") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a").coalesce(1), t)
    GraftLog.append(df(10 until 20, "b").coalesce(1), t)
    GraftLog.append(df(20 until 30, "c").coalesce(1), t)
    val (before, _) = GraftLog.snapshot(spark, t)
    // a LARGE synthetic key frame (mostly misses) — the point of the
    // frame form: keys are never collected, only touched FILES are
    val keys = spark.range(100000)
      .filter($"id" % 7 === 0 && $"id" >= 14 && $"id" < 20)
      .select($"id")
    GraftLog.deleteMatching(spark, t, keys, Seq("id"))
    val (after, _) = GraftLog.snapshot(spark, t)
    assert(after.contains(before(0)), "untouched file carried by reference")
    assert(after.contains(before(2)), "untouched file carried by reference")
    assert(!after.contains(before(1)), "touched file rewritten")
    val back = GraftLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(back == (0L until 30L).toSet -- Set(14L), s"got $back")
    // replay of the same key frame: no rows to remove, still a commit,
    // rows unchanged (idempotent in effect)
    GraftLog.deleteMatching(spark, t, keys, Seq("id"))
    assert(GraftLog.read(spark, t).count() == 29)
    // partitioned layout: only the matching partition's files rewrite
    val tp = tmp() + "_part"
    GraftLog.overwritePartitioned(df(0 until 30, "x")
      .withColumn("p", ($"id" % 3).cast("int")), tp, Seq("p"))
    val (pBefore, _) = GraftLog.snapshot(spark, tp)
    GraftLog.deleteMatching(spark, tp,
      Seq(3L, 6L).toDF("id"), Seq("id")) // both p=0
    val (pAfter, _) = GraftLog.snapshot(spark, tp)
    assert(pBefore.filterNot(_.contains("p=0"))
      .forall(pAfter.contains), "other partitions carried by reference")
    assert(GraftLog.read(spark, tp).count() == 28)
    assert(!GraftLog.read(spark, tp).select("id").as[Long]
      .collect().toSet.exists(Set(3L, 6L)))
  }

  test("autoCompact: rolling small appends converge, rows and history intact") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "s").coalesce(1), t)            // v0
    GraftLog.setProperties(spark, t, Map(
      "graft.autoCompact" -> "true",
      "graft.autoCompact.minNumFiles" -> "3"))                       // v1
    (1 to 9).foreach { i =>
      GraftLog.append(df(i * 10 until i * 10 + 5, s"b$i").coalesce(1), t)
    }
    val files = GraftLog.snapshot(spark, t)._1
    assert(files.size <= 3,
      s"9 one-file appends must converge under the threshold: $files")
    val ops = GraftLog.history(spark, t).select("operation")
      .as[String].collect()
    assert(ops.count(_ == "autocompact") >= 2,
      s"the hook must have fired repeatedly: ${ops.mkString(",")}")
    // row identity: compaction is pure layout
    val ids = GraftLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids == ((0 until 5) ++
      (1 to 9).flatMap(i => i * 10 until i * 10 + 5)).map(_.toLong).toSet)
    // rewrite-only: CDF across the whole history emits exactly the
    // appended rows, nothing from the autocompact rewrites
    val cdf = spark.read.format("graft")
      .option("readChangeFeed", "true").option("cdfKeys", "id")
      .option("startingVersion", 0)
      .load(t)
    assert(cdf.filter(col("_change_type") === "insert").count() == 50)
    // pre-compaction versions stay time-travelable
    assert(GraftLog.readVersion(spark, t, 0L).count() == 5)
  }

  test("autoCompact: partition-scoped — cold partitions carried by reference") {
    val t = tmp()
    GraftLog.overwritePartitioned(
      df(0 until 8, "seed").coalesce(1)
        .withColumn("p", ($"id" % 2).cast("int")),
      t, Seq("p"))
    GraftLog.setProperties(spark, t, Map(
      "graft.autoCompact" -> "true",
      "graft.autoCompact.minNumFiles" -> "3"))
    val coldBefore = GraftLog.snapshot(spark, t)._1.filter(_.contains("p=1"))
    // 4 hot appends land in p=0 only — p=1 must never be rewritten
    (1 to 4).foreach { i =>
      GraftLog.appendPartitioned(
        df(100 * i until 100 * i + 3, s"h$i")
          .withColumn("p", lit(0)).coalesce(1), t, Seq("p"))
    }
    val after = GraftLog.snapshot(spark, t)._1
    assert(coldBefore.forall(after.contains),
      "untouched partition's files carried by reference")
    assert(after.count(_.contains("p=0")) <= 3,
      s"hot partition converged: ${after.filter(_.contains("p=0"))}")
    assert(GraftLog.history(spark, t).select("operation").as[String]
      .collect().contains("autocompact"))
    assert(GraftLog.read(spark, t).count() == 8 + 12)
  }

  test("autoCompact: off by default; OCC losers abandon under concurrency") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 3, "s").coalesce(1), t)
    (1 to 5).foreach(i =>
      GraftLog.append(df(i * 10 until i * 10 + 2, "x").coalesce(1), t))
    assert(!GraftLog.history(spark, t).select("operation").as[String]
      .collect().contains("autocompact"),
      "no opt-in property → the hook must never fire")
    // concurrent-writer safety: parallel appenders all triggering the
    // hook — rebases and best-effort abandons must never lose a row,
    // duplicate a row, or corrupt the live set
    val tc = tmp() + "_conc"
    GraftLog.overwrite(df(0 until 4, "seed").coalesce(1), tc)
    GraftLog.setProperties(spark, tc, Map(
      "graft.autoCompact" -> "true",
      "graft.autoCompact.minNumFiles" -> "3"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 6).map { i => Future {
      GraftLog.append(df(i * 100 until i * 100 + 4, s"w$i").coalesce(1), tc)
    } }
    Await.result(Future.sequence(writers), 120.seconds)
    val ids = GraftLog.read(spark, tc).select("id").as[Long].collect()
    val want = ((0 until 4) ++
      (1 to 6).flatMap(i => i * 100 until i * 100 + 4)).map(_.toLong)
    assert(ids.sorted.toSeq == want.sorted,
      "every concurrent append lands exactly once through the hook")
    assert(GraftLog.snapshot(spark, tc)._1.size <=
      GraftLog.history(spark, tc).count(),
      "live set stays consistent")
  }

  test("in-commit timestamps: strictly monotonic under rapid commits") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "a"), t)                      // v0
    GraftLog.setProperties(spark, t,
      Map("graft.enableInCommitTimestamps" -> "true"))             // v1
    // rapid-fire commits land within the same millisecond routinely;
    // ICT must keep the timeline STRICTLY increasing anyway
    (0 until 8).foreach(i =>
      GraftLog.append(df(i * 10 until i * 10 + 3, "b"), t))
    val ts = GraftLog.history(spark, t)
      .orderBy($"version")
      .select($"version", $"timestamp").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime)
    val after = ts.filter(_._1 >= 1).map(_._2)
    assert(after.zip(after.tail).forall { case (a, b) => a < b },
      s"ICT timeline not strictly increasing: ${after.mkString(",")}")
    // TIMESTAMP AS OF resolves deterministically on the ordered line
    val (v3, t3) = ts.find(_._1 == 3L).get
    assert(GraftLog.versionAt(spark, t, t3) == v3)
  }

  test("symlink manifest: live set exactly, auto-refresh, loud refusals") {
    import scala.jdk.CollectionConverters._
    def lines(t: String): Set[String] = {
      val r = new java.io.File(s"$t/_symlink_format_manifest")
      if (!r.exists()) Set.empty
      else java.nio.file.Files.walk(r.toPath).iterator().asScala
        .filter(_.getFileName.toString == "manifest")
        .flatMap(p => java.nio.file.Files.readAllLines(p).asScala)
        .toSet
    }
    def live(t: String): Set[String] =
      GraftLog.snapshot(spark, t)._1
        .map(f => "file:" + new java.io.File(s"$t/$f").getCanonicalPath)
        .toSet
    // flat: manifest == live set; regeneration tracks a delete
    val t = tmp()
    GraftLog.overwrite(df(0 until 100, "a").repartition(4), t)
    GraftLog.generateManifest(spark, t)
    assert(lines(t) == live(t))
    GraftLog.delete(spark, t, $"id" < 50)
    GraftLog.generateManifest(spark, t)
    assert(lines(t) == live(t), "regeneration must track the live set")
    // partitioned + autoUpdate: a data commit refreshes with NO call;
    // a partition losing all files loses its manifest dir
    val p = tmp() + "_p"
    val d0 = df(0 until 100, "x").withColumn("p", ($"id" % 2).cast("int"))
    GraftLog.overwritePartitioned(d0, p, Seq("p"))
    GraftLog.setProperties(spark, p,
      Map("graft.symlinkManifest.autoUpdate" -> "true"))
    GraftLog.generateManifest(spark, p)
    assert(new java.io.File(s"$p/_symlink_format_manifest/p=1/manifest")
      .exists())
    GraftLog.delete(spark, p, $"p" === 1) // hook refreshes
    assert(lines(p) == live(p), "autoUpdate must refresh on the commit")
    assert(!new java.io.File(s"$p/_symlink_format_manifest/p=1").exists(),
      "an emptied partition's manifest dir must vanish")
    // refusals: active DVs and column mapping would make readers WRONG
    val dv = tmp() + "_dv"
    GraftLog.overwrite(df(0 until 40, "a"), dv)
    GraftLog.deleteVectors(spark, dv, $"id" < 5)
    intercept[IllegalArgumentException] {
      GraftLog.generateManifest(spark, dv)
    }
    val cm = tmp() + "_cm"
    GraftLog.overwrite(df(0 until 10, "a"), cm)
    GraftLog.renameColumn(spark, cm, "tag", "label") // activates mapping
    intercept[IllegalArgumentException] {
      GraftLog.generateManifest(spark, cm)
    }
  }

  test("optimized write: rebalanced ingest collapses slivers, opt-in only") {
    def appendFiles(t: String): Int = GraftLog.history(spark, t)
      .filter($"operation" === "append")
      .agg(max($"n_added_files")).collect().head.getInt(0)
    // flat: seed fixes schema, property opts in, then a 32-task append
    val t = tmp()
    GraftLog.overwrite(df(0 until 1, "seed"), t)
    GraftLog.setProperties(spark, t, Map("graft.optimizeWrite" -> "true"))
    GraftLog.append(df(1 until 2000, "a").repartition(32), t)
    assert(appendFiles(t) <= 2,
      s"optimized flat append staged ${appendFiles(t)} files")
    assert(GraftLog.read(spark, t).count() == 2000)
    // control: the same batch without the property slivers one per task
    val c = tmp() + "_ctl"
    GraftLog.overwrite(df(0 until 1, "seed"), c)
    GraftLog.append(df(1 until 2000, "a").repartition(32), c)
    assert(appendFiles(c) > 8,
      s"control append unexpectedly compact (${appendFiles(c)} files)")
    // session conf force-off overrides the table property
    spark.conf.set("spark.graft.optimizeWrite.enabled", "false")
    try {
      GraftLog.append(df(2000 until 4000, "b").repartition(32), t)
      assert(appendFiles(t) > 8, "conf=false must disable the property")
    } finally spark.conf.unset("spark.graft.optimizeWrite.enabled")
    assert(GraftLog.read(spark, t).count() == 4000)
    // partitioned: one right-sized file per col=val dir, rows intact
    val p = tmp() + "_p"
    val part = df(0 until 2000, "x").withColumn("p", ($"id" % 4).cast("int"))
    GraftLog.overwritePartitioned(part.filter($"id" < 0), p, Seq("p"))
    GraftLog.setProperties(spark, p, Map("graft.optimizeWrite" -> "true"))
    GraftLog.appendPartitioned(part.repartition(32), p, Seq("p"))
    assert(appendFiles(p) <= 8,
      s"optimized partitioned append staged ${appendFiles(p)} files")
    assert(GraftLog.read(spark, p).count() == 2000)
    assert(GraftLog.read(spark, p).filter($"p" === 2).count() == 500)
    // plan pin: the opt-in ingest plan carries the AQE rebalance node
    // (the mechanism, not just the file-count effect)
    import org.apache.spark.sql.catalyst.plans.logical.RebalancePartitions
    def hasRebalance(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed.exists {
        case _: RebalancePartitions => true; case _ => false }
    assert(hasRebalance(
      GraftLog.optimizedWrite(df(0 until 10, "x"), t, Nil)),
      "opted-in table: ingest plan must rebalance")
    assert(!hasRebalance(
      GraftLog.optimizedWrite(df(0 until 10, "x"), c, Nil)),
      "control table: no rebalance node without the property")
  }

  test("type widening: metadata-only, narrow pages decode wide, guards hold") {
    import org.apache.spark.sql.types._
    val t = tmp()
    val narrow = (0 until 10).map(i => (i, i.toFloat, s"r$i"))
      .toDF("id", "score", "tag")
    GraftLog.overwrite(narrow, t)                                  // v0
    val (f0, _) = GraftLog.snapshot(spark, t)
    GraftLog.widenColumn(spark, t, "id", LongType)                 // v1
    GraftLog.widenColumn(spark, t, "score", DoubleType)            // v2
    val (f2, s2) = GraftLog.snapshot(spark, t)
    assert(f2 == f0, "widening must move zero data files")
    assert(s2("id").dataType == LongType &&
      s2("score").dataType == DoubleType)
    // old int32/float pages decode under the wide schema
    assert(GraftLog.read(spark, t).agg(sum($"id")).as[Long].head() == 45L)
    // a genuinely 64-bit append lands and reads beside them
    GraftLog.append(Seq((5000000000L, 1.5d, "big"))
      .toDF("id", "score", "tag"), t)                              // v3
    assert(GraftLog.read(spark, t).agg(max($"id")).as[Long].head()
      == 5000000000L)
    // a still-narrow batch no longer matches the schema (caller casts)
    intercept[IllegalArgumentException] {
      GraftLog.append((90 until 95).map(i => (i, 1.0f, "x"))
        .toDF("id", "score", "tag"), t)
    }
    // narrowing / lateral moves refuse loudly
    intercept[IllegalArgumentException] {
      GraftLog.widenColumn(spark, t, "id", IntegerType)
    }
    intercept[IllegalArgumentException] {
      GraftLog.widenColumn(spark, t, "tag", LongType)
    }
    // the introducing commit declared the reader feature atomically
    assert(GraftLog.properties(spark, t)
      .get("graft.protocol.readerFeatures")
      .exists(_.contains("typeWidening")))
    // pre-widen versions still read with their own (narrow) schema
    assert(GraftLog.readVersion(spark, t, 0L).schema("id").dataType
      == IntegerType)
    // decimal widening path
    val td = tmp() + "_dec"
    GraftLog.overwrite(spark.range(5)
      .select(col("id").cast("decimal(10,2)").as("d")), td)
    GraftLog.widenColumn(spark, td, "d", DecimalType(20, 4))
    assert(GraftLog.read(spark, td).schema("d").dataType
      == DecimalType(20, 4))
    assert(GraftLog.read(spark, td)
      .agg(sum($"d").cast("long")).as[Long].head() == 10L)
    // partition columns refuse
    val tp = tmp() + "_p"
    GraftLog.overwritePartitioned(df(0 until 6, "x")
      .withColumn("p", ($"id" % 2).cast("int")), tp, Seq("p"))
    intercept[IllegalArgumentException] {
      GraftLog.widenColumn(spark, tp, "p", LongType)
    }
    // hidden-bucket SOURCE columns refuse: xxhash64 is type-sensitive,
    // so widening the source would silently desync planner-side bucket
    // probes from the written layout (a definite-miss prune of live rows)
    val tb = tmp() + "_b"
    GraftLog.overwriteBucketTransform(
      (0 until 12).map(i => (i, s"v$i")).toDF("k", "v"), tb, "k", 4)
    val eb = intercept[IllegalArgumentException] {
      GraftLog.widenColumn(spark, tb, "k", LongType)
    }
    assert(eb.getMessage.contains("bucket"))
    // …but an identifier-BOUNDARY constraint match must not block an
    // unrelated column: a check on band_id does not reference id
    val tc = tmp() + "_c"
    GraftLog.overwrite((0 until 5).map(i => (i, i.toLong))
      .toDF("id", "band_id"), tc)
    GraftLog.addConstraint(spark, tc, "pos", "band_id >= 0")
    GraftLog.widenColumn(spark, tc, "id", LongType) // must not throw
    assert(GraftLog.snapshot(spark, tc)._2("id").dataType == LongType)
  }

  test("replaceWhere replaces exactly the slice, atomically, in one commit") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 100, "a"), t)                      // v0
    // replace the even slice with re-tagged rows — one commit
    val v = GraftLog.replaceWhere(
      df(0 until 100, "b").filter($"id" % 2 === 0), t, $"id" % 2 === 0)
    assert(v == 1L)
    assert(GraftLog.versions(spark, t) == Seq(0L, 1L))
    val back = GraftLog.read(spark, t)
    assert(back.count() == 100)
    assert(back.filter($"tag" === "b").count() == 50)
    assert(back.filter($"id" % 2 === 1 && $"tag" =!= "a").count() == 0)
    // the batch may SHRINK or GROW the slice (a reload is not 1:1)
    GraftLog.replaceWhere(
      df(0 until 10, "c").filter($"id" % 2 === 0), t, $"id" % 2 === 0)
    assert(GraftLog.read(spark, t).count() == 55) // 50 odd + 5 new even
    // rows outside the predicate are rejected whole (Delta's constraint)
    val e = intercept[IllegalArgumentException] {
      GraftLog.replaceWhere(df(0 until 4, "x"), t, $"id" % 2 === 0)
    }
    assert(e.getMessage.contains("do NOT satisfy"))
    // on a missing table the op degrades to the initial overwrite
    val t2 = tmp()
    GraftLog.replaceWhere(df(0 until 6, "z").filter($"id" < 6), t2,
      $"id" < 6)
    assert(GraftLog.read(spark, t2).count() == 6)
    // CHECK constraints still gate the batch — not a constraint bypass
    GraftLog.addConstraint(spark, t2, "small", "id < 100")
    val e2 = intercept[IllegalArgumentException] {
      GraftLog.replaceWhere(df(200 until 202, "z"), t2, $"id" >= 0)
    }
    assert(e2.getMessage.toLowerCase.contains("constraint"))
  }

  test("identity columns: dense allocation, never-reused high water") {
    val t = tmp()
    val seed = (0 until 40).map(i => (i.toLong, s"r$i"))
      .toDF("id", "tag").repartition(4)
    GraftLog.createGenerated(seed, t,
      Map("row_id" -> "identity(1000, 2)"), Seq.empty)
    def ids() = GraftLog.read(spark, t).select("row_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // creation batch: dense from START WITH, stepped by INCREMENT BY
    assert(ids() == (0 until 40).map(1000L + 2L * _))
    // append continues above the mark, still dense
    GraftLog.append((40 until 50).map(i => (i.toLong, s"r$i"))
      .toDF("id", "tag"), t)
    assert(ids() == (0 until 50).map(1000L + 2L * _))
    // supplying the column is rejected: GENERATED ALWAYS means always
    val e = intercept[IllegalArgumentException] {
      GraftLog.append(Seq((99L, "x", 77L)).toDF("id", "tag", "row_id"), t)
    }
    assert(e.getMessage.contains("never be supplied"))
    // overwrite keeps the mark: replaced rows' ids are never reissued
    GraftLog.overwrite(Seq((0L, "z")).toDF("id", "tag"), t)
    val afterOv = ids()
    assert(afterOv == Seq(1000L + 2L * 50))
    // delete + vacuum cannot resurrect ids either: the mark is
    // log-carried, not a max over surviving rows
    GraftLog.append(Seq((1L, "w")).toDF("id", "tag"), t)
    assert(ids() == Seq(1000L + 2L * 50, 1000L + 2L * 51))
    // stats land for the identity column → range pruning works on it
    val pruned = GraftLog.readPruned(spark, t, "row_id",
      1000.0 + 2 * 51, 1e9)
    assert(pruned.count() == 1)
    // MERGE on an identity table is loudly unsupported (allocation
    // inside clause routing would be half-right); DESCRIBE DETAIL
    // reports the identity column
    val em = intercept[IllegalArgumentException] {
      GraftLog.merge(Seq((0L, "m")).toDF("id", "tag"), t, Seq("id"))
    }
    assert(em.getMessage.contains("IDENTITY"))
    val det = GraftLog.detail(spark, t).collect().head
    assert(det.getAs[Long]("num_identity_columns") == 1L)
    assert(det.getAs[Long]("num_generated_columns") == 0L)
  }

  test("distributed vacuum sweep equals the driver sweep") {
    val t = tmp()
    // many staging dirs: one per append (the parallel unit)
    (0 until 6).foreach(i => GraftLog.append(df(i*10 until i*10+10, "a"), t))
    spark.conf.set("spark.graft.vacuum.parallelism.threshold", "1")
    try {
      GraftLog.vacuum(spark, t, retainVersions = 2)
      // retained versions stay fully readable
      assert(GraftLog.read(spark, t).count() == 60)
      assert(GraftLog.readVersion(spark, t, 4L).count() == 50)
      // truncated versions' files really are gone: only the retained
      // snapshot's files survive under _data/
      val live = GraftLog.snapshot(spark, t)._1.toSet
      val f = new java.io.File(s"$t/_data")
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles).toSeq.flatten
          .flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
      // local-FS .crc companions of live files survive with them
      val onDisk = walk(f).filterNot(_.getName.startsWith("."))
        .map(_.getPath.stripPrefix(s"$t/")).toSet
      assert(onDisk == live)
    } finally
      spark.conf.unset("spark.graft.vacuum.parallelism.threshold")
  }

  test("vacuum drops old versions but keeps the retained ones readable") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "v0"), t)
    GraftLog.overwrite(df(0 until 5, "v1"), t)
    GraftLog.overwrite(df(0 until 2, "v2"), t)
    GraftLog.vacuum(spark, t, retainVersions = 2)
    assert(GraftLog.versions(spark, t) == Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      GraftLog.readVersion(spark, t, 0L)
    }
    assert(GraftLog.readVersion(spark, t, 1L).count() == 5)
    assert(GraftLog.read(spark, t).count() == 2)
  }

  test("convert: in-place migration — zero rewrite, full DML after") {
    val t = tmp()
    // an ordinary (non-transactional) parquet job writes 3 part files
    df(0 until 30, "raw").repartition(3).write.parquet(t)
    val before = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap
    assert(GraftLog.convert(spark, t) == 0L)
    // zero-copy: the SAME files (name and byte size) back the table
    val (files, _) = GraftLog.snapshot(spark, t)
    assert(files.size == before.size)
    files.foreach { rel =>
      val name = rel.split('/').last
      assert(before.contains(name), s"unexpected file $name")
      assert(new java.io.File(s"$t/$rel").length == before(name))
    }
    assert(new java.io.File(t).listFiles()
      .count(_.getName.endsWith(".parquet")) == 0) // relocated, not copied
    val back = GraftLog.read(spark, t)
    assert(back.count() == 30)
    // the converted table has the FULL transactional surface
    GraftLog.merge(Seq((5L, "up"), (99L, "new")).toDF("id", "tag"),
      t, Seq("id"))
    assert(GraftLog.read(spark, t).count() == 31)
    GraftLog.delete(spark, t, col("id") < 3)
    assert(GraftLog.read(spark, t).count() == 28)
    assert(GraftLog.readVersion(spark, t, 0L).count() == 30) // time travel
    // double convert and non-hive subdirectories are rejected loudly
    intercept[IllegalArgumentException] { GraftLog.convert(spark, t) }
    val weird = tmp()
    df(0 until 5, "x").write.parquet(weird)
    new java.io.File(s"$weird/not_a_partition").mkdir()
    intercept[IllegalArgumentException] { GraftLog.convert(spark, weird) }
  }

  test("convert: retry after a mid-rename crash adopts orphaned staging") {
    val t = tmp()
    df(0 until 30, "raw").repartition(3).write.parquet(t)
    // simulate a convert that died after relocating ONE file into its
    // _data/convert-<uuid>/ staging dir but before writeCommit: the
    // directory is log-less, and the moved rows hide under the
    // underscore-prefixed _data that plain reads (and a naive retry)
    // skip — a v0 built from the remainder would silently lose them
    val first = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val staging = new java.io.File(s"$t/_data/convert-crashed-0000")
    assert(staging.mkdirs())
    assert(first.renameTo(new java.io.File(staging, first.getName)))
    assert(GraftLog.versions(spark, t).isEmpty) // still log-less
    assert(GraftLog.convert(spark, t) == 0L)    // retry adopts, not skips
    assert(GraftLog.read(spark, t).count() == 30)
    val (files, _) = GraftLog.snapshot(spark, t)
    assert(files.exists(_.startsWith("_data/convert-crashed-0000/")),
      files.mkString(","))
    // the crashed-all-files case too: nothing left at top level
    val t2 = tmp()
    df(0 until 12, "raw").coalesce(1).write.parquet(t2)
    val f2 = new java.io.File(t2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val staging2 = new java.io.File(s"$t2/_data/convert-crashed-1111")
    assert(staging2.mkdirs())
    assert(f2.renameTo(new java.io.File(staging2, f2.getName)))
    assert(GraftLog.convert(spark, t2) == 0L)
    assert(GraftLog.read(spark, t2).count() == 12)
  }

  test("convert: hive-partitioned layout keeps pruning and DML") {
    val t = tmp()
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("id", "tag")
      .write.partitionBy("tag").parquet(t)
    assert(GraftLog.convert(spark, t) == 0L)
    val (files, schema) = GraftLog.snapshot(spark, t)
    assert(files.forall(_.contains("tag=")))       // layout preserved
    assert(schema.fieldNames.map(_.toLowerCase).contains("tag")) // full
    val back = GraftLog.read(spark, t)
    assert(back.count() == 5)
    assert(back.filter($"tag" === "b").select("id").as[Long]
      .collect().sorted.toSeq == Seq(3L, 4L))
    // partitioned DML on the converted table
    GraftLog.delete(spark, t, $"tag" === "c")
    assert(GraftLog.read(spark, t).count() == 4)
    GraftLog.merge(Seq((1L, "a"), (9L, "d")).toDF("id", "tag"),
      t, Seq("id"))
    val after = GraftLog.read(spark, t)
    assert(after.count() == 5)
    assert(after.filter($"tag" === "d").count() == 1)
    assert(GraftLog.readVersion(spark, t, 0L).count() == 5) // time travel
  }

  test("vacuumRetainHours: cutoff boundary retained, live snapshot pinned") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "a"), t)   // v0
    Thread.sleep(5)
    GraftLog.append(df(5 until 10, "b"), t)     // v1
    Thread.sleep(5)
    GraftLog.append(df(10 until 15, "c"), t)    // v2
    val tsOf = GraftLog.history(spark, t).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(4).getTime).toMap
    assert(tsOf(0L) < tsOf(1L) && tsOf(1L) < tsOf(2L))
    // cutoff lands EXACTLY on v1's commit instant: the boundary commit
    // is retained (>=, matching TIMESTAMP AS OF's at-or-before dual)
    GraftLog.vacuumRetainHours(spark, t, hours = 1.0,
      nowMs = tsOf(1L) + 3600L * 1000)
    assert(GraftLog.versions(spark, t) == Seq(1L, 2L))
    assert(GraftLog.read(spark, t).count() == 15)
    assert(GraftLog.readVersion(spark, t, 1L).count() == 10)
    // zero-window expiry: everything older than the live snapshot goes,
    // but the snapshot itself is never expirable
    Thread.sleep(5)
    GraftLog.vacuumRetainHours(spark, t, hours = 0.0)
    assert(GraftLog.versions(spark, t) == Seq(2L))
    assert(GraftLog.read(spark, t).count() == 15)
  }

  test("tags: named refs resolve, inherit across commits, drop cleanly") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a"), t)                // v0
    GraftLog.append(df(10 until 20, "b"), t)                  // v1
    GraftLog.createTag(spark, t, "baseline", Some(0L))        // v2
    assert(GraftLog.tags(spark, t) == Map("baseline" -> 0L))
    assert(GraftLog.readTag(spark, t, "baseline").count() == 10)
    // ordinary commits inherit the tag state
    GraftLog.append(df(20 until 25, "c"), t)                  // v3
    assert(GraftLog.tags(spark, t) == Map("baseline" -> 0L))
    // re-tagging the same target is idempotent; a different one is not
    GraftLog.createTag(spark, t, "baseline", Some(0L))        // v4
    intercept[IllegalArgumentException] {
      GraftLog.createTag(spark, t, "baseline", Some(1L))
    }
    intercept[IllegalArgumentException] {
      GraftLog.createTag(spark, t, "ghost", Some(99L))
    }
    // digit-only names are rejected: VERSION AS OF 'n' resolves
    // numerically first, so such a tag could never be addressed
    intercept[IllegalArgumentException] {
      GraftLog.createTag(spark, t, "7", Some(0L))
    }
    GraftLog.dropTag(spark, t, "baseline")                    // v5
    assert(GraftLog.tags(spark, t).isEmpty)
    // dropped tag state also inherits (stays empty, never resurrects)
    GraftLog.append(df(25 until 30, "d"), t)                  // v6
    assert(GraftLog.tags(spark, t).isEmpty)
    intercept[IllegalArgumentException] {
      GraftLog.versionOfTag(spark, t, "baseline")
    }
  }

  test("tags pin their versions through vacuum (expire_snapshots contract)") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a").coalesce(1), t)    // v0
    GraftLog.createTag(spark, t, "keepme")                    // v1 → v0
    GraftLog.overwrite(df(10 until 15, "b").coalesce(1), t)   // v2
    GraftLog.append(df(15 until 20, "c").coalesce(1), t)      // v3
    // dry run agrees: v0's file is NOT expirable while tagged
    val plan = GraftLog.vacuumDryRun(spark, t, 2)
    val v0files = GraftLog.snapshot(spark, t, Some(0L))._1.toSet
    assert(plan.toSet.intersect(v0files).isEmpty)
    GraftLog.vacuum(spark, t, 2)
    // v2/v3 retained, v0 pinned by the tag, v1 expired
    assert(GraftLog.versions(spark, t) == Seq(0L, 2L, 3L))
    assert(GraftLog.readTag(spark, t, "keepme").count() == 10)
    assert(GraftLog.read(spark, t).count() == 10) // 5 b + 5 c
    // dropping the tag makes v0 expirable on the next vacuum
    GraftLog.dropTag(spark, t, "keepme")                      // v4
    GraftLog.vacuum(spark, t, 2)
    assert(GraftLog.versions(spark, t) == Seq(3L, 4L))
    assert(GraftLog.read(spark, t).count() == 10)
  }

  test("tags: SQL DDL + VERSION AS OF 'tag' read") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a"), t)                // v0
    GraftLog.append(df(10 until 20, "b"), t)                  // v1
    spark.sql("DROP TABLE IF EXISTS tag_t")
    spark.sql(s"CREATE TABLE tag_t USING graft OPTIONS (path '$t')")
    try {
      spark.sql("ALTER TABLE tag_t CREATE TAG v0_audit AS OF VERSION 0")
      assert(GraftLog.tags(spark, t) == Map("v0_audit" -> 0L))
      assert(spark.sql(
        "SELECT count(*) AS n FROM tag_t VERSION AS OF 'v0_audit'")
        .head.getLong(0) == 10)
      // bare CREATE TAG names the latest version (the v2 tag commit)
      spark.sql("ALTER TABLE tag_t CREATE TAG latest")
      assert(GraftLog.versionOfTag(spark, t, "latest") == 2L)
      spark.sql("ALTER TABLE tag_t DROP TAG v0_audit")
      intercept[Exception] {
        spark.sql("SELECT * FROM tag_t VERSION AS OF 'v0_audit'")
          .collect()
      }
    } finally spark.sql("DROP TABLE tag_t")
  }

  test("auto-checkpoint lands every 10th commit; replay stays exact") {
    val t = tmp()
    (0 until 23).foreach(i => GraftLog.append(df(i to i, "a"), t))
    // commits v0..v22 → auto-checkpoints at v10 and v20
    val cks = GraftLog.checkpointVersions(spark, t)
    assert(cks.contains(10L) && cks.contains(20L), cks.mkString(","))
    // replay through the checkpoint equals the full-log answer
    assert(GraftLog.read(spark, t).count() == 23)
    assert(GraftLog.readVersion(spark, t, 15L).count() == 16)
    assert(GraftLog.readVersion(spark, t, 9L).count() == 10)
  }

  test("txnAppend is idempotent per (appId, batchId) and per-app scoped") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "seed"), t)
    assert(GraftLog.txnAppend(df(5 until 8, "b0"), t, "appA", 0L))
    // same batch re-delivered (the crash-window replay): must no-op
    assert(!GraftLog.txnAppend(df(5 until 8, "b0"), t, "appA", 0L))
    assert(GraftLog.read(spark, t).count() == 8)
    // an EARLIER batch id must also be rejected (ledger is monotone)
    assert(!GraftLog.txnAppend(df(90 until 99, "x"), t, "appA", -1L))
    // a different app's ledger is independent
    assert(GraftLog.txnAppend(df(8 until 10, "other"), t, "appB", 0L))
    assert(GraftLog.txnAppend(df(10 until 11, "b1"), t, "appA", 1L))
    assert(GraftLog.read(spark, t).count() == 11)
    assert(GraftLog.lastCommittedBatch(spark, t, "appA").contains(1L))
    assert(GraftLog.lastCommittedBatch(spark, t, "appB").contains(0L))
    assert(GraftLog.lastCommittedBatch(spark, t, "appC").isEmpty)
    // ledger survives the log round-trip (txn is in the commit JSON),
    // and time travel still works across streaming commits
    assert(GraftLog.readVersion(spark, t, 1L).count() == 8)
  }

  test("streaming sink harness: kill, idempotent restart, replay, resume") {
    val h = new graft.operators.Transactions.GraftSinkHarness(
      spark, TestSpark.sf)
    val ev = graft.sources.Sources.testTable(spark, TestSpark.sf, "events")
    val phase1 = ev.filter(pmod(col("event_id"), lit(2)) === 0).count()
    val total = ev.count()

    h.land(0); h.runToDrain()
    assert(h.tableFrame.count() == phase1)
    h.runToDrain() // restart with nothing new
    assert(h.tableFrame.count() == phase1)
    assert(!h.replayLastBatch()) // crash-window re-delivery rejected
    assert(h.tableFrame.count() == phase1)
    h.land(1); h.runToDrain()
    assert(h.tableFrame.count() == total)
    assert(h.tableFrame.select("event_id").distinct().count() == total)
  }

  test("append enforces schema; appendMergeSchema widens with typed nulls") {
    import spark.implicits._
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "a"), t)
    // mismatched append rejected (Delta schema enforcement)
    val bad = Seq((9L, "x", 1.5)).toDF("id", "tag", "score")
    val e = intercept[IllegalArgumentException] { GraftLog.append(bad, t) }
    assert(e.getMessage.contains("appendMergeSchema"))
    assert(GraftLog.read(spark, t).count() == 5)
    // widening append: union schema, old rows read NULL in the new col
    GraftLog.appendMergeSchema(bad, t)
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "tag", "score"))
    assert(back.count() == 6)
    assert(back.filter(col("score").isNull).count() == 5)
    assert(back.filter(col("id") === 9L).head().getDouble(2) == 1.5)
    // narrow batch (missing the new col) still appends via merge-schema,
    // reading NULL for it; type change on a shared column is rejected
    GraftLog.appendMergeSchema(df(10 until 12, "b"), t)
    assert(GraftLog.read(spark, t).filter(col("score").isNull).count() == 7)
    val typeChange = Seq((20L, 3, 1.0)).toDF("id", "tag", "score") // tag int
    intercept[IllegalArgumentException] {
      GraftLog.appendMergeSchema(typeChange, t)
    }
    // history: pre-evolution version still reads with its own schema
    assert(GraftLog.readVersion(spark, t, 0L).columns.toSeq ==
      Seq("id", "tag"))
  }

  test("compact rewrites layout only: same rows, fewer files, history intact") {
    val t = tmp()
    (0 until 4).foreach(i =>
      GraftLog.append(df(i * 10 until (i + 1) * 10, s"a$i"), t))
    val before = GraftLog.read(spark, t).collect().map(_.toSeq).toSet
    val filesBefore = GraftLog.snapshot(spark, t)._1.size
    val v = GraftLog.compact(spark, t, targetFiles = 1)
    assert(v == 4L)
    val after = GraftLog.read(spark, t)
    assert(after.collect().map(_.toSeq).toSet == before) // identical rows
    val filesAfter = GraftLog.snapshot(spark, t)._1
    assert(filesAfter.size == 1 && filesAfter.size < filesBefore)
    // pre-compact versions still time-travelable until vacuum
    assert(GraftLog.readVersion(spark, t, 3L).count() == 40)
    assert(GraftLog.readVersion(spark, t, 1L).count() == 20)
    GraftLog.vacuum(spark, t, retainVersions = 1)
    assert(GraftLog.read(spark, t).count() == 40)
  }

  test("changes classifies insert/update/delete by key and value") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 6, "x"), t) // v0: ids 0..5 tag x
    import spark.implicits._
    // v1: drop id 0, change tag of 1 and 2, keep 3..5, add 6
    val v1 = Seq((1L, "y"), (2L, "y"), (3L, "x"), (4L, "x"), (5L, "x"),
      (6L, "new")).toDF("id", "tag")
    GraftLog.overwrite(v1, t)
    val ch = GraftLog.changes(spark, t, Seq("id"), 0L, 1L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(ch == Map(
      0L -> (("x", "delete")),
      1L -> (("y", "update_postimage")),
      2L -> (("y", "update_postimage")),
      6L -> (("new", "insert"))))
  }

  test("streaming merge sink: last batch wins per key, replay rejected") {
    val h = new graft.operators.Transactions.GraftSinkHarness(
      spark, TestSpark.sf, mode = "merge")
    val ev = graft.sources.Sources.testTable(spark, TestSpark.sf, "events")
    val keys0 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .select("user_id", "event_type").distinct().count()
    val keysAll = ev.select("user_id", "event_type").distinct().count()

    h.land(0); h.runToDrain()
    assert(h.tableFrame.count() == keys0) // one row per phase-0 key
    h.runToDrain()
    assert(!h.replayLastBatch()) // duplicate merge batch rejected
    assert(h.tableFrame.count() == keys0)
    h.land(1); h.runToDrain()
    assert(h.tableFrame.count() == keysAll) // all keys, one row each
    // every key present in phase 1 must now carry an ODD last_event_id
    // (batch 1 overwrote batch 0 regardless of event time)
    val phase1Keys = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .select("user_id", "event_type").distinct()
    val stale = h.tableFrame.join(phase1Keys, Seq("user_id", "event_type"))
      .filter(pmod(col("last_event_id"), lit(2)) === 0).count()
    assert(stale == 0)
  }

  test("data skipping: range read opens only stat-intersecting files") {
    import spark.implicits._
    val t = tmp()
    // 4 range-clustered files: 0-24, 25-49, 50-74, 75-99
    val data = (0L until 100L).map(i => (i, s"r$i")).toDF("id", "tag")
    GraftLog.overwrite(data.repartitionByRange(4, col("id")), t)
    val all = GraftLog.snapshot(spark, t)._1
    assert(all.size == 4)
    // stats recorded for every file
    val stats = GraftLog.fileStats(spark, t)
    assert(all.forall(f => stats(f).contains("id")))
    // a range inside one file's span prunes to 1-2 files
    val kept = GraftLog.prunedFiles(spark, t, "id", 30.0, 40.0)
    assert(kept.size < all.size && kept.nonEmpty)
    // pruning loses no rows vs the unpruned filter
    val pruned = GraftLog.readPruned(spark, t, "id", 30.0, 40.0)
      .collect().map(_.toSeq).toSet
    val full = GraftLog.read(spark, t)
      .filter(col("id") >= 30 && col("id") <= 40)
      .collect().map(_.toSeq).toSet
    assert(pruned == full && pruned.size == 11)
    // out-of-domain range prunes everything but stays a typed empty frame
    assert(GraftLog.prunedFiles(spark, t, "id", 500.0, 600.0).isEmpty)
    assert(GraftLog.readPruned(spark, t, "id", 500.0, 600.0).count() == 0)
    // stats survive merge rewrites (file-level replay)
    val src = Seq((30L, "updated")).toDF("id", "tag")
    GraftLog.merge(src, t, Seq("id"))
    val kept2 = GraftLog.prunedFiles(spark, t, "id", 30.0, 40.0)
    assert(kept2.size < GraftLog.snapshot(spark, t)._1.size)
    assert(GraftLog.readPruned(spark, t, "id", 30.0, 30.0)
      .head().getString(1) == "updated")
  }

  test("vacuum after appends keeps every retained version complete") {
    // The data-loss trap: appends are not self-contained (each commit only
    // adds its own files), so log truncation without a checkpoint at the
    // oldest retained version would silently lose the earlier files even
    // though they were correctly retained on disk.
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "v0"), t)
    GraftLog.append(df(10 until 15, "v1"), t)
    GraftLog.append(df(15 until 18, "v2"), t)
    GraftLog.vacuum(spark, t, retainVersions = 2)
    assert(GraftLog.versions(spark, t) == Seq(1L, 2L))
    // v1 = overwrite's 10 rows + first append's 5; v2 adds 3 more
    assert(GraftLog.readVersion(spark, t, 1L).count() == 15)
    val back = GraftLog.read(spark, t)
    assert(back.count() == 18)
    assert(back.select("id").as[Long].collect().toSet == (0L until 18L).toSet)
    // and the checkpoint is what made that safe
    assert(GraftLog.checkpointVersions(spark, t).contains(1L))
  }

  test("checkpoint bounds replay without changing any answer") {
    val t = tmp()
    (0 until 6).foreach(i => GraftLog.append(df(i * 5 until (i + 1) * 5,
      s"b$i").coalesce(1), t))
    val before = GraftLog.read(spark, t).collect().map(_.toSeq).toSet
    val v = GraftLog.checkpoint(spark, t)
    assert(v == 5L)
    assert(GraftLog.read(spark, t).collect().map(_.toSeq).toSet == before)
    // post-checkpoint commits replay on top of it
    GraftLog.append(df(30 until 33, "tail"), t)
    assert(GraftLog.read(spark, t).count() == 33)
    // time travel below the checkpoint still works (log entries intact)
    assert(GraftLog.readVersion(spark, t, 2L).count() == 15)
    // stats survive the checkpoint round-trip (data skipping still prunes)
    assert(GraftLog.fileStats(spark, t).values.forall(_.contains("id")))
    // idempotent: re-checkpointing the same version is a no-op
    GraftLog.checkpoint(spark, t, Some(5L))
  }

  test("columnar checkpoint: parquet decode equals the JSON fallback") {
    val t = tmp()
    // rich state: six stat-bearing appends, a txn-ledger entry, a
    // file-rewriting delete, an active deletion vector
    (0 until 6).foreach(i => GraftLog.append(df(i * 5 until (i + 1) * 5,
      s"b$i").coalesce(1), t))
    GraftLog.txnAppend(df(30 until 32, "tx"), t, "appX", 3L)
    GraftLog.delete(spark, t, col("id") === 1L)
    GraftLog.deleteVectors(spark, t, col("id") === 7L)
    val v = GraftLog.checkpoint(spark, t)
    val logDir = new java.io.File(s"$t/_graft_log")
    val pq = logDir.listFiles()
      .find(_.getName.endsWith(".checkpoint.parquet"))
    assert(pq.exists(_.isDirectory), "columnar checkpoint dir missing")
    assert(pq.get.listFiles().count(_.getName.endsWith(".parquet")) >= 1)
    // state decoded THROUGH the parquet checkpoint: forget the state
    // and checkpoint this process memoized while writing it
    GraftLog.resetStateMemo()
    val decodes0 = graft.sources.LogCounters.checkpointDecodes.get
    val rowsPq = GraftLog.read(spark, t).collect().map(_.toSeq).toSet
    assert(graft.sources.LogCounters.checkpointDecodes.get > decodes0,
      "the read must decode the columnar checkpoint")
    val statsPq = GraftLog.fileStats(spark, t)
    val sizesPq = GraftLog.fileSizes(spark, t)
    assert(statsPq.nonEmpty && sizesPq.nonEmpty)
    assert(!GraftLog.txnAppend(df(90 until 92, "no"), t, "appX", 3L),
      "ledger lost through the parquet checkpoint")
    // drop the parquet dir → the JSON sidecar must answer identically
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(pq.get)
    GraftLog.resetStateMemo()
    assert(GraftLog.read(spark, t).collect().map(_.toSeq).toSet == rowsPq)
    assert(GraftLog.fileStats(spark, t) == statsPq)
    assert(GraftLog.fileSizes(spark, t) == sizesPq)
    assert(!GraftLog.txnAppend(df(90 until 92, "no"), t, "appX", 3L),
      "ledger lost through the JSON fallback")
    // time travel through the (now JSON-only) checkpoint still exact
    assert(GraftLog.readVersion(spark, t, v).collect()
      .map(_.toSeq).toSet == rowsPq)
  }

  test("append rejects a same-name different-type batch, keeps table schema") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "a"), t)
    // same column names, tag is INT not STRING: must be REJECTED, not
    // silently re-point the table schema at the batch's types
    val typed = Seq((9L, 7)).toDF("id", "tag")
    val e = intercept[IllegalArgumentException] { GraftLog.append(typed, t) }
    assert(e.getMessage.contains("tag"))
    assert(GraftLog.read(spark, t).schema("tag").dataType.sql == "STRING")
    // a reordered/case-shifted batch is ALIGNED to the table's order and
    // case, and the committed schema stays the table's
    val reordered = Seq(("z", 100L)).toDF("TAG", "id")
    GraftLog.append(reordered, t)
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "tag"))
    assert(back.filter(col("id") === 100L).select("tag").as[String]
      .head() == "z")
    // txnAppend goes through the same gate
    intercept[IllegalArgumentException] {
      GraftLog.txnAppend(typed, t, "appT", 0L)
    }
  }

  test("delete keeps NULL-predicate rows (SQL DELETE semantics)") {
    val t = tmp()
    val data = Seq((0L, "x"), (1L, "y"), (2L, null), (3L, "x"), (4L, null))
      .toDF("id", "tag")
    // single file so the touched-file path definitely contains NULL rows
    GraftLog.overwrite(data.coalesce(1), t)
    GraftLog.delete(spark, t, col("tag") === "x")
    val back = GraftLog.read(spark, t)
    // only tag='x' rows go; tag IS NULL rows are KEPT
    assert(back.select("id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    assert(back.filter(col("tag").isNull).count() == 2)
  }

  test("txn ledger survives vacuum via the checkpoint fold") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 5, "seed"), t)
    assert(GraftLog.txnAppend(df(5 until 8, "b0"), t, "appV", 0L))
    assert(GraftLog.txnAppend(df(8 until 10, "b1"), t, "appV", 1L))
    GraftLog.vacuum(spark, t, retainVersions = 1)
    // the commits carrying the txn tags are gone from the log...
    assert(GraftLog.versions(spark, t) == Seq(2L))
    // ...but the folded ledger in the checkpoint still rejects replays
    assert(GraftLog.lastCommittedBatch(spark, t, "appV").contains(1L))
    assert(!GraftLog.txnAppend(df(90 until 95, "dup"), t, "appV", 1L))
    assert(GraftLog.read(spark, t).count() == 10)
    // and a genuinely new batch still lands
    assert(GraftLog.txnAppend(df(10 until 12, "b2"), t, "appV", 2L))
    assert(GraftLog.read(spark, t).count() == 12)
  }

  test("delete-everything leaves a readable typed empty table") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 4, "a"), t)
    GraftLog.delete(spark, t, lit(true))
    val back = GraftLog.read(spark, t)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag"))
  }

  test("deletion vectors: merge-on-read lifecycle") {
    val t = tmp()
    GraftLog.overwrite(
      df(0 until 100, "seed").repartition(4), t)       // v0
    val filesBefore = GraftLog.snapshot(spark, t)._1.toSet
    GraftLog.deleteVectors(spark, t, col("id") % 10 === 0) // v1
    // merge-on-read: not one data file changed, rows masked on read
    assert(GraftLog.snapshot(spark, t)._1.toSet == filesBefore)
    assert(GraftLog.deletionVectors(spark, t).nonEmpty)
    val masked = GraftLog.read(spark, t)
    assert(masked.count() == 90)
    assert(masked.filter(col("id") % 10 === 0).count() == 0)
    // time travel: v0 still shows everything
    assert(GraftLog.readVersion(spark, t, 0L).count() == 100)
    // a second DV commit stacks
    GraftLog.deleteVectors(spark, t, col("id") === 1L)      // v2
    assert(GraftLog.read(spark, t).count() == 89)
    // rewriting DML refuses while DVs are active (rows would resurrect)
    intercept[IllegalArgumentException] {
      GraftLog.delete(spark, t, col("id") === 2L)
    }
    intercept[IllegalArgumentException] {
      GraftLog.update(spark, t, col("id") === 2L, Seq("tag" -> lit("x")))
    }
    intercept[IllegalArgumentException] {
      GraftLog.merge(df(0 until 1, "m"), t, Seq("id"))
    }
    // the planner-scan paths refuse too — they cannot apply the mask
    intercept[IllegalArgumentException] {
      graft.sources.GraftFileIndex.read(spark, t).count()
    }
    // compact materializes: same rows, vectors gone, DML usable again
    GraftLog.compact(spark, t)                              // v3
    assert(GraftLog.deletionVectors(spark, t).isEmpty)
    val solid = GraftLog.read(spark, t)
    assert(solid.count() == 89)
    assert(solid.filter(col("id") % 10 === 0 || col("id") === 1L)
      .count() == 0)
    GraftLog.delete(spark, t, col("id") === 2L)             // v4 works
    assert(GraftLog.read(spark, t).count() == 88)
  }

  test("compactWhere: partition-scoped, predicate on partition cols only") {
    val t = tmp()
    val seed = (0 until 60).map(i => (i.toLong, s"g${i % 3}", s"r$i"))
      .toDF("id", "grp", "tag")
    GraftLog.overwritePartitioned(
      seed.filter($"id" % 2 === 0), t, Seq("grp"))
    GraftLog.appendPartitioned(
      seed.filter($"id" % 2 === 1), t, Seq("grp"))
    val before = GraftLog.snapshot(spark, t)._1
    assert(before.count(_.contains("grp=g1")) >= 2)
    val v = GraftLog.compactWhere(spark, t, $"grp" === "g1")
    val after = GraftLog.snapshot(spark, t)._1
    assert(after.count(_.contains("grp=g1")) == 1)
    // out-of-scope partitions carried by the same paths
    assert(before.filterNot(_.contains("grp=g1")).toSet
      .subsetOf(after.toSet))
    // same rows (layout-only), time travel intact
    assert(GraftLog.read(spark, t).count() == 60)
    assert(GraftLog.readVersion(spark, t, v - 1).count() == 60)
    // data-column predicates are rejected loudly
    val e = intercept[IllegalArgumentException] {
      GraftLog.compactWhere(spark, t, $"id" > 10)
    }
    assert(e.getMessage.contains("partition columns"))
    // no matching partition → no empty commit
    val vTop = GraftLog.latestVersion(spark, t).get
    assert(GraftLog.compactWhere(spark, t, $"grp" === "nope") == vTop)
    // a live stream passes over the scoped compact (rewrite-only)
    val root = t.stripSuffix("/t")
    // flat-stream restriction applies to partitioned tables; use CDF
    // batch read instead to confirm the commit classifies as layout-only
    assert(GraftLog.changesAt(spark, t, Seq("id"), v).count() == 0)
  }

  test("reorg purge rewrites only masked files, drops DVs, keeps rows") {
    val t = tmp()
    val seed = (0 until 80).map(i => (i.toLong, s"r$i"))
      .toDF("id", "tag").repartitionByRange(4, $"id")
    GraftLog.overwrite(seed, t)                                      // v0
    GraftLog.deleteVectors(spark, t, $"id" % 2 === 0 && $"id" < 20)  // v1
    val before = GraftLog.snapshot(spark, t)._1
    assert(GraftLog.reorgPurge(spark, t) == 2L)
    val after = GraftLog.snapshot(spark, t)._1.toSet
    // every unmasked file carried by the same path; ≥1 file untouched
    val carried = before.toSet.intersect(after)
    assert(carried.nonEmpty)
    assert(GraftLog.deletionVectors(spark, t).isEmpty)
    val back = GraftLog.read(spark, t)
    assert(back.count() == 80 - 10)
    assert(back.filter($"id" % 2 === 0 && $"id" < 20).count() == 0)
    // time travel still sees the pre-purge states
    assert(GraftLog.readVersion(spark, t, 0L).count() == 80)
    assert(GraftLog.readVersion(spark, t, 1L).count() == 70)
    // a stream over the full history passes over the reorg commit
    // (rewrite-only): delivered = v0's 80 rows exactly — the purge
    // rewrite's files would push the count past 80 if delivered
    // (ignoreChanges admits the DV commit, which adds no files)
    val root = t.stripSuffix("/t")
    val q = spark.readStream.format("graft")
      .option("ignoreChanges", "true").load(t)
      .writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$root/out").count() == 80)
    // full DML is live again post-purge (DVs were the blocker)
    GraftLog.delete(spark, t, $"id" === 21L)
    assert(GraftLog.read(spark, t).count() == 69)
    // no active DVs → no-op, no empty commit
    val vTop = GraftLog.latestVersion(spark, t).get
    assert(GraftLog.reorgPurge(spark, t) == vTop)
    assert(GraftLog.latestVersion(spark, t).get == vTop)
  }

  test("deleteVectorsMatching equals the predicate form") {
    import spark.implicits._
    val t1 = tmp(); val t2 = tmp()
    val seed = df(0 until 60, "seed").repartition(3)
    GraftLog.overwrite(seed, t1)
    GraftLog.overwrite(seed, t2)
    GraftLog.deleteVectors(spark, t1, col("id") % 5 === 0)
    GraftLog.deleteVectorsMatching(spark, t2,
      (0 until 60 by 5).map(_.toLong).toDF("id"), Seq("id"))
    val a = GraftLog.read(spark, t1)
    val b = GraftLog.read(spark, t2)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(b.count() == 48)
  }

  test("deletion vectors survive checkpoint + vacuum") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 50, "seed").repartition(4), t) // v0
    GraftLog.append(df(50 until 60, "more"), t)                  // v1
    GraftLog.deleteVectors(spark, t, col("id") < 5)              // v2
    GraftLog.append(df(60 until 65, "tail"), t)                  // v3
    GraftLog.vacuum(spark, t, retainVersions = 2)
    // the DV commit was truncated from the log, but the checkpoint
    // carries the active vector set — the mask still applies
    assert(GraftLog.versions(spark, t) == Seq(2L, 3L))
    assert(GraftLog.deletionVectors(spark, t).nonEmpty)
    assert(GraftLog.read(spark, t).count() == 60) // 65 − 5 masked
    assert(GraftLog.read(spark, t).filter(col("id") < 5).count() == 0)
  }

  test("deletion vectors on a hive-partitioned layout") {
    val t = tmp()
    val seed = (0 until 120).map(i => (i.toLong, s"p${i % 3}"))
      .toDF("id", "part")
    GraftLog.overwritePartitioned(seed, t, Seq("part"))         // v0
    val filesBefore = GraftLog.snapshot(spark, t)._1.toSet
    assert(filesBefore.forall(_.contains("part=")), "hive layout expected")
    // DV commit: zero data files rewritten, rows masked on read
    GraftLog.deleteVectors(spark, t, col("id") % 10 === 0)      // v1
    assert(GraftLog.snapshot(spark, t)._1.toSet == filesBefore)
    val masked = GraftLog.read(spark, t)
    assert(masked.count() == 108)
    assert(masked.filter(col("id") % 10 === 0).count() == 0)
    assert(masked.schema.fieldNames.toSeq == Seq("id", "part"))
    // a predicate on the PARTITION column works too (stacked commit)
    GraftLog.deleteVectors(spark, t, col("part") === "p2")      // v2
    assert(GraftLog.read(spark, t).count() == 72) // 108 − 36 live p2 rows
    // compact materializes while KEEPING the partitioned layout
    GraftLog.compact(spark, t)                                  // v3
    assert(GraftLog.deletionVectors(spark, t).isEmpty)
    val solid = GraftLog.snapshot(spark, t)._1
    assert(solid.nonEmpty && solid.forall(_.contains("part=")),
      s"compact flattened the layout: $solid")
    assert(solid.forall(!_.contains("part=p2")), "p2 files must be gone")
    val after = GraftLog.read(spark, t)
    assert(after.count() == 72)
    assert(after.filter(col("part") === "p2").count() == 0)
    // partition pruning still live after materialization
    assert(after.filter(col("part") === "p1").count() == 36)
  }

  test("restore carries deletion-vector state of the target version") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 100, "seed").repartition(4), t) // v0
    GraftLog.deleteVectors(spark, t, col("id") < 10)              // v1
    GraftLog.compact(spark, t)                                    // v2
    assert(GraftLog.deletionVectors(spark, t).isEmpty)
    // restore TO the DV-active version from the post-compact state:
    // the masks come back with it — erased rows must NOT resurrect
    GraftLog.restore(spark, t, 1L)                                // v3
    assert(GraftLog.deletionVectors(spark, t).nonEmpty)
    assert(GraftLog.read(spark, t).count() == 90)
    assert(GraftLog.read(spark, t).filter(col("id") < 10).count() == 0)
    // restore PAST the DV commit to the pre-DV version: the later DV
    // commit's masks deactivate — every original row is visible again
    GraftLog.restore(spark, t, 0L)                                // v4
    assert(GraftLog.deletionVectors(spark, t).isEmpty)
    assert(GraftLog.read(spark, t).count() == 100)
  }

  test("schema evolution: mergeSchema append + ALTER ADD COLUMNS") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a"), t)
    // widened batch through the Delta-style write option
    val widened = (10 until 20).map(i => (i.toLong, "b", i * 2L))
      .toDF("id", "tag", "score")
    widened.write.format("graft").mode("append")
      .option("mergeSchema", "true").save(t)
    val back = GraftLog.read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag", "score"))
    assert(back.count() == 20)
    // typed-NULL backfill for rows that predate the column
    assert(back.filter($"id" < 10 && $"score".isNull).count() == 10)
    assert(back.filter($"id" >= 10 && $"score".isNull).count() == 0)
    // without the option, a differently-shaped batch is still rejected
    intercept[IllegalArgumentException] {
      GraftLog.append((0 until 2).map(i => (i.toLong, "c", "x"))
        .toDF("id", "tag", "extra"), t)
    }
    // ALTER on the catalog-registered form syncs the metastore schema
    spark.sql("DROP TABLE IF EXISTS evo_t")
    spark.sql(s"CREATE TABLE evo_t USING graft OPTIONS (path '$t')")
    try {
      spark.sql("ALTER TABLE evo_t ADD COLUMNS (flag STRING, w DOUBLE)")
      val cat = spark.table("evo_t")
      assert(cat.schema.fieldNames.toSeq ==
        Seq("id", "tag", "score", "flag", "w"))
      assert(cat.filter($"flag".isNull && $"w".isNull).count() == 20)
      // duplicate column is rejected, not silently doubled
      intercept[Exception] {
        spark.sql("ALTER TABLE evo_t ADD COLUMNS (id INT)")
      }
    } finally spark.sql("DROP TABLE evo_t")
  }

  test("restore re-attaches Bloom bitmaps of re-added files") {
    val t = tmp()
    GraftLog.overwriteIndexed(df(0 until 40, "a"), t, Seq("tag")) // v0
    assert(GraftLog.fileBlooms(spark, t).nonEmpty)
    GraftLog.overwrite(df(40 until 50, "b"), t)                   // v1
    assert(GraftLog.fileBlooms(spark, t).isEmpty)
    GraftLog.restore(spark, t, 0L)                                // v2
    // v0's files are re-added WITH their Bloom metadata, so file
    // skipping keeps working after the restore
    assert(GraftLog.fileBlooms(spark, t).nonEmpty)
    assert(GraftLog.read(spark, t).count() == 40)
  }

  // ------------------------------------------- optimistic concurrency
  // Real uncoordinated writer threads racing one table. The assertions
  // are deliberately order-free: every interleaving (including runs
  // where no race actually fires) must converge to the same state.

  private def racing[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    val start = new java.util.concurrent.CountDownLatch(1)
    val fs = tasks.map { t =>
      pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = { start.await(); t() }
      })
    }
    start.countDown()
    try fs.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    finally pool.shutdown()
  }

  test("concurrent appends all commit exactly once (blind appends commute)") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "seed"), t)
    val vs = racing((0 until 8).map { i => () =>
      GraftLog.append(df(100 + 10 * i until 110 + 10 * i, s"w$i"), t)
    })
    // dense versions, one commit per writer, nobody lost or doubled
    assert(vs.sorted == (1L to 8L))
    assert(GraftLog.read(spark, t).count() == 10 + 80)
    val ops = GraftLog.history(spark, t).collect().map(_.getString(1))
    assert(ops.count(_ == "append") == 8)
  }

  test("racing deletes on the same file both apply (no lost update)") {
    val t = tmp()
    // one data file => both rewrites target the SAME file; committing at
    // readVersion+1 forces the loser to collide and rebase onto the
    // winner's rewrite instead of silently resurrecting its rows
    GraftLog.overwrite(df(0 until 100, "seed").coalesce(1), t)
    racing(Seq(3L, 7L).map { m => () =>
      GraftLog.delete(spark, t, $"id" % 10 === m)
    })
    val back = GraftLog.read(spark, t)
    assert(back.count() == 80)
    assert(back.filter($"id" % 10 === 3 || $"id" % 10 === 7).count() == 0)
    val ops = GraftLog.history(spark, t).collect().map(_.getString(1))
    assert(ops.count(_ == "delete") == 2)
  }

  test("append racing a schema widening never reverts the widening") {
    (0 until 3).foreach { _ =>
      val t = tmp()
      GraftLog.overwrite(df(0 until 10, "seed"), t)
      val wide = (100 until 105).map(i => (i.toLong, "w", 1.5))
        .toDF("id", "tag", "score")
      val results = racing[Either[Throwable, Long]](Seq(
        () => Right(GraftLog.appendMergeSchema(wide, t)),
        () =>
          try Right(GraftLog.append(df(200 until 205, "a"), t))
          catch {
            // the append is ALLOWED to fail loudly (the table schema
            // moved under it — Delta's MetadataChangedException), it is
            // never allowed to land and revert the widening
            case e: java.util.ConcurrentModificationException => Left(e)
            case e: IllegalArgumentException => Left(e)
          }
      ))
      assert(results.head.isRight) // the widening itself always lands
      val schema = GraftLog.snapshot(spark, t)._2
      assert(schema.fieldNames.contains("score"),
        s"widening reverted: ${schema.toDDL}")
      val n = GraftLog.read(spark, t).count()
      results(1) match {
        case Right(_) => assert(n == 20)
        case Left(_)  => assert(n == 15)
      }
    }
  }

  test("liquid clustering: each run reads only unclustered files") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 20, "w0").coalesce(1), t)          // v0
    GraftLog.setProperties(spark, t, Map("graft.clusterBy" -> "id"))
    GraftLog.append(df(20 until 40, "w1").coalesce(1), t)
    val v1 = GraftLog.clusterIncremental(spark, t,
      targetFiles = 2, minFiles = 1)
    assert(v1.nonEmpty)
    val zcubeA = GraftLog.snapshot(spark, t)._1.toSet
    assert(GraftLog.clusteredFiles(spark, t) == zcubeA,
      "after a full-table cluster every live file is clustered")
    // steady state: nothing unclustered → metadata-read no-op
    assert(GraftLog.clusterIncremental(spark, t,
      targetFiles = 2, minFiles = 1).isEmpty)
    // new waves land, the next run must touch ONLY them
    GraftLog.append(df(40 until 60, "w2").coalesce(1), t)
    GraftLog.append(df(60 until 80, "w3").coalesce(1), t)
    val v2 = GraftLog.clusterIncremental(spark, t,
      targetFiles = 2, minFiles = 1)
    assert(v2.nonEmpty)
    val after = GraftLog.snapshot(spark, t)._1.toSet
    assert(zcubeA.subsetOf(after),
      "zcube A's files must be untouched by the incremental run")
    val h = GraftLog.history(spark, t)
      .filter(col("version") === v2.get).head()
    assert(h.getAs[Int]("n_removed_files") == 2,
      "run 2 rewrote exactly the two new wave files")
    // row identity
    assert(GraftLog.read(spark, t).select("id").as[Long].collect().toSet
      == (0L until 80L).toSet)
    // clustering buys skipping: a point probe on the clustering column
    // scans fewer files than the table holds
    val idx = new graft.sources.GraftFileIndex(spark, t)
    val probe = org.apache.spark.sql.catalyst.expressions.EqualTo(
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "id", org.apache.spark.sql.types.LongType)(),
      org.apache.spark.sql.catalyst.expressions.Literal(5L))
    val kept = idx.listFiles(Seq.empty, Seq(probe)).flatMap(_.files).size
    assert(kept < after.size,
      s"stats skipping must prune clustered files: kept $kept of ${after.size}")
    // zcube membership rides the stats map, so it survives checkpoint
    // subsumption — the op-derivation alternative would re-cluster the
    // whole bulk once old cluster commits age out of the log
    GraftLog.checkpoint(spark, t)
    assert(GraftLog.clusteredFiles(spark, t) == after,
      "membership must survive a checkpoint fold")
    assert(GraftLog.clusterIncremental(spark, t,
      targetFiles = 2, minFiles = 1).isEmpty,
      "steady state after checkpoint: nothing to re-cluster")
  }

  test("liquid clustering: guards — no property, partitioned layout") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "x"), t)
    val e = intercept[IllegalArgumentException] {
      GraftLog.clusterIncremental(spark, t)
    }
    assert(e.getMessage.contains("graft.clusterBy"))
    val p = tmp()
    GraftLog.overwritePartitioned(df(0 until 10, "x"), p, Seq("tag"))
    GraftLog.setProperties(spark, p, Map("graft.clusterBy" -> "id"))
    val e2 = intercept[IllegalArgumentException] {
      GraftLog.clusterIncremental(spark, p)
    }
    assert(e2.getMessage.contains("partitioned"))
  }

  test("liquid clustering: OPTIMIZE routes by the CLUSTER BY DDL") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "a").coalesce(1), t)
    spark.sql(s"ALTER TABLE '$t' CLUSTER BY (id)")
    assert(GraftLog.properties(spark, t).get("graft.clusterBy")
      .contains("id"))
    GraftLog.append(df(10 until 20, "b").coalesce(1), t)
    spark.sql(s"OPTIMIZE '$t'")
    val ops = GraftLog.history(spark, t).select("operation")
      .as[String].collect()
    assert(ops.contains("cluster") && !ops.contains("compact"),
      s"OPTIMIZE on a liquid table must cluster, got ${ops.mkString(",")}")
    // CLUSTER BY NONE withdraws the declaration; OPTIMIZE compacts again
    spark.sql(s"ALTER TABLE '$t' CLUSTER BY NONE")
    assert(!GraftLog.properties(spark, t).contains("graft.clusterBy"))
    GraftLog.append(df(20 until 30, "c").coalesce(1), t)
    spark.sql(s"OPTIMIZE '$t'")
    val ops2 = GraftLog.history(spark, t).select("operation")
      .as[String].collect()
    assert(ops2.contains("compact"),
      s"OPTIMIZE after CLUSTER BY NONE must compact, got ${ops2.mkString(",")}")
  }

  test("liquid clustering: OPTIMIZE FULL re-clusters after a column change") {
    val t = tmp()
    // second numeric column so the post-FULL layout has prunable stats
    def d2(ids: Range) = ids
      .map(i => (i.toLong, (i % 5).toLong, s"r$i")).toDF("id", "id2", "tag")
    GraftLog.overwrite(d2(0 until 200).coalesce(1), t)
    spark.sql(s"ALTER TABLE '$t' CLUSTER BY (id)")
    GraftLog.append(d2(200 until 400).coalesce(1), t)
    spark.sql(s"OPTIMIZE '$t'")
    val zcubeA = GraftLog.snapshot(spark, t)._1.toSet
    // the clustering columns change; incremental runs never revisit a
    // zcube, so plain OPTIMIZE is a no-op — FULL re-lays everything out
    spark.sql(s"ALTER TABLE '$t' CLUSTER BY (id2)")
    spark.sql(s"OPTIMIZE '$t'")
    assert(GraftLog.snapshot(spark, t)._1.toSet == zcubeA,
      "incremental OPTIMIZE must not revisit existing zcubes")
    spark.sql(s"OPTIMIZE '$t' FILES 4 FULL")
    val after = GraftLog.snapshot(spark, t)._1.toSet
    assert((after intersect zcubeA).isEmpty,
      "FULL must rewrite every file under the new clustering")
    assert(GraftLog.read(spark, t).count() == 400)
    // plan pin (numFiles): a point probe on the NEW clustering column
    // scans strictly fewer files than the table holds — the pruning
    // OPTIMIZE FULL exists to buy
    val idx = new graft.sources.GraftFileIndex(spark, t)
    val probe = org.apache.spark.sql.catalyst.expressions.EqualTo(
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "id2", org.apache.spark.sql.types.LongType)(),
      org.apache.spark.sql.catalyst.expressions.Literal(0L))
    val kept = idx.listFiles(Seq.empty, Seq(probe)).flatMap(_.files).size
    assert(after.size >= 4 && kept < after.size,
      s"post-FULL probe must prune: kept $kept of ${after.size}")
    // FULL without a declaration refuses
    val p = tmp()
    GraftLog.overwrite(df(0 until 5, "x"), p)
    val e = intercept[Exception](spark.sql(s"OPTIMIZE '$p' FULL"))
    assert(e.getMessage.contains("graft.clusterBy"))
  }

  test("column defaults: omitted columns fill, supplied values win") {
    val t = tmp()
    GraftLog.overwrite((0 until 5).map(i => (i.toLong, s"n$i", 1.5, "A"))
      .toDF("id", "nm", "bal", "seg"), t)
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN seg SET DEFAULT 'X'")
    spark.sql(
      s"ALTER TABLE '$t' ALTER COLUMN bal SET DEFAULT CAST(0.0 AS DOUBLE)")
    // both omitted → both fill
    GraftLog.append(Seq((100L, "new")).toDF("id", "nm"), t)
    val r = GraftLog.read(spark, t).filter($"id" === 100L).head()
    assert(r.getAs[Double]("bal") == 0.0 && r.getAs[String]("seg") == "X")
    // supplied wins over the default
    GraftLog.append(Seq((101L, "own", 9.9)).toDF("id", "nm", "bal"), t)
    val r2 = GraftLog.read(spark, t).filter($"id" === 101L).head()
    assert(r2.getAs[Double]("bal") == 9.9 && r2.getAs[String]("seg") == "X")
    // no default on nm: omitting it still refuses
    intercept[IllegalArgumentException] {
      GraftLog.append(Seq(Tuple1(102L)).toDF("id"), t)
    }
    // DROP DEFAULT: omission refuses again
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN seg DROP DEFAULT")
    intercept[IllegalArgumentException] {
      GraftLog.append(Seq((103L, "z")).toDF("id", "nm"), t)
    }
    // non-constant / ill-typed default expressions refuse at SET time
    intercept[IllegalArgumentException] {
      GraftLog.setColumnDefault(spark, t, "bal", "id + 1")
    }
    // the declaring commit carried the writer feature atomically
    assert(GraftLog.properties(spark, t)
      .get("graft.protocol.writerFeatures")
      .exists(_.contains("defaultColumns")))
    // time travel: pre-declaration versions unaffected
    assert(GraftLog.readVersion(spark, t, 0L).count() == 5)
  }

  test("column defaults: every insert surface fills; lossy literals refuse") {
    // an un-castable literal refuses at SET time — the validation must
    // EVALUATE the cast, not just analyze it (a zero-row check accepts
    // 'abc'::double and every later omitted-column write fills NULL)
    val t0 = tmp()
    GraftLog.overwrite(Seq((1L, 2.0)).toDF("id", "bal"), t0)
    intercept[IllegalArgumentException] {
      GraftLog.setColumnDefault(spark, t0, "bal", "'abc'")
    }
    GraftLog.setColumnDefault(spark, t0, "bal", "NULL") // literal NULL ok
    GraftLog.append(Seq(Tuple1(2L)).toDF("id"), t0)
    assert(GraftLog.read(spark, t0).filter($"id" === 2L).head().isNullAt(1))

    // defaults fill through txnAppend and COPY INTO, not only append
    val t = tmp()
    GraftLog.overwrite(Seq((1L, "a", "A")).toDF("id", "nm", "seg"), t)
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN seg SET DEFAULT 'X'")
    assert(GraftLog.txnAppend(Seq((2L, "b")).toDF("id", "nm"), t, "dflt", 0L))
    val srcDir = graft.sources.Staging.tempDir("graft_dflt_src_")
    Seq((3L, "c")).toDF("id", "nm").write.parquet(s"$srcDir/in")
    val (v, nf, nr) = GraftLog.copyInto(spark, t, s"$srcDir/in")
    assert(v >= 0 && nf == 1 && nr == 1)
    val back = GraftLog.read(spark, t).orderBy("id").collect()
    assert(back.map(_.getAs[String]("seg")).toSeq == Seq("A", "X", "X"))

    // hive-partitioned streaming append fills too
    val tp = tmp()
    GraftLog.overwritePartitioned(
      Seq((1L, "a", "p1")).toDF("id", "seg", "pt"), tp, Seq("pt"))
    spark.sql(s"ALTER TABLE '$tp' ALTER COLUMN seg SET DEFAULT 'Y'")
    assert(GraftLog.txnAppendPartitioned(
      Seq((2L, "p1")).toDF("id", "pt"), tp, "dfltp", 0L, Seq("pt")))
    assert(GraftLog.read(spark, tp).filter($"id" === 2L)
      .select("seg").as[String].head() == "Y")
  }

  test("racing overwrites converge to exactly one writer's rows") {
    val t = tmp()
    GraftLog.overwrite(df(0 until 10, "seed"), t)
    racing(Seq(("A", 20), ("B", 30)).map { case (tag, n) => () =>
      GraftLog.overwrite(df(0 until n, tag), t)
    })
    // whole-table replacement: the later commit's remove set must cover
    // the earlier racer's files — never a mix of both writers
    val back = GraftLog.read(spark, t)
    val tags = back.select("tag").distinct().as[String].collect().toSeq
    assert(tags.length == 1 && Set("A", "B")(tags.head), tags.mkString(","))
    assert(back.count() == (if (tags.head == "A") 20 else 30))
    assert(GraftLog.versions(spark, t) == Seq(0L, 1L, 2L))
  }

  test("appendPartitioned fills declared DEFAULTs") {
    val t = tmp()
    GraftLog.overwritePartitioned(
      Seq((1L, "a", "A")).toDF("id", "nm", "seg"), t, Seq("seg"))
    GraftLog.setColumnDefault(spark, t, "nm", "'dflt'")
    GraftLog.appendPartitioned(Seq((2L, "B")).toDF("id", "seg"), t,
      Seq("seg"))
    val r = GraftLog.read(spark, t).filter($"id" === 2L).head()
    assert(r.getAs[String]("nm") == "dflt" && r.getAs[String]("seg") == "B")
  }
}
