package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThan, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftFileIndex, GraftLog, Sources, Staging}

/** GENERATED columns (Delta's `GENERATED ALWAYS AS (expr)`):
  * definitions fixed at creation, values computed on every write path,
  * explicit values validated, and — the 100 TB point — partition
  * predicates DERIVED from base-column filters in the planner, so
  * `WHERE ts >= X` prunes `event_date=…` dirs without the query ever
  * naming the partition column. */
class GeneratedColumnsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def events = Sources.testTable(spark, TestSpark.sf, "events")

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  // one generated table per JVM: event_date GENERATED ALWAYS AS
  // (to_date(ts)), hive-partitioned by it, built from two writes that
  // never name the column
  private lazy val gdir: String = {
    val d = Staging.tempDir("graft_gen_") + "/events_gen"
    GraftLog.createGenerated(
      events.filter(col("event_id") % 2 === 0), d,
      Map("event_date" -> "to_date(ts)"), Seq("event_date"))
    GraftLog.appendPartitioned(
      events.filter(col("event_id") % 2 === 1), d, Seq("event_date"))
    d
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
  }

  test("creation computes the column; appends never name it; roundtrip") {
    val back = GraftLog.read(spark, gdir)
    assert(back.count() == events.count())
    // the generated value equals its expression on every row
    assert(back.filter(!(col("event_date") <=> to_date(col("ts"))))
      .count() == 0)
    // layout is hive-partitioned by the generated column
    assert(GraftLog.snapshot(spark, gdir)._1
      .forall(_.contains("event_date=")))
    // definition is commit-carried and survives the second write
    assert(GraftLog.generatedColumns(spark, gdir) ==
      Map("event_date" -> "to_date(ts)"))
    // data columns round-trip bit-for-bit
    assert(back.drop("event_date").exceptAll(events).count() == 0 &&
      events.exceptAll(back.drop("event_date")).count() == 0)
  }

  test("explicit values validate: divergent rejected, correct accepted") {
    val good = events.limit(5).withColumn("event_date", to_date(col("ts")))
    GraftLog.appendPartitioned(good, gdir, Seq("event_date"))
    val bad = events.limit(5)
      .withColumn("event_date", to_date(lit("1999-01-01")))
    val e = intercept[IllegalArgumentException] {
      GraftLog.appendPartitioned(bad, gdir, Seq("event_date"))
    }
    assert(e.getMessage.contains("generated"))
    // creation refuses a batch that already carries a defined column
    intercept[IllegalArgumentException] {
      GraftLog.createGenerated(good,
        Staging.tempDir("graft_gen_") + "/dup",
        Map("event_date" -> "to_date(ts)"), Seq("event_date"))
    }
  }

  test("base-column range filter prunes partition DIRS (derived, monotone)") {
    val idx = new GraftFileIndex(spark, gdir)
    val totalDirs = idx.countDirsAfterPruning(Nil)
    assert(totalDirs > 5, s"need a multi-dir layout, got $totalDirs")
    val tsAttr = AttributeReference("ts", TimestampType)()
    val loHi = Seq(
      GreaterThanOrEqual(tsAttr, Literal(ts("2024-01-10 00:00:00"))),
      LessThan(tsAttr, Literal(ts("2024-01-13 00:00:00"))))
    val kept = idx.countDirsAfterPruning(loHi)
    // 2024-01-10 .. 2024-01-12 inclusive = at most 4 dirs (boundary
    // day of the < bound stays: f collapses neighborhoods)
    assert(kept <= 4, s"derived pruning kept $kept of $totalDirs dirs")
    // equality derives too
    val eq = idx.countDirsAfterPruning(Seq(
      EqualTo(tsAttr, Literal(ts("2024-01-05 12:00:00")))))
    assert(eq == 1, s"equality should keep exactly 1 dir, kept $eq")
  }

  test("derived pruning reaches the planner and loses no rows") {
    val lo = ts("2024-01-10 00:00:00")
    val hi = ts("2024-01-13 00:00:00")
    val q = spark.read.format("graft").load(gdir)
      .filter(col("ts") >= lo && col("ts") < hi)
      .drop("event_date")
    val expect = events.filter(col("ts") >= lo && col("ts") < hi)
    assert(q.exceptAll(expect).count() == 0 &&
      expect.exceptAll(q).count() == 0)
    val total = new GraftFileIndex(spark, gdir).inputFiles.length
    assert(scanOf(q).metrics("numFiles").value < total)
  }

  test("non-monotone shape (day) derives equality only, never ranges") {
    val d = Staging.tempDir("graft_gen_") + "/events_day"
    GraftLog.createGenerated(events, d,
      Map("event_day" -> "day(ts)"), Seq("event_day"))
    val idx = new GraftFileIndex(spark, d)
    val totalDirs = idx.countDirsAfterPruning(Nil)
    val tsAttr = AttributeReference("ts", TimestampType)()
    // a range on ts says NOTHING about day-of-month — all dirs kept
    val ranged = idx.countDirsAfterPruning(Seq(
      GreaterThanOrEqual(tsAttr, Literal(ts("2024-01-28 00:00:00")))))
    assert(ranged == totalDirs,
      "non-monotone day() must not derive from a range filter")
    // equality pins the day exactly
    val eq = idx.countDirsAfterPruning(Seq(
      EqualTo(tsAttr, Literal(ts("2024-01-07 08:00:00")))))
    assert(eq == 1)
  }

  test("substring prefix shape: equality and range both derive") {
    val d = Staging.tempDir("graft_gen_") + "/cust_prefix"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.createGenerated(cust, d,
      Map("seg3" -> "substring(c_mktsegment, 1, 3)"), Seq("seg3"))
    val idx = new GraftFileIndex(spark, d)
    val totalDirs = idx.countDirsAfterPruning(Nil)
    assert(totalDirs == 5) // BUI/MAC/AUT/FUR/HOU
    val seg = AttributeReference("c_mktsegment",
      org.apache.spark.sql.types.StringType)()
    val eq = idx.countDirsAfterPruning(Seq(EqualTo(seg,
      Literal(org.apache.spark.unsafe.types.UTF8String
        .fromString("BUILDING"),
        org.apache.spark.sql.types.StringType))))
    assert(eq == 1)
    // prefix truncation is monotone: >= "MA" keeps MAC only
    val ge = idx.countDirsAfterPruning(Seq(GreaterThanOrEqual(seg,
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString("MA"),
        org.apache.spark.sql.types.StringType))))
    assert(ge == 1, s"prefix range should keep MAC only, kept $ge")
    // and the planner path loses no rows
    val q = spark.read.format("graft").load(d)
      .filter(col("c_mktsegment") >= "MA").drop("seg3")
    val expect = cust.filter(col("c_mktsegment") >= "MA")
    assert(q.exceptAll(expect).count() == 0 &&
      expect.exceptAll(q).count() == 0)
  }

  test("merge computes generated columns for a bare source batch") {
    val d = Staging.tempDir("graft_gen_") + "/events_merge"
    GraftLog.createGenerated(events.filter(col("event_id") < 500), d,
      Map("event_date" -> "to_date(ts)"), Seq("event_date"))
    val batch = events.filter(col("event_id") >= 500 &&
      col("event_id") < 520) // inserts, no event_date column
    GraftLog.merge(batch, d, Seq("event_id"))
    val back = GraftLog.read(spark, d)
    assert(back.count() ==
      events.filter(col("event_id") < 520).count())
    assert(back.filter(!(col("event_date") <=> to_date(col("ts"))))
      .count() == 0)
  }

  test("definitions survive checkpoint+vacuum, clone, and restore") {
    val d = Staging.tempDir("graft_gen_") + "/events_life"
    GraftLog.createGenerated(events.filter(col("event_id") % 3 === 0), d,
      Map("event_date" -> "to_date(ts)"), Seq("event_date"))           // v0
    GraftLog.appendPartitioned(
      events.filter(col("event_id") % 3 === 1), d, Seq("event_date"))  // v1
    GraftLog.appendPartitioned(
      events.filter(col("event_id") % 3 === 2), d, Seq("event_date"))  // v2
    GraftLog.checkpoint(spark, d)
    GraftLog.vacuum(spark, d, retainVersions = 1)
    assert(GraftLog.generatedColumns(spark, d) ==
      Map("event_date" -> "to_date(ts)"))
    // appends on the vacuumed table still compute the column
    GraftLog.appendPartitioned(events.limit(3), d, Seq("event_date"))
    assert(GraftLog.read(spark, d)
      .filter(!(col("event_date") <=> to_date(col("ts")))).count() == 0)
    // clone carries the definitions (its v0 cannot inherit)
    val c = Staging.tempDir("graft_gen_") + "/events_clone"
    GraftLog.cloneShallow(spark, d, c)
    assert(GraftLog.generatedColumns(spark, c) ==
      Map("event_date" -> "to_date(ts)"))
    // restore keeps them in force (immutable for the table's life)
    val v = GraftLog.latestVersion(spark, d).get
    GraftLog.appendPartitioned(events.limit(2), d, Seq("event_date"))
    GraftLog.restore(spark, d, v)
    assert(GraftLog.generatedColumns(spark, d) ==
      Map("event_date" -> "to_date(ts)"))
  }

  test("unsupported generation shapes stay correct without derivation") {
    val d = Staging.tempDir("graft_gen_") + "/events_opaque"
    // an arithmetic shape the derivation vocabulary does not cover
    GraftLog.createGenerated(events, d,
      Map("bucket7" -> "cast(event_id % 7 as int)"), Seq("bucket7"))
    val idx = new GraftFileIndex(spark, d)
    val tsAttr = AttributeReference("event_id",
      org.apache.spark.sql.types.LongType)()
    // no derivation — every dir kept (conservative), rows all correct
    assert(idx.countDirsAfterPruning(Seq(
      GreaterThanOrEqual(tsAttr, Literal(500L)))) ==
      idx.countDirsAfterPruning(Nil))
    val back = GraftLog.read(spark, d)
    assert(back.count() == events.count())
    assert(back.filter(!(col("bucket7") <=>
      expr("cast(event_id % 7 as int)"))).count() == 0)
  }

  /** A generated table of events with ids below 20, even ids at v0. */
  private def genTable(name: String, partCols: Seq[String] = Nil): String = {
    val d = Staging.tempDir("graft_gen_") + "/" + name
    GraftLog.createGenerated(
      events.filter(col("event_id") < 20 && col("event_id") % 2 === 0), d,
      Map("event_date" -> "to_date(ts)"), partCols)
    d
  }

  private def derivedEverywhere(d: String): Boolean =
    GraftLog.read(spark, d)
      .filter(!(col("event_date") <=> to_date(col("ts")))).count() == 0

  test("streaming appends compute and validate generated columns") {
    val odd = events.filter(col("event_id") < 20 && col("event_id") % 2 === 1)
    val bad = events.filter(col("event_id") === 21)
      .withColumn("event_date", to_date(lit("1999-01-01")))
    val flat = genTable("events_txn")
    assert(GraftLog.txnAppend(odd, flat, "gen", 0L))
    assert(GraftLog.read(spark, flat).count() == 20 && derivedEverywhere(flat))
    val e = intercept[IllegalArgumentException](
      GraftLog.txnAppend(bad, flat, "gen", 1L))
    assert(e.getMessage.contains("generated"), e.getMessage)
    val hive = genTable("events_txn_hive", Seq("event_date"))
    assert(GraftLog.txnAppendPartitioned(odd, hive, "gen", 0L,
      Seq("event_date")))
    assert(GraftLog.read(spark, hive).count() == 20 && derivedEverywhere(hive))
    intercept[IllegalArgumentException](GraftLog.txnAppendPartitioned(bad,
      hive, "gen", 1L, Seq("event_date")))
  }

  test("every overwrite keeps the generated columns in the schema") {
    val batch = events.filter(col("event_id") < 10)
    val overwrites = Seq[(String, String => Long)](
      "overwriteTxn" -> (GraftLog.overwriteTxn(batch, _, "gen", 0L)),
      "overwriteIndexed" ->
        (GraftLog.overwriteIndexed(batch, _, Seq("event_type"))),
      "overwriteBucketTransform" ->
        (GraftLog.overwriteBucketTransform(batch, _, "event_id", 4)))
    overwrites.foreach { case (name, overwrite) =>
      val d = genTable(s"events_$name")
      overwrite(d)
      assert(GraftLog.snapshot(spark, d)._2.fieldNames
        .contains("event_date"), name)
      // a later append computes the column against that schema (a
      // hidden-bucket layout takes appends under a declared spec)
      if (name == "overwriteBucketTransform")
        GraftLog.evolveBucketSpec(spark, d, "event_id", 4)
      GraftLog.append(events.filter(col("event_id") === 30), d)
      assert(GraftLog.read(spark, d).count() == 11 && derivedEverywhere(d),
        name)
    }
  }

  test("overwritePartitioned allocates identity values") {
    val d = Staging.tempDir("graft_gen_") + "/identity_hive"
    val rows = events.select("event_id", "event_type")
    GraftLog.createGenerated(rows.filter(col("event_id") < 10), d,
      Map("row_id" -> "identity(1, 1)"), Nil)
    GraftLog.overwritePartitioned(
      rows.filter(col("event_id") >= 10 && col("event_id") < 15), d,
      Seq("event_type"))
    assert(GraftLog.snapshot(spark, d)._2.fieldNames.contains("row_id"))
    def ids() = GraftLog.read(spark, d).select("row_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    // replaced rows' ids are never reissued
    assert(ids() == (11L to 15L))
    GraftLog.appendPartitioned(rows.filter(col("event_id") === 15), d,
      Seq("event_type"))
    assert(ids() == (11L to 16L))
  }
}
