package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftLog

/** Column mapping (t24): metadata-only RENAME/DROP COLUMN à la Delta —
  * data files keep their physical names forever; commits carry the
  * physical→logical map; compact materializes it. */
class ColumnMappingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def root(): String =
    graft.sources.Staging.tempDir("graft_cmap_spec_")

  private def df(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, i * 10L)).toDF("id", "tag", "score")

  private def parquetsUnder(d: java.io.File): Int =
    if (!d.exists) 0
    else d.listFiles.toSeq.map { f =>
      if (f.isDirectory) parquetsUnder(f)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  test("rename is metadata-only and value-identical") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 100, "a"), t)
    val before = parquetsUnder(new java.io.File(t, "_data"))
    GraftLog.renameColumn(spark, t, "tag", "label")
    assert(parquetsUnder(new java.io.File(t, "_data")) == before,
      "rename must not write data files")
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "label", "score"))
    assert(back.filter($"label" === "a").count() == 100)
    // time travel BEFORE the rename still shows the old name
    assert(GraftLog.read(spark, t, Some(0L)).columns.contains("tag"))
  }

  test("an overwrite after a rename reads back the batch's own names") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 10, "a"), t)          // v0
    GraftLog.renameColumn(spark, t, "tag", "label")     // v1
    // the batch carries the renamed-away physical name `tag`
    GraftLog.overwrite(df(0 until 5, "b"), t)           // v2
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "tag", "score"))
    assert(back.filter($"tag" === "b").count() == 5)
    GraftLog.append(df(5 until 8, "c"), t)              // v3
    assert(GraftLog.read(spark, t).filter($"tag".isNotNull).count() == 8)
    // time travel still reads each version under its own mapping
    assert(GraftLog.read(spark, t, Some(1L)).columns.toSeq ==
      Seq("id", "label", "score"))
  }

  test("drop is metadata-only; re-added name does not resurrect bytes") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 50, "x"), t)
    GraftLog.dropColumn(spark, t, "tag")
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "score"))
    // re-add a column with the SAME name: old files hold physical "tag"
    // bytes, which must NOT leak into the new logical column
    GraftLog.addColumns(spark, t,
      org.apache.spark.sql.types.StructType.fromDDL("tag STRING"))
    val re = GraftLog.read(spark, t)
    assert(re.columns.toSeq == Seq("id", "score", "tag"))
    assert(re.filter($"tag".isNotNull).count() == 0,
      "dropped column's bytes must not resurrect under a reused name")
  }

  test("append and merge write physical names under an active mapping") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 30, "a"), t)
    GraftLog.renameColumn(spark, t, "tag", "label")
    // batches arrive with LOGICAL columns
    val batch = (30 until 40).map(i => (i.toLong, "b", i * 10L))
      .toDF("id", "label", "score")
    GraftLog.append(batch, t)
    val up = (0 until 5).map(i => (i.toLong, "up", -1L))
      .toDF("id", "label", "score")
    GraftLog.merge(up, t, Seq("id"))
    val back = GraftLog.read(spark, t)
    assert(back.count() == 40)
    assert(back.filter($"label" === "up").count() == 5)
    assert(back.filter($"label" === "b").count() == 10)
    // a batch still using the OLD name is rejected loudly
    val stale = (99 until 100).map(i => (i.toLong, "z", 0L))
      .toDF("id", "tag", "score")
    assertThrows[IllegalArgumentException](GraftLog.append(stale, t))
  }

  test("delete and update resolve logical names") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 60, "a"), t)
    GraftLog.renameColumn(spark, t, "score", "points")
    GraftLog.delete(spark, t, col("points") >= 500L)
    assert(GraftLog.read(spark, t).count() == 50)
    GraftLog.update(spark, t, col("points") < 100L,
      Seq("tag" -> lit("low")))
    val back = GraftLog.read(spark, t)
    assert(back.filter($"tag" === "low").count() == 10)
    assert(back.agg(max($"points")).head.getLong(0) == 490L)
  }

  test("data skipping keys stats by physical name after a rename") {
    val r = root(); val t = s"$r/t"
    // range-clustered appends give disjoint per-file score ranges
    GraftLog.overwrite(df(0 until 20, "a"), t)
    GraftLog.append(df(20 until 40, "a"), t)
    GraftLog.append(df(40 until 60, "a"), t)
    GraftLog.renameColumn(spark, t, "score", "points")
    val pruned = GraftLog.readPruned(spark, t, "points", 0.0, 150.0)
    assert(pruned.count() == 16)
    assert(pruned.columns.contains("points"))
  }

  test("deletion vectors compose with mapping; compact materializes both") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 40, "a"), t)
    GraftLog.renameColumn(spark, t, "tag", "label")
    GraftLog.deleteVectors(spark, t, col("id") % 4 === 0)
    assert(GraftLog.read(spark, t).count() == 30)
    GraftLog.compact(spark, t)
    assert(GraftLog.columnMapping(spark, t).isEmpty,
      "compact must clear the mapping (materialized)")
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "label", "score"))
    assert(back.count() == 30)
    // post-compact files physically carry the logical name
    val phys = spark.read.parquet(
      GraftLog.snapshot(spark, t)._1.map(f => s"$t/$f"): _*)
    assert(phys.columns.contains("label"))
  }

  test("restore re-points the mapping at the target version") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 10, "a"), t)      // v0
    GraftLog.renameColumn(spark, t, "tag", "label") // v1
    GraftLog.dropColumn(spark, t, "score")          // v2
    GraftLog.restore(spark, t, 0L)                  // v3
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "tag", "score"))
    // restore back FORWARD to the mapped state
    GraftLog.restore(spark, t, 2L)
    assert(GraftLog.read(spark, t).columns.toSeq == Seq("id", "label"))
  }

  test("mapping survives checkpoint + vacuum and is carried by clone") {
    val r = root(); val t = s"$r/t"; val c = s"$r/c"
    GraftLog.overwrite(df(0 until 25, "a"), t)
    GraftLog.renameColumn(spark, t, "tag", "label")
    GraftLog.append((25 until 30).map(i => (i.toLong, "b", 0L))
      .toDF("id", "label", "score"), t)
    GraftLog.cloneShallow(spark, t, c)
    assert(GraftLog.read(spark, c).columns.contains("label"))
    GraftLog.checkpoint(spark, t)
    GraftLog.vacuum(spark, t, 1)
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "label", "score"))
    assert(back.count() == 30)
  }

  test("SQL surface: RENAME/DROP COLUMN on path tables") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 15, "a"), t)
    spark.sql(s"ALTER TABLE '$t' RENAME COLUMN tag TO label")
    spark.sql(s"ALTER TABLE '$t' DROP COLUMN score")
    assert(GraftLog.read(spark, t).columns.toSeq == Seq("id", "label"))
  }

  test("refusals: partitioned layouts, FileIndex, streaming") {
    val r = root(); val t = s"$r/p"
    GraftLog.overwritePartitioned(df(0 until 20, "a"), t, Seq("tag"))
    assertThrows[IllegalArgumentException](
      GraftLog.renameColumn(spark, t, "score", "points"))
    val f = s"$r/f"
    GraftLog.overwrite(df(0 until 20, "a"), f)
    GraftLog.renameColumn(spark, f, "score", "points")
    // a plain FileIndex scan would expose physical names — refuse
    assertThrows[IllegalArgumentException](
      new graft.sources.GraftFileIndex(spark, f))
    // zorder resolves logical column names and inherits the mapping
    GraftLog.clusterBy(spark, f, "id", "points", 2)
    val back = GraftLog.read(spark, f)
    assert(back.columns.toSeq == Seq("id", "tag", "points"))
    assert(back.count() == 20)
  }
}
