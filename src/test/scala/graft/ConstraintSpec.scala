package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftLog

/** CHECK / NOT NULL constraints (d10): commit-log metadata enforced on
  * every write path, Delta's ADD CONSTRAINT contract. */
class ConstraintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def root(): String =
    graft.sources.Staging.tempDir("graft_check_spec_")

  private def df(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, i * 10L)).toDF("id", "tag", "score")

  test("add validates existing rows; writes enforce from then on") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 50, "a"), t)
    GraftLog.addConstraint(spark, t, "score_nonneg", "score >= 0")
    // a violating ADD is rejected against existing rows
    assertThrows[IllegalArgumentException](
      GraftLog.addConstraint(spark, t, "impossible", "score > 100000"))
    // violating append rejected, table unchanged
    val bad = Seq((999L, "x", -5L)).toDF("id", "tag", "score")
    assertThrows[IllegalArgumentException](GraftLog.append(bad, t))
    assert(GraftLog.read(spark, t).count() == 50)
    // valid append lands
    GraftLog.append(Seq((999L, "x", 5L)).toDF("id", "tag", "score"), t)
    assert(GraftLog.read(spark, t).count() == 51)
  }

  test("NULL passes CHECK per SQL; IS NOT NULL catches it") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 10, "a"), t)
    GraftLog.addConstraint(spark, t, "tag_len", "length(tag) < 100")
    // NULL tag: CHECK expr is NULL → passes
    val nullTag = Seq((100L, null.asInstanceOf[String], 1L))
      .toDF("id", "tag", "score")
    GraftLog.append(nullTag, t)
    assert(GraftLog.read(spark, t).filter($"tag".isNull).count() == 1)
    // NOT NULL (as constraint) rejects it — existing null blocks ADD
    assertThrows[IllegalArgumentException](
      GraftLog.addConstraint(spark, t, "nn_tag", "tag IS NOT NULL"))
  }

  test("merge and update validate the rewritten rows") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 30, "a"), t)
    GraftLog.addConstraint(spark, t, "score_nonneg", "score >= 0")
    val badSrc = Seq((5L, "up", -1L)).toDF("id", "tag", "score")
    assertThrows[IllegalArgumentException](
      GraftLog.merge(badSrc, t, Seq("id")))
    assertThrows[IllegalArgumentException](
      GraftLog.update(spark, t, col("id") === 5L,
        Seq("score" -> lit(-7L))))
    GraftLog.merge(Seq((5L, "up", 7L)).toDF("id", "tag", "score"), t,
      Seq("id"))
    assert(GraftLog.read(spark, t)
      .filter($"tag" === "up").count() == 1)
    // drop releases the gate
    GraftLog.dropConstraint(spark, t, "score_nonneg")
    GraftLog.update(spark, t, col("id") === 5L,
      Seq("score" -> lit(-7L)))
    assert(GraftLog.read(spark, t)
      .filter($"score" === -7L).count() == 1)
  }

  test("constraints survive compact, revert on restore, carry to clone") {
    val r = root(); val t = s"$r/t"; val c = s"$r/c"
    GraftLog.overwrite(df(0 until 20, "a"), t)         // v0
    GraftLog.addConstraint(spark, t, "pos", "score >= 0") // v1
    GraftLog.compact(spark, t)                          // v2
    assert(GraftLog.checkConstraints(spark, t).contains("pos"))
    GraftLog.cloneShallow(spark, t, c)
    assertThrows[IllegalArgumentException](
      GraftLog.append(Seq((1L, "x", -1L)).toDF("id", "tag", "score"), c))
    GraftLog.restore(spark, t, 0L)
    assert(GraftLog.checkConstraints(spark, t).isEmpty,
      "restore to pre-constraint version clears the set")
  }

  test("constraints resolve logical names under column mapping") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 20, "a"), t)
    GraftLog.renameColumn(spark, t, "score", "points")
    GraftLog.addConstraint(spark, t, "pts", "points >= 0")
    assertThrows[IllegalArgumentException](
      GraftLog.append(Seq((1L, "x", -1L))
        .toDF("id", "tag", "points"), t))
    GraftLog.append(Seq((1L, "x", 1L)).toDF("id", "tag", "points"), t)
    assert(GraftLog.read(spark, t).count() == 21)
  }

  test("SQL surface: ADD/DROP CONSTRAINT and SET NOT NULL") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 12, "a"), t)
    spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT pos CHECK (score >= 0)")
    assert(GraftLog.checkConstraints(spark, t).contains("pos"))
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN tag SET NOT NULL")
    assertThrows[Exception](
      GraftLog.append(Seq((99L, null.asInstanceOf[String], 1L))
        .toDF("id", "tag", "score"), t))
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN tag DROP NOT NULL")
    spark.sql(s"ALTER TABLE '$t' DROP CONSTRAINT pos")
    assert(GraftLog.checkConstraints(spark, t).isEmpty)
    // streaming append path enforces too
    spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT pos CHECK (score >= 0)")
    assert(!GraftLog.txnAppend(
      Seq((50L, "s", 5L)).toDF("id", "tag", "score"), t, "app", 0L)
      .equals(false))
    assertThrows[IllegalArgumentException](GraftLog.txnAppend(
      Seq((51L, "s", -5L)).toDF("id", "tag", "score"), t, "app", 1L))
  }

  test("overwriteBucketTransform validates the rows it writes") {
    val r = root(); val t = s"$r/t"
    GraftLog.overwrite(df(0 until 10, "a"), t)
    GraftLog.addConstraint(spark, t, "score_nonneg", "score >= 0")
    assertThrows[IllegalArgumentException](GraftLog.overwriteBucketTransform(
      Seq((1L, "x", -5L)).toDF("id", "tag", "score"), t, "id", 4))
    assert(GraftLog.read(spark, t).count() == 10)
  }
}
