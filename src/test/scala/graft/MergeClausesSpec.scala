package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, expr, lit}
import graft.sources.GraftLog
import graft.sources.GraftLog.MergeClause.{Delete, Insert, Update}

/** Conditional & multi-clause MERGE (the full Delta clause surface):
  * ordered WHEN MATCHED [AND cond] clauses with first-match-wins,
  * column-level UPDATE SET, matched DELETE, conditional INSERT
  * cascades, conditional NOT MATCHED BY SOURCE, the multiple-source-
  * row ambiguity contract, and clause-condition-driven file pruning. */
class MergeClausesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    graft.sources.Staging.tempDir("graft_mclause_spec_") + "/t"

  private def people(rows: (Long, String, Double, String)*) =
    rows.toDF("id", "name", "salary", "status")

  private def readMap(t: String): Map[Long, (String, Double, String)] =
    GraftLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
        r.getString(3)))).toMap

  test("update-if-changed + delete-if-expired, two ordered clauses") {
    val t = tmp()
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "active"),
      (3L, "cya", 300.0, "active"),
      (4L, "dee", 400.0, "active")), t)
    // source: 1 unchanged, 2 changed salary, 3 expired, 5 novel
    val src = people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 250.0, "active"),
      (3L, "cya", 300.0, "expired"),
      (5L, "eve", 500.0, "active"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(
        Delete(Some(expr("s.status = 'expired'"))),
        Update(Some(expr("s.salary <> t.salary")),
          Seq("salary" -> col("s.salary")))),
      notMatched = Seq(Insert()))
    val m = readMap(t)
    assert(m(1L) == (("ann", 100.0, "active")), "unchanged row untouched")
    assert(m(2L) == (("bob", 250.0, "active")), "changed row updated")
    assert(!m.contains(3L), "expired row deleted")
    assert(m(4L) == (("dee", 400.0, "active")), "absent-from-source kept")
    assert(m(5L) == (("eve", 500.0, "active")), "novel row inserted")
  }

  test("first-match-wins orders clauses, not conditions") {
    val t = tmp()
    GraftLog.overwrite(people((1L, "ann", 100.0, "active")), t)
    val src = people((1L, "ann", 999.0, "x"))
    // both clauses applicable: the FIRST (tagging) one must win
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(
        Update(None, Seq("status" -> lit("first"))),
        Update(None, Seq("status" -> lit("second"),
          "salary" -> col("s.salary")))))
    val m = readMap(t)
    assert(m(1L) == (("ann", 100.0, "first")),
      s"first clause must win and later clauses must not leak: $m")
  }

  test("conditional insert cascade; unset columns become typed NULLs") {
    val t = tmp()
    GraftLog.overwrite(people((1L, "ann", 100.0, "active")), t)
    val src = people(
      (10L, "big", 9000.0, "n"),
      (11L, "sml", 10.0, "n"),
      (12L, "mid", 500.0, "skip-me"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      notMatched = Seq(
        Insert(Some(expr("s.salary >= 1000")),
          Seq("id" -> col("s.id"), "name" -> col("s.name"),
            "salary" -> col("s.salary"), "status" -> lit("vip"))),
        Insert(Some(expr("s.salary < 100")),
          Seq("id" -> col("s.id"), "name" -> col("s.name")))))
    val rows = GraftLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(10L).getString(3) == "vip")
    assert(rows(11L).isNullAt(2) && rows(11L).isNullAt(3),
      "subset INSERT leaves unset columns NULL")
    assert(!rows.contains(12L), "row matching no insert clause skipped")
    assert(rows(1L).getString(1) == "ann")
  }

  test("NOT MATCHED BY SOURCE: conditional update and delete") {
    val t = tmp()
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "active"),
      (3L, "cya", 300.0, "stale")), t)
    val src = people((1L, "ann", 100.0, "active"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      notMatchedBySource = Seq(
        Delete(Some(expr("t.status = 'stale'"))),
        Update(None, Seq("status" -> lit("orphaned")))))
    val m = readMap(t)
    assert(m(1L)._3 == "active", "matched row untouched (no matched clause)")
    assert(m(2L)._3 == "orphaned", "unmatched non-stale row tagged")
    assert(!m.contains(3L), "stale unmatched row deleted")
  }

  test("multiple applicable source rows for one target row throw") {
    val t = tmp()
    GraftLog.overwrite(people((1L, "ann", 100.0, "active")), t)
    val src = people((1L, "x", 1.0, "a"), (1L, "y", 2.0, "b"))
    val e = intercept[IllegalStateException] {
      GraftLog.mergeClauses(src, t, Seq("id"),
        matched = Seq(Update(None, Seq("salary" -> col("s.salary")))))
    }
    assert(e.getMessage.contains("multiple source rows"))
  }

  test("duplicate INAPPLICABLE matches keep exactly one target copy") {
    val t = tmp()
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "active")), t)
    // two source rows match id=1 but neither satisfies the condition;
    // one source row matches id=2 and does — id=2's file rewrites, and
    // id=1 must come through as exactly ONE untouched copy
    val src = people(
      (1L, "x", 100.0, "noop"), (1L, "y", 100.0, "noop"),
      (2L, "bob", 999.0, "up"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(Some(expr("s.salary <> t.salary")),
        Seq("salary" -> col("s.salary")))))
    val rows = GraftLog.read(spark, t).collect()
    assert(rows.length == 2, s"no fan-out: ${rows.mkString(",")}")
    val m = readMap(t)
    assert(m(1L) == (("ann", 100.0, "active")))
    assert(m(2L)._2 == 999.0)
  }

  test("by-source-only merge with non-key-distinct source: no fan-out") {
    val t = tmp()
    // one file holds BOTH a row the by-source clause touches (id=3,
    // absent from source) and a row that key-matches MULTIPLE source
    // rows (id=1) — the rewrite must emit exactly one copy of id=1
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "active"),
      (3L, "cya", 300.0, "active")), t)
    val src = people(
      (1L, "x", 1.0, "a"), (1L, "y", 2.0, "b"),   // duplicate key
      (2L, "bob", 200.0, "active"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      notMatchedBySource = Seq(
        Update(None, Seq("status" -> lit("orphaned")))))
    val rows = GraftLog.read(spark, t).collect()
    assert(rows.length == 3, s"no fan-out: ${rows.mkString(",")}")
    val m = readMap(t)
    assert(m(1L) == (("ann", 100.0, "active")), "matched row untouched")
    assert(m(2L) == (("bob", 200.0, "active")))
    assert(m(3L)._3 == "orphaned")
  }

  test("file touched ONLY by by-source clause: inapplicable multi-match" +
      " rows keep one copy") {
    val t = tmp()
    // file A: id=1 (multi-matched, condition never applies) + id=2
    // (absent from source → by-source touches file A). file B: id=9
    // (matched, condition applies → matched-touched). The dedup signal
    // must cover file A even though only the by-source probe found it.
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "active")), t)
    GraftLog.append(people((9L, "zed", 900.0, "active")), t)
    val src = people(
      (1L, "x", 100.0, "noop"), (1L, "y", 100.0, "noop"), // dup, inapplicable
      (9L, "zed", 999.0, "up"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(Some(expr("s.salary <> t.salary")),
        Seq("salary" -> col("s.salary")))),
      notMatchedBySource = Seq(
        Update(None, Seq("status" -> lit("orphaned")))))
    val rows = GraftLog.read(spark, t).collect()
    assert(rows.length == 3, s"no fan-out: ${rows.mkString(",")}")
    val m = readMap(t)
    assert(m(1L) == (("ann", 100.0, "active")), "inapplicable multi-match")
    assert(m(2L)._3 == "orphaned")
    assert(m(9L)._2 == 999.0)
  }

  test("by-source-only merge with extra ON conjunct and dup keys") {
    val t = tmp()
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "stale")), t)
    // id=1 matches both source rows under the full ON (dup keys, extra
    // conjunct passes); id=2 fails the extra conjunct → by-source
    val src = people((1L, "x", 1.0, "a"), (1L, "y", 2.0, "b"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      notMatchedBySource = Seq(
        Update(None, Seq("status" -> lit("orphaned")))),
      onExtra = Some(expr("t.status = 'active'")))
    val rows = GraftLog.read(spark, t).collect()
    assert(rows.length == 2, s"no fan-out: ${rows.mkString(",")}")
    val m = readMap(t)
    assert(m(1L) == (("ann", 100.0, "active")), "full-ON matched, no clause")
    assert(m(2L)._3 == "orphaned", "extra-conjunct miss is by-source")
  }

  test("clause conditions prune the touched-file probe") {
    val t = tmp()
    // two single-row commits → two files
    GraftLog.overwrite(people((1L, "ann", 100.0, "active")), t)
    GraftLog.append(people((2L, "bob", 200.0, "active")), t)
    // both keys match, but the condition only applies to id=2 —
    // id=1's file must NOT rewrite
    val src = people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 999.0, "active"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(Some(expr("s.salary <> t.salary")),
        Seq("salary" -> col("s.salary")))))
    val removed = GraftLog.history(spark, t)
      .filter(col("operation") === "merge")
      .select("n_removed_files").collect().head.getInt(0)
    assert(removed == 1,
      s"only the file holding the condition-hit row rewrites, got $removed")
    assert(readMap(t)(1L)._2 == 100.0)
    assert(readMap(t)(2L)._2 == 999.0)
  }

  test("partitioned layout: rewrite keeps the hive layout") {
    val t = tmp()
    GraftLog.overwritePartitioned(people(
      (1L, "ann", 100.0, "a"),
      (2L, "bob", 200.0, "b"),
      (3L, "cya", 300.0, "b")), t, Seq("status"))
    val src = people((2L, "bob", 999.0, "b"), (4L, "dee", 400.0, "c"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(Some(expr("s.salary <> t.salary")),
        Seq("salary" -> col("s.salary")))),
      notMatched = Seq(Insert()))
    val m = readMap2(t)
    assert(m(2L)._2 == 999.0 && m(4L)._3 == "c" && m.size == 4)
    // layout preserved: partition values still resolve through the index
    val parts = GraftLog.read(spark, t)
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(parts == Set("a", "b", "c"))
  }

  private def readMap2(t: String): Map[Long, (String, Double, String)] = {
    val cols = GraftLog.read(spark, t)
      .select("id", "name", "salary", "status").collect()
    cols.map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
      r.getString(3)))).toMap
  }

  test("SQL: two-clause conditional MERGE routes through the cascade") {
    val t = tmp()
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "active"),
      (3L, "cya", 300.0, "active")), t)
    spark.sql("DROP TABLE IF EXISTS mclause_sql_t")
    spark.sql(s"CREATE TABLE mclause_sql_t USING graft OPTIONS (path '$t')")
    people((1L, "ann", 100.0, "active"), (2L, "bob", 999.0, "active"),
      (3L, "cya", 300.0, "expired"), (9L, "zed", 50.0, "active"))
      .createOrReplaceTempView("mclause_sql_src")
    spark.sql(
      """MERGE INTO mclause_sql_t t USING mclause_sql_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.status = 'expired' THEN DELETE
        |WHEN MATCHED AND s.salary <> t.salary
        |  THEN UPDATE SET salary = s.salary
        |WHEN NOT MATCHED AND s.salary < 100
        |  THEN INSERT (id, name, salary, status)
        |       VALUES (s.id, s.name, s.salary, 'junior')""".stripMargin)
    val m = readMap(t)
    assert(m(1L)._2 == 100.0)
    assert(m(2L)._2 == 999.0)
    assert(!m.contains(3L))
    assert(m(9L) == (("zed", 50.0, "junior")))
    spark.sql("DROP TABLE mclause_sql_t")
    spark.catalog.dropTempView("mclause_sql_src")
  }

  test("SQL: conditional NOT MATCHED BY SOURCE clauses route too") {
    val t = tmp()
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "stale"),
      (3L, "cya", 300.0, "active")), t)
    spark.sql("DROP TABLE IF EXISTS mclause_sql_b")
    spark.sql(s"CREATE TABLE mclause_sql_b USING graft OPTIONS (path '$t')")
    people((1L, "ann", 100.0, "active"))
      .createOrReplaceTempView("mclause_sql_bsrc")
    spark.sql(
      """MERGE INTO mclause_sql_b t USING mclause_sql_bsrc s
        |ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE AND t.status = 'stale' THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'orphaned'
        |""".stripMargin)
    val m = readMap(t)
    assert(m(1L)._3 == "active" && !m.contains(2L) &&
      m(3L)._3 == "orphaned")
    spark.sql("DROP TABLE mclause_sql_b")
    spark.catalog.dropTempView("mclause_sql_bsrc")
  }

  test("extra ON conjuncts: full-ON match semantics (Delta surface)") {
    val t = tmp()
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "frozen")), t)
    // ON id AND t.status='active': id=2 key-matches but fails the
    // extra conjunct → NOT matched → the insert clause fires and
    // introduces a second id=2 row (exactly Delta's semantics)
    val src = people((1L, "ann", 111.0, "x"), (2L, "bob", 222.0, "x"))
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(None, Seq("salary" -> col("s.salary")))),
      notMatched = Seq(Insert()),
      onExtra = Some(expr("t.status = 'active'")))
    val rows = GraftLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    assert(rows.toSet == Set(
      (1L, 111.0, "active"),   // full match → updated
      (2L, 200.0, "frozen"),   // key match, extra failed → untouched
      (2L, 222.0, "x")),       // …and the source row inserted
      s"got ${rows.mkString(",")}")
  }

  test("SQL: extra ON conjunct routes through the cascade engine") {
    val t = tmp()
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "frozen"),
      (3L, "cya", 300.0, "active")), t)
    spark.sql("DROP TABLE IF EXISTS mclause_on_t")
    spark.sql(s"CREATE TABLE mclause_on_t USING graft OPTIONS (path '$t')")
    people((1L, "ann", 111.0, "n"), (2L, "bob", 222.0, "n"))
      .createOrReplaceTempView("mclause_on_src")
    spark.sql(
      """MERGE INTO mclause_on_t t USING mclause_on_src s
        |ON t.id = s.id AND t.status = 'active'
        |WHEN MATCHED THEN UPDATE SET salary = s.salary""".stripMargin)
    val m = readMap(t)
    assert(m(1L)._2 == 111.0, "full match updated")
    assert(m(2L)._2 == 200.0, "extra-conjunct miss untouched")
    assert(m(3L)._2 == 300.0, "unmatched row untouched")
    // pure non-equi ON (no key equality) still refuses loudly
    intercept[UnsupportedOperationException] {
      spark.sql(
        """MERGE INTO mclause_on_t t USING mclause_on_src s
          |ON t.id < s.id
          |WHEN MATCHED THEN UPDATE SET salary = s.salary""".stripMargin)
    }
    spark.sql("DROP TABLE mclause_on_t")
    spark.catalog.dropTempView("mclause_on_src")
  }

  test("SQL: partial same-name assignment is NOT star-normalized") {
    val t = tmp()
    GraftLog.overwrite(people((1L, "ann", 100.0, "active")), t)
    spark.sql("DROP TABLE IF EXISTS mclause_part_t")
    spark.sql(s"CREATE TABLE mclause_part_t USING graft OPTIONS (path '$t')")
    // source row differs in EVERY column; the statement assigns only
    // salary — name/status must keep their target values (a silent
    // SET * normalization would overwrite them)
    people((1L, "IMPOSTOR", 999.0, "hacked"))
      .createOrReplaceTempView("mclause_part_src")
    spark.sql(
      """MERGE INTO mclause_part_t t USING mclause_part_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.salary <> t.salary
        |  THEN UPDATE SET salary = s.salary""".stripMargin)
    val m = readMap(t)
    assert(m(1L) == (("ann", 999.0, "active")),
      s"only the assigned column may change: $m")
    // partial INSERT: unassigned columns land NULL, never source values
    people((2L, "new", 5.0, "sneaky"))
      .createOrReplaceTempView("mclause_part_src")
    spark.sql(
      """MERGE INTO mclause_part_t t USING mclause_part_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)
        |""".stripMargin)
    val r2 = GraftLog.read(spark, t).filter(col("id") === 2L)
      .collect().head
    assert(r2.getString(1) == "new" && r2.isNullAt(2) && r2.isNullAt(3),
      s"partial INSERT must leave unassigned columns NULL: $r2")
    spark.sql("DROP TABLE mclause_part_t")
    spark.catalog.dropTempView("mclause_part_src")
  }

  test("SQL: UNCONDITIONAL partial assignment routes column-exactly") {
    val t = tmp()
    GraftLog.overwrite(people((1L, "ann", 100.0, "active")), t)
    spark.sql("DROP TABLE IF EXISTS mclause_upart_t")
    spark.sql(
      s"CREATE TABLE mclause_upart_t USING graft OPTIONS (path '$t')")
    // NO clause condition: this is the shape the legacy star route
    // used to capture — it must still apply column-exactly, never as
    // a whole-row SET * (the source differs in every column)
    people((1L, "IMPOSTOR", 999.0, "hacked"), (2L, "new", 5.0, "n"))
      .createOrReplaceTempView("mclause_upart_src")
    spark.sql(
      """MERGE INTO mclause_upart_t t USING mclause_upart_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET salary = s.salary
        |WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)
        |""".stripMargin)
    def row1() = GraftLog.read(spark, t).filter(col("id") === 1L)
      .collect().head
    val r1 = row1()
    assert(r1.getString(1) == "ann" && r1.getDouble(2) == 999.0 &&
      r1.getString(3) == "active",
      s"unconditional partial UPDATE must not become SET *: $r1")
    val r2 = GraftLog.read(spark, t).filter(col("id") === 2L)
      .collect().head
    assert(r2.getString(1) == "new" && r2.isNullAt(2) && r2.isNullAt(3))
    // the TRUE star shape still routes (and fully overwrites)
    spark.sql(
      """MERGE INTO mclause_upart_t t USING mclause_upart_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val r1b = row1()
    assert(r1b.getString(1) == "IMPOSTOR" && r1b.getDouble(2) == 999.0 &&
      r1b.getString(3) == "hacked")
    spark.sql("DROP TABLE mclause_upart_t")
    spark.catalog.dropTempView("mclause_upart_src")
  }

  test("autoMerge widens the schema through the conditional path") {
    val t = tmp()
    GraftLog.overwrite(people(
      (1L, "ann", 100.0, "active"),
      (2L, "bob", 200.0, "active")), t)
    // source carries an EXTRA column; a conditional clause forces the
    // cascade engine (the legacy star route is bypassed)
    val src = Seq((1L, "ann", 150.0, "active", "engineering"))
      .toDF("id", "name", "salary", "status", "dept")
    // without the conf, the extra column is simply not assignable
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(Some(expr("s.salary <> t.salary")),
        Seq("salary" -> col("s.salary")))))
    assert(!GraftLog.read(spark, t).columns.contains("dept"))
    // with mergeSchema, SET * widens: matched rows get dept, carried
    // rows read it as a typed NULL
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(Some(expr("s.salary <> t.salary")), Nil),
        Update(None, Seq("dept" -> col("s.dept")))),
      mergeSchema = true)
    val out = GraftLog.read(spark, t)
    assert(out.columns.contains("dept"))
    val m = out.collect().map(r =>
      r.getLong(0) -> Option(r.getAs[String]("dept"))).toMap
    assert(m(1L).contains("engineering"),
      "matched row carries the widened column")
    assert(m(2L).isEmpty, "carried row reads the new column as NULL")
  }

  test("generated columns recompute behind a column-level update") {
    val t = tmp()
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount")
    GraftLog.createGenerated(base, t,
      Map("doubled" -> "amount * 2"), Seq.empty)
    val src = Seq((1L, 50.0)).toDF("id", "amount")
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(None, Seq("amount" -> col("s.amount")))))
    val m = GraftLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m(1L) == 100.0,
      s"derived column must recompute from the updated base: $m")
    assert(m(2L) == 40.0)
  }

  // ---- the NOT MATCHED side answered by the matched probe's keys ----

  private def nullableIds(rows: (Option[Long], String)*) =
    rows.toDF("id", "tag")

  private def tagRows(t: String): Seq[(Option[Long], String)] =
    GraftLog.read(spark, t).select("id", "tag").collect().toSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getString(1)))
      .sortBy(r => (r._1.getOrElse(Long.MinValue), r._2))

  private val upsertShape = Seq(
    Delete(Some(expr("s.tag = 'del'"))),
    Update(None, Seq("tag" -> col("s.tag"))))

  test("NOT MATCHED: source rows with NULL keys are inserted") {
    val t = tmp()
    GraftLog.overwrite(nullableIds(Some(1L) -> "a", Some(2L) -> "b"), t)
    GraftLog.mergeClauses(
      nullableIds(None -> "n1", None -> "n2", Some(1L) -> "u",
        Some(3L) -> "i"),
      t, Seq("id"), matched = upsertShape, notMatched = Seq(Insert()))
    assert(tagRows(t) == Seq(None -> "n1", None -> "n2", Some(1L) -> "u",
      Some(2L) -> "b", Some(3L) -> "i"))
  }

  test("NOT MATCHED: unmatched source rows sharing a key all insert") {
    val t = tmp()
    GraftLog.overwrite(nullableIds(Some(1L) -> "a"), t)
    GraftLog.mergeClauses(
      nullableIds(Some(7L) -> "x", Some(7L) -> "y", Some(1L) -> "u"),
      t, Seq("id"), matched = upsertShape, notMatched = Seq(Insert()))
    assert(tagRows(t) == Seq(Some(1L) -> "u", Some(7L) -> "x",
      Some(7L) -> "y"))
  }

  test("NOT MATCHED: a key matching only an untouched file is not " +
      "inserted under conditional-only matched clauses") {
    val t = tmp()
    GraftLog.overwrite(nullableIds(Some(1L) -> "a"), t)
    GraftLog.append(nullableIds(Some(2L) -> "b"), t)
    val before = GraftLog.snapshot(spark, t)._1.toSet
    // id=2 key-matches, but no matched clause applies to it: its file
    // is not touched, and it must not insert a second id=2 row
    GraftLog.mergeClauses(
      nullableIds(Some(1L) -> "del", Some(2L) -> "keep", Some(3L) -> "i"),
      t, Seq("id"), matched = Seq(Delete(Some(expr("s.tag = 'del'")))),
      notMatched = Seq(Insert()))
    assert(tagRows(t) == Seq(Some(2L) -> "b", Some(3L) -> "i"))
    val after = GraftLog.snapshot(spark, t)._1.toSet
    assert((before & after).size == 1,
      s"id=2's file stays live untouched: $before -> $after")
  }

  test("NOT MATCHED: an extra ON conjunct takes the anti-join fallback") {
    val t = tmp()
    GraftLog.overwrite(nullableIds(Some(1L) -> "a", Some(2L) -> "frozen"),
      t)
    GraftLog.append(nullableIds(Some(3L) -> "c"), t)
    // id=1: full ON match, no clause applies → neither changed nor
    // inserted; id=2: key match, extra conjunct fails → NOT MATCHED,
    // inserted beside the target row; id=3: updated; id=4: inserted
    GraftLog.mergeClauses(
      nullableIds(Some(1L) -> "a", Some(2L) -> "new", Some(3L) -> "u",
        Some(4L) -> "i"),
      t, Seq("id"),
      matched = Seq(Update(Some(expr("s.tag <> t.tag")),
        Seq("tag" -> col("s.tag")))),
      notMatched = Seq(Insert()),
      onExtra = Some(expr("t.tag <> 'frozen'")))
    assert(tagRows(t) == Seq(Some(1L) -> "a", Some(2L) -> "frozen",
      Some(2L) -> "new", Some(3L) -> "u", Some(4L) -> "i"))
  }

  test("the ambiguity throw is unchanged on a multi-file table") {
    val t = tmp()
    GraftLog.overwrite(people((1L, "ann", 100.0, "active")), t)
    GraftLog.append(people((2L, "bob", 200.0, "active")), t)
    val before = readMap(t)
    // id=2 (second file) meets two source rows with an applicable clause
    val e = intercept[IllegalStateException] {
      GraftLog.mergeClauses(
        people((1L, "x", 1.0, "a"), (2L, "y", 2.0, "b"),
          (2L, "z", 3.0, "c")),
        t, Seq("id"),
        matched = Seq(Update(Some(expr("s.salary < 10")),
          Seq("salary" -> col("s.salary")))),
        notMatched = Seq(Insert()))
    }
    assert(e.getMessage == s"MERGE into $t: a target row matches " +
      "multiple source rows with an applicable WHEN MATCHED clause — " +
      "the result would be nondeterministic (first-match-wins orders " +
      "clauses, not source rows); de-duplicate the source on the merge " +
      "keys first")
    assert(readMap(t) == before, "nothing committed")
  }

  test("autoMerge-widened MERGE reads typed NULLs for files without the " +
      "column") {
    val t = tmp()
    GraftLog.overwrite(people((1L, "ann", 100.0, "active")), t)
    GraftLog.append(people((2L, "bob", 200.0, "active")), t)
    val src = Seq((1L, "ann", 150.0, "active", "eng"),
      (2L, "bob", 200.0, "active", "ops"))
      .toDF("id", "name", "salary", "status", "dept")
    // widens the schema; only id=1's file rewrites (the condition
    // misses id=2), so id=2's file lacks `dept`
    GraftLog.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(Some(expr("s.salary <> t.salary")), Nil)),
      mergeSchema = true)
    // rewrites id=2's file under the widened state schema: the carried
    // column reads as a typed NULL, the rewritten file keeps its value
    GraftLog.mergeClauses(
      Seq((2L, "bob", 250.0, "active", "x")).toDF("id", "name", "salary",
        "status", "dept"),
      t, Seq("id"),
      matched = Seq(Update(Some(expr("s.salary <> t.salary")),
        Seq("salary" -> col("s.salary")))))
    val out = GraftLog.read(spark, t).collect().map(r =>
      r.getLong(0) -> ((r.getDouble(2), Option(r.getAs[String]("dept")))))
      .toMap
    assert(out == Map(1L -> ((150.0, Some("eng"))), 2L -> ((250.0, None))))
  }

  test("a SQL MERGE of the upsert shape runs at most 5 Spark jobs and " +
      "shuffles nothing") {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobStart, SparkListenerTaskEnd}
    val t = tmp()
    GraftLog.overwrite((0 until 400).map(i => (i.toLong, s"t$i"))
      .toDF("id", "tag").repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"), t)
    val cdc = graft.sources.Staging.tempDir("graft_mclause_cdc_") + "/cdc"
    (Seq((3L, "x", "D"), (5L, "y", "U"), (390L, "z", "U"),
      (1000L, "w", "I"), (1001L, "v", "D")))
      .toDF("id", "tag", "op").write.parquet(cdc)
    spark.sql("DROP TABLE IF EXISTS mclause_jobs_t")
    spark.sql(s"CREATE TABLE mclause_jobs_t USING graft OPTIONS (path '$t')")
    spark.read.parquet(cdc).createOrReplaceTempView("mclause_jobs_src")
    val (jobs, shuffled) = (new AtomicLong, new AtomicLong)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    try {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      spark.sql(
        """MERGE INTO mclause_jobs_t t USING mclause_jobs_src s
          |ON t.id = s.id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET tag = s.tag
          |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, tag)
          |  VALUES (s.id, s.tag)""".stripMargin)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      // the probe's source broadcast and scan; the write's source and
      // matched-key broadcasts and the write itself
      assert(jobs.get <= 5, s"jobs ${jobs.get}")
      assert(shuffled.get == 0L, s"shuffle bytes ${shuffled.get}")
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.sql("DROP TABLE IF EXISTS mclause_jobs_t")
      spark.catalog.dropTempView("mclause_jobs_src")
    }
    val rows = GraftLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(rows.size == 400 && !rows.contains(3L) && rows(5L) == "y" &&
      rows(390L) == "z" && rows(1000L) == "w" && !rows.contains(1001L))
  }
}
