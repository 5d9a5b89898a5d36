package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftDataSource, GraftFileIndex, GraftLog, Sources, Staging}

/** Planner-driven data skipping through the GraftFileIndex: pushed
  * filters must prune files (numFiles metric) without losing rows. */
class GraftFileIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // range-clustered staged table: 8 files with tight c_custkey ranges
  private lazy val dir: String = {
    val d = Staging.tempDir("graft_fidx_") + "/customer"
    GraftLog.overwrite(
      Sources.testTable(spark, TestSpark.sf, "customer")
        .repartitionByRange(8, col("c_custkey")), d)
    d
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
  }

  test("partition-spec evolution: both specs prune per file in one scan") {
    val d = Staging.tempDir("graft_fidx_") + "/evolve"
    val base = Sources.testTable(spark, TestSpark.sf, "customer")
    // v0: bucket(4) over the even keys — force several files per bucket
    GraftLog.overwriteBucketTransform(
      base.filter(col("c_custkey") % 2 === 0).repartition(4), d,
      "c_custkey", 4)
    val oldFiles = new GraftFileIndex(spark, d).inputFiles.length
    // v1: evolve the CURRENT spec to bucket(8); metadata-only
    GraftLog.evolveBucketSpec(spark, d, "c_custkey", 8)
    assert(new GraftFileIndex(spark, d).inputFiles.length == oldFiles,
      "evolution must move zero data files")
    // v2: the odd keys append under the NEW spec via plain append
    GraftLog.append(base.filter(col("c_custkey") % 2 === 1)
      .repartition(4), d)
    val idx = new GraftFileIndex(spark, d)
    val total = idx.inputFiles.length
    assert(idx.inputFiles.exists(_.contains("gfb4_c_custkey=")) &&
      idx.inputFiles.exists(_.contains("gfb8_c_custkey=")),
      "both transforms must coexist in the layout")
    // zero row loss across the mixed layout
    assert(GraftLog.read(spark, d).count() == base.count())
    // a point probe prunes in BOTH groups: ≤ one bucket's files of the
    // old spec + one bucket's files of the new spec
    val even = base.filter(col("c_custkey") % 2 === 0)
      .agg(min(col("c_custkey"))).collect().head.getLong(0)
    val q = spark.read.format("graft").load(d)
      .filter(col("c_custkey") === even)
    val n = scanOf(q).metrics("numFiles").value
    assert(n < total / 2,
      s"point probe scanned $n of $total files — bucket pruning dead")
    assert(q.count() == 1)
    val odd = even + 1
    val q2 = spark.read.format("graft").load(d)
      .filter(col("c_custkey") === odd)
    assert(scanOf(q2).metrics("numFiles").value < total / 2)
    assert(q2.count() == 1)
    // time travel BEFORE the evolution sees only the old spec
    assert(GraftLog.read(spark, d, Some(0L)).count() ==
      base.filter(col("c_custkey") % 2 === 0).count())
    // guards: visible hive layouts and unknown columns refuse
    val v = Staging.tempDir("graft_fidx_") + "/vis"
    GraftLog.overwritePartitioned(base.limit(50), v, Seq("c_mktsegment"))
    intercept[IllegalArgumentException] {
      GraftLog.evolveBucketSpec(spark, v, "c_custkey", 8)
    }
    intercept[IllegalArgumentException] {
      GraftLog.evolveBucketSpec(spark, d, "no_such_col", 8)
    }
    // SQL surface: REPLACE PARTITION FIELD advances the spec again
    spark.sql(
      s"ALTER TABLE '$d' REPLACE PARTITION FIELD bucket(16, c_custkey)")
    GraftLog.append(base.limit(0).repartition(1), d) // no-op rows
    assert(GraftLog.bucketSpecOf(GraftLog.properties(spark, d))
      .contains(("c_custkey", 16)))
  }

  test("format(\"graft\") full read equals GraftLog.read") {
    val a = spark.read.format("graft").load(dir)
    val b = GraftLog.read(spark, dir)
    assert(a.schema == b.schema)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(a.count() > 0)
  }

  test("pushed range filter prunes files in the plan, loses no rows") {
    val q = spark.read.format("graft").load(dir)
      .filter(col("c_custkey") >= 10 && col("c_custkey") <= 40)
    val scan = scanOf(q)
    val total = new GraftFileIndex(spark, dir).inputFiles.length
    assert(scan.metrics("numFiles").value < total,
      s"expected pruning below $total files")
    val expect = GraftLog.read(spark, dir)
      .filter(col("c_custkey") >= 10 && col("c_custkey") <= 40)
    assert(q.exceptAll(expect).count() == 0 &&
      expect.exceptAll(q).count() == 0)
  }

  test("disjunctive ranges keep files on both sides (OR pruning)") {
    val lo = spark.read.format("graft").load(dir)
      .filter(col("c_custkey") <= 5)
    val hi = spark.read.format("graft").load(dir)
      .filter(col("c_custkey") >= 140)
    val both = spark.read.format("graft").load(dir)
      .filter(col("c_custkey") <= 5 || col("c_custkey") >= 140)
    assert(both.count() == lo.count() + hi.count())
    val nBoth = scanOf(both).metrics("numFiles").value
    val total = new GraftFileIndex(spark, dir).inputFiles.length
    assert(nBoth < total) // middle files pruned even under OR
  }

  test("filters on unstat'd columns keep every file (conservative)") {
    val q = spark.read.format("graft").load(dir)
      .filter(col("c_name").startsWith("Customer"))
    val scan = scanOf(q)
    val total = new GraftFileIndex(spark, dir).inputFiles.length
    assert(scan.metrics("numFiles").value == total)
  }

  test("null-count stats prune IS NOT NULL / IS NULL probes") {
    val d = Staging.tempDir("graft_fidx_") + "/sparse"
    // sparse column: populated only in the low-key range, so the
    // range-clustered layout concentrates non-nulls in few files
    GraftLog.overwrite(
      Sources.testTable(spark, TestSpark.sf, "customer")
        .withColumn("c_note",
          when(col("c_custkey") <= 20, concat(lit("vip:"), col("c_name"))))
        .repartitionByRange(8, col("c_custkey")), d)
    val total = new GraftFileIndex(spark, d).inputFiles.length
    val notNull = spark.read.format("graft").load(d)
      .filter(col("c_note").isNotNull)
    assert(scanOf(notNull).metrics("numFiles").value < total,
      "IS NOT NULL should drop all-null files")
    assert(notNull.count() ==
      GraftLog.read(spark, d).filter(col("c_custkey") <= 20).count())
    // IS NULL prunes the fully-populated files (here: none are fully
    // null-free except the low file(s); at minimum no rows are lost)
    val isNull = spark.read.format("graft").load(d)
      .filter(col("c_note").isNull)
    assert(isNull.count() ==
      GraftLog.read(spark, d).filter(col("c_custkey") > 20).count())
    // the implicit IsNotNull Spark adds beside a range filter must not
    // break pruning or rows on a fully-populated column
    val q = spark.read.format("graft").load(d)
      .filter(col("c_custkey") >= 10 && col("c_custkey") <= 40)
    assert(q.count() == GraftLog.read(spark, d)
      .filter(col("c_custkey") >= 10 && col("c_custkey") <= 40).count())
  }

  test("versionAsOf time travel through the data source") {
    val d = Staging.tempDir("graft_fidx_") + "/tt"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwrite(cust.filter(col("c_custkey") < 50), d)  // v0
    GraftLog.overwrite(cust.filter(col("c_custkey") >= 50), d) // v1
    val v0 = spark.read.format("graft").option("versionAsOf", 0).load(d)
    val v1 = spark.read.format("graft").load(d)
    assert(v0.agg(max(col("c_custkey"))).collect().head.getLong(0) < 50)
    assert(v1.agg(min(col("c_custkey"))).collect().head.getLong(0) >= 50)
    assert(v0.count() + v1.count() == cust.count())
  }

  // ----------------------------------------------- hive-partitioned layout

  private lazy val pdir: String = {
    val d = Staging.tempDir("graft_fidx_") + "/cust_part"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwritePartitioned(
      cust.filter(col("c_custkey") % 2 === 0), d, Seq("c_mktsegment"))
    GraftLog.appendPartitioned(
      cust.filter(col("c_custkey") % 2 === 1), d, Seq("c_mktsegment"))
    d
  }

  test("partitioned round-trip: rows, schema order, and values intact") {
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    val back = GraftLog.read(spark, pdir)
    assert(back.columns.toSeq == cust.columns.toSeq)
    assert(back.exceptAll(cust).count() == 0 &&
      cust.exceptAll(back).count() == 0)
  }

  test("partition-column equality prunes to that segment's files") {
    val q = spark.read.format("graft").load(pdir)
      .filter(col("c_mktsegment") === "BUILDING")
    val scan = scanOf(q)
    val total = new GraftFileIndex(spark, pdir).inputFiles.length
    val opened = scan.metrics("numFiles").value
    // 5 segments × 2 commits: the filter must open exactly 2 files
    assert(opened == 2, s"expected 2 of $total files, opened $opened")
    val expect = Sources.testTable(spark, TestSpark.sf, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    assert(q.exceptAll(expect).count() == 0 &&
      expect.exceptAll(q).count() == 0)
  }

  test("partition filter composes with data-column stats skipping") {
    // both kinds of pruning in one query: segment (partition) + key range
    // (commit-log stats); correctness stays oracle-grade
    val q = spark.read.format("graft").load(pdir)
      .filter(col("c_mktsegment") === "MACHINERY" && col("c_custkey") < 10)
    val expect = Sources.testTable(spark, TestSpark.sf, "customer")
      .filter(col("c_mktsegment") === "MACHINERY" && col("c_custkey") < 10)
    assert(q.exceptAll(expect).count() == 0 &&
      expect.exceptAll(q).count() == 0)
    assert(scanOf(q).metrics("numFiles").value <= 2)
  }

  test("partitioned z-order clusters within dirs; layout appends guarded") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_z_part"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwritePartitioned(cust, d, Seq("c_mktsegment"))
    GraftLog.clusterBy(spark, d, "c_custkey", "c_acctbal", 8)
    // layout-only: identical rows, partition columns intact
    val back = GraftLog.read(spark, d)
    assert(back.exceptAll(cust).count() == 0 &&
      cust.exceptAll(back).count() == 0)
    // files still live under their col=val dirs
    assert(GraftLog.snapshot(spark, d)._1.forall(_.contains("=")))
    // a range probe on the SECOND clustered column composes with
    // partition pruning and loses no rows
    val q = spark.read.format("graft").load(d)
      .filter(col("c_mktsegment") === "BUILDING" &&
        col("c_acctbal") >= 2000 && col("c_acctbal") <= 4000)
    val expect = cust.filter(col("c_mktsegment") === "BUILDING" &&
      col("c_acctbal") >= 2000 && col("c_acctbal") <= 4000)
    assert(q.exceptAll(expect).count() == 0 &&
      expect.exceptAll(q).count() == 0)
    // flat append into a partitioned layout would strand files without
    // partition dirs — refused still
    intercept[IllegalArgumentException] {
      GraftLog.append(
        Sources.testTable(spark, TestSpark.sf, "customer").limit(1), pdir)
    }
    // append with DIFFERENT partition columns breaks path reconstruction
    intercept[IllegalArgumentException] {
      GraftLog.appendPartitioned(
        Sources.testTable(spark, TestSpark.sf, "customer").limit(1),
        pdir, Seq("c_nationkey"))
    }
  }

  private def fileBytes(table: String, rel: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(table, rel))

  test("partitioned merge rewrites only touched partitions' files") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_merge_part"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwritePartitioned(cust, d, Seq("c_mktsegment"))
    val (before, _) = GraftLog.snapshot(spark, d)
    // update 3 BUILDING rows' balances + insert one brand-new key
    val updates = cust.filter(col("c_mktsegment") === "BUILDING")
      .orderBy(col("c_custkey")).limit(3)
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
    val insert = cust.orderBy(col("c_custkey").desc).limit(1)
      .withColumn("c_custkey", col("c_custkey") + 100000)
    GraftLog.merge(updates.unionByName(insert), d, Seq("c_custkey"))
    val (after, _) = GraftLog.snapshot(spark, d)
    // every non-BUILDING file of the old snapshot is carried BY REFERENCE
    val untouchedBefore = before.filterNot(_.contains("c_mktsegment=BUILDING"))
    assert(untouchedBefore.forall(after.contains),
      "non-touched partitions must keep their exact files")
    // ... and is byte-identical on disk (immutable, never rewritten)
    untouchedBefore.take(3).foreach { f =>
      assert(fileBytes(d, f).nonEmpty) // still present, readable
    }
    // the BUILDING data file was rewritten
    assert(before.exists(f => f.contains("c_mktsegment=BUILDING")
      && !after.contains(f)))
    // row-level semantics: updates applied, insert present, rest intact
    val back = GraftLog.read(spark, d)
    assert(back.count() == cust.count() + 1)
    val updatedKeys = updates.select("c_custkey").collect().map(_.getLong(0))
    val bals = back.filter(col("c_custkey").isin(updatedKeys: _*))
      .select("c_custkey", "c_acctbal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val origBals = cust.filter(col("c_custkey").isin(updatedKeys: _*))
      .select("c_custkey", "c_acctbal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    updatedKeys.foreach { k =>
      assert(bals(k) - origBals(k) == 1000.0)
    }
    // partition columns reconstructed, never NULL
    assert(back.filter(col("c_mktsegment").isNull).count() == 0)
  }

  test("partitioned merge can move a row across partitions") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_merge_move"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwritePartitioned(cust, d, Seq("c_mktsegment"))
    val mover = cust.orderBy(col("c_custkey")).limit(1)
      .withColumn("c_mktsegment", lit("RELOCATED"))
    GraftLog.merge(mover, d, Seq("c_custkey"))
    val back = GraftLog.read(spark, d)
    val k = mover.select("c_custkey").collect().head.getLong(0)
    assert(back.filter(col("c_custkey") === k)
      .select("c_mktsegment").collect().head.getString(0) == "RELOCATED")
    assert(back.count() == cust.count())
    assert(GraftLog.snapshot(spark, d)._1
      .exists(_.contains("c_mktsegment=RELOCATED")))
  }

  test("partitioned delete rewrites only files holding matching rows") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_del_part"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwritePartitioned(cust, d, Seq("c_mktsegment"))
    val (before, _) = GraftLog.snapshot(spark, d)
    GraftLog.delete(spark, d,
      col("c_mktsegment") === "MACHINERY" && col("c_custkey") <= 50)
    val (after, _) = GraftLog.snapshot(spark, d)
    val untouched = before.filterNot(_.contains("c_mktsegment=MACHINERY"))
    assert(untouched.forall(after.contains))
    val back = GraftLog.read(spark, d)
    val expect = cust.filter(
      !(col("c_mktsegment") === "MACHINERY" && col("c_custkey") <= 50))
    assert(back.exceptAll(expect).count() == 0 &&
      expect.exceptAll(back).count() == 0)
  }

  test("readPruned routes partitioned tables through the file index") {
    val pruned = GraftLog.readPruned(spark, pdir, "c_custkey", 10.0, 40.0)
    val expect = GraftLog.read(spark, pdir)
      .filter(col("c_custkey") >= 10 && col("c_custkey") <= 40)
    assert(pruned.exceptAll(expect).count() == 0 &&
      expect.exceptAll(pruned).count() == 0)
    assert(pruned.filter(col("c_mktsegment").isNull).count() == 0)
  }

  test("bloom index prunes point lookups where min/max stats cannot") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_bloom"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwriteIndexed(cust.repartition(8), d, Seq("c_name"))
    val total = new GraftFileIndex(spark, d).inputFiles.length
    assert(total == 8)
    val probe = cust.filter(col("c_custkey") === 7)
      .select("c_name").collect().head.getString(0)
    val q = spark.read.format("graft").load(d)
      .filter(col("c_name") === probe)
    val scan = scanOf(q)
    // hash-distributed names: min/max stats keep all 8 files, the Bloom
    // bitmaps prune to the one holding the probe (FPR ~1e-3 per file
    // leaves a little slack)
    assert(scan.metrics("numFiles").value <= 2,
      s"bloom should prune 8 files to ~1, kept ${scan.metrics("numFiles").value}")
    val rows = q.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("c_name") == probe)
    // an absent value prunes everything (modulo FPR), still zero rows
    val none = spark.read.format("graft").load(d)
      .filter(col("c_name") === "no-such-customer-name")
    assert(none.count() == 0)
    assert(scanOf(none).metrics("numFiles").value <= 1)
    // IN over two names keeps both files, loses no rows
    val probe2 = cust.filter(col("c_custkey") === 99)
      .select("c_name").collect().head.getString(0)
    val two = spark.read.format("graft").load(d)
      .filter(col("c_name").isin(probe, probe2))
    assert(two.count() == 2)
    // blooms survive a non-indexed append only for the indexed files:
    // new files carry no bitmap and are conservatively kept
    GraftLog.append(cust.limit(5), d)
    val after = spark.read.format("graft").load(d)
      .filter(col("c_name") === probe)
    assert(after.count() >= 1)
  }

  test("hidden bucket transform: schema-invisible dirs prune key probes") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_pbt"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwriteBucketTransform(cust, d, "c_custkey", nBuckets = 8)
    // the synthetic column is layout-only: schema and rows never see it
    val full = spark.read.format("graft").load(d)
    assert(full.columns.toSeq == cust.columns.toSeq)
    assert(full.exceptAll(cust).count() == 0 &&
      cust.exceptAll(full).count() == 0)
    // an equality probe on the SOURCE column prunes to one bucket's
    // file(s) — the user never names the bucket
    val q = spark.read.format("graft").load(d)
      .filter(col("c_custkey") === 42L)
    val total = new GraftFileIndex(spark, d).inputFiles.length
    val opened = scanOf(q).metrics("numFiles").value
    assert(opened < total,
      s"bucket pruning expected below $total files, opened $opened")
    assert(q.count() == 1)
    // IN over several keys keeps only those keys' buckets, loses nothing
    val in3 = spark.read.format("graft").load(d)
      .filter(col("c_custkey").isin(1L, 2L, 3L))
    assert(in3.count() == 3)
    assert(scanOf(in3).metrics("numFiles").value <= 3)
    // rewriting DML re-derives the hidden column: delete + read back
    GraftLog.delete(spark, d, col("c_custkey") === 42L)
    val after = GraftLog.read(spark, d)
    assert(after.count() == cust.count() - 1)
    assert(after.columns.toSeq == cust.columns.toSeq)
    // and probes still prune post-rewrite
    val q2 = spark.read.format("graft").load(d)
      .filter(col("c_custkey") === 43L)
    assert(q2.count() == 1)
    assert(scanOf(q2).metrics("numFiles").value < total)
  }

  test("partitioned compact: one file per partition, identical rows") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_cmp_part"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    // two appends → two files per partition dir (the small-files layout)
    GraftLog.overwritePartitioned(
      cust.filter(col("c_custkey") % 2 === 0), d, Seq("c_mktsegment"))
    GraftLog.appendPartitioned(
      cust.filter(col("c_custkey") % 2 === 1), d, Seq("c_mktsegment"))
    val before = GraftLog.snapshot(spark, d)._1
    GraftLog.compact(spark, d)
    val after = GraftLog.snapshot(spark, d)._1
    // one file per partition value afterwards
    val perPart = after.groupBy(_.split('/').find(_.contains('=')).get)
    assert(perPart.values.forall(_.size == 1),
      s"expected 1 file/partition, got ${perPart.view.mapValues(_.size).toMap}")
    assert(after.size < before.size)
    // pure layout change: identical rows, partition columns intact
    val back = GraftLog.read(spark, d)
    assert(back.exceptAll(cust).count() == 0 &&
      cust.exceptAll(back).count() == 0)
    // pre-compact version still time-travelable
    assert(GraftLog.readVersion(spark, d, 1L).count() == cust.count())
  }

  test("vacuum sweeps partitioned staging dirs safely") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_vac_part"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwritePartitioned(
      cust.filter(col("c_custkey") <= 75), d, Seq("c_mktsegment")) // v0
    GraftLog.overwritePartitioned(cust, d, Seq("c_mktsegment"))    // v1
    val (v0Files, _) = GraftLog.snapshot(spark, d, Some(0L))
    GraftLog.vacuum(spark, d, retainVersions = 1)
    // v0's superseded files are gone from disk
    v0Files.foreach { f =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d, f)),
        s"vacuum left superseded $f")
    }
    // the retained version is complete and correct
    val back = GraftLog.read(spark, d)
    assert(back.exceptAll(cust).count() == 0 &&
      cust.exceptAll(back).count() == 0)
  }

  test("appendPartitioned enforces the table schema") {
    val bad = Sources.testTable(spark, TestSpark.sf, "customer")
      .withColumn("extra", lit(1))
    intercept[IllegalArgumentException] {
      GraftLog.appendPartitioned(bad, pdir, Seq("c_mktsegment"))
    }
  }

  // ------------------------------------------------- z-order clustering

  private lazy val zdir: String = {
    val d = Staging.tempDir("graft_fidx_") + "/cust_z"
    GraftLog.overwrite(
      Sources.testTable(spark, TestSpark.sf, "customer"), d)
    GraftLog.clusterBy(spark, d, "c_custkey", "c_acctbal", targetFiles = 8)
    d
  }

  test("z-order cluster is layout-only: identical rows, time travel intact") {
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    val now = GraftLog.read(spark, zdir)
    assert(now.exceptAll(cust).count() == 0 &&
      cust.exceptAll(now).count() == 0)
    val v0 = GraftLog.readVersion(spark, zdir, 0)
    assert(v0.exceptAll(cust).count() == 0)
  }

  test("z-order prunes files for ranges on EITHER clustered column") {
    val total = new GraftFileIndex(spark, zdir).inputFiles.length
    val byKey = spark.read.format("graft").load(zdir)
      .filter(col("c_custkey") >= 10 && col("c_custkey") <= 40)
    val byBal = spark.read.format("graft").load(zdir)
      .filter(col("c_acctbal") >= 2000 && col("c_acctbal") <= 4000)
    assert(scanOf(byKey).metrics("numFiles").value < total)
    assert(scanOf(byBal).metrics("numFiles").value < total,
      "second dimension must prune too — that is the point of z-order")
    // and zero row loss on the second dimension
    val expect = Sources.testTable(spark, TestSpark.sf, "customer")
      .filter(col("c_acctbal") >= 2000 && col("c_acctbal") <= 4000)
    assert(byBal.exceptAll(expect).count() == 0 &&
      expect.exceptAll(byBal).count() == 0)
  }

  // ------------------------------------------------- streaming source

  test("streaming read follows the commit log exactly-once across restarts") {
    val root = Staging.tempDir("graft_fidx_src_")
    val (t, ckpt, out) = (s"$root/t", s"$root/ckpt", s"$root/out")
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(t)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    GraftLog.append(cust.filter(col("c_custkey") < 50), t)
    drain()
    assert(spark.read.parquet(out).count() ==
      cust.filter(col("c_custkey") < 50).count())
    drain() // no new commits: nothing re-delivered
    assert(spark.read.parquet(out).count() ==
      cust.filter(col("c_custkey") < 50).count())
    GraftLog.append(cust.filter(col("c_custkey") >= 50), t)
    drain() // resume: only the new commit
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == cust.count())
    assert(sunk.exceptAll(cust).count() == 0 &&
      cust.exceptAll(sunk).count() == 0)
  }

  test("writeStream.format(graft): direct exactly-once streaming sink") {
    val root = Staging.tempDir("graft_sink_")
    val (src, t, ckpt) = (s"$root/src", s"$root/t", s"$root/ckpt")
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(t)
      q.awaitTermination()
    }
    GraftLog.append(cust.filter(col("c_custkey") < 50), src)
    drain()
    assert(GraftLog.read(spark, t).count() ==
      cust.filter(col("c_custkey") < 50).count())
    drain() // no new commits → nothing re-delivered, no empty commit
    val nVersions = GraftLog.versions(spark, t).size
    GraftLog.append(cust.filter(col("c_custkey") >= 50), src)
    drain() // resume delivers only the new commit, as one txn commit
    val sunk = GraftLog.read(spark, t)
    assert(sunk.count() == cust.count())
    assert(sunk.exceptAll(cust).count() == 0 &&
      cust.exceptAll(sunk).count() == 0)
    assert(GraftLog.versions(spark, t).size == nVersions + 1)
    // the sink's commits carry the txn ledger (idempotence inspectable)
    assert(GraftLog.history(spark, t).collect()
      .forall(_.getString(1) == "streamingAppend"))
  }

  test("writeStream.format(graft) Complete mode overwrites per batch") {
    val root = Staging.tempDir("graft_sinkc_")
    val (t, ckpt) = (s"$root/t", s"$root/ckpt")
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
    // memory-source-free Complete query: a rate stream aggregate
    val q = rate.groupBy().count()
      .writeStream.format("graft").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(t)
    q.awaitTermination()
    val back = GraftLog.read(spark, t)
    assert(back.columns.toSeq == Seq("count"))
    assert(back.count() == 1) // one aggregate row, latest batch only
    assert(GraftLog.history(spark, t).collect()
      .head.getString(1) == "overwrite")
  }

  test("maxVersionsPerTrigger: bounded catch-up batches, same final rows") {
    val root = Staging.tempDir("graft_fidx_mvt_")
    val (t, ckpt, out) = (s"$root/t", s"$root/ckpt", s"$root/out")
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    // 5 commits of disjoint key slices
    (0 until 5).foreach(i =>
      GraftLog.append(cust.filter(col("c_custkey") % 5 === i), t))
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "2").load(t)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the 5-commit history drained as ceil(5/2)=3 bounded batches…
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3,
      q.recentProgress.map(_.numInputRows).mkString(","))
    // …and no batch carried more than 2 commits' worth of rows
    val perCommitMax = (0 until 5)
      .map(i => cust.filter(col("c_custkey") % 5 === i).count()).max
    assert(batches.forall(_.numInputRows <= 2 * perCommitMax))
    // delivery is still complete and exactly-once
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == cust.count())
    assert(sunk.exceptAll(cust).count() == 0 &&
      cust.exceptAll(sunk).count() == 0)
    // vacuumed log + fresh capped stream: the anchor batch bases at the
    // oldest retained version instead of probing truncated offsets
    GraftLog.vacuum(spark, t, 2)
    val (ckpt2, out2) = (s"$root/ckpt2", s"$root/out2")
    val q2 = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(t)
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val sunk2 = spark.read.parquet(out2)
    assert(sunk2.count() == cust.count())
  }

  test("streaming read rejects file-removing versions unless ignoreChanges") {
    val root = Staging.tempDir("graft_fidx_src_")
    val t = s"$root/t"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.append(cust, t)
    GraftLog.delete(spark, t, col("c_custkey") % 10 === 0) // removes files
    def drainWith(opts: Map[String, String]): Unit = {
      val q = spark.readStream.format("graft").options(opts).load(t)
        .writeStream.format("parquet")
        .option("path", s"$root/out_${opts.size}")
        .option("checkpointLocation", s"$root/ckpt_${opts.size}")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainWith(Map.empty)
    }
    assert(e.getMessage.contains("removes") ||
      Option(e.getCause).exists(_.getMessage.contains("removes")))
    drainWith(Map("ignoreChanges" -> "true")) // documented Delta trade
  }

  test("streams pass over OPTIMIZE commits silently (dataChange=false)") {
    val root = Staging.tempDir("graft_fidx_opt_")
    val (t, ckpt, out) = (s"$root/t", s"$root/ckpt", s"$root/out")
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    def drain(): Long = {
      val q = spark.readStream.format("graft").load(t)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    GraftLog.append(cust.filter(col("c_custkey") % 2 === 0), t) // v0
    drain()
    GraftLog.compact(spark, t)                                  // v1
    GraftLog.append(cust.filter(col("c_custkey") % 2 === 1), t) // v2
    // resume: no crash without ignoreChanges, only v2's rows delivered
    val resumed = drain()
    assert(resumed == cust.filter(col("c_custkey") % 2 === 1).count())
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == cust.count()) // nothing doubled by the rewrite
    // CLUSTER (zorder) commits are rewrite-only too
    GraftLog.clusterBy(spark, t, "c_custkey", "c_nationkey", 2) // v3
    assert(drain() == 0)
    // a fresh stream over the rewrite-containing history also agrees
    val q2 = spark.readStream.format("graft").load(t)
      .writeStream.format("parquet")
      .option("path", s"$root/out2")
      .option("checkpointLocation", s"$root/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.read.parquet(s"$root/out2").count() == cust.count())
    // byte-capped admission is not stalled by the zero-footprint
    // rewrite commits: a tiny cap still drains the whole history
    val q3 = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1").load(t)
      .writeStream.format("parquet")
      .option("path", s"$root/out3")
      .option("checkpointLocation", s"$root/ckpt3")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q3.awaitTermination()
    assert(spark.read.parquet(s"$root/out3").count() == cust.count())
  }

  test("startingVersion/startingTimestamp tail without initial snapshot") {
    val root = Staging.tempDir("graft_fidx_sv_")
    val t = s"$root/t"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.append(cust.filter(col("c_custkey") % 3 === 0), t) // v0
    Thread.sleep(5)
    val tsBeforeV1 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(5)
    GraftLog.append(cust.filter(col("c_custkey") % 3 === 1), t) // v1
    GraftLog.append(cust.filter(col("c_custkey") % 3 === 2), t) // v2
    def drain(opts: Map[String, String], tag: String): Long = {
      val q = spark.readStream.format("graft").options(opts).load(t)
        .writeStream.format("parquet")
        .option("path", s"$root/out_$tag")
        .option("checkpointLocation", s"$root/ckpt_$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (!new java.io.File(s"$root/out_$tag").exists()) 0L
      else spark.read.parquet(s"$root/out_$tag").count()
    }
    val n1 = cust.filter(col("c_custkey") % 3 === 1).count()
    val n2 = cust.filter(col("c_custkey") % 3 === 2).count()
    // version form: commits 1..2 only, no v0 snapshot
    assert(drain(Map("startingVersion" -> "2"), "v2") == n2)
    // timestamp form: earliest commit at-or-after the instant = v1
    assert(drain(Map("startingTimestamp" -> tsBeforeV1.toString),
      "ts") == n1 + n2)
    // both options together are rejected
    val e = intercept[Exception] {
      drain(Map("startingVersion" -> "1",
        "startingTimestamp" -> tsBeforeV1.toString), "both")
    }
    assert(e.getMessage.contains("not both") ||
      Option(e.getCause).exists(_.getMessage.contains("not both")))
    // CDF stream honors startingVersion too: v2's changes only
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("cdfKeys", "c_custkey")
      .option("startingVersion", "2").load(t)
      .writeStream.format("parquet")
      .option("path", s"$root/out_cdf")
      .option("checkpointLocation", s"$root/ckpt_cdf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val cdf = spark.read.parquet(s"$root/out_cdf")
    assert(cdf.count() == n2)
    assert(cdf.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
  }

  test("fresh stream on a vacuumed table anchors at the retained snapshot") {
    val root = Staging.tempDir("graft_fidx_vac_")
    val (t, ckpt, out) = (s"$root/t", s"$root/ckpt", s"$root/out")
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.append(cust.filter(col("c_custkey") < 30), t)            // v0
    GraftLog.append(cust.filter(
      col("c_custkey") >= 30 && col("c_custkey") < 60), t)            // v1
    GraftLog.append(cust.filter(col("c_custkey") >= 60), t)           // v2
    GraftLog.vacuum(spark, t, retainVersions = 2)  // truncates v0
    assert(GraftLog.versions(spark, t) == Seq(1L, 2L))
    // a FRESH stream cannot replay v0, but it can anchor its first
    // batch at v1's checkpoint-folded snapshot — no rows lost
    val q = spark.readStream.format("graft").load(t)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == cust.count())
    assert(sunk.exceptAll(cust).count() == 0 &&
      cust.exceptAll(sunk).count() == 0)
  }

  // ------------------------------------------------------------ restore

  test("restore rewinds the live set; history and time travel intact") {
    val root = Staging.tempDir("graft_fidx_rst_")
    val t = s"$root/t"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwrite(cust, t)                                  // v0
    GraftLog.delete(spark, t, col("c_custkey") % 10 === 0)       // v1
    GraftLog.restore(spark, t, 0L)                               // v2
    val now = GraftLog.read(spark, t)
    assert(now.exceptAll(cust).count() == 0 &&
      cust.exceptAll(now).count() == 0)
    // the deleted state is still reachable — restore rewound the live
    // set, not the history
    val v1 = GraftLog.readVersion(spark, t, 1)
    assert(v1.filter(col("c_custkey") % 10 === 0).count() == 0)
    assert(v1.count() < cust.count())
    val ops = GraftLog.history(spark, t)
      .select(col("operation")).collect().map(_.getString(0)).toSeq
    assert(ops.contains("restore"))
  }

  // --------------------------------------------------------- writer API

  test("df.write.format(\"graft\"): SaveMode semantics + partitionBy option") {
    val root = Staging.tempDir("graft_fidx_w_")
    val t = s"$root/t"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    cust.write.format("graft").mode("overwrite").save(t)
    assert(GraftLog.read(spark, t).count() == cust.count())
    // ErrorIfExists on an existing table throws
    intercept[Exception] {
      cust.write.format("graft").mode("error").save(t)
    }
    // Ignore on an existing table is a no-op (version unchanged)
    val v = GraftLog.latestVersion(spark, t)
    cust.limit(1).write.format("graft").mode("ignore").save(t)
    assert(GraftLog.latestVersion(spark, t) == v)
    // append doubles the rows
    cust.write.format("graft").mode("append").save(t)
    assert(GraftLog.read(spark, t).count() == 2 * cust.count())
    // partitionBy option lands the hive layout
    val tp = s"$root/tp"
    cust.write.format("graft").mode("overwrite")
      .option("partitionBy", "c_mktsegment").save(tp)
    val q = spark.read.format("graft").load(tp)
      .filter(col("c_mktsegment") === "BUILDING")
    assert(scanOf(q).metrics("numFiles").value <
      new GraftFileIndex(spark, tp).inputFiles.length)
    assert(q.count() ==
      cust.filter(col("c_mktsegment") === "BUILDING").count())
  }

  test("t10 registered query equals the explicit-API t8 pruning path") {
    // same staged table, same semantics: planner-driven skipping must
    // agree with GraftLog.readPruned for an equivalent single range
    val a = spark.read.format("graft").load(dir)
      .filter(col("c_custkey") >= 20 && col("c_custkey") <= 80)
      .select(col("c_custkey"))
    val b = GraftLog.readPruned(spark, dir, "c_custkey", 20.0, 80.0)
      .select(col("c_custkey"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("graft sink rejects Update output mode loudly") {
    // routing an Update-mode aggregate through the append path would
    // land every re-emitted row as a duplicate; Delta's sink refuses
    // Update for the same reason
    val root = Staging.tempDir("graft_sinku_")
    val e = intercept[IllegalArgumentException] {
      new GraftDataSource().createSink(spark.sqlContext,
        Map("path" -> s"$root/t", "checkpointLocation" -> s"$root/ckpt"),
        Nil, org.apache.spark.sql.streaming.OutputMode.Update())
    }
    assert(e.getMessage.contains("Update"))
  }

  test("sink default appId: hash-colliding checkpoint paths don't alias") {
    // "Aa" and "BB" have equal String.hashCode, so equal-prefix paths
    // ending in them collide under a 32-bit-hash appId — two unrelated
    // queries would share one idempotence-ledger key and silently skip
    // each other's batch 0. The path-derived appId keeps them distinct.
    assert(s"x/Aa".hashCode == s"x/BB".hashCode) // the collision is real
    val root = Staging.tempDir("graft_sinkh_")
    val t = s"$root/t"
    val ds = new GraftDataSource()
    def sinkFor(ckpt: String) = ds.createSink(spark.sqlContext,
      Map("path" -> t, "checkpointLocation" -> ckpt), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    sinkFor(s"$root/Aa").addBatch(0L, cust.filter(col("c_custkey") < 10))
    sinkFor(s"$root/BB").addBatch(0L, cust.filter(col("c_custkey") >= 10))
    // with the old hashed appId the second addBatch was a silent no-op
    // (ledger already held batchId 0 under the aliased key)
    assert(GraftLog.read(spark, t).count() == cust.count())
  }

  test("maxFiles/maxBytesPerTrigger: mixed-size commits drain bounded") {
    val root = Staging.tempDir("graft_fidx_mfb_")
    val t = s"$root/t"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    // v0: 4 files (OVER the cap — must still be admitted, alone);
    // v1: 1 file; v2: 2 files (1+2 = exactly the cap); v3: 1 file
    GraftLog.append(cust.filter(col("c_custkey") % 4 === 0)
      .repartition(4), t)
    GraftLog.append(cust.filter(col("c_custkey") % 4 === 1)
      .coalesce(1), t)
    GraftLog.append(cust.filter(col("c_custkey") % 4 === 2)
      .repartition(2), t)
    GraftLog.append(cust.filter(col("c_custkey") % 4 === 3)
      .coalesce(1), t)
    def drain(opts: Map[String, String], tag: String): Int = {
      val q = spark.readStream.format("graft").options(opts).load(t)
        .writeStream.format("parquet")
        .option("path", s"$root/out_$tag")
        .option("checkpointLocation", s"$root/ckpt_$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sunk = spark.read.parquet(s"$root/out_$tag")
      assert(sunk.count() == cust.count())
      assert(sunk.exceptAll(cust).count() == 0 &&
        cust.exceptAll(sunk).count() == 0)
      q.recentProgress.count(_.numInputRows > 0)
    }
    // file cap 3: [v0 alone (4>3, progress guarantee)], [v1+v2 = 3],
    // [v3] — exactly three batches
    assert(drain(Map("maxFilesPerTrigger" -> "3"), "files") == 3)
    // a 1-byte cap forces every commit into its own batch
    assert(drain(Map("maxBytesPerTrigger" -> "1"), "bytes") == 4)
    // byte-suffix parsing: 1g swallows the whole history in one batch
    assert(drain(Map("maxBytesPerTrigger" -> "1g"), "gig") == 1)
    // caps compose: the tightest wins per batch
    assert(drain(Map("maxFilesPerTrigger" -> "3",
      "maxVersionsPerTrigger" -> "1"), "both") == 4)
    // an unparseable byte cap fails loudly at stream start
    intercept[Exception] { drain(Map("maxBytesPerTrigger" -> "wat"), "bad") }
  }

  test("tag-pinned vacuum: fresh stream anchors at the contiguous tail") {
    val root = Staging.tempDir("graft_fidx_pin_")
    val (t, ckpt, out) = (s"$root/t", s"$root/ckpt", s"$root/out")
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.append(cust.filter(col("c_custkey") < 30), t)            // v0
    GraftLog.append(cust.filter(
      col("c_custkey") >= 30 && col("c_custkey") < 60), t)            // v1
    GraftLog.append(cust.filter(col("c_custkey") >= 60), t)           // v2
    GraftLog.createTag(spark, t, "genesis", Some(0L))                 // v3
    GraftLog.vacuum(spark, t, retainVersions = 2) // keeps [2,3], pins 0
    assert(GraftLog.versions(spark, t) == Seq(0L, 2L, 3L)) // hole at 1
    // a fresh stream must base its initial snapshot at the contiguous
    // tail start (v2 — where vacuum wrote a self-contained checkpoint),
    // not at the pinned v0 below the hole (which would fail loudly or,
    // worse, stream through the truncated v1)
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1") // admission base re-anchors too
      .load(t)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == cust.count())
    assert(sunk.exceptAll(cust).count() == 0 &&
      cust.exceptAll(sunk).count() == 0)
    // the pinned version itself stays addressable via its tag
    assert(GraftLog.readVersion(spark, t, 0L).count() ==
      cust.filter(col("c_custkey") < 30).count())
  }

  test("distributed scan planning equals the driver path exactly") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_distplan"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    // range-clustered + bloom-indexed files so BOTH pruning mechanisms
    // are exercised, then a checkpoint (the distributed frame's base)
    // and a tail: one append (no checkpoint) and one delete (removes
    // checkpoint files) — the exact shape liveAddsFrame must fold
    GraftLog.overwriteIndexed(
      cust.repartitionByRange(8, col("c_custkey")), d, Seq("c_name"))
    GraftLog.checkpoint(spark, d)
    GraftLog.append(cust.filter(col("c_custkey") <= 3)
      .withColumn("c_custkey", col("c_custkey") + 100000L), d)
    GraftLog.delete(spark, d, col("c_custkey") % 97 === 5)
    val probe = cust.filter(col("c_custkey") === 7)
      .select("c_name").collect().head.getString(0)
    val preds = Seq(
      col("c_custkey") >= 10 && col("c_custkey") <= 40,
      col("c_custkey") <= 5 || col("c_custkey") >= 140,
      col("c_name") === probe,
      col("c_custkey") > 100000L,
      col("c_acctbal").isNotNull)
    for (p <- preds) {
      def run(mode: String): (Long, Seq[org.apache.spark.sql.Row]) = {
        spark.conf.set("spark.graft.planning.distributed", mode)
        try {
          val q = spark.read.format("graft").load(d).filter(p)
          val rows = q.collect().toSeq
          (scanOf(q).metrics("numFiles").value, rows)
        } finally spark.conf.unset("spark.graft.planning.distributed")
      }
      val (nDriver, rowsDriver) = run("false")
      val (nDist, rowsDist) = run("true")
      assert(nDist == nDriver,
        s"pruned file count must match for $p: driver=$nDriver " +
          s"distributed=$nDist")
      assert(rowsDist.toSet == rowsDriver.toSet,
        s"rows must match for $p")
    }
    // default 'auto' mode stays on the driver path at sandbox file
    // counts (threshold 100k) — no planning job on small tables
    assert(spark.conf.get("spark.graft.planning.distributed", "auto")
      == "auto")
  }

  test("distributed planning equals the driver path on a PARTITIONED " +
      "checkpoint+append+delete history") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_distpart"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    // hive-partitioned layout, then the exact history liveAddsFrame
    // must fold: checkpoint base, a tail append (new files, no
    // checkpoint), a tail delete (removes checkpoint files)
    GraftLog.overwritePartitioned(cust, d, Seq("c_mktsegment"))
    GraftLog.checkpoint(spark, d)
    GraftLog.appendPartitioned(cust.filter(col("c_custkey") <= 5)
      .withColumn("c_custkey", col("c_custkey") + 100000L), d,
      Seq("c_mktsegment"))
    GraftLog.delete(spark, d, col("c_custkey") % 97 === 5)
    val seg = cust.select("c_mktsegment").limit(1)
      .collect().head.getString(0)
    val preds = Seq(
      col("c_mktsegment") === seg, // pure partition filter
      col("c_mktsegment") === seg && col("c_custkey") <= 40, // both
      col("c_custkey") >= 10 && col("c_custkey") <= 40, // data range
      col("c_custkey") > 100000L, // tail-append rows only
      col("c_acctbal").isNotNull)
    for (p <- preds) {
      def run(mode: String): (Long, Long, Seq[org.apache.spark.sql.Row]) = {
        spark.conf.set("spark.graft.planning.distributed", mode)
        try {
          val q = spark.read.format("graft").load(d).filter(p)
          val rows = q.collect().toSeq
          val s = scanOf(q)
          (s.metrics("numFiles").value,
            s.metrics("numPartitions").value, rows)
        } finally spark.conf.unset("spark.graft.planning.distributed")
      }
      val (nDriver, pDriver, rowsDriver) = run("false")
      val (nDist, pDist, rowsDist) = run("true")
      assert(nDist == nDriver && pDist == pDriver,
        s"pruned file/dir count must match for $p: driver=($nDriver," +
          s"$pDriver) distributed=($nDist,$pDist)")
      assert(rowsDist.toSet == rowsDriver.toSet, s"rows must match for $p")
    }
  }

  test("distributed planning prunes hidden-bucket dirs executor-side") {
    val d = Staging.tempDir("graft_fidx_") + "/cust_distbkt"
    val cust = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwriteBucketTransform(cust, d, "c_custkey", nBuckets = 8)
    GraftLog.checkpoint(spark, d)
    val preds = Seq(col("c_custkey") === 42L,
      col("c_custkey").isin(1L, 2L, 3L))
    for (p <- preds) {
      def run(mode: String): (Long, Seq[org.apache.spark.sql.Row]) = {
        spark.conf.set("spark.graft.planning.distributed", mode)
        try {
          val q = spark.read.format("graft").load(d).filter(p)
          val rows = q.collect().toSeq
          (scanOf(q).metrics("numFiles").value, rows)
        } finally spark.conf.unset("spark.graft.planning.distributed")
      }
      val (nDriver, rowsDriver) = run("false")
      val (nDist, rowsDist) = run("true")
      assert(nDist == nDriver,
        s"bucket-pruned file count must match for $p: driver=$nDriver " +
          s"distributed=$nDist")
      assert(rowsDist.toSet == rowsDriver.toSet, s"rows must match for $p")
      val total = new GraftFileIndex(spark, d).inputFiles.length
      assert(nDist < total, s"bucket pruning must drop files for $p")
    }
  }

  test("a streaming append stages under the declared partition spec") {
    val d = Staging.tempDir("graft_fidx_") + "/spec_txn"
    val base = Sources.testTable(spark, TestSpark.sf, "customer")
    GraftLog.overwrite(base.filter(col("c_custkey") % 2 === 0), d)
    GraftLog.evolveBucketSpec(spark, d, "c_custkey", 4)
    assert(GraftLog.txnAppend(base.filter(col("c_custkey") % 2 === 1), d,
      "spec", 0L))
    val (files, _) = GraftLog.snapshot(spark, d)
    assert(files.exists(_.contains("gfb4_c_custkey=")), files.mkString(","))
    assert(GraftLog.read(spark, d).count() == base.count())
  }
}
