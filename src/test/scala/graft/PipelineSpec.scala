package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pipeline

/** e22 — the composed training-data pipeline: stage accounting must be
  * monotone (each gate only removes), the injected twin waves must be
  * caught by their own stage, and the stage seams must be PERSISTED so
  * no stage recomputes a prior stage's frame. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("stage counts are monotone and each dedup wave catches its twins") {
    CacheScope.withScope {
      val out = Pipeline.trainingDataPipeline(spark, sf)
      val r = out.limit(1).collect().head
      val nIngest = r.getAs[Long]("n_ingested")
      val nExact = r.getAs[Long]("n_after_exact")
      val nNear = r.getAs[Long]("n_after_neardup")
      val nQual = r.getAs[Long]("n_after_quality")
      val nSamp = r.getAs[Long]("n_after_sample")
      val base = spark.read.parquet(s"$sf/documents.parquet").count()
      val nExactTwins = spark.read.parquet(s"$sf/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 9 === 0)
        .count()
      assert(nIngest > base, "ingest must include the twin waves")
      // exact dedup removes EXACTLY the injected exact twins (the
      // corpus itself is exact-dup-free by construction)
      assert(nIngest - nExact == nExactTwins,
        s"exact stage dropped ${nIngest - nExact}, expected $nExactTwins")
      // near-dup removes at least one injected near twin, never grows
      assert(nNear < nExact, "near-dup stage must drop injected twins")
      assert(nQual <= nNear && nSamp <= nQual, "gates only remove")
      // the pack conserves the sampled docs exactly
      val packed = out.agg(org.apache.spark.sql.functions
        .sum(org.apache.spark.sql.functions.col("n_docs"))).head.getLong(0)
      assert(packed == nSamp,
        s"pack must conserve docs: $packed packed vs $nSamp sampled")
    }
  }

  test("stage 5 packs via the distributed prefix sum, no per-lang window") {
    CacheScope.withScope {
      val out = Pipeline.trainingDataPipeline(spark, sf)
      val bad = TestSpark.unboundedGroupWindows(out)
      assert(bad.isEmpty,
        s"e22 stage 5 funnels each language through one task on: $bad")
    }
  }

  test("stage seams are persisted: no stage recomputes a prior frame") {
    CacheScope.withScope {
      val out = Pipeline.trainingDataPipeline(spark, sf)
      // every multi-consumed stage output sits behind an
      // InMemoryRelation in the final plan (ingest, exact, near,
      // quality survivors feed both their audit count and the next
      // stage; the final plan reads the SAMPLED cache, not the lake)
      val plan = out.queryExecution.optimizedPlan
      val inMem = plan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }
      assert(inMem.nonEmpty,
        s"final plan must read a persisted stage seam:\n$plan")
      // and it must NOT re-scan the bronze parquet files — the lake
      // read happened once, upstream of the cache
      val parquetLeaves = plan.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            if lr.relation.toString.contains("graft_pipe_") => lr
      }
      assert(parquetLeaves.isEmpty,
        "the packed report must not re-scan the bronze table")
    }
  }

  test("incremental composition equals the batch run; replay no-ops") {
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getAs[Long]("n_ingested"), r.getAs[Long]("n_after_exact"),
      r.getAs[Long]("n_after_neardup"), r.getAs[Long]("n_after_quality"),
      r.getAs[Long]("n_after_sample"))
    val batch = CacheScope.withScope {
      Pipeline.trainingDataPipeline(spark, sf).collect().map(key).toSet
    }
    val (incr, nb, noop) = CacheScope.withScope {
      val rows = Pipeline.trainingDataPipelineIncremental(spark, sf)
        .collect()
      (rows.map(key).toSet, rows.head.getAs[Long]("n_batches"),
        rows.head.getAs[Boolean]("replay_noop"))
    }
    assert(nb == 2L, s"expected two absorbed waves, got $nb")
    assert(noop, "re-delivering absorbed waves must be a ledger no-op")
    assert(incr == batch,
      s"incremental != batch: only-incr=${(incr -- batch).take(3)} " +
        s"only-batch=${(batch -- incr).take(3)}")
  }

  // descend through AQE wrappers, query stages AND cached seams — the
  // pruned probes cache their state side, burying the file scan inside
  // an InMemoryRelation
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        allScans(im.relation.cachedPlan) ++ im.children.flatMap(allScans)
      case other => other.children.flatMap(allScans)
    }
  }

  private def scannedOf(df: org.apache.spark.sql.DataFrame,
      pathPart: String): Long = {
    df.collect()
    allScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains(pathPart)))
      .map(_.metrics("numFiles").value).sum
  }

  test("e23 state probes are pruned: layout, sidecar steady state, " +
      "file subset") {
    import org.apache.spark.sql.functions._
    import graft.operators.{DedupState, NearDupState}
    import graft.sources.GraftLog
    val root = graft.sources.Staging.tempDir("graft_pipei_spec_")
    val bronze = s"$root/bronze"
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    GraftLog.overwrite(base, bronze)                            // v0
    GraftLog.append(base.filter(col("doc_id") % 9 === 0)        // v1:
      .withColumn("doc_id", col("doc_id") + 10000L)             // exact
      .unionByName(base.filter(col("doc_id") % 7 === 0)         // + near
        .withColumn("doc_id", col("doc_id") + 20000L)           // twins
        .withColumn("text",
          concat(col("text"), lit(" pipeline near twin suffix")))),
      bronze)
    // a 1-byte advisory partition size sizes the band state to B = 64
    // buckets, so (c) below has partitions to prune (at this corpus
    // size the default sizes it to one)
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val old = spark.conf.getOption(advisory)
    spark.conf.set(advisory, "1")
    try {
      CacheScope.withScope {
        assert(Pipeline.pipelineAdvance(spark, bronze, root, 0L) == 1) }
      CacheScope.withScope {
        assert(Pipeline.pipelineAdvance(spark, bronze, root, 1L) == 1) }
    } finally old.fold(spark.conf.unset(advisory))(spark.conf.set(advisory, _))
    val (stDigest, stBand) = (s"$root/st_digest", s"$root/st_band")
    // (a) the state tables carry the pruned layouts the machinery
    // partition-prunes on — every live file sits in a digest-prefix
    // (h2=) / band-hash (bp=) hive dir
    val liveD = GraftLog.snapshot(spark, stDigest)._1
    assert(liveD.nonEmpty && liveD.forall(_.contains("h2=")),
      s"st_digest must be hive-partitioned by digest prefix: $liveD")
    val liveB = GraftLog.snapshot(spark, stBand)._1
    assert(liveB.nonEmpty && liveB.forall(_.contains("bp=")),
      s"st_band must be hive-partitioned by band-key hash: $liveB")
    // (b) the waves rolled their sidecars forward in-step: a fresh
    // load needs NO catch-up fold and NO rebuild — i.e., wave B's
    // probes ran off the persisted Bloom, not a state rescan
    val scD = DedupState.loadSidecar(spark, stDigest)
    assert(scD.catchupVersions == 0 && !scD.rebuilt,
      s"digest sidecar not steady: catchup=${scD.catchupVersions} " +
        s"rebuilt=${scD.rebuilt}")
    val scB = NearDupState.loadSidecar(spark, stBand)
    assert(scB.catchupVersions == 0 && !scB.rebuilt,
      s"band sidecar not steady: catchup=${scB.catchupVersions} " +
        s"rebuilt=${scB.rebuilt}")
    // (b2) the band state records its bucket count B in its FIRST
    // commit, and every band row sits in the bucket that B gives it
    val nb = GraftLog.properties(spark, stBand, asOf = Some(0L))
      .get(NearDupState.BucketsProp).map(_.toInt)
    assert(nb.contains(64) && NearDupState.bucketsOf(spark, stBand) == nb &&
      scB.buckets == 64, s"st_band must record B = 64 at version 0: $nb")
    assert(GraftLog.read(spark, stBand)
      .filter(col("bp") =!= pmod(xxhash64(col("bk")),
        lit(nb.get.toLong)).cast("int")).count() == 0,
      s"every band row must sit in bucket pmod(xxhash64(bk), ${nb.get})")
    // (c) the probes pipelineAdvance routes through open only the
    // candidate partitions' files of THESE tables, never the whole
    // state (the t18 files-opened pin)
    CacheScope.withScope {
      val totalD = GraftLog.snapshot(spark, stDigest)._1.size
      val candH = GraftLog.read(spark, stDigest)
        .select("content_hash").limit(3).collect().map(_.getString(0))
      import spark.implicits._
      val cand = candH.toSeq
        .map(h => (h, h.take(Pipeline.DigestPrefixLen)))
        .toDF("content_hash", "h2")
      val probe = DedupState.presentProbe(spark, stDigest, cand)
      val openedD = scannedOf(probe, "st_digest")
      assert(openedD > 0 && openedD < totalD,
        s"digest probe must file-prune: opened $openedD of $totalD")
      assert(probe.count() == 3)
      val totalB = GraftLog.snapshot(spark, stBand)._1.size
      // batch side from collected LITERALS — a probe frame scanning
      // st_band itself would add the whole table's file count to the
      // metric and mask the state-side pruning under test
      import scala.jdk.CollectionConverters._
      val sampleRows = GraftLog.read(spark, stBand)
        .select("bk", "bp", "sig").limit(2).collect().toSeq
      val batchBand = spark.createDataFrame(
        sampleRows.map(r => org.apache.spark.sql.Row(
          r.getString(0), r.getInt(1), 999999L, r.getSeq[Long](2)))
          .asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "bk STRING, bp INT, doc_id BIGINT, sig ARRAY<BIGINT>"))
      val joined = NearDupState.prunedBandJoin(spark, stBand, scB,
        batchBand)
      val openedB = scannedOf(joined, "st_band")
      assert(openedB > 0 && openedB < totalB,
        s"band probe must file-prune: opened $openedB of $totalB")
      assert(joined.count() >= 2,
        "the sampled band keys must find their own state rows")
    }
  }

  test("curated many-wave fold equals the curated batch run; replay " +
      "sweep no-ops; cap state advances per wave") {
    import org.apache.spark.sql.functions._
    import graft.sources.GraftLog
    val waves = 8
    val root = graft.sources.Staging.tempDir("graft_pipec_many_")
    val bronze = s"$root/bronze"
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    def slice(k: Int) = base.filter(col("doc_id") % waves === k)
    (0 until waves).foreach { k =>
      val fresh = slice(k)
        .withColumn("doc_id", col("doc_id") + k * 1000000L)
      val wave =
        if (k == 0) fresh
        else fresh.unionByName(slice(k - 1)
          .withColumn("doc_id",
            col("doc_id") + (k * 1000000L + 500000L)))
      if (k == 0) GraftLog.overwrite(wave, bronze)
      else { GraftLog.append(wave, bronze): Unit }
    }
    val probes = graft.operators.TextAnalysis
      .contaminationProbes(spark, sf, 5)
    assert(probes.nonEmpty, "doc 0 must yield probe shingles")
    (0 until waves).foreach { k =>
      CacheScope.withScope {
        assert(Pipeline.curatedAdvance(spark, bronze, root, k.toLong,
          probes) == 1, s"wave $k must process") }
    }
    (0 until waves).foreach { k =>
      assert(Pipeline.curatedAdvance(spark, bronze, root, k.toLong,
        probes) == 0, s"replayed wave $k must no-op") }
    // one audit sentinel per wave rides the pack commits; the source
    // cap state advanced alongside (one d_admits commit per wave with
    // any admissions)
    assert(GraftLog.read(spark, s"$root/st_pack")
      .filter(col("lang") === Pipeline.AuditLang).count() ==
      waves.toLong, "exactly one audit sentinel row per wave")
    assert(GraftLog.read(spark, s"$root/st_src")
      .agg(sum(col("d_admits"))).head().getLong(0) > 0,
      "the running admit counts must have advanced")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getAs[Long]("n_ingested"), r.getAs[Long]("n_after_exact"),
      r.getAs[Long]("n_after_neardup"), r.getAs[Long]("n_after_contam"),
      r.getAs[Long]("n_after_quality"), r.getAs[Long]("n_after_sample"),
      r.getAs[Long]("n_after_cap"))
    val incr = CacheScope.withScope {
      Pipeline.foldCurated(spark, root, replayNoop = true)
        .collect().map(key).toSet }
    val batch = CacheScope.withScope {
      Pipeline.batchStagesCurated(spark, GraftLog.read(spark, bronze),
          probes)
        .collect().map(key).toSet }
    assert(incr == batch,
      s"$waves-wave curated fold != batch: " +
        s"only-incr=${(incr -- batch).take(3)} " +
        s"only-batch=${(batch -- incr).take(3)}")
    // the cap actually cuts at this corpus (sources sample past their
    // budget), and no source ever exceeds it
    val head = CacheScope.withScope {
      Pipeline.foldCurated(spark, root, replayNoop = true)
        .limit(1).collect().head }
    assert(head.getAs[Long]("n_after_cap") <
      head.getAs[Long]("n_after_sample"),
      "the per-source cap must cut in this corpus")
    // the budget invariant holds at every SF (binding itself is
    // pinned by the e26 oracle at sf0.01, where sources overflow)
    assert(GraftLog.read(spark, s"$root/st_src")
      .groupBy(col("source")).agg(sum(col("d_admits")).as("n"))
      .filter(col("n") > Pipeline.SrcCap.toLong).count() == 0,
      "no source may exceed its admission budget")
  }

  test("many-wave fold stays identical to the batch run; one audit " +
      "row per wave") {
    import org.apache.spark.sql.functions._
    import graft.sources.GraftLog
    val waves = 12
    val root = graft.sources.Staging.tempDir("graft_pipei_many_")
    val bronze = s"$root/bronze"
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    def slice(k: Int) = base.filter(col("doc_id") % waves === k)
    // wave k: a fresh corpus slice, exact twins of wave k-1's slice
    // (same text, larger id — stage-1 fodder) and near twins of wave
    // k-2's (suffix — stage-2 fodder); ids monotone across waves, the
    // production ingest-key property the incremental form assumes
    (0 until waves).foreach { k =>
      val fresh = slice(k)
        .withColumn("doc_id", col("doc_id") + k * 1000000L)
      val wave =
        if (k == 0) fresh
        else {
          val exactTwins = slice(k - 1)
            .withColumn("doc_id",
              col("doc_id") + (k * 1000000L + 500000L))
          val nearTwins =
            if (k < 2) fresh.limit(0)
            else slice(k - 2)
              .withColumn("doc_id",
                col("doc_id") + (k * 1000000L + 700000L))
              .withColumn("text",
                concat(col("text"), lit(" many wave near twin")))
          fresh.unionByName(exactTwins).unionByName(nearTwins)
        }
      if (k == 0) GraftLog.overwrite(wave, bronze)
      else { GraftLog.append(wave, bronze): Unit }
    }
    (0 until waves).foreach { k =>
      CacheScope.withScope {
        assert(Pipeline.pipelineAdvance(spark, bronze, root, k.toLong)
          == 1, s"wave $k must process") }
    }
    // a full replay sweep is absorbed everywhere — no state append,
    // no audit row
    (0 until waves).foreach { k =>
      assert(Pipeline.pipelineAdvance(spark, bronze, root, k.toLong)
        == 0, s"replayed wave $k must no-op") }
    assert(GraftLog.read(spark, s"$root/st_pack")
      .filter(col("lang") === Pipeline.AuditLang).count() ==
      waves.toLong, "exactly one audit sentinel row per wave")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getAs[Long]("n_ingested"), r.getAs[Long]("n_after_exact"),
      r.getAs[Long]("n_after_neardup"), r.getAs[Long]("n_after_quality"),
      r.getAs[Long]("n_after_sample"))
    val incr = CacheScope.withScope {
      Pipeline.foldResult(spark, root, replayNoop = true)
        .collect().map(key).toSet }
    val batch = CacheScope.withScope {
      Pipeline.batchStages(spark, GraftLog.read(spark, bronze))
        .collect().map(key).toSet }
    assert(incr == batch,
      s"$waves-wave fold != batch: only-incr=${(incr -- batch).take(3)}" +
        s" only-batch=${(batch -- incr).take(3)}")
  }

  test("pipeline erasure (e27): pack rows purge, watermarks survive, " +
      "cap budget releases exactly once, re-admissions pack past the " +
      "pre-erase high-water") {
    import org.apache.spark.sql.functions._
    import graft.sources.GraftLog
    val root = graft.sources.Staging.tempDir("graft_pipee_spec_")
    val bronze = s"$root/bronze"
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    GraftLog.overwrite(base.filter(col("doc_id") % 2 === 0), bronze)
    GraftLog.append(base.filter(col("doc_id") % 2 === 1)
      .withColumn("doc_id", col("doc_id") + 100000L), bronze)
    CacheScope.withScope {
      Pipeline.curatedAdvance(spark, bronze, root, 0L, Nil): Unit }
    CacheScope.withScope {
      Pipeline.curatedAdvance(spark, bronze, root, 1L, Nil): Unit }
    val stPack = s"$root/st_pack"
    val docRowsBefore = GraftLog.read(spark, stPack)
      .filter(col("lang") =!= Pipeline.AuditLang && col("doc_id") >= 0)
    val admittedIds = docRowsBefore.select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admittedIds.nonEmpty, "the two waves must admit docs")
    // the GDPR request: half the admitted docs, plus one doc that was
    // never admitted — released budget must count ADMITTED rows only
    val subjIds = admittedIds.toSeq.sorted
      .zipWithIndex.collect { case (id, i) if i % 2 == 0 => id }
    val subjects = base
      .withColumn("doc_id",
        when(col("doc_id") % 2 === 1, col("doc_id") + 100000L)
          .otherwise(col("doc_id")))
      .filter(col("doc_id").isin(subjIds: _*))
      .select(col("doc_id"), col("text"))
      .unionByName(spark.range(1).select(
        lit(777777777L).as("doc_id"),
        lit("graft erasure spec synthetic never-admitted").as("text")))
    val hwBefore = GraftLog.read(spark, stPack)
      .filter(col("lang") =!= Pipeline.AuditLang && col("doc_id") < 0)
      .groupBy(col("lang")).agg(max(col("endt")).as("hw"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val released = CacheScope.withScope {
      Pipeline.erase(spark, root, subjects, 0L) }
    assert(released == subjIds.size.toLong,
      s"released $released != erased-admitted ${subjIds.size}")
    // (1) every erased doc row is gone; survivors and watermarks hold
    val after = GraftLog.read(spark, stPack)
    assert(after.filter(col("doc_id").isin(subjIds: _*)).count() == 0,
      "erased docs' pack rows must be purged")
    assert(after.filter(col("lang") =!= Pipeline.AuditLang &&
        col("doc_id") >= 0).count() ==
      (admittedIds.size - subjIds.size).toLong,
      "surviving docs' pack rows must be untouched")
    val hwAfter = after
      .filter(col("lang") =!= Pipeline.AuditLang && col("doc_id") < 0)
      .groupBy(col("lang")).agg(max(col("endt")).as("hw"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hwAfter == hwBefore,
      "erasure must never rewind the pack watermarks")
    // (2) the cap state now carries exactly the surviving admissions
    val srcSums = GraftLog.read(spark, s"$root/st_src")
      .groupBy(col("source")).agg(sum(col("d_admits")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .filter(_._2 != 0L)
    val surviving = after
      .filter(col("lang") =!= Pipeline.AuditLang && col("doc_id") >= 0)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(srcSums == surviving,
      s"cap counts must equal surviving admissions: $srcSums vs " +
        s"$surviving")
    // (3) re-erase: nothing releases, nothing rewrites
    assert(CacheScope.withScope {
        Pipeline.erase(spark, root, subjects, 0L) } == 0L,
      "re-erasing must release zero budget")
    val lastDel = GraftLog.history(spark, stPack)
      .orderBy(col("version").desc).limit(1).collect().head
    assert(lastDel.getString(1) == "delete" && lastDel.getInt(3) == 0,
      s"re-erase must rewrite no pack files: $lastDel")
    // (4) re-submitted erased texts are admitted (their digests and
    // band rows are gone, their cap budget released) and pack PAST the
    // pre-erase high-water — erased ranges stay holes
    GraftLog.append(base
      .withColumn("doc_id",
        when(col("doc_id") % 2 === 1, col("doc_id") + 100000L)
          .otherwise(col("doc_id")))
      .filter(col("doc_id").isin(subjIds: _*))
      .withColumn("doc_id", col("doc_id") + 900000L), bronze)
    CacheScope.withScope {
      assert(Pipeline.curatedAdvance(spark, bronze, root, 2L, Nil) == 1)
    }
    val readmitted = GraftLog.read(spark, stPack)
      .filter(col("doc_id") >= 900000L)
      .select(col("lang"), col("n_tokens"), col("endt"))
      .collect()
    assert(readmitted.nonEmpty,
      "released budget must re-admit the erased texts")
    readmitted.foreach { r =>
      val start = r.getLong(2) - r.getLong(1)
      assert(start >= hwBefore.getOrElse(r.getString(0), 0L),
        s"re-admission must pack past the pre-erase high-water: $r")
    }
  }
}
