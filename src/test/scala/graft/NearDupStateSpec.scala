package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.NearDupState
import graft.sources.{GraftLog, Sources, Staging}

/** Persisted rolling near-dup state (e20): twins flag against the
  * CURRENT state, the state advances by kept docs only, the sidecar
  * stays in steady state, and replays ledger-no-op. */
class NearDupStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withConfs[T](cs: (String, String)*)(f: => T): T = {
    val olds = cs.map { case (k, _) => k -> spark.conf.getOption(k) }
    cs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def verdictMap(v: org.apache.spark.sql.DataFrame) =
    v.collect().map(r =>
      r.getLong(1) -> ((r.getBoolean(4), r.getLong(2), r.get(3)))).toMap

  private def bandRowSet(state: String) =
    GraftLog.read(spark, state).select("bk", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  /** `f`'s result with the SQL queries (Spark actions) and Spark jobs
    * it ran, seen from a QueryExecutionListener and a SparkListener. */
  private def actions[A](f: => A): (A, Int, Int) = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val (queries, jobs) = (new AtomicInteger, new AtomicInteger)
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    val ql = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        queries.incrementAndGet(): Unit
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        queries.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      val r = f
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (r, queries.get, jobs.get)
    } finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
  }

  /** The newest band-Bloom sidecar's (bin, meta) files of `state`. */
  private def newestSidecar(state: String): (java.io.File, java.io.File) = {
    val dir = new java.io.File(s"$state/_graft_sidecar")
    val meta = dir.listFiles.filter(_.getName.endsWith(".meta"))
      .maxBy(_.getName)
    (new java.io.File(dir, meta.getName.stripSuffix(".meta") + ".bin"),
      meta)
  }

  /** The largest band-key row count in `state`. */
  private def trueMaxBandRows(state: String): Long =
    GraftLog.read(spark, state).groupBy(col("bk")).count()
      .agg(max(col("count"))).head.getLong(0)

  /** The serialized Bloom Spark's own `stat.bloomFilter` builds over
    * every band key of `state` at the sizing of its newest sidecar. */
  private def statBloomBytes(state: String): Seq[Byte] = {
    val meta = new String(java.nio.file.Files.readAllBytes(
      newestSidecar(state)._2.toPath), "UTF-8").linesIterator
      .map(_.split('=')).collect { case Array(k, v) => k -> v }.toMap
    val bloom = GraftLog.read(spark, state).stat.bloomFilter("bk",
      meta("expected").toLong, meta("fpp").toDouble)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    out.toByteArray.toSeq
  }

  test("rolling probe: twins flag, kept-only advance, idempotent replay") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val state = Staging.tempDir("graft_ndspec_") + "/bands"
    NearDupState.init(spark, docs.filter(col("doc_id") < 100), state)
    // batch 1: novel docs + exact twins of two seed docs
    val b1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id").isin(3L, 7L))
        .select((col("doc_id") + 9000).as("doc_id"), col("text")))
    val v1 = NearDupState.probeAndAdvance(spark, state, b1, 0L)
      .collect().map(r => r.getLong(1) -> r.getBoolean(4)).toMap
    assert(v1(9003L) && v1(9007L), "seed twins must flag near-dup")
    // near-dup docs are NOT added: a twin OF THE TWIN still flags
    // against the seed original, not against two copies
    val sizeAfterB1 = GraftLog.read(spark, state)
      .select("doc_id").distinct().count()
    val b2 = docs.filter(col("doc_id").isin(120L, 3L))
      .select((col("doc_id") + 20000).as("doc_id"), col("text"))
    val v2 = NearDupState.probeAndAdvance(spark, state, b2, 1L)
      .collect().map(r =>
        r.getLong(1) -> (r.getBoolean(4), r.getLong(2))).toMap
    assert(v2(20120L)._1, "batch-1 novel doc's twin must flag (state advanced)")
    assert(v2(20003L)._1 && v2(20003L)._2 == 1L,
      "seed twin flags against exactly the ONE kept representative")
    // steady state: the sidecar at the current version, no rebuild
    val sc = NearDupState.loadSidecar(spark, state)
    assert(!sc.rebuilt, "steady-state load must not rebuild")
    // replay of an applied batch: verdicts recompute, state unmoved
    val vBefore = GraftLog.latestVersion(spark, state)
    NearDupState.probeAndAdvance(spark, state, b2, 1L).count()
    assert(GraftLog.latestVersion(spark, state) == vBefore,
      "ledger must reject the replayed batch")
    assert(GraftLog.read(spark, state).select("doc_id").distinct()
      .count() >= sizeAfterB1)
  }

  test("sidecar retention caps band-bloom versions; race reconciles") {
    import spark.implicits._
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val state = Staging.tempDir("graft_ndspec_") + "/bands"
    NearDupState.init(spark, docs.filter(col("doc_id") < 60), state)
    (0 until 3).foreach { b =>
      NearDupState.probeAndAdvance(spark, state,
        docs.filter(col("doc_id") >= 60 + b * 20 &&
          col("doc_id") < 80 + b * 20)
          .select(col("doc_id"), col("text")), b.toLong).count()
    }
    val files = Option(new java.io.File(s"$state/_graft_sidecar")
      .listFiles).map(_.map(_.getName).toSeq).getOrElse(Seq.empty)
    assert(files.count(_.endsWith(".bin")) <= 2 &&
      files.count(_.endsWith(".meta")) <= 2,
      s"retention must cap sidecar versions: ${files.mkString(",")}")
    // interleaved writers (own appIds): near-dups of BOTH batches'
    // novel docs still flag afterwards — a lost sidecar merge would
    // false-negative the other writer's band keys
    def b(tag: String, lo: Long) = docs
      .filter(col("doc_id") >= lo && col("doc_id") < lo + 20)
      .select(col("doc_id") + (if (tag == "A") 0L else 500000L),
        col("text")).toDF("doc_id", "text")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = Seq(("A", 140L), ("B", 160L)).map { case (tag, lo) =>
      new Thread(() =>
        try { NearDupState.probeAndAdvance(spark, state, b(tag, lo),
          10L, appId = s"nd-$tag").collect(): Unit }
        catch { case t: Throwable => errs.add(t): Unit })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent advance failed: ${errs.peek()}")
    val twins = b("A", 140L).unionByName(b("B", 160L))
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
    val verdicts = NearDupState.probeAndAdvance(spark, state, twins, 11L)
      .collect()
    assert(verdicts.length == 40 && verdicts.forall(_.getBoolean(4)),
      s"raced state must flag twins of both writers' docs: " +
        verdicts.filterNot(_.getBoolean(4)).mkString(","))
  }

  test("out-of-band append: CDF catch-up folds, no corpus rebuild") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val state = Staging.tempDir("graft_ndspec_") + "/bands"
    NearDupState.init(spark, docs.filter(col("doc_id") < 80), state)
    // an external writer lands banded rows WITHOUT touching the sidecar
    val oob = NearDupState.bandedForTest(
      docs.filter(col("doc_id") >= 80 && col("doc_id") < 90), state)
    GraftLog.appendPartitioned(oob.repartition(col("bp")), state,
      Seq("bp"))
    val sc = NearDupState.loadSidecar(spark, state)
    assert(sc.catchupVersions == 1 && !sc.rebuilt,
      s"one missing version must FOLD via CDF, not rebuild: $sc")
    // twins of the out-of-band docs now flag — the folded keys gate
    val twins = docs.filter(col("doc_id") >= 80 && col("doc_id") < 90)
      .select((col("doc_id") + 800000L).as("doc_id"), col("text"))
    val verdicts = NearDupState
      .probeAndAdvance(spark, state, twins, 50L).collect()
    assert(verdicts.length == 10 && verdicts.forall(_.getBoolean(4)),
      s"catch-up must surface out-of-band band keys: " +
        verdicts.filterNot(_.getBoolean(4)).mkString(","))
  }

  test("i30 streamed transport reproduces e20's verdicts; replay no-ops") {
    val streamed = NearDupState.nearDupStreamIngest(spark, TestSpark.sf)
      .collect()
    assert(streamed.forall(_.getBoolean(5)),
      "the out-of-band re-delivery must move neither ledger")
    val batch = NearDupState.nearDupStateRolling(spark, TestSpark.sf)
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), Option(r.get(3)), r.getBoolean(4))
    val (sm, bm) = (streamed.map(key).toMap, batch.map(key).toMap)
    assert(sm.size == bm.size && sm == bm,
      "streaming admission must not change a single verdict")
  }

  test("GDPR erase: band rows purged (bp-pruned with texts), sidecar " +
      "re-mint, twin of erased doc no longer flags, neighbors hold") {
    import spark.implicits._
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val state = Staging.tempDir("graft_ndspec_") + "/bands"
    // 64 buckets (a 1-byte advisory size), so (2) below has bp dirs
    // the erase must leave alone
    withConfs(Advisory -> "1")(
      NearDupState.init(spark, docs.filter(col("doc_id") < 100), state))
    assert(NearDupState.bucketsOf(spark, state).contains(64))
    val subject = docs.filter(col("doc_id") === 3L)
      .select(col("doc_id"), col("text"))
    // pre-erase: a twin of doc 3 flags near-dup
    val pre = NearDupState.probeAndAdvance(spark, state,
      subject.select((col("doc_id") + 9000).as("doc_id"), col("text")),
      0L).collect()
    assert(pre.head.getBoolean(4), "twin must flag before erasure")
    val files0 = GraftLog.snapshot(spark, state)._1.toSet
    val v0 = GraftLog.latestVersion(spark, state).get
    NearDupState.erase(spark, state,
      subject.select("doc_id"), texts = Some(subject))
    // (1) every band row of doc 3 is gone; neighbors' rows intact
    val left = GraftLog.read(spark, state)
    assert(left.filter(col("doc_id") === 3L).count() == 0,
      "erased doc's band rows must be purged")
    assert(left.filter(col("doc_id") === 4L).count() > 0,
      "neighbors' band rows must survive")
    // (2) text-derived bp pruning: every file the delete rewrote lives
    // in one of the subject's band-key partitions
    val files1 = GraftLog.snapshot(spark, state)._1.toSet
    val touched = (files0 -- files1) ++ (files1 -- files0)
    val bps = NearDupState.bandedForTest(subject, state)
      .select("bp").distinct().as[Int].collect().toSet
    assert(touched.nonEmpty && touched.forall(f =>
      bps.exists(bp => f.contains(s"bp=$bp/"))),
      s"erase must rewrite only the subject's bp dirs: $touched")
    // (3) sidecar re-minted at the delete version: steady next load
    val sc = NearDupState.loadSidecar(spark, state)
    assert(sc.version > v0 && sc.catchupVersions == 0 && !sc.rebuilt,
      s"erase must re-mint the sidecar at the delete version: $sc")
    // (4) the forgotten doc's twin is ADMITTED now (and joins the
    // state as the new representative); an untouched doc's twin
    // still flags
    val post = NearDupState.probeAndAdvance(spark, state,
      subject.select((col("doc_id") + 9500).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") === 7L)
          .select((col("doc_id") + 9500).as("doc_id"), col("text"))),
      1L).collect().map(r => r.getLong(1) -> r.getBoolean(4)).toMap
    assert(!post(9503L), "the erased doc's twin must be admitted fresh")
    assert(post(9507L), "an untouched doc's twin must keep flagging")
    // (5) re-erasing the already-erased doc rewrites nothing
    NearDupState.erase(spark, state, subject.select("doc_id"),
      texts = Some(subject))
    val delRow = GraftLog.history(spark, state)
      .orderBy(col("version").desc).limit(1).collect().head
    assert(delRow.getString(1) == "delete" && delRow.getInt(3) == 0,
      s"re-erase must remove zero files: $delRow")
  }

  test("erase prune safety: persisted shingle width governs the bp " +
      "prune; texts not covering every id fall back to unpruned") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    // state built at a NON-default width (4): a prune computed at the
    // caller's width (3) would derive the wrong bp partitions and
    // silently retain the erased doc's band rows
    val state = Staging.tempDir("graft_ndwidth_") + "/bands"
    // 64 buckets (a 1-byte advisory size): with one bucket every prune
    // covers the whole state and a wrong one could not retain rows
    withConfs(Advisory -> "1")(
      NearDupState.init(spark, docs.filter(col("doc_id") < 100), state,
        n = 4))
    assert(NearDupState.bucketsOf(spark, state).contains(64))
    val subject = docs.filter(col("doc_id") === 3L)
      .select(col("doc_id"), col("text"))
    NearDupState.erase(spark, state, subject.select("doc_id"),
      texts = Some(subject), n = 3) // caller width deliberately wrong
    assert(GraftLog.read(spark, state)
        .filter(col("doc_id") === 3L).count() == 0,
      "erase must prune at the state's PERSISTED width, not the " +
        "caller's — band rows were retained")
    // uncovered ids: texts carries doc 7's text only, but the request
    // erases 7 AND 8 — the texts-derived prune cannot bound doc 8's
    // partitions, so the probe must fall back to the unpruned
    // semi-join and still purge BOTH docs' rows
    val partial = docs.filter(col("doc_id") === 7L)
      .select(col("doc_id"), col("text"))
    NearDupState.erase(spark, state,
      docs.filter(col("doc_id").isin(7L, 8L)).select("doc_id"),
      texts = Some(partial), n = 4)
    val left = GraftLog.read(spark, state)
    assert(left.filter(col("doc_id").isin(7L, 8L)).count() == 0,
      "uncovered erase ids must still purge (unpruned fallback)")
    assert(left.filter(col("doc_id") === 4L).count() > 0,
      "neighbors' band rows must survive")
  }

  test("viral boilerplate: hot bands verify salted, answers unchanged") {
    // adversarial skew: 400 state docs share ONE text, so every band
    // key of that signature holds 400 entries — the degenerate corpus
    // that concentrates an unsalted bk join into one quadratic group
    val boiler = "the quick brown fox jumps over the lazy dog " +
      "click here to subscribe now for free daily updates"
    import spark.implicits._
    val stateDocs = spark.range(400)
      .select((col("id") + 50000).as("doc_id"), lit(boiler).as("text"))
      .unionByName(Sources.testTable(spark, TestSpark.sf, "documents")
        .filter(col("doc_id") < 50).select(col("doc_id"), col("text")))
    val batch = spark.range(20)
      .select((col("id") + 60000).as("doc_id"), lit(boiler).as("text"))
      .unionByName(Sources.testTable(spark, TestSpark.sf, "documents")
        .filter(col("doc_id") >= 200 && col("doc_id") < 210)
        .select(col("doc_id"), col("text")))
    def run(threshold: Int): Map[Long, (Boolean, Long, Any)] = {
      val st = Staging.tempDir("graft_ndskew_") + "/bands"
      NearDupState.init(spark, stateDocs, st)
      // the hot-band gate opens (the probe runs) only above the bound
      assert(NearDupState.loadSidecar(spark, st).maxBandRows
        .exists(_ > threshold) == (threshold < 400))
      NearDupState.probeAndAdvance(spark, st, batch, 0L,
          hotBandThreshold = threshold, saltBuckets = 16)
        .collect().map(r => r.getLong(1) ->
          ((r.getBoolean(4), r.getLong(2), r.get(3)))).toMap
    }
    val unsalted = run(threshold = 1000000) // never hot: the reference
    val salted = run(threshold = 100)       // 400 > 100: salted path
    assert(salted == unsalted,
      s"salting changed answers: ${salted.toSeq.diff(unsalted.toSeq).take(3)}")
    // every boiler batch doc flags against all 400 state copies
    (60000L until 60020L).foreach { id =>
      assert(salted(id)._1 && salted(id)._2 == 400L, s"doc $id: ${salted(id)}")
    }
    // the bound the salt buys: the unsalted max band-key group is the
    // full 400; salted (bk, salt) groups stay near 400/16
    val st2 = Staging.tempDir("graft_ndskew_") + "/bands"
    NearDupState.init(spark, stateDocs, st2)
    val perKey = GraftLog.read(spark, st2)
      .groupBy(col("bk")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    val perSalt = GraftLog.read(spark, st2)
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(16L)))
      .groupBy(col("bk"), col("salt")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    assert(perKey >= 400L, s"adversarial corpus lost its hot band: $perKey")
    assert(perSalt <= 80L,
      s"salted group must be ~400/16, got $perSalt (unsalted $perKey)")
  }

  test("band index sized to its data: B and the layout properties in " +
      "version 0, a batch adds at most B files") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val state = Staging.tempDir("graft_ndsize_") + "/bands"
    NearDupState.init(spark, docs.filter(col("doc_id") < 100), state)
    assert(GraftLog.versions(spark, state) == Seq(0L),
      "init must create the state in ONE commit")
    val props0 = GraftLog.properties(spark, state, asOf = Some(0L))
    assert(props0.get(NearDupState.BucketsProp).contains("1") &&
      props0.get(NearDupState.ShingleWidthProp).contains("3") &&
      props0.get("graft.autoCompact").contains("true"),
      s"version 0 must carry the layout properties: $props0")
    assert(NearDupState.bucketsOf(spark, state).contains(1))
    val files0 = GraftLog.snapshot(spark, state)._1.toSet
    assert(files0.nonEmpty && files0.forall(_.contains("bp=0/")),
      s"a one-bucket state lives in bp=0: $files0")
    val v = NearDupState.probeAndAdvance(spark, state,
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
        .select(col("doc_id"), col("text")), 0L)
    assert(v.count() == 50)
    val added = GraftLog.snapshot(spark, state)._1.toSet -- files0
    assert(added.size == 1 && added.forall(_.contains("bp=0/")),
      s"a batch must add at most B = 1 files: $added")
  }

  test("bucketsFor: band rows at 576 bytes each over the advisory " +
      "size, rounded up to a power of two in [1, 64]") {
    def b(rows: Long, advisory: String = "64MB") =
      withConfs(Advisory -> advisory)(NearDupState.bucketsFor(spark, rows))
    assert(b(0) == 1 && b(1) == 1)
    assert(b(4000) == 1, "a 250-doc state (2.3 MB) fits one bucket")
    assert(b(116508) == 1 && b(116509) == 2, "64 MB per bucket")
    assert(b(1000, "72000") == 8)
    assert(b(1000, "96000") == 8, "6 buckets round up to 8")
    assert(b(1000, "7200") == 64, "80 buckets cap at 64")
    assert(b(Long.MaxValue / 1024) == 64)
  }

  test("sized and 64-bucket states give identical verdicts and " +
      "erasures") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val seed = docs.filter(col("doc_id") < 100)
    val subjects = docs.filter(col("doc_id").isin(3L, 12L, 40L))
      .select(col("doc_id"), col("text"))
    val b1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 140)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0 &&
        col("doc_id") < 100)
        .select((col("doc_id") + 9000).as("doc_id"), col("text")))
    // after the erase: twins of the erased docs, of kept seed docs and
    // of batch-1 docs
    val b2 = docs.filter(col("doc_id").isin(3L, 12L, 40L, 7L, 120L))
      .select((col("doc_id") + 20000).as("doc_id"), col("text"))
    def run(advisory: String) = {
      val state = Staging.tempDir("graft_ndsize_") + "/bands"
      withConfs(Advisory -> advisory)(
        NearDupState.init(spark, seed, state))
      val v1 = verdictMap(NearDupState.probeAndAdvance(spark, state, b1, 0L))
      NearDupState.erase(spark, state, subjects.select("doc_id"),
        texts = Some(subjects))
      val v2 = verdictMap(NearDupState.probeAndAdvance(spark, state, b2, 1L))
      (NearDupState.bucketsOf(spark, state), v1, v2, bandRowSet(state))
    }
    val (bSized, v1s, v2s, rowsS) = run("64MB")
    val (bWide, v1w, v2w, rowsW) = run("1")
    assert(bSized.contains(1) && bWide.contains(64),
      s"expected B = 1 and 64, got $bSized and $bWide")
    assert(v1s == v1w && v2s == v2w,
      s"verdicts differ: ${v1s.toSeq.diff(v1w.toSeq).take(3)} " +
        s"${v2s.toSeq.diff(v2w.toSeq).take(3)}")
    assert(rowsS == rowsW, "band rows after the erase differ")
    assert(v1s.values.exists(_._1) && v2s(20007L)._1 &&
      v2s(20120L)._1 && !v2s(20003L)._1,
      s"twins of kept docs flag, twins of erased docs are admitted: $v2s")
    assert(!rowsS.exists(r => Set(3L, 12L, 40L)(r._2)))
  }

  test("legacy 64-bucket state without the bucket property flags " +
      "near-dups and erases every band row") {
    import spark.implicits._
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val state = Staging.tempDir("graft_ndlegacy_") + "/bands"
    // rows landed the way states were written before B was recorded:
    // 64 buckets, no band-layout properties
    val rows = NearDupState.bandedForTest(
      docs.filter(col("doc_id") < 100), state)
    GraftLog.overwritePartitioned(rows.repartition(col("bp")), state,
      Seq("bp"))
    assert(!GraftLog.properties(spark, state)
      .contains(NearDupState.BucketsProp))
    assert(NearDupState.bucketsOf(spark, state).contains(64))
    val twins = docs.filter(col("doc_id").isin(3L, 7L))
      .select((col("doc_id") + 9000).as("doc_id"), col("text"))
    val v = verdictMap(NearDupState.probeAndAdvance(spark, state, twins, 0L))
    assert(v(9003L)._1 && v(9007L)._1, s"legacy twins must flag: $v")
    val subject = docs.filter(col("doc_id") === 3L)
      .select(col("doc_id"), col("text"))
    val files0 = GraftLog.snapshot(spark, state)._1.toSet
    NearDupState.erase(spark, state, subject.select("doc_id"),
      texts = Some(subject))
    val left = GraftLog.read(spark, state)
    assert(left.filter(col("doc_id") === 3L).count() == 0,
      "every band row of the erased doc must be purged")
    assert(left.filter(col("doc_id") === 4L).count() > 0,
      "neighbors' band rows must survive")
    // the prune ran at 64 buckets: only the subject's bp dirs moved
    val files1 = GraftLog.snapshot(spark, state)._1.toSet
    val touched = (files0 -- files1) ++ (files1 -- files0)
    val bps = NearDupState.bandedForTest(subject, state)
      .select("bp").distinct().as[Int].collect().toSet
    assert(bps.size > 1 && touched.nonEmpty && touched.forall(f =>
      bps.exists(bp => f.contains(s"bp=$bp/"))),
      s"erase must rewrite only the subject's bp dirs: $touched")
    val post = verdictMap(NearDupState.probeAndAdvance(spark, state,
      subject.select((col("doc_id") + 9500).as("doc_id"), col("text")), 1L))
    assert(!post(9503L)._1, "the erased doc's twin must be admitted")
  }

  test("a fresh-state advance onto a state created with another B " +
      "throws and lands nothing") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val state = Staging.tempDir("graft_ndrace_") + "/bands"
    // the other writer created the state first, with 64 buckets
    withConfs(Advisory -> "1")(
      NearDupState.init(spark, docs.filter(col("doc_id") < 40), state))
    val v0 = GraftLog.latestVersion(spark, state)
    // this writer saw no state (sc = None) and sizes its rows to B = 1
    val kept = NearDupState.bandedForTest(
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 50), state)
      .drop("bp")
    val e = intercept[java.util.ConcurrentModificationException](
      NearDupState.advance(spark, state, None, kept, "graft-ndrace", 0L))
    assert(e.getMessage.contains(NearDupState.BucketsProp) &&
      e.getMessage.contains(state), e.getMessage)
    assert(GraftLog.latestVersion(spark, state) == v0 &&
      NearDupState.bucketsOf(spark, state).contains(64),
      "the state's commits and B must be untouched")
  }

  test("malformed band-layout properties fail loudly, naming the " +
      "property and the state") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val state = Staging.tempDir("graft_ndprops_") + "/bands"
    NearDupState.init(spark, docs.filter(col("doc_id") < 40), state)
    val batch = docs.filter(col("doc_id") >= 40 && col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
    val subject = docs.filter(col("doc_id") === 3L)
      .select(col("doc_id"), col("text"))
    def failsNaming(prop: String)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains(prop) && e.getMessage.contains(state),
        e.getMessage)
    }
    for (bad <- Seq("abc", "3", "128", "0")) {
      GraftLog.setProperties(spark, state,
        Map(NearDupState.BucketsProp -> bad))
      failsNaming(NearDupState.BucketsProp)(
        NearDupState.probeAndAdvance(spark, state, batch, 0L))
      failsNaming(NearDupState.BucketsProp)(
        NearDupState.erase(spark, state, subject.select("doc_id"),
          texts = Some(subject)))
    }
    GraftLog.setProperties(spark, state, Map(
      NearDupState.BucketsProp -> "1",
      NearDupState.ShingleWidthProp -> "three"))
    failsNaming(NearDupState.ShingleWidthProp)(
      NearDupState.erase(spark, state, subject.select("doc_id"),
        texts = Some(subject)))
    assert(GraftLog.read(spark, state).filter(col("doc_id") === 3L)
      .count() > 0, "a failed erase must not delete")
  }

  test("a steady-state batch with a verdict table runs at most 5 Spark " +
      "actions and 18 jobs") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val root = Staging.tempDir("graft_ndcost_")
    val (state, verd) = (s"$root/bands", s"$root/verdicts")
    NearDupState.init(spark, docs.filter(col("doc_id") < 100), state)
    def batch(lo: Long) = docs
      .filter(col("doc_id") >= lo && col("doc_id") < lo + 30)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 17 === lo % 17 &&
        col("doc_id") < 100)
        .select((col("doc_id") + 9000 + lo).as("doc_id"), col("text")))
    NearDupState.probeAndAdvance(spark, state, batch(100), 0L,
      verdictTable = Some(verd)).count()
    val (n, queries, jobs) = actions(
      NearDupState.probeAndAdvance(spark, state, batch(130), 1L,
        verdictTable = Some(verd)).count())
    assert(n > 30)
    assert(queries <= 5 && jobs <= 18,
      s"steady-state batch ran $queries actions and $jobs jobs")
  }

  test("maxBandRows bounds every band key's row count through init, " +
      "advances, a caught-up commit and erase; the Bloom is Spark's own") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val state = Staging.tempDir("graft_ndbound_") + "/bands"
    def check(stage: String, exact: Boolean): Unit = {
      val sc = NearDupState.loadSidecar(spark, state)
      val truth = trueMaxBandRows(state)
      assert(sc.maxBandRows.exists(b => if (exact) b == truth else b >= truth),
        s"$stage: bound ${sc.maxBandRows}, true maximum $truth")
      assert(java.nio.file.Files.readAllBytes(newestSidecar(state)._1.toPath)
        .toSeq == statBloomBytes(state),
        s"$stage: the sidecar Bloom differs from stat.bloomFilter's")
    }
    // twins in the seed: doc 5's band keys hold three rows each
    NearDupState.init(spark, docs.filter(col("doc_id") < 80)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") === 5L)
        .select((col("doc_id") + 70000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") === 5L)
        .select((col("doc_id") + 71000).as("doc_id"), col("text"))), state)
    check("init", exact = true)
    assert(trueMaxBandRows(state) >= 3L)
    (0 until 2).foreach { b =>
      NearDupState.probeAndAdvance(spark, state,
        docs.filter(col("doc_id") >= 80 + b * 20 &&
          col("doc_id") < 100 + b * 20)
          .select(col("doc_id"), col("text")), b.toLong).count()
      check(s"advance $b", exact = false)
    }
    // an out-of-band writer lands four more copies of doc 5's rows
    val oob = NearDupState.bandedForTest(
      (1 to 4).map(i => docs.filter(col("doc_id") === 5L)
        .select((col("doc_id") + 80000 + i).as("doc_id"), col("text")))
        .reduce(_ unionByName _), state)
    GraftLog.appendPartitioned(oob.repartition(col("bp")), state,
      Seq("bp"))
    assert(trueMaxBandRows(state) >= 7L)
    check("catch-up", exact = false)
    NearDupState.erase(spark, state,
      docs.filter(col("doc_id") === 5L).select("doc_id"))
    check("erase", exact = true)
  }

  test("the hot-band gate: the viral state takes the salted path, a " +
      "bound at the threshold skips the probe") {
    val boiler = "the quick brown fox jumps over the lazy dog " +
      "click here to subscribe now for free daily updates"
    val st = Staging.tempDir("graft_ndgate_") + "/bands"
    NearDupState.init(spark, spark.range(400)
      .select((col("id") + 50000).as("doc_id"), lit(boiler).as("text"))
      .unionByName(Sources.testTable(spark, TestSpark.sf, "documents")
        .filter(col("doc_id") < 50).select(col("doc_id"), col("text"))), st)
    val sc = NearDupState.loadSidecar(spark, st)
    assert(sc.maxBandRows.contains(400L), s"bound ${sc.maxBandRows}")
    val b = NearDupState.bandedForTest(spark.range(3)
      .select((col("id") + 60000).as("doc_id"), lit(boiler).as("text")), st)
      .select("bk", "doc_id", "sig")
    def run(sc: NearDupState.Sidecar, threshold: Int) = actions {
      val j = NearDupState.prunedBandJoin(spark, st, sc, b, threshold)
      val salted = j.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union])
      (salted, j.count())
    }
    val ((salted, pairs), q, _) = run(sc, 100)
    assert(salted && pairs == 3L * 16 * 400, s"salted=$salted pairs=$pairs")
    // at the bound the gate stays shut: no probe, one action (the count)
    val ((saltedAt, pairsAt), qAt, _) = run(sc, 400)
    assert(!saltedAt && pairsAt == pairs)
    assert(qAt == 1 && q == 2, s"actions: $q at 100, $qAt at 400")
    // a bound of unknown size opens it: the probe runs and finds none
    val ((saltedU, pairsU), qU, _) = run(sc.copy(maxBandRows = None), 400)
    assert(!saltedU && pairsU == pairs && qU == 2, s"actions: $qU")
  }

  test("a sidecar meta without maxBandRows runs the probe, gives the " +
      "same verdicts, and erase restores the bound") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val b1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 130)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0 &&
        col("doc_id") < 100)
        .select((col("doc_id") + 9000).as("doc_id"), col("text")))
    def run(legacy: Boolean) = {
      val state = Staging.tempDir("graft_ndmeta_") + "/bands"
      NearDupState.init(spark, docs.filter(col("doc_id") < 100), state)
      if (legacy) { // the meta as written before the bound existed
        val meta = newestSidecar(state)._2.toPath
        java.nio.file.Files.writeString(meta,
          java.nio.file.Files.readString(meta).linesIterator
            .filterNot(_.startsWith("maxBandRows=")).map(_ + "\n").mkString)
        java.nio.file.Files.delete(
          meta.resolveSibling(s".${meta.getFileName}.crc"))
      }
      val before = NearDupState.loadSidecar(spark, state).maxBandRows
      val (v, q, _) = actions(
        verdictMap(NearDupState.probeAndAdvance(spark, state, b1, 0L)))
      val after = NearDupState.loadSidecar(spark, state).maxBandRows
      NearDupState.erase(spark, state,
        docs.filter(col("doc_id") === 3L).select("doc_id"))
      (before, v, q, after,
        NearDupState.loadSidecar(spark, state).maxBandRows,
        trueMaxBandRows(state))
    }
    val (bNew, vNew, qNew, aNew, eNew, tNew) = run(legacy = false)
    val (bOld, vOld, qOld, aOld, eOld, tOld) = run(legacy = true)
    assert(bNew.isDefined && aNew.isDefined && bOld.isEmpty && aOld.isEmpty,
      s"bounds: $bNew $aNew $bOld $aOld")
    assert(vOld == vNew && vNew.values.exists(_._1) &&
      vNew.values.exists(!_._1), s"verdicts differ: $vOld $vNew")
    assert(qOld == qNew + 1, s"the probe must run once more: $qOld $qNew")
    assert(eNew.contains(tNew) && eOld.contains(tOld),
      s"erase must reset the bound exactly: $eNew/$tNew $eOld/$tOld")
  }

  test("returned verdicts equal the verdict table after the advance") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val root = Staging.tempDir("graft_ndverd_")
    val (state, verd) = (s"$root/bands", s"$root/verdicts")
    NearDupState.init(spark, docs.filter(col("doc_id") < 100), state)
    val batch = docs.filter(col("doc_id") >= 100 && col("doc_id") < 140)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id").isin(3L, 7L))
        .select((col("doc_id") + 9000).as("doc_id"), col("text")))
    val v0 = GraftLog.latestVersion(spark, state).get
    val returned = NearDupState.probeAndAdvance(spark, state, batch, 0L,
      verdictTable = Some(verd))
    // the state advanced by the novel docs: recomputed now, they would
    // flag against their own band rows
    assert(GraftLog.latestVersion(spark, state).exists(_ > v0))
    val got = verdictMap(returned)
    assert(got == verdictMap(GraftLog.read(spark, verd)
      .filter(col("batch_id") === 0L)
      .select("batch_id", "doc_id", "n_near_dups", "best_sim",
        "is_near_dup")))
    assert(got.size == 42 && got(9003L)._1 && got(9007L)._1 &&
      got.count(!_._2._1) >= 30, s"verdicts: $got")
  }

  test("erase and probeAndAdvance release their own cached frames, " +
      "never the caller's anchored ones") {
    val docs = Sources.testTable(spark, TestSpark.sf, "documents")
    val root = Staging.tempDir("graft_ndscope_")
    val (state, verd) = (s"$root/bands", s"$root/verdicts")
    NearDupState.init(spark, docs.filter(col("doc_id") < 60), state)
    def cachedRdds = spark.sparkContext.getPersistentRDDs.size
    CacheScope.withScope {
      val batch = docs.filter(col("doc_id") >= 60 && col("doc_id") < 80)
        .select(col("doc_id"), col("text"))
        .transform(CacheScope.anchored)
      val subjects = docs.filter(col("doc_id").isin(3L, 5L))
        .select(col("doc_id"), col("text"))
        .transform(CacheScope.anchored)
      val before = cachedRdds
      val v = NearDupState.probeAndAdvance(spark, state, batch, 0L,
        verdictTable = Some(verd))
      NearDupState.erase(spark, state, subjects.select("doc_id"),
        texts = Some(subjects))
      assert(cachedRdds == before, "a batch or an erase left frames cached")
      // the anchors the caller still reads survive both calls
      assert(v.count() == 20 && batch.count() == 20 &&
        subjects.count() == 2)
    }
  }
}
