package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.NearDupState
import graft.sources.GraftLog

/** State shared by a run: the session, the recorder, the operation
  * log and the log-layer probe that follows each traced operation. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val gen: Gen,
    val scale: Double, val corrupt: Boolean) {
  val ops = ArrayBuffer.empty[Map[String, Any]]
  private var recording = false
  private var seq = 0

  /** Off during set-up and warm-up: operations run but neither they nor
    * their spans are recorded. */
  def record(on: Boolean): Unit = { recording = on; rec.active = on }

  /** Scale a size, keeping at least `min`. */
  def sized(full: Int, min: Int): Int =
    math.max(min, math.round(full * scale).toInt)

  /** One closed-loop operation of class `cls` on `table`. Its wall and
    * CPU time are the call alone; a failure is recorded with the
    * exception class and the first line of its message. In the traced
    * run the operation is a span, and a standalone log probe runs after
    * it, outside it. */
  def op(cls: String, layer: String, table: String, rows: Long,
      userBytes: Long = 0L)(f: => Any): Map[String, Any] = {
    if (!recording) { f; return Map.empty }
    seq += 1
    // CPU is read outside the wall-clock window: a read waits for the
    // listener bus to drain
    val c0 = WorkCpu.ms
    val t0 = Clock.nowMs
    val err = try {
      rec.span(cls, layer, Map("seq" -> seq))(f); None
    } catch {
      case scala.util.control.NonFatal(e) =>
        val root = Option(e.getCause).filter(_ => e.getMessage == null)
          .getOrElse(e)
        Some(root.getClass.getName + ": " +
          Option(root.getMessage).getOrElse("").linesIterator
            .find(_.nonEmpty).getOrElse(""))
    }
    val t1 = Clock.nowMs
    val c1 = WorkCpu.ms
    val probe = if (rec.enabled && err.isEmpty)
      logProbe(table, userBytes) else Map.empty[String, Any]
    val r = Map[String, Any]("seq" -> seq, "cls" -> cls, "start" -> t0,
      "end" -> t1, "ms" -> (t1 - t0), "cpu_ms" -> (c1 - c0), "rows" -> rows,
      "ok" -> err.isEmpty, "error" -> err, "probe" -> probe)
    ops += r
    r
  }

  private val lastState = scala.collection.mutable.Map.empty[String,
    (Map[String, Long], Int, Int)]

  /** GraftLog seen from outside: a standalone snapshot (timed), the
    * live set's change since the previous probe of this table, and the
    * version and checkpoint counts. */
  def logProbe(table: String, userBytes: Long): Map[String, Any] = {
    val t0 = Clock.nowMs
    GraftLog.snapshot(spark, table)
    val snapMs = Clock.nowMs - t0
    val sizes = GraftLog.fileSizes(spark, table)
    val versions = GraftLog.versions(spark, table).size
    val cks = GraftLog.checkpointVersions(spark, table).size
    val (prev, pv, pc) =
      lastState.getOrElse(table, (Map.empty[String, Long], 0, 0))
    lastState(table) = (sizes, versions, cks)
    val added = sizes.keySet -- prev.keySet
    val removed = prev.keySet -- sizes.keySet
    val bytesAdded = added.toSeq.map(sizes).sum
    Map("log.snapshot_ms" -> snapMs, "log.commits" -> (versions - pv),
      "log.checkpoints" -> (cks - pc), "log.versions" -> versions,
      "write.files_added" -> added.size, "write.bytes_added" -> bytesAdded,
      "write.files_removed" -> removed.size,
      "write.bytes_removed" -> removed.toSeq.map(prev).sum,
      "write.bytes_per_user_byte" ->
        (if (userBytes > 0) bytesAdded.toDouble / userBytes else 0.0),
      "table.live_files" -> sizes.size,
      "table.mean_file_bytes" ->
        (if (sizes.isEmpty) 0.0 else sizes.values.sum.toDouble / sizes.size))
  }

  /** Wall and CPU time taken out of the timed phase (the space
    * measurement). */
  var pausedMs, pausedCpuMs = 0.0
  /** Bytes under the table root and of its live rows as plain parquet,
    * taken once after a fixed number of operations, so that the figure
    * does not depend on how many operations a run fits in. */
  var space = Map.empty[String, Any]

  def measureSpace(root: String, live: => DataFrame, dir: String,
      afterOps: Int): Unit = if (recording && space.isEmpty) {
    val t0 = Clock.nowMs
    val c0 = WorkCpu.ms
    val plain = s"$dir/plain"
    live.coalesce(1).write.parquet(plain)
    space = Map("table_bytes" -> du(root), "plain_bytes" -> du(plain),
      "after_ops" -> afterOps)
    pausedMs += Clock.nowMs - t0
    pausedCpuMs += WorkCpu.ms - c0
  }

  /** Bytes of every file under `dir` (data, log and sidecars alike). */
  def du(dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Write a final output as plain parquet for the reference check and
    * return its path; with `corrupt`, exactly one row is dropped. */
  def dumpFinal(df: DataFrame, dir: String): String = {
    val plain = s"$dir/plain"
    df.write.parquet(plain)
    if (!corrupt) plain else {
      val read = spark.read.parquet(plain)
      val kept = read.rdd.zipWithIndex.filter(_._2 != 0L).map(_._1)
      spark.createDataFrame(kept, read.schema).write.parquet(s"$dir/corrupt")
      s"$dir/corrupt"
    }
  }
}

/** A benchmark workload: set-up, untimed warm-up, the timed
  * closed loop, and what the reference check needs afterwards. */
trait Workload {
  /** Generate the inputs into `dir` and load the initial table. */
  def setup(ctx: Ctx, dir: String): Unit
  /** A few unrecorded operations against the current set-up. */
  def warm(ctx: Ctx): Unit
  /** Operations until `deadline` (epoch ms) and at least the workload's
    * `MinOps` of its defining operation, which at the benchmark's run
    * length sets how many run: so each run makes the same sequence of
    * operations, and every operation class and the space measurement
    * occur. Returns the input rows. */
  def run(ctx: Ctx, deadline: Double): Long
  /** Dumps and facts for the check, the table root for space, and the
    * run-level per-layer values of the traced run. */
  def finish(ctx: Ctx, dir: String): Map[String, Any]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "ingest" => new Ingest
    case "upsert" => new Upsert
    case "neardup" => new NearDup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Repeated small appends of lineitem slices into one fresh table; a
  * selective read through a `USING graft` catalog table every
  * [[Ingest.ReadEvery]] commits and a compaction every
  * [[Ingest.CompactEvery]] commits. */
final class Ingest extends Workload {
  import Ingest._
  private var dir, landing, table = ""
  private var rowsPer, ordersPer = 0
  private val applied = ArrayBuffer.empty[Int]
  private val scans = ArrayBuffer.empty[Map[String, Any]]
  private var i = 1

  def setup(ctx: Ctx, dir: String): Unit = {
    rowsPer = ctx.sized(2000, 40)
    ordersPer = math.max(1, rowsPer / 4)
    this.dir = dir
    landing = s"$dir/landing"
    table = s"$dir/table"
    ctx.gen.land(ctx.gen.lineitem(ctx.spark, Batches, rowsPer), "b",
      "__order", landing)
    GraftLog.append(batch(ctx, 0), table)
    ctx.spark.sql(s"DROP TABLE IF EXISTS $Name")
    ctx.spark.sql(s"CREATE TABLE $Name USING graft OPTIONS (path '$table')")
    applied.clear(); applied += 0
    scans.clear(); i = 1
  }

  private def batch(ctx: Ctx, b: Int): DataFrame =
    ctx.spark.read.parquet(s"$landing/b=$b")

  private def step(ctx: Ctx): Unit = {
    val b = i % Batches
    val df = batch(ctx, b)
    ctx.op("commit", "sources.GraftLog", table, rowsPer,
      ctx.du(s"$landing/b=$b"))(GraftLog.append(df, table))
    applied += b
    if (i == SpaceAfter) ctx.measureSpace(table,
      GraftLog.read(ctx.spark, table), s"$dir/space", i)
    if (i % ReadEvery == 0) {
      val pick = applied(((i.toLong * 2654435761L) % applied.size).toInt)
      val lo = pick.toLong * ordersPer
      val hi = lo + ordersPer / 2
      var res: Seq[Long] = Nil
      val r = ctx.op("scan", "sources.GraftFileIndex", table, 0) {
        val row = ctx.spark.sql(s"""SELECT count(*), coalesce(sum(l_linenumber), 0),
          |coalesce(sum(l_partkey), 0) FROM $Name
          |WHERE l_orderkey BETWEEN $lo AND $hi""".stripMargin).collect()(0)
        res = Seq(row.getLong(0), row.getLong(1), row.getLong(2))
      }
      if (r.nonEmpty) scans += Map("seq" -> r("seq"), "commits" -> applied.size,
        "lo" -> lo, "hi" -> hi, "result" -> res)
    }
    if (i % CompactEvery == 0)
      ctx.op("compact", "sources.GraftLog", table, 0)(
        GraftLog.compact(ctx.spark, table))
    i += 1
  }

  def warm(ctx: Ctx): Unit = (0 until ReadEvery).foreach(_ => step(ctx))

  def run(ctx: Ctx, deadline: Double): Long = {
    val before = applied.size
    val first = i
    while (Clock.nowMs < deadline || i - first < MinOps) step(ctx)
    (applied.size - before).toLong * rowsPer
  }

  def finish(ctx: Ctx, dir: String): Map[String, Any] = {
    Map("landing" -> landing, "applied" -> applied.toSeq, "scans" -> scans.toSeq,
      "final" -> ctx.dumpFinal(GraftLog.read(ctx.spark, table), s"$dir/final"))
  }
}

object Ingest {
  val Name = "bench_ingest"
  val Batches = 24
  val ReadEvery = 3
  val CompactEvery = 10
  val SpaceAfter = 12
  /** Commits in the timed phase, at least. */
  val MinOps = 9
}

/** Workload C of the reference: SQL MERGE of seeded CDC batches into an
  * `orders` table loaded as key-ordered files, each merge followed by a
  * key-range read of recent keys through the catalog table. */
final class Upsert extends Workload {
  import Upsert._
  private var dir, base, cdc, table = ""
  private var n = 0L
  private var roundRows = Map.empty[Int, Long]
  private val applied = ArrayBuffer.empty[Int]
  private var k = 0

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    n = ctx.sized(150000, 400).toLong
    this.dir = dir
    base = s"$dir/base"
    cdc = s"$dir/cdc"
    table = s"$dir/table"
    ctx.gen.orders(spark, n).write.parquet(base)
    ctx.gen.land(ctx.gen.cdc(spark, n, Rounds, ctx.sized(3000, 20)), "r",
      "o_orderkey", cdc)
    roundRows = spark.read.parquet(cdc).groupBy("r").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    GraftLog.overwrite(spark.read.parquet(base)
      .repartitionByRange(LoadFiles, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), table)
    spark.sql(s"DROP TABLE IF EXISTS $Name")
    spark.sql(s"CREATE TABLE $Name USING graft OPTIONS (path '$table')")
    applied.clear(); k = 0
  }

  private val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  private val mergeSql =
    s"""MERGE INTO $Name t USING bench_cdc s
       |ON t.o_orderkey = s.o_orderkey
       |WHEN MATCHED AND s.op = 'D' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET ${cols.map(c => s"$c = s.$c").mkString(", ")}
       |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT
       |  (o_orderkey, ${cols.mkString(", ")})
       |  VALUES (s.o_orderkey, ${cols.map("s." + _).mkString(", ")})""".stripMargin

  private def step(ctx: Ctx): Unit = {
    val r = k % Rounds
    ctx.spark.read.parquet(s"$cdc/r=$r").createOrReplaceTempView("bench_cdc")
    ctx.op("merge", "sql.GraftDml", table, roundRows.getOrElse(r, 0L),
      ctx.du(s"$cdc/r=$r"))(ctx.spark.sql(mergeSql))
    applied += r
    if (applied.size == SpaceAfter) ctx.measureSpace(table,
      GraftLog.read(ctx.spark, table), s"$dir/space", SpaceAfter)
    val width = math.max(1L, n / 50)
    val lo = n - width - (k.toLong * 7919L) % math.max(1L, n / 10)
    ctx.op("scan", "sources.GraftFileIndex", table, 0)(
      ctx.spark.sql(s"""SELECT count(*), coalesce(sum(o_custkey), 0)
        |FROM $Name WHERE o_orderkey BETWEEN $lo AND ${lo + width}"""
        .stripMargin).collect())
    k += 1
  }

  // two rounds: the first merge after set-up still runs half-compiled
  def warm(ctx: Ctx): Unit = (0 until 2).foreach(_ => step(ctx))

  def run(ctx: Ctx, deadline: Double): Long = {
    val before = applied.size
    while (Clock.nowMs < deadline || applied.size - before < MinOps) step(ctx)
    applied.drop(before).map(r => roundRows.getOrElse(r, 0L)).sum
  }

  def finish(ctx: Ctx, dir: String): Map[String, Any] = {
    Map("base" -> base, "cdc" -> cdc, "applied" -> applied.toSeq,
      "final" -> ctx.dumpFinal(GraftLog.read(ctx.spark, table), s"$dir/final"))
  }
}

object Upsert {
  val Name = "bench_upsert"
  val Rounds = 12
  val LoadFiles = 8
  val SpaceAfter = 3
  /** Merges in the timed phase, at least. */
  val MinOps = 3
}

/** Rolling near-dup admission: `NearDupState.init` on part of the
  * corpus, then per batch a parquet landing drained by an `AvailableNow`
  * stream whose `foreachBatch` probes and advances the state with a
  * verdict table. A seeded erase runs every [[NearDup.EraseEvery]]
  * batches; the next batch carries twins of the erased documents. */
final class NearDup extends Workload {
  import NearDup._
  private var dir, docs, state, in, verd, ckpt = ""
  private var n0, eraseSize = 0
  private var partRows = Map.empty[Int, Long]
  private var k = 0
  private val erasures = ArrayBuffer.empty[Map[String, Any]]
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    n0 = ctx.sized(250, 40)
    eraseSize = ctx.sized(4, 2)
    this.dir = dir
    docs = s"$dir/docs"
    state = s"$dir/state"
    in = s"$dir/in"
    verd = s"$dir/verdicts"
    ckpt = s"$dir/ckpt"
    ctx.gen.land(ctx.gen.documents(spark, n0, Batches, ctx.sized(30, 6),
      ctx.sized(10, 3), EraseEvery, eraseSize), "part", "doc_id", docs)
    partRows = spark.read.parquet(docs).groupBy("part").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    NearDupState.init(spark, spark.read.parquet(s"$docs/part=0"), state)
    erasures.clear(); k = 0
  }

  private def drain(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val q = spark.readStream.schema(schema).parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        WorkCpu.offThread(ctx.rec.span("foreachBatch", "stream.body") {
          ctx.rec.span("probeAndAdvance", "operators.NearDupState") {
            NearDupState.probeAndAdvance(spark, state, batch, bid,
              appId = AppId, verdictTable = Some(verd)).count()
          }
        }): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def step(ctx: Ctx): Unit = {
    // the erase that follows batch k - 1, then batch k, which carries
    // twins of the documents it removed
    if (k > 0 && k % EraseEvery == 0) {
      val ids = ctx.gen.erased(n0, k / EraseEvery - 1, eraseSize)
      val texts = ctx.spark.read.parquet(s"$docs/part=0")
        .filter(col("doc_id").isin(ids: _*))
      ctx.op("erase", "operators.NearDupState", state, ids.size)(
        NearDupState.erase(ctx.spark, state, texts.select("doc_id"),
          texts = Some(texts)))
      erasures += Map("after_batch" -> (k - 1), "ids" -> ids)
    }
    val part = ctx.spark.read.parquet(s"$docs/part=${k + 1}")
    ctx.op("batch", "streaming", state, partRows.getOrElse(k + 1, 0L),
      ctx.du(s"$docs/part=${k + 1}")) {
      ctx.rec.span("land", "spark.write")(part.write.mode("append").parquet(in))
      ctx.rec.span("drain", "stream")(drain(ctx))
    }
    if (k + 1 == SpaceAfter) ctx.measureSpace(state,
      GraftLog.read(ctx.spark, state), s"$dir/space", SpaceAfter)
    k += 1
  }

  def warm(ctx: Ctx): Unit = step(ctx)

  def run(ctx: Ctx, deadline: Double): Long = {
    val before = k
    while ((Clock.nowMs < deadline || k - before < MinOps) && k < Batches)
      step(ctx)
    (before until k).map(b => partRows.getOrElse(b + 1, 0L)).sum
  }

  def finish(ctx: Ctx, dir: String): Map[String, Any] = {
    val spark = ctx.spark
    val verdicts = GraftLog.read(spark, verd)
      .select("batch_id", "doc_id", "n_near_dups", "best_sim", "is_near_dup")
    val checked = ctx.dumpFinal(verdicts, s"$dir/verdicts")
    val runLevel = if (!ctx.rec.enabled) Map.empty[String, Any] else {
      val v = spark.read.parquet(s"$dir/verdicts/plain")
      val flagged = v.filter(col("is_near_dup")).count()
      Map("neardup.flag_ratio" -> flagged.toDouble / math.max(1L, v.count()),
        "neardup.state_live_files" ->
          GraftLog.snapshot(spark, state)._1.size,
        "neardup.autocompact_commits" -> GraftLog.history(spark, state)
          .filter(col("operation") === "autocompact").count())
    }
    Map("docs" -> docs, "batches" -> k, "n0" -> n0,
      "erasures" -> erasures.toSeq, "final" -> checked,
      "run_level" -> runLevel)
  }
}

object NearDup {
  val AppId = "graft-perfbench-neardup"
  val Batches = 6
  val EraseEvery = 1
  val SpaceAfter = 2
  /** Batches in the timed phase, at least: the first is preceded by an
    * erase and carries twins of the erased documents. */
  val MinOps = 1
}
