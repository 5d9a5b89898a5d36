package graftbench

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.sessions.Sessions

/** Runs one workload of the benchmark in this JVM and writes its raw
  * record (`result.json`) and, in the traced run, its spans and Spark
  * events (`spans.jsonl`) under `--out`. The reference checks, the
  * percentiles and the per-layer summary are computed from those files
  * by `run.py`.
  *
  * {{{
  * Main --workload ingest|upsert|neardup --seed N --seconds S
  *      --trace 0|1 --out DIR [--scale X] [--corrupt]
  * Main --fs-selftest DIR
  * Main --train DIR
  * }}}
  */
object Main {

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    arg(args, "--fs-selftest") match {
      case Some(dir) => println(Json.enc(fsSelfTest(dir))); return
      case None =>
    }
    arg(args, "--train").foreach { dir => train(dir); return }
    val name = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val out = arg(args, "--out").getOrElse(sys.error("--out"))
    val scale = arg(args, "--scale").map(_.toDouble).getOrElse(1.0)
    val work = s"$out/work"
    Files.createDirectories(Paths.get(work))

    val nproc = Runtime.getRuntime.availableProcessors
    val load0 = loadavg()
    val t0 = Clock.nowMs
    val c0 = WorkCpu.ms
    val spark = startSession(work, traced)
    val rec = new Recorder(traced)
    if (traced) {
      spark.sparkContext.addSparkListener(new BenchSparkListener(rec))
      spark.listenerManager.register(new BenchQueryListener(rec))
    }
    val session = ((Clock.nowMs - t0) / 1e3, (WorkCpu.ms - c0) / 1e3)
    val ctx = new Ctx(spark, rec, new Gen(seed), scale,
      args.contains("--corrupt"))
    val wl = Workload(name)

    // set-up into a fresh directory, then an unrecorded warm-up; one
    // round, as (wall s, work-CPU s): a second and third would cost
    // 5-20 s a run, more than the time budget of 22 runs per workload has
    val s0 = Clock.nowMs
    val sc0 = WorkCpu.ms
    wl.setup(ctx, s"$work/setup")
    val load = ((Clock.nowMs - s0) / 1e3, (WorkCpu.ms - sc0) / 1e3)
    val w0 = Clock.nowMs
    wl.warm(ctx)
    val warmS = (Clock.nowMs - w0) / 1e3

    ctx.record(true)
    val steal0 = cpuSteal()
    val r0 = Clock.nowMs
    val rc0 = WorkCpu.ms
    val rows = wl.run(ctx, r0 + seconds * 1e3)
    val r1 = Clock.nowMs
    val rc1 = WorkCpu.ms
    val steal1 = cpuSteal()
    ctx.record(false)
    val rssMb = vmHwmKb() / 1024.0
    // what the run retains: the heap after a full collection, taken
    // again once Spark's cleaner has released what the first one queued
    System.gc()
    Thread.sleep(300)
    System.gc()
    val liveHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val facts = wl.finish(ctx, s"$work/check")
    if (traced) {
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      rec.write(s"$out/spans.jsonl")
    }
    val record = Map(
      "workload" -> name, "seed" -> seed, "traced" -> traced,
      "context" -> Map("nproc" -> nproc, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "scale" -> scale, "seconds" -> seconds, "spark" -> spark.version),
      "setup" -> Map("session_s" -> session._1, "session_cpu_s" -> session._2,
        "load_s" -> load._1, "load_cpu_s" -> load._2, "warmup_s" -> warmS,
        "wall_s" -> (session._1 + load._1), "cpu_s" -> (session._2 + load._2)),
      "timed" -> Map("start" -> r0, "end" -> r1,
        "seconds" -> (r1 - r0 - ctx.pausedMs) / 1e3,
        "cpu_s" -> (rc1 - rc0 - ctx.pausedCpuMs) / 1e3,
        "paused_s" -> ctx.pausedMs / 1e3, "rows" -> rows,
        "steal_share" -> stealShare(steal0, steal1)),
      "peak_rss_mb" -> rssMb, "live_heap_mb" -> liveHeapMb,
      "space" -> ctx.space,
      "ops" -> ctx.ops.toSeq,
      "facts" -> facts)
    val w = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
    try w.println(Json.enc(record)) finally w.close()
    spark.stop()
  }

  private def startSession(work: String, traced: Boolean): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors
    var b = Sessions.builder("graft-perfbench", s"local[$nproc]", nproc)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    if (traced) b = b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    WorkCpu.install(spark.sparkContext)
    spark
  }

  /** Load the classes the workloads use, for the class-data archive the
    * build has this JVM write at exit: every workload's set-up, warm-up
    * and minimum timed phase at a tiny scale, unrecorded. */
  private def train(dir: String): Unit = {
    val spark = startSession(dir, traced = false)
    for (name <- Seq("ingest", "upsert", "neardup")) {
      val ctx = new Ctx(spark, new Recorder(false), new Gen(1L), 0.01, false)
      val wl = Workload(name)
      wl.setup(ctx, s"$dir/$name")
      wl.warm(ctx)
      wl.run(ctx, 0.0)
    }
    spark.stop()
  }

  private def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Nil }

  /** Host-wide (steal, total) CPU jiffies. */
  private def cpuSteal(): Option[(Double, Double)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val xs = try f.getLines().next().split("\\s+").drop(1).map(_.toDouble)
        finally f.close()
      Some((xs(7), xs.take(8).sum))
    } catch { case NonFatal(_) => None }

  /** The share of CPU time a virtualized host's neighbours took between
    * two readings; run-to-run latency on a shared host follows it. */
  private def stealShare(a: Option[(Double, Double)],
      b: Option[(Double, Double)]): Option[Double] =
    for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield (s1 - s0) / (t1 - t0)

  /** Peak resident set of this JVM (`VmHWM`), in kB. */
  private def vmHwmKb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
      .getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  /** Drive [[CountingFileSystem]] through a known sequence and report,
    * per call, the change in each counter. */
  def fsSelfTest(dir: String): Map[String, Any] = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(new URI("file:///"), conf)
    val root = new Path(new java.io.File(dir).getAbsolutePath)
    val a = new Path(root, "a.bin")
    val c = new Path(root, "c.bin")
    def delta(f: => Unit): Map[String, Long] = {
      val before = FsCounters.snapshot()
      f
      FsCounters.snapshot().map { case (k, v) => k -> (v - before(k)) }
        .filter(_._2 != 0)
    }
    val payload = Array.fill[Byte](4096)(7)
    val steps = Seq(
      "mkdirs" -> delta(fs.mkdirs(root): Unit),
      "create" -> delta { val o = fs.create(a); o.write(payload); o.close() },
      "list" -> delta(fs.listStatus(root): Unit),
      "open" -> delta { val i = fs.open(a); i.readFully(new Array[Byte](4096)); i.close() },
      "rename" -> delta(fs.rename(a, c): Unit),
      "delete" -> delta(fs.delete(c, false): Unit))
    Map("filesystem" -> fs.getClass.getName, "steps" -> steps.toMap)
  }
}
