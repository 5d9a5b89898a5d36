package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * span boundaries line up with the epoch-ms times Spark stamps on its
  * listener events. */
object Clock {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6
}

/** CPU time spent on the workload's own work: the client thread, the
  * `foreachBatch` bodies of a stream (which run on the stream's thread),
  * and every Spark task (`executorCpuTime` plus deserialization, from a
  * listener). JIT compilation, garbage collection and Spark's background
  * threads are left out: in a JVM that lives for one run they burn a
  * varying two cores beside short operations. Thread CPU time does not
  * count the time the host gives other tenants (steal), so on a shared
  * virtual host these figures move less than wall-clock latency. */
object WorkCpu extends SparkListener {
  private val threads = ManagementFactory.getThreadMXBean
  private val taskNs, offThreadNs = new AtomicLong
  @volatile private var sc: Option[SparkContext] = None

  def install(ctx: SparkContext): Unit = {
    ctx.addSparkListener(this)
    sc = Some(ctx)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m =>
      taskNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime))

  /** Run `f` on a thread other than the client's and count its CPU. */
  def offThread[T](f: => T): T = {
    val c0 = threads.getCurrentThreadCpuTime
    try f finally offThreadNs.addAndGet(threads.getCurrentThreadCpuTime - c0)
  }

  /** Milliseconds so far, read on the client thread once every task
    * event has been delivered. */
  def ms: Double = {
    sc.foreach(org.apache.spark.BenchAccess.drainListeners)
    (threads.getCurrentThreadCpuTime + taskNs.get + offThreadNs.get) / 1e6
  }
}

/** JSON output of the harness: Jackson with its Scala module, both on
  * Spark's classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def enc(v: Any): String = mapper.writeValueAsString(v)
}

/** Operation counts at the storage boundary. Local `FileSystem.Statistics`
  * count only bytes, so the traced run installs [[CountingFileSystem]]
  * as the `file:` implementation and reads these counters around each
  * span. */
object FsCounters {
  val list = new AtomicLong
  val status = new AtomicLong
  val open = new AtomicLong
  val create = new AtomicLong
  val rename = new AtomicLong
  val delete = new AtomicLong

  /** Counter values plus the bytes the raw local filesystem moved
    * (data and checksum files; the checksum layer keeps its own
    * statistics object for data bytes alone, which is not added in). */
  @annotation.nowarn("cat=deprecation")
  def snapshot(): Map[String, Long] = {
    val raw = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])
    Map(
      "list_calls" -> list.get, "status_calls" -> status.get,
      "open_calls" -> open.get, "create_calls" -> create.get,
      "rename_calls" -> rename.get, "delete_calls" -> delete.get,
      "bytes_read" -> raw.getBytesRead, "bytes_written" -> raw.getBytesWritten)
  }
}

/** `LocalFileSystem` that counts the metadata and stream calls made on
  * it. Installed through `spark.hadoop.fs.file.impl` (with the
  * filesystem cache keyed per scheme, the first `file:` access decides
  * the instance, so the setting goes in before the session starts). */
class CountingFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.list.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsCounters.status.incrementAndGet(); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounters.open.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounters.create.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounters.create.incrementAndGet()
    super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounters.rename.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounters.delete.incrementAndGet(); super.delete(f, recursive)
  }
}

/** One timed call into a layer. `op` is the id of the operation the
  * span belongs to; the operation's own span has `parent` = 0. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, start: Double, end: Double, attrs: Map[String, Any])

/** In-memory span and event store. Disabled (the untraced run), `span`
  * only runs its body. Enabled, it keeps spans, Spark job/stage events
  * and planned queries in memory until [[write]] at the end of the run. */
final class Recorder(val enabled: Boolean) {
  @volatile var active = false
  private val ids = new AtomicLong
  private val spans = ArrayBuffer.empty[Span]
  private val events = ArrayBuffer.empty[Map[String, Any]]
  // inherited, so spans opened on a stream's execution thread nest
  // under the span that started the query
  private val stack = new InheritableThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Run `f` inside a span of `layer`. The first span on an empty stack
    * opens a new operation. Filesystem counters are diffed across the
    * span, so each span carries the storage calls made inside it. */
  def span[T](name: String, layer: String,
      attrs: => Map[String, Any] = Map.empty)(f: => T): T =
    if (!enabled || !active) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer.headOption.fold((0L, id))(h => (h._1, h._2))
      stack.set((id, op) :: outer)
      val fs0 = FsCounters.snapshot()
      val t0 = Clock.nowMs
      try f
      finally {
        val t1 = Clock.nowMs
        val fs1 = FsCounters.snapshot()
        stack.set(outer)
        val fsd = fs1.map { case (k, v) => s"fs.$k" -> (v - fs0(k)) }
        synchronized {
          spans += Span(id, parent, op, name, layer, t0, t1, attrs ++ fsd)
        }
      }
    }

  /** Attach an event (job, stage, query) recorded by a listener. */
  def event(e: Map[String, Any]): Unit =
    if (enabled) synchronized { events += e }

  /** Spans and events as JSON lines. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try synchronized {
      spans.foreach { s =>
        out.println(Json.enc(Map("kind" -> "span", "id" -> s.id,
          "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "layer" -> s.layer, "start" -> s.start, "end" -> s.end,
          "attrs" -> s.attrs)))
      }
      events.foreach(e => out.println(Json.enc(e)))
    } finally out.close()
  }
}

/** Spark execution, seen from a listener the benchmark registers: one
  * event per job (its interval) and per completed stage (task count and
  * summed task metrics). Events are attributed to operations by time in
  * the summarizer, which is exact here because one client thread issues
  * every operation. */
final class BenchSparkListener(rec: Recorder) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    rec.event(Map("kind" -> "job", "id" -> e.jobId, "start" -> t0,
      "end" -> e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val base = Map[String, Any]("kind" -> "stage", "id" -> s.stageId,
      "start" -> s.submissionTime.getOrElse(0L),
      "end" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks)
    rec.event(if (m == null) base else base ++ Map(
      "executor_run_ms" -> m.executorRunTime,
      "executor_cpu_ms" -> m.executorCpuTime / 1e6,
      "shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "output_bytes" -> m.outputMetrics.bytesWritten))
  }
}

/** Driver planning and scan planning, seen from a
  * `QueryExecutionListener`: per executed query, the planning-tracker
  * phase times and the SQL metrics of every file scan in the final
  * (post-AQE) plan. */
final class BenchQueryListener(rec: Recorder)
    extends QueryExecutionListener with AdaptiveSparkPlanHelper {

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val end = if (phases.isEmpty) 0L else phases.values.map(_.endTimeMs).max
    val scans = scansOf(qe.executedPlan)
    def sum(k: String) = scans.map(s =>
      s.metrics.get(k).map(_.value).getOrElse(0L)).sum
    rec.event(Map("kind" -> "query", "func" -> funcName, "end" -> end,
      "analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"), "scans" -> scans.size,
      "files_read" -> sum("numFiles"), "bytes_read" -> sum("filesSize"),
      "metadata_ms" -> sum("metadataTime")))
  }

  private def scansOf(plan: SparkPlan): Seq[FileSourceScanExec] =
    try collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    catch { case scala.util.control.NonFatal(_) => Nil }
}
