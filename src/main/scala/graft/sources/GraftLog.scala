package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType,
  StringType, StructField, StructType}

/** Process-wide counters of the log layer's own reads: listings of
  * `_graft_log`, commit files read, checkpoints decoded (a parquet or
  * JSON checkpoint parsed, not served from the decode cache), and state
  * reads the memo answered without reading any commit. Cheap enough to
  * stay on; specs and profilers read deltas around an operation. */
private[graft] object LogCounters {
  import java.util.concurrent.atomic.AtomicLong
  val listings = new AtomicLong
  val commitReads = new AtomicLong
  val checkpointDecodes = new AtomicLong
  val memoHits = new AtomicLong

  def read(): Map[String, Long] = Map(
    "listings" -> listings.get, "commitReads" -> commitReads.get,
    "checkpointDecodes" -> checkpointDecodes.get,
    "memoHits" -> memoHits.get)
}

/** Minimal log-backed transactional table format on parquet — the working
  * analog of the reference's Delta Lake layer (the environment ships no
  * Delta jars, SURVEY.md §7.4), closing the one capability the parquet
  * shims in [[Sinks]] could not give: atomic commits, versioned reads and
  * a file-pruned MERGE. Reference behaviors mirrored:
  * `scratchpads/financial_dl_etl.py:42,66,81,99` (overwrite / merge
  * cycles on a Delta table), `mage_demo/utils/spark_session_factory.py:70-71`
  * (Delta-enabled session).
  *
  * == Layout ==
  * {{{
  *   <table>/_graft_log/00000000000000000000.json   // commit v0
  *   <table>/_graft_log/00000000000000000001.json   // commit v1 ...
  *   <table>/_data/<uuid>/part-*.parquet            // immutable data files
  * }}}
  * Each commit is a single JSON object: the schema (as Spark DDL), the
  * files it adds and the files it removes relative to the table root. The
  * table state at version v is the replay of commits 0..v — data files are
  * immutable and never rewritten in place, so every historical version
  * stays readable until [[vacuum]] drops it.
  *
  * == Atomicity / concurrency ==
  * A commit becomes visible in one atomic put-if-absent of its log file
  * (never a partially-written one: content is fully written to a hidden
  * temp name first). On `file:` paths that is a hard link
  * (`Files.createLink` — atomic, fails with EEXIST if the version was
  * taken); on cluster filesystems it is `FileSystem.rename`, which on
  * HDFS is an atomic no-overwrite rename. A losing writer surfaces as
  * [[GraftLog.CommitConflictException]] — optimistic concurrency exactly
  * like the Delta protocol's.
  *
  * == Scale ==
  * The log holds file names and a schema string — metadata, never data.
  * MERGE and DELETE prune at file granularity: only files that actually
  * contain matching keys are rewritten (found with a broadcast left-semi
  * probe over `input_file_name()`, so the target table never shuffles);
  * untouched files are carried into the new version by reference. At
  * 100 TB a merge of a small batch rewrites a handful of files, not the
  * table.
  */
object GraftLog {

  final class CommitConflictException(version: Long, table: String)
    extends RuntimeException(
      s"concurrent commit: version $version of $table was already written")

  /** One log entry. `add`/`remove` are table-root-relative paths. `txn`
    * is the streaming-idempotence ledger entry (appId, batchId) — the
    * analog of the Delta protocol's `txn` action: a committed batch id is
    * durable evidence the batch landed, surviving the crash window
    * between a sink commit and the checkpoint write. `txns` is only
    * populated in checkpoint files: the max committed batch id per appId
    * folded over every commit the checkpoint subsumes, so truncating the
    * log never forgets the idempotence ledger. */
  case class Commit(version: Long, operation: String, add: Seq[String],
      remove: Seq[String], schemaDdl: String, timestampMs: Long,
      txn: Option[(String, Long)] = None,
      stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
      txns: Map[String, Long] = Map.empty,
      sizes: Map[String, Long] = Map.empty,
      dvAdd: Seq[String] = Seq.empty,
      dvRemove: Seq[String] = Seq.empty,
      blooms: Map[String, Map[String, String]] = Map.empty,
      colMap: Map[String, String] = Map.empty,
      checks: Map[String, String] = Map.empty,
      tags: Map[String, Long] = Map.empty,
      generated: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty,
      // COPY INTO's per-file ingest ledger: source-file URIs this
      // commit loaded (append-only set under replay; carried by
      // checkpoints like the txn ledger, so idempotence survives
      // log truncation)
      copied: Seq[String] = Seq.empty)

  /** Operations whose commits SET the column-mapping state explicitly
    * (an empty map from one of these means "mapping cleared/none");
    * every other commit inherits the current mapping in [[writeCommit]],
    * so the invariant "mapping = latest commit's colMap" always holds
    * and replay can fold it by plain replacement. */
  private val ColMapAuthoritative =
    Set("rename_column", "drop_column", "compact", "restore", "clone")

  /** Same contract for CHECK constraints: "constraints = latest
    * commit's checks". Note compact is NOT here — constraints survive
    * file rewrites (only colMap is materialized away); restore re-points
    * them at the target version's set, clone carries the source's. */
  private val ChecksAuthoritative =
    Set("add_constraint", "drop_constraint", "restore", "clone")

  /** Same contract for named refs: "tags = latest commit's tags".
    * Restore is NOT authoritative (tags address versions, which restore
    * never deletes); clone can't inherit anyway (its commit is v0, and
    * source tags would dangle — they name versions of another log). */
  private val TagsAuthoritative = Set("tag", "untag")

  /** Same contract for table properties: "properties = latest commit's
    * props" (Delta's `metaData.configuration`). Clone carries the
    * source's configuration (Delta CLONE does); restore is NOT
    * authoritative — RESTORE reverts DATA, table configuration is
    * operational state that survives it. */
  private val PropsAuthoritative =
    Set("set_properties", "unset_properties", "clone")

  /** Operations that rewrite the physical layout without changing any
    * VISIBLE row — Delta marks their add/remove actions
    * `dataChange=false` and live streams pass over them silently (no
    * new rows to emit: every row in the rewritten files was already
    * streamed when its original file was added). Here the operation set
    * is closed-world, so the flag is derived from the name instead of
    * stored per-action: compact and Z-order CLUSTER preserve the
    * visible row set by construction (compact applies DV masks that
    * already hid their rows; cluster refuses tables with DVs). Without
    * this, OPTIMIZE on a streamed 100 TB table would force every
    * consumer to either crash or set `ignoreChanges` and re-ingest the
    * whole rewritten data — Delta's actual contract is that maintenance
    * and ingestion are independent. */
  private[sources] val RewriteOnlyOps =
    Set("compact", "cluster", "reorg", "rowid_backfill", "autocompact")

  private[sources] val LogDirName  = "_graft_log"
  private val DataDirName = "_data"

  /** Resolve a commit-log file entry to a readable path. Entries are
    * normally table-root-relative; a SHALLOW CLONE commit references
    * the SOURCE table's files by absolute path (the Delta shallow-clone
    * mechanism), so absolute / scheme-qualified entries pass through
    * unchanged. [[vacuum]] is unaffected: it sweeps only under the
    * table's own root and matches by relative path, so externally
    * referenced files can never be deleted by the clone's vacuum. */
  private[sources] def absPath(table: String, rel: String): String =
    if (rel.startsWith("/") || rel.contains("://")) rel
    else s"$table/$rel"

  private[sources] def fs(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logName(v: Long): String = f"$v%020d.json"

  // ---------------------------------------------------------------- JSON
  // The commit schema is four scalars and two string arrays; writing is a
  // hand-rolled escaper and parsing goes through Jackson's tree model
  // (jackson-databind ships with Spark) — no extra dependencies.

  private def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.result()
  }

  private def toJson(c: Commit): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"")
      .mkString("[", ",", "]")
    val txnPart = c.txn.map { case (app, batch) =>
      s""","txnAppId":"${esc(app)}","txnBatchId":$batch"""
    }.getOrElse("")
    val txnsPart =
      if (c.txns.isEmpty) ""
      else ","+"\"txns\":" + c.txns.toSeq.sortBy(_._1).map { case (app, b) =>
        "\"" + esc(app) + "\":" + b
      }.mkString("{", ",", "}")
    val statsPart =
      if (c.stats.isEmpty) ""
      else ","+"\"stats\":" + c.stats.map { case (f, cols) =>
        "\"" + esc(f) + "\":" + cols.map { case (col, (mn, mx)) =>
          "\"" + esc(col) + "\":[" + mn + "," + mx + "]"
        }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    val sizesPart =
      if (c.sizes.isEmpty) ""
      else ","+"\"sizes\":" + c.sizes.toSeq.sortBy(_._1).map { case (f, n) =>
        "\"" + esc(f) + "\":" + n
      }.mkString("{", ",", "}")
    val dvPart =
      (if (c.dvAdd.isEmpty) "" else ","+"\"dvAdd\":" + arr(c.dvAdd)) +
        (if (c.dvRemove.isEmpty) ""
         else ","+"\"dvRemove\":" + arr(c.dvRemove))
    val bloomsPart =
      if (c.blooms.isEmpty) ""
      else ","+"\"blooms\":" + c.blooms.toSeq.sortBy(_._1).map {
        case (f, cols) =>
          "\"" + esc(f) + "\":" + cols.toSeq.sortBy(_._1).map {
            case (cl, b64) => "\"" + esc(cl) + "\":\"" + esc(b64) + "\""
          }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    val colMapPart =
      if (c.colMap.isEmpty) ""
      else ","+"\"colMap\":" + c.colMap.toSeq.sortBy(_._1).map {
        case (p, l) => "\"" + esc(p) + "\":\"" + esc(l) + "\""
      }.mkString("{", ",", "}")
    val checksPart =
      if (c.checks.isEmpty) ""
      else ","+"\"checks\":" + c.checks.toSeq.sortBy(_._1).map {
        case (nm, ex) => "\"" + esc(nm) + "\":\"" + esc(ex) + "\""
      }.mkString("{", ",", "}")
    val tagsPart =
      if (c.tags.isEmpty) ""
      else ","+"\"tags\":" + c.tags.toSeq.sortBy(_._1).map {
        case (nm, v) => "\"" + esc(nm) + "\":" + v
      }.mkString("{", ",", "}")
    val generatedPart =
      if (c.generated.isEmpty) ""
      else ","+"\"generated\":" + c.generated.toSeq.sortBy(_._1).map {
        case (nm, ex) => "\"" + esc(nm) + "\":\"" + esc(ex) + "\""
      }.mkString("{", ",", "}")
    val propsPart =
      if (c.props.isEmpty) ""
      else ","+"\"props\":" + c.props.toSeq.sortBy(_._1).map {
        case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\""
      }.mkString("{", ",", "}")
    val copiedPart =
      if (c.copied.isEmpty) "" else ","+"\"copied\":" + arr(c.copied)
    s"""{"version":${c.version},"operation":"${esc(c.operation)}",""" +
      s""""add":${arr(c.add)},"remove":${arr(c.remove)},""" +
      s""""schemaDdl":"${esc(c.schemaDdl)}",""" +
      s""""timestampMs":${c.timestampMs}$txnPart$statsPart$sizesPart$dvPart$bloomsPart$colMapPart$checksPart$tagsPart$generatedPart$propsPart$copiedPart$txnsPart}"""
  }

  /** Shared parser: `readTree` on a configured mapper is thread-safe. */
  private val JsonMapper = new com.fasterxml.jackson.databind.ObjectMapper

  private def fromJson(s: String): Commit = {
    val n = JsonMapper.readTree(s)
    def arr(f: String): Seq[String] = {
      val a = n.get(f)
      (0 until a.size()).map(a.get(_).asText())
    }
    val txn =
      if (n.has("txnAppId"))
        Some((n.get("txnAppId").asText(), n.get("txnBatchId").asLong()))
      else None
    val stats =
      if (!n.has("stats")) Map.empty[String, Map[String, (Double, Double)]]
      else {
        val sn = n.get("stats")
        val out = scala.collection.mutable.Map
          .empty[String, Map[String, (Double, Double)]]
        sn.fieldNames().forEachRemaining { f =>
          val cn = sn.get(f)
          val cols = scala.collection.mutable.Map.empty[String, (Double, Double)]
          cn.fieldNames().forEachRemaining { c =>
            val a = cn.get(c)
            cols += c -> ((a.get(0).asDouble(), a.get(1).asDouble()))
          }
          out += f -> cols.toMap
        }
        out.toMap
      }
    val txns =
      if (!n.has("txns")) Map.empty[String, Long]
      else {
        val tn = n.get("txns")
        val out = scala.collection.mutable.Map.empty[String, Long]
        tn.fieldNames().forEachRemaining { app =>
          out += app -> tn.get(app).asLong()
        }
        out.toMap
      }
    val sizes =
      if (!n.has("sizes")) Map.empty[String, Long]
      else {
        val sn = n.get("sizes")
        val out = scala.collection.mutable.Map.empty[String, Long]
        sn.fieldNames().forEachRemaining { f =>
          out += f -> sn.get(f).asLong()
        }
        out.toMap
      }
    def optArr(f: String): Seq[String] =
      if (!n.has(f)) Seq.empty else arr(f)
    val blooms =
      if (!n.has("blooms")) Map.empty[String, Map[String, String]]
      else {
        val bn = n.get("blooms")
        val out = scala.collection.mutable.Map
          .empty[String, Map[String, String]]
        bn.fieldNames().forEachRemaining { f =>
          val cn = bn.get(f)
          val cols = scala.collection.mutable.Map.empty[String, String]
          cn.fieldNames().forEachRemaining { c =>
            cols += c -> cn.get(c).asText()
          }
          out += f -> cols.toMap
        }
        out.toMap
      }
    val colMap =
      if (!n.has("colMap")) Map.empty[String, String]
      else {
        val cn = n.get("colMap")
        val out = scala.collection.mutable.Map.empty[String, String]
        cn.fieldNames().forEachRemaining { p =>
          out += p -> cn.get(p).asText()
        }
        out.toMap
      }
    val checks =
      if (!n.has("checks")) Map.empty[String, String]
      else {
        val cn = n.get("checks")
        val out = scala.collection.mutable.Map.empty[String, String]
        cn.fieldNames().forEachRemaining { nm =>
          out += nm -> cn.get(nm).asText()
        }
        out.toMap
      }
    val tags =
      if (!n.has("tags")) Map.empty[String, Long]
      else {
        val tn = n.get("tags")
        val out = scala.collection.mutable.Map.empty[String, Long]
        tn.fieldNames().forEachRemaining { nm =>
          out += nm -> tn.get(nm).asLong()
        }
        out.toMap
      }
    val generated =
      if (!n.has("generated")) Map.empty[String, String]
      else {
        val gn = n.get("generated")
        val out = scala.collection.mutable.Map.empty[String, String]
        gn.fieldNames().forEachRemaining { nm =>
          out += nm -> gn.get(nm).asText()
        }
        out.toMap
      }
    val props =
      if (!n.has("props")) Map.empty[String, String]
      else {
        val pn = n.get("props")
        val out = scala.collection.mutable.Map.empty[String, String]
        pn.fieldNames().forEachRemaining { k =>
          out += k -> pn.get(k).asText()
        }
        out.toMap
      }
    Commit(n.get("version").asLong(), n.get("operation").asText(),
      arr("add"), arr("remove"), n.get("schemaDdl").asText(),
      n.get("timestampMs").asLong(), txn, stats, txns, sizes,
      optArr("dvAdd"), optArr("dvRemove"), blooms, colMap, checks, tags,
      generated, props, optArr("copied"))
  }

  // ------------------------------------------------------------- protocol

  private val CommitFileRe = """(\d{20})\.json""".r
  private val CkptJsonRe = """(\d{20})\.checkpoint\.json""".r
  private val CkptParquetRe = """(\d{20})\.checkpoint\.parquet""".r

  /** One `listStatus` of `_graft_log`: the committed versions, ascending,
    * each with its commit file's (modification time, length) stamp —
    * what the state memo validates against — plus the JSON checkpoint
    * sidecars (version, mtime) and the versions whose columnar
    * checkpoint directory exists. */
  private[sources] final case class LogListing(
      commits: Vector[(Long, (Long, Long))],
      checkpoints: Vector[(Long, Long)],
      parquetCheckpoints: Set[Long]) {
    def versions: Seq[Long] = commits.map(_._1)
    def latest: Option[Long] = commits.lastOption.map(_._1)
    lazy val stamps: Map[Long, (Long, Long)] = commits.toMap
    def checkpointVersions: Seq[Long] = checkpoints.map(_._1)
  }

  /** List the log once. A missing directory surfaces from `listStatus`
    * as FileNotFoundException and reads as an empty log. */
  private def listLog(spark: SparkSession, table: String): LogListing = {
    LogCounters.listings.incrementAndGet()
    val entries =
      try fs(spark, table).listStatus(new HPath(table, LogDirName)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val commits = Vector.newBuilder[(Long, (Long, Long))]
    val ckpts = Vector.newBuilder[(Long, Long)]
    val parquet = Set.newBuilder[Long]
    entries.foreach { st =>
      st.getPath.getName match {
        case CommitFileRe(v) =>
          commits += v.toLong -> ((st.getModificationTime, st.getLen))
        case CkptJsonRe(v) => ckpts += v.toLong -> st.getModificationTime
        case CkptParquetRe(v) => parquet += v.toLong
        case _ => ()
      }
    }
    LogListing(commits.result().sortBy(_._1), ckpts.result().sortBy(_._1),
      parquet.result())
  }

  /** All committed versions, ascending (missing dir → empty). */
  def versions(spark: SparkSession, table: String): Seq[Long] =
    listLog(spark, table).versions

  def latestVersion(spark: SparkSession, table: String): Option[Long] =
    listLog(spark, table).latest

  /** Start of the CONTIGUOUS TAIL suffix of an ascending version list —
    * the post-vacuum keep window. Tag-pinned vacuum retains pinned
    * versions BELOW the horizon, so the retained set can be
    * non-contiguous (e.g. [0, 2, 3]); fresh streaming/CDF starts and
    * admission-control bases must anchor at the tail start (2 here,
    * where vacuum guarantees a self-contained checkpoint), never at the
    * globally-oldest pinned version below a hole. */
  private[sources] def contiguousTailStart(vs: Seq[Long]): Option[Long] =
    vs.foldRight(Option.empty[Long]) {
      case (v, None) => Some(v)
      case (v, Some(a)) => if (v == a - 1) Some(v) else Some(a)
    }

  /** (add-file count, add-file bytes) of one commit — the streaming
    * admission-control footprint. Bytes come from commit-logged sizes
    * (0 for entries without one; commits written by this log always
    * carry them) — admission never touches data files. */
  private[sources] def commitFootprint(spark: SparkSession, table: String,
      v: Long): (Int, Long) = {
    val c = readCommit(spark, table, v)
    // Rewrite-only commits are skipped by the stream ([[addedIn]]), so
    // they must not consume file/byte admission budget either — a
    // maxBytesPerTrigger smaller than one compacted file would
    // otherwise stall the stream forever at the OPTIMIZE commit.
    if (RewriteOnlyOps(c.operation)) (0, 0L)
    else (c.add.size, c.add.map(f => c.sizes.getOrElse(f, 0L)).sum)
  }

  private def readCommit(spark: SparkSession, table: String,
      v: Long): Commit = {
    LogCounters.commitReads.incrementAndGet()
    readJson(spark, table, logName(v))
  }

  private def readJson(spark: SparkSession, table: String,
      name: String): Commit = {
    val in = fs(spark, table).open(
      new HPath(new HPath(table, LogDirName), name))
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      fromJson(new String(bytes.toByteArray, "UTF-8"))
    } finally in.close()
  }

  /** Atomic put-if-absent of a log-dir file; the payload is complete on
    * disk (hidden temp name) before it becomes visible under the target
    * name, so a reader can never observe a torn entry. Returns whether
    * this writer won the name. Shared with [[Topic]]'s offsets ledger —
    * same commit protocol, different log contents. */
  private[sources] def putIfAbsent(spark: SparkSession, table: String,
      name: String, content: String): Boolean = {
    val logDir = new HPath(table, LogDirName)
    val f = fs(spark, table)
    f.mkdirs(logDir)
    val tmp = new HPath(logDir, s".${UUID.randomUUID()}.json.tmp")
    val out = f.create(tmp, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val target = new HPath(logDir, name)
    if (f.getScheme == "file") {
      // RawLocalFileSystem.rename is POSIX rename(2) — it silently
      // REPLACES an existing destination, which would let two writers
      // both believe they own the version. A hard link is the local
      // put-if-absent: atomic, EEXIST if the version is taken.
      try {
        Files.createLink(Paths.get(target.toUri.getPath),
          Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false); false
      }
    } else {
      // HDFS rename: atomic, returns false when the destination exists.
      val ok = f.rename(tmp, target)
      if (!ok) f.delete(tmp, false)
      ok
    }
  }

  /** Write commit `c`; returns the table state at `c.version` (also
    * memoized). `read` is the state the caller's operation read: when it
    * sits at `c.version - 1` it is the state this commit lands on,
    * otherwise one listing finds it. */
  private[graft] def writeCommit(spark: SparkSession, table: String,
      c: Commit, read: Option[TableState] = None): Option[TableState] = {
    val prior =
      if (c.version == 0) None
      else read.filter(_.version == c.version - 1)
        .orElse(logState(spark, table))
    // a state at or past this version: another writer already took it
    if (prior.exists(_.version >= c.version))
      throw new CommitConflictException(c.version, table)
    // keep the invariants "column mapping = latest commit's colMap" and
    // "constraints = latest commit's checks": ordinary commits
    // (append/merge/delete/…) inherit the state in force just before
    // them (the prior state's newest commit); authoritative ops set (or
    // clear) it themselves.
    val inheritMap = c.colMap.isEmpty && c.version > 0 &&
      !ColMapAuthoritative(c.operation)
    val inheritChecks = c.checks.isEmpty && c.version > 0 &&
      !ChecksAuthoritative(c.operation)
    val inheritTags = c.tags.isEmpty && c.version > 0 &&
      !TagsAuthoritative(c.operation)
    // generated-column definitions are immutable for the table's life
    // (Delta: generation expressions are set at creation only), so
    // every post-creation commit inherits — no authoritative op exists
    val inheritGen = c.generated.isEmpty && c.version > 0
    val inheritProps = c.props.isEmpty && c.version > 0 &&
      !PropsAuthoritative(c.operation)
    // the previous commit feeds BOTH metadata inheritance and the ICT
    // clamp below
    val prev: Option[Commit] = prior.map(_.last)
    val withMeta =
      if (!inheritMap && !inheritChecks && !inheritTags && !inheritGen &&
          !inheritProps) c
      else
        c.copy(
          colMap = if (inheritMap) prev.map(_.colMap)
            .getOrElse(c.colMap) else c.colMap,
          checks = if (inheritChecks) prev.map(_.checks)
            .getOrElse(c.checks) else c.checks,
          tags = if (inheritTags) prev.map(_.tags)
            .getOrElse(c.tags) else c.tags,
          generated = if (inheritGen) prev.map(_.generated)
            .getOrElse(c.generated) else c.generated,
          props = if (inheritProps) prev.map(_.props)
            .getOrElse(c.props) else c.props)
    checkWriterFeatures(table, withMeta.props)
    // In-commit timestamp monotonicity (Delta `enableInCommitTimestamps`,
    // the ICT table feature): with many WRITERS (1000-executor clusters
    // commit from different driver hosts), wall clocks skew — a commit
    // stamped EARLIER than its predecessor breaks `TIMESTAMP AS OF` /
    // `table_changes` resolution, which binary-searches the commit
    // timeline assuming order. Opt-in per table: clamp each commit's
    // timestamp to strictly after its predecessor's (`prev + 1` on ties
    // or regression); the predecessor comes from the prior state.
    val stamped =
      if (withMeta.version > 0 && withMeta.props
          .get("graft.enableInCommitTimestamps")
          .exists(_.equalsIgnoreCase("true")))
        prev match {
          case Some(p) if withMeta.timestampMs <= p.timestampMs =>
            withMeta.copy(timestampMs = p.timestampMs + 1)
          case _ => withMeta
        }
      else withMeta
    if (!putIfAbsent(spark, table, logName(stamped.version),
        toJson(stamped)))
      throw new CommitConflictException(c.version, table)
    // this writer won version v, so the state at v is the state below
    // it plus this commit — memoized with the new file's stamp, so the
    // next operation on the table reads no commit file (a commit past
    // an empty log leaves a gap and no state)
    val after =
      if (stamped.version > 0 && prior.isEmpty) None
      else {
        val st = fs(spark, table).getFileStatus(new HPath(
          new HPath(table, LogDirName), logName(stamped.version)))
        val b = new StateBuilder(prior)
        b.fold(stamped)
        val next = b.result(stamped.version, prior.fold(
          Map.empty[Long, (Long, Long)])(_.stamps) +
          (stamped.version -> ((st.getModificationTime, st.getLen))))
        remember(table, next)
        Some(next)
      }
    // Auto-checkpoint every CheckpointInterval commits (Delta writes one
    // each 10th commit for the same reason): replay cost stays bounded
    // by the interval instead of growing with table age — at 100 TB a
    // years-old table would otherwise pay thousands of small-JSON reads
    // per snapshot resolution. Best-effort: a competing writer racing
    // the same checkpoint loses the put-if-absent harmlessly, and a
    // failure here must never fail the already-durable commit.
    // `graft.checkpointInterval` (Delta: `delta.checkpointInterval`)
    // overrides the default cadence per table — a high-churn streaming
    // table can checkpoint more often to bound replay, an archival one
    // less often to cut metadata writes
    val interval = withMeta.props.get("graft.checkpointInterval")
      .flatMap(s => scala.util.Try(s.toLong).toOption).filter(_ > 0)
      .getOrElse(CheckpointInterval)
    if (withMeta.version > 0 && withMeta.version % interval == 0)
      try after.filter(_.withStats) match {
        case Some(st) => writeCheckpoint(spark, table, st)
        case None => checkpoint(spark, table, Some(withMeta.version)); ()
      } catch { case scala.util.control.NonFatal(_) => () }
    maybeUpdateManifest(spark, table, withMeta, after)
    // catalog-table freshness: a CATALOG table backed by this path
    // caches its resolved relation in the session's V1 relation cache
    // (keyed by table NAME, which a path-level commit cannot know), so
    // an API-path commit would otherwise stay invisible to SQL readers
    // until a manual REFRESH TABLE — plain-parquet behavior, but a
    // transactional format owes readers the latest commit (Delta gets
    // this from its DSv2 catalog). Drop every relation pin (the
    // metadata cache only — cached DATA and already-analyzed plans
    // keep their pinned snapshots, exactly the time-travel contract);
    // re-resolution costs one log snapshot read per catalog table
    // actually read next. Invalidation is SCOPED to cached relations
    // whose scan roots match the committed path — a commit to one
    // table must not force every other catalog table in a multi-table
    // pipeline to re-read its log snapshot (the session-wide flush
    // survives only as the fallback when the cache can't be
    // enumerated). Best-effort: freshness must never fail a durable
    // commit.
    // Deliberately NOT spark.catalog.refreshByPath: its only effect is
    // CacheManager.recacheByPath, which clears and re-compiles every
    // PERSISTED dataset whose lineage reads this path. GraftFileIndex
    // pins its file snapshot at plan construction (removed files stay
    // on disk until VACUUM), so that forced re-materialization always
    // reproduces the identical bytes — pure waste, and quadratic waste
    // in the staged pipelines, where every state commit re-cleared
    // every downstream wave cache (measured: 30 s of silent recompute
    // inside one e27 pack commit; round 17). Fresh READS see the new
    // version through fresh log replays; catalog-table pins drop via
    // the scoped V1 relation-cache invalidation below.
    try invalidateCachedRelationsAt(spark, table)
    catch { case scala.util.control.NonFatal(_) => () }
    after
  }

  /** Drop V1 relation-cache pins for catalog tables backed by `table`
    * (and only those). The cache keyed by table name is private to
    * SessionCatalog with no enumeration API, so we reach it
    * reflectively; any surprise there degrades to the old session-wide
    * flush — correct, just broader. */
  private def invalidateCachedRelationsAt(spark: SparkSession,
      table: String): Unit = {
    val sc = spark.sessionState.catalog
    val committed = new org.apache.hadoop.fs.Path(table).toUri.getPath
    try {
      val m = sc.getClass.getDeclaredMethod("tableRelationCache")
      m.setAccessible(true)
      val cache = m.invoke(sc).asInstanceOf[org.sparkproject.guava.cache
        .Cache[org.apache.spark.sql.catalyst.QualifiedTableName,
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]
      import scala.jdk.CollectionConverters._
      // prefix match in BOTH directions: a relation rooted at a
      // partition subdirectory of the committed path reads the commit,
      // and a commit into a subdirectory of a relation's root changes
      // that relation — exact equality would leave either pinned. A
      // leaf we cannot inspect (non-LogicalRelation — e.g. a V2 or
      // hive relation) might read the path too: drop its pin rather
      // than silently under-invalidate (the old behavior flushed
      // EVERYTHING, so this is still strictly narrower).
      def touches(p: org.apache.hadoop.fs.Path): Boolean = {
        val rp = p.toUri.getPath
        rp == committed || rp.startsWith(committed + "/") ||
          committed.startsWith(rp + "/")
      }
      val hits = cache.asMap().asScala.iterator.collect {
        case (key, plan) if plan.collectLeaves().exists {
          case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
            fs.location.rootPaths.exists(touches)
          case _: org.apache.spark.sql.catalyst.plans.logical
            .LocalRelation => false
          case _ => true
        } => key
      }.toVector
      hits.foreach(sc.invalidateCachedTable)
    } catch {
      case scala.util.control.NonFatal(_) => sc.invalidateAllCachedTables()
    }
  }

  /** Commits between automatic checkpoints (Delta's own cadence). */
  private val CheckpointInterval = 10L

  // ----------------------------------------------------------- checkpoints
  // A checkpoint is a sidecar file <v>.checkpoint.json whose Commit holds
  // the COMPLETE table state at version v: live files in add (with their
  // stats), the schema, and the folded txn ledger in txns. Replay starts
  // from the newest checkpoint <= the target version instead of v0 — the
  // Delta checkpoint-parquet idea on this log. Two jobs: (1) bound replay
  // cost (a 100 TB table written by a streaming sink accumulates tens of
  // thousands of commits; O(commits-since-checkpoint) beats O(commits));
  // (2) make vacuum() safe — log entries below a checkpoint can be
  // dropped without losing files that only pre-checkpoint commits added.

  private def ckptName(v: Long): String = f"$v%020d.checkpoint.json"

  /** The COLUMNAR checkpoint (a multi-part parquet directory next to the
    * JSON sidecar) — the Delta checkpoint-parquet design point: at
    * millions of live files, checkpoint state must be decoded as a
    * DataFrame scan (distributed, columnar, column-pruned, naturally
    * multi-part), not parsed as one driver-side JSON string. Layout is
    * Delta-like action rows discriminated by `kind`:
    *   add  — one row per live file: path, add-order ordinal, size,
    *          per-column (lo, hi) stats, Bloom bitmaps
    *   dv   — one row per active deletion vector
    *   txn  — one row per (appId, batchId) ledger entry
    *   meta — exactly one row: version, schema DDL, column mapping,
    *          CHECK constraints, timestamp
    * The JSON sidecar is still written FIRST (it is the put-if-absent
    * existence arbiter and the reader-compat fallback for checkpoints
    * written before this round); readers prefer the parquet when the
    * directory exists. Equivalence of the two encodings is pinned by
    * GraftLogSpec. */
  private def ckptParquetName(v: Long): String =
    f"$v%020d.checkpoint.parquet"

  /** One row of the columnar checkpoint (see [[ckptParquetName]]).
    * Stats values are [lo, hi] pairs; Option fields are null columns on
    * rows of other kinds. */
  case class CkptRow(kind: String, ord: Long,
      path: Option[String], size: Option[Long],
      stats: Option[Map[String, Seq[Double]]],
      blooms: Option[Map[String, String]],
      appId: Option[String], batchId: Option[Long],
      version: Option[Long], schemaDdl: Option[String],
      colMap: Option[Map[String, String]],
      checks: Option[Map[String, String]],
      timestampMs: Option[Long],
      generated: Option[Map[String, String]],
      props: Option[Map[String, String]])

  /** The schema `Encoders.product[CkptRow]` derives, spelled out so a
    * checkpoint write pays no Scala reflection (equality pinned by
    * LogStateSpec). */
  private[graft] val CkptSchema: StructType = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField}
    val strMap = MapType(StringType, StringType)
    def opt(name: String, t: DataType) = StructField(name, t)
    StructType(Seq(
      opt("kind", StringType),
      StructField("ord", LongType, nullable = false),
      opt("path", StringType), opt("size", LongType),
      opt("stats", MapType(StringType, ArrayType(DoubleType, false))),
      opt("blooms", strMap), opt("appId", StringType),
      opt("batchId", LongType), opt("version", LongType),
      opt("schemaDdl", StringType), opt("colMap", strMap),
      opt("checks", strMap), opt("timestampMs", LongType),
      opt("generated", strMap), opt("props", strMap)))
  }

  private def writeCheckpointParquet(spark: SparkSession, table: String,
      c: Commit): Unit = {
    val none = CkptRow("", 0L, None, None, None, None, None, None,
      None, None, None, None, None, None, None)
    val adds = c.add.zipWithIndex.map { case (f, i) =>
      none.copy(kind = "add", ord = i.toLong, path = Some(f),
        size = c.sizes.get(f),
        stats = c.stats.get(f).filter(_.nonEmpty)
          .map(_.map { case (col, (lo, hi)) => col -> Seq(lo, hi) }),
        blooms = c.blooms.get(f).filter(_.nonEmpty))
    }
    val dvs = c.dvAdd.zipWithIndex.map { case (f, i) =>
      none.copy(kind = "dv", ord = i.toLong, path = Some(f))
    }
    val txns = c.txns.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((app, batch), i) =>
        none.copy(kind = "txn", ord = i.toLong, appId = Some(app),
          batchId = Some(batch))
    }
    val copies = c.copied.zipWithIndex.map { case (f, i) =>
      none.copy(kind = "copy", ord = i.toLong, path = Some(f))
    }
    val meta = none.copy(kind = "meta", version = Some(c.version),
      schemaDdl = Some(c.schemaDdl),
      colMap = Some(c.colMap), checks = Some(c.checks),
      timestampMs = Some(c.timestampMs),
      generated = Some(c.generated),
      props = Some(c.props))
    // Part sizing: bounded rows per part file keeps each part's decode
    // (and a future selective read) executor-sized at any file count;
    // sandbox tables produce one part, a 100 TB table tens — the
    // multi-part form Delta moved to for exactly this reason.
    val rows = (adds ++ dvs ++ txns ++ copies :+ meta).map(r =>
      Row.fromSeq(r.productIterator.map {
        case o: Option[_] => o.getOrElse(null)
        case x => x
      }.toSeq))
    val parts = math.max(1, math.min(200, rows.size / 100000 + 1))
    val logDir = new HPath(table, LogDirName)
    val f = fs(spark, table)
    val tmp = new HPath(logDir, s".ckpt-${UUID.randomUUID()}.tmp")
    import scala.jdk.CollectionConverters._
    val frame = spark.createDataFrame(rows.asJava, CkptSchema)
    // one part needs no shuffle: a local frame coalesces into it
    (if (parts == 1) frame.coalesce(1) else frame.repartition(parts))
      .write.mode("overwrite").parquet(tmp.toString)
    val target = new HPath(logDir, ckptParquetName(c.version))
    // rename-if-absent: a concurrent checkpointer of the same version
    // wrote identical state — losing the rename is a harmless no-op
    if (!f.rename(tmp, target)) { f.delete(tmp, true); () }
  }

  /** Distributed decode of the columnar checkpoint: a parquet scan (the
    * heavy add-set decodes on executors, columnar) folded into the same
    * [[Commit]] the JSON sidecar carries; the caller's listing shows it
    * exists. The driver still materializes the file LIST — the same
    * driver-resident metadata footprint Delta accepts — but no longer
    * parses one monolithic JSON string for it. */
  private def readCheckpointParquet(spark: SparkSession, table: String,
      v: Long, withStats: Boolean): Commit = {
    val dir = new HPath(new HPath(table, LogDirName), ckptParquetName(v))
    val raw = spark.read.parquet(dir.toString)
    // reader compat: checkpoints written before a meta field existed
    // lack its column — surface it as null rather than failing the scan
    val compat = Seq("generated", "props").foldLeft(raw) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c,
        org.apache.spark.sql.functions.lit(null)
          .cast(MapType(StringType, StringType)))
    }
    // LIGHT decode: the two per-file map columns (stats, blooms) are
    // the bulk of a large table's checkpoint — column pruning keeps
    // them out of both the scan and the driver fold
    val df = if (withStats) compat else compat
      .withColumn("stats", org.apache.spark.sql.functions.lit(null)
        .cast(MapType(StringType,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
      .withColumn("blooms", org.apache.spark.sql.functions.lit(null)
        .cast(MapType(StringType, StringType)))
    val rows = df
      .as(org.apache.spark.sql.Encoders.product[CkptRow]).collect()
    val meta = rows.find(_.kind == "meta").getOrElse(
      throw new IllegalStateException(
        s"columnar checkpoint $dir has no meta row"))
    val adds = rows.filter(_.kind == "add").sortBy(_.ord)
    Commit(meta.version.get, "checkpoint",
      add = adds.map(_.path.get).toSeq,
      remove = Seq.empty, schemaDdl = meta.schemaDdl.get,
      timestampMs = meta.timestampMs.get,
      stats = adds.flatMap(r => r.stats.map(m => r.path.get ->
        m.map { case (col, lohi) => col -> ((lohi.head, lohi(1))) }))
        .toMap,
      txns = rows.filter(_.kind == "txn")
        .map(r => r.appId.get -> r.batchId.get).toMap,
      sizes = adds.flatMap(r => r.size.map(r.path.get -> _)).toMap,
      dvAdd = rows.filter(_.kind == "dv").sortBy(_.ord)
        .map(_.path.get).toSeq,
      copied = rows.filter(_.kind == "copy").sortBy(_.ord)
        .map(_.path.get).toSeq,
      blooms = adds.flatMap(r => r.blooms.map(r.path.get -> _)).toMap,
      colMap = meta.colMap.getOrElse(Map.empty),
      checks = meta.checks.getOrElse(Map.empty),
      generated = meta.generated.getOrElse(Map.empty),
      props = meta.props.getOrElse(Map.empty))
  }

  /** The live add-set at `asOf` as a DISTRIBUTED DataFrame
    * `(path, size, stats, blooms)` — the scan-planning form: the bulk
    * of the set (the newest subsumed columnar checkpoint) stays a
    * parquet scan that never materializes per-file stats on the
    * driver; only the commit TAIL after the checkpoint (bounded by the
    * checkpoint cadence) is folded driver-side and unioned in, with
    * checkpoint files removed since excluded by an anti-join against
    * the (small, broadcast) tail-remove set. None when no columnar
    * checkpoint covers the version — callers fall back to the
    * driver-map path. */
  private[sources] def liveAddsFrame(spark: SparkSession, table: String,
      asOf: Option[Long]): Option[DataFrame] = {
    val listing = listLog(spark, table)
    val upTo = asOf match {
      case Some(v) => listing.versions.filter(_ <= v)
      case None => listing.versions
    }
    if (upTo.isEmpty) return None
    val cks = listing.checkpointVersions.filter(_ <= upTo.last)
    if (cks.isEmpty) return None
    val cv = cks.last
    if (!listing.parquetCheckpoints(cv)) return None
    val dir = new HPath(new HPath(table, LogDirName), ckptParquetName(cv))
    // tail fold (driver, checkpoint-cadence-bounded): net adds and the
    // set of checkpoint files removed since
    val removed = mutable.LinkedHashSet.empty[String]
    val tailAdds = mutable.LinkedHashMap.empty[String,
      (Option[Long], Map[String, (Double, Double)], Map[String, String])]
    upTo.filter(_ > cv).foreach { v =>
      val c = readCommit(spark, table, v)
      c.remove.foreach { f => tailAdds -= f; removed += f }
      c.add.foreach { f =>
        removed -= f
        tailAdds += f -> ((c.sizes.get(f),
          c.stats.getOrElse(f, Map.empty), c.blooms.getOrElse(f, Map.empty)))
      }
    }
    val statsArr = (m: Map[String, (Double, Double)]) =>
      if (m.isEmpty) null
      else m.map { case (c, (lo, hi)) => c -> Seq(lo, hi) }
    import spark.implicits._
    val ckptAdds = spark.read.parquet(dir.toString)
      .filter(col("kind") === "add")
      .select(col("path"), col("size"),
        col("stats").cast(MapType(StringType,
          ArrayType(org.apache.spark.sql.types.DoubleType))),
        col("blooms"))
    // tail-net-adds replace same-path checkpoint rows (restore re-adds
    // old paths with fresh stats); broadcast anti-join keeps the
    // exclusion scalable however large the tail overwrite was
    val excl = (removed ++ tailAdds.keys).toSeq
    val ckptKept =
      if (excl.isEmpty) ckptAdds
      else ckptAdds.join(broadcast(excl.toDF("path")), Seq("path"),
        "left_anti")
    val tailDf = tailAdds.toSeq.map { case (f, (sz, st, bl)) =>
      (f, sz.getOrElse(-1L), Option(statsArr(st)),
        if (bl.isEmpty) None else Some(bl))
    }.toDF("path", "size", "stats", "blooms")
      .select(col("path"),
        when(col("size") < 0, lit(null)).otherwise(col("size"))
          .cast("long").as("size"),
        col("stats").cast(MapType(StringType,
          ArrayType(org.apache.spark.sql.types.DoubleType))),
        col("blooms").cast(MapType(StringType, StringType)))
    Some(ckptKept.unionByName(tailDf))
  }

  /** Versions with a checkpoint file, ascending. */
  def checkpointVersions(spark: SparkSession, table: String): Seq[Long] =
    listLog(spark, table).checkpointVersions

  /** Decoded-checkpoint cache. Sound because a checkpoint at (table, v)
    * is immutable once written (put-if-absent arbiter); the JSON
    * sidecar's modification time and the parquet dir's existence are in
    * the key so a dropped-and-recreated table at the same path, or a
    * parquet dir appearing/vanishing (vacuum, compat tables), can never
    * serve a stale decode. Bounds the per-snapshot cost of the columnar
    * decode to one Spark job per checkpoint LIFETIME instead of one per
    * replay — the same reason Delta caches Snapshot objects. The writer
    * seeds it with the checkpoint it just wrote, so a checkpoint written
    * in this process is never decoded in it. */
  private val ckptCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Boolean), Commit]()

  /** Stats-free decodes of the columnar checkpoint (membership /
    * schema / sizes / dvs / txns / meta, NO per-file stats or bloom
    * maps) — the snapshot-planning fast path. Same immutability
    * argument as [[ckptCache]]. */
  private val ckptLightCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Boolean), Commit]()

  private def cachePut[K, V](cache: java.util.concurrent.ConcurrentHashMap[
      K, V], k: K, v: V): Unit = {
    if (cache.size > 256) cache.clear()
    cache.put(k, v)
    ()
  }

  /** The checkpoint at `v` as the listing found it, and whether the
    * decode carries per-file stats and blooms (false only for a LIGHT
    * decode of a columnar checkpoint). */
  private def readCheckpoint(spark: SparkSession, table: String,
      listing: LogListing, v: Long, withStats: Boolean): (Commit, Boolean) = {
    val mod = listing.checkpoints.collectFirst { case (`v`, m) => m }
      .getOrElse(-1L)
    val hasParquet = listing.parquetCheckpoints(v)
    // the FULL decode (stats + blooms folded into the driver Commit)
    // answers any request; a LIGHT request (membership/schema/sizes
    // only — the snapshot/planning path) decodes without the two
    // per-file map columns, keeping scan PLANNING metadata off the
    // driver until something (fileStats, the driver-side pruning
    // fallback) actually demands it
    val key = (table, v, mod, hasParquet)
    Option(ckptCache.get(key)) match {
      case Some(c) => return (c, true)
      case None => ()
    }
    if (!withStats && hasParquet) {
      val c = Option(ckptLightCache.get(key)).getOrElse {
        LogCounters.checkpointDecodes.incrementAndGet()
        val c = readCheckpointParquet(spark, table, v, withStats = false)
        cachePut(ckptLightCache, key, c)
        c
      }
      return (c, false)
    }
    LogCounters.checkpointDecodes.incrementAndGet()
    val c =
      if (hasParquet) readCheckpointParquet(spark, table, v, withStats = true)
      // reader-compat fallback: checkpoints written before the columnar
      // form existed (or whose parquet write raced a crash) keep working
      else readJson(spark, table, ckptName(v))
    cachePut(ckptCache, key, c)
    (c, true)
  }

  /** Write a checkpoint at `asOf` (default: latest version). Idempotent —
    * a concurrent/prior checkpoint at the same version is a no-op (the
    * state it encodes is identical by construction). Returns the
    * checkpointed version. */
  def checkpoint(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Long = {
    val listing = listLog(spark, table)
    require(listing.commits.nonEmpty,
      s"$table is not a GraftLog table (no $LogDirName)")
    val v = asOf.getOrElse(listing.latest.get)
    writeCheckpoint(spark, table,
      stateIn(spark, table, listing, Some(v), withStats = true))
    v
  }

  /** Write the checkpoint of `st` (a full-stats state): its live files
    * with stats, sizes and blooms, the schema and metadata in force, and
    * the folded txn and COPY INTO ledgers. */
  private def writeCheckpoint(spark: SparkSession, table: String,
      st: TableState): Unit = {
    val c = Commit(st.version, "checkpoint", st.files, Seq.empty,
      st.schema.toDDL, System.currentTimeMillis(),
      stats = st.stats.filter(_._2.nonEmpty), txns = st.txns,
      sizes = st.sizes, dvAdd = st.dvs, blooms = st.blooms,
      colMap = st.colMap, checks = st.checks, generated = st.generated,
      props = st.props, copied = st.copied)
    // JSON first — it is the put-if-absent existence arbiter (and the
    // compat fallback); the columnar form is written only by the writer
    // that won the race, so exactly one parquet job runs per version
    if (putIfAbsent(spark, table, ckptName(st.version), toJson(c))) {
      writeCheckpointParquet(spark, table, c)
      val mod = fs(spark, table).getFileStatus(new HPath(
        new HPath(table, LogDirName), ckptName(st.version)))
        .getModificationTime
      cachePut(ckptCache, (table, st.version, mod, true), c)
    }
  }

  // ---------------------------------------------------------- table state
  // One immutable TableState per version read: the replay of commits
  // from the newest checkpoint at or below it. The state of each
  // table's LATEST version is memoized by table root; an operation
  // lists the log once, checks the memo against the listed commit
  // files' (mtime, length) stamps, and folds only the commits newer
  // than it — the snapshot + checkpoint + tail-replay design of the
  // Delta Lake paper. A writer folds its own commit into the state it
  // read, so a run of commits to one table reads no commit file back.

  /** The table at `version`. `files` are table-root-relative, in add
    * order; `stats` has an entry (possibly empty) per live file. `last`
    * is the commit at `version`, whose colMap / checks / generated /
    * props / tags are the table's by the writeCommit inheritance
    * invariant. `withStats` is false when the state started from a
    * LIGHT checkpoint decode (no per-file stats or blooms for the files
    * it carried). `stamps` are the commit-file stamps the state was
    * built from, for memo validation. */
  private[graft] final case class TableState(version: Long,
      files: Vector[String],
      stats: Map[String, Map[String, (Double, Double)]],
      sizes: Map[String, Long],
      blooms: Map[String, Map[String, String]],
      dvs: Vector[String],
      schema: StructType,
      last: Commit,
      txns: Map[String, Long],
      copied: Vector[String],
      withStats: Boolean,
      stamps: Map[Long, (Long, Long)]) {
    def colMap: Map[String, String] = last.colMap
    def checks: Map[String, String] = last.checks
    def generated: Map[String, String] = last.generated
    def props: Map[String, String] = last.props
    /** Live files with their stats, in add order. */
    def live: Seq[(String, Map[String, (Double, Double)])] =
      files.map(f => f -> stats.getOrElse(f, Map.empty))
    def liveMap: scala.collection.immutable.VectorMap[String,
        Map[String, (Double, Double)]] =
      scala.collection.immutable.VectorMap.from(live)
  }

  /** Folds commits (a checkpoint first, if any) onto a state. */
  private final class StateBuilder(base: Option[TableState]) {
    private var files = base.fold(Vector.empty[String])(_.files)
    private var stats = base.fold(
      Map.empty[String, Map[String, (Double, Double)]])(_.stats)
    private var sizes = base.fold(Map.empty[String, Long])(_.sizes)
    private var blooms = base.fold(
      Map.empty[String, Map[String, String]])(_.blooms)
    private var dvs = base.fold(Vector.empty[String])(_.dvs)
    private var txns = base.fold(Map.empty[String, Long])(_.txns)
    private var copied = base.fold(Vector.empty[String])(_.copied)
    private var schemaDdl = base.map(_.last.schemaDdl).orNull
    var last: Commit = base.map(_.last).orNull
    var withStats: Boolean = base.forall(_.withStats)

    def fold(c: Commit): Unit = {
      if (c.remove.nonEmpty) {
        val gone = c.remove.toSet
        files = files.filterNot(gone)
        stats --= c.remove; sizes --= c.remove; blooms --= c.remove
      }
      c.add.foreach { f =>
        if (!stats.contains(f)) files :+= f
        stats += f -> c.stats.getOrElse(f, Map.empty)
        c.sizes.get(f).foreach(n => sizes += f -> n)
        c.blooms.get(f).foreach(b => blooms += f -> b)
      }
      if (c.dvRemove.nonEmpty) dvs = dvs.filterNot(c.dvRemove.toSet)
      c.dvAdd.foreach(d => if (!dvs.contains(d)) dvs :+= d)
      // the txn ledger: a checkpoint carries the folded map, a commit
      // its own (appId, batchId)
      (c.txns.toSeq ++ c.txn).foreach { case (app, b) =>
        txns += app -> txns.get(app).fold(b)(math.max(_, b)) }
      if (c.copied.nonEmpty) {
        val seen = copied.toSet
        copied ++= c.copied.distinct.filterNot(seen)
      }
      schemaDdl = c.schemaDdl
      last = c
    }

    def result(version: Long, stamps: Map[Long, (Long, Long)]): TableState = {
      val schema = base match {
        case Some(b) if b.last.schemaDdl == schemaDdl => b.schema
        case _ => StructType.fromDDL(schemaDdl)
      }
      TableState(version, files, stats, sizes, blooms, dvs, schema, last,
        txns, copied, withStats, stamps)
    }
  }

  /** Replay the state at `target` (a listed version) from the newest
    * checkpoint at or below it. */
  private def buildState(spark: SparkSession, table: String,
      listing: LogListing, target: Long, withStats: Boolean): TableState = {
    val b = new StateBuilder(None)
    val cv = listing.checkpointVersions.filter(_ <= target).lastOption
    cv.foreach { v =>
      val (c, full) = readCheckpoint(spark, table, listing, v, withStats)
      b.fold(c)
      b.withStats = full
    }
    val tail = listing.versions.filter(v => v <= target && cv.forall(v > _))
    tail.foreach(v => b.fold(readCommit(spark, table, v)))
    // a state that IS a checkpoint still carries its own commit (tags,
    // timestamp and operation are not in the checkpoint)
    if (tail.isEmpty) b.last = readCommit(spark, table, target)
    b.result(target, listing.stamps.filter(_._1 <= target))
  }

  /** Latest-version state per table root; bounded like [[ckptCache]]. */
  private val stateMemo =
    new java.util.concurrent.ConcurrentHashMap[String, TableState]()

  private def remember(table: String, st: TableState): Unit =
    cachePut(stateMemo, table, st)

  /** Forget every memoized state and decoded checkpoint, so the next
    * read of any table replays from its files. */
  private[graft] def resetStateMemo(): Unit = {
    stateMemo.clear(); ckptCache.clear(); ckptLightCache.clear()
  }

  /** The memo for `table`, when every commit file it was built from
    * that the listing still shows carries the same stamp, and its own
    * version is still listed. A table dropped and recreated at the same
    * path, or a commit file rewritten in place, fails this. */
  private def validMemo(table: String, listing: LogListing)
      : Option[TableState] =
    Option(stateMemo.get(table)).filter { m =>
      listing.stamps.get(m.version).exists(m.stamps.get(m.version).contains) &&
        listing.commits.forall { case (v, s) =>
          v > m.version || m.stamps.get(v).contains(s) }
    }

  /** The latest state for a listing: the memo as is, the memo advanced
    * by the commits listed after it, or a replay. */
  private def latestState(spark: SparkSession, table: String,
      listing: LogListing, withStats: Boolean): Option[TableState] =
    listing.latest match {
      case None =>
        stateMemo.remove(table)
        None
      case Some(latest) =>
        val memo = validMemo(table, listing)
          .filter(m => m.withStats || !withStats)
        val st = memo match {
          case Some(m) if m.version == latest =>
            LogCounters.memoHits.incrementAndGet()
            m
          case Some(m) if listing.commits.count(_._1 > m.version) ==
              latest - m.version =>
            val b = new StateBuilder(Some(m))
            listing.versions.filter(_ > m.version)
              .foreach(v => b.fold(readCommit(spark, table, v)))
            b.result(latest, listing.stamps)
          case _ => buildState(spark, table, listing, latest, withStats)
        }
        if (!memo.exists(_ eq st)) remember(table, st)
        Some(st)
    }

  /** The state at `asOf` for a listing: the latest through the memo, an
    * older version by a replay that bypasses it. `asOf` must name an
    * EXISTING version: probing a version vacuum has truncated raises
    * IllegalArgumentException by design (vacuumed versions are
    * documented as not time-travelable — see [[vacuum]]); silently
    * answering from the surviving state would misattribute a later
    * snapshot to the requested version. */
  private def stateIn(spark: SparkSession, table: String,
      listing: LogListing, asOf: Option[Long], withStats: Boolean)
      : TableState = asOf.filterNot(listing.latest.contains) match {
    case Some(v) =>
      require(listing.stamps.contains(v), s"version $v of $table does " +
        s"not exist (have ${listing.versions.mkString(",")})")
      buildState(spark, table, listing, v, withStats)
    case None =>
      val st = latestState(spark, table, listing, withStats)
      require(st.nonEmpty, s"$table is not a GraftLog table (no $LogDirName)")
      st.get
  }

  /** The latest state of `table` (None for an empty or missing log):
    * one listing, then the memo. */
  private[graft] def logState(spark: SparkSession, table: String,
      withStats: Boolean = false): Option[TableState] =
    latestState(spark, table, listLog(spark, table), withStats)

  /** The state at `asOf` (default latest) of a table that must exist. */
  private[graft] def stateAt(spark: SparkSession, table: String,
      asOf: Option[Long] = None, withStats: Boolean = false): TableState =
    stateIn(spark, table, listLog(spark, table), asOf, withStats)

  /** `f` of the state at `asOf`, or `empty` when the table has no log. */
  private def ofState[A](spark: SparkSession, table: String,
      asOf: Option[Long], withStats: Boolean, empty: => A)(
      f: TableState => A): A = {
    val listing = listLog(spark, table)
    if (listing.commits.isEmpty) empty
    else f(stateIn(spark, table, listing, asOf, withStats))
  }

  /** The commit at `asOf` (default latest): the latest state's, or one
    * commit read below it. None for an empty log. */
  private def commitAt(spark: SparkSession, table: String,
      asOf: Option[Long]): Option[Commit] = {
    val listing = listLog(spark, table)
    listing.latest.map { latest =>
      val v = asOf.getOrElse(latest)
      require(listing.stamps.contains(v),
        s"version $v of $table does not exist")
      if (v == latest)
        latestState(spark, table, listing, withStats = false).get.last
      else readCommit(spark, table, v)
    }
  }

  /** Live file set (table-root-relative) + schema after replaying
    * commits (from the newest subsumed checkpoint) up to asOf. */
  def snapshot(spark: SparkSession, table: String,
      asOf: Option[Long] = None): (Seq[String], StructType) = {
    val st = stateAt(spark, table, asOf)
    (st.files, st.schema)
  }

  /** Active column mapping: PHYSICAL column name (what the parquet files
    * and every commit's `schemaDdl` use) → LOGICAL name (what users see),
    * entries only where the two differ. Empty on tables that never had a
    * rename — the common case, where logical == physical throughout. A
    * RETIRED physical name (a dropped column whose name must never be
    * reused for data, or old files would resurrect its values) maps to
    * the empty string. */
  def columnMapping(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Map[String, String] =
    ofState(spark, table, asOf, withStats = false,
      Map.empty[String, String])(_.colMap)

  /** The user-visible schema: physical fields renamed through the
    * mapping, retired markers excluded. */
  private[sources] def logicalSchema(phys: StructType,
      cmap: Map[String, String]): StructType =
    if (cmap.isEmpty) phys
    else StructType(phys.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))

  /** Rename physical columns to their logical names; `keep` columns
    * (metadata/bookkeeping) pass through unchanged. */
  private def toLogicalDf(df: DataFrame, phys: StructType,
      cmap: Map[String, String], keep: Seq[String] = Seq.empty): DataFrame =
    if (cmap.isEmpty) df
    else df.select(phys.fields.map(f =>
      col(f.name).as(cmap.getOrElse(f.name, f.name))).toSeq ++
      keep.map(col): _*)

  /** Inverse of [[toLogicalDf]]: a frame carrying logical columns
    * re-keyed to physical names (and physical field order) for staging. */
  private def toPhysicalDf(df: DataFrame, phys: StructType,
      cmap: Map[String, String]): DataFrame =
    if (cmap.isEmpty) df
    else df.select(phys.fields.map(f =>
      col(cmap.getOrElse(f.name, f.name)).as(f.name)).toSeq: _*)

  /** Physical name behind a logical column name (identity when the
    * column was never renamed). */
  private def physNameOf(cmap: Map[String, String], logical: String)
      : String =
    cmap.collectFirst {
      case (p, l) if l.equalsIgnoreCase(logical) => p
    }.getOrElse(logical)

  /** Byte sizes of the live files, as recorded in their commits (files
    * committed before sizes were logged are simply absent — callers fall
    * back to a filesystem probe). Lets a FileIndex synthesize FileStatus
    * without one namenode RPC per live file, the way Delta carries sizes
    * in its log. */
  def fileSizes(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Map[String, Long] =
    ofState(spark, table, asOf, withStats = false,
      Map.empty[String, Long])(_.sizes)

  /** Deletion-vector sidecar files active in the snapshot (relative
    * paths, add order) — empty when every delete was materialized. */
  def deletionVectors(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Seq[String] =
    ofState(spark, table, asOf, withStats = false, Seq.empty[String])(_.dvs)

  /** Per-file Bloom bitmaps (column → base64 bitset) of the live files —
    * the string-column point-lookup complement of the numeric min/max
    * stats, commit-log metadata like everything else. */
  def fileBlooms(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Map[String, Map[String, String]] =
    ofState(spark, table, asOf, withStats = true,
      Map.empty[String, Map[String, String]])(_.blooms)

  /** Is `path` a graft table (has a log with at least one commit)? */
  def isGraftTable(spark: SparkSession, table: String): Boolean =
    try versions(spark, table).nonEmpty catch { case _: Exception => false }

  /** Live files + their COMMIT-LOGGED sizes + schema: the metadata an
    * external planner (the V2 SPJ catalog) needs, from one log replay —
    * zero data files opened, zero filesystem listings. */
  def liveFilesSized(spark: SparkSession, table: String,
      asOf: Option[Long] = None): (Seq[(String, Long)], StructType) = {
    val st = stateAt(spark, table, asOf)
    // a zero length would make the V2 parquet read silently EMPTY, so a
    // file some pre-size-logging commit added falls back to one status
    // RPC — the exception, never the per-file rule
    lazy val hfs = fs(spark, table)
    (st.files.map { f =>
      f -> st.sizes.get(f).filter(_ > 0L).getOrElse(
        hfs.getFileStatus(new HPath(absPath(table, f))).getLen)
    }, st.schema)
  }

  /** The SPJ catalog's soundness gate (the t41/d25 rule): it reads data
    * files directly, so every column must LIVE in the files. Visible
    * hive layouts (values in dir names), active deletion vectors, and
    * column mapping refuse loudly and point at `format("graft")`. */
  private[sources] def requireSpjReadable(spark: SparkSession,
      table: String, asOf: Option[Long] = None): Unit = {
    val st = stateAt(spark, table, asOf)
    checkReaderFeatures(table, st.props) // the protocol gate first
    require(st.dvs.isEmpty,
      s"$table has active deletion vectors - the SPJ catalog reads " +
        "files verbatim; read via format(\"graft\") or REORG APPLY " +
        "(PURGE) first")
    require(st.colMap.isEmpty,
      s"$table uses column mapping - the SPJ catalog exposes physical " +
        "names; read via format(\"graft\")")
    val visible = st.files.flatMap(_.split('/').dropRight(1).toSeq)
      .filter(_.contains('=')) // col=val dirs only, never _data/<uuid>
      .map(_.takeWhile(_ != '=')).distinct
      .filterNot(HiddenBucketDir.matches)
    require(visible.isEmpty,
      s"$table is hive-partitioned on ${visible.mkString(",")} - " +
        "partition values live in dir names, not data files; read via " +
        "format(\"graft\")")
  }

  /** [[bucketFor]] over a value already in Catalyst INTERNAL form
    * (UTF8String etc.) — the V2 bucket function's eval path. */
  private[sources] def bucketForInternal(value: Any,
      dt: org.apache.spark.sql.types.DataType, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, XxHash64}
    val h = XxHash64(Seq(CLit(value, dt)), 42L)
      .eval(null).asInstanceOf[Long]
    (((h % n) + n) % n).toInt
  }

  /** Read the table at its latest version (or `VERSION AS OF asOf`). An
    * empty live set still yields a correctly-typed empty frame. */
  def read(spark: SparkSession, table: String,
      asOf: Option[Long] = None): DataFrame = {
    val st = stateAt(spark, table, asOf)
    checkReaderFeatures(table, st.props)
    val (files, schema, dvs) = (st.files, st.schema, st.dvs)
    val base =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else if (dvs.nonEmpty)
        // merge-on-read: mask DV-deleted positions (flat layouts only —
        // deleteVectors enforces that at write time)
        readWithDvs(spark, table, st, files, schema)
      else if (hasPartitionedFiles(files))
        // hive layout: partition columns live in the paths, so the read
        // goes through the FileIndex (which also re-exposes them in the
        // table's original column order)
        GraftFileIndex.read(spark, table, asOf)
          .select(schema.fieldNames.map(col).toSeq: _*)
      else spark.read.schema(schema)
        .parquet(files.map(f => absPath(table, f)): _*)
    // column mapping: files carry physical names; users see logical ones
    toLogicalDf(base, schema, st.colMap)
  }

  /** `VERSION AS OF n` — the time-travel read. */
  def readVersion(spark: SparkSession, table: String, v: Long): DataFrame =
    read(spark, table, Some(v))

  /** Delta's `TIMESTAMP AS OF` contract: the latest version whose commit
    * timestamp is at or before `ms` (epoch millis) — probing before the
    * first retained commit is an error, not a silent empty read. Commit-
    * count-sized metadata walk. */
  /** Earliest RETAINED version whose commit timestamp is at-or-after
    * `ms` — the resolution rule of Delta's streaming
    * `startingTimestamp` (contrast [[versionAt]], the at-or-before rule
    * batch time travel uses: a stream wants "changes since t", a read
    * wants "state as of t"). */
  def versionAtOrAfter(spark: SparkSession, table: String,
      ms: Long): Option[Long] =
    versions(spark, table).find(v =>
      readCommit(spark, table, v).timestampMs >= ms)

  def versionAt(spark: SparkSession, table: String, ms: Long): Long = {
    val vs = versions(spark, table)
      .filter(v => readCommit(spark, table, v).timestampMs <= ms)
    require(vs.nonEmpty,
      s"no commit of $table at or before the requested timestamp " +
        "(first commit is later); use VERSION AS OF or a later timestamp")
    vs.max
  }

  /** Commit history, newest first — the `DESCRIBE HISTORY` analog. */
  /** Number of files commit `v` removed — one small-JSON read. The
    * erasure paths use this to recognize a NO-OP delete (re-erasing
    * already-erased keys) and skip their O(state) sidecar re-mint: a
    * delete that rewrote nothing left the state bit-identical. */
  def removedFilesAt(spark: SparkSession, table: String, v: Long): Int =
    readCommit(spark, table, v).remove.size

  def history(spark: SparkSession, table: String): DataFrame = {
    val rows = versions(spark, table).map(readCommit(spark, table, _))
      .map(c => (c.version, c.operation, c.add.size, c.remove.size,
        new java.sql.Timestamp(c.timestampMs)))
    spark.createDataFrame(rows.reverse)
      .toDF("version", "operation", "n_added_files", "n_removed_files",
        "timestamp")
  }

  // ------------------------------------------------------------ mutations

  /** Write `df`'s rows into a fresh immutable data dir, return the
    * relative paths of the files produced with their byte sizes (logged
    * in the commit so readers never pay per-file status RPCs). */
  private def stageData(df: DataFrame, table: String)
      : (Seq[String], Map[String, Long]) = {
    val rel = s"$DataDirName/${UUID.randomUUID()}"
    val dir = s"$table/$rel"
    df.write.parquet(dir)
    val f = fs(df.sparkSession, table)
    val entries = f.listStatus(new HPath(dir)).toSeq
      .filter(st => st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("."))
      .map(st => s"$rel/${st.getPath.getName}" -> st.getLen)
      .sortBy(_._1)
    (entries.map(_._1), entries.toMap)
  }

  // -------------------------------------------------------- data skipping

  private def numericFields(schema: StructType) =
    schema.fields.filter(f => f.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => true
      case _ => false
    })

  /** Suffix of the PSEUDO stats key carrying a column's null counts:
    * `<col>#nulls -> (nullCount, numRecords)` rides the same per-file
    * stats map as the min/max pairs (Delta's stats carry nullCount and
    * numRecords the same way), so commits, checkpoints, clones, and
    * restores serialize it with zero format changes. `#` cannot appear
    * in an unquoted SQL identifier, so the pseudo key never collides
    * with a real column's min/max entry. */
  private[sources] val NullStatsSuffix = "#nulls"

  /** Per-file skipping stats for freshly staged files — the Delta
    * data-skipping stats, stored in the commit: min/max for every
    * numeric column, plus `(nullCount, numRecords)` for EVERY column
    * under the `#nulls` pseudo key (doubles; exact to 2^53, far beyond
    * any file's row count). IS NULL / IS NOT NULL predicates prune on
    * the null counts where min/max can say nothing. One grouped pass
    * over the just-written files; a production writer would fold this
    * into the write itself, the protocol is identical. */
  private def collectStats(spark: SparkSession, table: String,
      files: Seq[String], schema: StructType)
      : Map[String, Map[String, (Double, Double)]] = {
    val nf = numericFields(schema)
    if (files.isEmpty || schema.isEmpty) return Map.empty
    // Fast path: derive the per-file stats from the parquet FOOTERS the
    // write already produced — metadata-priced, no second read of the
    // staged bytes (the scan below reads every written byte back, a 2x
    // write amplification every commit pays). min/max commute with the
    // long→double cast (monotone non-decreasing), so footer extrema
    // equal the scan's min(cast(c as double)) exactly; null counts and
    // row counts are exact footer fields. Nested types (array/map/
    // struct) have leaf-level footer stats that do NOT equal row-level
    // column null counts, and files written without statistics carry
    // none — any such surprise falls back to the one grouped scan, so
    // the stats a commit records are identical either way.
    footerStats(spark, table, files, schema) match {
      case Some(st) => return st
      case None => ()
    }
    val aggs = nf.flatMap(f => Seq(
      min(col(f.name).cast("double")).as(s"mn_${f.name}"),
      max(col(f.name).cast("double")).as(s"mx_${f.name}"))) ++
      schema.fields.map(f =>
        count(col(f.name)).as(s"nn_${f.name}")) :+
      count(lit(1)).as("__gf_rows")
    val rows = spark.read.schema(schema)
      .parquet(files.map(f => absPath(table, f)): _*)
      .withColumn("__gf_file", input_file_name())
      .groupBy(col("__gf_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    // match scanned URIs back to the staged relative paths by decoded
    // suffix — partitioned layouts repeat the same part-file NAME across
    // col=val dirs, so a name-only key would misattribute stats; keyed by
    // full relative path (everything from "_data/") so the lookup is an
    // O(1) map probe, not a linear scan per scanned file
    val staged = files.toSet
    rows.flatMap { r =>
      val scanned = new java.net.URI(r.getString(0)).getPath
      relPathOf(scanned).filter(staged.contains).map { f =>
        val total = r.getAs[Long]("__gf_rows").toDouble
        val minMax = nf.flatMap { fd =>
          val mn = r.getAs[Any](s"mn_${fd.name}")
          val mx = r.getAs[Any](s"mx_${fd.name}")
          if (mn == null || mx == null) None // all-null column: no stats
          else Some(fd.name ->
            ((mn.asInstanceOf[Double], mx.asInstanceOf[Double])))
        }
        val nulls = schema.fields.map { fd =>
          s"${fd.name}$NullStatsSuffix" ->
            ((total - r.getAs[Long](s"nn_${fd.name}").toDouble, total))
        }
        f -> (minMax ++ nulls).toMap
      }
    }.toMap
  }

  /** Footer-derived per-file stats (the [[collectStats]] fast path).
    * Returns None — caller falls back to the scan — when any file's
    * footer lacks the needed statistics. FLAT columns are one parquet
    * leaf whose Statistics carry exact numNulls (+ typed min/max for
    * the numeric families). NESTED columns (array/struct/map) have
    * leaf-level null counts that in general differ from the row-level
    * column null count — but one implication is exact: a row-level
    * NULL forces a definition level below max at EVERY leaf beneath
    * the field, so if every leaf chunk under the field reports
    * numNulls == 0 there are zero null rows and the recorded
    * `<col>#nulls` is exactly (0, rows), bit-identical to the scan's.
    * Any leaf null (which may be an empty array, a null element, or a
    * genuine null row — indistinguishable from the footer) falls back
    * to the scan. MinHash signature / embedding state tables write
    * dense never-null arrays, so their commits take the fast path. */
  private def footerStats(spark: SparkSession, table: String,
      files: Seq[String], schema: StructType)
      : Option[Map[String, Map[String, (Double, Double)]]] = {
    import org.apache.spark.sql.types._
    val nested = schema.fields.filter(_.dataType match {
      case _: StructType | _: ArrayType | _: MapType => true
      case _ => false
    }).map(_.name).toSet
    val numeric = numericFields(schema).map(_.name).toSet
    val conf = spark.sessionState.newHadoopConf()
    try {
      // one footer read per staged file, driver-side. Each read is
      // metadata-priced but latency-bound (~5-15 ms of local-FS stat +
      // open), and a hive-partitioned commit stages 64 files — read
      // them on a bounded pool instead of sequentially (pure IO fan-
      // out; per-file results are independent and order-preserved).
      def statsOf(f: String): Option[(String,
          Map[String, (Double, Double)])] = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new HPath(absPath(table, f)), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val blocks =
          try {
            import scala.jdk.CollectionConverters._
            r.getFooter.getBlocks.asScala.toSeq
          } finally r.close()
        import scala.jdk.CollectionConverters._
        val rows = blocks.map(_.getRowCount).sum
        // fold each column's chunks across row groups; bail (None) on
        // any chunk without exact null counts, or any non-empty numeric
        // chunk without min/max
        val perCol: Seq[Option[(String, Seq[(String, (Double, Double))])]] =
          schema.fields.toSeq.map { fd =>
            if (nested(fd.name)) {
              // every leaf under the field, in every row group, must
              // carry exact stats with ZERO nulls for the row-level
              // null count to be provably 0 (scaladoc above)
              val leafChunks = blocks.map(_.getColumns.asScala.filter(
                _.getPath.toDotString.startsWith(fd.name + ".")))
              if (leafChunks.exists(_.isEmpty)) None
              else {
                val sts = leafChunks.flatten.map(_.getStatistics)
                if (sts.exists(s => s == null || !s.isNumNullsSet) ||
                    sts.exists(_.getNumNulls != 0L)) None
                else Some(fd.name -> Seq(
                  s"${fd.name}$NullStatsSuffix" -> ((0.0, rows.toDouble))))
              }
            } else {
            val chunks = blocks.flatMap(_.getColumns.asScala.find(
              _.getPath.toDotString == fd.name))
            if (chunks.size != blocks.size) None
            else {
              val stats = chunks.map(_.getStatistics)
              if (stats.exists(s => s == null || !s.isNumNullsSet)) None
              else {
                val nulls = stats.map(_.getNumNulls).sum
                val nullsKv = s"${fd.name}$NullStatsSuffix" ->
                  ((nulls.toDouble, rows.toDouble))
                if (!numeric(fd.name)) Some(fd.name -> Seq(nullsKv))
                else {
                  val nonEmpty = stats.filter(_.hasNonNullValue)
                  if (nonEmpty.isEmpty && nulls < rows) None // no stats
                  else if (nonEmpty.isEmpty) // all-null column
                    Some(fd.name -> Seq(nullsKv))
                  else {
                    val mns = nonEmpty.map(s =>
                      numberOf(s.genericGetMin))
                    val mxs = nonEmpty.map(s =>
                      numberOf(s.genericGetMax))
                    if (mns.contains(None) || mxs.contains(None)) None
                    else Some(fd.name -> Seq(
                      fd.name -> ((mns.flatten.min, mxs.flatten.max)),
                      nullsKv))
                  }
                }
              }
            }
            }
          }
        if (perCol.contains(None)) None
        else Some(f -> perCol.flatten.flatMap(_._2).toMap)
      }
      val perFile: Seq[Option[(String, Map[String, (Double, Double)])]] =
        if (files.size <= 2) files.map(statsOf)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(files.size, 16))
          try {
            import scala.jdk.CollectionConverters._
            pool.invokeAll(files.map(f =>
                new java.util.concurrent.Callable[
                  Option[(String, Map[String, (Double, Double)])]] {
                  def call() = statsOf(f)
                }).asJava)
              .asScala.toSeq.map(_.get())
          } finally pool.shutdown()
        }
      if (perFile.contains(None)) None
      else Some(perFile.flatten.toMap)
    } catch {
      // unwrap pool-worker failures first (ExecutionException is itself
      // non-fatal, but its CAUSE may not be — re-throw fatal causes)
      case e: java.util.concurrent.ExecutionException =>
        e.getCause match {
          case scala.util.control.NonFatal(_) => None
          case t => throw t
        }
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Typed footer min/max → the double the scan's `cast(c as double)`
    * yields (exact for int/short; the long/float→double conversions are
    * monotone, so extrema commute with the cast). */
  private def numberOf(v: Any): Option[Double] = v match {
    case i: java.lang.Integer => Some(i.intValue.toDouble)
    case l: java.lang.Long    => Some(l.longValue.toDouble)
    case f: java.lang.Float   => Some(f.floatValue.toDouble)
    case d: java.lang.Double  => Some(d.doubleValue)
    case _ => None
  }

  /** Table-root-relative path of an absolute scanned path: the suffix
    * from the staging dir marker on. Every data file lives under
    * `<table>/_data/...`, and partition VALUES cannot smuggle a
    * `/_data/` segment in (hive-escaping encodes slashes), so the last
    * occurrence of the marker is the staging root. */
  private def relPathOf(absolute: String): Option[String] = {
    val marker = s"/$DataDirName/"
    val i = absolute.lastIndexOf(marker)
    if (i < 0) None else Some(absolute.substring(i + 1))
  }

  /** Result of staging a write: file list, per-file min/max stats,
    * per-file byte sizes — everything the commit records per added file. */
  private case class Staged(files: Seq[String],
      stats: Map[String, Map[String, (Double, Double)]],
      sizes: Map[String, Long])

  // ------------------------------------------------------- bloom indexes

  /** Bloom sizing: m bits / k probes. At m=65536, k=4 a file of 5k
    * distinct values sits near FPR 1e-3; the bitmap is 8 KiB base64 in
    * the commit — metadata-priced. Production would size m per expected
    * rows/file; the PROTOCOL (per-file bitmaps in the log, probes at
    * plan time) is what matters. */
  private[sources] val BloomBits = 65536
  private[sources] val BloomHashes = 4

  /** Per-file Bloom bitmaps over `cols` for freshly staged files — the
    * string-column complement of [[collectStats]] (min/max cannot prune
    * point lookups on hash-distributed strings). k seeded xxhash64
    * probes per value; the per-file position sets come back in one
    * grouped pass and fold into base64 bitsets driver-side (staged
    * files of ONE commit — bounded, like the stats collect). */
  private def collectBlooms(spark: SparkSession, table: String,
      files: Seq[String], schema: StructType, cols: Seq[String])
      : Map[String, Map[String, String]] = {
    if (cols.isEmpty || files.isEmpty) return Map.empty
    cols.foreach(c => require(schema.fields.exists(f =>
      f.name.equalsIgnoreCase(c) &&
        f.dataType == org.apache.spark.sql.types.StringType),
      s"bloom index column $c must be a STRING column of the table"))
    val posArrays = cols.map { c =>
      when(col(c).isNotNull, array((0 until BloomHashes).map(i =>
        pmod(xxhash64(col(c), lit(i)), lit(BloomBits.toLong)).cast("int"))
        : _*))
        .otherwise(array().cast("array<int>")).as(s"__pa_$c")
    }
    val aggs = cols.map(c =>
      array_distinct(flatten(collect_list(col(s"__pa_$c"))))
        .as(s"__pos_$c"))
    val rows = spark.read.schema(schema)
      .parquet(files.map(f => absPath(table, f)): _*)
      .withColumn("__gf_file", input_file_name())
      .select(col("__gf_file") +: posArrays: _*)
      .groupBy(col("__gf_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val staged = files.toSet
    rows.flatMap { r =>
      val scanned = new java.net.URI(r.getString(0)).getPath
      relPathOf(scanned).filter(staged.contains).map { f =>
        f -> cols.zipWithIndex.map { case (c, i) =>
          val bits = new java.util.BitSet(BloomBits)
          r.getSeq[Int](i + 1).foreach(bits.set)
          c -> java.util.Base64.getEncoder.encodeToString(bits.toByteArray)
        }.toMap
      }
    }.toMap
  }

  /** The k probe positions of one literal value — the EXACT hash
    * pipeline of the write side (`pmod(xxhash64(value, seed), m)`),
    * evaluated through the same Catalyst expression so a probe can
    * never drift from the stored bitmaps. */
  private[sources] def bloomPositionsFor(value: Any,
      dt: org.apache.spark.sql.types.DataType): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, XxHash64}
    (0 until BloomHashes).map { i =>
      val h = XxHash64(Seq(CLit.create(value, dt), CLit(i)), 42L)
        .eval(null).asInstanceOf[Long]
      val m = BloomBits.toLong
      (((h % m) + m) % m).toInt
    }
  }

  /** Atomic overwrite with per-file Bloom indexes on `bloomCols` — the
    * Delta bloom-filter-index analog: point lookups on the indexed
    * string columns prune files inside the planner
    * ([[GraftFileIndex]]), where min/max stats keep everything. */
  def overwriteIndexed(df: DataFrame, table: String,
      bloomCols: Seq[String]): Long = {
    val c = conform(table, logState(df.sparkSession, table), df,
      "overwriteIndexed", Replace)
    val s = stage(table, c)
    claim(table, c, s, "overwrite", blooms = collectBlooms(df.sparkSession,
      table, s.files, c.df.schema, bloomCols))
  }

  /** Delta's `optimizeWrite` analog — the WRITE-SIDE half of the
    * small-file story ([[maybeAutoCompact]] is the repair half; this is
    * prevention). When a table opts in (`graft.optimizeWrite` = true,
    * overridable per session via `spark.graft.optimizeWrite.enabled`),
    * ingest batches pass through an AQE REBALANCE before staging:
    * Spark's `RebalancePartitions` shuffles by the partition columns
    * and lets adaptive execution both COALESCE undersized shuffle
    * partitions and SPLIT skewed ones toward the advisory size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`). The result: a
    * partitioned ingest writes ~⌈partition bytes / advisory⌉ right-sized
    * files per `col=val` dir instead of (#tasks × #values) slivers, and
    * a flat ingest lands ⌈bytes/advisory⌉ files regardless of the
    * batch's incoming parallelism. Cost is the ONE added shuffle — the
    * same trade Delta documents for optimizeWrite — and at 100 TB that
    * shuffle is cheaper than the metadata drag + read amplification of
    * million-sliver tables. Ingest paths only (append / overwrite /
    * txnAppend / COPY INTO families): rewrite paths (compact / merge /
    * autocompact / reorg) choose their own distribution deliberately. */
  private[graft] def optimizedWrite(df: DataFrame, table: String,
      partCols: Seq[String]): DataFrame =
    optimizedWrite(df, partCols, properties(df.sparkSession, table))

  /** [[optimizedWrite]] under the table properties of a state already
    * read. */
  private def optimizedWrite(df: DataFrame, partCols: Seq[String],
      props: Map[String, String]): DataFrame = {
    val on = df.sparkSession.conf
      .getOption("spark.graft.optimizeWrite.enabled")
      .map(_.equalsIgnoreCase("true"))
      .getOrElse(props
        .get("graft.optimizeWrite").exists(_.equalsIgnoreCase("true")))
    if (!on) df
    else if (partCols.isEmpty) df.hint("rebalance")
    else df.hint("rebalance", partCols.map(col): _*)
  }

  private def stageWithStats(df: DataFrame, table: String): Staged = {
    val (added, sizes) = stageData(df, table)
    Staged(added, collectStats(df.sparkSession, table, added, df.schema),
      sizes)
  }

  /** Stats of the LIVE file set (same replay as [[snapshot]]). */
  def fileStats(spark: SparkSession, table: String,
      asOf: Option[Long] = None)
      : Map[String, Map[String, (Double, Double)]] =
    ofState(spark, table, asOf, withStats = true,
      Map.empty[String, Map[String, (Double, Double)]])(_.stats)

  /** Files of the current snapshot whose [min, max] stats for `column`
    * intersect [lo, hi] (files without stats are conservatively kept). */
  private[graft] def prunedFiles(spark: SparkSession, table: String,
      column: String, lo: Double, hi: Double): Seq[String] = {
    val st = stateAt(spark, table, withStats = true)
    st.files.filter { f =>
      st.stats.get(f).flatMap(_.get(column)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
    }
  }

  /** Range read with file-level data skipping: only files whose stats
    * intersect the range are opened; the residual filter still applies
    * (stats prune FILES, they don't prove every row matches). At 100 TB
    * with range-clustered writes this is the difference between scanning
    * a table and scanning a slice — same contract as Delta data skipping,
    * driven entirely by commit-log metadata. */
  def readPruned(spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double): DataFrame = {
    val (files, schema) = snapshot(spark, table)
    val cmap = columnMapping(spark, table)
    if (deletionVectors(spark, table).nonEmpty)
      // DV masks must apply before anything else; the range filter still
      // prunes row groups via parquet pushdown, file-level skipping
      // resumes once compact() materializes the vectors
      read(spark, table).filter(col(column) >= lo && col(column) <= hi)
    else if (hasPartitionedFiles(files))
      // partition columns live in paths, not data files, so the
      // schema-directed parquet read below would return them as NULL;
      // the FileIndex read reconstructs them AND prunes (partition
      // dirs exactly, data files via commit-log stats) from the
      // pushed-down range filter
      GraftFileIndex.read(spark, table)
        .select(schema.fieldNames.map(col).toSeq: _*)
        .filter(col(column) >= lo && col(column) <= hi)
    else {
      // `column` is a LOGICAL name; commit-log stats key physical ones
      val kept = prunedFiles(spark, table, physNameOf(cmap, column),
        lo, hi)
      val base =
        if (kept.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.schema(schema)
          .parquet(kept.map(f => absPath(table, f)): _*)
      toLogicalDf(base, schema, cmap)
        .filter(col(column) >= lo && col(column) <= hi)
    }
  }

  /** CONVERT a plain-parquet directory into a graft table WITHOUT
    * rewriting data — the Delta `CONVERT TO DELTA` / Iceberg
    * `add_files` migration path. The existing part files become commit
    * v0's add-set; bytes are never read or copied. One deliberate
    * deviation from Delta: the files are RENAMED under a
    * `_data/convert-<uuid>/` staging dir (a pure metadata operation on
    * rename-capable filesystems) instead of referenced in place,
    * because every downstream subsystem — file-pruned DML probes,
    * deletion-vector keying, the vacuum sweep — resolves files by
    * their `_data/`-relative path; relocating at convert time buys the
    * FULL feature surface (MERGE/UPDATE/DELETE/DVs/OPTIMIZE/CLONE/
    * time travel) for converted tables with zero special cases, at the
    * cost of the original paths (readers of the raw dir must re-point
    * at the table root, which keeps serving the same rows).
    *
    * Stats/Blooms are NOT derived at convert (that would require the
    * data scan convert exists to avoid); skipping simply doesn't prune
    * until the first OPTIMIZE/overwrite materializes stats — Delta's
    * convert makes the same trade when stats collection is off.
    *
    * Hive-partitioned layouts convert too (Delta needs the partition
    * schema spelled out; here it is read off the `col=val` dirs): each
    * partition directory renames under the staging dir intact, entries
    * keep their `col=val/` infix, and the commit stores the FULL
    * inferred schema — exactly what [[overwritePartitioned]] records,
    * so partition pruning and partitioned DML work unchanged. */
  def convert(spark: SparkSession, dir: String): Long = {
    require(versions(spark, dir).isEmpty,
      s"$dir is already a graft table")
    val f = fs(spark, dir)
    val root = new HPath(dir)
    require(f.exists(root), s"$dir does not exist")
    val entries = f.listStatus(root).toSeq.filter { st =>
      val n = st.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    val (dirs, files) = entries.partition(_.isDirectory)
    val parquets = files.filter(_.getPath.getName.endsWith(".parquet"))
    val partitioned = dirs.nonEmpty && dirs.forall(
      _.getPath.getName.matches("[^=/]+=[^/]*"))
    require(partitioned || dirs.isEmpty,
      s"convert supports flat or hive-partitioned (col=val) parquet " +
        s"directories; $dir mixes other subdirectories")
    require(!(partitioned && parquets.nonEmpty),
      s"$dir mixes top-level parquet files with col=val dirs")
    // Crash safety: a prior convert that died after some renames into
    // _data/convert-<uuid>/ but before writeCommit leaves a log-less
    // dir whose already-moved rows hide under the underscore-prefixed
    // _data. A naive retry would convert only the remainder and commit
    // a v0 silently missing those rows — so ADOPT the orphaned staging
    // files into this convert's add-set instead (rename is the only
    // mutation; the files are intact and already where v0 wants them).
    val dataRoot = new HPath(s"$dir/$DataDirName")
    val orphaned: Seq[(String, Long)] =
      if (!f.exists(dataRoot)) Seq.empty
      else f.listStatus(dataRoot).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("convert-"))
        .flatMap { st =>
          parquetLeaves(f, st.getPath).map { case (s, len) =>
            (s"$DataDirName/${st.getPath.getName}/$s", len)
          }
        }.sortBy(_._1)
    require(partitioned || parquets.nonEmpty || orphaned.nonEmpty,
      s"no parquet files under $dir")
    // schema BEFORE relocation (inference lists the dir eagerly; for
    // hive layouts it carries the partition columns — the full schema
    // the partitioned commit protocol stores). Orphaned staging dirs
    // are read directly (the root read skips _data).
    val schemaPaths =
      (if (parquets.nonEmpty || dirs.nonEmpty) Seq(dir) else Seq.empty) ++
        orphaned.map(_._1.split("/").take(2).mkString("/"))
          .distinct.map(r => s"$dir/$r")
    val schema = spark.read.parquet(schemaPaths: _*).schema
    val rel = s"$DataDirName/convert-${UUID.randomUUID()}"
    f.mkdirs(new HPath(s"$dir/$rel"))
    val moved0: Seq[(String, Long)] =
      if (partitioned) {
        dirs.foreach { st =>
          require(f.rename(st.getPath,
            new HPath(s"$dir/$rel/${st.getPath.getName}")),
            s"rename failed for ${st.getPath.getName}")
        }
        parquetLeaves(f, new HPath(s"$dir/$rel")).sortBy(_._1)
          .map { case (s, len) => (s"$rel/$s", len) }
      } else parquets.map { st =>
        val name = st.getPath.getName
        require(f.rename(st.getPath, new HPath(s"$dir/$rel/$name")),
          s"rename failed for $name")
        (s"$rel/$name", st.getLen)
      }
    val moved = orphaned ++ moved0
    spark.catalog.refreshByPath(dir)
    writeCommit(spark, dir, Commit(0L, "convert", moved.map(_._1),
      Seq.empty, schema.toDDL, System.currentTimeMillis(),
      sizes = moved.toMap))
    0L
  }

  /** Atomic overwrite of `table` by `df` (see [[Replace]]). */
  def overwrite(df: DataFrame, table: String): Long =
    write(df, table, "overwrite", Replace, "overwrite")

  /** Idempotent transactional overwrite — the Complete-mode streaming
    * sink's commit: the (appId, batchId) ledger makes a replayed batch
    * a no-op (-1), otherwise one whole-table overwrite commit stamped
    * with the txn lands. The frame stages once; on a collision
    * [[claim]] re-checks the ledger on the fresh state and re-claims
    * against it. */
  def overwriteTxn(df: DataFrame, table: String, appId: String,
      batchId: Long): Long =
    write(df, table, "overwriteTxn", Replace, "overwrite",
      txn = Some((appId, batchId)))

  // --------------------------------------------------- partitioned layout

  /** True iff the relative path sits in a hive-style `col=val` dir. */
  private[sources] def isPartitionedPath(f: String): Boolean =
    f.split('/').dropRight(1).exists(_.contains('='))

  private[sources] def hasPartitionedFiles(files: Seq[String]): Boolean =
    files.exists(isPartitionedPath)

  /** `(path, bytes)` of the visible parquet files under `p`, paths
    * relative to `p`, recursing into visible subdirectories (`_`- and
    * `.`-prefixed names are hidden, the Hadoop convention). */
  private def parquetLeaves(f: FileSystem, p: HPath): Seq[(String, Long)] =
    f.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && !n.startsWith("_") && !n.startsWith("."))
        parquetLeaves(f, st.getPath).map { case (s, len) => (s"$n/$s", len) }
      else if (!st.isDirectory && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")) Seq((n, st.getLen))
      else Seq.empty
    }

  /** Stage `df` hive-partitioned (`col=val` dirs, partition columns NOT
    * in the data files) + per-file stats over the data columns. */
  private def stagePartitionedWithStats(df: DataFrame, table: String,
      partCols: Seq[String]): Staged = {
    partCols.foreach(c => require(df.columns.exists(_.equalsIgnoreCase(c)),
      s"partition column $c not in ${df.columns.mkString(",")}"))
    val rel = s"$DataDirName/${UUID.randomUUID()}"
    val dir = s"$table/$rel"
    df.write.partitionBy(partCols: _*).parquet(dir)
    val entries = parquetLeaves(fs(df.sparkSession, table), new HPath(dir))
      .sortBy(_._1)
      .map { case (s, len) => (s"$rel/$s", len) }
    val added = entries.map(_._1)
    val dataSchema = StructType(df.schema.fields.filterNot(fd =>
      partCols.exists(_.equalsIgnoreCase(fd.name))))
    Staged(added, collectStats(df.sparkSession, table, added, dataSchema),
      entries.toMap)
  }

  /** Stage `df` with stats under `layout`: flat (no columns), hive
    * `col=val` dirs, or hidden `gfb<n>_<col>` bucket dirs whose column
    * is derived here ([[withHiddenPartCols]]). */
  private def stageUnder(df: DataFrame, table: String,
      layout: Seq[String]): Staged =
    if (layout.isEmpty) stageWithStats(df, table)
    else stagePartitionedWithStats(withHiddenPartCols(df, layout), table,
      layout)

  /** Atomic overwrite with hive partitioning (`PARTITIONED BY` analog,
    * ref `financial_dl_bronze.py:26`): files land under `col=val` dirs,
    * the commit stores the FULL schema, and reads reconstruct partition
    * columns from the paths via [[GraftFileIndex]] — which also gives
    * planner partition pruning on top of the min/max data skipping.
    * `props` are set in the same commit. */
  def overwritePartitioned(df: DataFrame, table: String,
      partCols: Seq[String],
      props: Map[String, String] = Map.empty): Long =
    write(df, table, "overwritePartitioned", Replace, "overwrite",
      partCols, extraProps = props)

  /** Hidden bucket-transform dir name: `gfb<n>_<col>` (Iceberg's
    * `bucket(n, col)` partition transform; no leading underscore — the
    * Hadoop convention treats `_`/`.`-prefixed paths as hidden, and the
    * staging walk honors it). The synthetic column exists only in the
    * layout — never in the table schema — and equality probes on `col`
    * prune bucket dirs in [[GraftFileIndex]]. */
  private[sources] val HiddenBucketDir = """gfb(\d+)_(.+)""".r

  /** The bucket a value lands in — the SAME hash the writer's
    * `pmod(xxhash64(col), n)` evaluates, via the identical Catalyst
    * expression, so planner-side pruning can never drift from layout. */
  private[sources] def bucketFor(value: Any,
      dt: org.apache.spark.sql.types.DataType, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, XxHash64}
    val h = XxHash64(Seq(CLit.create(value, dt)), 42L)
      .eval(null).asInstanceOf[Long]
    (((h % n) + n) % n).toInt
  }

  /** Re-derive hidden transform columns a partitioned re-stage needs:
    * rewrites read through the FileIndex, whose output carries only the
    * table schema, so `gfb…` columns are recomputed from their source
    * column before the partitioned write. */
  private def withHiddenPartCols(df: DataFrame,
      partCols: Seq[String]): DataFrame =
    partCols.foldLeft(df) { (d, pc) =>
      pc match {
        case HiddenBucketDir(n, src) if !d.columns.contains(pc) =>
          d.withColumn(pc, pmod(xxhash64(col(src)), lit(n.toLong)))
        case _ => d
      }
    }

  /** Atomic overwrite with HIDDEN bucket partitioning — Iceberg's
    * `PARTITIONED BY bucket(n, col)`: files land under
    * `gfb<n>_<col>=<bucket>` dirs (NOT `_`-prefixed — the staging walk
    * treats underscore-led dirs as hidden), the synthetic column never
    * appears
    * in the schema or the data, and a plain `WHERE col = x` prunes to
    * one bucket's files in the planner with zero query-side awareness
    * of the layout (the "hidden partitioning" contract — compare t11,
    * where the partition column is a real, visible column). */
  def overwriteBucketTransform(df: DataFrame, table: String,
      srcCol: String, nBuckets: Int): Long = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(df.columns.exists(_.equalsIgnoreCase(srcCol)),
      s"bucket column $srcCol not in ${df.columns.mkString(",")}")
    write(df, table, "overwriteBucketTransform", Replace, "overwrite",
      Seq(s"gfb${nBuckets}_$srcCol"))
  }

  /** The declared CURRENT partition spec (`graft.partitionSpec` =
    * `bucket(n,col)`), set by [[evolveBucketSpec]]: Iceberg's "writers
    * use the current spec" rule. None = no declared spec (flat and
    * legacy bucket tables). */
  private[graft] def bucketSpecOf(props: Map[String, String])
      : Option[(String, Int)] = {
    val B = """(?i)bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r
    props.get("graft.partitionSpec").flatMap(_.trim match {
      case B(n, c) => Some((c, n.toInt))
      case _ => None
    })
  }

  /** Are all of a layout's `col=val` dirs HIDDEN transforms? (Empty —
    * flat — counts as hidden-only.) */
  private def hiddenOnlyLayout(files: Seq[String]): Boolean =
    files.forall(_.split('/').dropRight(1).filter(_.contains('='))
      .forall(seg => HiddenBucketDir.matches(seg.takeWhile(_ != '='))))

  /** Iceberg PARTITION-SPEC EVOLUTION (`ALTER TABLE … REPLACE PARTITION
    * FIELD bucket(n, col)`) restricted to the layouts where it is
    * actually SOUND in this engine: flat and hidden-bucket tables,
    * whose data files carry the FULL data schema (the bucket dir is
    * synthetic — never a dropped column). One METADATA-ONLY commit
    * declares the new current spec; no data file moves. Old files stay
    * under their old transform (or flat) and keep pruning by it
    * per-file; subsequent [[append]]s land under the NEW spec — exactly
    * Iceberg's contract ("evolving a spec never rewrites data; each
    * file prunes by the spec it was written under"). At 100 TB this is
    * the daily→hourly (or bucket(16)→bucket(64)) migration with zero
    * rewrite: the alternative — re-laying-out the table — IS the 100 TB
    * scan this call avoids. VISIBLE hive layouts refuse loudly: their
    * data files omit the partition column, so two specs cannot coexist
    * in one scan (that shape needs the explicit rewrite). Column
    * mapping refuses too (the synthetic dir name embeds the logical
    * column name). */
  def evolveBucketSpec(spark: SparkSession, table: String,
      srcCol: String, nBuckets: Int): Long =
      rebaseOnConflict(spark, table, "evolve_partition_spec") { read =>
    val st = existing(table, read)
    require(nBuckets > 0, "evolveBucketSpec: nBuckets must be positive")
    require(st.colMap.isEmpty,
      "evolveBucketSpec: column mapping is active — hidden bucket dirs " +
        "embed the logical column name; not supported together")
    val (files, phys) = (st.files, st.schema)
    require(phys.fields.exists(_.name.equalsIgnoreCase(srcCol)),
      s"evolveBucketSpec: no column $srcCol in $table " +
        s"(has ${phys.fieldNames.mkString(",")})")
    require(hiddenOnlyLayout(files),
      "evolveBucketSpec: only flat or hidden-bucket layouts can evolve " +
        "in place — a visible hive layout's data files lack the " +
        "partition column; rewrite via overwritePartitioned instead")
    commitOn(spark, table, read)(v => Commit(v,
      "evolve_partition_spec", Seq.empty, Seq.empty, phys.toDDL,
      System.currentTimeMillis(),
      props = st.props +
        ("graft.partitionSpec" -> s"bucket($nBuckets,$srcCol)")))
  }

  /** Append into a hive-partitioned table: files land under the
    * `partCols` dirs, which must be the table's layout (see [[Enforce]];
    * an empty list is [[append]]). */
  def appendPartitioned(df: DataFrame, table: String,
      partCols: Seq[String]): Long =
    write(df, table, "appendPartitioned", Enforce, "append", partCols)

  /** Flat-file writers (append/streaming append) and the deletion-vector
    * machinery refuse hive-partitioned layouts: a flat-staged file would
    * silently MISS the partition columns, and DV masks key on flat scan
    * positions. Loud beats wrong. (merge/delete/update/compact/clusterBy
    * handle partitioned layouts natively — they re-stage through
    * [[stageUnder]].) */
  private def requireUnpartitioned(files: Seq[String], op: String): Unit =
    require(!hasPartitionedFiles(files),
      s"$op on a hive-partitioned GraftLog table is not supported " +
        "(merge/delete/overwritePartitioned/appendPartitioned/read only); " +
        "rewrite via overwritePartitioned instead")

  /** Partition column names of the current layout in path order (empty
    * for a flat table). Layout uniformity is enforced at read time by
    * [[GraftFileIndex]], so the first file's spec speaks for all. */
  private def layoutPartCols(files: Seq[String]): Seq[String] =
    files.headOption.toSeq.flatMap(_.split('/').dropRight(1)
      .filter(_.contains('=')).map(_.takeWhile(_ != '=')))

  /** Read a SUBSET of the state `st`'s files with the schema `schema`
    * through a file-restricted [[GraftFileIndex]] on `st`: the files
    * and their sizes come from the state, so the log is not read again
    * and no data file is listed; partition columns are reconstructed
    * from paths on a hive-partitioned layout. `asOf` marks `st` as a
    * historical version. */
  private def readSubset(spark: SparkSession, table: String,
      st: TableState, files: Seq[String], schema: StructType,
      asOf: Option[Long] = None): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // on a flat layout only what the index refuses stays plain
    // schema-directed parquet: a column-mapped state's PHYSICAL read,
    // and a `schema` other than the state's own (autoMerge widening, or
    // a newer version's in a change-feed diff), whose absent columns
    // the plain read fills with typed NULLs
    else if (!hasPartitionedFiles(files) &&
        (st.colMap.nonEmpty || schema != st.schema))
      spark.read.schema(schema)
        .parquet(files.map(f => absPath(table, f)): _*)
    else GraftFileIndex.readSubset(spark, table, st, files, asOf)
      .select(schema.fieldNames.map(col).toSeq: _*)

  /** Schema enforcement of the [[Enforce]] policy in [[conform]]: the batch
    * must carry exactly the table's columns WITH the table's types — a
    * name-only check would let `tag INT` slip past a `tag STRING` table
    * and re-point the schema at the batch's types, after which the
    * schema-directed parquet read of older files mis-decodes. Returns the
    * batch aligned to the table's column order and case, so the commit
    * can keep the TABLE schema verbatim. */
  private def enforceSchema(df: DataFrame, cur: StructType,
      ctx: String): DataFrame = {
    val batch = df.schema.fields.map(f => f.name.toLowerCase -> f.dataType)
      .toMap
    require(batch.size == df.schema.size, s"$ctx: duplicate column names")
    val tbl = cur.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    require(batch.keySet == tbl.keySet,
      s"$ctx schema [${df.columns.sorted.mkString(",")}] does not match " +
        s"table schema [${cur.fieldNames.sorted.mkString(",")}]; " +
        "use appendMergeSchema to evolve")
    cur.fields.foreach { f =>
      val got = batch(f.name.toLowerCase)
      require(sameTypeModuloNull(got, f.dataType),
        s"$ctx column ${f.name}: batch type ${got.sql} does not match " +
          s"table type ${f.dataType.sql}")
    }
    df.select(cur.fields.map(f => col(f.name).as(f.name)).toSeq: _*)
  }

  /** Type equality modulo nested nullability flags (array containsNull,
    * struct field nullable, map valueContainsNull): a batch whose array
    * column is containsNull=false writes safely into a table whose
    * matching column is containsNull=true — Delta's nullability-
    * compatible enforcement, where strict DataType equality would reject
    * it. Names still compare case-insensitively, widths/types exactly. */
  private def sameTypeModuloNull(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (x: ArrayType, y: ArrayType) =>
        sameTypeModuloNull(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeModuloNull(x.keyType, y.keyType) &&
          sameTypeModuloNull(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall {
          case (f, g) => f.name.equalsIgnoreCase(g.name) &&
            sameTypeModuloNull(f.dataType, g.dataType)
        }
      case _ => a == b
    }

  /** Source-file URIs ever ingested by [[copyInto]]: the newest
    * checkpoint's carried set plus the commit tail after it — the same
    * fold shape as the txn ledger, and like it metadata-sized (one URI
    * per ingested file, never per row). */
  def copiedFiles(spark: SparkSession, table: String): Set[String] =
    logState(spark, table).fold(Set.empty[String])(_.copied.toSet)

  /** `COPY INTO` — idempotent directory ingest (Delta's contract): load
    * the data files under `source` into `table`, skipping every file a
    * prior COPY INTO already recorded in the per-file ingest ledger
    * (commit-carried, checkpoint-folded — idempotence survives log
    * truncation). Returns (version, filesIngested, rowsIngested);
    * version = -1 when nothing new. `force = true` re-ingests
    * regardless of the ledger.
    *
    * Hourly-pipeline shape at scale: the ledger check is metadata-only
    * (no data files opened), the read is schema-DIRECTED (inference
    * can never drift between loads), and only the fresh files are
    * scanned. Retry contract: a commit conflict where a competing
    * COPY INTO ingested overlapping files abandons the claim and
    * recomputes from the fresh ledger, so partial failure + retry can
    * never double-load a file. */
  def copyInto(spark: SparkSession, table: String, source: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      force: Boolean = false): (Long, Long, Long) = {
    var read0 = logState(spark, table)
    require(read0.nonEmpty,
      s"COPY INTO target $table is not a graft table (create it first)")
    val fmt = format.toLowerCase(java.util.Locale.ROOT)
    require(Set("parquet", "csv", "json").contains(fmt),
      s"COPY INTO supports parquet/csv/json sources, got $format")
    var attempts = 0
    while (true) {
      val srcFs = new HPath(source).getFileSystem(
        spark.sessionState.newHadoopConf())
      val entries = srcFs.listStatus(new HPath(source)).toSeq
        .filter(st => !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
      // loud over wrong: a nested (e.g. hive-partitioned) landing dir
      // would silently part-load — the files would read, but their
      // dir-encoded partition VALUES would land as NULLs. Refuse.
      val subdirs = entries.filter(_.isDirectory).map(_.getPath.getName)
      require(subdirs.isEmpty,
        s"COPY INTO ingests FLAT directories; $source contains " +
          s"subdirectories (${subdirs.take(3).mkString(", ")}…) whose " +
          "dir-encoded partition values a flat file read would drop — " +
          "point COPY INTO at each leaf directory instead")
      val listed = entries.filter(_.isFile)
        .map(st => srcFs.makeQualified(st.getPath).toString).sorted
      val state = existing(table, read0)
      val ledgerBefore = state.copied.toSet
      val already = if (force) Set.empty[String] else ledgerBefore
      val fresh = listed.filterNot(already)
      if (fresh.isEmpty) return (-1L, 0L, 0L)
      val schema = logicalSchema(state.schema, state.colMap)
      // Declared DEFAULTs apply to COPY INTO like every insert surface —
      // but the explicit read schema would materialize omitted source
      // columns as NULLs before append()'s fillDefaults can see them as
      // omitted. When defaults exist, restrict the read schema to the
      // columns the source files actually carry (one footer-sized
      // inference pass); append() then fills the truly-absent ones.
      val defaults = defaultsOf(state.props)
      // the presence probe is BY-NAME: parquet/json carry field names,
      // and csv only with header=true. Headerless CSV infers _c0.._cN
      // — a name probe would drop every default-bearing column and the
      // positional read would then silently misalign; there the probe
      // is by FIELD COUNT (the file carries a prefix of the schema).
      val byName = fmt == "parquet" || fmt == "json" ||
        (fmt == "csv" && options.get("header")
          .exists(_.equalsIgnoreCase("true")))
      val readSchema =
        if (defaults.isEmpty) schema
        else if (byName) {
          val present = spark.read.format(fmt).options(options)
            .load(fresh: _*).schema.fieldNames.map(_.toLowerCase).toSet
          StructType(schema.fields.filter(f =>
            present.contains(f.name.toLowerCase) ||
              !defaults.contains(f.name.toLowerCase)))
        } else {
          val n = spark.read.format(fmt).options(options)
            .load(fresh: _*).schema.length
          if (n >= schema.length) schema
          else {
            // positional mapping: only a TRAILING omission is
            // expressible, and every dropped column must carry a
            // default (append() fills it); anything else must refuse
            // loudly rather than shift values across columns
            val dropped = schema.fields.drop(n)
            require(dropped.forall(f =>
              defaults.contains(f.name.toLowerCase)),
              s"COPY INTO $table: headerless CSV carries $n of " +
                s"${schema.length} columns but a dropped trailing " +
                "column has no DEFAULT — positional mapping cannot " +
                "tell which columns were omitted")
            StructType(schema.fields.take(n))
          }
        }
      val df = spark.read.format(fmt).options(options).schema(readSchema)
        .load(fresh: _*)
      // the abandon baseline is the PRE-STAGING ledger regardless of
      // force: only entries a COMPETING commit added since count as
      // overlap — a forced re-ingest must not abort on its own history
      val c = conform(table, read0, df, "append", Enforce)
      val s = stage(table, c)
      val v = claim(table, c, s, "append", copied = fresh,
        copiedBaseline = ledgerBefore)
      if (v >= 0) return (v, fresh.size.toLong,
        s.files.map(f => numRecordsOf(s.stats.getOrElse(f, Map.empty))).sum)
      // abandoned: a competing COPY INTO recorded overlapping files —
      // recompute the fresh set from the advanced ledger and retry
      backoffOrGiveUp(attempts, table, "COPY INTO")
      attempts += 1
      read0 = logState(spark, table)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append `df` to `table` (see [[Enforce]]): flat, or under the
    * hidden bucket dirs of a declared `graft.partitionSpec`. `copied`
    * records the batch's source files in the COPY INTO ledger; the
    * claim abandons (-1) when a competing writer recorded one of them
    * since `copiedBaseline` (see [[copyInto]]). */
  def append(df: DataFrame, table: String,
      copied: Seq[String] = Seq.empty,
      copiedBaseline: Set[String] = Set.empty): Long =
    write(df, table, "append", Enforce, "append", copied = copied,
      copiedBaseline = copiedBaseline)

  /** Schema-evolving append of `df` to `table` (see [[Union]]). */
  def appendMergeSchema(df: DataFrame, table: String): Long =
    write(df, table, "appendMergeSchema", Union, "appendMergeSchema")

  /** `ALTER TABLE … ADD COLUMNS` — metadata-only schema widening: one
    * commit that adds no files and re-points the schema at table ∪ new
    * columns. Existing files simply lack the columns; the
    * schema-directed read fills them as typed NULLs (the same
    * merge-on-read contract as [[appendMergeSchema]]). */
  def addColumns(spark: SparkSession, table: String,
      cols: StructType): Long =
      rebaseOnConflict(spark, table, "addColumns") { read =>
    // schema commit derived from the current one — commit at
    // readVersion+1 so a concurrent schema change collides and the
    // rebase recomputes the union instead of reverting it
    val st = existing(table, read)
    val (cur, cmap) = (st.schema, st.colMap)
    val logicalNames =
      logicalSchema(cur, cmap).fieldNames.map(_.toLowerCase).toSet
    cols.foreach(f => require(!logicalNames(f.name.toLowerCase),
      s"column ${f.name} already exists in $table"))
    commitOn(spark, table, read) { v =>
      // a new logical name that collides with a physical/retired name
      // gets a FRESH physical name — otherwise old files holding the
      // retired column would resurrect its bytes into the new column
      val taken = (cur.fieldNames ++ cmap.keys).map(_.toLowerCase).toSet
      val assigned = cols.fields.map { f =>
        if (taken(f.name.toLowerCase))
          (f.copy(name = s"gfc${v}_${f.name}"),
            Some(s"gfc${v}_${f.name}" -> f.name))
        else (f, None)
      }
      val merged = StructType(cur.fields ++ assigned.map(_._1))
      Commit(v, "addColumns", Seq.empty, Seq.empty, merged.toDDL,
        System.currentTimeMillis(), colMap = cmap ++ assigned.flatMap(_._2))
    }
  }

  /** CHECK constraints in force at `asOf` (or latest): name → SQL
    * boolean expression over LOGICAL column names. By the writeCommit
    * inheritance invariant this is simply the commit's `checks` field —
    * the memoized state's, or one small-JSON read, never a replay. */
  def checkConstraints(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Map[String, String] =
    commitAt(spark, table, asOf).fold(Map.empty[String, String])(_.checks)

  /** The CHECK constraints of a read state (none for an empty log). */
  private def checksOf(st: Option[TableState]): Map[String, String] =
    st.fold(Map.empty[String, String])(_.checks)

  /** The table properties of a read state (none for an empty log). */
  private def propsOf(st: Option[TableState]): Map[String, String] =
    st.fold(Map.empty[String, String])(_.props)

  /** The generated-column map of a read state (none for an empty log). */
  private def generatedOf(st: Option[TableState]): Map[String, String] =
    st.fold(Map.empty[String, String])(_.generated)

  /** Generated-column definitions in force at `asOf` (or latest):
    * column name → generation expression SQL over the table's other
    * columns (Delta's `GENERATED ALWAYS AS (expr)`). Same invariant as
    * [[checkConstraints]]: "generated = latest commit's generated" —
    * one small-JSON read, no replay. Definitions are immutable after
    * [[createGenerated]] (Delta likewise fixes them at creation). */
  def generatedColumns(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Map[String, String] =
    commitAt(spark, table, asOf).fold(Map.empty[String, String])(_.generated)

  /** Table properties in force at `asOf` (or latest): the analog of
    * Delta's `metaData.configuration` map. Same invariant as
    * [[checkConstraints]]: "properties = latest commit's props" — one
    * small-JSON read, no replay. Properties the engine itself consults:
    *
    *   - `graft.appendOnly` = true|false — DELETE / UPDATE / MERGE /
    *     overwrite / DV erasure fail loudly (Delta `delta.appendOnly`)
    *   - `graft.checkpointInterval` = n — auto-checkpoint cadence
    *     override (Delta `delta.checkpointInterval`)
    *   - `graft.deletedFileRetentionHours` = h — default retention for
    *     [[vacuumRetainHours]] callers that pass none (Delta
    *     `delta.deletedFileRetentionDuration`)
    *   - `graft.optimizeWrite` = true — AQE-rebalanced ingest writes
    *     ([[optimizedWrite]]; Delta `delta.autoOptimize.optimizeWrite`)
    *   - `graft.autoCompact` (+ `.minNumFiles`, `.maxFileSize`) —
    *     post-commit small-file compaction ([[maybeAutoCompact]])
    *
    * Everything else is opaque user metadata carried verbatim. */
  def properties(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Map[String, String] =
    commitAt(spark, table, asOf).fold(Map.empty[String, String])(_.props)

  /** Declared column DEFAULTs (Delta's `defaults` writer feature /
    * standard SQL `DEFAULT` clauses) in table properties `props`:
    * LOWERCASE logical column name → SQL expression, from
    * `graft.default.<col>` properties. A write that omits a defaulted
    * column gets the expression's value ([[append]] fills before schema
    * enforcement); omitting a column with NO default still refuses
    * loudly. */
  private def defaultsOf(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith("graft.default.") =>
        k.stripPrefix("graft.default.").toLowerCase -> v
    }

  /** `ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr>` — one
    * metadata-only commit that records the default AND declares the
    * `defaultColumns` writer feature atomically (an engine unaware of
    * defaults would refuse the omitted-column write instead of
    * mis-filling it, but the declaration keeps the contract explicit).
    * The expression must be CONSTANT (evaluable with no input row —
    * standard SQL's literal-or-function-call rule) and cast losslessly
    * to the column's type; generated/identity columns and partition
    * columns refuse. */
  def setColumnDefault(spark: SparkSession, table: String,
      name: String, exprStr: String): Long =
      rebaseOnConflict(spark, table, "set_default") { read =>
    val st = existing(table, read)
    val (files, phys) = (st.files, st.schema)
    val logical = logicalSchema(phys, st.colMap)
    val f = logical.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"SET DEFAULT: no column $name in $table " +
          s"(has ${logical.fieldNames.mkString(",")})"))
    require(!st.generated.keys.exists(_.equalsIgnoreCase(name)),
      s"SET DEFAULT: $name is a generated/identity column")
    require(!layoutPartCols(files).exists(_.equalsIgnoreCase(name)),
      s"SET DEFAULT: $name is a partition column")
    // constant + type check: analyze against a ONE-ROW ZERO-COLUMN frame
    // so any column reference fails resolution (spark.range would leak an
    // `id` column into scope) AND the cast actually EVALUATES — a
    // zero-row frame analyzes 'abc'::double happily and every later
    // omitted-column append would silently fill NULL (non-ANSI cast of an
    // un-castable literal), contradicting the lossless-cast contract. A
    // null POST-cast with a non-null pre-cast value = lossy; a null
    // pre-cast value (literal NULL / null-producing constant) is fine.
    val checked = try {
      val oneRow = spark.createDataFrame(
        java.util.Collections.singletonList(Row()), StructType(Nil))
      oneRow.select(expr(exprStr).as("raw"),
        expr(exprStr).cast(f.dataType).as("cast")).head()
    } catch {
      case e: Exception => throw new IllegalArgumentException(
        s"SET DEFAULT: '$exprStr' is not a constant expression " +
          s"castable to ${f.dataType.simpleString}: ${e.getMessage}")
    }
    require(checked.isNullAt(0) || !checked.isNullAt(1),
      s"SET DEFAULT: '$exprStr' does not cast losslessly to " +
        s"${f.dataType.simpleString} (the cast evaluates to NULL)")
    commitOn(spark, table, read)(v => Commit(v, "set_properties",
      Seq.empty, Seq.empty, phys.toDDL, System.currentTimeMillis(),
      props = withFeature(
        st.props + (s"graft.default.${name.toLowerCase}" -> exprStr),
        WriterFeaturesKey, "defaultColumns")))
  }

  /** `ALTER TABLE t ALTER COLUMN c DROP DEFAULT` (missing default =
    * no-op, matching SQL). */
  def dropColumnDefault(spark: SparkSession, table: String,
      name: String): Long =
    unsetProperties(spark, table,
      Seq(s"graft.default.${name.toLowerCase}"))

  /** `ALTER TABLE … SET TBLPROPERTIES` — merge `kvs` over the current
    * map in a metadata-only commit (no files touched). Keys are
    * case-sensitive, matching Spark's TBLPROPERTIES semantics. */
  def setProperties(spark: SparkSession, table: String,
      kvs: Map[String, String]): Long =
      rebaseOnConflict(spark, table, "set_properties") { read =>
    val st = existing(table, read)
    require(kvs.nonEmpty, "SET TBLPROPERTIES requires at least one key")
    kvs.get("graft.checkpointInterval").foreach { s =>
      require(scala.util.Try(s.toLong).toOption.exists(_ > 0),
        s"graft.checkpointInterval must be a positive integer, got '$s'")
    }
    val merged = st.props ++ kvs
    // enabling row tracking declares the writer feature atomically: a
    // compactor unaware of it would drop the materialized id column
    val withFeat =
      if (kvs.get("graft.enableRowTracking")
          .exists(_.equalsIgnoreCase("true"))) {
        // row tracking is flat-layout only: the partitioned compact /
        // rewrite branches restage files without materializing
        // _graft_row_id, which would silently discard row identity.
        // Refusing here (readWithRowIds already refuses at read time)
        // keeps 'ids survive materialization' a contract, not a hope.
        requireUnpartitioned(st.files, "graft.enableRowTracking")
        withFeature(merged, WriterFeaturesKey, "rowTracking")
      } else merged
    commitOn(spark, table, read)(v => Commit(v, "set_properties",
      Seq.empty, Seq.empty, st.schema.toDDL,
      System.currentTimeMillis(), props = withFeat))
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` — drop `keys` (missing keys
    * are a no-op, matching Spark's IF EXISTS-less tolerance on v2). */
  def unsetProperties(spark: SparkSession, table: String,
      keys: Seq[String]): Long =
      rebaseOnConflict(spark, table, "unset_properties") { read =>
    val st = existing(table, read)
    commitOn(spark, table, read)(v => Commit(v, "unset_properties",
      Seq.empty, Seq.empty, st.schema.toDDL, System.currentTimeMillis(),
      props = st.props -- keys))
  }

  // --------------------------------------------------- protocol features
  // The Delta table-features protocol: a table DECLARES the features its
  // log depends on, split by hazard class, and an engine that does not
  // understand a declared feature refuses the table LOUDLY instead of
  // corrupting it silently. Reader features break READS when ignored
  // (an engine that skips deletion-vector masks resurrects deleted —
  // e.g. GDPR-erased — rows; one that ignores column mapping serves
  // dropped bytes under recycled names). Writer features break the
  // table when an unaware WRITER commits (a compactor that drops the
  // materialized row-id column, an appender that skips CHECK
  // constraints or generated-column computation). Feature lists ride
  // the properties map, so checkpoints, clones, and inheritance carry
  // them for free; the introducing commit declares its feature
  // atomically with first use.

  private val ReaderFeaturesKey = "graft.protocol.readerFeatures"
  private val WriterFeaturesKey = "graft.protocol.writerFeatures"

  /** Reader features THIS engine understands. An unknown name in a
    * table's declared reader features fails every read. */
  private[sources] val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "typeWidening")

  /** Writer features this engine understands (reader features are
    * implicitly required of writers too — a writer reads first). */
  private[sources] val SupportedWriterFeatures =
    SupportedReaderFeatures ++
      Set("rowTracking", "checkConstraints", "generatedColumns",
        "defaultColumns")

  private def parseFeatures(props: Map[String, String],
      key: String): Set[String] =
    props.get(key).toSet[String]
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** `props` with `name` added to the feature list at `key` (no-op when
    * already declared) — composed into the introducing commit's props
    * so first use and declaration are one atomic commit. */
  private def withFeature(props: Map[String, String], key: String,
      name: String): Map[String, String] = {
    val cur = parseFeatures(props, key)
    if (cur(name)) props
    else props + (key -> (cur + name).toSeq.sorted.mkString(","))
  }

  /** Fail when the table declares a reader feature this engine does not
    * implement — called from the read entry points with the props of
    * the state they read. The protocol is resolved PER SNAPSHOT
    * (Delta's contract): time travel to a version before a feature was
    * enabled reads the properties as of that version, so pre-feature
    * versions stay readable — which is exactly the escape hatch the
    * error message advises. */
  private[sources] def checkReaderFeatures(table: String,
      props: Map[String, String]): Unit = {
    val unknown = parseFeatures(props,
      ReaderFeaturesKey) -- SupportedReaderFeatures
    if (unknown.nonEmpty)
      throw new UnsupportedOperationException(
        s"cannot read $table: it requires reader feature(s) " +
          s"${unknown.toSeq.sorted.mkString(", ")} this engine does " +
          "not implement (upgrade the library, or read a version " +
          "before the feature was enabled)")
  }

  /** Fail when a commit would land on a table whose declared writer
    * features this engine does not implement — called from
    * [[writeCommit]], the single writer choke point, using the
    * ALREADY-INHERITED props (no extra read). */
  private def checkWriterFeatures(table: String,
      props: Map[String, String]): Unit = {
    val unknown =
      (parseFeatures(props, WriterFeaturesKey) --
        SupportedWriterFeatures) ++
      (parseFeatures(props, ReaderFeaturesKey) --
        SupportedReaderFeatures)
    if (unknown.nonEmpty)
      throw new UnsupportedOperationException(
        s"cannot write to $table: it requires feature(s) " +
          s"${unknown.toSeq.sorted.mkString(", ")} this engine does " +
          "not implement; a blind commit could corrupt the table")
  }

  // ------------------------------------------------------- row tracking
  // The Delta row-tracking design (`delta.enableRowTracking`): every row
  // gets a STABLE 64-bit id. Fresh files carry a per-file BASE in the
  // log (row_id = base + row_index — nothing row-sized is ever stored);
  // rewrites that must preserve ids (compact/OPTIMIZE) MATERIALIZE the
  // id as a physical column in the rewritten files, and readers coalesce
  // (materialized, base + row_index). The high-water mark is log-carried
  // in the properties map (like the identity high water: monotone, never
  // reused even after deletes/vacuum of the highest-id files).
  //
  // The base rides the existing per-file stats map under a `#rowbase`
  // pseudo key -> (base, numRecords) — the same zero-format-change trick
  // as `#nulls`, so checkpoints, clones, and restores carry it for free.
  //
  // Preservation contract (Delta's rowTrackingPreserved semantics on
  // flat un-mapped layouts): appends/overwrites allocate, DV deletes
  // preserve trivially (positions untouched), compact preserves by
  // materialization, and file-REWRITING DML preserves too — UPDATE and
  // DELETE carry survivors' ids through the rewrite, and MERGE (both
  // the two-clause and the multi-clause form) keeps matched rows' ids
  // while allocating fresh monotone ids (base + row_index past the
  // high water) for its inserts. Partitioned or column-mapped layouts
  // fall back to fresh ids on rewrite
  // (Delta-without-the-preservation-feature behavior).

  private[sources] val RowBaseKey = "#rowbase"
  private[sources] val RowIdCol = "_graft_row_id"
  private val RowHwKey = "graft.rowTracking.highWaterMark"

  private def tracksRows(props: Map[String, String]): Boolean =
    props.get("graft.enableRowTracking").exists(_.equalsIgnoreCase("true"))

  /** numRecords of a staged file, read from its `#nulls` pseudo stats
    * (every column carries one; any is authoritative). */
  private def numRecordsOf(st: Map[String, (Double, Double)]): Long =
    numRecordsIn(st).getOrElse(0L)

  private def numRecordsIn(st: Map[String, (Double, Double)])
      : Option[Long] =
    st.collectFirst {
      case (k, (_, n)) if k.endsWith(NullStatsSuffix) => n.toLong
    }

  /** Rows commit `c` added, summed from its files' numRecords stats —
    * no data read; None when an added file carries no row count. */
  private[graft] def addedRows(c: Commit): Option[Long] =
    c.add.foldLeft(Option(0L)) { (acc, f) =>
      for (a <- acc; n <- c.stats.get(f).flatMap(numRecordsIn)) yield a + n
    }

  /** Allocate contiguous base row ids for freshly staged files when the
    * table tracks rows: returns (stats + `#rowbase` entries, props with
    * the advanced high water) — or (stats, empty) when tracking is off,
    * which writeCommit treats as plain inheritance. Called INSIDE the
    * commit claim loops so a lost race re-reads the fresh high water
    * (`st` is the state the claim commits on top of). */
  private def allocRowIds(st: Option[TableState], s: Staged)
      : (Map[String, Map[String, (Double, Double)]],
         Map[String, String]) = {
    val cur = propsOf(st)
    if (!tracksRows(cur)) return (s.stats, Map.empty)
    var hw = cur.get(RowHwKey).map(_.toLong).getOrElse(0L)
    val augmented = s.files.map { f =>
      val st = s.stats.getOrElse(f, Map.empty[String, (Double, Double)])
      val n = numRecordsOf(st)
      val e = f -> (st + (RowBaseKey -> ((hw.toDouble, n.toDouble))))
      hw += n
      e
    }.toMap
    (s.stats ++ augmented, cur + (RowHwKey -> hw.toString))
  }

  /** Assign bases to live files that have none — the backfill Delta
    * runs when `enableRowTracking` is turned on over existing data. A
    * METADATA-ONLY commit: the files are re-added with their full stats
    * plus `#rowbase`; no data moves. The op is rewrite-only (streams and
    * CDF pass over it — no visible row changes). Files that already
    * materialize the id column (post-compact) are skipped: their ids
    * live in the data. Returns the commit version, or -1 when nothing
    * needed backfilling. */
  /** Per-column statistics of one [[analyzeColumns]] pass. `ndvEst` is
    * the KMV estimate (g13 discipline: engine-portable md5-slice hash,
    * so the approximation itself is exactly reproducible by the
    * oracle); min/max are canonical cast-to-string forms, null for
    * all-null columns. */
  final case class ColumnStats(ndvEst: Double, min: Option[String],
      max: Option[String], nullCount: Long)

  /** `ANALYZE TABLE … FOR COLUMNS` — per-column ndv / min / max /
    * null-count in ONE scan of the visible rows (every statistic is a
    * partial-aggregable expression: the KMV sketch shuffles k longs
    * per column per partition, min/max/counts one value each — at
    * 100 TB the pass is scan-bound, never shuffle-bound). Results land
    * in the commit log as `graft.stats.col.<name>.*` properties (the
    * same log-carried inheritance as d17's table-level stats), so any
    * later session can fold them without re-scanning; the SQL command
    * additionally pushes them into the session catalog as CBO
    * statistics. Returns (rowCount, sizeInBytes, per-column stats). */
  def analyzeColumns(spark: SparkSession, table: String,
      cols: Seq[String], k: Int = 256)
      : (Long, Long, Map[String, ColumnStats]) = {
    require(cols.nonEmpty, "ANALYZE FOR COLUMNS needs at least one column")
    val df = read(spark, table)
    cols.foreach(c => require(df.columns.exists(_.equalsIgnoreCase(c)),
      s"ANALYZE: column $c not in ${df.columns.mkString(",")}"))
    val aggs = cols.flatMap { c =>
      Seq(
        graft.functions.KMinValues.kmv_sketch(
          conv(substring(md5(col(c).cast("string")), 1, 15), 16, 10)
            .cast("long"), k).as(s"__kmv_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"__null_$c"))
    } :+ count(lit(1)).as("__rows")
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val rows = row.getAs[Long]("__rows")
    val bytes = fileSizes(spark, table).values.sum
    val per = cols.map { c =>
      val sk = row.getAs[scala.collection.Seq[Long]](s"__kmv_$c")
      val est =
        if (sk.size < k) sk.size.toDouble
        else BigDecimal((k - 1).toDouble * math.pow(2.0, 60) /
            sk.last.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      c -> ColumnStats(est,
        Option(row.getAs[String](s"__min_$c")),
        Option(row.getAs[String](s"__max_$c")),
        row.getAs[Long](s"__null_$c"))
    }.toMap
    val colProps = per.flatMap { case (c, st) =>
      Map(s"graft.stats.col.$c.ndv" -> st.ndvEst.toString,
        s"graft.stats.col.$c.nullCount" -> st.nullCount.toString) ++
        st.min.map(v => s"graft.stats.col.$c.min" -> v) ++
        st.max.map(v => s"graft.stats.col.$c.max" -> v) ++
        // the KMV sketch itself (k smallest 60-bit hashes, base64 of
        // big-endian longs): the mergeable state incremental refresh
        // needs — a later [[refreshStats]] folds only NEW files' hashes
        // into it instead of re-scanning the table
        Map(s"graft.stats.col.$c.kmv" ->
          encodeKmv(row.getAs[scala.collection.Seq[Long]](s"__kmv_$c")))
    }
    val vRead = latestVersion(spark, table)
    rebaseOnConflict(spark, table, "analyze") { read =>
      val st = existing(table, read)
      commitOn(spark, table, read)(v => Commit(v, "analyze", Seq.empty,
        Seq.empty, st.schema.toDDL, System.currentTimeMillis(),
        props = st.props ++ colProps ++ Map(
          "graft.stats.rowCount" -> rows.toString,
          "graft.stats.sizeInBytes" -> bytes.toString,
          "graft.stats.kmvK" -> k.toString,
          "graft.stats.analyzedAtVersion" -> vRead.get.toString)))
    }
    (rows, bytes, per)
  }

  private def encodeKmv(sk: scala.collection.Seq[Long]): String = {
    val buf = java.nio.ByteBuffer.allocate(sk.size * 8)
    sk.foreach(buf.putLong)
    java.util.Base64.getEncoder.encodeToString(buf.array())
  }

  private def decodeKmv(s: String): Seq[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    Seq.fill(bytes.length / 8)(buf.getLong)
  }

  private def kmvEstimate(sk: Seq[Long], k: Int): Double =
    if (sk.size < k) sk.size.toDouble
    else BigDecimal((k - 1).toDouble * math.pow(2.0, 60) /
        sk.last.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Incremental statistics refresh — the maintenance half of
    * [[analyzeColumns]]: fold what the commits already know into the
    * recorded stats WITHOUT re-scanning the table. rowCount/sizeInBytes
    * re-fold exactly from per-file metadata; per-column nullCount sums
    * the live files' `#nulls` entries exactly; numeric min/max fold the
    * live files' skipping stats (exact bounds of the LIVE data — they
    * can even narrow after deletes, which a plain re-ANALYZE would need
    * a scan to discover); ndv merges the persisted KMV sketch with a
    * sketch over ONLY the files added since the last analyze/refresh
    * (KMV union = take the k smallest of the union — the one scan here,
    * bounded by NEW data, never the table). Results re-persist as one
    * metadata commit with the sketch and `analyzedAtVersion` advanced,
    * so successive refreshes stay bounded by data since the LAST one.
    *
    * Returns None when the table has no analyzed column stats to
    * refresh, uses column mapping (physical/logical name folding is
    * not supported here), carries active deletion vectors, or has
    * DATA-ERASING commits (delete/update/merge/truncate/replace/fsck/
    * reorg removes — anything but a pure compaction rewrite) since the
    * analyze point: the KMV sketch cannot un-merge deleted values, so
    * ndv would only ever grow. The caller falls back to table-level
    * stats only. */
  def refreshStats(spark: SparkSession, table: String)
      : Option[(Long, Long, Map[String, ColumnStats])] = {
    val props = properties(spark, table)
    val analyzedAt = props.get("graft.stats.analyzedAtVersion")
      .map(_.toLong)
    val ColKey = """graft\.stats\.col\.(.+)\.ndv""".r
    val cols = props.keys.collect { case ColKey(c) => c }.toSeq.sorted
    // active deletion vectors: per-file stats still describe the
    // pre-erasure rows, so the metadata fold would overcount — refuse
    // (caller falls back to table-level stats, which metadataRowCount
    // keeps DV-exact)
    if (analyzedAt.isEmpty || cols.isEmpty ||
      columnMapping(spark, table).nonEmpty ||
      deletionVectors(spark, table).nonEmpty) return None
    val k = props.get("graft.stats.kmvK").map(_.toInt).getOrElse(256)
    val latest = latestVersion(spark, table).get
    val st = stateAt(spark, table, withStats = true)
    val (live, schema) = (st.liveMap, st.schema)
    val (curRows, curBytes) = metadataRowCount(spark, table)
    val sinceAnalyze = versions(spark, table)
      .filter(_ > analyzedAt.get)
      .map(v => readCommit(spark, table, v))
    // DATA-ERASING removes poison the fold: the merged KMV sketch
    // retains deleted values' hashes (ndv could only grow, diverging
    // from a re-ANALYZE after delete-heavy drift). Pure REWRITE
    // commits (compaction/clustering) remove files but not rows — only
    // those keep the incremental path; anything else falls back to the
    // table-level stats (caller re-ANALYZEs when it needs columns).
    // reorg is NOT a pure rewrite: it physically purges DV-masked rows
    // (the DVs themselves may have landed after the analyze point and
    // be gone by now — the erasure must poison the sketch).
    val rewriteOps = Set("compact", "autocompact", "cluster",
      "rowid_backfill")
    if (sinceAnalyze.exists(c =>
        c.remove.nonEmpty && !rewriteOps.contains(c.operation)))
      return None
    // files added since the recorded analyze point and still live —
    // the only data the ndv merge needs to read
    val newFiles = sinceAnalyze.flatMap(_.add)
      .distinct.filter(live.contains)
    val numericNames = numericFields(schema).map(_.name).toSet
    // hive-partition columns live in DIR names, not the data files: a
    // raw-file read yields NULLs for them, so their sketches never
    // merge (recorded ndv kept) and the read schema excludes them
    val partCols = layoutPartCols(live.keys.toSeq)
      .map(_.toLowerCase).toSet
    val sketchCols = cols.filterNot(c => partCols.contains(c.toLowerCase))
    val newSketches: Map[String, Seq[Long]] =
      if (newFiles.isEmpty || sketchCols.isEmpty) Map.empty
      else {
        val readSchema = StructType(schema.fields.filterNot(f =>
          partCols.contains(f.name.toLowerCase)))
        val aggs = sketchCols.map(c =>
          graft.functions.KMinValues.kmv_sketch(
            conv(substring(md5(col(c).cast("string")), 1, 15), 16, 10)
              .cast("long"), k).as(s"__kmv_$c"))
        val row = spark.read.schema(readSchema)
          .parquet(newFiles.map(f => absPath(table, f)): _*)
          .agg(aggs.head, aggs.tail: _*).collect().head
        sketchCols.map(c => c ->
          row.getAs[scala.collection.Seq[Long]](s"__kmv_$c").toSeq).toMap
      }
    val per = cols.map { c =>
      val merged = props.get(s"graft.stats.col.$c.kmv") match {
        case Some(enc) =>
          (decodeKmv(enc) ++ newSketches.getOrElse(c, Seq.empty))
            .distinct.sorted.take(k)
        case None => newSketches.getOrElse(c, Seq.empty)
      }
      val ndv =
        if (merged.nonEmpty) kmvEstimate(merged, k)
        else props(s"graft.stats.col.$c.ndv").toDouble
      val nulls = live.values
        .flatMap(_.get(s"$c$NullStatsSuffix")).map(_._1).sum.toLong
      // numeric min/max: exact bounds of the LIVE files' skipping stats.
      // Non-numeric columns have no per-file fold here: their recorded
      // bounds carry over only while NO new data arrived — new files
      // could widen them, so a grown table DROPS them rather than
      // re-asserting analyze-time bounds the data may now exceed
      val (mn, mx) =
        if (!numericNames.contains(c))
          if (newFiles.nonEmpty) (None, None)
          else (props.get(s"graft.stats.col.$c.min"),
            props.get(s"graft.stats.col.$c.max"))
        else {
          val mms = live.values.flatMap(_.get(c))
          if (mms.isEmpty) (None, None)
          else {
            val isIntegral = schema.fields
              .find(_.name.equalsIgnoreCase(c)).map(_.dataType).exists {
                case org.apache.spark.sql.types.LongType |
                     org.apache.spark.sql.types.IntegerType |
                     org.apache.spark.sql.types.ShortType => true
                case _ => false
              }
            def fmt(d: Double): String =
              if (isIntegral) math.round(d).toString else d.toString
            (Some(fmt(mms.map(_._1).min)), Some(fmt(mms.map(_._2).max)))
          }
        }
      c -> (ColumnStats(ndv, mn, mx, nulls), merged)
    }.toMap
    val colProps = per.flatMap { case (c, (st, merged)) =>
      Map(s"graft.stats.col.$c.ndv" -> st.ndvEst.toString,
        s"graft.stats.col.$c.nullCount" -> st.nullCount.toString) ++
        st.min.map(v => s"graft.stats.col.$c.min" -> v) ++
        st.max.map(v => s"graft.stats.col.$c.max" -> v) ++
        (if (merged.nonEmpty)
          Map(s"graft.stats.col.$c.kmv" -> encodeKmv(merged))
        else Map.empty)
    }
    rebaseOnConflict(spark, table, "analyze_incremental") { read =>
      val st = existing(table, read)
      commitOn(spark, table, read)(v => Commit(v, "analyze_incremental",
        Seq.empty, Seq.empty, st.schema.toDDL, System.currentTimeMillis(),
        props = st.props ++ colProps ++ Map(
          "graft.stats.rowCount" -> curRows.toString,
          "graft.stats.sizeInBytes" -> curBytes.toString,
          "graft.stats.kmvK" -> k.toString,
          "graft.stats.analyzedAtVersion" -> latest.toString)))
    }
    Some((curRows, curBytes, per.map { case (c, (st, _)) => c -> st }))
  }

  def backfillRowIds(spark: SparkSession, table: String): Long =
      rebaseOnConflict(spark, table, "rowid_backfill",
        withStats = true) { read =>
    val st = existing(table, read)
    require(tracksRows(st.props),
      s"$table does not track rows (set graft.enableRowTracking=true)")
    val (live, schema) = (st.liveMap, st.schema)
    val missing = live.toSeq.collect {
      case (f, st) if !st.contains(RowBaseKey) &&
          !st.get(RowIdCol + NullStatsSuffix).exists(_._1 == 0.0) => f
    }.sorted
    if (missing.isEmpty) return -1L
    // per-file row counts: from the #nulls stats when the file has
    // them, else one grouped footer-cheap pass over the stragglers
    val counts: Map[String, Long] = {
      val fromStats = missing.flatMap(f =>
        live.get(f).map(st => f -> numRecordsOf(st)))
        .filter(_._2 > 0).toMap
      val unknown = missing.filterNot(fromStats.contains)
      val probed =
        if (unknown.isEmpty) Map.empty[String, Long]
        else spark.read.schema(schema)
          .parquet(unknown.map(f => absPath(table, f)): _*)
          .withColumn("__gf_file", input_file_name())
          .groupBy(col("__gf_file")).agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (relOf(table, r.getString(0)), r.getLong(1))).toMap
      fromStats ++ probed
    }
    val props0 = st.props
    var hw = props0.get(RowHwKey).map(_.toLong).getOrElse(0L)
    val stats2 = missing.map { f =>
      val st = live.getOrElse(f, Map.empty[String, (Double, Double)])
      val n = counts.getOrElse(f, 0L)
      val e = f -> (st + (RowBaseKey -> ((hw.toDouble, n.toDouble))))
      hw += n
      e
    }.toMap
    commitOn(spark, table, read)(v => Commit(v, "rowid_backfill", missing,
      Seq.empty, schema.toDDL, System.currentTimeMillis(),
      stats = stats2, props = props0 + (RowHwKey -> hw.toString)))
  }

  /** Table-root-relative form of an absolute scanned path. */
  private def relOf(table: String, abs: String): String = {
    val m = "^.*/(_data/.+)$".r
    abs match { case m(rel) => rel; case _ => abs }
  }

  /** Read with the stable row id exposed as `_graft_row_id`: per file,
    * the materialized column wins (post-compact files), else base +
    * `_metadata.row_index` (base-carrying files), else NULL (not yet
    * backfilled). Active DV masks apply (positions key the same
    * row_index). Flat layouts (the base join keys on the data-file
    * path; hive dirs would need partition reconstruction first). */
  def readWithRowIds(spark: SparkSession, table: String,
      asOf: Option[Long] = None,
      only: Option[Set[String]] = None): DataFrame =
    rowIdRead(spark, table, stateAt(spark, table, asOf, withStats = true),
      only)

  /** [[readWithRowIds]] of the state `st0` (re-read at its version with
    * stats when it came from a light checkpoint decode: the bases live
    * in the per-file stats). */
  private def rowIdRead(spark: SparkSession, table: String,
      st0: TableState, only: Option[Set[String]]): DataFrame = {
    val st =
      if (st0.withStats) st0
      else stateAt(spark, table, Some(st0.version), withStats = true)
    require(tracksRows(st.props),
      s"$table does not track rows (set graft.enableRowTracking=true)")
    val schema = st.schema
    val files = only match {
      case Some(subset) => st.files.filter(subset.contains)
      case None => st.files
    }
    requireUnpartitioned(files, "readWithRowIds")
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(RowIdCol,
            org.apache.spark.sql.types.LongType)))
    val (stats, cmap, dvs) = (st.stats, st.colMap, st.dvs)
    val extSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(RowIdCol,
        org.apache.spark.sql.types.LongType, nullable = true))
    // key the base manifest the way the scan's path column comes out:
    // relPathCol extracts from the last `_data/` marker, so a SHALLOW
    // CLONE's absolute source references must be re-keyed the same way
    // (stats carry them under the absolute path) — the uuid in every
    // staged dir name keeps the extracted keys collision-free across
    // clone sources
    val bases = files.flatMap(f => stats.get(f).flatMap(_.get(RowBaseKey))
      .map { case (b, _) => (relOf(table, absPath(table, f)), b.toLong) })
    import spark.implicits._
    val baseDf = bases.toDF("__gf_rel", "__gf_base")
    val scan = spark.read.schema(extSchema)
      .parquet(files.map(f => absPath(table, f)): _*)
      .withColumn("__gf_rel", relPathCol(col("_metadata.file_path")))
      .withColumn("__gf_row", col("_metadata.row_index"))
    val withId = scan.join(broadcast(baseDf), Seq("__gf_rel"), "left")
      .withColumn(RowIdCol,
        coalesce(col(RowIdCol), col("__gf_base") + col("__gf_row")))
    val masked =
      if (dvs.isEmpty) withId
      else {
        val dv = spark.read.parquet(dvs.map(f => absPath(table, f)): _*)
        withId.join(dv, withId("__gf_rel") === dv("file_rel") &&
          withId("__gf_row") === dv("row_idx"), "left_anti")
      }
    toLogicalDf(masked, schema, cmap, keep = Seq(RowIdCol))
      .select(logicalSchema(schema, cmap).fieldNames.map(col).toSeq :+
        col(RowIdCol): _*)
  }

  /** `TRUNCATE TABLE` as a LOG COMMIT (Delta's semantics — a DELETE of
    * everything): one metadata-only commit removing every live file
    * reference and deactivating DVs. History stays intact (time travel
    * still reaches pre-truncate versions until vacuum); nothing is
    * deleted from disk here. Spark's own TruncateTableCommand instead
    * DELETES the table location's contents — commit log included — so
    * the SQL statement is intercepted and routed here. */
  def truncate(spark: SparkSession, table: String): Long =
      rebaseOnConflict(spark, table, "truncate") { read =>
    requireAppendable(table, "TRUNCATE", read)
    val st = existing(table, read)
    commitOn(spark, table, read)(v => Commit(v, "truncate", Seq.empty,
      st.files, st.schema.toDDL, System.currentTimeMillis(),
      dvRemove = st.dvs))
  }

  /** Current (visible rows, total bytes) folded from commit-log
    * metadata — no table scan: every live file's numRecords rides its
    * commit's `#nulls` pseudo-stats; only active DV position sidecars
    * (orders of magnitude smaller than data) are read, and stats-less
    * stragglers get one grouped footer-cheap probe. Shared by
    * [[analyzeTable]] (which persists the numbers) and the DML-time
    * staleness guard (which only compares them). */
  def metadataRowCount(spark: SparkSession, table: String)
      : (Long, Long) =
      ofState(spark, table, None, withStats = true, (0L, 0L)) { state =>
    val (live, schema, sizes, dvs) =
      (state.liveMap, state.schema, state.sizes, state.dvs)
    val fromStats = live.toSeq.map { case (f, st) =>
      f -> numRecordsOf(st) }
    val unknown = fromStats.filter(_._2 == 0L).map(_._1)
      // zero CAN be a legitimately empty file; probing empties is cheap
    val probed: Map[String, Long] =
      if (unknown.isEmpty) Map.empty
      else spark.read.schema(schema)
        .parquet(unknown.map(f => absPath(table, f)): _*)
        .withColumn("__gf_file", input_file_name())
        .groupBy(col("__gf_file")).agg(count(lit(1)).as("n"))
        .collect().map(r => (relOf(table, r.getString(0)),
          r.getLong(1))).toMap
    val physical = fromStats.map { case (f, n) =>
      if (n > 0) n else probed.getOrElse(f, 0L) }.sum
    val masked =
      if (dvs.isEmpty) 0L
      else spark.read.parquet(
        dvs.toSeq.map(f => absPath(table, f)): _*).count()
    (physical - masked, live.keys.map(f => sizes.getOrElse(f, 0L)).sum)
  }

  /** `ANALYZE TABLE … COMPUTE STATISTICS` — table-level statistics
    * WITHOUT a table scan: the commit log already carries every live
    * file's numRecords (`#nulls` pseudo-stats) and byte size, so
    * rowCount folds from metadata and only the DV position count (a
    * sidecar orders of magnitude smaller than data) needs reading.
    * This is the Delta design point — stats ride the write, ANALYZE
    * just folds them — and at 100 TB it is the difference between a
    * metadata walk and re-scanning the lake to count it. The numbers
    * land in the properties map (`graft.stats.rowCount` /
    * `sizeInBytes` / `analyzedAtVersion`) via one metadata-only
    * commit, visible to `SHOW TBLPROPERTIES` and any planner that
    * wants a rowCount for join sizing (the FileIndex already reports
    * log-carried sizeInBytes for broadcast decisions). Returns
    * (visible rows, bytes). Files predating recorded stats are counted
    * with one grouped probe — the backfill fallback, never the
    * steady state. */
  def analyzeTable(spark: SparkSession, table: String): (Long, Long) = {
    val (rows, bytes) = metadataRowCount(spark, table)
    val vRead = latestVersion(spark, table)
    rebaseOnConflict(spark, table, "analyze") { read =>
      val st = existing(table, read)
      commitOn(spark, table, read)(v => Commit(v, "analyze", Seq.empty,
        Seq.empty, st.schema.toDDL, System.currentTimeMillis(),
        props = st.props ++ Map(
          "graft.stats.rowCount" -> rows.toString,
          "graft.stats.sizeInBytes" -> bytes.toString,
          "graft.stats.analyzedAtVersion" -> vRead.get.toString)))
    }
    (rows, bytes)
  }

  /** Fail loudly when the state `st` marks the table append-only —
    * checked by every row-removing or row-rewriting operation on the
    * state each of its attempts claims on (Delta's `delta.appendOnly`
    * contract: appends keep working, anything that can make data
    * disappear does not). */
  private def requireAppendable(table: String, op: String,
      st: Option[TableState]): Unit =
    if (st.exists(_.props.get("graft.appendOnly")
        .exists(_.equalsIgnoreCase("true"))))
      throw new UnsupportedOperationException(
        s"$op on $table: table is append-only (graft.appendOnly=true); " +
          "ALTER TABLE … UNSET TBLPROPERTIES ('graft.appendOnly') to " +
          "allow destructive operations")

  /** `GENERATED ALWAYS AS IDENTITY (START WITH s INCREMENT BY k)`
    * rides the generated map as `identity(s, k[, hw])`: the first two
    * arguments are the immutable definition, the optional third is the
    * HIGH-WATER MARK — the furthest value ever allocated — advanced by
    * each allocating commit, exactly Delta's
    * `delta.identity.highWaterMark`. A LOG-carried water mark (not a
    * max over live-file stats) is what makes identity values never
    * reuse: deletes, overwrites, and vacuum can remove every row
    * carrying the highest ids, and the next allocation still starts
    * above them. */
  private val IdentityDefRe =
    """(?i)\s*identity\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*(?:,\s*(-?\d+)\s*)?\)\s*""".r

  private[sources] def identityDef(ex: String)
      : Option[(Long, Long, Option[Long])] = ex match {
    case IdentityDefRe(s, k, hw) =>
      Some((s.toLong, k.toLong, Option(hw).map(_.toLong)))
    case _ => None
  }

  /** Fill columns the batch omits from their declared DEFAULT
    * expressions (see [[defaultsOf]]); columns present pass through
    * untouched — a supplied value always wins over the default. */
  private def fillDefaults(df: DataFrame, logical: StructType,
      defaults: Map[String, String]): DataFrame =
    if (defaults.isEmpty) df
    else logical.fields.foldLeft(df) { (d, f) =>
      if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
      else defaults.get(f.name.toLowerCase) match {
        case Some(e) => d.withColumn(f.name, expr(e).cast(f.dataType))
        case None    => d
      }
    }

  /** Write-time generated-column contract (Delta semantics): a batch
    * that OMITS a generated column gets it computed from its generation
    * expression; a batch that SUPPLIES one must satisfy
    * `col <=> (expr)` on every row (validated like a CHECK constraint,
    * in one aggregation pass) — silently accepting a
    * divergent explicit value would break the derived partition
    * pruning [[GraftFileIndex]] performs from base-column filters.
    * IDENTITY entries are the exception on both sides: their values are
    * ALWAYS engine-allocated ([[allocateIdentity]], run by the caller
    * after this), so a batch supplying one is rejected — GENERATED
    * ALWAYS means always. */
  private def applyGenerated(df: DataFrame, gens: Map[String, String],
      ctx: String): DataFrame =
    if (gens.isEmpty) df
    else {
      val present = df.columns.map(_.toLowerCase).toSet
      val (idGens, exprGens) =
        gens.partition { case (_, ex) => identityDef(ex).isDefined }
      idGens.keys.foreach(c => require(!present.contains(c.toLowerCase),
        s"$ctx: $c is GENERATED ALWAYS AS IDENTITY — its values are " +
          "allocated by the engine and can never be supplied"))
      val out = exprGens.toSeq.sortBy(_._1).foldLeft(df) {
        case (d, (c, ex)) =>
          if (present.contains(c.toLowerCase)) d
          else d.withColumn(c, expr(ex))
      }
      val supplied = exprGens.filter { case (c, _) =>
        present.contains(c.toLowerCase) }
      enforceChecks(out, supplied.map { case (c, ex) =>
        s"generated value of $c" -> s"$c <=> ($ex)" }, ctx)
      out
    }

  /** Allocate identity values for every `identity(…)` generated column
    * the batch omits (which [[applyGenerated]] just guaranteed is all
    * of them). Allocation is DENSE and distributed: one
    * count-per-partition pass computes exclusive prefix offsets, a
    * second pass stamps `hw + step * (offset + rowIdxInPartition + 1)`
    * — the RDD.zipWithIndex shape, two scans of the batch (batch-sized,
    * never table-sized), no shuffle, no driver materialization, and no
    * single-partition window. Returns the stamped frame plus the
    * generated map with each identity high-water mark advanced by
    * `step * batchRows`; the caller commits that map, making the
    * allocation durable under the same OCC rules as the files
    * themselves. Long arithmetic throughout — no float water marks. */
  private def allocateIdentity(spark: SparkSession, df: DataFrame,
      gens: Map[String, String])
      : (DataFrame, Map[String, String]) = {
    val ids = gens.toSeq.sortBy(_._1).flatMap { case (c, ex) =>
      identityDef(ex).map(c -> _) }
    if (ids.isEmpty) (df, gens)
    else {
      val rdd0 = df.rdd
      val counts = rdd0.mapPartitionsWithIndex((i, it) =>
          Iterator((i, it.size.toLong)), preservesPartitioning = true)
        .collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val n = if (offsets.isEmpty) 0L else offsets.last
      val bases = ids.map { case (_, (s, k, hw)) => hw.getOrElse(s - k) }
      val steps = ids.map(_._2._2)
      val schema2 = ids.foldLeft(df.schema)((sc, p) =>
        sc.add(p._1, org.apache.spark.sql.types.LongType,
          nullable = false))
      val out = rdd0.mapPartitionsWithIndex { (pi, it) =>
        var j = 0L
        val off = offsets(pi)
        it.map { r =>
          j += 1
          val extra = bases.indices.map(x =>
            bases(x) + steps(x) * (off + j))
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++ extra)
        }
      }
      val gens2 = gens ++ ids.zipWithIndex.map {
        case ((c, (s, k, _)), x) =>
          c -> s"identity($s,$k,${bases(x) + steps(x) * n})" }
      (spark.createDataFrame(out, schema2), gens2)
    }
  }

  /** Create a table with GENERATED columns (Delta's
    * `GENERATED ALWAYS AS (expr)`), optionally hive-partitioned by
    * them — the canonical 100 TB layout: `PARTITIONED BY (event_date)`
    * with `event_date GENERATED ALWAYS AS (to_date(ts))`. Writers never
    * name the column (it is computed here and on every subsequent
    * append/overwrite/merge), and readers never name it either:
    * [[GraftFileIndex]] derives partition predicates from filters on
    * the BASE column (`WHERE ts >= …` prunes `event_date=…` dirs), so
    * the partition discipline costs the pipeline author nothing.
    * `df` must NOT already carry the generated columns (they are
    * defined, not supplied, at creation). */
  def createGenerated(df: DataFrame, table: String,
      generated: Map[String, String], partCols: Seq[String]): Long = {
    val st0 = logState(df.sparkSession, table)
    require(st0.isEmpty, s"$table is already a GraftLog table")
    require(generated.nonEmpty, "no generated columns given")
    generated.keys.foreach(c =>
      require(!df.columns.exists(_.equalsIgnoreCase(c)),
        s"createGenerated: $c is defined GENERATED but the batch " +
          "already carries it; generated columns are defined at " +
          "creation, not supplied"))
    partCols.foreach(pc => require(
      generated.keys.exists(_.equalsIgnoreCase(pc)) ||
        df.columns.exists(_.equalsIgnoreCase(pc)),
      s"partition column $pc is neither a batch nor a generated column"))
    val c = conform(table, st0, df, "createGenerated", Replace, partCols,
      Some(generated))
    claim(table, c, stage(table, c), "overwrite",
      // a writer unaware of generation expressions would append rows
      // without computing them (or with stale identity marks)
      extraProps = withFeature(Map.empty, WriterFeaturesKey,
        "generatedColumns"))
  }

  /** Write-time CHECK enforcement (Delta's constraint semantics): a row
    * violates a constraint when its expression is FALSE — NULL passes,
    * per SQL. ONE aggregation pass over the rows being written (batch/
    * rewrite-sized, never table-sized), all constraints folded into a
    * single job; a violation rejects the whole transaction loudly
    * before any commit is attempted. */
  private def enforceChecks(df: DataFrame, checks: Map[String, String],
      ctx: String): Unit =
    if (checks.nonEmpty) {
      val named = checks.toSeq.sortBy(_._1)
      val aggs = named.map { case (nm, ex) =>
        coalesce(sum(when(!coalesce(expr(ex), lit(true)), 1L)
          .otherwise(0L)), lit(0L)).as(s"__ck_$nm")
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect().head
      val bad = named.zipWithIndex.collect {
        case ((nm, ex), i) if row.getLong(i) > 0 =>
          s"$nm CHECK ($ex): ${row.getLong(i)} row(s)"
      }
      require(bad.isEmpty,
        s"$ctx violates CHECK constraint(s): ${bad.mkString("; ")}")
    }

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)` — the constraint
    * lands in the commit log (every subsequent commit carries it via
    * the writeCommit inheritance invariant) after a one-scan validation
    * that the EXISTING rows already satisfy it, exactly Delta's ADD
    * CONSTRAINT contract. Write paths then validate only the rows they
    * write. */
  def addConstraint(spark: SparkSession, table: String, name: String,
      exprText: String): Long =
      rebaseOnConflict(spark, table, "addConstraint") { st0 =>
    val st = existing(table, st0)
    val cur = st.checks
    require(!cur.keys.exists(_.equalsIgnoreCase(name)),
      s"constraint $name already exists on $table")
    enforceChecks(read(spark, table, Some(st.version)),
      Map(name -> exprText), s"ADD CONSTRAINT $name: existing rows of $table")
    commitOn(spark, table, st0)(v => Commit(v, "add_constraint",
      Seq.empty, Seq.empty, st.schema.toDDL, System.currentTimeMillis(),
      checks = cur + (name -> exprText),
      // a writer unaware of constraints would commit unchecked rows
      props = withFeature(st.props, WriterFeaturesKey, "checkConstraints")))
  }

  /** `ALTER TABLE … DROP CONSTRAINT name` — metadata-only removal. */
  def dropConstraint(spark: SparkSession, table: String,
      name: String): Long =
      rebaseOnConflict(spark, table, "dropConstraint") { read =>
    val st = existing(table, read)
    val cur = st.checks
    require(cur.keys.exists(_.equalsIgnoreCase(name)),
      s"no constraint $name on $table " +
        s"(has ${cur.keys.mkString(",")})")
    commitOn(spark, table, read)(v => Commit(v, "drop_constraint",
      Seq.empty, Seq.empty, st.schema.toDDL, System.currentTimeMillis(),
      checks = cur.filterNot(_._1.equalsIgnoreCase(name))))
  }

  /** `ALTER TABLE … RENAME COLUMN old TO new` — metadata-only, the
    * Delta column-mapping mechanism: data files keep their PHYSICAL
    * column names forever; the commit updates only the physical→logical
    * map, and reads project physical columns to their logical names. On
    * a 100 TB table a rename is one small JSON write where a rewrite
    * would be a day of IO. Stats, Bloom bitmaps and deletion vectors
    * are keyed by physical names / positions, so skipping and
    * merge-on-read are unaffected. [[compact]] MATERIALIZES the mapping
    * (rewrites files with logical names and clears it). Partitioned
    * layouts are refused — partition values live in `col=val` dir names,
    * which a metadata rename cannot re-key. */
  def renameColumn(spark: SparkSession, table: String,
      oldName: String, newName: String): Long =
      rebaseOnConflict(spark, table, "renameColumn") { read =>
    val st = existing(table, read)
    val (phys, cmap) = (st.schema, st.colMap)
    requireUnpartitioned(st.files, "renameColumn")
    val logical = logicalSchema(phys, cmap)
    require(logical.fieldNames.exists(_.equalsIgnoreCase(oldName)),
      s"renameColumn: no column $oldName in $table " +
        s"(has ${logical.fieldNames.mkString(",")})")
    require(!logical.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"renameColumn: column $newName already exists in $table")
    val p = physNameOf(cmap, oldName)
    val next =
      if (p.equalsIgnoreCase(newName)) cmap - p // renamed back
      else cmap + (p -> newName)
    commitOn(spark, table, read)(v => Commit(v, "rename_column",
      Seq.empty, Seq.empty, phys.toDDL, System.currentTimeMillis(),
      colMap = next,
      props = withFeature(st.props, ReaderFeaturesKey, "columnMapping")))
  }

  /** Lossless type-widening matrix (Delta's type-widening feature set,
    * restricted to the promotions Spark 4's parquet readers perform
    * natively on the physical pages — verified: INT32 pages read under
    * a LongType/DoubleType schema, FLOAT under Double, DECIMAL under a
    * wider precision). Every admitted pair embeds the old domain
    * exactly; nothing rounds. */
  private def isWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale &&
          (b.precision != a.precision || b.scale != a.scale)
      case _ => false
    }
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE t` — Delta TYPE WIDENING: a
    * METADATA-ONLY commit moves the column to a strictly wider type
    * ([[isWidening]]); no data file is touched. Old files keep their
    * narrow physical pages and the schema-directed parquet read
    * promotes them at decode time (a Spark 4 reader capability — the
    * probe above is pinned in the spec); new appends arrive already
    * wide. The commit declares the `typeWidening` READER feature (the
    * columnMapping discipline: first use and declaration are one
    * atomic commit), because an engine that matches physical types
    * byte-for-byte would misread the narrow pages under the wide
    * schema. At 100 TB this is the difference between `INT` filling up
    * and a full-table rewrite: the id column that outgrew int32 widens
    * in one small-JSON commit.
    *
    * Refused: partition columns (their values parse from dir paths
    * under the declared type — widening is semantically fine but the
    * hive-layout contract keys on the original; explicit rewrite
    * instead), columns referenced by CHECK constraints or
    * generated-column expressions (the stored expression text was
    * type-checked against the narrow column), and non-widening pairs
    * (loudly, with the matrix). */
  def widenColumn(spark: SparkSession, table: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Long =
      rebaseOnConflict(spark, table, "widenColumn") { read =>
    val st = existing(table, read)
    val (files, phys, cmap) = (st.files, st.schema, st.colMap)
    val logical = logicalSchema(phys, cmap)
    val f = logical.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"widenColumn: no column $name in $table " +
          s"(has ${logical.fieldNames.mkString(",")})"))
    require(isWidening(f.dataType, newType),
      s"widenColumn: ${f.dataType.simpleString} -> " +
        s"${newType.simpleString} is not a lossless widening " +
        "(byte/short/int->wider integral or double, float->double, " +
        "decimal->wider decimal)")
    val partCols = layoutPartCols(files)
    require(!partCols.exists(_.equalsIgnoreCase(name)),
      s"widenColumn: $name is a partition column; rewrite the layout " +
        "instead (path-parsed values key on the declared type)")
    // hidden-bucket SOURCE columns refuse too: xxhash64 hashes int and
    // long inputs differently, so widening the source type would make
    // planner-side bucketFor probes (mayMatchBucket, the SPJ catalog)
    // disagree with where the writer placed the rows — a silent
    // definite-miss prune of live data. Covers both path-derived specs
    // and the declared graft.partitionSpec (spec evolution).
    val bucketSrcs = partCols.collect {
      case HiddenBucketDir(_, src) => src
    } ++ bucketSpecOf(st.props).map(_._1)
    require(!bucketSrcs.exists(_.equalsIgnoreCase(name)),
      s"widenColumn: $name is a hidden-bucket source column; the " +
        "bucket hash is type-sensitive — rewrite the layout " +
        "(overwriteBucketTransform) under the wide type instead")
    // identifier-boundary match, not substring: a constraint on
    // band_id must not block widening id
    val refs = st.checks.values ++ st.generated.values
    val ident = java.util.regex.Pattern.compile(
      "(?i)(?<![A-Za-z0-9_])" +
        java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9_])")
    require(!refs.exists(r => ident.matcher(r).find()),
      s"widenColumn: $name is referenced by a CHECK constraint or " +
        "generated-column expression; drop it first")
    val p = physNameOf(cmap, name)
    val next = StructType(phys.fields.map(fd =>
      if (fd.name.equalsIgnoreCase(p)) fd.copy(dataType = newType)
      else fd))
    commitOn(spark, table, read)(v => Commit(v, "widen_column",
      Seq.empty, Seq.empty, next.toDDL, System.currentTimeMillis(),
      props = withFeature(st.props, ReaderFeaturesKey, "typeWidening")))
  }

  /** `ALTER TABLE … DROP COLUMN` — metadata-only like [[renameColumn]]:
    * the commit's schema loses the physical field (schema-directed
    * parquet reads simply stop decoding it) and the physical name is
    * RETIRED in the mapping (mapped to ""), so a later ADD COLUMNS of
    * the same logical name gets a fresh physical name instead of
    * resurrecting the dropped column's bytes from old files. */
  def dropColumn(spark: SparkSession, table: String,
      name: String): Long =
      rebaseOnConflict(spark, table, "dropColumn") { read =>
    val st = existing(table, read)
    val (phys, cmap) = (st.schema, st.colMap)
    requireUnpartitioned(st.files, "dropColumn")
    val logical = logicalSchema(phys, cmap)
    require(logical.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"dropColumn: no column $name in $table " +
        s"(has ${logical.fieldNames.mkString(",")})")
    require(logical.length > 1,
      s"dropColumn: cannot drop the last column of $table")
    val p = physNameOf(cmap, name)
    val remaining = StructType(phys.fields.filterNot(
      _.name.equalsIgnoreCase(p)))
    commitOn(spark, table, read)(v => Commit(v, "drop_column",
      Seq.empty, Seq.empty, remaining.toDDL, System.currentTimeMillis(),
      colMap = cmap - p + (p -> ""),
      props = withFeature(st.props, ReaderFeaturesKey, "columnMapping")))
  }

  /** Highest streaming batch id committed for `appId` — replaying the
    * log is a metadata walk (file names + small JSON), never data. Reads
    * the folded ledger from the newest checkpoint (which survives
    * vacuum's log truncation) plus the commits after it. */
  def lastCommittedBatch(spark: SparkSession, table: String,
      appId: String, asOf: Option[Long] = None): Option[Long] = {
    // asOf anchors the ledger read at a pinned snapshot VERSION — the
    // MV rewrite reads the view's high-water at the same version its
    // file scan is pinned to, so a maintenance commit racing the gate
    // can never pair one version's ledger with another's files
    val listing = listLog(spark, table)
    if (asOf.forall(listing.latest.contains))
      latestState(spark, table, listing, withStats = false)
        .flatMap(_.txns.get(appId))
    else {
      val ckpt = listing.checkpointVersions
        .filter(cv => asOf.forall(cv <= _)).lastOption
      val base = ckpt.flatMap(cv => readCheckpoint(spark, table, listing,
        cv, withStats = false)._1.txns.get(appId))
      val tail = listing.versions
        .filter(v => ckpt.forall(v > _) && asOf.forall(v <= _))
        .map(readCommit(spark, table, _))
        .flatMap(_.txn)
        .collect { case (app, batch) if app == appId => batch }
      (base.toSeq ++ tail).maxOption
    }
  }

  /** Idempotent transactional append for streaming sinks: commits `df`
    * tagged (appId, batchId) unless that batch id (or a later one) is
    * already in the log, in which case it is a NO-OP returning false.
    * This closes the exactly-once gap `foreachBatch` leaves open — after
    * a crash between sink commit and checkpoint write, the restarted
    * query re-delivers the last batch, and the ledger rejects the
    * duplicate. Same contract as Delta's `txn` action + idempotent
    * writes. The batch meets the same gates, and lands under the same
    * layout, as an [[append]]. */
  def txnAppend(df: DataFrame, table: String, appId: String,
      batchId: Long): Boolean =
    write(df, table, "streaming append", Enforce, "streamingAppend",
      txn = Some((appId, batchId))) >= 0L

  /** [[txnAppend]] for HIVE-PARTITIONED layouts — the streaming sink
    * path for the canonical 100 TB shape (a date-partitioned events
    * table fed by a micro-batch stream): each batch stages under its
    * `col=val/` dirs and lands as one ledger-stamped commit, so
    * exactly-once holds per batch and downstream partition pruning
    * (and partition-scoped OPTIMIZE WHERE) see the streamed data
    * exactly like batch-written data. Layout must match the table's
    * existing partition columns — mixed layouts would break
    * path-derived reconstruction (same gate as [[appendPartitioned]]).
    * A table this append creates carries `createProps` from its first
    * version; an existing table must already record them (else
    * ConcurrentModificationException: the staged files follow that
    * layout). */
  def txnAppendPartitioned(df: DataFrame, table: String, appId: String,
      batchId: Long, partCols: Seq[String],
      createProps: Map[String, String] = Map.empty): Boolean =
    write(df, table, "streaming appendPartitioned", Enforce,
      "streamingAppend", partCols, txn = Some((appId, batchId)),
      createProps = createProps) >= 0L

  /** Bounded contention policy shared by the transactional writers: a
    * conflict loop may not spin forever under sustained contention
    * (Delta likewise caps commit attempts). Linear backoff smears
    * retriers apart; past the cap the caller gets a
    * ConcurrentModificationException to surface, not an infinite loop. */
  private val MaxCommitAttempts = 20
  private def backoffOrGiveUp(attempts: Int, table: String,
      op: String): Unit = {
    if (attempts >= MaxCommitAttempts)
      throw new java.util.ConcurrentModificationException(
        s"$op on $table lost $MaxCommitAttempts commit races; giving up")
    Thread.sleep(math.min(50L * attempts, 500L))
  }

  // ------------------------------------------- conflict resolution (OCC)
  // The Delta ConflictChecker contract on this log. Two writer classes:
  //
  //  * INGEST WRITES (every append and overwrite entry point, through
  //    the write pipeline's [[claim]]) stage their files once and keep
  //    them across a lost race: the files never depend on the table's
  //    rows. An append removes nothing, so it commutes with ANY
  //    concurrent commit except a metadata change; an overwrite
  //    recomputes its remove set (the files live on the claim's state).
  //    But the batch was conformed to the metadata of the state it
  //    read, so a claim on a moved table first RE-VALIDATES — the
  //    claim takes the version after that read, so any move collides.
  //    A concurrent change of the CHECK constraints, generated columns
  //    (an identity high-water mark included) or DEFAULTs, a schema
  //    change an appended batch no longer fits, or a re-layout, fails
  //    loudly — Delta's MetadataChangedException.
  //
  //  * SNAPSHOT REWRITES (delete/update/merge/compact/
  //    clusterBy/restore/deleteVectors and the metadata commits) compute
  //    their remove/rewrite set, gates and metadata against the state
  //    they read, so after a lost race all of it is STALE. The loop
  //    ([[rebaseOnConflict]]) reads the table's state ONCE per attempt
  //    and hands it to the attempt, which gates, plans and stages on
  //    that state alone and claims the version after it ([[commitOn]]):
  //    a commit landing while the attempt works collides, and the next
  //    attempt starts from a state that has seen it. The attempt that
  //    wins the claim has by construction seen every commit below it.
  //    The orphaned files a losing attempt staged are unreferenced and
  //    reclaimed by [[vacuum]]'s needed-set sweep.

  /** Re-run `attempt` on a fresh read of the table's state (None for an
    * empty log) until its commit claim wins, bounded by
    * [[MaxCommitAttempts]]. */
  private def rebaseOnConflict(spark: SparkSession, table: String,
      op: String, withStats: Boolean = false)(
      attempt: Option[TableState] => Long): Long = {
    var attempts = 0
    while (true) {
      try return attempt(logState(spark, table, withStats))
      catch {
        case _: CommitConflictException =>
          backoffOrGiveUp(attempts, table, op)
      }
      attempts += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit `mk(v)` on the state `st` an attempt read, at `v` = its
    * version + 1 (Delta's readVersion + 1): any commit landing after
    * the read collides. Returns `v`. */
  private def commitOn(spark: SparkSession, table: String,
      st: Option[TableState])(mk: Long => Commit): Long = {
    val v = st.fold(0L)(_.version + 1)
    writeCommit(spark, table, mk(v), st)
    v
  }

  /** The state of a table the operation requires to exist. */
  private def existing(table: String, st: Option[TableState])
      : TableState = {
    require(st.nonEmpty, s"$table is not a GraftLog table (no $LogDirName)")
    st.get
  }

  /** The staged batch still fits the (possibly moved) table iff the
    * layout matches and the column set/types are unchanged — parquet
    * reads are schema-directed BY NAME, so column order is immaterial
    * and the staged files stay valid. Returns the ddl to re-assert;
    * throws the MetadataChangedException analog otherwise. */
  private def revalidateBlindAppend(table: String, st: Option[TableState],
      batch: StructType, op: String, partCols: Seq[String]): String =
    st match {
      case None => batch.toDDL // still an empty log: the batch sets it
      case Some(s) =>
        val (files, cur) = (s.files, s.schema)
        val layout = layoutPartCols(files)
        // hidden-only layouts are mutually compatible by construction
        // (partition-spec evolution: every hidden dir prunes per FILE,
        // so a gfb4 first-file spec coexists with a gfb8 staged batch)
        def hiddenOnly(cols: Seq[String]): Boolean =
          cols.forall(HiddenBucketDir.matches)
        val compatible =
          layout.map(_.toLowerCase) == partCols.map(_.toLowerCase) ||
            (hiddenOnly(layout) && hiddenOnly(partCols))
        if (files.nonEmpty && !compatible)
          throw new java.util.ConcurrentModificationException(
            s"$op on $table: a concurrent commit changed the partition " +
              s"layout to (${layout.mkString(",")}) and the staged " +
              s"batch's (${partCols.mkString(",")}) no longer fits")
        val ok = cur.length == batch.length && cur.fields.forall(f =>
          batch.fields.exists(g => g.name.equalsIgnoreCase(f.name) &&
            sameTypeModuloNull(f.dataType, g.dataType)))
        if (!ok)
          throw new java.util.ConcurrentModificationException(
            s"$op on $table: the table schema changed concurrently " +
              s"(now `${cur.toDDL}`, staged batch `${batch.toDDL}`); " +
              "re-run the append against the new schema")
        cur.toDDL
    }

  // ------------------------------------------------------- write pipeline
  // Every ingest entry point — append, appendPartitioned,
  // appendMergeSchema, txnAppend, txnAppendPartitioned, copyInto,
  // overwrite, overwriteTxn, overwritePartitioned,
  // overwriteBucketTransform, overwriteIndexed, createGenerated — is a
  // delegate of the same three steps on ONE read of the table's state:
  // [[conform]] meets the batch with that state's metadata, [[stage]]
  // writes its files, and [[claim]] commits them, starting on that
  // same state. The entry points differ only in their schema policy,
  // layout and the commit's extras (txn stamp, ingest ledger, props,
  // Bloom indexes).

  /** How a written batch's schema meets the table's. */
  private sealed trait SchemaPolicy

  /** Append: adds files, removes none. Delta's schema enforcement: the
    * batch must carry exactly the table's columns and types (the first
    * append on an empty log sets the schema) — a mismatched batch is
    * REJECTED rather than silently re-pointing the table schema at the
    * batch's, and the commit re-asserts the existing table schema.
    * Widening appends go through [[Union]]. */
  private case object Enforce extends SchemaPolicy

  /** Schema-evolving append (Delta `mergeSchema`): commit schema =
    * union of the table's and the batch's columns (table order first,
    * new batch columns appended). Data files are immutable — older
    * files simply lack the new columns, and the schema-directed parquet
    * read fills them as typed NULLs; batch files lacking legacy columns
    * read the same way. Type CHANGES on a shared column are rejected.
    * The union is a function of the state the claim sits on, so it is
    * recomputed whenever the table moves: a widening that raced
    * another widening asserts the union of both. */
  private case object Union extends SchemaPolicy

  /** Atomic overwrite: the batch's schema replaces the table's, and its
    * files replace the live ones. Readers see the old snapshot until
    * the single commit-file link flips them to the new one — no window
    * where the table is empty or mixed (the failure mode of a recursive
    * delete-then-write on plain parquet dirs). Table metadata survives
    * (Delta semantics): the rows must satisfy the current CHECKs and
    * carry the generated columns, and identity marks never reset, so
    * replaced rows' ids are never reissued. Append-only tables refuse. */
  private case object Replace extends SchemaPolicy

  /** A batch conformed to the state `st0` it was checked against: `df`
    * carries the columns the files store (physical names under column
    * mapping), `layout` the dirs it stages under (see [[layoutOf]]),
    * `generated` the map the commit sets (empty: inherit), and `ddlOn`
    * the schema the commit asserts on a claim state — the policy's
    * retry check, throwing when the batch no longer fits. */
  private final case class Conformed(st0: Option[TableState], op: String,
      policy: SchemaPolicy, df: DataFrame, layout: Seq[String],
      generated: Map[String, String], ddlOn: Option[TableState] => String)

  /** The write pipeline of the entry points that need no extras beyond
    * the claim's: one state read, and a batch whose (appId, batchId)
    * the ledger already holds stages nothing (-1). */
  private def write(df: DataFrame, table: String, op: String,
      policy: SchemaPolicy, commitOp: String, partCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None, copied: Seq[String] = Seq.empty,
      copiedBaseline: Set[String] = Set.empty,
      createProps: Map[String, String] = Map.empty,
      extraProps: Map[String, String] = Map.empty): Long = {
    val st0 = logState(df.sparkSession, table)
    if (txn.exists(landed(st0, _))) -1L
    else {
      val c = conform(table, st0, df, op, policy, partCols)
      claim(table, c, stage(table, c), commitOp, txn, copied,
        copiedBaseline, createProps, extraProps)
    }
  }

  /** Step 1: meet `df` with the metadata of `st0`, in one fixed order:
    * declared DEFAULTs fill the table columns the batch omits (not
    * under [[Replace]], where the batch defines the schema), generated
    * columns compute ([[applyGenerated]]; `gens` overrides the state's
    * map for a table being created), identity values allocate, the
    * schema policy applies, the CHECKs validate — all over LOGICAL
    * column names — and an appended batch re-keys to physical names.
    * Everything that refuses does so here, before a file is staged. */
  private def conform(table: String, st0: Option[TableState],
      df: DataFrame, op: String, policy: SchemaPolicy,
      partCols: Seq[String] = Nil,
      gens: Option[Map[String, String]] = None): Conformed = {
    if (policy == Replace) requireAppendable(table, op, st0)
    val layout = layoutOf(table, st0, op, policy, partCols)
    val cmap = st0.fold(Map.empty[String, String])(_.colMap)
    val target = st0.filter(_ => policy != Replace)
      .map(s => logicalSchema(s.schema, cmap))
    val gens0 = gens.getOrElse(generatedOf(st0))
    val filled =
      target.fold(df)(fillDefaults(df, _, defaultsOf(propsOf(st0))))
    val (full, gens2) = allocateIdentity(df.sparkSession,
      applyGenerated(filled, gens0, op), gens0)
    // (the frame CHECKs see, the frame staged, the retry check)
    val (checked, staged, ddlOn) = policy match {
      case Enforce =>
        val ok = target.fold(full)(enforceSchema(full, _, op))
        val phys = st0.fold(ok)(s => toPhysicalDf(ok, s.schema, cmap))
        (ok, phys, (st: Option[TableState]) =>
          revalidateBlindAppend(table, st, phys.schema, op, layout))
      case Union =>
        val phys = unionPhysical(table, full, cmap)
        // CHECKs see the batch as the table will read it back: columns
        // it lacks are typed NULLs (which pass a CHECK per SQL unless it
        // explicitly tests IS NOT NULL)
        val withMissing = target.fold(Seq.empty[StructField])(_.fields
            .filterNot(f => full.columns.exists(_.equalsIgnoreCase(f.name))))
          .foldLeft(full)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        (withMissing, phys,
          (st: Option[TableState]) => unionDdl(st, phys.schema))
      case Replace =>
        (full, full, (st: Option[TableState]) => {
          requireAppendable(table, op, st)
          full.schema.toDDL
        })
    }
    enforceChecks(checked, checksOf(st0), op)
    ddlOn(st0) // a type change refuses before anything is staged
    Conformed(st0, op, policy, staged, layout,
      if (gens2 != generatedOf(st0)) gens2 else Map.empty, ddlOn)
  }

  /** The dirs a write stages under: its hive columns, else (an append
    * onto a table declaring `graft.partitionSpec`) the spec's hidden
    * `gfb<n>_<col>` bucket dir, else none (flat). An append's layout
    * must be the table's: mixed layouts would break path-derived
    * partition reconstruction. */
  private def layoutOf(table: String, st0: Option[TableState], op: String,
      policy: SchemaPolicy, partCols: Seq[String]): Seq[String] =
    st0 match {
      case Some(st) if policy != Replace =>
        val files = st.files
        if (partCols.nonEmpty) {
          val existing = layoutPartCols(files)
          require(files.isEmpty ||
            existing.map(_.toLowerCase) == partCols.map(_.toLowerCase),
            s"$op(${partCols.mkString(",")}) does not match the table's " +
              s"layout (${existing.mkString(",")}) — mixed layouts would " +
              "break path-derived partition reconstruction")
          partCols
        } else bucketSpecOf(st.props) match {
          case Some((sc, n)) =>
            require(hiddenOnlyLayout(files),
              s"$op under a declared partition spec: the table carries " +
                "a VISIBLE hive layout; use appendPartitioned")
            require(st.colMap.isEmpty,
              s"$op under a declared partition spec: column mapping is " +
                "active; unsupported together")
            Seq(s"gfb${n}_$sc")
          case None =>
            requireUnpartitioned(files, op)
            Nil
        }
      case _ => partCols
    }

  /** A [[Union]] batch re-keyed to physical names: under column mapping
    * the batch's LOGICAL names re-key to physical ones for shared
    * columns; genuinely new columns keep their names (logical ==
    * physical for them) but must not collide with any physical or
    * retired name, or old files would leak foreign bytes into them. */
  private def unionPhysical(table: String, df: DataFrame,
      cmap: Map[String, String]): DataFrame =
    if (cmap.isEmpty) df
    else {
      df.columns.foreach { c =>
        val isShared = cmap.values.exists(_.equalsIgnoreCase(c))
        require(isShared || !cmap.keys.exists(_.equalsIgnoreCase(c)),
          s"appendMergeSchema: new column $c collides with a " +
            s"physical/retired column name of $table")
      }
      df.select(df.columns.map(c =>
        col(c).as(physNameOf(cmap, c))).toSeq: _*)
    }

  /** The [[Union]] schema of the state `st` and a physical batch schema. */
  private def unionDdl(st: Option[TableState], batch: StructType): String =
    (st match {
      case None => batch
      case Some(s) =>
        val cur = s.schema
        val byName = batch.map(f => f.name.toLowerCase -> f).toMap
        cur.foreach { f =>
          byName.get(f.name.toLowerCase).foreach { g =>
            require(sameTypeModuloNull(g.dataType, f.dataType),
              s"column ${f.name}: type change ${f.dataType.sql} -> " +
                s"${g.dataType.sql} is not supported")
          }
        }
        val curNames = cur.fieldNames.map(_.toLowerCase).toSet
        StructType(cur.fields ++
          batch.fields.filterNot(f => curNames(f.name.toLowerCase)))
    }).toDDL

  /** Step 2: stage a conformed batch — [[optimizedWrite]] under the
    * table's properties, then its files under its layout
    * ([[stageUnder]]). */
  private def stage(table: String, c: Conformed): Staged =
    stageUnder(optimizedWrite(withHiddenPartCols(c.df, c.layout), c.layout,
      propsOf(c.st0)), table, c.layout)

  /** Step 3: the claim loop. Files are staged exactly once; each claim
    * takes the version after the state it sits on, starting on the
    * state [[conform]] read, so any commit that landed since collides.
    * After a lost race the loop re-reads the state and abandons (-1)
    * when the batch landed meanwhile: the ledger holds `txn` (the
    * ledger check and the version claim are not one atomic step, so
    * two deliveries of one batch can both pass the entry check), or a
    * competing COPY INTO recorded one of the `copied` source files
    * since `copiedBaseline` (baseline-relative, so a forced re-ingest
    * never aborts on its own history); the staged files are then
    * unreferenced orphans that [[vacuum]]'s needed-set sweep reclaims.
    * Otherwise the claim re-validates: the metadata the batch was
    * conformed to must be unchanged ([[requireMetadataUnmoved]]), and
    * the policy's check recomputes the schema to assert. An overwrite
    * removes the claim state's files. Row ids allocate per claim, on
    * the high water of the state it sits on; `createProps` are set only
    * by a claim that creates the table, and one onto an existing table
    * requires them there ([[requireCreateProps]]); `extraProps` merge
    * over the table's. A landed commit runs the auto-compact hook. */
  private def claim(table: String, c: Conformed, s: Staged,
      commitOp: String, txn: Option[(String, Long)] = None,
      copied: Seq[String] = Seq.empty,
      copiedBaseline: Set[String] = Set.empty,
      createProps: Map[String, String] = Map.empty,
      extraProps: Map[String, String] = Map.empty,
      blooms: Map[String, Map[String, String]] = Map.empty): Long = {
    val spark = c.df.sparkSession
    var st = c.st0
    var attempts = 0
    while (true) {
      if (txn.exists(landed(st, _)) || copied.nonEmpty && st.exists(x =>
          (x.copied.toSet -- copiedBaseline).exists(copied.contains)))
        return -1L
      requireMetadataUnmoved(table, c, st)
      val ddl = c.ddlOn(st)
      st.foreach(requireCreateProps(table, c.op, _, createProps))
      val v = st.fold(0L)(_.version + 1)
      val (stats, rowProps) = allocRowIds(st, s)
      // extra props merge over the FULL current map — a partial props
      // commit would clobber the rest under the "props = latest
      // commit's props" invariant
      val extra = extraProps ++ (if (st.isEmpty) createProps else Map.empty)
      val props =
        if (extra.isEmpty) rowProps
        else (if (rowProps.nonEmpty) rowProps else propsOf(st)) ++ extra
      val remove =
        if (c.policy == Replace) st.fold(Seq.empty[String])(_.files)
        else Seq.empty
      val won =
        try Some(writeCommit(spark, table, Commit(v, commitOp, s.files,
          remove, ddl, System.currentTimeMillis(), txn, stats = stats,
          sizes = s.sizes, blooms = blooms, generated = c.generated,
          props = props, copied = copied), st))
        catch { case _: CommitConflictException => None }
      won match {
        case Some(after) =>
          // post-commit hook: the landed write may have tipped a
          // partition over the small-file threshold — one best-effort
          // extra commit ([[maybeAutoCompact]] gates on the table
          // property of the state this commit produced; its own commit
          // goes through writeCommit directly, so it can never
          // re-trigger itself)
          maybeAutoCompact(spark, table,
            if (after.isDefined) after else logState(spark, table))
          return v
        case None =>
          backoffOrGiveUp(attempts, table, c.op)
          attempts += 1
          st = logState(spark, table)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A batch [[conform]] validated against the CHECKs, generated
    * columns and DEFAULTs of its state may land only while they are
    * unchanged: a constraint added meanwhile was never checked, a moved
    * identity high-water mark makes the staged ids collide with the
    * winner's, and a changed definition or default was never applied.
    * Loud conflict; the caller re-runs against the new metadata. */
  private def requireMetadataUnmoved(table: String, c: Conformed,
      st: Option[TableState]): Unit = {
    val moved =
      if (generatedOf(st) != generatedOf(c.st0))
        Some("generated columns or an identity high-water mark")
      else if (checksOf(st) != checksOf(c.st0)) Some("CHECK constraints")
      else if (defaultsOf(propsOf(st)) != defaultsOf(propsOf(c.st0)))
        Some("column DEFAULTs")
      else None
    moved.foreach(m => throw new java.util.ConcurrentModificationException(
      s"${c.op} on $table: a concurrent commit changed the table's $m " +
        "after this write was validated; re-run it against the new state"))
  }

  /** An append staged for a table created with `createProps` (a layout
    * its files follow) may land on an existing table only if that table
    * records the same values: a table another writer created first
    * with a different layout would read the staged files wrongly. */
  private def requireCreateProps(table: String, op: String,
      st: TableState, createProps: Map[String, String]): Unit =
    createProps.foreach { case (k, v) =>
      if (!st.props.get(k).contains(v))
        throw new java.util.ConcurrentModificationException(
          s"$op on $table: the table exists with $k = " +
            s"${st.props.getOrElse(k, "<unset>")}, but this append was " +
            s"staged for a new table with $k = $v")
    }

  /** Whether the txn ledger of `st` already holds (appId, batchId). */
  private def landed(st: Option[TableState],
      txn: (String, Long)): Boolean =
    st.exists(_.txns.get(txn._1).exists(_ >= txn._2))

  /** Data files of the state `st` that contain at least one row
    * matching `probe` (a broadcast join — the table side never
    * shuffles), and the distinct matched keys when the probe carries a
    * `__gf_key` column; see [[probedFiles]]. */
  private def touchedFiles(spark: SparkSession, table: String,
      st: TableState, schema: StructType,
      probe: DataFrame => DataFrame): (Seq[String], Option[DataFrame]) =
    probedFiles(table, st, probe(
      readSubset(spark, table, st, st.files, schema)
        .withColumn("__gf_file", input_file_name())))

  /** The entries of the state `st` whose data files hold a row of
    * `probed` (a scan of `st` carrying each row's file URI as
    * `__gf_file`), and, when it has a struct column `__gf_key`, a frame
    * of that column's distinct non-null values. Each scan partition
    * collects its own distinct file names and keys, so there is no
    * shuffle, and the collect is metadata-sized. */
  private def probedFiles(table: String, st: TableState,
      probed: DataFrame): (Seq[String], Option[DataFrame]) = {
    val keyed = probed.columns.contains("__gf_key")
    val out = probed.select(col("__gf_file") +:
      (if (keyed) Seq(col("__gf_key")) else Nil): _*)
    val rows = out.mapPartitions { it =>
      val (files, keys) = (mutable.LinkedHashSet.empty[String],
        mutable.LinkedHashSet.empty[Row])
      it.foreach { r =>
        files += r.getString(0)
        if (keyed && !r.isNullAt(1)) keys += r.getStruct(1)
      }
      files.iterator.map(f => if (keyed) Row(f, null) else Row(f)) ++
        keys.iterator.map(k => Row(null, k))
    }(org.apache.spark.sql.Encoders.row(StructType(
      out.schema.fields.map(_.copy(nullable = true))))).collect()
    val (fileRows, keyRows) = rows.partition(!_.isNullAt(0))
    (filesAt(table, st, fileRows.map(_.getString(0))),
      if (keyed) Some(keyFrame(probed, keyRows.map(_.getStruct(1))))
      else None)
  }

  /** The entries of the state `st` whose data files the scanned URIs
    * `uris` name. Matching uses the full table-root-relative path,
    * exact for flat AND partitioned layouts (a partitioned job repeats
    * the same part-file NAME across `col=val` dirs, so any name-based
    * tail would be ambiguous); entries match by their `_data/` suffix,
    * so absolute references (SHALLOW CLONE commits) resolve the same as
    * relative ones. */
  private def filesAt(table: String, st: TableState,
      uris: Iterable[String]): Seq[String] = {
    val rels = uris.flatMap(u => relPathOf(new java.net.URI(u).getPath))
      .toSet
    st.files.filter(f => relPathOf(absPath(table, f)).exists(rels.contains))
  }

  /** The clause engine's matched probe over `pairs` (columns
    * `__gf_rid`, `__gf_file`, `__gf_app` and optionally `__gf_key`: one
    * row per target-row × source-row match). All pairs of a target row
    * fall in that row's scan partition — the broadcast join keeps the
    * stream side's partitioning — so each partition folds its own
    * counts with no shuffle: per target row the matches (`__nAll`) and
    * the applicable ones (`__nApp`), then per file the maxima of both.
    * Returns file URI → (max `__nApp`, max `__nAll`) and, with a
    * `__gf_key`, a frame of the distinct matched keys. */
  private def foldMatches(pairs: DataFrame)
      : (Map[String, (Long, Long)], Option[DataFrame]) = {
    val keyed = pairs.columns.contains("__gf_key")
    val out = StructType(Seq(
        StructField("file", StringType), StructField("mxApp", LongType),
        StructField("mxAll", LongType)) ++
      (if (keyed) Seq(StructField("key", pairs.schema("__gf_key").dataType))
       else Nil))
    val rows = pairs.mapPartitions { it =>
      // rid → (file, __nAll, __nApp)
      val perRow = mutable.HashMap.empty[Long, (String, Long, Long)]
      val keys = mutable.LinkedHashSet.empty[Row]
      it.foreach { r =>
        val (f, n, a) = perRow.getOrElse(r.getLong(0), (r.getString(1), 0L, 0L))
        perRow(r.getLong(0)) = (f, n + 1L, a + r.getLong(2))
        if (keyed) keys += r.getStruct(3)
      }
      val perFile = mutable.HashMap.empty[String, (Long, Long)]
      perRow.valuesIterator.foreach { case (f, n, a) =>
        val (mxA, mxN) = perFile.getOrElse(f, (0L, 0L))
        perFile(f) = (math.max(mxA, a), math.max(mxN, n))
      }
      perFile.iterator.map { case (f, (mxA, mxN)) =>
          if (keyed) Row(f, mxA, mxN, null) else Row(f, mxA, mxN) } ++
        keys.iterator.map(k => Row(null, null, null, k))
    }(org.apache.spark.sql.Encoders.row(out)).collect()
    val (fileRows, keyRows) = rows.partition(!_.isNullAt(0))
    (fileRows.groupMapReduce(_.getString(0))(r =>
        (r.getLong(1), r.getLong(2))) {
        case ((a1, n1), (a2, n2)) => (math.max(a1, a2), math.max(n1, n2)) },
      if (keyed) Some(keyFrame(pairs, keyRows.map(_.getStruct(3))))
      else None)
  }

  /** A frame of the distinct values `keys` of `probed`'s struct column
    * `__gf_key`, one column per struct field. */
  private def keyFrame(probed: DataFrame, keys: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    probed.sparkSession.createDataFrame(keys.distinct.asJava,
      probed.schema("__gf_key").dataType.asInstanceOf[StructType])
  }

  /** MERGE INTO-equivalent with Delta's three clause families, each
    * optional (at least one required):
    *   - `updateMatched`: WHEN MATCHED THEN UPDATE SET *
    *   - `insertUnmatched`: WHEN NOT MATCHED THEN INSERT *
    *   - `deleteUnmatchedBySource`: WHEN NOT MATCHED BY SOURCE THEN
    *     DELETE — the SCD close-out clause (the reference's
    *     `financial_dl_etl.py:59-77` full-snapshot compare is its
    *     natural use: target rows absent from today's snapshot close).
    * `source` must carry the target schema; `keys` are the match
    * columns; a key must appear at most once in `source` (Delta's own
    * precondition).
    *
    * File pruning is clause-driven: update touches files containing a
    * matched key; delete-by-source touches files containing an UNmatched
    * row. With both clauses every non-degenerate file rewrites (inherent
    * to full-snapshot semantics — Delta behaves the same); with only one
    * clause the probe prunes to the files that clause actually affects.
    * The rewrite joins ONLY touched files' rows against the broadcast
    * source. */
  def merge(source: DataFrame, table: String, keys: Seq[String],
      updateMatched: Boolean = true, insertUnmatched: Boolean = true,
      deleteUnmatchedBySource: Boolean = false,
      mergeSchema: Boolean = false): Long =
    // row tracking: on flat un-mapped layouts mergeImpl PRESERVES ids
    // (matched rows materialize theirs; inserts resolve base +
    // row_index from the commit's own allocation) and the backfill is
    // a no-op. It remains the safety net for the layouts mergeImpl
    // cannot preserve on (partitioned / column-mapped): their rewritten
    // files get fresh ids immediately rather than NULLs until the next
    // manual backfill.
    rebaseThenBackfill(source.sparkSession, table, "merge") { st =>
      requireAppendable(table, "MERGE", st)
      mergeImpl(source, table, keys, txn = None, st, updateMatched,
        insertUnmatched, deleteUnmatchedBySource, mergeSchema)
    }

  /** One `WHEN …` clause of a conditional / multi-clause MERGE (the
    * full Delta MERGE surface [[mergeClauses]] executes). Conditions
    * and set/value expressions reference the two sides through the
    * FIXED aliases `t` (target) and `s` (source) — e.g.
    * `expr("s.salary <> t.salary")` — the same contract as Delta's
    * `whenMatched(condition)` builder with its implicit aliases. */
  sealed trait MergeClause { def condition: Option[Column] }
  object MergeClause {
    /** `WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN UPDATE SET …`.
      * Empty `sets` means `UPDATE SET *` (every non-key column copied
      * from the source by name — only valid in the MATCHED family). */
    final case class Update(condition: Option[Column] = None,
        sets: Seq[(String, Column)] = Nil) extends MergeClause
    /** `WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN DELETE`. */
    final case class Delete(condition: Option[Column] = None)
      extends MergeClause
    /** `WHEN NOT MATCHED [AND cond] THEN INSERT …`. Empty `values`
      * means `INSERT *`; explicit values may cover a subset of columns
      * — the rest land as typed NULLs (Delta's contract). */
    final case class Insert(condition: Option[Column] = None,
        values: Seq[(String, Column)] = Nil) extends MergeClause
  }

  /** Conditional & multi-clause `MERGE INTO` — the full Delta clause
    * surface: multiple ordered `WHEN MATCHED [AND cond]` clauses
    * (FIRST-MATCH-WINS), column-level `UPDATE SET c = expr`, matched
    * DELETE, multiple conditional `WHEN NOT MATCHED … INSERT` clauses,
    * and conditional `WHEN NOT MATCHED BY SOURCE` UPDATE/DELETE.
    * `keys` is the equi-join ON condition (same-named columns), the
    * only ON shape whose file pruning this engine implements.
    *
    * Scale shape: two scans of the target, one per query. The probe
    * joins every live file's column-pruned rows with the broadcast
    * source and folds the matches inside each scan partition (no
    * shuffle): the touched files, the ambiguity counts and, with a
    * keys-only ON, the distinct matched source keys. The write query
    * rewrites only the touched files through one left-outer join with
    * the broadcast source, and takes the NOT MATCHED rows as the
    * source anti-joined with those matched keys, so it reads no
    * untouched file. The clause cascade is a single codegen'd CASE
    * projection (one `when` chain per output column), so N clauses
    * cost zero extra joins or passes. Matched-clause CONDITIONS join
    * the touched-file probe: a key-matching row satisfying no clause
    * condition does not rewrite its file.
    *
    * Ambiguity contract (Delta's `MULTIPLE_SOURCE_ROW_MATCHING`): when
    * matched clauses exist and ANY target row has >1 source row
    * matching by key with ≥1 applicable clause, the merge throws —
    * first-match-wins orders CLAUSES, never source rows. The check
    * rides the touched-file probe job (no extra pass).
    *
    * Unsupported shapes fail loudly: column-mapped tables (compact
    * first), identity columns (engine-allocated), DV-bearing snapshots
    * (inherited from the rewrite contract). Non-identity GENERATED
    * columns are recomputed from the post-cascade rows, so an update
    * to a base column can never leave a stale derived value. */
  def mergeClauses(source: DataFrame, table: String, keys: Seq[String],
      matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeClause.Insert] = Nil,
      notMatchedBySource: Seq[MergeClause] = Nil,
      onExtra: Option[Column] = None,
      mergeSchema: Boolean = false): Long =
    rebaseThenBackfill(source.sparkSession, table, "merge") { st =>
      requireAppendable(table, "MERGE", st)
      mergeClausesImpl(source, table, keys, matched, notMatched,
        notMatchedBySource, onExtra, mergeSchema, st)
    }

  private def mergeClausesImpl(source: DataFrame, table: String,
      keys: Seq[String], matched: Seq[MergeClause],
      notMatched: Seq[MergeClause.Insert],
      notMatchedBySource: Seq[MergeClause],
      onExtra: Option[Column], mergeSchema: Boolean,
      read: Option[TableState]): Long = {
    import MergeClause._
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE needs at least one WHEN clause")
    matched.foreach {
      case _: Insert => throw new IllegalArgumentException(
        "WHEN MATCHED cannot INSERT")
      case _ => ()
    }
    notMatchedBySource.foreach {
      case _: Insert => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE cannot INSERT")
      case Update(_, sets) if sets.isEmpty =>
        throw new IllegalArgumentException(
          "WHEN NOT MATCHED BY SOURCE UPDATE needs explicit SET " +
            "assignments (there is no source row to copy * from)")
      case _ => ()
    }
    val spark = source.sparkSession
    val st = existing(table, read)
    requireNoDvs(st, "merge")
    require(st.colMap.isEmpty,
      s"conditional MERGE into column-mapped $table is not supported; " +
        "compact() to materialize the mapping first")
    val gens = st.generated
    require(!gens.values.exists(identityDef(_).isDefined),
      s"MERGE into $table is not supported while it has a GENERATED " +
        "ALWAYS AS IDENTITY column; append new rows instead")
    val (files, schema0c) = (st.files, st.schema)
    // autoMerge widening (star clauses pick the new columns up from
    // the source; carried rows read as typed NULLs)
    val schema = if (!mergeSchema) schema0c
      else widenForMerge(schema0c, source, Map.empty, table)
    val partCols = layoutPartCols(files)
    val fieldByName = schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val dataCols = schema.fieldNames.filterNot(c =>
      keys.exists(_.equalsIgnoreCase(c)))

    // normalize stars into explicit per-column assignments and verify
    // every explicit target column exists
    def checkTargets(sets: Seq[(String, Column)], what: String): Unit =
      sets.foreach { case (c, _) =>
        require(fieldByName.contains(c.toLowerCase),
          s"$what assigns unknown column $c") }
    val matchedN = matched.map {
      case Update(c, Nil) =>
        Update(c, dataCols.toSeq.map(n => n -> col(s"s.$n")))
      case u @ Update(_, sets) => checkTargets(sets, "WHEN MATCHED"); u
      case d: Delete => d
      case i: Insert => i // unreachable (guarded above)
    }
    val bySourceN = notMatchedBySource.map {
      case u @ Update(_, sets) =>
        checkTargets(sets, "WHEN NOT MATCHED BY SOURCE"); u
      case other => other
    }
    val insertsN = notMatched.map {
      case Insert(c, Nil) =>
        Insert(c, schema.fieldNames.toSeq.map(n => n -> col(s"s.$n")))
      case i @ Insert(_, vals) =>
        checkTargets(vals, "WHEN NOT MATCHED INSERT"); i
    }

    val srcA = source.alias("s")
    // the ON condition = the same-name key equalities (the pruning
    // anchor) AND any extra conjuncts (Delta's full ON surface: a
    // key-matching row failing the extra condition is NOT MATCHED —
    // an insert clause may then legally introduce a duplicate key,
    // exactly Delta's semantics)
    val joinCond = (keys.map(k => col(s"t.$k") === col(s"s.$k")) ++
      onExtra.toSeq).reduce(_ && _)
    def orConds(cs: Seq[MergeClause]): Column =
      cs.map(_.condition.getOrElse(lit(true))).reduce(_ || _)

    // ---- touched-file probe (+ the ambiguity counts, ONE job) ----
    // matched side: every live row joins the broadcast source; a file
    // is touched iff it holds a row some clause CONDITION applies to
    // (clause-driven pruning). The same probe yields the two
    // multi-match counts — per target row, how many source rows match
    // at all (__nAll) and how many with an applicable clause (__nApp) —
    // and, with a keys-only ON, the distinct matched source keys that
    // answer the NOT MATCHED side below.
    val (touchedM, ambiguous, mxAllByRel, matchedKeys) =
      if (matchedN.isEmpty)
        (Seq.empty[String], false, Map.empty[String, Long], None)
      else {
        val pairs = readSubset(spark, table, st, files, schema)
          .withColumn("__gf_file", input_file_name())
          .withColumn("__gf_rid", monotonically_increasing_id())
          .alias("t")
          .join(broadcast(srcA), joinCond, "inner")
          .select(Seq(col("__gf_rid"), col("__gf_file"),
            when(orConds(matchedN), lit(1L)).otherwise(lit(0L))
              .as("__gf_app")) ++
            (if (onExtra.isEmpty) Seq(struct(keys.zipWithIndex.map {
                case (k, i) => col(s"s.$k").as(s"__gf_k$i") }: _*)
              .as("__gf_key"))
            else Nil): _*)
        val (perFile, keySet) = foldMatches(pairs)
        (filesAt(table, st, perFile.collect {
            case (uri, (mxApp, _)) if mxApp > 0L => uri }),
         perFile.valuesIterator.exists(_._1 > 1L),
         // per-file max key-match fan-out — consulted AFTER the full
         // touched set (matched ++ by-source) is known, because a file
         // touched ONLY by a by-source clause still fans its matched-
         // but-inapplicable rows out through the rewrite join
         perFile.flatMap { case (uri, (_, mxAll)) =>
           relPathOf(new java.net.URI(uri).getPath).map(_ -> mxAll) },
         keySet)
      }
    if (ambiguous) throw new IllegalStateException(
      s"MERGE into $table: a target row matches multiple source rows " +
        "with an applicable WHEN MATCHED clause — the result would be " +
        "nondeterministic (first-match-wins orders clauses, not source " +
        "rows); de-duplicate the source on the merge keys first")
    // by-source side: anti join on keys filtered by the OR of clause
    // conditions (they may reference the target only)
    val touchedB =
      if (bySourceN.isEmpty) Seq.empty[String]
      else touchedFiles(spark, table, st, schema, df =>
        df.alias("t")
          .join(broadcast(
            if (onExtra.isEmpty)
              source.select(keys.map(col): _*).distinct().alias("s")
            else srcA),
            joinCond, "left_anti")
          .filter(orConds(bySourceN)))._1
    val touched = (touchedM ++ touchedB).distinct
    // Multi-match dedup signal over ALL files the rewrite touches (the
    // round-10 advisor's high finding: gating on matched-touched files
    // only — or hardcoding false when there are no WHEN MATCHED
    // clauses — let a by-source-touched file whose rows key-match
    // multiple inapplicable source rows emit N copies of each). With no
    // matched clause the rewrite never reads source VALUES, so when
    // there is also no extra ON conjunct the join collapses to a
    // keys-distinct source (no fan-out possible, no dedup); with an
    // extra conjunct the source frame stays whole and the dedup window
    // runs unconditionally (rare shape; duplicates are byte-identical
    // carried rows, so any-copy-wins is exact).
    val keysOnlyRewrite = matchedN.isEmpty && onExtra.isEmpty
    val needDedup =
      if (matchedN.nonEmpty)
        touched.exists(f => relPathOf(absPath(table, f))
          .exists(rel => mxAllByRel.getOrElse(rel, 0L) > 1L))
      else !keysOnlyRewrite

    // row tracking (flat layouts; column mapping already refused
    // above): carried/updated rows materialize their ids through the
    // rewrite, inserts carry NULL and resolve base + row_index from
    // the commit's allocRowIds — the same preservation contract as the
    // two-clause merge
    val trackedIds = partCols.isEmpty && tracksRows(st.props)

    // ---- rewrite of touched files: one left-outer join + CASE cascade
    val rewritten = if (touched.isEmpty) None else {
      val tgt = (if (trackedIds)
          rowIdRead(spark, table, st, Some(touched.toSet))
        else readSubset(spark, table, st, touched, schema))
        .withColumn("__gf_rid", monotonically_increasing_id()).alias("t")
      val rewriteSrc =
        if (keysOnlyRewrite)
          source.select(keys.map(col): _*).distinct().alias("s")
        else srcA
      val joined = tgt.join(broadcast(rewriteSrc), joinCond, "left_outer")
      // equi-join: a matched row's source key is necessarily non-null
      val isMatched = col(s"s.${keys.head}").isNotNull
      // first-match-wins: index of the first applicable clause (0 = none)
      def clauseIdx(cs: Seq[MergeClause], gate: Column): Column =
        cs.zipWithIndex.foldRight(lit(0): Column) { case ((cl, i), acc) =>
          when(gate && cl.condition.getOrElse(lit(true)), lit(i + 1))
            .otherwise(acc)
        }
      val mIdx = clauseIdx(matchedN, isMatched)
      val bIdx = clauseIdx(bySourceN, !isMatched)
      val mDel = matchedN.zipWithIndex.collect {
        case (_: Delete, i) => i + 1 }
      val bDel = bySourceN.zipWithIndex.collect {
        case (_: Delete, i) => i + 1 }
      def survives(idx: Column, dels: Seq[Int]): Column =
        if (dels.isEmpty) lit(true) else !idx.isin(dels.map(Int.box): _*)
      val marked = joined
        .withColumn("__gf_midx", mIdx).withColumn("__gf_bidx", bIdx)
      // duplicate inapplicable matches fan a target row out through the
      // left-outer join; the ambiguity gate guarantees ≤1 APPLICABLE
      // source row per target row, so keeping the max-clause-index row
      // per target row restores exactly-one-copy semantics. The window
      // (a shuffle over touched rows) only enters the plan when the
      // probe job actually saw a multi-match.
      val deduped = if (!needDedup) marked else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__gf_rid"))
          .orderBy(col("__gf_midx").desc)
        marked.withColumn("__gf_rn", row_number().over(w))
          .filter(col("__gf_rn") === 1).drop("__gf_rn")
      }
      val kept = deduped
        .filter(survives(col("__gf_midx"), mDel) &&
          survives(col("__gf_bidx"), bDel))
      // per-column CASE over the clause index — one codegen'd chain
      def valueOf(c: String): Column = {
        val f = fieldByName(c.toLowerCase)
        def chain(cs: Seq[MergeClause], idx: Column,
            base: Column): Column =
          cs.zipWithIndex.foldLeft(base) {
            case (acc, (Update(_, sets), i)) =>
              sets.collectFirst {
                case (n, v) if n.equalsIgnoreCase(c) => v } match {
                case Some(v) =>
                  when(idx === lit(i + 1), v.cast(f.dataType))
                    .otherwise(acc)
                case None => acc
              }
            case (acc, _) => acc
          }
        chain(bySourceN, col("__gf_bidx"),
          chain(matchedN, col("__gf_midx"), col(s"t.$c")))
      }
      Some(kept.select(schema.fieldNames.map(c =>
        valueOf(c).as(c)) ++
        (if (trackedIds) Seq(col(s"t.$RowIdCol")) else Nil): _*))
    }

    // ---- inserts: the source rows no live row matches. The matched
    // probe read every live file, so with a keys-only ON its distinct
    // matched keys answer this exactly: an anti join against that set,
    // no larger than the source (a NULL key matches nothing and
    // inserts). An extra ON conjunct may reference any column of
    // either side, and with no matched clause no probe ran: there the
    // source anti-joins the target rows. With UNCONDITIONAL matched
    // clauses every key-matching file is touched, so that scan narrows
    // to the touched files; otherwise it covers all files.
    val insertRows = if (insertsN.isEmpty) None else {
      val unmatched = (matchedKeys match {
        case Some(mk) =>
          srcA.join(mk, keys.indices.map(i =>
            col(s"s.${keys(i)}") === mk(s"__gf_k$i")).reduce(_ && _),
            "left_anti")
        case None =>
          val probeFiles =
            if (matchedN.nonEmpty && matchedN.forall(_.condition.isEmpty))
              touched
            else files
          // extra ON conjuncts may reference any target column, so the
          // anti join reads the full row there
          val probeCols =
            if (onExtra.isEmpty) keys else schema.fieldNames.toSeq
          val targetKeys = readSubset(spark, table, st, probeFiles, schema)
            .select(probeCols.map(col): _*).alias("t")
          srcA.join(targetKeys, joinCond, "left_anti")
      }).alias("s")
      val iIdx = insertsN.zipWithIndex.foldRight(lit(0): Column) {
        case ((cl, i), acc) =>
          when(cl.condition.getOrElse(lit(true)), lit(i + 1))
            .otherwise(acc)
      }
      def insValue(c: String): Column = {
        val f = fieldByName(c.toLowerCase)
        insertsN.zipWithIndex.foldLeft(
            lit(null).cast(f.dataType): Column) {
          case (acc, (Insert(_, vals), i)) =>
            vals.collectFirst {
              case (n, v) if n.equalsIgnoreCase(c) => v } match {
              case Some(v) =>
                when(col("__gf_iidx") === lit(i + 1), v.cast(f.dataType))
                  .otherwise(acc)
              case None => acc
            }
        }
      }
      Some(unmatched.withColumn("__gf_iidx", iIdx)
        .filter(col("__gf_iidx") > 0)
        .select(schema.fieldNames.map(c => insValue(c).as(c)) ++
          (if (trackedIds)
            Seq(lit(null).cast("long").as(RowIdCol)) else Nil): _*))
    }

    val combined = (rewritten, insertRows) match {
      case (Some(u), Some(i)) => u.unionByName(i)
      case (Some(u), None)    => u
      case (None, Some(i))    => i
      case (None, None)       => readSubset(spark, table, st, Seq.empty, schema)
    }
    // non-identity generated columns: recompute from the post-cascade
    // row so derived values can never go stale behind an update
    val genCols = gens.keys.toSeq
      .filter(c => fieldByName.contains(c.toLowerCase))
      .filterNot(c => identityDef(gens(c)).isDefined)
    val regenerated =
      if (genCols.isEmpty) combined
      else applyGenerated(combined.drop(
          genCols.map(c => fieldByName(c.toLowerCase).name): _*),
        gens.filter(g => genCols.exists(_.equalsIgnoreCase(g._1))),
        "merge").select(schema.fieldNames.map(col) ++
          (if (trackedIds) Seq(col(RowIdCol)) else Nil): _*)
    enforceChecks(regenerated, st.checks, "merge")
    val s =
      if (touched.isEmpty && insertRows.isEmpty)
        Staged(Seq.empty, Map.empty, Map.empty)
      else stageUnder(regenerated, table, partCols)
    // bases for inserted rows (NULL physical id → base + row_index);
    // no-op when tracking is off
    val (st2c, pr2c) = allocRowIds(read, s)
    commitOn(spark, table, read)(v => Commit(v, "merge", s.files, touched,
      schema.toDDL, System.currentTimeMillis(), stats = st2c,
      sizes = s.sizes, props = pr2c))
  }

  /** [[rebaseOnConflict]] for the rewrites that do not materialize row
    * ids (replaceWhere; merges on non-preserving layouts): when the
    * winning attempt's state tracks rows, a metadata-only backfill
    * commit follows (skipped when nothing needs ids). */
  private def rebaseThenBackfill(spark: SparkSession, table: String,
      op: String)(attempt: Option[TableState] => Long): Long = {
    var tracked = false
    val v = rebaseOnConflict(spark, table, op) { st =>
      tracked = st.exists(s => tracksRows(s.props))
      attempt(st)
    }
    if (tracked)
      try backfillRowIds(spark, table)
      catch { case scala.util.control.NonFatal(e) =>
        // The rewrite itself committed; a failed backfill only leaves
        // the rewritten rows with NULL ids (changesByRowId then reports
        // them as delete+insert pairs). That degradation must be
        // DIAGNOSABLE, not silent — warn loudly instead of discarding.
        System.err.println(
          s"[graft] WARN: post-rewrite row-id backfill failed for " +
            s"$table — rewritten rows carry NULL row ids until the " +
            s"next successful backfill/compact: ${e.getMessage}")
      }
    v
  }

  /** Idempotent transactional MERGE for streaming upsert sinks — the
    * [[txnAppend]] ledger contract applied to [[merge]]: a re-delivered
    * (appId, batchId) is a no-op returning -1. This is the "streaming
    * MERGE INTO a Delta table" shape (foreachBatch + idempotent
    * write). */
  def txnMerge(source: DataFrame, table: String, keys: Seq[String],
      appId: String, batchId: Long): Long =
    // on a commit conflict the merge's file-pruned rewrite is stale, so
    // unlike txnAppend the WHOLE merge recomputes from the fresh state —
    // after re-checking, on that state, the append-only gate (a
    // streaming upsert sink rewrites rows like a batch MERGE) and
    // whether the re-delivered batch landed via the competing commit
    rebaseOnConflict(source.sparkSession, table, "txnMerge") { st =>
      requireAppendable(table, "MERGE (streaming txn)", st)
      if (landed(st, (appId, batchId))) -1L
      else mergeImpl(source, table, keys, Some((appId, batchId)), st)
    }

  /** MERGE autoMerge widening (Delta `schema.autoMerge.enabled`):
    * source-only columns extend the commit schema; shared columns
    * type-check strictly; untouched files simply lack the new columns
    * and the schema-directed read fills typed NULLs. Shared by the
    * legacy star merge and the clause-cascade engine. */
  private def widenForMerge(schema0: StructType, source: DataFrame,
      cmap: Map[String, String], table: String): StructType = {
    require(cmap.isEmpty, "merge schema evolution on a column-mapped " +
      s"table is not supported; compact $table first")
    val byName = schema0.fields.map(f => f.name.toLowerCase -> f).toMap
    source.schema.fields.foreach { f =>
      byName.get(f.name.toLowerCase).foreach { g =>
        require(sameTypeModuloNull(f.dataType, g.dataType),
          s"merge column ${f.name}: type ${f.dataType.sql} does not " +
            s"match table type ${g.dataType.sql}")
      }
    }
    StructType(schema0.fields ++ source.schema.fields.filterNot(f =>
      byName.contains(f.name.toLowerCase)))
  }

  private def mergeImpl(source: DataFrame, table: String, keys: Seq[String],
      txn: Option[(String, Long)], read: Option[TableState],
      updateMatched: Boolean = true, insertUnmatched: Boolean = true,
      deleteUnmatchedBySource: Boolean = false,
      mergeSchema: Boolean = false): Long = {
    require(updateMatched || insertUnmatched || deleteUnmatchedBySource,
      "merge needs at least one clause")
    val spark = source.sparkSession
    val st = existing(table, read)
    requireNoDvs(st, "merge")
    // identity allocation inside a MERGE would need per-clause
    // bookkeeping (inserted rows allocate, updated rows keep) — loud
    // beats a half-right id column; route inserts through append
    require(!st.generated.values.exists(identityDef(_).isDefined),
      s"MERGE into $table is not supported while it has a GENERATED " +
        "ALWAYS AS IDENTITY column; append new rows instead (identity " +
        "values are engine-allocated there)")
    val (files, schema0, cmap) = (st.files, st.schema, st.colMap)
    val partCols = layoutPartCols(files)
    // MERGE schema evolution (Delta autoMerge): source columns absent
    // from the target WIDEN the commit schema; untouched files simply
    // lack them and the schema-directed read fills typed NULLs — the
    // same merge-on-read contract as appendMergeSchema. Shared columns
    // still type-check strictly; the source must carry every target
    // column (SET */INSERT * needs a value for each).
    val schema = if (!mergeSchema) schema0
      else widenForMerge(schema0, source, cmap, table)
    // source and keys arrive in LOGICAL terms; the whole rewrite then
    // runs physically (mapping implies a flat layout). A merge source
    // that omits generated columns gets them computed first (the batch
    // shape Delta's MERGE accepts on generated tables).
    val src = toPhysicalDf(
      enforceSchema(applyGenerated(source, st.generated, "merge"),
        logicalSchema(schema, cmap), "merge"),
      schema, cmap)
    val keysPhys = keys.map(physNameOf(cmap, _))
    val srcKeys = src.select(keysPhys.map(col): _*).distinct()
    // a file rewrites iff it holds a row some active clause changes:
    // UPDATE → a row matching a source key; DELETE BY SOURCE → a row
    // matching none. The semi/anti probes prune per-clause; both
    // together touch every file holding any row (full-snapshot cost).
    // The hit rows also carry their key, so with an update clause the
    // probe yields the distinct matched keys the insert side needs.
    val (touched, matchedKeys) = touchedFiles(spark, table, st, schema,
        df => {
      val hit = if (updateMatched)
        Some(df.join(broadcast(srcKeys), keysPhys, "left_semi")
          .withColumn("__gf_key", struct(keysPhys.map(col): _*)))
        else None
      val miss = if (deleteUnmatchedBySource)
        Some(df.join(broadcast(srcKeys), keysPhys, "left_anti")) else None
      (hit, miss) match {
        case (Some(h), Some(m)) => h.unionByName(m.withColumn("__gf_key",
          lit(null).cast(h.schema("__gf_key").dataType)))
        case (Some(h), None)    => h
        case (None, Some(m))    => m
        case (None, None)       => df.limit(0)
      }
    })

    val dataCols = schema.fieldNames.filterNot(keysPhys.contains)
    val marked = src.select(
      keysPhys.map(col) ++
        dataCols.map(c => col(c).as(s"__s_$c")) :+
        lit(true).as("__s_matched"): _*)

    // row tracking through MERGE (flat un-mapped layouts, like
    // update/delete): carried and UPDATED rows keep their ids by
    // MATERIALIZATION — the rewrite reads them with the physical id
    // column and writes it back; INSERTED rows carry a NULL physical id
    // and receive base + row_index from the commit's allocRowIds, so
    // fresh ids are monotone past the high water and can never collide
    // with a preserved one
    val tracked = partCols.isEmpty && cmap.isEmpty && tracksRows(st.props)

    val updated = if (touched.isEmpty) None else {
      val t = if (tracked) rowIdRead(spark, table, st, Some(touched.toSet))
      else readSubset(spark, table, st, touched, schema)
      val joined = t.join(broadcast(marked), keysPhys, "left_outer")
      // NOT MATCHED BY SOURCE DELETE drops the unmatched rows instead of
      // carrying them through the rewrite
      val kept = if (deleteUnmatchedBySource)
        joined.filter(col("__s_matched")) else joined
      Some(kept.select(schema.fieldNames.map { c =>
        if (keysPhys.contains(c) || !updateMatched) col(c)
        else when(col("__s_matched"), col(s"__s_$c")).otherwise(col(c))
          .as(c)
      } ++ (if (tracked) Seq(col(RowIdCol)) else Nil): _*))
    }
    // insert probe: with updateMatched, the probe above read every live
    // row against the source keys, so its distinct matched keys are the
    // keys the table holds among the source's, and the anti join runs
    // against that small set. WITHOUT an update clause no hit probe ran,
    // so the anti join reads the key column of all files.
    val inserts = if (!insertUnmatched) None else {
      val targetKeys = matchedKeys.getOrElse(
        readSubset(spark, table, st, files, schema)
          .select(keysPhys.map(col): _*))
      Some(src.join(targetKeys, keysPhys, "left_anti")
        .select(schema.fieldNames.map(col) ++
          (if (tracked)
            Seq(lit(null).cast("long").as(RowIdCol)) else Nil): _*))
    }
    val rewritten = (updated, inserts) match {
      case (Some(u), Some(i)) => u.unionByName(i)
      case (Some(u), None)    => u
      case (None, Some(i))    => i
      case (None, None) => readSubset(spark, table, st, Seq.empty, schema)
    }
    // constraints hold over the rows this transaction writes (the
    // carried-through rows of touched files were validated when first
    // written; re-checking them costs only touched-file scans)
    enforceChecks(if (tracked) rewritten
      else toLogicalDf(rewritten, schema, cmap), st.checks, "merge")
    // a partitioned target re-stages hive-partitioned, so the rewrite
    // keeps the layout (files land back under their col=val dirs); a
    // no-op merge (nothing touched, no insert clause) stages nothing
    // rather than writing empty part files
    val s =
      if (touched.isEmpty && inserts.isEmpty)
        Staged(Seq.empty, Map.empty, Map.empty)
      else stageUnder(rewritten, table, partCols)
    // bases for the staged files: inserted rows (NULL physical id)
    // resolve to base + row_index; materialized ids win by coalesce.
    // No-op map when tracking is off (plain props inheritance).
    val (st2, pr2) = allocRowIds(read, s)
    commitOn(spark, table, read)(v => Commit(v, "merge", s.files, touched,
      schema.toDDL, System.currentTimeMillis(), txn, stats = st2,
      sizes = s.sizes, props = pr2))
  }

  /** Predicate DELETE, file-pruned like [[merge]]: files with no matching
    * row are untouched; matching files are rewritten without the rows.
    * SQL DELETE semantics: only rows where the predicate is TRUE go —
    * NULL-predicate rows (e.g. `tag = 'x'` on a NULL tag) are KEPT, so
    * the kept-rows filter coalesces NULL to false before negating
    * (a bare `!predicate` filter would drop them). */
  def delete(spark: SparkSession, table: String, predicate: Column): Long =
    rebaseOnConflict(spark, table, "delete") { st =>
      requireAppendable(table, "DELETE", st)
      deleteOnce(spark, table, predicate, existing(table, st))
    }

  /** Probe for files of the state `st` holding rows matching
    * `predicate`, THROUGH the planner-integrated FileIndex (pinned to
    * `st`): the pushed-down predicate prunes
    * stat-disjoint files, Bloom-negative files, and non-matching
    * partition dirs BEFORE any data is read (the t8/t10/t18 machinery,
    * now applied to DML). On a range-clustered 100 TB table,
    * `DELETE WHERE day = X` therefore opens only the candidate files —
    * the full-scan probe would read the table to find them. Falls back
    * to the subset probe under an active column mapping (the index
    * refuses mapped scans by design). */
  private def probeTouched(spark: SparkSession, table: String,
      st: TableState, predicate: Column): Seq[String] = {
    val (schema, cmap) = (st.schema, st.colMap)
    if (cmap.nonEmpty)
      touchedFiles(spark, table, st, schema,
        df => toLogicalDf(df, schema, cmap, keep = Seq("__gf_file"))
          .filter(predicate))._1
    else probedFiles(table, st, GraftFileIndex.readState(spark, table, st)
      .filter(predicate).select(input_file_name().as("__gf_file")))._1
  }

  private def deleteOnce(spark: SparkSession, table: String,
      predicate: Column, st: TableState): Long = {
    requireNoDvs(st, "delete")
    val (files, schema, cmap) = (st.files, st.schema, st.colMap)
    val partCols = layoutPartCols(files)
    // the predicate references LOGICAL names; probe and rewrite expose
    // them over the physical scan (mapping implies a flat layout)
    val touched = probeTouched(spark, table, st, predicate)
    val s = if (touched.isEmpty) Staged(Seq.empty, Map.empty, Map.empty)
    else {
      // row tracking: survivors of the rewritten files keep their ids
      // by MATERIALIZATION (the compact mechanism applied to DML —
      // Delta's row-id preservation); flat un-mapped layouts only,
      // like readWithRowIds itself
      val tracked = partCols.isEmpty && cmap.isEmpty && tracksRows(st.props)
      val kept =
        if (tracked)
          rowIdRead(spark, table, st, Some(touched.toSet))
            .filter(!coalesce(predicate, lit(false)))
        else toPhysicalDf(
          toLogicalDf(readSubset(spark, table, st, touched, schema), schema,
            cmap).filter(!coalesce(predicate, lit(false))), schema, cmap)
      stageUnder(kept, table, partCols)
    }
    commitOn(spark, table, Some(st))(v => Commit(v, "delete", s.files,
      touched, schema.toDDL, System.currentTimeMillis(), stats = s.stats,
      sizes = s.sizes))
  }

  /** DELETE the rows whose key tuple appears in `keys` — the FRAME
    * form of [[delete]]: the key set stays distributed end-to-end
    * (touched-file probe = scan semi-joined against the frame, rewrite
    * = anti-join), so a bulk erasure batch of millions of keys never
    * materializes driver-side the way a collected `isin` list would —
    * the driver only ever sees the touched FILE list. REWRITE
    * semantics (matching rows leave the data files), the composable
    * form downstream keyed merges need; [[deleteVectorsMatching]] is
    * the mask-only sibling for erasure latency. Join strategy is left
    * to AQE: a small key frame broadcasts, a huge one shuffles —
    * forcing broadcast here would OOM the 100 TB bulk case. */
  /** `prune`: an optional coarse predicate applied to the touched-file
    * probe's scan BEFORE the key semi-join — the caller's statically-
    * derivable bound on where matching rows can live (e.g. the digest-
    * prefix partition set of an erasure batch). It pushes into the
    * FileIndex as a plain filter, so partition dirs and stat-disjoint
    * files prune without reading them; the semi-join alone cannot
    * prune statically. Soundness is the caller's contract: every row
    * matching the key set must satisfy `prune` (rows outside it are
    * simply never probed). */
  def deleteMatching(spark: SparkSession, table: String,
      keys: DataFrame, keyCols: Seq[String],
      prune: Option[Column] = None): Long =
    rebaseOnConflict(spark, table, "deleteMatching") { st =>
      requireAppendable(table, "DELETE (keyed)", st)
      deleteMatchingOnce(spark, table, keys, keyCols, prune,
        existing(table, st))
    }

  private def deleteMatchingOnce(spark: SparkSession, table: String,
      keys: DataFrame, keyCols: Seq[String], prune: Option[Column],
      st: TableState): Long = {
    requireNoDvs(st, "delete")
    val (files, schema, cmap) = (st.files, st.schema, st.colMap)
    val partCols = layoutPartCols(files)
    val logicalNames = logicalSchema(schema, cmap).fieldNames
    keyCols.foreach(c => require(
      logicalNames.exists(_.equalsIgnoreCase(c)),
      s"delete key column $c not in ${logicalNames.mkString(",")}"))
    val keyset = keys.select(keyCols.map(col): _*).distinct()
    val touched =
      if (cmap.nonEmpty)
        touchedFiles(spark, table, st, schema,
          df => prune.foldLeft(
            toLogicalDf(df, schema, cmap, keep = Seq("__gf_file")))(
              (d, p) => d.filter(p))
            .join(keyset, keyCols, "left_semi"))._1
      else probedFiles(table, st,
        prune.foldLeft(GraftFileIndex.readState(spark, table, st))(
            (d, p) => d.filter(p))
          .withColumn("__gf_file", input_file_name())
          .join(keyset, keyCols, "left_semi"))._1
    val s = if (touched.isEmpty) Staged(Seq.empty, Map.empty, Map.empty)
    else {
      val tracked = partCols.isEmpty && cmap.isEmpty && tracksRows(st.props)
      // anti-join equality: null-keyed rows never match, so they are
      // kept — the same outcome the predicate path's
      // `!coalesce(pred, false)` null discipline produces for isin
      val kept =
        if (tracked)
          rowIdRead(spark, table, st, Some(touched.toSet))
            .join(keyset, keyCols, "left_anti")
        else toPhysicalDf(
          toLogicalDf(readSubset(spark, table, st, touched, schema), schema,
            cmap).join(keyset, keyCols, "left_anti"), schema, cmap)
      stageUnder(kept, table, partCols)
    }
    commitOn(spark, table, Some(st))(v => Commit(v, "delete", s.files,
      touched, schema.toDDL, System.currentTimeMillis(), stats = s.stats,
      sizes = s.sizes))
  }

  /** Delta `replaceWhere`: atomically replace EXACTLY the rows matching
    * the predicate with the new batch — the idempotent partition/slice
    * reload (re-run yesterday's job, only yesterday's rows change). ONE
    * commit, so readers never observe the empty-slice state a
    * delete-then-append pair would expose between its two commits. The
    * scale shape is the DELETE path's: candidate files come from the
    * stat/Bloom/partition-pruned FileIndex probe, untouched files are
    * carried by reference, and only partial files are rewritten — on a
    * date-partitioned 100 TB table a one-day reload touches one
    * partition's files and the commit is O(that day), not O(table).
    * Delta's default constraint is enforced: every batch row must
    * satisfy the predicate, else the op would write rows OUTSIDE the
    * slice it claims to replace (and a re-run would duplicate them).
    * The batch passes the full append discipline first (generated
    * columns computed, schema enforced, CHECK constraints) — a
    * replaceWhere is an overwrite, not a constraint bypass. On a table
    * that does not exist yet the op degrades to the initial overwrite
    * (nothing to replace), with the predicate constraint still applied.
    * DVs must be compacted away first, like every file-rewriting op. */
  def replaceWhere(df: DataFrame, table: String,
      predicate: Column): Long =
    rebaseThenBackfill(df.sparkSession, table, "replaceWhere") { st =>
      // replaceWhere removes every row in the slice — an append-only
      // table must refuse it like any other overwrite.
      requireAppendable(table, "replaceWhere", st)
      replaceWhereOnce(df, table, predicate, st)
    }

  private def replaceWhereOnce(df: DataFrame, table: String,
      predicate: Column, read: Option[TableState]): Long = {
    val spark = df.sparkSession
    def requireInside(batch: DataFrame): Unit =
      require(batch.filter(!coalesce(predicate, lit(false)))
          .limit(1).isEmpty,
        "replaceWhere: the batch contains rows that do NOT satisfy the " +
          "replace predicate — they lie outside the slice being " +
          "replaced and a re-run would duplicate them (Delta's " +
          "replaceWhere constraint)")
    if (read.isEmpty) { requireInside(df); return overwrite(df, table) }
    val st = read.get
    requireNoDvs(st, "replaceWhere")
    val (files, schema, cmap) = (st.files, st.schema, st.colMap)
    val partCols = layoutPartCols(files)
    // batch discipline mirrors [[append]]: generated columns compute
    // (identity values allocated above the current mark), then
    // LOGICAL-schema enforcement, then CHECK constraints
    val gens0 = st.generated
    val (dfG, gens2) = allocateIdentity(spark,
      applyGenerated(df, gens0, "replaceWhere"), gens0)
    val logicalOk =
      enforceSchema(dfG, logicalSchema(schema, cmap), "replaceWhere")
    enforceChecks(logicalOk, st.checks, "replaceWhere")
    requireInside(logicalOk)
    val touched = probeTouched(spark, table, st, predicate)
    // survivors of partial files (predicate misses) are carried into
    // the replacement stage alongside the new batch; files the probe
    // did not touch are never read or rewritten
    val kept = toLogicalDf(readSubset(spark, table, st, touched, schema),
      schema, cmap).filter(!coalesce(predicate, lit(false)))
    val replacement =
      toPhysicalDf(kept.unionByName(logicalOk), schema, cmap)
    val s = stageUnder(replacement, table, partCols)
    commitOn(spark, table, read)(v => Commit(v, "replace_where", s.files,
      touched, schema.toDDL, System.currentTimeMillis(),
      stats = s.stats, sizes = s.sizes,
      generated = if (gens2 != gens0) gens2 else Map.empty))
  }

  private val DvDirName = "_dv"

  /** Table-root-relative path of a scanned file as a COLUMN (the DV
    * machinery needs it per row): everything from the last `_data/`
    * marker on. Greedy `.*` anchors the regex at the LAST occurrence. */
  private def relPathCol(filePath: Column): Column =
    regexp_extract(filePath, "^.*/(_data/.+)$", 1)

  /** The raw per-position scan the DV machinery builds on: data columns
    * plus `_metadata` (file path, row index), partition columns
    * reconstructed from the hive dirs when the layout has them — so DV
    * predicates can reference partition columns, and partition-only
    * predicates prune the scan in the planner. */
  private def dvScan(spark: SparkSession, table: String,
      st: TableState, files: Seq[String], schema: StructType,
      asOf: Option[Long] = None): DataFrame =
    if (hasPartitionedFiles(files))
      GraftFileIndex.readSubsetRaw(spark, table, st, files, asOf)
    else spark.read.schema(schema)
      .parquet(files.map(f => absPath(table, f)): _*)

  /** Merge-on-read DELETE (Delta deletion vectors): matching rows are
    * recorded as (file, row_index) positions in a parquet sidecar under
    * `_dv/`, committed WITHOUT touching any data file — O(matches)
    * written instead of O(touched files) rewritten, the shape that makes
    * small deletes (GDPR erasure, late corrections) affordable on a
    * 100 TB table. [[read]] applies active DVs as a left-anti join on
    * `_metadata` (file path + row index — positions are stable because
    * data files are immutable); [[compact]] MATERIALIZES them (rewrites
    * the filtered table and drops the vectors). File-rewriting ops
    * (merge/delete/update) refuse while DVs are active — their rewrites
    * would resurrect deleted rows — so the cycle is: deleteVectors* →
    * compact → full DML again, mirroring Delta's DV + OPTIMIZE flow.
    * Works on flat AND hive-partitioned layouts (the date-partitioned
    * 100 TB lake is exactly where a GDPR erasure runs); predicates may
    * reference partition columns, which additionally prune the scan. */
  def deleteVectors(spark: SparkSession, table: String,
      predicate: Column): Long =
    rebaseOnConflict(spark, table, "deleteVectors") { read =>
    requireAppendable(table, "DELETE (deletion vectors)", read)
    // (file, row_index) positions key on the snapshot's file set, so a
    // lost claim race re-harvests them from the fresh snapshot
    val st = existing(table, read)
    val (files, schema, cmap) = (st.files, st.schema, st.colMap)
    val rel = s"$DvDirName/${UUID.randomUUID()}"
    // the predicate references LOGICAL names; positions are name-free
    val scan = dvScan(spark, table, st, files, schema)
      .withColumn("__gf_fr", relPathCol(col("_metadata.file_path")))
      .withColumn("__gf_ri", col("_metadata.row_index"))
    toLogicalDf(scan, schema, cmap, keep = Seq("__gf_fr", "__gf_ri"))
      .select(col("__gf_fr").as("file_rel"),
        col("__gf_ri").as("row_idx"),
        coalesce(predicate, lit(false)).as("__gf_hit"))
      .filter(col("__gf_hit"))
      .select(col("file_rel"), col("row_idx"))
      .write.parquet(s"$table/$rel")
    commitDvDir(spark, table, rel, st)
  }

  /** [[deleteVectors]] with the match set given as a KEY FRAME instead
    * of a predicate — the streaming-erasure shape (each micro-batch of
    * delete requests becomes one DV commit): matching positions come
    * from a broadcast left-semi join on the key columns; everything
    * downstream (sidecar, commit, read-time mask, compaction) is
    * identical. */
  def deleteVectorsMatching(spark: SparkSession, table: String,
      keys: DataFrame, keyCols: Seq[String]): Long =
    rebaseOnConflict(spark, table, "deleteVectorsMatching") { read =>
    requireAppendable(table, "DELETE (deletion vectors)", read)
    val st = existing(table, read)
    val (files, schema, cmap) = (st.files, st.schema, st.colMap)
    val logicalNames = logicalSchema(schema, cmap).fieldNames
    keyCols.foreach(c => require(
      logicalNames.exists(_.equalsIgnoreCase(c)),
      s"delete key column $c not in ${logicalNames.mkString(",")}"))
    val rel = s"$DvDirName/${UUID.randomUUID()}"
    val scan = dvScan(spark, table, st, files, schema)
      .withColumn("__gf_fr", relPathCol(col("_metadata.file_path")))
      .withColumn("__gf_ri", col("_metadata.row_index"))
    toLogicalDf(scan, schema, cmap, keep = Seq("__gf_fr", "__gf_ri"))
      .select(Seq(col("__gf_fr").as("file_rel"),
        col("__gf_ri").as("row_idx")) ++ keyCols.map(col): _*)
      .join(broadcast(keys.select(keyCols.map(col): _*).distinct()),
        keyCols, "left_semi")
      .select(col("file_rel"), col("row_idx"))
      .write.parquet(s"$table/$rel")
    commitDvDir(spark, table, rel, st)
  }

  /** Shared DV-commit tail: list the staged sidecar files, commit them
    * as dvAdd entries on the state `st` the positions came from. */
  private def commitDvDir(spark: SparkSession, table: String, rel: String,
      st: TableState): Long = {
    val f = fs(spark, table)
    val dvFiles = f.listStatus(new HPath(s"$table/$rel")).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .sorted.map(n => s"$rel/$n")
    commitOn(spark, table, Some(st))(v => Commit(v, "deleteVectors",
      Seq.empty, Seq.empty, st.schema.toDDL, System.currentTimeMillis(),
      dvAdd = dvFiles,
      // first DV commit declares the reader feature atomically: an
      // engine that would ignore the masks must refuse the table
      props = withFeature(st.props, ReaderFeaturesKey, "deletionVectors")))
  }

  /** Rows masked by the active deletion vectors removed: base scan with
    * `_metadata` positions, left-anti joined against the DV sidecars.
    * The DV table is positions only — at production delete rates it is
    * orders of magnitude smaller than the data. Layout-aware: a hive
    * layout scans through the FileIndex (partition columns from dirs),
    * then re-projects the table's column order. */
  private def readWithDvs(spark: SparkSession, table: String,
      st: TableState, files: Seq[String], schema: StructType,
      asOf: Option[Long] = None): DataFrame = {
    val dv = spark.read.parquet(st.dvs.map(f => absPath(table, f)): _*)
    val base = dvScan(spark, table, st, files, schema, asOf)
      .withColumn("__gf_rel", relPathCol(col("_metadata.file_path")))
      .withColumn("__gf_row", col("_metadata.row_index"))
    base.join(dv,
        base("__gf_rel") === dv("file_rel") &&
          base("__gf_row") === dv("row_idx"), "left_anti")
      .drop("__gf_rel", "__gf_row")
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Guard for file-rewriting ops: a rewrite computed without DV
    * filtering would resurrect deleted rows — loud beats wrong. */
  private def requireNoDvs(st: TableState, op: String): Unit =
    require(st.dvs.isEmpty,
      s"$op on a table with active deletion vectors is not supported; " +
        "run compact() first to materialize them")

  /** SQL UPDATE semantics, file-pruned like [[delete]]: only files
    * holding a row where `condition` is TRUE are rewritten; in them,
    * matching rows get `sets` applied (values cast to the column's
    * type — ANSI store-assignment) and non-matching rows pass through.
    * NULL-condition rows do not match (SQL three-valued logic). Works on
    * flat and hive-partitioned layouts (an update that changes a
    * partition column moves the row's file). */
  def update(spark: SparkSession, table: String, condition: Column,
      sets: Seq[(String, Column)]): Long =
    rebaseOnConflict(spark, table, "update") { st =>
      requireAppendable(table, "UPDATE", st)
      updateOnce(spark, table, condition, sets, existing(table, st))
    }

  private def updateOnce(spark: SparkSession, table: String,
      condition: Column, sets: Seq[(String, Column)],
      st: TableState): Long = {
    requireNoDvs(st, "update")
    val (files, schema, cmap) = (st.files, st.schema, st.colMap)
    val partCols = layoutPartCols(files)
    val logical = logicalSchema(schema, cmap)
    sets.foreach { case (c, _) =>
      require(logical.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"UPDATE of unknown column $c (table has " +
          s"${logical.fieldNames.mkString(",")})")
    }
    // condition and set expressions reference LOGICAL names; the probe
    // goes through the stat/Bloom/partition-pruned FileIndex
    val touched = probeTouched(spark, table, st, condition)
    val s = if (touched.isEmpty) Staged(Seq.empty, Map.empty, Map.empty)
    else {
      val matched = coalesce(condition, lit(false))
      // row tracking: an UPDATE changes values, not identity — rows of
      // rewritten files keep their ids by materialization (flat
      // un-mapped layouts, like readWithRowIds)
      val tracked = partCols.isEmpty && cmap.isEmpty && tracksRows(st.props)
      def applySets(in: DataFrame, extra: Seq[Column]): DataFrame =
        in.select(logical.fields.map { f =>
          sets.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, v)) =>
              when(matched, v.cast(f.dataType)).otherwise(col(f.name))
                .as(f.name)
            case None => col(f.name)
          }
        }.toSeq ++ extra: _*)
      val rewritten =
        if (tracked)
          applySets(rowIdRead(spark, table, st, Some(touched.toSet)),
            Seq(col(RowIdCol)))
        else toPhysicalDf(
          applySets(toLogicalDf(
            readSubset(spark, table, st, touched, schema), schema, cmap),
            Seq.empty), schema, cmap)
      enforceChecks(if (tracked) rewritten
        else toLogicalDf(rewritten, schema, cmap), st.checks, "update")
      stageUnder(rewritten, table, partCols)
    }
    commitOn(spark, table, Some(st))(v => Commit(v, "update", s.files,
      touched, schema.toDDL, System.currentTimeMillis(), stats = s.stats,
      sizes = s.sizes))
  }

  /** OPTIMIZE-style compaction: rewrite the CURRENT live file set into
    * `targetFiles` files and commit the swap. Pure layout change — the
    * committed row set is identical (spec-pinned), older versions stay
    * time-travelable until [[vacuum]]. The flat-layout rewrite is
    * `coalesce`, not `repartition`: no shuffle, each output task
    * concatenates input splits — at 100 TB, compaction cost is IO-bound,
    * not exchange-bound. A hive-partitioned layout compacts to one file
    * per partition instead (see inline note).
    * The Delta OPTIMIZE analog for the small-files problem streaming
    * appends create (each [[txnAppend]] micro-batch lands its own
    * files). */
  def compact(spark: SparkSession, table: String,
      targetFiles: Int = 1): Long =
      rebaseOnConflict(spark, table, "compact") { read =>
    val st = existing(table, read)
    val (files, schema, dvs, cmap) = (st.files, st.schema, st.dvs, st.colMap)
    val partCols = layoutPartCols(files)
    // "compact" is a mapping-authoritative op whose commit carries an
    // empty colMap: the rewrite below stages files under the LOGICAL
    // names, MATERIALIZING renames/drops (Delta's rewrite-on-OPTIMIZE
    // escape hatch from column mapping)
    val outSchema = logicalSchema(schema, cmap)
    val s =
      if (partCols.isEmpty) {
        // flat: concatenating pass; with DVs active, the rewrite reads
        // through the position mask (materialization — the OPTIMIZE
        // step of the Delta DV lifecycle) and drops the vectors in the
        // same commit. On a row-tracked table the rewrite MATERIALIZES
        // each row's stable id as a physical `_graft_row_id` column
        // (Delta's OPTIMIZE-preserves-row-ids contract): the compacted
        // files carry their ids in the data, so the base-per-file
        // mapping the rewrite invalidates is no longer needed
        val current =
          if (tracksRows(st.props)) rowIdRead(spark, table, st, None)
          else toLogicalDf(
            if (dvs.nonEmpty) readWithDvs(spark, table, st, files, schema)
            else readSubset(spark, table, st, files, schema),
            schema, cmap)
        stageWithStats(current.coalesce(targetFiles), table)
      } else {
        // per-partition compaction: hash-repartition by the partition
        // columns so every partition value's rows land in ONE task, and
        // the hive-partitioned write emits one file per col=val dir —
        // the OPTIMIZE shape for partitioned Delta tables (targetFiles
        // is a flat-layout knob; partition granularity governs here).
        // One shuffle of the table, like the flat path's coalesce is
        // one concatenating pass. DV materialization keeps the layout:
        // the masked read re-derives hidden transform columns and
        // re-stages hive-partitioned.
        val base =
          if (dvs.nonEmpty) readWithDvs(spark, table, st, files, schema)
          else readSubset(spark, table, st, files, schema)
        val current = withHiddenPartCols(base, partCols)
        stagePartitionedWithStats(
          current.repartition(partCols.map(col): _*), table, partCols)
      }
    commitOn(spark, table, read)(v => Commit(v, "compact", s.files, files,
      outSchema.toDDL, System.currentTimeMillis(), stats = s.stats,
      sizes = s.sizes, dvRemove = dvs))
  }

  /** `OPTIMIZE t WHERE <partition predicate>` — partition-SCOPED
    * compaction (Delta's form): only the files of partitions matching
    * the predicate are rewritten; every other partition's files are
    * untouched, not even read. On a date-partitioned 100 TB table with
    * streaming appends, the nightly OPTIMIZE targets `WHERE day =
    * yesterday` — one partition's small files, not the whole table.
    * The predicate may reference PARTITION columns only (Delta's
    * restriction — a data-column predicate cannot be decided at file
    * granularity); it is evaluated by Catalyst over the path-derived
    * partition tuples on the driver, metadata-sized, so the selection
    * itself reads nothing. The commit is a "compact" (rewrite-only:
    * streams pass over it, admission cost zero). Active DVs must be
    * purged first ([[reorgPurge]]) — a scoped rewrite with live masks
    * elsewhere would leave the vector set ambiguous. */
  def compactWhere(spark: SparkSession, table: String,
      predicate: Column): Long =
      rebaseOnConflict(spark, table, "compactWhere") { read =>
    val st = existing(table, read)
    requireNoDvs(st, "compactWhere")
    val (files, schema) = (st.files, st.schema)
    val partCols = layoutPartCols(files)
    require(partCols.nonEmpty,
      "OPTIMIZE … WHERE targets a hive-partitioned table; use " +
        "compact() for flat layouts")
    // partition tuples from the paths, typed via the table schema,
    // filtered by Catalyst itself — semantics identical to a read-side
    // partition filter, evaluated over metadata. The partition-columns-
    // only restriction (Delta's) is enforced by RESOLVING the predicate
    // against the tuple frame, whose schema IS the partition columns —
    // a data-column reference fails analysis there and is rethrown as
    // the named contract error below.
    def tupleOf(f: String): Seq[String] = f.split('/').dropRight(1)
      .filter(_.contains('=')).map(_.dropWhile(_ != '=').tail)
    val tuples = files.map(tupleOf).distinct
    val typed = partCols.map(pc => schema.fields
      .find(_.name.equalsIgnoreCase(pc))
      .map(_.dataType).getOrElse(org.apache.spark.sql.types.StringType))
    import scala.jdk.CollectionConverters._
    val tupleDf = spark.createDataFrame(
      tuples.map(t => org.apache.spark.sql.Row.fromSeq(t)).asJava,
      StructType(partCols.map(pc =>
        org.apache.spark.sql.types.StructField(pc,
          org.apache.spark.sql.types.StringType))))
      .select(partCols.zip(typed).map { case (pc, dt) =>
        col(pc).cast(dt).as(pc) }: _*)
    val matching =
      try tupleDf.filter(predicate)
        .collect().map(_.toSeq.map(v => String.valueOf(v))).toSet
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            "OPTIMIZE … WHERE may reference partition columns " +
              s"(${partCols.mkString(",")}) only: ${e.getMessage}", e)
      }
    val selected = files.filter(f => matching.contains(tupleOf(f)))
    if (selected.isEmpty) st.version // nothing in scope: no empty commit
    else {
      val base = readSubset(spark, table, st, selected, schema)
      val current = withHiddenPartCols(base, partCols)
      val s = stagePartitionedWithStats(
        current.repartition(partCols.map(col): _*), table, partCols)
      commitOn(spark, table, read)(v => Commit(v, "compact", s.files,
        selected, schema.toDDL, System.currentTimeMillis(),
        stats = s.stats, sizes = s.sizes))
    }
  }

  /** Delta `autoCompact` analog — the WRITE-PATH small-file trigger the
    * explicit OPTIMIZE surface lacks: every append-class commit ends
    * with this check, and when the table opted in
    * (`graft.autoCompact` = true) and a partition (or the flat table)
    * has accumulated ≥ `graft.autoCompact.minNumFiles` files under
    * `graft.autoCompact.maxFileSize` bytes, ONE extra "autocompact"
    * commit rewrites exactly those small files. Without this, a rolling
    * ingest (hourly COPY INTO, streaming txnAppend, e18/e19 dedup
    * state) accretes one file per micro-batch forever and scan planning
    * degrades linearly in table AGE rather than size.
    *
    * Best-effort by contract, like Delta's: a lost OCC race ABANDONS
    * (the data commit that triggered it is already durable; the small
    * files remain and the next write re-triggers) — retrying would put
    * maintenance in contention with ingest, exactly backwards. The
    * selection is metadata-only (commit-logged sizes; files predating
    * size logging are skipped, an explicit OPTIMIZE covers them), the
    * rewrite reads ONLY the selected files, and the commit is
    * rewrite-only ([[RewriteOnlyOps]]): live streams pass over it, CDF
    * emits nothing, and it is NOT mapping-authoritative — files
    * re-stage under their physical names and the column mapping rides
    * through unchanged (the [[reorgPurge]] discipline, not
    * [[compact]]'s materialize-the-mapping one). Tables with active
    * deletion vectors are skipped (a scoped rewrite under live masks
    * is REORG's job), as are row-tracked partitioned/mapped layouts
    * (id materialization is defined flat-only, matching
    * [[readWithRowIds]]). */
  /** Name of the manifest tree (Delta's symlink_format_manifest). */
  private[sources] val ManifestDirName = "_symlink_format_manifest"

  /** `GENERATE symlink_format_manifest FOR TABLE t` — Delta's manifest
    * export for EXTERNAL engines (Presto/Trino/Athena/Hive read the
    * manifest as a SymlinkTextInputFormat table): one text file per
    * partition dir (one at the root for flat tables) listing the
    * absolute URIs of that partition's LIVE data files, so an engine
    * with no graft-log reader still sees a CONSISTENT snapshot — never
    * the raw directory, which contains unreferenced staging/vacuum
    * candidates. Generation is driver-side but METADATA-scale: one line
    * per live file, the same cardinality the commit log itself carries.
    * The whole tree is replaced per generation so manifests of
    * partitions that lost all files vanish instead of serving deleted
    * data. Refused loudly where a symlink reader would be WRONG rather
    * than stale: active deletion vectors (the reader cannot apply
    * masks), column mapping (files carry physical names), and hidden
    * bucket dirs (`gfb…=` would masquerade as a partition column).
    * Returns the manifest paths written. */
  def generateManifest(spark: SparkSession, table: String): Seq[String] =
    writeManifest(spark, table, stateAt(spark, table))

  /** [[generateManifest]] of the state `st`. */
  private def writeManifest(spark: SparkSession, table: String,
      st: TableState): Seq[String] = {
    require(st.dvs.isEmpty,
      "generateManifest: table has active deletion vectors — a symlink " +
        "reader cannot apply them; REORG TABLE … APPLY (PURGE) first")
    require(st.colMap.isEmpty,
      "generateManifest: table uses column mapping — data files carry " +
        "physical column names external readers would misread")
    val files = st.files
    require(!files.exists(_.split('/').exists(seg =>
        HiddenBucketDir.matches(seg.takeWhile(_ != '=')))),
      "generateManifest: hidden bucket-transform dirs would masquerade " +
        "as partition columns to external readers")
    val f = fs(spark, table)
    val root = new HPath(s"$table/$ManifestDirName")
    if (f.exists(root)) f.delete(root, true)
    val byDir = files.groupBy(
      _.split('/').dropRight(1).filter(_.contains('=')).mkString("/"))
    byDir.toSeq.sortBy(_._1).map { case (dir, fsq) =>
      val out = new HPath(
        if (dir.isEmpty) root else new HPath(root, dir), "manifest")
      val os = f.create(out, true)
      try os.write(fsq.sorted
        .map(p => f.makeQualified(new HPath(absPath(table, p))).toString)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally os.close()
      out.toString
    }
  }

  /** Post-commit manifest refresh ([[writeCommit]] hook):
    * `graft.symlinkManifest.autoUpdate` = true keeps the exported
    * manifest in lockstep with every DATA commit (Delta's
    * `delta.compatibility.symlinkFormatManifest.enabled`). Best-effort
    * like auto-checkpointing — the commit is already durable; a failed
    * refresh logs a warning and the next data commit (or an explicit
    * GENERATE) repairs it. Metadata-only commits skip (the live set is
    * unchanged). `after` is the state commit `c` produced, when known. */
  private def maybeUpdateManifest(spark: SparkSession, table: String,
      c: Commit, after: Option[TableState]): Unit =
    if (c.props.get("graft.symlinkManifest.autoUpdate")
        .exists(_.equalsIgnoreCase("true")) &&
        (c.add.nonEmpty || c.remove.nonEmpty))
      try {
        writeManifest(spark, table, after.getOrElse(stateAt(spark, table)))
        ()
      }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] WARN: symlink manifest refresh of " +
          s"$table failed after v${c.version}: ${e.getMessage}") }

  def maybeAutoCompact(spark: SparkSession, table: String)
      : Option[Long] = maybeAutoCompact(spark, table, logState(spark, table))

  /** [[maybeAutoCompact]] on the state `st` the caller's commit left
    * (read lazily, inside the best-effort guard). */
  private def maybeAutoCompact(spark: SparkSession, table: String,
      st: => Option[TableState]): Option[Long] = {
    // BEST-EFFORT end to end: the caller's data commit is already
    // durable when this hook runs, so ANY failure here (conflict,
    // transient FS error, a malformed property value) must not
    // propagate — a caller that saw its append "fail" after the commit
    // landed would retry the batch and double-ingest. Conflicts abandon
    // by policy (maintenance never contends with ingest); everything
    // else abandons with a warning. Same contract as
    // maybeUpdateManifest.
    try st.flatMap { s =>
      val props = s.props
      if (!props.get("graft.autoCompact")
          .exists(_.equalsIgnoreCase("true"))) None
      else {
        val minN = props.get("graft.autoCompact.minNumFiles")
          .map(_.trim.toInt).getOrElse(16)
        val maxSmall = props.get("graft.autoCompact.maxFileSize")
          .map(_.trim.toLong).getOrElse(128L << 20)
        autoCompactOnce(spark, table, s, minN, maxSmall)
      }
    } catch {
      case _: CommitConflictException => None // abandon, never retry
      case scala.util.control.NonFatal(e) =>
        println(s"[graft] WARN: autoCompact of $table abandoned: " +
          s"${e.getMessage}")
        None
    }
  }

  private def autoCompactOnce(spark: SparkSession, table: String,
      st: TableState, minN: Int, maxSmall: Long): Option[Long] = {
    if (st.dvs.nonEmpty) return None
    val (files, schema, sizes) = (st.files, st.schema, st.sizes)
    val partCols = layoutPartCols(files)
    val tracked = tracksRows(st.props)
    if (tracked && (partCols.nonEmpty || st.colMap.nonEmpty)) return None
    val smalls = files.filter(f => sizes.get(f).exists(_ < maxSmall))
    def partOf(f: String): Seq[String] =
      f.split('/').dropRight(1).filter(_.contains('=')).toSeq
    val selected: Seq[String] =
      if (partCols.isEmpty) { if (smalls.size >= minN) smalls else Nil }
      else smalls.groupBy(partOf).valuesIterator
        .filter(_.size >= minN).flatten.toSeq
    if (selected.isEmpty) return None
    val s =
      if (tracked)
        // flat + unmapped by the guard above: materialize the stable
        // row ids into the compacted files, compact's OPTIMIZE-
        // preserves-row-ids contract
        stageWithStats(rowIdRead(spark, table, st, Some(selected.toSet))
          .coalesce(1), table)
      else if (partCols.isEmpty)
        stageWithStats(
          readSubset(spark, table, st, selected, schema).coalesce(1), table)
      else {
        // qualifying partitions only: one task per partition value →
        // one file per col=val dir, the compactWhere write shape
        val base = withHiddenPartCols(
          readSubset(spark, table, st, selected, schema), partCols)
        stagePartitionedWithStats(
          base.repartition(partCols.map(col): _*), table, partCols)
      }
    Some(commitOn(spark, table, Some(st))(v => Commit(v, "autocompact",
      s.files, selected, schema.toDDL, System.currentTimeMillis(),
      stats = s.stats, sizes = s.sizes)))
  }

  /** `REORG TABLE … APPLY (PURGE)` — Delta's TARGETED deletion-vector
    * materialization: rewrite ONLY the files that carry DV masks
    * (physically purging their soft-deleted rows) and drop the vectors,
    * leaving every unmasked file untouched. Contrast with [[compact]],
    * which rewrites the whole table: after a GDPR erasure masks rows in
    * 0.1% of a 100 TB table's files, REORG rewrites that 0.1% where
    * OPTIMIZE would rewrite 100 TB — this is the op that makes the
    * DV → purge cycle affordable at scale, and the one GDPR actually
    * requires (the masked bytes must physically disappear once the
    * purged files are vacuumed). The visible row set is unchanged by
    * construction (masked rows were already invisible), so "reorg" is
    * in [[RewriteOnlyOps]]: live streams pass over it and it consumes
    * no admission budget. Unlike compact it is NOT
    * mapping-authoritative — files re-stage under their PHYSICAL names
    * and the commit inherits the column mapping unchanged. A table
    * with no active DVs is left as-is (returns the current version,
    * no empty commit). */
  def reorgPurge(spark: SparkSession, table: String): Long =
    rebaseOnConflict(spark, table, "reorg") { read =>
      val st = existing(table, read)
      val dvs = st.dvs
      if (dvs.isEmpty) st.version
      else {
        val (files, schema) = (st.files, st.schema)
        val partCols = layoutPartCols(files)
        // files the masks touch — metadata-sized, like touchedFiles
        val masked = spark.read
          .parquet(dvs.map(f => absPath(table, f)): _*)
          .select("file_rel").distinct().collect()
          .map(_.getString(0)).toSet
        val touched = files.filter(f =>
          relPathOf(absPath(table, f)).exists(masked.contains))
        val purged = readWithDvs(spark, table, st, touched, schema)
        val s = stageUnder(purged, table, partCols)
        commitOn(spark, table, read)(v => Commit(v, "reorg", s.files,
          touched, schema.toDDL, System.currentTimeMillis(),
          stats = s.stats, sizes = s.sizes, dvRemove = dvs))
      }
    }

  /** SHALLOW CLONE — Delta's `CREATE TABLE dst SHALLOW CLONE src
    * [VERSION AS OF v]`: a new table whose single CLONE commit
    * REFERENCES the source snapshot's data files by absolute path. Zero
    * data bytes move; the cost is O(live files) of metadata — on a
    * 100 TB table the clone is instant where a deep copy is a day of
    * IO. The clone then evolves independently: appends/DML stage new
    * files under the clone's own root and removes drop references only;
    * [[compact]] rewrites the referenced data locally, DETACHING the
    * clone from the source. Skipping stats, commit-logged sizes, Bloom
    * bitmaps, and active deletion vectors are all carried, so pruning
    * and merge-on-read behave identically on the clone (DV position
    * keys are `_data/`-suffix-based, which absolute resolution
    * preserves). Caveat, same as Delta's: VACUUM on the SOURCE knows
    * nothing about clones — vacuuming the source past the cloned
    * version can delete files a clone still references. The clone's own
    * vacuum is safe by construction ([[absPath]]). */
  def cloneShallow(spark: SparkSession, src: String, dst: String,
      asOf: Option[Long] = None): Long = {
    require(versions(spark, src).nonEmpty,
      s"$src is not a GraftLog table (no $LogDirName)")
    require(versions(spark, dst).isEmpty,
      s"clone target $dst is already a GraftLog table")
    val st = stateAt(spark, src, asOf, withStats = true)
    val (live, schema, sizes, dvs, blooms, cmap) =
      (st.liveMap, st.schema, st.sizes, st.dvs, st.blooms, st.colMap)
    def abs(f: String) = absPath(src, f) // chained clones pass through
    writeCommit(spark, dst, Commit(0L, "clone",
      live.keys.toSeq.map(abs), Seq.empty, schema.toDDL,
      System.currentTimeMillis(),
      stats = live.toSeq.collect {
        case (f, st) if st.nonEmpty => abs(f) -> st }.toMap,
      sizes = sizes.map { case (f, n) => abs(f) -> n }.toMap,
      dvAdd = dvs.toSeq.map(abs),
      blooms = blooms.map { case (f, b) => abs(f) -> b }.toMap,
      colMap = cmap,
      checks = checkConstraints(spark, src, asOf),
      // a clone's commit is v0 — nothing to inherit from, so the
      // source's generated-column definitions and table configuration
      // must ride explicitly (Delta CLONE copies both)
      generated = generatedColumns(spark, src, asOf),
      props = properties(spark, src, asOf)))
    0L
  }

  /** DEEP CLONE — `CREATE TABLE dst DEEP CLONE src [VERSION AS OF v]`:
    * an INDEPENDENT copy. Every referenced data file (and DV sidecar)
    * physically copies under the clone's own root, so vacuuming or
    * mutating the source can never break the clone — the documented
    * shallow-clone caveat this form exists to close. The copy runs as
    * a DISTRIBUTED job (one task per file, cluster-IO-bound — the
    * driver never streams a byte; at 100 TB that is the difference
    * between a cluster-parallel copy and a day of driver IO);
    * skipping stats, logged sizes, Bloom bitmaps, active DVs,
    * constraints, generated columns, and table properties all carry,
    * re-keyed to the clone's own relative paths (DV position keys are
    * `_data/`-suffix-based, which the re-key preserves). A
    * shallow-clone SOURCE deep-clones fine: its absolute references
    * resolve and copy like any other file. */
  def cloneDeep(spark: SparkSession, src: String, dst: String,
      asOf: Option[Long] = None): Long = {
    require(versions(spark, src).nonEmpty,
      s"$src is not a GraftLog table (no $LogDirName)")
    require(versions(spark, dst).isEmpty,
      s"clone target $dst is already a GraftLog table")
    val st = stateAt(spark, src, asOf, withStats = true)
    val (live, schema, sizes, dvs, blooms, cmap) =
      (st.liveMap, st.schema, st.sizes, st.dvs, st.blooms, st.colMap)
    // dest rel path = the source's `_data/`-suffix (identity for plain
    // tables; for a shallow-clone source the absolute ref's suffix)
    def destRel(f: String): String =
      relPathOf(absPath(src, f)).getOrElse(f)
    val copies = (live.keys.toSeq ++ dvs.toSeq)
      .map(f => (absPath(src, f), s"$dst/${destRel(f)}"))
    if (copies.nonEmpty) {
      // Hadoop Configuration is not serializable (and Spark's wrapper
      // is private[spark]) — ship the entries and rebuild per task
      val confEntries = {
        val c = spark.sessionState.newHadoopConf()
        val b = Seq.newBuilder[(String, String)]
        val it = c.iterator()
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
        b.result()
      }
      val bc = spark.sparkContext.broadcast(confEntries)
      spark.sparkContext
        .parallelize(copies, math.min(copies.size,
          spark.sparkContext.defaultParallelism * 2))
        .foreach { case (from, to) =>
          val c = new org.apache.hadoop.conf.Configuration(false)
          bc.value.foreach { case (k, v) => c.set(k, v) }
          val fp = new HPath(from); val tp = new HPath(to)
          val tfs = tp.getFileSystem(c)
          org.apache.hadoop.fs.FileUtil.copy(
            fp.getFileSystem(c), fp, tfs, tp,
            false /* deleteSource */, true /* overwrite */, c): Unit
        }
    }
    writeCommit(spark, dst, Commit(0L, "clone",
      live.keys.toSeq.map(destRel), Seq.empty, schema.toDDL,
      System.currentTimeMillis(),
      stats = live.toSeq.collect {
        case (f, st) if st.nonEmpty => destRel(f) -> st }.toMap,
      sizes = sizes.map { case (f, n) => destRel(f) -> n }.toMap,
      dvAdd = dvs.toSeq.map(destRel),
      blooms = blooms.map { case (f, b) => destRel(f) -> b }.toMap,
      colMap = cmap,
      checks = checkConstraints(spark, src, asOf),
      generated = generatedColumns(spark, src, asOf),
      props = properties(spark, src, asOf)))
    0L
  }

  /** RESTORE TABLE … TO VERSION — Delta's RESTORE: one new commit whose
    * live set is exactly version `v`'s. Data files are immutable, so the
    * restore is pure metadata (no rewrite); history stays intact and
    * time travel still reaches every pre-restore state. Works on
    * partitioned tables too (file references only).
    *
    * The restore commit carries the FULL snapshot state of the target
    * version, not just add/remove: the deletion-vector set is diffed
    * against the currently-active one (restoring past a DV commit
    * deactivates its masks; restoring TO a DV-active version from a
    * post-compact state re-adds the vectors, so DV-deleted — e.g.
    * GDPR-erased — rows do not resurrect), and per-file Bloom bitmaps
    * are re-attached so file skipping survives the restore. */
  def restore(spark: SparkSession, table: String, v: Long): Long =
      rebaseOnConflict(spark, table, "restore") { read =>
    // restore can remove rows appended after the target version —
    // covered by the append-only contract like every destructive op.
    requireAppendable(table, "RESTORE", read)
    // MV lifecycle: a rewind invalidates any registration this path
    // participates in (as source OR view) — the maintenance ledger and
    // the delta log no longer describe the restored state
    graft.sql.MvRegistry.unregisterMatching(table)
    val cur = existing(table, read)
    // the target version, replayed once with its stats and blooms
    val tgt = stateAt(spark, table, Some(v), withStats = true)
    commitOn(spark, table, read)(nv => Commit(nv, "restore", tgt.files,
      cur.files.filterNot(tgt.files.toSet), tgt.schema.toDDL,
      System.currentTimeMillis(), stats = tgt.stats.filter(_._2.nonEmpty),
      sizes = tgt.sizes,
      dvAdd = tgt.dvs.filterNot(cur.dvs.toSet),
      dvRemove = cur.dvs.filterNot(tgt.dvs.toSet),
      blooms = tgt.blooms,
      // restore re-points the column mapping and the constraint set at
      // the target version's — a restore across a rename/drop/ADD
      // CONSTRAINT reverts them, like every other piece of snapshot
      // state
      colMap = tgt.colMap, checks = tgt.checks))
  }

  /** Files ADDED by commit versions in `(fromExclusive, toInclusive]` —
    * the streaming-source delta ([[GraftStreamSource]]). Rewrite-only
    * versions ([[RewriteOnlyOps]]: OPTIMIZE compact / CLUSTER) are
    * skipped silently — their rows were already streamed from the
    * pre-rewrite files (Delta's `dataChange=false` contract). Versions
    * that remove files AND change data (merge/delete/non-initial
    * overwrite) raise unless `ignoreChanges` (Delta's streaming-read
    * contract); their adds are delivered when it is set.
    *
    * A FRESH stream (`fromExclusive = -1`) on a vacuumed table cannot
    * replay the truncated versions, so its first batch is anchored at
    * the oldest retained version's checkpoint-folded SNAPSHOT (Delta's
    * initial-snapshot semantics) and later commits stream incrementally
    * from there. A stream RESUMING from a checkpoint older than the
    * vacuum horizon still fails loudly — those versions' rows are
    * genuinely gone, and only a fresh start (which re-anchors) can
    * recover. */
  private[sources] def addedIn(spark: SparkSession, table: String,
      fromExclusive: Long, toInclusive: Long,
      ignoreChanges: Boolean): Seq[String] = {
    val present = versions(spark, table)
      .filter(v => v > fromExclusive && v <= toInclusive)
    // Anchor at the contiguous TAIL start, not the globally-oldest
    // retained version: tag-pinned vacuum keeps pinned versions below a
    // hole (e.g. [0, 2, 3]), and a fresh start must base its initial
    // snapshot inside the keep window (2 — where vacuum wrote a
    // self-contained checkpoint), streaming the pinned history only via
    // explicit time travel, never through the hole.
    val anchor = contiguousTailStart(present).getOrElse(Long.MaxValue)
    def incremental(vs: Seq[Long]): Seq[String] = vs.flatMap { v =>
      val c = readCommit(spark, table, v)
      if (RewriteOnlyOps(c.operation)) Seq.empty[String]
      else {
        require(ignoreChanges || (c.remove.isEmpty && c.dvAdd.isEmpty),
          s"version $v of $table is a '${c.operation}' that removes " +
            "files; streaming reads support append-only histories " +
            "(set ignoreChanges=true to stream rewritten rows too)")
        c.add
      }
    }
    if (fromExclusive == -1L && anchor > 0 && anchor <= toInclusive) {
      // fresh start on a vacuumed log: initial snapshot at the anchor,
      // then the later commits' adds
      require(ignoreChanges ||
        deletionVectors(spark, table, Some(anchor)).isEmpty,
        s"version $anchor of $table carries active deletion vectors; " +
          "the initial snapshot would resurrect masked rows (set " +
          "ignoreChanges=true to stream them anyway)")
      (snapshot(spark, table, Some(anchor))._1 ++
        incremental(present.filter(_ > anchor))).distinct
    } else {
      // Version numbers are dense by protocol (each commit claims
      // last+1), so any hole in the requested range means vacuum
      // truncated commits INSIDE it — a stream resuming from a
      // checkpoint older than the vacuum horizon would silently lose
      // those versions' rows. Fail loudly instead (Delta raises the
      // same way).
      require(present == ((fromExclusive + 1) to toInclusive),
        s"streaming read of $table needs commit versions " +
          s"(${fromExclusive}, $toInclusive] but the log holds only " +
          s"[${present.mkString(",")}] — vacuum truncated part of the " +
          "range; restart the stream from a fresh checkpoint (a fresh " +
          "start re-anchors at the oldest retained snapshot)")
      incremental(present)
    }
  }

  /** Morton (Z-order) interleave of two 16-bit normalized ranks — bit i
    * of x lands at position 2i, bit i of y at 2i+1. Pure bit arithmetic
    * (shiftright/&/shiftleft), codegen-friendly, engine-portable. */
  private def zInterleave(x: Column, y: Column): Column =
    zInterleaveN(Seq(x, y))

  /** n-way Morton interleave of 16-bit ranks: bit i of column j lands
    * at position n·i + j, so up to FOUR columns fit one 64-bit key
    * (Delta's OPTIMIZE ZORDER likewise takes any small column set; its
    * own guidance caps usefulness around 3-4 — each added dimension
    * halves the per-dimension stat resolution). */
  private def zInterleaveN(cols: Seq[Column]): Column = {
    val n = cols.size
    require(n >= 2 && n <= 4,
      s"z-order takes 2-4 columns, got $n")
    (0 until 16).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), n * i + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** OPTIMIZE ZORDER BY analog: rewrite the live set ordered by the
    * Morton interleave of two columns' 16-bit min/max-normalized ranks,
    * range-partitioned into `targetFiles` files. Pure layout change
    * (identical rows, like [[compact]]); the payoff is that the per-file
    * min/max stats become tight on BOTH columns at once, so
    * [[readPruned]]/[[GraftFileIndex]] skip files for predicates on
    * either — the multi-dimensional generalization of the single-column
    * `repartitionByRange` clustering t8 uses. At 100 TB this is the
    * periodic layout-maintenance job Delta runs as OPTIMIZE ZORDER;
    * cost = one range shuffle of the table. */
  def clusterBy(spark: SparkSession, table: String, colA0: String,
      colB0: String, targetFiles: Int): Long =
    clusterByN(spark, table, Seq(colA0, colB0), targetFiles)

  /** [[clusterBy]] over 2-4 columns (Delta's OPTIMIZE ZORDER arity). */
  def clusterByN(spark: SparkSession, table: String,
      cols0: Seq[String], targetFiles: Int): Long =
      rebaseOnConflict(spark, table, "clusterByN") { read =>
    require(cols0.size >= 2 && cols0.size <= 4,
      s"z-order takes 2-4 columns, got ${cols0.size} " +
        s"(${cols0.mkString(", ")})")
    val st = existing(table, read)
    requireNoDvs(st, "clusterBy")
    val (files, schema) = (st.files, st.schema)

    val partCols = layoutPartCols(files)
    // callers name LOGICAL columns; the rewrite is physical throughout
    // (the "cluster" commit inherits the mapping unchanged)
    val zCols = cols0.map(physNameOf(st.colMap, _))
    zCols.zip(cols0).foreach { case (p, c) =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(p))
      require(f.exists(fld => numericFields(
          org.apache.spark.sql.types.StructType(Seq(fld))).nonEmpty),
        s"z-order column $c must be numeric (rank normalization needs " +
          "an ordered range); got " +
          f.map(_.dataType.simpleString).getOrElse("no such column"))
    }
    val cur = readSubset(spark, table, st, files, schema)
    // column bounds: one metadata-sized collect. Global bounds stay
    // valid under partitioning (the rank mapping is monotonic within
    // every partition).
    val r = cur.agg(
      min(col(zCols.head).cast("double")),
      (Seq(max(col(zCols.head).cast("double"))) ++
        zCols.tail.flatMap(c => Seq(
          min(col(c).cast("double")), max(col(c).cast("double"))))): _*)
      .collect().head
    def rank(c: String, mn: Double, mx: Double): Column = {
      val span = if (mx > mn) mx - mn else 1.0
      floor((col(c).cast("double") - lit(mn)) / lit(span) * 65535.0)
        .cast("long")
    }
    val z = zInterleaveN(zCols.zipWithIndex.map { case (c, j) =>
      rank(c, r.getDouble(2 * j), r.getDouble(2 * j + 1)) })
    val s =
      if (partCols.isEmpty) {
        val rewritten = cur.withColumn("__gf_z", z)
          .repartitionByRange(targetFiles, col("__gf_z"))
          .sortWithinPartitions(col("__gf_z"))
          .drop("__gf_z")
        stageWithStats(rewritten, table)
      } else {
        // per-partition z-order: range-partition by (partition cols, z)
        // so each col=val dir's rows split into contiguous z-ranges —
        // stats stay tight on BOTH clustered columns inside every
        // partition, composing with the dir-level partition pruning
        val withParts = withHiddenPartCols(cur, partCols)
          .withColumn("__gf_z", z)
        val rewritten = withParts
          .repartitionByRange(targetFiles,
            partCols.map(col) :+ col("__gf_z"): _*)
          .sortWithinPartitions(col("__gf_z"))
          .drop("__gf_z")
        stagePartitionedWithStats(rewritten, table, partCols)
      }
    commitOn(spark, table, read)(v => Commit(v, "cluster", s.files, files,
      schema.toDDL, System.currentTimeMillis(), stats = s.stats,
      sizes = s.sizes))
  }

  /** Zcube-membership pseudo stats key — the per-file "this file is
    * liquid-clustered" bit Delta tracks on its AddFiles. Riding the
    * stats map (the `#rowbase`/`#nulls` trick) means checkpoints,
    * clones, and restores carry membership for FREE: deriving it from
    * commit ops instead would degrade to O(table) re-clustering the
    * moment old cluster commits age out of the log (vacuum/checkpoint
    * subsumption) — at 100 TB exactly the bill liquid exists to avoid.
    * Z-ORDER outputs deliberately do NOT carry the stamp: they are
    * clustered by a different strategy (and possibly different
    * columns), so the first incremental run after a declaration
    * re-clusters them once. */
  private[sources] val ZcubeKey = "#zcube"

  /** Live files already inside some [[clusterIncremental]] zcube. One
    * metadata replay (checkpoint-bounded), zero commit re-reads. */
  def clusteredFiles(spark: SparkSession, table: String): Set[String] =
    ofState(spark, table, None, withStats = true, Set.empty[String])(
      zcubeFiles)

  private def zcubeFiles(st: TableState): Set[String] =
    st.live.collect { case (f, s) if s.contains(ZcubeKey) => f }.toSet

  /** INCREMENTAL clustering — the Delta liquid-clustering analog
    * (`CLUSTER BY` + incremental OPTIMIZE), and the maintenance shape
    * that makes clustering viable at 100 TB: [[clusterByN]] (Z-ORDER)
    * rewrites the WHOLE table every run — O(table) per maintenance
    * cycle, unpayable past a few TB — while this reads ONLY the live
    * files no previous cluster commit produced (the new data since the
    * last run), range-clusters them on the table's declared
    * `graft.clusterBy` columns, and lands them as one new "zcube" in a
    * single rewrite-only `cluster` commit. Cost per run is O(new data);
    * the already-clustered bulk is never touched. Skipping benefit is
    * the same one Z-ORDER buys: per-file min/max stats on the
    * clustering columns are tight inside every zcube, so point/range
    * probes prune to a few files per zcube ([[GraftFileIndex]] does the
    * pruning; the t42 spec pins it).
    *
    * Clustering strategy is multi-column RANGE clustering
    * (`repartitionByRange` over the clustering columns + a local sort)
    * rather than Delta's Hilbert curves: ranges compose with string
    * columns, need no rank normalization pass, and give equally tight
    * first-column bounds; the residual (weaker pruning on trailing
    * columns than a space-filling curve) is recorded here by design.
    * Zcubes are never re-merged once written (Delta re-optimizes
    * undersized zcubes; here `targetFiles` bounds each run's output and
    * [[maybeAutoCompact]] handles genuine small-file debris).
    *
    * Declared via table property `graft.clusterBy = "colA[,colB…]"` —
    * `OPTIMIZE t` on a table carrying the property routes HERE instead
    * of [[compact]] (Delta's exact OPTIMIZE-on-liquid-tables contract).
    * Flat layouts only (liquid clustering REPLACES partitioning);
    * hive/bucket layouts refuse loudly. Row-tracked tables materialize
    * stable row ids through the rewrite ([[compact]]'s contract); DVs
    * must be purged first. Returns the commit version, or None when
    * fewer than `minFiles` unclustered files exist (steady state:
    * repeated OPTIMIZE is a metadata-read no-op). OCC per
    * [[rebaseOnConflict]]. */
  def clusterIncremental(spark: SparkSession, table: String,
      targetFiles: Int = 4, minFiles: Int = 2,
      full: Boolean = false): Option[Long] = {
    val clusterCols = properties(spark, table).get("graft.clusterBy")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"$table declares no graft.clusterBy property; set it or use " +
          "OPTIMIZE ... ZORDER BY / compact()"))
    require(clusterCols.nonEmpty && clusterCols.size <= 4,
      s"graft.clusterBy takes 1-4 columns, got ${clusterCols.size}")
    // rebaseOnConflict is Long-typed; -1 is the "steady state, nothing
    // unclustered" no-op sentinel
    val committed = rebaseOnConflict(spark, table, "clusterIncremental",
        withStats = true) { read =>
      val st = existing(table, read)
      requireNoDvs(st, "clusterIncremental")
      val (files, schema, cmap) = (st.files, st.schema, st.colMap)
      val partCols = layoutPartCols(files)
      require(partCols.isEmpty,
        s"$table is partitioned (${partCols.mkString(",")}): liquid " +
          "clustering replaces partitioning; use OPTIMIZE WHERE / " +
          "ZORDER BY on partitioned layouts")
      val physCols = clusterCols.map(physNameOf(cmap, _))
      physCols.zip(clusterCols).foreach { case (p, c) =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(p)),
          s"clustering column $c not in ${schema.fieldNames.mkString(",")}")
      }
      // `full` re-clusters EVERYTHING including existing zcubes —
      // Delta's `OPTIMIZE t FULL`, the statement that re-lays the table
      // out after the CLUSTER BY columns change (incremental runs never
      // revisit a zcube, so a column change alone cannot)
      val candidates =
        if (full) files.sorted
        else (files.toSet -- zcubeFiles(st)).toSeq.sorted
      if (candidates.size < minFiles) -1L
      else {
        val cur =
          if (tracksRows(st.props)) {
            require(cmap.isEmpty,
              s"$table combines row tracking with column mapping; " +
                "compact() first")
            rowIdRead(spark, table, st, Some(candidates.toSet))
          } else readSubset(spark, table, st, candidates, schema)
        val rewritten = cur
          .repartitionByRange(targetFiles, physCols.map(col): _*)
          .sortWithinPartitions(physCols.map(col): _*)
        val s = stageWithStats(rewritten, table)
        // stamp zcube membership into the per-file stats (see ZcubeKey)
        val stamped = s.stats ++ s.files.map(f =>
          f -> (s.stats.getOrElse(f,
            Map.empty[String, (Double, Double)]) +
            (ZcubeKey -> ((1.0, 1.0)))))
        commitOn(spark, table, read)(v => Commit(v, "cluster", s.files,
          candidates, schema.toDDL, System.currentTimeMillis(),
          stats = stamped, sizes = s.sizes))
      }
    }
    if (committed < 0L) None else Some(committed)
  }

  /** Change data feed between two versions: per-key row-level diff with
    * Delta CDF-style change types (`insert`, `update_postimage`,
    * `delete`; postimage-only — preimages are a second join away if a
    * consumer needs them). Computed relationally from the two snapshots:
    * a full-outer join on the key, change classified by side presence
    * and value inequality. Reading N versions of history costs two
    * snapshot scans, not a log replay of data. */
  def changes(spark: SparkSession, table: String, keys: Seq[String],
      fromV: Long, toV: Long, preimages: Boolean = false): DataFrame = {
    val from = read(spark, table, Some(fromV))
    val to = read(spark, table, Some(toV))
    classifyDiff(from, to, keys,
      to.columns.filterNot(keys.contains).toSeq, preimages)
  }

  /** CDF of ONE commit version, FILE-BOUNDED — the scale-correct form
    * of [[changes]]: a commit can only change the visible rows of the
    * files it added/removed (plus files its deletion vectors touch), so
    * the diff reads exactly those files at the two adjacent versions and
    * never the whole snapshot. At 100 TB a small MERGE's CDF costs a few
    * file reads where the two-snapshot diff would scan the table twice —
    * this is why Delta writes CDC files at commit time; here the same
    * bound falls out of the commit log's add/remove sets with zero write
    * amplification. Classification matches [[changes]] (`insert` /
    * `update_postimage` / `delete`, postimage values; keys must identify
    * rows uniquely — the MERGE precondition). Works on every commit
    * type: appends (inserts), merge/delete rewrites (the carried
    * unchanged rows of touched files cancel in the key diff), DV commits
    * (pure deletes), compact with DV materialization (the newly-hidden
    * rows already reported — old side applies v-1's masks, so a pure
    * layout change diffs empty), restore (the row-level effect of the
    * rewind), metadata-only commits (no files → empty). */
  def changesAt(spark: SparkSession, table: String, keys: Seq[String],
      v: Long, preimages: Boolean = false): DataFrame = {
    val all = versions(spark, table)
    require(all.contains(v),
      s"version $v of $table does not exist (vacuumed or never " +
        "written); CDF is reconstructable only for retained versions")
    require(columnMapping(spark, table, Some(v)).isEmpty,
      s"CDF on a column-mapped version of $table is not supported; " +
        "compact() materializes the mapping")
    val schema = snapshot(spark, table, Some(v))._2
    val c = readCommit(spark, table, v)
    val prevOpt = if (v == all.head) None else Some(all(all.indexOf(v) - 1))
    def relOf(f: String): String = relPathOf(absPath(table, f)).getOrElse(f)
    // files whose DV state flips at v (sidecars are position lists; the
    // distinct-file collect is metadata-sized, like touchedFiles)
    val dvTouched: Set[String] =
      if (c.dvAdd.isEmpty && c.dvRemove.isEmpty) Set.empty
      else spark.read
        .parquet((c.dvAdd ++ c.dvRemove).map(f => absPath(table, f)): _*)
        .select("file_rel").distinct().collect()
        .map(_.getString(0)).toSet
    val affected: Set[String] =
      (c.remove ++ c.add).map(relOf).toSet ++ dvTouched
    // visible rows of the affected files AT a version = subset scan
    // under that version's deletion-vector masks
    def visible(at: Option[Long]): DataFrame = {
      val st = at.map(p => stateAt(spark, table, Some(p)))
      val files =
        st.fold(Seq.empty[String])(_.files.filter(f => affected(relOf(f))))
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else if (st.get.dvs.isEmpty)
        readSubset(spark, table, st.get, files, schema, at)
      else readWithDvs(spark, table, st.get, files, schema, at)
    }
    classifyDiff(visible(prevOpt), visible(Some(v)), keys,
      schema.fieldNames.filterNot(keys.contains).toSeq, preimages)
  }

  /** CDF of one commit keyed by the STABLE ROW ID instead of user key
    * columns — the consumer row tracking exists for (Delta row
    * tracking's headline use): row-level lineage needs no uniqueness
    * assumption about the data, because `_graft_row_id` IS the row's
    * identity. Classification and the file-bounded read are
    * [[changesAt]]'s; the join key is the id. Rewrite-only commits
    * (compact / cluster / reorg / rowid_backfill) diff empty BY
    * CONTRACT — ids survive materialization, which is exactly what
    * makes OPTIMIZE invisible to row-level consumers. Rows in files
    * never backfilled carry NULL ids and classify as delete+insert
    * (no identity to match on) — run [[backfillRowIds]] first.
    *
    * Scale: the diff reads only the files the commit touched, at the
    * two adjacent versions — a small MERGE's row-lineage costs a few
    * file reads on a 100 TB table, never a snapshot scan. */
  def changesByRowId(spark: SparkSession, table: String, v: Long,
      preimages: Boolean = false): DataFrame = {
    val all = versions(spark, table)
    require(all.contains(v),
      s"version $v of $table does not exist (vacuumed or never written)")
    require(columnMapping(spark, table, Some(v)).isEmpty,
      s"row-id CDF on a column-mapped version of $table is not " +
        "supported; compact() materializes the mapping")
    val schema = snapshot(spark, table, Some(v))._2
    val c = readCommit(spark, table, v)
    val prevOpt = if (v == all.head) None else Some(all(all.indexOf(v) - 1))
    def relO(f: String): String = relOf(table, absPath(table, f))
    val dvTouched: Set[String] =
      if (c.dvAdd.isEmpty && c.dvRemove.isEmpty) Set.empty
      else spark.read
        .parquet((c.dvAdd ++ c.dvRemove).map(f => absPath(table, f)): _*)
        .select("file_rel").distinct().collect()
        .map(_.getString(0)).toSet
    val affected: Set[String] =
      if (RewriteOnlyOps(c.operation)) Set.empty
      else (c.remove ++ c.add).map(relO).toSet ++ dvTouched
    def side(at: Option[Long]): DataFrame = at match {
      case None => readWithRowIds(spark, table, Some(v), Some(Set.empty))
      case Some(p) => readWithRowIds(spark, table, Some(p), Some(affected))
    }
    val pre = if (affected.isEmpty) side(None) else side(prevOpt)
    val post =
      if (affected.isEmpty) side(None)
      else readWithRowIds(spark, table, Some(v), Some(affected))
    classifyDiff(pre, post, Seq(RowIdCol),
      schema.fieldNames.toSeq, preimages)
      .withColumn("_commit_version", lit(v))
  }

  /** The key-diff classification [[changes]] and [[changesAt]] share:
    * full-outer join on the keys, change typed by side presence and
    * null-safe value inequality, postimage values (last known values
    * for deletes). With `preimages` set, each update additionally emits
    * an `update_preimage` row carrying the OLD values — Delta CDF's
    * four-class contract — expanded by a single per-row explode over
    * the SAME join (never a second pass over the diff): the update row
    * becomes a two-element [pre, post] array, insert/delete rows a
    * one-element array. */
  private def classifyDiff(from: DataFrame, to: DataFrame,
      keys: Seq[String], dataCols: Seq[String],
      preimages: Boolean = false): DataFrame = {
    val f = from.select(
      keys.map(col) ++ dataCols.map(c => col(c).as(s"__f_$c")) :+
        lit(true).as("__in_f"): _*)
    val t = to.select(
      keys.map(col) ++ dataCols.map(c => col(c).as(s"__t_$c")) :+
        lit(true).as("__in_t"): _*)
    val valueChanged = dataCols.map { c =>
      !(col(s"__f_$c") <=> col(s"__t_$c"))
    }.reduceOption(_ || _).getOrElse(lit(false))
    val classified = f.join(t, keys, "full_outer")
      .withColumn("_change_type",
        when(col("__in_f").isNull, "insert")
          .when(col("__in_t").isNull, "delete")
          .when(valueChanged, "update_postimage"))
      .filter(col("_change_type").isNotNull)
    if (!preimages)
      classified.select(keys.map(col) ++ dataCols.map(c =>
        coalesce(col(s"__t_$c"), col(s"__f_$c")).as(c)) :+
        col("_change_type"): _*)
    else {
      val postRow = struct(dataCols.map(c =>
        coalesce(col(s"__t_$c"), col(s"__f_$c")).as(c)) :+
        col("_change_type").as("_change_type"): _*)
      val preRow = struct(dataCols.map(c =>
        col(s"__f_$c").as(c)) :+
        lit("update_preimage").as("_change_type"): _*)
      classified
        .select(keys.map(col) :+
          explode(when(col("_change_type") === "update_postimage",
            array(preRow, postRow)).otherwise(array(postRow)))
            .as("__r"): _*)
        .select(keys.map(col) ++ dataCols.map(c => col(s"__r.$c")) :+
          col("__r._change_type").as("_change_type"): _*)
    }
  }

  /** Drop data files referenced only by versions older than
    * `retainVersions` back from latest, then drop those log entries.
    * Version-count retention instead of Delta's wall-clock retention so
    * tests are deterministic; the protocol is the same (vacuumed
    * versions stop being time-travelable).
    *
    * A checkpoint is written at the oldest retained version FIRST, so
    * replay of every surviving version starts from a self-contained
    * state: without it, dropping log entries below a non-self-contained
    * commit (an append, which only adds its own files) would silently
    * lose the files earlier commits added even though vacuum correctly
    * retained them on disk. */
  def vacuum(spark: SparkSession, table: String, retainVersions: Int): Unit = {
    val all = versions(spark, table)
    // sidecar residue is independent of log truncation — sweep it even
    // when every version is retained (the early return below)
    sweepSidecars(fs(spark, table), table)
    if (all.size <= retainVersions) return
    val keep = all.takeRight(retainVersions)
    // tagged versions below the horizon are PINNED (Iceberg's
    // expire_snapshots contract): each gets a self-contained checkpoint
    // FIRST (its replay base survives the log truncation), its log
    // entry is kept, and its files/DVs join the needed set
    val pinned = tags(spark, table).values.toSet
      .filter(v => all.contains(v) && v < keep.head).toSeq.sorted
    pinned.foreach(v => checkpoint(spark, table, Some(v)))
    checkpoint(spark, table, Some(keep.head))
    val protectedVs = keep ++ pinned
    val needed =
      protectedVs.flatMap(v => snapshot(spark, table, Some(v))._1).toSet ++
        protectedVs.flatMap(v => deletionVectors(spark, table, Some(v)))
    val f = fs(spark, table)
    val dataDir = new HPath(table, DataDirName)
    if (f.exists(dataDir)) sweepDataDir(spark, f, dataDir, needed)
    val dvDir = new HPath(table, DvDirName)
    if (f.exists(dvDir)) {
      // same sweep over the DV sidecars (their rel paths start _dv/)
      def sweepDv(dir: HPath): Boolean = {
        var empty = true
        f.listStatus(dir).foreach { st =>
          if (st.isDirectory) {
            if (sweepDv(st.getPath)) f.delete(st.getPath, false)
            else empty = false
          } else {
            val abs = st.getPath.toUri.getPath
            val i = abs.lastIndexOf(s"/$DvDirName/")
            val rel = if (i < 0) None else Some(abs.substring(i + 1))
            if (rel.exists(r => !needed.contains(r)))
              f.delete(st.getPath, false)
            else empty = false
          }
        }
        empty
      }
      sweepDv(dvDir)
    }
    val logDir = new HPath(table, LogDirName)
    all.dropRight(retainVersions)
      .filterNot(pinned.contains).foreach { v =>
      f.delete(new HPath(logDir, logName(v)), false)
    }
    // superseded checkpoints below the one just written — except the
    // pinned versions' own replay bases
    checkpointVersions(spark, table)
      .filter(v => v < keep.head && !pinned.contains(v)).foreach { v =>
      f.delete(new HPath(logDir, ckptName(v)), false)
      f.delete(new HPath(logDir, ckptParquetName(v)), true)
    }
  }

  /** Sweep `_graft_sidecar/` of superseded derived-state versions
    * (rolling dedup/near-dup Bloom sidecars — commit-versioned bitsets
    * beside the log). Loaders only read the newest version per family
    * at-or-below the table version, so everything older than the
    * newest two per family (`<prefix>-vNNN.bin/.meta`) is dead weight
    * the save-path pruning may have missed (crashed writers, adopted
    * tables). Same grace window as the save path. */
  private def sweepSidecars(f: FileSystem, table: String): Unit = {
    val dir = new HPath(table, "_graft_sidecar")
    if (!f.exists(dir)) return
    val pat = """^(.*-v)(\d{20})\.(bin|meta)$""".r
    val parsed = f.listStatus(dir).map(_.getPath.getName).collect {
      case pat(pfx, v, _) => (pfx, v.toLong)
    }
    parsed.groupBy(_._1).foreach { case (pfx, vs) =>
      vs.map(_._2).distinct.sorted.dropRight(2).foreach { v =>
        f.delete(new HPath(dir, f"$pfx$v%020d.bin"), false)
        f.delete(new HPath(dir, f"$pfx$v%020d.meta"), false)
      }
    }
  }

  /** Sweep `_data/` deleting every file whose table-root-relative path
    * is not in `needed` — recursive so hive-partitioned staging dirs
    * (`_data/<uuid>/col=val/part-*.parquet`) are handled, and a
    * directory is deleted only once everything under it is gone.
    *
    * Below `spark.graft.vacuum.parallelism.threshold` (default 64)
    * first-level staging dirs, the sweep is the plain driver
    * recursion. ABOVE it, the staging dirs (one per write/commit — the
    * natural unit of parallelism) fan out as a Spark job: each task
    * lists and deletes its own subtree against the broadcast needed
    * set with a task-local FileSystem, and the driver removes only the
    * dirs reported empty. This is the Delta parallel-delete design
    * point — at millions of files a driver-serialized sweep pays one
    * namenode/object-store RPC per file on one thread, and vacuum
    * (not the query path) becomes the table's slowest operation. */
  private def sweepDataDir(spark: SparkSession, f: FileSystem,
      dataDir: HPath, needed: Set[String]): Unit = {
    def sweep(dir: HPath): Boolean = { // true = dir empty after sweep
      var empty = true
      f.listStatus(dir).foreach { st =>
        if (st.isDirectory) {
          if (sweep(st.getPath)) f.delete(st.getPath, false)
          else empty = false
        } else {
          val rel = relPathOf(st.getPath.toUri.getPath)
          if (rel.exists(r => !needed.contains(r)))
            f.delete(st.getPath, false)
          else empty = false
        }
      }
      empty
    }
    val threshold = spark.conf
      .getOption("spark.graft.vacuum.parallelism.threshold")
      .map(_.toInt).getOrElse(64)
    val children = f.listStatus(dataDir)
    val (dirs, files) = children.partition(_.isDirectory)
    // direct files under _data/ (staging always creates a dir; be safe)
    files.foreach { st =>
      val rel = relPathOf(st.getPath.toUri.getPath)
      if (rel.exists(r => !needed.contains(r)))
        f.delete(st.getPath, false)
    }
    if (dirs.length < threshold)
      dirs.foreach(st => if (sweep(st.getPath)) f.delete(st.getPath, false))
    else {
      val bNeeded = spark.sparkContext.broadcast(needed)
      val emptyAfter = spark.sparkContext
        .parallelize(dirs.map(_.getPath.toString).toSeq,
          math.min(dirs.length, 256))
        .map { dirStr =>
          val p = new HPath(dirStr)
          val tfs = p.getFileSystem(
            new org.apache.hadoop.conf.Configuration())
          def go(d: HPath): Boolean = {
            var empty = true
            tfs.listStatus(d).foreach { st =>
              if (st.isDirectory) {
                if (go(st.getPath)) tfs.delete(st.getPath, false)
                else empty = false
              } else {
                val rel = relPathOf(st.getPath.toUri.getPath)
                if (rel.exists(r => !bNeeded.value.contains(r)))
                  tfs.delete(st.getPath, false)
                else empty = false
              }
            }
            empty
          }
          (dirStr, go(p))
        }.collect()
      emptyAfter.foreach { case (d, isEmpty) =>
        if (isEmpty) f.delete(new HPath(d), false)
      }
    }
  }

  // ------------------------------------------------------------ named refs

  /** Named refs in force (Iceberg tag analog): name → version. The
    * writeCommit inheritance invariant makes this the latest commit's
    * `tags` field — one small-JSON read, no replay. */
  def tags(spark: SparkSession, table: String): Map[String, Long] =
    commitAt(spark, table, None).fold(Map.empty[String, Long])(_.tags)

  /** Create (or re-point, only idempotently) a tag naming `version` (or
    * the latest when None) — Iceberg's `ALTER TABLE … CREATE TAG`. A
    * tag is a durable named snapshot address: `VERSION AS OF 'name'`
    * resolves through it, and [[vacuum]] PINS tagged versions (their
    * files, log entry, and a self-contained checkpoint survive any
    * retention window — Iceberg's expire_snapshots contract). */
  def createTag(spark: SparkSession, table: String, name: String,
      version: Option[Long] = None): Long =
      rebaseOnConflict(spark, table, "tag") { read =>
    val st = existing(table, read)
    val all = versions(spark, table)
    val target = version.getOrElse(all.last)
    require(all.contains(target),
      s"cannot tag version $target of $table (have ${all.mkString(",")})")
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*"),
      s"invalid tag name '$name'")
    // time travel resolves VERSION AS OF 'n' numerically FIRST
    // (GraftDml numeric-version-first rule), so an all-digit tag could
    // never be addressed — it would silently read the literal version
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — it would be shadowed by " +
        "numeric version resolution; include at least one non-digit")
    val cur = st.last.tags
    require(!cur.contains(name) || cur(name) == target,
      s"tag $name already names version ${cur(name)} of $table")
    commitOn(spark, table, read)(v => Commit(v, "tag", Seq.empty,
      Seq.empty, st.schema.toDDL, System.currentTimeMillis(),
      tags = cur + (name -> target)))
  }

  /** Drop a tag — the version it named becomes expirable again. */
  def dropTag(spark: SparkSession, table: String, name: String): Long =
      rebaseOnConflict(spark, table, "untag") { read =>
    val cur = read.fold(Map.empty[String, Long])(_.last.tags)
    require(cur.contains(name),
      s"no tag '$name' on $table (have ${cur.keys.toSeq.sorted
        .mkString(",")})")
    // authoritative op: an empty map from "untag" means "no tags",
    // never "inherit"
    commitOn(spark, table, read)(v => Commit(v, "untag", Seq.empty,
      Seq.empty, read.get.schema.toDDL, System.currentTimeMillis(),
      tags = cur - name))
  }

  /** Resolve a tag to its version, failing loudly with the available
    * names. */
  def versionOfTag(spark: SparkSession, table: String,
      name: String): Long = {
    val cur = tags(spark, table)
    cur.getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' on $table (have ${cur.keys.toSeq.sorted
        .mkString(",")})"))
  }

  /** Read the snapshot a tag names. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame =
    readVersion(spark, table, versionOfTag(spark, table, name))

  /** Files the next [[vacuum]] with this retention would delete —
    * Delta's `VACUUM … DRY RUN`: the audit listing, nothing touched.
    * Same needed-set computation as the sweep (every retained version's
    * files + DV sidecars), walked against what is actually on disk. */
  def vacuumDryRun(spark: SparkSession, table: String,
      retainVersions: Int): Seq[String] = {
    val all = versions(spark, table)
    if (all.size <= retainVersions) return Seq.empty
    val keep = all.takeRight(retainVersions)
    val pinned = tags(spark, table).values.toSet
      .filter(v => all.contains(v) && v < keep.head).toSeq
    val protectedVs = keep ++ pinned
    val needed =
      protectedVs.flatMap(v => snapshot(spark, table, Some(v))._1).toSet ++
        protectedVs.flatMap(v => deletionVectors(spark, table, Some(v)))
    val f = fs(spark, table)
    def walk(dir: HPath, relOf: String => Option[String]): Seq[String] =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath, relOf)
        else relOf(st.getPath.toUri.getPath)
          .filterNot(needed.contains).toSeq
      }
    def dvRel(abs: String): Option[String] = {
      val i = abs.lastIndexOf(s"/$DvDirName/")
      if (i < 0) None else Some(abs.substring(i + 1))
    }
    (walk(new HPath(table, DataDirName), relPathOf) ++
      walk(new HPath(table, DvDirName), dvRel)).sorted
  }

  /** Missing-file audit/repair — Delta's `FSCK REPAIR TABLE`: live
    * snapshot entries whose backing file no longer exists on disk
    * (external deletion, partial restore). `dryRun` only lists; repair
    * writes a remove-only `fsck` commit acknowledging the loss, after
    * which reads stop failing on the vanished files (rows they carried
    * are gone — fsck records reality, it cannot resurrect bytes).
    * Absolute (clone-source) references are probed like relative ones. */
  def fsck(spark: SparkSession, table: String,
      dryRun: Boolean = false): Seq[String] = {
    val f = fs(spark, table)
    def missingOf(files: Seq[String]): Seq[String] =
      files.filterNot(rel => f.exists(new HPath(absPath(table, rel))))
    val missing = missingOf(snapshot(spark, table)._1)
    if (!dryRun && missing.nonEmpty)
      rebaseOnConflict(spark, table, "fsck") { read =>
        // recompute inside the retry loop: a racing commit may have
        // already removed (or re-added) some of the entries
        val st = existing(table, read)
        commitOn(spark, table, read)(v => Commit(v, "fsck", Seq.empty,
          missingOf(st.files), st.schema.toDDL, System.currentTimeMillis()))
      }
    missing.sorted
  }

  /** One-row table detail — Delta's `DESCRIBE DETAIL`: format, current
    * version, live file count and total bytes (commit-logged sizes, no
    * per-file RPCs), active DV count, partition columns, constraint /
    * generated-column / identity-column / tag counts. Metadata-priced. */
  def detail(spark: SparkSession, table: String): DataFrame = {
    val (files, _) = snapshot(spark, table)
    val v = latestVersion(spark, table).getOrElse(-1L)
    val sizes = fileSizes(spark, table)
    val gens = generatedColumns(spark, table)
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val schema = StructType(Seq(
      StructField("format", StringType), StructField("location", StringType),
      StructField("version", LongType), StructField("num_files", LongType),
      StructField("size_bytes", LongType),
      StructField("num_deletion_vectors", LongType),
      StructField("partition_columns", StringType),
      StructField("num_constraints", LongType),
      StructField("num_generated_columns", LongType),
      StructField("num_identity_columns", LongType),
      StructField("num_tags", LongType)))
    val row = org.apache.spark.sql.Row(
      "graft", table, v, files.size.toLong,
      files.map(sizes.getOrElse(_, 0L)).sum,
      deletionVectors(spark, table).size.toLong,
      layoutPartCols(files).mkString(","),
      checkConstraints(spark, table).size.toLong,
      gens.count { case (_, ex) => identityDef(ex).isEmpty }.toLong,
      gens.count { case (_, ex) => identityDef(ex).isDefined }.toLong,
      tags(spark, table).size.toLong)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(row).asJava, schema)
  }

  /** The `files` METADATA TABLE (Iceberg's `t.files` / Delta's
    * `DESCRIBE DETAIL`-per-file complement): one row per LIVE file of
    * the current (or asOf) snapshot with its logged size, row count,
    * partition spec, and per-column min/max pulled from the commit log
    * — pure metadata, zero data files opened. This is the ops surface
    * a 100 TB table is managed through: which partitions are
    * small-file-heavy (OPTIMIZE targeting), how skewed the clustering
    * is (stats spread), what a vacuum would reclaim. */
  def filesMetadata(spark: SparkSession, table: String,
      asOf: Option[Long] = None): DataFrame = {
    val (live, sizes) = ofState(spark, table, asOf, withStats = true,
      (Seq.empty[(String, Map[String, (Double, Double)])],
        Map.empty[String, Long]))(st => (st.live, st.sizes))
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("partition", StringType),
      StructField("size_bytes", LongType),
      StructField("num_records", LongType),
      StructField("min_max", org.apache.spark.sql.types.MapType(
        StringType, StringType))))
    val rows = live.toSeq.map { case (f, st) =>
      val part = f.split('/').dropRight(1)
        .filter(_.contains('=')).mkString("/")
      val mm = st.collect {
        case (c, (lo, hi)) if !c.endsWith(NullStatsSuffix) &&
            c != RowBaseKey =>
          c -> s"[$lo, $hi]"
      }
      org.apache.spark.sql.Row(f, part, sizes.getOrElse(f, 0L),
        numRecordsOf(st), mm)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** `SHOW PARTITIONS` for hive-partitioned graft tables: the distinct
    * `col=val[/col=val…]` specs of the live file set — path metadata
    * only, the planner's pruning domain made visible. Empty for flat
    * layouts (Spark's statement errors on unpartitioned tables; the
    * command mirrors that with a loud require). */
  def showPartitions(spark: SparkSession, table: String): Seq[String] = {
    val (files, _) = snapshot(spark, table)
    val specs = files.map(f => f.split('/').dropRight(1)
      .filter(_.contains('=')).mkString("/")).filter(_.nonEmpty)
    require(specs.nonEmpty || files.isEmpty,
      s"SHOW PARTITIONS is not allowed on a table that is not " +
        s"partitioned: $table")
    specs.distinct.sorted
  }

  /** Time-based retention — both table formats' wall-clock idiom
    * (Delta `VACUUM … RETAIN n HOURS`, Iceberg `expire_snapshots(
    * older_than => …)`): retain every version whose commit timestamp is
    * within the last `hours` of `nowMs`, and ALWAYS the latest version
    * (the live snapshot is never expirable — Delta and Iceberg both
    * pin it). The timestamp consulted is the commit's logged
    * `timestampMs`, the same instant `TIMESTAMP AS OF` (d9) resolves
    * against, so a version stays time-travelable exactly as long as it
    * stays addressable. `nowMs` is injectable for deterministic tests.
    *
    * Commit timestamps are nondecreasing (commits serialize through
    * put-if-absent versions), so counting the in-window suffix and
    * delegating to the version-count form shares the checkpoint-first
    * sweep protocol. */
  def vacuumRetainHours(spark: SparkSession, table: String, hours: Double,
      nowMs: Long = System.currentTimeMillis()): Unit = {
    val all = versions(spark, table)
    if (all.isEmpty) return
    val cutoff = nowMs - (hours * 3600 * 1000).toLong
    val retained =
      all.count(v => readCommit(spark, table, v).timestampMs >= cutoff)
    vacuum(spark, table, math.max(1, retained))
  }
}
