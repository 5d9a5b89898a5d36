package graft.sql

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.{ColumnBridge, StreamBatch}

import graft.sources.{GraftFileIndex, GraftLog}

/** SQL DML text surface for `USING graft` tables — the analog of the
  * Delta session extension the reference configures
  * (`mage_demo/utils/spark_session_factory.py:70`): with this class on
  * `spark.sql.extensions`, plain SQL
  *
  * {{{
  *   MERGE INTO t USING s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  *     WHEN NOT MATCHED BY SOURCE THEN DELETE   -- each clause optional
  *   UPDATE t SET c = expr WHERE p
  *   DELETE FROM t WHERE p
  * }}}
  *
  * executes against the transactional commit log ([[GraftLog.merge]] /
  * [[GraftLog.update]] / [[GraftLog.delete]]) with the same file-pruned
  * rewrite semantics as the API calls. Spark's parser already produces
  * the V2 DML logical plans; what V1 path-backed tables lack is an
  * execution path — the post-hoc resolution rule below supplies one by
  * rewriting a DML node whose (resolved) target is a graft-backed
  * [[HadoopFsRelation]] into an eagerly-executed command, exactly the
  * Delta-connector architecture (DeltaAnalysis → DeleteCommand etc.).
  * Unsupported shapes (non-equi merge conditions, conditional merge
  * actions) fail loudly at analysis rather than computing something
  * subtly different. */
class GraftSparkSessionExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(session => new GraftDmlRule(session))
    // materialized-view auto-rewrite: aggregates over a registered,
    // FRESH view source are served from the maintained rollup
    ext.injectPostHocResolutionRule(session =>
      new GraftMvRewriteRule(session))
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // the Delta `table_changes` TVF surface, registered the way Delta
    // registers its own (injectTableFunction from the session
    // extension): SELECT * FROM table_changes('t', 1[, 5])
    Seq("table_changes", "table_changes_by_path").foreach { nm =>
      ext.injectTableFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(nm),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[GraftSparkSessionExtension].getName, nm),
        (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          => GraftTableChangesTvf.build(args)))
    }
  }
}

/** `table_changes('tableOrPath', start[, end])` — the analyst-facing
  * SQL CDF surface (Delta's TVF of the same name). Bounds are commit
  * versions (integers) or timestamp strings — the start bound follows
  * the changes-since rule (earliest commit at-or-after), the end bound
  * the as-of rule (latest commit at-or-before), exactly the batch
  * reader's contract. Rows carry the four-class `_change_type`
  * (insert / update_preimage / update_postimage / delete) plus
  * `_commit_version` and `_commit_timestamp`.
  *
  * The diff classifies by row identity; since a TVF call site has
  * nowhere to pass reader options, the keys come from the table itself:
  * `TBLPROPERTIES ('graft.cdf.keys' = 'k1[,k2…]')` — set once,
  * log-carried, exactly how Delta tables carry
  * `delta.enableChangeDataFeed`. */
object GraftTableChangesTvf {
  def build(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      "usage: table_changes(tableOrPath, startVersion|startTimestamp" +
        "[, endVersion|endTimestamp])")
    val session = SparkSession.active
    val nameOrPath = args.head.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"table_changes: first argument must be a table name or path " +
          s"string, got $other")
    }
    val path =
      if (nameOrPath.contains('/')) nameOrPath
      else GraftTarget.pathOf(session, nameOrPath)
    val all = GraftLog.versions(session, path)
    require(all.nonEmpty, s"$path is not a graft table")
    def bound(e: Expression, isStart: Boolean): Long = e.eval(null) match {
      case i: java.lang.Integer => i.toLong
      case l: java.lang.Long => l
      case s: org.apache.spark.unsafe.types.UTF8String =>
        // the SAME parse every other time-travel surface uses (pinned
        // UTC, accepts date-only literals) — Timestamp.valueOf would
        // read the JVM default zone and resolve a different version
        // range than the batch reader on a non-UTC host
        val ms = TsLiteral.toMillis(s.toString)
        if (isStart)
          GraftLog.versionAtOrAfter(session, path, ms).getOrElse(
            throw new IllegalArgumentException(
              s"no commit of $path at or after $s"))
        else GraftLog.versionAt(session, path, ms)
      case other => throw new IllegalArgumentException(
        s"table_changes: bounds are version numbers or timestamp " +
          s"strings, got $other")
    }
    val startV = bound(args(1), isStart = true)
    val endV =
      if (args.length == 3) bound(args(2), isStart = false) else all.last
    require(startV <= endV, s"start bound $startV > end bound $endV")
    val keys = GraftLog.properties(session, path).get("graft.cdf.keys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"table_changes on $path needs the row identity the diff " +
          "classifies by: ALTER TABLE … SET TBLPROPERTIES " +
          "('graft.cdf.keys' = 'k1[,k2…]') once, then query freely"))
    // delegate to the ONE batch-CDF implementation (the readChangeFeed
    // relation): the TVF adds only the resolved bounds, the
    // log-carried keys, and the _commit_timestamp column — no second
    // copy of the range/union/stamping logic to drift
    val changes = session.read.format("graft")
      .option("readChangeFeed", "true")
      .option("cdfKeys", keys.mkString(","))
      .option("startingVersion", startV.toString)
      .option("endingVersion", endV.toString)
      .option("includePreimages", "true")
      .load(path)
    // commit timestamps: metadata-sized (one row per commit), joined
    // on the version stamp
    import org.apache.spark.sql.functions.{broadcast, col}
    val tsDf = GraftLog.history(session, path)
      .select(col("version").as("_commit_version"),
        col("timestamp").as("_commit_timestamp"))
    StreamBatch.planOf(
      changes.join(broadcast(tsDf), Seq("_commit_version"))
        .select(changes.columns.map(col).toSeq :+
          col("_commit_timestamp"): _*))
  }
}

/** Maintenance-statement parser (the DeltaSqlParser pattern): a thin
  * delegating [[org.apache.spark.sql.catalyst.parser.ParserInterface]]
  * that recognizes the two statements Spark's grammar lacks —
  *
  * {{{
  *   OPTIMIZE <table|'path'> [FILES n] [ZORDER BY (colA, colB)] [FULL]
  *   VACUUM   <table|'path'> RETAIN n VERSIONS
  * }}}
  *
  * — and hands everything else verbatim to Spark's parser, so the
  * extension never changes the meaning of standard SQL. */
final class GraftSqlParser(
    delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
    extends org.apache.spark.sql.catalyst.parser.ParserInterface {
  import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
  import org.apache.spark.sql.types.{DataType, StructType}

  private val OptimizeStmt =
    """(?is)\s*OPTIMIZE\s+(\S+?)(?:\s+WHERE\s+(.+?))?(?:\s+FILES\s+(\d+))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?(\s+FULL)?\s*;?\s*""".r
  private val ReorgStmt =
    """(?is)\s*REORG\s+TABLE\s+(\S+?)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*""".r
  private val VacuumStmt =
    """(?is)\s*VACUUM\s+(\S+?)(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val DetailStmt =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+(\S+?)\s*;?\s*""".r
  private val FsckStmt =
    """(?is)\s*FSCK\s+REPAIR\s+TABLE\s+(\S+?)(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val HistoryStmt =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+(\S+?)\s*;?\s*""".r
  private val RestoreStmt =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(\S+?)\s+TO\s+(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*""".r
  private val ConvertStmt =
    """(?is)\s*CONVERT\s+TO\s+GRAFT\s+(\S+?)\s*;?\s*""".r
  private val AddColumnsStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ADD\s+COLUMNS?\s*\((.+)\)\s*;?\s*""".r
  private val CloneStmt =
    """(?is)\s*CREATE\s+TABLE\s+(\S+)\s+(SHALLOW|DEEP)\s+CLONE\s+(\S+?)(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*""".r
  private val RenameColumnStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*""".r
  private val PartitionFieldStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+(?:ADD|REPLACE)\s+PARTITION\s+FIELD\s+bucket\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*;?\s*""".r
  private val GenerateManifestStmt =
    """(?is)\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+(\S+)\s*;?\s*""".r
  private val AlterColTypeStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*;?\s*""".r
  private val DropColumnStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+DROP\s+COLUMNS?\s*\(?\s*(\w+)\s*\)?\s*;?\s*""".r
  private val CreateTagStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+CREATE\s+TAG\s+(\S+?)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""".r
  private val DropTagStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+DROP\s+TAG\s+(\S+?)\s*;?\s*""".r
  private val DropTableStmt =
    """(?is)\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([^\s;]+)(?:\s+PURGE)?\s*;?\s*""".r
  private val AddConstraintStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraintStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r
  private val ShowPartitionsStmt =
    """(?is)\s*SHOW\s+PARTITIONS\s+(\S+?)\s*;?\s*""".r
  private val AnalyzeStmt =
    """(?is)\s*ANALYZE\s+TABLE\s+(\S+)\s+COMPUTE\s+STATISTICS\s*;?\s*""".r
  // column list admits backquoted names (`a b`, `a.b`); the command
  // splits on commas OUTSIDE backquotes and strips the quotes
  private val AnalyzeColsStmt =
    """(?is)\s*ANALYZE\s+TABLE\s+(\S+)\s+COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s+((?:`[^`]*`|[\w\s,.])+?)\s*;?\s*""".r
  private val SetPropsStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*""".r
  private val UnsetPropsStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+UNSET\s+TBLPROPERTIES\s*(?:IF\s+EXISTS\s*)?\((.+)\)\s*;?\s*""".r
  private val ShowPropsStmt =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+(\S+?)\s*;?\s*""".r
  private val ClusterByStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+CLUSTER\s+BY\s*(?:\(([\w\s,]+)\)|(NONE))\s*;?\s*""".r
  private val SetDefaultStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+DEFAULT\s+(.+?)\s*;?\s*""".r
  private val DropDefaultStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+DEFAULT\s*;?\s*""".r
  private val SetNotNullStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+NOT\s+NULL\s*;?\s*""".r
  private val DropNotNullStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+NOT\s+NULL\s*;?\s*""".r
  // FORMAT_OPTIONS body: quoted strings may contain ')' (a regex
  // delimiter, a quote char), so the group consumes whole 'single-
  // quoted' tokens before bare non-paren chars — a ')' closes the list
  // only OUTSIDE quotes
  private val CopyIntoStmt =
    """(?is)\s*COPY\s+INTO\s+(\S+)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)(?:\s+FORMAT_OPTIONS\s*\(((?:'[^']*'|[^)'])*)\))?(\s+FORCE)?\s*;?\s*""".r
  // the MV lifecycle (Spark's grammar has no MATERIALIZED VIEW, so
  // these are always safe to capture): KEY names the source's CDF row
  // identity — it cannot be inferred from the defining SELECT
  private val CreateMvStmt =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\S+)\s+KEY\s+(\w+)(\s+COMPENSATE)?\s+AS\s+(SELECT.+?)\s*;?\s*""".r
  private val RefreshMvStmt =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\S+?)\s*;?\s*""".r
  private val DescMvStmt =
    """(?is)\s*DESC(?:RIBE)?\s+MATERIALIZED\s+VIEW\s+(\S+?)\s*;?\s*""".r
  private val DropMvStmt =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(\S+?)\s*;?\s*""".r

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CreateMvStmt(target, key, comp, select) =>
      GraftCreateMvCommand(target, key, comp != null, select)
    case RefreshMvStmt(target) =>
      GraftRefreshMvCommand(target)
    case DescMvStmt(target) =>
      GraftDescribeMvCommand(target)
    case DropMvStmt(target) =>
      GraftDropMvCommand(target)
    case CopyIntoStmt(target, src, fmt, opts, force)
        if ownsTarget(target) =>
      GraftCopyIntoCommand(target, src, fmt,
        if (opts == null) Map.empty else TblProps.parseKvs(opts),
        force != null)
    case OptimizeStmt(target, where, files, zcols, full)
        if ownsTarget(target) =>
      if (where != null) {
        require(zcols == null && files == null && full == null,
          "OPTIMIZE … WHERE composes with neither FILES, ZORDER nor " +
            "FULL (partition-scoped compaction compacts each matching " +
            "partition to one file)")
        GraftOptimizeWhereCommand(target, where.trim)
      } else if (zcols != null) {
        require(full == null,
          "OPTIMIZE … FULL is the liquid-clustering statement; ZORDER " +
            "BY always rewrites the whole table")
        GraftZOrderCommand(target,
          zcols.split(",").map(_.trim).toSeq.filter(_.nonEmpty),
          Option(files).map(_.toInt).getOrElse(8))
      } else GraftOptimizeCommand(target,
        Option(files).map(_.toInt), full != null)
    // Delta ships the same statement (REORG … APPLY (PURGE)), so only
    // graft-owned targets are captured
    case ReorgStmt(target) if ownsTarget(target) =>
      GraftReorgCommand(target)
    // RETAIN omitted → the table's `graft.deletedFileRetentionHours`
    // property (default 168 = 7 days), Delta's
    // delta.deletedFileRetentionDuration contract
    case VacuumStmt(target, n, unit, dry) if ownsTarget(target) =>
      GraftVacuumCommand(target,
        Option(n).map(_.toInt).getOrElse(-1),
        byHours = n == null || unit.equalsIgnoreCase("HOURS"),
        dryRun = dry != null)
    case DetailStmt(target) if ownsTarget(target) =>
      GraftDetailCommand(target)
    case FsckStmt(target, dry) if ownsTarget(target) =>
      GraftFsckCommand(target, dryRun = dry != null)
    case HistoryStmt(target) if ownsTarget(target) =>
      GraftHistoryCommand(target)
    // Delta ships the same statement, so only graft-owned targets are
    // captured (same dispatch as OPTIMIZE/VACUUM)
    case RestoreStmt(target, v, ts) if ownsTarget(target) =>
      GraftRestoreCommand(target,
        Option(v).map(_.toLong), Option(ts))
    // our own keyword (Delta's is CONVERT TO DELTA) — path literals
    // only: the target is a RAW parquet dir, not yet any catalog table
    case ConvertStmt(target) =>
      GraftTarget.requirePathTarget(target, "CONVERT TO GRAFT")
      GraftConvertCommand(target)
    // ALTER TABLE is standard SQL Spark parses itself, so only a target
    // that RESOLVES to a graft table is captured (isGraftTable, not
    // ownsTarget) — everything else keeps Spark's own ALTER semantics
    case AddColumnsStmt(target, cols) if isGraftTable(target) =>
      GraftAddColumnsCommand(target, cols)
    case RenameColumnStmt(target, oldName, newName)
        if isGraftTable(target) =>
      GraftRenameColumnCommand(target, oldName, newName)
    case AlterColTypeStmt(target, colName, typeDdl)
        if isGraftTable(target) =>
      GraftWidenColumnCommand(target, colName, typeDdl)
    case GenerateManifestStmt(target) if isGraftTable(target) =>
      GraftGenerateManifestCommand(target)
    case PartitionFieldStmt(target, n, colName) if isGraftTable(target) =>
      GraftPartitionFieldCommand(target, colName, n.toInt)
    // Iceberg's tag DDL (Spark has no CREATE/DROP TAG grammar of its
    // own, so graft-resolvable targets are safe to capture)
    case CreateTagStmt(target, name, ver) if isGraftTable(target) =>
      GraftCreateTagCommand(target, name, Option(ver).map(_.toLong))
    case DropTagStmt(target, name) if isGraftTable(target) =>
      GraftDropTagCommand(target, name)
    case AddConstraintStmt(target, name, check) if isGraftTable(target) =>
      GraftAddConstraintCommand(target, name, check)
    case DropConstraintStmt(target, name) if isGraftTable(target) =>
      GraftDropConstraintCommand(target, name)
    // NOT NULL as constraint sugar (constraint name nn_<col>) — the
    // Delta `delta.constraints`-style column-level form
    case SetNotNullStmt(target, c) if isGraftTable(target) =>
      GraftAddConstraintCommand(target, s"nn_$c", s"$c IS NOT NULL")
    case DropNotNullStmt(target, c) if isGraftTable(target) =>
      GraftDropConstraintCommand(target, s"nn_$c")
    case DropColumnStmt(target, colName) if isGraftTable(target) =>
      GraftDropColumnCommand(target, colName)
    // table configuration (Delta's metaData.configuration analog) —
    // standard Spark grammar, so only POSITIVELY graft targets are
    // captured; everything else keeps the session catalog's semantics
    // Spark's own grammar parses ANALYZE for catalog tables, so only
    // POSITIVELY graft targets are captured; the graft form folds
    // log-carried stats (no scan) into the properties map
    case AnalyzeColsStmt(target, cols) if isGraftTable(target) =>
      // comma-split OUTSIDE backquotes, then strip the quotes
      val colList = {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val cur = new StringBuilder
        var inQ = false
        cols.foreach { ch =>
          if (ch == '`') { inQ = !inQ; cur.append(ch) }
          else if (ch == ',' && !inQ) { out += cur.result(); cur.clear() }
          else cur.append(ch)
        }
        out += cur.result()
        out.toSeq.map(_.trim.stripPrefix("`").stripSuffix("`").trim)
          .filter(_.nonEmpty)
      }
      GraftAnalyzeColumnsCommand(target, colList)
    case AnalyzeStmt(target) if isGraftTable(target) =>
      GraftAnalyzeCommand(target)
    case ShowPartitionsStmt(target) if isGraftTable(target) =>
      GraftShowPartitionsCommand(target)
    // standard SQL column DEFAULTs: a metadata commit declaring the
    // fill expression; writes that omit the column get it
    case SetDefaultStmt(target, colName, dexpr) if isGraftTable(target) =>
      GraftSetDefaultCommand(target, colName, Some(dexpr.trim))
    case DropDefaultStmt(target, colName) if isGraftTable(target) =>
      GraftSetDefaultCommand(target, colName, None)
    // Delta's liquid-clustering DDL: CLUSTER BY (cols) declares the
    // clustering columns (a property commit — no data moves until the
    // next OPTIMIZE); CLUSTER BY NONE withdraws the declaration
    case ClusterByStmt(target, cols, none) if isGraftTable(target) =>
      GraftClusterByCommand(target,
        if (none != null) Seq.empty
        else cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    case SetPropsStmt(target, kvs) if isGraftTable(target) =>
      GraftSetPropertiesCommand(target, TblProps.parseKvs(kvs))
    case UnsetPropsStmt(target, ks) if isGraftTable(target) =>
      GraftUnsetPropertiesCommand(target, TblProps.parseKeys(ks))
    case ShowPropsStmt(target) if isGraftTable(target) =>
      GraftShowPropertiesCommand(target)
    // Delta ships the same syntax, so only a SOURCE that resolves to a
    // graft table (or a path literal) is captured
    case CloneStmt(dst, kind, src, ver, ts) if ownsTarget(src) =>
      GraftCloneCommand(dst, src, Option(ver).map(_.toLong), Option(ts),
        deep = kind.equalsIgnoreCase("DEEP"))
    // MV-registry lifecycle: DROP TABLE on a graft table keeps Spark's
    // own drop semantics verbatim (the delegate plan runs unchanged)
    // but first invalidates any registration whose source or view is
    // this table's path — only intercepted while registrations exist,
    // so the common case costs nothing
    case DropTableStmt(target)
        if !MvRegistry.isEmpty && isGraftTable(target) =>
      GraftDropLifecycleCommand(target, delegate.parsePlan(sqlText))
    case _ => GraftTimeTravel(delegate.parsePlan(sqlText))
  }

  /** Path targets and catalog tables stored `USING graft` are ours; a
    * RESOLVABLE catalog table with any other provider falls through to
    * the delegate, so a co-installed extension (e.g. Delta, whose parser
    * this one wraps under the DeltaLake profile) keeps its own
    * OPTIMIZE/VACUUM surface. Unresolvable names stay ours — the command
    * then fails with the clear "not a USING graft table" message instead
    * of the delegate's generic parse error. */
  private def ownsTarget(target: String): Boolean = {
    val t = target.trim
    val isPath = (t.startsWith("'") && t.endsWith("'")) ||
      (t.startsWith("\"") && t.endsWith("\""))
    isPath || org.apache.spark.sql.SparkSession.getActiveSession.forall { s =>
      try {
        val ident = s.sessionState.sqlParser.parseTableIdentifier(t)
        val meta = s.sessionState.catalog.getTableMetadata(ident)
        meta.provider.forall(_.equalsIgnoreCase("graft"))
      } catch { case scala.util.control.NonFatal(_) => true }
    }
  }

  /** Stricter than [[ownsTarget]]: the target must POSITIVELY resolve to
    * a graft table ('path' literal, or a catalog table whose provider is
    * graft). Used for statements Spark's own grammar also accepts (ALTER
    * TABLE), where an unresolvable name must keep Spark's semantics and
    * Spark's error message. */
  private def isGraftTable(target: String): Boolean = {
    val t = target.trim
    val isPath = (t.startsWith("'") && t.endsWith("'")) ||
      (t.startsWith("\"") && t.endsWith("\""))
    isPath || org.apache.spark.sql.SparkSession.getActiveSession.exists { s =>
      try {
        val ident = s.sessionState.sqlParser.parseTableIdentifier(t)
        val meta = s.sessionState.catalog.getTableMetadata(ident)
        meta.provider.exists(_.equalsIgnoreCase("graft"))
      } catch { case scala.util.control.NonFatal(_) => false }
    }
  }

  override def parseExpression(s: String): Expression =
    delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String): LogicalPlan = delegate.parseQuery(s)
  override def parseRoutineParam(s: String): StructType =
    delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String): StructType =
    delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType =
    delegate.parseDataType(s)
}

/** SQL time travel on graft tables — `SELECT … FROM t VERSION AS OF n`
  * and `TIMESTAMP AS OF ts` (the Delta/Iceberg read syntax the reference
  * configures; Spark's grammar already parses both into
  * [[org.apache.spark.sql.catalyst.analysis.RelationTimeTravel]], which
  * the analyzer only resolves for V2 catalogs). The substitution runs at
  * PARSE time, on the freshly-parsed plan: any time-travel node whose
  * relation names a catalog `USING graft` table is replaced by the
  * already-resolved logical plan of [[GraftLog.readVersion]] at the
  * requested version — commit-metadata work only; non-graft targets pass
  * through untouched for Spark (or a co-installed extension) to resolve. */
private object GraftTimeTravel {
  import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
  import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
  import org.apache.spark.sql.types.TimestampType

  def apply(plan: LogicalPlan): LogicalPlan =
    SparkSession.getActiveSession match {
      case Some(s) if plan.containsPattern(
          org.apache.spark.sql.catalyst.trees.TreePattern.RELATION_TIME_TRAVEL) =>
        plan.transformUp {
          case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
            graftPathOpt(s, u.multipartIdentifier).map { path =>
              val v = ver match {
                // a non-numeric version is a NAMED REF: `VERSION AS OF
                // 'tag'` resolves through the tag table (Iceberg's
                // string-version read surface)
                case Some(n) => scala.util.Try(n.toLong).getOrElse(
                  GraftLog.versionOfTag(s, path, n))
                case None => versionAt(s, path, ts.get)
              }
              GraftLog.readVersion(s, path, v).queryExecution.logical
            }.getOrElse(tt)
        }
      case _ => plan
    }

  /** Catalog table stored `USING graft` → its commit-log root; None for
    * anything else (other providers, temp views, unknown names). */
  private def graftPathOpt(s: SparkSession,
      parts: Seq[String]): Option[String] =
    try {
      val ident = parts match {
        case Seq(t) => org.apache.spark.sql.catalyst.TableIdentifier(t)
        case Seq(db, t) =>
          org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
        case _ => return None
      }
      val meta = s.sessionState.catalog.getTableMetadata(ident)
      if (meta.provider.exists(_.equalsIgnoreCase("graft")))
        meta.storage.properties.get("path")
          .orElse(meta.storage.locationUri.map(_.getPath))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Evaluate the SQL timestamp literal in the session zone, then defer
    * to [[GraftLog.versionAt]] (the shared Delta `TIMESTAMP AS OF`
    * contract: latest commit at-or-before). */
  private def versionAt(s: SparkSession, path: String,
      ts: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    val micros = Cast(Literal(ts.eval(null), ts.dataType), TimestampType,
      Some(s.sessionState.conf.sessionLocalTimeZone)).eval(null)
    require(micros != null, s"cannot interpret $ts as a timestamp")
    GraftLog.versionAt(s, path, micros.asInstanceOf[Long] / 1000L)
  }
}

/** `DESCRIBE HISTORY t` → [[GraftLog.history]] rows (Delta's surface:
  * one row per commit, newest first). */
/** `ALTER TABLE t CREATE TAG name [AS OF VERSION n]` →
  * [[GraftLog.createTag]] (Iceberg's tag DDL; tags pin their versions
  * through vacuum). */
case class GraftCreateTagCommand(target: String, name: String,
    version: Option[Long]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.createTag(session, GraftTarget.pathOf(session, target),
      name, version)
    Seq.empty
  }
}

/** `ALTER TABLE t DROP TAG name` → [[GraftLog.dropTag]]. */
case class GraftDropTagCommand(target: String, name: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.dropTag(session, GraftTarget.pathOf(session, target), name)
    Seq.empty
  }
}

/** `CONVERT TO GRAFT '<path>'` → [[GraftLog.convert]] — in-place
  * migration of a plain parquet directory (Delta `CONVERT TO DELTA`
  * analog; no data rewrite). */
case class GraftConvertCommand(target: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    GraftLog.convert(session, path)
    RefreshAfterDml(session, path, None)
    Seq.empty
  }
}

/** UTC epoch millis of a SQL timestamp/date literal — the shared parse
  * for `TIMESTAMP AS OF` in RESTORE and SHALLOW CLONE (the session
  * timezone is pinned UTC, see Sessions). */
private object TsLiteral {
  def toMillis(ts: String): Long = {
    val norm = ts.trim.replace(" ", "T")
    val full = if (norm.contains("T")) norm else s"${norm}T00:00:00"
    java.time.LocalDateTime.parse(full)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  }
}

/** `RESTORE [TABLE] t TO VERSION AS OF n | TIMESTAMP AS OF 'ts'` →
  * [[GraftLog.restore]] — the Delta statement; one metadata commit
  * rewinding the live set (files, DVs, Bloom bitmaps) to the resolved
  * version, history intact. Timestamps resolve at-or-before, the read
  * surface's contract. */
case class GraftRestoreCommand(target: String, version: Option[Long],
    asOfTs: Option[String] = None) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    val v = version.orElse(asOfTs.map(ts =>
      GraftLog.versionAt(session, path, TsLiteral.toMillis(ts))))
      .getOrElse(throw new IllegalArgumentException(
        "RESTORE needs VERSION AS OF or TIMESTAMP AS OF"))
    GraftLog.restore(session, path, v)
    RefreshAfterDml(session, path, None)
    Seq.empty
  }
}

/** `DROP TABLE` on a graft table, wrapped only while MV registrations
  * exist: unregister every MvDef whose source OR view path is the
  * dropped table's, then run Spark's own (delegate-parsed) drop plan
  * unchanged. Without this, a DROP + re-CREATE at the same path could
  * serve the next table's aggregates from the old view's MvDef. The
  * path resolves BEFORE the drop (afterwards the catalog entry is
  * gone); an unresolvable/non-graft target skips the invalidation and
  * still drops normally. */
case class GraftDropLifecycleCommand(target: String,
    inner: LogicalPlan) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    try MvRegistry.unregisterMatching(GraftTarget.pathOf(session, target))
    catch { case scala.util.control.NonFatal(_) => () }
    StreamBatch.ofPlan(session, inner).collect()
    Seq.empty
  }
}

/** `CREATE MATERIALIZED VIEW <view> KEY <rowId> [COMPENSATE] AS
  * SELECT …` — the SQL lifecycle for the incremental-MV tier
  * ([[graft.operators.AggView]] maintenance + [[GraftMvRewriteRule]]
  * serving). Three maintainable shapes, matching the rewrite rule's
  * serving surface:
  *
  *   - **single-table**: GROUP BY over a bare graft scan aggregating
  *     ONE value column — the view is the (groupCols, valueCol) rollup;
  *   - **star / snowflake**: GROUP BY over an INNER equi-join tree with
  *     exactly one graft FACT (the join input carrying the aggregated
  *     value column). The persisted definition is the fact rolled up at
  *     its JOIN-KEY (+ any fact-side group column) granularity — dims
  *     are NOT materialized: the rewrite rule rejoins the query's own
  *     dim subtrees to the key-grained view at plan time, so the stored
  *     definition (and REFRESH cost) is fact-only;
  *   - **union**: GROUP BY over a UNION ALL of bare graft scans — one
  *     view maintained under per-source ledger app ids
  *     ([[graft.operators.AggView.maintainUnion]]).
  *
  * The command seeds the view from the source's full commit history,
  * persists the definition in the view's table properties (so REFRESH
  * re-derives it without any session state), and registers the
  * source(s) for planner auto-rewrite. KEY names the source's CDF row
  * identity — the one piece the SELECT cannot express. Unmaintainable
  * shapes (filters, computed projections, expression aggregate args,
  * outer joins, two facts) refuse loudly instead of creating a view
  * that doesn't mean what the user wrote. */
case class GraftCreateMvCommand(target: String, key: String,
    compensate: Boolean, select: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
  import org.apache.spark.sql.catalyst.plans.Inner
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Project, SubqueryAlias, Union}

  private def refuse(msg: String): Nothing =
    throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW: unmaintainable shape — " + msg)

  /** Skip SubqueryAlias and PURE pass-through projections. A computed
    * or RENAMING projection (SELECT v*2 AS v, or b AS v) would leave
    * maintenance reading the raw source column of the same name —
    * exactly the silently-wrong view this guard exists to refuse;
    * same-name aliases of bare attributes (what the analyzer inserts)
    * are the only aliases allowed. */
  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => strip(c)
    case pr: Project =>
      pr.projectList.foreach {
        case _: AttributeReference => ()
        case al: Alias if al.child.isInstanceOf[AttributeReference] &&
            al.child.asInstanceOf[AttributeReference].name
              .equalsIgnoreCase(al.name) => ()
        case other => refuse(
          "projections in the defining query must be bare source " +
            s"columns, got ${other.sql} (computed or renaming " +
            "projections are not maintainable)")
      }
      strip(pr.child)
    case other => other
  }

  /** [[strip]] as a query, not a gate: None where strip would refuse
    * (a computed/renaming projection). Dim subtrees use this — the
    * rewrite rule carries them VERBATIM at query time, so their
    * internal shape is not this command's business; only the fact's
    * ancestor path must stay maintainable (strict strip). */
  private def stripOpt(p: LogicalPlan): Option[LogicalPlan] =
    try Some(strip(p))
    catch { case _: IllegalArgumentException => None }

  /** [[strip]] plus FILTER collection (d43): unwraps the alias/
    * projection chain with strip's purity gates and gathers every
    * Filter condition's conjuncts met on the way down. Only the
    * single-table shape may carry them — a WHERE'd view folds only
    * p-satisfying rows, maintained by applying p to each CDF row
    * before the signed-delta aggregate. */
  private def stripFilters(p: LogicalPlan)
      : (LogicalPlan, Seq[Expression]) = p match {
    case SubqueryAlias(_, c) => stripFilters(c)
    case pr: Project =>
      strip(pr): Unit // purity gate only (refuses computed/renaming)
      stripFilters(pr.child)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, c) =>
      val (core, fs) = stripFilters(c)
      (core, MvRegistry.splitAnd(cond) ++ fs)
    case other => (other, Nil)
  }

  private def graftPathOf(p: LogicalPlan): Option[String] =
    stripOpt(p) match {
      case Some(LogicalRelation(fs: HadoopFsRelation, _, _, _, _))
          if fs.location.isInstanceOf[graft.sources.GraftFileIndex] =>
        Some(fs.location.rootPaths.head.toUri.getPath)
      case _ => None
    }

  override def run(session: SparkSession): Seq[Row] = {
    val viewPath = GraftTarget.pathOf(session, target)
    val analyzed = session.sql(select).queryExecution.analyzed
    val agg = analyzed.collectFirst { case a: Aggregate => a }
      .getOrElse(throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW: the defining query must be a " +
          "GROUP BY aggregate"))
    // the aggregate arguments must be a bare column or a Cast of one:
    // sum(v+1) resolves its references to {v}, so the value-column
    // extraction below would happily persist `v` and maintenance
    // would maintain sum(v) — a different query.
    agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    }).foreach { ae =>
      // DISTINCT/FILTER aggregates are exactly what the rewrite rule
      // refuses to serve (they do not decompose over delta rows) — a
      // CREATE that persisted the bare-column definition would
      // maintain sum(v) for a view defined as sum(DISTINCT v) /
      // sum(v) FILTER (...): a view that doesn't mean what the user
      // wrote, and one the rule would (correctly) never serve anyway
      if (ae.isDistinct)
        refuse("DISTINCT aggregates do not decompose over the view's " +
          s"delta log, got ${ae.sql}")
      if (ae.filter.nonEmpty)
        refuse("FILTER-qualified aggregates do not decompose over the " +
          s"view's delta log, got ${ae.sql}")
      ae.aggregateFunction.children.foreach {
        case _: org.apache.spark.sql.catalyst.expressions.Literal => ()
        case _: AttributeReference => ()
        case Cast(_: AttributeReference, _, _, _) => ()
        case other => refuse(
          "aggregate arguments must be a bare column or a CAST of " +
            s"one, got ${other.sql}")
      }
    }
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case other => throw new IllegalArgumentException(
        "materialized-view group keys must be plain columns, got " +
          other.sql)
    }
    if (groupAttrs.isEmpty) throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW: global aggregates are not " +
        "maintainable (no group keys)")
    // the aggregated value attributes: everything an aggregate
    // references that is not a group key
    val valueAttrs = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    }).flatMap(_.references.toSeq)
      .filterNot(a => groupAttrs.exists(_.exprId == a.exprId))
      .foldLeft(Vector.empty[
          org.apache.spark.sql.catalyst.expressions.Attribute])(
        (acc, a) =>
          if (acc.exists(_.exprId == a.exprId)) acc else acc :+ a)
    val valueCol = valueAttrs.map(_.name).distinct match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        "the defining query must aggregate a value column")
      case many => throw new IllegalArgumentException(
        s"one maintainable value column expected, got: " +
          many.mkString(", "))
    }
    val (core, filterConds) = stripFilters(agg.child)
    core match {
      case jn: Join =>
        if (filterConds.nonEmpty) refuse(
          "filters in a star/join defining query are not supported " +
            "(filtered views are single-table — d43)")
        createStar(session, viewPath, jn, groupAttrs, valueAttrs,
          valueCol)
      case un: Union =>
        if (filterConds.nonEmpty) refuse(
          "filters in a UNION defining query are not supported " +
            "(filtered views are single-table — d43)")
        createUnion(session, viewPath, un, groupAttrs.map(_.name),
          valueCol)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.isInstanceOf[graft.sources.GraftFileIndex] =>
        // d43: a WHERE'd single-table view is maintainable — the
        // predicate applies per CDF row during maintenance and gates
        // serving (the rewrite consumes it from the query's filters).
        // It must be deterministic and self-contained: a subquery's
        // answer changes with OTHER tables' state, which maintenance
        // (keyed to THIS source's commits) could never track.
        filterConds.foreach { c =>
          if (!c.deterministic) refuse(
            "non-deterministic filters in the defining query are " +
              s"not maintainable, got ${c.sql}")
          if (c.exists(_.isInstanceOf[org.apache.spark.sql.catalyst
              .expressions.SubqueryExpression])) refuse(
            "subqueries in the defining query's WHERE are not " +
              s"maintainable, got ${c.sql}")
        }
        createSingle(session, viewPath, groupAttrs.map(_.name),
          valueCol, fs.location.rootPaths.head.toUri.getPath,
          filterConds.map(MvRegistry.canonSql).distinct)
      case other => refuse(
        "only GROUP BY over a bare graft scan, an inner join of one, " +
          s"or a UNION ALL of several is maintainable; found " +
          s"${other.nodeName} between the aggregate and the scan")
    }
    Seq.empty
  }

  /** The shared tail: seed the fact rollup, persist the definition,
    * register the rewrite. For a star-defined view, `srcPath` is the
    * FACT and `groupCols` its join-key granularity — identical
    * property shape to a single-table view, so REFRESH and DESCRIBE
    * work on both without knowing which statement created them. */
  private def createSingle(session: SparkSession, viewPath: String,
      groupCols: Seq[String], valueCol: String, srcPath: String,
      filterConj: Seq[String] = Nil): Unit = {
    val filterSql =
      if (filterConj.isEmpty) None
      else Some(filterConj.map(c => s"($c)").mkString(" AND "))
    graft.operators.AggView.maintainCols(session, srcPath, viewPath,
      key, groupCols, valueCol, filterSql): Unit
    GraftLog.setProperties(session, viewPath, Map(
      "graft.mv.src" -> srcPath,
      "graft.mv.key" -> key,
      "graft.mv.groupCols" -> groupCols.mkString(","),
      "graft.mv.valueCol" -> valueCol,
      "graft.mv.compensate" -> compensate.toString) ++
      filterSql.map("graft.mv.filter" -> _)): Unit
    graft.operators.AggView.registerForRewriteCols(srcPath, viewPath,
      groupCols, valueCol, key, compensate, filterConj)
  }

  /** The d41 star shape: derive (fact path, join-key columns) from the
    * analyzed join tree and persist the fact-granularity rollup. The
    * gates mirror [[GraftMvRewriteRule]]'s serving gates — a CREATE
    * the rewrite could never serve would break the lifecycle's
    * "defining text serves after CREATE" contract. */
  private def createStar(session: SparkSession, viewPath: String,
      jn: Join, groupAttrs: Seq[AttributeReference],
      valueAttrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      valueCol: String): Unit = {
    if (valueAttrs.length != 1)
      refuse("the aggregated value column must come from exactly one " +
        "join input")
    val vAttr = valueAttrs.head
    // lenient descent: a subtree strip refuses on (computed/renaming
    // projection) is an OPAQUE LEAF, not an error — the rewrite rule
    // carries dim subtrees verbatim at query time and serves such
    // shapes fine (the d42/d35 mains build exactly them via API
    // registration); only the FACT path enforces strip purity below
    def leaves(p: LogicalPlan): Seq[LogicalPlan] = stripOpt(p) match {
      case Some(j: Join) => leaves(j.left) ++ leaves(j.right)
      case Some(other) => Seq(other)
      case None => Seq(p)
    }
    // the FACT is the join input carrying the aggregated value column
    val factLeaf = leaves(jn).find(_.outputSet.contains(vAttr))
      .getOrElse(refuse(
        "the aggregated value column must come from a join input"))
    val factPath = graftPathOf(factLeaf).getOrElse(refuse(
      "the fact side (the join input carrying the aggregated value " +
        "column) must be a bare graft scan"))
    // a fact SELF-JOIN can never be served from one rollup (the
    // rewrite's two-fact path refuses identical sources — doubled
    // multiplicity, not cross-weights), so a CREATE'd definition
    // would break the "defining text serves after CREATE" contract
    if (leaves(jn).exists(l => !(l eq factLeaf) &&
        graftPathOf(l).exists(p =>
          MvRegistry.normPath(p) == MvRegistry.normPath(factPath))))
      refuse("the defining query self-joins the fact table — one " +
        "rollup cannot reproduce that multiplicity")
    val factOut = factLeaf.outputSet
    // lenient here too: hasFact probes DIM subtrees (validate calls it
    // on both join children to pick the fact side), and an opaque dim
    // subtree simply does not contain the servable fact leaf
    def hasFact(p: LogicalPlan): Boolean = stripOpt(p) match {
      case Some(s) => (s eq factLeaf) || (s match {
        case j: Join => hasFact(j.left) || hasFact(j.right)
        case _ => false
      })
      case None => p eq factLeaf
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // every join on the fact's ancestor path: INNER, deterministic,
    // fact-touching conjuncts equi-pair a fact column with a dim
    // column. The fact-side join columns ARE the view's granularity.
    val joinKeys = scala.collection.mutable.LinkedHashSet[String]()
    def validate(p: LogicalPlan): Unit = strip(p) match {
      case j: Join if hasFact(j) =>
        if (j.joinType != Inner)
          refuse("only INNER joins are maintainable on the fact's " +
            s"join path, got ${j.joinType}")
        val cond = j.condition.getOrElse(refuse(
          "the fact join needs an equi-join condition"))
        if (!cond.deterministic)
          refuse("non-deterministic join conditions are not " +
            "maintainable")
        conjuncts(cond).foreach { c =>
          if (c.references.exists(factOut.contains)) c match {
            case EqualTo(a: AttributeReference, b: AttributeReference)
                if factOut.contains(a) && !factOut.contains(b) =>
              joinKeys += a.name: Unit
            case EqualTo(a: AttributeReference, b: AttributeReference)
                if factOut.contains(b) && !factOut.contains(a) =>
              joinKeys += b.name: Unit
            case other => refuse(
              "every fact-touching join conjunct must equi-pair a " +
                s"fact column with a dim column, got ${other.sql}")
          }
        }
        validate(if (hasFact(j.left)) j.left else j.right)
      case _ => () // the fact leaf, or a dim-only subtree (the
        // rewrite carries dim subtrees verbatim at query time)
    }
    validate(jn)
    // fact-side grouping attrs widen the view granularity; dim-side
    // grouping attrs pass through at query time and are NOT persisted
    val gsFact = groupAttrs.filter(a => factOut.contains(a))
    val groupCols = (joinKeys.toSeq ++ gsFact.map(_.name))
      .foldLeft(Vector.empty[String])((acc, n) =>
        if (acc.exists(_.equalsIgnoreCase(n))) acc else acc :+ n)
    if (groupCols.isEmpty)
      refuse("the fact join path yields no view group columns")
    if (groupCols.exists(_.equalsIgnoreCase(valueCol)))
      refuse("the aggregated value column cannot also be a join key " +
        "or group key")
    createSingle(session, viewPath, groupCols, valueCol, factPath)
  }

  /** The union shape: one view over the UNION ALL of bare graft scans,
    * maintained under per-source ledger app ids. No COMPENSATE: the
    * union rewrite has no compensation path (a stale leg falls the
    * whole union back — see [[GraftMvRewriteRule]]). */
  private def createUnion(session: SparkSession, viewPath: String,
      un: Union, groupCols: Seq[String], valueCol: String): Unit = {
    if (compensate)
      refuse("COMPENSATE is not supported for UNION materialized " +
        "views (a stale leg falls back to the base union)")
    def legs(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case u: Union => u.children.flatMap(legs)
      case other => Seq(other)
    }
    val legPlans = legs(un)
    // UNION is positional: every leg's columns must line up with the
    // union output BY NAME (the rewrite's own gate — a reordering leg
    // feeds one table's column into another's slot)
    if (legPlans.exists(l => l.output.map(_.name.toLowerCase) !=
        un.output.map(_.name.toLowerCase)))
      refuse("every UNION leg's columns must line up with the union " +
        "output by name")
    val paths = legPlans.map(l => graftPathOf(l).getOrElse(refuse(
      "every UNION leg must be a bare graft scan")))
    if (paths.map(MvRegistry.normPath).distinct.length != paths.length)
      refuse("each UNION source may appear only once")
    graft.operators.AggView.maintainUnion(session, paths, viewPath,
      key, groupCols, valueCol): Unit
    GraftLog.setProperties(session, viewPath, Map(
      "graft.mv.src" -> paths.head,
      "graft.mv.unionOf" -> paths.mkString(";;"),
      "graft.mv.key" -> key,
      "graft.mv.groupCols" -> groupCols.mkString(","),
      "graft.mv.valueCol" -> valueCol,
      "graft.mv.compensate" -> "false")): Unit
    graft.operators.AggView.registerForRewriteUnion(paths, viewPath,
      groupCols, valueCol)
  }
}

/** `REFRESH MATERIALIZED VIEW <view>` — fold every source commit past
  * the view's ledger high-water ([[graft.operators.AggView
  * .maintainCols]]) and re-register for rewrite, from the definition
  * persisted in the view's table properties — no session state needed,
  * so a fresh session can refresh a view another session created.
  * Returns the number of versions applied (0 = already current). */
case class GraftRefreshMvCommand(target: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.IntegerType
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("versions_applied", IntegerType,
      nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val viewPath = GraftTarget.pathOf(session, target)
    val props = GraftLog.properties(session, viewPath)
    val src = props.getOrElse("graft.mv.src",
      throw new IllegalArgumentException(
        s"$target is not a materialized view (no graft.mv.src " +
          "property)"))
    val (k, gs, v) = (props("graft.mv.key"),
      props("graft.mv.groupCols").split(",").toSeq,
      props("graft.mv.valueCol"))
    val applied = props.get("graft.mv.unionOf") match {
      case Some(u) =>
        // union MV: fold every leg under its own ledger app id and
        // re-register the union rewrite
        val srcs = u.split(";;").toSeq
        val n = graft.operators.AggView.maintainUnion(
          session, srcs, viewPath, k, gs, v)
        graft.operators.AggView.registerForRewriteUnion(
          srcs, viewPath, gs, v)
        n
      case None =>
        // a filtered view (d43) persists its predicate: re-ANALYZE it
        // against the source scan so the re-registered conjuncts
        // canonicalize exactly as a query's own analyzed filters do
        // (parse-only canon would miss coercion casts)
        val filterSql = props.get("graft.mv.filter")
        val filterConj = filterSql.map { f =>
          session.read.format("graft").load(src).filter(f)
            .queryExecution.analyzed.collectFirst {
              case fl: org.apache.spark.sql.catalyst.plans.logical
                  .Filter =>
                MvRegistry.splitAnd(fl.condition)
                  .map(MvRegistry.canonSql)
            }.getOrElse(Seq.empty)
        }.getOrElse(Nil)
        val n = graft.operators.AggView.maintainCols(
          session, src, viewPath, k, gs, v, filterSql)
        graft.operators.AggView.registerForRewriteCols(src, viewPath,
          gs, v, k,
          props.get("graft.mv.compensate").exists(_ == "true"),
          filterConj)
        n
    }
    Seq(Row(applied))
  }
}

/** `DESCRIBE MATERIALIZED VIEW <view>` — the freshness/lag
  * introspection the REFRESH decision needs: the persisted definition
  * (group keys, value column, CDF key, compensate flag) plus
  * `is_fresh` (ledger high-water == source latest) and
  * `versions_behind` (how many source commits the next REFRESH will
  * fold). All derived from table properties + two small-JSON reads —
  * no data scan. */
case class GraftDescribeMvCommand(target: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("group_cols", StringType, nullable = false)(),
      AttributeReference("value_col", StringType, nullable = false)(),
      AttributeReference("key", StringType, nullable = false)(),
      AttributeReference("compensate", BooleanType, nullable = false)(),
      AttributeReference("is_fresh", BooleanType, nullable = false)(),
      AttributeReference("versions_behind", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val viewPath = GraftTarget.pathOf(session, target)
    val props = GraftLog.properties(session, viewPath)
    val src = props.getOrElse("graft.mv.src",
      throw new IllegalArgumentException(
        s"$target is not a materialized view (no graft.mv.src " +
          "property)"))
    // union MVs sum per-leg lag (each leg has its own app-id ledger);
    // is_fresh = EVERY leg current — the rewrite's own serving gate
    val behind = props.get("graft.mv.unionOf") match {
      case Some(u) => u.split(";;").toSeq.map { s =>
        val latest = GraftLog.versions(session, s).lastOption
          .getOrElse(-1L)
        val hw = GraftLog.lastCommittedBatch(session, viewPath,
          MvRegistry.unionAppId(graft.operators.AggView.AppId, s))
          .getOrElse(-1L)
        math.max(0L, latest - hw)
      }
      case None =>
        val latest = GraftLog.versions(session, src).lastOption
          .getOrElse(-1L)
        val hw = GraftLog.lastCommittedBatch(session, viewPath,
          graft.operators.AggView.AppId).getOrElse(-1L)
        Seq(math.max(0L, latest - hw))
    }
    Seq(Row(props("graft.mv.groupCols"), props("graft.mv.valueCol"),
      props("graft.mv.key"),
      props.get("graft.mv.compensate").exists(_ == "true"),
      behind.forall(_ == 0L), behind.sum))
  }
}

/** `DROP MATERIALIZED VIEW <view>` — unregister every MvDef touching
  * the view (the planner must never serve from a dropped rollup) and
  * delete its files. The destructive step is gated the same way
  * REFRESH/DESCRIBE gate their reads: the target's persisted
  * properties must carry `graft.mv.src`, i.e. the path really holds a
  * CREATE MATERIALIZED VIEW product. Without the gate a mistyped
  * target — the FACT table, or any directory — would be recursively
  * deleted; Databricks/StarRocks raise `not a materialized view`
  * there, and so do we. */
case class GraftDropMvCommand(target: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val viewPath = GraftTarget.pathOf(session, target)
    val props =
      try GraftLog.properties(session, viewPath)
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, String] }
    if (!props.contains("graft.mv.src"))
      throw new IllegalArgumentException(
        s"$target is not a materialized view (no graft.mv.src " +
          "property); refusing to delete")
    MvRegistry.unregisterMatching(viewPath)
    val p = new org.apache.hadoop.fs.Path(viewPath)
    val fs = p.getFileSystem(session.sessionState.newHadoopConf())
    fs.delete(p, true)
    Seq.empty
  }
}

case class GraftHistoryCommand(target: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("operation", StringType, nullable = false)(),
      AttributeReference("n_added_files", IntegerType, nullable = false)(),
      AttributeReference("n_removed_files", IntegerType, nullable = false)(),
      AttributeReference("timestamp", TimestampType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    GraftLog.history(session, path).collect().toSeq
  }
}

/** `ALTER TABLE t ADD COLUMNS (c TYPE, …)` → [[GraftLog.addColumns]] —
  * metadata-only schema widening. For catalog tables the metastore's
  * pinned data schema is updated too (the V1 resolution path rejects a
  * relation whose actual schema differs from the stored one), exactly
  * what Spark's own AlterTableAddColumnsCommand does for its file
  * sources. */
case class GraftAddColumnsCommand(target: String, colsDdl: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    val cols = org.apache.spark.sql.types.StructType.fromDDL(colsDdl)
    GraftLog.addColumns(session, path, cols)
    val t = target.trim
    if (!(t.startsWith("'") || t.startsWith("\""))) {
      val ident = session.sessionState.sqlParser.parseTableIdentifier(t)
      session.sessionState.catalog.alterTableDataSchema(ident,
        GraftLog.snapshot(session, path)._2)
      session.catalog.refreshTable(t)
    }
    session.catalog.refreshByPath(path)
    Seq.empty
  }
}

/** Resolve a maintenance target — `'path'` literal or the name of a
  * catalog `USING graft` table (its path lives in the storage
  * options) — to the commit-log root. */
private object GraftTarget {
  def requirePathTarget(target: String, op: String): Unit = {
    val t = target.trim
    require((t.startsWith("'") && t.endsWith("'")) ||
      (t.startsWith("\"") && t.endsWith("\"")),
      s"$op is supported on path tables ('path' literals) only: a " +
        "catalog graft table reads through the FileIndex, which " +
        "refuses active column mappings; run OPTIMIZE (compact) to " +
        "materialize a mapping before/instead of renaming a catalog " +
        "table's columns")
  }

  def pathOf(session: SparkSession, target: String): String = {
    val t = target.trim
    if ((t.startsWith("'") && t.endsWith("'")) ||
      (t.startsWith("\"") && t.endsWith("\""))) t.substring(1, t.length - 1)
    else {
      val ident = session.sessionState.sqlParser.parseTableIdentifier(t)
      val meta = session.sessionState.catalog.getTableMetadata(ident)
      require(meta.provider.exists(_.equalsIgnoreCase("graft")),
        s"$t is not a USING graft table (provider ${meta.provider})")
      meta.storage.properties.get("path")
        .orElse(meta.storage.locationUri.map(_.getPath))
        .getOrElse(throw new IllegalArgumentException(
          s"graft table $t has no path in its storage options"))
    }
  }
}

/** `OPTIMIZE t [FILES n]` → [[GraftLog.compact]] — UNLESS the table
  * declares `graft.clusterBy`, in which case OPTIMIZE routes to
  * [[GraftLog.clusterIncremental]] (Delta's contract: OPTIMIZE on a
  * liquid-clustered table incrementally clusters new data instead of
  * blind-compacting; minFiles=1 — an explicit OPTIMIZE clusters
  * whatever arrived, only the zero-new-data case no-ops). */
case class GraftOptimizeCommand(target: String,
    targetFiles: Option[Int], full: Boolean = false)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    if (GraftLog.properties(session, path).contains("graft.clusterBy"))
      // FULL re-clusters existing zcubes too — Delta's statement for
      // "the CLUSTER BY columns changed, re-lay the table out". With
      // no FILES clause each route keeps its OWN default: compaction
      // wants one file, clustering wants several (a 1-file zcube has
      // no min/max resolution — the pruning the feature exists for)
      GraftLog.clusterIncremental(session, path,
        targetFiles.getOrElse(4), minFiles = 1, full = full)
    else {
      require(!full,
        s"OPTIMIZE $target FULL needs a graft.clusterBy declaration " +
          "(ALTER TABLE ... CLUSTER BY); plain OPTIMIZE compacts")
      GraftLog.compact(session, path, targetFiles.getOrElse(1))
    }
    RefreshAfterDml(session, path, None)
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c SET DEFAULT expr | DROP DEFAULT` →
  * [[GraftLog.setColumnDefault]] / [[GraftLog.dropColumnDefault]]. */
case class GraftSetDefaultCommand(target: String, column: String,
    dexpr: Option[String]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    dexpr match {
      case Some(e) => GraftLog.setColumnDefault(session, path, column, e)
      case None    => GraftLog.dropColumnDefault(session, path, column)
    }
    Seq.empty
  }
}

/** `ALTER TABLE t CLUSTER BY (a[, b…]) | NONE` — the liquid-clustering
  * declaration ([[GraftLog.clusterIncremental]] consumes it; OPTIMIZE
  * routes by it). A property commit: data moves only at OPTIMIZE. */
case class GraftClusterByCommand(target: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    if (cols.isEmpty)
      GraftLog.unsetProperties(session, path, Seq("graft.clusterBy"))
    else {
      require(cols.size <= 4,
        s"CLUSTER BY takes 1-4 columns, got ${cols.size}")
      GraftLog.setProperties(session, path,
        Map("graft.clusterBy" -> cols.mkString(",")))
    }
    Seq.empty
  }
}

/** `OPTIMIZE t WHERE <partition predicate>` →
  * [[GraftLog.compactWhere]]: partition-scoped compaction — only
  * matching partitions' files rewritten, everything else untouched. */
case class GraftOptimizeWhereCommand(target: String, where: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    GraftLog.compactWhere(session, path,
      org.apache.spark.sql.functions.expr(where))
    RefreshAfterDml(session, path, None)
    Seq.empty
  }
}

/** `REORG TABLE t APPLY (PURGE)` → [[GraftLog.reorgPurge]]: rewrite
  * only the DV-masked files, drop the vectors, leave everything else
  * untouched (Delta's targeted materialization statement). */
case class GraftReorgCommand(target: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    GraftLog.reorgPurge(session, path)
    RefreshAfterDml(session, path, None)
    Seq.empty
  }
}

/** `OPTIMIZE t ZORDER BY (a, b[, c[, d]])` →
  * [[GraftLog.clusterByN]] — Delta's arity (2-4 columns; each added
  * dimension halves per-dimension stat resolution). */
case class GraftZOrderCommand(target: String, cols: Seq[String],
    targetFiles: Int) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    GraftLog.clusterByN(session, path, cols, targetFiles)
    RefreshAfterDml(session, path, None)
    Seq.empty
  }
}

/** `ALTER TABLE t ADD CONSTRAINT n CHECK (expr)` →
  * [[GraftLog.addConstraint]]: validates existing rows in one scan,
  * then lands the constraint in the commit log; every write path
  * (append/merge/update/overwrite, batch or streaming) validates the
  * rows it writes from then on. Also reached by the
  * `ALTER COLUMN c SET NOT NULL` sugar (constraint `nn_c`). */
case class GraftAddConstraintCommand(target: String, name: String,
    check: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.addConstraint(session,
      GraftTarget.pathOf(session, target), name, check)
    Seq.empty
  }
}

/** `ALTER TABLE t DROP CONSTRAINT n` (and `ALTER COLUMN c DROP NOT
  * NULL`) → [[GraftLog.dropConstraint]] — metadata-only removal. */
case class GraftDropConstraintCommand(target: String, name: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.dropConstraint(session,
      GraftTarget.pathOf(session, target), name)
    Seq.empty
  }
}

/** `ALTER TABLE t RENAME COLUMN old TO new` →
  * [[GraftLog.renameColumn]] — metadata-only via column mapping. Path
  * targets only: a CATALOG graft table reads through [[GraftFileIndex]],
  * which (deliberately, loudly) refuses active mappings — renaming it
  * here would brick its reads until compact(), so the command refuses
  * upfront with the actionable message instead. */
case class GraftRenameColumnCommand(target: String, oldName: String,
    newName: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftTarget.requirePathTarget(target, "RENAME COLUMN")
    GraftLog.renameColumn(session,
      GraftTarget.pathOf(session, target), oldName, newName)
    session.catalog.refreshByPath(GraftTarget.pathOf(session, target))
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE wider` →
  * [[GraftLog.widenColumn]] — metadata-only Delta type widening. Works
  * on path AND catalog targets (no column-mapping hazard, unlike
  * rename/drop): for catalog tables the shared post-DML refresh
  * re-points the recorded schema at the widened one, the same
  * machinery autoMerge schema evolution uses. */
case class GraftWidenColumnCommand(target: String, colName: String,
    typeDdl: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(typeDdl)
    GraftLog.widenColumn(session, path, colName, dt)
    val tbl = if (target.trim.startsWith("'") ||
        target.trim.startsWith("\"")) None
      else Some(target.trim)
    RefreshAfterDml(session, path, tbl)
    Seq.empty
  }
}

/** `ALTER TABLE t ADD/REPLACE PARTITION FIELD bucket(n, col)` →
  * [[GraftLog.evolveBucketSpec]] — Iceberg partition-spec evolution:
  * metadata-only; subsequent writers use the new spec, existing files
  * keep pruning by theirs. */
case class GraftPartitionFieldCommand(target: String, colName: String,
    nBuckets: Int) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.evolveBucketSpec(session,
      GraftTarget.pathOf(session, target), colName, nBuckets)
    Seq.empty
  }
}

/** `GENERATE symlink_format_manifest FOR TABLE t` →
  * [[GraftLog.generateManifest]] — Delta's manifest export for external
  * symlink readers. Returns one row per manifest file written. */
case class GraftGenerateManifestCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "manifest", org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    GraftLog.generateManifest(session,
      GraftTarget.pathOf(session, target)).map(Row(_))
}

/** `ALTER TABLE t DROP COLUMN c` → [[GraftLog.dropColumn]] —
  * metadata-only; path targets only (see rename's note). */
case class GraftDropColumnCommand(target: String, colName: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftTarget.requirePathTarget(target, "DROP COLUMN")
    GraftLog.dropColumn(session,
      GraftTarget.pathOf(session, target), colName)
    session.catalog.refreshByPath(GraftTarget.pathOf(session, target))
    Seq.empty
  }
}

/** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF v]` →
  * [[GraftLog.cloneShallow]] — zero-copy metadata clone of the source
  * snapshot. The destination is a path target ('path' literal); catalog
  * registration of clones, like other path-DDL, goes through
  * `CREATE TABLE … USING graft LOCATION` afterwards. */
case class GraftCloneCommand(dst: String, src: String,
    asOf: Option[Long], asOfTs: Option[String] = None,
    deep: Boolean = false)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val srcPath = GraftTarget.pathOf(session, src)
    // TIMESTAMP AS OF resolves through the same at-or-before contract
    // as the read surface (GraftLog.versionAt); the literal is read as
    // UTC, matching the pinned session timezone
    val v = asOf.orElse(asOfTs.map(ts => GraftLog.versionAt(session,
      srcPath, TsLiteral.toMillis(ts))))
    val dstPath = GraftTarget.pathOf(session, dst)
    if (deep) GraftLog.cloneDeep(session, srcPath, dstPath, v)
    else GraftLog.cloneShallow(session, srcPath, dstPath, v)
    Seq.empty
  }
}

/** `VACUUM t RETAIN n VERSIONS` → [[GraftLog.vacuum]];
  * `VACUUM t RETAIN n HOURS` → [[GraftLog.vacuumRetainHours]];
  * `… DRY RUN` → [[GraftLog.vacuumDryRun]] (Delta's audit form: returns
  * the would-be-deleted paths, touches nothing). */
case class GraftVacuumCommand(target: String, retain: Int,
    byHours: Boolean = false, dryRun: Boolean = false)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.StringType
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    if (dryRun) Seq(AttributeReference("path", StringType,
      nullable = false)())
    else Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    // RETAIN omitted (retain < 0) → the table's
    // `graft.deletedFileRetentionHours` property, defaulting to 168
    // hours (7 days) exactly like Delta's retention contract
    val hours =
      if (retain >= 0) retain.toDouble
      else GraftLog.properties(session, path)
        .get("graft.deletedFileRetentionHours")
        .flatMap(s => scala.util.Try(s.toDouble).toOption)
        .getOrElse(168.0)
    if (dryRun) {
      // the HOURS form resolves its window to a version count first,
      // mirroring vacuumRetainHours' suffix-count derivation
      val keep =
        if (!byHours) retain
        else {
          val cutoff =
            System.currentTimeMillis() - (hours * 3600 * 1000).toLong
          math.max(1, GraftLog.history(session, path).collect()
            .count(_.getTimestamp(4).getTime >= cutoff))
        }
      GraftLog.vacuumDryRun(session, path, keep).map(Row(_))
    } else {
      if (byHours)
        GraftLog.vacuumRetainHours(session, path, hours)
      else GraftLog.vacuum(session, path, retain)
      RefreshAfterDml(session, path, None)
      Seq.empty
    }
  }
}

/** `DESCRIBE DETAIL t` → [[GraftLog.detail]] — the one-row table
  * metadata summary (Delta's statement). */
case class GraftDetailCommand(target: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType, StringType}
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("format", StringType, nullable = false)(),
      AttributeReference("location", StringType, nullable = false)(),
      AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("num_files", LongType, nullable = false)(),
      AttributeReference("size_bytes", LongType, nullable = false)(),
      AttributeReference("num_deletion_vectors", LongType,
        nullable = false)(),
      AttributeReference("partition_columns", StringType,
        nullable = false)(),
      AttributeReference("num_constraints", LongType, nullable = false)(),
      AttributeReference("num_generated_columns", LongType,
        nullable = false)(),
      AttributeReference("num_identity_columns", LongType,
        nullable = false)(),
      AttributeReference("num_tags", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    GraftLog.detail(session, GraftTarget.pathOf(session, target))
      .collect().toSeq
}

/** TBLPROPERTIES list parsing, shared by the SET/UNSET commands. The
  * grammar matches Spark's: comma-separated entries, keys and values
  * either single-quoted strings or bare dotted identifiers, `=`
  * optional-whitespace separated. */
private object TblProps {
  private val Kv =
    """\s*(?:'([^']*)'|([A-Za-z0-9_.][A-Za-z0-9_.-]*))\s*=\s*(?:'([^']*)'|([A-Za-z0-9_.][A-Za-z0-9_.-]*))\s*""".r
  private val K =
    """\s*(?:'([^']*)'|([A-Za-z0-9_.][A-Za-z0-9_.-]*))\s*""".r

  /** Split on top-level commas (quoted values may contain commas). */
  private def split(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    s.foreach {
      case '\'' => inQuote = !inQuote; cur.append('\'')
      case ',' if !inQuote => out += cur.result(); cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.result()
    out.toSeq
  }

  def parseKvs(s: String): Map[String, String] =
    split(s).map {
      case Kv(kq, kb, vq, vb) =>
        Option(kq).getOrElse(kb) -> Option(vq).getOrElse(vb)
      case other => throw new IllegalArgumentException(
        s"cannot parse TBLPROPERTIES entry '${other.trim}' " +
          "(expected 'key' = 'value')")
    }.toMap

  def parseKeys(s: String): Seq[String] =
    split(s).map {
      case K(kq, kb) => Option(kq).getOrElse(kb)
      case other => throw new IllegalArgumentException(
        s"cannot parse TBLPROPERTIES key '${other.trim}'")
    }
}

/** `SHOW PARTITIONS t` → [[GraftLog.showPartitions]]: the distinct
  * hive specs of the live file set, path metadata only. */
case class GraftShowPartitionsCommand(target: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.StringType
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("partition", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    GraftLog.showPartitions(session,
      GraftTarget.pathOf(session, target)).map(Row(_))
}

/** Shared catalog push for both ANALYZE commands: attach computed
  * statistics to a CATALOG target's entry (path targets have none);
  * failures warn rather than fail — the log-persisted stats are the
  * durable record, the catalog copy is the CBO accelerator. */
private object AnalyzeCatalogPush {
  /** Quoted targets are path literals — they have no catalog entry, so
    * every push (and colStats construction) must skip them silently. */
  def isPathTarget(target: String): Boolean = {
    val t = target.trim
    t.startsWith("'") || t.startsWith("\"")
  }

  def apply(session: SparkSession, target: String,
      stats: org.apache.spark.sql.catalyst.catalog.CatalogStatistics)
      : Unit = {
    val t = target.trim
    if (!isPathTarget(t)) try {
      val ident = session.sessionState.sqlParser.parseTableIdentifier(t)
      // alterTableStats REPLACES the whole stats entry, so carry the
      // existing column-level stats forward: a plain ANALYZE after
      // ANALYZE … FOR COLUMNS must not wipe the CBO ndv/min/max, and a
      // partial FOR COLUMNS pass must not wipe columns analyzed
      // earlier (Spark's own AnalyzeColumnCommand merges the same way)
      val existing = session.sessionState.catalog
        .getTableMetadata(ident).stats.map(_.colStats)
        .getOrElse(Map.empty)
      val merged = stats.copy(colStats = existing ++ stats.colStats)
      session.sessionState.catalog.alterTableStats(ident, Some(merged))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] WARN: ANALYZE computed stats but " +
        s"could not attach them to the catalog entry for $target: " +
        e.getMessage)
    }
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS a, b, …` →
  * [[GraftLog.analyzeColumns]] (one-pass KMV ndv + min/max +
  * null-count, log-persisted), then — when the target is a CATALOG
  * table — pushed into the session catalog as CBO statistics
  * (`CatalogStatistics` with per-column `CatalogColumnStat`), so
  * Spark's cost-based optimizer estimates filter selectivity from
  * real ndv/min/max and flips dim-fact joins to broadcast from stats
  * alone (`spark.sql.cbo.enabled=true`). Returns one row per column. */
case class GraftAnalyzeColumnsCommand(target: String, cols: Seq[String])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("col_name", StringType, nullable = false)(),
      AttributeReference("ndv_est", DoubleType, nullable = false)(),
      AttributeReference("min_v", StringType)(),
      AttributeReference("max_v", StringType)(),
      AttributeReference("null_count", LongType, nullable = false)(),
      AttributeReference("row_count", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    val (rows, bytes, per) =
      GraftLog.analyzeColumns(session, path, cols)
    // catalog push (shared helper; a path target has no catalog
    // entry — skip silently BEFORE touching session.table, which
    // throws on a quoted path). A colStats construction failure SKIPS
    // the push entirely rather than pushing a partial map.
    if (!AnalyzeCatalogPush.isPathTarget(target)) try {
      import org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
      val tblSchema = session.table(target.trim).schema
      val colStats = per.map { case (c, st) =>
        val dt = tblSchema.find(_.name.equalsIgnoreCase(c)).get.dataType
        val numeric = dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          dt == org.apache.spark.sql.types.DateType ||
          dt == org.apache.spark.sql.types.TimestampType
        c -> CatalogColumnStat(
          distinctCount = Some(BigInt(math.max(1L,
            math.round(st.ndvEst)))),
          // min/max must be CBO-parseable — numerics/dates only
          min = if (numeric) st.min else None,
          max = if (numeric) st.max else None,
          nullCount = Some(BigInt(st.nullCount)),
          avgLen = Some(dt.defaultSize.toLong),
          maxLen = Some(dt.defaultSize.toLong))
      }
      AnalyzeCatalogPush(session, target,
        org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
          BigInt(bytes), Some(BigInt(rows)), colStats))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] WARN: ANALYZE computed stats but " +
        s"could not build catalog column stats for $target " +
        s"(existing catalog stats left untouched): ${e.getMessage}")
    }
    cols.map { c =>
      val st = per(c)
      Row(c, st.ndvEst, st.min.orNull, st.max.orNull, st.nullCount,
        rows)
    }
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS` → [[GraftLog.analyzeTable]]:
  * rowCount/sizeInBytes folded from commit-log metadata (no table
  * scan), stored as properties. Returns the two numbers. */
case class GraftAnalyzeCommand(target: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.LongType
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("row_count", LongType, nullable = false)(),
      AttributeReference("size_bytes", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (rows, bytes) = GraftLog.analyzeTable(session,
      GraftTarget.pathOf(session, target))
    // catalog targets also get table-level CBO statistics (rowCount +
    // sizeInBytes) — the broadcast-threshold input
    AnalyzeCatalogPush(session, target,
      org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
        BigInt(bytes), Some(BigInt(rows))))
    Seq(Row(rows, bytes))
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES ('k'='v', …)` →
  * [[GraftLog.setProperties]] — a metadata-only commit merging the
  * given pairs over the current configuration. */
case class GraftSetPropertiesCommand(target: String,
    kvs: Map[String, String]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.setProperties(session,
      GraftTarget.pathOf(session, target), kvs)
    Seq.empty
  }
}

/** `ALTER TABLE t UNSET TBLPROPERTIES [IF EXISTS] ('k', …)` →
  * [[GraftLog.unsetProperties]]. Missing keys are tolerated either way
  * (v2 semantics). */
case class GraftUnsetPropertiesCommand(target: String,
    keys: Seq[String]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.unsetProperties(session,
      GraftTarget.pathOf(session, target), keys)
    Seq.empty
  }
}

/** `SHOW TBLPROPERTIES t` — key/value rows from the log-carried
  * configuration, sorted by key for determinism. */
case class GraftShowPropertiesCommand(target: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.StringType
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("key", StringType, nullable = false)(),
      AttributeReference("value", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    GraftLog.properties(session, GraftTarget.pathOf(session, target))
      .toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
}

/** `FSCK REPAIR TABLE t [DRY RUN]` → [[GraftLog.fsck]] — audit (and on
  * repair, transactionally drop) snapshot entries whose backing files
  * vanished outside the log's control. Returns the missing paths. */
case class GraftFsckCommand(target: String, dryRun: Boolean)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.StringType
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    val missing = GraftLog.fsck(session, path, dryRun)
    if (!dryRun) RefreshAfterDml(session, path, None)
    missing.map(Row(_))
  }
}

final class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  /** (table root, catalog name) when `plan` is a scan of a graft commit
    * log. The catalog name (from the resolution-added SubqueryAlias) lets
    * the executed command invalidate exactly the session catalog's cached
    * relation for this table, so the next `spark.table` resolves a fresh
    * snapshot. */
  private def graftPath(plan: LogicalPlan)
      : Option[(String, Option[String])] = plan match {
    case SubqueryAlias(id, child) =>
      graftPath(child).map { case (p, n) =>
        (p, n.orElse(Some((id.qualifier :+ id.name).mkString("."))))
      }
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case idx: GraftFileIndex => Some((idx.tablePath, None))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft SQL DML: $msg")

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case Cast(c, _, _, _) => attrName(c)
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Resolved attribute refs carry exprIds tied to THIS query's plan;
    * the command re-reads the table, so comparisons must go by name. */
  private def byName(e: Expression): Column =
    ColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // INSERT on a PARTITIONED graft table: PreprocessTableInsertion
    // fills the statement's partition spec, so Spark's own analysis
    // skips the InsertableRelation path (it requires an empty spec)
    // and plans the raw file-writing command — which would land
    // commit-less parquet under the table root. Re-route it to a
    // ledger-backed partitioned append/overwrite here (this rule runs
    // after DataSourceAnalysis, so the raw command is what arrives).
    case cmd: org.apache.spark.sql.execution.datasources
        .InsertIntoHadoopFsRelationCommand
        if cmd.fileIndex.exists(_.isInstanceOf[GraftFileIndex]) =>
      val idx = cmd.fileIndex.get.asInstanceOf[GraftFileIndex]
      if (cmd.staticPartitions.nonEmpty)
        fail("INSERT … PARTITION (col=value) static specs are not " +
          "supported on graft tables; use a plain INSERT (the row " +
          "values carry the partition) or replaceWhere for slice " +
          "reloads")
      GraftInsertPartitionedCommand(idx.tablePath,
        cmd.partitionColumns.map(_.name),
        overwrite = cmd.mode == org.apache.spark.sql.SaveMode.Overwrite,
        cmd.query)

    case d: DeleteFromTable =>
      graftPath(d.table).fold(plan: LogicalPlan) { case (path, name) =>
        GraftDeleteCommand(path, name, byName(d.condition))
      }

    // TRUNCATE TABLE: Spark's V1 command DELETES the table location's
    // contents — on a managed graft table that destroys the commit log
    // itself. Route graft-provider targets to the log-backed truncate
    // (a metadata-only remove-all commit, history preserved).
    case tr: org.apache.spark.sql.execution.command.TruncateTableCommand =>
      val meta = scala.util.Try(session.sessionState.catalog
        .getTableMetadata(tr.tableName)).toOption
      meta match {
        case Some(m) if m.provider.exists(_.equalsIgnoreCase("graft")) =>
          if (tr.partitionSpec.nonEmpty)
            fail("TRUNCATE TABLE … PARTITION is not supported on graft " +
              "tables; use DELETE FROM with a partition predicate")
          GraftTruncateCommand(
            m.location.toString, Some(tr.tableName.unquotedString))
        case _ => plan
      }

    case u: UpdateTable =>
      graftPath(u.table).fold(plan: LogicalPlan) { case (path, name) =>
        val sets = u.assignments.map { a =>
          val name = attrName(a.key).getOrElse(
            fail(s"unsupported UPDATE target ${a.key.sql}"))
          name -> byName(a.value)
        }
        val cond = u.condition.map(byName)
          .getOrElse(ColumnBridge.column(
            org.apache.spark.sql.catalyst.expressions.Literal(true)))
        GraftUpdateCommand(path, name, cond, sets)
      }

    case m: MergeIntoTable =>
      graftPath(m.targetTable).fold(plan: LogicalPlan) { case (path, name) =>
        // ON condition: same-name column equalities become the KEYS
        // (the equi anchor file pruning and the broadcast probe hang
        // off); any OTHER conjunct routes to the clause engine as an
        // extra matched-gate (Delta's full ON surface). Zero key
        // equalities still fail loudly — a keyless MERGE would be an
        // unprunable cross-table comparison.
        val (keyConjs, extraConjs) =
          conjuncts(m.mergeCondition).partition {
            case EqualTo(l, r) => (attrName(l), attrName(r)) match {
              case (Some(a), Some(b)) => a.equalsIgnoreCase(b)
              case _ => false
            }
            case _ => false
          }
        val keys = keyConjs.map {
          case EqualTo(l, r) => attrName(l).get
          case other => fail(s"unreachable: $other")
        }
        if (keys.isEmpty)
          fail("merge condition needs at least one same-named " +
            s"target/source key equality, got ${m.mergeCondition.sql}")
        // the LEGACY whole-star shape (single unconditional UPDATE SET *
        // / INSERT * / DELETE per family) routes to GraftLog.merge,
        // which supports autoMerge schema evolution; anything else —
        // conditional clauses, multiple ordered clauses, column-level
        // SET, matched DELETE — routes to the clause-cascade engine
        // (GraftLog.mergeClauses), the full Delta MERGE surface.
        // An analyzer-EXPANDED star is recognized only when the
        // assignment list (a) covers EVERY target column, (b) by name,
        // (c) with SOURCE-side values — a PARTIAL assignment (UPDATE
        // SET salary = s.salary) or a target-self-filled alignment
        // must fall through to the clause engine, which applies it
        // column-exactly (the star route would silently overwrite
        // every column from the source).
        val tgtIds = m.targetTable.outputSet.map(_.exprId).toSet
        val srcIds = m.sourceTable.outputSet.map(_.exprId).toSet
        def sourceSided(e: Expression): Boolean = e match {
          case a: AttributeReference => srcIds.contains(a.exprId)
          case Cast(c, _, _, _) => sourceSided(c)
          case _ => false
        }
        val tgtColSet =
          m.targetTable.output.map(_.name.toLowerCase).toSet
        def expandedStar(as: Seq[Assignment]): Boolean =
          as.nonEmpty &&
            as.forall(a => attrName(a.key).zip(attrName(a.value))
              .exists(p => p._1.equalsIgnoreCase(p._2)) &&
              sourceSided(a.value)) &&
            as.flatMap(a => attrName(a.key)).map(_.toLowerCase)
              .toSet == tgtColSet
        def legacyStar(actions: Seq[MergeAction]): Option[Boolean] =
          actions match {
            case Seq() => Some(false)
            case Seq(a: UpdateStarAction) if a.condition.isEmpty =>
              Some(true)
            case Seq(a: InsertStarAction) if a.condition.isEmpty =>
              Some(true)
            case Seq(a: UpdateAction) if a.condition.isEmpty &&
              expandedStar(a.assignments) => Some(true)
            case Seq(a: InsertAction) if a.condition.isEmpty &&
              expandedStar(a.assignments) => Some(true)
            case _ => None
          }
        val legacyDelete = m.notMatchedBySourceActions match {
          case Seq() => Some(false)
          case Seq(a: DeleteAction) if a.condition.isEmpty => Some(true)
          case _ => None
        }
        (legacyStar(m.matchedActions), legacyStar(m.notMatchedActions),
            legacyDelete) match {
          case (Some(u), Some(i), Some(d)) if extraConjs.isEmpty =>
            if (!u && !i && !d) fail("MERGE needs at least one WHEN clause")
            GraftMergeCommand(path, name, m.sourceTable, keys, u, i, d)
          case _ =>
            // expression side-binding: resolved attributes belong to
            // either the target or the source subplan — rewrite them to
            // the FIXED t/s qualifiers mergeClauses resolves against
            def sided(e: Expression): Column =
              ColumnBridge.column(e.transform {
                case a: AttributeReference if tgtIds.contains(a.exprId) =>
                  UnresolvedAttribute(Seq("t", a.name))
                case a: AttributeReference if srcIds.contains(a.exprId) =>
                  UnresolvedAttribute(Seq("s", a.name))
                case a: AttributeReference =>
                  UnresolvedAttribute.quoted(a.name)
              })
            def sets(as: Seq[Assignment], what: String)
                : Seq[(String, Column)] = as.map { a =>
              attrName(a.key).getOrElse(fail(
                s"unsupported $what assignment target ${a.key.sql}")) ->
                sided(a.value)
            }
            import GraftLog.MergeClause
            // NOTE: analyzer-expanded stars arrive as full-coverage
            // same-name assignment lists; building EXPLICIT sets from
            // them is semantically identical to the Nil star form, and
            // never normalizing means a PARTIAL same-name assignment
            // (UPDATE SET salary = s.salary) can never be mistaken for
            // SET * (which would silently overwrite every column)
            def matchedClause(a: MergeAction): MergeClause = a match {
              case u: UpdateStarAction =>
                MergeClause.Update(u.condition.map(sided), Nil)
              case u: UpdateAction =>
                MergeClause.Update(u.condition.map(sided),
                  sets(u.assignments, "WHEN MATCHED UPDATE"))
              case d: DeleteAction =>
                MergeClause.Delete(d.condition.map(sided))
              case other =>
                fail(s"unsupported WHEN MATCHED action $other")
            }
            def insertClause(a: MergeAction): MergeClause.Insert =
              a match {
                case i: InsertStarAction =>
                  MergeClause.Insert(i.condition.map(sided), Nil)
                case i: InsertAction =>
                  MergeClause.Insert(i.condition.map(sided),
                    sets(i.assignments, "WHEN NOT MATCHED INSERT"))
                case other =>
                  fail(s"unsupported WHEN NOT MATCHED action $other")
              }
            def bySourceClause(a: MergeAction): MergeClause = a match {
              case u: UpdateAction =>
                MergeClause.Update(u.condition.map(sided),
                  sets(u.assignments, "WHEN NOT MATCHED BY SOURCE UPDATE"))
              case d: DeleteAction =>
                MergeClause.Delete(d.condition.map(sided))
              case other =>
                fail(s"unsupported WHEN NOT MATCHED BY SOURCE action " +
                  s"$other")
            }
            GraftMergeClausesCommand(path, name, m.sourceTable, keys,
              m.matchedActions.map(matchedClause),
              m.notMatchedActions.map(insertClause),
              m.notMatchedBySourceActions.map(bySourceClause),
              extraConjs.map(sided).reduceOption(_ && _))
        }
      }

    case _ => plan
  }
}

/** Post-commit cache invalidation: the session catalog caches a V1
  * relation (with its resolved GraftFileIndex snapshot) per table name —
  * a later `spark.table` would silently read the PRE-DML version. Refresh
  * the exact table when the resolution rule captured its name, fall back
  * to dropping every cached relation otherwise (correctness over reuse —
  * re-resolution is metadata-priced). */
private object RefreshAfterDml {
  def apply(session: SparkSession, path: String,
      table: Option[String]): Unit = {
    table match {
      case Some(t) =>
        // schema evolution (autoMerge) moves the log's schema past the
        // one the catalog recorded at CREATE TABLE — re-point it (Delta
        // updates the metastore the same way), else the next relation
        // resolution fails on user-specified-schema mismatch
        try {
          // the rule captures FULLY-QUALIFIED names (catalog.db.table);
          // the session catalog keys on (db, table)
          val parts = session.sessionState.sqlParser
            .parseMultipartIdentifier(t).takeRight(2)
          val ident = parts match {
            case Seq(db, tbl) =>
              org.apache.spark.sql.catalyst.TableIdentifier(tbl, Some(db))
            case Seq(tbl) =>
              org.apache.spark.sql.catalyst.TableIdentifier(tbl)
          }
          val cur = GraftFileIndex.relation(session, path, None).schema
          val meta = session.sessionState.catalog.getTableMetadata(ident)
          if (meta.schema != cur)
            session.sessionState.catalog.alterTableDataSchema(ident, cur)
        } catch { case scala.util.control.NonFatal(_) => () }
        session.catalog.refreshTable(t)
        StatsFreshness.reconcile(session, path, t)
      case None => session.sessionState.catalog.invalidateAllCachedTables()
    }
    session.catalog.refreshByPath(path)
  }
}

/** DML-time staleness guard for catalog-pushed CBO statistics: ANALYZE
  * attaches rowCount/ndv to the catalog entry, but nothing in Spark
  * invalidates them as the table mutates — a dim that tripled since its
  * ANALYZE still "broadcasts" off the old estimate, the silently-wrong
  * failure mode CBO is known for. After every graft DML commit on a
  * catalog target, compare the catalog's recorded rowCount against the
  * CURRENT metadata-folded count ([[GraftLog.metadataRowCount]] — a log
  * walk, no scan; the DML just paid a full commit, this is noise next
  * to it). When the row delta exceeds the drift fraction
  * (`graft.stats.maxRowDriftFraction` table property, else
  * `spark.graft.stats.maxRowDriftFraction` conf, default 0.2), the
  * catalog entry is re-pointed at the fresh table-level truth
  * (rowCount/sizeInBytes re-folded — the free part of re-ANALYZE) and
  * the column-level ndv/min/max are DROPPED: they describe data that no
  * longer exists, and an honest size-only estimate beats a confidently
  * stale one. The log-persisted `graft.stats.*` properties are left
  * untouched — they are the durable record OF THAT ANALYZE, stamped
  * with `analyzedAtVersion` for provenance. */
private object StatsFreshness {
  def reconcile(session: SparkSession, path: String,
      table: String): Unit = try {
    val parts = session.sessionState.sqlParser
      .parseMultipartIdentifier(table).takeRight(2)
    val ident = parts match {
      case Seq(db, tbl) =>
        org.apache.spark.sql.catalyst.TableIdentifier(tbl, Some(db))
      case Seq(tbl) =>
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)
    }
    val catStats = session.sessionState.catalog
      .getTableMetadata(ident).stats
    catStats.flatMap(_.rowCount) match {
      case None => () // no pushed stats → nothing can be stale
      case Some(recorded) =>
        val maxDrift = GraftLog.properties(session, path)
          .get("graft.stats.maxRowDriftFraction")
          .orElse(session.conf
            .getOption("spark.graft.stats.maxRowDriftFraction"))
          .map(_.toDouble).getOrElse(0.2)
        val (curRows, curBytes) = GraftLog.metadataRowCount(session, path)
        val base = math.max(1L, recorded.toLong)
        val drift = math.abs(curRows - base).toDouble / base
        if (drift > maxDrift) {
          // INCREMENTAL refresh first (GraftLog.refreshStats): exact
          // rowCount/sizeInBytes/nullCount and live-file min/max from
          // commit metadata, ndv by merging the persisted KMV sketch
          // with a sketch of only the NEW files — the table keeps its
          // CBO column estimates (and its broadcast flips) through
          // unbounded append streams instead of losing them at the
          // first drift past the horizon. Falls back to the old
          // drop-column-stats behavior when there is nothing to refresh.
          GraftLog.refreshStats(session, path) match {
            case Some((rows, bytes, per)) =>
              import org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
              val tblSchema = session.sessionState.catalog
                .getTableMetadata(ident).schema
              val colStats = per.flatMap { case (c, st) =>
                tblSchema.find(_.name.equalsIgnoreCase(c)).map { f =>
                  val numeric =
                    f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
                      f.dataType == org.apache.spark.sql.types.DateType ||
                      f.dataType == org.apache.spark.sql.types.TimestampType
                  c -> CatalogColumnStat(
                    distinctCount = Some(BigInt(math.max(1L,
                      math.round(st.ndvEst)))),
                    min = if (numeric) st.min else None,
                    max = if (numeric) st.max else None,
                    nullCount = Some(BigInt(st.nullCount)),
                    avgLen = Some(f.dataType.defaultSize.toLong),
                    maxLen = Some(f.dataType.defaultSize.toLong))
                }
              }
              session.sessionState.catalog.alterTableStats(ident,
                Some(org.apache.spark.sql.catalyst.catalog
                  .CatalogStatistics(BigInt(bytes), Some(BigInt(rows)),
                    colStats)))
              System.err.println(s"[graft] stats staleness guard: " +
                f"$table drifted ${drift * 100}%.1f%% from its ANALYZE " +
                s"($recorded → $rows rows); refreshed table AND column " +
                "stats incrementally (metadata fold + KMV merge over " +
                "new files only)")
            case None =>
              session.sessionState.catalog.alterTableStats(ident,
                Some(org.apache.spark.sql.catalyst.catalog
                  .CatalogStatistics(BigInt(curBytes),
                    Some(BigInt(curRows)))))
              System.err.println(s"[graft] stats staleness guard: " +
                f"$table drifted ${drift * 100}%.1f%% from its ANALYZE " +
                s"($recorded → $curRows rows); refreshed table-level " +
                "stats, dropped stale column ndv/min/max (re-run " +
                "ANALYZE … FOR COLUMNS to restore CBO column estimates)")
          }
        }
    }
  } catch { case scala.util.control.NonFatal(_) => () }
}

/** The re-routed INSERT for hive-partitioned graft tables (see the
  * GraftDmlRule case): materializes the already-analyzed source plan
  * and lands it as one ledger-backed partitioned commit. The source
  * arrives ordered (data columns…, partition columns…) — exactly the
  * table's dataSchema ++ partitionSchema — so the positional re-key
  * mirrors the flat InsertableRelation path. */
case class GraftInsertPartitionedCommand(path: String,
    partCols: Seq[String], overwrite: Boolean, query: LogicalPlan)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // names from the log, not a FileIndex: an index construction would
    // refuse DV-bearing tables, but appends to them are legal
    val schema = GraftLog.snapshot(session, path)._2
    val dataNames = schema.fieldNames.toSeq
      .filterNot(n => partCols.exists(_.equalsIgnoreCase(n)))
    val names = dataNames ++ partCols
    val df = StreamBatch.ofPlan(session, query).toDF(names: _*)
    // an empty partition list stages flat
    if (overwrite) GraftLog.overwritePartitioned(df, path, partCols)
    else GraftLog.appendPartitioned(df, path, partCols)
    session.sessionState.catalog.invalidateAllCachedTables()
    session.catalog.refreshByPath(path)
    Seq.empty
  }
}

/** `COPY INTO t FROM 'dir' FILEFORMAT = PARQUET|CSV|JSON
  * [FORMAT_OPTIONS('k'='v',…)] [FORCE]` — idempotent file ingest (see
  * [[GraftLog.copyInto]]). Returns one row (version, num_files,
  * num_inserted_rows); a re-run over the same directory reports
  * (-1, 0, 0) — nothing new. */
case class GraftCopyIntoCommand(target: String, source: String,
    format: String, options: Map[String, String], force: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(
      AttributeReference("version",
        org.apache.spark.sql.types.LongType)(),
      AttributeReference("num_files",
        org.apache.spark.sql.types.LongType)(),
      AttributeReference("num_inserted_rows",
        org.apache.spark.sql.types.LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftTarget.pathOf(session, target)
    val (v, nf, nr) = GraftLog.copyInto(session, path, source, format,
      options, force)
    RefreshAfterDml(session, path, None)
    Seq(Row(v, nf, nr))
  }
}

/** Log-backed `TRUNCATE TABLE` (see the GraftDmlRule case). */
case class GraftTruncateCommand(path: String, table: Option[String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.truncate(session, path)
    RefreshAfterDml(session, path, table)
    Seq.empty
  }
}

/** `DELETE FROM t WHERE p` → [[GraftLog.delete]]. */
case class GraftDeleteCommand(path: String, table: Option[String],
    condition: Column) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.delete(session, path, condition)
    RefreshAfterDml(session, path, table)
    Seq.empty
  }
}

/** `UPDATE t SET ... WHERE p` → [[GraftLog.update]]. */
case class GraftUpdateCommand(path: String, table: Option[String],
    condition: Column, sets: Seq[(String, Column)])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftLog.update(session, path, condition, sets)
    RefreshAfterDml(session, path, table)
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON keys…` → [[GraftLog.merge]], with each WHEN
  * clause family routed as a flag (UPDATE SET * / INSERT * / NOT MATCHED
  * BY SOURCE DELETE). */
case class GraftMergeCommand(path: String, table: Option[String],
    source: LogicalPlan, keys: Seq[String], updateMatched: Boolean = true,
    insertUnmatched: Boolean = true, deleteUnmatchedBySource: Boolean = false)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // Delta's spark.databricks.delta.schema.autoMerge.enabled analog:
    // when set, source-only columns widen the target schema
    val autoMerge = session.conf
      .get("spark.graft.schema.autoMerge.enabled", "false").toBoolean
    GraftLog.merge(StreamBatch.ofPlan(session, source), path, keys,
      updateMatched, insertUnmatched, deleteUnmatchedBySource,
      mergeSchema = autoMerge)
    RefreshAfterDml(session, path, table)
    Seq.empty
  }
}

/** Conditional / multi-clause `MERGE INTO` (see the GraftDmlRule case):
  * the clause lists arrive pre-translated into the t/s-qualified
  * [[GraftLog.MergeClause]] forms the cascade engine resolves. */
case class GraftMergeClausesCommand(path: String, table: Option[String],
    source: LogicalPlan, keys: Seq[String],
    matched: Seq[GraftLog.MergeClause],
    notMatched: Seq[GraftLog.MergeClause.Insert],
    notMatchedBySource: Seq[GraftLog.MergeClause],
    onExtra: Option[Column] = None)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val autoMerge = session.conf
      .get("spark.graft.schema.autoMerge.enabled", "false").toBoolean
    GraftLog.mergeClauses(StreamBatch.ofPlan(session, source), path,
      keys, matched, notMatched, notMatchedBySource, onExtra,
      mergeSchema = autoMerge)
    RefreshAfterDml(session, path, table)
    Seq.empty
  }
}
