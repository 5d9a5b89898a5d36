package graft.sessions

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Re-expresses the reference's session-factory pattern
  * (`mage_demo/utils/spark_session_factory.py:6-89` — an ABC with Delta and
  * Iceberg concrete builders plus a `get_spark_session(type)` dispatcher) as a
  * single Scala builder object with named profiles.
  *
  * Deliberate semantic pins (see SURVEY.md §4, §7.4):
  *   - `spark.sql.ansi.enabled=false`: the reference ran Spark 3.4 with ANSI
  *     explicitly off (`financial_dl_etl.py:13`); Spark 4 defaults it ON, which
  *     changes DECIMAL overflow/cast behavior from silent-null to error. Parity
  *     requires the reference's silent-null semantics.
  *   - UTC session timezone: keeps date/timestamp functions stable against the
  *     DuckDB oracle regardless of host TZ.
  *   - `spark.sql.shuffle.partitions` sized to cores, not the 200 default:
  *     local[32] with 200 partitions means tiny shuffle blocks and scheduler
  *     overhead. On a real cluster this knob is sized to ~2-3× total cores (or
  *     left to AQE coalescing, which we enable).
  *   - AQE on: runtime shuffle-partition coalescing + skew-join splitting are
  *     the first line of defense at 100 TB where static tuning is impossible.
  *   - `spark.sql.artifact.isolation.enabled=false`: Spark caches generated
  *     code under the key (classloader, source), with the loader taken
  *     from the running thread. Every `writeStream.start()` runs on a
  *     clone of the session, and with isolation on each clone's tasks get
  *     their own executor classloader, so a stream drain finds none of the
  *     classes the last drain compiled. graft adds no session-scoped jars,
  *     so one shared loader loses nothing. Counter: `CodegenMetrics`
  *     compiles per steady near-dup drain, 45 → 4 (`CodegenCacheSpec`).
  *   - `spark.sql.codegen.cache.maxEntries=1000` (Spark's default is 100):
  *     in local mode each class is cached twice, once under the driver's
  *     loader and once under the executor's, so one near-dup erase + drain
  *     cycle (about 82 distinct classes) evicts its own entries. Counter:
  *     compiles per erase between drains, 7 → 2 with isolation already
  *     off (`CodegenCacheSpec`). Spark sizes the cache once, when the JVM
  *     first generates code, so the conf counts only on a session that
  *     exists before that (a later `getOrCreate` keeps the old size).
  */
object Sessions {

  sealed trait Profile { def name: String }
  /** Plain parquet lakehouse (the test/bench profile). */
  case object ParquetLake extends Profile { val name = "parquet" }
  /** Delta-format profile — only valid when delta jars are on the classpath.
    * Mirrors `DeltaSparkSession` (`spark_session_factory.py:53-81`). */
  case object DeltaLake extends Profile { val name = "delta" }
  /** Iceberg-format profile — only valid when iceberg jars are present.
    * Mirrors `IcebergSparkSession` (`spark_session_factory.py:16-51`). */
  case object IcebergLake extends Profile { val name = "iceberg" }

  /** True when the given table-format runtime is actually on the classpath. */
  def formatAvailable(profile: Profile): Boolean = profile match {
    case ParquetLake => true
    case DeltaLake   => classpathHas("io.delta.sql.DeltaSparkSessionExtension")
    case IcebergLake => classpathHas(
      "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
  }

  private def classpathHas(cls: String): Boolean =
    try { Class.forName(cls); true } catch { case _: Throwable => false }

  def builder(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int =
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      profile: Profile = ParquetLake): SparkSession.Builder = {
    var b = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      // generated code compiled once per JVM, not once per stream drain
      // or per operation (see the scaladoc above)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // 128m file-split target: at 100 TB this yields ~800k input splits,
      // which a 1000-executor cluster digests without straggler-sized tasks.
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      // Spark 4 rejects INT64 TIMESTAMP(NANOS) parquet (PARQUET_TYPE_ILLEGAL)
      // — read as raw nanos longs; graft.streaming converts to μs timestamps
      // (same truncation DuckDB applies reading TIMESTAMP_NS).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Output committer v2 + no _SUCCESS marker for the session's
      // non-graft writes (a plain `df.write`, such as the bench's
      // landing write): v1's atomic job-commit rename pass adds a
      // sequential driver-side rename per file/dir (~1 s per 64-dir
      // hive-partitioned commit measured in the sandbox, and strictly
      // worse on object stores, where the reference applied the same
      // setting — `delta_datalake.py:25`). graft's own staging no
      // longer relies on either: `StagedWrite` writes each file in
      // place into a fresh UUID dir no reader references until the
      // ledger commit lands, with no committer, rename or marker.
      .config(
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config(
        "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
        "false")
    // graft's own session extension: SQL MERGE/UPDATE/DELETE text routed
    // to the transactional commit log (the Delta extension line of
    // `spark_session_factory.py:70`, for the graft format)
    val graftExt = "graft.sql.GraftSparkSessionExtension"
    profile match {
      case DeltaLake if formatAvailable(DeltaLake) =>
        b = b
          .config("spark.sql.extensions",
            s"io.delta.sql.DeltaSparkSessionExtension,$graftExt")
          .config("spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog")
      case IcebergLake if formatAvailable(IcebergLake) =>
        b = b
          .config("spark.sql.extensions",
            "org.apache.iceberg.spark.extensions." +
              s"IcebergSparkSessionExtensions,$graftExt")
          .config("spark.sql.catalog.local",
            "org.apache.iceberg.spark.SparkCatalog")
          .config("spark.sql.catalog.local.type", "hadoop")
      case _ => // ParquetLake or requested format unavailable → plain parquet
        b = b.config("spark.sql.extensions", graftExt)
    }
    b
  }

  /** Object-store seam: the reference writes everything to `s3a://` with
    * endpoint/credential config and output-committer tuning
    * (`delta_datalake.py:19-26`, `spark_session_factory.py:74-81`,
    * hardcoded there; env-driven here so secrets never live in code).
    * Applying this makes every path-taking operator in the library work
    * unchanged against an S3-compatible store — paths are plain Hadoop FS
    * URIs throughout, nothing assumes the local filesystem. No-op when
    * `endpoint` is None (the sandbox case: no store to reach). */
  def withObjectStore(
      b: SparkSession.Builder,
      endpoint: Option[String] = sys.env.get("GRAFT_S3_ENDPOINT"),
      accessKey: Option[String] = sys.env.get("GRAFT_S3_ACCESS_KEY"),
      secretKey: Option[String] = sys.env.get("GRAFT_S3_SECRET_KEY"),
      sslEnabled: Boolean = sys.env.get("GRAFT_S3_SSL")
        .forall(v => v.equalsIgnoreCase("true") || v == "1")): SparkSession.Builder =
    endpoint.fold(b) { ep =>
      var c = b
        .config("spark.hadoop.fs.s3a.endpoint", ep)
        .config("spark.hadoop.fs.s3a.path.style.access", "true")
        .config("spark.hadoop.fs.s3a.connection.ssl.enabled",
          sslEnabled.toString)
        .config("spark.hadoop.fs.s3a.impl",
          "org.apache.hadoop.fs.s3a.S3AFileSystem")
        // v2 commit algorithm + ignore-cleanup-failures: task commits
        // rename directly to the destination, the pattern the reference
        // tuned for non-atomic-rename object stores
        // (`delta_datalake.py:25-26`). On Hadoop 3+ the S3A "magic"
        // committer is the stronger successor; v2 kept for parity.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
          "2")
        .config(
          "spark.hadoop.mapreduce.fileoutputcommitter.cleanup-failures.ignored",
          "true")
      accessKey.foreach(k =>
        c = c.config("spark.hadoop.fs.s3a.access.key", k))
      secretKey.foreach(k =>
        c = c.config("spark.hadoop.fs.s3a.secret.key", k))
      c
    }

  /** Dispatcher mirroring `get_spark_session(type)`
    * (`spark_session_factory.py:83-89`): pick the profile by name, fall back
    * to parquet when the format runtime is absent. Object-store config is
    * layered on when the GRAFT_S3_* env is present. */
  def get(profileName: String, appName: String = "graft"): SparkSession = {
    val p = profileName.toLowerCase match {
      case "delta"   => DeltaLake
      case "iceberg" => IcebergLake
      case _         => ParquetLake
    }
    withObjectStore(builder(appName, profile = p)).getOrCreate()
  }
}
