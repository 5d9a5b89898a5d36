package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.sketch.BloomFilter

import graft.sources.GraftLog

/** Persisted rolling NEAR-dup state — the LSH sibling of [[DedupState]]
  * (e19 holds exact digests; this holds MinHash BAND keys), closing the
  * last rolling-ingest gap: e17's incremental near-dup re-bands the
  * whole corpus per run, so its per-batch cost grows with history. Here
  * the corpus's banded signatures live as a transactional graft TABLE
  * and each batch probes + advances it in O(batch):
  *
  *   - **State rows** `(bk, band, doc_id, sig)` hive-partitioned by
  *     `bp = pmod(xxhash64(bk), B)`: `bk` is the raw band slice
  *     rendered as text (the e3 discipline — reproducible verbatim in
  *     the DuckDB oracle), `sig` is the doc's full MinHash signature
  *     carried ON the band row, so verification reads ONLY the pruned
  *     candidate partitions — never a second corpus-wide signature
  *     fetch. The trade is deliberate and scaladoc'd: bands× storage
  *     (64-perm sig × 16 bands ≈ 8 KB/doc) buys per-batch IO bounded
  *     by the CANDIDATE set; the alternative (one sig row per doc in a
  *     flat side table) pays an O(corpus) scan per batch — e18's exact
  *     mistake, transposed. B, the state's bucket count, is a power
  *     of two in [1, 64] sized once from the count of the first band
  *     rows (see [[bucketsFor]]) and recorded in the state's first
  *     commit; a state created before B was recorded keeps 64.
  *   - **Bloom sidecar over band keys** (the e19 mechanism, key =
  *     `bk`): per-batch membership gating is O(bloom bytes) + O(batch)
  *     hashing, zero state-file reads. Steady-state advance folds only
  *     the batch's novel keys by bitwise merge; a missing/stale
  *     sidecar rebuilds from a key-only state scan (the versioned CDF
  *     catch-up refinement applies verbatim — see
  *     [[DedupState.loadSidecar]]). Its meta also records
  *     `maxBandRows`, an upper bound on any band key's row count in
  *     the state: `init` and every rebuild set it exactly, and each
  *     advance and CDF catch-up raises it by the added rows' largest
  *     per-key count, in the same pass that folds their keys into the
  *     Bloom. It gates the hot-band probe (see [[prunedBandJoin]]).
  *   - **Verification = signature-estimated Jaccard** (matching
  *     positions / numPerm ≥ τ), the standard LSH-pipeline verify:
  *     exact shingle Jaccard would need the corpus TEXTS, which a
  *     rolling 100 TB pipeline cannot re-read per batch. The estimate
  *     is computed only for Bloom-positive, band-colliding pairs.
  *
  * Near-dup batch docs are NOT added to the state (a dedup pipeline
  * keeps one representative; e19 keeps the same rule for exact dups),
  * so state growth is bounded by the NOVEL corpus. The advance is one
  * idempotent ledger-stamped commit per batch — replay is a no-op. */
object NearDupState {

  private val AppId = "graft-neardup-state"
  private val NumPerm = 64
  private val Bands = 16
  private val Rows = NumPerm / Bands

  private def sidecarDir(state: String) = s"$state/_graft_sidecar"
  private def binPath(state: String, v: Long) =
    new HPath(sidecarDir(state), f"band-bloom-v$v%020d.bin")
  private def metaPath(state: String, v: Long) =
    new HPath(sidecarDir(state), f"band-bloom-v$v%020d.meta")
  private def fsOf(spark: SparkSession, state: String): FileSystem =
    new HPath(state).getFileSystem(spark.sessionState.newHadoopConf())

  /** Bucket count of a state created before [[BucketsProp]] existed,
    * and the most any state gets. */
  private val MaxBuckets = 64

  /** Bytes of one band row for sizing B: the 64-long signature plus
    * the band key text, doc id and band. */
  private val BandRowBytes = NumPerm * 8 + 64L

  /** `doc_id`, `sig` (full MinHash), exploded to one row per band with
    * the reproducible text band key: `(bk, band, doc_id, sig)`. */
  private def bandRows(docs: DataFrame, n: Int): DataFrame = {
    val base = docs
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
    val sigs = base.select(col("doc_id"),
      graft.functions.SketchExpressions
        .shingle_minhash(col("toks"), n, NumPerm).as("sig"))
    sigs.select(col("doc_id"), col("sig"),
        explode(array((0 until Bands).map { b =>
          struct(lit(b).as("band"),
            concat_ws(":", (lit(b.toString) +: (0 until Rows).map(r =>
              col("sig").getItem(b * Rows + r).cast("string"))): _*)
              .as("bk"))
        }: _*)).as("x"))
      .select(col("x.bk").as("bk"), col("x.band").as("band"),
        col("doc_id"), col("sig"))
  }

  /** `rows` (carrying `bk`) plus the hash-partition column
    * `bp = pmod(xxhash64(bk), buckets)`. Every writer and prober of a
    * state derives `bp` here, from the state's one bucket count. */
  private def withBucket(rows: DataFrame, buckets: Int): DataFrame =
    rows.withColumn("bp",
      pmod(xxhash64(col("bk")), lit(buckets.toLong)).cast("int"))

  private def banded(docs: DataFrame, n: Int, buckets: Int): DataFrame =
    withBucket(bandRows(docs, n), buckets)

  /** The banding projection at the bucket count of `state` (64 when no
    * state exists there yet), exposed for specs that simulate an
    * out-of-band writer landing state rows directly. */
  private[graft] def bandedForTest(docs: DataFrame, state: String)
      : DataFrame =
    banded(docs, 3,
      bucketsOf(docs.sparkSession, state).getOrElse(MaxBuckets))

  /** Table property recording the shingle width the state's band keys
    * were built with: [[erase]] derives its partition prune by
    * RE-BANDING the erased texts, and a prune computed at a different
    * width than the state's layout would silently miss band rows — the
    * state's own metadata, not a caller argument, must be the source
    * of truth (the [[DedupState]] prefixLen discipline). */
  private[graft] val ShingleWidthProp = "graft.neardup.shingleWidth"

  /** Table property recording the state's bucket count B, the modulus
    * of `bp`. Fixed at creation: a prune or probe computed with another
    * B would read the wrong partitions. */
  private[graft] val BucketsProp = "graft.neardup.buckets"

  /** Integer property `key` of `state`: None only when absent; any
    * other value that fails `valid` throws, naming both. */
  private def intProp(props: Map[String, String], key: String,
      state: String)(valid: Int => Boolean): Option[Int] =
    props.get(key).map { s =>
      s.trim.toIntOption.filter(valid).getOrElse(
        throw new IllegalStateException(
          s"near-dup state $state: invalid table property $key = '$s'"))
    }

  /** The persisted shingle width, None for a state created before the
    * property existed. */
  private def shingleWidthIn(props: Map[String, String], state: String)
      : Option[Int] =
    intProp(props, ShingleWidthProp, state)(_ > 0)

  /** The persisted bucket count; 64 for a state created before the
    * property existed. */
  private def bucketsIn(props: Map[String, String], state: String): Int =
    intProp(props, BucketsProp, state)(b =>
      b >= 1 && b <= MaxBuckets && Integer.bitCount(b) == 1)
      .getOrElse(MaxBuckets)

  /** B of the state at `state`; None when no state exists there. */
  private[graft] def bucketsOf(spark: SparkSession, state: String)
      : Option[Int] =
    GraftLog.logState(spark, state).map(st => bucketsIn(st.props, state))

  /** B for a new state of `rows` band rows: their size at
    * [[BandRowBytes]] each over
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, rounded up to a
    * power of two in [1, 64]. A state that outgrows its B keeps it (no
    * re-bucketing). */
  private[graft] def bucketsFor(spark: SparkSession, rows: Long): Int = {
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val want = ((rows * BandRowBytes + advisory - 1) / advisory)
      .min(MaxBuckets.toLong).toInt
    Iterator.iterate(1)(_ * 2).dropWhile(_ < want).next()
  }

  /** Properties a state carries from its first commit: the band layout
    * ([[erase]] prunes by it) and write-path compaction, which bounds
    * the per-dir file count of this rolling-ingest table (see
    * [[DedupState.init]]; compaction commits diff empty in CDF, so the
    * sidecar machinery is unaffected). */
  private def createProps(width: Int, buckets: Int): Map[String, String] =
    Map("graft.autoCompact" -> "true",
      "graft.autoCompact.minNumFiles" -> "8",
      ShingleWidthProp -> width.toString,
      BucketsProp -> buckets.toString)

  /** Seed the state from a corpus frame (`doc_id`, `text`) and persist
    * the v0 band-key Bloom sized 4x for growth headroom. */
  def init(spark: SparkSession, docs: DataFrame, state: String,
      n: Int = 3, fpp: Double = 0.01): Unit = {
    val rows = bandRows(docs, n)
    // sized from the doc count, an upper bound on the docs that band
    // (texts shorter than n shingles drop out)
    val buckets = bucketsFor(spark, docs.count() * Bands)
    // co-locate each bp dir's rows in one task before the hive write —
    // without this every task slivers a file into every dir (the t40
    // lesson)
    val v = GraftLog.overwritePartitioned(
      withBucket(rows, buckets).repartition(col("bp")), state, Seq("bp"),
      props = createProps(n, buckets))
    // row count from ledger stats (one band key per row, no DVs): one
    // key scan for the bloom and the band-row bound, zero count scans
    val cnt = GraftLog.metadataRowCount(spark, state)._1
    val expected = math.max(cnt * 4, 1024L)
    val keys = foldKeys(GraftLog.read(spark, state), expected, fpp)
    saveSidecar(spark, state, v, keys.bloom, expected, fpp, cnt,
      Some(keys.maxRows))
  }

  /** One pass over the `bk` column of `rows`: the band-key Bloom,
    * the number of distinct keys and the largest per-key row count. */
  private final case class KeyFold(bloom: BloomFilter, keys: Long,
      maxRows: Long)

  /** [[KeyFold]] of `rows` in ONE Spark job (the per-key counts shuffle
    * inside it). The Bloom is bit-identical to
    * `rows.stat.bloomFilter("bk", expected, fpp)`: the same
    * `bloom_filter_agg` buffer (items and bits clamped by the session's
    * runtime-filter limits) with each key's UTF-8 bytes put once — a
    * put is idempotent, so folding distinct keys sets the same bits. */
  private def foldKeys(rows: DataFrame, expected: Long, fpp: Double)
      : KeyFold = {
    val conf = rows.sparkSession.sessionState.conf
    val zero = BloomFilter.create(
      math.min(expected,
        conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)),
      math.min(BloomFilter.optimalNumOfBits(expected, fpp),
        conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)))
    rows.select("bk").queryExecution.toRdd
      .map(r => (r.getUTF8String(0).clone(), 1L))
      .reduceByKey(_ + _)
      .treeAggregate(KeyFold(zero, 0L, 0L))(
        (a, kn) => {
          a.bloom.putBinary(kn._1.getBytes)
          KeyFold(a.bloom, a.keys + 1, math.max(a.maxRows, kn._2))
        },
        (a, b) => KeyFold(a.bloom.mergeInPlace(b.bloom), a.keys + b.keys,
          math.max(a.maxRows, b.maxRows)))
  }

  private def saveSidecar(spark: SparkSession, state: String, v: Long,
      bloom: BloomFilter, expected: Long, fpp: Double,
      inserted: Long, maxBandRows: Option[Long]): Unit = {
    // atomic tmp+rename via the shared helper: a concurrent loader that
    // found the meta must never open a half-written bin
    val f = fsOf(spark, state)
    SidecarIO.write(f, sidecarDir(state),
      binPath(state, v), metaPath(state, v), bloom,
      s"expected=$expected\nfpp=$fpp\ninserted=$inserted\n" +
        maxBandRows.fold("")(m => s"$MaxBandRowsKey=$m\n"))
    SidecarIO.pruneSuperseded(f, sidecarDir(state), "band-bloom-v")
  }

  /** Sidecar meta field: an upper bound on any band key's row count in
    * the state at the sidecar's version (see [[prunedBandJoin]]). */
  private val MaxBandRowsKey = "maxBandRows"

  /** The band-key Bloom at `version`, with the state's bucket count
    * `buckets` read from the same log state. `maxBandRows` is None for
    * a sidecar written before the bound was recorded. */
  private[graft] final case class Sidecar(bloom: BloomFilter,
      version: Long, expected: Long, fpp: Double, inserted: Long,
      catchupVersions: Int, rebuilt: Boolean, buckets: Int,
      maxBandRows: Option[Long])

  /** Newest sidecar at-or-below the table version, reconciled: a
    * sidecar left behind the table (external writer, crashed save)
    * catches up by folding the CDF inserts' band keys of the missing
    * versions — a file-bounded read of just those commits' added
    * files, never a corpus scan (the [[DedupState.loadSidecar]]
    * mechanism, key = `bk`). Missing sidecar or over-capacity → one
    * key-only rebuild at 4x headroom. Reads the log once and lists
    * the sidecar directory once. */
  private[graft] def loadSidecar(spark: SparkSession, state: String)
      : Sidecar = {
    val st = GraftLog.logState(spark, state).getOrElse(
      throw new IllegalStateException(s"$state is not a graft table"))
    val (latest, buckets) = (st.version, bucketsIn(st.props, state))
    val f = fsOf(spark, state)
    val names: Set[String] =
      try f.listStatus(new HPath(sidecarDir(state)))
        .map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }
    val found: Option[Long] = names.collect {
        case nm if nm.startsWith("band-bloom-v") && nm.endsWith(".meta") =>
          nm.stripPrefix("band-bloom-v").stripSuffix(".meta").toLong
      }.filter(v => v <= latest && names(binPath(state, v).getName))
      .maxOption
    found match {
      case Some(v) =>
        val meta = new String(readAll(f, metaPath(state, v)), "UTF-8")
          .linesIterator.map(_.split('=')).collect {
            case Array(k, x) => k -> x }.toMap
        val expected = meta("expected").toLong
        val fpp = meta("fpp").toDouble
        var inserted = meta("inserted").toLong
        var maxBandRows = meta.get(MaxBandRowsKey).map(_.toLong)
        val in = f.open(binPath(state, v))
        val bloom = try BloomFilter.readFrom(in) finally in.close()
        val missing = st.stamps.keys.count(x => x > v && x <= latest)
        if (missing > 0) {
          // fold only the missing commits' inserted band keys (rows
          // are unique by (bk, doc_id); rewrite-only commits diff
          // empty, so OPTIMIZE between sidecar saves is invisible);
          // the bound rises by the inserts' largest per-key count
          val catchup = foldKeys(spark.read.format("graft")
            .option("readChangeFeed", "true")
            .option("cdfKeys", "bk,doc_id")
            .option("startingVersion", v + 1)
            .option("endingVersion", latest)
            .load(state)
            .filter(col("_change_type") === "insert"), expected, fpp)
          if (inserted + catchup.keys > expected)
            return rebuild(spark, state, latest, buckets)
          if (catchup.keys > 0) bloom.mergeInPlace(catchup.bloom)
          inserted += catchup.keys
          maxBandRows = maxBandRows.map(_ + catchup.maxRows)
          saveSidecar(spark, state, latest, bloom, expected, fpp,
            inserted, maxBandRows)
        }
        Sidecar(bloom, latest, expected, fpp, inserted,
          missing, rebuilt = false, buckets, maxBandRows)
      case None => rebuild(spark, state, latest, buckets)
    }
  }

  /** One key-only corpus scan, 4x headroom — the bootstrap/overflow
    * path, never the steady state. */
  private def rebuild(spark: SparkSession, state: String, latest: Long,
      buckets: Int): Sidecar = {
    // ledger-stats row count: the re-mint pays one key scan, not two;
    // the scan also resets the band-row bound to the exact maximum
    val cnt = GraftLog.metadataRowCount(spark, state)._1
    val expected = math.max(cnt * 4, 1024L)
    val keys = foldKeys(GraftLog.read(spark, state), expected, 0.01)
    saveSidecar(spark, state, latest, keys.bloom, expected, 0.01, cnt,
      Some(keys.maxRows))
    Sidecar(keys.bloom, latest, expected, 0.01, cnt, 0, rebuilt = true,
      buckets, Some(keys.maxRows))
  }

  private def readAll(f: FileSystem, p: HPath): Array[Byte] = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var r = in.read(buf)
      while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Signature-estimated Jaccard: matching positions / numPerm. */
  private def sigEst(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        when(x === y, lit(1)).otherwise(lit(0))),
      lit(0), (acc, x) => acc + x).cast("double") / lit(NumPerm)

  /** Bloom-gated, partition-pruned, hot-band-salted join of a banded
    * batch frame against the persisted band index: one row per
    * state×batch band-key match, `(bk, doc_a, sig_a, doc_b, sig_b)`
    * with the `_a` side from STATE. `b` needs columns
    * (bk, doc_id, sig); its `bp` is derived here at the state's B
    * (`sc.buckets`). The pair set is IDENTICAL to the unpruned,
    * unsalted join: the Bloom admits every present key (reconciled
    * sidecars have no false negatives; a false positive costs one
    * pruned lookup), `bp` pruning keeps every partition a matching key
    * lives in (bp is a function of bk), and the salted hot-band path
    * meets each state×batch pair on exactly one salt. Shared by
    * [[probeAndAdvance]] and the e23 incremental pipeline.
    *
    * Spark actions before the join runs: the `bp` collect, only when
    * B > 1 (at B = 1 every key lives in bp 0), and the hot-band probe,
    * only when the sidecar's `maxBandRows` exceeds `hotBandThreshold`
    * or is unknown. The bound is exact as a gate: a key's row count
    * grows only through the writers that raise the bound, so a bound
    * at or below the threshold means the probe would find no hot key.
    * A state advanced concurrently after the sidecar loaded can hold
    * more rows than the bound; the pair set stays identical, only the
    * salting is skipped. */
  private[graft] def prunedBandJoin(spark: SparkSession, state: String,
      sc: Sidecar, b: DataFrame, hotBandThreshold: Int = 256,
      saltBuckets: Int = 16): DataFrame = {
    val bBloom = spark.sparkContext.broadcast(sc.bloom)
    val mightContain =
      udf((k: String) => bBloom.value.mightContainString(k))
    val probeHot = sc.maxBandRows.forall(_ > hotBandThreshold)
    // Bloom gate: only band keys the state MIGHT contain become
    // candidates (exact band equality is re-checked by the join below);
    // cached only when a second consumer (bp collect, hot path) reads it
    val cand0 = withBucket(b, sc.buckets).filter(mightContain(col("bk")))
      .select(col("bk"), col("bp"), col("doc_id").as("doc_b"),
        col("sig").as("sig_b"))
    val cand =
      if (sc.buckets > 1 || probeHot)
        cand0.transform(graft.CacheScope.tracked)
      else cand0
    val bps =
      if (sc.buckets == 1) Seq(0)
      else cand.select("bp").distinct().collect().map(_.getInt(0)).toSeq
    // NOT cached: the pruned state side carries the 64-long signature
    // arrays, and materializing them into the cache costs more than
    // the one extra column-pruned parquet read the (rare) hot path
    // pays — the common no-hot path reads these partitions exactly
    // once either way (round-16 e23 shave).
    def stateSide = GraftLog.read(spark, state)
      .filter(col("bp").isin(bps: _*)) // static partition pruning
      .select(col("bk"), col("doc_id").as("doc_a"),
        col("sig").as("sig_a"))
    // HOT-BAND detection: one viral boilerplate string gives many
    // state docs the SAME band key, and an unsalted bk join puts
    // |state ∩ bk| × |batch ∩ bk| verify work in one key group. Band
    // keys above the threshold (counted over the PRUNED candidate
    // partitions only, via a KEY-ONLY column-pruned scan — cheap)
    // verify through a SALTED (bk, salt) join instead: state rows
    // salted by doc hash, candidate rows replicated across all
    // salts — the IDENTICAL pair set (each state×cand pair meets on
    // exactly one salt), with every join group bounded by
    // ~hotBandThreshold/saltBuckets state rows. j7's skew-join
    // discipline applied to the LSH band index.
    lazy val hotKeys = GraftLog.read(spark, state)
      .filter(col("bp").isin(bps: _*))
      .select(col("bk"))
      .groupBy(col("bk"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotBandThreshold)
      .select(col("bk"))
      .transform(graft.CacheScope.tracked)
    if (!probeHot || hotKeys.limit(1).count() == 0)
      stateSide.join(broadcast(cand), Seq("bk"))
    else {
      val cold = stateSide
        .join(broadcast(hotKeys), Seq("bk"), "left_anti")
        .join(broadcast(cand), Seq("bk"))
      val hotState = stateSide
        .join(broadcast(hotKeys), Seq("bk"), "left_semi")
        .withColumn("__salt",
          pmod(xxhash64(col("doc_a")), lit(saltBuckets.toLong))
            .cast("int"))
      val hotCand = cand
        .join(broadcast(hotKeys), Seq("bk"), "left_semi")
        .withColumn("__salt",
          explode(array((0 until saltBuckets).map(lit(_)): _*)))
      cold.unionByName(
        hotState.join(hotCand, Seq("bk", "__salt")).drop("__salt"))
    }
  }

  /** Ledger-stamped state advance: append `kept` band rows (any frame
    * carrying `bk`; `bp` is derived here) under (appId, batchId) and
    * roll the band-key Bloom sidecar forward. `sc = None` means a fresh
    * state (first wave): B is sized from the kept row count, and the
    * commit creates the bp-partitioned layout with its properties (B,
    * `shingleWidth`, write-path compaction) in that same first commit
    * — a state another writer created first must record the same ones,
    * or the append throws — and the sidecar bootstraps from the
    * (batch-sized) key frame. In steady state the kept rows are never
    * counted: their number comes from the row counts in the append
    * commit's file stats, and one pass over their keys gives the Bloom
    * merge and the rise of the sidecar's band-row bound (their largest
    * per-key count). A ledger-rejected commit leaves the sidecar
    * untouched. */
  private[graft] def advance(spark: SparkSession, state: String,
      sc: Option[Sidecar], kept: DataFrame, appId: String,
      batchId: Long, fpp: Double = 0.01,
      shingleWidth: Int = 3, likelyReplay: Boolean = false): Unit = {
    // replay fast path: a re-delivered batch's commit is ledger-rejected
    // INSIDE txnAppendPartitioned anyway, but only after this method has
    // materialized + counted the kept frame — work the rejected commit
    // throws away. The ledger probe is itself a (small) log read, so it
    // runs only when the CALLER already saw this batch's verdicts in its
    // own ledger (`likelyReplay`) — the crash window (verdicts landed,
    // state advance did not) still falls through to the full path.
    if (likelyReplay && GraftLog.lastCommittedBatch(spark, state, appId)
        .exists(_ >= batchId)) return
    // the sig-heavy kept frame does NOT round-trip the block store
    // just to be written once — the write recomputes it from its
    // (already cached/anchored) parent, trading one cheap anti-join/
    // projection re-run for storing + re-reading 16 copies of every
    // signature. A fresh state caches its (tiny) key frame: the count
    // that sizes B and the sidecar's key pass both read it.
    val fresh = sc.isEmpty
    val keptKeys =
      if (fresh) kept.select("bk").transform(graft.CacheScope.tracked)
      else kept.select("bk")
    lazy val nFresh = keptKeys.count()
    val buckets = sc.fold(bucketsFor(spark, nFresh))(_.buckets)
    val committed = GraftLog.txnAppendPartitioned(
      withBucket(kept, buckets).repartition(col("bp")), // one writer per dir
      state, appId, batchId, Seq("bp"),
      createProps = if (fresh) createProps(shingleWidth, buckets)
        else Map.empty)
    if (!committed) return
    val st = GraftLog.logState(spark, state).get
    val v = st.version
    sc match {
      case None =>
        // fresh state: the just-committed kept frame IS the state —
        // build the v0 sidecar from the (cached) key frame instead of
        // a read-back rebuild scan
        val expected = math.max(nFresh * 4, 1024L)
        val keys = foldKeys(keptKeys, expected, fpp)
        saveSidecar(spark, state, v, keys.bloom, expected, fpp, nFresh,
          Some(keys.maxRows))
      case Some(s) if v != s.version + 1 =>
        // a concurrent writer interleaved between our sidecar load
        // and our append — the local bitset misses its band keys
        // (false negatives → missed near-dups). Reconcile via the
        // load path: this module's lean form rebuilds key-only at
        // the current version (the rare race, never steady state).
        loadSidecar(spark, state): Unit
      case Some(s) =>
        // version v is this append's commit: its file stats count the
        // kept rows (the sidecar's `inserted` counts rows, as before)
        val nKept = GraftLog.addedRows(st.last).getOrElse(kept.count())
        if (nKept == 0)
          // the ledger commit advanced the table with zero new keys —
          // re-stamp the unchanged bitset at the new version so the
          // next load stays steady-state
          saveSidecar(spark, state, v, s.bloom, s.expected, s.fpp,
            s.inserted, s.maxBandRows)
        else if (s.inserted + nKept > s.expected) {
          // ledger-stats row count: one key scan (the bloom and the
          // exact band-row bound), not two
          val cnt = GraftLog.metadataRowCount(spark, state)._1
          val expected = math.max(cnt * 4, 1024L)
          val keys = foldKeys(GraftLog.read(spark, state), expected, s.fpp)
          saveSidecar(spark, state, v, keys.bloom, expected, s.fpp, cnt,
            Some(keys.maxRows))
        } else {
          val keys = foldKeys(keptKeys, s.expected, s.fpp)
          s.bloom.mergeInPlace(keys.bloom)
          saveSidecar(spark, state, v, s.bloom, s.expected, s.fpp,
            s.inserted + nKept, s.maxBandRows.map(_ + keys.maxRows))
        }
    }
  }

  /** One rolling step: near-dup verdicts for `batch` (`doc_id`,
    * `text`) against the CURRENT state, then the state advances by the
    * non-duplicate docs' band rows in one ledger-stamped commit and
    * the sidecar rolls forward by bitwise merge. Per-batch cost:
    * sidecar IO + batch banding + candidate-partition-pruned verify +
    * O(kept) append. The Spark actions of a steady-state batch with a
    * verdict table, at B = 1 and a band-row bound at or below
    * `hotBandThreshold`:
    *   - the verdict write (its ledger-stamped commit materializes the
    *     cached verdicts before the state advances);
    *   - the state append: the partitioned write and its per-file stats;
    *   - the Bloom fold: one job over the kept keys that merges the
    *     sidecar and raises its band-row bound.
    * A state with B > 1 adds the `bp` collect; a bound above the
    * threshold (or a sidecar written before the bound existed) adds
    * the hot-band probe; no verdict table, a replay or a ledger-rejected
    * verdict write adds a count of the verdicts. The bound only grows
    * between rebuilds: a long run with no erase can lift it past the
    * threshold, and the probe then runs until the next rebuild
    * ([[erase]], or a sidecar over capacity) resets it.
    *
    * Multi-writer contract: the (appId, batchId) ledger is MONOTONIC
    * per appId — concurrent writers carry their own `appId`.
    * Interleaved commits reconcile on the save path (version check
    * below; [[DedupState.probeAndAdvance]] has the same guard).
    *
    * `verdictTable`: when set, verdicts land in that graft table as a
    * ledger-stamped (appId, batchId) commit BEFORE the state advances —
    * the streaming exactly-once seam. Order matters: a crash-window
    * re-delivery probes a state the original delivery already advanced,
    * so recomputed verdicts would flag the batch against its own band
    * rows; persisting first makes the verdict ledger the gate, and a
    * re-delivered batch REREADS its persisted verdicts (then re-attempts
    * the state advance, which the state ledger no-ops if it landed).
    * With a verdict table the returned frame reads the batch's rows
    * from it, and every frame the batch cached is released before the
    * return; without one the returned verdicts stay cached (release
    * them with [[graft.CacheScope.withScope]]). */
  def probeAndAdvance(spark: SparkSession, state: String,
      batch: DataFrame, batchId: Long, n: Int = 3,
      threshold: Double = 0.5, appId: String = AppId,
      verdictTable: Option[String] = None,
      hotBandThreshold: Int = 256, saltBuckets: Int = 16): DataFrame =
    verdictTable match {
      case Some(t) =>
        // left cached, each batch's frames and their plans would stay
        // on the heap for the life of the session
        graft.CacheScope.withScope(admit(spark, state, batch, batchId, n,
          threshold, appId, verdictTable, hotBandThreshold,
          saltBuckets)): Unit
        GraftLog.read(spark, t).filter(col("batch_id") === batchId)
      case None =>
        admit(spark, state, batch, batchId, n, threshold, appId, None,
          hotBandThreshold, saltBuckets)
    }

  /** [[probeAndAdvance]]'s work; returns the batch's cached verdicts. */
  private def admit(spark: SparkSession, state: String,
      batch: DataFrame, batchId: Long, n: Int, threshold: Double,
      appId: String, verdictTable: Option[String],
      hotBandThreshold: Int, saltBuckets: Int): DataFrame = {
    val sc = loadSidecar(spark, state)
    val b = bandRows(batch, n).transform(graft.CacheScope.tracked)
    val replayed = verdictTable.exists(t =>
      GraftLog.lastCommittedBatch(spark, t, appId).exists(_ >= batchId))
    val verdicts = (if (replayed)
      GraftLog.read(spark, verdictTable.get)
        .filter(col("batch_id") === batchId)
    else {
      val joined = prunedBandJoin(spark, state, sc, b,
          hotBandThreshold, saltBuckets)
        .select(col("bk"), col("doc_a").as("doc_c"),
          col("sig_a").as("sig_c"), col("doc_b"), col("sig_b"))
      val verified = joined
        .withColumn("est", sigEst(col("sig_b"), col("sig_c")))
        .filter(col("est") >= threshold)
        .groupBy(col("doc_b").as("doc_id"))
        .agg(countDistinct(col("doc_c")).as("n_near_dups"),
          round(max(col("est")), 6).as("best_sim"))
      batch.select(col("doc_id"))
        .join(verified.withColumn("__hit", lit(true)), Seq("doc_id"), "left")
        .select(lit(batchId).as("batch_id"), col("doc_id"),
          coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
          col("best_sim"),
          coalesce(col("__hit"), lit(false)).as("is_near_dup"))
    }).transform(graft.CacheScope.tracked)
    // the cached verdicts must be materialized before the advance below
    // (recomputed after it, they would flag the batch against its own
    // band rows): the verdict write does that; otherwise a count does
    val written = !replayed && verdictTable.exists(t =>
      GraftLog.txnAppend(verdicts, t, appId, batchId))
    if (!written) verdicts.count(): Unit
    val kept = b.join(
        verdicts.filter(col("is_near_dup")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select("bk", "band", "doc_id", "sig")
    advance(spark, state, Some(sc), kept, appId, batchId,
      sc.fpp, likelyReplay = replayed)
    verdicts
  }

  /** GDPR erasure through the rolling near-dup state: delete every band
    * row of the given docs in ONE transactional commit, then RE-MINT the
    * band-key Bloom sidecar from the surviving state. Without this, an
    * erased document's MinHash signature lives on in its band rows —
    * retained derived data (signatures reconstruct similarity structure)
    * — and its band keys keep flagging future near-identical text
    * against a document the corpus no longer holds.
    *
    * Band keys SHARED with surviving docs stay in the re-minted sidecar
    * (they are the survivors' data); keys unique to the erased docs
    * vanish. Pass `texts` (doc_id, text) when available: the erased
    * docs' band rows live only in their band keys' `bp` partitions, so
    * banding the texts yields a static partition prune for the
    * touched-file probe — without it the probe is one key-semi-joined
    * scan (file rewrite stays bounded to touched files either way).
    * The prune is applied at the SHINGLE WIDTH and bucket count the
    * state persisted in its first commit (never a caller-supplied
    * width — a mismatched width or B computes the wrong partitions and
    * would silently retain band rows), and only when `texts` covers
    * every erased doc id: an uncovered id's partitions are unknown, so
    * the probe falls back to the unpruned key semi-join rather than
    * miss its rows. A one-bucket state (B = 1) has nothing to prune and
    * skips both the coverage check and the partition collect. The
    * sidecar re-mint is a key-only state scan — the compliance path
    * pays O(state) once per erasure batch, never per ingest batch —
    * and resets the band-row bound to the exact maximum.
    * Re-erasing already-erased docs rewrites nothing. Returns the
    * delete commit version. */
  def erase(spark: SparkSession, state: String, docIds: DataFrame,
      texts: Option[DataFrame] = None, n: Int = 3): Long =
      graft.CacheScope.withScope { // releases the cached id frame
    val keys = docIds.select(col("doc_id")).distinct()
      .transform(graft.CacheScope.tracked)
    val props = GraftLog.logState(spark, state)
      .fold(Map.empty[String, String])(_.props)
    val width = shingleWidthIn(props, state).getOrElse(n)
    val buckets = bucketsIn(props, state)
    // at B = 1 every band row lives in bp 0: there is nothing to prune
    val prune = if (buckets == 1) None else texts.filter { t =>
      // coverage gate: every erased id must appear in texts, or the
      // texts-derived partition set may omit partitions holding the
      // uncovered ids' band rows — a silent retention, the one failure
      // mode a compliance path can never have
      keys.join(t.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .limit(1).count() == 0
    }.map { t =>
      // bp is a pure function of bk (at the state's B), which is a pure
      // function of the text (at the state's persisted shingle width) —
      // the banding projection reproduces exactly the partitions the
      // doc's state rows landed in. Metadata-sized collect (≤ B).
      val bps = banded(t, width, buckets).select("bp").distinct()
        .collect().map(_.getInt(0)).toSeq
      col("bp").isin(bps: _*)
    }
    val v = GraftLog.deleteMatching(spark, state,
      keys, Seq("doc_id"), prune = prune)
    // no-op delete (re-erase of already-erased docs): the state is
    // bit-identical, skip the O(state) sidecar re-mint — the next
    // loadSidecar catch-up folds the empty delete diff for free
    if (GraftLog.removedFilesAt(spark, state, v) > 0)
      rebuild(spark, state,
        GraftLog.latestVersion(spark, state).getOrElse(v), buckets): Unit
    v
  }

  /** e20 — the registered-query form: e19's two-batch replay shape
    * (corpus seed, then two batches carrying twins of EARLIER novel
    * docs) with NEAR-dup verdicts. Batch 2's twins duplicate batch 1's
    * novel documents, proving the state advanced between batches; batch
    * 1's twins duplicate the seed corpus. Twins share their source's
    * exact text → signature similarity 1.0, comfortably over τ; the
    * oracle replays the full MinHash/band/estimate pipeline in SQL. */
  def nearDupStateRolling(spark: SparkSession, sfDir: String,
      split: Long = 300, split2: Long = 450): DataFrame = {
    val docs = graft.sources.Sources.testTable(spark, sfDir, "documents")
    val state = graft.sources.Staging.scratchDir("graft_ndstate_") +
      "/bands"
    init(spark, docs.filter(col("doc_id") < split), state)
    val b1 = docs.filter(col("doc_id") >= split && col("doc_id") < split2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") < split && col("doc_id") % 9 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val b2 = docs.filter(col("doc_id") >= split2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") >= split && col("doc_id") < split2 &&
          col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val v1 = probeAndAdvance(spark, state, b1, 0L)
    val v2 = probeAndAdvance(spark, state, b2, 1L)
    v1.unionByName(v2)
  }

  /** i30 — e20 under STREAMING admission: the rolling near-dup state
    * fed by a checkpointed file stream (the Auto-Loader ingest shape).
    * Waves land as parquet files; each micro-batch probes + advances
    * through [[probeAndAdvance]] with the verdicts persisted FIRST as a
    * ledger-stamped commit (see the verdictTable contract there), so
    * exactly-once holds across the kill/resume between the waves AND
    * the crash-window re-delivery this query replays out-of-band after
    * the final drain: both ledgers reject it, pinned by `replay_noop`.
    * Same doc phasing — and the same full-MinHash-replay oracle — as
    * e20; the transport changes, the verdicts cannot. */
  def nearDupStreamIngest(spark: SparkSession, sfDir: String,
      split: Long = 300, split2: Long = 450): DataFrame = {
    val docs = graft.sources.Sources.testTable(spark, sfDir, "documents")
    val root = graft.sources.Staging.scratchDir("graft_ndstream_")
    val (in, state, verd, ckpt) =
      (s"$root/in", s"$root/bands", s"$root/verdicts", s"$root/ckpt")
    init(spark, docs.filter(col("doc_id") < split), state)
    val appId = "graft-neardup-stream"
    val b1 = docs.filter(col("doc_id") >= split && col("doc_id") < split2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") < split && col("doc_id") % 9 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val b2 = docs.filter(col("doc_id") >= split2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") >= split && col("doc_id") < split2 &&
          col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    def land(df: DataFrame): Unit =
      df.coalesce(2).write.mode("append").parquet(in)
    // schema inferred once (first drain) — identical files land later
    lazy val inSchema = spark.read.parquet(in).schema
    def drain(): Unit = {
      val q = spark.readStream.schema(inSchema).parquet(in)
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          probeAndAdvance(spark, state, batch, bid, appId = appId,
            verdictTable = Some(verd)).count(): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    land(b1); drain() // wave 1 = micro-batch 0, then "kill"
    drain()           // restart with nothing new: must be a no-op
    land(b2); drain() // resume picks up ONLY wave 2 = micro-batch 1
    // crash-window re-delivery of the last batch, out-of-band: the
    // verdict ledger re-serves batch 1's persisted verdicts and the
    // state ledger rejects the advance — nothing moves
    val (vs, vv) = (GraftLog.latestVersion(spark, state),
      GraftLog.latestVersion(spark, verd))
    probeAndAdvance(spark, state, b2, 1L, appId = appId,
      verdictTable = Some(verd)).count()
    val noop = GraftLog.latestVersion(spark, state) == vs &&
      GraftLog.latestVersion(spark, verd) == vv
    GraftLog.read(spark, verd)
      .select(col("batch_id"), col("doc_id"), col("n_near_dups"),
        col("best_sim"), col("is_near_dup"))
      .withColumn("replay_noop", lit(noop))
  }

  /** i34 — GDPR erasure composed with STREAMING admission: i30's
    * checkpointed file-stream ingest with an [[erase]] commit landing
    * BETWEEN micro-batches. The stream's next batch probes the
    * re-minted sidecar exactly-once: twins of the erased seed docs no
    * longer flag (their band rows and sidecar bits are gone — batch 2
    * admits them fresh), twins of untouched docs keep flagging, and
    * the out-of-band crash-window re-delivery after the final drain is
    * still rejected by BOTH ledgers even though the erase advanced the
    * state table's version between the batches (the (appId, batchId)
    * ledger is keyed by writer identity, not table version — pinned by
    * `replay_noop`). Same full-MinHash-replay oracle as e20/i30 with
    * batch 2's state membership minus the erased docs. */
  def nearDupStreamErasure(spark: SparkSession, sfDir: String,
      split: Long = 300, split2: Long = 450): DataFrame = {
    val docs = graft.sources.Sources.testTable(spark, sfDir, "documents")
    val root = graft.sources.Staging.scratchDir("graft_ndserase_")
    val (in, state, verd, ckpt) =
      (s"$root/in", s"$root/bands", s"$root/verdicts", s"$root/ckpt")
    init(spark, docs.filter(col("doc_id") < split), state)
    val appId = "graft-neardup-stream-erase"
    val b1 = docs.filter(col("doc_id") >= split && col("doc_id") < split2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") < split && col("doc_id") % 9 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    // batch 2 carries, on top of i30's phasing, twins of the ERASED
    // seed docs: without the erase they would flag sim 1.0 — admitted
    // fresh is the pin that the stream saw the post-erase state
    val b2 = docs.filter(col("doc_id") >= split2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") >= split && col("doc_id") < split2 &&
          col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(docs
        .filter(col("doc_id") < split && col("doc_id") % 9 === 1)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
    def land(df: DataFrame): Unit =
      df.coalesce(2).write.mode("append").parquet(in)
    // schema inferred once (first drain) — identical files land later
    lazy val inSchema = spark.read.parquet(in).schema
    def drain(): Unit = {
      val q = spark.readStream.schema(inSchema).parquet(in)
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          probeAndAdvance(spark, state, batch, bid, appId = appId,
            verdictTable = Some(verd)).count(): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    land(b1); drain() // wave 1 = micro-batch 0
    // the GDPR request lands BETWEEN micro-batches: every %9==1 seed
    // doc is forgotten — file-pruned band delete + sidecar re-mint,
    // while the stream's checkpoint and both ledgers stay untouched
    val subjects = docs
      .filter(col("doc_id") < split && col("doc_id") % 9 === 1)
      .select(col("doc_id"), col("text"))
    erase(spark, state, subjects.select("doc_id"),
      texts = Some(subjects)): Unit
    land(b2); drain() // wave 2 = micro-batch 1, post-erase state
    // crash-window re-delivery across the erase commit: both ledgers
    // reject — the erase moved the table version, never the ledgers
    val (vs, vv) = (GraftLog.latestVersion(spark, state),
      GraftLog.latestVersion(spark, verd))
    probeAndAdvance(spark, state, b2, 1L, appId = appId,
      verdictTable = Some(verd)).count()
    val noop = GraftLog.latestVersion(spark, state) == vs &&
      GraftLog.latestVersion(spark, verd) == vv
    GraftLog.read(spark, verd)
      .select(col("batch_id"), col("doc_id"), col("n_near_dups"),
        col("best_sim"), col("is_near_dup"))
      .withColumn("replay_noop", lit(noop))
  }
}
