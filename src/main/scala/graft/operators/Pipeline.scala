package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{GraftLog, Sources, Staging}

/** e22/e23 — the TRAINING-DATA PIPELINE composed end-to-end across the
  * lake and LLM tiers, the staged run SURVEY §0's "training-data
  * pipeline" describes: INGEST (three commits into a graft bronze
  * table) → EXACT DEDUP (digest shuffle, first-occurrence winner) →
  * NEAR-DUP (MinHash 64-perm / 16-band LSH candidates,
  * signature-estimate verify, drop the younger of each pair) → QUALITY
  * GATE (the g2/g20 score) → MIXTURE SAMPLE (per-language content-hash
  * permille, g15) → SEQUENCE PACK (per-language 512-token bins, g16,
  * via the distributed prefix sum). Every stage is individually
  * oracle-checked elsewhere (d-queries, e1, e3/e20, g2, g15, g16);
  * e22 pins their COMPOSITION as one batch, e23 pins the SAME
  * composition run INCREMENTALLY over arriving commits — each stage's
  * surviving row count carried as an audit column, the per-stage
  * accounting a production curation run reports.
  *
  * The corpus is the documents table plus two deterministic injected
  * waves: exact twins (doc_id+10000 for %9 keys — caught by stage 1)
  * and near twins (doc_id+20000 for %7 keys with a 4-token suffix —
  * same shingle mass, caught by stage 2's LSH where long enough). A
  * pipeline whose dedup stages provably drop nothing would pin nothing.
  *
  * Dataflow at 100 TB (and why no stage recomputes a prior one): each
  * stage's output is consumed at least twice — once by the audit count,
  * once downstream (the signature frame three times: two band-join
  * sides + verification) — so every seam is persisted via CacheScope
  * (released when the query's scope drains). Stage costs: exact dedup
  * shuffles 32-byte digests; LSH candidates come from an equi-join on
  * band keys (never all-pairs) with verification confined to candidate
  * pairs; the quality/mixture gates are one codegen'd projection each
  * (zero exchanges); the pack is the PrefixSum distributed running sum
  * (range partition + broadcast offsets — no per-language task).
  * Reference anchor: the medallion chain
  * (`mage_demo/custom/financial_dl_etl.py`) runs bronze→silver→gold
  * the same way — this is that shape for LLM data curation. */
object Pipeline {

  private val Bands = 16
  private val Rows = 4

  /** MinHash signatures over the 3-token shingles of `docs` — one
    * (doc_id, sig) row per doc with ≥ 3 tokens. */
  private def minhashSigs(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
    .filter(size(col("toks")) >= 3)
    .select(col("doc_id"), graft.functions.SketchExpressions
      .shingle_minhash(col("toks"), 3, Bands * Rows).as("sig"))

  /** `bk`: the band id plus its signature slice joined injectively —
    * band equality as ONE equi-join key, so a persisted band index and
    * an in-flight batch join identically. One exploded row per band. */
  private def bkCol: org.apache.spark.sql.Column =
    explode(array((0 until Bands).map { b =>
      concat_ws(":", (lit(b) +: (0 until Rows).map(r =>
        col("sig").getItem(b * Rows + r))): _*)
    }: _*)).as("bk")

  /** One row per (doc, band). */
  private def bandFrame(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), bkCol)

  /** Signature-estimated Jaccard for a pair of signature arrays —
    * ONE expression shared by the batch and incremental paths, so the
    * two runs' verify filters are bit-identical. */
  private def sigEstCol(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") /
      lit(Bands * Rows * 1.0)

  /** Verified near-dup drops among `cand` (doc_a < doc_b) pairs:
    * signature-estimated Jaccard ≥ 0.5 drops the LARGER id
    * (first-occurrence keeps, the e3/e20 discipline). */
  private def verifiedDrops(cand: DataFrame, allSigs: DataFrame)
      : DataFrame = cand
    .join(allSigs.select(col("doc_id").as("doc_a"),
      col("sig").as("sig_a")), Seq("doc_a"))
    .join(allSigs.select(col("doc_id").as("doc_b"),
      col("sig").as("sig_b")), Seq("doc_b"))
    .withColumn("est", sigEstCol(col("sig_a"), col("sig_b")))
    .filter(col("est") >= 0.5)
    .select(col("doc_b").as("doc_id")).distinct()

  /** [[bandFrame]] carrying the signature — the rows the persisted
    * band index `stBand` stores and probes. [[NearDupState]] derives
    * their partition key `bp = pmod(xxhash64(bk), B)` from the state's
    * one bucket count B, sized when the first advance creates it. */
  private def bandFrameSig(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"), bkCol)

  /** The g20 quality score as one codegen'd projection: keeps
    * (doc_id, lang, text, n_tokens, quality_score) plus any `keep`
    * pass-through columns (the curated pipeline carries `source`
    * through to the cap stage this way — no re-join). */
  private def scoreQuality(docs: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val toked = docs.select(col("doc_id") +: col("lang") +:
      col("text") +: split(lower(col("text")), " ").as("toks") +:
      keep.map(col): _*)
    val cntEn = size(filter(col("toks"),
      t => TextAnalysis.markers("en").map(t === lit(_)).reduce(_ || _)))
    val scored = toked.select(col("doc_id") +: col("lang") +:
      col("text") +: size(col("toks")).as("n_tokens") +:
      aggregate(transform(col("toks"), t => length(t)),
        lit(0), (a, x) => a + x).as("sum_len") +:
      cntEn.as("cnt_en") +: keep.map(col): _*)
    val stopR = col("cnt_en").cast("double") /
      col("n_tokens").cast("double")
    val lenSat =
      least(col("n_tokens").cast("double") / lit(100.0), lit(1.0))
    val avgLen = col("sum_len").cast("double") /
      col("n_tokens").cast("double")
    val lenShape = greatest(
      lit(1.0) - abs(avgLen - lit(5.0)) / lit(10.0), lit(0.0))
    scored.withColumn("quality_score",
        round(lit(0.5) * stopR + lit(0.3) * lenSat +
          lit(0.2) * lenShape, 6))
      .drop("sum_len", "cnt_en")
  }

  /** g15 mixture sample: per-language content-hash permille —
    * deterministic, engine-portable, no rand(). Keeps
    * (doc_id, lang, n_tokens). */
  private def mixtureSample(qualKept: DataFrame): DataFrame = {
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
      .cast("long") % 1000
    val permille = TextAnalysis.mixturePermille.foldLeft(lit(0)) {
      case (acc, (l, p)) => when(col("lang") === l, lit(p)).otherwise(acc)
    }
    qualKept.filter(bucket < permille)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
  }

  /** Stage the e22/e23 bronze table: the corpus plus the two injected
    * twin waves, three commits (v0 overwrite, v1/v2 appends). */
  private def stageBronze(spark: SparkSession, sfDir: String,
      bronze: String): Unit = {
    val base = Sources.testTable(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    GraftLog.overwrite(base, bronze)                               // v0
    stageTwinWaves(spark, sfDir, bronze)                        // v1,v2
  }

  /** The two injected twin-wave appends (shared by [[stageBronze]] and
    * e27's clone-based private staging). */
  private def stageTwinWaves(spark: SparkSession, sfDir: String,
      bronze: String): Unit = {
    val base = Sources.testTable(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    GraftLog.append(base.filter(col("doc_id") % 9 === 0)
      .withColumn("doc_id", col("doc_id") + 10000L), bronze)       // v1
    GraftLog.append(base.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 20000L)
      .withColumn("text",
        concat(col("text"), lit(" pipeline near twin suffix"))),
      bronze)                                                      // v2
  }

  /** Memoized bronze staging (once per (sfDir) per JVM): the corpus +
    * twin waves land as v0/v1/v2 exactly once, and every LATER
    * pipeline query in the same JVM reads the same three commits —
    * the staging was round 16's dominant steady-state constant (three
    * full-corpus commits per query at sf0.1), and the bronze table is
    * READ-ONLY to the pipelines (each run's state root is fresh), so
    * sharing it is the f15/i32 fingerprint-keyed scratch pattern.
    * e27 stages its own PRIVATE copy — it appends a post-erase wave. */
  private val bronzeMemo =
    new scala.collection.concurrent.TrieMap[String, String]
  private def stagedBronze(spark: SparkSession, sfDir: String): String =
    bronzeMemo.getOrElseUpdate(sfDir, {
      val b = Staging.dir(sfDir, "bronze", "graft_pipeb_")
      stageBronze(spark, sfDir, b)
      b
    })

  def trainingDataPipeline(spark: SparkSession, sfDir: String)
      : DataFrame =
    batchStages(spark, spark.read.format("graft")
      .load(stagedBronze(spark, sfDir)))

  /** Stages 1–5 of the batch run over an already-ingested corpus —
    * the REFERENCE SEMANTICS the incremental form must reproduce
    * bit-for-bit; exposed so the many-wave property spec can fold an
    * arbitrary commit history and compare. */
  private[graft] def batchStages(spark: SparkSession,
      ingestedIn: DataFrame): DataFrame = {
    // ---- stage 0: INGEST
    val ingested = ingestedIn
      .transform(graft.CacheScope.anchored)
    val nIngested = ingested.count()

    // ---- stage 1: EXACT DEDUP — digest shuffle, min-id winner (e1)
    val withH = ingested.withColumn("h", sha2(col("text"), 256))
    val winners = withH.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    val exactKept = withH.join(winners, Seq("h"))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .transform(graft.CacheScope.anchored)
    val nExact = exactKept.count()

    // ---- stage 2: NEAR-DUP — MinHash LSH over the exact survivors
    // (filter-before-near-dup: why sketch rows stage 1 discards?).
    // Candidates by band-key equi-join, sig-estimate verify >= 0.5,
    // drop the LARGER doc_id of each verified pair.
    val sigs = minhashSigs(exactKept)
      .transform(graft.CacheScope.anchored)
    val banded = bandFrame(sigs)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val drops = verifiedDrops(cand, sigs)
    val nearKept = exactKept.join(drops, Seq("doc_id"), "left_anti")
      .transform(graft.CacheScope.anchored)
    val nNear = nearKept.count()

    // ---- stage 3: QUALITY GATE (g20 score, one codegen'd projection)
    val qualKept = scoreQuality(nearKept)
      .filter(col("quality_score") >= 0.4)
      .transform(graft.CacheScope.anchored)
    val nQuality = qualKept.count()

    // ---- stage 4: MIXTURE SAMPLE (g15 permille)
    val sampled = mixtureSample(qualKept)
      .transform(graft.CacheScope.anchored)
    val nSample = sampled.count()

    // ---- stage 5: SEQUENCE PACK — per-language 512-token bins (g16).
    // Distributed prefix sum, NOT Window.partitionBy(lang): at 100 TB
    // a corpus is ~half one language and the per-language window is a
    // single ~50 TB task; PrefixSum range-partitions on (lang, doc_id)
    // and runs the running sum partition-locally under broadcast
    // offsets — identical answers, bounded tasks.
    PrefixSum.runningSum(sampled, "lang", Seq(col("doc_id")),
        "n_tokens", "endt")
      .withColumn("prefix_tokens", col("endt") - col("n_tokens"))
      .withColumn("seq_id", expr("prefix_tokens DIV 512"))
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("n_ingested", lit(nIngested))
      .withColumn("n_after_exact", lit(nExact))
      .withColumn("n_after_neardup", lit(nNear))
      .withColumn("n_after_quality", lit(nQuality))
      .withColumn("n_after_sample", lit(nSample))
  }

  /** e23 — the INCREMENTAL composition: the same six stages advanced
    * per arriving bronze commit wave, so curation cost per refresh is
    * bounded by the NEW documents, never the corpus. The reference's
    * incremental scratchpad (`scratchpads/increamental_dataload.py`)
    * is this micro-batch pattern; at LLM scale the composition needs
    * per-stage STATE, each a transactional graft table advanced by a
    * ledger-stamped commit keyed by the bronze high-water it absorbed
    * (the AggView/i30 exactly-once discipline — a replayed wave is a
    * per-table ledger no-op):
    *
    *   - `st_digest` (content_hash, h2): every kept digest in the
    *     [[DedupState]] layout — hive-partitioned by the 2-char digest
    *     prefix with a versioned Bloom sidecar, so a wave's anti-join
    *     is a Bloom-gated, prefix-PRUNED probe reading only the state
    *     partitions its own candidates touch (at 100 TB: O(batch)
    *     probes, never a state rescan);
    *   - `st_band` (bk, doc_id, sig, bp): the e20/i30 LSH band index
    *     over ALL exact survivors — including near-dup DROPPED docs,
    *     deliberately: batch semantics drop any doc paired with ANY
    *     earlier survivor, so the probe side must see exactly the
    *     batch run's pair universe (state∪batch candidates = the batch
    *     run's pairs restricted to this wave's doc_b side). Stored in
    *     the [[NearDupState]] layout (bp-partitioned, band-key Bloom
    *     sidecar) and probed via its Bloom-gated pruned join with the
    *     hot-band salted verify; band rows CARRY their signature, so
    *     there is no separate signature state to scan;
    *   - `st_pack`: PER-DOC sequence rows (lang, doc_id, n_tokens,
    *     endt, seq_id — the training manifest itself, and the unit
    *     GDPR erasure deletes; e27) plus per-language WATERMARK rows
    *     at negative sentinel ids carrying each wave's pack
    *     high-water (the next wave's offsets — erase-stable, so
    *     erased ranges stay holes) and one audit sentinel per wave
    *     with the per-stage counts and the ingest high-water
    *     (committed LAST — the wave's ledger gate).
    *
    * Quality and mixture are stateless projections (their verdict
    * depends only on the doc), so incremental = batch for free. The
    * two-wave result must equal [[trainingDataPipeline]] on the union
    * corpus BIT-FOR-BIT — same oracle, `n_batches`/`replay_noop`
    * pinned on top. Monotone doc_ids across waves make min-id
    * first-occurrence winners order-stable, exactly the property a
    * production ingest with monotone ingest keys has. */
  def trainingDataPipelineIncremental(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val root = Staging.scratchDir("graft_pipei_")
    val bronze = stagedBronze(spark, sfDir)
    // one cache scope PER WAVE: a wave's outputs are durably committed
    // to the state tables before it returns, so its cached seams
    // (full-text frames + 3.7M-row signature bands at sf0.1) must not
    // stay resident while the next wave runs — heap pressure there
    // shows up as across-the-board stage inflation, not a clean OOM
    graft.CacheScope.withScope(
      pipelineAdvance(spark, bronze, root, 0L)): Unit
    graft.CacheScope.withScope(
      pipelineAdvance(spark, bronze, root, 2L)): Unit
    val replayNoop = graft.CacheScope.withScope(
      pipelineAdvance(spark, bronze, root, 2L)) == 0
    foldResult(spark, root, replayNoop)
  }

  /** Digest-prefix length of the e23 exact-dedup state: 1 hex char =
    * 16 partitions, [[DedupState]]'s sandbox setting (e19 documents
    * the 100 TB setting as 2 = 256 dirs; at sf-scale waves, 256 dirs
    * of 10-row files cost more in file handles + compaction than the
    * pruning saves — measured 28→20 s per wave going 256→16). The
    * pruning spec pins the probe to a partition subset either way. */
  private[graft] val DigestPrefixLen = 1

  /** One incremental advance of the composed pipeline over bronze
    * versions (high-water, target]; state tables live under `root`.
    * Returns 0 when the target is already absorbed (the replay pin).
    *
    * Per-wave state cost is O(batch), never O(corpus): the exact-dedup
    * probe routes through [[DedupState.pruneProbe]] (Bloom sidecar
    * gate + digest-prefix static partition pruning) and the band-index
    * probe through [[NearDupState.prunedBandJoin]] (band-key Bloom
    * gate + `bp` partition pruning + hot-band salted verify), so a
    * wave reads only the state partitions its own candidates touch —
    * the e19/e20 rolling-state discipline applied to the composed
    * pipeline. Band rows carry their signature, so verification needs
    * no separate signature-state scan at all. */
  private[graft] def pipelineAdvance(spark: SparkSession,
      bronze: String, root: String, target: Long): Int = {
    val (stDigest, stBand) = (s"$root/st_digest", s"$root/st_band")
    val stPack = s"$root/st_pack"
    val appId = "graft-pipeline-incr"

    // st_pack is the wave's ledger GATE: it carries the audit sentinel
    // row and commits LAST, so a torn advance re-runs the wave and the
    // earlier state appends no-op their replays (round-16 shave: the
    // audit and per-language offset tables used to be two more commits
    // per wave; the audit now rides the pack commit and the offsets
    // fold from the pack bins themselves)
    val from = GraftLog.lastCommittedBatch(spark, stPack, appId)
      .getOrElse(-1L)
    val vs = GraftLog.versions(spark, bronze)
      .filter(v => v > from && v <= target)
    if (vs.isEmpty) return 0
    val newDocs = vs.map(v =>
        GraftLog.changesAt(spark, bronze, Seq("doc_id"), v)
          .filter(col("_change_type") === "insert")
          .select(col("doc_id"), col("lang"), col("source"),
            col("text")))
      .reduce(_ unionByName _)
      .transform(graft.CacheScope.anchored)
    val nIn = newDocs.count()
    val (waveHw, packState) =
      guardMonotoneIngest(spark, stPack, newDocs)

    // exact dedup: min-id winner WITHIN the wave, then the digest
    // state drops anything any earlier wave kept — probed via the
    // Bloom-gated, prefix-pruned machinery, never a whole-state scan
    val withH = newDocs
      .withColumn("content_hash", sha2(col("text"), 256))
    val winners = withH.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"))
    val waveWinners = withH.join(winners, Seq("content_hash"))
      .filter(col("doc_id") === col("keep_id"))
      .withColumn("h2",
        substring(col("content_hash"), 1, DigestPrefixLen))
      .transform(graft.CacheScope.anchored)
    val scD = if (GraftLog.versions(spark, stDigest).nonEmpty)
      Some(DedupState.loadSidecar(spark, stDigest)) else None
    val exactKept = (scD match {
        case Some(sc) =>
          val present =
            DedupState.pruneProbe(spark, stDigest, sc, waveWinners)
          waveWinners.join(broadcast(present), Seq("content_hash"),
            "left_anti")
        case None => waveWinners
      })
      .select(col("content_hash"), col("h2"), col("doc_id"),
        col("lang"), col("text"))
      .transform(graft.CacheScope.anchored)
    val nEx = exactKept.count()

    // near-dup: the wave's band rows probe the persisted band index
    // (Bloom gate + bp pruning + hot-band salting — identical pair
    // set to the full join) AND themselves; state doc_ids are always
    // the smaller (earlier) side, so the drop discipline matches the
    // batch run exactly. Stored band rows carry `sig`, so both pair
    // sides arrive with their signatures attached — no signature
    // state table, no second state scan.
    val sigs = minhashSigs(exactKept)
      .transform(graft.CacheScope.anchored)
    val banded = bandFrameSig(sigs)
      .transform(graft.CacheScope.anchored)
    val scB = if (GraftLog.versions(spark, stBand).nonEmpty)
      Some(NearDupState.loadSidecar(spark, stBand)) else None
    val candState = scB match {
      case Some(sc) =>
        NearDupState.prunedBandJoin(spark, stBand, sc, banded)
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            col("sig_a"), col("sig_b"))
      case None =>
        banded.select(col("doc_id").as("doc_a"),
          col("doc_id").as("doc_b"), col("sig").as("sig_a"),
          col("sig").as("sig_b")).limit(0)
    }
    // state-side pairs arrive with both sigs attached (pruned probe);
    // wave-internal pairs come from a THIN (doc_id, bk) self-join —
    // shuffling 64-long signatures through the candidate join would
    // inflate it 16x — with sigs re-attached per distinct pair (the
    // e22 verify). The two pair sources are disjoint (monotone ids:
    // every state doc precedes every wave doc), so verifying them
    // per-branch and unioning the drops equals the joint verify.
    val dropsState = candState
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("est", sigEstCol(col("sig_a"), col("sig_b")))
      .filter(col("est") >= 0.5)
      .select(col("doc_b").as("doc_id"))
    val thin = banded.select(col("doc_id"), col("bk"))
    val candWave = thin.as("x").join(thin.as("y"),
        col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .distinct()
    val drops = dropsState.unionByName(verifiedDrops(candWave, sigs))
      .distinct()
    val nearKept = exactKept.join(drops, Seq("doc_id"), "left_anti")
      .transform(graft.CacheScope.anchored)
    val nNear = nearKept.count()

    // quality + mixture: stateless projections
    val qualKept = scoreQuality(nearKept)
      .filter(col("quality_score") >= 0.4)
      .transform(graft.CacheScope.anchored)
    val nQ = qualKept.count()
    val sampled = mixtureSample(qualKept)
      .transform(graft.CacheScope.anchored)
    val nS = sampled.count()

    // pack: PER-DOC sequence rows, not pre-folded bins — the fold
    // recomputes identical bins (count/sum/min/max per (lang, seq_id))
    // and per-doc rows are what GDPR erasure can DELETE (a pre-folded
    // bin cannot subtract one doc; e27). The per-language running
    // offset continues from the WATERMARK rows (doc_id < 0, one per
    // language per wave, carrying the language's pack high-water after
    // that wave) — erase deletes doc rows but never watermarks, so a
    // post-erasure wave packs past the high-water and erased ranges
    // stay holes instead of being silently reassigned. Materialized
    // BEFORE this wave's append so the plan never reads its own commit.
    val offs = packState.map(_.filter(col("lang") =!= AuditLang &&
        col("doc_id") < 0)
        .groupBy(col("lang")).agg(max(col("endt")).as("lang_start")))
      .getOrElse(sampled.groupBy(col("lang"))
        .agg(max(lit(0L)).as("lang_start")).limit(0))
      .transform(graft.CacheScope.anchored)
    offs.count(): Unit
    val docRows = PrefixSum.runningSum(sampled, "lang",
        Seq(col("doc_id")), "n_tokens", "endt_local")
      .join(broadcast(offs), Seq("lang"), "left_outer")
      .withColumn("endt",
        coalesce(col("lang_start"), lit(0L)) +
          col("endt_local").cast("long"))
      .withColumn("seq_id", expr("(endt - n_tokens) DIV 512"))
      .select(col("lang"), col("doc_id").cast("long").as("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("endt").cast("long").as("endt"),
        col("seq_id").cast("long").as("seq_id"))

    // state advance, every table ledger-stamped at the same bronze
    // high-water; the PACK commit (carrying the audit sentinel) lands
    // LAST — it is the wave gate, so a torn advance re-runs the wave
    // and each landed table no-ops its replayed append. The digest/
    // band advances roll their Bloom sidecars forward in the same
    // step.
    DedupState.advance(spark, stDigest, scD,
      exactKept.select("content_hash", "h2"), appId, target,
      DigestPrefixLen)
    NearDupState.advance(spark, stBand, scB,
      banded.select("bk", "doc_id", "sig"), appId, target)
    // the audit sentinel: one row per wave under the reserved language
    // key, its per-stage counts in the audit columns (NULL on doc and
    // watermark rows) plus the ingest high-water — a wave with an
    // empty sample still lands its sentinel, so the high-water always
    // advances
    val nullL = lit(null).cast("long")
    // the watermark = lang_start + the wave's per-language token sum —
    // computed from the CACHED sample, not from docRows, so the pack
    // commit consumes the PrefixSum plan exactly once (bit-identical:
    // max(endt) per lang IS lang_start + Σ n_tokens by construction)
    val wmRows = sampled.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).cast("long").as("wave_tokens"))
      .join(broadcast(offs), Seq("lang"), "left_outer")
      .select(col("lang"), lit(-(target + 1)).as("doc_id"),
        lit(0L).as("n_tokens"),
        (coalesce(col("lang_start"), lit(0L)) + col("wave_tokens"))
          .as("endt"),
        lit(target).as("seq_id"))
    val packRows = docRows.unionByName(wmRows)
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        col("endt"), col("seq_id"),
        nullL.as("n_in"), nullL.as("n_ex"), nullL.as("n_near"),
        nullL.as("n_q"), nullL.as("n_s"), nullL.as("w_hw"))
      .unionByName(spark.range(1).select(lit(AuditLang).as("lang"),
        lit(-(target + 1)).as("doc_id"), lit(0L).as("n_tokens"),
        lit(0L).as("endt"), lit(target).as("seq_id"),
        lit(nIn).as("n_in"), lit(nEx).as("n_ex"),
        lit(nNear).as("n_near"), lit(nQ).as("n_q"),
        lit(nS).as("n_s"), lit(waveHw).as("w_hw")))
    GraftLog.txnAppend(packRows, stPack, appId, target): Unit
    1
  }

  /** Reserved `lang` key of the per-wave audit sentinel row in the
    * pack state (no real language collides with it). */
  private[graft] val AuditLang = "__audit"

  /** Monotone-ingest guard shared by the incremental pipelines: every
    * stateful equivalence (min-id exact winners ≡ first occurrence,
    * state band ids always the smaller pair side, the curated cap's
    * first-N-by-arrival ≡ smallest-N-by-id) assumes a wave's ids
    * EXCEED every previously ingested id — true for production
    * monotone ingest keys and for the twin offsets here, but silently
    * corpus-size-dependent (round-16 ADVICE: a corpus whose ids reach
    * the twin offsets would diverge from batch semantics with no
    * failure). The pack state's audit sentinels carry the running
    * ingest high-water (`w_hw`); a violating wave fails LOUDLY here.
    * Returns the wave's new high-water and the loaded pack state
    * (reused for the pack offsets — one read, not two). */
  private def guardMonotoneIngest(spark: SparkSession, stPack: String,
      newDocs: DataFrame): (Long, Option[DataFrame]) = {
    val idr = newDocs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val packState =
      if (GraftLog.versions(spark, stPack).isEmpty) None
      else Some(GraftLog.read(spark, stPack)
        .transform(graft.CacheScope.anchored))
    val priorHw = packState.flatMap { ps =>
      val r = ps.filter(col("lang") === AuditLang)
        .agg(max(col("w_hw"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    if (!idr.isNullAt(0))
      priorHw.foreach(hw => require(idr.getLong(0) > hw,
        s"non-monotone ingest: wave min doc_id ${idr.getLong(0)} <= " +
          s"ingested high-water $hw — the incremental fold would " +
          "silently diverge from the batch semantics"))
    val waveMax = if (idr.isNullAt(1)) -1L else idr.getLong(1)
    (math.max(waveMax, priorHw.getOrElse(-1L)), packState)
  }

  // ------------------------------------------------------------- e26
  // The CURATED pipeline: e23's staged composition plus the two gates
  // a production curation run adds — eval-set CONTAMINATION (g8) and
  // PER-SOURCE frequency capping (g25). Both in incremental-friendly
  // form: the probe shingles are fixed query metadata evaluated as a
  // broadcast-free codegen'd projection (stateless — incremental =
  // batch for free), and the source cap keeps a per-source RUNNING
  // admit count as one more state table, admitting by arrival order.
  // With monotone ingest ids (the production ingest-key property the
  // incremental form already assumes for min-id dedup winners),
  // first-N-by-arrival is exactly the batch run's
  // smallest-N-by-doc_id — the oracle's plain per-source window.

  /** Per-source admission budget of the curated pipeline — small
    * enough to BIND at every test SF (the documents corpus spreads 25
    * docs over each of 20 sources; post-gate samples run ~7/source),
    * so the capped result actually exercises the cut. */
  private[graft] val SrcCap = 6
  private val CapSalts = 4

  /** The contamination gate: drop docs sharing any probe shingle with
    * the eval set (g8's padded-contains form — no shingle
    * materialization, no join; `probes` are tiny fixed metadata). */
  private def decontaminate(docs: DataFrame, probes: Seq[String])
      : DataFrame =
    if (probes.isEmpty) docs
    else {
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      docs.filter(!probes.map(p => padded.contains(s" $p "))
        .reduce(_ || _))
    }

  /** Mixture sample keeping the `source` column (the cap stage needs
    * it); otherwise g15's permille verbatim. */
  private def mixtureSampleSrc(qualKept: DataFrame): DataFrame = {
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
      .cast("long") % 1000
    val permille = TextAnalysis.mixturePermille.foldLeft(lit(0)) {
      case (acc, (l, p)) => when(col("lang") === l, lit(p)).otherwise(acc)
    }
    qualKept.filter(bucket < permille)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
  }

  /** Admit ≤ `allowed(source)` docs per source by doc_id order, via
    * g25's salted two-level rank — no per-source single task: level 1
    * ranks within (source, doc_id mod salts) and keeps ≤ SrcCap per
    * slice (any doc admitted globally is also top-SrcCap in its slice,
    * since allowed ≤ SrcCap and slice-local superiors are a subset of
    * global superiors); level 2 ranks the ≤ salts×SrcCap survivors
    * exactly. */
  private def capBySource(sampled: DataFrame, prior: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w1 = Window
      .partitionBy(col("source"),
        pmod(col("doc_id"), lit(CapSalts.toLong)))
      .orderBy(col("doc_id").asc)
    val surv = sampled.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= SrcCap).drop("__r1")
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("doc_id").asc)
    surv.withColumn("__r", row_number().over(w2))
      .join(broadcast(prior), Seq("source"), "left")
      .filter(col("__r") <=
        lit(SrcCap.toLong) - coalesce(col("n_admitted"), lit(0L)))
      .drop("__r", "n_admitted")
  }

  /** The batch reference semantics of the curated pipeline — the
    * e22 stages with contamination after near-dup and the source cap
    * after the mixture sample; the spec folds arbitrary commit
    * histories through [[curatedAdvance]] and compares to this. */
  private[graft] def batchStagesCurated(spark: SparkSession,
      ingestedIn: DataFrame, probes: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ingested = ingestedIn.transform(graft.CacheScope.anchored)
    val nIngested = ingested.count()
    val withH = ingested.withColumn("h", sha2(col("text"), 256))
    val winners = withH.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    val exactKept = withH.join(winners, Seq("h"))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .transform(graft.CacheScope.anchored)
    val nExact = exactKept.count()
    val sigs = minhashSigs(exactKept)
      .transform(graft.CacheScope.anchored)
    val banded = bandFrame(sigs)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val drops = verifiedDrops(cand, sigs)
    val nearKept = exactKept.join(drops, Seq("doc_id"), "left_anti")
      .transform(graft.CacheScope.anchored)
    val nNear = nearKept.count()
    val contamKept = decontaminate(nearKept, probes)
    val nContam = contamKept.count()
    val qualKept = scoreQuality(contamKept, keep = Seq("source"))
      .filter(col("quality_score") >= 0.4)
      .transform(graft.CacheScope.anchored)
    val nQuality = qualKept.count()
    val sampled = mixtureSampleSrc(qualKept)
      .transform(graft.CacheScope.anchored)
    val nSample = sampled.count()
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("doc_id").asc)
    val capped = sampled.withColumn("__r", row_number().over(w2))
      .filter(col("__r") <= SrcCap).drop("__r")
      .transform(graft.CacheScope.anchored)
    val nCap = capped.count()
    PrefixSum.runningSum(capped.select("doc_id", "lang", "n_tokens"),
        "lang", Seq(col("doc_id")), "n_tokens", "endt")
      .withColumn("prefix_tokens", col("endt") - col("n_tokens"))
      .withColumn("seq_id", expr("prefix_tokens DIV 512"))
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("n_ingested", lit(nIngested))
      .withColumn("n_after_exact", lit(nExact))
      .withColumn("n_after_neardup", lit(nNear))
      .withColumn("n_after_contam", lit(nContam))
      .withColumn("n_after_quality", lit(nQuality))
      .withColumn("n_after_sample", lit(nSample))
      .withColumn("n_after_cap", lit(nCap))
  }

  /** e26 — the curated composition advanced incrementally: e23's
    * state tables plus `st_src` (source, d_admits), the per-source
    * running admit counts the cap stage continues from. Same ledger
    * discipline: every table stamped at the wave's bronze high-water,
    * the pack commit (carrying the audit sentinel) last. */
  def trainingDataPipelineCurated(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val root = Staging.scratchDir("graft_pipec_")
    val bronze = stagedBronze(spark, sfDir)
    val probes = TextAnalysis.contaminationProbes(spark, sfDir, 5)
    // per-wave cache scopes — see trainingDataPipelineIncremental
    graft.CacheScope.withScope(
      curatedAdvance(spark, bronze, root, 0L, probes)): Unit
    graft.CacheScope.withScope(
      curatedAdvance(spark, bronze, root, 2L, probes)): Unit
    val replayNoop = graft.CacheScope.withScope(
      curatedAdvance(spark, bronze, root, 2L, probes)) == 0
    foldCurated(spark, root, replayNoop)
  }

  /** One curated advance over bronze (high-water, target]. Returns 0
    * when already absorbed. Per-wave state cost is O(batch) exactly as
    * [[pipelineAdvance]]: the two new stages add one broadcast of the
    * (tiny) per-source admit counts and zero extra scans. */
  private[graft] def curatedAdvance(spark: SparkSession,
      bronze: String, root: String, target: Long,
      probes: Seq[String]): Int = {
    val (stDigest, stBand) = (s"$root/st_digest", s"$root/st_band")
    val (stSrc, stPack) = (s"$root/st_src", s"$root/st_pack")
    val appId = "graft-pipeline-curated"

    def stateOr(path: String, empty: => DataFrame): DataFrame =
      if (GraftLog.versions(spark, path).nonEmpty)
        GraftLog.read(spark, path) else empty

    val from = GraftLog.lastCommittedBatch(spark, stPack, appId)
      .getOrElse(-1L)
    val vs = GraftLog.versions(spark, bronze)
      .filter(v => v > from && v <= target)
    if (vs.isEmpty) return 0
    val newDocs = vs.map(v =>
        GraftLog.changesAt(spark, bronze, Seq("doc_id"), v)
          .filter(col("_change_type") === "insert")
          .select(col("doc_id"), col("lang"), col("source"),
            col("text")))
      .reduce(_ unionByName _)
      .transform(graft.CacheScope.anchored)
    val nIn = newDocs.count()
    val (waveHw, packState) =
      guardMonotoneIngest(spark, stPack, newDocs)

    val withH = newDocs
      .withColumn("content_hash", sha2(col("text"), 256))
    val winners = withH.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"))
    val waveWinners = withH.join(winners, Seq("content_hash"))
      .filter(col("doc_id") === col("keep_id"))
      .withColumn("h2",
        substring(col("content_hash"), 1, DigestPrefixLen))
      .transform(graft.CacheScope.anchored)
    val scD = if (GraftLog.versions(spark, stDigest).nonEmpty)
      Some(DedupState.loadSidecar(spark, stDigest)) else None
    val exactKept = (scD match {
        case Some(sc) =>
          val present =
            DedupState.pruneProbe(spark, stDigest, sc, waveWinners)
          waveWinners.join(broadcast(present), Seq("content_hash"),
            "left_anti")
        case None => waveWinners
      })
      .select(col("content_hash"), col("h2"), col("doc_id"),
        col("lang"), col("source"), col("text"))
      .transform(graft.CacheScope.anchored)
    val nEx = exactKept.count()

    val sigs = minhashSigs(exactKept)
      .transform(graft.CacheScope.anchored)
    val banded = bandFrameSig(sigs)
      .transform(graft.CacheScope.anchored)
    val scB = if (GraftLog.versions(spark, stBand).nonEmpty)
      Some(NearDupState.loadSidecar(spark, stBand)) else None
    val candState = scB match {
      case Some(sc) =>
        NearDupState.prunedBandJoin(spark, stBand, sc, banded)
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            col("sig_a"), col("sig_b"))
      case None =>
        banded.select(col("doc_id").as("doc_a"),
          col("doc_id").as("doc_b"), col("sig").as("sig_a"),
          col("sig").as("sig_b")).limit(0)
    }
    val dropsState = candState
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("est", sigEstCol(col("sig_a"), col("sig_b")))
      .filter(col("est") >= 0.5)
      .select(col("doc_b").as("doc_id"))
    val thin = banded.select(col("doc_id"), col("bk"))
    val candWave = thin.as("x").join(thin.as("y"),
        col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .distinct()
    val drops = dropsState.unionByName(verifiedDrops(candWave, sigs))
      .distinct()
    val nearKept = exactKept.join(drops, Seq("doc_id"), "left_anti")
      .transform(graft.CacheScope.anchored)
    val nNear = nearKept.count()

    // contamination: a cheap 5-contains filter over the CACHED
    // near-dup survivors — deliberately NOT cached itself (a second
    // full-text cache of the corpus thrashes the heap; consumers read
    // through the nearKept cache)
    val contamKept = decontaminate(nearKept, probes)
    val nContam = contamKept.count()

    val qualKept = scoreQuality(contamKept, keep = Seq("source"))
      .filter(col("quality_score") >= 0.4)
      .transform(graft.CacheScope.anchored)
    val nQ = qualKept.count()
    val sampled = mixtureSampleSrc(qualKept)
      .transform(graft.CacheScope.anchored)
    val nS = sampled.count()

    // source cap: prior admits fold from st_src, materialized BEFORE
    // this wave's append
    val prior = stateOr(stSrc,
        sampled.groupBy(col("source"))
          .agg(sum(lit(0L)).as("d_admits")).limit(0))
      .groupBy(col("source"))
      .agg(sum(col("d_admits")).as("n_admitted"))
      .transform(graft.CacheScope.anchored)
    prior.count(): Unit
    val capped = capBySource(sampled, prior)
      .transform(graft.CacheScope.anchored)
    val nCap = capped.count()

    // per-doc sequence rows + per-language watermark rows — see
    // [[pipelineAdvance]]; the curated rows also CARRY `source`, the
    // column [[erase]] needs to release the erased docs' cap budget
    val offs = packState.map(_.filter(col("lang") =!= AuditLang &&
        col("doc_id") < 0)
        .groupBy(col("lang")).agg(max(col("endt")).as("lang_start")))
      .getOrElse(capped.groupBy(col("lang"))
        .agg(max(lit(0L)).as("lang_start")).limit(0))
      .transform(graft.CacheScope.anchored)
    offs.count(): Unit
    val docRows = PrefixSum.runningSum(
        capped.select("doc_id", "lang", "source", "n_tokens"), "lang",
        Seq(col("doc_id")), "n_tokens", "endt_local")
      .join(broadcast(offs), Seq("lang"), "left_outer")
      .withColumn("endt",
        coalesce(col("lang_start"), lit(0L)) +
          col("endt_local").cast("long"))
      .withColumn("seq_id", expr("(endt - n_tokens) DIV 512"))
      .select(col("lang"), col("source"),
        col("doc_id").cast("long").as("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("endt").cast("long").as("endt"),
        col("seq_id").cast("long").as("seq_id"))

    DedupState.advance(spark, stDigest, scD,
      exactKept.select("content_hash", "h2"), appId, target,
      DigestPrefixLen)
    NearDupState.advance(spark, stBand, scB,
      banded.select("bk", "doc_id", "sig"), appId, target)
    GraftLog.txnAppend(capped.groupBy(col("source"))
      .agg(count(lit(1)).as("d_admits")), stSrc, appId, target): Unit
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    // watermark from the CACHED capped frame (see [[pipelineAdvance]])
    val wmRows = capped.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).cast("long").as("wave_tokens"))
      .join(broadcast(offs), Seq("lang"), "left_outer")
      .select(col("lang"), nullS.as("source"),
        lit(-(target + 1)).as("doc_id"), lit(0L).as("n_tokens"),
        (coalesce(col("lang_start"), lit(0L)) + col("wave_tokens"))
          .as("endt"),
        lit(target).as("seq_id"))
    val packRows = docRows.unionByName(wmRows)
      .select(col("lang"), col("source"), col("doc_id"),
        col("n_tokens"), col("endt"), col("seq_id"),
        nullL.as("n_in"), nullL.as("n_ex"), nullL.as("n_near"),
        nullL.as("n_ct"), nullL.as("n_q"), nullL.as("n_s"),
        nullL.as("n_cap"), nullL.as("w_hw"))
      .unionByName(spark.range(1).select(lit(AuditLang).as("lang"),
        nullS.as("source"), lit(-(target + 1)).as("doc_id"),
        lit(0L).as("n_tokens"), lit(0L).as("endt"),
        lit(target).as("seq_id"), lit(nIn).as("n_in"),
        lit(nEx).as("n_ex"), lit(nNear).as("n_near"),
        lit(nContam).as("n_ct"), lit(nQ).as("n_q"),
        lit(nS).as("n_s"), lit(nCap).as("n_cap"),
        lit(waveHw).as("w_hw")))
    GraftLog.txnAppend(packRows, stPack, appId, target): Unit
    1
  }

  /** Fold the curated pack state into the e26 result shape: bins
    * recompute from the per-doc rows (count/sum/min/max per
    * (lang, seq_id) — identical to the pre-folded bins the old layout
    * stored, and erasable per doc), watermark/audit rows excluded. */
  private[graft] def foldCurated(spark: SparkSession, root: String,
      replayNoop: Boolean): DataFrame = {
    val stPack = s"$root/st_pack"
    val packed = GraftLog.read(spark, stPack)
      .transform(graft.CacheScope.anchored)
    val a = packed.filter(col("lang") === AuditLang)
      .agg(sum(col("n_in")), sum(col("n_ex")), sum(col("n_near")),
        sum(col("n_ct")), sum(col("n_q")), sum(col("n_s")),
        sum(col("n_cap")), count(lit(1)))
      .head()
    packed.filter(col("lang") =!= AuditLang && col("doc_id") >= 0)
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("n_ingested", lit(a.getLong(0)))
      .withColumn("n_after_exact", lit(a.getLong(1)))
      .withColumn("n_after_neardup", lit(a.getLong(2)))
      .withColumn("n_after_contam", lit(a.getLong(3)))
      .withColumn("n_after_quality", lit(a.getLong(4)))
      .withColumn("n_after_sample", lit(a.getLong(5)))
      .withColumn("n_after_cap", lit(a.getLong(6)))
      .withColumn("n_batches", lit(a.getLong(7)))
      .withColumn("replay_noop", lit(replayNoop))
  }

  /** e27 — GDPR erasure composed THROUGH the pipeline's own state
    * (the round-16 gap: [[DedupState.erase]]/[[NearDupState.erase]]
    * purge the standalone dedup states, but an erased doc's derived
    * data lived on in the pipeline root — its digest kept blocking
    * re-admission, its band rows kept flagging neighbors, its pack
    * rows persisted in the training manifest, and its per-source
    * admission PERMANENTLY consumed cap budget another doc could use).
    * One call purges all four:
    *
    *   1. digest state — [[DedupState.erase]] by sha2(text) (file-
    *      pruned delete + sidecar re-mint);
    *   2. band state — [[NearDupState.erase]] by doc id with the texts
    *      prune (state-persisted shingle width, coverage-checked);
    *   3. cap budget — the erased docs' ADMITTED pack rows (counted
    *      per source BEFORE the delete) append as negative `d_admits`
    *      under a dedicated erase app id, so the next wave's running
    *      count reflects the release; the append is ledger-stamped by
    *      `eraseId` — a crash-retry of the same erasure re-appends
    *      nothing (and the ordering, release BEFORE delete, means a
    *      retry can always still see the admitted rows it releases);
    *   4. pack rows — one keyed transactional delete (doc rows only:
    *      watermark/audit rows sit at negative sentinel ids, so the
    *      language high-waters survive and later waves pack past
    *      them — erased ranges stay holes, never reassigned).
    *
    * Audit sentinels keep their per-wave COUNTS: they are aggregate
    * statistics carrying no per-document data. Returns the number of
    * released admissions (0 on a replayed/empty erasure). Cost shape
    * at 100 TB: everything is file-pruned or candidate-sized except
    * the two sidecar re-mints, the documented O(state)-once-per-
    * erasure-batch compliance cost (a Bloom cannot unset bits). */
  def erase(spark: SparkSession, root: String, docs: DataFrame,
      eraseId: Long, appId: String = "graft-pipeline-curated"): Long = {
    val (stDigest, stBand) = (s"$root/st_digest", s"$root/st_band")
    val (stSrc, stPack) = (s"$root/st_src", s"$root/st_pack")
    val docsC = docs.select(col("doc_id"), col("text")).distinct()
      .transform(graft.CacheScope.anchored)
    if (GraftLog.versions(spark, stDigest).nonEmpty)
      DedupState.erase(spark, stDigest,
        docsC.select(sha2(col("text"), 256).as("content_hash"))): Unit
    if (GraftLog.versions(spark, stBand).nonEmpty)
      NearDupState.erase(spark, stBand, docsC.select("doc_id"),
        texts = Some(docsC)): Unit
    var released = 0L
    if (GraftLog.versions(spark, stPack).nonEmpty) {
      val admitted = GraftLog.read(spark, stPack)
        .filter(col("lang") =!= AuditLang && col("doc_id") >= 0)
        .join(docsC.select("doc_id"), Seq("doc_id"), "left_semi")
        .transform(graft.CacheScope.anchored)
      released = admitted.count()
      // release FIRST (ledger-idempotent), delete SECOND: a crash
      // between them retries with the admitted rows still present,
      // and the ledger rejects the duplicate release
      if (released > 0 && GraftLog.versions(spark, stSrc).nonEmpty)
        GraftLog.txnAppend(admitted.groupBy(col("source"))
            .agg((-count(lit(1))).as("d_admits")),
          stSrc, s"$appId-erase", eraseId): Unit
      GraftLog.deleteMatching(spark, stPack, docsC.select("doc_id"),
        Seq("doc_id")): Unit
    }
    released
  }

  /** e27 — the erasure lifecycle as a registered query: the curated
    * pipeline absorbs the corpus + twin universe in one wave (batch ≡
    * any monotone wave split — e23/e26 pin that; one wave keeps this
    * query's three-stage lifecycle affordable), a GDPR request erases
    * every %10==3 base doc through [[erase]], and a SECOND bronze wave
    * (v3) lands
    * re-submissions of the erased texts (+40000 — admitted fresh,
    * their digests and band rows are gone) plus exact twins of
    * untouched %10==4 docs (+50000 — still dropped, erasure must not
    * disturb neighbors). Pins: `n_released` (the cap budget the
    * erasure returned), `reerase_noop` (re-erasing releases nothing
    * and rewrites nothing), `replay_noop` (the post-erase wave's
    * ledger idempotence), and the fold itself — wave C packs past the
    * pre-erase high-water (erased ranges stay holes) with its cap
    * budget reflecting the release, all replayed row-for-row by the
    * DuckDB oracle. Uses a PRIVATE bronze copy: this query appends a
    * post-erase wave, and the memoized shared bronze must stay
    * three-commit for its sibling queries. */
  def trainingDataPipelineErasure(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val root = Staging.scratchDir("graft_pipee_")
    val bronze = s"$root/bronze"
    // private bronze via SHALLOW CLONE of the memoized shared staging:
    // v0 references the corpus snapshot's files (zero data bytes move)
    // and only the small twin waves + the post-erase wave stage fresh —
    // this query appends, so it can never share the siblings' bronze
    GraftLog.cloneShallow(spark,
      stagedBronze(spark, sfDir), bronze, asOf = Some(0L)): Unit
    stageTwinWaves(spark, sfDir, bronze)   // v1,v2
    val probes = TextAnalysis.contaminationProbes(spark, sfDir, 5)
    graft.CacheScope.withScope(
      curatedAdvance(spark, bronze, root, 2L, probes)): Unit
    val base = graft.sources.Sources.testTable(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val subjects = base.filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), col("text"))
    val released = graft.CacheScope.withScope(
      erase(spark, root, subjects, 0L))
    val released2 = graft.CacheScope.withScope(
      erase(spark, root, subjects, 0L))
    GraftLog.append(
      base.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 40000L)
        .unionByName(base.filter(col("doc_id") % 10 === 4)
          .withColumn("doc_id", col("doc_id") + 50000L)),
      bronze): Unit                                       // v3
    graft.CacheScope.withScope(
      curatedAdvance(spark, bronze, root, 3L, probes)): Unit
    val replayNoop = graft.CacheScope.withScope(
      curatedAdvance(spark, bronze, root, 3L, probes)) == 0
    foldCurated(spark, root, replayNoop)
      .withColumn("n_released", lit(released))
      .withColumn("reerase_noop", lit(released2 == 0L))
  }

  /** Fold the pack state (per-doc rows + watermark rows + per-wave
    * audit sentinels) into the e23 result shape — bins recompute from
    * the doc rows, identical to the pre-folded layout's answer. */
  private[graft] def foldResult(spark: SparkSession, root: String,
      replayNoop: Boolean): DataFrame = {
    val stPack = s"$root/st_pack"
    val packed = GraftLog.read(spark, stPack)
      .transform(graft.CacheScope.anchored)
    val a = packed.filter(col("lang") === AuditLang)
      .agg(sum(col("n_in")), sum(col("n_ex")), sum(col("n_near")),
        sum(col("n_q")), sum(col("n_s")), count(lit(1)))
      .head()
    packed.filter(col("lang") =!= AuditLang && col("doc_id") >= 0)
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("n_ingested", lit(a.getLong(0)))
      .withColumn("n_after_exact", lit(a.getLong(1)))
      .withColumn("n_after_neardup", lit(a.getLong(2)))
      .withColumn("n_after_quality", lit(a.getLong(3)))
      .withColumn("n_after_sample", lit(a.getLong(4)))
      .withColumn("n_batches", lit(a.getLong(5)))
      .withColumn("replay_noop", lit(replayNoop))
  }
}
