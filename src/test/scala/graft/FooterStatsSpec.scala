package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftLog

/** The footer-derived commit stats (round-17 write-path shave: stats
  * come from the parquet footers the write already produced, not a
  * second scan of the staged bytes) must be INDISTINGUISHABLE from the
  * scan-derived ones — same keys, same min/max doubles, same null
  * counts — for every primitive type family, and the nested-type
  * fallback must keep recording row-level null counts via the scan. */
class FooterStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    graft.sources.Staging.tempDir("graft_fstats_") + "/t"

  /** Recompute a file's stats exactly the way the old scan path did:
    * min/max of cast-to-double per numeric column, (nullCount, rows)
    * per column. */
  private def scanStats(table: String, file: String,
      schema: StructType): Map[String, (Double, Double)] = {
    val df = spark.read.schema(schema).parquet(s"$table/$file")
    val numeric = schema.fields.filter(f => f.dataType match {
      case LongType | IntegerType | ShortType | FloatType | DoubleType =>
        true
      case _ => false
    })
    val aggs = numeric.flatMap(f => Seq(
      min(col(f.name).cast("double")).as(s"mn_${f.name}"),
      max(col(f.name).cast("double")).as(s"mx_${f.name}"))) ++
      schema.fields.map(f => count(col(f.name)).as(s"nn_${f.name}")) :+
      count(lit(1)).as("rows")
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getAs[Long]("rows").toDouble
    val mm = numeric.flatMap { f =>
      val mn = r.getAs[Any](s"mn_${f.name}")
      val mx = r.getAs[Any](s"mx_${f.name}")
      if (mn == null || mx == null) None
      else Some(f.name ->
        ((mn.asInstanceOf[Double], mx.asInstanceOf[Double])))
    }
    val nulls = schema.fields.map { f =>
      s"${f.name}#nulls" ->
        ((rows - r.getAs[Long](s"nn_${f.name}").toDouble, rows))
    }
    (mm ++ nulls).toMap
  }

  test("footer stats equal scan stats for every primitive family") {
    val t = tmp()
    val df = spark.range(0, 1000).select(
      col("id").as("l"),
      col("id").cast("int").as("i"),
      (col("id") % 7).cast("short").as("s"),
      (col("id") * 1.5).cast("float").as("f"),
      (col("id") * -0.25).as("d"),
      concat(lit("v"), col("id")).as("str"),
      when(col("id") % 3 === 0, col("id") * 2.0).as("d_nullable"),
      lit(null).cast("double").as("d_allnull"),
      when(col("id") % 2 === 0, concat(lit("x"), col("id")))
        .as("str_nullable"),
      (col("id") % 2 === 0).as("b"),
      // a long big enough that long->double rounds: min/max must
      // commute with the cast (monotone), so footer == scan here too
      (col("id") + 9007199254740993L).as("big"))
    GraftLog.overwrite(df.repartition(3), t)
    val files = GraftLog.snapshot(spark, t)._1
    assert(files.size == 3)
    val schema = GraftLog.snapshot(spark, t)._2
    val committed = GraftLog.fileStats(spark, t)
    files.foreach { f =>
      val expect = scanStats(t, f, schema)
      assert(committed(f) == expect,
        s"footer stats diverge from scan stats for $f:\n" +
          s"  footer: ${committed(f).toSeq.sortBy(_._1)}\n" +
          s"  scan:   ${expect.toSeq.sortBy(_._1)}")
    }
  }

  test("nested-type schemas fall back to the scan and still record " +
      "row-level null counts") {
    val t = tmp()
    val df = spark.range(0, 100).select(
      col("id"),
      when(col("id") % 4 === 0, array(col("id"), col("id") + 1))
        .as("arr"))
    GraftLog.overwrite(df.coalesce(1), t)
    val stats = GraftLog.fileStats(spark, t)
    assert(stats.nonEmpty)
    val st = stats.values.head
    // row-level: 75 of 100 arrays are NULL (leaf-level footer counts
    // would disagree — the fallback must keep the row-level semantics)
    assert(st("arr#nulls") == ((75.0, 100.0)), st.toString)
    assert(st("id") == ((0.0, 99.0)))
  }

  test("dense nested columns (never-null arrays/structs) record the " +
      "same row-level null counts as the scan") {
    // the footer fast path fires here (every leaf chunk has zero
    // nulls ⇒ provably zero null ROWS); the recorded stats must be
    // bit-identical to the scan's row-level semantics either way
    val t = tmp()
    val df = spark.range(0, 200).select(
      col("id"),
      array(col("id"), col("id") * 2).as("sig"),
      struct(col("id").as("a"), concat(lit("s"), col("id")).as("b"))
        .as("st"))
    GraftLog.overwrite(df.repartition(3), t)
    val files = GraftLog.snapshot(spark, t)._1
    val schema = GraftLog.snapshot(spark, t)._2
    val committed = GraftLog.fileStats(spark, t)
    files.foreach { f =>
      val expect = scanStats(t, f, schema)
      assert(committed(f) == expect,
        s"nested footer stats diverge from scan stats for $f:\n" +
          s"  footer: ${committed(f).toSeq.sortBy(_._1)}\n" +
          s"  scan:   ${expect.toSeq.sortBy(_._1)}")
      assert(committed(f)("sig#nulls")._1 == 0.0)
      assert(committed(f)("st#nulls")._1 == 0.0)
    }
  }

  test("staged files carry the sizes and stats the DataFrameWriter " +
      "path recorded, for every float, null, nested and layout case") {
    // the fixture was written by the DataFrameWriter + driver-side
    // footer/scan stats path this staging replaced; a case's files pair
    // up in path order (part-<split> first), so equal sizes mean equal
    // bytes, and the stats compare bit for bit (NaN and -0.0 included)
    val in = getClass.getResourceAsStream("/staged_stats_fixture.tsv")
    assert(in != null, "fixture missing")
    val fixture =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
      finally in.close()
    val root = graft.sources.Staging.tempDir("graft_fstats_fixture_")
    val got = StagedStatsCases.all.flatMap { case (name, write) =>
      val t = s"$root/$name"
      write(spark, t)
      StagedStatsCases.render(spark, name, t)
    }
    assert(got.size == fixture.size, got.mkString("\n"))
    got.zip(fixture).foreach { case (g, f) => assert(g == f) }
  }

  test("pruning behavior is unchanged: range read opens only " +
      "stat-intersecting files") {
    val t = tmp()
    val data = (0L until 100L).map(i => (i, s"r$i")).toDF("id", "tag")
    GraftLog.overwrite(data.repartitionByRange(4, col("id")), t)
    val all = GraftLog.snapshot(spark, t)._1
    val kept = GraftLog.prunedFiles(spark, t, "id", 30.0, 40.0)
    assert(kept.size < all.size && kept.nonEmpty)
    val pruned = GraftLog.readPruned(spark, t, "id", 30.0, 40.0)
      .collect().map(_.toSeq).toSet
    val full = GraftLog.read(spark, t)
      .filter(col("id") >= 30 && col("id") <= 40)
      .collect().map(_.toSeq).toSet
    assert(pruned == full)
  }
}

/** Tables whose per-file sizes and commit stats `FooterStatsSpec` pins
  * against a fixture: NaN, ±0.0 and infinities, all-null columns,
  * arrays, structs and maps with null elements, and the hive and
  * hidden-bucket layouts. Every frame is range-partitioned at its
  * source (no shuffle), so each file's rows are fixed. */
object StagedStatsCases {
  import org.apache.spark.sql.{Column, SparkSession}

  private def rows(spark: SparkSession, n: Long, parts: Int) =
    spark.range(0L, n, 1L, parts)

  private def every(k: Int, v: Column, other: Column): Column =
    when(col("id") % k === 0, v).otherwise(other)

  val all: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "floats" -> { (spark, t) =>
      GraftLog.overwrite(rows(spark, 300, 3).select(col("id"),
        every(7, lit(Float.NaN), (col("id") * 0.5).cast("float")).as("f"),
        every(5, lit(-0.0), every(3, lit(0.0), col("id") * -1.25)).as("d"),
        every(11, lit(Double.PositiveInfinity),
          every(13, lit(Double.NegativeInfinity), col("id").cast("double")))
          .as("inf"),
        when(col("id") < 100, lit(Double.NaN)).otherwise(lit(0.0))
          .as("nan_first"),
        lit(-0.0).as("neg_zero")), t)
    },
    "all_null" -> { (spark, t) =>
      GraftLog.overwrite(rows(spark, 200, 2).select(col("id"),
        lit(null).cast("long").as("l"),
        lit(null).cast("double").as("d"),
        lit(null).cast("string").as("s"),
        when(col("id") >= 100, col("id")).as("null_in_first"),
        lit(null).cast("array<int>").as("arr")), t)
    },
    "nested_nulls" -> { (spark, t) =>
      GraftLog.overwrite(rows(spark, 200, 2).select(col("id"),
        // null elements in the second file only: the first file's
        // footer proves its stats, the second's falls back to the scan
        when(col("id") < 100, array(col("id"), col("id") + 1))
          .otherwise(array(col("id"), lit(null).cast("long"))).as("arr"),
        struct(col("id").as("a"),
          every(4, lit(null).cast("string"), concat(lit("s"), col("id")))
            .as("b")).as("st"),
        map(lit("k"), every(3, lit(null).cast("double"),
          col("id").cast("double"))).as("m"),
        every(9, lit(null).cast("array<long>"), array(col("id")))
          .as("arr_null_rows")), t)
    },
    "hive" -> { (spark, t) =>
      GraftLog.overwritePartitioned(rows(spark, 300, 3).select(col("id"),
        (col("id") % 3).as("p"),
        every(10, lit(Double.NaN), col("id") * 0.1).as("d"),
        every(4, lit(null).cast("string"), concat(lit("v"), col("id")))
          .as("s")), t, Seq("p"))
    },
    "bucket" -> { (spark, t) =>
      GraftLog.overwriteBucketTransform(rows(spark, 300, 3).select(
        col("id"), (col("id") * -0.5).as("d"),
        every(6, lit(null).cast("int"), col("id").cast("int")).as("i")),
        t, "id", 4)
    })

  /** One line per live file of `t`, in path order: case, index, byte
    * size, and the stats with each double as its raw bits. */
  def render(spark: SparkSession, name: String, t: String): Seq[String] = {
    val sizes = GraftLog.fileSizes(spark, t)
    val stats = GraftLog.fileStats(spark, t)
    def bits(d: Double) = java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(d))
    GraftLog.snapshot(spark, t)._1.sorted.zipWithIndex.map { case (f, i) =>
      // partition dirs stay; the part-file name is write-specific
      val dir = f.split('/').drop(2).dropRight(1).mkString("/")
      val st = stats.getOrElse(f, Map.empty).toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c=${bits(lo)}:${bits(hi)}" }
      s"$name\t$i\t$dir\t${sizes(f)}\t${st.mkString(";")}"
    }
  }
}
