package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every column is a pure function of the
  * seed and the row's coordinates (`xxhash64` of them), so one seed
  * gives the same rows whatever the partitioning, and the generated
  * frames land as plain parquet that the reference checks read back
  * without graft. */
final class Gen(seed: Long) {

  /** A hash of the seed and `parts`, as a non-negative long. */
  def h(parts: Column*): Column =
    abs(xxhash64((lit(seed) +: parts): _*) % lit(Long.MaxValue))

  /** Uniform draw in [0, 1) from `parts`. */
  def u(parts: Column*): Column =
    (h(parts: _*) % lit(1000003L)).cast("double") / 1000003.0

  private def pick(c: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (c % lit(xs.size.toLong) + 1).cast("int"))

  /** `batches` slices of a lineitem-shaped table, tagged by `b`. Slice
    * `b` holds orders `b * ordersPer until (b + 1) * ordersPer`, each
    * with 1 to 7 lines, in a seeded row order. */
  def lineitem(spark: SparkSession, batches: Int, rowsPer: Int): DataFrame = {
    val ordersPer = math.max(1, rowsPer / 4)
    spark.range(batches.toLong * rowsPer)
      .select((col("id") / rowsPer).cast("long").as("b"),
        (col("id") % rowsPer).as("j"))
      .select(col("b"), col("j"),
        (col("b") * ordersPer + h(col("b"), col("j"), lit(1)) % ordersPer)
          .as("l_orderkey"))
      .select(
        col("b"),
        col("l_orderkey"),
        (h(col("b"), col("j"), lit(2)) % 20000L + 1).as("l_partkey"),
        (h(col("b"), col("j"), lit(3)) % 1000L + 1).as("l_suppkey"),
        (h(col("b"), col("j"), lit(4)) % 7L + 1).cast("int").as("l_linenumber"),
        (h(col("b"), col("j"), lit(5)) % 50L + 1).cast("double").as("l_quantity"),
        round(u(col("b"), col("j"), lit(6)) * 100000.0 + 900.0, 2)
          .as("l_extendedprice"),
        round(u(col("b"), col("j"), lit(7)) * 0.1, 2).as("l_discount"),
        round(u(col("b"), col("j"), lit(8)) * 0.08, 2).as("l_tax"),
        pick(h(col("b"), col("j"), lit(9)), Seq("A", "N", "R")).as("l_returnflag"),
        pick(h(col("b"), col("j"), lit(10)), Seq("F", "O")).as("l_linestatus"),
        date_add(lit("1992-01-01").cast("date"),
          (h(col("b"), col("j"), lit(11)) % 2500L).cast("int")).as("l_shipdate"),
        h(col("b"), col("j"), lit(12)).as("__order"))
  }

  /** Write `df` as plain parquet partitioned by `key`, one file per key
    * value, rows ordered by `order` inside each file. */
  def land(df: DataFrame, key: String, order: String, path: String): Unit =
    df.repartition(col(key)).sortWithinPartitions(key, order)
      .drop("__order").write.partitionBy(key).parquet(path)

  /** Order attributes for key `k` at version `v` (0 = the base load). */
  private def orderRow(k: Column, v: Column): Seq[Column] = Seq(
    k.as("o_orderkey"),
    (h(k, v, lit(1)) % 15000L + 1).as("o_custkey"),
    pick(h(k, v, lit(2)), Seq("F", "O", "P")).as("o_orderstatus"),
    round(u(k, v, lit(3)) * 500000.0 + 800.0, 2).as("o_totalprice"),
    date_add(lit("1992-01-01").cast("date"),
      (h(k, v, lit(4)) % 2400L).cast("int")).as("o_orderdate"),
    pick(h(k, v, lit(5)), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))

  /** The base `orders` table: keys `0 until n`. */
  def orders(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(orderRow(col("id"), lit(0L)): _*)

  /** `rounds` CDC batches over an `n`-key orders table, tagged by `r`.
    * Each batch changes about `size` keys: three in four are updates or
    * deletes of existing keys, skewed toward the newest keys (key =
    * n - 1 - n * u^4), and one in four inserts a key past every key
    * before it. Keys are distinct within a batch; a row's attributes
    * and its op are functions of (round, key), so duplicate draws
    * collapse to one row. */
  def cdc(spark: SparkSession, n: Long, rounds: Int, size: Int): DataFrame = {
    val old = (size * 3) / 4
    spark.range(rounds.toLong * size)
      .select((col("id") / size).cast("long").as("r"),
        (col("id") % size).as("j"))
      .select(col("r"), when(col("j") < old,
          lit(n - 1) - floor(pow(u(col("r"), col("j"), lit(20)), 4.0) *
            lit(n.toDouble)).cast("long"))
        .otherwise(lit(n) + col("r") * size + col("j")).as("k"),
        (col("j") >= old).as("fresh"))
      .select((col("r") +: orderRow(col("k"), col("r") + 1)) :+
        when(col("fresh"), lit("I"))
          .when(h(col("k"), col("r"), lit(21)) % 5L === 0L, lit("D"))
          .otherwise(lit("U")).as("op"): _*)
      .distinct()
  }

  /** A document of `len` words drawn from a fixed 5000-word vocabulary;
    * the word at position i is a function of (`key`, i). */
  private def words(key: Column, len: Column, salt: Int): Column =
    transform(sequence(lit(0), len - 1), i =>
      concat(lit("w"), (h(key, i, lit(salt)) % 5000L).cast("string")))

  /** The near-dup corpus, tagged by `part` (0 = the initial state, k + 1
    * = stream batch k). Part 0 holds `n0` documents. Each batch holds
    * `fresh` new documents and `twins` twins of initial documents whose
    * id is not a multiple of 4, each with 0 to 10 words replaced. The
    * batch after the e-th erase also holds a twin of every document
    * that erase removed ([[erased]]); those must be admitted. */
  def documents(spark: SparkSession, n0: Int, batches: Int, fresh: Int,
      twins: Int, eraseEvery: Int, eraseSize: Int): DataFrame = {
    val len = (h(col("src"), lit(30)) % 81L + 20).cast("int")
    def doc(idCol: Column, src: Column, part: Column, edits: Column) = {
      val base = words(src, len, 31)
      val noise = words(idCol, len, 32)
      // replace positions whose hash falls under the edit budget
      val toks = transform(sequence(lit(0), len - 1), i =>
        when(h(idCol, i, lit(33)) % len < edits, element_at(noise, i + 1))
          .otherwise(element_at(base, i + 1)))
      Seq(idCol.as("doc_id"), concat_ws(" ", toks).as("text"),
        part.as("part"))
    }
    val init = spark.range(n0.toLong).withColumn("src", col("id"))
      .select(doc(col("id"), col("src"), lit(0L), lit(0L)): _*)
    val perBatch = fresh + twins
    val stream = spark.range(batches.toLong * perBatch)
      .select((col("id") / perBatch).cast("long").as("k"),
        (col("id") % perBatch).as("j"))
      .withColumn("is_twin", col("j") >= fresh)
      .withColumn("doc", lit(1000000L) + col("k") * 10000L + col("j"))
      .withColumn("src", when(col("is_twin"),
        (h(col("k"), col("j"), lit(34)) % math.max(1L, n0 / 4L)) * 4L +
          h(col("k"), col("j"), lit(35)) % 3L + 1L)
        .otherwise(col("doc")))
      .filter(col("src") < n0 || !col("is_twin"))
      .select(doc(col("doc"), col("src"), col("k") + 1,
        when(col("is_twin"), element_at(array(Seq(0, 1, 2, 3, 6, 10)
          .map(x => lit(x.toLong)): _*),
          (h(col("doc"), lit(36)) % 6L + 1).cast("int")))
          .otherwise(lit(Long.MaxValue))): _*)
    val erasedTwins = (0 until batches / eraseEvery).flatMap { e =>
      val k = (e + 1) * eraseEvery
      if (k >= batches) None
      else Some(spark.createDataFrame(erased(n0, e, eraseSize).zipWithIndex
        .map { case (src, i) => (2000000L + k * 10000L + i, src) })
        .toDF("doc", "src")
        .select(doc(col("doc"), col("src"), lit(k + 1L),
          (h(col("doc"), lit(37)) % 3L)): _*))
    }
    (init +: stream +: erasedTwins).reduce(_ unionByName _)
  }

  /** Initial document ids removed by the e-th erase: multiples of 4,
    * disjoint across erases, from a seeded offset. */
  def erased(n0: Int, e: Int, size: Int): Seq[Long] = {
    val slots = math.max(1, n0 / 4)
    val off = java.lang.Math.floorMod(seed * 2654435761L, slots.toLong)
    (0 until size).map(j => ((off + e.toLong * size + j) % slots) * 4L)
      .distinct
  }
}
