package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.NearDupState
import graft.sources.{Sources, Staging}

/** Spark's generated-code cache stays warm across stream drains and
  * repeated operations (the two pins in [[graft.sessions.Sessions]]):
  * a steady drain or erase compiles a handful of classes, not its whole
  * plan again. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The classes Spark compiled while `f` ran. */
  private def compiles(f: => Unit): Long = Bench.codegenOf(f)._2._1

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def docs = Sources.testTable(spark, TestSpark.sf, "documents")

  /** A near-dup state of 100 documents fed the way a scheduled load
    * feeds it: each cycle erases one state document, lands 30 fresh
    * documents plus a few twins as parquet, and drains them with an
    * `AvailableNow` stream whose `foreachBatch` probes and advances the
    * state with a verdict table. */
  private final class Cycles(prefix: String) {
    private val root = Staging.tempDir(prefix)
    private val (state, verd, in) =
      (s"$root/bands", s"$root/verdicts", s"$root/in")
    NearDupState.init(spark, docs.filter(col("doc_id") < 100), state)

    def erase(k: Int): Unit = {
      val subject = docs.filter(col("doc_id") === 3L + 2 * k)
        .select(col("doc_id"), col("text"))
      NearDupState.erase(spark, state, subject.select("doc_id"),
        texts = Some(subject)): Unit
    }

    def land(k: Int): Unit = {
      val lo = 100L + 30 * k
      docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 30)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === k &&
          col("doc_id") < 100)
          .select((col("doc_id") + 9000 + lo).as("doc_id"), col("text")))
        .write.mode("append").parquet(in)
    }

    def drain(): Unit = spark.readStream.schema(schema).parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        NearDupState.probeAndAdvance(spark, state, batch, bid,
          verdictTable = Some(verd)).count(): Unit
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  // each drain runs on a clone of the session: without the isolation
  // pin its tasks load generated classes through a fresh classloader,
  // which the cache keys on (about 45 compiles a drain)
  test("a steady AvailableNow drain into NearDupState compiles at most " +
      "6 classes") {
    val c = new Cycles("graft_cgdrain_")
    (0 until 2).foreach { k => c.land(k); c.drain() }
    c.land(2)
    val n = compiles(c.drain())
    assert(n <= 6, s"the third drain compiled $n classes")
  }

  // one erase + drain cycle holds more generated classes than Spark's
  // default cache of 100 (local mode caches each class under the
  // driver's and the executor's loader), so without the size pin each
  // erase finds its classes evicted by the drain before it
  test("an erase between drains compiles at most 3 classes") {
    val c = new Cycles("graft_cgerase_")
    (0 until 2).foreach { k => c.erase(k); c.land(k); c.drain() }
    val n = compiles(c.erase(2))
    assert(n <= 3, s"the third erase compiled $n classes")
  }
}
