package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants — the shape the external gate depends on. */
class ContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("every query carries an oracle (zero rows-only entries)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o,
      s"queries without oracle: ${(q -- o).toSeq.sorted.mkString(", ")}; " +
        s"oracles without query: ${(o -- q).toSeq.sorted.mkString(", ")}")
  }

  test("a failed bench query is recorded by exception class and first " +
      "message line, as a valid JSON string") {
    val rec = Bench.failure(new IllegalStateException(
      "state \"x\" at C:\\tmp\tis gone\nstack detail"))
    assert(rec == "java.lang.IllegalStateException: state \"x\" at " +
      "C:\\tmp\tis gone")
    assert(Bench.failure(new NullPointerException()) ==
      "java.lang.NullPointerException: ")
    val json = s"""{"errors":{"q":${Bench.jsonString(rec)}}}"""
    assert(json == "{\"errors\":{\"q\":\"java.lang.IllegalStateException: " +
      "state \\\"x\\\" at C:\\\\tmp\\u0009is gone\"}}", json)
    assert(new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      .get("errors").get("q").asText() == rec)
  }

  test("the bench record carries each query's compiles and compile ms") {
    // a literal no earlier query used: its generated code is new
    val (_, (n, ms)) = Bench.codegenOf(spark.range(5)
      .selectExpr(s"id * ${System.nanoTime()} AS x").collect())
    assert(n >= 1 && ms > 0.0, s"$n compiles in $ms ms")
    val (_, warm) = Bench.codegenOf(spark.range(5).count())
    val json = s"""{"codegen":${Bench.codegenJson(Seq("q\"1" -> (n, ms),
      "q2" -> warm))}}"""
    val rec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json).get("codegen")
    assert(rec.size == 2, json)
    val q1 = rec.get("q\"1")
    assert(q1.size == 2 && q1.get("compiles").isIntegralNumber &&
      q1.get("compiles").asLong == n && q1.get("compile_ms").isNumber &&
      math.abs(q1.get("compile_ms").asDouble - ms) < 1e-3, json)
    assert(rec.get("q2").get("compiles").asLong == warm._1, json)
  }

  test("flagship entry returns rows (driver smoke gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("testdata contract: live corpus validates; drift fails named") {
    import graft.sources.TestdataContract
    // every SF dir the driver uses must satisfy the contract
    Seq("sf0.001", "sf0.01").foreach(sf =>
      TestdataContract.validate(spark, s"/root/testdata/$sf"))
    // intentionally-drifted fixture: events.ts re-encoded as STRING —
    // the validator must name the exact table.column, not crash later
    val dir = graft.sources.Staging.tempDir("graft_drift_")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      val src = java.nio.file.Paths.get(s"${TestSpark.sf}/$t.parquet")
      java.nio.file.Files.copy(src,
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    spark.read.parquet(s"${TestSpark.sf}/events.parquet")
      .withColumn("ts", org.apache.spark.sql.functions
        .col("ts").cast("string"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events_stage")
    val part = new java.io.File(s"$dir/events_stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val e = intercept[IllegalStateException] {
      TestdataContract.validate(spark, dir)
    }
    assert(e.getMessage.contains("events.ts"), e.getMessage)
    assert(e.getMessage.contains("string"), e.getMessage)
  }

  test("no driver-facing schema carries DECIMAL or array columns") {
    // parquet DECIMAL arrives driver-side as Python Decimal (never
    // hash-equal to the oracle's floats); arrays crash the pandas sort —
    // see Deterministic.doubleBoundary. Constructing a query frame is
    // analysis-only for most entries; the DDL/stream ones execute their
    // (sf0.001-sized) side effects, which keeps this spec honest about
    // the schema the driver actually receives.
    import org.apache.spark.sql.types._
    SparkEntry.queries.foreach { case (name, fn) =>
      val schema = fn(spark, TestSpark.sf).schema
      schema.fields.foreach { f =>
        // banning struct/array/map at the top level also covers anything
        // nested (nesting can only occur under one of them)
        val bad = f.dataType match {
          case _: DecimalType | _: ArrayType | _: MapType | _: StructType =>
            true
          case _ => false
        }
        assert(!bad,
          s"$name.${f.name} is ${f.dataType.simpleString} — driver hash " +
            "will fail (decimal, or a container that can hide one)")
      }
    }
    spark.catalog.clearCache()
  }
}
