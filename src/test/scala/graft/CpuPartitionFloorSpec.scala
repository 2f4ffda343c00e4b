package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** r17 pin for the dedup kernels' CPU-exchange sizing (VERDICT r16
  * #5): the explicit partition count must be a FLOOR over the core
  * count that GROWS with the input's estimated bytes — a fixed
  * `defaultParallelism` funnels a 100 TB corpus into #cores multi-GB
  * tasks (guide §2.2/§5), while pure byte-based AQE coalescing folds a
  * small compute-heavy corpus into one task. The scale-rehearsal cell:
  * same plan shape, partition count scales with input size. */
class CpuPartitionFloorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def repartitionN(df: org.apache.spark.sql.DataFrame): Int = {
    val pat = "RepartitionByExpression \\[[^\\]]*\\], (\\d+)".r
    val plan = df.queryExecution.optimizedPlan.toString
    pat.findFirstMatchIn(plan)
      .getOrElse(fail(s"no RepartitionByExpression with explicit N " +
        s"in plan:\n$plan")).group(1).toInt
  }

  test("small corpus floors at defaultParallelism (one wave, " +
      "no local regression)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("id", "text")
    val n = repartitionN(Dedup.simhashSignatures(docs, "text", "id"))
    assert(n == spark.sparkContext.defaultParallelism)
  }

  test("an input without statistics keeps the core floor instead of " +
      "fanning out to 2^22 partitions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // an RDD-backed plan reports defaultSizeInBytes (Long.MaxValue):
    // an unknown size, not a huge one
    val rows = spark.sparkContext.parallelize(
      Seq(Row(1L, "a b c"), Row(2L, "d e f")), 2)
    val docs = spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType), StructField("text", StringType))))
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes >=
      spark.sessionState.conf.defaultSizeInBytes)
    assert(repartitionN(Dedup.simhashSignatures(docs, "text", "id")) ==
      spark.sparkContext.defaultParallelism)
  }

  test("partition count grows past the core floor with input size") {
    // ~100M rows × ~30B estimated (Catalyst prices a string at its
    // 20-byte default) ≫ cores × advisory(64m): the floor must scale
    // with bytes, not stick at the core count. Plan-only — nothing
    // executes.
    val docs = spark.range(0, 100L * 1000 * 1000)
      .select(col("id"), concat(lit("w "), col("id").cast("string"),
        lit(" the quick brown fox jumps over the lazy dog " * 2))
        .as("text"))
    val n = repartitionN(Dedup.simhashSignatures(docs, "text", "id"))
    assert(n > spark.sparkContext.defaultParallelism,
      s"expected a bytes-scaled count above " +
        s"${spark.sparkContext.defaultParallelism}, got $n")
  }
}
