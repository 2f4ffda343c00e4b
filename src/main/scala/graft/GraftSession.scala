package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession builder for Verify/Bench/tests.
  *
  * Tuned for the driver's local[N] harness but with settings that hold on a
  * real cluster: AQE on (runtime re-plan, skew-join handling, partition
  * coalescing), shuffle partitions sized to the parallelism at hand instead
  * of the 200 default, UTC session timezone for oracle parity.
  */
object GraftSession {
  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // MV-served aggregate rewrite (graft.plans.AggRewriteRule); inert
      // until a view is registered via GraftAggViews
      .withExtensions(new graft.plans.GraftSparkExtensions()(_))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // size post-shuffle partitions by BYTES (advisory 64m default),
      // not by the core count: with the default parallelismFirst=true
      // every small shuffle fans out to exactly `cpus` reduce tasks
      // (task-scheduling overhead ×32 here; ×10k on a cluster), and at
      // scale the partition count derives from input size instead of a
      // constant — the scale-adaptive shape the optimization guide §2
      // prescribes.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // pin runtime skew-join splitting (hot keys at 100 TB); salted
      // aggregation for skewed groupBys lives in operators.Skew
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; this workload
      // (and any multi-tenant analytics deployment) runs 100+ distinct
      // plan shapes per session, so the default guarantees eviction→
      // recompile churn (~0.3-0.8s per wide projection). Static conf —
      // must be set before the first session.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // Parquet scans: vectorized reader + pushdown are defaults; pin them
      // so a driver-side conf change can't silently regress scan perf.
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      // some testdata generations stored events.ts as TIMESTAMP(NANOS)
      // (Spark has no nanosecond timestamp type — read those as long);
      // current fixtures are TIMESTAMP(MICROS, NTZ). Tables.normalizeTs
      // handles either; this setting is inert for non-NANOS columns.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
