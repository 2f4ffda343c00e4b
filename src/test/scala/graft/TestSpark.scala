package graft

import org.apache.spark.sql.SparkSession

/** The ONE SparkSession every suite shares. Session extensions only
  * apply at construction time — a suite that called getOrCreate()
  * with its own builder would silently inherit whichever session some
  * earlier suite created (and drop its extensions), making results
  * depend on suite order. Centralizing the builder makes the session
  * deterministic: extensions always installed, one JVM-wide session,
  * same config the per-suite builders used.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftSparkExtensions()(_))
      .appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
