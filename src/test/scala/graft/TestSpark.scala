package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
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

  /** What [[countJobs]] saw: Spark jobs started, and the stages
    * submitted and tasks finished under the counted job group. */
  final case class JobCounts(jobs: Int, stages: Int, tasks: Int)

  /** Runs `f` under its own job group and returns its result with the
    * Spark work it started: every job start is counted, and stages and
    * tasks are counted per job group (only `f`'s). A marker job drains
    * the listener bus — events arrive in order, so once the marker's
    * start is seen every earlier event was counted. */
  def countJobs[T](f: => T): (JobCounts, T) = {
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime}"
    val markerGroup = s"$group-marker"
    def inGroup(p: java.util.Properties, g: String) =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == g)
    val jobs = new AtomicInteger()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e.properties, markerGroup)) marker.countDown()
        else jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (inGroup(e.properties, group)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = f
      sc.setJobGroup(markerGroup, "listener drain marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "listener bus not drained")
      (JobCounts(jobs.get, stages.size, tasks.get), out)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
