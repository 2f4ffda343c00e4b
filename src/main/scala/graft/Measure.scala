package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one measurement core: the Spark-work counter, the between-
  * measurement cleanup and the repetition policy that Bench,
  * ScaleRehearsal and the tests all use. */
object Measure {

  /** Spark jobs started, and the stages submitted and tasks finished
    * under the counted job group. */
  final case class JobCounts(jobs: Int, stages: Int, tasks: Int)

  /** One measured body: its Spark work, its wall seconds and its
    * result. */
  final case class Measured[+T](counts: JobCounts, secs: Double, value: T)

  /** Runs `f` under its own job group and returns its result with the
    * Spark work it started and its wall seconds: every job start is
    * counted, and stages and tasks are counted per job group (only
    * `f`'s). A marker job then drains the listener bus — events arrive
    * in order, so once the marker's start is seen every earlier event
    * was counted. The marker runs after the timed window. */
  def once[T](spark: SparkSession)(f: => T): Measured[T] = {
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
      val t0 = System.nanoTime()
      val out = f
      val secs = (System.nanoTime() - t0) / 1e9
      sc.setJobGroup(markerGroup, "listener drain marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "listener bus not drained")
      Measured(JobCounts(jobs.get, stages.size, tasks.get), secs, out)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Between-measurement cleanup, run before every measured entry:
    * localCheckpoint blocks and cached tables stay pinned until driver
    * GC, and across 140+ queries that squeezed execution memory into
    * 5-10× in-battery slowdowns. */
  def quiesce(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    // drain GC debt left by the previous measurement so its cost isn't
    // billed to the next one
    System.gc()
    Thread.sleep(50)
  }

  /** [[quiesce]], then one counted run of `f` — for a body that cannot
    * be repeated (a refresh consumes its delta). */
  def quiesced[T](spark: SparkSession)(f: => T): Measured[T] = {
    quiesce(spark)
    once(spark)(f)
  }

  /** The one best-of-N: [[quiesce]], then counted runs of `f` — up to
    * 4, until the two fastest agree within 30% — and the fastest time
    * with the last (warmest) run. The shared host shows episodic
    * whole-JVM stalls that can span both runs of a plain best-of-two
    * (a scan-local codegen query has measured 15.9 s against 0.1 s
    * isolated), so unstable entries keep sampling; stable ones stop at
    * 2 runs. The min discards one-off JIT, GC and compile stalls, and
    * a first run that builds a session artifact. A run that throws
    * ends the loop with its exception. */
  def best[T](spark: SparkSession)(f: => T): (Double, Measured[T]) = {
    quiesce(spark)
    val runs = scala.collection.mutable.ArrayBuffer(once(spark)(f))
    def agreed = {
      val s = runs.map(_.secs).sorted
      s.size >= 2 && s(1) <= s(0) * 1.3
    }
    while (runs.size < 4 && !agreed) runs += once(spark)(f)
    (runs.map(_.secs).min, runs.last)
  }
}
