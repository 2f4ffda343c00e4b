package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** A span around one call: `parent` is the enclosing span's id (-1 for
  * a root), `op` the root's id, shared by every span of one operation.
  * Root spans of a traced run also count the parquet files (and their
  * bytes) that appeared under the warehouse while they ran. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    cycle: Int, startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    filesWritten: Int, bytesWritten: Long)

/** Per-op Spark work, filled from listener events. */
final class Work {
  var jobs, stages, tasks = 0
  var taskMs, shuffleBytes, recordsRead = 0L
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
}

/** Records spans in memory and counts Spark work per op through a
  * listener it registers itself. With `enabled = false` it only times
  * calls: no listener, no file counting, no job tags. */
final class Tracer(sc: SparkContext, val enabled: Boolean,
    fileRoot: () => Option[java.io.File]) {
  import Tracer.OpKey

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  private var cycle = -1
  /** nanoseconds the tracer spent on its own bookkeeping, on the client
    * thread and on the listener bus */
  val selfNs = new java.util.concurrent.atomic.AtomicLong()

  // listener state (listener-bus thread only until `flush` returns)
  private case class Job(op: Option[Int], startMs: Long, stages: Seq[Int],
      var endMs: Long = -1L)
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageOp = mutable.Map[Int, Option[Int]]()
  private val stageSubmits = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[Int, Array[Long]]()
  @volatile private var flushed = false

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))
      .flatMap(_.toIntOption)

  private val listener = new SparkListener {
    private def timed(body: => Unit): Unit = {
      val t = System.nanoTime
      body
      selfNs.addAndGet(System.nanoTime - t)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      if (opOf(e.properties).contains(Tracer.FlushOp)) ()
      else jobs(e.jobId) = Job(opOf(e.properties), e.time,
        e.stageInfos.map(_.stageId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId) match {
        case Some(j) => j.endMs = e.time
        case None => flushed = true
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      timed {
        val id = e.stageInfo.stageId
        stageSubmits(id) = stageSubmits.getOrElse(id, 0) + 1
        if (!stageOp.contains(id)) stageOp(id) = opOf(e.properties)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val a = stageTasks.getOrElseUpdate(e.stageId, new Array[Long](4))
      a(0) += 1
      Option(e.taskMetrics).foreach { m =>
        a(1) += m.executorRunTime
        a(2) += m.shuffleWriteMetrics.bytesWritten
        a(3) += m.inputMetrics.recordsRead
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def setCycle(c: Int): Unit = cycle = c

  private def files(): Map[String, Long] = fileRoot() match {
    case Some(root) if enabled =>
      val t = System.nanoTime
      val out = Tracer.parquetFiles(root).map(f => f.getPath -> f.length)
        .toMap
      selfNs.addAndGet(System.nanoTime - t)
      out
    case _ => Map.empty
  }

  /** Runs `body` as span `name` under the innermost open span; every
    * Spark job it submits is tagged with this span's id. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val op = if (stack.isEmpty) id else stack.last
    val before = if (stack.isEmpty) files() else Map.empty[String, Long]
    val prior = sc.getLocalProperty(OpKey)
    if (enabled) sc.setLocalProperty(OpKey, id.toString)
    stack.push(id)
    val startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    try {
      val out = body
      val t1 = System.nanoTime
      val endMs = System.currentTimeMillis
      stack.pop()
      if (enabled) sc.setLocalProperty(OpKey, prior)
      val written =
        if (parent == -1 && enabled) files() -- before.keys
        else Map.empty[String, Long]
      val s = Span(id, name, parent, op, cycle, t0, t1, startMs, endMs,
        written.size, written.values.sum)
      spans += s
      (out, s)
    } catch {
      case e: Throwable =>
        stack.pop()
        if (enabled) sc.setLocalProperty(OpKey, prior)
        spans += Span(id, name, parent, op, cycle, t0, System.nanoTime,
          startMs, System.currentTimeMillis, 0, 0L)
        throw e
    }
  }

  /** Waits until the listener has seen every event posted so far: a
    * marker job's end arrives after all earlier events on the bus. */
  def flush(): Unit = if (enabled) {
    sc.setLocalProperty(OpKey, Tracer.FlushOp.toString)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(OpKey, null)
    val deadline = System.currentTimeMillis + 30000
    while (!flushed && System.currentTimeMillis < deadline) Thread.sleep(5)
    require(flushed, "listener events did not drain")
  }

  /** Spark work per root span id. A job without a tag (submitted from a
    * thread created before the span opened) goes to the root span whose
    * interval holds its start. */
  def workByRoot(): Map[Int, Work] = {
    val byId = spans.map(s => s.id -> s).toMap
    def root(id: Int): Int = byId.get(id) match {
      case Some(s) if s.parent >= 0 => root(s.parent)
      case _ => id
    }
    val roots = spans.filter(_.parent == -1)
    def byTime(ms: Long): Option[Int] =
      roots.find(s => s.startMs <= ms && ms <= s.endMs).map(_.id)
    val out = mutable.Map[Int, Work]()
    val stageRoot = mutable.Map[Int, Int]()
    jobs.values.foreach { j =>
      j.op.orElse(byTime(j.startMs)).map(root).foreach { r =>
        val w = out.getOrElseUpdate(r, new Work)
        w.jobs += 1
        w.jobSpans += ((j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
        j.stages.foreach(st => stageRoot.getOrElseUpdate(st, r))
      }
    }
    stageSubmits.foreach { case (st, n) =>
      stageOp.get(st).flatten.map(root).orElse(stageRoot.get(st))
        .foreach { r =>
          val w = out.getOrElseUpdate(r, new Work)
          w.stages += n
          stageTasks.get(st).foreach { a =>
            w.tasks += a(0).toInt
            w.taskMs += a(1)
            w.shuffleBytes += a(2)
            w.recordsRead += a(3)
          }
        }
    }
    out.toMap
  }

  /** Writes every span as one JSON line. */
  def writeSpans(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"cycle":${s.cycle},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"files_written":${s.filesWritten}}""")
    } finally w.close()
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val FlushOp = -7

  def parquetFiles(root: java.io.File): Seq[java.io.File] =
    Option(root.listFiles()).toSeq.flatten.flatMap { c =>
      if (c.isDirectory) parquetFiles(c)
      else if (c.getName.endsWith(".parquet")) Seq(c)
      else Nil
    }
}
