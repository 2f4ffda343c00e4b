package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import java.io.File
import scala.collection.mutable

/** One benchmark run of one workload in this JVM.
  *
  *   perfbench.PerfBench <workload> <data_dir> <work_dir> <seconds>
  *     <seed> <trace 0|1> <result.json>
  *
  * Set-up runs `SetupReps` times on fresh warehouses (the last one is
  * kept), then a closed loop with one client runs whole rounds of cycles
  * until `seconds` have passed.
  * Every op result is checked; the result file holds one flat JSON
  * object of metrics plus attempted/failed counts. */
object PerfBench {
  def main(argv: Array[String]): Unit = {
    val Array(workload, data, work, seconds, seed, trace, out) = argv
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.build("perfbench")
    val sessionS = (System.currentTimeMillis - jvmStart) / 1000.0
    Runner.log(f"session: $sessionS%.2f s")
    val ctx = new Ctx(spark, data, new File(work), seed.toLong,
      trace == "1")
    val w: Workload = workload match {
      case "oltp_mix" => new OltpMix(ctx)
      case "mv_maintain" => new MvMaintain(ctx)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val metrics = new Runner(ctx, w).run(sessionS, seconds.toDouble)
    Json.writeFile(new File(out), metrics)
    spark.stop()
    // a pool thread the program left running must not keep the JVM up
    sys.exit(0)
  }
}

/** What every workload shares: session, paths, seeded RNG, tracer, and
  * the op ledger. */
final class Ctx(val spark: SparkSession, val data: String, val work: File,
    seed: Long, traced: Boolean) {
  val rng = new scala.util.Random(seed)
  var warehouse: Option[File] = None
  val tracer = new Tracer(spark.sparkContext, traced, () => warehouse)
  /** op name → latencies (ms) in call order */
  val lat = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** the root span of every timed op, for per-op Spark work */
  val opSpans = mutable.ArrayBuffer[Span]()
  var attempted = 0
  var failed = 0
  /** workload-reported tallies behind the ratio metrics */
  val tally = mutable.Map[String, Double]().withDefaultValue(0.0)
  def count(key: String, by: Double = 1.0): Unit = tally(key) += by
  /** rows the client sent to the catalog, as text bytes: the base of
    * write amplification */
  def sent(rows: Seq[Row]): Unit =
    count("user_bytes", rows.map(_.mkString(",").length + 1).sum)

  /** Times one operation as a root span. A throw or a false `check` on
    * its result counts the op as failed; the loop goes on. */
  def op[T](name: String)(body: => T)(check: T => Boolean): Option[T] = {
    attempted += 1
    try {
      val (out, s) = tracer.span(name)(body)
      lat.getOrElseUpdate(name, mutable.ArrayBuffer()) +=
        (s.endNs - s.startNs) / 1e6
      opSpans += s
      if (!check(out)) {
        failed += 1
        System.err.println(s"[perfbench] $name returned a wrong result")
      }
      Some(out)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** A call into a layer inside an op: a child span. */
  def call[T](name: String)(body: => T): T = tracer.span(name)(body)._1

  def freshWarehouse(rep: Int): File = {
    val d = new File(work, s"wh$rep")
    Runner.rmTree(d)
    d.mkdirs()
    warehouse = Some(d)
    d
  }
}

/** A closed-loop workload: `setUp` builds fixtures on a fresh warehouse
  * (timed, repeated), `cycle` sends one cycle of ops. */
trait Workload {
  /** op names in cycle order; their latencies make the end-to-end
    * metrics */
  def ops: Seq[String]
  /** cycles after which the workload's op variants repeat; the loop
    * stops only after whole rounds, so every run has the same mix, and
    * per-layer counts cover the first round */
  def round: Int
  /** builds the fixture on a fresh warehouse and resets the client's
    * model of it; returns (ingest_s, mv_build_s) */
  def setUp(rep: Int): (Double, Double)
  /** untimed ops on the first fixture that reach every code path the
    * loop takes */
  def warmUp(): Unit
  def cycle(i: Int): Unit
}

final class Runner(ctx: Ctx, w: Workload) {
  import Runner._

  def run(sessionS: Double, seconds: Double): Map[String, (Double, String)] = {
    // the first set-up and the warm-up run cold (JIT, codegen); the
    // later set-ups are the steady cost, and the loop uses the last one
    var warm = 0.0
    val reps = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime
      val (ingest, build) = w.setUp(r)
      val total = (System.nanoTime - t0) / 1e9
      if (r == 1) {
        val w0 = System.nanoTime
        w.warmUp()
        warm = (System.nanoTime - w0) / 1e9
      }
      log(f"set-up $r: $total%.2f s (ingest $ingest%.2f, build $build%.2f)")
      (total, ingest, build)
    }
    log(f"warm-up: $warm%.2f s")
    ctx.lat.clear(); ctx.opSpans.clear(); ctx.tally.clear()
    ctx.attempted = 0; ctx.failed = 0
    (1 until SetupReps).foreach(r =>
      rmTree(new File(ctx.work, s"wh$r")))
    val setupS = sessionS + median(reps.map(_._1)) + warm
    val gc0 = gcMs()
    val t0 = System.nanoTime
    var i = 0
    while ((System.nanoTime - t0) / 1e9 < seconds || i == 0 ||
        i % w.round != 0) {
      ctx.tracer.setCycle(i)
      w.cycle(i)
      i += 1
    }
    val gc = gcMs() - gc0
    log(f"loop: $i cycles in ${(System.nanoTime - t0) / 1e9}%.2f s")
    ctx.lat.foreach { case (o, xs) =>
      log(s"$o ms: ${xs.map(x => f"$x%.0f").mkString(" ")}") }
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    m("setup_s") = (setupS, "s")
    // twice, so blocks the first collection releases to Spark's
    // cleaner are gone before the heap is read
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heap = Runtime.getRuntime
    m("heap_retained_mb") =
      ((heap.totalMemory - heap.freeMemory) / 1048576.0, "MB")
    m("jvm.peak_rss_mb") = (peakRssMb(), "MB")
    w.ops.foreach(o =>
      m(s"$o.p50_ms") = (median(ctx.lat.getOrElse(o, Nil).toSeq), "ms"))
    // every sample counts, each op type weighs the same
    val logMeans = w.ops.map(o => ctx.lat.getOrElse(o, Nil)).filter(_.nonEmpty)
      .map(xs => xs.map(math.log).sum / xs.size)
    m("op_geomean_ms") = (if (logMeans.isEmpty) 0.0
      else math.exp(logMeans.sum / logMeans.size), "ms")
    val busy = ctx.lat.values.flatten.sum / 1000.0
    m("ops_per_s") = (if (busy == 0) 0.0
      else ctx.lat.values.map(_.size).sum / busy, "1/s")
    m("cycles") = (i.toDouble, "count")
    m("attempted") = (ctx.attempted.toDouble, "count")
    m("failed") = (ctx.failed.toDouble, "count")
    if (ctx.tracer.enabled) {
      ctx.tracer.flush()
      m ++= layers(ctx, w, gc, reps, sessionS)
      ctx.tracer.writeSpans(new File(ctx.work, "spans.jsonl"))
    }
    m.toMap
  }
}

object Runner {
  /** set-ups per run; their median is part of `setup_s` */
  val SetupReps = 3

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** every op any workload runs; the traced output names all of them so
    * each workload prints the same per-layer keys */
  val AllOps = Seq("upsert", "point_read", "range_read", "agg_read",
    "delta", "refresh_join", "refresh_single", "mv_serve") ++
    MvMaintain.Adhoc.map(MvMaintain.AdhocOp)
  val ReadOps = Set("point_read", "range_read", "agg_read", "mv_serve") ++
    MvMaintain.Adhoc.map(MvMaintain.AdhocOp)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Length of the union of [start, end] intervals, in ms. */
  def covered(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The highest order statistic with at least 10 samples above it (the
    * minimum when there are 10 or fewer samples). */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.max(0, xs.size - 11))

  /** Per-layer metrics of a traced run. Counts cover the ops of the
    * first round only, so a fixed seed repeats them exactly; latencies
    * cover every op. */
  def layers(ctx: Ctx, w: Workload, gc: Long,
      reps: Seq[(Double, Double, Double)], sessionS: Double)
      : Map[String, (Double, String)] = {
    val work = ctx.tracer.workByRoot()
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    AllOps.foreach { o =>
      val xs = ctx.lat.getOrElse(o, Nil).toSeq
      val window = ctx.opSpans.filter(s => s.name == o &&
        s.cycle < w.round)
      val n = window.size.max(1).toDouble
      val ws = window.flatMap(s => work.get(s.id))
      def per(f: Work => Long): Double = ws.map(f).sum / n
      m(s"$o.p50_ms") = (median(xs), "ms")
      m(s"$o.tail_ms") = (tail(xs), "ms")
      m(s"$o.samples") = (xs.size.toDouble, "count")
      m(s"$o.jobs") = (per(_.jobs), "count")
      m(s"$o.stages") = (per(_.stages), "count")
      m(s"$o.tasks") = (per(_.tasks), "count")
      m(s"$o.task_ms") = (per(_.taskMs), "ms")
      m(s"$o.shuffle_bytes") = (per(_.shuffleBytes), "bytes")
      m(s"$o.records_read") = (per(_.recordsRead), "count")
      if (!ReadOps(o))
        m(s"$o.files_written") = (window.map(_.filesWritten).sum / n,
          "count")
      val all = ctx.opSpans.filter(_.name == o)
      val driver = all.map { s =>
        val wall = (s.endNs - s.startNs) / 1e6
        wall - work.get(s.id).map(x => covered(x.jobSpans.toSeq)).getOrElse(0L)
      }
      m(s"$o.driver_ms") = (median(driver.toSeq), "ms")
    }
    val t = ctx.tally
    m("catalog.cache_hit_ratio") =
      (t("catalog.cache_reads") / t("catalog.reads").max(1), "ratio")
    val wh = ctx.warehouse.toSeq
    m("catalog.data_files") = (wh.flatMap(d => Option(d.listFiles()).toSeq
      .flatten.filterNot(_.getName.startsWith("_"))
      .map(t => Tracer.parquetFiles(new File(t, "data")).size)).sum
      .toDouble, "count")
    val written = ctx.opSpans.filter(s => s.name == "upsert" ||
      s.name == "delta").map(_.bytesWritten).sum
    m("catalog.bytes_per_user_byte") =
      (written / t("user_bytes").max(1), "ratio")
    m("mv.state_files") = (wh.map(d =>
      Tracer.parquetFiles(new File(d, "_mv")).size).sum.toDouble, "count")
    m("mv_serve.mv_hit_ratio") =
      (t("mv.served") / t("mv.serves").max(1), "ratio")
    m("setup.session_s") = (sessionS, "s")
    m("setup.ingest_s") = (median(reps.map(_._2)), "s")
    m("setup.mv_build_s") = (median(reps.map(_._3)), "s")
    m("jvm.gc_ms") = (gc.toDouble, "ms")
    val opNs = ctx.opSpans.map(s => s.endNs - s.startNs).sum.max(1L)
    m("trace.overhead_frac") =
      (ctx.tracer.selfNs.get.toDouble / opNs, "ratio")
    m.toMap
  }
}

/** Flat JSON for the result file: {"name": {"value": v, "unit": u}}. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeFile(f: File, m: Map[String, (Double, String)]): Unit = {
    val body = m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": $v, \"unit\": ${str(u)}}"
    }.mkString("{", ", ", "}")
    java.nio.file.Files.writeString(f.toPath, body)
  }
}
