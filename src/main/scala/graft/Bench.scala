package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Timing executes the FULL physical plan via queryExecution.toRdd.count()
  * — a plain df.count() lets Spark drop the final projection for
  * project-only queries and understates scan/expression cost.
  *
  * Each entry is timed by [[Measure.best]]: a quiesce pause, then the
  * adaptive best-of-N, so full-battery per-query numbers track isolated
  * runs despite same-JVM interference (GC debt, codegen-cache churn from
  * 200+ distinct plans).
  *
  * Output contract (the driver keeps only a ~4 KB tail of the run log):
  *  - bench_out.json and bench_out.c<cpus>.json hold the full record:
  *    `queries` (name → best seconds, null for a failed entry), `jobs`
  *    and `tasks` (the Spark work of the entry's last, warm run) and
  *    `artifact_build` (seconds of each session artifact build);
  *  - stdout prints two lines, each at most 4 KB: a per-query line
  *    (the slowest entries at 2 decimals, failures first as null, until
  *    [[PerQueryBudget]] bytes; then `rest_n` and `rest_sec` for the
  *    rest), then the total-only line, LAST, which the driver parses.
  */
object Bench {
  /** One entry's result: its best seconds and its last run's work. */
  final case class Entry(secs: Double, counts: Measure.JobCounts)

  /** Byte budget of the per-query stdout line. */
  val PerQueryBudget = 3500

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    def execute(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
    // one warm-up of the session (JIT + codegen caches) on a fixed query
    // so run-to-run numbers are comparable
    SparkEntry.queries.keys.toSeq.sorted.headOption.foreach { n =>
      try execute(n) catch { case _: Throwable => () }
    }
    // optional args = subset of query names (local iteration); the driver
    // passes none and gets the full battery
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq
    // a failed query records None — NOT a phantom sub-second "timing" of
    // the failure path (that shape hid q_date_round's crash for two
    // rounds); failures surface as null in the map + a "failed" count
    val results = names.sorted.map { name =>
      name -> (try {
        val (secs, last) = Measure.best(spark)(execute(name))
        Some(Entry(secs, last.counts))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      })
    }
    // persisted-index builds happen once per session (queries.Artifacts)
    // and the adaptive min discards the build-bearing first run, so the
    // per-query map times the SERVING path; the build cost is reported
    // once, not hidden
    import scala.jdk.CollectionConverters._
    // buildSeconds is keyed (name, dir); report THIS run's dir only —
    // a both-scale JVM would otherwise mix scales in one map
    val builds = graft.queries.Artifacts.buildSeconds.asScala.toSeq
      .collect { case ((n, d), v) if d == sfDir => n -> v.doubleValue }
    val full = fullRecord(results, builds, sfDir)
    Files.writeString(Paths.get("bench_out.json"), full + "\n")
    // per-core-count archive: the driver runs the bench at two core
    // counts back-to-back, and bench_out.json alone kept only the last
    // run's map (r16's 32-core per-query map was lost to it)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    Files.writeString(Paths.get(s"bench_out.c$cpus.json"), full + "\n")
    stdoutLines(results, sfDir).foreach(println)
    spark.stop()
  }

  private def fmt(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def fmt2(v: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, v)

  private def total(results: Seq[(String, Option[Entry])]): Double =
    results.flatMap(_._2).map(_.secs).sum
  private def failed(results: Seq[(String, Option[Entry])]): Int =
    results.count(_._2.isEmpty)

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The bench_out.json record: every entry ascending by time, failures
    * (null) last. */
  def fullRecord(results: Seq[(String, Option[Entry])],
      builds: Seq[(String, Double)], sf: String): String = {
    val sorted = results.sortBy { case (_, e) =>
      e.map(_.secs).getOrElse(Double.MaxValue) }
    def map(f: Entry => String) =
      obj(sorted.map { case (k, e) => k -> e.map(f).getOrElse("null") })
    val artifacts = obj(builds.sorted.map { case (k, v) => k -> fmt(v) })
    s"""{"metric":"total","value":${fmt(total(results))},"unit":"sec",""" +
      s""""failed":${failed(results)},"artifact_build":$artifacts,""" +
      s""""queries":${map(e => fmt(e.secs))},""" +
      s""""jobs":${map(_.counts.jobs.toString)},""" +
      s""""tasks":${map(_.counts.tasks.toString)},"sf":"$sf"}"""
  }

  /** The stdout lines: the per-query line, then the total line, which
    * must come last. */
  def stdoutLines(results: Seq[(String, Option[Entry])],
      sf: String): Seq[String] = {
    // failures first, then slowest first: whatever the budget cuts off
    // is the cheap tail, summed into rest_n / rest_sec
    val ranked = results.sortBy { case (_, e) =>
      e.map(-_.secs).getOrElse(Double.MinValue) }
    def line(n: Int) = {
      val (shown, rest) = ranked.splitAt(n)
      s"""{"metric":"per_query","unit":"sec",""" +
        s""""queries":${obj(shown.map { case (k, e) =>
          k -> e.map(x => fmt2(x.secs)).getOrElse("null") })},""" +
        s""""rest_n":${rest.size},"rest_sec":${fmt2(total(rest))}}"""
    }
    val fits = (0 to ranked.size).takeWhile(n =>
      line(n).getBytes("UTF-8").length <= PerQueryBudget)
    Seq(line(fits.last),
      s"""{"metric":"total","value":${fmt(total(results))},"unit":"sec",""" +
        s""""failed":${failed(results)},"sf":"$sf"}""")
  }
}
