package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dump (not part of the driver contract):
  * `sbt "runMain graft.ExplainDump <outDir> <suffix> <sfDir> <q1> [q2 ...]"`
  * writes `<outDir>/<query>_<suffix>.txt` holding the FORMATTED
  * pre-execution plan followed by the FINAL adaptive executed plan
  * (executed first, so AQE's re-optimized shape — coalesced
  * AQEShuffleReads, runtime join changes — is what lands in the file).
  * Used for the optimization rounds' committed before/after plan
  * evidence under plans/rNN/. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0); val suffix = args(1); val sfDir = args(2)
    val names = args.drop(3).toSeq
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.build("graft-explain-dump")
    names.foreach { n =>
      // refresh-phase plan evidence (VERDICT r16 #8): route the IVM
      // planDump hook to a per-query dir while the entry executes, so
      // the committed file shows the REFRESH-internal plans (legs,
      // fold, recompute) the serve plan cannot — appended after the
      // serve plan below
      val dumpDir = Files.createTempDirectory(s"graft_plandump_$n")
      sys.props("graft.ivm.plandump") = dumpDir.toString
      val (df, formatted) =
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          val formatted = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString(
              "formatted"))
          df.queryExecution.toRdd.count()
          (df, formatted)
        } finally sys.props.remove("graft.ivm.plandump")
      val fin = df.queryExecution.executedPlan.toString
      val refreshPlans = {
        import scala.jdk.CollectionConverters._
        val fs = Files.list(dumpDir).iterator().asScala.toSeq
          .sortBy(_.getFileName.toString)
        fs.map(f => s"\n=== $n ($suffix) — refresh-phase plan: " +
          s"${f.getFileName} ===\n" + Files.readString(f)).mkString
      }
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"),
        s"=== $n ($suffix) — explain(formatted), pre-execution ===\n" +
          formatted +
          s"\n=== $n ($suffix) — final adaptive executed plan ===\n" +
          fin + refreshPlans)
      println(s"[explain] wrote ${n}_$suffix.txt")
    }
    spark.stop()
  }
}
