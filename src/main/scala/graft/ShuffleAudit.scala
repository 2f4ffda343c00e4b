package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Shuffle-volume audit: execute selected battery queries and report the
  * BYTES each one actually shuffles (summed over every shuffle exchange
  * in the finalized adaptive plan, reused exchanges counted once).
  *
  * Why it exists: the scale design rests on claims of the form "only
  * 8/16-byte digests ride the pair shuffle — the text/payload never
  * leaves its scan partition". Plan pins prove the SHAPE (which operators
  * exchange on which keys); this audit converts the claim into a
  * NUMBER — shuffled bytes vs the table's on-disk input bytes — so a
  * regression that starts shipping payloads through an exchange (a lost
  * projection, a widened struct) shows up as a 100× byte jump even while
  * the plan shape and the results stay green. Run ad hoc:
  *
  *   sbt "runMain graft.ShuffleAudit /root/testdata/sf0.1 [q1 q2 ...]"
  *
  * Measured numbers for the dedup/sketch tier are recorded in SCALE.md.
  */
object ShuffleAudit {

  /** Default probe set: the queries whose docs claim digest/signature/
    * sketch-sized shuffles over payload-sized inputs, plus the
    * join/temporal tier whose claims are broadcast-dims / one-key-
    * exchange / equi-shuffle-not-nested-loop (both SCALE.md tables). */
  private val Defaults = Seq(
    "q1_agg", "q_dedup_exact", "q_dedup_fingerprint", "q_dedup_minhash",
    "q_dedup_simhash", "q_dedup_simhash_incremental", "q_line_dedup",
    "q_dedup_cross_source",
    "q_image_dedup", "q_audio_dedup", "q_image_dedup_incremental",
    "q_audio_dedup_incremental", "q_dau_mau", "q_cohort_retention",
    "q_overlap_sketch", "q_retention_sketch", "q_knn_cosine_int8",
    "q_asof_join", "q_asof_join_bucketed", "q_sessionize", "q_tpch_q5",
    "q_tpch_q21", "q_range_join", "q_funnel", "q_star_join",
    "q_epoch_shuffle")

  /** Committed per-query shuffle-byte BUDGETS (src/main/resources/
    * shuffle_budgets.txt, `<sf-basename>/<query> <maxBytes>` — measured
    * bytes × ~3 headroom): the audit run FAILS (exit 1) when a query
    * shuffles past its budget, so a regression that starts shipping
    * payloads through an exchange (a lost projection, a widened struct)
    * trips a gate instead of waiting for a human to re-read the table.
    * Queries/scales without a budget line report but don't gate. */
  def budgets: Map[String, Long] = {
    val in = getClass.getResourceAsStream("/shuffle_budgets.txt")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val p = l.split("\\s+"); p(0) -> p(1).toLong }.toMap
    finally in.close()
  }

  /** Budget check, pure so the trip-wire is unit-testable: returns one
    * breach line per measured query whose bytes exceed its budget. */
  def budgetBreaches(measured: Seq[(String, Long)],
      budgets: Map[String, Long], sfBase: String): Seq[String] =
    measured.flatMap { case (n, b) =>
      budgets.get(s"$sfBase/$n").collect { case lim if b > lim =>
        f"$n shuffled $b bytes > budget $lim (${b.toDouble / lim}%.1fx)" }
    }

  /** Execute a DataFrame and measure its finalized plan's shuffle
    * exchanges: (exchange count, shuffleBytesWritten sum, exchanges
    * lacking the metric). Shared by the audit loop and the trip-wire
    * test. The budgets are keyed on exactly this quantity, so it reads
    * the plan rather than counting through [[Measure.once]]: a listener
    * would also see the fixture and artifact shuffles that run while
    * the DataFrame is built, and that would move the gate. */
  def measure(df: org.apache.spark.sql.DataFrame): (Int, Long, Int) = {
    val qe = df.queryExecution
    qe.toRdd.count()
    // metric values are final once the job is done (local mode:
    // DAGScheduler posts task-end metric updates before the job-end
    // unblocks the caller)
    // shuffleBytesWritten ONLY — dataSize is the pre-serialization
    // in-memory row size, a different unit; mixing them in made a
    // fallback row look like a measured one. An exchange missing
    // the metric is counted as unmeasured and flagged, never
    // silently estimated.
    val shuffles = allNodes(qe.executedPlan).collect {
      case _: ReusedExchangeExec => (0L, false) // bytes written once, at the original
      case s: ShuffleExchangeLike =>
        s.metrics.get("shuffleBytesWritten").map(m => (m.value, false))
          .getOrElse((0L, true))
    }
    (shuffles.size, shuffles.map(_._1).sum, shuffles.count(_._2))
  }

  /** Every node of the finalized physical plan, through AQE wrappers and
    * subqueries, deduped by REFERENCE (SparkPlan case-class equality is
    * structural — two genuinely distinct but identical exchanges must
    * both count). */
  private def allNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Seq.empty
      else {
        val inner: Seq[SparkPlan] = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _ => Seq.empty
        }
        p +: (inner ++ p.children.flatMap(walk) ++
          p.subqueries.flatMap(walk))
      }
    walk(root)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // "all" audits the ENTIRE battery (budget coverage measurement);
    // explicit names audit those; no extra args audit the curated
    // digest/join probe set
    val names =
      if (args.length > 1 && args(1) == "all")
        SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.drop(1).toSeq
      else Defaults
    val spark = GraftSession.build("graft-shuffle-audit")
    val inputBytes = Seq("documents", "events", "embeddings", "lineitem")
      .map { t =>
        val p = java.nio.file.Paths.get(dir, s"$t.parquet")
        t -> (if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).filter(
            java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum
        else 0L)
      }
    inputBytes.foreach { case (t, b) =>
      println(f"[audit] input $t%-12s ${b / 1e6}%10.1f MB on disk") }
    var failed = 0
    val sfBase = java.nio.file.Paths.get(dir).getFileName.toString
    val rows = names.flatMap { n =>
      Measure.quiesce(spark)
      try {
        val (nEx, bytes, unmeasured) =
          measure(SparkEntry.queries(n)(spark, dir))
        println(f"[audit] $n%-28s $nEx%2d exchanges " +
          f"${bytes / 1e6}%10.2f MB shuffled" +
          (if (unmeasured > 0)
            s"  [$unmeasured exchange(s) lack shuffleBytesWritten — " +
              "not counted]" else ""))
        // a GATE cannot pass on unmeasured shuffles: a budgeted query
        // whose exchanges lost the metric (plan-node change, metric
        // rename) would otherwise compare 0 against its budget and
        // exit green — the exact regression class the gate exists for
        if (unmeasured > 0 && budgets.contains(s"$sfBase/$n")) {
          System.err.println(s"[audit] $n: $unmeasured unmeasured " +
            "exchange(s) on a budgeted query — counted as failure")
          failed += 1
        }
        Some(n -> bytes)
      } catch { case e: Throwable =>
        System.err.println(s"[audit] $n FAILED: ${e.getMessage}")
        failed += 1
        None
      }
    }
    val breaches = budgetBreaches(rows, budgets, sfBase)
    breaches.foreach(b => System.err.println(s"[audit] BUDGET BREACH: $b"))
    val json = rows.map { case (n, b) => s""""$n":$b""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"shuffle_audit","sf":"$dir","bytes":$json,""" +
      s""""breaches":${breaches.size},"failed":$failed}""")
    spark.stop()
    if (breaches.nonEmpty || failed > 0) sys.exit(1)
  }
}
