package graft

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.MaterializeJoin.{ChainSpec, SideSpec}

/** Scale rehearsal: self-scale the sf fixture ~`factor`× into a temp
  * dir and measure how the most expensive queries' wall time grows —
  * the cheapest way to convert "the plan looks right at 100×" into a
  * measurement. Per query it reports the measured scaling exponent
  * `log(t_scaled / t_base) / log(factor)`: ~1.0 = linear, ~1.1 ≈
  * n log n at this range, >1.3 = super-linear (investigate). Every
  * temp dir a run writes (the fixture copy, each section's warehouse)
  * is deleted when `main` returns or throws.
  *
  * Fixture synthesis (all tables land in the output dir so any query
  * runs unmodified):
  *  - dimensions (region/nation/supplier/part/customer) copy verbatim —
  *    fact/dim joins keep matching;
  *  - orders/lineitem replicate with o_orderkey/l_orderkey shifted per
  *    replica by a common offset, so the order↔line FK stays consistent
  *    and key cardinality actually grows;
  *  - events replicate with user_id shifted (user-keyed operators —
  *    sessionize, funnel, retention — see real new users);
  *  - documents replicate with doc_id shifted AND the text alphabet
  *    rotated per replica (translate over a 20-letter band) — without
  *    this every replica is an exact duplicate and similarity/dedup
  *    pair generation measures the quadratic blowup of an artificial
  *    100%-duplicate corpus instead of the operator's scaling;
  *  - embeddings replicate with vec_id shifted and a deterministic
  *    per-replica sign flip on one dimension (same reason).
  *
  * Timing is [[Measure.best]] per query per scale — the same quiesce
  * and best-of-N as [[Bench]]; each refresh rehearsal times its
  * refresh calls one-shot through [[Measure.quiesced]].
  */
object ScaleRehearsal {

  private val Queries = Seq(
    "q_bm25_multiquery", "q_dedup_incremental_lsh", "q_dup_gram_frac",
    "q_dedup_minhash", "q_dedup_simhash", "q_containment_pairs",
    "q_dedup_cross_source", "q_trigram_logprob",
    "q_line_dedup_incremental", "q_line_dedup", "q_quality_classifier",
    "q_jaccard_char", "q_gopher_repetition", "q_split_leakage_safe",
    "q_bson_update", "q_pagerank", "q_dedup_spans_incremental",
    "q_pii_scrub", "q1_agg", "q_zorder_scan", "q_count_distinct",
    "q_sessionize", "q_dedup_cluster", "q_tpch_q3", "q_overlap_sketch",
    "q_image_dedup", "q_audio_dedup",
    // incremental tier: Artifacts-backed, so best-of-2 times the
    // SERVING path (delta decode/hash + signature probe) — the corpus
    // fingerprint build lands in run 1 and is excluded by the min
    "q_image_dedup_incremental", "q_audio_dedup_incremental",
    "q_dedup_simhash_incremental")
  // q_ivm_refresh the QUERY is fixed-size by construction (it filters
  // doc_id<380 regardless of corpus size); the refresh operator itself
  // is rehearsed separately by ivmRefresh: a FIXED-size delta
  // against a factor×-grown base table — the exponent measures whether
  // refresh cost tracks the delta (flat) or the table/log (linear, the
  // round-9 pre-fix behavior).

  // every temp dir a run makes — the fixture copy and each section's
  // warehouse — so main can delete them all when it returns or throws
  private val scratch =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    scratch.add(d)
    d
  }

  def main(args: Array[String]): Unit =
    try rehearse(args)
    finally scratch.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

  private def rehearse(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    // optional third arg: comma-separated query subset (tail-focused
    // 30× runs skip the cheap head); "ivm" selects the refresh rehearsal
    val selected = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Queries ++ Seq("ivm", "ivmgrain"))
    val spark = GraftSession.build("graft-scale-rehearsal")
    val out = tempDir(s"graft_scale_x$factor")
    // the big-base sections synthesize their own tables — skip the
    // fixture replication when nothing selected reads it
    val selfSynth = Set("ivmbig", "ivmbucket", "joinivm", "chainivm",
      "deepchain", "leftivm", "fullivm")
    if (!selected.forall(selfSynth.contains)) {
      println(s"[scale] building ${factor}x fixture from $base at $out")
      buildFixture(spark, base, out, factor)
    }

    // best-of-N over the full physical plan, as [[Bench]] times it
    def best(name: String, dir: String): Option[Double] =
      try Some(Measure.best(spark)(SparkEntry.queries(name)(spark, dir)
        .queryExecution.toRdd.count())._1)
      catch { case e: Throwable =>
        System.err.println(s"[scale] $name FAILED at $dir: " +
          e.getMessage.linesIterator.next())
        None
      }
    // fixed deltas against a synthetic base grown n1 -> n1 × bigF: the
    // fixture corpora are ~150k docs, where a hidden O(table) term
    // costs milliseconds and reads "flat" no matter what
    val n1 = 10L * 1000 * 1000
    val bigF = 3
    // a section is (warm, run): `warm` runs its base side once,
    // untimed, before `run` times both sides — otherwise the base side
    // alone pays the JIT and codegen warm-up of the section's own code
    // path, and its exponent reads as negative scaling
    type Section = (() => Any, () => Seq[Row])
    def pair(name: String, secs: String => Double): Section =
      (() => secs(base),
        () => Seq(row(name, factor, secs(base), secs(out))))
    // a refresh row also prints the timed refresh's Spark jobs, tasks
    // and whether its extremum gate recomputed, base/scaled: equal
    // counts put a gap between the sides' seconds on the fixture,
    // different counts on the refresh plan
    def counted(name: String,
        run: String => Measure.Measured[graft.operators.RefreshReport])
        : Section =
      (() => run(base), () => {
        val (a, b) = (run(base), run(out))
        Seq(row(name, factor, a.secs, b.secs,
          tail = s" jobs=${a.counts.jobs}/${b.counts.jobs}" +
            s" tasks=${a.counts.tasks}/${b.counts.tasks}" +
            s" recompute=${a.value.recomputeRan}/${b.value.recomputeRan}"))
      })
    def big(names: String*)(secs: Long => Seq[Double]): Section =
      (() => secs(n1), () => {
        val (a, b) = (secs(n1), secs(n1 * bigF))
        names.indices.map(i => row(names(i), bigF, a(i), b(i),
          label = if (i == 0) s"${names(i)} (10M vs 30M rows)" else ""))
      })
    // state-write axis: GROUP count ×5 with bucket size held constant
    // (B scales with G) — legacy rewrites the whole state per refresh
    // (exponent → 1), the bucket manifest rewrites touched buckets only
    // (exponent → 0)
    val g1 = 2L * 1000 * 1000
    val bPer = 62500L // target groups per bucket
    val sections: Seq[(String, Section)] = Seq(
      "ivm" -> counted("ivm_refresh_fixed_delta", ivmRefresh(spark, _)),
      "ivmgrain" -> counted("ivm_grain_refresh_fixed_delta",
        ivmGrainRefresh(spark, _)),
      "ivmbig" -> big("ivm_big_nonextremal", "ivm_big_extremal_k8",
        "ivm_big_extremal_k64")(ivmBigSeconds(spark, _)),
      "ivmbucket" -> ((() => ivmBucketedSeconds(spark, g1,
          (g1 / bPer).toInt)), () => {
        val f = 5
        val (l1, b1, lm1, bm1) = ivmBucketedSeconds(spark, g1,
          (g1 / bPer).toInt)
        val (l5, b5, lm5, bm5) = ivmBucketedSeconds(spark, g1 * f,
          (g1 * f / bPer).toInt)
        def wrote(a: Double, b: Double) =
          f" (wrote $a%.1f -> $b%.1f MB, exponent=${exponent(a, b, f)}%5.2f)"
        Seq(row("ivm_state_write_legacy_sec", f, l1, l5,
            label = "ivm_state_write_legacy (2M vs 10M groups)",
            tail = wrote(lm1, lm5)),
          ("ivm_state_write_legacy_mb", lm1, lm5, exponent(lm1, lm5, f)),
          row("ivm_state_write_bucketed_sec", f, b1, b5,
            label = "ivm_state_write_bucketed", tail = wrote(bm1, bm5)),
          ("ivm_state_write_bucketed_mb", bm1, bm5, exponent(bm1, bm5, f)))
      }),
      // binary-join IVM: fixed-size deltas on EACH side of a fact ⋈ dim
      // MV. The contract under test is O(delta × fan-out) per refresh,
      // NOT O(R) + O(S): the fact side declares its FK immutable, so
      // both legs' "other side" reads are zone-bounded below the
      // collapse.
      "joinivm" -> big("joinivm_fact_delta", "joinivm_dim_delta",
        "joinivm_dim_delta_fullscan")(joinIvmSeconds(spark, _)),
      // 3-table chain: the N-way telescoping legs — fact and dim deltas
      // assert the recompute-free fold; the part leg's retraction can
      // tie group extrema (its fan-out spans the x range), so it times
      // the gated path honestly.
      "chainivm" -> big("chainivm_fact_delta", "chainivm_dim_delta",
        "chainivm_part_delta")(chainIvmSeconds(spark, _)),
      // 5-table chain (fact + 4 sides): leg COUNT grows linearly with
      // chain depth — each of the 5 legs joins all 5 tables — and every
      // leg's cache/read bound must hold at depth.
      "deepchain" -> big("deepchain_fact_delta",
        "deepchain_dim_delta", "deepchain_tail_delta")(
        deepChainIvmSeconds(spark, _)),
      // LEFT-outer binary join: the null-extension delta algebra —
      // fixed interior fact updates and a fixed dangling→matched
      // transition batch must both stay flat as the fact grows.
      "leftivm" -> big("leftivm_fact_delta", "leftivm_transitions")(
        leftIvmSeconds(spark, _)),
      // FULL-outer N-way star chain: the r14 decomposition (LEFT part +
      // one independent side-dangling part per side, each riding two
      // telescoping legs over the fact's null-extension indicator) —
      // fixed deltas drive every transition shape, proving the per-side
      // dangling parts pick up no O(table) term.
      "fullivm" -> big("fullivm_fact_delta", "fullivm_transitions",
        "fullivm_redangle")(fullIvmSeconds(spark, _)),
      "cdc" -> pair("cdc_mv_freshness_per_batch",
        cdcMvFreshnessSeconds(spark, _)))

    // queries need no warm-up pass: best-of-N keeps the fastest run
    val timed: Seq[() => Seq[Row]] =
      selected.filterNot(sections.map(_._1).toSet).map { q => () =>
        (for (a <- best(q, base); b <- best(q, out))
          yield row(q, factor, a, b)).toSeq
      } ++ sections.collect { case (k, (warm, run)) if selected.contains(k) =>
        () => {
          println(s"[scale] untimed warm-up pass: $k")
          warm()
          run()
        }
      }
    val rows = timed.flatMap(_())
    val json = rows.map { case (q, a, b, e) =>
      f"""{"q":"$q","base_sec":$a%.3f,"scaled_sec":$b%.3f,"exponent":$e%.3f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"scale_rehearsal","factor":$factor,"rows":$json}""")
    spark.stop()
  }

  /** (name, base value, scaled value, scaling exponent) */
  private type Row = (String, Double, Double, Double)

  private def exponent(a: Double, b: Double, factor: Int): Double =
    math.log(b / a) / math.log(factor.toDouble)

  /** One result row: prints its `[scale]` line (`label`, default the
    * name, then `tail`) and returns it for the JSON summary. */
  private def row(name: String, factor: Int, a: Double, b: Double,
      label: String = "", tail: String = ""): Row = {
    val exp = exponent(a, b, factor)
    println(f"[scale] ${if (label.isEmpty) name else label}%-28s " +
      f"base=$a%7.2fs x$factor=$b%8.2fs exponent=$exp%5.2f$tail")
    (name, a, b, exp)
  }

  /** The timed refresh of a FIXED-size delta (100 updated + 100 new
    * docs) against a base table built from `dir`'s documents — the
    * operator-level rehearsal for [[graft.operators.Materialize
    * .refresh]]. A delta-sized refresh (post round-10: the pre-image
    * window's input is semi-join-pruned to delta PKs, the affected-
    * group recompute was already pruned) stays ~flat as the base grows;
    * the round-9 shape (lag window over the ENTIRE raw log) grew
    * linearly with it. Build/ingest time is NOT counted — only the
    * refresh call. */
  private def ivmRefresh(spark: SparkSession, dir: String)
      : Measure.Measured[graft.operators.RefreshReport] = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val wh = tempDir("graft_scale_ivm")
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("d", StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", LongType))), pk = Seq("doc_id"))
    val docs = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    cat.upsert("d", docs)
    val mv = wh + "/mv"
    graft.operators.Materialize.build(cat, ChainSpec("d"),
      Seq("source"), Seq("n_chars"), mv)
    // fixed-size delta regardless of base size: 100 updates + 100 inserts
    cat.upsert("d", docs.where(col("doc_id") < 100)
      .withColumn("n_chars", col("n_chars") + 7))
    cat.upsert("d", docs.where(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + maxId + 1))
    Measure.quiesced(spark)(
      graft.operators.Materialize.refresh(cat, mv))
  }

  /** The timed refresh of a FIXED-size delta against a DAY-GRAIN MV
    * over `dir`'s events — the grain-IVM twin of [[ivmRefresh]]
    * (the grain path shares `preImageChanges`, but its delta passes
    * also re-derive the grain column and its retractions move rows
    * ACROSS grain groups, so it earns its own exponent). Delta = the
    * 100 first (event_id, user_id) rows updated with ts moved a day
    * forward (cross-grain retraction + re-insert) plus 100 brand-new
    * PKs. Only the refresh call is timed. */
  private def ivmGrainRefresh(spark: SparkSession, dir: String)
      : Measure.Measured[graft.operators.RefreshReport] = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
    val wh = tempDir("graft_scale_ivmg")
    val cat = new graft.sources.GraftCatalog(spark, wh)
    // composite PK: the scaled fixture replicates events shifting
    // user_id only, so (event_id, user_id) is the unique key there
    cat.createTable("e", StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts", TimestampType))), pk = Seq("event_id", "user_id"))
    val ev = Tables.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"))
    cat.upsert("e", ev)
    val mv = wh + "/mv"
    graft.operators.Materialize.build(cat, ChainSpec("e"),
      Seq("event_type", "day"), Seq("user_id"), mv,
      grains = Seq("day" -> "date_trunc('DAY', ts)"))
    // fixed-size delta at ANY factor: the 100 first rows in PK order
    val delta = ev.orderBy(col("event_id"), col("user_id")).limit(100)
    cat.upsert("e", delta
      .withColumn("ts", col("ts") + expr("INTERVAL 1 DAY")))
    val maxEid = ev.agg(max(col("event_id"))).head.getLong(0)
    cat.upsert("e", delta
      .withColumn("event_id", col("event_id") + maxEid + 1))
    Measure.quiesced(spark)(
      graft.operators.Materialize.refresh(cat, mv))
  }

  /** Big-base IVM refresh rehearsal: a synthetic n-row catalog table
    * (n/10000 group-clustered groups; per group min=10 / max=1009,
    * each extremum present ~10 times) refreshed through three
    * fixed-size deltas:
    *  - 100 NON-extremal updates (x 510 → 505, strictly inside the
    *    bounds) — must fold with ZERO base-history access (asserted via
    *    the returned [[graft.operators.RefreshReport]]: the extremum gate
    *    admits no group, so the written plan has no recompute branch);
    *  - K=8 then K=64 max-tying updates — the gate admits exactly K
    *    groups and the recompute shuffles only their candidate-PK
    *    history, so cost should track K (visible in t64 vs t8) with a
    *    scan-only residual in the base size (the candidate-PK probe
    *    reads the log once behind a broadcast semi-join).
    * Returns (non-extremal sec, extremal K=8 sec, extremal K=64 sec);
    * only the refresh calls are timed. */
  private def ivmBigSeconds(spark: SparkSession,
      n: Long): Seq[Double] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val wh = tempDir("graft_scale_ivmbig")
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("b", StructType(Seq(
      StructField("k", LongType), StructField("g", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    // GROUP-CLUSTERED layout (g = k DIV 10000 over ordered ingest — the
    // shape [[graft.operators.Layout]] z-order/bucketing produces):
    // within every group, x cycles 10..1009, so each group's extrema
    // are 10/1009 with multiple ties. Clustering is what lets the
    // recompute's affected-group IN pushdown + candidate-PK zone bound
    // actually prune at the parquet layer; a scattered layout pays one
    // honest scan instead (shuffles stay affected-sized either way).
    def rows(filter: org.apache.spark.sql.Column): DataFrame =
      spark.range(n).where(filter)
        .select(col("id").as("k"), expr("id DIV 10000").as("g"),
          (col("id") % 1000 + 10).as("x"))
    cat.upsert("b", rows(lit(true)))
    val mv = wh + "/mv"
    graft.operators.Materialize.build(cat, ChainSpec("b"), Seq("g"),
      Seq("x"), mv)
    def timedRefresh(expectRecompute: Boolean, what: String)
        : (Double, Long) = {
      val m = Measure.quiesced(spark)(
        graft.operators.Materialize.refresh(cat, mv))
      require(m.value.recomputeRan == expectRecompute,
        s"$what: expected recomputeRan=$expectRecompute")
      (m.secs, m.value.affectedGroups)
    }
    // 100 NON-extremal updates (x 510 -> 505, strictly inside (10, 1009))
    cat.upsert("b", rows(expr("id % 1000 = 500") && col("id") < 100000L)
      .withColumn("x", lit(505L)))
    val (tNon, _) =
      timedRefresh(expectRecompute = false, "non-extremal delta")
    // one max-tying row (x = 1009) from each of K groups, updated down
    cat.upsert("b", rows(expr("id % 10000 = 999") && col("id") < 80000L)
      .withColumn("x", lit(500L)))
    val (t8, k8) = timedRefresh(expectRecompute = true, "extremal K=8")
    require(k8 == 8, s"K=8 delta must gate in exactly 8 groups, got $k8")
    cat.upsert("b", rows(expr("id % 10000 = 1999") && col("id") < 640000L)
      .withColumn("x", lit(500L)))
    val (t64, k64) = timedRefresh(expectRecompute = true, "extremal K=64")
    require(k64 == 64,
      s"K=64 delta must gate in exactly 64 groups, got $k64")
    Seq(tNon, t8, t64)
  }

  /** One quiesced, timed join-MV refresh; `assertNoRecompute` holds an
    * interior delta to the recompute-free fold. */
  private def timedJoinRefresh(cat: graft.sources.GraftCatalog,
      path: String, what: String,
      assertNoRecompute: Boolean = true): Double = {
    val m = Measure.quiesced(cat.session)(
      graft.operators.Materialize.refresh(cat, path))
    if (assertNoRecompute)
      require(!m.value.recomputeRan,
        s"$what: interior delta must fold with zero recompute")
    m.secs
  }

  /** Binary-join IVM refresh seconds for FIXED-size deltas as the fact
    * grows: fact R(k PK, jk FK = k DIV 100, x = k % 1000 + 10) joined
    * to dim S(jk PK, seg = jk % 64), MV = γ_seg(SUM/MIN/MAX x). Both
    * deltas are strictly non-extremal (every seg holds x ties at
    * 10/1009 from other rows), so the refreshes measured here are the
    * pure algebraic fold — zero recompute, asserted. The fact declares
    * `leftKeysImmutable` (jk fixed at insert), so the ΔS leg's fact
    * read is zone-bounded BELOW the collapse; the ΔR leg's dim read
    * bounds via the dim PK. Returns (factDeltaSec, dimDeltaSec). */
  private def joinIvmSeconds(spark: SparkSession, n: Long)
      : Seq[Double] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val wh = tempDir("graft_scale_joinivm")
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("r", StructType(Seq(
      StructField("k", LongType), StructField("jk", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.createTable("s", StructType(Seq(
      StructField("jk", LongType), StructField("seg", LongType))),
      pk = Seq("jk"))
    def facts(filter: org.apache.spark.sql.Column): DataFrame =
      spark.range(n).where(filter)
        .select(col("id").as("k"), expr("id DIV 100").as("jk"),
          (col("id") % 1000 + 10).as("x"))
    cat.upsert("r", facts(lit(true)))
    cat.upsert("s", spark.range(n / 100)
      .select(col("id").as("jk"), (col("id") % 64).as("seg")))
    val mv = wh + "/mv"
    val mvScan = wh + "/mv_fullscan"
    def chain(imm: Boolean) =
      ChainSpec("r", Seq(SideSpec("s", Seq("jk"), factKeysImmutable = imm)))
    graft.operators.Materialize.build(cat, chain(true), Seq("seg"),
      Seq("x"), mv)
    // control MV WITHOUT the immutable-FK declaration: its ΔS leg
    // falls back to the above-collapse filter (full fact read)
    graft.operators.Materialize.build(cat,
      chain(false), Seq("seg"), Seq("x"), mvScan)
    // 100 fact-price updates, x 510 -> 505 (strictly inside (10, 1009))
    cat.upsert("r", facts(expr("id % 1000 = 500") && col("id") < 100000L)
      .withColumn("x", lit(505L)))
    val tFact = timedJoinRefresh(cat, mv, "fact delta")
    // 100 dim regroupings whose fan-out rows carry x in 310..409 only
    // (jk % 10 = 3 → k % 1000 in 300..399), far from either extremum
    cat.upsert("s", spark.range(n / 100)
      .where(expr("id % 10 = 3") && col("id") < 1000L)
      .select(col("id").as("jk"), ((col("id") + 17) % 64).as("seg")))
    val tDim = timedJoinRefresh(cat, mv, "dim delta")
    // the control folds BOTH deltas in one refresh; its dominant term
    // is the ΔS leg's un-prefiltered fact read, which is the point
    val tScan = timedJoinRefresh(cat, mvScan, "combined delta, fallback")
    Seq(tFact, tDim, tScan)
  }

  /** 3-table chain refresh seconds for FIXED-size deltas as the fact
    * grows: fact R(k PK, jk = k DIV 100, pk2 = k % 4096, x) ⋈ dim
    * S(jk PK, seg) ⋈ part P(pk2 PK, brand) — the N-way telescoping
    * legs, each key-bounded (jk via the immutable-FK prefilter, pk2
    * semi-join-bounded only: its values SCATTER across the fact, the
    * honest no-zone case). All deltas non-extremal (asserted).
    * Returns (factDeltaSec, dimDeltaSec, partDeltaSec). */
  private def chainIvmSeconds(spark: SparkSession, n: Long)
      : Seq[Double] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val wh = tempDir("graft_scale_chainivm")
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("r", StructType(Seq(
      StructField("k", LongType), StructField("jk", LongType),
      StructField("pk2", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.createTable("s", StructType(Seq(
      StructField("jk", LongType), StructField("seg", LongType))),
      pk = Seq("jk"))
    cat.createTable("p", StructType(Seq(
      StructField("pk2", LongType), StructField("brand", LongType))),
      pk = Seq("pk2"))
    def facts(filter: org.apache.spark.sql.Column): DataFrame =
      spark.range(n).where(filter)
        .select(col("id").as("k"), expr("id DIV 100").as("jk"),
          (col("id") % 4096).as("pk2"),
          (col("id") % 1000 + 10).as("x"))
    cat.upsert("r", facts(lit(true)))
    cat.upsert("s", spark.range(n / 100)
      .select(col("id").as("jk"), (col("id") % 64).as("seg")))
    cat.upsert("p", spark.range(4096)
      .select(col("id").as("pk2"), (col("id") % 16).as("brand")))
    val mv = wh + "/mv"
    val cs = graft.operators.MaterializeJoin.ChainSpec("r", Seq(
      graft.operators.MaterializeJoin.SideSpec("s", Seq("jk"),
        factKeysImmutable = true),
      graft.operators.MaterializeJoin.SideSpec("p", Seq("pk2"),
        factKeysImmutable = true)))
    graft.operators.Materialize.build(cat, cs,
      Seq("seg", "brand"), Seq("x"), mv)
    // 100 fact-measure updates, x 510 -> 505 (strictly interior)
    cat.upsert("r", facts(expr("id % 1000 = 500") && col("id") < 100000L)
      .withColumn("x", lit(505L)))
    val tFact = timedJoinRefresh(cat, mv, "fact delta")
    // 100 dim regroupings, fan-out x in 310..409 (interior)
    cat.upsert("s", spark.range(n / 100)
      .where(expr("id % 10 = 3") && col("id") < 1000L)
      .select(col("id").as("jk"), ((col("id") + 17) % 64).as("seg")))
    val tDim = timedJoinRefresh(cat, mv, "dim delta")
    // 8 part rebrands — each retracts n/4096 scattered fact rows
    // whose x values span the full range, so ties against the group
    // extrema are expected and the gate legitimately fires: this leg
    // times the GATED path (retraction + pruned recompute) on the
    // scattered-key side, deliberately without the recompute-free
    // assert the other two legs carry.
    cat.upsert("p", spark.range(4096)
      .where(expr("id % 512 = 7") && col("id") < 4096L)
      .select(col("id").as("pk2"), ((col("id") + 5) % 16).as("brand")))
    val tPart = timedJoinRefresh(cat, mv, "part delta",
      assertNoRecompute = false)
    Seq(tFact, tDim, tPart)
  }

  /** LEFT-outer binary-join IVM refresh seconds for FIXED deltas as
    * the fact grows: fact R(k PK, jk = k DIV 100, x = k%1000+10) ⟕
    * dim S covering only HALF the key space (jk < n/200), so half the
    * fact sits in the NULL-extension group. Leg 1: 100 interior fact
    * updates (recompute-free, asserted — the NULL group holds ties at
    * both extremes from untouched rows). Leg 2: 50 NEW dim keys
    * arrive (dangling→matched transitions: the null-extension delta
    * retracts 5 000 NULL-group rows and inserts them matched) — keys
    * chosen ≡3 (mod 10) so every moved x is interior and the fold
    * stays recompute-free (asserted): the transition algebra itself,
    * not a group recompute, is what gets timed. Both legs must stay
    * flat in base size. Returns (factDeltaSec, transitionDeltaSec). */
  private def leftIvmSeconds(spark: SparkSession, n: Long)
      : Seq[Double] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val wh = tempDir("graft_scale_leftivm")
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("r", StructType(Seq(
      StructField("k", LongType), StructField("jk", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.createTable("s", StructType(Seq(
      StructField("jk", LongType), StructField("seg", LongType))),
      pk = Seq("jk"))
    def facts(filter: org.apache.spark.sql.Column): DataFrame =
      spark.range(n).where(filter)
        .select(col("id").as("k"), expr("id DIV 100").as("jk"),
          (col("id") % 1000 + 10).as("x"))
    cat.upsert("r", facts(lit(true)))
    cat.upsert("s", spark.range(n / 200)
      .select(col("id").as("jk"), (col("id") % 64).as("seg")))
    val mv = wh + "/mv"
    graft.operators.Materialize.build(cat,
      graft.operators.MaterializeJoin.ChainSpec("r", Seq(
        graft.operators.MaterializeJoin.SideSpec("s", Seq("jk"),
          factKeysImmutable = true)), leftOuter = true),
      Seq("seg"), Seq("x"), mv)
    // 100 interior fact updates, split across matched and NULL groups
    cat.upsert("r", facts(expr("id % 1000 = 500") && col("id") < 100000L)
      .withColumn("x", lit(505L)))
    val tFact = timedJoinRefresh(cat, mv, "left fact delta")
    // 50 dangling keys materialize: jk in [n/200, n/100), ≡3 (mod 10)
    // so the 5 000 moved rows' x values are interior on both sides
    cat.upsert("s", spark.range(n / 200, n / 100)
      .where(expr("id % 10 = 3"))
      .limit(50)
      .select(col("id").as("jk"), (col("id") % 64).as("seg")))
    val tTrans = timedJoinRefresh(cat, mv, "dangling->matched transitions")
    Seq(tFact, tTrans)
  }

  /** FULL-outer N-way star chain refresh seconds for FIXED deltas as
    * the fact grows — the scale rehearsal for the r14 decomposition:
    * fact R(k PK, jk = k DIV 100, pk2 = k DIV 800, x = k%1000+10)
    * ⟗ S(jk PK, seg) ⟗ P(pk2 PK, brand), both side keys on the fact
    * and declared immutable. S covers HALF the fact's jk range plus a
    * fact-free band (so fact-dangling AND side-dangling rows exist
    * from the start); P likewise on pk2. Three timed refreshes:
    *  - 100 interior fact-measure updates (recompute-free, asserted —
    *    no null-extension crossing anywhere);
    *  - 50 dangling S keys materialize (dangling→matched: the S
    *    null-extension retracts ~5 000 NULL-seg rows and re-inserts
    *    them matched; keys ≡3 (mod 10) keep every moved x interior,
    *    recompute-free asserted);
    *  - both-side re-dangling churn: 5 000 NEW fact rows land under
    *    side-only S/P keys (the FACT null-extension indicator loses
    *    those keys — side-dangling rows transition to matched, the
    *    per-side dangling parts retract them) while 50 matched S keys
    *    DELETE (their facts re-dangle into the NULL-seg group). The
    *    gated path runs honestly, no recompute assert.
    * Each leg must stay flat as the fact grows 10M → 30M — the
    * per-side dangling parts' count probes and legs are delta-key-
    * bounded below the collapse, never a side scan.
    * Returns (factDeltaSec, transitionsSec, redangleSec). */
  private def fullIvmSeconds(spark: SparkSession, n: Long)
      : Seq[Double] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val wh = tempDir("graft_scale_fullivm")
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("r", StructType(Seq(
      StructField("k", LongType), StructField("jk", LongType),
      StructField("pk2", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.createTable("s", StructType(Seq(
      StructField("jk", LongType), StructField("seg", LongType))),
      pk = Seq("jk"))
    cat.createTable("p", StructType(Seq(
      StructField("pk2", LongType), StructField("brand", LongType))),
      pk = Seq("pk2"))
    def facts(ids: Dataset[java.lang.Long]): DataFrame =
      ids.select(col("id").as("k"), expr("id DIV 100").as("jk"),
        expr("id DIV 800").as("pk2"),
        (col("id") % 1000 + 10).as("x"))
    cat.upsert("r", facts(spark.range(n)))
    // half-covering sides + a fact-free side-only band each: dangling
    // rows on BOTH ends of the full join from the start
    cat.upsert("s", spark.range(n / 200)
      .unionByName(spark.range(n / 100, n / 100 + 5000))
      .select(col("id").as("jk"), (col("id") % 64).as("seg")))
    cat.upsert("p", spark.range(n / 1600)
      .unionByName(spark.range(n / 800, n / 800 + 5000))
      .select(col("id").as("pk2"), (col("id") % 16).as("brand")))
    val mv = wh + "/mv"
    graft.operators.Materialize.build(cat,
      ChainSpec("r", Seq(
        SideSpec("s", Seq("jk"), factKeysImmutable = true),
        SideSpec("p", Seq("pk2"), factKeysImmutable = true)),
        fullOuter = true),
      Seq("seg", "brand"), Seq("x"), mv)
    // 100 interior fact updates (matched on both sides, x 510 -> 505)
    cat.upsert("r", facts(spark.range(n)
      .where(expr("id % 1000 = 500") && col("id") < 100000L))
      .withColumn("x", lit(505L)))
    val tFact = timedJoinRefresh(cat, mv, "full fact delta")
    // 50 dangling S keys materialize; ≡3 (mod 10) keeps moved x interior
    cat.upsert("s", spark.range(n / 200, n / 100)
      .where(expr("id % 10 = 3")).limit(50)
      .select(col("id").as("jk"), (col("id") % 64).as("seg")))
    val tTrans =
      timedJoinRefresh(cat, mv, "dangling->matched transitions")
    // both-side re-dangling churn: new facts under side-only keys
    // (side-dangling -> matched on S AND P) + matched S keys delete
    // (their facts re-dangle)
    cat.upsert("r", facts(spark.range(n, n + 5000L)))
    cat.delete("s", col("jk") % 10 === 3 && col("jk") < 500L)
    val tRedangle =
      timedJoinRefresh(cat, mv, "re-dangling churn",
        assertNoRecompute = false)
    Seq(tFact, tTrans, tRedangle)
  }

  /** 5-table chain (fact + 4 sides) refresh seconds for FIXED deltas
    * as the fact grows — the DEPTH rehearsal: refresh builds one leg
    * per table (5 legs, linear in chain depth), and EVERY leg joins
    * all 5 tables, so each leg's key-bounded reads must hold for the
    * total to stay flat. Same group/measure/gate construction as
    * [[chainIvmSeconds]] (groups (seg, brand) over sides 1–2, fact
    * and dim deltas assert the recompute-free fold, the tail-side
    * churn times the gated path); sides 3–4 carry no group attribute
    * — they exercise LEG COUNT and per-leg read bounds, not gate
    * variety. All four sides declare the fact FK immutable.
    * Returns (factDeltaSec, dimDeltaSec, tailDeltaSec). */
  private def deepChainIvmSeconds(spark: SparkSession, n: Long)
      : Seq[Double] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val wh = tempDir("graft_scale_deepchain")
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("r", StructType(Seq(
      StructField("k", LongType), StructField("jk", LongType),
      StructField("pk2", LongType), StructField("jk3", LongType),
      StructField("jk4", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.createTable("s", StructType(Seq(
      StructField("jk", LongType), StructField("seg", LongType))),
      pk = Seq("jk"))
    cat.createTable("p", StructType(Seq(
      StructField("pk2", LongType), StructField("brand", LongType))),
      pk = Seq("pk2"))
    cat.createTable("u", StructType(Seq(
      StructField("jk3", LongType), StructField("a3", LongType))),
      pk = Seq("jk3"))
    cat.createTable("w", StructType(Seq(
      StructField("jk4", LongType), StructField("a4", LongType))),
      pk = Seq("jk4"))
    def facts(filter: org.apache.spark.sql.Column): DataFrame =
      spark.range(n).where(filter)
        .select(col("id").as("k"), expr("id DIV 100").as("jk"),
          (col("id") % 4096).as("pk2"),
          expr("id DIV 800").as("jk3"),
          (col("id") % 9973).as("jk4"),
          (col("id") % 1000 + 10).as("x"))
    cat.upsert("r", facts(lit(true)))
    cat.upsert("s", spark.range(n / 100)
      .select(col("id").as("jk"), (col("id") % 64).as("seg")))
    cat.upsert("p", spark.range(4096)
      .select(col("id").as("pk2"), (col("id") % 16).as("brand")))
    cat.upsert("u", spark.range(n / 800)
      .select(col("id").as("jk3"), (col("id") % 32).as("a3")))
    cat.upsert("w", spark.range(9973)
      .select(col("id").as("jk4"), (col("id") % 8).as("a4")))
    val mv = wh + "/mv"
    graft.operators.Materialize.build(cat,
      ChainSpec("r", Seq(
        SideSpec("s", Seq("jk"), factKeysImmutable = true),
        SideSpec("p", Seq("pk2"), factKeysImmutable = true),
        SideSpec("u", Seq("jk3"), factKeysImmutable = true),
        SideSpec("w", Seq("jk4"), factKeysImmutable = true))),
      Seq("seg", "brand"), Seq("x"), mv)
    // 100 fact-measure updates, x 510 -> 505 (strictly interior)
    cat.upsert("r", facts(expr("id % 1000 = 500") && col("id") < 100000L)
      .withColumn("x", lit(505L)))
    val tFact = timedJoinRefresh(cat, mv, "fact delta")
    // 100 dim regroupings, fan-out x in 310..409 (interior)
    cat.upsert("s", spark.range(n / 100)
      .where(expr("id % 10 = 3") && col("id") < 1000L)
      .select(col("id").as("jk"), ((col("id") + 17) % 64).as("seg")))
    val tDim = timedJoinRefresh(cat, mv, "dim delta")
    // 8 tail-side updates (a4 is not a group column, so the net group
    // change is zero, but the retraction slice still rides the gate:
    // this times the deepest leg's gated path on scattered keys)
    cat.upsert("w", spark.range(9973)
      .where(expr("id % 1024 = 7"))
      .select(col("id").as("jk4"), ((col("id") + 5) % 8).as("a4")))
    val tTail =
      timedJoinRefresh(cat, mv, "tail delta", assertNoRecompute = false)
    Seq(tFact, tDim, tTail)
  }

  /** Single-dir vs BUCKET-MANIFESTED state write cost as the GROUP
    * COUNT grows, fixed delta (non-extremal updates in 8 groups): the legacy
    * layout rewrites the whole O(groups) state per refresh, the
    * bucketed layout rewrites only the ≤100 touched buckets — with
    * bucket size held constant (B scales with G), the bucketed refresh
    * is flat in group count while the legacy one grows linearly.
    * 3 rows per group (10 / 500 / 1000): the delta updates 500→505,
    * strictly inside the extrema, so no recompute branch confounds the
    * state-write measurement on either side. */
  private def dirMb(dir: String): Double = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(sz).sum).getOrElse(0L)
      else f.length()
    sz(new java.io.File(dir)) / 1e6
  }

  private def ivmBucketedSeconds(spark: SparkSession, groups: Long,
      buckets: Int): (Double, Double, Double, Double) = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    def mk(tag: String, b: Int): (graft.sources.GraftCatalog, String) = {
      val wh = tempDir(s"graft_scale_ivmbk$tag")
      val cat = new graft.sources.GraftCatalog(spark, wh)
      cat.createTable("t", StructType(Seq(
        StructField("k", LongType), StructField("g", LongType),
        StructField("x", LongType))), pk = Seq("k"))
      cat.upsert("t", spark.range(3 * groups).select(
        col("id").as("k"), expr("id DIV 3").as("g"),
        expr("CASE id % 3 WHEN 0 THEN 10L WHEN 1 THEN 500L " +
          "ELSE 1000L END").as("x")))
      val mv = wh + "/mv"
      graft.operators.Materialize.build(cat, ChainSpec("t"), Seq("g"), Seq("x"),
        mv, buckets = b)
      (cat, mv)
    }
    // seconds AND bytes written: at rehearsal sizes fixed per-refresh
    // overhead (plan + ~20 jobs) can mask the state write in seconds,
    // but the bytes the refresh wrote are the deterministic witness of
    // what a 100-TB refresh would pay
    // the delta touches 8 GROUPS (the realistic maintained-MV shape:
    // many delta rows landing in few groups) — touched buckets ≤ 8
    // regardless of G, so the bucketed write is ≤ 8 × bucket-size
    // while the legacy write is the whole state
    def timedRefresh(cat: graft.sources.GraftCatalog, mv: String,
        b: Int, lo: Long): (Double, Double) = {
      cat.upsert("t", spark.range(3 * groups)
        .where(expr("id % 3 = 1") && col("id") >= lo &&
          col("id") < lo + 24L)
        .select(col("id").as("k"), expr("id DIV 3").as("g"),
          lit(505L).as("x")))
      val m = Measure.quiesced(spark)(
        graft.operators.Materialize.refresh(cat, mv))
      val r = m.value
      require(!r.recomputeRan,
        "non-extremal delta must not gate in a recompute")
      if (b > 0)
        require(r.bucketsTouched <= 8 && r.bucketsTotal == b,
          s"bucketed refresh must touch <=8 of $b buckets, got " +
            s"${r.bucketsTouched}")
      val nd = graft.operators.MvMeta.read(spark, mv).stateDir
      (m.secs, dirMb(s"$mv/$nd"))
    }
    // two refreshes (disjoint 8-group deltas), best-of-2 seconds —
    // single-shot refresh timings ride the shared-host band; bytes are
    // deterministic either way
    def best2(cat: graft.sources.GraftCatalog, mv: String,
        b: Int): (Double, Double) = {
      val (s1, m1) = timedRefresh(cat, mv, b, 0L)
      val (s2, m2) = timedRefresh(cat, mv, b, 24L)
      (math.min(s1, s2), math.max(m1, m2))
    }
    val (cl, ml) = mk("leg", 0)
    val (tLegacy, mbLegacy) = best2(cl, ml, 0)
    val (cb, mb) = mk("bkt", buckets)
    val (tBucketed, mbBucketed) = best2(cb, mb, buckets)
    (tLegacy, tBucketed, mbLegacy, mbBucketed)
  }

  /** CDC→MV freshness END TO END against `dir`'s documents: the
    * Structured-Streaming ingest loop (foreachBatch: upsert + refresh)
    * runs three micro-batches of fixed size (updates + inserts +
    * fresh-source rows), and after EVERY batch the served state must
    * equal the from-scratch batch recomputation over the current
    * snapshot — a divergence throws inside foreachBatch and fails the
    * rehearsal. Returns mean refresh+read seconds per batch (the
    * verify recompute runs OUTSIDE the timed window — it is O(table)
    * by design and would confound the exponent); the
    * exponent vs a factor×-grown base measures that per-batch freshness
    * cost tracks the DELTA under the round-10 delta-sized refresh plan,
    * not the table. */
  private def cdcMvFreshnessSeconds(spark: SparkSession,
      dir: String): Double = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val wh = tempDir("graft_scale_cdcmv")
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("d", StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", LongType))), pk = Seq("doc_id"))
    val docs = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    cat.upsert("d", docs)
    val mv = wh + "/mv"
    graft.operators.Materialize.build(cat, ChainSpec("d"),
      Seq("source"), Seq("n_chars"), mv)
    // three fixed-size micro-batch files: updates (retractions for the
    // MV), inserts, and rows under a brand-new grouping key
    val in = tempDir("graft_scale_cdcin")
    docs.where(col("doc_id") < 80)
      .withColumn("n_chars", col("n_chars") + 13)
      .coalesce(1).write.parquet(s"$in/b0")
    docs.where(col("doc_id") < 80)
      .withColumn("doc_id", col("doc_id") + maxId + 1)
      .coalesce(1).write.parquet(s"$in/b1")
    docs.where(col("doc_id") < 40)
      .withColumn("doc_id", col("doc_id") + 2 * maxId + 2)
      .withColumn("source", lit("live_feed"))
      .coalesce(1).write.parquet(s"$in/b2")
    val secs = scala.collection.mutable.ArrayBuffer[Double]()
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        cat.upsert("d", b)
        // timed window = refresh + state read ONLY. The correctness
        // verify below recomputes from the full snapshot — O(table) by
        // design — and timing it would make the exponent read ~1 at
        // exactly the factor where a delta-sized refresh should read
        // flat, confounding the conclusion this rehearsal exists for.
        val m = Measure.once(spark) {
          graft.operators.Materialize.refresh(cat, mv)
          graft.operators.Materialize.read(spark, mv)
            .select(col("source"), col("cnt"), col("sum_n_chars"),
              col("min_n_chars"), col("max_n_chars"))
            .collect().map(_.toSeq).toSet
        }
        val served = m.value
        secs += m.secs
        val expect = graft.operators.Materialize
          .aggregate(cat.snapshot("d"), Seq("source"), Seq("n_chars"))
          .select(col("source"), col("cnt"), col("sum_n_chars"),
            col("min_n_chars"), col("max_n_chars"))
          .collect().map(_.toSeq).toSet
        if (served != expect) throw new IllegalStateException(
          s"CDC->MV freshness diverged at micro-batch $id")
        ()
      }
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    require(secs.size == 3, s"expected 3 micro-batches, got ${secs.size}")
    println(f"[scale] cdc_mv per-batch refresh+read at $dir: " +
      secs.map(s => f"$s%.2f").mkString("s, ") + "s")
    secs.sum / secs.size
  }

  private[graft] def buildFixture(spark: SparkSession, base: String,
      out: String, factor: Int): Unit = {
    def t(n: String): DataFrame = Tables.t(spark, base, n)
    def write(df: DataFrame, n: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$n.parquet")
    Seq("region", "nation", "supplier", "part", "customer")
      .foreach(n => write(t(n), n))
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1
    def replicate(df: DataFrame, shifts: Map[String, Long],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, off)) =>
          d.withColumn(c, col(c) + lit(i * off)) }
        extra(shifted, i)
      }.reduce(_ unionByName _)

    val orders = t("orders"); val line = t("lineitem")
    val okOff = maxOf(orders, "o_orderkey")
    write(replicate(orders, Map("o_orderkey" -> okOff)), "orders")
    write(replicate(line, Map("l_orderkey" -> okOff)), "lineitem")

    val ev = t("events")
    write(replicate(ev, Map("user_id" -> maxOf(ev, "user_id"))), "events")

    val docs = t("documents")
    val alpha = "abcdefghijklmnopqrst"
    write(replicate(docs, Map("doc_id" -> maxOf(docs, "doc_id")),
      (d, i) =>
        if (i == 0) d
        else {
          val rot = alpha.drop(i % alpha.length) +
            alpha.take(i % alpha.length)
          d.withColumn("text", translate(col("text"), alpha, rot))
        }), "documents")

    val emb = t("embeddings")
    write(replicate(emb, Map("vec_id" -> maxOf(emb, "vec_id")),
      (d, i) =>
        if (i == 0) d
        else d.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            when(j === (i % 64), -x).otherwise(x)))), "embeddings")
  }
}
