package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Materialize
import graft.plans.GraftAggViews
import graft.operators.MaterializeJoin.ChainSpec

/** The materialized-aggregate rewrite: a matching query aggregate must
  * scan the registered state instead of the fact, roll up to coarser
  * grains, refuse what the state can't answer exactly, and restore the
  * fact scan when disabled or dropped. */
class AggRewriteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("agg rewrite: state scan replaces fact scan, rollup, guards") {
    import spark.implicits._
    val base = TempDir("graft_aggrw_base").toString
    val statePath = TempDir("graft_aggrw_state").toString
    // one NULL measure row: makes cnt (rows) and cnt_x (non-null)
    // genuinely different, so COUNT(col)/AVG serving is exercised
    Seq((1L, "a", "x", Some(10L)), (2L, "a", "y", Some(20L)),
      (3L, "b", "x", Some(30L)), (4L, "b", "y", Some(5L)),
      (5L, "c", "x", Some(7L)), (6L, "a", "x", Some(2L)),
      (7L, "c", "y", None))
      .toDF("k", "g", "s", "x")
      .write.mode("overwrite").parquet(base)
    val fact = spark.read.parquet(base)
    Materialize.aggregate(fact, Seq("g", "s"), Seq("x"))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("g", "s"), Seq("x")))
    def q(cols: String*) = spark.read.parquet(base)
      .groupBy(cols.map(col): _*)
      .agg(sum($"x").as("sx"), min($"x").as("mn"), max($"x").as("mx"),
        count(lit(1)).as("n"))
      .orderBy(cols.map(col): _*)
    def baseline(df: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try df.collect().map(_.toSeq).toSeq
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    }
    try {
      // exact grain: the optimized plan must scan the state, not the fact
      val exact = q("g", "s")
      val plan = exact.queryExecution.executedPlan.toString
      assert(plan.contains(new java.io.File(statePath).getName),
        s"state not scanned:\n$plan")
      assert(!plan.contains(new java.io.File(base).getName),
        "fact table must not be scanned when the view answers the query")
      assert(exact.collect().map(_.toSeq).toSeq == baseline(q("g", "s")))
      // types preserved: sum over a LongType column stays LongType
      assert(exact.schema("sx").dataType ==
        org.apache.spark.sql.types.LongType)
      // rollup to a coarser grain re-aggregates the state
      val roll = q("g")
      assert(roll.queryExecution.executedPlan.toString
        .contains(new java.io.File(statePath).getName))
      assert(roll.collect().map(_.toSeq).toSeq == baseline(q("g")))
      // group-column filter: rewritten, the predicate re-applies on the
      // state ("the sum for source X" — the most common MV hit)
      val filtered = spark.read.parquet(base).where($"g" === "a")
        .groupBy($"s").agg(sum($"x").as("sx")).orderBy($"s")
      assert(filtered.queryExecution.executedPlan.toString
        .contains(new java.io.File(statePath).getName))
      assert(filtered.collect().map(_.toSeq).toSeq == baseline {
        spark.read.parquet(base).where($"g" === "a")
          .groupBy($"s").agg(sum($"x").as("sx")).orderBy($"s")
      })
      // a MEASURE filter selects individual fact rows — not answerable
      val mfilter = spark.read.parquet(base).where($"x" > 5L)
        .groupBy($"g").agg(sum($"x").as("sx"))
      assert(mfilter.queryExecution.executedPlan.toString
        .contains(new java.io.File(base).getName))
      // avg decomposes as SUM(sum_m)/SUM(cnt_m) — rewritten, and equal
      // to the direct aggregate (exact sums; one double division)
      val avgQ = spark.read.parquet(base).groupBy($"g")
        .agg(avg($"x").as("ax")).orderBy($"g")
      assert(avgQ.queryExecution.executedPlan.toString
        .contains(new java.io.File(statePath).getName),
        "avg must be served from the state via the sum/cnt derivation")
      assert(avgQ.collect().map(_.toSeq).toSeq == baseline {
        spark.read.parquet(base).groupBy($"g")
          .agg(avg($"x").as("ax")).orderBy($"g")
      })
      // count(column) counts non-nulls — served by the state's cnt_m
      val cntCol = spark.read.parquet(base).groupBy($"g")
        .agg(count($"x").as("n")).orderBy($"g")
      assert(cntCol.queryExecution.executedPlan.toString
        .contains(new java.io.File(statePath).getName))
      assert(cntCol.collect().map(_.toSeq).toSeq == baseline {
        spark.read.parquet(base).groupBy($"g")
          .agg(count($"x").as("n")).orderBy($"g")
      })
      // a group filter that eliminates every state row: count stays 0
      // (a bare Sum(cnt) over zero rows would return NULL)
      val zero = spark.read.parquet(base).where($"g" === "zzz")
        .agg(count(lit(1)).as("n"))
      assert(zero.queryExecution.executedPlan.toString
        .contains(new java.io.File(statePath).getName))
      assert(zero.collect().head.getLong(0) == 0L)
      // count(NULL literal) is always 0 — must refuse, not count rows
      val cn = spark.read.parquet(base).groupBy($"g")
        .agg(count(lit(null)).as("n"))
      assert(cn.queryExecution.executedPlan.toString
        .contains(new java.io.File(base).getName))
      // a stale/mismatched registration (state lacking the expected
      // columns) refuses the rewrite instead of crashing planning
      val base2 = TempDir("graft_aggrw_base2").toString
      Seq((1L, "a", 10L)).toDF("k", "g", "x")
        .write.mode("overwrite").parquet(base2)
      GraftAggViews.register(base2,
        GraftAggViews.AggViewDef(base2, Seq("g"), Seq("x"))) // not a state!
      try {
        val q2 = spark.read.parquet(base2).groupBy($"g")
          .agg(sum($"x").as("sx"))
        assert(q2.queryExecution.executedPlan.toString
          .contains(new java.io.File(base2).getName))
        assert(q2.collect().head.getLong(1) == 10L)
      } finally GraftAggViews.drop(base2)
      // disable conf restores the fact scan
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try assert(q("g", "s").queryExecution.executedPlan.toString
        .contains(new java.io.File(base).getName))
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    } finally GraftAggViews.drop(base)
    // dropped: back to the fact
    assert(q("g", "s").queryExecution.executedPlan.toString
      .contains(new java.io.File(base).getName))
  }

  test("agg rewrite: integral sums stay exact past 2^53 " +
      "(the DOUBLE-state regression case)") {
    import spark.implicits._
    val base = TempDir("graft_aggrw_big").toString
    val statePath = TempDir("graft_aggrw_bigstate").toString
    val big = 9007199254740992L // 2^53
    // double accumulation loses every +1 past 2^53 — the exact sum is
    // 2^53+3, a DOUBLE-typed state would serve 2^53
    assert((((big.toDouble + 1.0) + 1.0) + 1.0).toLong == big,
      "precondition: this sum is not representable in double")
    Seq((1L, "a", big), (2L, "a", 1L), (3L, "a", 1L), (4L, "a", 1L))
      .toDF("k", "g", "x")
      .write.mode("overwrite").parquet(base)
    Materialize.aggregate(spark.read.parquet(base), Seq("g"), Seq("x"))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("g"), Seq("x")))
    try {
      val q = spark.read.parquet(base).groupBy($"g")
        .agg(sum($"x").as("sx"))
      assert(q.queryExecution.executedPlan.toString
        .contains(new java.io.File(statePath).getName),
        "the >2^53 sum must be served from the state")
      assert(q.collect().head.getLong(1) == big + 3L,
        "served sum must be the exact integer, not the double rounding")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: an MV-ROOT registration resolves the current " +
      "state through the meta pointer across refreshes") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val wh = TempDir("graft_aggrw_root").toString
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("f", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("f", Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "g", "x"))
    val mvRoot = s"$wh/mv"
    Materialize.build(cat, ChainSpec("f"), Seq("g"), Seq("x"), mvRoot)
    val base = s"$wh/fact_export"
    cat.snapshot("f").write.mode("overwrite").parquet(base)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(mvRoot, Seq("g"), Seq("x")))
    try {
      def q = spark.read.parquet(base).groupBy($"g")
        .agg(sum($"x").as("sx")).orderBy($"g")
      assert(q.queryExecution.executedPlan.toString.contains("state_v"),
        "root registration must resolve to a state_v dir via meta")
      assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 10L, "b" -> 20L))
      // ingest + refresh rotates the state dir; the SAME registration
      // must serve the post-refresh values without re-registering
      cat.upsert("f", Seq((3L, "a", 5L)).toDF("k", "g", "x"))
      Materialize.refresh(cat, mvRoot)
      cat.snapshot("f").write.mode("overwrite").parquet(base)
      assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 15L, "b" -> 20L),
        "a refresh-rotated state must be picked up through the pointer")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: a BUCKET-MANIFESTED MV root serves through the " +
      "manifest's leaf dirs across partial refreshes") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val wh = TempDir("graft_aggrw_broot").toString
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("fb", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("fb", Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "g", "x"))
    val mvRoot = s"$wh/mv"
    Materialize.build(cat, ChainSpec("fb"), Seq("g"), Seq("x"), mvRoot,
      buckets = 16)
    val base = s"$wh/fact_export_b"
    cat.snapshot("fb").write.mode("overwrite").parquet(base)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(mvRoot, Seq("g"), Seq("x")))
    try {
      def q = spark.read.parquet(base).groupBy($"g")
        .agg(sum($"x").as("sx")).orderBy($"g")
      assert(q.queryExecution.executedPlan.toString.contains("__b="),
        "bucketed root must resolve to the manifest's leaf dirs:\n" +
          q.queryExecution.executedPlan)
      assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 10L, "b" -> 20L))
      // a delta touching only 'a' rewrites only its bucket; the SAME
      // registration must serve the MIXED state — the new dir's 'a'
      // bucket plus the original dir's untouched 'b' bucket
      cat.upsert("fb", Seq((3L, "a", 5L)).toDF("k", "g", "x"))
      Materialize.refresh(cat, mvRoot)
      cat.snapshot("fb").write.mode("overwrite").parquet(base)
      assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 15L, "b" -> 20L),
        "a partially-rewritten manifest must serve the merged state")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: a STAR view serves aggregate-over-join queries " +
      "from the state; mismatched joins refuse") {
    import spark.implicits._
    val dir = TempDir("graft_aggrw_star").toString
    val base = s"$dir/fact"
    val dimPath = s"$dir/dim"
    val statePath = s"$dir/state"
    // fact: fk=99 has no dim row (left join groups it under NULL)
    Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 30L), (4L, 99L, 40L),
      (5L, 1L, 5L))
      .toDF("k", "fk", "x").write.mode("overwrite").parquet(base)
    Seq((1L, "red", "big"), (2L, "blue", "small"), (3L, "red", "small"))
      .toDF("c_k", "c_seg", "c_size")
      .write.mode("overwrite").parquet(dimPath)
    def dimDf = spark.read.parquet(dimPath)
      .select(col("c_k").as("fk"), col("c_seg").as("segment"))
    def joined = spark.read.parquet(base)
      .join(broadcast(dimDf), Seq("fk"), "left")
    Materialize.aggregate(joined, Seq("segment"), Seq("x"))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("segment"), Seq("x"),
        dims = Seq(GraftAggViews.DimJoinDef(dimPath,
          factKeys = Seq("fk"), dimKeys = Seq("c_k"),
          dimAttrs = Map("segment" -> "c_seg")))))
    val stateName = new java.io.File(statePath).getName
    def servedBy(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains(stateName)
    def baseline(df: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try df.collect().map(_.toSeq).toSet
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    }
    try {
      // the dashboard query: join + group by dim attribute
      def q = joined.groupBy($"segment")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          min($"x").as("mn"))
      assert(servedBy(q), "join+group-by-dim must serve from state:\n" +
        q.queryExecution.executedPlan)
      assert(q.collect().map(_.toSeq).toSet == baseline(q))
      assert(q.collect().exists(_.get(0) == null),
        "NULL-dim facts must survive (left-join semantics)")
      // residual filter on the dim attribute — the optimizer
      // null-rejects the left join into an INNER one and pushes the
      // predicate into the dim side; the rewrite must still serve it
      def qf = joined.where($"segment" === "red")
        .groupBy($"segment").agg(sum($"x").as("sx"))
      assert(servedBy(qf),
        "the filtered dashboard query must serve from state:\n" +
          qf.queryExecution.optimizedPlan)
      assert(qf.collect().map(_.toSeq).toSet == baseline(qf),
        "filtered star query must serve exactly")
      // global rollup over the join serves too (sum of state cnt)
      def qg = joined.agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      assert(servedBy(qg) &&
        qg.collect().map(_.toSeq).toSet == baseline(qg))
      // REFUSALS, each must hit the fact scan and stay correct:
      // (a) inner join without innerSafe (drops the fk=99 fact)
      def qInner = spark.read.parquet(base)
        .join(broadcast(dimDf), Seq("fk"), "inner")
        .groupBy($"segment").agg(sum($"x").as("sx"))
      assert(!servedBy(qInner),
        "inner join without innerSafe must refuse:\n" +
          qInner.queryExecution.executedPlan)
      // (b) a DIFFERENT dim column aliased under the served name
      def qWrong = spark.read.parquet(base)
        .join(broadcast(spark.read.parquet(dimPath)
          .select(col("c_k").as("fk"), col("c_size").as("segment"))),
          Seq("fk"), "left")
        .groupBy($"segment").agg(sum($"x").as("sx"))
      assert(!servedBy(qWrong),
        "aliasing a different dim column must refuse")
      assert(qWrong.collect().map(_.toSeq).toSet == baseline(qWrong))
      // (c) join on the wrong key
      def qKey = spark.read.parquet(base)
        .join(broadcast(spark.read.parquet(dimPath)
          .select(col("c_k").as("k"), col("c_seg").as("segment"))),
          Seq("k"), "left")
        .groupBy($"segment").agg(sum($"x").as("sx"))
      assert(!servedBy(qKey), "a wrong-key join must refuse")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: fullState contract — FULL OUTER queries serve " +
      "only from a full-outer state; every tighter combination " +
      "refuses both ways; a filter below the full join refuses") {
    import spark.implicits._
    val dir = TempDir("graft_aggrw_full").toString
    val base = s"$dir/fact"
    val dimPath = s"$dir/dim"
    val fullState = s"$dir/state_full"
    val leftState = s"$dir/state_left"
    // fk=99 fact-dangling; c_k=7 side-dangling
    Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 99L, 30L))
      .toDF("k", "fk", "x").write.mode("overwrite").parquet(base)
    Seq((1L, "red"), (2L, "blue"), (7L, "orphan"))
      .toDF("c_k", "segment")
      .write.mode("overwrite").parquet(dimPath)
    def dimDf = spark.read.parquet(dimPath)
      .select(col("c_k").as("fk"), col("segment"))
    def joinedFull = spark.read.parquet(base)
      .join(dimDf, Seq("fk"), "full")
    def joinedLeft = spark.read.parquet(base)
      .join(dimDf, Seq("fk"), "left")
    Materialize.aggregate(joinedFull, Seq("segment"), Seq("x"))
      .write.mode("overwrite").parquet(fullState)
    Materialize.aggregate(joinedLeft, Seq("segment"), Seq("x"))
      .write.mode("overwrite").parquet(leftState)
    def register(state: String, full: Boolean): Unit =
      GraftAggViews.register(base,
        GraftAggViews.AggViewDef(state, Seq("segment"), Seq("x"),
          dims = Seq(GraftAggViews.DimJoinDef(dimPath,
            factKeys = Seq("fk"), dimKeys = Seq("c_k"),
            dimAttrs = Map("segment" -> "segment"),
            leftState = !full, fullState = full))))
    def servedBy(df: org.apache.spark.sql.DataFrame,
        state: String): Boolean =
      df.queryExecution.executedPlan.toString
        .contains(new java.io.File(state).getName)
    def baseline(df: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try df.collect().map(_.toSeq).toSet
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    }
    def qFull = joinedFull.groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    def qLeft = joinedLeft.groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    def qInner = spark.read.parquet(base)
      .join(dimDf, Seq("fk"), "inner").groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    try {
      register(fullState, full = true)
      assert(servedBy(qFull, fullState),
        "a FULL query must serve from the full state:\n" +
          qFull.queryExecution.executedPlan)
      assert(qFull.collect().map(_.toSeq).toSet == baseline(qFull))
      assert(qFull.collect().count(r =>
          r.get(0) == null || r.getLong(1) == 1L) >= 2,
        "both dangling kinds must be in the served result")
      // tighter queries must NOT read the full state (it counted
      // dangling rows they drop) — and must still answer exactly
      assert(!servedBy(qLeft, fullState),
        "a LEFT query must refuse the full state")
      assert(qLeft.collect().map(_.toSeq).toSet == baseline(qLeft))
      assert(!servedBy(qInner, fullState),
        "an INNER query must refuse the full state")
      assert(qInner.collect().map(_.toSeq).toSet == baseline(qInner))
      // a filter BELOW the full join is not re-expressible over the
      // state: refuse (fallback stays exact)
      def qSub = spark.read.parquet(base).where($"x" > 15L)
        .join(dimDf, Seq("fk"), "full").groupBy($"segment")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      assert(!servedBy(qSub, fullState),
        "a fact filter below the full join must refuse")
      assert(qSub.collect().map(_.toSeq).toSet == baseline(qSub))
      GraftAggViews.drop(base)
      // the inverse: a FULL query must not serve from a LEFT state
      // (it is missing the side-dangling rows)
      register(leftState, full = false)
      assert(!servedBy(qFull, leftState),
        "a FULL query must refuse a left-maintained state")
      assert(qFull.collect().map(_.toSeq).toSet == baseline(qFull))
      assert(servedBy(qLeft, leftState),
        "the LEFT query still serves from the left state")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: innerSafe serves an inner star join when every " +
      "fact key resolves") {
    import spark.implicits._
    val dir = TempDir("graft_aggrw_star_in").toString
    val base = s"$dir/fact"
    val dimPath = s"$dir/dim"
    val statePath = s"$dir/state"
    // referential integrity holds: every fk has a dim row
    Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 1L, 30L))
      .toDF("k", "fk", "x").write.mode("overwrite").parquet(base)
    Seq((1L, "red"), (2L, "blue")).toDF("c_k", "c_seg")
      .write.mode("overwrite").parquet(dimPath)
    def dimDf = spark.read.parquet(dimPath)
      .select(col("c_k").as("fk"), col("c_seg").as("segment"))
    Materialize.aggregate(
        spark.read.parquet(base).join(broadcast(dimDf), Seq("fk"), "left"),
        Seq("segment"), Seq("x"))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("segment"), Seq("x"),
        dims = Seq(GraftAggViews.DimJoinDef(dimPath,
          factKeys = Seq("fk"), dimKeys = Seq("c_k"),
          dimAttrs = Map("segment" -> "c_seg"), innerSafe = true))))
    val stateName = new java.io.File(statePath).getName
    try {
      def q = spark.read.parquet(base)
        .join(broadcast(dimDf), Seq("fk"), "inner")
        .groupBy($"segment").agg(sum($"x").as("sx"))
      assert(q.queryExecution.executedPlan.toString.contains(stateName),
        "innerSafe must serve the inner join:\n" +
          q.queryExecution.executedPlan)
      def baseline(df: => org.apache.spark.sql.DataFrame) = {
        spark.conf.set(GraftAggViews.DisabledConf, "true")
        try df.collect().map(_.toSeq).toSet
        finally spark.conf.unset(GraftAggViews.DisabledConf)
      }
      assert(q.collect().map(_.toSeq).toSet == baseline(q))
      // dim-ATTRIBUTE filter written BELOW the join (the shape predicate
      // pushdown produces): served by re-applying the predicate on the
      // state's group column — "revenue for segment='red'"
      def qf = spark.read.parquet(base)
        .join(broadcast(dimDf.where($"segment" === "red")),
          Seq("fk"), "inner")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      assert(qf.queryExecution.executedPlan.toString.contains(stateName),
        "a served-attribute dim filter must serve from state:\n" +
          qf.queryExecution.executedPlan)
      assert(qf.collect().map(_.toSeq).toSet == baseline(qf) &&
        qf.collect().head.getLong(0) == 2L)
      // a filter over a dim column the state does NOT group by cannot
      // be re-applied — must refuse (and stay correct off the fact)
      def qn = spark.read.parquet(base)
        .join(broadcast(spark.read.parquet(dimPath)
            .where($"c_k" > 1L)
            .select(col("c_k").as("fk"), col("c_seg").as("segment"))),
          Seq("fk"), "inner")
        .groupBy($"segment").agg(sum($"x").as("sx"))
      assert(!qn.queryExecution.executedPlan.toString.contains(stateName),
        "a non-served dim filter must refuse")
      assert(qn.collect().map(_.toSeq).toSet == baseline(qn))
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: a MULTI-DIM star view serves two-join queries " +
      "and single-join rollups from the same state") {
    import spark.implicits._
    val dir = TempDir("graft_aggrw_mdim").toString
    val base = s"$dir/fact"
    val d1P = s"$dir/d1"
    val d2P = s"$dir/d2"
    val statePath = s"$dir/state"
    Seq((1L, 1L, 10L, 1L), (2L, 2L, 20L, 2L), (3L, 1L, 20L, 4L),
      (4L, 2L, 10L, 8L))
      .toDF("k", "f1", "f2", "x").write.mode("overwrite").parquet(base)
    Seq((1L, "red"), (2L, "blue")).toDF("d1k", "color")
      .write.mode("overwrite").parquet(d1P)
    Seq((10L, "big"), (20L, "small")).toDF("d2k", "size")
      .write.mode("overwrite").parquet(d2P)
    def dim1 = spark.read.parquet(d1P)
      .select(col("d1k").as("f1"), col("color"))
    def dim2 = spark.read.parquet(d2P)
      .select(col("d2k").as("f2"), col("size"))
    def joined = spark.read.parquet(base)
      .join(broadcast(dim1), Seq("f1"), "left")
      .join(broadcast(dim2), Seq("f2"), "left")
    Materialize.aggregate(joined, Seq("color", "size"), Seq("x"))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("color", "size"), Seq("x"),
        dims = Seq(
          GraftAggViews.DimJoinDef(d1P, factKeys = Seq("f1"),
            dimKeys = Seq("d1k"), dimAttrs = Map("color" -> "color")),
          GraftAggViews.DimJoinDef(d2P, factKeys = Seq("f2"),
            dimKeys = Seq("d2k"), dimAttrs = Map("size" -> "size")))))
    val stateName = new java.io.File(statePath).getName
    def servedBy(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains(stateName)
    def baseline(df: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try df.collect().map(_.toSeq).toSet
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    }
    try {
      // both dims joined, both attributes grouped
      def q = joined.groupBy($"color", $"size")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      assert(servedBy(q), "two-dim star query must serve:\n" +
        q.queryExecution.executedPlan)
      assert(q.collect().map(_.toSeq).toSet == baseline(q))
      // a SUBSET of the dims joined: the unreferenced dim's attribute
      // rolls up (sums of sums across size)
      def q1 = spark.read.parquet(base)
        .join(broadcast(dim1), Seq("f1"), "left")
        .groupBy($"color").agg(sum($"x").as("sx"))
      assert(servedBy(q1), "single-dim rollup must serve:\n" +
        q1.queryExecution.executedPlan)
      assert(q1.collect().map(_.toSeq).toSet == baseline(q1))
      // a join against an UNREGISTERED, row-MULTIPLYING side must
      // refuse (a provably row-preserving unreferenced join is
      // eliminated by Catalyst before the rule — that serve is sound)
      val zP = s"$dir/z"
      Seq((1L, "z1"), (1L, "z2")).toDF("zk", "zz")
        .write.mode("overwrite").parquet(zP)
      def qx = joined.join(
          broadcast(spark.read.parquet(zP).select(col("zk").as("f1"),
            col("zz"))), Seq("f1"), "left")
        .groupBy($"color").agg(sum($"x").as("sx"))
      assert(!servedBy(qx), "an unregistered multiplying join must refuse")
      assert(qx.collect().map(_.toSeq).toSet == baseline(qx))
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: decimal sums serve exactly; decimal avg refuses") {
    import spark.implicits._
    val base = TempDir("graft_aggrw_dec").toString
    val statePath = TempDir("graft_aggrw_decstate").toString
    Seq((1L, "a", BigDecimal("1234567890123456789.12")),
      (2L, "a", BigDecimal("0.03")),
      (3L, "b", BigDecimal("-7.25")))
      .toDF("k", "g", "d")
      .write.mode("overwrite").parquet(base)
    Materialize.aggregate(spark.read.parquet(base), Seq("g"), Seq("d"))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("g"), Seq("d")))
    try {
      val q = spark.read.parquet(base).groupBy($"g")
        .agg(sum($"d").as("sd")).orderBy($"g")
      assert(q.queryExecution.executedPlan.toString
        .contains(new java.io.File(statePath).getName))
      assert(q.collect().map(r => r.getString(0) ->
          r.getDecimal(1).stripTrailingZeros.toPlainString).toMap ==
        Map("a" -> "1234567890123456789.15", "b" -> "-7.25"),
        "decimal sums must serve exactly from the widened-decimal state")
      // decimal avg: Spark's decimal-division scale rules are not
      // replicated — must hit the fact, not serve an off-by-ULP answer
      val avgQ = spark.read.parquet(base).groupBy($"g")
        .agg(avg($"d").as("ad"))
      assert(avgQ.queryExecution.executedPlan.toString
        .contains(new java.io.File(base).getName),
        "decimal avg must refuse the rewrite")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: date_trunc expression grain serves equal and " +
      "ALIGNED coarser grains; misaligned/finer units refuse; " +
      "alias-only Projects and stacked filters rewrite") {
    import spark.implicits._
    val base = TempDir("graft_aggrw_grain").toString
    val statePath = TempDir("graft_aggrw_grainstate").toString
    val rows = (0 until 200).map { i =>
      (i.toLong, s"s${i % 3}",
        java.sql.Timestamp.valueOf(
          f"2024-${1 + i % 12}%02d-${1 + i % 27}%02d ${i % 24}%02d:03:00"),
        (i * 13 % 101).toLong)
    }
    rows.toDF("k", "g", "ts", "x").write.mode("overwrite").parquet(base)
    val fact = spark.read.parquet(base)
    // DAY-grain state: grain column computed BEFORE the aggregate, and
    // registered as an expression over the base's columns
    Materialize.aggregate(
        fact.withColumn("day", date_trunc("DAY", $"ts")),
        Seq("g", "day"), Seq("x"))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("g", "day"), Seq("x"),
        grainExprs = Map("day" -> "date_trunc('DAY', ts)")))
    val stateName = new java.io.File(statePath).getName
    val baseName = new java.io.File(base).getName
    def baseline(df: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try df.collect().map(_.toSeq).toSeq
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    }
    try {
      // EQUAL grain (different unit spelling): served from the state
      def dayQ = spark.read.parquet(base)
        .groupBy($"g", date_trunc("day", $"ts").as("d"))
        .agg(sum($"x").as("sx"), count($"x").as("n"))
        .orderBy($"g", $"d")
      assert(dayQ.queryExecution.executedPlan.toString.contains(stateName),
        s"equal-grain query must scan the state:\n" +
          dayQ.queryExecution.executedPlan)
      assert(dayQ.collect().map(_.toSeq).toSeq == baseline(dayQ))
      // COARSER aligned grain: month served by re-truncating day state
      def monQ = spark.read.parquet(base)
        .groupBy(date_trunc("month", $"ts").as("m"))
        .agg(sum($"x").as("sx"), min($"x").as("mn"), avg($"x").as("ax"))
        .orderBy($"m")
      assert(monQ.queryExecution.executedPlan.toString.contains(stateName),
        "month query must roll up the day-grain state")
      assert(monQ.collect().map(_.toSeq).toSeq == baseline(monQ))
      // week is day-aligned too
      def weekQ = spark.read.parquet(base)
        .groupBy(date_trunc("week", $"ts").as("w"))
        .agg(sum($"x").as("sx")).orderBy($"w")
      assert(weekQ.queryExecution.executedPlan.toString.contains(stateName))
      assert(weekQ.collect().map(_.toSeq).toSeq == baseline(weekQ))
      // the SQL GROUP BY spelling (expression in groupings, Alias in
      // outputs) rewrites the same way
      def sqlQ = spark.sql(
        s"SELECT date_trunc('YEAR', ts) AS y, sum(x) AS sx " +
          s"FROM parquet.`$base` GROUP BY date_trunc('YEAR', ts) " +
          "ORDER BY y")
      assert(sqlQ.queryExecution.executedPlan.toString.contains(stateName),
        "SQL-spelled grain query must scan the state")
      assert(sqlQ.collect().map(_.toSeq).toSeq == baseline(sqlQ))
      // FINER than the state's grain: hour from a day state must refuse
      val hourQ = spark.read.parquet(base)
        .groupBy(date_trunc("hour", $"ts").as("h"))
        .agg(sum($"x").as("sx"))
      assert(hourQ.queryExecution.executedPlan.toString.contains(baseName),
        "an hour query cannot be served by day-grain state")
      // alias-only Project + two stacked filters on a (renamed) group
      // column: still rewritten, predicate re-applied on the state
      def renamed = spark.read.parquet(base)
        .select($"g".as("grp"), $"x".as("xx"), $"ts")
        .where($"grp" =!= "s0").where($"grp" =!= "s2")
        .groupBy($"grp").agg(sum($"xx").as("sx"), max($"xx").as("mx"))
        .orderBy($"grp")
      assert(renamed.queryExecution.executedPlan.toString
        .contains(stateName),
        "alias-only rename + stacked filters must not refuse:\n" +
          renamed.queryExecution.executedPlan)
      assert(renamed.collect().map(_.toSeq).toSeq == baseline(renamed))
    } finally GraftAggViews.drop(base)
    // a MONTH-grain state must refuse a WEEK query (week boundaries
    // cross months — re-truncation would be wrong, not just coarse)
    val base2 = TempDir("graft_aggrw_grain2").toString
    val state2 = TempDir("graft_aggrw_grainstate2").toString
    rows.toDF("k", "g", "ts", "x").write.mode("overwrite").parquet(base2)
    Materialize.aggregate(
        spark.read.parquet(base2)
          .withColumn("mon", date_trunc("MONTH", $"ts")),
        Seq("mon"), Seq("x"))
      .write.mode("overwrite").parquet(state2)
    GraftAggViews.register(base2,
      GraftAggViews.AggViewDef(state2, Seq("mon"), Seq("x"),
        grainExprs = Map("mon" -> "date_trunc('MONTH', ts)")))
    try {
      val weekFromMonth = spark.read.parquet(base2)
        .groupBy(date_trunc("week", $"ts").as("w"))
        .agg(sum($"x").as("sx"))
      assert(weekFromMonth.queryExecution.executedPlan.toString
        .contains(new java.io.File(base2).getName),
        "week from month-grain state must refuse (misaligned units)")
      // ... while quarter/year from month state are aligned and serve.
      // def, not val: a val Dataset caches its QueryExecution, so the
      // disabled-conf baseline would re-run the SAME rewritten plan and
      // the equality would be a tautology
      def qQ = spark.read.parquet(base2)
        .groupBy(date_trunc("quarter", $"ts").as("q"))
        .agg(sum($"x").as("sx")).orderBy($"q")
      assert(qQ.queryExecution.executedPlan.toString
        .contains(new java.io.File(state2).getName))
      val served = qQ.collect().map(_.toSeq).toSeq
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      val expect =
        try {
          val direct = qQ
          assert(direct.queryExecution.executedPlan.toString
            .contains(new java.io.File(base2).getName),
            "baseline must scan the fact under the disabled conf")
          direct.collect().map(_.toSeq).toSeq
        } finally spark.conf.unset(GraftAggViews.DisabledConf)
      assert(served == expect,
        "quarter rollup from month-grain state diverged from the fact")
    } finally GraftAggViews.drop(base2)
    // a grain registration whose state LACKS the grain column must
    // refuse the rewrite (scan the fact), never crash planning with a
    // Map.apply inside the optimizer rule
    val base3 = TempDir("graft_aggrw_grain3").toString
    rows.toDF("k", "g", "ts", "x").write.mode("overwrite").parquet(base3)
    val state3 = TempDir("graft_aggrw_grainstate3").toString
    Materialize.aggregate(spark.read.parquet(base3), Seq("g"), Seq("x"))
      .write.mode("overwrite").parquet(state3) // no 'day' column!
    GraftAggViews.register(base3,
      GraftAggViews.AggViewDef(state3, Seq("g"), Seq("x"),
        grainExprs = Map("day" -> "date_trunc('DAY', ts)")))
    try {
      val q3 = spark.read.parquet(base3)
        .groupBy(date_trunc("day", $"ts").as("d"))
        .agg(sum($"x").as("sx"))
      assert(q3.queryExecution.executedPlan.toString
        .contains(new java.io.File(base3).getName),
        "missing grain state column must refuse, not crash")
      q3.collect() // and execute cleanly
    } finally GraftAggViews.drop(base3)
  }

  test("agg rewrite: MULTI-VIEW selection — several states per base, " +
      "the coarsest answering one serves each query") {
    import spark.implicits._
    val base = TempDir("graft_aggrw_multi").toString
    val stateG = TempDir("graft_aggrw_multi_g").toString
    val stateGD = TempDir("graft_aggrw_multi_gd").toString
    val rows = (0 until 200).map { i =>
      (i.toLong, s"s${i % 3}",
        java.sql.Timestamp.valueOf(
          f"2024-${1 + i % 6}%02d-${1 + i % 25}%02d 10:00:00"),
        (i * 7 % 53).toLong)
    }
    rows.toDF("k", "g", "ts", "x").write.mode("overwrite").parquet(base)
    val fact = spark.read.parquet(base)
    Materialize.aggregate(fact, Seq("g"), Seq("x"))
      .write.mode("overwrite").parquet(stateG)
    Materialize.aggregate(
        fact.withColumn("day", date_trunc("DAY", $"ts")),
        Seq("g", "day"), Seq("x"))
      .write.mode("overwrite").parquet(stateGD)
    // registration order is the FINE one first — selection must still
    // pick the coarser (cheaper) state when both answer
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(stateGD, Seq("g", "day"), Seq("x"),
        grainExprs = Map("day" -> "date_trunc('DAY', ts)")))
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(stateG, Seq("g"), Seq("x")))
    def baseline(df: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try df.collect().map(_.toSeq).toSeq
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    }
    try {
      // source-only query: BOTH views answer; the 1-column state must
      // win (smallest scan)
      def srcQ = spark.read.parquet(base).groupBy($"g")
        .agg(sum($"x").as("sx"), count(lit(1)).as("n")).orderBy($"g")
      val srcPlan = srcQ.queryExecution.executedPlan.toString
      assert(srcPlan.contains(new java.io.File(stateG).getName),
        s"coarsest answering view must serve:\n$srcPlan")
      assert(!srcPlan.contains(new java.io.File(stateGD).getName))
      assert(srcQ.collect().map(_.toSeq).toSeq == baseline(srcQ))
      // day query: only the grain view answers
      def dayQ = spark.read.parquet(base)
        .groupBy(date_trunc("day", $"ts").as("d"))
        .agg(sum($"x").as("sx")).orderBy($"d")
      assert(dayQ.queryExecution.executedPlan.toString
        .contains(new java.io.File(stateGD).getName),
        "only the grain view answers the day query")
      assert(dayQ.collect().map(_.toSeq).toSeq == baseline(dayQ))
      // re-registering the same statePath replaces, not duplicates
      GraftAggViews.register(base,
        GraftAggViews.AggViewDef(stateG, Seq("g"), Seq("x")))
      assert(GraftAggViews.lookup(base).size == 2,
        "same-statePath re-registration must replace")
      // the SUPERSEDE idiom: registering a REBUILT state under a new
      // directory for the SAME shape replaces the old entry — keeping
      // it would keep serving the stale (still-on-disk) state
      val stateG2 = TempDir("graft_aggrw_multi_g2").toString
      Materialize.aggregate(fact, Seq("g"), Seq("x"))
        .write.mode("overwrite").parquet(stateG2)
      GraftAggViews.register(base,
        GraftAggViews.AggViewDef(stateG2, Seq("g"), Seq("x")))
      assert(GraftAggViews.lookup(base).size == 2,
        "same-shape re-registration must supersede, not accumulate")
      val srcPlan2 = srcQ.queryExecution.executedPlan.toString
      assert(srcPlan2.contains(new java.io.File(stateG2).getName) &&
        !srcPlan2.contains(new java.io.File(stateG).getName),
        s"queries must serve from the superseding state:\n$srcPlan2")
      // same grouping, DIFFERENT measure set = a different shape: a
      // per-measure-family split over one grouping must COEXIST, not
      // evict — supersede used to match on (groupCols, grainExprs)
      // alone and silently dropped the still-valid sibling
      val stateGY = TempDir("graft_aggrw_multi_gy").toString
      Materialize.aggregate(fact, Seq("g"), Seq("k"))
        .write.mode("overwrite").parquet(stateGY)
      GraftAggViews.register(base,
        GraftAggViews.AggViewDef(stateGY, Seq("g"), Seq("k")))
      assert(GraftAggViews.lookup(base).size == 3,
        "a different measure set over the same grouping must ADD, " +
          s"not supersede: ${GraftAggViews.lookup(base)}")
      val srcPlan3 = srcQ.queryExecution.executedPlan.toString
      assert(srcPlan3.contains(new java.io.File(stateG2).getName),
        s"the x-measure query must still serve from its view:\n$srcPlan3")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: trunc(DATE) grain serves equal and coarser; " +
      "grain-expression residual filters map onto the state's grain " +
      "column") {
    import spark.implicits._
    val base = TempDir("graft_aggrw_dgrain").toString
    val statePath = TempDir("graft_aggrw_dgrainstate").toString
    val rows = (0 until 300).map { i =>
      (i.toLong, s"s${i % 3}",
        java.sql.Date.valueOf(
          f"2024-${1 + i % 12}%02d-${1 + i % 27}%02d"),
        (i * 17 % 89).toLong)
    }
    rows.toDF("k", "g", "d", "x").write.mode("overwrite").parquet(base)
    Materialize.aggregate(
        spark.read.parquet(base).withColumn("mon", trunc($"d", "MM")),
        Seq("g", "mon"), Seq("x"))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("g", "mon"), Seq("x"),
        grainExprs = Map("mon" -> "trunc(d, 'MM')")))
    val stateName = new java.io.File(statePath).getName
    val baseName = new java.io.File(base).getName
    def baseline(df: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try df.collect().map(_.toSeq).toSeq
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    }
    try {
      // equal DATE grain, different unit spelling ('mon' vs 'MM')
      def monQ = spark.read.parquet(base)
        .groupBy(trunc($"d", "mon").as("m"))
        .agg(sum($"x").as("sx"), count(lit(1)).as("n")).orderBy($"m")
      assert(monQ.queryExecution.executedPlan.toString.contains(stateName),
        s"equal trunc(DATE) grain must scan the state:\n" +
          monQ.queryExecution.executedPlan)
      assert(monQ.collect().map(_.toSeq).toSeq == baseline(monQ))
      // coarser DATE grain: year from month state
      def yearQ = spark.read.parquet(base)
        .groupBy(trunc($"d", "year").as("y"))
        .agg(sum($"x").as("sx"), max($"x").as("mx")).orderBy($"y")
      assert(yearQ.queryExecution.executedPlan.toString
        .contains(stateName))
      assert(yearQ.collect().map(_.toSeq).toSeq == baseline(yearQ))
      // residual filter ON the grain expression: served as a state
      // filter on the grain column (the dashboard shape)
      def filtQ = spark.read.parquet(base)
        .where(trunc($"d", "MM") === lit(
          java.sql.Date.valueOf("2024-03-01")))
        .groupBy($"g").agg(sum($"x").as("sx")).orderBy($"g")
      assert(filtQ.queryExecution.executedPlan.toString
        .contains(stateName),
        s"grain-expression filter must not refuse:\n" +
          filtQ.queryExecution.executedPlan)
      assert(filtQ.collect().map(_.toSeq).toSeq == baseline(filtQ))
      // COARSER truncation inside the filter: year predicate on month
      // state re-truncates the grain column
      def yfiltQ = spark.read.parquet(base)
        .where(trunc($"d", "year") === lit(
          java.sql.Date.valueOf("2024-01-01")))
        .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
      assert(yfiltQ.queryExecution.executedPlan.toString
        .contains(stateName))
      assert(yfiltQ.collect().map(_.toSeq).toSeq == baseline(yfiltQ))
      // a filter on the RAW date column (not through the grain) still
      // refuses — the state cannot see sub-month date boundaries
      val rawQ = spark.read.parquet(base)
        .where($"d" >= lit(java.sql.Date.valueOf("2024-03-15")))
        .groupBy($"g").agg(sum($"x").as("sx"))
      assert(rawQ.queryExecution.executedPlan.toString.contains(baseName),
        "raw date-column filter must refuse the rewrite")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: non-deterministic residual refuses; scheme-" +
      "qualified registrations (file:///) key and resolve correctly") {
    import spark.implicits._
    val base = TempDir("graft_aggrw_nd").toString
    val statePath = TempDir("graft_aggrw_ndstate").toString
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "g", "x")
      .write.mode("overwrite").parquet(base)
    Materialize.aggregate(spark.read.parquet(base), Seq("g"), Seq("x"))
      .write.mode("overwrite").parquet(statePath)
    // register under the file:/// SPELLING — the probe side sees the
    // scheme-less path, so norm must make the two spellings key equal
    GraftAggViews.register(s"file://$base",
      GraftAggViews.AggViewDef(statePath, Seq("g"), Seq("x")))
    try {
      val served = spark.read.parquet(base).groupBy($"g")
        .agg(sum($"x").as("sx")).orderBy($"g")
      assert(served.queryExecution.executedPlan.toString
        .contains(new java.io.File(statePath).getName),
        "a file:///-registered base must still match the scanned path")
      assert(served.collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap == Map("a" -> 30L, "b" -> 30L))
      // rand() < p references no columns, so it slips the group-column
      // subset check — but it means "sample fact ROWS"; re-applied to
      // one-row-per-group state it would keep/kill whole groups. Must
      // refuse and scan the fact. (p must be < 1: Spark itself folds an
      // always-true rand() comparison away before the rule runs.)
      val nd = spark.read.parquet(base).where(rand() < lit(0.5))
        .groupBy($"g").agg(sum($"x").as("sx"))
      assert(nd.queryExecution.executedPlan.toString
        .contains(new java.io.File(base).getName),
        "a non-deterministic residual must refuse the rewrite")
    } finally GraftAggViews.drop(base)
    // MV ROOT spelled as a file: URI: the meta probe must go through
    // the Hadoop FS of the path's scheme (java.io.File can't see a
    // scheme-qualified spelling and silently degraded it to "concrete
    // state dir" = rewrite never fires)
    val wh = TempDir("graft_aggrw_rooturi").toString
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val cat = new graft.sources.GraftCatalog(spark, wh)
    cat.createTable("f", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("f", Seq((1L, "a", 7L)).toDF("k", "g", "x"))
    val mvRoot = s"$wh/mv"
    Materialize.build(cat, ChainSpec("f"), Seq("g"), Seq("x"), mvRoot)
    val facts = s"$wh/fact_export"
    cat.snapshot("f").write.mode("overwrite").parquet(facts)
    GraftAggViews.register(facts,
      GraftAggViews.AggViewDef(s"file://$mvRoot", Seq("g"), Seq("x")))
    try {
      val q = spark.read.parquet(facts).groupBy($"g")
        .agg(sum($"x").as("sx"))
      assert(q.queryExecution.executedPlan.toString.contains("state_v"),
        "a file:-spelled MV root must resolve through its meta pointer")
      assert(q.collect().head.getLong(1) == 7L)
    } finally GraftAggViews.drop(facts)
  }

  test("agg rewrite: grain-RANGE predicates (BETWEEN / >= / <) map " +
      "onto the state's grain column; untruncated timestamp ranges " +
      "refuse") {
    import spark.implicits._
    val base = TempDir("graft_aggrw_range").toString
    val statePath = TempDir("graft_aggrw_rangestate").toString
    val rows = (0 until 300).map { i =>
      (i.toLong, s"s${i % 3}",
        java.sql.Timestamp.valueOf(
          f"2024-${1 + i % 6}%02d-${1 + i % 27}%02d ${i % 24}%02d:11:00"),
        (i * 17 % 89).toLong)
    }
    rows.toDF("k", "g", "ts", "x").write.mode("overwrite").parquet(base)
    Materialize.aggregate(
        spark.read.parquet(base)
          .withColumn("day", date_trunc("DAY", $"ts")),
        Seq("g", "day"), Seq("x"))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("g", "day"), Seq("x"),
        grainExprs = Map("day" -> "date_trunc('DAY', ts)")))
    val stateName = new java.io.File(statePath).getName
    val baseName = new java.io.File(base).getName
    def baseline(df: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try df.collect().map(_.toSeq).toSeq
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    }
    def ts(sql: String) = lit(java.sql.Timestamp.valueOf(sql))
    try {
      // BETWEEN on the exact grain — "last N days at day grain"
      def betweenQ = spark.read.parquet(base)
        .where(date_trunc("day", $"ts")
          .between(ts("2024-02-03 00:00:00"), ts("2024-04-20 00:00:00")))
        .groupBy(date_trunc("day", $"ts").as("d"), $"g")
        .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
        .orderBy($"d", $"g")
      assert(betweenQ.queryExecution.executedPlan.toString
        .contains(stateName),
        "grain BETWEEN must serve from the state:\n" +
          betweenQ.queryExecution.executedPlan)
      assert(betweenQ.collect().map(_.toSeq).toSeq == baseline(betweenQ))
      // open-ended >= on the grain, grouping by the plain column only
      def geQ = spark.read.parquet(base)
        .where(date_trunc("day", $"ts") >= ts("2024-03-01 00:00:00"))
        .groupBy($"g").agg(sum($"x").as("sx"), max($"x").as("mx"))
        .orderBy($"g")
      assert(geQ.queryExecution.executedPlan.toString.contains(stateName),
        "grain >= must serve from the state")
      assert(geQ.collect().map(_.toSeq).toSeq == baseline(geQ))
      // COARSER truncation range: month-window query over day state —
      // the filter re-truncates the state's day column first
      def monthRangeQ = spark.read.parquet(base)
        .where(date_trunc("month", $"ts") < ts("2024-04-01 00:00:00"))
        .groupBy(date_trunc("month", $"ts").as("m"))
        .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
        .orderBy($"m")
      assert(monthRangeQ.queryExecution.executedPlan.toString
        .contains(stateName),
        "coarser-grain range must re-truncate the state's grain column")
      assert(monthRangeQ.collect().map(_.toSeq).toSeq ==
        baseline(monthRangeQ))
      // an UNTRUNCATED timestamp range references the raw ts column,
      // which one-row-per-day state cannot filter exactly — must refuse
      val rawQ = spark.read.parquet(base)
        .where($"ts" >= ts("2024-03-01 06:30:00"))
        .groupBy($"g").agg(sum($"x").as("sx"))
      assert(rawQ.queryExecution.executedPlan.toString.contains(baseName),
        "an untruncated ts range must refuse the rewrite:\n" +
          rawQ.queryExecution.executedPlan)
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: kmv sketch serving — exact grain, rollup union, " +
      "k-mismatch and nullable-unguarded-hash refusals") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerKernels(spark)
    val base = TempDir("graft_aggsk_base").toString
    val statePath = TempDir("graft_aggsk_state").toString
    // u nullable with a real NULL (count-distinct must skip it);
    // value 7 shared across groups (rollup union must dedup it)
    Seq((1L, "a", Some(7L)), (2L, "a", Some(8L)), (3L, "a", Some(7L)),
      (4L, "b", Some(7L)), (5L, "b", Some(9L)), (6L, "b", None))
      .toDF("k", "g", "u")
      .write.mode("overwrite").parquet(base)
    val fact = spark.read.parquet(base)
    Materialize.aggregate(fact, Seq("g"), Seq("u"),
        sketches = Seq("u" -> 1024))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("g"), Seq("u"),
        sketches = Map("u" -> 1024)))
    val stateName = new java.io.File(statePath).getName
    val baseName = new java.io.File(base).getName
    def sketchAgg(k: Int) = call_function("kmv_sketch",
      when($"u".isNotNull, xxhash64($"u")), lit(k))
    def est(c: org.apache.spark.sql.Column) =
      round(call_function("kmv_estimate", c)).cast("long")
    try {
      // exact grain: per-group distinct from the state's kmv_u
      val exact = spark.read.parquet(base).groupBy($"g")
        .agg(sketchAgg(1024).as("sk"))
        .select($"g", est($"sk").as("du")).orderBy($"g")
      assert(exact.queryExecution.executedPlan.toString.contains(stateName),
        "sketch aggregate must serve from the state")
      assert(exact.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq == Seq(("a", 2L), ("b", 2L)))
      // rollup: GLOBAL distinct = union of per-group sketches, byte-
      // equal to the direct sketch (7 shared across groups dedups)
      val roll = spark.read.parquet(base)
        .agg(sketchAgg(1024).as("sk")).select(est($"sk").as("du"))
      assert(roll.queryExecution.executedPlan.toString.contains(stateName),
        "rollup sketch must re-union the state")
      assert(roll.collect()(0).getLong(0) == 3L)
      // k mismatch is a DIFFERENT sketch — must refuse, not mis-serve
      val wrongK = spark.read.parquet(base).groupBy($"g")
        .agg(sketchAgg(512).as("sk"))
      assert(wrongK.queryExecution.executedPlan.toString.contains(baseName),
        "a different k must refuse the rewrite")
      // plain xxhash64 over a NULLABLE column counts NULL as a value —
      // state semantics differ, must refuse
      val unguarded = spark.read.parquet(base).groupBy($"g")
        .agg(call_function("kmv_sketch", xxhash64($"u"), lit(1024))
          .as("sk"))
      assert(unguarded.queryExecution.executedPlan.toString
        .contains(baseName),
        "an unguarded hash over a nullable column must refuse")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: kmv sketch rolls up through an expression grain " +
      "(day state serves monthly distinct users)") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerKernels(spark)
    val base = TempDir("graft_aggskg_base").toString
    val statePath = TempDir("graft_aggskg_state").toString
    // users recur across days and months, so the month rollup must
    // DEDUP across the unioned day sketches, not sum their counts
    val rows = (0 until 300).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-${1 + i % 3}%02d-${1 + i % 27}%02d 10:00:00"),
        (i % 40).toLong)
    }
    rows.toDF("k", "ts", "u").write.mode("overwrite").parquet(base)
    Materialize.aggregate(
        spark.read.parquet(base).withColumn("day", date_trunc("DAY", $"ts")),
        Seq("day"), Seq("u"), sketches = Seq("u" -> 2048))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("day"), Seq("u"),
        grainExprs = Map("day" -> "date_trunc('DAY', ts)"),
        sketches = Map("u" -> 2048)))
    val stateName = new java.io.File(statePath).getName
    def baseline(df: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraftAggViews.DisabledConf, "true")
      try df.collect().map(_.toSeq).toSeq
      finally spark.conf.unset(GraftAggViews.DisabledConf)
    }
    try {
      def monQ = spark.read.parquet(base)
        .groupBy(date_trunc("month", $"ts").as("m"))
        .agg(call_function("kmv_sketch",
          when($"u".isNotNull, xxhash64($"u")), lit(2048)).as("sk"))
        .select($"m",
          round(call_function("kmv_estimate", $"sk")).cast("long")
            .as("du"))
        .orderBy($"m")
      assert(monQ.queryExecution.executedPlan.toString.contains(stateName),
        "monthly sketch query must roll up the day-grain state:\n" +
          monQ.queryExecution.executedPlan)
      assert(monQ.collect().map(_.toSeq).toSeq == baseline(monQ),
        "served monthly distinct must equal the fact-scan answer")
    } finally GraftAggViews.drop(base)
  }

  test("agg rewrite: approx_top_terms serving — exact grain, rollup " +
      "union, cap-mismatch and wrong-column refusals, empty-state " +
      "empty list") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerKernels(spark)
    val base = TempDir("graft_aggtk_base").toString
    val statePath = TempDir("graft_aggtk_state").toString
    // u nullable with a real NULL (both agg paths skip it); term "x"
    // recurs across groups so the rollup union must ADD counts
    Seq((1L, "a", Some("x")), (2L, "a", Some("x")), (3L, "a", Some("y")),
      (4L, "b", Some("x")), (5L, "b", Some("z")), (6L, "b", None))
      .toDF("k", "g", "u")
      .write.mode("overwrite").parquet(base)
    Materialize.aggregate(spark.read.parquet(base), Seq("g"), Seq("k"),
        topks = Seq("u" -> 64))
      .write.mode("overwrite").parquet(statePath)
    GraftAggViews.register(base,
      GraftAggViews.AggViewDef(statePath, Seq("g"), Seq("k"),
        topks = Map("u" -> 64)))
    val stateName = new java.io.File(statePath).getName
    val baseName = new java.io.File(base).getName
    def tt(cap: Int, c: org.apache.spark.sql.Column = $"u") =
      call_function("approx_top_terms", c, lit(cap))
    try {
      // exact grain: per-group heavy hitters from the state's topk_u
      val exact = spark.read.parquet(base).groupBy($"g")
        .agg(tt(64).as("tt"))
        .select($"g", explode($"tt").as("e"))
        .select($"g", $"e.term", $"e.est").orderBy($"g", $"term")
      assert(exact.queryExecution.executedPlan.toString
        .contains(stateName),
        "top-terms aggregate must serve from the state")
      assert(exact.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
        Seq(("a", "x", 2L), ("a", "y", 1L), ("b", "x", 1L),
          ("b", "z", 1L)))
      // rollup: GLOBAL heavy hitters = union of per-group summaries —
      // exact regime, so "x" sums to 3 across groups
      val roll = spark.read.parquet(base).agg(tt(64).as("tt"))
        .select(explode($"tt").as("e"))
        .select($"e.term", $"e.est").orderBy($"term")
      assert(roll.queryExecution.executedPlan.toString
        .contains(stateName),
        "rollup top-terms must re-union the state")
      assert(roll.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq == Seq(("x", 3L), ("y", 1L), ("z", 1L)))
      // cap mismatch is a DIFFERENT error budget — refuse, not
      // mis-serve
      val wrongCap = spark.read.parquet(base).groupBy($"g")
        .agg(tt(32).as("tt"))
      assert(wrongCap.queryExecution.executedPlan.toString
        .contains(baseName),
        "a different capacity must refuse the rewrite")
      // a different term column than the registered one must refuse
      val wrongCol = spark.read.parquet(base).groupBy($"g")
        .agg(call_function("approx_top_terms", $"k", lit(64)).as("tt"))
      assert(wrongCol.queryExecution.executedPlan.toString
        .contains(baseName),
        "an unregistered term column must refuse the rewrite")
      // a group filter selecting NO state rows must read back as the
      // empty entry list (the direct aggregate's zero-row answer),
      // not NULL
      val empty = spark.read.parquet(base).where($"g" === "zzz")
        .groupBy($"g").agg(tt(64).as("tt"))
        .select(size($"tt").as("n"))
      assert(empty.queryExecution.executedPlan.toString
        .contains(stateName))
      assert(empty.collect().isEmpty)
    } finally GraftAggViews.drop(base)
  }
}
