package graft

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Materialize, RefreshReport}
import graft.sources.GraftCatalog
import graft.Measure.Measured
import graft.operators.MaterializeJoin.{ChainSpec, SideSpec}

/** The build and refresh contract both MV kinds share through one
  * build and one fold core: the [[graft.operators.RefreshReport]] each
  * refresh returns, the Spark jobs a plain build and a plain
  * incremental refresh run, the build's grain check, and the meta
  * carrying a filtered MV's predicate across refreshes. */
class MvRefreshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshCatalog(): GraftCatalog = new GraftCatalog(spark,
    TempDir("graft_mvr").toString)

  private def mvPath(): String =
    TempDir("graft_mvr_mv").toString

  private val factSchema = StructType(Seq(StructField("k", LongType),
    StructField("g", StringType), StructField("x", LongType)))
  private val ordersSchema = StructType(Seq(StructField("ok", LongType),
    StructField("ck", LongType), StructField("price", LongType)))
  private val custSchema = StructType(Seq(StructField("ck", LongType),
    StructField("seg", StringType)))
  private val js = ChainSpec("o", Seq(SideSpec("c", Seq("ck"))))

  private def singleTable(): GraftCatalog = {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", factSchema, pk = Seq("k"))
    cat.upsert("t", Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
      (7L, "a", 15L)).toDF("k", "g", "x"))
    cat
  }

  private def joinTables(): GraftCatalog = {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("o", ordersSchema, pk = Seq("ok"))
    cat.createTable("c", custSchema, pk = Seq("ck"))
    cat.upsert("o", Seq((1L, 10L, 100L), (2L, 10L, 200L),
      (3L, 20L, 300L), (6L, 10L, 150L)).toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((10L, "a"), (20L, "b")).toDF("ck", "seg"))
    cat
  }

  test("single-table MV: a no-change refresh after a recomputing one " +
      "reports that nothing ran") {
    val cat = singleTable()
    val path = mvPath()
    Materialize.build(cat, ChainSpec("t"), Seq("g"), Seq("x"), path)
    // k=2 holds group a's max: its delete gates in a recompute
    cat.delete("t", col("k") === 2L)
    val r = Materialize.refresh(cat, path)
    assert(r.recomputeRan)
    assert(r.affectedGroups == 1L)
    val r2 = Materialize.refresh(cat, path)
    assert(!r2.recomputeRan,
      "a no-change refresh must not report the previous recompute")
    assert(r2.affectedGroups == 0L)
    assert(!r2.rebuildRan)
  }

  test("join MV: a no-change refresh after a recomputing one reports " +
      "that nothing ran") {
    val cat = joinTables()
    val path = mvPath()
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    // ok=2 holds segment a's max price
    cat.delete("o", col("ok") === 2L)
    val r = Materialize.refresh(cat, path)
    assert(r.recomputeRan)
    assert(r.affectedGroups == 1L)
    val r2 = Materialize.refresh(cat, path)
    assert(!r2.recomputeRan,
      "a no-change refresh must not report the previous recompute")
    assert(r2.affectedGroups == 0L)
    assert(!r2.rebuildRan)
  }

  test("reports are per call: two refreshes running at once each " +
      "describe their own MV") {
    val recomputing = singleTable()
    val recomputingMv = mvPath()
    Materialize.build(recomputing, ChainSpec("t"), Seq("g"), Seq("x"),
      recomputingMv)
    // k=2 holds group a's max: its delete gates in a recompute
    recomputing.delete("t", col("k") === 2L)
    val idle = singleTable()
    val idleMv = mvPath()
    Materialize.build(idle, ChainSpec("t"), Seq("g"), Seq("x"), idleMv)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit[RefreshReport](() =>
        Materialize.refresh(recomputing, recomputingMv))
      val b = pool.submit[RefreshReport](() =>
        Materialize.refresh(idle, idleMv))
      val (ra, rb) = (a.get(120, TimeUnit.SECONDS),
        b.get(120, TimeUnit.SECONDS))
      assert(ra.recomputeRan && ra.affectedGroups == 1L,
        s"the recomputing refresh's report: $ra")
      assert(!rb.recomputeRan && rb.affectedGroups == 0L && !rb.rebuildRan,
        s"the no-change refresh's report: $rb")
    } finally pool.shutdownNow()
  }

  test("two refreshes of one MV at once: one folds, the other waits " +
      "for it and finds nothing left to fold") {
    val cat = singleTable()
    val path = mvPath()
    Materialize.build(cat, ChainSpec("t"), Seq("g"), Seq("x"), path)
    // k=2 holds group a's max: its delete gates in a recompute
    cat.delete("t", col("k") === 2L)
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = Seq.fill(2)(pool.submit[RefreshReport] { () =>
        go.await()
        Materialize.refresh(cat, path)
      })
      go.countDown()
      val reports = runs.map(_.get(120, TimeUnit.SECONDS))
      assert(reports.count(r => r.recomputeRan &&
        r.affectedGroups == 1L) == 1, s"exactly one folds: $reports")
      assert(reports.count(r => !r.recomputeRan &&
        r.affectedGroups == 0L && !r.rebuildRan) == 1,
        s"the other is a no-change refresh: $reports")
    } finally pool.shutdownNow()
    // a Seq, not a Set: duplicate part files would show as repeated rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("g", "cnt", "sum_x", "min_x", "max_x").collect()
        .map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(rows(Materialize.read(spark, path)) == rows(Materialize
      .aggregate(cat.snapshot("t"), Seq("g"), Seq("x"))))
  }

  test("the counter cleans up after a body that throws") {
    val e = intercept[IllegalStateException] {
      Measure.once(spark) {
        spark.range(10).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null,
      "the counted job group must be cleared")
    assert(Measure.once(spark)(()).counts == Measure.JobCounts(0, 0, 0),
      "a no-op body after a failed one counts no Spark work")
  }

  // Jobs per warm incremental refresh (insert + non-extremal update,
  // no recompute), measured on the code before the two MV kinds shared
  // one fold core; a change here is a change in refresh cost. The
  // counts also depend on the base tables' file layout: each small
  // fixture upsert lands as one file, and the join refresh's scans
  // split by file.
  test("jobs per refresh: plain single-table MV") {
    import spark.implicits._
    val cat = singleTable()
    val path = mvPath()
    Materialize.build(cat, ChainSpec("t"), Seq("g"), Seq("x"), path)
    cat.upsert("t", Seq((4L, "b", 35L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path) // warm: memos and caches filled
    cat.upsert("t", Seq((5L, "a", 12L), (7L, "a", 16L))
      .toDF("k", "g", "x"))
    val Measured(n, _, r) =
      Measure.once(spark)(Materialize.refresh(cat, path))
    assert(!r.recomputeRan)
    assert(n.jobs == 10, s"jobs per single-table refresh: ${n.jobs}")
    assert(Measure.once(spark)(Materialize.refresh(cat, path))
        .counts.jobs == 0,
      "a no-change refresh runs no job")
    assert(Materialize.read(spark, path).orderBy("g")
      .select("g", "cnt", "sum_x", "min_x", "max_x").collect()
      .map(_.toSeq).toSeq == Seq(Seq("a", 4L, 58L, 10L, 20L),
        Seq("b", 2L, 65L, 30L, 35L)))
  }

  test("jobs per refresh: plain join MV") {
    import spark.implicits._
    val cat = joinTables()
    val path = mvPath()
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    cat.upsert("o", Seq((4L, 20L, 350L)).toDF("ok", "ck", "price"))
    Materialize.refresh(cat, path) // warm: memos and caches filled
    cat.upsert("o", Seq((5L, 10L, 120L), (6L, 10L, 160L))
      .toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((30L, "c")).toDF("ck", "seg"))
    val Measured(n, _, r) =
      Measure.once(spark)(Materialize.refresh(cat, path))
    assert(!r.recomputeRan)
    assert(n.jobs == 30, s"jobs per join refresh: ${n.jobs}")
    assert(Measure.once(spark)(Materialize.refresh(cat, path))
        .counts.jobs == 0,
      "a no-change refresh runs no job")
    assert(Materialize.read(spark, path).orderBy("seg")
      .select("seg", "cnt", "sum_price", "min_price", "max_price")
      .collect().map(_.toSeq).toSeq == Seq(Seq("a", 4L, 580L, 100L, 200L),
        Seq("b", 2L, 650L, 300L, 350L)))
  }

  // One build serves both kinds; its jobs are pinned at the counts the
  // two separate builds ran before they were folded into one (a warm
  // build first, so memos and caches are filled).
  test("jobs per build: plain single-table MV and plain join MV") {
    val cat = singleTable()
    Materialize.build(cat, ChainSpec("t"), Seq("g"), Seq("x"), mvPath())
    val single = Measure.once(spark)(Materialize.build(cat, ChainSpec("t"),
      Seq("g"), Seq("x"), mvPath()))
    assert(single.counts.jobs == 3,
      s"jobs per single-table build: ${single.counts.jobs}")
    assert(single.value == Seq(cat.currentVersion("t")))
    val jc = joinTables()
    Materialize.build(jc, js, Seq("seg"), Seq("price"), mvPath())
    val join = Measure.once(spark)(Materialize.build(jc, js, Seq("seg"),
      Seq("price"), mvPath()))
    assert(join.counts.jobs == 5,
      s"jobs per join build: ${join.counts.jobs}")
    assert(join.value == Seq("o", "c").map(jc.currentVersion))
  }

  test("a grain column outside groupCols refuses the build of either " +
      "kind") {
    val single = intercept[IllegalArgumentException](Materialize.build(
      singleTable(), ChainSpec("t"), Seq("g"), Seq("x"), mvPath(),
      grains = Seq("xb" -> "x % 2")))
    assert(single.getMessage.contains("must appear in groupCols"),
      single.getMessage)
    val join = intercept[IllegalArgumentException](Materialize.build(
      joinTables(), js, Seq("seg"), Seq("price"), mvPath(),
      grains = Seq("pb" -> "price % 2")))
    assert(join.getMessage.contains("must appear in groupCols"),
      join.getMessage)
  }

  test("a filtered MV keeps its predicate across refreshes: the " +
      "second refresh still folds only matching rows") {
    import spark.implicits._
    val cat = singleTable()
    val path = mvPath()
    Materialize.build(cat, ChainSpec("t", factFilterSql = Some("x > 10")),
      Seq("g"), Seq("x"), path)
    cat.upsert("t", Seq((4L, "a", 5L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    cat.upsert("t", Seq((5L, "a", 3L), (6L, "a", 40L))
      .toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    val rows = Materialize.read(spark, path).orderBy("g")
      .select("g", "cnt", "sum_x").collect().map(_.toSeq).toSeq
    assert(rows == Seq(Seq("a", 3L, 75L), Seq("b", 1L, 30L)),
      s"rows with x <= 10 must never be folded: $rows")
  }
}
