package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Commit, Materialize, MaterializeJoin, MvMeta}
import graft.sources.GraftCatalog
import graft.operators.MaterializeJoin.{ChainSpec, SideSpec}

/** r17 optimization-round pins.
  *
  *  - LOST-CHECKPOINT-BLOCK RETRY: refresh legs/folds ride unreplicated
  *    localCheckpoint blocks; on a cluster an executor loss drops them
  *    unrecoverably (lineage truncated). The refresh wrapper retries the
  *    whole mark-bounded fold exactly once — these specs drop every
  *    checkpointed block mid-refresh (after the fold materialized,
  *    before the state write consumed it) and pin that the refresh
  *    still succeeds with the exact expected state.
  *  - DIRECT STATE WRITE EQUIVALENCE: the driver path of [[Commit]]
  *    must produce files Spark reads back exactly like a distributed
  *    write across every state-relevant type, and must replace a
  *    leftover target dir the way the distributed write does.
  */
class RefreshResilienceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshCatalog(): GraftCatalog = {
    val wh = java.nio.file.Files.createTempDirectory("graft_rrwh").toString
    new GraftCatalog(spark, wh)
  }

  private def canon(r: org.apache.spark.sql.Row) =
    r.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }

  /** Drop EVERY persisted RDD block in the session — the local-mode
    * analog of losing the executor that held the checkpoint blocks. */
  private def dropAllBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  private def withFoldHook[T](hook: () => Unit)(f: => T): T = {
    Materialize.testFoldHook = hook
    try f finally Materialize.testFoldHook = () => ()
  }

  test("single-table refresh survives losing its checkpoint blocks " +
      "mid-fold (one-shot mark-bounded retry)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      pk = Seq("k"))
    cat.upsert("t", Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_rrmv").toString
    // bucketed state: the single-table fold checkpoints changes,
    // retracted AND merged — the richest block set to lose
    Materialize.build(cat, ChainSpec("t"), Seq("k"), Seq("v"), mv, buckets = 4)
    cat.upsert("t", Seq(("a", 5L), ("d", 7L)).toDF("k", "v"))
    var fired = 0
    withFoldHook(() => if (fired == 0) { fired = 1; dropAllBlocks() }) {
      Materialize.refresh(cat, mv)
    }
    assert(fired == 1, "the block-dropping hook must have fired")
    val got = Materialize.read(spark, mv)
      .select("k", "cnt", "sum_v").collect().map(canon).toSet
    val want = Materialize.aggregate(cat.snapshot("t"), Seq("k"),
      Seq("v")).select("k", "cnt", "sum_v").collect().map(canon).toSet
    assert(got == want)
  }

  test("join refresh survives losing its checkpoint blocks mid-fold") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("o", StructType(Seq(
      StructField("ok", LongType), StructField("ck", LongType),
      StructField("price", LongType))), pk = Seq("ok"))
    cat.createTable("c", StructType(Seq(
      StructField("ck", LongType), StructField("seg", StringType))),
      pk = Seq("ck"))
    cat.upsert("o", Seq((1L, 10L, 100L), (2L, 20L, 200L))
      .toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((10L, "a"), (20L, "b")).toDF("ck", "seg"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_rrjmv").toString
    Materialize.build(cat,
      ChainSpec("o", Seq(SideSpec("c", Seq("ck")))),
      Seq("seg"), Seq("price"), mv)
    cat.upsert("o", Seq((3L, 10L, 300L)).toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((20L, "a")).toDF("ck", "seg"))
    var fired = 0
    withFoldHook(() => if (fired == 0) { fired = 1; dropAllBlocks() }) {
      Materialize.refresh(cat, mv)
    }
    assert(fired == 1)
    val got = Materialize.read(spark, mv)
      .select("seg", "cnt", "sum_price").collect().map(canon).toSet
    val want = Materialize.aggregate(
      cat.snapshot("o").join(cat.snapshot("c"), Seq("ck")),
      Seq("seg"), Seq("price"))
      .select("seg", "cnt", "sum_price").collect().map(canon).toSet
    assert(got == want)
  }

  test("a non-block-lost refresh failure is NOT retried (propagates)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t2", StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      pk = Seq("k"))
    cat.upsert("t2", Seq(("a", 1L)).toDF("k", "v"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_rrmv2").toString
    Materialize.build(cat, ChainSpec("t2"), Seq("k"), Seq("v"), mv)
    cat.upsert("t2", Seq(("b", 2L)).toDF("k", "v"))
    var calls = 0
    val boom = intercept[RuntimeException] {
      withFoldHook(() => { calls += 1; throw new RuntimeException("boom") }) {
        Materialize.refresh(cat, mv)
      }
    }
    assert(boom.getMessage == "boom")
    assert(calls == 1, "an unrelated failure must not trigger the retry")
  }

  test("driver-local parquet write reads back exactly like the " +
      "distributed write across state-relevant types") {
    import spark.implicits._
    val df = spark.range(0, 50).select(
      col("id"),
      (col("id") % 7).cast(IntegerType).as("i"),
      concat(lit("s"), col("id")).as("s"),
      (col("id") * 2.5).as("d"),
      col("id").cast(DecimalType(28, 3)).as("dec"),
      timestamp_millis(col("id") * 86400000L).as("ts"),
      to_date(timestamp_millis(col("id") * 86400000L)).as("dt"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise(unhex(lpad(hex(col("id")), 8, "0"))).as("bin"),
      array(col("id"), col("id") + 1).as("arr"),
      (col("id") % 3 === 0).as("b"))
    val dDir = java.nio.file.Files
      .createTempDirectory("graft_dw_dist").toString + "/p"
    val lDir = java.nio.file.Files
      .createTempDirectory("graft_dw_local").toString + "/p"
    df.write.parquet(dDir)
    val local = Measure.once(spark)(Commit.replace(df, lDir)).counts
    val a = spark.read.parquet(dDir)
    val b = spark.read.parquet(lDir)
    assert(a.schema == b.schema)
    assert(a.collect().map(canon).toSet == b.collect().map(canon).toSet)
    // over the cap the probe's rows are dropped and the distributed
    // write lands the same rows: one more job than the probe alone
    val big = spark.range(0, Commit.cap + 10).toDF("id")
    val oDir = java.nio.file.Files
      .createTempDirectory("graft_dw_over").toString + "/p"
    val over = Measure.once(spark)(Commit.replace(big, oDir)).counts
    assert(over.jobs > local.jobs, s"driver $local, distributed $over")
    assert(spark.read.parquet(oDir).count() == Commit.cap + 10L)
  }

  test("insert-only bucketed refresh takes the driver-local bucket " +
      "layout and serves the exact aggregate") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("tb", StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      pk = Seq("k"))
    cat.upsert("tb", Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L))
      .toDF("k", "v"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_rrbk").toString
    Materialize.build(cat, ChainSpec("tb"), Seq("k"), Seq("v"), mv, buckets = 4)
    // insert-only delta → no retraction, no recompute → the refresh
    // writes its touched buckets on the driver (Commit's driver path)
    cat.upsert("tb", Seq(("e", 5L), ("f", 6L)).toDF("k", "v"))
    val r = Materialize.refresh(cat, mv)
    assert(!r.recomputeRan)
    val got = Materialize.read(spark, mv)
      .select("k", "cnt", "sum_v", "min_v", "max_v")
      .collect().map(canon).toSet
    val want = Materialize.aggregate(cat.snapshot("tb"), Seq("k"),
      Seq("v")).select("k", "cnt", "sum_v", "min_v", "max_v")
      .collect().map(canon).toSet
    assert(got == want)
    // layout contract: the new state dir holds __b=<i> leaf dirs with
    // exactly one data file each (the one-file-per-bucket property)
    val meta = spark.read.parquet(s"$mv/meta").head()
    val stateDir = meta.getAs[String]("state_dir")
    val leafs = Option(new java.io.File(s"$mv/$stateDir").listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("__b="))
    assert(leafs.nonEmpty)
    leafs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"expected 1 file in $d")
    }
  }

  /** Copy every file of the MV's live state dir into `target`, keeping
    * the layout (`__b=` slices, `_schema`): the part files an earlier,
    * crashed attempt of the next refresh left in the dir it targets. */
  private def plantLiveState(mv: String, target: String): Unit = {
    val live = java.nio.file.Paths.get(mv, spark.read.parquet(s"$mv/meta")
      .head().getAs[String]("state_dir"))
    val files = java.nio.file.Files.walk(live)
    try files.filter(f => java.nio.file.Files.isRegularFile(f))
      .forEach { f =>
        val to = java.nio.file.Paths.get(target)
          .resolve(live.relativize(f))
        java.nio.file.Files.createDirectories(to.getParent)
        java.nio.file.Files.copy(f, to)
      }
    finally files.close()
  }

  /** The served state equals the snapshot recompute, one row per
    * group, and lives in `target` (so the planted files were there). */
  private def assertExactState(mv: String, target: String,
      got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Unit = {
    assert(spark.read.parquet(s"$mv/meta").head()
      .getAs[String]("state_dir") == target.split('/').last)
    assert(got.map(_.head).distinct.size == got.size,
      s"duplicate groups served: $got")
    assert(got.toSet == want.toSet)
  }

  test("a single-table refresh replaces leftover files in its target " +
      "state dir") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("tl", StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      pk = Seq("k"))
    cat.upsert("tl", Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_rrleft").toString
    Materialize.build(cat, ChainSpec("tl"), Seq("k"), Seq("v"), mv)
    cat.upsert("tl", Seq(("a", 5L), ("d", 7L)).toDF("k", "v"))
    val target = s"$mv/state_v${cat.currentVersion("tl")}"
    plantLiveState(mv, target)
    Materialize.refresh(cat, mv)
    val cols = Seq("k", "cnt", "sum_v", "min_v", "max_v")
    assertExactState(mv, target,
      Materialize.read(spark, mv).select(cols.map(col): _*).collect()
        .map(canon).toSeq,
      Materialize.aggregate(cat.snapshot("tl"), Seq("k"), Seq("v"))
        .select(cols.map(col): _*).collect().map(canon).toSeq)
  }

  test("a bucketed join refresh replaces leftover files in its target " +
      "state dir") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("lo", StructType(Seq(StructField("ok", LongType),
      StructField("ck", LongType), StructField("price", LongType))),
      pk = Seq("ok"))
    cat.createTable("lc", StructType(Seq(StructField("ck", LongType),
      StructField("seg", StringType))), pk = Seq("ck"))
    cat.upsert("lo", Seq((1L, 10L, 100L), (2L, 10L, 200L),
      (3L, 20L, 300L)).toDF("ok", "ck", "price"))
    cat.upsert("lc", Seq((10L, "a"), (20L, "b")).toDF("ck", "seg"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_rrleftj").toString
    Materialize.build(cat, MaterializeJoin.ChainSpec("lo",
      Seq(MaterializeJoin.SideSpec("lc", Seq("ck")))), Seq("seg"),
      Seq("price"), mv, buckets = 4)
    // insert-only into an existing group: its bucket is rewritten
    cat.upsert("lo", Seq((5L, 10L, 120L)).toDF("ok", "ck", "price"))
    val target = s"$mv/state_v${cat.currentVersion("lo")}_" +
      s"${cat.currentVersion("lc")}"
    plantLiveState(mv, target)
    Materialize.refresh(cat, mv)
    val cols = Seq("seg", "cnt", "sum_price", "min_price", "max_price")
    assertExactState(mv, target,
      Materialize.read(spark, mv).select(cols.map(col): _*).collect()
        .map(canon).toSeq,
      Materialize.aggregate(cat.snapshot("lo").join(cat.snapshot("lc"),
        "ck"), Seq("seg"), Seq("price"))
        .select(cols.map(col): _*).collect().map(canon).toSeq)
  }

  test("a meta rewrite replaces the meta dir contents in place") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("tm", StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      pk = Seq("k"))
    cat.upsert("tm", Seq(("a", 1L)).toDF("k", "v"))
    val mv = java.nio.file.Files.createTempDirectory("graft_dw_meta")
      .toString
    Materialize.build(cat, ChainSpec("tm"), Seq("k"), Seq("v"), mv)
    val m = MvMeta.read(spark, mv)
    val dir = java.nio.file.Files.createTempDirectory("graft_dw_meta2")
      .toString
    def parts() = new java.io.File(dir, "meta").listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSeq
    MvMeta.write(spark, dir, m.copy(stateDir = "x"))
    assert(spark.read.parquet(s"$dir/meta").collect().map(
      _.getAs[String]("state_dir")).toSeq == Seq("x"))
    val Seq(first) = parts()
    MvMeta.write(spark, dir, m.copy(stateDir = "y"))
    assert(spark.read.parquet(s"$dir/meta").collect().map(
      _.getAs[String]("state_dir")).toSeq == Seq("y"))
    val Seq(second) = parts()
    assert(second > first, "the newer meta file must sort last")
  }
}
