package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Materialize, MaterializeJoin}
import graft.sources.GraftCatalog
import graft.operators.MaterializeJoin.{ChainSpec, SideSpec}

/** Binary-join IVM: V = γ(R ⋈ S) maintained while BOTH sides mutate.
  * Every scenario cross-checks the folded state against a full
  * recompute of the joined current snapshots — the differential
  * correctness contract the single-table IVM specs use. */
class MaterializeJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshCatalog(): GraftCatalog = {
    val wh = TempDir("graft_jwh").toString
    new GraftCatalog(spark, wh)
  }

  private val ordersSchema = StructType(Seq(
    StructField("ok", LongType), StructField("ck", LongType),
    StructField("price", LongType)))
  private val custSchema = StructType(Seq(
    StructField("ck", LongType), StructField("seg", StringType)))

  private def mkTables(cat: GraftCatalog): Unit = {
    import spark.implicits._
    cat.createTable("o", ordersSchema, pk = Seq("ok"))
    cat.createTable("c", custSchema, pk = Seq("ck"))
    cat.upsert("o", Seq((1L, 10L, 100L), (2L, 10L, 200L),
      (3L, 20L, 300L), (4L, 30L, 400L)).toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((10L, "a"), (20L, "b"), (30L, "a"))
      .toDF("ck", "seg"))
  }

  private val js = ChainSpec("o", Seq(SideSpec("c", Seq("ck"))))
  private val immJs =
    ChainSpec("o", Seq(SideSpec("c", Seq("ck"), factKeysImmutable = true)))

  private def canon(r: org.apache.spark.sql.Row) =
    r.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }

  private def expected(cat: GraftCatalog): Set[Seq[Any]] =
    Materialize.aggregate(
      cat.snapshot("o").join(cat.snapshot("c"), Seq("ck")),
      Seq("seg"), Seq("price")).collect().map(canon).toSet

  private def actual(path: String): Set[Seq[Any]] =
    Materialize.read(spark, path).collect().map(canon).toSet

  test("build + read: state equals the joined-snapshot aggregate") {
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    assert(actual(path) == expected(cat))
  }

  test("insert-only on both sides folds algebraically — no recompute, " +
      "new join matches materialize lazily") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    // new fact rows against existing dims + a brand-new key on BOTH
    // sides (ck=40 exists only after this delta — the ΔR ⋈ ΔS cross
    // term, which must land exactly once)
    cat.upsert("o", Seq((5L, 20L, 500L), (6L, 40L, 600L))
      .toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((40L, "c")).toDF("ck", "seg"))
    val r = Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat))
    assert(!r.recomputeRan,
      "insert-only deltas must fold with no recompute")
  }

  test("right-side (dim) churn: an updated attribute regroups every " +
      "joined fact row — the case the star path refuses") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    // ck=10 moves a→b: both its fact rows (fan-out 2) must leave 'a'
    // and land in 'b'
    cat.upsert("c", Seq((10L, "b")).toDF("ck", "seg"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat))
  }

  test("left update + delete, group-emptying: emptied group drops") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    // ok=3 is seg b's ONLY row: delete it → 'b' must vanish
    cat.delete("o", col("ok") === 3L)
    cat.upsert("o", Seq((1L, 10L, 150L)).toDF("ok", "ck", "price"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat))
    assert(!actual(path).exists(_.head == "b"))
  }

  test("extremum gate: a non-extremal retraction folds with zero " +
      "recompute; an extremum-crossing one gates in") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    // seg a holds prices {100, 200, 400}; retracting 200 (ok=2 →
    // 201) neither ties nor crosses min=100/max=400... but the +201
    // post RAISES nothing either — strictly interior both ways
    cat.upsert("o", Seq((2L, 10L, 201L)).toDF("ok", "ck", "price"))
    val r = Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat))
    assert(!r.recomputeRan,
      "an interior retraction must fold algebraically")
    // retract the max (400 → 50): only a recompute can lower max
    cat.upsert("o", Seq((4L, 30L, 50L)).toDF("ok", "ck", "price"))
    val r2 = Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat))
    assert(r2.recomputeRan,
      "retracting the group max must take the recompute path")
  }

  test("vacuum reclaims superseded state dirs; the live state and " +
      "subsequent refreshes are untouched") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    cat.upsert("o", Seq((7L, 20L, 700L)).toDF("ok", "ck", "price"))
    Materialize.refresh(cat, path)
    cat.upsert("o", Seq((8L, 30L, 800L)).toDF("ok", "ck", "price"))
    Materialize.refresh(cat, path)
    def stateDirs = new java.io.File(path).listFiles
      .count(d => d.isDirectory && d.getName.startsWith("state_v"))
    assert(stateDirs == 3, s"expected 3 accumulated dirs, got $stateDirs")
    val before = actual(path)
    assert(Materialize.vacuum(spark, path) > 0L,
      "vacuum must reclaim bytes from the two dead dirs")
    assert(stateDirs == 1)
    assert(actual(path) == before, "live state must survive vacuum")
    cat.upsert("o", Seq((9L, 10L, 900L)).toDF("ok", "ck", "price"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat),
      "post-vacuum refresh must stay exact")
  }

  test("no-op refresh returns the stored marks and rewrites nothing") {
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    val Seq(vl, vr) = Materialize.build(cat, js, Seq("seg"),
      Seq("price"), path)
    val before = actual(path)
    assert(Materialize.refresh(cat, path).marks == Seq(vl, vr))
    assert(actual(path) == before)
  }

  test("log compaction past the fold point forces a rebuild — still " +
      "exact") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    cat.upsert("o", Seq((7L, 20L, 700L)).toDF("ok", "ck", "price"))
    cat.compact("o") // history before the new high-water is GONE
    Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat))
  }

  test("TTL tables are refused (joined-row expiry is not maintainable)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("o", ordersSchema, pk = Seq("ok"),
      props = Map("TTL" -> "3600"))
    cat.createTable("c", custSchema, pk = Seq("ck"))
    cat.upsert("o", Seq((1L, 10L, 100L)).toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((10L, "a")).toDF("ck", "seg"))
    val path = TempDir("graft_jmv").toString
    val e = intercept[IllegalArgumentException] {
      Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    }
    assert(e.getMessage.contains("TTL"))
  }

  test("ambiguous non-key column names are refused at build") {
    val cat = freshCatalog()
    cat.createTable("o", ordersSchema, pk = Seq("ok"))
    cat.createTable("c", StructType(Seq(
      StructField("ck", LongType), StructField("price", LongType))),
      pk = Seq("ck"))
    val path = TempDir("graft_jmv").toString
    val e = intercept[IllegalArgumentException] {
      Materialize.build(cat, js, Seq("ck"), Seq("price"), path)
    }
    assert(e.getMessage.contains("unique"))
  }

  test("immutable-FK prefilter: refresh stays exact through updates, " +
      "dim churn and deletes when the fact's join key never mutates " +
      "(the below-collapse read-bound path)") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    val ijs = immJs
    Materialize.build(cat, ijs, Seq("seg"), Seq("price"), path)
    // fact updates change PRICE only (ck immutable per the contract),
    // plus a fact delete and dim churn — every delta leg takes the
    // prefiltered read on the left side (flag persisted in the meta)
    cat.upsert("o", Seq((2L, 10L, 999L), (5L, 20L, 500L))
      .toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((10L, "c"), (40L, "d")).toDF("ck", "seg"))
    cat.delete("o", col("ok") === 4L)
    Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat))
    // second round: dangling key materializes via a dim insert
    cat.upsert("o", Seq((6L, 40L, 600L)).toDF("ok", "ck", "price"))
    Materialize.refresh(cat, path)
    cat.upsert("c", Seq((20L, "a")).toDF("ck", "seg"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat))
  }

  test("N-way chain: fact ⋈ two mutating sides — every table churns, " +
      "state == joined recompute after every refresh; omitted-side " +
      "queries refuse the rewrite") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("f", StructType(Seq(
      StructField("ok", LongType), StructField("ck", LongType),
      StructField("pk2", LongType), StructField("price", LongType))),
      pk = Seq("ok"))
    cat.createTable("c", custSchema, pk = Seq("ck"))
    cat.createTable("p", StructType(Seq(
      StructField("pk2", LongType), StructField("brand", StringType))),
      pk = Seq("pk2"))
    cat.upsert("f", Seq((1L, 10L, 100L, 5L), (2L, 10L, 101L, 6L),
      (3L, 20L, 100L, 7L), (4L, 30L, 101L, 8L))
      .toDF("ok", "ck", "pk2", "price"))
    cat.upsert("c", Seq((10L, "a"), (20L, "b"), (30L, "a"))
      .toDF("ck", "seg"))
    cat.upsert("p", Seq((100L, "x"), (101L, "y")).toDF("pk2", "brand"))
    // NO immutability declarations: the fuzz below MUTATES fact join
    // keys (ok=2's pk2 moves 101 → 103), which the contract forbids —
    // declaring it here would (correctly, and silently) surface stale
    // winners, exactly the failure mode the scaladoc warns about
    val cs = MaterializeJoin.ChainSpec("f", Seq(
      MaterializeJoin.SideSpec("c", Seq("ck")),
      MaterializeJoin.SideSpec("p", Seq("pk2"))))
    val path = TempDir("graft_jmvn").toString
    Materialize.build(cat, cs, Seq("seg", "brand"), Seq("price"),
      path)
    def expectedN: Set[Seq[Any]] = Materialize.aggregate(
      cat.snapshot("f").join(cat.snapshot("c"), Seq("ck"))
        .join(cat.snapshot("p"), Seq("pk2")),
      Seq("seg", "brand"), Seq("price")).collect().map(canon).toSet
    assert(actual(path) == expectedN, "after build")

    // one delta touching ALL THREE tables at once: fact insert with an
    // initially-dangling part key, fact measure update, dim regroup,
    // part rebrand, fact delete
    cat.upsert("f", Seq((5L, 20L, 102L, 9L), (1L, 10L, 100L, 55L))
      .toDF("ok", "ck", "pk2", "price"))
    cat.upsert("c", Seq((20L, "c")).toDF("ck", "seg"))
    cat.upsert("p", Seq((101L, "z")).toDF("pk2", "brand"))
    cat.delete("f", col("ok") === 4L)
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedN, "after 3-table combined churn")

    // the dangling part key materializes late — only the part delta
    // leg can pick the waiting fact row up
    cat.upsert("p", Seq((102L, "w")).toDF("pk2", "brand"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedN, "after late part materialization")

    // chain fuzz: random ops on any of the three tables
    val rnd = new scala.util.Random(81520268L)
    val segs = Vector("a", "b", "c")
    val brands = Vector("x", "y", "z", "w")
    for (step <- 1 to 6) {
      for (_ <- 0 until 1 + rnd.nextInt(3)) rnd.nextInt(5) match {
        case 0 => cat.upsert("f", Seq((rnd.nextInt(10).toLong,
          (rnd.nextInt(4) * 10 + 10).toLong,
          (100 + rnd.nextInt(4)).toLong,
          rnd.nextInt(100).toLong)).toDF("ok", "ck", "pk2", "price"))
        case 1 => cat.upsert("c", Seq(((rnd.nextInt(4) * 10 + 10).toLong,
          segs(rnd.nextInt(segs.size)))).toDF("ck", "seg"))
        case 2 => cat.upsert("p", Seq(((100 + rnd.nextInt(4)).toLong,
          brands(rnd.nextInt(brands.size)))).toDF("pk2", "brand"))
        case 3 => cat.delete("f", col("ok") === rnd.nextInt(10).toLong)
        case 4 => cat.delete("p",
          col("pk2") === (100 + rnd.nextInt(4)).toLong)
      }
      Materialize.refresh(cat, path)
      assert(actual(path) == expectedN, s"chain fuzz diverged at $step")
    }

    // rewrite: a query omitting the part join must refuse (the state
    // never counted part-unmatched fact rows)
    cat.refreshSnapshotCache("f"); cat.refreshSnapshotCache("c")
    cat.refreshSnapshotCache("p")
    Materialize.registerForRewrite(cat, path)
    val stateName = new java.io.File(path).getName
    try {
      val full = cat.snapshotServed("f")
        .join(cat.snapshotServed("c"), Seq("ck"))
        .join(cat.snapshotServed("p"), Seq("pk2"))
        .groupBy($"seg", $"brand").agg(sum($"price").as("sp"))
        .orderBy($"seg", $"brand")
      assert(full.queryExecution.executedPlan.toString
        .contains(stateName),
        "the full 3-way INNER join must serve from the chain state")
      assert(full.collect().map(_.toSeq).toSeq ==
        cat.snapshot("f").join(cat.snapshot("c"), Seq("ck"))
          .join(cat.snapshot("p"), Seq("pk2"))
          .groupBy($"seg", $"brand").agg(sum($"price").as("sp"))
          .orderBy($"seg", $"brand").collect().map(_.toSeq).toSeq)
      val partial = cat.snapshotServed("f")
        .join(cat.snapshotServed("c"), Seq("ck"))
        .groupBy($"seg").agg(sum($"price").as("sp"))
      assert(!partial.queryExecution.executedPlan.toString
        .contains(stateName),
        "omitting the part join must refuse the chain state")
    } finally graft.plans.GraftAggViews.drop(cat.tablePath("f"))
  }

  test("registerForRewrite: INNER join serves from state; LEFT join " +
      "and un-joined bare-fact aggregates refuse (innerState contract)") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    // o has a DANGLING fact row? give it one: ck=99 has no dim row, so
    // inner != left and a mis-served LEFT would be numerically wrong
    cat.upsert("o", Seq((9L, 99L, 900L)).toDF("ok", "ck", "price"))
    cat.refreshSnapshotCache("o"); cat.refreshSnapshotCache("c")
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    Materialize.registerForRewrite(cat, path)
    val stateName = new java.io.File(path).getName
    try {
      val inner = cat.snapshotServed("o")
        .join(cat.snapshotServed("c"), Seq("ck"))
        .groupBy($"seg").agg(sum($"price").as("sp"),
          count(lit(1)).as("cnt")).orderBy($"seg")
      val innerPlan = inner.queryExecution.executedPlan.toString
      assert(innerPlan.contains(stateName),
        s"INNER join must serve from the join-MV state:\n$innerPlan")
      assert(inner.collect().map(_.toSeq).toSeq ==
        cat.snapshot("o").join(cat.snapshot("c"), Seq("ck"))
          .groupBy($"seg").agg(sum($"price").as("sp"),
            count(lit(1)).as("cnt")).orderBy($"seg")
          .collect().map(_.toSeq).toSeq)
      // dim-ATTRIBUTE filter (the dashboard shape "sum for segment
      // 'a'", pushed below the join by the optimizer): re-applies on
      // the state's group column and still serves
      val filtered = cat.snapshotServed("o")
        .join(cat.snapshotServed("c"), Seq("ck"))
        .where($"seg" === "a")
        .groupBy($"seg").agg(sum($"price").as("sp")).orderBy($"seg")
      assert(filtered.queryExecution.executedPlan.toString
        .contains(stateName),
        "a served-group dim filter must still serve from state")
      assert(filtered.collect().map(_.toSeq).toSeq ==
        cat.snapshot("o").join(cat.snapshot("c"), Seq("ck"))
          .where($"seg" === "a")
          .groupBy($"seg").agg(sum($"price").as("sp")).orderBy($"seg")
          .collect().map(_.toSeq).toSeq)
      // LEFT join keeps the dangling ck=99 row the state never
      // counted — must refuse
      val left = cat.snapshotServed("o")
        .join(cat.snapshotServed("c"), Seq("ck"), "left")
        .groupBy($"seg").agg(count(lit(1)).as("cnt"))
      assert(!left.queryExecution.executedPlan.toString
        .contains(stateName),
        "a LEFT join must refuse the INNER-counted state")
      // bare-fact aggregate covers the dangling row too — must refuse
      val bare = cat.snapshotServed("o")
        .groupBy($"ck").agg(count(lit(1)).as("cnt"))
      assert(!bare.queryExecution.executedPlan.toString
        .contains(stateName),
        "an un-joined aggregate must refuse the INNER-counted state")
    } finally graft.plans.GraftAggViews.drop(cat.tablePath("o"))
  }

  test("sketch + top-terms measures over the join: insert-only folds " +
      "by union merge (no recompute), retractions gate; state equals " +
      "rebuild through churn on both sides") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerKernels(spark)
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmvsk").toString
    val cs = MaterializeJoin.ChainSpec("o",
      Seq(MaterializeJoin.SideSpec("c", Seq("ck"))))
    val sks = Seq("ok" -> 4096)
    val tks = Seq("ok" -> 64)
    def expectedSk: Set[Seq[Any]] = Materialize.aggregate(
      cat.snapshot("o").join(cat.snapshot("c"), Seq("ck")),
      Seq("seg"), Seq("price"), sks, tks).collect().map(canon).toSet
    def actualSk: Set[Seq[Any]] = Materialize.read(spark, path)
      .collect().map(canon).toSet
    Materialize.build(cat, cs, Seq("seg"), Seq("price"), path,
      sketches = sks, topks = tks)
    assert(actualSk == expectedSk, "after build")
    // insert-only on both sides: union folds, byte-identical, no
    // recompute
    cat.upsert("o", Seq((5L, 20L, 500L), (6L, 30L, 600L))
      .toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((40L, "d")).toDF("ck", "seg"))
    val r = Materialize.refresh(cat, path)
    assert(actualSk == expectedSk, "insert-only sketch fold diverged")
    assert(!r.recomputeRan,
      "insert-only deltas must fold sketches with zero recompute")
    // dim regroup: the pre-image groups carry sketch state only a
    // recompute can shrink — the gate must fire and match the rebuild
    cat.upsert("c", Seq((10L, "b")).toDF("ck", "seg"))
    val r2 = Materialize.refresh(cat, path)
    assert(r2.recomputeRan,
      "a sketch-bearing retraction must take the recompute path")
    assert(actualSk == expectedSk, "post-regroup sketch state diverged")
    // fact delete emptying nothing but shrinking a group
    cat.delete("o", col("ok") === 3L)
    Materialize.refresh(cat, path)
    assert(actualSk == expectedSk, "post-delete sketch state diverged")
  }

  test("immutability contract is ENFORCED: build refuses pre-mutated " +
      "history, refresh refuses a delta mutation, tombstone-separated " +
      "re-keys stay allowed and exact") {
    import spark.implicits._
    val ijs = immJs
    // (a) history already violates at build time → build refuses
    locally {
      val cat = freshCatalog(); mkTables(cat)
      cat.upsert("o", Seq((1L, 20L, 100L)).toDF("ok", "ck", "price"))
      val path = TempDir("graft_jmv").toString
      val e = intercept[IllegalArgumentException] {
        Materialize.build(cat, ijs, Seq("seg"), Seq("price"), path)
      }
      assert(e.getMessage.contains("declared"))
    }
    // (b) a post-build delta mutates the declared key → refresh
    // refuses instead of folding a phantom
    locally {
      val cat = freshCatalog(); mkTables(cat)
      val path = TempDir("graft_jmv").toString
      Materialize.build(cat, ijs, Seq("seg"), Seq("price"), path)
      cat.upsert("o", Seq((1L, 20L, 100L)).toDF("ok", "ck", "price"))
      val e = intercept[IllegalArgumentException] {
        Materialize.refresh(cat, path)
      }
      assert(e.getMessage.contains("declared"))
    }
    // (c) delete then re-insert under a NEW key: the tombstone makes
    // any key-sliced read correct, so the contract allows it — and
    // the fold stays exact
    locally {
      val cat = freshCatalog(); mkTables(cat)
      val path = TempDir("graft_jmv").toString
      Materialize.build(cat, ijs, Seq("seg"), Seq("price"), path)
      cat.delete("o", col("ok") === 1L)
      cat.upsert("o", Seq((1L, 20L, 123L)).toDF("ok", "ck", "price"))
      Materialize.refresh(cat, path)
      assert(actual(path) == expected(cat),
        "tombstone-separated re-key must fold exactly")
    }
  }

  test("expression grains over the join: month-grain state folds " +
      "inserts, CROSS-GRAIN ts moves (pre-image retracts from the OLD " +
      "month) and dim churn; session-tz change forces a rebuild") {
    import spark.implicits._
    import java.sql.Timestamp
    val cat = freshCatalog()
    cat.createTable("go", StructType(Seq(
      StructField("ok", LongType), StructField("ck", LongType),
      StructField("ts", org.apache.spark.sql.types.TimestampType),
      StructField("price", LongType))), pk = Seq("ok"))
    cat.createTable("gc", custSchema, pk = Seq("ck"))
    def t(s: String) = Timestamp.valueOf(s)
    cat.upsert("go", Seq(
      (1L, 10L, t("2024-01-05 10:00:00"), 100L),
      (2L, 10L, t("2024-01-20 10:00:00"), 200L),
      (3L, 20L, t("2024-02-03 10:00:00"), 300L))
      .toDF("ok", "ck", "ts", "price"))
    cat.upsert("gc", Seq((10L, "a"), (20L, "b")).toDF("ck", "seg"))
    val path = TempDir("graft_jmvg").toString
    val cs = MaterializeJoin.ChainSpec("go",
      Seq(MaterializeJoin.SideSpec("gc", Seq("ck"))))
    val grains = Seq("mon" -> "date_trunc('MONTH', ts)")
    Materialize.build(cat, cs, Seq("seg", "mon"), Seq("price"),
      path, grains = grains)
    def expectedG: Set[Seq[Any]] = Materialize.aggregate(
      cat.snapshot("go").join(cat.snapshot("gc"), Seq("ck"))
        .withColumn("mon", date_trunc("MONTH", $"ts")),
      Seq("seg", "mon"), Seq("price")).collect().map(canon).toSet
    assert(actual(path) == expectedG, "after build")
    // insert into a NEW month + a dim regroup
    cat.upsert("go", Seq((4L, 20L, t("2024-03-10 10:00:00"), 400L))
      .toDF("ok", "ck", "ts", "price"))
    cat.upsert("gc", Seq((10L, "c")).toDF("ck", "seg"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedG, "after insert + dim churn")
    // CROSS-GRAIN move: ok=2 jumps Jan -> Feb; its pre-image must
    // retract from (seg, Jan), not Feb
    cat.upsert("go", Seq((2L, 10L, t("2024-02-15 10:00:00"), 200L))
      .toDF("ok", "ck", "ts", "price"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedG, "after cross-grain ts move")
    // session-tz change: grain boundaries shift — refresh must REBUILD
    // (correctly) instead of folding mixed-tz grains
    val tz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
      cat.upsert("go", Seq((5L, 20L, t("2024-01-31 23:00:00"), 500L))
        .toDF("ok", "ck", "ts", "price"))
      Materialize.refresh(cat, path)
      assert(actual(path) == expectedG, "post-tz-change state diverged")
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("enforcement under fuzz: with a declared-immutable fact key, " +
      "random churn either folds exactly or REFUSES at the violating " +
      "refresh — the state is never silently wrong (seeded)") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, immJs,
      Seq("seg"), Seq("price"), path)
    val rnd = new scala.util.Random(12082026L)
    val segs = Vector("a", "b", "c")
    var refused = 0
    for (step <- 1 to 10) {
      for (_ <- 0 until 1 + rnd.nextInt(2)) rnd.nextInt(4) match {
        // fact upserts pick a RANDOM ck per ok — some will mutate an
        // existing row's join key, the contract violation
        case 0 => cat.upsert("o", Seq((rnd.nextInt(8).toLong,
          (rnd.nextInt(4) * 10 + 10).toLong,
          rnd.nextInt(1000).toLong)).toDF("ok", "ck", "price"))
        case 1 => cat.upsert("c", Seq(((rnd.nextInt(4) * 10 + 10).toLong,
          segs(rnd.nextInt(segs.size)))).toDF("ck", "seg"))
        case 2 => cat.delete("o", col("ok") === rnd.nextInt(8).toLong)
        case 3 => cat.delete("c",
          col("ck") === (rnd.nextInt(4) * 10 + 10).toLong)
      }
      try {
        Materialize.refresh(cat, path)
        assert(actual(path) == expected(cat),
          s"a refresh that did not refuse must be exact (step $step)")
      } catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("declared") =>
          refused += 1
          // the violation poisons the prefiltered read permanently —
          // rebuild under the same declaration only after compacting
          // the offending history away, or rebuild flags-off; here we
          // just verify the refusal repeats rather than corrupting
          intercept[IllegalArgumentException] {
            Materialize.refresh(cat, path)
          }
      }
    }
    // deterministic tail: if the seed's churn never mutated a live
    // key, force the violation — a fresh row folded in one window,
    // its join key overwritten in the next
    if (refused == 0) {
      cat.upsert("o", Seq((100L, 10L, 1L)).toDF("ok", "ck", "price"))
      Materialize.refresh(cat, path)
      cat.upsert("o", Seq((100L, 20L, 1L)).toDF("ok", "ck", "price"))
      val e = intercept[IllegalArgumentException] {
        Materialize.refresh(cat, path)
      }
      assert(e.getMessage.contains("declared"))
      refused += 1
    }
    assert(refused > 0)
  }

  test("differential fuzz: random interleaved upsert/update/delete on " +
      "BOTH sides — state == full recompute after every refresh " +
      "(seeded)") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    val rnd = new scala.util.Random(20260816L)
    val segs = Vector("a", "b", "c", "d")
    for (step <- 1 to 8) {
      // 1–3 random ops per step, either side
      for (_ <- 0 until 1 + rnd.nextInt(3)) rnd.nextInt(5) match {
        case 0 => // fact insert/update (possibly dangling ck)
          cat.upsert("o", Seq((rnd.nextInt(12).toLong,
            (rnd.nextInt(6) * 10 + 10).toLong,
            rnd.nextInt(1000).toLong)).toDF("ok", "ck", "price"))
        case 1 => // dim insert/update (regroups its fan-out)
          cat.upsert("c", Seq(((rnd.nextInt(6) * 10 + 10).toLong,
            segs(rnd.nextInt(segs.size)))).toDF("ck", "seg"))
        case 2 => cat.delete("o", col("ok") === rnd.nextInt(12).toLong)
        case 3 => cat.delete("c",
          col("ck") === (rnd.nextInt(6) * 10 + 10).toLong)
        case 4 => // batch of fact rows
          cat.upsert("o", (0 until 3).map(i =>
            ((rnd.nextInt(12) + 12 * i).toLong,
              (rnd.nextInt(6) * 10 + 10).toLong,
              rnd.nextInt(1000).toLong)).toDF("ok", "ck", "price"))
      }
      Materialize.refresh(cat, path)
      assert(actual(path) == expected(cat), s"diverged at step $step")
    }
  }

  // ---- LEFT-outer join IVM (null-extension delta rule) ----

  private val ljs =
    ChainSpec("o", Seq(SideSpec("c", Seq("ck"))), leftOuter = true)

  private def expectedLeft(cat: GraftCatalog): Set[Seq[Any]] =
    Materialize.aggregate(
      cat.snapshot("o").join(cat.snapshot("c"), Seq("ck"), "left"),
      Seq("seg"), Seq("price")).collect().map(canon).toSet

  test("LEFT build + read: unmatched facts count under NULL side " +
      "attributes (incl. a NULL fact key)") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    // ok=5 dangles (no ck=99 customer); ok=6 has a NULL key — both
    // must land in the NULL-seg group
    cat.upsert("o", Seq((5L, 99L, 500L)).toDF("ok", "ck", "price"))
    cat.upsert("o", spark.sql(
      "SELECT 6L AS ok, CAST(NULL AS BIGINT) AS ck, 600L AS price"))
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, ljs, Seq("seg"), Seq("price"), path)
    val exp = expectedLeft(cat)
    assert(actual(path) == exp)
    assert(exp.exists(_.head == null), "fixture must have a NULL group")
  }

  test("LEFT refresh: dangling→matched (side insert pulls facts out " +
      "of the NULL group) and matched→dangling (last side row " +
      "deleted) both fold exactly") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    cat.upsert("o", Seq((5L, 99L, 500L), (6L, 99L, 600L))
      .toDF("ok", "ck", "price"))
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, ljs, Seq("seg"), Seq("price"), path)
    // dangling → matched: ck=99 appears on the side, both facts must
    // MOVE from the NULL group into seg 'z'
    cat.upsert("c", Seq((99L, "z")).toDF("ck", "seg"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedLeft(cat), "dangling -> matched")
    // matched → dangling: the ONLY row for ck=20 dies; its facts must
    // move back into the NULL group
    cat.delete("c", col("ck") === 20L)
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedLeft(cat), "matched -> dangling")
    // a delete of ONE of two duplicate side rows is NOT a transition
    cat.upsert("c", Seq((99L, "z2")).toDF("ck", "seg")) // update, not dup
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedLeft(cat), "side update regroups")
  }

  test("LEFT differential fuzz: random interleaved churn on BOTH " +
      "sides — state == full LEFT recompute after every refresh " +
      "(seeded)") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, ljs, Seq("seg"), Seq("price"), path)
    val rnd = new scala.util.Random(20260817L)
    val segs = Vector("a", "b", "c", "d")
    for (step <- 1 to 8) {
      for (_ <- 0 until 1 + rnd.nextInt(3)) rnd.nextInt(5) match {
        case 0 => // fact insert/update, often DANGLING (ck up to 90)
          cat.upsert("o", Seq((rnd.nextInt(12).toLong,
            (rnd.nextInt(9) * 10 + 10).toLong,
            rnd.nextInt(1000).toLong)).toDF("ok", "ck", "price"))
        case 1 => cat.upsert("c", Seq(((rnd.nextInt(9) * 10 + 10).toLong,
            segs(rnd.nextInt(segs.size)))).toDF("ck", "seg"))
        case 2 => cat.delete("o", col("ok") === rnd.nextInt(12).toLong)
        case 3 => cat.delete("c",
          col("ck") === (rnd.nextInt(9) * 10 + 10).toLong)
        case 4 =>
          cat.upsert("o", (0 until 3).map(i =>
            ((rnd.nextInt(12) + 12 * i).toLong,
              (rnd.nextInt(9) * 10 + 10).toLong,
              rnd.nextInt(1000).toLong)).toDF("ok", "ck", "price"))
      }
      Materialize.refresh(cat, path)
      assert(actual(path) == expectedLeft(cat), s"diverged at step $step")
    }
  }

  test("LEFT chain (two sides): independent NULL extensions per side " +
      "fold through churn on all three tables") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("f", StructType(Seq(
      StructField("fk", LongType), StructField("ck", LongType),
      StructField("pk2", LongType), StructField("x", LongType))),
      pk = Seq("fk"))
    cat.createTable("cd", custSchema, pk = Seq("ck"))
    cat.createTable("pd", StructType(Seq(
      StructField("pk2", LongType), StructField("grp", StringType))),
      pk = Seq("pk2"))
    cat.upsert("f", Seq((1L, 10L, 100L, 5L), (2L, 10L, 999L, 7L),
      (3L, 99L, 100L, 11L)).toDF("fk", "ck", "pk2", "x"))
    cat.upsert("cd", Seq((10L, "a")).toDF("ck", "seg"))
    cat.upsert("pd", Seq((100L, "g1")).toDF("pk2", "grp"))
    val cs = MaterializeJoin.ChainSpec("f", Seq(
      MaterializeJoin.SideSpec("cd", Seq("ck")),
      MaterializeJoin.SideSpec("pd", Seq("pk2"))), leftOuter = true)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, cs, Seq("seg", "grp"), Seq("x"), path)
    def exp: Set[Seq[Any]] = Materialize.aggregate(
      cat.snapshot("f").join(cat.snapshot("cd"), Seq("ck"), "left")
        .join(cat.snapshot("pd"), Seq("pk2"), "left"),
      Seq("seg", "grp"), Seq("x")).collect().map(canon).toSet
    assert(actual(path) == exp)
    // churn all three: new dangling fact, cd gains the 99 key
    // (partial un-dangle), pd loses its only row (everything
    // pk2-dangles)
    cat.upsert("f", Seq((4L, 50L, 999L, 13L)).toDF("fk", "ck", "pk2", "x"))
    cat.upsert("cd", Seq((99L, "b")).toDF("ck", "seg"))
    Materialize.refresh(cat, path)
    assert(actual(path) == exp, "after fact+cd churn")
    cat.delete("pd", col("pk2") === 100L)
    Materialize.refresh(cat, path)
    assert(actual(path) == exp, "after pd emptied")
    cat.upsert("pd", Seq((999L, "g2"), (100L, "g3"))
      .toDF("pk2", "grp"))
    Materialize.refresh(cat, path)
    assert(actual(path) == exp, "after pd repopulated")
  }

  test("bucket-manifested join-MV state: a refresh reads + rewrites " +
      "only delta-touched buckets, untouched buckets stay pinned, " +
      "vacuum respects the manifest") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("bo", ordersSchema, pk = Seq("ok"))
    cat.createTable("bc", custSchema, pk = Seq("ck"))
    // 64 segments -> 64 groups spread over 16 buckets
    cat.upsert("bo", spark.range(2000).select(col("id").as("ok"),
      (col("id") % 640).as("ck"), (col("id") % 97).as("price")))
    cat.upsert("bc", spark.range(640).select(col("id").as("ck"),
      concat(lit("s"), (col("id") % 64).cast("string")).as("seg")))
    val path = TempDir("graft_jmv_bk").toString
    val bcs = MaterializeJoin.ChainSpec("bo", Seq(
      MaterializeJoin.SideSpec("bc", Seq("ck"),
        factKeysImmutable = true)))
    Materialize.build(cat, bcs, Seq("seg"), Seq("price"),
      path, buckets = 16)
    def exp: Set[Seq[Any]] = Materialize.aggregate(
      cat.snapshot("bo").join(cat.snapshot("bc"), Seq("ck")),
      Seq("seg"), Seq("price")).collect().map(canon).toSet
    assert(actual(path) == exp, "bucketed build")
    // one fact update touching ONE segment's group
    cat.upsert("bo", Seq((1L, 1L, 50L)).toDF("ok", "ck", "price"))
    val r = Materialize.refresh(cat, path)
    assert(actual(path) == exp, "after fact churn")
    assert(r.bucketsTouched > 0 &&
      r.bucketsTouched <= 2,
      s"a one-group delta must touch ~1 bucket of 16, " +
        s"got ${r.bucketsTouched}")
    // dim regroup (a group moves buckets: retraction in one bucket,
    // insert in another) + a delete, then vacuum — the manifest's
    // pinned old dirs must survive, the superseded ones go
    cat.upsert("bc", Seq((5L, "zz")).toDF("ck", "seg"))
    cat.delete("bo", col("ok") === 7L)
    Materialize.refresh(cat, path)
    assert(actual(path) == exp, "after dim churn + delete")
    val reclaimed = Materialize.vacuum(spark, path)
    assert(actual(path) == exp, "after vacuum")
    assert(reclaimed >= 0L)
    // the manifest still references MULTIPLE dirs (untouched buckets
    // pinned in older ones) — that is the layout's whole point
    val m = spark.read.parquet(s"$path/meta").head()
    val dirs = m.getSeq[String](m.fieldIndex("bucket_dirs"))
      .filter(_.nonEmpty).toSet
    assert(dirs.size >= 2,
      s"expected pinned old dirs + the new one, got $dirs")
  }

  test("state compaction of a bucketed join MV: reads unchanged, one " +
      "state dir left, the next refresh stays incremental") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("ko", ordersSchema, pk = Seq("ok"))
    cat.createTable("kc", custSchema, pk = Seq("ck"))
    cat.upsert("ko", spark.range(400).select(col("id").as("ok"),
      (col("id") % 40).as("ck"), (col("id") % 97).as("price")))
    cat.upsert("kc", spark.range(40).select(col("id").as("ck"),
      concat(lit("s"), (col("id") % 16).cast("string")).as("seg")))
    val path = TempDir("graft_jmv_cmp").toString
    Materialize.build(cat, MaterializeJoin.ChainSpec("ko", Seq(
      MaterializeJoin.SideSpec("kc", Seq("ck")))), Seq("seg"),
      Seq("price"), path, buckets = 8)
    def exp: Set[Seq[Any]] = Materialize.aggregate(
      cat.snapshot("ko").join(cat.snapshot("kc"), Seq("ck")),
      Seq("seg"), Seq("price")).collect().map(canon).toSet
    def stateDirs: Set[String] =
      new java.io.File(path).listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("state_v")).toSet
    // refreshes on both sides scatter current buckets across dirs
    cat.upsert("ko", Seq((1L, 1L, 50L)).toDF("ok", "ck", "price"))
    Materialize.refresh(cat, path)
    cat.upsert("kc", Seq((2L, "zz")).toDF("ck", "seg"))
    Materialize.refresh(cat, path)
    assert(stateDirs.size >= 2, s"refreshes should leave dirs: $stateDirs")
    val before = actual(path)
    assert(before == exp)
    assert(Materialize.compactState(spark, path) > 0L,
      "vacuum must reclaim the dead dirs' bytes")
    assert(actual(path) == before, "compacted state must serve unchanged")
    assert(stateDirs.size == 1,
      s"compaction must leave exactly one state dir: $stateDirs")
    // the marks carried over: the next refresh folds incrementally
    cat.upsert("ko", Seq((3L, 3L, 60L)).toDF("ok", "ck", "price"))
    val r = Materialize.refresh(cat, path)
    assert(!r.rebuildRan, s"post-compaction refresh rebuilt: $r")
    assert(r.bucketsTouched > 0 && r.bucketsTouched < 8,
      s"post-compaction refresh must slice to touched buckets: $r")
    assert(actual(path) == exp, "post-compaction refresh must stay exact")
  }

  // ---- FULL-outer binary join IVM ----

  private val fjs =
    ChainSpec("o", Seq(SideSpec("c", Seq("ck"))), fullOuter = true)

  private def expectedFull(cat: GraftCatalog): Set[Seq[Any]] =
    Materialize.aggregate(
      cat.snapshot("o").join(cat.snapshot("c"), Seq("ck"), "full"),
      Seq("seg"), Seq("price")).collect().map(canon).toSet

  test("FULL build + read: fact-dangling rows count under NULL seg, " +
      "side-dangling rows count with NULL measures") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    cat.upsert("o", Seq((5L, 99L, 500L)).toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((77L, "lonely")).toDF("ck", "seg")) // no orders
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, fjs, Seq("seg"), Seq("price"), path)
    val exp = expectedFull(cat)
    assert(actual(path) == exp)
    assert(exp.exists(_.head == null), "fact-dangling NULL group")
    assert(exp.exists(_.head == "lonely"), "side-dangling group")
  }

  test("FULL refresh: all four transition shapes fold exactly " +
      "(fact gains a dangling side's key, side gains a dangling " +
      "fact's key, last-row deletes on both sides)") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    cat.upsert("o", Seq((5L, 99L, 500L)).toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((77L, "lonely")).toDF("ck", "seg"))
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, fjs, Seq("seg"), Seq("price"), path)
    // fact gains the side-dangling key 77: the (lonely, NULL-measure)
    // row must become a real joined row
    cat.upsert("o", Seq((6L, 77L, 700L)).toDF("ok", "ck", "price"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedFull(cat), "side-dangling -> matched")
    // side gains the fact-dangling key 99 in the same window as a
    // side delete that re-dangles key 20's facts AND orphans nothing
    cat.upsert("c", Seq((99L, "z")).toDF("ck", "seg"))
    cat.delete("c", col("ck") === 20L)
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedFull(cat), "both transitions")
    // both sides of key 77 die in ONE window — the group must vanish
    // entirely (no phantom NULL-extension row may survive)
    cat.delete("o", col("ok") === 6L)
    cat.delete("c", col("ck") === 77L)
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedFull(cat), "both-side delete")
  }

  test("FULL differential fuzz: random churn on both sides — state " +
      "== full-outer recompute after every refresh (seeded)") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, fjs, Seq("seg"), Seq("price"), path)
    val rnd = new scala.util.Random(20260819L)
    val segs = Vector("a", "b", "c", "d")
    for (step <- 1 to 8) {
      for (_ <- 0 until 1 + rnd.nextInt(3)) rnd.nextInt(4) match {
        case 0 => cat.upsert("o", Seq((rnd.nextInt(12).toLong,
          (rnd.nextInt(9) * 10 + 10).toLong,
          rnd.nextInt(1000).toLong)).toDF("ok", "ck", "price"))
        case 1 => cat.upsert("c", Seq(((rnd.nextInt(9) * 10 + 10).toLong,
          segs(rnd.nextInt(segs.size)))).toDF("ck", "seg"))
        case 2 => cat.delete("o", col("ok") === rnd.nextInt(12).toLong)
        case 3 => cat.delete("c",
          col("ck") === (rnd.nextInt(9) * 10 + 10).toLong)
      }
      Materialize.refresh(cat, path)
      assert(actual(path) == expectedFull(cat), s"diverged at step $step")
    }
  }

  test("WHERE-filtered join MV: the fact predicate rides the meta " +
      "through every fold read — seeded differential fuzz with " +
      "boundary-crossing churn vs the filtered-join recompute, INNER " +
      "and LEFT; FULL and non-fact references refuse") {
    import spark.implicits._
    for (left <- Seq(false, true)) {
      val cat = freshCatalog(); mkTables(cat)
      val cs = MaterializeJoin.ChainSpec("o",
        Seq(MaterializeJoin.SideSpec("c", Seq("ck"))),
        leftOuter = left, factFilterSql = Some("price > 150"))
      val path = TempDir("graft_jmvf").toString
      Materialize.build(cat, cs, Seq("seg"), Seq("price"), path)
      def expectedF: Set[Seq[Any]] = Materialize.aggregate(
        cat.snapshot("o").where(col("price") > 150)
          .join(cat.snapshot("c"), Seq("ck"),
            if (left) "left" else "inner"),
        Seq("seg"), Seq("price")).collect().map(canon).toSet
      assert(actual(path) == expectedF, s"left=$left after build")
      val rnd = new scala.util.Random(1416L)
      val segs = Vector("a", "b", "c")
      for (step <- 1 to 8) {
        for (_ <- 0 until 1 + rnd.nextInt(3)) rnd.nextInt(5) match {
          // price churn CROSSES the 150 boundary both ways (the
          // filtered-state insert/retract paths)
          case 0 => cat.upsert("o", Seq((rnd.nextInt(10).toLong,
            (rnd.nextInt(5) * 10 + 10).toLong,
            (50 + rnd.nextInt(200)).toLong)).toDF("ok", "ck", "price"))
          case 1 => cat.upsert("c", Seq(((rnd.nextInt(5) * 10 + 10).toLong,
            segs(rnd.nextInt(segs.size)))).toDF("ck", "seg"))
          case 2 => cat.delete("o", col("ok") === rnd.nextInt(10).toLong)
          case 3 => cat.delete("c",
            col("ck") === (rnd.nextInt(5) * 10 + 10).toLong)
          case 4 => cat.upsert("o", Seq((rnd.nextInt(10).toLong,
            (rnd.nextInt(5) * 10 + 10).toLong,
            rnd.nextInt(160).toLong)).toDF("ok", "ck", "price"))
        }
        Materialize.refresh(cat, path)
        assert(actual(path) == expectedF,
          s"left=$left diverged at step $step")
      }
    }
    // refusals
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmvf").toString
    val e1 = intercept[IllegalArgumentException] {
      Materialize.build(cat, MaterializeJoin.ChainSpec("o",
        Seq(MaterializeJoin.SideSpec("c", Seq("ck"))),
        fullOuter = true, factFilterSql = Some("price > 150")),
        Seq("seg"), Seq("price"), path)
    }
    assert(e1.getMessage.contains("LEFT MV of the filtered fact"))
    intercept[Exception] { // seg lives on the SIDE, not the fact
      Materialize.build(cat, MaterializeJoin.ChainSpec("o",
        Seq(MaterializeJoin.SideSpec("c", Seq("ck"))),
        factFilterSql = Some("seg = 'a'")),
        Seq("seg"), Seq("price"), path)
    }
  }

  test("FULL refusals: snowflake-keyed full chains and the leftOuter " +
      "combination refuse; the binary full state registers for " +
      "rewrite under the fullState contract") {
    val cat = freshCatalog(); mkTables(cat); mkSnowflake(cat)
    val path = TempDir("graft_jmv").toString
    // a side keyed on an EARLIER SIDE under FULL: the per-side
    // dangling decomposition needs every side keyed on the fact
    val e1 = intercept[IllegalArgumentException] {
      Materialize.build(cat, snowCs.copy(fullOuter = true),
        Seq("nname"), Seq("price"), path)
    }
    assert(e1.getMessage.contains("keyed on the FACT"))
    intercept[IllegalArgumentException] {
      Materialize.build(cat,
        MaterializeJoin.ChainSpec("o",
          Seq(MaterializeJoin.SideSpec("c", Seq("ck"))),
          leftOuter = true, fullOuter = true),
        Seq("seg"), Seq("price"), path)
    }
    Materialize.build(cat, fjs, Seq("seg"), Seq("price"), path)
    Materialize.registerForRewrite(cat, path) // fullState serves
  }

  test("FULL N-way star chain: per-side dangling parts fold exactly " +
      "under random churn on all three tables (seeded differential " +
      "fuzz vs the sequential full-outer recompute)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("f", StructType(Seq(
      StructField("ok", LongType), StructField("ck", LongType),
      StructField("pk2", LongType), StructField("price", LongType))),
      pk = Seq("ok"))
    cat.createTable("c", custSchema, pk = Seq("ck"))
    cat.createTable("p", StructType(Seq(
      StructField("pk2", LongType), StructField("brand", StringType))),
      pk = Seq("pk2"))
    cat.upsert("f", Seq((1L, 10L, 100L, 5L), (2L, 10L, 101L, 6L))
      .toDF("ok", "ck", "pk2", "price"))
    cat.upsert("c", Seq((10L, "a"), (77L, "cdangle")).toDF("ck", "seg"))
    cat.upsert("p", Seq((100L, "x"), (88L, "pdangle"))
      .toDF("pk2", "brand"))
    val cs = MaterializeJoin.ChainSpec("f", Seq(
      MaterializeJoin.SideSpec("c", Seq("ck")),
      MaterializeJoin.SideSpec("p", Seq("pk2"))), fullOuter = true)
    val path = TempDir("graft_jfull").toString
    Materialize.build(cat, cs, Seq("seg", "brand"), Seq("price"),
      path)
    def expectedN: Set[Seq[Any]] = Materialize.aggregate(
      cat.snapshot("f").join(cat.snapshot("c"), Seq("ck"), "full")
        .join(cat.snapshot("p"), Seq("pk2"), "full"),
      Seq("seg", "brand"), Seq("price")).collect().map(canon).toSet
    assert(actual(path) == expectedN, "after build (both dangling " +
      "kinds present)")
    val rnd = new scala.util.Random(20260816L)
    val segs = Vector("a", "b", "cdangle")
    val brands = Vector("x", "y", "pdangle")
    for (step <- 1 to 8) {
      for (_ <- 0 until 1 + rnd.nextInt(3)) rnd.nextInt(6) match {
        case 0 => cat.upsert("f", Seq((rnd.nextInt(8).toLong,
          (rnd.nextInt(5) * 10 + 10).toLong,
          (100 + rnd.nextInt(5)).toLong,
          rnd.nextInt(100).toLong)).toDF("ok", "ck", "pk2", "price"))
        case 1 => cat.upsert("c", Seq(((rnd.nextInt(5) * 10 + 10).toLong,
          segs(rnd.nextInt(segs.size)))).toDF("ck", "seg"))
        case 2 => cat.upsert("p", Seq(((100 + rnd.nextInt(5)).toLong,
          brands(rnd.nextInt(brands.size)))).toDF("pk2", "brand"))
        case 3 => cat.delete("f", col("ok") === rnd.nextInt(8).toLong)
        case 4 => cat.delete("c",
          col("ck") === (rnd.nextInt(5) * 10 + 10).toLong)
        case 5 => cat.delete("p",
          col("pk2") === (100 + rnd.nextInt(5)).toLong)
      }
      Materialize.refresh(cat, path)
      assert(actual(path) == expectedN, s"diverged at step $step")
    }
  }

  // ---- snowflake chains: a side keyed on ANOTHER side ----

  private def mkSnowflake(cat: GraftCatalog): Unit = {
    import spark.implicits._
    cat.createTable("so", ordersSchema, pk = Seq("ok"))
    cat.createTable("sc", StructType(Seq(
      StructField("ck", LongType), StructField("nk", LongType),
      StructField("seg", StringType))), pk = Seq("ck"))
    cat.createTable("sn", StructType(Seq(
      StructField("nk", LongType), StructField("nname", StringType))),
      pk = Seq("nk"))
    cat.upsert("so", Seq((1L, 10L, 100L), (2L, 10L, 200L),
      (3L, 20L, 300L), (4L, 30L, 400L)).toDF("ok", "ck", "price"))
    cat.upsert("sc", Seq((10L, 1L, "a"), (20L, 2L, "b"), (30L, 1L, "a"))
      .toDF("ck", "nk", "seg"))
    cat.upsert("sn", Seq((1L, "de"), (2L, "fr")).toDF("nk", "nname"))
  }

  private val snowCs = MaterializeJoin.ChainSpec("so", Seq(
    MaterializeJoin.SideSpec("sc", Seq("ck")),
    MaterializeJoin.SideSpec("sn", Seq("nk")))) // nk lives on sc

  private def expectedSnow(cat: GraftCatalog): Set[Seq[Any]] =
    Materialize.aggregate(
      cat.snapshot("so").join(cat.snapshot("sc"), Seq("ck"))
        .join(cat.snapshot("sn"), Seq("nk")),
      Seq("nname"), Seq("price")).collect().map(canon).toSet

  test("snowflake chain: build + refresh with the INTERMEDIATE side " +
      "churning — the case the fingerprint-frozen star derives refuse") {
    import spark.implicits._
    val cat = freshCatalog(); mkSnowflake(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, snowCs, Seq("nname"), Seq("price"), path)
    assert(actual(path) == expectedSnow(cat), "build")
    // churn the INTERMEDIATE dim: ck=10 moves nation 1 -> 2, so 300 of
    // revenue regroups from 'de' to 'fr' without any orders/sn write
    cat.upsert("sc", Seq((10L, 2L, "a2")).toDF("ck", "nk", "seg"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedSnow(cat), "intermediate churn")
    // churn the LEAF and the FACT in one window
    cat.upsert("sn", Seq((2L, "fr2"), (3L, "it")).toDF("nk", "nname"))
    cat.upsert("so", Seq((5L, 20L, 500L)).toDF("ok", "ck", "price"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedSnow(cat), "leaf+fact churn")
    // delete the intermediate row entirely: its orders drop from the
    // inner chain
    cat.delete("sc", col("ck") === 20L)
    Materialize.refresh(cat, path)
    assert(actual(path) == expectedSnow(cat), "intermediate delete")
  }

  test("snowflake differential fuzz: random churn on all three " +
      "levels — state == full recompute after every refresh (seeded)") {
    import spark.implicits._
    val cat = freshCatalog(); mkSnowflake(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, snowCs, Seq("nname"), Seq("price"), path)
    val rnd = new scala.util.Random(20260818L)
    for (step <- 1 to 8) {
      for (_ <- 0 until 1 + rnd.nextInt(3)) rnd.nextInt(6) match {
        case 0 => cat.upsert("so", Seq((rnd.nextInt(12).toLong,
          (rnd.nextInt(5) * 10 + 10).toLong,
          rnd.nextInt(1000).toLong)).toDF("ok", "ck", "price"))
        case 1 => cat.upsert("sc", Seq((
          (rnd.nextInt(5) * 10 + 10).toLong,
          (rnd.nextInt(4) + 1).toLong,
          s"s${rnd.nextInt(3)}")).toDF("ck", "nk", "seg"))
        case 2 => cat.upsert("sn", Seq((
          (rnd.nextInt(4) + 1).toLong,
          s"n${rnd.nextInt(3)}")).toDF("nk", "nname"))
        case 3 => cat.delete("so", col("ok") === rnd.nextInt(12).toLong)
        case 4 => cat.delete("sc",
          col("ck") === (rnd.nextInt(5) * 10 + 10).toLong)
        case 5 => cat.delete("sn",
          col("nk") === (rnd.nextInt(4) + 1).toLong)
      }
      Materialize.refresh(cat, path)
      assert(actual(path) == expectedSnow(cat), s"diverged at step $step")
    }
  }

  test("snowflake refusals: keys spanning tables, and leftOuter over " +
      "a side-on-side key") {
    val cat = freshCatalog(); mkSnowflake(cat)
    val path = TempDir("graft_jmv").toString
    // a side whose keys span fact + another side is not a tree edge
    // (ok, nk) spans the fact (ok) and sc (nk) — no single parent
    cat.createTable("sx", StructType(Seq(
      StructField("ok", LongType), StructField("nk", LongType),
      StructField("z", LongType))), pk = Seq("z"))
    val spanning = MaterializeJoin.ChainSpec("so", Seq(
      MaterializeJoin.SideSpec("sc", Seq("ck")),
      MaterializeJoin.SideSpec("sx", Seq("ok", "nk"))))
    val e1 = intercept[IllegalArgumentException] {
      Materialize.build(cat, spanning, Seq("seg"), Seq("price"), path)
    }
    assert(e1.getMessage.contains("tree"))
    val e2 = intercept[IllegalArgumentException] {
      Materialize.build(cat, snowCs.copy(leftOuter = true),
        Seq("nname"), Seq("price"), path)
    }
    assert(e2.getMessage.contains("keyed on the FACT"))
  }

  test("consistent fold window: an out-of-band writer racing refresh " +
      "never double-counts — every write folds exactly once") {
    import spark.implicits._
    val cat = freshCatalog(); mkTables(cat)
    val path = TempDir("graft_jmv").toString
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    // a second thread churns the DIM side (the out-of-band writer
    // EventStreams.maintainAggregate advertises absorbing) while
    // the main thread churns the fact and refreshes concurrently; the
    // interleave is nondeterministic, but with every leg read bounded
    // at the refresh's sampled marks each write folds exactly once —
    // the unbounded shape folded a mid-refresh write AND re-folded it
    // next refresh (recorded marks stopped before it)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val segs = Vector("a", "b", "c", "d", "e")
    // a racing writer PAIR on the same dim table: the catalog's
    // per-table write protocol (reserve → append → publish, serialized
    // per table) must land each batch exactly once under its own
    // version even when two threads contend, while refreshes interleave
    def mkWriter(seed: Long) = new Thread(() => {
      val rnd = new scala.util.Random(seed)
      var i = 0
      while (!stop.get()) {
        cat.upsert("c", Seq(((rnd.nextInt(6) * 10 + 10).toLong,
          segs(rnd.nextInt(segs.size)))).toDF("ck", "seg"))
        i += 1
        if (i % 3 == 0) Thread.sleep(5)
      }
    })
    val writers = Seq(mkWriter(13L), mkWriter(47L))
    writers.foreach(_.start())
    try {
      val rnd = new scala.util.Random(31L)
      for (_ <- 1 to 4) {
        cat.upsert("o", Seq((rnd.nextInt(40).toLong,
          (rnd.nextInt(6) * 10 + 10).toLong,
          rnd.nextInt(1000).toLong)).toDF("ok", "ck", "price"))
        Materialize.refresh(cat, path)
      }
    } finally { stop.set(true); writers.foreach(_.join()) }
    // quiesced: one final refresh must land the state EXACTLY on the
    // joined-snapshot aggregate — any double-folded mid-refresh write
    // shows up here as an inflated cnt/sum
    Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat),
      "a write that raced a refresh was folded more than once")
    // exactly-once landing under the writer pair: every racing batch is
    // a single row, so a shared version would show as a version with
    // more than one row (version 0 is the 3-row fixture batch)
    val perV = cat.changeLog("c").where(col("_version") > 0)
      .groupBy("_version").count().collect()
    assert(perV.forall(_.getLong(1) == 1L),
      s"two racing writers shared a version: " +
        s"${perV.filter(_.getLong(1) > 1L).mkString(", ")}")
  }

  test("an EMPTY side log is not a compaction: fact-only churn takes " +
      "the incremental path while the side stays unwritten") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("o", ordersSchema, pk = Seq("ok"))
    cat.createTable("c", custSchema, pk = Seq("ck"))
    cat.upsert("o", Seq((1L, 10L, 100L)).toDF("ok", "ck", "price"))
    val path = TempDir("graft_jmv").toString
    // side 'c' never written: its marks are (max=-1, min=MaxValue) —
    // the unguarded detector read min > lastV as "history lost" and
    // forced a full rebuild on EVERY refresh
    Materialize.build(cat, js, Seq("seg"), Seq("price"), path)
    cat.upsert("o", Seq((2L, 20L, 200L)).toDF("ok", "ck", "price"))
    val r = Materialize.refresh(cat, path)
    assert(!r.rebuildRan &&
      r.affectedGroups >= 0,
      "refresh with an empty side log must take the incremental " +
        "path, not rebuild (empty ≠ compacted)")
    assert(actual(path) == expected(cat))
    // and once the side DOES get data, the fold is still exact
    cat.upsert("c", Seq((10L, "a"), (20L, "b")).toDF("ck", "seg"))
    Materialize.refresh(cat, path)
    assert(actual(path) == expected(cat))
  }

  test("a non-key column shadowing ANOTHER side's join key refuses at " +
      "build with the catalog-level rename message") {
    val cat = freshCatalog()
    cat.createTable("f", StructType(Seq(
      StructField("fk", LongType), StructField("k1", LongType),
      StructField("k2", LongType))), pk = Seq("fk"))
    cat.createTable("s1", StructType(Seq(
      StructField("k1", LongType),
      // regular column on s1 that collides with s2's JOIN KEY name —
      // the all-keys exclusion let this through to a deep
      // ambiguous-column analysis error at first refresh
      StructField("k2", LongType),
      StructField("a1", StringType))), pk = Seq("k1"))
    cat.createTable("s2", StructType(Seq(
      StructField("k2", LongType), StructField("a2", StringType))),
      pk = Seq("k2"))
    val path = TempDir("graft_jmv").toString
    val e = intercept[IllegalArgumentException] {
      Materialize.build(cat,
        MaterializeJoin.ChainSpec("f", Seq(
          MaterializeJoin.SideSpec("s1", Seq("k1")),
          MaterializeJoin.SideSpec("s2", Seq("k2")))),
        Seq("a1"), Seq("k2"), path)
    }
    assert(e.getMessage.contains("rename at the catalog schema"))
  }

  test("snapshotUpTo == snapshotAsOf at every mark, with and without " +
      "a cache, including a cache AHEAD of the read point") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(canon).toSet
    val v0 = cat.upsert("t", Seq((1L, 10L), (2L, 20L)).toDF("k", "x"))
    val v1 = cat.upsert("t", Seq((1L, 11L), (3L, 30L)).toDF("k", "x"))
    val v2 = cat.delete("t", col("k") === 2L)
    val v3 = cat.upsert("t", Seq((2L, 22L)).toDF("k", "x"))
    val v4 = cat.delete("t", col("k") === 3L)
    // a no-match DELETE bumps the counter without writing a row
    val v5 = cat.delete("t", col("k") === 99L)
    // an orphan row above the counter (a refused writer's append) must
    // stay invisible to every read, cached or not
    Seq((5L, 55L)).toDF("k", "x")
      .withColumn("_version", lit(v5 + 100L))
      .withColumn("_deleted", lit(false))
      .withColumn("_ts", lit(new java.sql.Timestamp(0L)))
      .write.mode("append").parquet(s"${cat.tablePath("t")}/data")
    val pks = Seq(1L, 2L, 5L).toDF("__p_k")
    // pairWinners, per PK: x of the alive winner at each mark — a
    // tombstone winner reads as no row (a cache keeps alive winners only)
    def alive(w: Option[(Long, Boolean)]) = w.collect { case (x, false) => x }
    def side(r: org.apache.spark.sql.Row, w: String) = alive(
      Option(r.getAs[org.apache.spark.sql.Row](w))
        .map(s => (s.getAs[Long]("__p_x"), s.getAs[Boolean]("__del"))))
    // the same from the uncached collapse at mark v
    def winnersAt(v: Long): Map[Long, Long] = cat.collapseKeepMeta("t",
        cat.changeLog("t").where(col("_version") <= v))
      .where(!col("_deleted"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("x")).toMap
    def check(marks: Seq[Long], tag: String): Unit = {
      for (v <- marks) {
        val asOf = rows(cat.snapshotAsOf("t", v))
        assert(rows(cat.snapshotUpTo("t", v)) == asOf, s"$tag, v=$v")
        assert(rows(cat.snapshotForPks("t", pks, uptoV = Some(v))) ==
          asOf.filter(r => Set[Any](1L, 2L, 5L)(r.head)),
          s"$tag, snapshotForPks v=$v")
      }
      val cur = rows(cat.snapshotAsOf("t", marks.last))
      assert(rows(cat.snapshotServed("t")) == cur, s"$tag, served")
      assert(rows(cat.snapshotForPks("t", pks)) ==
        cur.filter(r => Set[Any](1L, 2L, 5L)(r.head)),
        s"$tag, current snapshotForPks")
      val ref = marks.map(v => v -> winnersAt(v)).toMap
      for (lo <- marks; hi <- marks if lo <= hi) {
        val fused = cat.pairWinners("t", lo, hi, Seq("x")).collect()
          .map(r => r.getAs[Long]("k") -> (side(r, "_wo"), side(r, "_wn")))
          .filter(_._2 != (None, None)).toMap
        val expected = (ref(lo).keySet ++ ref(hi).keySet)
          .map(k => k -> (ref(lo).get(k), ref(hi).get(k))).toMap
        assert(fused == expected, s"$tag, pairWinners lo=$lo hi=$hi")
      }
    }
    val marks = Seq(v0, v1, v2, v3, v4, v5)
    check(marks, "no cache")
    // cache at v5, the counter, above the log's last row: exactly fresh
    // for the current reads; AHEAD of v0..v4, where reads must fall
    // back to the full-log collapse — the collapsed rows have discarded
    // the history those slices need
    assert(cat.refreshSnapshotCache("t") == v5)
    check(marks, s"cache@$v5")
    val v6 = cat.upsert("t", Seq((4L, 44L), (1L, 12L)).toDF("k", "x"))
    check(marks :+ v6, s"cache@$v5 + tail")
  }

  test("floored compaction of every chain table at its fold mark keeps " +
      "the chain refresh incremental and exact; a full compaction of " +
      "any one table still forces the rebuild") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("f", StructType(Seq(
      StructField("ok", LongType), StructField("ck", LongType),
      StructField("pk2", LongType), StructField("price", LongType))),
      pk = Seq("ok"))
    cat.createTable("c", custSchema, pk = Seq("ck"))
    cat.createTable("p", StructType(Seq(
      StructField("pk2", LongType), StructField("brand", StringType))),
      pk = Seq("pk2"))
    cat.upsert("f", Seq((1L, 10L, 100L, 5L), (2L, 10L, 101L, 6L),
      (3L, 20L, 100L, 7L), (4L, 30L, 101L, 8L))
      .toDF("ok", "ck", "pk2", "price"))
    cat.upsert("c", Seq((10L, "a"), (20L, "b"), (30L, "a"))
      .toDF("ck", "seg"))
    cat.upsert("p", Seq((100L, "x"), (101L, "y")).toDF("pk2", "brand"))
    val cs = MaterializeJoin.ChainSpec("f", Seq(
      MaterializeJoin.SideSpec("c", Seq("ck")),
      MaterializeJoin.SideSpec("p", Seq("pk2"))))
    val path = TempDir("graft_jfc").toString
    Materialize.build(cat, cs, Seq("seg", "brand"), Seq("price"),
      path)
    def expectedN: Set[Seq[Any]] = Materialize.aggregate(
      cat.snapshot("f").join(cat.snapshot("c"), Seq("ck"))
        .join(cat.snapshot("p"), Seq("pk2")),
      Seq("seg", "brand"), Seq("price")).collect().map(canon).toSet
    // churn everything, refresh — the fold marks routine compaction
    // must keep replayable
    cat.upsert("f", Seq((1L, 10L, 100L, 55L), (5L, 20L, 101L, 9L))
      .toDF("ok", "ck", "pk2", "price"))
    cat.upsert("c", Seq((10L, "c")).toDF("ck", "seg"))
    cat.upsert("p", Seq((101L, "z")).toDF("pk2", "brand"))
    val vf +: vs = Materialize.refresh(cat, path).marks
    // floored compaction at each table's own fold mark — the routine
    // maintenance job, MVs registered and all
    val before = Seq("f", "c", "p").map(cat.changeLogRaw(_).count()).sum
    cat.compact("f", keepAfter = vf)
    cat.compact("c", keepAfter = vs(0))
    cat.compact("p", keepAfter = vs(1))
    val after = Seq("f", "c", "p").map(cat.changeLogRaw(_).count()).sum
    assert(after < before,
      s"floored compaction must drop superseded versions ($before -> " +
        s"$after)")
    // post-compaction churn on all three tables folds INCREMENTALLY
    cat.upsert("f", Seq((2L, 10L, 101L, 66L)).toDF(
      "ok", "ck", "pk2", "price"))
    cat.upsert("c", Seq((20L, "d")).toDF("ck", "seg"))
    cat.delete("p", col("pk2") === 100L)
    val r = Materialize.refresh(cat, path)
    assert(!r.rebuildRan,
      "floors at the fold marks must NOT force a rebuild")
    assert(actual(path) == expectedN,
      "post-floored-compaction chain refresh diverged")
    // FULL compaction of one side rises past its fold mark: rebuild
    cat.compact("p")
    cat.upsert("f", Seq((6L, 30L, 101L, 3L)).toDF(
      "ok", "ck", "pk2", "price"))
    val r2 = Materialize.refresh(cat, path)
    assert(r2.rebuildRan,
      "full compaction of a chain table discards its fold history — " +
        "rebuild required")
    assert(actual(path) == expectedN)
  }

  test("recompute pushdown fires below a FULL join exactly when sound " +
      "(no NULL among the affected values of the table's attr) and " +
      "holds back when a NULL-attr group is affected") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("fo", StructType(Seq(
      StructField("k", LongType), StructField("jk", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.createTable("so", StructType(Seq(
      StructField("jk", LongType), StructField("seg", StringType))),
      pk = Seq("jk"))
    // facts 1-4 matched (segs a/b), fact 9 dangling (NULL-seg group);
    // so 99 side-dangling
    cat.upsert("fo", Seq((1L, 10L, 5L), (2L, 10L, 50L), (3L, 20L, 7L),
      (4L, 20L, 70L), (9L, 77L, 30L)).toDF("k", "jk", "x"))
    cat.upsert("so", Seq((10L, "a"), (20L, "b"), (99L, "z"))
      .toDF("jk", "seg"))
    val path = TempDir("graft_push").toString + "/mv"
    Materialize.build(cat,
      MaterializeJoin.ChainSpec("fo",
        Seq(MaterializeJoin.SideSpec("so", Seq("jk"))),
        fullOuter = true),
      Seq("seg"), Seq("x"), path)
    def served = Materialize.read(spark, path)
      .select(col("seg"), col("cnt"), col("sum_x"))
      .collect().map(canon).toSet
    def expected = cat.snapshot("fo")
      .join(cat.snapshot("so"), Seq("jk"), "full")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sum_x"))
      .collect().map(canon).toSet
    // delete the max of group 'a' (matched, non-NULL seg): the gate
    // fires for exactly {a} — no NULL among V_seg, so the side's read
    // must carry the below-join IN-filter
    cat.delete("fo", col("k") === 2L)
    val r = Materialize.refresh(cat, path)
    assert(r.recomputeRan,
      "the max-crossing retraction must gate a recompute")
    assert(r.recomputePushdown == Seq("so"),
      "a fully-non-NULL affected set must push the IN-filter into " +
        s"the side's read, got " +
        s"${r.recomputePushdown}")
    assert(served == expected, "pushed recompute diverged")
    // delete the dangling fact (its group is NULL-seg): NULL is among
    // the affected seg values — re-labeling hazard — so the pushdown
    // must HOLD BACK
    cat.delete("fo", col("k") === 9L)
    val r2 = Materialize.refresh(cat, path)
    assert(r2.recomputeRan,
      "the NULL-group max retraction must gate a recompute")
    assert(r2.recomputePushdown.isEmpty,
      "a NULL-attr affected group must hold the pushdown back, got " +
        s"${r2.recomputePushdown}")
    assert(served == expected, "held-back recompute diverged")
  }
}
