package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Materialize, MvMeta}
import graft.operators.MaterializeJoin.{ChainSpec, SideSpec}
import graft.sources.GraftCatalog

/** The one MV meta codec: legacy layouts decode to the historical
  * defaults, both kinds round-trip, and the on-disk columns (names,
  * order, types) are the ones every earlier MV wrote. */
class MvMetaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_mvmeta").toString

  private def render(t: DataType): String = t match {
    case ArrayType(e, containsNull) =>
      s"array<${render(e)}${if (containsNull) "" else " not null"}>"
    case other => other.simpleString
  }

  private def layout(path: String): Seq[(String, String)] =
    spark.read.parquet(s"$path/meta").schema.fields.toSeq
      .map(f => f.name -> render(f.dataType))

  private val singleLayout = Seq(
    "last_version" -> "bigint", "group_cols" -> "array<string>",
    "measures" -> "array<string>", "refresh_ts" -> "bigint",
    "state_dir" -> "string", "ttl_at_refresh" -> "bigint",
    "grain_cols" -> "array<string>", "grain_sqls" -> "array<string>",
    "grain_tz" -> "string", "sketch_cols" -> "array<string>",
    "sketch_ks" -> "array<bigint>", "state_buckets" -> "bigint",
    "bucket_dirs" -> "array<string>", "dim_fp" -> "array<bigint>",
    "dim_pin" -> "string", "topk_cols" -> "array<string>",
    "topk_caps" -> "array<bigint>", "filter_sql" -> "string",
    "table" -> "string")

  private val joinLayout = Seq(
    "fact" -> "string", "side_tables" -> "array<string>",
    "side_keys" -> "array<array<string>>",
    "side_imms" -> "array<boolean>", "fact_imms" -> "array<boolean>",
    "last_vf" -> "bigint", "last_vs" -> "array<bigint>",
    "group_cols" -> "array<string>", "measures" -> "array<string>",
    "state_dir" -> "string", "sketch_cols" -> "array<string>",
    "sketch_ks" -> "array<bigint>", "topk_cols" -> "array<string>",
    "topk_caps" -> "array<bigint>", "grain_cols" -> "array<string>",
    "grain_sqls" -> "array<string>", "grain_tz" -> "string",
    "left_outer" -> "boolean", "full_outer" -> "boolean",
    "state_buckets" -> "bigint", "bucket_dirs" -> "array<string>",
    "fact_filter" -> "string")

  test("a legacy single-table meta decodes to the historical defaults") {
    import spark.implicits._
    // the first layouts carried neither state_dir, refresh_ts,
    // ttl_at_refresh nor grain_tz (and the oldest no grains either)
    val withGrains = Seq((5L, Seq("g", "day"), Seq("x"), Seq("day"),
        Seq("date_trunc('DAY', ts)"), Seq("u"), Seq(64L)))
      .toDF("last_version", "group_cols", "measures", "grain_cols",
        "grain_sqls", "sketch_cols", "sketch_ks").head()
    assert(MvMeta.decode(withGrains) == MvMeta(Seq("g", "day"), Seq("x"),
      "state_v5", Seq("day" -> "date_trunc('DAY', ts)"), None,
      Seq("u" -> 64), Seq.empty, 0, Seq.empty,
      MvMeta.Single(5L, None, None, Seq.empty, "", None)))
    val oldest = Seq((3L, Seq("g"), Seq("x")))
      .toDF("last_version", "group_cols", "measures").head()
    val m = MvMeta.decode(oldest)
    assert(m.stateDir == "state_v3" && m.grains.isEmpty &&
      m.sketches.isEmpty && m.topks.isEmpty && m.buckets == 0 &&
      m.bucketDirs.isEmpty && m.grainTz.isEmpty)
    assert(m.single == MvMeta.Single(3L, None, None, Seq.empty, "", None))
    assert(m.statePaths("/mv") == Seq("/mv/state_v3"))
    // the last layout before `table`: every other column, no table
    val noTable = Seq((7L, Seq("g"), Seq("x"), 1700000000000L, "state_v7",
        -1L, ""))
      .toDF("last_version", "group_cols", "measures", "refresh_ts",
        "state_dir", "ttl_at_refresh", "filter_sql").head()
    val nt = MvMeta.decode(noTable)
    assert(nt.single == MvMeta.Single(7L, Some(1700000000000L), Some(-1L),
      Seq.empty, "", None, None))
    assert(nt.marks == Seq(7L))
    assert(intercept[IllegalStateException](nt.tables).getMessage
      .contains("Materialize.build"))
  }

  test("a single-table meta round-trips through the on-disk layout") {
    val path = tmp()
    val m = MvMeta(Seq("g", "day"), Seq("x", "y"), "state_v9e17",
      Seq("day" -> "date_trunc('DAY', ts)"), Some("America/New_York"),
      Seq("u" -> 128), Seq("t" -> 16), 4,
      Seq("state_v9e17", "", "state_v7", "state_v9e17"),
      MvMeta.Single(9L, Some(1700000000000L), Some(3600L), Seq(7L, -2L),
        "dim@v3", Some("x > 1")))
    MvMeta.write(spark, path, m)
    assert(layout(path) == singleLayout)
    assert(MvMeta.decode(spark.read.parquet(s"$path/meta").head()) == m)
    assert(MvMeta.read(spark, path) == m)
    assert(m.statePaths(path) == Seq(s"$path/state_v9e17/__b=0",
      s"$path/state_v7/__b=2", s"$path/state_v9e17/__b=3"))
    assert(m.statePaths(path, Set(1)) == Seq(s"$path/state_v9e17/_schema"))
  }

  test("a join meta round-trips through the on-disk layout") {
    val path = tmp()
    val cs = ChainSpec("f", Seq(
      SideSpec("s1", Seq("k1"), sideKeysImmutable = true),
      SideSpec("s2", Seq("k2", "k3"), factKeysImmutable = true)),
      leftOuter = true, factFilterSql = Some("m > 0"))
    val m = MvMeta(Seq("seg"), Seq("m"), "state_v4_2_6",
      Seq.empty, Some("UTC"), Seq.empty, Seq.empty, 0, Seq.empty,
      MvMeta.Join(cs, 4L, Seq(2L, 6L)))
    MvMeta.write(spark, path, m)
    assert(layout(path) == joinLayout)
    assert(MvMeta.decode(spark.read.parquet(s"$path/meta").head()) == m)
    // a session-zone default is stamped at write
    val p2 = tmp()
    MvMeta.write(spark, p2, m.copy(grainTz = None))
    assert(MvMeta.read(spark, p2).grainTz ==
      Some(spark.conf.get("spark.sql.session.timeZone")))
  }

  test("built MVs write the historical meta layout") {
    import spark.implicits._
    val cat = new GraftCatalog(spark, tmp())
    cat.createTable("o", StructType(Seq(StructField("ok", LongType),
      StructField("ck", LongType), StructField("price", LongType))),
      pk = Seq("ok"))
    cat.createTable("c", StructType(Seq(StructField("ck", LongType),
      StructField("seg", StringType))), pk = Seq("ck"))
    cat.upsert("o", Seq((1L, 10L, 100L)).toDF("ok", "ck", "price"))
    cat.upsert("c", Seq((10L, "a")).toDF("ck", "seg"))
    val single = tmp()
    Materialize.build(cat, ChainSpec("o"), Seq("ck"), Seq("price"), single,
      buckets = 2)
    assert(layout(single) == singleLayout)
    val join = tmp()
    Materialize.build(cat, ChainSpec("o", Seq(SideSpec("c", Seq("ck")))),
      Seq("seg"), Seq("price"), join)
    assert(layout(join) == joinLayout)
  }

  test("a single-table meta without the table column refuses a refresh " +
      "by path and names Materialize.build as the fix") {
    import spark.implicits._
    val cat = new GraftCatalog(spark, tmp())
    cat.createTable("t", StructType(Seq(StructField("k", LongType),
      StructField("g", StringType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.upsert("t", Seq((1L, "a", 10L)).toDF("k", "g", "x"))
    val path = tmp()
    Materialize.build(cat, ChainSpec("t"), Seq("g"), Seq("x"), path)
    val built = MvMeta.read(spark, path)
    assert(built.tables == Seq("t") && built.kindName == "single")
    // the same meta as a writer before the `table` column left it
    val legacy = tmp() + "/meta"
    spark.read.parquet(s"$path/meta").drop("table").coalesce(1)
      .write.parquet(legacy)
    val metaDir = new java.io.File(path, "meta")
    metaDir.listFiles().foreach(_.delete())
    assert(metaDir.delete() && new java.io.File(legacy).renameTo(metaDir))
    assert(!MvMeta.row(spark, path).schema.fieldNames.contains("table"))
    cat.upsert("t", Seq((2L, "b", 20L)).toDF("k", "g", "x"))
    val e = intercept[IllegalStateException](Materialize.refresh(cat, path))
    assert(e.getMessage.contains("Materialize.build"), e.getMessage)
    val r = intercept[IllegalStateException](
      Materialize.registerForRewrite(cat, path))
    assert(r.getMessage.contains("Materialize.build"), r.getMessage)
  }

  test("a meta dir left with the pre-refresh file next to the new one " +
      "reads the new meta") {
    import spark.implicits._
    val cat = new GraftCatalog(spark, tmp())
    cat.createTable("t", StructType(Seq(StructField("k", LongType),
      StructField("g", StringType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.upsert("t", Seq((1L, "a", 10L)).toDF("k", "g", "x"))
    val path = tmp()
    Materialize.build(cat, ChainSpec("t"), Seq("g"), Seq("x"), path)
    val metaDir = new java.io.File(path, "meta")
    def dataFiles() = metaDir.listFiles().filter(_.getName.startsWith("part-"))
    val Array(pre) = dataFiles()
    val preBytes = java.nio.file.Files.readAllBytes(pre.toPath)
    val before = MvMeta.read(spark, path)
    cat.upsert("t", Seq((2L, "b", 20L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    val after = MvMeta.read(spark, path)
    assert(after != before)
    // a crash between writing the new meta file and deleting the old
    // one: both files sit in the dir
    java.nio.file.Files.write(pre.toPath, preBytes)
    assert(dataFiles().length == 2)
    assert(MvMeta.read(spark, path) == after)
  }
}
