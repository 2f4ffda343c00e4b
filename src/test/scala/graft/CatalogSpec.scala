package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftCatalog
import graft.streaming.EventStreams
import graft.operators.MaterializeJoin.{ChainSpec, SideSpec}

/** Engine-machinery tests: PK upsert snapshot semantics, delete
  * tombstones, CDC batch + streaming views, streaming windowed aggs.
  * Mirrors the reference's WEB_STAT end-to-end slice (FIXTURES.md #10). */
class CatalogSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def freshCatalog(): GraftCatalog = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    new GraftCatalog(spark, wh)
  }

  private val webStatSchema = StructType(Seq(
    StructField("host", StringType), StructField("domain", StringType),
    StructField("feature", StringType), StructField("date", StringType),
    StructField("core", LongType), StructField("db", LongType)))

  test("upsert snapshot: later batch wins per PK, earlier rows survive") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("web_stat", webStatSchema,
      pk = Seq("host", "domain", "feature", "date"),
      props = Map("SALT_BUCKETS" -> "4")) // accepted & ignored
    cat.upsert("web_stat", Seq(
      ("NA", "a.com", "login", "d1", 10L, 1L),
      ("NA", "a.com", "login", "d2", 20L, 2L),
      ("EU", "b.com", "search", "d1", 30L, 3L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    cat.upsert("web_stat", Seq(
      ("NA", "a.com", "login", "d1", 99L, 9L)).toDF( // overwrites d1
      "host", "domain", "feature", "date", "core", "db"))
    val snap = cat.snapshot("web_stat").orderBy("host", "date")
      .collect().map(r => (r.getString(0), r.getString(3), r.getLong(4)))
    assert(snap.toSeq == Seq(("EU", "d1", 30L), ("NA", "d1", 99L),
      ("NA", "d2", 20L)))
  }

  test("delete writes tombstones; snapshot drops them, log keeps them") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    cat.upsert("t", Seq(
      ("NA", "a.com", "login", "d1", 1L, 1L),
      ("NA", "a.com", "login", "d2", 2L, 2L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    cat.delete("t", col("date") === "d1")
    assert(cat.snapshot("t").count() == 1)
    assert(cat.snapshot("t").collect()(0).getString(3) == "d2")
    assert(cat.changeLog("t").count() == 3) // 2 upserts + 1 tombstone
  }

  test("re-upsert after delete resurrects the row") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    cat.upsert("t", Seq(("NA", "a.com", "x", "d1", 1L, 1L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    cat.delete("t", lit(true))
    assert(cat.snapshot("t").count() == 0)
    cat.upsert("t", Seq(("NA", "a.com", "x", "d1", 7L, 7L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    val r = cat.snapshot("t").collect()
    assert(r.length == 1 && r(0).getLong(4) == 7L)
  }

  test("CDC batch view exposes versioned ops with post images") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    val v0 = cat.upsert("t", Seq(("NA", "a.com", "x", "d1", 1L, 1L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    val v1 = cat.delete("t", lit(true))
    val cdc = cat.cdc("t").orderBy("cdc_version").collect()
    assert(cdc.length == 2)
    assert(cdc(0).getAs[Long]("cdc_version") == v0)
    assert(cdc(0).getAs[String]("cdc_op") == "upsert")
    assert(cdc(1).getAs[String]("cdc_op") == "delete")
    assert(cdc(0).getAs[String]("cdc_post_image").contains("\"core\":1"))
    // incremental consumption: only changes after v0
    assert(cat.cdc("t", sinceVersion = v0).count() == 1)
  }

  test("CDC image scopes: PRE/POST/CHANGE per reference CDCChangeScope") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    def up(core: Long, db: Long) =
      cat.upsert("t", Seq(("NA", "a.com", "x", "d1", core, db)).toDF(
        "host", "domain", "feature", "date", "core", "db"))
    up(1L, 5L)        // insert
    up(2L, 5L)        // update: only core changes
    cat.delete("t", lit(true)) // delete
    val rows = cat.cdcImages("t").orderBy("cdc_version").collect()
    assert(rows.length == 3)
    // insert: no pre image, full post + change images
    assert(rows(0).getAs[String]("cdc_pre_image") == null)
    assert(rows(0).getAs[String]("cdc_post_image").contains("\"core\":1"))
    assert(rows(0).getAs[String]("cdc_change_image").contains("\"core\":\"1\"")
      && rows(0).getAs[String]("cdc_change_image").contains("\"db\":\"5\""))
    // update: pre = old row; change image carries ONLY the changed cell
    assert(rows(1).getAs[String]("cdc_pre_image").contains("\"core\":1"))
    assert(rows(1).getAs[String]("cdc_post_image").contains("\"core\":2"))
    val chg = rows(1).getAs[String]("cdc_change_image")
    assert(chg.contains("\"core\":\"2\"") && !chg.contains("\"db\""))
    // delete: pre = last row, no post/change images
    assert(rows(2).getAs[String]("cdc_op") == "delete")
    assert(rows(2).getAs[String]("cdc_pre_image").contains("\"core\":2"))
    assert(rows(2).getAs[String]("cdc_post_image") == null)
    assert(rows(2).getAs[String]("cdc_change_image") == null)
    // scope subset drops the other image columns
    val cols = cat.cdcImages("t", scopes = Set("PRE")).columns.toSet
    assert(cols.contains("cdc_pre_image") &&
      !cols.contains("cdc_post_image") && !cols.contains("cdc_change_image"))
  }

  test("CDC stream delivers the change log incrementally") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    cat.upsert("t", Seq(("NA", "a.com", "x", "d1", 1L, 1L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    val q = cat.cdcStream("t").writeStream
      .format("memory").queryName("cdc_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM cdc_out").count() == 1)
      cat.upsert("t", Seq(("NA", "a.com", "x", "d2", 2L, 2L)).toDF(
        "host", "domain", "feature", "date", "core", "db"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT cdc_op, cdc_post_image FROM cdc_out").collect()
      assert(rows.length == 2)
      assert(rows.forall(_.getString(0) == "upsert"))
    } finally q.stop()
  }

  test("compaction collapses the log, preserves the snapshot") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    cat.upsert("t", Seq(("NA", "a.com", "x", "d1", 1L, 1L),
      ("NA", "a.com", "x", "d2", 2L, 2L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    cat.upsert("t", Seq(("NA", "a.com", "x", "d1", 9L, 9L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    cat.delete("t", col("date") === "d2")
    val before = cat.snapshot("t").orderBy("date").collect()
      .map(r => (r.getString(3), r.getLong(4))).toSeq
    assert(cat.changeLog("t").count() == 4)
    cat.compact("t")
    assert(cat.changeLog("t").count() == 1, "log must hold only survivors")
    val after = cat.snapshot("t").orderBy("date").collect()
      .map(r => (r.getString(3), r.getLong(4))).toSeq
    assert(after == before && after == Seq(("d1", 9L)))
    // writes after compaction still version correctly
    cat.upsert("t", Seq(("NA", "a.com", "x", "d3", 3L, 3L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    assert(cat.snapshot("t").count() == 2)
  }

  test("delete post image is NULL on both CDC surfaces") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    cat.upsert("t", Seq(("NA", "a.com", "x", "d1", 1L, 1L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    cat.delete("t", lit(true))
    // a tombstone has no post image — emitting the deleted row's values
    // as "post" told consumers the row still existed (and diverged from
    // cdcImages, which already nulled it)
    val del = cat.cdc("t").where(col("cdc_op") === "delete").collect()
    assert(del.length == 1 && del(0).isNullAt(
      del(0).fieldIndex("cdc_post_image")))
  }

  test("compaction carries each winning row's phoenix_row_timestamp") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    cat.upsert("t", Seq(("NA", "a.com", "x", "d1", 1L, 1L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    val tsBefore = cat.snapshotWithRowTs("t").collect()(0)
      .getAs[java.sql.Timestamp]("phoenix_row_timestamp")
    assert(tsBefore != null)
    cat.compact("t")
    // the collapse must carry _ts — dropping it NULLed the timestamp
    // for the whole table after every compaction
    val tsAfter = cat.snapshotWithRowTs("t").collect()(0)
      .getAs[java.sql.Timestamp]("phoenix_row_timestamp")
    assert(tsAfter == tsBefore,
      s"compaction must preserve the winning write's stamp: $tsAfter")
  }

  test("reserved _-prefixed column names are rejected up front") {
    import org.apache.spark.sql.types._
    val cat = freshCatalog()
    val bad = StructType(Seq(StructField("k", LongType),
      StructField("_version", LongType)))
    val ex = intercept[IllegalArgumentException] {
      cat.createTable("t_bad", bad, pk = Seq("k"))
    }
    assert(ex.getMessage.contains("reserved"))
    cat.createTable("t_ok", StructType(Seq(StructField("k", LongType))),
      pk = Seq("k"))
    intercept[IllegalArgumentException] {
      cat.alterAddColumns("t_ok", Seq(StructField("_ts", LongType)))
    }
  }

  test("cdcStream builds on a created-but-never-written table") {
    val cat = freshCatalog()
    cat.createTable("fresh_t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    // the batch changeLog guards the missing data dir; the stream must
    // not throw path-does-not-exist before the first write
    val df = cat.cdcStream("fresh_t")
    assert(df.isStreaming)
  }

  test("salted aggregate equals plain groupBy (skew path)") {
    import graft.operators.Skew
    val li = Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
    val got = Skew.saltedCountSum(li, Seq("l_returnflag"),
      Map("qty" -> col("l_quantity").cast(DecimalType(12, 2))), 8)
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val exp = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(12, 2))).as("qty"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    assert(got.toSeq == exp.toSeq)
  }

  test("views: stacked predicates, multi-tenant shape") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    cat.upsert("t", Seq(
      ("NA", "a.com", "login", "d1", 1L, 1L),
      ("NA", "a.com", "search", "d1", 2L, 2L),
      ("EU", "b.com", "login", "d1", 3L, 3L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    cat.createView("t_na", "t", col("host") === "NA") // tenant view
    cat.createView("t_na_login", "t_na", col("feature") === "login")
    assert(cat.view("t_na").count() == 2)
    val r = cat.view("t_na_login").collect()
    assert(r.length == 1 && r(0).getString(1) == "a.com")
  }

  test("dynamic columns: per-query extras materialize as typed nulls") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", webStatSchema, pk = Seq("host", "domain",
      "feature", "date"))
    cat.upsert("t", Seq(("NA", "a.com", "x", "d1", 1L, 1L)).toDF(
      "host", "domain", "feature", "date", "core", "db"))
    val dyn = StructType(Seq(StructField("extra_score", DoubleType),
      StructField("core", LongType))) // existing col must NOT be clobbered
    val df = cat.withDynamicColumns(cat.snapshot("t"), dyn)
    assert(df.schema("extra_score").dataType == DoubleType)
    val row = df.collect()(0)
    assert(row.isNullAt(df.columns.indexOf("extra_score")))
    assert(row.getLong(df.columns.indexOf("core")) == 1L)
  }

  test("cursor pages through results without collect") {
    import spark.implicits._
    val cat = freshCatalog()
    val df = spark.range(10).toDF("id")
    val pages = cat.cursor(df.orderBy("id"), fetchSize = 4).toSeq
    assert(pages.map(_.length) == Seq(4, 4, 2))
    assert(pages.flatten.map(_.getLong(0)) == (0L until 10L))
  }

  test("to_number / timezone_offset / convert_timezone") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql("""
      SELECT to_number('1,234.50', '#,##0.00') AS n,
             to_number('garbage', '#,##0.00') AS bad,
             timezone_offset('America/New_York',
               timestamp'2024-07-01 12:00:00') AS summer,
             timezone_offset('America/New_York',
               timestamp'2024-01-15 12:00:00') AS winter,
             convert_timezone('UTC', 'Asia/Tokyo',
               timestamp'2024-01-01 00:00:00') AS tokyo
      """).collect()(0)
    assert(r.getDouble(0) == 1234.5)
    assert(r.isNullAt(1))
    assert(r.getInt(2) == -240) // EDT
    assert(r.getInt(3) == -300) // EST
    // convert_timezone yields TIMESTAMP_NTZ (LocalDateTime)
    assert(r.get(4).toString.startsWith("2024-01-01T09:00"))
  }

  test("collation_key orders accented strings per locale; json_modify") {
    graft.functions.GraftFunctions.register(spark)
    // collation: in French collation 'côte' sorts between 'cote' and 'coté'
    val r = spark.sql("""
      SELECT word FROM VALUES ('cote'), ('coté'), ('côte'), ('côté')
        AS t(word)
      ORDER BY collation_key(word, 'fr')""").collect().map(_.getString(0))
    assert(r.head == "cote" && r.last == "côté",
      s"unexpected collation order: ${r.mkString(",")}")
    // binary keys compare differently from raw UTF-8 bytes
    val raw = spark.sql("""
      SELECT word FROM VALUES ('cote'), ('coté'), ('côte'), ('côté')
        AS t(word) ORDER BY word""").collect().map(_.getString(0))
    assert(!r.sameElements(raw), "collation must differ from byte order")
    // Java-format locale spellings (underscores — what the reference
    // passes) must resolve to the same collator as BCP-47, not silently
    // fall back to ROOT
    val under = spark.sql("""
      SELECT word FROM VALUES ('cote'), ('coté'), ('côte'), ('côté')
        AS t(word)
      ORDER BY collation_key(word, 'fr_FR')""").collect().map(_.getString(0))
    val dashed = spark.sql("""
      SELECT word FROM VALUES ('cote'), ('coté'), ('côte'), ('côté')
        AS t(word)
      ORDER BY collation_key(word, 'fr-FR')""").collect().map(_.getString(0))
    assert(under.sameElements(dashed),
      "'fr_FR' and 'fr-FR' must produce identical collation orders")
    val j = spark.sql("""
      SELECT json_modify('{"k": 1, "x": "a"}', '$.k', '42') AS a,
             json_modify('{"k": 1}', '$.new', '"hi"') AS b,
             json_modify('[1,2]', '$.k', '1') AS arr""").collect()(0)
    assert(j.getString(0) == """{"k":42,"x":"a"}""")
    assert(j.getString(1) == """{"k":1,"new":"hi"}""")
    assert(j.isNullAt(2), "non-object json → NULL")
  }

  /** Streaming read of a parquet dir with the SAME ts handling as the
    * batch path: probe the footer schema batch-first (the fixture's
    * physical ts type has changed across driver generations — NANOS-as-
    * long vs MICROS NTZ), then normalize exactly like `Tables.t` does. */
  private def eventStream(dir: String) = Tables.normalizeTs(
    spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir))

  test("streaming windowed agg with watermark over events parquet") {
    // the streaming file source needs a directory, not a single file
    val evDir = java.nio.file.Files.createTempDirectory("graft_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      evDir.resolve("events.parquet"))
    val ev = eventStream(evDir.toString)
    val q = EventStreams.windowedAgg(ev, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows; with a finite file the last
      // watermark leaves the final windows open, so compare against the
      // batch computation restricted to emitted windows
      val got = spark.sql("SELECT * FROM win_out")
      val batch = Tables.t(spark, "/root/testdata/sf0.001", "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"))
      val g = got.select("win_start", "event_type", "n").collect()
        .map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
      val b = batch.collect()
        .map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(g.nonEmpty, "stream emitted no closed windows")
      assert(g.subsetOf(b), "streamed window results must match batch")
      // guard against a stale fixture-type assumption mangling the epoch
      // (pre-round-8 the micros fixture was divided as if nanos and every
      // window landed in 1970 — 2 tests failed, 2 passed on garbage)
      assert(g.forall(!_._1.startsWith("197")),
        s"windows landed near the epoch — ts unit mangled: ${g.head._1}")
    } finally q.stop()
  }

  test("streaming dedup with bounded state matches batch exact dedup") {
    val evDir = java.nio.file.Files.createTempDirectory("graft_events_dd")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      evDir.resolve("events.parquet"))
    val ev = eventStream(evDir.toString)
    val q = EventStreams.dedupStream(ev, Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT user_id, event_type) AS d" +
          " FROM dedup_out").collect()(0)
      val exact = Tables.t(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "event_type").distinct().count()
      // every (user,type) key survives exactly once
      assert(got.getLong(0) == exact, "one survivor per key")
      assert(got.getLong(1) == exact)
    } finally q.stop()
  }

  test("streaming as-of enrichment matches the batch as-of join") {
    val evDir = java.nio.file.Files.createTempDirectory("graft_events_ae")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      evDir.resolve("events.parquet"))
    val batchEvents = Tables.t(spark, "/root/testdata/sf0.001", "events")
    val clicksB = batchEvents.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val dim = batchEvents.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("p_ts"))
      .agg(max(col("event_id")).as("purchase_id"))
    val stream = eventStream(evDir.toString)
      .where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val q = EventStreams.asofEnrichStream(stream, dim, "user_id",
        "ts", "p_ts", Seq("event_id"), "purchase_id")
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, purchase_id FROM asof_out")
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      val batch = graft.operators.Temporal.asofJoin(
          clicksB, dim, "user_id", "ts", "p_ts")
        .select("event_id", "purchase_id").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      // append mode emits only watermark-sealed events; everything
      // emitted must agree with the batch as-of, including null matches
      assert(got.nonEmpty && got.forall { case (k, v) => batch(k) == v })
      assert(got.values.exists(_ >= 0), "fixture should produce matches")
    } finally q.stop()
  }

  test("streaming near-dup detection matches batch corpus-vs-delta pairs") {
    val docDir = java.nio.file.Files.createTempDirectory("graft_docs_nd")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      docDir.resolve("documents.parquet"))
    val all = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val corpus = all.where(col("doc_id") < 25)
    // persisted-artifact side: banded buckets w/ shingles, built once
    val buckets = operators.Dedup.signatureBuckets(
      corpus, "text", "doc_id")
    val stream = spark.readStream
      .schema(spark.read.parquet(docDir.toString).schema)
      .parquet(docDir.toString)
      .where(col("doc_id") >= 25)
    val q = EventStreams.nearDupPairsStream(stream, buckets,
        "text", "doc_id", threshold = 0.3)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // per-band multiplicity is documented — dedupe like a sink would
      val got = spark.sql(
          "SELECT DISTINCT id, corpus_id FROM neardup_out").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      // batch truth: delta-touching pairs with exactly one corpus side
      val batch = operators.Dedup.incrementalNearDups(
          corpus, all.where(col("doc_id") >= 25),
          "text", "doc_id", threshold = 0.3)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => (a < 25) != (b < 25) }.toSet
      assert(got == batch,
        s"stream pairs must equal batch cross pairs: $got vs $batch")
      assert(got.nonEmpty, "fixture should contain cross near-dups")
    } finally q.stop()
  }

  test("streaming image near-dup (fingerprint stream vs persisted " +
      "bucket table) matches the batch incremental path") {
    import graft.operators.{Dedup, Multimodal}
    val all = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .limit(200)
    val corpusDocs = all.where(col("doc_id") >= 100)
    val deltaDocs = all.where(col("doc_id") < 100)
    // corpus decoded ONCE into signatures, exploded into the persisted
    // bucket artifact the stream probes
    val corpusSig = Multimodal.imageHashes(
      Multimodal.syntheticImages(corpusDocs)).localCheckpoint()
    val buckets = Dedup.hammingBuckets64(corpusSig,
      maxHamming = 6, cleanChunks = 2)
    val mediaDir = java.nio.file.Files
      .createTempDirectory("graft_media_nd").toString
    Multimodal.syntheticImages(deltaDocs)
      .write.mode("overwrite").parquet(mediaDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(mediaDir).schema).parquet(mediaDir)
    // decode stays scan-local on the stream side too: the payload
    // never reaches the join, only (id, 8-byte sig)
    val q = EventStreams.hammingNearDupStream(
        Multimodal.imageHashes(stream), buckets,
        maxHamming = 6, cleanChunks = 2)
      .writeStream.format("memory").queryName("img_nd_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT DISTINCT id, corpus_id, dist FROM img_nd_out").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)), r.getInt(2))).toSet
      // batch truth: the incremental path's CROSS pairs (the stream
      // probes corpus buckets only, so delta-delta pairs are out of
      // scope by design)
      val batch = Multimodal.imageNearDupsIncremental(corpusSig,
          Multimodal.syntheticImages(deltaDocs), maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .filter { case (a, b, _) => (a < 100) != (b < 100) }
        .map { case (a, b, d) => (math.min(a, b), math.max(a, b), d) }
        .toSet
      assert(got == batch,
        s"stream pairs must equal batch cross pairs: $got vs $batch")
      assert(got.nonEmpty, "fixture should contain cross image near-dups")
    } finally q.stop()
  }

  test("streaming ANN probe (query-vector stream vs persisted IVF " +
      "cells) matches the batch candidate set") {
    import graft.operators.Similarity
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val (centroids, assigned) =
      Similarity.ivfIndex(emb, "embedding", "vec_id", nlist = 8)
    val cells = assigned.localCheckpoint()
    val qDir = java.nio.file.Files
      .createTempDirectory("graft_ann_stream").toString
    emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .write.mode("overwrite").parquet(qDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(qDir).schema).parquet(qDir)
    val q = EventStreams.annCandidatesStream(stream, centroids, cells,
        minSim = 0.2)
      .writeStream.format("memory").queryName("ann_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT qid, id, sim FROM ann_stream_out")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9))).toSet
      val batch = EventStreams.annCandidatesStream(
          spark.read.parquet(qDir), centroids, cells, minSim = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9))).toSet
      assert(got == batch, s"stream ANN probe must equal batch: " +
        s"${got.size} vs ${batch.size}")
      assert(got.nonEmpty, "probed cells should yield candidates")
      // every query's probed cells include its OWN cell, so its true
      // near-neighborhood is represented: each query with any
      // candidate has one at sim >= its cell's population floor
      assert(got.map(_._1).toSet.size >= 10,
        "most queries should surface candidates")
    } finally q.stop()
  }

  test("streaming phrase filter matches the batch filter") {
    val docDir = java.nio.file.Files.createTempDirectory("graft_docs_pf")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      docDir.resolve("documents.parquet"))
    val fixture = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    // a NULL-text row must pass the filter (no phrases), not be
    // silently dropped by three-valued logic
    fixture.limit(1).withColumn("text", lit(null).cast(StringType))
      .write.mode("append").parquet(docDir.toString)
    val batchDocs = spark.read.parquet(docDir.toString)
    // uppercase entry: the helper lowercases BOTH sides, so it still
    // matches the lowered text
    val phrases = Seq("Slow", "customer batch", "zebra stripe")
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(docDir.toString)
    val q = graft.streaming.EventStreams
      .phraseFilterStream(stream, "text", phrases)
      .writeStream.format("memory").queryName("phrase_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM phrase_out")
      val got = out.count()
      val exact = batchDocs.where(col("text").isNull ||
        !operators.TextAnalysis.containsAnyPhrase(
          lower(trim(col("text"))), phrases.map(_.toLowerCase)))
      assert(got == exact.count(),
        "stream must drop exactly the phrase-matched docs")
      assert(out.where(col("text").isNull).count() == 1,
        "NULL-text row must be kept")
      assert(got > 0 && got < batchDocs.count(),
        "fixture must exercise both kept and dropped rows")
    } finally q.stop()
  }

  test("streaming windowed active users equals batch; bounded sketch " +
      "state") {
    val evDir = java.nio.file.Files.createTempDirectory("graft_events_au")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      evDir.resolve("events.parquet"))
    val ev = eventStream(evDir.toString)
    val q = EventStreams.windowedActiveUsers(ev, "user_id", "ts")
      .writeStream.format("memory").queryName("active_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM active_out").collect()
        .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSet
      // HLL++ is deterministic for given data, so closed windows match
      // the batch computation EXACTLY, not just approximately
      val batch = Tables.t(spark, "/root/testdata/sf0.001", "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(approx_count_distinct(col("user_id"), 0.02)
          .as("active_users"), count(lit(1)).as("n_events"))
        .select(col("window.start"), col("active_users"), col("n_events"))
        .collect()
        .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSet
      assert(got.nonEmpty, "stream emitted no closed windows")
      assert(got.subsetOf(batch), "stream windows must match batch")
      assert(got.forall(!_._1.startsWith("197")), "epoch sanity")
      // the estimate tracks the exact count within the configured rsd
      val exact = Tables.t(spark, "/root/testdata/sf0.001", "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(countDistinct(col("user_id")).as("n"))
        .select(col("window.start"), col("n")).collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      got.foreach { case (w, est, _) =>
        val truth = exact(w)
        assert(math.abs(est - truth) <= math.max(2, truth * 0.06),
          s"$w: estimate $est vs exact $truth")
      }
    } finally q.stop()
  }

  test("streaming dedup ingest: corpus dups drop, in-stream dups " +
      "collapse to first") {
    val docDir = java.nio.file.Files.createTempDirectory("graft_docs_di")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      docDir.resolve("documents.parquet"))
    val base = spark.read.parquet(docDir.toString)
    // corpus = docs < 250; docs >= 250 arrive as the stream, with a
    // synthesized event time; every doc >= 400 re-uses doc 250's text
    // (stream-safe duplicate derivation — no window/self-join), so the
    // stream carries many copies of one fingerprint
    val corpusFps = base.where(col("doc_id") < 250)
      .select(graft.operators.Dedup.fingerprint(col("text")).as("fp"))
    val fixed = base.where(col("doc_id") === 250)
      .select(col("text")).head().getString(0)
    def derive(df: org.apache.spark.sql.DataFrame) = df
      .where(col("doc_id") >= 250)
      .withColumn("text",
        when(col("doc_id") >= 400, lit(fixed)).otherwise(col("text")))
      .withColumn("ts",
        (lit(1700000000L) + col("doc_id")).cast("timestamp"))
    val stream = derive(spark.readStream.schema(base.schema)
      .parquet(docDir.toString))
    val q = EventStreams.dedupIngestStream(stream, "text",
        "ts", corpusFps)
      .writeStream.format("memory").queryName("dedup_ingest_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, fp FROM dedup_ingest_out")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      // batch truth: new-fp docs, one survivor per fp
      val batchDocs = derive(base)
      val corpusSet = corpusFps.distinct().collect()
        .map(_.getString(0)).toSet
      val newFps = batchDocs
        .select(col("doc_id"),
          graft.operators.Dedup.fingerprint(col("text")).as("fp"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .filterNot { case (_, fp) => corpusSet.contains(fp) }
      assert(got.map(_._2).toSet == newFps.map(_._2).toSet,
        "survivor fingerprints must equal the batch new-fp set")
      assert(got.map(_._2).distinct.length == got.length,
        "no duplicate fingerprints may pass the gate")
      assert(got.length < newFps.length,
        "the in-stream duplicates (docs >= 400) must collapse")
      assert(got.forall { case (_, fp) => !corpusSet.contains(fp) })
    } finally q.stop()
  }

  test("streaming IVF-PQ encode against a frozen codebook matches batch") {
    // arriving embeddings encode with the SAME fused kernel against the
    // frozen centroids/codebook (stateless projection — no state store),
    // so a live ingest can append to the persisted index directly
    val embDir = java.nio.file.Files.createTempDirectory("graft_emb_enc")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      embDir.resolve("embeddings.parquet"))
    val emb = spark.read.parquet(embDir.toString)
    val (cents, book, coded) = graft.operators.Similarity
      .ivfPqIndex(emb, "embedding", "vec_id", nlist = 8, ks = 32)
    val stream = spark.readStream.schema(emb.schema)
      .parquet(embDir.toString)
    val q = graft.operators.Similarity
      .ivfPqEncodeWith(cents, book, stream, "embedding", "vec_id")
      .writeStream.format("memory").queryName("enc_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM enc_out").collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getAs[Array[Byte]](2).toSeq)).toMap
      val batch = coded.collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getAs[Array[Byte]](2).toSeq)).toMap
      assert(got == batch, "stream encode must equal batch encode")
    } finally q.stop()
  }

  test("streaming boilerplate line filter matches incremental batch dedup") {
    import spark.implicits._
    import graft.operators.Dedup
    // corpus establishes "promo footer" as boilerplate (df=3)
    val corpus = Seq(
      (1L, "promo footer\nalpha"),
      (2L, "promo footer\nbeta"),
      (3L, "promo footer\ngamma")
    ).toDF("id", "text")
    val freq = Dedup.lineFreqTable(corpus, "text", "id")
    val boiler = freq.where(col("df") >= 3)
    // delta lines are otherwise unique, so the incremental batch form
    // (corpus freq + delta's own counts) reduces to the corpus set and
    // must agree with the stateless streaming filter row-for-row
    val delta = Seq(
      (10L, "promo footer\nunique a"),
      (11L, "unique b\npromo footer\nunique c"),
      (12L, "all original\nlines here")
    ).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_linefilter")
    delta.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(delta.schema).parquet(dir.toString)
    val q = EventStreams.lineFilterStream(stream, boiler, "text")
      .select(col("id").as("doc"), col("n_lines"), col("n_kept"),
        col("text_clean"))
      .writeStream.format("memory").queryName("linefilter_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM linefilter_out")
        .collect().map(_.toSeq).sortBy(_.head.toString)
      val batch = Dedup.incrementalLineDedup(freq, delta, "text", "id",
          minDocFreq = 3)
        .collect().map(_.toSeq).sortBy(_.head.toString)
      assert(got.length == 3 && got.sameElements(batch),
        s"stream ${got.toSeq} != batch ${batch.toSeq}")
      val byId = got.map(r => r.head -> r).toMap
      assert(byId(10L) == Seq(10L, 2L, 1L, "unique a"),
        "corpus boilerplate must drop from streamed docs")
      assert(byId(12L) == Seq(12L, 2L, 2L, "all original\nlines here"))
    } finally q.stop()
  }

  test("incremental materialized aggregate tracks the change log exactly") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("m", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("m", Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "g", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm").toString
    def expected = Materialize
      .aggregate(cat.snapshot("m"), Seq("g"), Seq("x"))
      .collect().map(_.toSeq).toSet
    def actual = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    val Seq(v0) =
      Materialize.build(cat, ChainSpec("m"), Seq("g"), Seq("x"), path)
    assert(actual == expected)
    // insert-only delta: pure merge, no retraction recompute
    cat.upsert("m", Seq((4L, "b", 5L), (5L, "c", 7L)).toDF("k", "g", "x"))
    val v1 = Materialize.refresh(cat, path).marks.head
    assert(v1 > v0 && actual == expected)
    // update (retracts the old pre-image), group-moving update, delete:
    // 'a' loses its min, 'b' loses its max, 'a'->'c' moves a row
    cat.upsert("m", Seq((1L, "a", 99L), (2L, "c", 20L)).toDF("k", "g", "x"))
    cat.delete("m", col("k") === 3L)
    val v2 = Materialize.refresh(cat, path).marks.head
    assert(v2 > v1 && actual == expected,
      s"IVM state diverged: $actual vs $expected")
    // a fully-deleted group vanishes from the state
    cat.delete("m", col("g") === "b")
    Materialize.refresh(cat, path)
    assert(actual == expected)
    assert(!actual.exists(_.head == "b"))
    // idle refresh: same high-water mark, state untouched
    val v3 = Materialize.refresh(cat, path).marks
    assert(v3 == Materialize.refresh(cat, path).marks)
    // NULL group key: merges as an ordinary group (joins would miss it)
    cat.upsert("m", Seq((10L, null.asInstanceOf[String], 5L),
      (11L, null.asInstanceOf[String], 6L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    assert(actual == expected, s"NULL-group insert diverged: $actual")
    // retraction INSIDE the NULL group (re-upsert changes the value)
    cat.upsert("m", Seq((10L, null.asInstanceOf[String], 8L))
      .toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    assert(actual == expected, s"NULL-group retraction diverged: $actual")
    // compaction discards the history the state summarizes — refresh
    // must detect it and fall back to a full rebuild, not double-count
    cat.compact("m")
    cat.upsert("m", Seq((12L, "d", 3L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    assert(actual == expected, s"post-compaction refresh diverged: $actual")
  }

  test("IVM: an extremum retraction in a group living entirely on " +
      "NULL-pk rows recomputes instead of vanishing") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("mn", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("mn", Seq((Option(1L), "a", 5L),
      (Option.empty[Long], "n", 30L)).toDF("k", "g", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_nullpk").toString
    Materialize.build(cat, ChainSpec("mn"), Seq("g"), Seq("x"), path)
    // update the NULL-pk row 30 -> 10: retracts group n's max, so the
    // gate fires and the recompute runs with an affected set whose
    // rows ALL have NULL pks — the zone-prune probe sees min(pk) =
    // NULL, which must fall back to the NULL-pk slice, not to
    // lit(false) (which silently erased the group from the state)
    cat.upsert("mn", Seq((Option.empty[Long], "n", 10L))
      .toDF("k", "g", "x"))
    val r = Materialize.refresh(cat, path)
    assert(r.recomputeRan,
      "the extremum gate must fire for the retracted max")
    val got = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    val want = Materialize
      .aggregate(cat.snapshot("mn"), Seq("g"), Seq("x"))
      .collect().map(_.toSeq).toSet
    assert(got == want, s"NULL-pk group diverged: $got vs $want")
    assert(got.exists(r => r.head == "n" && r(1) == 1L),
      s"group n must survive with its recomputed extrema: $got")
  }

  test("bucket-manifested state: refresh reads and rewrites only " +
      "touched buckets, exactly") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("mb", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("mb", Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "g", "x"))
    val B = 16
    def bucketOf(g: String): Int = spark.range(1)
      .select(pmod(xxhash64(lit(g)), lit(B.toLong)).cast("int"))
      .head.getInt(0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_b").toString
    def expected = Materialize
      .aggregate(cat.snapshot("mb"), Seq("g"), Seq("x"))
      .collect().map(_.toSeq).toSet
    def actual = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    def manifest: Seq[String] = {
      val m = spark.read.parquet(s"$path/meta").head()
      m.getSeq[String](m.fieldIndex("bucket_dirs"))
    }
    def partsOf(dir: String): Set[Int] =
      new java.io.File(s"$path/$dir").listFiles().toSeq
        .map(_.getName).collect {
          case n if n.startsWith("__b=") => n.drop(4).toInt }.toSet
    Materialize.build(cat, ChainSpec("mb"), Seq("g"), Seq("x"), path,
      buckets = B)
    assert(actual == expected)
    assert(manifest.count(_.nonEmpty) ==
      Set(bucketOf("a"), bucketOf("b")).size)
    val dirA0 = manifest(bucketOf("a"))
    // insert-only delta into groups b and c: only their buckets change
    cat.upsert("mb", Seq((4L, "b", 5L), (5L, "c", 7L)).toDF("k", "g", "x"))
    val r = Materialize.refresh(cat, path)
    assert(actual == expected)
    val tb = Set(bucketOf("b"), bucketOf("c"))
    assert(r.bucketsTouched == tb.size &&
      r.bucketsTotal == B,
      s"refresh must touch exactly ${tb.size} of $B buckets, " +
        s"got ${r.bucketsTouched}")
    // the new state dir holds EXACTLY the touched bucket partitions —
    // the on-disk witness that untouched buckets were not rewritten
    assert(partsOf(manifest(bucketOf("b"))) == tb,
      s"new dir must contain only touched buckets $tb")
    if (!tb.contains(bucketOf("a")))
      assert(manifest(bucketOf("a")) == dirA0,
        "an untouched bucket must keep its pinned dir")
    // retraction churn: 'a' loses its min (extremum recompute), 'b'
    // loses a row — both fold through the bucket SLICE, not the state
    cat.upsert("mb", Seq((1L, "a", 99L)).toDF("k", "g", "x"))
    cat.delete("mb", col("k") === 3L)
    Materialize.refresh(cat, path)
    assert(actual == expected,
      s"bucketed churn diverged: $actual vs $expected")
    // empty a whole group: its bucket vanishes from the manifest
    cat.delete("mb", col("g") === "c")
    Materialize.refresh(cat, path)
    assert(actual == expected)
    if (!Set(bucketOf("a"), bucketOf("b")).contains(bucketOf("c")))
      assert(manifest(bucketOf("c")).isEmpty,
        "an emptied bucket must vanish from the manifest")
    // NULL group key routes deterministically and retracts in place
    cat.upsert("mb", Seq((10L, null.asInstanceOf[String], 5L))
      .toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    assert(actual == expected)
    cat.upsert("mb", Seq((10L, null.asInstanceOf[String], 8L))
      .toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    assert(actual == expected,
      s"NULL-group retraction diverged (bucketed): $actual")
    // compaction forces a rebuild — which must KEEP the bucket layout
    cat.compact("mb")
    cat.upsert("mb", Seq((12L, "d", 3L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    assert(actual == expected,
      s"post-compaction bucketed refresh diverged: $actual")
    val m2 = spark.read.parquet(s"$path/meta").head()
    assert(m2.getAs[Long]("state_buckets") == B.toLong,
      "rebuild must preserve the bucket layout")
  }

  test("star-schema IVM: dimension-derived groups fold exactly " +
      "through insert/update/delete/group-move churn") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("fact", StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    // dim: unique-keyed, one attribute the MV groups by; fk=99 has NO
    // dim row — its facts must group under NULL, not vanish
    val dim = Seq((1L, "red"), (2L, "blue"), (3L, "red"))
      .toDF("fk", "color").localCheckpoint()
    val derive: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.join(broadcast(dim), Seq("fk"), "left")
    cat.upsert("fact", Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 30L),
      (4L, 99L, 40L)).toDF("k", "fk", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_star").toString
    def expected = Materialize.aggregate(
        cat.snapshot("fact").join(broadcast(dim), Seq("fk"), "left"),
        Seq("color"), Seq("x"))
      .collect().map(_.toSeq).toSet
    def actual = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    Materialize.build(cat, ChainSpec("fact"), Seq("color"), Seq("x"), path,
      buckets = 8, derive = derive)
    assert(actual == expected)
    assert(actual.exists(_.head == null),
      "facts without a dim row must group under NULL")
    // insert-only: folds without touching the dim-join recompute
    cat.upsert("fact", Seq((5L, 1L, 5L)).toDF("k", "fk", "x"))
    Materialize.refresh(cat, path, derive = derive)
    assert(actual == expected)
    // update that MOVES a fact across dim groups (fk 2->3 = blue->red):
    // the pre-image must retract from 'blue' via the SAME derive
    cat.upsert("fact", Seq((2L, 3L, 20L)).toDF("k", "fk", "x"))
    Materialize.refresh(cat, path, derive = derive)
    assert(actual == expected,
      s"dim-group move diverged: $actual vs $expected")
    assert(!actual.exists(_.head == "blue"),
      "emptied dim group must vanish")
    // extremum churn inside a dim group: 'red' loses its max
    cat.upsert("fact", Seq((3L, 3L, 1L)).toDF("k", "fk", "x"))
    Materialize.refresh(cat, path, derive = derive)
    assert(actual == expected,
      s"dim-group extremum retraction diverged: $actual vs $expected")
    // delete the NULL-group fact
    cat.delete("fact", col("k") === 4L)
    Materialize.refresh(cat, path, derive = derive)
    assert(actual == expected)
    // compaction rebuild: derive rides through the fallback
    cat.compact("fact")
    cat.upsert("fact", Seq((6L, 2L, 7L)).toDF("k", "fk", "x"))
    Materialize.refresh(cat, path, derive = derive)
    assert(actual == expected,
      s"post-compaction star rebuild diverged: $actual vs $expected")
    // a refresh MISSING the derive must fail loudly, never fold wrong
    cat.upsert("fact", Seq((7L, 1L, 3L)).toDF("k", "fk", "x"))
    intercept[Exception] { Materialize.refresh(cat, path) }
  }

  test("StarDerive: a changed dim makes refresh REFUSE instead of " +
      "silently mis-grouping retractions; rebuildOnDimChange rebuilds") {
    import spark.implicits._
    import graft.operators.Materialize
    import graft.operators.Materialize.StarDerive
    val cat = freshCatalog()
    cat.createTable("fact", StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.createTable("dim", StructType(Seq(
      StructField("dk", LongType), StructField("color", StringType))),
      pk = Seq("dk"))
    cat.upsert("dim", Seq((1L, "red"), (2L, "blue"), (3L, "red"))
      .toDF("dk", "color"))
    // the derive reads the LIVE dim snapshot — exactly the unsafe shape
    // the fingerprint gate exists for. Reconstructed per use (def):
    // a long-lived snapshot DataFrame pins its file listing, which
    // would hide the churn from both the join and the fingerprint.
    def derive = StarDerive(cat.snapshot("dim"),
      keys = Seq("fk" -> "dk"), attrs = Seq("color"))
    cat.upsert("fact", Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 30L))
      .toDF("k", "fk", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_sd").toString
    def expected = Materialize.aggregate(
        derive(cat.snapshot("fact")), Seq("color"), Seq("x"))
      .collect().map(_.toSeq).toSet
    def actual = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    Materialize.build(cat, ChainSpec("fact"), Seq("color"), Seq("x"), path,
      buckets = 4, derive = derive)
    assert(actual == expected)
    // stable dim: inserts, a group-move update, a delete all fold green
    cat.upsert("fact", Seq((4L, 1L, 5L), (2L, 3L, 20L))
      .toDF("k", "fk", "x"))
    cat.delete("fact", col("k") === 3L)
    Materialize.refresh(cat, path, derive = derive)
    assert(actual == expected)
    // dim churn (blue -> green on dk=2): today's silent-corruption case
    // — the gate must throw, and the state must be untouched
    cat.upsert("dim", Seq((2L, "green")).toDF("dk", "color"))
    cat.upsert("fact", Seq((5L, 2L, 50L)).toDF("k", "fk", "x"))
    val before = actual
    val ex = intercept[IllegalStateException] {
      Materialize.refresh(cat, path, derive = derive)
    }
    assert(ex.getMessage.contains("dim changed"))
    assert(actual == before, "a refused refresh must not touch state")
    // a bare function must not bypass the gate the state was built with
    val bare: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = derive.apply
    val ex2 = intercept[IllegalStateException] {
      Materialize.refresh(cat, path, derive = bare)
    }
    assert(ex2.getMessage.contains("StarDerive"))
    // opt-in convenience path: the mismatch triggers a full rebuild
    // under the CURRENT dim — always correct, never mixed
    val rebuilding = derive.copy(rebuildOnDimChange = true)
    Materialize.refresh(cat, path, derive = rebuilding)
    assert(actual == expected)
    assert(actual.exists(_.head == "green"),
      "the rebuild must group under the NEW dim value")
    // and the rebuild restamped the fingerprint: further stable-dim
    // refreshes fold incrementally again
    cat.upsert("fact", Seq((6L, 2L, 6L)).toDF("k", "fk", "x"))
    Materialize.refresh(cat, path, derive = derive)
    assert(actual == expected)
  }

  test("StarDerive.pinned (SCD-2): a version-pinned dim keeps the MV " +
      "stable across live dim churn; compaction of the pinned history " +
      "is caught") {
    import spark.implicits._
    import graft.operators.Materialize
    import graft.operators.Materialize.StarDerive
    val cat = freshCatalog()
    cat.createTable("fact", StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.createTable("dim", StructType(Seq(
      StructField("dk", LongType), StructField("color", StringType))),
      pk = Seq("dk"))
    val v0 = cat.upsert("dim", Seq((1L, "red"), (2L, "blue"))
      .toDF("dk", "color"))
    def pinnedDerive = StarDerive.pinned(cat, "dim", v0,
      keys = Seq("fk" -> "dk"), attrs = Seq("color"))
    cat.upsert("fact", Seq((1L, 1L, 10L), (2L, 2L, 20L))
      .toDF("k", "fk", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_scd").toString
    Materialize.build(cat, ChainSpec("fact"), Seq("color"), Seq("x"), path,
      derive = pinnedDerive)
    // live dim churns (the NORMAL state of a dimension) — the pinned
    // snapshot is unaffected, so refresh keeps folding incrementally
    // and groups stay under the dim version the MV was built against
    cat.upsert("dim", Seq((2L, "green"), (3L, "black"))
      .toDF("dk", "color"))
    cat.upsert("fact", Seq((3L, 2L, 30L), (4L, 3L, 40L))
      .toDF("k", "fk", "x"))
    Materialize.refresh(cat, path, derive = pinnedDerive)
    val actual = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    val expected = Materialize.aggregate(
        pinnedDerive(cat.snapshot("fact")), Seq("color"), Seq("x"))
      .collect().map(_.toSeq).toSet
    assert(actual == expected)
    assert(actual.exists(_.head == "blue"),
      "fk=2 facts must still group under the PINNED value")
    assert(!actual.exists(_.head == "green"))
    assert(actual.exists(_.head == null),
      "fk=3 has no row in the pinned version — NULL group, not 'black'")
    // compaction discards the history the pin reads — snapshotAsOf(v0)
    // now reconstructs a DIFFERENT (empty) dim, which the fingerprint
    // catches instead of silently regrouping everything under NULL
    cat.compact("dim")
    cat.upsert("fact", Seq((5L, 1L, 5L)).toDF("k", "fk", "x"))
    val ex = intercept[IllegalStateException] {
      Materialize.refresh(cat, path, derive = pinnedDerive)
    }
    assert(ex.getMessage.contains("dim changed") &&
      ex.getMessage.contains(s"dim@v$v0"))
  }

  test("StarDerives (multi-dim): groups drawn from two dims fold " +
      "exactly; churn in EITHER dim refuses with the dim pinpointed") {
    import spark.implicits._
    import graft.operators.Materialize
    import graft.operators.Materialize.{StarDerive, StarDerives}
    val cat = freshCatalog()
    cat.createTable("fact", StructType(Seq(
      StructField("k", LongType), StructField("f1", LongType),
      StructField("f2", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.createTable("d1", StructType(Seq(
      StructField("dk", LongType), StructField("color", StringType))),
      pk = Seq("dk"))
    cat.createTable("d2", StructType(Seq(
      StructField("dk", LongType), StructField("size", StringType))),
      pk = Seq("dk"))
    cat.upsert("d1", Seq((1L, "red"), (2L, "blue")).toDF("dk", "color"))
    cat.upsert("d2", Seq((10L, "big"), (20L, "small")).toDF("dk", "size"))
    def derive = StarDerives(Seq(
      StarDerive(cat.snapshot("d1"), Seq("f1" -> "dk"), Seq("color")),
      StarDerive(cat.snapshot("d2"), Seq("f2" -> "dk"), Seq("size"))))
    cat.upsert("fact", Seq((1L, 1L, 10L, 1L), (2L, 2L, 20L, 2L),
      (3L, 1L, 20L, 4L), (4L, 2L, 10L, 8L)).toDF("k", "f1", "f2", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_mdim").toString
    def expected = Materialize.aggregate(
        derive(cat.snapshot("fact")), Seq("color", "size"), Seq("x"))
      .collect().map(_.toSeq).toSet
    def actual = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    Materialize.build(cat, ChainSpec("fact"), Seq("color", "size"), Seq("x"),
      path, buckets = 4, derive = derive)
    assert(actual == expected)
    // churn folding through BOTH dims: group-move update + delete
    cat.upsert("fact", Seq((1L, 2L, 20L, 1L), (5L, 1L, 10L, 16L))
      .toDF("k", "f1", "f2", "x"))
    cat.delete("fact", col("k") === 4L)
    Materialize.refresh(cat, path, derive = derive)
    assert(actual == expected)
    // churn the SECOND dim only: the refusal names dim index 1
    cat.upsert("d2", Seq((20L, "tiny")).toDF("dk", "size"))
    cat.upsert("fact", Seq((6L, 1L, 20L, 32L)).toDF("k", "f1", "f2", "x"))
    val ex = intercept[IllegalStateException] {
      Materialize.refresh(cat, path, derive = derive)
    }
    assert(ex.getMessage.contains("dim changed") &&
      ex.getMessage.contains("dim(s) 1 of"), ex.getMessage)
    // composite rebuild opt-in recovers under the new dims
    Materialize.refresh(cat, path,
      derive = derive.copy(rebuildOnDimChange = true))
    assert(actual == expected)
    assert(actual.exists(_.toSeq.take(2) == Seq("blue", "tiny")))
  }

  test("maintainIvfIndex: an embedding stream maintains the persisted " +
      "IVF index batch by batch; replay folds idempotently") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.where(col("vec_id") >= 60)
    val (cents, assigned) =
      Similarity.ivfIndex(corpus, "embedding", "vec_id", nlist = 8)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_stream").toString
    Similarity.saveIvfIndex(path, cents, assigned)
    val sDir = java.nio.file.Files.createTempDirectory("graft_ivf_src")
    emb.where(col("vec_id") < 30).repartition(1)
      .write.parquet(s"$sDir/b1")
    emb.where(col("vec_id") >= 30 && col("vec_id") < 60).repartition(1)
      .write.parquet(s"$sDir/b2")
    val src = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$sDir/*")
    val q = EventStreams.maintainIvfIndex(src, path,
      "embedding", "vec_id").start()
    try q.processAllAvailable() finally q.stop()
    val (cents2, all) = Similarity.loadIvfIndex(spark, path)
    assert(all.count() == emb.count(),
      "every streamed vector must land in the index exactly once")
    // a replayed batch (crash-before-checkpoint shape) changes nothing
    Similarity.appendIvfIndex(spark, path,
      emb.where(col("vec_id") < 30), "embedding", "vec_id",
      dedupeIds = true)
    assert(Similarity.loadIvfIndex(spark, path)._2.count() == emb.count())
    // all-probe search over the maintained index == brute force
    val got = Similarity.ivfTopK(cents2, all, 7L, 12,
        nprobe = cents2.length)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.cosineTopK(emb, "embedding", "vec_id", 7L, 12)
      .collect().map(_.getLong(0)).toSeq
    assert(got == brute)
  }

  test("StarDerive enforces the 1:1 contract: a duplicate-keyed dim " +
      "refuses at build; bucketed state refuses nested group types") {
    import spark.implicits._
    import graft.operators.Materialize
    import graft.operators.Materialize.StarDerive
    val cat = freshCatalog()
    cat.createTable("fact", StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("fact", Seq((1L, 1L, 10L)).toDF("k", "fk", "x"))
    val dupDim = Seq((1L, "red"), (1L, "blue")).toDF("dk", "color")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_dup").toString
    val ex = intercept[IllegalArgumentException] {
      Materialize.build(cat, ChainSpec("fact"), Seq("color"), Seq("x"), path,
        derive = StarDerive(dupDim, Seq("fk" -> "dk"), Seq("color")))
    }
    assert(ex.getMessage.contains("not unique"))
    // ADVICE r11: a struct/array group column would hash nested floats
    // raw while groupBy normalizes them — bucket routing must refuse
    cat.createTable("fs", StructType(Seq(
      StructField("k", LongType),
      StructField("g", ArrayType(DoubleType)),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("fs", Seq((1L, Seq(1.0), 10L)).toDF("k", "g", "x"))
    val p2 = java.nio.file.Files
      .createTempDirectory("graft_ivm_nested").toString
    val ex2 = intercept[IllegalArgumentException] {
      Materialize.build(cat, ChainSpec("fs"), Seq("g"), Seq("x"), p2,
        buckets = 4)
    }
    assert(ex2.getMessage.contains("atomic group column"))
    // unbucketed state still supports the nested group (groupBy's own
    // normalization applies end-to-end there)
    Materialize.build(cat, ChainSpec("fs"), Seq("g"), Seq("x"), p2)
    assert(Materialize.read(spark, p2).count() == 1)
  }

  test("maintainAggregate: a stream maintains a bucketed, " +
      "sketch-valued MV exactly, batch by batch") {
    import spark.implicits._
    import graft.operators.Materialize
    graft.functions.GraftFunctions.registerKernels(spark)
    val cat = freshCatalog()
    cat.createTable("sm", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("u", LongType))), pk = Seq("k"))
    cat.upsert("sm", Seq((1L, "a", 10L), (2L, "a", 11L), (3L, "b", 10L))
      .toDF("k", "g", "u"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_stream").toString
    Materialize.build(cat, ChainSpec("sm"), Seq("g"), Seq("u"), path,
      sketches = Seq("u" -> 4096), buckets = 8)
    // three micro-batch files: inserts, a retracting update, a new group
    val in = java.nio.file.Files
      .createTempDirectory("graft_ivm_streamin").toString
    Seq((4L, "a", 12L), (5L, "b", 13L)).toDF("k", "g", "u")
      .coalesce(1).write.parquet(s"$in/b0")
    Seq((1L, "a", 77L)).toDF("k", "g", "u")
      .coalesce(1).write.parquet(s"$in/b1")
    Seq((6L, "c", 10L)).toDF("k", "g", "u")
      .coalesce(1).write.parquet(s"$in/b2")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("g", StringType), StructField("u", LongType))))
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
    val q = EventStreams.maintainAggregate(stream, cat, "sm", path)
      .start()
    try q.processAllAvailable() finally q.stop()
    def served = Materialize.read(spark, path)
      .select(col("g"), col("cnt"), col("sum_u"),
        round(call_function("kmv_estimate", col("kmv_u"))).cast("long")
          .as("du"))
      .collect().map(_.toSeq).toSet
    val truth = cat.snapshot("sm").groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"), sum(col("u")).as("sum_u"),
        countDistinct(col("u")).as("du"))
      .collect().map(_.toSeq).toSet
    assert(served == truth,
      s"stream-maintained MV diverged: $served vs $truth")
  }

  test("maintainJoinAggregate: a fact stream maintains a binary-join " +
      "MV while the dim mutates out-of-band between micro-batches") {
    import spark.implicits._
    import graft.operators.{Materialize, MaterializeJoin}
    val cat = freshCatalog()
    cat.createTable("sjf", StructType(Seq(
      StructField("k", LongType), StructField("ck", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.createTable("sjd", StructType(Seq(
      StructField("ck", LongType), StructField("seg", StringType))),
      pk = Seq("ck"))
    cat.upsert("sjf", Seq((1L, 10L, 100L), (2L, 20L, 200L))
      .toDF("k", "ck", "x"))
    cat.upsert("sjd", Seq((10L, "a"), (20L, "b"), (30L, "c"))
      .toDF("ck", "seg"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_jivm_stream").toString
    Materialize.build(cat,
      ChainSpec("sjf", Seq(SideSpec("sjd", Seq("ck"),
        factKeysImmutable = true))),
      Seq("seg"), Seq("x"), path)
    // three micro-batches: inserts (one initially dangling ck=40), a
    // retracting measure update, a row for the dim key churned below
    val in = java.nio.file.Files
      .createTempDirectory("graft_jivm_streamin").toString
    Seq((3L, 30L, 300L), (4L, 40L, 400L)).toDF("k", "ck", "x")
      .coalesce(1).write.parquet(s"$in/b0")
    Seq((1L, 10L, 150L)).toDF("k", "ck", "x")
      .coalesce(1).write.parquet(s"$in/b1")
    Seq((5L, 20L, 500L)).toDF("k", "ck", "x")
      .coalesce(1).write.parquet(s"$in/b2")
    // out-of-band DIM churn the stream's next refresh must absorb:
    // ck=40 materializes (the dangling insert joins late), ck=20
    // regroups b -> a
    cat.upsert("sjd", Seq((40L, "d"), (20L, "a")).toDF("ck", "seg"))
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("ck", LongType), StructField("x", LongType))))
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
    val q = EventStreams.maintainAggregate(stream, cat, "sjf", path)
      .start()
    try q.processAllAvailable() finally q.stop()
    val served = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    val truth = graft.operators.Materialize.aggregate(
      cat.snapshot("sjf").join(cat.snapshot("sjd"), Seq("ck")),
      Seq("seg"), Seq("x")).collect().map(_.toSeq).toSet
    assert(served == truth,
      s"stream-maintained join MV diverged: $served vs $truth")
  }

  test("maintainJoinAggregate over a LEFT-outer MV: dangling facts " +
      "stream into the NULL group and move out when the dim arrives " +
      "between micro-batches") {
    import spark.implicits._
    import graft.operators.{Materialize, MaterializeJoin}
    val cat = freshCatalog()
    cat.createTable("ljf", StructType(Seq(
      StructField("k", LongType), StructField("ck", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.createTable("ljd", StructType(Seq(
      StructField("ck", LongType), StructField("seg", StringType))),
      pk = Seq("ck"))
    cat.upsert("ljf", Seq((1L, 10L, 100L)).toDF("k", "ck", "x"))
    cat.upsert("ljd", Seq((10L, "a")).toDF("ck", "seg"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ljivm_stream").toString
    Materialize.build(cat,
      ChainSpec("ljf", Seq(SideSpec("ljd", Seq("ck"))), leftOuter = true),
      Seq("seg"), Seq("x"), path)
    val in = java.nio.file.Files
      .createTempDirectory("graft_ljivm_streamin").toString
    // b0 inserts a DANGLING fact (ck=40: NULL group); b1 another
    Seq((2L, 40L, 400L)).toDF("k", "ck", "x")
      .coalesce(1).write.parquet(s"$in/b0")
    Seq((3L, 40L, 40L), (4L, 50L, 500L)).toDF("k", "ck", "x")
      .coalesce(1).write.parquet(s"$in/b1")
    // out-of-band dim churn absorbed by a later batch's refresh:
    // ck=40 materializes (both its facts must LEAVE the NULL group),
    // ck=10's only dim row dies (fact k=1 moves INTO the NULL group)
    cat.upsert("ljd", Seq((40L, "z")).toDF("ck", "seg"))
    cat.delete("ljd", col("ck") === 10L)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("ck", LongType), StructField("x", LongType))))
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
    val q = EventStreams.maintainAggregate(stream, cat, "ljf", path)
      .start()
    try q.processAllAvailable() finally q.stop()
    val served = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    val truth = graft.operators.Materialize.aggregate(
      cat.snapshot("ljf").join(cat.snapshot("ljd"), Seq("ck"), "left"),
      Seq("seg"), Seq("x")).collect().map(_.toSeq).toSet
    assert(served == truth,
      s"stream-maintained LEFT join MV diverged: $served vs $truth")
    assert(truth.exists(_.head == null),
      "fixture must end with a non-empty NULL group")
  }

  test("maintainJoinAggregate over a FULL-outer MV: both dangling " +
      "kinds maintain across micro-batches with out-of-band side " +
      "churn") {
    import spark.implicits._
    import graft.operators.{Materialize, MaterializeJoin}
    val cat = freshCatalog()
    cat.createTable("fjf", StructType(Seq(
      StructField("k", LongType), StructField("ck", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.createTable("fjd", StructType(Seq(
      StructField("ck", LongType), StructField("seg", StringType))),
      pk = Seq("ck"))
    cat.upsert("fjf", Seq((1L, 10L, 100L)).toDF("k", "ck", "x"))
    // ck=77 is SIDE-dangling from the start (no fact carries it)
    cat.upsert("fjd", Seq((10L, "a"), (77L, "orphan"))
      .toDF("ck", "seg"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_fjivm_stream").toString
    Materialize.build(cat,
      ChainSpec("fjf", Seq(SideSpec("fjd", Seq("ck"))), fullOuter = true),
      Seq("seg"), Seq("x"), path)
    val in = java.nio.file.Files
      .createTempDirectory("graft_fjivm_streamin").toString
    // b0: a FACT-dangling insert (ck=40); b1: a fact claiming the
    // side-dangling ck=77 (that side row must LEAVE its dangling part)
    Seq((2L, 40L, 400L)).toDF("k", "ck", "x")
      .coalesce(1).write.parquet(s"$in/b0")
    Seq((3L, 77L, 7L)).toDF("k", "ck", "x")
      .coalesce(1).write.parquet(s"$in/b1")
    // out-of-band between batches: ck=40 materializes, ck=10's dim
    // dies (fact k=1 re-dangles AND the dim row stops counting)
    cat.upsert("fjd", Seq((40L, "z")).toDF("ck", "seg"))
    cat.delete("fjd", col("ck") === 10L)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("ck", LongType), StructField("x", LongType))))
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
    val q = EventStreams.maintainAggregate(stream, cat, "fjf", path)
      .start()
    try q.processAllAvailable() finally q.stop()
    val served = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    val truth = graft.operators.Materialize.aggregate(
      cat.snapshot("fjf").join(cat.snapshot("fjd"), Seq("ck"), "full"),
      Seq("seg"), Seq("x")).collect().map(_.toSeq).toSet
    assert(served == truth,
      s"stream-maintained FULL join MV diverged: $served vs $truth")
    assert(truth.exists(_.head == null),
      "fixture must end with a fact-dangling NULL group")
  }

  test("maintainAggregate with derive: a fact stream maintains a " +
      "star MV (dim-grouped) exactly") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("sf", StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    val dim = Seq((1L, "red"), (2L, "blue")).toDF("fk", "color")
      .localCheckpoint()
    val derive: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
      _.join(broadcast(dim), Seq("fk"), "left")
    cat.upsert("sf", Seq((1L, 1L, 10L), (2L, 2L, 20L))
      .toDF("k", "fk", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_starstream").toString
    Materialize.build(cat, ChainSpec("sf"), Seq("color"), Seq("x"), path,
      buckets = 8, derive = derive)
    val in = java.nio.file.Files
      .createTempDirectory("graft_ivm_starstream_in").toString
    Seq((3L, 1L, 5L)).toDF("k", "fk", "x")
      .coalesce(1).write.parquet(s"$in/b0")
    // a dim-group move: fact 2 flips blue -> red
    Seq((2L, 1L, 20L)).toDF("k", "fk", "x")
      .coalesce(1).write.parquet(s"$in/b1")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("fk", LongType), StructField("x", LongType))))
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
    val q = EventStreams.maintainAggregate(stream, cat, "sf", path,
      derive = derive).start()
    try q.processAllAvailable() finally q.stop()
    val served = Materialize.read(spark, path)
      .select(col("color"), col("cnt"), col("sum_x"))
      .collect().map(_.toSeq).toSet
    val truth = cat.snapshot("sf").join(broadcast(dim), Seq("fk"), "left")
      .groupBy(col("color"))
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sum_x"))
      .collect().map(_.toSeq).toSet
    assert(served == truth,
      s"stream-maintained star MV diverged: $served vs $truth")
    assert(!served.exists(_.head == "blue"),
      "the group-move must empty 'blue' through the streamed derive")
  }

  test("state compaction + vacuum: one dir serves all buckets, dead " +
      "dirs reclaimed, incremental refresh continues") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("mc", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("mc", Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "g", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_vac").toString
    def expected = Materialize
      .aggregate(cat.snapshot("mc"), Seq("g"), Seq("x"))
      .collect().map(_.toSeq).toSet
    def actual = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    def stateDirs: Set[String] =
      new java.io.File(path).listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("state_v")).toSet
    Materialize.build(cat, ChainSpec("mc"), Seq("g"), Seq("x"), path,
      buckets = 8)
    // three refreshes scatter current buckets across several dirs
    cat.upsert("mc", Seq((4L, "a", 5L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    cat.upsert("mc", Seq((5L, "b", 7L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    cat.upsert("mc", Seq((6L, "d", 9L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    assert(stateDirs.size >= 3, s"refreshes should leave dirs: $stateDirs")
    assert(actual == expected)
    val reclaimed = Materialize.compactState(spark, path)
    assert(reclaimed > 0L, "vacuum must reclaim the dead dirs' bytes")
    assert(stateDirs.size == 1,
      s"compaction must leave exactly one state dir: $stateDirs")
    assert(actual == expected, "compacted state must serve unchanged")
    val m = spark.read.parquet(s"$path/meta").head()
    val dirs = m.getSeq[String](m.fieldIndex("bucket_dirs"))
    assert(dirs.filter(_.nonEmpty).distinct.size == 1,
      s"manifest must point at the single compacted dir: $dirs")
    // the version mark carried over: the next refresh is incremental
    cat.upsert("mc", Seq((1L, "a", 99L)).toDF("k", "g", "x"))
    val r = Materialize.refresh(cat, path)
    assert(actual == expected,
      "post-compaction incremental refresh must stay exact")
    assert(r.bucketsTouched == 1,
      "post-compaction refresh must still slice to touched buckets")
    // legacy (single-dir) layout: compaction + vacuum also reclaims
    val cat2 = freshCatalog()
    cat2.createTable("ml", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat2.upsert("ml", Seq((1L, "a", 10L)).toDF("k", "g", "x"))
    val path2 = java.nio.file.Files
      .createTempDirectory("graft_ivm_vac2").toString
    Materialize.build(cat2, ChainSpec("ml"), Seq("g"), Seq("x"), path2)
    cat2.upsert("ml", Seq((2L, "b", 20L)).toDF("k", "g", "x"))
    Materialize.refresh(cat2, path2)
    assert(Materialize.compactState(spark, path2) > 0L)
    val got2 = Materialize.read(spark, path2)
      .collect().map(_.toSeq).toSet
    assert(got2 == Materialize
      .aggregate(cat2.snapshot("ml"), Seq("g"), Seq("x"))
      .collect().map(_.toSeq).toSet)
  }

  test("bucket-manifested state: TTL expiry retracts through the " +
      "touched-bucket slice only") {
    import spark.implicits._
    import graft.operators.Materialize
    val wh = java.nio.file.Files
      .createTempDirectory("graft_ttlmvb").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("eb", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"),
      props = Map("TTL" -> "60"))
    val B = 16
    def bucketOf(g: String): Int = spark.range(1)
      .select(pmod(xxhash64(lit(g)), lit(B.toLong)).cast("int"))
      .head.getInt(0)
    // distinct buckets required for the touched-set assertion to bite
    assume(bucketOf("exp") != bucketOf("g0"))
    val t0 = System.currentTimeMillis()
    cat.clock = () => t0 - 50000L // alive at build, expired at refresh
    cat.upsert("eb", Seq((3L, "exp", 7L)).toDF("k", "g", "x"))
    cat.clock = () => t0 - 5000L
    cat.upsert("eb", Seq((1L, "g0", 100L), (2L, "g0", 50L))
      .toDF("k", "g", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_bttl").toString
    cat.clock = () => t0 - 4000L
    Materialize.build(cat, ChainSpec("eb"), Seq("g"), Seq("x"), path,
      buckets = B)
    // advance past 'exp''s expiry (t0-50s + 60s = t0+10s)
    cat.clock = () => t0 + 20000L
    val r = Materialize.refresh(cat, path)
    val got = Materialize.read(spark, path)
      .select(col("g"), col("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("g0", 2L)),
      s"expired group must retract from the bucketed state: $got")
    // the expiry-only refresh touched ONLY the expired group's bucket
    assert(r.bucketsTouched == 1 &&
      r.bucketsTotal == B,
      s"expiry must touch 1 bucket, got " +
        s"${r.bucketsTouched}")
  }

  test("bucket-manifested state with grain + sketch measures equals " +
      "a full rebuild") {
    import spark.implicits._
    import graft.operators.Materialize
    graft.functions.GraftFunctions.registerKernels(spark)
    val cat = freshCatalog()
    cat.createTable("gsb", StructType(Seq(
      StructField("k", LongType), StructField("ts", TimestampType),
      StructField("u", LongType))), pk = Seq("k"))
    def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-${1 + i % 9}%02d 10:00:00"), (i % 25).toLong)
    }.toDF("k", "ts", "u")
    cat.upsert("gsb", rows(0, 300))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_bgs").toString
    val grains = Seq("day" -> "date_trunc('DAY', ts)")
    val sketches = Seq("u" -> 2048)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
        case v => v
      }).toSet
    def expected = norm(Materialize.aggregate(
      cat.snapshot("gsb").withColumn("day", expr("date_trunc('DAY', ts)")),
      Seq("day"), Seq("u"), sketches))
    def actual = norm(Materialize.read(spark, path))
    Materialize.build(cat, ChainSpec("gsb"), Seq("day"), Seq("u"), path,
      grains = grains, sketches = sketches, buckets = 8)
    assert(actual == expected)
    // insert-only: sketch union fold, byte-identical to the rebuild
    cat.upsert("gsb", rows(300, 400))
    Materialize.refresh(cat, path)
    assert(actual == expected,
      "bucketed insert-only sketch fold must equal the rebuild")
    // retraction (update moves a row across days): sketch groups take
    // the pruned recompute — still equal, still through the slice
    cat.upsert("gsb", Seq((5L, java.sql.Timestamp.valueOf(
      "2024-01-09 10:00:00"), 99L)).toDF("k", "ts", "u"))
    Materialize.refresh(cat, path)
    assert(actual == expected,
      "bucketed cross-grain sketch retraction must equal the rebuild")
  }

  test("IVM pre-image window reads only delta-touched PKs, " +
      "not the full change log") {
    import spark.implicits._
    import graft.operators.Materialize
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val cat = freshCatalog()
    cat.createTable("mw", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    // batch 0: three PKs; batch 1 (the delta) touches only k=2
    cat.upsert("mw", Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "g", "x"))
    cat.upsert("mw", Seq((2L, "b", 25L)).toDF("k", "g", "x"))
    val changes = Materialize.preImageChanges(cat.changeLogRaw("mw"),
      Seq("k", "g", "x"), Seq("k"), lastV = 0L)
    // plan pin: the lag window's input subtree must contain the PK
    // semi-join — a window over the bare log shuffles O(table) per
    // refresh (the round-9 scale-killer)
    val windows = changes.queryExecution.optimizedPlan
      .collect { case w: LWindow => w }
    assert(windows.nonEmpty, "pre-image plan lost its window")
    assert(windows.forall(_.collect {
        case j: Join if j.joinType == LeftSemi => j
      }.nonEmpty),
      "pre-image window input must be semi-join-pruned to delta PKs:\n" +
        changes.queryExecution.optimizedPlan.treeString)
    // behavior: the delta row carries its true pre-image despite the
    // prune (untouched PKs never enter the window)
    val rows = changes.select(col("k"), col("_prev.x").as("px")).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 20L)))
  }

  test("snapshot cache: serving reads scan the cached collapse plus " +
      "only tail versions; updates/deletes/compact/truncate stay exact") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("sc", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))),
      pk = Seq("k"), props = Map("SNAPSHOT_CACHE_BATCHES" -> "3"))
    def snap = cat.snapshot("sc").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    cat.upsert("sc", Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "g", "x"))
    cat.upsert("sc", Seq((3L, "c", 3L)).toDF("k", "g", "x"))
    assert(cat.snapCacheVersion("sc").isEmpty, "below threshold: no cache")
    cat.upsert("sc", Seq((2L, "b", 22L)).toDF("k", "g", "x")) // v2 = 3rd
    assert(cat.snapCacheVersion("sc").contains(2L),
      "threshold reached: cache built at the high-water mark")
    assert(snap == Set((1L, "a", 1L), (2L, "b", 22L), (3L, "c", 3L)))
    // tail writes: an update, an insert, and a delete BEYOND the cache
    cat.upsert("sc", Seq((1L, "a", 11L), (4L, "d", 4L)).toDF("k", "g", "x"))
    // plan pin: the snapshot read must scan the cache dir AND push the
    // tail version bound into the data scan
    val plan = cat.snapshot("sc").queryExecution.executedPlan.toString
    assert(plan.contains("_snapcache"),
      s"serving read must scan the cache:\n$plan")
    assert(plan.contains("GreaterThan(_version,2"),
      s"tail scan must push _version > cacheV into parquet:\n$plan")
    assert(snap == Set((1L, "a", 11L), (2L, "b", 22L), (3L, "c", 3L),
      (4L, "d", 4L)), "tail update must outrank the cached winner")
    cat.delete("sc", $"k" === 2L) // tombstone in the tail
    assert(snap == Set((1L, "a", 11L), (3L, "c", 3L), (4L, "d", 4L)),
      "a tail tombstone must kill the cached winner")
    // third tail batch crosses the threshold -> auto-rebuild; the
    // deleted PK must NOT be resurrected by the rebuilt cache
    cat.upsert("sc", Seq((5L, "e", 5L)).toDF("k", "g", "x"))
    assert(cat.snapCacheVersion("sc").exists(_ > 2L),
      "threshold tail must auto-rebuild the cache")
    assert(snap == Set((1L, "a", 11L), (3L, "c", 3L), (4L, "d", 4L),
      (5L, "e", 5L)))
    // phoenix_row_timestamp survives the cache (winner's original _ts)
    assert(cat.snapshotWithRowTs("sc")
      .where($"phoenix_row_timestamp".isNull).count() == 0)
    // point-in-time reads bypass the cache: full history still serves
    assert(cat.snapshotAsOf("sc", 1L).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    // compact discards history -> cache must be invalidated, snapshot
    // unchanged
    cat.compact("sc")
    assert(cat.snapCacheVersion("sc").isEmpty,
      "compaction must invalidate the cache (resurrection hazard)")
    assert(snap == Set((1L, "a", 11L), (3L, "c", 3L), (4L, "d", 4L),
      (5L, "e", 5L)))
    // truncate drops the cache with the data
    cat.truncate("sc")
    assert(cat.snapCacheVersion("sc").isEmpty && snap.isEmpty)
    // ROW_TIMESTAMP tables refuse the cache (non-monotone user stamps)
    val rtField = StructField("ts", LongType,
      nullable = true, new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(GraftCatalog.RowTimestampKey, true).build())
    cat.createTable("rt", StructType(Seq(
      StructField("id", LongType), rtField)), pk = Seq("id", "ts"))
    cat.upsert("rt", Seq((1L, 5L)).toDF("id", "ts"))
    intercept[IllegalArgumentException] {
      cat.refreshSnapshotCache("rt")
    }
  }

  test("snapshot cache: TTL filters cached rows at read time from the " +
      "injectable clock, exactly like logged rows") {
    import spark.implicits._
    val cat = freshCatalog()
    val t0 = System.currentTimeMillis()
    var now = t0
    cat.clock = () => now
    cat.createTable("st", StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))),
      pk = Seq("k"), props = Map("TTL" -> "60"))
    cat.upsert("st", Seq((1L, 10L)).toDF("k", "x")) // written at t0
    now = t0 + 30000
    cat.upsert("st", Seq((2L, 20L)).toDF("k", "x")) // t0+30s
    cat.refreshSnapshotCache("st")
    def keys = cat.snapshot("st").collect().map(_.getLong(0)).toSet
    assert(keys == Set(1L, 2L))
    // advance past k=1's expiry: the CACHED row must vanish at read time
    now = t0 + 70000
    val plan = cat.snapshot("st").queryExecution.executedPlan.toString
    assert(plan.contains("_snapcache"), "read must still serve the cache")
    assert(keys == Set(2L), s"cached row must expire at read time")
    // lengthening the TTL resurrects it (read-time semantics, cache
    // stores raw winners with their stamps)
    cat.alterSetProps("st", Map("TTL" -> "3600"))
    assert(keys == Set(1L, 2L))
  }

  test("snapshot cache READ-path auto-refresh: a read past the tail " +
      "threshold rebuilds the cache once; subsequent reads scan cache " +
      "+ empty tail") {
    import spark.implicits._
    val cat = freshCatalog()
    // no property yet: writes cannot trigger the write-side hook
    cat.createTable("rc", StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.upsert("rc", Seq((1L, 1L)).toDF("k", "x"))   // v0
    cat.refreshSnapshotCache("rc")                    // cache @ v0
    cat.upsert("rc", Seq((2L, 2L)).toDF("k", "x"))   // v1 (tail 1)
    cat.upsert("rc", Seq((1L, 11L)).toDF("k", "x"))  // v2 (tail 2)
    assert(cat.snapCacheVersion("rc").contains(0L))
    // below a threshold of 3 the read leaves the cache alone
    cat.alterSetProps("rc", Map("SNAPSHOT_CACHE_BATCHES" -> "3"))
    assert(cat.snapshot("rc").count() == 2)
    assert(cat.snapCacheVersion("rc").contains(0L),
      "below threshold: the read must not rebuild")
    // lowering the threshold puts the existing tail past it — the NEXT
    // READ (no write involved) rebuilds exactly once
    cat.alterSetProps("rc", Map("SNAPSHOT_CACHE_BATCHES" -> "2"))
    val rows = cat.snapshot("rc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 11L), (2L, 2L)))
    assert(cat.snapCacheVersion("rc").contains(2L),
      "read past threshold must rebuild the cache at the high-water mark")
    // subsequent reads: cache + EMPTY tail (the pushed bound excludes
    // every file), and the served snapshot is now a pure cache scan
    val plan = cat.snapshot("rc").queryExecution.executedPlan.toString
    assert(plan.contains("_snapcache/v2"), s"must scan the new cache:\n$plan")
    val served = cat.snapshotServed("rc").queryExecution
      .executedPlan.toString
    assert(served.contains("_snapcache/v2") && !served.contains("/data"),
      s"fresh cache must serve as a pure scan:\n$served")
  }

  // Spark work of one serving read: the fresh counts were measured on
  // the code before the read paths shared one cache-aware log slice,
  // the cache-plus-tail counts on the overlay (the same totals the
  // whole-table collapse gave, split as one tail job and one read); a
  // change here is a change in read cost.
  test("snapshot cache: Spark jobs, stages and tasks of a served read " +
      "against an exactly fresh cache and against cache plus tail") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("jc", StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.upsert("jc", (1L to 40L).map(k => (k, k)).toDF("k", "x"))
    cat.upsert("jc", (1L to 40L by 3).map(k => (k, -k)).toDF("k", "x"))
    cat.delete("jc", col("k") === 2L)
    cat.refreshSnapshotCache("jc")
    def served() = Measure.once(spark)(cat.snapshotServed("jc").collect())
    val Measure.Measured(fresh, _, freshRows) = served()
    assert(freshRows.length == 39)
    assert(fresh == Measure.JobCounts(jobs = 1, stages = 1, tasks = 1),
      s"exactly fresh cache: $fresh")
    cat.upsert("jc", Seq((2L, 2L), (41L, 41L)).toDF("k", "x"))
    val Measure.Measured(tail, _, tailRows) = served()
    assert(tailRows.length == 41)
    assert(tail == Measure.JobCounts(jobs = 2, stages = 2, tasks = 6),
      s"cache plus tail: $tail")
    // the same work split in two: the overlay reads the tail when the
    // frame is built, and the frame's own read is then one job
    val Measure.Measured(build, _, frame) =
      Measure.once(spark)(cat.snapshotServed("jc"))
    assert(build == Measure.JobCounts(jobs = 1, stages = 1, tasks = 4),
      s"cache plus tail, building the frame: $build")
    val read = Measure.once(spark)(frame.collect()).counts
    assert(read == Measure.JobCounts(jobs = 1, stages = 1, tasks = 2),
      s"cache plus tail, reading the frame: $read")
  }

  /** Rows of `df` as a set, for order-free comparison. */
  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  /** The served snapshot of `t` equals the uncached collapse at the
    * counter; returns whether it was served by the overlay (no
    * exchange) rather than a collapse. */
  private def servedMatches(cat: GraftCatalog, t: String,
      tag: String): Boolean = {
    val served = cat.snapshotServed(t)
    val counter = cat.currentVersion(t)
    assert(rowSet(served) == rowSet(cat.snapshotAsOf(t, counter)), tag)
    cat.snapCacheVersion(t).exists(_ < counter) &&
      !served.queryExecution.executedPlan.toString.contains("Exchange")
  }

  test("snapshot cache overlay: after every write of a seeded sequence " +
      "of upserts, deletes, resurrections and no-match DELETEs, the " +
      "served snapshot equals snapshotAsOf at the counter, for a single " +
      "BIGINT key and a composite VARCHAR, CHAR, DECIMAL, DATE, " +
      "TIMESTAMP, BIGINT key whose last part is sometimes NULL") {
    import scala.jdk.CollectionConverters._
    val cat = freshCatalog()
    def width(key: String, n: Long) =
      new MetadataBuilder().putLong(key, n).build()
    val cache = Map("SNAPSHOT_CACHE_BATCHES" -> "3")
    cat.createTable("os", StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))),
      pk = Seq("k"), props = cache)
    cat.createTable("oc", StructType(Seq(
      StructField("s", StringType,
        metadata = width(GraftCatalog.VarcharWidthKey, 8)),
      StructField("c", StringType,
        metadata = width(GraftCatalog.CharWidthKey, 3)),
      StructField("d", DecimalType(10, 2)), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("n", LongType),
      StructField("x", LongType))),
      pk = Seq("s", "c", "d", "dt", "ts", "n"), props = cache)
    // key i of each table: the composite key's parts all derive from i,
    // and its last part is NULL for every third key
    def row(t: String, i: Int, x: Long): Row =
      if (t == "os") Row(i.toLong, x)
      else Row(s"k$i", s"c${i % 3}", java.math.BigDecimal.valueOf(i * 25L, 2),
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
        new java.sql.Timestamp(1600000000000L + i * 1000L),
        if (i % 3 == 0) null else i.toLong, x)
    def key(t: String) = col(if (t == "os") "k" else "s")
    def keyLit(t: String, i: Int) = if (t == "os") lit(i.toLong) else lit(s"k$i")
    val rng = new scala.util.Random(9)
    for (t <- Seq("os", "oc")) {
      val alive = scala.collection.mutable.Set[Int]()
      var resurrected, noMatch, overlaid = 0
      for (step <- 1 to 18) {
        val keys = Seq.fill(1 + rng.nextInt(3))(rng.nextInt(9)).distinct
        rng.nextInt(6) match {
          case 0 | 1 =>
            cat.delete(t, key(t).isin(keys.map(keyLit(t, _)): _*))
            alive --= keys
          case 2 =>
            cat.delete(t, key(t) === keyLit(t, 99))
            noMatch += 1
          case _ =>
            resurrected += keys.count(i => !alive(i) &&
              cat.changeLog(t).where(key(t) === keyLit(t, i)).count() > 0)
            cat.upsert(t, spark.createDataFrame(
              keys.map(row(t, _, rng.nextLong())).asJava, cat.spec(t).schema))
            alive ++= keys
        }
        if (servedMatches(cat, t, s"$t, step $step")) overlaid += 1
      }
      assert(resurrected > 0 && noMatch > 0,
        s"$t: the sequence must resurrect a key ($resurrected) and run " +
          s"a no-match DELETE ($noMatch)")
      assert(overlaid >= 6, s"$t: only $overlaid reads were overlaid")
    }
  }

  test("snapshot cache overlay: an orphan row above the counter stays " +
      "invisible, and a tail past the row cap is served by the collapse " +
      "with equal rows") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("oo", StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.upsert("oo", (1L to 10L).map(k => (k, k)).toDF("k", "x"))
    cat.refreshSnapshotCache("oo")
    val v = cat.upsert("oo", Seq((2L, 22L), (11L, 11L)).toDF("k", "x"))
    // a refused writer's append: one row over a cached key, one new key
    Seq((3L, 33L), (50L, 50L)).toDF("k", "x")
      .withColumn("_version", lit(v + 100L))
      .withColumn("_deleted", lit(false))
      .withColumn("_ts", lit(new java.sql.Timestamp(0L)))
      .write.mode("append").parquet(s"${cat.tablePath("oo")}/data")
    assert(servedMatches(cat, "oo", "orphan"), "orphan: overlaid")
    assert(rowSet(cat.snapshotServed("oo")).map(_.getLong(0)) ==
      (1L to 11L).toSet)
    val cap = graft.operators.Commit.cap
    // a tail of exactly cap rows is overlaid, one more row is not
    cat.upsert("oo", (100L until 100L + cap - 2).map(k => (k, k))
      .toDF("k", "x"))
    assert(servedMatches(cat, "oo", "cap rows"), "cap rows: overlaid")
    cat.upsert("oo", Seq((1L, -1L)).toDF("k", "x"))
    assert(!servedMatches(cat, "oo", "cap + 1 rows"),
      "cap + 1 rows: collapsed")
  }

  test("snapshot cache overlay: TTL drops expired cache rows and expired " +
      "tail rows exactly like the uncached collapse") {
    import spark.implicits._
    val cat = freshCatalog()
    var now = 1000000L
    cat.clock = () => now
    cat.createTable("ot", StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))),
      pk = Seq("k"), props = Map("TTL" -> "100"))
    cat.upsert("ot", (1L to 4L).map(k => (k, k)).toDF("k", "x"))
    cat.refreshSnapshotCache("ot")
    now += 30000L
    cat.upsert("ot", Seq((2L, 22L), (6L, 6L)).toDF("k", "x"))
    now += 60000L
    cat.upsert("ot", Seq((1L, 111L), (7L, 7L)).toDF("k", "x"))
    def keys() = rowSet(cat.snapshotServed("ot"))
      .map(r => r.getLong(0) -> r.getLong(1))
    // every cache row has expired; every tail row is alive
    now += 20000L
    assert(servedMatches(cat, "ot", "cache rows expired"))
    assert(keys() == Set(1L -> 111L, 2L -> 22L, 6L -> 6L, 7L -> 7L))
    // the first tail batch has expired too
    now += 25000L
    assert(servedMatches(cat, "ot", "tail rows expired"))
    assert(keys() == Set(1L -> 111L, 7L -> 7L))
  }

  test("snapshot cache overlay: a PhoenixSql read in the tail state runs " +
      "one job to register the table and one job to read") {
    val cat = freshCatalog()
    val px = new graft.sources.PhoenixSql(spark, cat)
    px.execute("CREATE TABLE pj (k BIGINT NOT NULL, x BIGINT " +
      "CONSTRAINT pk PRIMARY KEY (k)) SNAPSHOT_CACHE_BATCHES=3")
    px.execute("UPSERT INTO pj VALUES (1, 10), (2, 20), (3, 30)")
    cat.refreshSnapshotCache("pj")
    px.execute("UPSERT INTO pj VALUES (2, 21), (4, 40)")
    for ((q, registers, rows) <- Seq(
        ("SELECT k, x FROM pj WHERE k = 2", 1, Seq(Row(2L, 21L))),
        ("SELECT k, x FROM pj WHERE k BETWEEN 1 AND 3", 0,
          Seq(Row(1L, 10L), Row(2L, 21L), Row(3L, 30L))))) {
      val Measure.Measured(reg, _, df) = Measure.once(spark)(px.execute(q))
      assert(reg.jobs == registers, s"$q, registration: $reg")
      val read = Measure.once(spark)(df.collect())
      assert(read.counts.jobs == 1, s"$q, read: ${read.counts}")
      assert(read.value.toSeq.sortBy(_.getLong(0)) == rows, q)
    }
  }

  test("snapshot cache overlay: an MV does not serve the overlay while " +
      "its fold mark is behind, even when a PK filter prunes the tail " +
      "branch away") {
    import graft.operators.Materialize
    val cat = freshCatalog()
    val px = new graft.sources.PhoenixSql(spark, cat)
    px.execute("CREATE TABLE am (k BIGINT NOT NULL, x BIGINT " +
      "CONSTRAINT pk PRIMARY KEY (k))")
    px.execute("UPSERT INTO am VALUES (1, 10), (2, 20), (3, 30)")
    cat.refreshSnapshotCache("am")
    val mv = java.nio.file.Files.createTempDirectory("graft_mv_am").toString
    Materialize.build(cat, ChainSpec("am"), Seq("k"), Seq("x"), mv)
    Materialize.registerForRewrite(cat, mv)
    val q = "SELECT k, SUM(x) AS sum_x FROM am WHERE k = 1 GROUP BY k"
    def run() = {
      val df = px.execute(q)
      (df.queryExecution.executedPlan.toString,
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
    assert(run()._1.contains(mv), "fresh cache and MV: served")
    // the cache moves past the MV's fold mark, then a tail touches key
    // 2 only: the PK filter empties the tail branch, which leaves a
    // filtered scan of a cache that holds a row the MV has not folded
    px.execute("UPSERT INTO am VALUES (1, 11)")
    cat.refreshSnapshotCache("am")
    px.execute("UPSERT INTO am VALUES (2, 21)")
    val (pruned, prunedRows) = run()
    assert(!pruned.contains("LocalTableScan") && !pruned.contains("/data"),
      s"the tail branch should be pruned:\n$pruned")
    assert(!pruned.contains(mv), s"MV behind the counter served:\n$pruned")
    assert(prunedRows == Seq((1L, 11L)))
    // once the MV folds the tail its probe passes; served or not, the
    // answer is the recompute's
    Materialize.refresh(cat, mv)
    assert(run()._2 == Seq((1L, 11L)))
  }

  test("a PK predicate over the collapse pushes into every scan below " +
      "the aggregate, and the rows are unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val cat = freshCatalog()
    cat.createTable("pp", StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.upsert("pp", (1L to 20L).map(k => (k, k)).toDF("k", "x"))
    cat.refreshSnapshotCache("pp")
    cat.upsert("pp", (1L to 20L by 2).map(k => (k, -k)).toDF("k", "x"))
    cat.delete("pp", col("k") === 5L)
    val all = rowSet(cat.snapshot("pp"))
    for ((pred, pushed, keep) <- Seq(
        (col("k") === 7L, Seq("EqualTo(k,7)"), (k: Long) => k == 7L),
        (col("k").between(4L, 9L),
          Seq("GreaterThanOrEqual(k,4)", "LessThanOrEqual(k,9)"),
          (k: Long) => k >= 4L && k <= 9L))) {
      val df = cat.snapshot("pp").where(pred)
      val plan = df.queryExecution.sparkPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val below = plan.collectFirst { case a: BaseAggregateExec => a }
        .toSeq.flatMap(_.collect { case s: FileSourceScanExec => s })
      assert(scans.size == 2 && below.size == scans.size,
        s"both scans (cache and tail) under the collapse:\n$plan")
      scans.foreach(s => pushed.foreach(p =>
        assert(s.metadata("PushedFilters").contains(p), s"$p:\n$plan")))
      assert(rowSet(df) == all.filter(r => keep(r.getLong(0))))
    }
  }

  // Spark work of each catalog write, measured on the code before the
  // writes shared one version reservation, one batch append and one
  // replace-by-rename; a change here is a change in write cost.
  test("catalog writes: Spark jobs, stages and tasks of upsert, delete, " +
      "both compactions, vacuumOrphans, snapshot-cache builds and " +
      "truncate") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("wp", StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    def counted(f: => Any) = Measure.once(spark)(f).counts
    def rows() = cat.snapshot("wp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val upsert = counted(
      cat.upsert("wp", (1L to 40L).map(k => (k, k)).toDF("k", "x")))
    cat.upsert("wp", (1L to 40L by 3).map(k => (k, -k)).toDF("k", "x"))
    val delete = counted(cat.delete("wp", col("k") === 2L))
    val expected = rows()
    assert(expected.size == 39)
    val cacheFirst = counted(cat.refreshSnapshotCache("wp"))
    cat.upsert("wp", Seq((2L, 2L), (41L, 41L)).toDF("k", "x"))
    val cacheIncremental = counted(cat.refreshSnapshotCache("wp"))
    val compactFloored =
      counted(cat.compact("wp", cat.currentVersion("wp") - 1L))
    Seq((99L, 999L)).toDF("k", "x")
      .withColumn("_version", lit(cat.currentVersion("wp") + 5L))
      .withColumn("_deleted", lit(false))
      .withColumn("_ts", lit(new java.sql.Timestamp(0L)))
      .write.mode("append").parquet(s"${cat.tablePath("wp")}/data")
    val Measure.Measured(vacuum, _, reclaimed) =
      Measure.once(spark)(cat.vacuumOrphans("wp"))
    assert(reclaimed == 1L)
    val compactFull = counted(cat.compact("wp"))
    assert(rows() == expected + (2L -> 2L) + (41L -> 41L))
    val truncate = counted(cat.truncate("wp"))
    assert(rows().isEmpty)
    val counts = Map("upsert" -> upsert, "delete" -> delete,
      "cacheFirst" -> cacheFirst, "cacheIncremental" -> cacheIncremental,
      "compactFloored" -> compactFloored, "vacuum" -> vacuum,
      "compactFull" -> compactFull, "truncate" -> truncate)
    def jc(j: Int, s: Int, t: Int) = Measure.JobCounts(j, s, t)
    // a local batch commits on the driver with no job, and the
    // vacuum's one read of the log is the driver-path probe
    assert(counts == Map(
      "upsert" -> jc(0, 0, 0), "delete" -> jc(2, 2, 3),
      "cacheFirst" -> jc(2, 2, 4), "cacheIncremental" -> jc(2, 2, 6),
      "compactFloored" -> jc(2, 2, 9), "vacuum" -> jc(2, 2, 3),
      "compactFull" -> jc(2, 2, 2), "truncate" -> jc(0, 0, 0)),
      s"write counts: $counts")
  }

  test("Commit lands catalog rows and MV state identically on the " +
      "driver path (cap rows) and the distributed path (cap + 1 rows)") {
    import scala.jdk.CollectionConverters._
    import graft.operators.{Commit, Materialize, MvMeta}
    val cat = freshCatalog()
    def md(f: MetadataBuilder => MetadataBuilder) =
      f(new MetadataBuilder()).build()
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("s", StringType,
        metadata = md(_.putLong(GraftCatalog.VarcharWidthKey, 12))),
      StructField("c", StringType,
        metadata = md(_.putLong(GraftCatalog.CharWidthKey, 3))),
      StructField("d", DecimalType(12, 2)), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("arr", ArrayType(LongType)),
      StructField("u", LongType,
        metadata = md(_.putBoolean(GraftCatalog.UnsignedKey, true))),
      StructField("rt", TimestampType,
        metadata = md(_.putBoolean(GraftCatalog.RowTimestampKey, true)))))
    val ext = StructField("e", StringType)
    def row(i: Int) = Row(i.toLong, s"s$i", s"c${i % 10}",
      java.math.BigDecimal.valueOf(i * 7L, 2),
      java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i % 400)),
      new java.sql.Timestamp(1600000000000L + i * 1000L),
      if (i % 5 == 0) null else Seq(i.toLong, i + 1L), (i % 100).toLong,
      new java.sql.Timestamp(1500000000000L + i), s"e$i")
    val rowsOf = Map("cd" -> Commit.cap, "cx" -> (Commit.cap + 1))
    val jobs = rowsOf.map { case (t, n) =>
      cat.createTable(t, schema, pk = Seq("k", "rt"))
      cat.extendTable(t, Seq(ext))
      val in = spark.createDataFrame((0 until n).map(row).asJava,
        StructType(schema.fields :+ ext))
      t -> Measure.once(spark)(cat.upsert(t, in)).counts.jobs
    }
    assert(jobs("cd") == 0 && jobs("cx") > 0, s"upsert jobs: $jobs")
    for ((t, n) <- rowsOf)
      assert(cat.snapshotFull(t).collect().toSet ==
        (0 until n).map(row).toSet, s"$t read-back")
    // MV state: the build aggregate takes the distributed write; the
    // compaction's plain state scan lands on the driver at cap groups
    // and takes the distributed write at cap + 1 (it leaves _SUCCESS)
    val groups = Seq("k", "s", "c", "d", "dt", "ts")
    def state(path: String) = Materialize.read(spark, path)
      .select((groups ++ Seq("cnt", "sum_u", "min_u", "max_u")).map(col): _*)
      .collect().toSet
    for (buckets <- Seq(0, 4)) {
      val states = rowsOf.map { case (t, n) =>
        val path = java.nio.file.Files.createTempDirectory("graft_cm").toString
        Materialize.build(cat, ChainSpec(t), groups, Seq("u"), path,
          buckets = buckets)
        val built = state(path)
        Materialize.compactState(spark, path)
        val dir = new java.io.File(path, MvMeta.read(spark, path).stateDir)
        assert(new java.io.File(dir, "_SUCCESS").exists() == (t == "cx"),
          s"$t, $buckets buckets: driver path iff at most cap groups")
        assert(state(path) == built, s"$t, $buckets buckets: compacted")
        assert(built.size == n)
        t -> built
      }
      assert(states("cx").filter(_.getLong(0) < Commit.cap) == states("cd"),
        s"$buckets buckets: both paths hold equal rows")
    }
  }

  test("one writer: only Commit writes catalog or MV files") {
    // the four write idioms Commit replaced must not grow back: a
    // DataFrameWriter (`.write.`, or `.write` ending a line), SaveMode
    // or the old driver writer
    val banned = "SaveMode|\\.write(\\.|\\s*$)|DriverParquet".r
    for (f <- Seq("sources/GraftCatalog", "operators/Materialize",
        "operators/MaterializeJoin", "operators/MvMeta")) {
      val src = new java.io.File(s"src/main/scala/graft/$f.scala")
      assert(src.isFile, s"source not found: $src")
      val in = scala.io.Source.fromFile(src, "UTF-8")
      val hits = try in.getLines().zipWithIndex.collect {
        case (l, i) if banned.findFirstIn(l).nonEmpty => s"$f:${i + 1}: ${l.trim}"
      }.toList finally in.close()
      assert(hits.isEmpty, hits.mkString("write outside Commit:\n", "\n", ""))
    }
  }

  test("one address: outside graft/operators no source reads an MV's " +
      "kind") {
    // callers address an MV by its path; the meta's kind (single-table
    // or join) is read only by the operators that fold it: no naming
    // MvMeta.Single/Join, no `.single` or `.join` field access on a meta
    // (a DataFrame `.join(` call is not one)
    val banned = "MvMeta\\.(Single|Join)\\b|\\.single\\b|\\.join\\b(?!\\s*\\()".r
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"sources not found: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val outside = files(root).filterNot(_.getPath.replace('\\', '/')
      .contains("/graft/operators/"))
    assert(outside.nonEmpty)
    val hits = outside.flatMap { f =>
      val in = scala.io.Source.fromFile(f, "UTF-8")
      try in.getLines().zipWithIndex.collect {
        case (l, i) if banned.findFirstIn(l).nonEmpty =>
          s"${f.getPath}:${i + 1}: ${l.trim}"
      }.toList finally in.close()
    }
    assert(hits.isEmpty, hits.mkString("MV kind read outside operators:\n",
      "\n", ""))
  }

  test("a hidden file or temp dir left by a cut append or replace is " +
      "invisible to snapshot and changeLog") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("hd", StructType(Seq(StructField("k", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("hd", Seq((1L, 10L), (2L, 20L)).toDF("k", "x"))
    cat.upsert("hd", Seq((2L, 25L)).toDF("k", "x"))
    def snap() = cat.snapshot("hd").collect().toSet
    def log() = cat.changeLog("hd").collect().toSeq.map(_.toString).sorted
    val (snap0, log0) = (snap(), log())
    val data = new java.io.File(cat.tablePath("hd"), "data")
    val part = data.listFiles().filter(_.getName.startsWith("part-")).head
    def plant(dir: java.io.File, name: String): Unit = {
      dir.mkdirs()
      java.nio.file.Files.copy(part.toPath, new java.io.File(dir, name).toPath)
    }
    // a cut driver-path append: its hidden file, never renamed in
    plant(data, s"_${part.getName}")
    // a cut distributed append: its hidden temp dir inside data/
    plant(new java.io.File(data, "_tmp_cut"), part.getName)
    // a cut replace: the temp sibling of data/
    plant(new java.io.File(cat.tablePath("hd"), "_tmp_data"), part.getName)
    assert(snap() == snap0 && log() == log0)
    // the next replace writes over the stale temp sibling
    cat.compact("hd")
    assert(snap() == snap0)
    assert(cat.changeLog("hd").count() == snap0.size)
  }

  test("IVM extremum gate: non-extremal retractions fold with ZERO " +
      "base-history access; extremum-losing ones recompute only " +
      "affected-PK history (LeftSemi below the collapse aggregate)") {
    import spark.implicits._
    import graft.operators.Materialize
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val cat = freshCatalog()
    cat.createTable("mg", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("mg", Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
      (4L, "b", 5L), (5L, "b", 50L)).toDF("k", "g", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_gate").toString
    Materialize.build(cat, ChainSpec("mg"), Seq("g"), Seq("x"), path)
    def expected = Materialize
      .aggregate(cat.snapshot("mg"), Seq("g"), Seq("x"))
      .collect().map(_.toSeq).toSet
    def actual = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet

    // non-extremal update: k=2 moves 20 -> 25 inside 'a' extrema (10, 30)
    cat.upsert("mg", Seq((2L, "a", 25L)).toDF("k", "g", "x"))
    val r = Materialize.refresh(cat, path)
    assert(actual == expected, s"non-extremal fold diverged: $actual")
    assert(!r.recomputeRan &&
      r.affectedGroups == 0L,
      "a non-extremal retraction must refresh without any base access")

    // delete of a non-extremal row: still pure algebra
    cat.upsert("mg", Seq((6L, "b", 30L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    cat.delete("mg", $"k" === 6L)
    val r2 = Materialize.refresh(cat, path)
    assert(actual == expected, s"non-extremal delete diverged: $actual")
    assert(!r2.recomputeRan,
      "deleting a non-extremal row must fold algebraically")

    // extremal update: k=3 moves 30 (the max of 'a') down to 22 —
    // exactly the one group recomputes
    cat.upsert("mg", Seq((3L, "a", 22L)).toDF("k", "g", "x"))
    val r3 = Materialize.refresh(cat, path)
    assert(actual == expected, s"extremal refresh diverged: $actual")
    assert(r3.recomputeRan &&
      r3.affectedGroups == 1L,
      "losing a max must recompute exactly the one affected group, got " +
        s"${r3.affectedGroups}")

    // within-delta churn OUTSIDE the state's bounds: k=7 inserted at 1
    // (below 'b' min 5) then updated to 8 in the SAME delta — the
    // transient 1 was added by this refresh's own post fold, so the
    // gate must catch it (rmin 1 <= smin 5) or min_x would leak to 1
    cat.upsert("mg", Seq((7L, "b", 1L)).toDF("k", "g", "x"))
    cat.upsert("mg", Seq((7L, "b", 8L)).toDF("k", "g", "x"))
    val r4 = Materialize.refresh(cat, path)
    assert(actual == expected, s"within-delta churn diverged: $actual")
    assert(r4.recomputeRan,
      "transient below-min churn must trigger the gate")

    // brand-new group with within-delta churn (never in the state):
    // in_state = 0 must force its recompute
    cat.upsert("mg", Seq((8L, "c", 3L), (9L, "c", 4L)).toDF("k", "g", "x"))
    cat.upsert("mg", Seq((8L, "c", 9L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    assert(actual == expected, s"new-group churn diverged: $actual")

    // plan pin for the pruned recompute: the collapse aggregate's input
    // subtree must contain a LeftSemi (candidate-PK prune) — shuffling
    // affected-PK history, not the keyspace
    val affected = Seq("a").toDF("__a_g")
    val rp = Materialize.recomputePlan(cat, "mg", Seq("g"), Seq("x"),
      Seq.empty, affected)
    val collapses = rp.queryExecution.optimizedPlan.collect {
      case a: Aggregate
        if a.aggregateExpressions.exists(_.toString.contains("max_by")) => a
    }
    assert(collapses.nonEmpty, "recompute plan lost the collapse aggregate")
    assert(collapses.forall(_.collect {
        case j: Join if j.joinType == LeftSemi => j
      }.nonEmpty),
      "collapse input must be semi-join-pruned to candidate PKs:\n" +
        rp.queryExecution.optimizedPlan.treeString)
    // and the pruned recompute returns exactly the direct aggregate
    assert(rp.collect().map(_.toSeq).toSet ==
      Materialize.aggregate(cat.snapshot("mg").where($"g" === "a"),
        Seq("g"), Seq("x")).collect().map(_.toSeq).toSet)
  }

  test("IVM sketch measure: insert-only folds algebraically (byte-exact, " +
      "no base access); retractions gate the pruned recompute; exact-" +
      "regime estimates equal COUNT DISTINCT") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("sk", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("u", LongType))), pk = Seq("k"))
    cat.upsert("sk", Seq((1L, "a", 10L), (2L, "a", 11L), (3L, "a", 10L),
      (4L, "b", 7L)).toDF("k", "g", "u"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_sk").toString
    val sk = Seq("u" -> 1024)
    Materialize.build(cat, ChainSpec("sk"), Seq("g"), Seq("u"), path,
      sketches = sk)
    // byte-level compare incl. the serialized sketch: the incremental
    // fold must be IDENTICAL to a from-scratch aggregate, not just
    // estimate-equivalent (union is order-insensitive by construction)
    def canon(r: org.apache.spark.sql.Row) =
      r.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }
    def expected = Materialize
      .aggregate(cat.snapshot("sk"), Seq("g"), Seq("u"), sk)
      .collect().map(canon).toSet
    def actual = Materialize.read(spark, path).collect().map(canon).toSet
    graft.functions.GraftFunctions.registerKernels(spark)
    def est = Materialize.read(spark, path)
      .select($"g", call_function("kmv_estimate", $"kmv_u")
        .cast("long").as("du"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    // insert-only delta: a new value for 'a' and a DUPLICATE value for
    // 'b' (idempotent union — the dup must not change b's sketch)
    cat.upsert("sk", Seq((5L, "a", 12L), (6L, "b", 7L)).toDF("k", "g", "u"))
    val r = Materialize.refresh(cat, path)
    assert(actual == expected, "insert-only sketch fold diverged")
    assert(!r.recomputeRan,
      "an insert-only delta must fold sketches with zero base access")
    assert(est == Map("a" -> 3L, "b" -> 1L), s"exact-regime estimate: $est")

    // updates that retire value 10 from 'a' entirely (k=1 and k=3 both
    // move to 11): distinct drops 3 -> 2 — only a recompute can know
    // that, so the gate must fire and the recomputed sketch must match
    cat.upsert("sk", Seq((1L, "a", 11L), (3L, "a", 11L)).toDF("k", "g", "u"))
    val r2 = Materialize.refresh(cat, path)
    assert(r2.recomputeRan,
      "a sketch-bearing retraction must take the recompute path")
    assert(actual == expected, "retraction recompute diverged")
    assert(est == Map("a" -> 2L, "b" -> 1L), s"post-update estimate: $est")

    // delete the duplicate carrier: distinct unchanged, bytes must
    // still equal the rebuild; delete the last 'b' row: group drops
    cat.delete("sk", $"k" === 6L)
    Materialize.refresh(cat, path)
    assert(actual == expected && est("b") == 1L,
      "dup-carrier delete must keep b's distinct at 1")
    cat.delete("sk", $"k" === 4L)
    Materialize.refresh(cat, path)
    assert(actual == expected, "emptied group must drop from the state")
    assert(!est.contains("b") && est("a") == 2L)
  }

  test("IVM top-terms measure: insert-only folds by sketch merge " +
      "(byte-exact, no base access); retractions gate the recompute; " +
      "no-eviction-regime counts are exact; compaction preserves the " +
      "topk meta") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("tk", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("u", StringType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.upsert("tk", Seq((1L, "a", "x", 5L), (2L, "a", "x", 6L),
      (3L, "a", "y", 7L), (4L, "b", "z", 8L)).toDF("k", "g", "u", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_tk").toString
    val tks = Seq("u" -> 64)
    Materialize.build(cat, ChainSpec("tk"), Seq("g"), Seq("x"), path,
      topks = tks)
    def canon(r: org.apache.spark.sql.Row) =
      r.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }
    def expected = Materialize
      .aggregate(cat.snapshot("tk"), Seq("g"), Seq("x"), topks = tks)
      .collect().map(canon).toSet
    def actual = Materialize.read(spark, path).collect().map(canon).toSet
    graft.functions.GraftFunctions.registerKernels(spark)
    def counts = Materialize.read(spark, path)
      .select($"g", explode(
        call_function("top_terms_entries", $"topk_u")).as("e"))
      .select($"g", $"e.term", $"e.est", $"e.err")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap

    // insert-only: counts ADD through the merge (x again for 'a', a
    // new term for 'b') — byte-identical to the rebuild, zero base
    // access, exact counts below the eviction threshold
    cat.upsert("tk", Seq((5L, "a", "x", 9L), (6L, "b", "w", 2L))
      .toDF("k", "g", "u", "x"))
    val r = Materialize.refresh(cat, path)
    assert(actual == expected, "insert-only top-terms fold diverged")
    assert(!r.recomputeRan,
      "an insert-only delta must fold top-terms with zero base access")
    assert(counts == Map(("a", "x") -> (3L, 0L), ("a", "y") -> (1L, 0L),
      ("b", "z") -> (1L, 0L), ("b", "w") -> (1L, 0L)),
      s"exact-regime counts: $counts")

    // update k=1 to term y: x loses a count — only a recompute can
    // un-count, so the gate must fire and match the rebuild
    cat.upsert("tk", Seq((1L, "a", "y", 5L)).toDF("k", "g", "u", "x"))
    val r2 = Materialize.refresh(cat, path)
    assert(r2.recomputeRan,
      "a top-terms-bearing retraction must take the recompute path")
    assert(actual == expected, "retraction recompute diverged")
    assert(counts(("a", "x")) == (2L, 0L) && counts(("a", "y")) == (2L, 0L))

    // group-emptying delete drops the state row
    cat.delete("tk", $"g" === "b")
    Materialize.refresh(cat, path)
    assert(actual == expected, "emptied group must drop from the state")
    assert(!counts.keySet.exists(_._1 == "b"))

    // compactState must carry topk_cols/topk_caps through its meta
    // rewrite — a dropped field would make the NEXT refresh fold
    // without the sketch column and fail the type-strict union
    Materialize.compactState(spark, path)
    cat.upsert("tk", Seq((9L, "a", "q", 1L)).toDF("k", "g", "u", "x"))
    Materialize.refresh(cat, path)
    assert(actual == expected, "post-compaction top-terms fold diverged")
    assert(counts(("a", "q")) == (1L, 0L))
  }

  test("IVM differential fuzz: random upsert/update/delete batches — " +
      "state == full recompute after every refresh (seeded)") {
    import spark.implicits._
    import graft.operators.Materialize
    val rnd = new scala.util.Random(4211)
    val cat = freshCatalog()
    cat.createTable("mf", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivm_fuzz").toString
    val groups = Seq("a", "b", "c", null)
    def randRows(n: Int) = (1 to n).map(_ =>
      (rnd.nextInt(12).toLong, groups(rnd.nextInt(groups.length)),
        // small value domain → extremum ties are COMMON, both gate
        // branches exercised; occasional NULL measure
        if (rnd.nextInt(8) == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(rnd.nextInt(7).toLong)))
    cat.upsert("mf", randRows(6).toDF("k", "g", "x"))
    Materialize.build(cat, ChainSpec("mf"), Seq("g"), Seq("x"), path)
    for (i <- 1 to 12) {
      rnd.nextInt(3) match {
        case 0 => cat.upsert("mf", randRows(1 + rnd.nextInt(4))
          .toDF("k", "g", "x"))
        case 1 => // two batches before one refresh: within-delta churn
          cat.upsert("mf", randRows(2).toDF("k", "g", "x"))
          cat.upsert("mf", randRows(2).toDF("k", "g", "x"))
        case 2 => cat.delete("mf", col("k") === rnd.nextInt(12).toLong)
      }
      Materialize.refresh(cat, path)
      val got = Materialize.read(spark, path).collect().map(_.toSeq).toSet
      val want = Materialize.aggregate(cat.snapshot("mf"), Seq("g"),
        Seq("x")).collect().map(_.toSeq).toSet
      assert(got == want, s"fuzz step $i diverged:\n got=$got\n want=$want")
    }
  }

  test("GRAIN IVM: a day-grain MV refreshes incrementally (updates " +
      "move rows ACROSS grain groups) and serves coarser queries " +
      "through the rewrite") {
    import spark.implicits._
    import graft.operators.Materialize
    import graft.plans.GraftAggViews
    val cat = freshCatalog()
    cat.createTable("ev", StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("v", LongType))), pk = Seq("id"))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    cat.upsert("ev", Seq(
      (1L, t("2024-03-01 10:00:00"), 5L),
      (2L, t("2024-03-01 15:00:00"), 7L),
      (3L, t("2024-03-02 09:00:00"), 11L),
      (4L, t("2024-04-10 12:00:00"), 13L)).toDF("id", "ts", "v"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_mv_grain").toString
    Materialize.build(cat, ChainSpec("ev"), Seq("day"), Seq("v"), mv,
      grains = Seq("day" -> "date_trunc('DAY', ts)"))
    // delta: an insert, an update that changes v in place, and an
    // update that MOVES the row to a different day (pre-image retracts
    // from 03-01, post lands on 03-05), plus a delete
    cat.upsert("ev", Seq(
      (5L, t("2024-03-02 23:00:00"), 17L),
      (3L, t("2024-03-02 09:00:00"), 12L),
      (2L, t("2024-03-05 08:00:00"), 7L)).toDF("id", "ts", "v"))
    cat.delete("ev", $"id" === 4L)
    Materialize.refresh(cat, mv)
    val got = Materialize.read(spark, mv)
      .select($"day", $"cnt", $"sum_v", $"min_v", $"max_v")
      .collect().map(_.toSeq).toSet
    val expect = Materialize.aggregate(
        cat.snapshot("ev").withColumn("day", date_trunc("DAY", $"ts")),
        Seq("day"), Seq("v"))
      .select($"day", $"cnt", $"sum_v", $"min_v", $"max_v")
      .collect().map(_.toSeq).toSet
    assert(got == expect, s"grain IVM diverged:\n got=$got\n exp=$expect")
    // the moved row's old day must reflect the retraction
    assert(got.exists(r =>
      r.head == t("2024-03-01 00:00:00") && r(1) == 1L && r(2) == 5L),
      s"2024-03-01 must hold only id=1 after the cross-day move: $got")
    // ... and the rewrite serves a MONTH query from the day state kept
    // fresh by the refresh (export snapshot as the fact, register root)
    val facts = java.nio.file.Files
      .createTempDirectory("graft_mv_grain_fact").toString
    cat.snapshot("ev").write.mode("overwrite").parquet(facts)
    GraftAggViews.register(facts,
      GraftAggViews.AggViewDef(mv, Seq("day"), Seq("v"),
        grainExprs = Map("day" -> "date_trunc('DAY', ts)")))
    try {
      val q = spark.read.parquet(facts)
        .groupBy(date_trunc("month", $"ts").as("m"))
        .agg(sum($"v").as("sv"), count(lit(1)).as("n")).orderBy($"m")
      assert(q.queryExecution.executedPlan.toString.contains("state_v"),
        "month query must be served from the refreshed day-grain state:\n"
          + q.queryExecution.executedPlan)
      assert(q.collect().map(r => (r.getTimestamp(0), r.getLong(1),
          r.getLong(2))).toSeq ==
        Seq((t("2024-03-01 00:00:00"), 41L, 4L)), // 5+7+12+17
        "served month rollup must reflect every delta incl. the delete")
    } finally GraftAggViews.drop(facts)
  }

  test("GRAIN IVM: a refresh from a DIFFERENT session timezone " +
      "rebuilds instead of folding deltas into wrong-boundary groups") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("evz", StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("v", LongType))), pk = Seq("id"))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // 02:00 UTC instants: under America/New_York they fall on the
    // PREVIOUS calendar day — the exact divergence the tz guard exists
    // for (date_trunc evaluates under the session tz)
    cat.upsert("evz", Seq(
      (1L, t("2024-03-01 02:00:00"), 5L),
      (2L, t("2024-03-01 15:00:00"), 7L)).toDF("id", "ts", "v"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_mv_grain_tz").toString
    Materialize.build(cat, ChainSpec("evz"), Seq("day"), Seq("v"), mv,
      grains = Seq("day" -> "date_trunc('DAY', ts)"))
    cat.upsert("evz",
      Seq((3L, t("2024-03-02 02:00:00"), 11L)).toDF("id", "ts", "v"))
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      Materialize.refresh(cat, mv)
      val got = Materialize.read(spark, mv)
        .select($"day", $"cnt", $"sum_v")
        .collect().map(_.toSeq).toSet
      // correct answer = the aggregate derived UNDER THE CURRENT tz;
      // a tz-blind incremental fold would have produced phantom
      // NY-boundary groups alongside stale UTC-boundary ones
      val expect = Materialize.aggregate(
          cat.snapshot("evz").withColumn("day", date_trunc("DAY", $"ts")),
          Seq("day"), Seq("v"))
        .select($"day", $"cnt", $"sum_v")
        .collect().map(_.toSeq).toSet
      assert(got == expect,
        s"tz-mismatched refresh must rebuild:\n got=$got\n exp=$expect")
      // the fixture genuinely exercises the divergence: under NY the
      // 02:00-UTC rows shift a day back, giving groups (Feb 29: id1)
      // and (Mar 1: id2+id3) — sums 5 and 18. The UTC grouping would
      // be 12 and 11; a corrupt fold, phantom negatives.
      assert(got.exists(r => r(1) == 1L && r(2) == 5L) &&
        got.exists(r => r(1) == 2L && r(2) == 18L),
        s"NY day boundaries must regroup the rows: $got")
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("streaming ingest keeps the materialized aggregate current " +
      "per micro-batch") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("docs", StructType(Seq(
      StructField("doc_id", LongType), StructField("src", StringType),
      StructField("n_tok", LongType))), pk = Seq("doc_id"))
    cat.upsert("docs", Seq((1L, "web", 100L), (2L, "code", 50L))
      .toDF("doc_id", "src", "n_tok"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_mv_stream").toString
    Materialize.build(cat, ChainSpec("docs"), Seq("src"), Seq("n_tok"), mv)
    val incoming = Seq((3L, "web", 70L), (4L, "books", 90L),
      (2L, "code", 60L)) // doc 2 re-upserted: a retraction for the MV
      .toDF("doc_id", "src", "n_tok")
    val dir = java.nio.file.Files.createTempDirectory("graft_mv_in")
    incoming.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val q = spark.readStream.schema(incoming.schema).parquet(dir.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        cat.upsert("docs", b)
        Materialize.refresh(cat, mv)
        ()
      }
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = Materialize.read(spark, mv)
      .collect().map(_.toSeq).toSet
    val expect = Materialize
      .aggregate(cat.snapshot("docs"), Seq("src"), Seq("n_tok"))
      .collect().map(_.toSeq).toSet
    assert(got == expect, s"MV diverged after streaming ingest: $got")
    // state layout: (src, cnt, cnt_n_tok, sum_n_tok, min, max) — the
    // sum is exact LongType now, not DOUBLE
    assert(got.exists(r => r.head == "code" && r(3) == 60L),
      "the re-upserted doc's old value must be retracted")
  }

  test("TTL: rows expire from every read path, compaction purges them") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("ev", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      pk = Seq("k"), props = Map("TTL" -> "60"))
    // back-date the first write 2 minutes via the injectable clock —
    // expiry without real sleeps (harness job latency made sleep-based
    // TTL tests flaky)
    cat.clock = () => System.currentTimeMillis() - 120000L
    cat.upsert("ev", Seq((1L, "x")).toDF("k", "v"))
    cat.clock = () => System.currentTimeMillis()
    cat.upsert("ev", Seq((2L, "y")).toDF("k", "v"))
    // k=1 aged past TTL; k=2 is fresh
    assert(cat.snapshot("ev").collect().map(_.getLong(0)).toSeq ==
      Seq(2L), "expired row must vanish from the snapshot")
    assert(cat.changeLog("ev").count() == 1,
      "expired rows are invisible to the change log too (HBase scan " +
        "semantics)")
    cat.compact("ev")
    // physical purge: even a TTL-free rewrite of the files would not
    // resurrect k=1
    assert(cat.snapshot("ev").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // FOREVER/NONE and invalid values
    cat.createTable("keep", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      pk = Seq("k"), props = Map("TTL" -> "FOREVER"))
    cat.upsert("keep", Seq((1L, "x")).toDF("k", "v"))
    assert(cat.snapshot("keep").count() == 1)
    val bad = intercept[IllegalArgumentException] {
      cat.createTable("bad", StructType(Seq(
        StructField("k", LongType))), pk = Seq("k"),
        props = Map("TTL" -> "-5"))
    }
    assert(bad.getMessage.contains("invalid TTL"))
  }

  test("TTL-aware incremental refresh: newly-expired rows retract " +
      "without scanning the full base") {
    import spark.implicits._
    import graft.operators.Materialize
    val wh = java.nio.file.Files.createTempDirectory("graft_ttlmv").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("e", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"),
      props = Map("TTL" -> "60"))
    val t0 = System.currentTimeMillis()
    def at(ms: Long): Unit = cat.clock = () => ms
    def dataFiles(): Set[java.io.File] =
      Option(new java.io.File(s"$wh/e/data").listFiles())
        .map(_.toSet).getOrElse(Set.empty)
    // gExp: alive at build (50s old < TTL 60s), will expire by refresh
    at(t0 - 50000L)
    cat.upsert("e", Seq((3L, "exp", 7L)).toDF("k", "g", "x"))
    // g0: young, untouched by any later delta — its carry-through from
    // the prior state is the no-full-rebuild witness
    val before = dataFiles()
    at(t0 - 5000L)
    cat.upsert("e", Seq((1L, "g0", 100L), (2L, "g0", 50L))
      .toDF("k", "g", "x"))
    val g0Files = dataFiles() -- before
    val mv = s"$wh/mv"
    at(t0)
    Materialize.build(cat, ChainSpec("e"), Seq("g"), Seq("x"), mv)
    def stateMap() = Materialize.read(spark, mv).collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("sum_x"))).toMap
    assert(stateMap() == Map("exp" -> 7L, "g0" -> 150L))
    // delete g0's batch files: an incremental refresh never needs them
    // (version ≤ lastV, _ts outside the expiry window, group untouched)
    // — a full rebuild would silently lose the group
    assert(g0Files.nonEmpty)
    g0Files.foreach(f => assert(f.delete(), s"cannot delete $f"))
    // 30s later: gExp's stamp (t0-50s) crosses the TTL-60s cutoff
    // (t0+30s-60s = t0-30s) — newly expired; plus a fresh delta insert
    at(t0 + 30000L)
    cat.upsert("e", Seq((5L, "new", 3L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, mv)
    assert(stateMap() == Map("g0" -> 150L, "new" -> 3L),
      "expired group must retract, delta must fold, untouched group " +
        "must carry through WITHOUT a base rescan")
    // equality-with-rebuild on an untampered catalog: same flow, files
    // intact — the incremental result must equal the snapshot aggregate
    val wh2 = java.nio.file.Files.createTempDirectory("graft_ttlmv2").toString
    val cat2 = new GraftCatalog(spark, wh2)
    cat2.createTable("e", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"),
      props = Map("TTL" -> "60"))
    cat2.clock = () => t0 - 50000L
    cat2.upsert("e", Seq((3L, "exp", 7L), (1L, "g0", 100L))
      .toDF("k", "g", "x"))
    cat2.clock = () => t0
    val mv2 = s"$wh2/mv"
    Materialize.build(cat2, ChainSpec("e"), Seq("g"), Seq("x"), mv2)
    cat2.clock = () => t0 + 30000L
    cat2.upsert("e", Seq((5L, "new", 3L)).toDF("k", "g", "x"))
    Materialize.refresh(cat2, mv2)
    val got2 = Materialize.read(spark, mv2).collect().map(_.toSeq).toSet
    val want2 = Materialize
      .aggregate(cat2.snapshot("e"), Seq("g"), Seq("x"))
      .collect().map(_.toSeq).toSet
    assert(got2 == want2,
      s"TTL incremental refresh diverged from rebuild: $got2 vs $want2")
    assert(!got2.exists(_.head == "exp") && !got2.exists(_.head == "g0"),
      "both 50s-old rows are past the cutoff at t0+30s")
    // expiry-ONLY interval: no writes bump the high-water mark, yet at
    // t0+95s the t0+30s insert crosses the cutoff (t0+35s) — refresh
    // must still rotate the state, not early-return and serve it forever
    cat2.clock = () => t0 + 95000L
    val vSame = Materialize.refresh(cat2, mv2).marks
    assert(Materialize.read(spark, mv2).isEmpty,
      "expiry-only refresh must retract rows with no new versions")
    // and with nothing further to expire, refresh is a cheap no-op
    assert(Materialize.refresh(cat2, mv2).marks == vSame)
  }

  test("ALTER SET TTL between refreshes forces an MV rebuild (the " +
      "expiry-window algebra is void under a changed TTL)") {
    import spark.implicits._
    import graft.operators.Materialize
    val wh = java.nio.file.Files.createTempDirectory("graft_ttlalt").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("e", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"),
      props = Map("TTL" -> "3600"))
    val t0 = System.currentTimeMillis()
    // row written 10 min ago: alive under TTL=3600, expired under 60
    cat.clock = () => t0 - 600000L
    cat.upsert("e", Seq((1L, "old", 5L)).toDF("k", "g", "x"))
    cat.clock = () => t0
    val mv = s"$wh/mv"
    Materialize.build(cat, ChainSpec("e"), Seq("g"), Seq("x"), mv)
    assert(Materialize.read(spark, mv).count() == 1)
    // shorten the TTL: the old row's _ts is BELOW the incremental
    // expiry window start (lastRefresh-60), so the window probe alone
    // would never retract it — the TTL change must force a rebuild
    cat.alterSetProps("e", Map("TTL" -> "60"))
    cat.upsert("e", Seq((2L, "new", 3L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, mv)
    val got = Materialize.read(spark, mv).collect().map(_.getString(0)).toSet
    assert(got == Set("new"),
      s"shortened TTL must retract the out-of-window row: $got")
    // and equality with the snapshot aggregate holds
    val want = Materialize.aggregate(cat.snapshot("e"), Seq("g"), Seq("x"))
      .collect().map(_.toSeq).toSet
    assert(Materialize.read(spark, mv).collect().map(_.toSeq).toSet == want)
  }

  test("a TTL-change rebuild flips the meta pointer to a FRESH state " +
      "dir — never Overwrite of the directory being served") {
    import spark.implicits._
    import graft.operators.Materialize
    val wh = java.nio.file.Files.createTempDirectory("graft_ttlrb").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("e", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("e", Seq((1L, "a", 5L)).toDF("k", "g", "x"))
    val mv = s"$wh/mv"
    Materialize.build(cat, ChainSpec("e"), Seq("g"), Seq("x"), mv)
    def liveDir(p: String = mv): String = graft.operators.MvMeta.decode(
      spark.read.parquet(s"$p/meta").head()).stateDir
    val before = liveDir()
    // ALTER SET TTL with NO new writes: the high-water mark is
    // unchanged, so a rebuild to the default dir name would
    // delete-then-rewrite the exact directory meta points to (a crash
    // mid-write strands the pointer; 'past states remain queryable'
    // breaks even without one)
    cat.alterSetProps("e", Map("TTL" -> "3600"))
    Materialize.refresh(cat, mv)
    val after = liveDir()
    assert(after != before,
      s"rebuild must write a fresh dir, not overwrite $before")
    assert(new java.io.File(s"$mv/$before").exists(),
      "the previous state must still exist on disk")
    assert(Materialize.read(spark, mv).collect().map(_.toSeq).toSet ==
      Materialize.aggregate(cat.snapshot("e"), Seq("g"), Seq("x"))
        .collect().map(_.toSeq).toSet)
    // a join MV takes the same rule: building it again with no write
    // in between keeps every mark, and must not replace the served dir
    cat.createTable("jf", StructType(Seq(StructField("k", LongType),
      StructField("ck", LongType), StructField("x", LongType))),
      pk = Seq("k"))
    cat.createTable("jd", StructType(Seq(StructField("ck", LongType),
      StructField("seg", StringType))), pk = Seq("ck"))
    cat.upsert("jf", Seq((1L, 10L, 5L)).toDF("k", "ck", "x"))
    cat.upsert("jd", Seq((10L, "a")).toDF("ck", "seg"))
    val jmv = s"$wh/jmv"
    val chain = ChainSpec("jf", Seq(SideSpec("jd", Seq("ck"))))
    Materialize.build(cat, chain, Seq("seg"), Seq("x"), jmv)
    val jBefore = liveDir(jmv)
    Materialize.build(cat, chain, Seq("seg"), Seq("x"), jmv)
    val jAfter = liveDir(jmv)
    assert(jAfter != jBefore,
      s"a join rebuild must write a fresh dir, not overwrite $jBefore")
    assert(new java.io.File(s"$jmv/$jBefore").exists(),
      "the previous join state must still exist on disk")
    assert(Materialize.read(spark, jmv).select("seg", "cnt", "sum_x")
      .collect().map(_.toSeq).toSeq == Seq(Seq("a", 1L, 5L)))
  }

  test("cdcStream applies the TTL filter like every batch read path: " +
      "a bootstrapping stream must not emit expired changes") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("ev", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      pk = Seq("k"), props = Map("TTL" -> "60"))
    val t0 = System.currentTimeMillis()
    cat.clock = () => t0 - 120000L // 2 min ago: expired under TTL=60
    cat.upsert("ev", Seq((1L, "old")).toDF("k", "v"))
    cat.clock = () => t0
    cat.upsert("ev", Seq((2L, "new")).toDF("k", "v"))
    // batch CDC omits the expired change (changeLog is the choke point)
    assert(cat.cdc("ev").collect().map(_.getLong(1)).toSet == Set(2L))
    // the stream must agree — it used to read the raw parquet dir and
    // emit rows every batch read path says no longer exist
    val seen = scala.collection.mutable.Set[Long]()
    val q = cat.cdcStream("ev").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => seen += r.getLong(1))
        ()
      }
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.toSet == Set(2L),
      s"stream bootstrap must TTL-filter like batch CDC: $seen")
  }

  test("ALTER TABLE SET TTL is case-insensitive to the CREATE-time " +
      "property key spelling") {
    import spark.implicits._
    val cat = freshCatalog()
    // lowercase 'ttl' at CREATE; ALTER with canonical 'TTL' must WIN,
    // not coexist with the stale entry
    cat.createTable("ev", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      pk = Seq("k"), props = Map("ttl" -> "60"))
    cat.clock = () => System.currentTimeMillis() - 120000L
    cat.upsert("ev", Seq((1L, "x")).toDF("k", "v"))
    cat.clock = () => System.currentTimeMillis()
    assert(cat.snapshot("ev").isEmpty, "lowercase ttl=60 must expire")
    cat.alterSetProps("ev", Map("TTL" -> "NONE"))
    assert(cat.snapshot("ev").count() == 1,
      "ALTER SET TTL=NONE must override the CREATE-time 'ttl'=60")
    cat.alterSetProps("ev", Map("ttl" -> "60"))
    assert(cat.snapshot("ev").isEmpty,
      "ALTER back to a finite ttl must override TTL=NONE")
  }

  test("snapshotAsOf: point-in-time reads un-happen later writes " +
      "and deletes (CurrentSCN analog)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      pk = Seq("k"))
    val v1 = cat.upsert("t", Seq((1L, "a1"), (2L, "b1")).toDF("k", "v"))
    val v2 = cat.upsert("t", Seq((1L, "a2"), (3L, "c2")).toDF("k", "v"))
    val v3 = cat.delete("t", col("k") === 2L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // current: k=1 overwritten, k=2 deleted, k=3 present
    assert(rows(cat.snapshot("t")) == Map(1L -> "a2", 3L -> "c2"))
    // as of v2: the delete un-happens
    assert(rows(cat.snapshotAsOf("t", v2)) ==
      Map(1L -> "a2", 2L -> "b1", 3L -> "c2"))
    // as of v1: the overwrite and the new row vanish too
    assert(rows(cat.snapshotAsOf("t", v1)) ==
      Map(1L -> "a1", 2L -> "b1"))
    // before any write: empty table, schema intact
    val empty = cat.snapshotAsOf("t", v1 - 1)
    assert(empty.isEmpty && empty.columns.toSeq == Seq("k", "v"))
    // timestamp spelling: the upper bound is EXCLUSIVE (Phoenix's
    // CurrentSCN reads cells strictly before the SCN) — at exactly the
    // delete batch's stamp the tombstone hasn't happened yet; one
    // instant past it, the current state shows
    val stamps = cat.changeLog("t").select(col("_ts")).distinct()
      .collect().map(_.getTimestamp(0)).sorted
    val afterDelete = new java.sql.Timestamp(stamps.last.getTime + 1)
    assert(rows(cat.snapshotAsOfTime("t", afterDelete)) ==
      rows(cat.snapshot("t")))
    assert(rows(cat.snapshotAsOfTime("t", stamps.last)) ==
      Map(1L -> "a2", 2L -> "b1", 3L -> "c2"))
    assert(v1 < v2 && v2 < v3)
  }

  test("end-to-end streaming ingest: boilerplate filter -> dedup gate " +
      "-> catalog upsert") {
    import spark.implicits._
    import graft.operators.Dedup
    val cat = freshCatalog()
    cat.createTable("corpus", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))),
      pk = Seq("doc_id"))
    // seed corpus: both docs share "shared footer" -> boilerplate at
    // minDocFreq=2
    val seed = Seq(
      (1L, "shared footer\ncorpus text one"),
      (2L, "shared footer\ncorpus text two")
    ).toDF("doc_id", "text")
    cat.upsert("corpus", seed)
    val corpusSnap = cat.snapshot("corpus")
    val boiler = Dedup.lineFreqTable(corpusSnap, "text", "doc_id")
      .where(col("df") >= 2)
    // the gate must fingerprint what the corpus would look like AFTER
    // the same cleaning the stream gets — raw-corpus fingerprints would
    // never match a boilerplate-stripped arrival
    val corpusFps = Dedup.lineDedup(corpusSnap, "text", "doc_id",
        minDocFreq = 2)
      .select(Dedup.fingerprint(col("text_clean")).as("fp"))
    // incoming docs: d10 cleans + ingests; d11 is (after cleaning) an
    // exact dup of corpus doc 1 -> dedup gate drops it; d12/d13 are
    // in-stream dups of each other -> exactly one survives
    def ts(m: Int) = java.sql.Timestamp.valueOf(s"2024-05-01 10:0$m:00")
    val incoming = Seq(
      (10L, "shared footer\nfresh content one", ts(1)),
      (11L, "corpus text one", ts(2)),
      (12L, "brand new essay", ts(3)),
      (13L, "brand new essay", ts(4))
    ).toDF("doc_id", "text", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_e2e")
    incoming.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(incoming.schema)
      .parquet(dir.toString)
    val admitted = EventStreams.dedupIngestStream(
      EventStreams.lineFilterStream(stream, boiler, "text"),
      "text_clean", "ts", corpusFps)
    val q = admitted.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        cat.upsert("corpus",
          b.select(col("doc_id"), col("text_clean").as("text")))
        ()
      }
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = cat.snapshot("corpus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet.intersect(Set(10L, 11L)) == Set(10L),
      s"d10 must ingest, d11 is a corpus dup: ${out.keySet}")
    assert(out(10L) == "fresh content one",
      "corpus boilerplate must be stripped before landing")
    assert(out.keySet.intersect(Set(12L, 13L)).size == 1,
      s"exactly one of the in-stream dups may land: ${out.keySet}")
    assert(out.size == 4, s"2 seed + d10 + one dup survivor: $out")
  }

  test("observed gate surfaces per-batch metrics in streaming progress") {
    import spark.implicits._
    val incoming = Seq((1L, true, 100L), (2L, false, 30L), (3L, true, 70L))
      .toDF("id", "keep", "toks")
    val dir = java.nio.file.Files.createTempDirectory("graft_obs_stream")
    incoming.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(incoming.schema)
      .parquet(dir.toString)
    // same CollectMetrics node as batch — in streaming it reports per
    // micro-batch through QueryProgress.observedMetrics
    val (kept, _) = graft.operators.Curation
      .observedGate(stream, "keep", "toks")
    val q = kept.writeStream.format("memory").queryName("obs_gate_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM obs_gate_out").count() == 2)
      val m = q.recentProgress.flatMap(p =>
          Option(p.observedMetrics.get("curation_gate")))
        .lastOption.getOrElse(fail("no observed metrics in progress"))
      assert(m.getAs[Long]("rows_in") == 3L)
      assert(m.getAs[Long]("rows_kept") == 2L)
      assert(m.getAs[Long]("tokens_in") == 200L)
      assert(m.getAs[Long]("tokens_kept") == 170L)
    } finally q.stop()
  }

  test("streaming curation pass is bit-identical to the batch form") {
    val docDir = java.nio.file.Files.createTempDirectory("graft_docs_cur")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      docDir.resolve("documents.parquet"))
    val batchDocs = spark.read.parquet(docDir.toString)
      // derived mess exercises normalize (NBSP/ZWSP/edge runs) and the
      // c4 line rules (sentence lines + a short junk line)
      .withColumn("text", concat(lit("  \u00A0"),
        regexp_replace(col("text"), "((\\w+ ){4}\\w+) ", "$1.\n"),
        lit(".\nok.\u200B  ")))
    // 'customer batch' hits ~5% of the fixture; sf0.001 docs have at
    // most two sentences, so the gate runs at minSentences = 1
    val phrases = Seq("customer batch")
    def curate(df: org.apache.spark.sql.DataFrame) =
      EventStreams.curateStream(df, "text", "doc_id", phrases,
        minSentences = 1)
    val stream = spark.readStream
      .schema(spark.read.parquet(docDir.toString).schema)
      .parquet(docDir.toString)
      .withColumn("text", concat(lit("  \u00A0"),
        regexp_replace(col("text"), "((\\w+ ){4}\\w+) ", "$1.\n"),
        lit(".\nok.\u200B  ")))
    val q = curate(stream)
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // by NAME, not position: curateStream now passes input columns
      // through, so ordinals shift with the input schema
      def row(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("id"), r.getAs[String]("clean_text"),
          r.getAs[Int]("n_sentences"), r.getAs[String]("lang"),
          r.getAs[Boolean]("keep"))
      val got = spark.sql("SELECT * FROM curate_out")
        .collect().map(row).sortBy(_._1)
      val exact = curate(batchDocs)
        .collect().map(row).sortBy(_._1)
      assert(got.length == exact.length && got.sameElements(exact),
        "stream and batch curation must agree row-for-row")
      // the gate must actually split the fixture
      assert(got.exists(_._5) && got.exists(!_._5),
        "fixture must exercise both kept and dropped docs")
    } finally q.stop()
  }

  test("streaming blocklist filter matches the batch anti join") {
    val evDir = java.nio.file.Files.createTempDirectory("graft_events_bl")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      evDir.resolve("events.parquet"))
    val batchEvents = Tables.t(spark, "/root/testdata/sf0.001", "events")
    val blocked = batchEvents.where(col("user_id") % 4 === 0)
      .select(col("user_id")).distinct()
    val ev = eventStream(evDir.toString)
    val q = EventStreams.blocklistFilterStream(ev, blocked, "user_id")
      .writeStream.format("memory").queryName("blocklist_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT user_id) AS u" +
          " FROM blocklist_out").collect()(0)
      val exact = batchEvents.join(blocked, Seq("user_id"), "left_anti")
      assert(got.getLong(0) == exact.count(),
        "stream must drop exactly the blocked users' events")
      assert(got.getLong(1) ==
        exact.select("user_id").distinct().count())
      assert(got.getLong(0) > 0 && got.getLong(0) < batchEvents.count(),
        "fixture must exercise both kept and dropped rows")
    } finally q.stop()
  }

  test("streaming heavy-hitters sketch matches batch in the exact regime") {
    // the SpaceSaving aggregate's associative merge makes it legal in a
    // streaming aggregation (state = one sketch); with capacity above
    // the distinct-term count it is exact, so stream output must EQUAL
    // the batch top terms, not just approximate them
    val docDir = java.nio.file.Files.createTempDirectory("graft_docs_hh")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      docDir.resolve("documents.parquet"))
    graft.functions.GraftFunctions.register(spark)
    val docSchema = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .schema
    def terms(df: org.apache.spark.sql.DataFrame) = df.select(
      explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val streamed = spark.readStream.schema(docSchema)
      .parquet(docDir.toString)
    val q = terms(streamed)
      .groupBy()
      .agg(call_function("approx_top_terms", col("term"), lit(4096))
        .as("top"))
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT slice(top, 1, 20) FROM hh_out").collect()(0).get(0)
      val batch = terms(
          Tables.t(spark, "/root/testdata/sf0.001", "documents"))
        .agg(call_function("approx_top_terms", col("term"), lit(4096))
          .as("top"))
        .select(slice(col("top"), 1, 20)).collect()(0).get(0)
      assert(got === batch,
        "streamed sketch must equal batch in the exact regime")
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window only") {
    import spark.implicits._
    val evDir = java.nio.file.Files.createTempDirectory("graft_ssj")
    def hours(h: Double) = new java.sql.Timestamp((h * 3600000L).toLong)
    def write(sub: String, rows: Seq[(Long, java.sql.Timestamp, Double)]) =
      rows.toDF("user_id", "ts", "value").repartition(1)
        .write.parquet(s"$evDir/$sub")
    write("l/b1", Seq((1L, hours(10.0), 1.0), (2L, hours(10.0), 2.0)))
    write("r/b1", Seq(
      (1L, hours(10.5), 7.0),  // within 1h of user 1's left event
      (1L, hours(12.0), 8.0),  // beyond the window — no match
      (2L, hours(10.1), 9.0))) // within 1h of user 2's
    def src(sub: String) = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .parquet(s"$evDir/$sub/*")
    val q = EventStreams.intervalJoin(src("l"), src("r"))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, r_value FROM ssj_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((1L, 7.0), (2L, 9.0)))
    } finally q.stop()
  }

  test("sessionize tolerates NULL event fields; curateStream passes " +
      "input columns through (round-9 fourth review pins)") {
    import spark.implicits._
    // a NULL value/ts/user row must be dropped, not kill the query with
    // a non-nullable tuple decode NPE
    val evDir = java.nio.file.Files.createTempDirectory("graft_sessnull")
    Seq((1L, new java.sql.Timestamp(36000000L), Some(1.0)),
      (1L, new java.sql.Timestamp(36600000L), None))
      .toDF("user_id", "ts", "value").repartition(1)
      .write.parquet(s"$evDir/b1")
    val src = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .parquet(s"$evDir/*")
    val q = EventStreams.sessionize(src, gapMinutes = 30,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_null_out").start()
    try q.processAllAvailable() finally q.stop()
    assert(q.exception.isEmpty,
      s"NULL event fields must not kill the stream: ${q.exception}")
    // curateStream output keeps non-text input columns (the event-time
    // column in particular — the dedup gate's watermark needs it)
    val docs = Seq((1L, new java.sql.Timestamp(0L), "Doc text here."))
      .toDF("doc_id", "ts", "text")
    val out = EventStreams.curateStream(docs, "text", "doc_id",
      phrases = Seq("badword"))
    assert(out.columns.contains("ts"),
      s"event-time column must pass through: ${out.columns.mkString(",")}")
    // a passthrough column colliding with a gate OUTPUT name (lang,
    // clean_text, ...) is dropped (with a warning) — duplicate columns
    // would make every downstream reference ambiguous
    val colliding = Seq((1L, "xx", "One. Two. Three. Doc text here."))
      .toDF("doc_id", "lang", "text")
    val gated = EventStreams.curateStream(colliding, "text", "doc_id",
      phrases = Seq("badword"))
    assert(gated.columns.count(_ == "lang") == 1,
      s"duplicate lang column: ${gated.columns.mkString(",")}")
    assert(gated.collect().head.getAs[String]("lang") != "xx",
      "the gate's computed lang must supersede the input's")
    // the guard matches Spark's CASE-INSENSITIVE resolver: an input
    // `CLEAN_TEXT` is just as ambiguous against the gate's clean_text
    // as an exact-case clash (it used to slip past a case-sensitive
    // check and crash the very next withColumn with AMBIGUOUS_REFERENCE)
    val caseVariant = Seq((1L, "raw", "One. Two. Three. Doc text here."))
      .toDF("doc_id", "CLEAN_TEXT", "text")
    val gated2 = EventStreams.curateStream(caseVariant, "text", "doc_id",
      phrases = Seq("badword"))
    assert(gated2.columns
        .count(_.equalsIgnoreCase("clean_text")) == 1,
      s"case-variant duplicate: ${gated2.columns.mkString(",")}")
    assert(gated2.collect().nonEmpty)
    // lineFilterStream has the same guard for ITS owned outputs — an
    // input n_kept would otherwise be silently clobbered by withColumn
    val lfIn = Seq((1L, 99L, "keep me\nkeep me too"))
      .toDF("doc_id", "n_kept", "text")
    val lf = EventStreams.lineFilterStream(lfIn,
      Seq(12345L).toDF("lk"), "text")
    assert(lf.columns.count(_.equalsIgnoreCase("n_kept")) == 1)
    assert(lf.collect().head.getAs[Long]("n_kept") == 2L,
      "the filter's computed n_kept must supersede the input's")
  }

  test("stateful sessionization: watermark-gated close, bridging, timeout") {
    import spark.implicits._
    val evDir = java.nio.file.Files.createTempDirectory("graft_sessions")
    def hours(h: Double) = new java.sql.Timestamp((h * 3600000L).toLong)
    def write(name: String, rows: Seq[(Long, java.sql.Timestamp, Double)]) =
      rows.toDF("user_id", "ts", "value").repartition(1)
        .write.parquet(s"$evDir/$name")
    // user 1: two sessions (10:00–10:10, then 11:30); user 2: one event;
    // user 3: two provisional sessions (12:00, 13:00) a later on-time
    // out-of-order event will bridge
    write("b1", Seq(
      (1L, hours(10.0), 1.0), (1L, hours(10.167), 2.0),
      (1L, hours(11.5), 4.0), (2L, hours(10.0), 8.0),
      (3L, hours(12.0), 1.0), (3L, hours(13.0), 2.0)))
    val src = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$evDir/*")
    val q = EventStreams.sessionize(src, gapMinutes = 30, watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // emission is watermark-gated: batch 1's own watermark (13:00 − 1h
      // = 12:00) seals user 1's first session and user 2's, but NOT the
      // 11:30 / 12:00 / 13:00 sessions an on-time out-of-order event
      // could still extend (their end + gap is >= the watermark)
      val early = spark.sql("SELECT * FROM sess_out").as[EventStreams.ClosedSession]
        .collect()
      assert(early.map(s => (s.user_id, s.n_events, s.sum_value)).toSet ==
        Set((1L, 2L, 3.0), (2L, 1L, 8.0)))
      // batch 2: user 3's 12:30 event is on-time (watermark is 10:30) and
      // BRIDGES the 12:00 and 13:00 sessions; 20:00 then pushes the
      // watermark to 19:00, sealing every earlier session via timeout
      write("b2", Seq((3L, hours(12.5), 4.0), (99L, hours(20.0), 0.0)))
      q.processAllAvailable()
      val all = spark.sql("SELECT * FROM sess_out").as[EventStreams.ClosedSession]
        .collect()
      assert(all.map(s => (s.user_id, s.n_events, s.sum_value)).toSet ==
        Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0), (3L, 3L, 7.0)))
      val bridged = all.find(s => s.user_id == 3L).get
      assert(bridged.session_start == hours(12.0) &&
        bridged.session_end == hours(13.0))
    } finally q.stop()
  }

  test("streaming ANN top-k: watermark-gated per-query heap emits " +
      "exactly the batch two-cell-probe top-k, once, after sealing") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val (cents, assigned) =
      Similarity.ivfIndex(emb, "embedding", "vec_id", nlist = 8)
    val cells = assigned.localCheckpoint()
    def hours(h: Double) = new java.sql.Timestamp((h * 3600000L).toLong)
    val qDir = java.nio.file.Files.createTempDirectory("graft_ann_topk")
    def qrows(ids: Seq[Long], ts: java.sql.Timestamp) =
      emb.where(col("vec_id").isInCollection(ids))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(ts).as("ts"))
    qrows(Seq(3L, 7L), hours(10.0)).repartition(1)
      .write.parquet(s"$qDir/b1")
    // batch 2 carries one more query and the flush row whose late ts
    // pushes the watermark past every real query's seal point
    qrows(Seq(11L), hours(10.5))
      .unionByName(emb.where(col("vec_id") === 0L)
        .select(lit(999L).as("qid"), col("embedding").as("qv"),
          lit(hours(20.0)).as("ts")))
      .repartition(1).write.parquet(s"$qDir/b2")
    val schema = qrows(Seq(3L), hours(10.0)).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$qDir/*")
    val q = EventStreams.annTopKStream(src, cents, cells, k = 5,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("ann_topk_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM ann_topk_out")
        .as[EventStreams.AnnMatch].collect()
        .groupBy(_.qid).map { case (qid, ms) =>
          qid -> ms.sortBy(m => (-m.sim, m.id)).map(_.id).toSeq }
      // the flush query (999) is unsealed — pending state, no emission
      assert(got.keySet == Set(3L, 7L, 11L), s"sealed set: ${got.keySet}")
      // batch comparator: the SAME two-cell probe (annCandidatesStream
      // is plain DataFrame ops), ranked per query
      val batch = EventStreams.annCandidatesStream(
          qrows(Seq(3L, 7L, 11L), hours(10.0))
            .select(col("qid"), col("qv")), cents, cells)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (qid, cs) =>
          qid -> cs.sortBy(c => (-c._3, c._2)).take(5).map(_._2).toSeq }
      assert(got == batch, s"stream $got vs batch $batch")
      // exactly-once: a further empty pass adds nothing
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM ann_topk_out").count() ==
        got.values.map(_.size).sum)
    } finally q.stop()
  }

  test("CSV bulk load lands in the catalog with PK snapshot semantics") {
    // the reference's psql.py/CsvBulkLoadTool path: CSV → typed rows →
    // UPSERT batch; here spark.read.csv with the declared schema feeds
    // catalog.upsert, and the snapshot applies the same latest-wins PK
    // collapse as any other write
    val cat = freshCatalog()
    val csv = java.nio.file.Files.createTempDirectory("graft_csv")
    java.nio.file.Files.writeString(csv.resolve("batch1.csv"),
      "host,domain,feature,date,core,db\n" +
        "NA,apache.org,Login,2013-01-01,35,42\n" +
        "EU,salesforce.com,Search,2013-01-01,7,1\n")
    java.nio.file.Files.writeString(csv.resolve("batch2.csv"),
      "host,domain,feature,date,core,db\n" +
        "NA,apache.org,Login,2013-01-01,100,50\n") // PK overwrite
    cat.createTable("web_stat", webStatSchema,
      pk = Seq("host", "domain", "feature", "date"))
    val schema = webStatSchema
    cat.upsert("web_stat", spark.read.schema(schema).option("header", "true")
      .csv(csv.resolve("batch1.csv").toString))
    cat.upsert("web_stat", spark.read.schema(schema).option("header", "true")
      .csv(csv.resolve("batch2.csv").toString))
    val snap = cat.snapshot("web_stat").collect()
    assert(snap.length == 2)
    val na = snap.find(_.getAs[String]("host") == "NA").get
    assert(na.getAs[Long]("core") == 100L, "second CSV batch wins the PK")
  }

  test("floored compaction: superseded history below the fold mark is " +
      "physically discarded while MV refresh stays incremental — no " +
      "rebuild, no lost reads; a floor past the mark still rebuilds") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("fc", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    // heavy superseded churn — the bulk a routine compaction reclaims
    cat.upsert("fc", Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "b", 3L))
      .toDF("k", "g", "x"))
    (1 to 5).foreach(i => cat.upsert("fc",
      Seq((1L, "a", 10L + i), (2L, "b", 20L + i)).toDF("k", "g", "x")))
    cat.delete("fc", col("k") === 3L) // tombstone winner must SURVIVE
    val path = java.nio.file.Files
      .createTempDirectory("graft_fc").toString
    Materialize.build(cat, ChainSpec("fc"), Seq("g"), Seq("x"), path)
    cat.upsert("fc", Seq((4L, "a", 7L)).toDF("k", "g", "x"))
    val mark = Materialize.refresh(cat, path).marks.head
    def expected = Materialize
      .aggregate(cat.snapshot("fc"), Seq("g"), Seq("x"))
      .collect().map(_.toSeq).toSet
    def actual = Materialize.read(spark, path)
      .collect().map(_.toSeq).toSet
    // churn ABOVE the mark too — the raw tail the rewrite must keep
    cat.upsert("fc", Seq((1L, "a", 100L)).toDF("k", "g", "x"))
    val snapAtMark = cat.snapshotAsOf("fc", mark)
      .collect().map(_.toSeq).toSet
    val rawBefore = cat.changeLogRaw("fc").count()
    cat.compact("fc", keepAfter = mark)
    val rawAfter = cat.changeLogRaw("fc").count()
    assert(rawAfter < rawBefore,
      s"floored compaction must physically drop superseded versions " +
        s"($rawBefore -> $rawAfter)")
    assert(cat.snapshotAsOf("fc", mark).collect().map(_.toSeq).toSet ==
      snapAtMark, "bounded reads AT the floor must stay exact")
    assert(cat.snapshot("fc").where(col("k") === 3L).isEmpty,
      "the tombstone winner must survive the rewrite (resurrection)")
    // post-compaction refresh: incremental (the whole point), exact
    cat.upsert("fc", Seq((2L, "c", 9L)).toDF("k", "g", "x")) // regroup
    val r = Materialize.refresh(cat, path)
    assert(!r.rebuildRan,
      "a floor at the fold mark must NOT force a rebuild")
    assert(actual == expected,
      s"post-floored-compaction refresh diverged: $actual vs $expected")
    // refusal: a floor beyond the counter, or below the existing floor
    val e1 = intercept[IllegalArgumentException](
      cat.compact("fc", keepAfter = cat.changeLog("fc")
        .agg(max(col("_version"))).head.getLong(0) + 100L))
    assert(e1.getMessage.contains("beyond the version counter"))
    val e2 = intercept[IllegalArgumentException](
      cat.compact("fc", keepAfter = mark - 1L))
    assert(e2.getMessage.contains("already discarded"))
    // FULL compaction rises past the fold mark: rebuild, still exact
    cat.compact("fc")
    cat.upsert("fc", Seq((5L, "c", 11L)).toDF("k", "g", "x"))
    val r2 = Materialize.refresh(cat, path)
    assert(r2.rebuildRan,
      "full compaction discards the fold history — rebuild required")
    assert(actual == expected)
  }

  test("truncate raises the replayability floor: an MV over the " +
      "truncated table rebuilds to empty instead of serving the " +
      "vanished rows as fresh") {
    import spark.implicits._
    import graft.operators.Materialize
    val cat = freshCatalog()
    cat.createTable("tr", StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("tr", Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "g", "x"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_tr").toString
    Materialize.build(cat, ChainSpec("tr"), Seq("g"), Seq("x"), path)
    assert(Materialize.read(spark, path).count() == 2)
    cat.truncate("tr")
    // the version counter moved, so a freshness probe keyed on it goes
    // stale — the silent path used to be: counter unchanged, refresh
    // early-returns, state serves rows that no longer exist
    val r = Materialize.refresh(cat, path)
    assert(r.rebuildRan,
      "truncate discards history — only a rebuild is correct")
    assert(Materialize.read(spark, path).isEmpty,
      "post-truncate state must be empty, not the vanished rows")
    // writes after the truncate fold normally again
    cat.upsert("tr", Seq((5L, "c", 50L)).toDF("k", "g", "x"))
    Materialize.refresh(cat, path)
    assert(Materialize.read(spark, path).collect().map(_.toSeq).toSet ==
      Materialize.aggregate(cat.snapshot("tr"), Seq("g"), Seq("x"))
        .collect().map(_.toSeq).toSet)
  }

  test("racing writer threads in one catalog: every batch lands exactly " +
      "once under a distinct version; the counter never covers an " +
      "un-landed write") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("rw", StructType(Seq(StructField("k", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    val n = 6
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try (0 until n).foreach { i =>
          val k = (t * 1000 + i).toLong
          cat.upsert("rw", Seq((k, k)).toDF("k", "x"))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty,
      s"two writer threads in ONE catalog instance must both succeed: " +
        s"${errs.toArray.mkString(", ")}")
    val vers = cat.changeLog("rw").select("_version")
      .collect().map(_.getLong(0)).sorted
    assert(vers.length == 2 * n && vers.distinct.length == 2 * n,
      s"every batch must land exactly once under its own version: $vers")
    assert(cat.snapshot("rw").count() == 2 * n)
    assert(cat.currentVersion("rw") == vers.max,
      "the published counter must equal the highest LANDED version " +
        "(publish-after-append invariant)")
  }

  test("two snapshot-cache builds of one table at once both succeed") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("cb", StructType(Seq(StructField("k", LongType),
      StructField("x", LongType))), pk = Seq("k"))
    cat.upsert("cb", (1L to 2000L).map(k => (k, k)).toDF("k", "x"))
    val v = cat.upsert("cb",
      (1L to 2000L by 2).map(k => (k, -k)).toDF("k", "x"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until 2).map(_ => new Thread(() =>
      try marks.add(cat.refreshSnapshotCache("cb"))
      catch { case e: Throwable => errs.add(e) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"a cache build failed: ${errs.toArray.mkString}")
    assert(marks.toArray.toSeq == Seq(v, v))
    assert(cat.snapCacheVersion("cb").contains(v))
    assert(cat.snapshotServed("cb").count() == 2000L)
  }

  test("a second catalog instance racing an in-flight write is refused " +
      "loudly; a sequential handoff between instances is fine") {
    import spark.implicits._
    import java.util.concurrent.TimeUnit
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val cat = new GraftCatalog(spark, wh)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("x", LongType)))
    cat.createTable("fw", schema, pk = Seq("k"))
    cat.upsert("fw", Seq((1L, 1L)).toDF("k", "x"))
    // SEQUENTIAL handoff: another instance writes while this one has
    // nothing in flight — supported (a reopened warehouse), both ways
    val cat2 = new GraftCatalog(spark, wh)
    cat2.createTable("fw", schema, pk = Seq("k")) // re-register spec
    cat2.upsert("fw", Seq((2L, 2L)).toDF("k", "x"))
    cat.upsert("fw", Seq((3L, 3L)).toDF("k", "x"))
    assert(cat.snapshot("fw").count() == 3)
    // CONCURRENT: cat holds a reservation mid-append (the UDF below
    // blocks its write job) while cat2 lands a write and bumps the
    // counter — cat must refuse loudly, never silently interleave
    CatalogSpecGates.reset()
    val slow = udf { (x: Long) =>
      CatalogSpecGates.started.countDown()
      CatalogSpecGates.gate.await(30, TimeUnit.SECONDS)
      x
    }
    val blocked = spark.range(1)
      .select((col("id") + 100L).as("k"), slow(col("id")).as("x"))
    @volatile var thrown: Throwable = null
    val a = new Thread(() => {
      try cat.upsert("fw", blocked)
      catch { case e: Throwable => thrown = e }
    })
    a.start()
    assert(CatalogSpecGates.started.await(30, TimeUnit.SECONDS),
      "the blocked write never started")
    cat2.upsert("fw", Seq((4L, 4L)).toDF("k", "x"))
    CatalogSpecGates.gate.countDown()
    a.join()
    assert(thrown != null &&
      thrown.getMessage.contains("another writer"),
      s"a foreign counter bump under an in-flight write must refuse " +
        s"loudly, got: $thrown")
  }

  test("a write that fails inside its Spark job publishes its version " +
      "as an empty gap; the next write lands strictly above it") {
    import spark.implicits._
    val cat = freshCatalog()
    val unsigned = new MetadataBuilder()
      .putBoolean(GraftCatalog.UnsignedKey, true).build()
    cat.createTable("fp", StructType(Seq(StructField("k", LongType),
      StructField("x", LongType, metadata = unsigned))), pk = Seq("k"))
    val v0 = cat.upsert("fp", Seq((1L, 1L), (2L, 2L)).toDF("k", "x"))
    def rows() = cat.snapshot("fp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = rows()
    // negative values only in the later partitions: the CHECK fails
    // inside the write job's tasks, not while planning
    val bad = spark.range(0, 8, 1, 4)
      .select(col("id").as("k"), (lit(3L) - col("id")).as("x"))
    val e = intercept[Exception](cat.upsert("fp", bad))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("cannot store negative value")), e)
    assert(rows() == before, "a failed write must not change the snapshot")
    assert(cat.currentVersion("fp") == v0 + 1L,
      "the abandoned version must be published as a gap")
    assert(spark.read.parquet(s"${cat.tablePath("fp")}/data")
      .where(col("_version") > v0).isEmpty,
      "the failed job must leave no rows in the log")
    val v2 = cat.upsert("fp", Seq((3L, 3L)).toDF("k", "x"))
    assert(v2 > v0 + 1L && cat.currentVersion("fp") == v2,
      s"next write at $v2 after the gap at ${v0 + 1L}")
    assert(rows() == before + (3L -> 3L))
  }

  test("a full compaction cut right after its swap, before it " +
      "publishes, serves the pre-compaction snapshot and keeps every " +
      "row; a pre-compaction MV still refreshes exactly") {
    import spark.implicits._
    import graft.operators.Materialize
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("g", StringType), StructField("x", LongType)))
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("cw", schema, pk = Seq("k"))
    cat.upsert("cw", Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "g", "x"))
    cat.upsert("cw", Seq((2L, "a", 25L)).toDF("k", "g", "x"))
    cat.delete("cw", col("k") === 3L)
    val mv = s"$wh/mv"
    Materialize.build(cat, ChainSpec("cw"), Seq("g"), Seq("x"), mv)
    def rows(c: GraftCatalog) = c.snapshot("cw").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val before = rows(cat)
    assert(before == Set((1L, "a", 10L), (2L, "a", 25L)))
    val ctr = cat.currentVersion("cw")
    cat.compact("cw")
    // the crash: the rewrite swapped in and the floor raised as the
    // compaction writes it, but the counter never published
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      cat.tablePath("cw"), "_latest_version"), ctr.toString)
    val cat2 = new GraftCatalog(spark, wh)
    cat2.createTable("cw", schema, pk = Seq("k"))
    assert(rows(cat2) == before,
      "the rewrite must be visible at the counter the crash left")
    assert(cat2.vacuumOrphans("cw") == 0L,
      "no rewritten row may sit above the counter")
    assert(rows(cat2) == before)
    cat2.upsert("cw", Seq((4L, "b", 7L)).toDF("k", "g", "x"))
    Materialize.refresh(cat2, mv)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.select("g", "cnt", "sum_x", "min_x", "max_x").collect()
        .map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(agg(Materialize.read(spark, mv)) == agg(Materialize.aggregate(
        cat2.snapshot("cw"), Seq("g"), Seq("x"))),
      "the MV built before the compaction must refresh to its recompute")
  }

  test("a compaction cut between its two moves leaves the live log " +
      "aside; re-registering the table moves it back") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("x", LongType)))
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("cr", schema, pk = Seq("k"))
    cat.upsert("cr", Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "x"))
    cat.upsert("cr", Seq((2L, 25L)).toDF("k", "x"))
    cat.delete("cr", col("k") === 1L)
    def rows(c: GraftCatalog) = c.snapshot("cr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = rows(cat)
    assert(before == Set((2L, 25L), (3L, 30L)))
    // the crash: the compacted copy is written and the live log moved
    // aside, but the copy never moved in
    val data = new java.io.File(s"${cat.tablePath("cr")}/data")
    Seq((2L, 25L)).toDF("k", "x")
      .write.parquet(s"${cat.tablePath("cr")}/_tmp_data")
    val aside = new java.io.File(
      graft.operators.Commit.asideOf(data.toString))
    assert(data.renameTo(aside))
    val cat2 = new GraftCatalog(spark, wh)
    cat2.createTable("cr", schema, pk = Seq("k"))
    assert(rows(cat2) == before,
      "re-registering must restore the pre-compaction snapshot")
    assert(cat2.changeLog("cr").count() == 5, "the full history is back")
    assert(!aside.exists())
    // the next compaction runs over the restored history
    cat2.compact("cr")
    assert(rows(cat2) == before)
    assert(cat2.changeLog("cr").count() == 2)
    // an aside copy NEXT TO the live log is the replaced copy: the
    // re-registration deletes it and keeps the live log
    val part = data.listFiles().filter(_.getName.startsWith("part-")).head
    aside.mkdirs()
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(aside, part.getName).toPath)
    val cat3 = new GraftCatalog(spark, wh)
    cat3.createTable("cr", schema, pk = Seq("k"))
    assert(!aside.exists())
    assert(rows(cat3) == before)
  }

  test("orphan rows above the published counter are invisible to every " +
      "read path and reclaimed by vacuumOrphans") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("x", LongType))),
      pk = Seq("id"))
    cat.upsert("t", Seq((1L, 10L), (2L, 20L)).toDF("id", "x"))
    val ctr = cat.upsert("t", Seq((2L, 25L)).toDF("id", "x"))
    // simulate a refused/crashed writer: its append landed in the log
    // dir stamped ABOVE the published counter (publish refused after
    // the rows were already down — they cannot be unwound)
    Seq((99L, 999L)).toDF("id", "x")
      .withColumn("_version", lit(ctr + 5L))
      .withColumn("_deleted", lit(false))
      .withColumn("_ts", lit(new java.sql.Timestamp(0L)))
      .write.mode("append").parquet(
        s"${cat.tablePath("t")}/data")
    // invisible everywhere: snapshot, change log, CDC
    assert(cat.snapshot("t").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L), "an orphan row above the counter leaked into the " +
        "snapshot")
    assert(cat.changeLog("t").where(col("id") === 99L).count() == 0,
      "an orphan row leaked into the change log")
    assert(cat.cdc("t").where(col("id") === 99L).count() == 0,
      "an orphan row leaked into CDC")
    // physically reclaimed; live rows and the counter untouched
    assert(cat.vacuumOrphans("t") == 1L)
    assert(cat.vacuumOrphans("t") == 0L) // idempotent no-op
    assert(cat.currentVersion("t") == ctr)
    assert(cat.snapshot("t").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet == Set((1L, 10L), (2L, 25L)))
    // and a later write resumes normally past the vacuum
    cat.upsert("t", Seq((3L, 30L)).toDF("id", "x"))
    assert(cat.snapshot("t").count() == 3)
  }

  test("legacy compaction floor: a pre-marker warehouse derives its " +
      "floor from the log minimum once, persists it, and the first " +
      "post-upgrade MV refresh rebuilds instead of double-counting") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("x", LongType)))
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("t", schema, pk = Seq("id"))
    cat.upsert("t", Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
      .toDF("id", "g", "x"))
    val mv = s"$wh/mv"
    graft.operators.Materialize.build(cat, ChainSpec("t"), Seq("g"), Seq("x"),
      mv)
    cat.upsert("t", Seq((2L, "a", 99L)).toDF("id", "g", "x"))
    cat.compact("t") // full: history collapsed, floor marker written
    // simulate the pre-marker generation: the marker never existed
    assert(new java.io.File(s"${cat.tablePath("t")}/_compacted_below")
      .delete(), "fixture: the floor marker must exist after compact")
    // a FRESH catalog instance (fresh memo) over the same warehouse:
    // the fallback derives the floor from min(_version) > 0 and
    // persists it
    val cat2 = new GraftCatalog(spark, wh)
    cat2.createTable("t", schema, pk = Seq("id"))
    val derived = cat2.compactionFloor("t")
    assert(derived > 0,
      s"legacy compacted table must derive a positive floor, got " +
        s"$derived")
    assert(new java.io.File(s"${cat2.tablePath("t")}/_compacted_below")
      .exists(), "the derived floor must persist")
    // the first post-upgrade refresh must REBUILD (the compaction's
    // rewrite batch has no pre-images — folding it as a delta would
    // double-count every surviving row) and land exactly
    val r = graft.operators.Materialize.refresh(cat2, mv)
    assert(r.rebuildRan,
      "the post-upgrade refresh over a legacy-compacted log must " +
        "rebuild")
    val got = graft.operators.Materialize.read(spark, mv)
      .select(col("g"), col("cnt"), col("sum_x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set(("a", 2L, 109L), ("b", 1L, 5L)),
      s"post-rebuild state diverged: $got")
    // an INTACT table (min version 0) derives no floor and persists
    // nothing — the scan memoizes per instance
    val cat3 = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    cat3.createTable("u", schema, pk = Seq("id"))
    cat3.upsert("u", Seq((1L, "a", 1L)).toDF("id", "g", "x"))
    new java.io.File(s"${cat3.tablePath("u")}/_compacted_below").delete()
    assert(cat3.compactionFloor("u") == -1L)
    assert(!new java.io.File(s"${cat3.tablePath("u")}/_compacted_below")
      .exists(), "an intact table must not persist a false floor")
  }

  test("CDC consumers below the replayability floor refuse; at or " +
      "above it (and the bootstrap read) stay served") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("x", LongType))),
      pk = Seq("id"))
    cat.upsert("t", Seq((1L, 10L)).toDF("id", "x")) // v0
    cat.upsert("t", Seq((1L, 11L)).toDF("id", "x")) // v1
    cat.upsert("t", Seq((2L, 20L)).toDF("id", "x")) // v2
    cat.compact("t", keepAfter = 1L)
    val e = intercept[IllegalArgumentException](cat.cdc("t", 0L))
    assert(e.getMessage.contains("replayability floor"),
      s"a resume point below the floor must refuse, got: $e")
    val e2 = intercept[IllegalArgumentException](
      cat.cdcImages("t", sinceVersion = 0L))
    assert(e2.getMessage.contains("replayability floor"))
    // at the floor and above: exact; bootstrap (-1) reads the
    // collapsed winners as its initial image
    assert(cat.cdc("t", 1L).collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
    assert(cat.cdc("t").count() >= 2)
  }

  test("pairWinners == two independent bounded collapses at every " +
      "mark pair (seeded random log: multi-version churn, deletes, " +
      "within-batch duplicate PKs)") {
    // the fused dual-mark winner pass is the primitive under the r15
    // null-extension count probes; its tie-break argument (ord fields
    // prefix a struct-max, full-ord ties are same-batch duplicates
    // whose payload ties too) is subtle enough to deserve a direct
    // equivalence property against the reference collapse
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("jk", LongType),
      StructField("x", LongType))), pk = Seq("id"))
    val rng = new scala.util.Random(0xC0FFEE)
    var hi = -1L
    (0 until 6).foreach { _ =>
      val ids = (0 until 30).map(_ => rng.nextInt(40).toLong).distinct
      if (rng.nextInt(4) == 0 && hi >= 0)
        hi = cat.delete("t", col("id").isInCollection(ids))
      else {
        // within-batch duplicate PKs: two rows for some ids (the
        // lexicographically-greatest payload must win identically)
        val rows = ids.map(i =>
          (i, rng.nextInt(5).toLong, rng.nextInt(100).toLong)) ++
          ids.take(5).map(i =>
            (i, rng.nextInt(5).toLong, rng.nextInt(100).toLong))
        hi = cat.upsert("t", rows.toDF("id", "jk", "x"))
      }
    }
    val refs: Map[Long, Map[Long, (Long, Boolean)]] =
      (0L to hi).map(v => v ->
        cat.collapseKeepMeta("t",
            cat.changeLog("t").where(col("_version") <= v))
          .select(col("id"), col("jk"), col("_deleted"))
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), r.getBoolean(2))).toMap).toMap
    for (lo <- 0L to hi; hiM <- lo to hi) {
      val fused = cat.pairWinners("t", lo, hiM, Seq("jk"))
        .collect().map { r =>
          def side(w: String): Option[(Long, Boolean)] = {
            val s = r.getAs[Row](w)
            if (s == null) None
            else Some((s.getAs[Long]("__p_jk"),
              s.getAs[Boolean]("__del")))
          }
          r.getLong(0) -> (side("_wo"), side("_wn"))
        }.toMap
      val refLo = refs(lo)
      val refHi = refs(hiM)
      fused.foreach { case (id, (wo, wn)) =>
        assert(wo == refLo.get(id),
          s"lo=$lo hi=$hiM id=$id: _wo $wo != reference ${refLo.get(id)}")
        assert(wn == refHi.get(id),
          s"lo=$lo hi=$hiM id=$id: _wn $wn != reference ${refHi.get(id)}")
      }
      // and no PK the reference holds is missing from the fused pass
      assert(refHi.keySet.subsetOf(fused.keySet),
        s"lo=$lo hi=$hiM: fused pass lost PKs ${refHi.keySet -- fused.keySet}")
    }
  }

  test("dropTable refuses while registered MVs depend on the table; " +
      "cascade deregisters and deletes the MV state first") {
    import spark.implicits._
    val cat = freshCatalog()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("x", LongType)))
    cat.createTable("t", schema, pk = Seq("id"))
    cat.upsert("t", Seq((1L, "a", 10L)).toDF("id", "g", "x"))
    val mv = s"${cat.tablePath("t")}_mvdrop"
    graft.operators.Materialize.build(cat, ChainSpec("t"), Seq("g"), Seq("x"),
      mv)
    graft.operators.Materialize.registerForRewrite(cat, mv)
    val e = intercept[IllegalStateException](cat.dropTable("t"))
    assert(e.getMessage.contains("materialized views") &&
      e.getMessage.contains(mv.stripSuffix("/")),
      s"the refusal must name the dependent MV, got: $e")
    assert(cat.hasTable("t"), "a refused drop must leave the table")
    cat.dropTable("t", cascade = true)
    assert(!cat.hasTable("t"))
    assert(cat.mvDependents("t").isEmpty)
    assert(!new java.io.File(mv).exists(),
      "cascade must delete the MV state")
  }
}

/** Static latches for the foreign-writer test: referenced from inside a
  * UDF lambda, so they must resolve statically (a captured field would
  * drag the suite into the closure). */
object CatalogSpecGates {
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    gate = new java.util.concurrent.CountDownLatch(1)
    started = new java.util.concurrent.CountDownLatch(1)
  }
}
