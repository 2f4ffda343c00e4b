package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions
import graft.operators.Layout

/** Z-order layout: the multi-column clustering write path.
  *
  * The pruning test measures the property the operator exists for — a
  * point predicate on EITHER z column can skip most files via per-file
  * min/max ranges — and contrasts it with a single-key linear sort,
  * which prunes only its own column.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (min, max) of column c in each part-file under dir. */
  private def perFileMinMax(dir: String, c: String): Seq[(Double, Double)] = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    assert(files.nonEmpty, s"no part files under $dir")
    files.toSeq.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
      (r.getDouble(0), r.getDouble(1))
    }
  }

  /** Fraction of (file, point) pairs a min/max check would skip. */
  private def prunedFraction(ranges: Seq[(Double, Double)],
      points: Seq[Double]): Double = {
    val hits = (for {
      p <- points; (lo, hi) <- ranges if p >= lo && p <= hi
    } yield 1).size
    1.0 - hits.toDouble / (ranges.size * points.size)
  }

  test("z-order prunes files on both columns; linear sort on one only") {
    // independent 128x128 grid: the adversarial case for a single sort
    // key (the second column is uniform within every first-column run)
    val df = spark.range(1L << 14).select(
      ($"id" % 128).as("x"), ($"id" / 128).as("y"), $"id".as("payload"))
    val zdir = TempDir("graft_z").toString
    val ldir = TempDir("graft_lin").toString
    Layout.writeZOrdered(df, zdir, Seq("x", "y"), numFiles = 16, bits = 7)
    df.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(ldir)

    val points = Seq(5.0, 37.0, 64.0, 99.0, 120.0)
    // the linear layout prunes its own sort key but nothing else
    assert(prunedFraction(perFileMinMax(ldir, "x"), points) >= 0.5)
    assert(prunedFraction(perFileMinMax(ldir, "y"), points) <= 0.1)
    // the z layout prunes BOTH columns
    val zx = prunedFraction(perFileMinMax(zdir, "x"), points)
    val zy = prunedFraction(perFileMinMax(zdir, "y"), points)
    assert(zx >= 0.5, s"x pruning under z-order too weak: $zx")
    assert(zy >= 0.5, s"y pruning under z-order too weak: $zy")
  }

  test("zorderBy preserves content exactly and tolerates nulls") {
    val df = spark.range(1000).select(
      when($"id" % 10 === 0, lit(null)).otherwise($"id" % 50).as("a"),
      ($"id" % 7).cast("double").as("b"),
      $"id")
    val z = Layout.zorderBy(df, Seq("a", "b"), numPartitions = 4, bits = 5)
    assert(z.columns.toSeq == df.columns.toSeq)
    assert(z.exceptAll(df).count() == 0)
    assert(df.exceptAll(z).count() == 0)
  }

  test("string columns get order-preserving buckets: range + equality pruning") {
    // independent host/t: id%8 alone would be a function of id%64
    val df = spark.range(8192).select(
      concat(lit("dom"), ($"id" % 8).cast("string")).as("host"),
      (($"id" / 8) % 64).as("t"))
    // mean fraction of the layout's files containing each host value
    // (normalized: empty range partitions write no file)
    def hostSpread(dir: String): Double = {
      val perHost = spark.read.parquet(dir)
        .withColumn("f", input_file_name())
        .groupBy($"host").agg(countDistinct($"f").as("nf"))
        .collect().map(_.getLong(1))
      val nFiles = new java.io.File(dir).listFiles()
        .count(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      perHost.sum.toDouble / (perHost.length * nFiles)
    }
    val zdir = TempDir("graft_zs").toString
    val ldir = TempDir("graft_ls").toString
    Layout.writeZOrdered(df, zdir, Seq("host", "t"), numFiles = 16, bits = 6)
    df.repartitionByRange(16, $"t").sortWithinPartitions("t")
      .write.mode("overwrite").parquet(ldir)
    // under a t-only sort every host appears in ~every file; sampled
    // order-preserving buckets confine each host value to a minority
    // of files
    val z = hostSpread(zdir)
    val l = hostSpread(ldir)
    assert(l >= 0.9, s"t-sorted baseline should hit ~every file: $l")
    // ~0.5 at this scale: a contiguous Morton range spans loose
    // bounding boxes at block-connect jumps, and the range sampler's
    // unaligned splits straddle blocks — both wash out as file count
    // grows; the operative bound is ≪ the baseline's 1.0
    assert(z <= 0.6, s"z-order host spread too wide: $z")
    // order-preserving (not hash) buckets: per-file [min,max] STRING
    // ranges answer range predicates — a lexical point probe must be
    // outside most files' ranges
    val ranges = new java.io.File(zdir).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .toSeq.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min($"host"), max($"host")).head()
        (r.getString(0), r.getString(1))
      }
    val covered = ranges.count { case (lo, hi) =>
      lo <= "dom3" && "dom3" <= hi }
    assert(covered.toDouble / ranges.size <= 0.5,
      s"string range pruning too weak: $covered of ${ranges.size} files")
  }

  test("heavy-hitter string values keep split points (distinct before limit)") {
    // 4 hosts x 4096 rows each: ANY single host could fill the whole
    // bounded driver sample on its own, so a row-level (not
    // distinct-first) sample would collapse to one value, return no
    // split points, and the host column would silently contribute
    // nothing to the z-value (every file spans all hosts)
    val df = spark.range(4L * 4096).select(
      concat(lit("h"), ($"id" % 4).cast("string")).as("host"),
      ($"id" / 4).as("t"))
    val dir = TempDir("graft_zh").toString
    Layout.writeZOrdered(df, dir, Seq("host", "t"), numFiles = 8, bits = 6)
    val perHost = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
      .groupBy($"host").agg(countDistinct($"f").as("nf"))
      .collect().map(_.getLong(1))
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    // every (host, t) pair exists, so a degenerate host column means
    // spread = 1.0 (each host in every file); with real split points
    // each host confines to a minority of files
    // measured ~0.56 (Morton block-connect wash-out, see the test
    // above); the degenerate no-split-points mode is exactly 1.0
    val spread = perHost.sum.toDouble / (perHost.length * nFiles)
    assert(spread <= 0.7, s"host spread $spread — split points lost?")
  }

  test("string split points sort in UTF8 byte order, not UTF-16 order") {
    // U+E000..U+F8FF (3-byte UTF-8) vs supplementary U+1F600.. (4-byte):
    // java.lang.String (UTF-16 code units) sorts the surrogate-pair
    // emoji BELOW the private-use chars, UTF8String byte order sorts it
    // ABOVE — driver-side String-sorted splits would reach the kernel's
    // binary search unsorted and yield non-monotone buckets, silently
    // breaking range pruning
    import org.apache.spark.unsafe.types.UTF8String
    val vals = Seq("\uE000", "\uE123", "\uF8FF", "\uFB01",
      "\uD83D\uDE00", "\uD83D\uDE42", "\uD83E\uDD16", "\uD83E\uDDE0")
    val df = spark.range(8L * 512).select(
      element_at(typedlit(vals), ($"id" % 8).cast("int") + 1).as("s"),
      ($"id" / 8).as("t"))
    val dir = TempDir("graft_zb").toString
    Layout.writeZOrdered(df, dir, Seq("s", "t"), numFiles = 8, bits = 6)
    val ranges = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .toSeq.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min($"s"), max($"s")).head()
        (UTF8String.fromString(r.getString(0)),
          UTF8String.fromString(r.getString(1)))
      }
    // monotone buckets confine each value to few files whose byte-order
    // [min,max] contains it; unsorted splits scatter extremes into
    // every file and containment goes to ~1
    val containment = vals.map { v =>
      val u = UTF8String.fromString(v)
      ranges.count { case (lo, hi) =>
        lo.compareTo(u) <= 0 && u.compareTo(hi) <= 0 }
        .toDouble / ranges.size
    }.sum / vals.size
    // measured ~0.59 (Morton wash-out as above); non-monotone buckets
    // from unsorted splits push every file's range toward the full
    // span, driving containment toward 1
    assert(containment <= 0.7,
      s"byte-order containment $containment — splits unsorted for kernel?")
  }

  test("NaN values take bucket 0, like nulls") {
    GraftFunctions.register(spark)
    val bounds = Array.tabulate(31)(i => (i + 1).toDouble)
    val counts = Array(31)
    val df = spark.range(30).select($"id",
        array(when($"id" % 2 === 0, lit(Double.NaN))
          .otherwise(($"id" % 3).cast("double"))).as("v"))
      .repartition(2)
    val rows = df.select($"id",
        call_function("z_value", $"v", typedlit(bounds), typedlit(counts),
          lit(5)).as("z"))
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val expected = if (id % 2 == 0) 0L else (id % 3) // bucket = count(<= v)
      assert(r.getLong(1) == expected, s"id=$id")
    }
  }

  test("token-budget sharded export: budget held, docs whole, " +
      "partition-pruned reads, reproducible") {
    import spark.implicits._
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text", $"n_chars")
    val path = TempDir("graft_shards").toString + "/out"
    val budget = 20000L
    graft.operators.Layout.writeShardedByTokens(
      docs, "doc_id", "n_chars", path, budget)
    val back = spark.read.parquet(path)
    // every doc exactly once, content intact
    assert(back.count() == docs.count())
    assert(back.select($"doc_id").distinct().count() == docs.count())
    // per-shard sums: a shard holds <= budget + one doc's tokens (a doc
    // never splits, so only the straddling doc overshoots); every
    // shard but the last is filled past... at least to budget - maxDoc
    val sums = back.groupBy($"shard")
      .agg(sum($"n_chars").as("t")).orderBy($"shard")
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val maxDoc = docs.agg(max($"n_chars")).head().getLong(0)
    assert(sums.length > 1, "fixture must produce multiple shards")
    sums.foreach { case (_, t) => assert(t <= budget + maxDoc) }
    sums.dropRight(1).foreach { case (s, t) =>
      assert(t >= budget - maxDoc, s"shard $s underfilled: $t")
    }
    assert(sums.map(_._1).toSeq == sums.indices.toSeq, "contiguous ids")
    // reading one shard prunes the others' files at listing time
    val one = back.where($"shard" === 1)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && one.count() > 0)
    // deterministic: a rewrite from a different layout shards identically
    val path2 = TempDir("graft_shards2").toString + "/out"
    graft.operators.Layout.writeShardedByTokens(
      docs.repartition(7), "doc_id", "n_chars", path2, budget)
    val a = spark.read.parquet(path).select("doc_id", "shard")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = spark.read.parquet(path2).select("doc_id", "shard")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a == b)
  }

  test("z_value kernel runs inside whole-stage codegen, nulls bucket 0") {
    GraftFunctions.register(spark)
    // non-literal inputs through a repartition so the generated code
    // actually runs (literal frames constant-fold and prove nothing)
    // two FULL column slices of 31 distinct boundaries each, both
    // 1..31, so bucket(v) = v for integer v in [0, 31] and the
    // full-cardinality scale step is the identity ((v<<5)/32 = v)
    val bounds = Array.tabulate(62)(i => (i % 31 + 1).toDouble)
    val counts = Array(31, 31)
    val df = spark.range(100).select($"id",
        array(($"id" % 31).cast("double"),
          when($"id" % 5 === 0, lit(null))
            .otherwise(($"id" % 17).cast("double"))).as("v"))
      .repartition(3)
    val q = df.select($"id",
      call_function("z_value", $"v", typedlit(bounds), typedlit(counts),
        lit(5)).as("z"))
    val rows = q.collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      val id = r.getLong(0)
      val b0 = (id % 31).toInt   // boundaries 1..31 → bucket = count(<= v)
      val b1 = if (id % 5 == 0) 0 else (id % 17).toInt
      var expected = 0L
      for (i <- 0 until 5) {
        expected |= ((b0 >> i) & 1).toLong << (i * 2)
        expected |= ((b1 >> i) & 1).toLong << (i * 2 + 1)
      }
      assert(r.getLong(1) == expected, s"id=$id")
    }
    val plan = q.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[id".r.findFirstIn(plan).nonEmpty,
      s"z_value must run inside WholeStageCodegen:\n$plan")
  }

  test("eleventh-sweep guards: zorderBy bounds bits, sharded export " +
      "refuses duplicate ids") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
    // bits=0 = silent no-op (every row z=0); bits=31 passed the old
    // k*bits<=62 check yet 1<<31 overflows Int to a negative bucket
    // count — both must refuse up front
    Seq(0, 31).foreach { bad =>
      val e = intercept[IllegalArgumentException](
        graft.operators.Layout.zorderBy(df, Seq("a"), 2, bits = bad))
      assert(e.getMessage.contains("bits"), s"bits=$bad: ${e.getMessage}")
    }
    // duplicate ids would fan the bin join out quadratically — the doc
    // written twice into its shard with token budgets silently blown
    val dup = Seq((1L, 10L), (1L, 10L), (2L, 5L)).toDF("doc_id", "n_tok")
    val path = TempDir("graft_shards_dup").toString + "/out"
    val de = intercept[Exception](graft.operators.Layout
      .writeShardedByTokens(dup, "doc_id", "n_tok", path, 100L))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(de).exists(_.contains("duplicate ids")),
      s"expected the loud duplicate-id guard, got: ${msgs(de)}")
  }

  test("pageRank refuses NULL edge endpoints (silent mass leak)") {
    import spark.implicits._
    val e = Seq((Some(1L), Option.empty[Long]), (Some(2L), Some(1L)))
      .toDF("src", "dst")
    val ex = intercept[IllegalArgumentException](
      graft.operators.Graph.pageRank(e, iterations = 1))
    assert(ex.getMessage.contains("NULL endpoints"))
  }
}
