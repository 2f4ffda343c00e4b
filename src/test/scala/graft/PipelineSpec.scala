package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curation, Dedup, Graph, Multimodal, QualityFilter,
  Similarity}

/** Quality assertions for the probabilistic pipeline operators (the ones
  * without a SQL oracle): MinHash-LSH recall vs exact Jaccard, SimHash
  * behavior on near-identical texts, ANN recall vs brute-force cosine,
  * HLL error bounds. Runs on sf0.001. */
class PipelineSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = TestSpark.spark

  test("minhash LSH recall >= 0.9 vs exact jaccard pairs at t=0.3") {
    val docs = Tables.t(spark, dir, "documents")
    val exact = Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lsh = Dedup.nearDupPairs(docs, "text", "doc_id", 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low (${lsh.size} found, " +
      s"${exact.size} exact)")
    // verified pairs are a subset of exact pairs (no false positives after
    // the exact-jaccard verification step)
    assert(lsh.subsetOf(exact))
  }

  test("simhash: identical texts collide, perturbed texts stay close") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base.replace("dog", "cat")
    val far = "completely different content about spark query engines at scale"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("id", "text")
      .select($"id", Dedup.simhash64($"text").as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sigs(1L) == sigs(2L), "identical text must give identical simhash")
    assert(ham(sigs(1L), sigs(3L)) <= 16,
      s"one-word change moved ${ham(sigs(1L), sigs(3L))} bits")
    assert(ham(sigs(1L), sigs(4L)) > ham(sigs(1L), sigs(3L)),
      "unrelated text should be farther than a near-duplicate")
  }

  test("ANN multi-probe: finds self first, results enriched in similarity") {
    val emb = Tables.t(spark, dir, "embeddings")
    val brute = Similarity.cosineTopK(emb, "embedding", "vec_id", 0L,
      emb.count().toInt).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annTopK(emb, "embedding", "vec_id", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ann.head._1 == 0L, "query vector must rank itself first")
    // ANN sims must equal the exact cosine for the same ids
    for ((id, sim) <- ann) assert(math.abs(brute(id) - sim) < 1e-12)
    // candidates from probed buckets must be similarity-enriched vs the
    // population mean (sign-LSH correlates with cosine)
    val annMean = ann.filter(_._1 != 0L).map(_._2).sum /
      math.max(ann.length - 1, 1)
    val popMean = brute.filter(_._1 != 0L).values.sum / (brute.size - 1)
    assert(annMean > popMean,
      s"ANN mean sim $annMean not above population mean $popMean")
  }

  test("IVF ANN returns exact sims from probed cells, enriched recall") {
    val emb = Tables.t(spark, dir, "embeddings")
    val brute = Similarity.cosineTopK(emb, "embedding", "vec_id", 0L,
      emb.count().toInt).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (centroids, assigned) =
      Similarity.ivfIndex(emb, "embedding", "vec_id", nlist = 8)
    val ivf = Similarity.ivfTopK(centroids, assigned, 0L, 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.head._1 == 0L, "query vector must rank itself first")
    for ((id, sim) <- ivf) assert(math.abs(brute(id) - sim) < 1e-9)
    // recall@10 vs brute force: probed-cell top-k must recover most of
    // the true top-k (cells adapt to the distribution)
    val trueTop = brute.toSeq.sortBy(-_._2).take(10).map(_._1).toSet
    val recall = ivf.map(_._1).count(trueTop.contains) / 10.0
    assert(recall >= 0.5, s"IVF recall@10 $recall too low")
  }

  test("incremental IVF: frozen-centroid append loses/moves no vector " +
      "and searches exactly in the all-probe regime") {
    val emb = Tables.t(spark, dir, "embeddings")
    val corpus = emb.where(col("vec_id") >= 50)
    val delta = emb.where(col("vec_id") < 50)
    val (centroids, assigned) =
      Similarity.ivfIndex(corpus, "embedding", "vec_id", nlist = 8)
    val appended = Similarity.ivfAppend(centroids, delta,
      "embedding", "vec_id")
    // appended assignment == assigning the FULL set under the same
    // frozen centroids, restricted to the delta (no vector lost, none
    // double-assigned, none in a different cell than a full pass)
    val fullPass = Similarity.ivfAppend(centroids, emb,
        "embedding", "vec_id")
      .where(col("id") < 50)
      .select(col("id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val inc = appended.select(col("id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(inc == fullPass, "delta assignment must match a full pass")
    assert(inc.size == 50)
    // all-probe search over persisted ∪ appended == brute force over
    // the full corpus (query vector from the APPENDED side)
    val union = assigned.unionByName(appended)
    val got = Similarity.ivfTopK(centroids, union, 7L, 12,
        nprobe = centroids.length)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.cosineTopK(emb, "embedding", "vec_id", 7L, 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == brute.map(_._1).toSeq,
      s"all-probe incremental search must equal brute force: " +
        s"${got.toSeq} vs ${brute.toSeq}")
    got.zip(brute).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9) }
  }

  test("appendIvfIndex: batches land INSIDE the persisted cell dirs, " +
      "search equals brute force, drift signals, compaction one-files") {
    val emb = Tables.t(spark, dir, "embeddings")
    val corpus = emb.where(col("vec_id") >= 50)
    val (centroids, assigned) =
      Similarity.ivfIndex(corpus, "embedding", "vec_id", nlist = 8)
    val path = TempDir("graft_ivf_append").toString
    Similarity.saveIvfIndex(path, centroids, assigned)
    // two ingest batches, written INTO the index (no caller-side union)
    val r1 = Similarity.appendIvfIndex(spark, path,
      emb.where(col("vec_id") < 25), "embedding", "vec_id")
    val r2 = Similarity.appendIvfIndex(spark, path,
      emb.where(col("vec_id") >= 25 && col("vec_id") < 50),
      "embedding", "vec_id")
    // in-distribution deltas: drift ratio near 1 (same generator)
    assert(r1 < 1.5 && r2 < 1.5, s"unexpected drift: $r1 / $r2")
    // the reloaded index IS the full corpus: all-probe search == brute
    val (cents2, all) = Similarity.loadIvfIndex(spark, path)
    assert(all.count() == emb.count())
    def searchIds() = Similarity.ivfTopK(cents2, all, 7L, 12,
        nprobe = cents2.length)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.cosineTopK(emb, "embedding", "vec_id", 7L, 12)
      .collect().map(_.getLong(0)).toSeq
    assert(searchIds() == brute)
    // an OUT-of-distribution delta trips the drift warning ratio
    import spark.implicits._
    val far = (1000L to 1019L).map(i =>
      (i, Array.fill(64)(if (i % 2 == 0) 40.0f else -40.0f)
        .zipWithIndex.map { case (v, d) => v * (d + 1) })).toDF(
      "vec_id", "embedding")
    val r3 = Similarity.appendIvfIndex(spark, path, far,
      "embedding", "vec_id")
    assert(r3 > 1.5, s"far-off delta must read as drift, got $r3")
    // idempotent replay: re-appending an already-ingested batch with
    // dedupeIds drops every duplicate id (anti-join against only the
    // delta's own cells), so the index is unchanged
    val before = Similarity.loadIvfIndex(spark, path)._2.count()
    Similarity.appendIvfIndex(spark, path,
      emb.where(col("vec_id") < 25), "embedding", "vec_id",
      dedupeIds = true)
    assert(Similarity.loadIvfIndex(spark, path)._2.count() == before,
      "a replayed batch must fold idempotently under dedupeIds")
    // compaction: one file per cell dir, results unchanged
    Similarity.compactIvfIndex(spark, path)
    val cellDirs = Option(new java.io.File(s"$path/cells").listFiles())
      .toSeq.flatten.filter(f => f.isDirectory &&
        f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"${d.getName} holds $parts files after compact")
    }
    val (cents3, all3) = Similarity.loadIvfIndex(spark, path)
    assert(Similarity.ivfTopK(cents3, all3, 7L, 12,
        nprobe = cents3.length)
      .collect().map(_.getLong(0)).toSeq == brute)
  }

  test("PQ codes: 32x compression, deterministic, ADC recall vs exact") {
    val emb = Tables.t(spark, dir, "embeddings")
    val n = emb.count().toInt
    val brute = Similarity.cosineTopK(emb, "embedding", "vec_id", 0L, n)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (book, coded) = Similarity.pqIndex(emb, "embedding", "vec_id")
    // 64 float32 dims → 8 bytes per vector
    val codes = coded.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    assert(codes.forall(_._2.length == 8))
    // layout-independent: re-encoding under a different partitioning
    // yields byte-identical codes (kernel is scan-local + deterministic)
    val again = Similarity.pqIndex(emb.repartition(7), "embedding", "vec_id")
      ._2.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(codes.forall { case (id, c) => java.util.Arrays.equals(c, again(id)) })
    val pq = Similarity.pqTopK(book, coded, emb, "embedding", "vec_id",
      0L, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    // ADC score approximates cosine within the codebook's quantization
    // error; ranking recovers most of the true neighborhood
    for ((id, adc) <- pq)
      assert(math.abs(brute(id) - adc) <= 0.3, s"id=$id adc=$adc vs ${brute(id)}")
    val trueTop = brute.toSeq.sortBy(-_._2).take(10).map(_._1).toSet
    val recall = pq.map(_._1).count(trueTop.contains) / 10.0
    assert(recall >= 0.5, s"PQ recall@10 $recall too low")
  }

  test("IVF-PQ: residual codes beat plain-PQ error, recall, determinism") {
    val emb = Tables.t(spark, dir, "embeddings")
    val n = emb.count().toInt
    val brute = Similarity.cosineTopK(emb, "embedding", "vec_id", 0L, n)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (cents, book, coded) =
      Similarity.ivfPqIndex(emb, "embedding", "vec_id", nlist = 8, ks = 256)
    val rows = coded.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2)))
    // 64 float32 dims → 4-byte cell + 8-byte code per vector
    assert(rows.forall(_._3.length == 8))
    assert(rows.map(_._2).distinct.length > 1, "cells must spread")
    // layout-independent encode (scan-local deterministic kernel)
    val again = Similarity
      .ivfPqIndex(emb.repartition(7), "embedding", "vec_id",
        nlist = 8, ks = 256)._3
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getAs[Array[Byte]](2))).toMap
    assert(rows.forall { case (id, cell, c) =>
      again(id)._1 == cell && java.util.Arrays.equals(c, again(id)._2) })
    // search: exact-self first under full probe, ADC ≈ cosine within
    // the (tighter, residual) quantization error, recall holds
    val got = Similarity.ivfPqTopK(cents, book, coded, emb, "embedding",
        "vec_id", 0L, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    for ((id, adc) <- got)
      assert(math.abs(brute(id) - adc) <= 0.3, s"id=$id adc=$adc")
    val trueTop = brute.toSeq.sortBy(-_._2).take(10).map(_._1).toSet
    val recall = got.map(_._1).count(trueTop.contains) / 10.0
    assert(recall >= 0.5, s"IVF-PQ recall@10 $recall too low")
    // the residual advantage: reconstruction error under IVF-PQ must
    // beat plain PQ at the SAME code budget (m=8) on the same corpus —
    // quantifying why the combined index is the billion-scale layout.
    // Compare mean |ADC − cosine| over the returned rows vs plain PQ.
    val (pbook, pcoded) = Similarity.pqIndex(emb, "embedding", "vec_id")
    val plain = Similarity.pqTopK(pbook, pcoded, emb, "embedding",
        "vec_id", 0L, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    def meanErr(xs: Array[(Long, Double)]) =
      xs.map { case (id, s) => math.abs(brute(id) - s) }.sum / xs.length
    assert(meanErr(got) <= meanErr(plain) + 0.02,
      s"residual coding should not lose accuracy: " +
        s"${meanErr(got)} vs plain ${meanErr(plain)}")
  }

  test("hard negatives: band respected, near-dups excluded, LSH path " +
      "recovers exact-path pairs") {
    val emb = Tables.t(spark, dir, "embeddings")
    val exact = Similarity.hardNegatives(emb, "embedding", "vec_id",
        k = 5, lo = 0.15, hi = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(exact.nonEmpty)
    // every mined negative sits inside the band — no near-dups (the
    // latent-positive leak) and no uninformative far negatives
    assert(exact.forall { case (_, _, s) => s >= 0.15 && s < 0.5 })
    assert(exact.groupBy(_._1).values.forall(_.length <= 5))
    // anchors never select themselves
    assert(exact.forall { case (a, n, _) => a != n })
    // the banded LSH path returns in-band pairs only (bucket recall),
    // each with the identical cosine
    val lsh = Similarity.hardNegativesLsh(emb, "embedding", "vec_id",
        k = 5, lo = 0.15, hi = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (_, _, s) => s >= 0.15 && s < 0.5 })
    // per-anchor: LSH picks from in-bucket candidates only, so its set
    // may differ below the exact top-k, but every (anchor, negative)
    // it returns must carry the bit-identical exact cosine
    val exactSims = Similarity.hardNegatives(emb, "embedding", "vec_id",
        k = 1000, lo = 0.15, hi = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(lsh.forall { case (a, n, s) => exactSims((a, n)) == s })
  }

  test("IVF-PQ refine + persistence: exact re-rank, round-trip, append") {
    val emb = Tables.t(spark, dir, "embeddings")
    val n = emb.count().toInt
    val brute = Similarity.cosineTopK(emb, "embedding", "vec_id", 0L, n)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (cents, book, coded) =
      Similarity.ivfPqIndex(emb, "embedding", "vec_id", nlist = 8, ks = 256)
    // refined search returns TRUE cosine for everything it ranks, and
    // recall can only improve on the raw ADC ordering
    val refined = Similarity.ivfPqTopKRefined(cents, book, coded, emb,
        "embedding", "vec_id", 0L, 10, nprobe = 4, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    for ((id, sim) <- refined) assert(math.abs(brute(id) - sim) < 1e-9)
    val adc = Similarity.ivfPqTopK(cents, book, coded, emb, "embedding",
        "vec_id", 0L, 10, nprobe = 4)
      .collect().map(_.getLong(0))
    val trueTop = brute.toSeq.sortBy(-_._2).take(10).map(_._1).toSet
    assert(refined.map(_._1).count(trueTop.contains) >=
      adc.count(trueTop.contains),
      "refinement must not lose recall vs the ADC ordering")
    // round-trip + frozen-codebook append: saved index reloads
    // byte-identical and appended codes search alongside old ones
    val path = TempDir("ivfpq").toString + "/idx"
    Similarity.saveIvfPqIndex(path, cents, book,
      coded.where(col("id") < 400), m = 8)
    val (c2, b2, m2, loaded) = Similarity.loadIvfPqIndex(spark, path)
    assert(c2.sameElements(cents) && b2.sameElements(book) && m2 == 8)
    Similarity.ivfPqEncodeWith(c2, b2,
        emb.where(col("vec_id") >= 400), "embedding", "vec_id")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cell").parquet(path + "/cells")
    val (_, _, _, grown) = Similarity.loadIvfPqIndex(spark, path)
    assert(grown.count() == coded.count())
    val fromDisk = Similarity.ivfPqTopK(c2, b2, grown, emb, "embedding",
        "vec_id", 0L, 10, nprobe = 4).collect().map(_.getLong(0)).toSeq
    assert(fromDisk == adc.toSeq,
      "search over the reloaded+appended index must match in-memory")
  }

  test("IVF index persists partitioned by cell; search prunes partitions") {
    import spark.implicits._
    val emb = Tables.t(spark, dir, "embeddings")
    val (cents, assigned) = Similarity.ivfIndex(emb, "embedding", "vec_id",
      nlist = 8)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ivf_index").toString
    Similarity.saveIvfIndex(path, cents, assigned)
    val (cents2, assigned2) = Similarity.loadIvfIndex(spark, path)
    assert(cents2.length == cents.length &&
      cents2.zip(cents).forall { case ((i2, c2), (i1, c1)) =>
        i2 == i1 && c2.sameElements(c1) })
    // cell layout on disk: one directory per cell
    val cellDirs = new java.io.File(path + "/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.nonEmpty)
    // search over the LOADED index returns the same neighbors, and its
    // cell filter prunes to the probed partitions
    val q = Similarity.ivfTopK(cents2, assigned2, 0L, 10, nprobe = 2)
    val mem = Similarity.ivfTopK(cents, assigned, 0L, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == mem)
    // NON-EMPTY partition-filter list naming cell: a bare
    // contains("PartitionFilters") is vacuous — FileSourceScanExec
    // prints the entry even when empty, and "cell" appears in the
    // path/schema regardless
    val scan = q.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).nonEmpty,
      s"probe filter should prune cell partitions:\n$scan")
  }

  test("PQ index persists and appends: save/load round-trip, frozen codebook") {
    import spark.implicits._
    val emb = Tables.t(spark, dir, "embeddings")
    // split the corpus: build+save on the first part, append the rest
    // against the FROZEN codebook
    val first = emb.where($"vec_id" % 2 === 0)
    val rest = emb.where($"vec_id" % 2 =!= 0)
    // ks=16: the half-corpus at sf0.001 is smaller than the default
    // 256-centroid codebook's training minimum
    val (book, coded) = Similarity.pqIndex(first, "embedding", "vec_id",
      m = 8, ks = 16)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_pq_index").toString
    Similarity.savePqIndex(path, book, coded, m = 8, ks = 16)
    val (book2, m2, ks2, coded2) = Similarity.loadPqIndex(spark, path)
    assert(book2.sameElements(book) && m2 == 8 && ks2 == 16)
    // loaded codes byte-identical to the in-memory ones
    val a = coded.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val b = coded2.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(a.keySet == b.keySet &&
      a.forall { case (k, v) => java.util.Arrays.equals(v, b(k)) })
    // incremental append: same codebook -> codes comparable; searching
    // the merged index returns ids from BOTH halves under one ADC table
    val appended = Similarity.pqEncodeWith(book2, rest, "embedding",
      "vec_id", m = m2, ks = ks2)
    // grow the SAVED index in place (Append never reads path/codes, so
    // no overwrite-input hazard), then reload the merged index
    Similarity.appendPqIndex(path, appended)
    val merged = Similarity.loadPqIndex(spark, path)._4
    assert(merged.count() == emb.count())
    val top = Similarity.pqTopK(book2, merged, emb, "embedding", "vec_id",
      0L, 20, m = m2, ks = ks2).collect().map(_.getLong(0))
    assert(top.exists(_ % 2 == 0) && top.exists(_ % 2 != 0),
      s"merged search should span both halves: ${top.toSeq}")
  }

  test("approx_count_distinct within 5% of exact") {
    val li = Tables.t(spark, dir, "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).collect()(0)
      .getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey")))
      .collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
    // HLL++ has NO exact regime in Spark (no sparse mode — registers +
    // linear counting even at tiny cardinality; see COVERAGE.md), so
    // the hard invariant pinned instead is DETERMINISM: register
    // max-merge is commutative/associative, so the estimate must be
    // bit-identical across partitionings and merge orders.
    val byPart = Seq(1, 7, 32).map(n =>
      li.repartition(n).select(approx_count_distinct(col("l_partkey")))
        .collect()(0).getLong(0))
    assert(byPart.distinct.size == 1,
      s"estimate must be partitioning-invariant: $byPart")
    assert(byPart.head == approx, "and equal to the unrepartitioned run")
  }

  test("first_values/last_values bounded-heap agg matches sort+slice") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((1L, 10.0, "a"), (3L, 30.0, "a"), (2L, 20.0, "a"),
      (5L, 50.0, "b"), (4L, 40.0, "b"))
      .toDF("ord", "v", "g")
    val got = df.groupBy($"g").agg(
      call_function("first_values", $"v", $"ord", lit(2)).as("f2"),
      call_function("last_values", $"v", $"ord", lit(2)).as("l2"))
      .orderBy($"g").collect()
    assert(got(0).getSeq[Double](1) == Seq(10.0, 20.0))
    assert(got(0).getSeq[Double](2) == Seq(30.0, 20.0))
    assert(got(1).getSeq[Double](1) == Seq(40.0, 50.0))
    assert(got(1).getSeq[Double](2) == Seq(50.0, 40.0))
  }

  test("top_scored bounded heap matches the row_number window form") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // groups with ties on score (term breaks them) and k > group size
    val rows = for {
      g <- 1 to 5; i <- 1 to 20
    } yield (g, f"t${(i * 7) % 13}%02d-$i", ((i * 13) % 7).toDouble)
    val df = rows.toDF("g", "term", "score").repartition(6)
    val agg = df.groupBy($"g")
      .agg(call_function("top_scored", $"term", $"score", lit(3)).as("top"))
      .select($"g", explode($"top").as("e"))
      .select($"g", $"e.term", $"e.score")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"score".desc, $"term".asc)
    val win = df.withColumn("rn", row_number().over(w))
      .where($"rn" <= 3).select($"g", $"term", $"score")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(agg.sortBy(t => (t._1, t._2)).toSeq ==
      win.sortBy(t => (t._1, t._2)).toSeq)
    // partition-layout invariant (associative partial merges)
    val again = df.repartition(1).groupBy($"g")
      .agg(call_function("top_scored", $"term", $"score", lit(3)).as("top"))
      .select($"g", explode($"top").as("e"))
      .select($"g", $"e.term", $"e.score")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(again.sortBy(t => (t._1, t._2)).toSeq ==
      agg.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("top_scored_id widens integral ids, rejects others at analysis") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // INT ids previously ClassCastException'd mid-job (update() cast the
    // raw value to Long); now they widen at update time
    val df = Seq((1, 0.5), (2, 0.9), (3, 0.7)).toDF("id", "s")
    val got = df.agg(call_function("top_scored_id", $"id", $"s", lit(2))
        .as("top"))
      .select(explode($"top").as("e")).select($"e.id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 3L))
    // a STRING id must fail at ANALYSIS time, not at runtime
    val sdf = Seq(("a", 0.5)).toDF("id", "s")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      sdf.agg(call_function("top_scored_id", $"id", $"s", lit(2))).collect()
    }
    assert(ex.getMessage.contains("integral id"))
  }

  test("top_scored_id drops NaN scores deterministically") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // NaN compares false both ways, which would break the heap invariant
    // and make survivors depend on partition layout — NaN-scored entries
    // (cosine of a zero vector) must simply not compete
    val rows = Seq((1L, Double.NaN), (2L, 0.3), (3L, Double.NaN),
      (4L, 0.8), (5L, 0.5))
    for (parts <- Seq(1, 3, 7)) {
      val got = rows.toDF("id", "s").repartition(parts)
        .agg(call_function("top_scored_id", $"id", $"s", lit(3)).as("top"))
        .select(explode($"top").as("e")).select($"e.id")
        .collect().map(_.getLong(0)).toSeq
      assert(got === Seq(4L, 5L, 2L), s"parts=$parts")
    }
  }

  test("fused SimHash64 expression matches the composed-builtins form") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.t(spark, dir, "documents").limit(50)
      .select($"doc_id",
        transform(split(lower($"text"), "\\s+"), w => xxhash64(w)).as("hs"))
    val both = docs.select($"doc_id",
      Dedup.simhash64FromHashes($"hs").as("composed"),
      call_function("simhash64", $"hs").as("fused")).collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"mismatch for doc ${r.getLong(0)}"))
  }

  test("fused MinHashSignature matches the composed-builtins form") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.t(spark, dir, "documents").limit(50)
      .select($"doc_id", Dedup.shingles($"text", 2).as("sh"))
    val both = docs.select($"doc_id",
      Dedup.minhashSignature($"sh", 32).as("composed"),
      call_function("minhash_signature", $"sh", lit(32)).as("fused"))
      .collect()
    both.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
      s"mismatch for doc ${r.getLong(0)}"))
  }

  test("base62 roundtrip across edge values") {
    import graft.functions.Base62
    for (v <- Seq(0L, 1L, 61L, 62L, 3843L, -1L, -62L, Long.MaxValue,
        Long.MinValue + 1, Long.MinValue, 123456789012L))
      assert(Base62.decode(Base62.encode(v)) == v, s"roundtrip failed for $v")
    // past-Long input errors instead of silently wrapping
    intercept[IllegalArgumentException] {
      Base62.decode(org.apache.spark.unsafe.types.UTF8String
        .fromString("zzzzzzzzzzzz"))
    }
  }

  test("regexp_substr offset mapping matches the reference") {
    // reference RegexpSubstrFunction: >0 is 1-based, 0 is 0-based,
    // <0 counts back from the end; out of range → NULL
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(Tuple1("abc def ghi")).toDF("s")
    def sub(off: Int): Option[String] = {
      val r = df.select(call_function("regexp_substr", $"s",
        lit("[a-z]+"), lit(off))).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }
    assert(sub(1).contains("abc"))
    assert(sub(0).contains("abc"))
    assert(sub(5).contains("def")) // 1-based: index 4 = 'd'
    assert(sub(6).contains("ef"))
    assert(sub(-3).contains("ghi"))
    assert(sub(-50).isEmpty)
    assert(sub(50).isEmpty)
  }

  test("fused word_shingles matches the composed builtin form") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.t(spark, dir, "documents").limit(100)
      .select($"doc_id", split(lower($"text"), "\\s+").as("w"))
    val both = docs.select($"doc_id",
      Dedup.shinglesFromWords($"w", 2).as("composed"),
      call_function("word_shingles", $"w", lit(2)).as("fused")).collect()
    both.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2),
      s"mismatch for doc ${r.getLong(0)}"))
    // short-text and unigram cases
    val edge = Seq((1L, "one"), (2L, "a b a")).toDF("id", "t")
      .select($"id", split(lower($"t"), "\\s+").as("w"))
    val e = edge.select($"id",
      Dedup.shinglesFromWords($"w", 2).as("c"),
      call_function("word_shingles", $"w", lit(2)).as("f"),
      Dedup.shinglesFromWords($"w", 1).as("c1"),
      call_function("word_shingles", $"w", lit(1)).as("f1"))
      .orderBy($"id").collect()
    e.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2))
      assert(r.getSeq[String](3) == r.getSeq[String](4))
    }
  }

  test("shingles of short texts are empty, not an error") {
    import spark.implicits._
    val df = Seq((1L, "oneword"), (2L, "two words here")).toDF("id", "text")
    val got = df.select($"id", Dedup.shingles($"text", 2).as("sh"))
      .orderBy($"id").collect()
    assert(got(0).getSeq[String](1).isEmpty)
    assert(got(1).getSeq[String](1) == Seq("two words", "words here"))
  }

  test("multimodal stub features match their declared derivation") {
    val docs = Tables.t(spark, dir, "documents").limit(20)
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(docs))
      .collect()
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for (f <- feats) {
      val t = texts(f.media_id)
      assert(f.n_bytes == t.getBytes("UTF-8").length)
      assert(f.width == 16 * (1 + (t.getBytes("UTF-8")(0) & 0xFF) % 64))
      assert(Set("png", "jpeg", "webp").contains(f.format))
    }
  }

  test("quality classifier separates clean text from junk, filters deterministically") {
    import spark.implicits._
    val rng = new scala.util.Random(0x9AD3)
    val cleanWords = Seq("the", "and", "of", "to", "in", "is", "for",
      "with", "market", "growth", "science", "model", "people", "report")
    def clean(i: Long) = (i,
      (0 until 30).map(_ => cleanWords(rng.nextInt(cleanWords.length)))
        .mkString(" "), 1.0)
    def junk(i: Long) = (i,
      (0 until 30).map(_ => s"%%${rng.nextInt(99999)}##!!")
        .mkString(" "), 0.0)
    val labeled = ((1L to 150L).map(clean) ++ (151L to 300L).map(junk))
      .toDF("doc_id", "text", "label")
    val model = QualityFilter.train(labeled, "text", "label")
    // score a held-out set drawn from the same generators
    val held = ((1001L to 1050L).map(clean) ++ (1051L to 1100L).map(junk))
      .toDF("doc_id", "text", "label")
    val scored = QualityFilter.score(model, held, "text", "doc_id")
      .join(held.select("doc_id", "label"), "doc_id")
      .select("label", "quality_prob").collect()
    val goodMean = scored.filter(_.getDouble(0) == 1.0)
      .map(_.getDouble(1)).sum / 50
    val badMean = scored.filter(_.getDouble(0) == 0.0)
      .map(_.getDouble(1)).sum / 50
    assert(goodMean > 0.8 && badMean < 0.2,
      s"classifier must separate: good=$goodMean bad=$badMean")
    // the Pareto keep rule is deterministic under any partitioning and
    // keeps most clean docs while admitting only a junk tail
    def kept(parts: Int) = QualityFilter.filter(model,
        held.repartition(parts), "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k3 = kept(3)
    assert(k3 === kept(7), "filter must be partition-layout invariant")
    val keptGood = k3.count(_ <= 1050L)
    val keptBad = k3.count(_ > 1050L)
    assert(keptGood >= 45, s"most clean docs survive, got $keptGood/50")
    assert(keptBad <= 15, s"junk mostly filtered, got $keptBad/50 kept")
  }

  test("quality classifier ranking is stable under training-layout " +
      "variation — the evidence behind the no-golden-pin note") {
    // the recorded reason q_quality_classifier cannot be golden-pinned
    // is that float accumulation across partitions makes the trained
    // WEIGHTS bit-unstable under partition count; the contract is that
    // the RANKING the scores induce is stable. This drives the exact
    // variation source (training-input layout) and pins the contract.
    import spark.implicits._
    val rng = new scala.util.Random(0x51AB)
    val cleanWords = Seq("the", "and", "of", "to", "in", "is", "for",
      "with", "market", "growth", "science", "model", "people", "report")
    def clean(i: Long) = (i,
      (0 until 30).map(_ => cleanWords(rng.nextInt(cleanWords.length)))
        .mkString(" "), 1.0)
    def junk(i: Long) = (i,
      (0 until 30).map(_ => s"%%${rng.nextInt(99999)}##!!")
        .mkString(" "), 0.0)
    val labeled = ((1L to 150L).map(clean) ++ (151L to 300L).map(junk))
      .toDF("doc_id", "text", "label")
    val held = ((1001L to 1050L).map(clean) ++ (1051L to 1100L).map(junk))
      .toDF("doc_id", "text", "label")
    def ranking(trainParts: Int): Seq[Long] = {
      val m = QualityFilter.train(labeled.repartition(trainParts),
        "text", "label")
      QualityFilter.score(m, held, "text", "doc_id")
        .orderBy(col("quality_prob").desc, col("doc_id"))
        .collect().map(_.getLong(0)).toSeq
    }
    val a = ranking(3)
    val b = ranking(13)
    // Spearman rank correlation over the held set must be ~1: the
    // bit-different weights may permute near-ties, never the ordering
    val posA = a.zipWithIndex.toMap
    val posB = b.zipWithIndex.toMap
    val n = a.size.toDouble
    val d2 = a.map(id => {
      val d = posA(id) - posB(id); d.toDouble * d
    }).sum
    val spearman = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    assert(spearman > 0.98,
      s"ranking must be stable under training layout: rho=$spearman")
    // and the threshold behavior (clean above, junk below) holds for
    // BOTH layouts — the top half of either ranking is the clean half
    Seq(a, b).foreach { r =>
      val topCleanCount = r.take(50).count(_ <= 1050L)
      assert(topCleanCount >= 45,
        s"top-50 of the ranking must be clean docs, got $topCleanCount")
    }
  }

  test("ImageIoDecoder decodes real PNG/JPEG through the Spark pipeline") {
    import spark.implicits._
    // REAL images generated with the JDK's own encoder — round-tripping
    // through the distributed extractFeatures path proves the decode is
    // genuine, not a byte-statistics fake
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, png(37, 21, 0xFF8800), "image", "s1"),
      (2L, jpeg(64, 48), "image", "s1"),
      (3L, "not an image at all".getBytes("UTF-8"), "image", "s2")
    ).toDF("media_id", "payload", "kind", "source").repartition(2)
    val feats = Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder)
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).format == "png" &&
      feats(1L).width == 37 && feats(1L).height == 21)
    assert(feats(2L).format == "jpeg" &&
      feats(2L).width == 64 && feats(2L).height == 48)
    // corrupt payload degrades to a marker row, never a task failure
    assert(feats(3L).format == "unknown" && feats(3L).width == -1)
    // real resize: 37x21 -> 8x8, decodable, correct dims, color preserved
    val small = Multimodal.resizeImage(png(37, 21, 0xFF8800), 8, 8)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(small))
    assert(back.getWidth == 8 && back.getHeight == 8)
    assert((back.getRGB(4, 4) & 0xFFFFFF) == 0xFF8800)
    assert(Multimodal.resizeImage("junk".getBytes, 8, 8).isEmpty)
  }

  test("probeAudio reads real WAV headers through the Spark pipeline") {
    import spark.implicits._
    // a real 16-bit mono 8kHz WAV built with the JDK's own writer
    def wav(nFrames: Int, rate: Float, channels: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels, true,
        false)
      val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, wav(8000, 8000f, 1), "audio", "s1"),
      (2L, wav(441, 44100f, 2), "audio", "s1"),
      (3L, Array[Byte](1, 2, 3), "audio", "s2")
    ).toDF("media_id", "payload", "kind", "source").repartition(2)
    val metas = Multimodal.probeAudioFeatures(media)
      .collect().map(m => m.media_id -> m).toMap
    assert(metas(1L).format == "wav" && metas(1L).sample_rate == 8000.0 &&
      metas(1L).channels == 1 && metas(1L).frames == 8000L &&
      math.abs(metas(1L).seconds - 1.0) < 1e-9)
    assert(metas(2L).channels == 2 && metas(2L).sample_rate == 44100.0)
    assert(metas(3L).format == "unknown" && metas(3L).frames == 0L)
  }

  test("dHash: stable under resize and JPEG re-encode, far for unrelated") {
    val base = Multimodal.renderTextImage(
      (1 to 64).map(i => s"w$i").mkString(" "))
    val h = Multimodal.dhash64(base).get
    assert(Multimodal.dhash64(base).contains(h), "same bytes, same hash")
    // dHash re-normalizes to 9x8, so a 4x upscale must land within a few
    // bits — this is the resize-robustness contract of the fingerprint
    val up = Multimodal.resizeImage(base, 128, 128)
    assert(up.nonEmpty)
    val hUp = Multimodal.dhash64(up).get
    assert(java.lang.Long.bitCount(h ^ hUp) <= 6,
      s"resize moved ${java.lang.Long.bitCount(h ^ hUp)} bits")
    // lossy JPEG re-encode of the same pixels stays near
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(base))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val hJpg = Multimodal.dhash64(bos.toByteArray).get
    assert(java.lang.Long.bitCount(h ^ hJpg) <= 10,
      s"jpeg re-encode moved ${java.lang.Long.bitCount(h ^ hJpg)} bits")
    // an unrelated image reads ~32 bits away (each bit a fair coin)
    val other = Multimodal.dhash64(Multimodal.renderTextImage(
      (1 to 64).map(i => s"z$i").mkString(" "))).get
    assert(java.lang.Long.bitCount(h ^ other) >= 16,
      s"unrelated images only ${java.lang.Long.bitCount(h ^ other)} apart")
    // undecodable payloads drop instead of failing
    assert(Multimodal.dhash64("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.dhash64(null).isEmpty)
  }

  test("image near-dup blocking is complete vs brute force on real PNGs") {
    import spark.implicits._
    // planted structure through the REAL codec path: a one-word edit
    // renders one changed cell -> few dHash bits
    val t1 = (1 to 64).map(i => s"w$i").mkString(" ")
    val t2 = t1.replace(" w30 ", " changed ")
    val t3 = (1 to 64).map(i => s"z$i").mkString(" ")
    val planted = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
    val plantedPairs = Multimodal.imageNearDups(
        Multimodal.syntheticImages(planted), maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plantedPairs.contains((1L, 2L)),
      "one-word edit must surface as an image near-dup")
    assert(!plantedPairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated image must not pair")
    // blocking completeness: chunk-pigeonhole pairs == brute force over
    // the fixture corpus (undecodables already dropped by imageHashes)
    val media = Multimodal.syntheticImages(
      Tables.t(spark, dir, "documents").limit(120))
    val sigs = Multimodal.imageHashes(media)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 6
    } yield (ia, ib, d)).toSet
    val blocked = Multimodal.imageNearDups(media, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked === brute,
      s"blocking lost/invented pairs: ${blocked.size} vs ${brute.size}")
  }

  test("incremental simhash dedup == delta-touching subset of batch") {
    val docs = Tables.t(spark, dir, "documents").limit(400)
    val batch = Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inc = Dedup.simhashNearDupsIncremental(
        Dedup.simhashSignatures(docs.where(col("doc_id") >= 100),
          "text", "doc_id"),
        docs.where(col("doc_id") < 100), "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(inc === batch.filter(p => p._1 < 100 || p._2 < 100),
      s"inc ${inc.size} vs batch-delta " +
        s"${batch.count(p => p._1 < 100 || p._2 < 100)}")
    assert(inc.nonEmpty, "fixture must plant delta-touching near-dups")
  }

  test("incremental multimodal dedup == delta-touching subset of batch") {
    // the prepared path must report exactly the batch pairs that touch
    // the delta — nothing lost (recall), nothing corpus-internal
    // re-reported (the ingest contract)
    val docs = Tables.t(spark, dir, "documents").limit(300)
    val corpusDocs = docs.where(col("doc_id") >= 100)
    val deltaDocs = docs.where(col("doc_id") < 100)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val imgBatch = pairSet(Multimodal.imageNearDups(
      Multimodal.syntheticImages(docs), maxHamming = 6))
    val imgInc = pairSet(Multimodal.imageNearDupsIncremental(
      Multimodal.imageHashes(Multimodal.syntheticImages(corpusDocs)),
      Multimodal.syntheticImages(deltaDocs), maxHamming = 6))
    assert(imgInc === imgBatch.filter(p => p._1 < 100 || p._2 < 100),
      s"image: inc ${imgInc.size} vs batch-delta " +
        s"${imgBatch.count(p => p._1 < 100 || p._2 < 100)}")
    assert(imgInc.nonEmpty, "fixture must plant delta-touching image dups")
    // the index-served path (persisted bucket table, pushed key
    // predicate) must give the identical pair set
    val imgIdx = pairSet(Dedup.hammingNearDups64Indexed(
      Dedup.hammingBuckets64(
        Multimodal.imageHashes(Multimodal.syntheticImages(corpusDocs)),
        maxHamming = 6, cleanChunks = 2),
      Multimodal.imageHashes(Multimodal.syntheticImages(deltaDocs)),
      maxHamming = 6, cleanChunks = 2))
    assert(imgIdx === imgInc,
      "indexed probe must equal the signature-table incremental path")
    // pushdown pin: against a PERSISTED bucket table the delta's
    // occupied-key predicate must reach the parquet scan (row-group
    // pruning is the reason the indexed path is sub-linear)
    val bdir = TempDir("graft_idx_push").toString
    Dedup.hammingBuckets64(
        Multimodal.imageHashes(Multimodal.syntheticImages(corpusDocs)),
        maxHamming = 6, cleanChunks = 2)
      .repartition(col("chunk_idx"))
      .sortWithinPartitions("chunk_idx", "chunk")
      .write.mode("overwrite").parquet(bdir)
    val idxPlan = Dedup.hammingNearDups64Indexed(
        spark.read.parquet(bdir),
        Multimodal.imageHashes(Multimodal.syntheticImages(deltaDocs)),
        maxHamming = 6, cleanChunks = 2)
      .queryExecution.executedPlan.toString
    assert(idxPlan.contains("PushedFilters: [Or(") ||
      idxPlan.contains("PushedFilters: [And("),
      s"delta bucket keys must push into the bucket-table scan:\n$idxPlan")

    val audBatch = pairSet(Multimodal.audioNearDups(
      Multimodal.syntheticAudio(docs), maxHamming = 6))
    val audInc = pairSet(Multimodal.audioNearDupsIncremental(
      Multimodal.audioHashes(Multimodal.syntheticAudio(corpusDocs)),
      Multimodal.syntheticAudio(deltaDocs), maxHamming = 6))
    assert(audInc === audBatch.filter(p => p._1 < 100 || p._2 < 100),
      s"audio: inc ${audInc.size} vs batch-delta " +
        s"${audBatch.count(p => p._1 < 100 || p._2 < 100)}")
    assert(audInc.nonEmpty, "fixture must plant delta-touching audio dups")
  }

  test("hammingBuckets64 drops degenerate buckets at build, so the " +
      "stream probe can't fan out against a boilerplate slice") {
    import spark.implicits._
    // 20 boilerplate corpus signatures (sig = 0: every blocking key
    // identical) + one genuine near-dup pair with distinctive low bits
    val sigs = ((1L to 20L).map(i => (i, 0L)) ++
      Seq((100L, 0x0F0FL), (101L, 0x0F0EL))).toDF("id", "sig")
    val buckets = Dedup.hammingBuckets64(sigs, maxHamming = 6,
      cleanChunks = 2, maxBucket = 8).localCheckpoint()
    // the boilerplate slice's keys are all over-cap → dropped entirely
    assert(buckets.where(col("corpus_id") <= 20L).count() == 0,
      "degenerate buckets must not survive the build")
    // the genuine pair's DISTINCTIVE keys survive (their all-zero
    // chunk-pair keys are shared with the boilerplate and drop — the
    // same recall tradeoff the batch cap takes)
    assert(buckets.where(col("corpus_id") >= 100L).count() > 0)
    // probe: finds the genuine near-dups only, once per shared key
    val probe = Seq((200L, 0x0F0EL)).toDF("id", "sig")
    val hits = graft.streaming.EventStreams
      .hammingNearDupStream(probe, buckets, maxHamming = 6,
        cleanChunks = 2)
      .select("id", "corpus_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((200L, 100L), (200L, 101L)))
  }

  test("audio fingerprint: volume/container invariant, far for unrelated") {
    val base = Multimodal.renderTextAudio(
      (1 to 65).map(i => s"w$i").mkString(" "))
    val h = Multimodal.audioFingerprint64(base).get
    assert(Multimodal.audioFingerprint64(base).contains(h))
    // uniform volume scaling preserves every RMS comparison
    def rescale(wav: Array[Byte], gain: Double): Array[Byte] = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val fmt = in.getFormat
      val bytes = in.readAllBytes(); in.close()
      var i = 0
      while (i < bytes.length - 1) {
        val s = (((bytes(i) & 0xFF) | (bytes(i + 1) << 8)).toShort * gain)
          .toInt.toShort
        bytes(i) = (s & 0xFF).toByte; bytes(i + 1) = (s >> 8).toByte
        i += 2
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt,
        bytes.length / fmt.getFrameSize)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val hQuiet = Multimodal.audioFingerprint64(rescale(base, 0.5)).get
    assert(java.lang.Long.bitCount(h ^ hQuiet) <= 2,
      s"volume scaling moved ${java.lang.Long.bitCount(h ^ hQuiet)} bits")
    // lossless container re-encode (WAV -> AIFF, big-endian PCM) is exact
    val in2 = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(base))
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in2,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos2)
    assert(Multimodal.audioFingerprint64(bos2.toByteArray).contains(h),
      "AIFF re-encode must fingerprint identically")
    // unrelated clip lands far away
    val other = Multimodal.audioFingerprint64(Multimodal.renderTextAudio(
      (1 to 65).map(i => s"z$i").mkString(" "))).get
    assert(java.lang.Long.bitCount(h ^ other) >= 16)
    // undecodable / too-short payloads drop
    assert(Multimodal.audioFingerprint64("junk".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.audioFingerprint64(null).isEmpty)
  }

  test("audio near-dup blocking matches brute force; edits surface") {
    import spark.implicits._
    val t1 = (1 to 65).map(i => s"w$i").mkString(" ")
    val t2 = t1.replace(" w30 ", " changed ")
    val t3 = (1 to 65).map(i => s"z$i").mkString(" ")
    val planted = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
    val pairs = Multimodal.audioNearDups(
        Multimodal.syntheticAudio(planted), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      "one-word edit must surface as an audio near-dup")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val media = Multimodal.syntheticAudio(
      Tables.t(spark, dir, "documents").limit(120))
    val sigs = Multimodal.audioHashes(media)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 6
    } yield (ia, ib, d)).toSet
    val blocked = Multimodal.audioNearDups(media, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked === brute,
      s"blocking lost/invented pairs: ${blocked.size} vs ${brute.size}")
  }

  test("frame sampling explodes payloads into deterministic frame rows") {
    val docs = Tables.t(spark, dir, "documents").limit(10)
    val media = Multimodal.mediaTable(docs)
    val frames = Multimodal.sampleFrames(media, frames = 4).collect()
    assert(frames.length == 40, s"10 docs × 4 frames, got ${frames.length}")
    val byDoc = frames.groupBy(_.media_id)
    byDoc.values.foreach { fs =>
      assert(fs.map(_.frame_idx).sorted.sameElements(0 until 4))
      assert(fs.forall(_.frame_bytes.nonEmpty))
    }
    // deterministic: second run produces identical digests
    val again = Multimodal.sampleFrames(media, frames = 4).collect()
    assert(frames.map(f => (f.media_id, f.frame_idx, f.frame_digest)).toSet ==
      again.map(f => (f.media_id, f.frame_idx, f.frame_digest)).toSet)
    // resize stub bounds
    val rs = Multimodal.resizeStub(Array.tabulate(1000)(_.toByte), 64)
    assert(rs.length == 64)
  }

  test("upsert snapshot keeps exactly one row per key") {
    val q = SparkEntry.queries("q_upsert_snapshot")(spark, dir)
    val n = q.count()
    val keys = q.select("l_orderkey").distinct().count()
    assert(n == keys, "snapshot must be unique per PK")
  }

  test("connected components: chains, singletons, min-label representative") {
    import spark.implicits._
    // component {1,2,3,4} as a chain (diameter 3 — needs >1 round),
    // component {10,11}, singletons 20, 21
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L))
  }

  test("sequence packing: two-phase prefix sum equals the global cumsum") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
      .withColumn("n_tok", size(split(trim($"text"), "\\s+")))
    val got = Curation.packSequences(docs, "doc_id", "n_tok",
        budget = 1024L, partitions = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // reference: driver-side cumsum in hash order
    val rows = docs.select($"doc_id", $"n_tok".cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, _) =>
        java.lang.Long.remainderUnsigned(id * 2654435761L, 4294967296L)
      }
    var off = 0L
    val want = rows.map { case (id, n) =>
      val o = off; off += n; (id, n, o, o / 1024L)
    }.toSet
    assert(got.toSet == want)
    // every token is accounted for: last offset + its length = total
    assert(off == rows.map(_._2).sum)
  }

  test("contamination: a benchmark is fully contaminated against itself") {
    val docs = Tables.t(spark, dir, "documents")
    val rep = Curation.contamination(docs, docs, "text", "doc_id", n = 4)
      .collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      assert(r.getAs[Double]("overlap_frac") == 1.0)
      assert(r.getAs[Int]("contaminated") == 1)
    }
  }

  test("deterministic split and stratified sample are stable and honor rates") {
    val docs = Tables.t(spark, dir, "documents")
    val a = Curation.trainValTestSplit(docs, "doc_id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Curation.trainValTestSplit(docs, "doc_id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, "split assignment must be deterministic")
    val n = docs.count().toDouble
    assert(math.abs(a("train") / n - 0.8) < 0.1)
    // rate 1.0 keeps every row of the stratum; rate 0.0 keeps none
    val kept = Curation.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 1.0, "de" -> 0.0), defaultRate = 0.0)
    val keptLangs = kept.select("lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(keptLangs == Set("en"))
    assert(kept.count() ==
      docs.where(col("lang") === "en").count())
  }

  test("cross-doc duplicated-gram fraction: planted duplication scores") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"), // shares the full text with doc 2
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x"), // unique text
      (4L, "a b c d e z z z"), // half-overlapping prefix with 1/2
      (5L, "a b c") // shorter than n: no grams
    ).toDF("doc_id", "text")
    val out = Dedup.crossDocDupGrams(docs, "text", "doc_id", n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(!out.contains(5L), "sub-n docs have no grams")
    assert(out(1L) === ((4L, 4L, 1.0))) // every gram recurs (doc 2)
    assert(out(2L) === ((4L, 4L, 1.0)))
    assert(out(3L) === ((4L, 0L, 0.0))) // nothing recurs
    // doc 4: grams 'a b c d e' (shared) + 3 unique → 1/4
    assert(out(4L) === ((4L, 1L, 0.25)))
  }

  test("hashed-gram mode of dup-gram fraction equals the exact strings") {
    val docs = Tables.t(spark, dir, "documents")
    def rows(hashed: Boolean) =
      Dedup.crossDocDupGrams(docs, "text", "doc_id", n = 5,
          hashGrams = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    assert(rows(hashed = true) === rows(hashed = false))
  }

  test("approx quantile buckets agree with exact on nearly every doc") {
    val docs = Tables.t(spark, dir, "documents")
    val scored = graft.operators.TextAnalysis.unigramLogProb(
      docs, "text", "doc_id")
    def buckets(exact: Boolean) =
      Curation.scoreBuckets(scored, "avg_neg_logp",
          Seq(0.25, 0.5, 0.75), exact = exact)
        .select("doc", "bucket").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val e = buckets(exact = true)
    val a = buckets(exact = false)
    assert(e.values.toSet === Set(0, 1, 2, 3), "all four bands populated")
    // approx thresholds may shift rows AT band boundaries only
    val agree = e.keys.count(k => e(k) == a(k)).toDouble / e.size
    assert(agree >= 0.95, s"approx/exact bucket agreement $agree too low")
  }

  test("prefix-filtered containment equals the cross-join form (complete)") {
    import org.apache.spark.sql.types.DoubleType
    val docs = Tables.t(spark, dir, "documents")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = key(Dedup.containmentPairs(docs, "text", "doc_id", t = 0.4)
      .collect())
    val sh = docs
      .select(col("doc_id").as("id"),
        split(lower(trim(col("text"))), "\\s+").as("w"))
      .select(col("id"), Dedup.shinglesFromWords(col("w"), 2).as("sh"))
      .where(size(col("sh")) > 0)
    val naive = key(sh.toDF("id_a", "sh_a")
      .crossJoin(sh.toDF("id_b", "sh_b"))
      .where(col("id_a") =!= col("id_b"))
      // filter UNROUNDED, round for display — SQL comparison semantics,
      // matching both containmentPairs and the DuckDB oracle
      .withColumn("__c", size(array_intersect(col("sh_a"), col("sh_b")))
        .cast(DoubleType) / size(col("sh_a")))
      .where(col("__c") >= 0.4)
      .select(col("id_a"), col("id_b"), round(col("__c"), 8).as("c"))
      .collect())
    assert(got === naive, "prefix filter must lose NO pair (complete)")
    assert(got.nonEmpty)
  }

  test("span dedup keeps first occurrences, rebuilds docs, drops repeats") {
    import spark.implicits._
    // doc 1: two distinct spans A B. doc 2: span B (dup of doc 1's) then
    // unique span C. doc 3: entirely doc 1's spans → fully dropped.
    // spanWords=3 keeps the fixture readable.
    val a = "w1 w2 w3"; val b = "x1 x2 x3"; val c = "y1 y2 y3"
    val docs = Seq(
      (1L, s"$a $b"), (2L, s"$b $c"), (3L, s"$a $b")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "text", "doc_id", spanWords = 3)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (1L, 2L, 2L, s"$a $b"), // first occurrence of both spans
      (2L, 2L, 1L, c),        // b cut (doc 1 owns it), c kept
      (3L, 2L, 0L, "")))      // fully duplicated → empty
    // within-doc repeats collapse too (first position wins)
    val rep = Seq((7L, s"$a $a $c")).toDF("doc_id", "text")
    val r7 = Dedup.dedupSpans(rep, "text", "doc_id", spanWords = 3)
      .collect()(0)
    assert(r7.getLong(2) == 2L && r7.getString(3) == s"$a $c")
    // partition-layout invariance: min(struct) winners are deterministic
    val big = Tables.t(spark, dir, "documents")
    val one = Dedup.dedupSpans(big.repartition(1), "text", "doc_id")
      .orderBy("doc").collect().toSeq
    val many = Dedup.dedupSpans(big.repartition(13), "text", "doc_id")
      .orderBy("doc").collect().toSeq
    assert(one === many && one.nonEmpty)
  }

  test("fingerprint distinguishes non-Latin docs, unifies whitespace forms") {
    import spark.implicits._
    // an ASCII-only character class collapsed every non-Latin doc to
    // md5('') — a dedup pass would silently discard a whole CJK corpus
    val docs = Seq(
      (1L, "这是第一个文档"), (2L, "这是完全不同的文档"),
      (3L, "هذا نص عربي"), (4L, "hello\tworld"), (5L, " hello world "),
      (6L, "hello, world!")
    ).toDF("doc_id", "text")
      .select($"doc_id", Dedup.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docs(1L) != docs(2L), "distinct Chinese docs must differ")
    assert(docs(1L) != docs(3L))
    assert(docs(4L) == docs(5L), "tab/space/pad variants must unify")
    assert(docs(4L) == docs(6L), "punctuation-stripped form must match")
  }

  test("connected components converge correctly on STRING vertex ids") {
    import spark.implicits._
    // the old DECIMAL-cast label-sum convergence check returned NULL→0
    // for string ids every round and declared convergence after one
    // propagation step, silently splitting long chains
    val vertices = Seq("a", "b", "c", "d", "e", "z").toDF("id")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(vertices, edges, maxIter = 10)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a", "b", "c", "d", "e").forall(labels(_) == "a"),
      s"whole chain must share the min label: $labels")
    assert(labels("z") == "z")
  }

  test("simhash recall is complete vs brute force at maxHamming 8") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the fixed 4×16-bit blocking only guaranteed recall for dist ≤ 3;
    // with maxHamming+1 chunks the pigeonhole bound covers any threshold
    val docs = Tables.t(spark, dir, "documents")
    val sigs = docs
      .select($"doc_id".as("id"),
        transform(split(lower($"text"), "\\s+"), w => xxhash64(w)).as("hs"))
      .select($"id", call_function("simhash64", $"hs").as("sig"))
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .where($"a.id" < $"b.id" &&
        Dedup.hamming64($"a.sig", $"b.sig") <= 8)
      .select($"a.id", $"b.id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute, "blocked join must lose NO pair vs brute force")
    assert(brute.nonEmpty, "fixture should contain dist<=8 pairs")
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 16)
    }
  }

  test("chunk-PAIR blocking recalls through dense marginals the " +
      "single-chunk cap drops") {
    import spark.implicits._
    // The regime the 30x image rehearsal measured (68% of single-chunk
    // rows in capped buckets): one chunk VALUE shared corpus-wide (a
    // template region), so its single-chunk bucket is over cap and a
    // near-pair whose only clean chunks are dense marginals is silently
    // dropped — while the chunk-PAIR key (both clean chunks at once)
    // isolates exactly the pair. Construction (8-bit chunks, byte k =
    // bits [8k, 8k+8)):
    //  - greedy byte codes, even (bit 8 of the sig must stay 0 so the
    //    7-chunk single mode's chunk0 = bits [0,9) is one dense value),
    //    pairwise AND vs-zero popcount >= 3;
    //  - filler i: byte0 = 0, bytes1..7 = code_i -> pairwise dist >= 21,
    //    never near-dups;
    //  - P: bytes0..1 = 0, bytes2..7 = code_p; Q = P with ONE bit
    //    flipped in each of bytes2..7 (dist exactly 6, bits 17..62
    //    chosen to dirty all of the 7-chunk mode's chunks 1..6);
    //  - every item shares chunk0 = 0 (the dense marginal), only P and
    //    Q also share chunk1 = 0.
    val codes = Iterator.from(2, 2).take(127)
      .map(_.toLong).foldLeft(Vector.empty[Long]) { (acc, c) =>
        if (java.lang.Long.bitCount(c) >= 3 &&
          acc.forall(a => java.lang.Long.bitCount(a ^ c) >= 3)) acc :+ c
        else acc
      }
    assert(codes.size >= 10, s"need >= 10 codes, got ${codes.size}")
    val fillers = codes.dropRight(1)
    val p = codes.last
    val sigP = (2 to 7).map(k => p << (8 * k)).reduce(_ | _)
    val sigQ = sigP ^ Seq(17, 26, 35, 44, 53, 62)
      .map(1L << _).reduce(_ | _)
    val sigs = fillers.zipWithIndex.map { case (c, i) =>
      (i.toLong, (1 to 7).map(k => c << (8 * k)).reduce(_ | _)) } ++
      Seq((100L, sigP), (101L, sigQ))
    val df = sigs.toDF("id", "sig")
    // ground truth: exactly the planted pair
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield (ia, ib)).toSet
    assert(brute === Set((100L, 101L)), s"fixture broken: $brute")
    val cap = sigs.size - 2 // the corpus-wide chunk0 bucket is over cap
    val single = Dedup.hammingNearDups64(df, maxHamming = 6,
        maxBucket = cap, cleanChunks = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single === Set.empty,
      s"single-chunk mode should drop the pair via the cap, got $single")
    val paired = Dedup.hammingNearDups64(df, maxHamming = 6,
        maxBucket = cap, cleanChunks = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(paired === brute,
      "pair blocking must recall through the dense marginals")
    // and with no cap pressure both modes are complete
    val singleUncapped = Dedup.hammingNearDups64(df, maxHamming = 6,
        cleanChunks = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(singleUncapped === brute)
  }

  test("bm25 ranks by term frequency, rarity, and length normalization") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark filler filler filler filler filler"), // tf=3
      (2L, "spark filler filler filler filler filler filler filler"), // tf=1
      (3L, "spark spark spark"), // tf=3, short doc → higher than doc 1
      (4L, "filler filler filler filler filler filler filler filler"), // no hit
      (5L, "rare spark filler filler filler filler filler filler")) // 2 terms
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis
      .bm25TopK(docs, "text", "doc_id", Seq("spark", "rare"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val rank = got.map(_._1).toSeq
    val score = got.toMap
    // doc 4 has no query term → absent entirely
    assert(!score.contains(4L))
    // rare term dominates: doc 5 holds both 'rare' (df=1) and 'spark'
    assert(rank.head == 5L)
    // same tf, shorter doc wins (length normalization): 3 above 1
    assert(score(3L) > score(1L))
    // higher tf wins at equal length: 1 above 2
    assert(score(1L) > score(2L))
    // scores strictly positive and sorted desc
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq)
    assert(got.forall(_._2 > 0))
  }

  test("mmr demotes near-duplicates and keeps pure relevance for pick #1") {
    import spark.implicits._
    // items 1 and 2 are identical vectors (near-dups) with top relevance;
    // item 3 is orthogonal with lower relevance
    val pool = Seq(
      (1L, 1.00, Array(1.0f, 0.0f)),
      (2L, 0.99, Array(1.0f, 0.0f)),
      (3L, 0.50, Array(0.0f, 1.0f)))
      .toDF("id", "rel", "vec")
    val got = operators.Similarity
      .mmrSelect(pool, "id", "rel", "vec", k = 3, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // pick 1: highest relevance. pick 2: item 2 scores .5*.99-.5*1.0 < 0,
    // item 3 scores .5*.5-.5*0 = .25 → the DIVERSE item wins despite
    // lower relevance. pick 3: the duplicate comes last.
    assert(got.toSeq == Seq((1L, 1), (3L, 2), (2L, 3)))
    // deterministic across runs
    val again = operators.Similarity
      .mmrSelect(pool, "id", "rel", "vec", k = 3, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(again.toSeq == got.toSeq)
    // oversized pool fails loudly instead of silently truncating
    val e = intercept[IllegalArgumentException] {
      operators.Similarity.mmrSelect(pool, "id", "rel", "vec",
        k = 2, maxPool = 2)
    }
    assert(e.getMessage.contains("maxPool"))
  }

  test("hybrid RRF fuses both branches, two-branch docs beat one-branch") {
    import spark.implicits._
    // doc 1: top of BOTH branches; doc 2: sparse-only; doc 3: dense-only
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark spark filler"),
      (3L, "filler filler filler"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), // query
      (1L, Array(0.99f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.3f)))
      .toDF("vec_id", "embedding")
    val got = operators.Similarity.hybridTopK(
        docs, "text", "doc_id", emb, "embedding", "vec_id",
        Seq("spark"), queryVecId = 0L, k = 10, poolSize = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val score = got.toMap
    // doc 1 leads both branches → rrf = 1/61 + 1/62; beats everything
    assert(got.head._1 == 1L)
    assert(math.abs(score(1L) - (1.0 / 61 + 1.0 / 62)) < 1e-12)
    // two-branch presence beats a single branch at any achievable rank
    // here; docs 2 and 3 each appear in exactly one branch
    assert(score(1L) > score(2L) && score(1L) > score(3L))
    // the query row itself (vec_id 0) ranks in the dense branch but has
    // no document text — it still fuses in via the full outer join
    assert(score.contains(0L))
  }

  test("degenerate LSH bucket drops in O(maxBucket) memory, healthy pairs survive") {
    import spark.implicits._
    // 50k identical boilerplate docs share every signature chunk — the
    // exact shape the capped collect guards: each (chunk_idx, chunk)
    // bucket holds all 50k members and must tombstone at maxBucket
    // instead of materializing (the pre-round-8 collect-then-filter
    // shape buffered the full bucket before dropping it). Two healthy
    // near-dup docs ride along and must still pair up.
    val boiler = spark.range(100000, 150000)
      .select($"id".as("doc_id"), lit("the same boilerplate text").as("text"))
    val healthy = Seq(
      (1L, "a genuinely unique document about spark shuffles and joins"),
      (2L, "a genuinely unique document about spark shuffles and joins"))
      .toDF("doc_id", "text")
    val pairs = operators.Dedup.simhashNearDups(
        boiler.union(healthy), "text", "doc_id",
        maxHamming = 3, maxBucket = 1000)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"boilerplate bucket must drop, healthy pair must survive: $pairs")
  }

  test("packing offsets stay sequential when hash keys collide") {
    import spark.implicits._
    // ids 1 and 2^32+1 share k = id*2654435761 mod 2^32; the old RANGE
    // window frame gave both peers the full peer-group sum (overlapping
    // offsets + a hole). The ROWS frame with a doc tie-break packs them
    // back-to-back.
    val df = Seq((1L, 10L), (4294967297L, 10L), (7L, 5L))
      .toDF("doc_id", "n_tok")
    val out = Curation.packSequences(df, "doc_id", "n_tok", budget = 2048,
        partitions = 2)
      .orderBy("offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // tiling: each offset = previous offset + previous n_tok, no overlap
    // and no hole (doc 7's key sorts first; the two colliding ids pack
    // back-to-back via the doc tie-break)
    val tiles = out.scanLeft(0L) { case (expected, (_, nTok, offset)) =>
      assert(offset == expected,
        s"offsets must tile the stream with no overlap: ${out.toSeq}")
      offset + nTok
    }
    assert(tiles.last == out.map(_._2).sum)
  }

  test("hashFrac is ANSI-overflow-safe and exact for huge ids") {
    import spark.implicits._
    // Spark 4 defaults to ANSI mode: the naive id*2654435761 overflows a
    // signed long for ids >= ~3.47e9 and kills the job; the split-hash
    // form must return the same value mod 2^32 without overflowing
    val ids = Seq(0L, 1L, 3474169299L, 4000000000L, Long.MaxValue, -17L)
    val got = ids.toDF("id")
      .select($"id", Curation.hashFrac($"id").as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ids.foreach { id =>
      val expected = (((BigInt(id) * BigInt(2654435761L)) mod
        BigInt(4294967296L)).toDouble / 4294967296.0 + 1.0) % 1.0
      assert(math.abs(got(id) - expected) < 1e-12,
        s"id=$id: ${got(id)} != $expected")
    }
  }

  test("zero-vector NaN rows never enter cosine top-k results") {
    import spark.implicits._
    val emb = (1L to 20L).map(i =>
        (i, List.tabulate(8)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
      .union(Seq((99L, List.fill(8)(0f))).toDF("vec_id", "embedding"))
    // NaN (cosine of the zero vector) sorts above every real double in
    // a desc sort — the garbage row would otherwise take the #1 slot
    val top = Similarity.cosineTopK(emb, "embedding", "vec_id",
        queryId = 1L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(!top.map(_._1).contains(99L), s"zero vector must not rank: ${top.toSeq}")
    assert(top.forall(t => !t._2.isNaN))
    assert(top.head._1 == 1L, "query row itself is the nearest neighbor")
  }

  test("incremental span dedup equals the full path on delta docs") {
    val docs = Tables.t(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") < 250)
    val delta = docs.where(col("doc_id") >= 250)
    val winners = Dedup.spanWinnerTable(corpus, "text", "doc_id")
    val inc = Dedup.incrementalDedupSpans(winners, delta, "text", "doc_id")
      .orderBy("doc").collect().toSeq
    // corpus ids order before delta ids, so the full path's winners over
    // corpus∪delta restricted to delta docs must match exactly
    val full = Dedup.dedupSpans(docs, "text", "doc_id")
      .where(col("doc") >= 250).orderBy("doc").collect().toSeq
    assert(inc === full && inc.nonEmpty)
    // and a span first seen in the delta survives exactly once there
    assert(inc.exists(_.getLong(2) > 0), "some delta spans must survive")
  }

  test("containment guard fires on a flat vocabulary, silent on diverse") {
    import spark.implicits._
    // flat corpus: every doc shares the same tiny vocabulary, so even the
    // globally rarest prefix token is in (nearly) every doc — candidate
    // generation degenerates toward quadratic and must fail LOUDLY
    val flat = (1L to 120L).map { i =>
      val w = Seq("aa", "bb", "cc", "dd")
      (i, (0 until 12).map(j => w(((i + j) % 4).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.containmentPairs(flat, "text", "doc_id", t = 0.5,
        maxPrefixDf = 50).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("containmentPairs")),
      s"expected the containmentPairs guard message, got: $ex")
    // diverse (Zipf-ish) corpus: each doc carries unique rare tokens, so
    // every prefix token is rare and the guard stays silent at the same
    // threshold
    val diverse = (1L to 120L).map { i =>
      val rare = (0 until 10).map(j => s"tok${i}_$j").mkString(" ")
      (i, s"the and of $rare")
    }.toDF("doc_id", "text")
    val n = Dedup.containmentPairs(diverse, "text", "doc_id", t = 0.5,
      maxPrefixDf = 50).count()
    assert(n === 0L, "unique-vocab docs contain no near-dup pairs")
  }

  test("incremental near-dups equal the full path's delta-touching pairs") {
    val docs = Tables.t(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") < 150)
    val delta = docs.where(col("doc_id") >= 150)
    val inc = Dedup.incrementalNearDups(corpus, delta,
        "text", "doc_id", threshold = 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a >= 150 || b >= 150 }
    assert(inc === expected)
    assert(inc.nonEmpty, "fixture should contain delta-touching pairs")
    assert(full.exists { case (a, b) => a < 150 && b < 150 },
      "fixture should contain corpus-internal pairs the incremental " +
        "path skips — otherwise this test proves nothing")
    // the prepared-signature path (persisted corpus signatures, corpus
    // text shingled only for prune survivors) must be pair-identical
    val prepared = Dedup.incrementalNearDupsPrepared(
        Dedup.signatureTable(corpus, "text", "doc_id"), corpus, delta,
        "text", "doc_id", threshold = 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prepared === inc)
  }

  test("incremental exact dedup classifies corpus/delta/new correctly") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha beta"), // dup of corpus doc 1
      (11L, "epsilon zeta"), // new, survivor
      (12L, "epsilon zeta"), // dup within the delta
      (13L, "eta theta") // new
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, delta, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(3)))
      .toMap
    assert(out === Map(
      10L -> ("dup_of_corpus", 1L),
      11L -> ("new", 11L),
      12L -> ("dup_in_delta", 11L),
      13L -> ("new", 13L)))
  }

  test("weighted sample is heavy-biased, layout-stable, and top-k planned") {
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "n_chars")
    val q = Curation.weightedSample(docs, "doc_id", "n_chars", k = 100)
    val picked = q.collect().map(r => r.getLong(0)).toSet
    val again = Curation.weightedSample(docs.repartition(7),
      "doc_id", "n_chars", k = 100).collect().map(r => r.getLong(0)).toSet
    assert(picked === again, "selection must not depend on layout")
    val corpusMean = docs.agg(avg(col("n_chars"))).head().getDouble(0)
    val pickedMean = docs.where(col("doc_id").isin(picked.toSeq: _*))
      .agg(avg(col("n_chars"))).head().getDouble(0)
    assert(pickedMean > corpusMean,
      s"weighting must bias toward long docs ($pickedMean vs $corpusMean)")
    assert(q.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"),
      "top-k must be per-partition heads, not a global sort")
    // weight <= 0 = zero selection probability; the NaN key would
    // otherwise sort above every real candidate and win the sample
    val rigged = docs.withColumn("w",
      when(col("doc_id") === 7L, 0L).otherwise(col("n_chars")))
    val sampled = Curation.weightedSample(rigged, "doc_id", "w", k = 100)
      .collect().map(_.getLong(0)).toSet
    assert(!sampled.contains(7L), "zero-weight rows must never be sampled")
  }

  test("split packing: pieces tile every bin exactly and rebuild each doc") {
    val docs = Tables.t(spark, dir, "documents")
      .withColumn("n_tok",
        graft.operators.TextAnalysis.tokenCount(col("text")))
    val budget = 64L // small bins so many docs straddle boundaries
    val pieces = Curation.packSequencesSplit(docs, "doc_id", "n_tok", budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val total = docs.agg(sum(col("n_tok"))).head().getLong(0)
    // pieces cover the whole token stream with no overlap: every bin but
    // the last is exactly full, and per-bin offsets tile [0, budget)
    assert(pieces.map(_._4).sum === total)
    val byBin = pieces.groupBy(_._2)
    val lastBin = byBin.keys.max
    byBin.foreach { case (bin, ps) =>
      val sorted = ps.sortBy(_._3)
      assert(sorted.head._3 === 0L, s"bin $bin must start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 + a._4 === b._3, s"gap/overlap in bin $bin")
        case _ =>
      }
      if (bin != lastBin)
        assert(sorted.map(_._4).sum === budget, s"bin $bin must be full")
    }
    // per-doc: doc_offset pieces concatenate to the full document
    pieces.groupBy(_._1).foreach { case (doc, ps) =>
      val sorted = ps.sortBy(_._5)
      assert(sorted.head._5 === 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + a._4 === b._5,
          s"doc $doc pieces must be contiguous")
        case _ =>
      }
    }
    assert(pieces.groupBy(_._1).values.exists(_.length > 1),
      "fixture must contain boundary-straddling docs")
  }

  test("dsir weights rank target-like documents above raw-like ones") {
    val docs = Tables.t(spark, dir, "documents")
    val w = Curation.dsirWeights(docs, "text", "doc_id",
      col("lang") === "en")
    val byDoc = w.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byDoc.size == langOf.size, "every doc must get a weight")
    def mean(xs: Iterable[Double]) = xs.sum / xs.size
    val en = mean(byDoc.collect { case (d, v) if langOf(d) == "en" => v })
    val other = mean(byDoc.collect { case (d, v) if langOf(d) != "en" => v })
    // the target subset must score higher under its own distribution
    assert(en > other,
      s"target-language mean weight $en should exceed non-target $other")
    // the hashed-feature variant (bounded stats table) preserves the
    // separation and is deterministic
    val h1 = Curation.dsirWeights(docs, "text", "doc_id",
      col("lang") === "en", hashBuckets = Some(1 << 16))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val h2 = Curation.dsirWeights(docs.repartition(7), "text", "doc_id",
      col("lang") === "en", hashBuckets = Some(1 << 16))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(h1 == h2, "hashed weights must be layout-deterministic")
    val enH = mean(h1.collect { case (d, v) if langOf(d) == "en" => v })
    val otherH = mean(h1.collect { case (d, v) if langOf(d) != "en" => v })
    assert(enH > otherH)
  }

  test("connected components: empty input converges, long chain fails loudly") {
    import spark.implicits._
    // empty vertex set: sum() over zero rows is NULL — must converge to
    // an empty result, not NPE
    val none = Dedup.connectedComponents(
      Seq.empty[Long].toDF("id"), Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(none.count() == 0)
    // a chain whose diameter exceeds maxIter must throw (silent wrong
    // labels are the failure mode the guard exists for)
    val chain = (1L to 6L).toDF("id")
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, edges, maxIter = 2).collect()
    }
    // and with enough rounds the same chain resolves to one cluster
    val ok = Dedup.connectedComponents(chain, edges, maxIter = 10)
      .collect().map(_.getLong(1)).toSet
    assert(ok == Set(1L))
  }

  test("connected components over LSH pairs matches exact-pair clusters") {
    val docs = Tables.t(spark, dir, "documents")
    val ids = docs.select(col("doc_id").as("id"))
    def clusters(edges: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(ids, edges)
        .where(col("id") =!= col("cluster_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = clusters(
      Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.3)
        .select("id_a", "id_b"))
    val lsh = clusters(
      Dedup.nearDupPairs(docs, "text", "doc_id", 0.3)
        .select("id_a", "id_b"))
    assert(exact.nonEmpty)
    // LSH pairs are a verified subset of exact pairs, so its nontrivial
    // cluster assignments must be a subset too — and near-complete
    assert(lsh.subsetOf(exact))
    assert(lsh.size.toDouble / exact.size >= 0.9)
  }

  test("int8-quantized search tracks the float cosine ranking") {
    val emb = Tables.t(spark, dir, "embeddings")
    val n = emb.count().toInt
    val quant = Similarity.quantizeInt8(emb, "embedding", "vec_id")
    val q8 = Similarity.int8CosineTopK(quant, "q", "id", queryId = 0L, k = n)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val f32 = Similarity.cosineTopK(emb, "embedding", "vec_id", 0L, n)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // per-pair similarity error is bounded by the quantization step
    for ((id, s) <- q8) assert(math.abs(f32(id) - s) < 0.05,
      s"id $id: int8 sim $s vs float ${f32(id)}")
    // and the top-10 ranking survives quantization almost entirely
    val top8 = q8.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
      .map(_._1).toSet
    val topF = f32.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
      .map(_._1).toSet
    assert(top8.intersect(topF).size >= 8,
      s"quantized top-10 overlap too low: $top8 vs $topF")
  }

  test("semantic dedup groups planted near-duplicates, keeps min id") {
    import spark.implicits._
    // 3 well-separated base directions in R^8, each with near-identical
    // copies (tiny deterministic jitter), plus isolated singletons
    def vec(base: Int, jitter: Double): Array[Double] = {
      val v = new Array[Double](8)
      v(base) = 1.0; v((base + 1) % 8) = jitter
      v
    }
    val rows =
      (0L to 2L).map(i => (i, vec(0, 0.001 * (i + 1)))) ++ // group keeps 0
      (10L to 12L).map(i => (i, vec(3, 0.001 * i))) ++     // group keeps 10
      Seq((20L, vec(6, 0.0)), (21L, vec(7, 0.0)))          // singletons
    val emb = rows.toDF("vec_id", "embedding").repartition(3)
    val out = Similarity.semanticDedup(emb, "embedding", "vec_id",
        tau = 0.99, nlist = 4, trainSample = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(out.length == rows.length) // every row present exactly once
    for (i <- 0L to 2L) assert(byId(i)._2 == 0L, s"row $i cluster")
    for (i <- 10L to 12L) assert(byId(i)._2 == 10L, s"row $i cluster")
    assert(byId(20L)._2 == 20L && byId(21L)._2 == 21L)
    // canonical = exactly the min id of each group
    assert(out.filter(_._3).map(_._1).sorted.sameElements(
      Array(0L, 10L, 20L, 21L)))
    // deterministic across partition layouts (seeded sample + hash order)
    val again = Similarity.semanticDedup(emb.repartition(7), "embedding",
        "vec_id", tau = 0.99, nlist = 4, trainSample = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(again.sortBy(_._1).sameElements(out.sortBy(_._1)))
  }

  test("knnJoin heap aggregate equals the window top-k it replaced") {
    val emb = Tables.t(spark, dir, "embeddings")
    val got = Similarity.knnJoin(emb, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // reference form: row_number window over the same bucketed pairs
    val planes = Similarity.hyperplanes(64, 8)
    val b0 = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("bucket", Similarity.lshBucket(col("v"), planes))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val b = b0.withColumn("bn", count(lit(1)).over(cw))
      .where(col("bn") <= graft.operators.Dedup.DefaultMaxBucket).drop("bn")
    val l = b.toDF("id_a", "v_a", "bucket")
    val r = b.toDF("id_b", "v_b", "bucket")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id_a")
      .orderBy(col("sim").desc, col("id_b").asc)
    val ref = l.join(r, "bucket").where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("sim"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got.nonEmpty && got === ref)
  }

  test("knnJoin plans aggregates, not windows") {
    val q = SparkEntry.queries("q_dedup_embedding_lsh")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"kNN top-k and the bucket cap must not plan a window sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected the bounded-heap partial/final aggregate:\n$plan")
  }

  test("knnJoin drops degenerate buckets above the cap") {
    import spark.implicits._
    // 10 identical vectors share one LSH bucket (population 10 > cap 5);
    // 3 opposite-direction vectors land in the complementary bucket (3 <=
    // cap). The capped join must drop every hot-bucket pair — the O(n²)
    // blow-up guard — while keeping the small bucket's pairs.
    val hot = (1L to 10L).map(i => (i, Array(1.0f, 0.2f, 0.1f, 0.3f)))
    val cold = Seq(101L, 102L, 103L)
      .map(i => (i, Array(-1.0f, -0.2f, -0.1f, -0.3f)))
    val emb = (hot ++ cold).toDF("vec_id", "embedding")
    def pairs(cap: Int) =
      Similarity.knnJoin(emb, "embedding", "vec_id", k = 5,
          dim = 4, mBits = 4, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(5)
    assert(capped.nonEmpty, "small bucket must keep its pairs")
    assert(capped.forall { case (a, b) => a > 100L && b > 100L },
      s"hot-bucket pairs must be dropped, got $capped")
    // with the cap above both populations the hot pairs come back
    assert(pairs(500).exists { case (a, _) => a <= 10L })
  }

  test("bigram LM: predictable text scores lower, layout-deterministic") {
    import spark.implicits._
    // rigid bigram structure vs the same words shuffled: the rigid doc
    // must be more predictable (lower mean -log P)
    val rigid = Seq.fill(20)("a b c d").mkString(" ")
    val mixed = "a b c d b d a c d a b d c a d b c b a d " +
      "d c a b b a d c c d b a a c b d d b c a"
    val df = Seq((1L, rigid), (2L, mixed), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.bigramLogProb(df, "text", "doc_id")
      .orderBy($"doc").collect()
    assert(got.length == 2, "single-word doc has no bigrams")
    val (s1, s2) = (got(0).getDouble(2), got(1).getDouble(2))
    assert(s1 < s2, s"rigid $s1 should score below shuffled $s2")
    // layout-invariant: same scores under a different partitioning
    val again = operators.TextAnalysis
      .bigramLogProb(df.repartition(5), "text", "doc_id")
      .orderBy($"doc").collect()
    assert(again.map(_.getDouble(2)).toSeq == got.map(_.getDouble(2)).toSeq)
  }

  test("trigram LM: predictable text scores lower, two-word docs drop, " +
      "layout-deterministic") {
    import spark.implicits._
    val rigid = Seq.fill(20)("a b c d").mkString(" ")
    val mixed = "a b c d b d a c d a b d c a d b c b a d " +
      "d c a b b a d c c d b a a c b d d b c a"
    val df = Seq((1L, rigid), (2L, mixed), (3L, "just two"))
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.trigramLogProb(df, "text", "doc_id")
      .orderBy($"doc").collect()
    assert(got.length == 2, "a 2-word doc has no trigrams")
    val (s1, s2) = (got(0).getDouble(2), got(1).getDouble(2))
    assert(s1 < s2, s"rigid $s1 should score below shuffled $s2")
    // the extra context level separates HARDER than the bigram on the
    // same corpus: rigid trigrams are near-deterministic
    val bi = operators.TextAnalysis.bigramLogProb(df, "text", "doc_id")
      .orderBy($"doc").collect()
    assert((s2 - s1) > 0 && bi(0).getDouble(2) > 0)
    val again = operators.TextAnalysis
      .trigramLogProb(df.repartition(5), "text", "doc_id")
      .orderBy($"doc").collect()
    assert(again.map(_.getDouble(2)).toSeq == got.map(_.getDouble(2)).toSeq)
  }

  test("LM model artifact: round-trip identical scores, cross-corpus " +
      "scoring (CCNet shape)") {
    import spark.implicits._
    val train = Seq((1L, "a b c d a b c d a b c d"),
      (2L, "a b x y a b x y")).toDF("doc_id", "text")
    val target = Seq((10L, "a b c d"), (11L, "a b x y"),
      (12L, "q r s t")).toDF("doc_id", "text") // 12: unseen trigrams
    val model = operators.TextAnalysis.buildLmModel(train, "text")
    // one-shot form == build + score on the same corpus
    val oneShot = operators.TextAnalysis
      .trigramLogProb(train, "text", "doc_id")
      .orderBy($"doc").collect().map(_.getDouble(2)).toSeq
    val withModel = operators.TextAnalysis
      .trigramLogProbWith(model, train, "text", "doc_id")
      .orderBy($"doc").collect().map(_.getDouble(2)).toSeq
    assert(oneShot == withModel)
    // persisted model scores identically after reload
    val path = TempDir("graft_lm").toString + "/lm"
    operators.TextAnalysis.saveLmModel(path, model)
    val loaded = operators.TextAnalysis.loadLmModel(spark, path)
    val scored = operators.TextAnalysis
      .trigramLogProbWith(loaded, target, "text", "doc_id")
      .orderBy($"doc").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored ==
      operators.TextAnalysis
        .trigramLogProbWith(model, target, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap)
    // cross-corpus: the frequent pattern scores more probable than the
    // rarer one; fully-unseen docs drop (no model trigrams)
    assert(scored(10L) < scored(11L),
      s"frequent pattern must score lower -logp: $scored")
    assert(!scored.contains(12L), "unseen-trigram doc must be absent")
  }

  test("document chunker: coverage, overlap, short tail, no shuffle") {
    import spark.implicits._
    val text = (1 to 25).map(i => s"w$i").mkString(" ")
    val df = Seq((7L, text), (8L, "solo"), (9L, "  "))
      .toDF("doc_id", "text").repartition(2)
    val got = Curation.chunkDocuments(df, "text", "doc_id",
        chunkTokens = 10, overlap = 4)
      .orderBy($"doc", $"chunk_start").collect()
    // doc 7: raw starts 0,6,12,18,24 — start 24's single word w25 is
    // pure overlap (a strict subset of the start-18 chunk), suppressed
    val d7 = got.filter(_.getLong(0) == 7L)
    assert(d7.map(_.getInt(1)).toSeq == Seq(0, 6, 12, 18))
    assert(d7.map(_.getInt(2)).toSeq == Seq(10, 10, 10, 7))
    // consecutive chunks overlap by exactly 4 words; every word of the
    // doc appears in some chunk
    val chunks = d7.map(_.getString(3).split(" ").toSeq)
    chunks.sliding(2).foreach { pair =>
      val (a, b) = (pair(0), pair(1))
      assert(a.takeRight(4) == b.take(math.min(4, b.size)) ||
        b.size < 4 && a.takeRight(b.size) == b)
    }
    assert(chunks.flatten.toSet == text.split(" ").toSet)
    // single-word doc: one whole chunk; whitespace-only doc: none
    val d8 = got.filter(_.getLong(0) == 8L)
    assert(d8.length == 1 && d8(0).getString(3) == "solo")
    assert(!got.exists(_.getLong(0) == 9L), "empty doc must emit no chunks")
    // scan-local: no exchange beyond the input repartition
    val plan = Curation.chunkDocuments(df, "text", "doc_id", 10, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"chunker must not shuffle:\n$plan")
  }

  test("mixture sampler: budget-derived rates, cap at 1, absent drops") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
    val total = docs.groupBy($"source").agg(sum($"n_chars").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // src0 demands far more than its corpus -> rate caps at 1 (taken
    // whole); src1 gets ~30% of its tokens; src2 absent -> dropped
    val budget = total("src1") * 3
    val out = Curation.mixtureSample(docs, "doc_id", "source", "n_chars",
      Map("src0" -> 10.0, "src1" -> 0.1), budget)
    val bySource = out.groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fullCounts = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("src0") == fullCounts("src0"), "capped source whole")
    assert(bySource.getOrElse("src1", 0L) < fullCounts("src1"),
      "subsampled source must shrink")
    assert(!bySource.contains("src2"), "unweighted source must drop")
    // deterministic: identical id set across runs
    val ids1 = out.select($"doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Curation.mixtureSample(docs, "doc_id", "source", "n_chars",
        Map("src0" -> 10.0, "src1" -> 0.1), budget)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("edit-distance join: complete vs brute force, short strings " +
      "fail loudly, no cross join in the plan") {
    import spark.implicits._
    // adversarial set: substitution / insertion / deletion / transposed
    // neighbors, identical strings, far strings, shared rare suffixes
    val rows = Seq(
      (1L, "abcdefgh"), (2L, "abcdefgx"),   // sub at the end → d=1
      (3L, "abcdefghi"),                    // insertion of 1 → d=1
      (4L, "xbcdefgh"),                     // sub at the front → d=1
      (5L, "abcdefgh"),                     // exact duplicate → d=0
      (6L, "zzzzzzzz"), (7L, "qrstuvwx"),   // far from everything
      (8L, "abcdxfgh")                      // middle sub → d=1
      ).toDF("id", "s")
    val got = operators.FuzzyJoin
      .editDistancePairs(rows, "s", "id", maxDist = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
      .toMap
    // brute-force truth
    val all = rows.as[(Long, String)].collect()
    val brute = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      d = {
        val m = Array.tabulate(sa.length + 1, sb.length + 1) {
          (i, j) => if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to sa.length; j <- 1 to sb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        m(sa.length)(sb.length)
      } if d <= 1
    } yield (ia, ib) -> d).toMap
    assert(got == brute, s"got $got expected $brute")
    // the loud guard: a string below q*(maxDist+1) chars throws
    val err = intercept[Exception] {
      Seq((1L, "abc"), (2L, "abcdef")).toDF("id", "s")
        .transform(d => operators.FuzzyJoin
          .editDistancePairs(d, "s", "id", maxDist = 1))
        .collect()
    }
    assert(err.toString.contains("editDistancePairs"),
      s"guard must name the operator: $err")
    // scale shape: the fixture query plans no cartesian/nested loop
    val p = SparkEntry.queries("q_fuzzy_name_pairs")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("inverted index: BM25 path equivalence, phrase search edges, " +
      "pruned persisted reads") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
    // persisted index round-trip
    val path = TempDir("graft_invidx").toString + "/idx"
    operators.TextAnalysis.saveInvertedIndex(path, docs, "text", "doc_id")
    // index-backed BM25 is BIT-IDENTICAL to the corpus-scan path
    val query = Seq("slow", "customer", "batch")
    val scan = operators.TextAnalysis
      .bm25TopK(docs, "text", "doc_id", query, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val idx = operators.TextAnalysis
      .bm25TopKIndexed(spark, path, query, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(idx == scan, "index path must reproduce the scan path exactly")
    // the postings read is file-pruned by the term clustering
    val pruned = spark.read.parquet(path + "/postings")
      .where(col("term") === "slow")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PushedFilters: [IsNotNull(term), EqualTo(term,slow)]"))
    // phrase search: adjacency honored, repeated-term phrases work
    val tiny = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "beta alpha"),           // terms present, never adjacent
      (3L, "alpha alpha alpha"),    // repeated-term phrase
      (4L, "nothing relevant here"))
      .toDF("doc_id", "text")
    val post = operators.TextAnalysis
      .buildInvertedIndex(tiny, "text", "doc_id")
    val ab = operators.TextAnalysis
      .phraseSearch(post, Seq("alpha", "beta"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ab == Map(1L -> 2))
    val aa = operators.TextAnalysis
      .phraseSearch(post, Seq("alpha", "alpha"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(aa == Map(3L -> 2), "'alpha alpha' occurs twice in doc 3")
    val single = operators.TextAnalysis
      .phraseSearch(post, Seq("beta"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(single == Map(1L -> 2, 2L -> 1))
  }

  test("operator semantics survive the Phoenix SQL dialect (registry " +
      "shadowing)") {
    import spark.implicits._
    // Spark 4 resolves Column-API function NAMES through the session
    // registry, so registering the Phoenix dialect (BINARY md5, LOG =
    // log10 with swapped 2-arg order, to_date = timestamp cast,
    // dayofweek Monday-based) would silently corrupt every DataFrame
    // operator using those names. The operators go through the
    // registry-proof direct-expression builders; this pins it.
    val wh = TempDir("graft_dialect")
    new graft.sources.PhoenixSql(spark,
      new graft.sources.GraftCatalog(spark, wh.toString))
    try {
      // the dialect IS live on the session: SQL md5 returns binary
      assert(spark.sql("SELECT md5('x') AS m").schema("m").dataType ==
        org.apache.spark.sql.types.BinaryType)
      // ...but the operators keep Spark semantics
      val fp = Seq(Tuple1("ab")).toDF("t")
        .select(operators.Dedup.fingerprint($"t").as("fp"))
      assert(fp.schema("fp").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(fp.head().getString(0) ==
        "187ef4436122d1cc2f40dc2b92f0eba0") // md5("ab") hex
      // ln stays natural log (the dialect's single-arg LOG is log10)
      val e = Seq(Tuple1(math.E)).toDF("x")
        .select(functions.GraftFunctions.ln($"x")).head().getDouble(0)
      assert(math.abs(e - 1.0) < 1e-12, s"ln(e) = $e")
      // entropy's log2 keeps Spark's (base, x) argument order
      val ent = operators.TextAnalysis.wordEntropy(
          Seq((1L, "a b a b")).toDF("doc_id", "text"), "text", "doc_id")
        .head().getDouble(2)
      assert(ent == 1.0, s"H(a,b uniform) must be 1 bit, got $ent")
      // cohort periods stay DATE-derived (dialect to_date is a
      // timestamp cast)
      val coh = operators.Temporal.cohortRetention(
        Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00")))
          .toDF("u", "t"), "u", "t")
      assert(coh.collect().head.getInt(1) == 0)
    } finally {
      // restore the builtins for later suites sharing the session
      for (f <- Seq("md5", "log", "to_date", "to_timestamp",
          "dayofweek", "current_date", "current_time", "to_time"))
        spark.sessionState.functionRegistry.dropFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(f))
    }
  }

  test("multi-query BM25 equals the single-query path per query") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
    val postings = operators.TextAnalysis
      .buildInvertedIndex(docs, "text", "doc_id")
    val meta = docs.where(col("text").isNotNull)
      .select(size(split(lower(trim(col("text"))), "\\s+"))
        .cast("long").as("dl"))
      .agg(sum($"dl").as("total_dl"), count(lit(1)).as("n_docs"))
    val queryTerms = Map(1L -> Seq("slow", "customer"),
      2L -> Seq("batch", "stream"))
    // duplicate (query, term) rows must dedup, not double-score
    val qdf = (queryTerms.toSeq.flatMap { case (q, ts) =>
      ts.map(t => (q, t)) } :+ ((1L, "slow")))
      .toDF("query_id", "term")
    val multi = operators.TextAnalysis
      .bm25MultiQuery(postings, meta, qdf, "query_id", "term", k = 7)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.map(r => (r.getLong(1), r.getDouble(2)))
          .sortBy(x => (-x._2, x._1)).toSeq
      }
    queryTerms.foreach { case (q, terms) =>
      val single = operators.TextAnalysis
        .bm25TopKFromPostings(postings, meta, terms, k = 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(multi(q) == single, s"query $q diverges")
    }
  }

  test("compression ratio: repetition compresses, ranking is stable") {
    import spark.implicits._
    functions.GraftFunctions.register(spark)
    val rep = Seq.fill(50)("the same phrase again and again").mkString(" ")
    val varied = (1 to 150).map(i => s"w${i * 7919 % 9973}").mkString(" ")
    val rows = Seq((1L, rep), (2L, varied), (3L, ""), (4L, "x"))
      .toDF("id", "t")
      .select($"id", operators.TextAnalysis.compressionRatio($"t").as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(1L) < rows(2L),
      s"repetitive ${rows(1L)} must compress below varied ${rows(2L)}")
    assert(rows(1L) < 0.2, "heavy repetition compresses hard")
    assert(rows(3L) == 1.0, "empty text is incompressible by convention")
    assert(rows(4L) > 1.0, "deflate overhead exceeds a 1-byte input")
    // deterministic across layouts
    val again = Seq((1L, rep), (2L, varied)).toDF("id", "t")
      .repartition(3)
      .select($"id", operators.TextAnalysis.compressionRatio($"t").as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again(1L) == rows(1L) && again(2L) == rows(2L))
  }

  test("winnowing: shared-run guarantee, disjoint docs share nothing, " +
      "selection is sparse") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 words
    val d1 = s"one two three $shared four five six seven eight nine"
    val d2 = s"p q r s t u v w x y z $shared aa bb cc"
    val d3 = "totally different words with no overlap at all here " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "t")
    val pairs = operators.Dedup.winnowingOverlap(df, "t", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    // the winnowing guarantee: a shared run of w+k-1 = 8 words MUST
    // surface at least one common fingerprint
    assert(pairs.getOrElse((1L, 2L), 0L) >= 1L,
      s"8-word shared run must share a fingerprint: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      "word-disjoint docs must share nothing")
    // selection density: ~2/(w+1) of the grams, never all of them
    val fps = operators.Dedup.winnowingFingerprints(df, "t", "doc_id")
      .groupBy($"doc").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nGrams1 = d1.split(" ").length - 4
    assert(fps(1L) < nGrams1, "winnowing must select a strict subset")
    // layout determinism
    val again = operators.Dedup.winnowingOverlap(df.repartition(3),
        "t", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(again == pairs)
  }

  test("temperature sampler: alpha<1 upsamples small sources, alpha=1 " +
      "is proportional") {
    import spark.implicits._
    // skewed synthetic corpus: big source 100 docs × 100 tokens,
    // small source 10 docs × 100 tokens
    val docs = ((0 until 100).map(i => (i.toLong, "big", 100)) ++
      (100 until 110).map(i => (i.toLong, "small", 100)))
      .toDF("doc_id", "source", "n_tok")
    def shares(alpha: Double, budget: Long): Map[String, Long] =
      Curation.temperatureSample(docs, "doc_id", "source", "n_tok",
          alpha, budget)
        .groupBy($"source").agg(sum($"n_tok").as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // α=1: proportional — small's target is ~budget/11; α=0.5: the
    // flattened share p^0.5 triples small's cut (√(1/11)/Z ≈ 0.24)
    val prop = shares(1.0, 5000L)
    val flat = shares(0.5, 5000L)
    assert(flat.getOrElse("small", 0L) > prop.getOrElse("small", 0L),
      s"alpha=0.5 must upsample the small source: $flat vs $prop")
    assert(flat("big") < prop("big"),
      "the big source pays for the upsampling")
    // a budget beyond the corpus takes everything whole (rates cap)
    val all = shares(0.5, 1000000L)
    assert(all("big") == 10000L && all("small") == 1000L)
    intercept[IllegalArgumentException] {
      Curation.temperatureSample(docs, "doc_id", "source", "n_tok",
        alpha = 0.0, budgetTokens = 100L)
    }
  }

  test("phrase matcher agrees with naive contains on adversarial inputs") {
    import spark.implicits._
    // overlapping phrases, shared prefixes/suffixes, phrase-inside-
    // phrase, repeated-char runs (failure-link stress), and misses
    graft.functions.GraftFunctions.register(spark)
    val phrases = Seq("aba", "ab", "ba", "abab", "she", "he", "hers",
      "aaa", "zzz")
    val texts = Seq("ababa", "ushers", "aaaa", "xyz", "", "ba",
      "hehehers", "abcabab", "aab aba")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t").repartition(3)
    val got = df.select($"id",
        operators.TextAnalysis.matchedPhrases($"t", phrases).as("m"))
      .orderBy($"id").collect()
      .map(r => r.getSeq[String](1))
    texts.zipWithIndex.foreach { case (t, i) =>
      val naive = phrases.filter(t.contains(_))
      assert(got(i) == naive, s"text '$t': got ${got(i)}, want $naive")
    }
    // early-exit path: every phrase present
    val all = operators.TextAnalysis
      .matchedPhrases(lit("abab ushers hers aaa zzz ba"), phrases)
    val full = spark.range(1).select(all.as("m")).collect()(0).getSeq[String](0)
    assert(full == phrases)

    val planned = df.select(operators.TextAnalysis
      .containsAnyPhrase($"t", phrases).as("b"))
    planned.collect()
    val plan = planned.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).nonEmpty,
      s"phrase_matches must run inside WholeStageCodegen:\n$plan")
  }

  test("BPE: classic merge order, round-trip, determinism, codegen") {
    import spark.implicits._
    // the Sennrich toy corpus shape: "low" x5, "lower" x2, "newest" x6,
    // "widest" x3 — pair counts: (e,s) 9, (s,t) 9, (w,e) 8(newest)+...
    // first merges must be frequency-ordered with lexicographic ties
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val df = Seq(corpus).toDF("text")
    val merges = operators.Tokenize.bpeTrain(df, "text", numMerges = 4)
    // (e,s)=9 and (s,t)=9 tie -> "e s" first lexicographically; after
    // fusing, (es,t)=9 dominates; then (est 9? vs n,e 6 vs l,o 7):
    // (l,o)=7 from low+lower
    assert(merges.take(3) == Seq("e s", "es t", "l o"), merges.toString)

    // tokens concatenate back to the word; hot words memoize identically
    // across partitions (non-literal input through a repartition)
    val docs = Seq((1L, "newest widest low"), (2L, "lowest newest"))
      .toDF("doc_id", "text").repartition(2)
    val toks = docs.select($"doc_id",
      operators.Tokenize.bpeTokens($"text", merges).as("t"))
    val got = toks.orderBy($"doc_id").collect()
      .map(r => r.getSeq[String](1).mkString("|"))
    // with merges [e s, es t, l o, lo w]: newest -> n e w est,
    // widest -> w i d est, low -> low, lowest -> low est
    assert(got(0) == "n|e|w|est|w|i|d|est|low")
    assert(got(1) == "low|est|n|e|w|est")
    // deterministic across re-runs (cache + plan both warm)
    assert(got(0) == toks.orderBy($"doc_id").collect()(0)
      .getSeq[String](1).mkString("|"))

    val planned = docs.select(
      operators.Tokenize.bpeCount($"text", merges).as("n"))
    assert(planned.collect().map(_.getInt(0)).sum == 15)
    val plan = planned.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).nonEmpty,
      s"bpe_tokens must run inside WholeStageCodegen:\n$plan")
  }

  test("gopher repetition metrics match hand-computed values") {
    import spark.implicits._
    // "x y\nx y\n\nz": lines {x y, x y, z} -> 1 of 3 duplicated, 3 of 7
    // line chars; paragraphs {x y\nx y, z} distinct; words
    // [x y x y z], doc chars 10 -> top2 = "x y"x2 * 3 chars = 6/10,
    // top3 = any of the three distinct 3-grams = 5/10, top4 = 7/10,
    // no duplicated 5- or 10-grams. The empty doc exercises every
    // zero-denominator guard. Non-literal input through a repartition
    // so the generated code actually runs.
    val df = Seq((1L, "x y\nx y\n\nz"), (2L, "")).toDF("doc_id", "text")
      .repartition(2)
    val got = operators.TextAnalysis.gopherRepetition(df, "text", "doc_id")
      .orderBy($"doc").collect()
    val r1 = got(0)
    assert(r1.getLong(0) == 1L)
    assert(r1.getDouble(1) == math.rint(1.0 / 3 * 1e8) / 1e8) // dup_line_frac
    assert(r1.getDouble(2) == math.rint(3.0 / 7 * 1e8) / 1e8) // dup_line_char
    assert(r1.getDouble(3) == 0.0 && r1.getDouble(4) == 0.0)  // paras distinct
    assert(r1.getDouble(5) == 0.6)                            // top2
    assert(r1.getDouble(6) == 0.5)                            // top3
    assert(r1.getDouble(7) == 0.7)                            // top4
    assert(r1.getDouble(8) == 0.0 && r1.getDouble(9) == 0.0)  // dup5/dup10
    val r2 = got(1)
    (1 to 9).foreach(i => assert(r2.getDouble(i) == 0.0, s"empty doc col $i"))

    // self-concatenation duplicates every line/para/gram: the count
    // fractions hit exactly 1/2 and the 5-gram sum form goes above 0
    val rep = Seq((1L, "a b c d e f g h i j\n\na b c d e f g h i j"))
      .toDF("doc_id", "text").repartition(2)
    val rr = operators.TextAnalysis
      .gopherRepetition(rep, "text", "doc_id").collect()(0)
    assert(rr.getDouble(1) == 0.5 && rr.getDouble(3) == 0.5)
    assert(rr.getDouble(8) > 0.0, "doubled text must show dup 5-grams")

    // the kernels stay inside whole-stage codegen (execute first: the
    // AQE plan only shows its codegen stages once finalized)
    val planned = operators.TextAnalysis.gopherRepetition(df, "text", "doc_id")
    planned.collect()
    val plan = planned.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).nonEmpty,
      s"repetition kernels must run inside WholeStageCodegen:\n$plan")
  }

  test("PII scrub replaces every pattern and leaves clean text alone") {
    import spark.implicits._
    val df = Seq(
      "mail bob.smith+x@corp.example.org now",
      "visit https://a.b/c?d=e#f then",
      "host 192.168.0.1 up",
      "call +44 20 7946 0958 today",
      "Customer#000000001 has no pii",
      "plain text stays put").toDF("t")
      .select(operators.TextAnalysis.scrubPii($"t").as("c"))
    val got = df.collect().map(_.getString(0))
    assert(got.sameElements(Array(
      "mail <EMAIL> now",
      "visit <URL> then",
      "host <IP> up",
      "call <PHONE> today",
      "Customer#000000001 has no pii",
      "plain text stays put")))
  }

  test("normalize_text: NFC + junk repair edge cases") {
    import spark.implicits._
    functions.GraftFunctions.register(spark)
    val rows = Seq(
      // NFC composition: e + combining acute → é (one code point)
      "Café",
      // zero-width family dropped, NBSP → space joins a collapsed run
      "a​‌‍﻿b c   d",
      // control chars dropped, \n and \t survive (tab collapses)
      "x y\nz\tw",
      // edge trim incl. a trailing tab-run; interior newline preserved
      "  lead \n trail \t ",
      // one-to-many lowercase neighbor: İ must not corrupt indices
      "İstanbul  city",
      "", "   ")
    val got = rows.toDF("t")
      .select(operators.TextAnalysis.normalizeText($"t").as("c"))
      .collect().map(_.getString(0))
    assert(got.sameElements(Array(
      "Café",
      "ab c d",
      "xy\nz w",
      "lead \n trail",
      "İstanbul city",
      "", "")))
    // over a real scan (local relations constant-fold): the kernel stays
    // in the plan as one scan-local projection, and executing it runs
    // the CODEGEN path over the corpus (the local rows above exercised
    // the interpreted eval)
    val scan = Tables.t(spark, dir, "documents")
      .select(operators.TextAnalysis.normalizeText($"text").as("c"))
    assert(scan.queryExecution.optimizedPlan.toString
      .contains("normalize_text"))
    assert(scan.where($"c".isNotNull).count() > 0)
  }

  test("script_profile: per-script counts, dominant and mixed verdicts") {
    import spark.implicits._
    val df = Seq(
      (1L, "plain ascii text 42"),          // latin dominant, digits
      (2L, "Привет мир"),                   // cyrillic only
      (3L, "hello Привет"),                 // 50/50 bilingual → mixed
      (4L, "中文 text with 中文中文 stuffing"), // han outnumbers latin?
      (5L, "12345 ... !!!"),                // no letters at all
      (6L, "naïve café")                    // accented Latin IS latin
      ).toDF("doc_id", "t")
    val out = operators.TextAnalysis
      .scriptMix(df, "t", "doc_id", mixedThreshold = 0.05)
      .orderBy($"doc").collect()
    def row(i: Int) = out(i)
    assert(row(0).getAs[String]("dominant") == "latin" &&
      !row(0).getAs[Boolean]("mixed") &&
      row(0).getAs[Int]("digit") == 2)
    assert(row(1).getAs[String]("dominant") == "cyrillic" &&
      !row(1).getAs[Boolean]("mixed"))
    // tie at the top must still read as mixed (both scripts = top)
    assert(row(2).getAs[Boolean]("mixed"))
    assert(row(3).getAs[Boolean]("mixed"))
    assert(row(4).getAs[String]("dominant") == "none" &&
      row(4).getAs[Int]("total") == 11)
    assert(row(5).getAs[String]("dominant") == "latin" &&
      row(5).getAs[Int]("latin") == 9) // ï and é count as Latin
  }

  test("canonical_url: crawler-core normalization rules") {
    import spark.implicits._
    functions.GraftFunctions.register(spark)
    val cases = Seq(
      // scheme+host case, default port, trailing slash, fragment,
      // tracking params dropped, survivors sorted
      "HTTPS://WWW.Example.COM:443/A/B/?b=2&utm_source=x&a=1#frag"
        -> "https://www.example.com/A/B?a=1&b=2",
      // http default port; path case preserved
      "http://Host.com:80/Path" -> "http://host.com/Path",
      // non-default port kept; tracking-only query drops the '?'
      "http://h.com:8080/x?utm_a=1&fbclid=z&gclid=9&ref=r&mc_cid=1"
        -> "http://h.com:8080/x",
      // bare '/' path == no path
      "https://h.com/" -> "https://h.com",
      "https://h.com" -> "https://h.com",
      // param without '=' sorts too; empty params drop
      "https://h.com/p?z&&a=1" -> "https://h.com/p?a=1&z",
      // utm must match the NAME, not the value
      "https://h.com/p?a=utm_x" -> "https://h.com/p?a=utm_x",
      // not a URL → unchanged
      "no url here" -> "no url here")
    val got = cases.map(_._1).toDF("u")
      .select(operators.TextAnalysis.canonicalUrl($"u").as("c"))
      .collect().map(_.getString(0))
    got.zip(cases.map(_._2)).foreach { case (g, e) =>
      assert(g == e, s"'$g' != '$e'")
    }
  }

  test("c4 clean: published line/doc rules on adversarial lines") {
    import spark.implicits._
    val text = Seq(
      "This sentence has enough words.", // kept
      "short.",                          // < 3 words → dropped
      "no terminal punctuation here",    // no terminal mark → dropped
      "Enable JavaScript to continue please.", // javascript → dropped
      "  padded line stays here!  ",     // trimmed, kept (bang terminal)
      "Quoted line ends well.”",    // end-quote terminal → kept
      "",                                // empty → not a line
      "Tabs\there are words too?").mkString("\n")
    val out = operators.TextAnalysis.c4Clean(
      Seq((1L, text)).toDF("doc_id", "t"), "t", "doc_id").collect().head
    val clean = out.getAs[String]("clean_text")
    assert(clean == Seq("This sentence has enough words.",
      "padded line stays here!",
      "Quoted line ends well.”",
      "Tabs\there are words too?").mkString("\n"))
    assert(out.getAs[Int]("n_lines") == 7) // empty line uncounted
    assert(out.getAs[Int]("n_kept") == 4)
    // sentences counted in KEPT text only: . ! . ? = 4
    assert(out.getAs[Int]("n_sentences") == 4)
    assert(!out.getAs[Boolean]("has_lorem"))
    assert(!out.getAs[Boolean]("has_brace"))
    assert(!out.getAs[Boolean]("keep")) // 4 sentences < 5

    // doc-level flags: lorem ipsum + braces force keep=false even with
    // enough sentences; case-insensitive lorem
    val spam = (1 to 6).map(i => s"Sentence number $i is fine.")
      .mkString("\n") + "\nSee { Lorem IPSUM } sample text."
    val o2 = operators.TextAnalysis.c4Clean(
      Seq((1L, spam)).toDF("doc_id", "t"), "t", "doc_id").collect().head
    assert(o2.getAs[Boolean]("has_lorem") && o2.getAs[Boolean]("has_brace"))
    assert(!o2.getAs[Boolean]("keep"))
    val ok = (1 to 5).map(i => s"Sentence number $i is fine.").mkString("\n")
    val o3 = operators.TextAnalysis.c4Clean(
      Seq((1L, ok)).toDF("doc_id", "t"), "t", "doc_id").collect().head
    assert(o3.getAs[Boolean]("keep") && o3.getAs[Int]("n_sentences") == 5)
  }

  test("line dedup: boilerplate dropped everywhere, rare lines kept in order") {
    import spark.implicits._
    val docs = Seq(
      // "common header" appears in docs 1,2,3 (twice in doc 1 — doc
      // frequency counts DISTINCT docs) -> df=3 -> dropped everywhere
      (1L, "common header\nalpha one\ncommon header"),
      (2L, "common header\nbeta two"),
      (3L, "common header\ngamma three\nshared pair"),
      // "shared pair" is in only 2 docs -> below minDocFreq, kept
      (4L, "shared pair\ndelta four")
    ).toDF("id", "text")
    val out = Dedup.lineDedup(docs, "text", "id", minDocFreq = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((3L, 1L, "alpha one")))
    assert(out(2L) == ((2L, 1L, "beta two")))
    assert(out(3L) == ((3L, 2L, "gamma three\nshared pair")))
    // surviving lines keep their original order
    assert(out(4L) == ((2L, 2L, "shared pair\ndelta four")))
  }

  test("incremental line dedup equals full dedup restricted to delta") {
    import spark.implicits._
    // "promo footer" reaches df=3 only ACROSS the corpus/delta boundary
    // (2 corpus docs + 1 delta doc) — the case the frequency merge must
    // get right; "rare note" stays below threshold
    val corpus = Seq(
      (1L, "promo footer\nalpha"),
      (2L, "promo footer\nbeta"),
      (3L, "rare note\ngamma")
    ).toDF("id", "text")
    val delta = Seq(
      (10L, "promo footer\ndelta text"),
      (11L, "rare note\nepsilon")
    ).toDF("id", "text")
    val full = Dedup.lineDedup(corpus.union(delta), "text", "id",
        minDocFreq = 3)
      .where($"doc" >= 10L).collect().map(_.toSeq).toSet
    val inc = Dedup.incrementalLineDedup(
        Dedup.lineFreqTable(corpus, "text", "id"), delta, "text", "id",
        minDocFreq = 3)
      .collect().map(_.toSeq).toSet
    assert(inc == full)
    val byId = inc.map(r => r.head -> r).toMap
    assert(byId(10L) == Seq(10L, 2L, 1L, "delta text"),
      "corpus-established boilerplate must drop in the delta")
    assert(byId(11L) == Seq(11L, 2L, 2L, "rare note\nepsilon"))
  }

  test("observed gate: kept/dropped metrics ride the output job") {
    import spark.implicits._
    val docs = Seq((1L, true, 100L), (2L, false, 30L), (3L, true, 70L),
      (4L, false, 50L), (5L, true, 20L)).toDF("id", "keep", "toks")
    val (kept, obsOpt) = Curation.observedGate(docs, "keep", "toks")
    val ids = kept.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L))
    val m = obsOpt.getOrElse(fail("batch gate must return a handle")).get
    assert(m("rows_in") == 5L && m("rows_kept") == 3L)
    assert(m("tokens_in") == 270L && m("tokens_kept") == 190L)
  }

  test("leakage-safe split: no near-dup pair straddles train/test") {
    val docs = Tables.t(spark, dir, "documents")
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id", 0.3)
      .select("id_a", "id_b")
    val split = Curation.leakageSafeSplit(docs, "doc_id", pairs,
      testFrac = 0.3)
    val m = split.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty, "fixture should contain near-dup pairs")
    assert(ps.forall { case (a, b) => m(a) == m(b) },
      "a near-dup pair straddles the train/test boundary")
    // both sides populated, and every doc assigned exactly once
    assert(m.values.toSet == Set("train", "test"))
    assert(m.size == docs.count())
  }

  test("whole-doc bin packing: capacity kept, beats naive fill, " +
      "deterministic, oversize raises") {
    import spark.implicits._
    val sizes = Seq(60L, 50L, 45L, 40L, 30L, 25L, 20L, 15L, 10L, 5L,
      55L, 35L)
    val df = sizes.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "tok")
    val out = Curation.packBinsWhole(df, "id", "tok", budget = 100L,
      partitions = 2)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).sorted.toSeq == (0L until 12L).toSeq,
      "every doc packed exactly once")
    val fills = rows.groupBy(_._3).map { case (_, g) => g.map(_._2).sum }
    assert(fills.forall(_ <= 100L), s"bin over capacity: $fills")
    // naive: id order, open a new bin whenever the current overflows
    val naiveBins = sizes.foldLeft((0, 0L)) { case ((bins, fill), s) =>
      if (fill + s <= 100L) (bins max 1, fill + s) else (bins + 1, s)
    }._1 max 1
    assert(fills.size <= naiveBins,
      s"BFD used ${fills.size} bins vs naive $naiveBins")
    // deterministic under re-execution with the same partition count
    val again = Curation.packBinsWhole(df, "id", "tok", budget = 100L,
        partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // a doc that cannot fit any bin must fail loudly, not drop
    val boom = intercept[Exception] {
      Curation.packBinsWhole(
        Seq((1L, 101L)).toDF("id", "tok"), "id", "tok", budget = 100L)
        .collect()
    }
    assert(boom.getMessage.contains("exceeds the packing budget"))
  }

  test("pagerank: star center highest, mass conserved, cycle uniform") {
    import spark.implicits._
    val star = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val pr = Graph.pageRank(star, iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"mass not conserved: $pr")
    assert(pr(1L) > pr(2L), "star center must outrank leaves")
    assert(math.abs(pr(2L) - pr(3L)) < 1e-12 &&
      math.abs(pr(3L) - pr(4L)) < 1e-12, "symmetric leaves must tie")
    // 3-cycle: uniform is the stationary distribution at EVERY iteration
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cpr = Graph.pageRank(cyc, iterations = 5).collect().map(_.getDouble(1))
    assert(cpr.forall(v => math.abs(v - 1.0 / 3) < 1e-12), cpr.toSeq)
    // explicit spine: isolated node 5 participates; dangling mass (from
    // center 1 and isolate 5) keeps the total at 1; a no-inlink leaf and
    // the isolate receive exactly the same (floor + dangling share)
    val spine = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val pr5 = Graph.pageRank(star, iterations = 10, nodes = Some(spine))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr5.values.sum - 1.0) < 1e-9)
    assert(pr5(1L) == pr5.values.max)
    assert(math.abs(pr5(5L) - pr5(2L)) < 1e-12)
  }

  test("epoch shuffle: reproducible per-epoch permutation, scan-local " +
      "hash-range shards") {
    import spark.implicits._
    import graft.operators.Curation
    val ids = (0L until 1000L).toDF("id")
    val e1 = Curation.epochShuffle(ids, "id", epoch = 1, shards = 8)
    val e1b = Curation.epochShuffle(ids.repartition(7), "id", epoch = 1,
      shards = 8)
    val e2 = Curation.epochShuffle(ids, "id", epoch = 2, shards = 8)
    def order(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.orderBy(col("shuffle_key"), col("id"))
        .collect().map(_.getLong(0)).toSeq
    // layout-invariant: same epoch -> identical order regardless of
    // partitioning
    assert(order(e1) == order(e1b))
    // different epochs genuinely permute differently
    assert(order(e1) != order(e2))
    // every doc appears exactly once, shards cover 0..7 and are
    // roughly balanced (hash-uniform: no shard 3x the mean)
    assert(order(e1).sorted == (0L until 1000L))
    val sizes = e1.groupBy(col("shard")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == (0L until 8L).toSet, s"shards: $sizes")
    assert(sizes.values.max < 3 * 125, s"skewed shards: $sizes")
    // assignment is scan-local: no exchange in the plan before the
    // columns exist
    val plan = e1.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"shard assignment must not shuffle:\n$plan")
    // shards must divide the hash space
    intercept[IllegalArgumentException](
      Curation.epochShuffle(ids, "id", 1, shards = 7))
  }

  test("round-9 second review pins: script 'other' bucket, MMR " +
      "anti-similarity bonus, IVF probe metric") {
    import spark.implicits._
    import graft.operators.{Similarity, TextAnalysis}
    // a pure-Greek doc is dominant 'other', not 'none'; a Latin doc
    // stuffed with Hangul reads mixed
    val docs = Seq(
      (1L, "\u03b1\u03b2\u03b3 \u03b4\u03b5\u03b6 \u03b7\u03b8\u03b9"),
      (2L, "latin words here \uc548\ub155 \uc138\uacc4 \uc548\ub155 \uc138\uacc4"),
      (3L, "plain latin only text")).toDF("doc_id", "t")
    val sm = TextAnalysis.scriptMix(docs, "t", "doc_id", 0.05)
      .collect().map(r => r.getAs[Long]("doc") ->
        (r.getAs[String]("dominant"), r.getAs[Boolean]("mixed"))).toMap
    assert(sm(1L)._1 == "other", s"pure Greek must be dominant=other: $sm")
    assert(sm(2L)._2, "Hangul stuffing must read mixed")
    assert(sm(3L) == ("latin", false))
    // MMR: a candidate anti-similar to everything selected gets the
    // diversity BONUS (negative max cos), per Carbonell-Goldstein
    val pool = Seq(
      (1L, 1.00, Seq(1.0f, 0.0f)),   // first pick: pure relevance
      (2L, 0.50, Seq(-1.0f, 0.0f)),  // rel .5, cos(-1) to picked
      (3L, 0.60, Seq(0.0f, 1.0f)))   // rel .6, cos(0) to picked
      .toDF("id", "sim", "v")
    val picked = Similarity.mmrSelect(pool, "id", "sim", "v",
        k = 2, lambda = 0.7)
      .collect().map(_.getLong(0)).toSeq
    // score(2) = .7*.5 - .3*(-1) = .65 > score(3) = .7*.6 - 0 = .42
    assert(picked == Seq(1L, 2L),
      s"anti-similar candidate must win via the diversity bonus: $picked")
    // IVF: probe ranking matches assignment metric (L2), so the
    // query's own cell is never skipped on a norm-skewed corpus
    val emb = (0L until 64L).map { i =>
      val base = if (i % 2 == 0) 0.1f else 10.0f
      (i, Seq.tabulate(8)(j => base * (1 + ((i + j) % 3))))
    }.toDF("vec_id", "embedding")
    val (cents, assigned) = Similarity.ivfIndex(emb, "embedding", "vec_id",
      nlist = 4)
    val top = Similarity.ivfTopK(cents, assigned, queryId = 1L, k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(top.contains(1L),
      s"the query's own row must be reachable through its own cell: $top")
  }

  test("round-9 third review pins: NULL-text handling, simhash trim, " +
      "short-doc contamination, stray-edge refusal, packing guards") {
    import spark.implicits._
    import graft.operators.{Curation, Dedup, QualityFilter}
    // incrementalDedup keeps one row per delta doc even for NULL text
    val corpus = Seq((1L, "alpha"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val delta = Seq((10L, "alpha"), (11L, null.asInstanceOf[String]),
      (12L, "fresh")).toDF("doc_id", "text")
    val inc = Dedup.incrementalDedup(corpus, delta, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(inc.keySet == Set(10L, 11L, 12L),
      s"every delta doc must classify, NULL text included: $inc")
    assert(inc(10L) == "dup_of_corpus" && inc(12L) == "new")
    assert(inc(11L) == "dup_of_corpus",
      "NULL-text delta doc groups with the corpus NULL-text group " +
        "(exactDedup's groupBy-null semantics)")
    // quality scoring survives a NULL-text row
    val scored = QualityFilter.featurize(
      Seq((1L, "some reasonable text here"),
        (2L, null.asInstanceOf[String])).toDF("doc_id", "text"), "text")
    assert(scored.count() == 2, "NULL text must not kill featurize")
    // simhash is whitespace-trim invariant like every other tier
    val sigs = Seq((1L, "hello world"), (2L, "  hello world  "))
      .toDF("id", "t")
      .select(Dedup.simhash64(col("t")).as("s"))
      .collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1),
      "leading/trailing whitespace must not perturb the signature")
    // contamination reports short docs with zero grams, not absence
    val docs = Seq((1L, "tiny"), (2L, "a much longer document here " +
      "with enough words")).toDF("doc_id", "text")
    val bench = Seq(Tuple1("irrelevant benchmark text goes here"))
      .toDF("text")
    val cont = Curation.contamination(docs, bench, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cont.keySet == Set(1L, 2L) && cont(1L) == 0L,
      s"short docs must be present with n_grams=0: $cont")
    // connectedComponents refuses edges with endpoints missing from
    // the vertex frame (silent wrong labels otherwise)
    val verts = Seq(1L, 2L).toDF("id")
    val edges = Seq((1L, 99L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(verts, edges).collect())
    assert(e.getMessage.contains("missing from the vertex frame"))
    // packSequences raises loudly on a NULL token count
    val bad = Seq((1L, java.lang.Long.valueOf(5L)),
      (2L, null.asInstanceOf[java.lang.Long])).toDF("doc_id", "n_tok")
    val pe = intercept[Exception](
      Curation.packSequences(bad, "doc_id", "n_tok", 100).collect())
    assert(pe.getMessage.contains("non-positive or unparseable") ||
      Option(pe.getCause).exists(
        _.getMessage.contains("non-positive or unparseable")))
  }

  test("battery hygiene: q_ivm_refresh reuses ONE temp warehouse " +
      "across repetitions; artifact build accounting is per (name, dir)") {
    val dir = "/root/testdata/sf0.001"
    def ivmDirs() = Option(new java.io.File(
        System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("graft_ivm_q"))
    val before = ivmDirs()
    val a = SparkEntry.queries("q_ivm_refresh")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q_ivm_refresh")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "the cycle must be reproducible on the wiped root")
    assert(ivmDirs() <= before + 1,
      "repetitions must reuse one warehouse root, not accumulate /tmp")
    // buildSeconds keys by (name, dir): the same artifact built under
    // two source dirs must keep BOTH entries (a name-only key let the
    // second scale silently overwrite the first's accounting)
    graft.queries.Artifacts.memoized("dirA", "acct_probe") { "x" }
    graft.queries.Artifacts.memoized("dirB", "acct_probe") { "y" }
    import scala.jdk.CollectionConverters._
    val keys = graft.queries.Artifacts.buildSeconds.asScala.keySet
      .filter(_._1 == "acct_probe")
    assert(keys == Set(("acct_probe", "dirA"), ("acct_probe", "dirB")))
  }

  test("round-9 tenth sweep pins: null-text docs survive line dedup, " +
      "norm-skew semantic dedup, int8 NaN guard, typed mmr contract, " +
      "ANSI-safe epoch shuffle and quality ratios") {
    import spark.implicits._
    // a NULL-text document must still get its per-doc output row
    val docs = Seq((1L, "a\nb\na"), (2L, null.asInstanceOf[String]),
        (3L, "a\nc"))
      .toDF("doc_id", "text")
    val ld = Dedup.lineDedup(docs, "text", "doc_id", minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(ld.keySet == Set(1L, 2L, 3L),
      s"NULL-text doc 2 must not vanish from the rebuilt corpus: $ld")
    // cosine-identical vectors of different NORMS must share a cell —
    // raw-L2 cells split them and their near-dup edge never formed
    val emb = (0L until 40L).map { i =>
      val base = Array.tabulate(8)(d =>
        math.sin(i.toDouble * (d + 1)).toFloat)
      (i, base)
    }
    val skew = emb.flatMap { case (i, v) =>
      Seq((i * 2, v), (i * 2 + 1, v.map(x => x * 10f))) // 10x norm twin
    }.toDF("vec_id", "embedding")
    val sd = Similarity.semanticDedup(skew, "embedding", "vec_id",
        tau = 0.999, nlist = 4, trainSample = 80)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 40L).foreach { i =>
      assert(sd(i * 2) == sd(i * 2 + 1),
        s"v and 10v (cosine 1.0) must land in one cluster: pair $i")
    }
    // a malformed (short) int8 code must not take the #1 slot via NaN
    val codes = Seq((1L, Array[Byte](10, 20, 30)),
        (2L, Array[Byte](10, 21, 29)),
        (3L, Array[Byte](1, 2))) // truncated row
      .toDF("vec_id", "code")
    val top = Similarity.int8CosineTopK(codes, "code", "vec_id",
        queryId = 1L, k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L),
      s"NaN from the truncated code must not rank: $top")
    // non-integral mmr ids fail with a TYPED error, not an NPE
    val badPool = Seq(("a", 1.0, Array(1.0f, 0f)))
      .toDF("id", "rel", "v")
    val e = intercept[IllegalArgumentException](
      Similarity.mmrSelect(badPool, "id", "rel", "v", k = 1))
    assert(e.getMessage.contains("must be integral"))
    // ANSI mode: epoch shuffle near Long.MaxValue and quality ratios on
    // an empty doc must not raise arithmetic errors
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val ids = Seq(Long.MaxValue, Long.MaxValue - 5L, 7L).toDF("doc_id")
      val keys = Curation.epochShuffle(ids, "doc_id", epoch = 3,
        shards = 8).collect()
      assert(keys.length == 3, "near-max ids must shuffle, not overflow")
      val qm = graft.operators.TextAnalysis.qualityMetrics(
          Seq((1L, "")).toDF("doc_id", "text"), "text")
        .select(col("symbol_ratio"), col("digit_ratio")).collect()(0)
      assert(qm.isNullAt(0) && qm.isNullAt(1),
        "empty text must yield NULL ratios, not DIVIDE_BY_ZERO")
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("cross-source overlap: in-row pair expansion equals the self-join " +
      "spelling (r16 optimization equivalence pin)") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
    val g = docs
      .select($"source", split(lower(trim($"text")), "\\s+").as("w"))
      .select($"source", explode(Dedup.shinglesFromWords($"w", 5)).as("g"))
      .distinct()
    // the pre-r16 spelling: (source, gram)-distinct self-join
    val a = g.toDF("source_a", "g"); val b = g.toDF("source_b", "g")
    val viaJoin = a.join(b, "g").where($"source_a" < $"source_b")
      .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("n_shared"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // the shipped spelling: per-gram source set + in-row pair expansion
    val viaSet = g.groupBy($"g")
      .agg(sort_array(collect_set($"source")).as("ss"))
      .select(explode(flatten(transform($"ss", (x, i) =>
        transform(slice($"ss", i + lit(2), size($"ss")),
          y => struct(x.as("source_a"), y.as("source_b")))))).as("p"))
      .select($"p.source_a", $"p.source_b")
      .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("n_shared"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(viaSet == viaJoin,
      s"pair-expansion and self-join matrices diverge: " +
        s"only-set=${viaSet -- viaJoin}, only-join=${viaJoin -- viaSet}")
    assert(viaSet.nonEmpty, "fixture should share grams across sources")
  }

  test("metaRow memo: a meta rewrite invalidates the cached row " +
      "(file-listing stamp), repeated reads serve from the memo") {
    import spark.implicits._
    val path = TempDir("graft_metarow").toString
    Seq((1L, "a")).toDF("last_version", "x")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val r1 = graft.operators.MvMeta.row(spark, path)
    assert(r1.getAs[Long]("last_version") == 1L)
    // unchanged listing -> memoized row is the same object (no re-read)
    val r2 = graft.operators.MvMeta.row(spark, path)
    assert(r1 eq r2, "unchanged meta must serve from the memo")
    // overwrite writes fresh task-UUID part names -> stamp changes
    Seq((2L, "b")).toDF("last_version", "x")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val r3 = graft.operators.MvMeta.row(spark, path)
    assert(r3.getAs[Long]("last_version") == 2L,
      "a rewritten meta must be re-read, never served stale")
  }
}
