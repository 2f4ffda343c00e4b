package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties that make these operators
  * scale (pushdown, pruning, broadcast, partial aggregation, top-k
  * pushdown) asserted on the optimized physical plans, so a refactor that
  * silently loses one fails the build. */
class PlanSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = TestSpark.spark

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("scan filter is pushed to parquet and columns are pruned") {
    val p = plan("q_scan_filter")
    assert(p.contains("PushedFilters:") && p.contains("LessThan(l_shipdate"),
      "shipdate filter must reach the parquet scan")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_shipdate"),
      "scan must read only the projected+filter columns")
  }

  test("star join broadcasts all three dimension tables") {
    val p = plan("q_star_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts")
    assert(!p.contains("SortMergeJoin"),
      "no dimension should fall back to sort-merge")
  }

  test("tpch q5: all three dimension chains broadcast, date filter pushed") {
    val p = plan("q_tpch_q5")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3,
      s"supplier/nation/region must broadcast, got $broadcasts")
    assert(p.contains("PushedFilters:") && p.contains("o_orderdate"),
      "order-date range must reach the orders scan")
  }

  test("tpch q18: single lineitem scan (aggregate-reuse), pushed top-k") {
    val p = plan("q_tpch_q18")
    // the HAVING qualifying sum doubles as the output aggregate — the
    // textbook double-scan of the fact must not come back
    val factScans = "lineitem".r.findAllIn(p).length
    assert(factScans <= 2, // one Scan node: path + ReadSchema mentions
      s"lineitem must be scanned once, plan mentions it $factScans times")
    assert(p.contains("HashAggregate"),
      "qualifying-order aggregate must be partial+final")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must push the limit into the sort")
  }

  test("tpch q21: EXISTS/NOT-EXISTS compile to hash semi/anti joins, " +
      "never a nested loop") {
    val p = plan("q_tpch_q21")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      "the correlated self-joins must stay semi/anti")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the suppkey inequality must ride as a join residual on the " +
        "orderkey equi-join, not force a nested loop")
  }

  test("tpch q7: nation dims broadcast pre-filtered; ship-date range " +
      "reaches the lineitem scan") {
    val p = plan("q_tpch_q7")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3,
      s"supplier + both nation dims must broadcast, got $broadcasts")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      "ship-date range must reach the lineitem scan")
  }

  test("tpch q13: left join keeps zero-order customers without a " +
      "nested loop; two aggregation levels partial+final") {
    val p = plan("q_tpch_q13")
    assert(p.contains("LeftOuter"), "customer-orders must stay left outer")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "both aggregation levels must have partial+final phases")
  }

  test("grouped aggregation is partial+final") {
    val p = plan("q1_agg")
    val hashAggs = "HashAggregate".r.findAllIn(p).length
    assert(hashAggs >= 2, "expected partial and final HashAggregate")
    assert(p.contains("PushedFilters:") &&
      p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("top-k compiles to TakeOrderedAndProject, not global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("sort-merge join hint is honored") {
    val p = plan("q_join_sortmerge")
    assert(p.contains("SortMergeJoin"))
  }

  test("semi/anti joins stay semi/anti (no materialized subquery)") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("point lookup pushes the PK equality into the scan") {
    val p = plan("q_point_lookup")
    assert(p.contains("EqualTo(o_orderkey,42)"))
  }

  test("bucketed layout: co-located join plans with no shuffle exchange") {
    import graft.operators.Layout
    val li = Tables.t(spark, dir, "lineitem")
    val o = Tables.t(spark, dir, "orders")
    Layout.writeBucketed(li, "li_b", 8, Seq("l_orderkey"))
    Layout.writeBucketed(o, "o_b", 8, Seq("o_orderkey"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Layout.readBucketed(spark, "li_b")
        .join(Layout.readBucketed(spark, "o_b"),
          spark.table("li_b")("l_orderkey") ===
            spark.table("o_b")("o_orderkey"))
      val p = joined.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("Exchange"),
        "bucketed-by-key join must not shuffle:\n" + p)
      // and the result is still correct
      assert(joined.count() ==
        li.join(o, li("l_orderkey") === o("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("scan-local text/embedding operators shuffle only for their sort") {
    // PII scrub and quantization are per-row transforms: the only
    // exchange allowed is the final orderBy's range partitioning — a
    // hash-partitioned shuffle would mean an accidental aggregation/join
    for (q <- Seq("q_pii_scrub", "q_embed_quantize")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"),
        s"$q must stay scan-local (range exchange for the sort only):\n$p")
    }
  }

  test("fused text-cleanup kernels stay scan-local (sort exchange only)") {
    // normalize / c4 / script-mix / url-canonical / compression are
    // per-row kernels; their queries may exchange only for the final
    // orderBy (range) — a hashpartitioning exchange would mean an
    // accidental aggregation crept into a pure map pipeline.
    // (q_url_canonical ends in a groupBy by design and is pinned by the
    // no-cartesian sweep instead.)
    for (q <- Seq("q_text_normalize", "q_c4_clean", "q_script_mix",
        "q_compression_ratio")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"),
        s"$q must stay scan-local (range exchange for the sort only):\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q planned a loop:\n$p")
    }
  }

  test("term frequency aggregates map-side before the shuffle") {
    val p = plan("q_term_freq")
    val hashAggs = "HashAggregate".r.findAllIn(p).length
    // count + count_distinct expand to >= 2 partial/final pairs
    assert(hashAggs >= 2,
      s"expected partial+final aggregation for term counts:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must be per-partition top-k, not a global sort")
  }

  test("tf-idf broadcasts the vocabulary join and pushes the top-k limit") {
    // the vocabulary sides carry NO broadcast() hint (a web-scale
    // vocabulary would OOM a forced build) — AQE's size guard must still
    // pick a broadcast at runtime while the vocabulary is small, so the
    // assertion runs against the final adaptive plan, not the static one
    for (q <- Seq("q_tfidf_terms", "q_unigram_logprob")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.queryExecution.toRdd.count()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"$q: AQE should broadcast the small vocabulary side:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: no shuffle join should survive for the vocabulary sides:\n$p")
    }
    val p = plan("q_tfidf_terms")
    // per-doc top-k is the bounded-heap top_scored aggregate: a
    // partial+final ObjectHashAggregate pair (k rows per doc per map task
    // through the exchange), NOT a window sort shipping every term
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"per-doc top-k must be a partial+final heap aggregate:\n$p")
    assert(!p.contains("Window"),
      s"per-doc top-k must not fall back to a window sort:\n$p")
  }

  test("no cartesian products in any scale-path pipeline entry") {
    // the bounded oracle baselines (q_jaccard_pairs, q_jaccard_char,
    // q_dedup_embedding, q_dedup_cluster's edge generator) are the ONLY
    // entries allowed a cross join
    val scalePaths = Seq("q_dedup_minhash", "q_dedup_simhash",
      "q_dedup_embedding_lsh", "q_dedup_exact", "q_dedup_fingerprint",
      "q_curation_pipeline", "q_ann_lsh",
      "q_pii_scrub", "q_term_freq", "q_embed_quantize",
      "q_lang_id", "q_text_quality",
      "q_repetition", "q_contamination", "q_train_split",
      "q_sample_stratified", "q_token_pack", "q_url_extract",
      // round-5 additions (entries with a single-row broadcast cross —
      // dsir, quality_buckets, bloom, unigram — are pinned elsewhere)
      "q_dup_gram_frac", "q_dedup_incremental", "q_dedup_incremental_lsh",
      "q_weighted_sample", "q_weighted_sample_stratified", "q_funnel",
      "q_corpus_profile", "q_token_pack_split", "q_range_join",
      "q_asof_join")
    for (q <- scalePaths) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must not contain a cartesian join:\n$p")
    }
  }

  test("contamination broadcasts the benchmark gram set") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"bench grams must broadcast (eval sets are tiny):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"candidate grams must stream, not shuffle for the join:\n$p")
  }

  test("split/sample assignment is scan-local (no exchange before sort)") {
    // the hash-based split and stratified sample are pure filters /
    // projections: hash partitioning would mean an accidental shuffle
    val p = plan("q_sample_stratified")
    assert(!p.contains("hashpartitioning"),
      s"stratified sample must stay scan-local:\n$p")
  }

  test("sequence packing has no single-partition global window") {
    // the two-phase prefix sum must key its window by partition id —
    // a global ORDER BY window would plan SinglePartition
    val p = plan("q_token_pack")
    assert(!p.contains("SinglePartition"),
      s"packing must not funnel through one partition:\n$p")
  }

  test("snapshot collapse is a partial+final aggregate, not a window") {
    // groupBy+max_by gives the map-side combine a row_number window
    // cannot have: the shuffle carries one candidate per (key, map task)
    val p = plan("q_upsert_snapshot")
    assert(!p.contains("Window"),
      s"snapshot must use the aggregate form:\n$p")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
      .findAllIn(p).length >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("span dedup: winner selection is a partial+final aggregate") {
    // min(struct(doc,pos)) per digest must combine map-side — a
    // row_number-per-span window would sort every span occurrence; and
    // the winner rows ARE the kept set, so no join back against the
    // span stream (exactly one join: the doc-keyed output rebuild)
    val p = plan("q_dedup_spans")
    assert(!p.contains("Window"),
      s"span winners must come from an aggregate, not a window:\n$p")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
      .findAllIn(p).length >= 2,
      s"expected partial+final aggregation:\n$p")
    // formatted explain names each node twice (tree + detail header);
    // count detail headers, one per physical join node
    val joins =
      "\\(\\d+\\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
        .findAllIn(p).length
    assert(joins == 1, s"expected exactly the output rebuild join:\n$p")
  }

  test("bucketed as-of join never funnels a key into one partition") {
    // the merge window must be keyed by (key, bucket) and the spine
    // window by key — neither may plan SinglePartition, and the shape
    // stays join-free except the spine union (no nested loop ever)
    val p = plan("q_asof_join_bucketed")
    assert(!p.contains("SinglePartition"),
      s"bucketed as-of must not serialize into one partition:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"bucketed as-of must never plan a nested loop:\n$p")
  }

  test("key-range reads of a range-partitioned, key-sorted parquet table " +
      "skip row groups by min/max statistics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val n = 20000L
    val d = TempDir("keyrange").toString
    // four files, each cut into many small row groups, every file and
    // row group holding one contiguous key range
    (0L until n).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").option("parquet.block.size", "16384")
      .parquet(d)
    assert(new java.io.File(d).list().count(_.endsWith(".parquet")) == 4)
    def all = spark.read.parquet(d)
    for ((pred, pushed, keep) <- Seq(
        (col("k") === 12345L, Seq("EqualTo(k,12345)"),
          (k: Long) => k == 12345L),
        (col("k").between(5000L, 5999L),
          Seq("GreaterThanOrEqual(k,5000)", "LessThanOrEqual(k,5999)"),
          (k: Long) => k >= 5000L && k <= 5999L))) {
      val df = all.where(pred)
      val got = df.collect().toSet
      val scan = new AdaptiveSparkPlanHelper {}.collect(
        df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      assert(scan.size == 1, s"${df.queryExecution.executedPlan}")
      pushed.foreach(p => assert(scan.head.metadata("PushedFilters")
        .contains(p), s"$p not pushed: ${scan.head.metadata}"))
      // fewer rows than one file holds: row groups inside the matching
      // file were skipped, not just whole files
      val read = scan.head.metrics("numOutputRows").value
      assert(read > 0 && read < n / 4,
        s"$pred read $read of $n rows: no row group was skipped")
      assert(got.nonEmpty &&
        got == all.collect().filter(r => keep(r.getLong(0))).toSet)
    }
  }
}
