package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.MaterializeJoin.{ChainSpec, SideSpec}
import graft.operators.{Curation, Dedup, FuzzyJoin, Graph, Multimodal,
  Similarity, Skew, TextAnalysis}

/** Training-data pipeline operator battery: dedup, similarity search,
  * text analysis, multimodal feature extraction. Oracle SQL mirrors the
  * exact double-precision fold order so results are bit-stable; the
  * probabilistic operators (MinHash-LSH, SimHash, ANN) have no SQL oracle
  * — their quality is asserted in ScalaTest against exact baselines. */
object Pipeline {
  // q_ivm_refresh exercises a full warehouse lifecycle per invocation;
  // ONE reusable temp root per sf dir (wiped each call) keeps /tmp
  // bounded across a long battery — a fresh dir per call would
  // accumulate unbounded parquet (the q_zorder_scan rule)
  /** Fact + typed aggregate state + rewrite registration for the
    * q_mv_rewrite* entries — session artifacts (built and registered
    * ONCE per sf dir via Artifacts.memoized): per-repetition rebuilds
    * would both time the wrong thing and grow the rewrite registry.
    * Shared so the exact-grain and rollup entries are order-independent
    * in the battery. */
  private def mvRewriteSetup(s: SparkSession, dir: String)
      : (String, String) =
    Artifacts.memoized(dir, "mv_rewrite_setup") {
      import s.implicits._
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_mvrw").toString
      val b = s"$tmp/fact"
      val m = s"$tmp/state"
      Tables.t(s, dir, "documents")
        .select($"doc_id", $"source", $"n_chars",
          ($"n_chars" * 1000000000000L + $"doc_id").as("big"))
        .write.mode("overwrite").parquet(b)
      graft.operators.Materialize
        .aggregate(s.read.parquet(b), Seq("source"),
          Seq("big", "n_chars"))
        .write.mode("overwrite").parquet(m)
      graft.plans.GraftAggViews.register(b,
        graft.plans.GraftAggViews.AggViewDef(m, Seq("source"),
          Seq("big", "n_chars")))
      (b, m)
    }

  /** Catalog tables, fixture and join MV of `q_mv_rewrite_join`,
    * registered for rewrite — built ONCE per sf dir, like
    * [[mvRewriteSetup]], so the timed run is the MV-served read it is
    * named for, not the fixture ingest and MV build. */
  private def mvJoinSetup(s: SparkSession, dir: String)
      : (graft.sources.PhoenixSql, String, String) =
    Artifacts.memoized(dir, "mv_join_setup") {
      import s.implicits._
      val wh = java.nio.file.Files
        .createTempDirectory("graft_mvjoin").toString
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE jl3 (okey BIGINT NOT NULL, " +
        "ln INTEGER NOT NULL, qty BIGINT " +
        "CONSTRAINT pk PRIMARY KEY (okey, ln))")
      px.execute("CREATE TABLE jo3 (okey BIGINT NOT NULL, " +
        "priority VARCHAR CONSTRAINT pk PRIMARY KEY (okey))")
      // pre-aggregate lineitem to its declared PK (the synthetic
      // fixture carries duplicate (orderkey, linenumber) pairs)
      cat.upsert("jl3", Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 16 === 6)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(sum($"l_quantity".cast("long")).as("qty")))
      cat.upsert("jo3", Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 16 === 6)
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority")))
      cat.refreshSnapshotCache("jl3")
      cat.refreshSnapshotCache("jo3")
      val mv = wh + "/mvjoin"
      graft.operators.Materialize.build(cat,
        ChainSpec("jl3", Seq(SideSpec("jo3", Seq("okey"),
          factKeysImmutable = true))),
        Seq("priority"), Seq("qty"), mv)
      graft.operators.Materialize.registerForRewrite(cat, mv)
      (px, wh, mv)
    }

  /** The same for `q_mv_rewrite_chain`'s three tables and chain MV. */
  private def mvChainSetup(s: SparkSession, dir: String)
      : (graft.sources.PhoenixSql, String, String) =
    Artifacts.memoized(dir, "mv_chain_setup") {
      import s.implicits._
      val wh = java.nio.file.Files
        .createTempDirectory("graft_mvchain").toString
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE co5 (okey BIGINT NOT NULL, " +
        "ckey BIGINT CONSTRAINT pk PRIMARY KEY (okey))")
      px.execute("CREATE TABLE cl5 (okey BIGINT NOT NULL, " +
        "ln INTEGER NOT NULL, qty BIGINT " +
        "CONSTRAINT pk PRIMARY KEY (okey, ln))")
      px.execute("CREATE TABLE cc5 (ckey BIGINT NOT NULL, " +
        "seg VARCHAR CONSTRAINT pk PRIMARY KEY (ckey))")
      cat.upsert("co5", Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 32 < 2)
        .select($"o_orderkey".as("okey"), $"o_custkey".as("ckey")))
      cat.upsert("cl5", Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 32 < 2)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(sum($"l_quantity".cast("long")).as("qty")))
      cat.upsert("cc5", Tables.t(s, dir, "customer")
        .select($"c_custkey".as("ckey"), $"c_mktsegment".as("seg")))
      cat.refreshSnapshotCache("co5")
      cat.refreshSnapshotCache("cl5")
      cat.refreshSnapshotCache("cc5")
      val mv = wh + "/mvchain5"
      graft.operators.Materialize.build(cat,
        graft.operators.MaterializeJoin.ChainSpec("co5", Seq(
          graft.operators.MaterializeJoin.SideSpec("cl5", Seq("okey"),
            sideKeysImmutable = true),
          graft.operators.MaterializeJoin.SideSpec("cc5", Seq("ckey"),
            factKeysImmutable = true))),
        Seq("seg"), Seq("qty"), mv)
      graft.operators.Materialize.registerForRewrite(cat, mv)
      (px, wh, mv)
    }

  /** STAR MV: orders fact × customer dim, per-segment decimal-priced
    * state; the dim registration (path + key pairs + attribute map +
    * innerSafe under TPC-H referential integrity) lets the rewrite
    * serve the aggregate-over-JOIN dashboard query from the tiny
    * state. */
  private def mvStarSetup(s: SparkSession, dir: String)
      : (String, String, String) =
    Artifacts.memoized(dir, "mv_star_setup") {
      import s.implicits._
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_mvstar").toString
      val b = s"$tmp/fact"
      val d = s"$tmp/dim"
      val m = s"$tmp/state"
      Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey",
          $"o_totalprice".cast("decimal(18,2)").as("price"))
        .write.mode("overwrite").parquet(b)
      Tables.t(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment")
        .write.mode("overwrite").parquet(d)
      val dimDf = s.read.parquet(d)
        .select($"c_custkey".as("o_custkey"),
          $"c_mktsegment".as("segment"))
      graft.operators.Materialize.aggregate(
          s.read.parquet(b)
            .join(broadcast(dimDf), Seq("o_custkey"), "left"),
          Seq("segment"), Seq("price"))
        .write.mode("overwrite").parquet(m)
      graft.plans.GraftAggViews.register(b,
        graft.plans.GraftAggViews.AggViewDef(m, Seq("segment"),
          Seq("price"),
          dims = Seq(graft.plans.GraftAggViews.DimJoinDef(d,
            factKeys = Seq("o_custkey"), dimKeys = Seq("c_custkey"),
            dimAttrs = Map("segment" -> "c_mktsegment"),
            innerSafe = true))))
      (b, d, m)
    }

  /** Sketch-valued MV over events: per-type state carrying a KMV
    * distinct-users sketch (k = 2^17 — exact regime at every fixture
    * scale), registered so the rewrite serves `kmv_sketch` aggregates
    * from the 5-row state instead of the fact scan. */
  private def mvSketchSetup(s: SparkSession, dir: String)
      : (String, String) =
    Artifacts.memoized(dir, "mv_sketch_setup") {
      import s.implicits._
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_mvsk").toString
      val b = s"$tmp/fact"
      val m = s"$tmp/state"
      Tables.t(s, dir, "events")
        .select($"event_id", $"event_type", $"user_id")
        .write.mode("overwrite").parquet(b)
      graft.operators.Materialize
        .aggregate(s.read.parquet(b), Seq("event_type"), Seq("user_id"),
          sketches = Seq("user_id" -> 131072))
        .write.mode("overwrite").parquet(m)
      graft.plans.GraftAggViews.register(b,
        graft.plans.GraftAggViews.AggViewDef(m, Seq("event_type"),
          Seq("user_id"), sketches = Map("user_id" -> 131072)))
      (b, m)
    }

  /** Heavy-hitter MV over events: a per-event-type SpaceSaving
    * top-terms state column, registered so `approx_top_terms` queries
    * over the fact serve from KBs of state. */
  private def mvTopkSetup(s: SparkSession, dir: String)
      : (String, String) =
    Artifacts.memoized(dir, "mv_topk_setup") {
      import s.implicits._
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_mvtk").toString
      val b = s"$tmp/fact"
      val m = s"$tmp/state"
      Tables.t(s, dir, "events")
        .select($"event_id", $"event_type", $"user_id")
        .write.mode("overwrite").parquet(b)
      graft.operators.Materialize
        .aggregate(s.read.parquet(b), Seq("event_type"), Seq("user_id"),
          topks = Seq("user_id" -> 8192))
        .write.mode("overwrite").parquet(m)
      graft.plans.GraftAggViews.register(b,
        graft.plans.GraftAggViews.AggViewDef(m, Seq("event_type"),
          Seq("user_id"), topks = Map("user_id" -> 8192)))
      (b, m)
    }

  /** Day-grain MV over events (grain column computed before the
    * aggregate, registered as an expression over the base) — the
    * time-bucket rollup is the most common real MV shape. */
  private def mvTimegrainSetup(s: SparkSession, dir: String)
      : (String, String) =
    Artifacts.memoized(dir, "mv_timegrain_setup") {
      import s.implicits._
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_mvtg").toString
      val b = s"$tmp/fact"
      val m = s"$tmp/state"
      Tables.t(s, dir, "events")
        .select($"event_id", $"event_type", $"ts", $"user_id")
        .write.mode("overwrite").parquet(b)
      graft.operators.Materialize
        .aggregate(s.read.parquet(b)
            .withColumn("day", date_trunc("DAY", col("ts"))),
          Seq("event_type", "day"), Seq("user_id", "event_id"))
        .write.mode("overwrite").parquet(m)
      graft.plans.GraftAggViews.register(b,
        graft.plans.GraftAggViews.AggViewDef(m, Seq("event_type", "day"),
          Seq("user_id", "event_id"),
          grainExprs = Map("day" -> "date_trunc('DAY', ts)")))
      (b, m)
    }

  private val ivmDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivmWarehouse(dir: String): String = {
    val root = ivmDirs.computeIfAbsent(dir, _ =>
      java.nio.file.Files.createTempDirectory("graft_ivm_q").toString)
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del)); f.delete()
    }
    Option(new java.io.File(root).listFiles).foreach(_.foreach(del))
    root
  }
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on full text, one survivor per group.
    "q_dedup_exact" -> { (s, dir) =>
      Dedup.exactDedup(Tables.t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("keep_id"))
    },

    // Near-exact dedup on normalized-text fingerprint.
    "q_dedup_fingerprint" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .groupBy(Dedup.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    },

    // Duplicated-span surgery (Lee et al. / C4 repeated-span rule):
    // consecutive 10-word spans, first occurrence corpus-wide survives,
    // documents rebuilt from their kept spans. One digest-keyed
    // aggregate — the winner rows ARE the kept set, no join back.
    "q_dedup_spans" -> { (s, dir) =>
      Dedup.dedupSpans(Tables.t(s, dir, "documents"), "text", "doc_id",
          spanWords = 10)
        .orderBy(col("doc"))
    },

    // Incremental span surgery: delta docs (id >= 250) rebuilt against
    // the corpus (< 250) span-winner table — one delta aggregate + one
    // digest anti-join; corpus text untouched.
    "q_dedup_spans_incremental" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val winners = Dedup.spanWinnerTable(
        docs.where(col("doc_id") < 250), "text", "doc_id", spanWords = 10)
      Dedup.incrementalDedupSpans(winners,
          docs.where(col("doc_id") >= 250), "text", "doc_id",
          spanWords = 10)
        .orderBy(col("doc"))
    },

    // CCNet line-level boilerplate removal: a line present in >= 3
    // distinct docs is dropped EVERYWHERE (headers/footers have no
    // "first occurrence" worth keeping — contrast q_dedup_spans, which
    // keeps the winner). The corpus has no physical newlines, so lines
    // are synthesized deterministically as consecutive 8-word segments.
    "q_line_dedup" -> { (s, dir) =>
      import s.implicits._
      val ws = split(lower(trim($"text")), "\\s+")
      val lined = Tables.t(s, dir, "documents")
        .where(length(trim($"text")) > 0)
        .select($"doc_id",
          array_join(transform(
            sequence(lit(0L), ceil(size(ws) / lit(8.0)) - 1),
            i => array_join(
              slice(ws, (i * 8 + 1).cast("int"), lit(8)), " ")),
            "\n").as("text"))
      Dedup.lineDedup(lined, "text", "doc_id", minDocFreq = 3)
        .orderBy($"doc")
    },

    // Incremental line dedup (daily-ingest shape): delta docs (id >=
    // 250) cleaned against the corpus (< 250) line-frequency TABLE plus
    // the delta's own counts — sum-merged, corpus text never re-read.
    // Output equals full line dedup restricted to the delta.
    "q_line_dedup_incremental" -> { (s, dir) =>
      import s.implicits._
      val ws = split(lower(trim($"text")), "\\s+")
      val lined = Tables.t(s, dir, "documents")
        .where(length(trim($"text")) > 0)
        .select($"doc_id",
          array_join(transform(
            sequence(lit(0L), ceil(size(ws) / lit(8.0)) - 1),
            i => array_join(
              slice(ws, (i * 8 + 1).cast("int"), lit(8)), " ")),
            "\n").as("text"))
      val freq = Dedup.lineFreqTable(
        lined.where($"doc_id" < 250), "text", "doc_id")
      Dedup.incrementalLineDedup(freq,
          lined.where($"doc_id" >= 250), "text", "doc_id", minDocFreq = 3)
        .orderBy($"doc")
    },

    // PageRank centrality over the duplication graph: docs sharing >= 2
    // distinct 10-word spans are linked (symmetric edges), 3 power
    // iterations, damping 0.85. The rank is the "most-copied-from"
    // signal a crawl pipeline uses to pick authoritative canonicals —
    // contrast q_dedup_canonical's arbitrary min-id pick. Node spine =
    // ALL docs in range, so isolated docs score the floor and dangling
    // mass (docs with no outgoing edges) redistributes uniformly.
    "q_pagerank" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.t(s, dir, "documents")
        .where($"doc_id" < 300 && length(trim($"text")) > 0)
      val ws = split(lower(trim($"text")), "\\s+")
      val sp = docs
        .select($"doc_id".as("doc"), ws.as("w"))
        .select($"doc", $"w",
          explode(sequence(lit(0L), ceil(size($"w") / lit(10.0)) - 1))
            .as("pos"))
        .select($"doc", concat_ws(" ",
          slice($"w", ($"pos" * 10 + 1).cast("int"), lit(10))).as("span"))
        .distinct()
      val edges = sp.toDF("src", "span")
        .join(sp.toDF("dst", "span2"), $"span" === $"span2" &&
          $"src" =!= $"dst")
        .groupBy($"src", $"dst").agg(count(lit(1)).as("nshared"))
        .where($"nshared" >= 2)
        .select($"src", $"dst")
      Graph.pageRank(edges, iterations = 3, damping = 0.85,
          nodes = Some(docs.select($"doc_id".as("id"))))
        .select($"id".as("doc"), round($"pr", 8).as("pr"))
        .orderBy($"doc")
    },

    // Exact n-gram Jaccard near-dup pairs (bounded brute-force: the
    // correctness baseline the LSH path is tested against).
    "q_jaccard_pairs" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents").where(col("doc_id") < 300)
      Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.2)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Character 4-gram Jaccard pairs (bounded exact baseline): the
    // shingle representation for short/noisy text where word tokens are
    // unreliable.
    "q_jaccard_char" -> { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val sh = Tables.t(s, dir, "documents").where($"doc_id" < 200)
        .select($"doc_id".as("id"), lower($"text").as("t"))
        .select($"id", Dedup.charShingles($"t", 4).as("sh"))
      val a = sh.toDF("id_a", "sh_a")
      val b = sh.toDF("id_b", "sh_b")
      a.crossJoin(b).where($"id_a" < $"id_b")
        .select($"id_a", $"id_b",
          call_function("jaccard_sim", $"sh_a", $"sh_b").as("jac"))
        .where($"jac" >= 0.3)
        .orderBy($"id_a", $"id_b")
    },

    // MinHash+LSH near-dup pairs verified with exact Jaccard — the 100 TB
    // path (linear signatures + banded bucket join). No SQL oracle
    // (probabilistic recall); recall vs q_jaccard_pairs is ScalaTested.
    "q_dedup_minhash" -> { (s, dir) =>
      Dedup.nearDupPairs(Tables.t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    },

    // SimHash-64 signatures + banded near-dup candidates (no oracle:
    // xxhash64-based; Hamming-distance behavior ScalaTested).
    "q_dedup_simhash" -> { (s, dir) =>
      Dedup.simhashNearDups(Tables.t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Incremental SimHash near-dup over a persisted 8-byte-signature
    // artifact — same fixed-ingest-batch shape as
    // q_dedup_incremental_lsh (delta = first 100 doc ids); only the
    // delta is hashed per batch, only delta-touching pairs emit. No SQL
    // oracle (simhash); incremental == delta-touching-subset-of-batch
    // is ScalaTested in DedupSpec.
    "q_dedup_simhash_incremental" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val corpusSig = Artifacts.one(s, dir, "simhash_sig") {
        Dedup.simhashSignatures(docs.where(col("doc_id") >= 100),
          "text", "doc_id")
      }
      Dedup.simhashNearDupsIncremental(corpusSig,
          docs.where(col("doc_id") < 100), "text", "doc_id", maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Text quality metrics for corpus filtering.
    "q_text_quality" -> { (s, dir) =>
      TextAnalysis.qualityMetrics(
          Tables.t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tok"), col("mean_wlen"),
          col("stopword_ratio"), col("symbol_ratio"), col("digit_ratio"),
          TextAnalysis.subwordCountEstimate(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))
    },

    // Stopword-heuristic language ID (argmax over per-language scores).
    "q_lang_id" -> { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },

    // Brute-force cosine top-k against the vec_id=0 embedding — exact
    // double-precision oracle (TakeOrderedAndProject at scale).
    "q_knn_cosine" -> { (s, dir) =>
      Similarity.cosineTopK(Tables.t(s, dir, "embeddings"),
        "embedding", "vec_id", queryId = 0L, k = 20)
    },

    // Storage-path top-k over the int8-QUANTIZED corpus: the scan reads
    // the 4×-smaller code column and the kernel is integer-ALU only
    // (per-vector scales cancel out of the cosine). Under the DuckDB
    // oracle: the whole path is closed-form and engine-portable by
    // design — scale = maxabs/127, q_i = floor(x_i/scale + 0.5)
    // saturated to [-128, 127] (explicit half-up; engines disagree on
    // round()'s tie rule), integer dot/norms, ONE double division — so
    // the oracle re-derives the quantized codes in SQL and must match
    // hash-exactly, pinning quantize + integer cosine end to end (the
    // ranking-accuracy bound vs float cosine stays ScalaTested).
    "q_knn_cosine_int8" -> { (s, dir) =>
      Similarity.int8CosineTopK(
        Similarity.quantizeInt8(Tables.t(s, dir, "embeddings"),
          "embedding", "vec_id"),
        "q", "id", queryId = 0L, k = 20)
        .select(col("id").as("vec_id"), col("sim"))
    },

    // Product-quantization top-k: the deep-storage path — 64 float dims
    // become 8 bytes (32×), the scan reads only the code column and
    // scores via a broadcast per-query lookup table (ADC). No SQL
    // oracle — codebook is iterative k-means; recall vs the exact
    // baseline is ScalaTested.
    "q_knn_pq" -> { (s, dir) =>
      val emb = Tables.t(s, dir, "embeddings")
      // index built once per session (Artifacts); the query times the
      // ADC serving scan over the persisted code column
      val (book, coded) = Artifacts.memoized(dir, "pq") {
        val (b, c) = Similarity.pqIndex(emb, "embedding", "vec_id")
        (b, Artifacts.persisted(s, "pq_codes")(c))
      }
      Similarity.pqTopK(book, coded, emb, "embedding", "vec_id",
        queryId = 0L, k = 20)
    },

    // Embedding-cosine near-dup pairs (bounded exact baseline; the scale
    // path is the LSH-bucketed knnJoin + threshold).
    "q_dedup_embedding" -> { (s, dir) =>
      Similarity.cosineNearDupPairs(
          Tables.t(s, dir, "embeddings").where(col("vec_id") < 200),
          "embedding", "vec_id", threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Hard-negative mining (ANCE/DPR contrastive data prep): per
    // anchor, top-5 candidates with cosine in [0.15, 0.5) — informative
    // negatives below the near-dup bar. Bounded exact baseline
    // (oracle); hardNegativesLsh is the banded scale path (ScalaTested
    // equivalence within LSH recall).
    "q_hard_negatives" -> { (s, dir) =>
      Similarity.hardNegatives(
          Tables.t(s, dir, "embeddings").where(col("vec_id") < 200),
          "embedding", "vec_id", k = 5, lo = 0.15, hi = 0.5)
        .orderBy(col("anchor"), col("sim").desc, col("negative"))
    },

    // ANN via sign-random-projection bucket (scale path; recall vs the
    // brute-force baseline is ScalaTested — no SQL oracle).
    "q_ann_lsh" -> { (s, dir) =>
      Similarity.annTopK(Tables.t(s, dir, "embeddings"),
        "embedding", "vec_id", queryId = 0L, k = 10)
    },

    // Sign-LSH in its EXACT regime (every bucket probed): must equal
    // brute-force cosine top-k hash-exactly — pins that the plane
    // hashing assigns every vector to exactly one bucket and the probe
    // join loses/duplicates nothing (the LSH twin of q_ann_ivf_exact).
    "q_ann_lsh_exact" -> { (s, dir) =>
      Similarity.annTopK(Tables.t(s, dir, "embeddings"),
          "embedding", "vec_id", queryId = 0L, k = 20, probeAll = true)
        .select(col("vec_id"), col("sim"))
    },

    // IVF ANN: k-means coarse quantizer + nprobe cell scan (the second
    // scale path beside sign-LSH; recall vs brute force is ScalaTested —
    // no SQL oracle, the quantizer is iterative).
    "q_ann_ivf" -> { (s, dir) =>
      val (centroids, assigned) = Artifacts.memoized(dir, "ivf") {
        val (ce, as) = Similarity.ivfIndex(
          Tables.t(s, dir, "embeddings"), "embedding", "vec_id")
        (ce, Artifacts.persisted(s, "ivf_cells")(as))
      }
      Similarity.ivfTopK(centroids, assigned, queryId = 0L, k = 10)
    },

    // IVF in its EXACT regime (nprobe = nlist — the recall-calibration
    // mode practitioners run to bound an index's loss): every cell is
    // probed, so the result must equal brute-force cosine top-k
    // EXACTLY, which puts the whole IVF plumbing — cell assignment,
    // probe selection, cell-pruned scan, merge — under the DuckDB
    // oracle. A lost vector (a row assigned to no cell, a probe set
    // that misses a cell) breaks the hash match loudly.
    "q_ann_ivf_exact" -> { (s, dir) =>
      val (centroids, assigned) = Artifacts.memoized(dir, "ivf") {
        val (ce, as) = Similarity.ivfIndex(
          Tables.t(s, dir, "embeddings"), "embedding", "vec_id")
        (ce, Artifacts.persisted(s, "ivf_cells")(as))
      }
      Similarity.ivfTopK(centroids, assigned, queryId = 0L, k = 20,
          nprobe = centroids.length)
        .select(col("id").as("vec_id"), col("sim"))
    },

    // INCREMENTAL IVF under the hard oracle: the index is built ONCE
    // on the corpus minus a 100-vector ingest batch (persisted
    // artifact); the timed query assigns only the delta to the frozen
    // centroids (Similarity.ivfAppend — O(delta), vs an O(corpus)
    // rebuild per batch) and searches persisted ∪ appended in the
    // exact regime (nprobe = nlist), which must equal brute-force
    // cosine top-k over the FULL corpus — a delta vector lost or
    // double-assigned breaks the hash match. The query vector itself
    // comes from the APPENDED side.
    "q_ann_ivf_incremental" -> { (s, dir) =>
      val (centroids, assigned) = Artifacts.memoized(dir, "ivf_inc") {
        val (ce, as) = Similarity.ivfIndex(
          Tables.t(s, dir, "embeddings").where(col("vec_id") >= 100),
          "embedding", "vec_id")
        (ce, Artifacts.persisted(s, "ivf_inc_cells")(as))
      }
      val appended = Similarity.ivfAppend(centroids,
        Tables.t(s, dir, "embeddings").where(col("vec_id") < 100),
        "embedding", "vec_id")
      Similarity.ivfTopK(centroids, assigned.unionByName(appended),
          queryId = 7L, k = 15, nprobe = centroids.length)
        .select(col("id").as("vec_id"), col("sim"))
    },

    // IVF-PQ combined index (the billion-scale ANN layout): coarse
    // cells + residual PQ codes, one fused encode scan; search reads
    // only the probed cells' 8-byte code column. Rows-only driver
    // check (k-means); recall/error/determinism ScalaTested.
    "q_ann_ivfpq" -> { (s, dir) =>
      val emb = Tables.t(s, dir, "embeddings")
      val (cents, book, coded) = Artifacts.memoized(dir, "ivfpq") {
        val (ce, bo, co) = Similarity.ivfPqIndex(
          emb, "embedding", "vec_id", nlist = 8, ks = 256)
        (ce, bo, Artifacts.persisted(s, "ivfpq_codes")(co))
      }
      Similarity.ivfPqTopK(cents, book, coded, emb, "embedding",
        "vec_id", queryId = 0L, k = 10, nprobe = 4)
    },

    // IVF-PQ in its EXACT regime: every cell probed (nprobe = nlist)
    // and the refine shortlist covers the WHOLE pool, so the two-stage
    // search (ADC shortlist → exact cosine re-rank,
    // Similarity.ivfPqTopKRefined) must equal brute-force cosine top-k
    // EXACTLY — putting the full IVF-PQ plumbing (encode, cell routing,
    // ADC ranking, float re-rank join) under the DuckDB oracle the way
    // q_ann_ivf_exact does for plain IVF. A vector lost by encoding or
    // the semi-join breaks the hash match loudly.
    "q_ann_ivfpq_exact" -> { (s, dir) =>
      val emb = Tables.t(s, dir, "embeddings")
      val (cents, book, coded) = Artifacts.memoized(dir, "ivfpq") {
        val (ce, bo, co) = Similarity.ivfPqIndex(
          emb, "embedding", "vec_id", nlist = 8, ks = 256)
        (ce, bo, Artifacts.persisted(s, "ivfpq_codes")(co))
      }
      val pool = coded.count().toInt
      Similarity.ivfPqTopKRefined(cents, book, coded, emb, "embedding",
          "vec_id", queryId = 0L, k = 20, nprobe = 8, shortlist = pool)
        .select(col("id").as("vec_id"), col("sim"))
    },

    // Embedding near-dup at scale: LSH-bucketed k-NN self-join + threshold
    // over the FULL table — shuffle on bucket, no cross join. This is the
    // graded 100 TB entry; q_dedup_embedding above is the bounded exact
    // baseline it is recall-tested against (no SQL oracle: bucket
    // membership depends on the seeded hyperplanes).
    "q_dedup_embedding_lsh" -> { (s, dir) =>
      Similarity.knnJoin(Tables.t(s, dir, "embeddings"),
          "embedding", "vec_id", k = 5)
        .where(col("sim") >= 0.3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // SemDeDup-style semantic dedup: k-means cells → in-cell cosine
    // pairs → transitive groups → canonical survivor. No SQL oracle
    // (k-means quantizer); grouping/canonical/determinism properties are
    // pinned in SimilaritySpec.
    "q_dedup_semantic" -> { (s, dir) =>
      Similarity.semanticDedup(Tables.t(s, dir, "embeddings"),
          "embedding", "vec_id", tau = 0.95)
        .orderBy(col("id"))
    },

    // Classifier-based quality filter (GPT-3/CCNet style): train a
    // logistic model on a deterministic labeled split (en = trusted
    // class as the domain proxy), score every doc scan-locally, keep by
    // the deterministic Pareto rule. No SQL oracle (LBFGS float sums
    // aren't bit-stable across engines); separation/determinism pinned
    // in PipelineSpec.
    "q_quality_classifier" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.t(s, dir, "documents")
      // the trained model is the persisted artifact of a production
      // pipeline (train once, score every batch) — memoized per
      // session; training is deterministic (PipelineSpec), so the
      // scores are identical either way and the query times the
      // scan-local scoring path
      val model = Artifacts.memoized(dir, "quality_model") {
        val labeled = docs.withColumn("label",
          when($"lang" === "en", 1.0).otherwise(0.0))
        graft.operators.QualityFilter.train(labeled, "text", "label")
      }
      graft.operators.QualityFilter.filter(model, docs, "text", "doc_id")
        .select($"doc_id", round($"quality_prob", 4).as("quality_prob"))
        .orderBy($"doc_id")
    },

    // End-to-end corpus curation: quality-filter → language gate →
    // fingerprint-dedup (keep lowest doc_id) → survivors with metrics.
    // The composition stays one scan + one digest-keyed shuffle.
    "q_curation_pipeline" -> { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.t(s, dir, "documents")
      val scored = docs
        .withColumn("w", split(lower(trim($"text")), "\\s+"))
        .withColumn("n_tok", size($"w"))
        .withColumn("stop_ratio",
          TextAnalysis.stopwordHits($"w", "en").cast("double") / size($"w"))
        // same scores as langId(text): the extra trim only drops empty
        // tokens, which are never stopwords
        .withColumn("lang_pred", TextAnalysis.langIdFromWords($"w"))
        .withColumn("fp", Dedup.fingerprint($"text"))
      // dedup survivor = min doc_id per fingerprint via map-side
      // combinable min_by (one candidate per (fp, task) in the shuffle)
      // rather than a row_number window over every duplicate row
      scored
        .where($"n_tok" >= 20 && $"stop_ratio" >= 0.05 &&
          $"lang_pred" === "en")
        .groupBy($"fp")
        .agg(min_by(struct($"doc_id", $"n_tok", $"stop_ratio"), $"doc_id")
          .as("best"))
        .select($"best.doc_id".as("doc_id"), $"best.n_tok".as("n_tok"),
          $"best.stop_ratio".as("stop_ratio"), $"fp")
        .orderBy($"doc_id")
    },

    // Near-dup cluster assignment: connected components over the verified
    // pair set — every doc gets the min reachable id as its cluster
    // representative. The edge set here is the bounded exact baseline so
    // the oracle (recursive CTE) can verify the clustering itself; at
    // scale the same operator consumes the LSH pair set (linear edges).
    "q_dedup_cluster" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents").where(col("doc_id") < 300)
      val edges = Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.2)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(docs.select(col("doc_id").as("id")), edges)
        .orderBy(col("id"))
    },

    // Canonical-document selection per near-dup cluster (the dedup
    // endgame): clusters from connected components, survivor = highest
    // quality (token count), ties to the lowest id. One window over the
    // cluster key after the cluster join.
    "q_dedup_canonical" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents").where(col("doc_id") < 300)
      val edges = Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.2)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
      val scored = docs.select(col("doc_id").as("id"),
        size(split(lower(trim(col("text"))), "\\s+")).as("n_tok"))
      // survivor = argmax(n_tok, tie -> min id) per cluster as a map-side
      // combinable max_by (the shuffle carries one candidate per
      // (cluster, task)) instead of a row_number window that ships and
      // sorts every member row — same shape as the snapshot collapse
      clusters.join(scored, "id")
        .groupBy(col("cluster_id"))
        .agg(max_by(struct(col("id"), col("n_tok")),
          struct(col("n_tok"), (-col("id")).as("neg"))).as("best"))
        .select(col("cluster_id"), col("best.id").as("keep_id"),
          col("best.n_tok").as("n_tok"))
        .orderBy(col("cluster_id"))
    },

    // PII scrubbing: emails/URLs/IPs/phone runs → typed placeholders,
    // plus per-pattern match counts for scrub audits. The PII-bearing
    // text is derived deterministically from customer fields (the
    // documents corpus is synthetic word salad with nothing to scrub).
    "q_pii_scrub" -> { (s, dir) =>
      import s.implicits._
      Tables.t(s, dir, "customer")
        .withColumn("raw", concat(
          $"c_name", lit(" at user"), $"c_custkey".cast("string"),
          lit("@example.com or +1-555-"),
          lpad(($"c_custkey" % 10000).cast("string"), 4, "0"),
          lit(" see https://ex.com/c/"), $"c_custkey".cast("string"),
          lit(" from 10.0.0."), ($"c_custkey" % 250).cast("string")))
        .select($"c_custkey",
          TextAnalysis.scrubPii($"raw").as("clean"),
          TextAnalysis.piiCount($"raw", TextAnalysis.EmailRe).as("n_email"),
          TextAnalysis.piiCount($"raw", TextAnalysis.UrlRe).as("n_url"),
          TextAnalysis.piiCount($"raw", TextAnalysis.Ipv4Re).as("n_ip"),
          TextAnalysis.piiCount($"raw", TextAnalysis.PhoneRe).as("n_phone"))
        .orderBy($"c_custkey")
    },

    // Corpus term statistics (vocabulary/IDF building block): term + doc
    // frequency, top-100 by frequency. Explode → partial-agg groupBy →
    // TakeOrderedAndProject; the shuffle is vocabulary-sized.
    "q_term_freq" -> { (s, dir) =>
      TextAnalysis.termFrequencies(
          Tables.t(s, dir, "documents"), "text", "doc_id")
        .orderBy(desc("tf"), asc("term"))
        .limit(100)
    },

    // Bounded-memory heavy hitters (SpaceSaving aggregate): top-20 terms
    // via capacity-capped sketches — the shuffle carries one fixed-size
    // summary per map task, not the vocabulary. Capacity 1024 >> the
    // corpus vocabulary here, so the sketch is in its exact regime
    // (err = 0, deterministic) and the oracle is the exact top-20; the
    // approximate regime is property-tested in TopKSketchSpec.
    "q_top_terms_sketch" -> { (s, dir) =>
      TextAnalysis.approxTopTerms(
        Tables.t(s, dir, "documents"), "text", k = 20, capacity = 1024)
    },

    // Top-3 characteristic terms per doc by TF-IDF: broadcast the
    // vocabulary-sized DF table + corpus count, shuffle only the
    // term-doc agg and the per-doc top-k window.
    "q_tfidf_terms" -> { (s, dir) =>
      TextAnalysis.tfIdfTopTerms(
          Tables.t(s, dir, "documents"), "text", "doc_id", k = 3)
        .orderBy(col("doc"), col("term"))
    },

    // BM25 query-relevance ranking (Okapi, Lucene idf): top-k docs for a
    // fixed domain probe — the tf shuffle is pre-filtered to query terms.
    "q_bm25_topk" -> { (s, dir) =>
      TextAnalysis.bm25TopK(Tables.t(s, dir, "documents"), "text", "doc_id",
        query = Seq("customer", "vector", "slow", "merge"), k = 10)
    },

    // MMR diversified selection over a bounded retrieval pool — greedy is
    // inherently sequential, so no SQL oracle; semantics ScalaTested
    // (first pick pure relevance, near-duplicates demoted, determinism).
    "q_mmr_select" -> { (s, dir) =>
      val emb = Tables.t(s, dir, "embeddings")
      val pool = Similarity.cosineTopK(emb, "embedding", "vec_id", 0L, 100)
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      Similarity.mmrSelect(pool, "vec_id", "sim", "embedding",
        k = 20, lambda = 0.7)
    },

    // Hybrid sparse+dense retrieval: RRF over the BM25 branch and the
    // cosine branch (doc_id aligns with vec_id in the fixture).
    "q_hybrid_topk" -> { (s, dir) =>
      Similarity.hybridTopK(
        Tables.t(s, dir, "documents"), "text", "doc_id",
        Tables.t(s, dir, "embeddings"), "embedding", "vec_id",
        query = Seq("customer", "vector", "slow", "merge"),
        queryVecId = 0L, k = 15, poolSize = 50)
    },

    // Int8 embedding quantization (storage path at corpus scale): scale +
    // quantized bytes, hex-serialized for the driver compare — the full
    // quantized content is oracle-checked, not a sample.
    "q_embed_quantize" -> { (s, dir) =>
      Similarity.quantizeInt8(Tables.t(s, dir, "embeddings"),
          "embedding", "vec_id")
        .select(col("id"), col("scale"), hex(col("q")).as("q_hex"))
        .orderBy(col("id"))
    },

    // Gopher-style repetition metrics per doc: duplicate-word fraction,
    // top-word fraction, duplicate-2-gram fraction. Histogram-sized
    // two-level aggregate; the 2-gram distinct count is scan-local.
    "q_repetition" -> { (s, dir) =>
      Curation.repetitionMetrics(
          Tables.t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc"))
    },

    // Benchmark-contamination sweep: candidate docs (source <> src0) vs
    // the src0 "eval set" on distinct word 4-grams — broadcast the
    // benchmark gram set, stream candidates through one left join.
    "q_contamination" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      Curation.contamination(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"),
          "text", "doc_id", n = 4)
        .where(col("n_hit") > 0)
        .orderBy(col("doc"))
    },

    // Deterministic epoch shuffle (trainer data-order prep): per-epoch
    // reproducible permutation + scan-local hash-range shard assignment
    // — the portable hash makes the oracle reproduce the exact order.
    "q_epoch_shuffle" -> { (s, dir) =>
      Curation.epochShuffle(
          Tables.t(s, dir, "documents").select(col("doc_id")),
          "doc_id", epoch = 3, shards = 8)
        .orderBy(col("shard"), col("shuffle_key"), col("doc_id"))
    },

    // Deterministic train/val/test assignment (portable multiplicative
    // hash — stable across runs/engines/layouts); per-split × language
    // counts verify the stratification.
    "q_train_split" -> { (s, dir) =>
      Curation.trainValTestSplit(
          Tables.t(s, dir, "documents"), "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("lang"))
    },

    // Incremental materialized-aggregate maintenance END TO END, under
    // the hard oracle: build the MV over a 300-doc corpus, then ingest
    // inserts (300-379), updates (docs < 40 re-upserted with +7 chars —
    // retractions for the MV), and a whole-source delete, refresh ONCE,
    // and read the state. The oracle recomputes the same aggregate over
    // the final logical table — equality proves the algebraic fold and
    // the retraction-group recompute both land exactly.
    "q_ivm_refresh" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir)
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("d", StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_chars", LongType))), pk = Seq("doc_id"))
      val docs = Tables.t(s, dir, "documents")
        .select($"doc_id", $"source", $"n_chars")
      cat.upsert("d", docs.where($"doc_id" < 300))
      val mv = wh + "/mv"
      graft.operators.Materialize.build(cat, ChainSpec("d"),
        Seq("source"), Seq("n_chars"), mv)
      cat.upsert("d", docs.where($"doc_id" >= 300 && $"doc_id" < 380))
      cat.upsert("d", docs.where($"doc_id" < 40)
        .withColumn("n_chars", $"n_chars" + 7))
      cat.delete("d", $"source" === "src1")
      graft.operators.Materialize.refresh(cat, mv)
      graft.operators.Materialize.read(s, mv)
        .select($"source", $"cnt", $"sum_n_chars",
          $"min_n_chars", $"max_n_chars")
        .orderBy($"source")
    },

    // BUCKET-MANIFESTED IVM state under the hard oracle: same
    // end-to-end lifecycle, but the state is hash-bucketed (B = 32)
    // and each refresh rewrites ONLY the buckets holding touched
    // groups — the 100-TB layout, where a single-dir state would pay
    // an O(groups) rewrite per delta. The query body PINS the partial
    // rewrite (throws unless the refresh touched a strict subset of
    // the manifest), so a green row proves the bucket slice both ran
    // and landed exactly.
    "q_ivm_bucketed" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir)
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("db", StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_chars", LongType))), pk = Seq("doc_id"))
      val docs = Tables.t(s, dir, "documents")
        .select($"doc_id", $"source", $"n_chars")
      cat.upsert("db", docs.where($"doc_id" < 250))
      val mv = wh + "/mvb"
      graft.operators.Materialize.build(cat, ChainSpec("db"),
        Seq("source"), Seq("n_chars"), mv, buckets = 8)
      cat.upsert("db", docs.where($"doc_id" >= 250 && $"doc_id" < 330))
      cat.upsert("db", docs.where($"doc_id" < 30)
        .withColumn("n_chars", $"n_chars" + 11))
      cat.delete("db", $"source" === "src2")
      val lr = graft.operators.Materialize.refresh(cat, mv)
      require(lr.bucketsTotal == 8 && lr.bucketsTouched > 0 &&
        lr.bucketsTouched < 8,
        s"refresh must rewrite a strict subset of the manifest, " +
          s"touched ${lr.bucketsTouched}/${lr.bucketsTotal}")
      graft.operators.Materialize.read(s, mv)
        .select($"source", $"cnt", $"sum_n_chars",
          $"min_n_chars", $"max_n_chars")
        .orderBy($"source")
    },

    // STAR-SCHEMA IVM under the hard oracle: the MV groups the orders
    // FACT by a CUSTOMER DIMENSION attribute via the `derive` hook (a
    // broadcast left join applied to every row the fold touches — post
    // rows, retraction pre-images, the affected-group recompute), over
    // bucket-manifested state. Churn: inserts, extremum-churning
    // updates (+55), and a delete crossing every segment. The oracle
    // recomputes the join-then-aggregate over the final logical table;
    // decimal discipline on both sides (double sums are not bit-stable
    // across engines), final projection cast to DOUBLE on both.
    "q_ivm_star" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}
      val wh = ivmWarehouse(dir)
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("fo", StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("price", DecimalType(18, 2)))), pk = Seq("o_orderkey"))
      val orders = Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey",
          $"o_totalprice".cast("decimal(18,2)").as("price"))
      // the ENFORCED star derive: build stamps the dim fingerprint into
      // the MV meta (and proves key uniqueness); refresh re-checks it —
      // a churned dim would refuse instead of mis-grouping retractions
      val derive = graft.operators.Materialize.StarDerive(
        Tables.t(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment".as("segment")),
        keys = Seq("o_custkey" -> "c_custkey"), attrs = Seq("segment"))
      // a 3/8 slice of orders keeps the lifecycle end-to-end while
      // bounding the parquet-write cost that dominates this entry
      val slice = orders.where($"o_orderkey" % 8 < 3)
      cat.upsert("fo", slice.where($"o_orderkey" % 8 < 2))
      val mv = wh + "/mvstar"
      graft.operators.Materialize.build(cat, ChainSpec("fo"),
        Seq("segment"), Seq("price"), mv, buckets = 16, derive = derive)
      cat.upsert("fo", slice.where($"o_orderkey" % 8 === 2))
      cat.upsert("fo", slice.where($"o_orderkey" % 100 === 1)
        .withColumn("price", ($"price" + 55).cast("decimal(18,2)")))
      cat.delete("fo", $"o_custkey" % 5 === 2)
      graft.operators.Materialize.refresh(cat, mv, derive = derive)
      graft.operators.Materialize.read(s, mv)
        .select($"segment", $"cnt",
          $"sum_price".cast("double").as("sum_price"),
          $"min_price".cast("double").as("min_price"),
          $"max_price".cast("double").as("max_price"))
        .orderBy($"segment")
    },

    // SCD-2 STAR IVM under the hard oracle: the MV derives through a
    // VERSION-PINNED dim snapshot (StarDerive.pinned), the LIVE dim
    // then churns (a third of the customers move to a new segment —
    // the normal state of a dimension), and refresh keeps folding
    // incrementally because the pinned snapshot is unchanged. The
    // oracle joins the ORIGINAL customer table, so a green row proves
    // the pin held: serving from the live dim would surface 'CHURNED'
    // groups and hash-mismatch.
    "q_ivm_star_scd" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir)
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("fs", StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("price", DecimalType(18, 2)))), pk = Seq("o_orderkey"))
      cat.createTable("dc", StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("segment", StringType))), pk = Seq("c_custkey"))
      val dimV0 = cat.upsert("dc", Tables.t(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment".as("segment")))
      def pinned = graft.operators.Materialize.StarDerive.pinned(
        cat, "dc", dimV0,
        keys = Seq("o_custkey" -> "c_custkey"), attrs = Seq("segment"))
      val orders = Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey",
          $"o_totalprice".cast("decimal(18,2)").as("price"))
      val slice = orders.where($"o_orderkey" % 16 < 2)
      cat.upsert("fs", slice.where($"o_orderkey" % 16 === 0))
      val mv = wh + "/mvscd"
      graft.operators.Materialize.build(cat, ChainSpec("fs"),
        Seq("segment"), Seq("price"), mv, buckets = 8, derive = pinned)
      // live dim churn BETWEEN refreshes — invisible to the pinned MV
      cat.upsert("dc", Tables.t(s, dir, "customer")
        .where($"c_custkey" % 3 === 0)
        .select($"c_custkey", lit("CHURNED").as("segment")))
      cat.upsert("fs", slice.where($"o_orderkey" % 16 === 1))
      cat.delete("fs", $"o_custkey" % 7 === 3)
      graft.operators.Materialize.refresh(cat, mv, derive = pinned)
      graft.operators.Materialize.read(s, mv)
        .select($"segment", $"cnt",
          $"sum_price".cast("double").as("sum_price"),
          $"min_price".cast("double").as("min_price"),
          $"max_price".cast("double").as("max_price"))
        .orderBy($"segment")
    },

    // SNOWFLAKE (multi-dim chained) IVM under the hard oracle: the MV
    // groups order facts by TWO chained dimensions' attributes —
    // customer segment, then NATION NAME reached THROUGH the customer
    // dim (the second StarDerive joins on `cnation`, a column the
    // first derive produced: the snowflake chain StarDerives exists
    // for). Per-dim fingerprints ride the meta, so churn in either
    // dim would refuse the refresh instead of mis-grouping. (The
    // lineitem table is NOT usable as this fact: the fixture has
    // duplicate (l_orderkey, l_linenumber) pairs — the round-11
    // q_first_last_value finding — so a PK ingest dedupes rows the
    // oracle keeps.) Oracle: the chained join-then-aggregate.
    "q_ivm_star_multi" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}
      val wh = ivmWarehouse(dir)
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("fm", StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("price", DecimalType(18, 2)))), pk = Seq("o_orderkey"))
      val orders = Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey",
          $"o_totalprice".cast("decimal(18,2)").as("price"))
      val slice = orders.where($"o_orderkey" % 16 >= 14)
      val derive = graft.operators.Materialize.StarDerives(Seq(
        graft.operators.Materialize.StarDerive(
          Tables.t(s, dir, "customer")
            .select($"c_custkey", $"c_mktsegment".as("segment"),
              $"c_nationkey".as("cnation")),
          Seq("o_custkey" -> "c_custkey"), Seq("segment", "cnation")),
        graft.operators.Materialize.StarDerive(
          Tables.t(s, dir, "nation")
            .select($"n_nationkey", $"n_name".as("nation_name")),
          Seq("cnation" -> "n_nationkey"), Seq("nation_name"))))
      cat.upsert("fm", slice.where($"o_orderkey" % 16 === 14))
      val mv = wh + "/mvmulti"
      graft.operators.Materialize.build(cat, ChainSpec("fm"),
        Seq("segment", "nation_name"), Seq("price"), mv, buckets = 16,
        derive = derive)
      cat.upsert("fm", slice.where($"o_orderkey" % 16 === 15))
      cat.upsert("fm", slice.where($"o_orderkey" % 50 === 30)
        .withColumn("price", ($"price" + 19).cast("decimal(18,2)")))
      cat.delete("fm", $"o_custkey" % 6 === 1)
      graft.operators.Materialize.refresh(cat, mv, derive = derive)
      graft.operators.Materialize.read(s, mv)
        .select($"segment", $"nation_name", $"cnt",
          $"sum_price".cast("double").as("sum_price"),
          $"min_price".cast("double").as("min_price"),
          $"max_price".cast("double").as("max_price"))
        .orderBy($"segment", $"nation_name")
    },

    // The MV-selection rewrite UNDER THE HARD ORACLE: persist a fact
    // table, build the typed aggregate state, register it, and run a
    // plain fact-table aggregate — AggRewriteRule must swap the scan
    // onto the state. The query body PINS the plan (throws unless the
    // state, and not the fact, is scanned), so a green CORRECTNESS row
    // proves the rewrite fired AND returned the oracle's fact-scan
    // answer — including a sum built to exceed 2^53 with odd low bits,
    // the regime where the old DOUBLE-typed state silently lost
    // integer exactness. AVG and COUNT(col) ride the same pin (the
    // sum/cnt derivation and the per-measure non-null count).
    "q_mv_rewrite" -> { (s, dir) =>
      import s.implicits._
      val (base, mv) = mvRewriteSetup(s, dir)
      val q = s.read.parquet(base).groupBy($"source")
        .agg(sum($"big").as("sum_big"),
          count($"n_chars").as("cnt_chars"),
          avg($"n_chars").as("avg_chars"),
          min($"big").as("min_big"),
          max($"big").as("max_big"),
          count(lit(1)).as("n"))
        .orderBy($"source")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains(base))
        throw new IllegalStateException(
          s"MV rewrite did not serve this query from the state:\n$plan")
      q
    },

    // STAR MV SERVING under the hard oracle: the aggregate-over-JOIN
    // dashboard query (orders ⋈ customer, grouped by the dim's
    // segment) is answered from the per-segment state — the rewrite
    // verifies the join before swapping the scan (dim path, the exact
    // key-equality pairs, inner-vs-left type under the registered
    // innerSafe integrity assertion, and attribute soundness: a query
    // aliasing a DIFFERENT dim column under the served name refuses).
    // In-query plan pin: throws unless the state — and neither the
    // fact nor the dim — is scanned.
    "q_mv_rewrite_star" -> { (s, dir) =>
      import s.implicits._
      val (base, dimP, mv) = mvStarSetup(s, dir)
      val dimDf = s.read.parquet(dimP)
        .select($"c_custkey".as("o_custkey"),
          $"c_mktsegment".as("segment"))
      val q = s.read.parquet(base)
        .join(broadcast(dimDf), Seq("o_custkey"), "inner")
        .groupBy($"segment")
        .agg(count(lit(1)).as("cnt"),
          sum($"price").cast("double").as("sum_price"),
          min($"price").cast("double").as("min_price"),
          max($"price").cast("double").as("max_price"))
        .orderBy($"segment")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains(base) || plan.contains(dimP))
        throw new IllegalStateException(
          s"star MV rewrite did not serve the join query from the " +
            s"state:\n$plan")
      q
    },

    // The FILTERED dashboard shape under the hard oracle: "revenue for
    // segment = 'BUILDING'" — a dim-ATTRIBUTE predicate the optimizer
    // pushes below the join (and which null-rejects the join to
    // INNER); the rewrite re-applies it on the state's group column,
    // so the whole answer is one filtered state row re-aggregated.
    // Same in-query pin: state scanned, neither fact nor dim.
    "q_mv_rewrite_star_filtered" -> { (s, dir) =>
      import s.implicits._
      val (base, dimP, mv) = mvStarSetup(s, dir)
      val dimDf = s.read.parquet(dimP)
        .select($"c_custkey".as("o_custkey"),
          $"c_mktsegment".as("segment"))
      val q = s.read.parquet(base)
        .join(broadcast(dimDf), Seq("o_custkey"), "inner")
        .where($"segment" === "BUILDING")
        .groupBy($"segment")
        .agg(count(lit(1)).as("cnt"),
          sum($"price").cast("double").as("sum_price"),
          min($"price").cast("double").as("min_price"),
          max($"price").cast("double").as("max_price"))
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains(base) || plan.contains(dimP))
        throw new IllegalStateException(
          s"filtered star MV rewrite did not serve from the state:\n$plan")
      q
    },

    // MV SERVING THROUGH THE SQL FRONT-END under the hard oracle: a
    // Phoenix-dialect user types a plain GROUP BY over a catalog
    // table; the select path registers the table's SERVED snapshot (a
    // pure parquet scan of the fresh snapshot cache — no collapse
    // shuffle), and AggRewriteRule swaps that scan onto the registered
    // MV state (registerForRewrite derives the view def from the MV
    // meta). In-query pin: the plan must scan the state and neither
    // the snapshot cache nor the change log.
    "q_mv_rewrite_sql" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir)
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE md (doc_id BIGINT NOT NULL, " +
        "source VARCHAR, n_chars BIGINT " +
        "CONSTRAINT pk PRIMARY KEY (doc_id))")
      cat.upsert("md", Tables.t(s, dir, "documents")
        .select($"doc_id", $"source", $"n_chars"))
      cat.refreshSnapshotCache("md")
      val mv = wh + "/mvsql"
      graft.operators.Materialize.build(cat, ChainSpec("md"),
        Seq("source"), Seq("n_chars"), mv)
      graft.operators.Materialize.registerForRewrite(cat, mv)
      val q = px.execute("SELECT source, COUNT(*) AS cnt, " +
        "SUM(n_chars) AS sum_n_chars, MIN(n_chars) AS min_n_chars, " +
        "MAX(n_chars) AS max_n_chars, AVG(n_chars) AS avg_n_chars " +
        "FROM md GROUP BY source ORDER BY source")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains("_snapcache") ||
          plan.contains(s"$wh/md/data"))
        throw new IllegalStateException(
          s"front-end MV rewrite did not serve from the state:\n$plan")
      q
    },

    // The STAR dashboard THROUGH THE SQL FRONT-END under the hard
    // oracle: fact and dim are catalog tables served as pure snapshot-
    // cache scans; the user's JOIN + GROUP BY over the dim attribute is
    // answered from the star MV state (registerForRewrite with the
    // DimJoinDef keyed by the dim's catalog root — the dim-side
    // _snapcache leaf maps back to it like the fact side). In-query
    // pin: state scanned, no snapshot cache, no change log.
    "q_mv_rewrite_star_sql" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir)
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE fo2 (o_orderkey BIGINT NOT NULL, " +
        "o_custkey BIGINT, price DECIMAL(18,2) " +
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))")
      px.execute("CREATE TABLE dc2 (c_custkey BIGINT NOT NULL, " +
        "c_mktsegment VARCHAR CONSTRAINT pk PRIMARY KEY (c_custkey))")
      cat.upsert("dc2", Tables.t(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment"))
      cat.upsert("fo2", Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 16 === 4 || $"o_orderkey" % 16 === 5)
        .select($"o_orderkey", $"o_custkey",
          $"o_totalprice".cast("decimal(18,2)").as("price")))
      cat.refreshSnapshotCache("fo2")
      cat.refreshSnapshotCache("dc2")
      val derive = graft.operators.Materialize.StarDerive(
        cat.snapshot("dc2"),
        keys = Seq("o_custkey" -> "c_custkey"), attrs = Seq("c_mktsegment"))
      val mv = wh + "/mvstarsql"
      graft.operators.Materialize.build(cat, ChainSpec("fo2"),
        Seq("c_mktsegment"), Seq("price"), mv, derive = derive)
      graft.operators.Materialize.registerForRewrite(cat, mv,
        dims = Seq(graft.plans.GraftAggViews.DimJoinDef(
          cat.tablePath("dc2"),
          factKeys = Seq("o_custkey"), dimKeys = Seq("c_custkey"),
          dimAttrs = Map("c_mktsegment" -> "c_mktsegment"),
          innerSafe = true)))
      val q = px.execute("SELECT c_mktsegment AS segment, " +
        "COUNT(*) AS cnt, CAST(SUM(price) AS DOUBLE) AS sum_price, " +
        "CAST(MIN(price) AS DOUBLE) AS min_price, " +
        "CAST(MAX(price) AS DOUBLE) AS max_price " +
        "FROM fo2 JOIN dc2 ON fo2.o_custkey = dc2.c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains("_snapcache") ||
          plan.contains(s"$wh/fo2/data") || plan.contains(s"$wh/dc2/data"))
        throw new IllegalStateException(
          s"front-end STAR MV rewrite did not serve from the state:\n$plan")
      q
    },

    // The BINARY-JOIN MV through the SQL front-end under the hard
    // oracle: both sides of a fact-to-fact equi-join are catalog
    // tables served as pure snapshot-cache scans; the user's INNER
    // JOIN + GROUP BY is answered from the MaterializeJoin state
    // (DimJoinDef.innerState — INNER serves, LEFT or un-joined
    // refuses, since the state never counted unmatched fact rows).
    // In-query pin: state scanned, no snapshot cache, no change log.
    "q_mv_rewrite_join" -> { (s, dir) =>
      val (px, wh, mv) = mvJoinSetup(s, dir)
      val q = px.execute("SELECT priority, COUNT(*) AS cnt, " +
        "SUM(qty) AS sum_qty, MIN(qty) AS min_qty, " +
        "MAX(qty) AS max_qty " +
        "FROM jl3 JOIN jo3 ON jl3.okey = jo3.okey " +
        "GROUP BY priority ORDER BY priority")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains("_snapcache") ||
          plan.contains(s"$wh/jl3/data") || plan.contains(s"$wh/jo3/data"))
        throw new IllegalStateException(
          s"join MV rewrite did not serve from the state:\n$plan")
      q
    },

    // The 3-WAY CHAIN MV through the SQL front-end under the hard
    // oracle: a Phoenix-dialect SELECT joining orders ⋈ lineitem ⋈
    // customer with GROUP BY on the customer attribute is answered
    // from the chain state (one innerState DimJoinDef per side — the
    // query must join BOTH sides to serve). In-query pin: state
    // scanned, no snapshot cache, no change log.
    "q_mv_rewrite_chain" -> { (s, dir) =>
      val (px, wh, mv) = mvChainSetup(s, dir)
      val q = px.execute("SELECT seg, COUNT(*) AS cnt, " +
        "SUM(qty) AS sum_qty, MIN(qty) AS min_qty, " +
        "MAX(qty) AS max_qty " +
        "FROM co5 JOIN cl5 ON co5.okey = cl5.okey " +
        "JOIN cc5 ON co5.ckey = cc5.ckey " +
        "GROUP BY seg ORDER BY seg")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains("_snapcache") ||
          plan.contains(s"$wh/co5/data") ||
          plan.contains(s"$wh/cl5/data") ||
          plan.contains(s"$wh/cc5/data"))
        throw new IllegalStateException(
          s"chain MV rewrite did not serve from the state:\n$plan")
      q
    },

    // The rewrite's ROLLUP path under the same hard oracle: a GLOBAL
    // aggregate (grouping = {} ⊂ {source}) over the same fact must be
    // answered by re-aggregating the per-source state — sums of sums,
    // min of mins, count(*) = sum(cnt) — plan-pinned to the state like
    // q_mv_rewrite, hash-matched against the oracle's fact scan.
    "q_mv_rewrite_rollup" -> { (s, dir) =>
      import s.implicits._
      val (base, mv) = mvRewriteSetup(s, dir)
      val q = s.read.parquet(base).agg(
          sum($"big").as("sum_big"),
          count($"n_chars").as("cnt_chars"),
          avg($"n_chars").as("avg_chars"),
          min($"big").as("min_big"),
          max($"big").as("max_big"),
          count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains(base))
        throw new IllegalStateException(
          s"MV rollup rewrite did not serve from the state:\n$plan")
      q
    },

    // GRAIN IVM under the hard oracle: a DAY-grain MV (grain column
    // derived per row, not stored) built over the events catalog, then
    // maintained through inserts, CROSS-GRAIN updates (ts moved a day
    // forward — the pre-image must retract from the OLD day's group),
    // and a whole-type delete, refreshed ONCE, state read. The oracle
    // recomputes the same day-grain aggregate over the final logical
    // table — equality proves the derived-grain fold including
    // retractions that move rows between grain groups.
    "q_ivm_timegrain" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
      val wh = ivmWarehouse(dir + "#timegrain")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("e", StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType))), pk = Seq("event_id"))
      val ev = Tables.t(s, dir, "events")
        .select($"event_id", $"event_type", $"ts", $"user_id")
      cat.upsert("e", ev.where($"event_id" % 5 =!= 0))
      val mv = wh + "/mv"
      graft.operators.Materialize.build(cat, ChainSpec("e"),
        Seq("event_type", "day"), Seq("user_id"), mv,
        grains = Seq("day" -> "date_trunc('DAY', ts)"))
      cat.upsert("e", ev.where($"event_id" % 5 === 0))
      cat.upsert("e", ev.where($"event_id" % 7 === 0)
        .withColumn("ts", $"ts" + expr("INTERVAL 1 DAY")))
      cat.delete("e", $"event_type" === "click")
      graft.operators.Materialize.refresh(cat, mv)
      graft.operators.Materialize.read(s, mv)
        .select($"event_type", $"day", $"cnt", $"sum_user_id",
          $"min_user_id", $"max_user_id")
        .orderBy($"event_type", $"day")
    },

    // Sketch-valued IVM under the HARD oracle: an approx-distinct MV
    // (KMV k = 2^17, far above the fixture's per-type distinct users →
    // exact regime, so DuckDB's count(DISTINCT) is the oracle) built
    // once, then maintained through an insert-only refresh (sketch
    // union folds algebraically — no base access) AND a delete refresh
    // (sketches can't retract → the affected groups take the pruned
    // recompute). A green row proves the maintained sketch state gives
    // the same distinct count a full scan would — the 100-TB shape:
    // "distinct users per segment, kept current, without re-scanning
    // the fact table".
    "q_ivm_sketch" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir + "#sketch")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("e", StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("user_id", LongType))), pk = Seq("event_id"))
      val ev = Tables.t(s, dir, "events")
        .select($"event_id", $"event_type", $"user_id")
      cat.upsert("e", ev.where($"event_id" % 4 =!= 0))
      val mv = wh + "/mv"
      graft.operators.Materialize.build(cat, ChainSpec("e"), Seq("event_type"),
        Seq("user_id"), mv, sketches = Seq("user_id" -> (1 << 17)))
      cat.upsert("e", ev.where($"event_id" % 4 === 0))
      graft.operators.Materialize.refresh(cat, mv)
      cat.delete("e", $"event_type" === "purchase")
      graft.operators.Materialize.refresh(cat, mv)
      graft.functions.GraftFunctions.registerKernels(s)
      graft.operators.Materialize.read(s, mv)
        .select($"event_type", $"cnt",
          round(call_function("kmv_estimate", $"kmv_user_id"))
            .cast("long").as("distinct_users"))
        .orderBy($"event_type")
    },

    // Heavy-hitter sketch-valued IVM under the HARD oracle: a
    // SpaceSaving top-terms MV (cap = 8192, far above the fixture's
    // per-type distinct users → no-eviction regime, so every (term,
    // est) is an EXACT count and DuckDB's GROUP BY user count is the
    // oracle) built once, then maintained through an insert-only
    // refresh (sketch merge folds algebraically — the in-query pin
    // throws if the written plan touched the base), a CROSS-GROUP
    // update (the pre-image group takes the pruned recompute) and a
    // whole-group delete. The 100-TB shape: "top user_ids per event
    // type, kept current, without re-scanning the fact table" — the
    // per-group state is CAPPED at `cap` entries no matter how large
    // the corpus grows.
    "q_ivm_topk" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir + "#topk")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("e", StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("user_id", LongType))), pk = Seq("event_id"))
      val ev = Tables.t(s, dir, "events")
        .select($"event_id", $"event_type", $"user_id")
      cat.upsert("e", ev.where($"event_id" % 4 =!= 0))
      val mv = wh + "/mv"
      graft.operators.Materialize.build(cat, ChainSpec("e"), Seq("event_type"),
        Seq("user_id"), mv, topks = Seq("user_id" -> 8192))
      cat.upsert("e", ev.where($"event_id" % 4 === 0))
      if (graft.operators.Materialize.refresh(cat, mv).recomputeRan)
        throw new IllegalStateException(
          "insert-only top-terms refresh must fold algebraically " +
            "(sketch merge) with ZERO base access")
      cat.upsert("e", ev.where($"event_id" % 7 === 0)
        .withColumn("event_type", lit("moved")))
      cat.delete("e", $"event_type" === "purchase")
      graft.operators.Materialize.refresh(cat, mv)
      graft.functions.GraftFunctions.registerKernels(s)
      graft.operators.Materialize.read(s, mv)
        .select($"event_type",
          explode(call_function("top_terms_entries", $"topk_user_id"))
            .as("e"))
        .select($"event_type", $"e.term".as("term"),
          $"e.est".as("occurrences"))
        .orderBy($"event_type", $"term")
    },

    // BINARY-JOIN IVM under the hard oracle: γ(lineitem ⋈ orders)
    // maintained while BOTH tables mutate — the signed delta rule
    // Δ(R⋈S) = ΔR⋈S_old ∪ R_new⋈ΔS, each leg semi-join + zone-prune
    // bounded to the delta's join keys (never O(R)+O(S) per refresh).
    // Lifecycle: the fact side starts with DANGLING rows (their order
    // keys arrive only in the post-build right-side insert — the
    // R_new⋈ΔS term against old R rows), the insert-only refresh is
    // pinned to fold with zero recompute, then measure churn (+7),
    // dimension-side regrouping ('MOVED' — the case the star derive
    // deliberately refuses) and a fact delete all fold in one more
    // refresh. Oracle recomputes join-then-aggregate over the final
    // logical tables.
    "q_ivm_join" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir + "#join")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("jl", StructType(Seq(
        StructField("okey", LongType), StructField("ln", IntegerType),
        StructField("qty", LongType))), pk = Seq("okey", "ln"))
      cat.createTable("jo", StructType(Seq(
        StructField("okey", LongType),
        StructField("priority", StringType))), pk = Seq("okey"))
      // the synthetic lineitem has DUPLICATE (l_orderkey,
      // l_linenumber) pairs — pre-aggregate to the declared PK so the
      // catalog's last-wins collapse and the oracle see the same rows
      val li = Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 32 < 3)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(sum($"l_quantity".cast("long")).as("qty"))
      val ord = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority"))
        .where($"okey" % 32 < 3)
      cat.upsert("jl", li)
      cat.upsert("jo", ord.where($"okey" % 32 < 2))
      val mv = wh + "/mvj"
      val js = ChainSpec("jl", Seq(SideSpec("jo", Seq("okey"))))
      graft.operators.Materialize.build(cat, js,
        Seq("priority"), Seq("qty"), mv)
      cat.upsert("jo", ord.where($"okey" % 32 === 2))
      if (graft.operators.Materialize.refresh(cat, mv).recomputeRan)
        throw new IllegalStateException(
          "insert-only join delta must fold with zero recompute")
      cat.upsert("jl", li.where($"okey" % 100 === 1)
        .withColumn("qty", $"qty" + 7L))
      cat.upsert("jo", ord.where($"okey" % 50 === 1)
        .withColumn("priority", lit("MOVED")))
      cat.delete("jl", $"okey" % 10 === 3)
      graft.operators.Materialize.refresh(cat, mv)
      graft.operators.Materialize.read(s, mv)
        .select($"priority", $"cnt", $"sum_qty",
          $"min_qty", $"max_qty")
        .orderBy($"priority")
    },

    // TIME-GRAIN JOIN IVM under the hard oracle: "quantity by order
    // priority × month" maintained over lineitem ⋈ orders — the grain
    // column derives per JOINED row (date_trunc over the orders-side
    // timestamp), so a cross-month date move retracts the pre-image
    // from the OLD month's group through the join. Churn: late dim
    // insert (dangling facts materialize), a 45-day date shift
    // crossing month boundaries, and a fact delete, folded in two
    // refreshes (the first pinned recompute-free).
    "q_ivm_join_timegrain" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType, TimestampType}
      val wh = ivmWarehouse(dir + "#jointg")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("jl6", StructType(Seq(
        StructField("okey", LongType), StructField("ln", IntegerType),
        StructField("qty", LongType))), pk = Seq("okey", "ln"))
      cat.createTable("jo6", StructType(Seq(
        StructField("okey", LongType),
        StructField("priority", StringType),
        StructField("odate", TimestampType))), pk = Seq("okey"))
      val li = Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 32 < 3)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(sum($"l_quantity".cast("long")).as("qty"))
      val ord = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority"),
          $"o_orderdate".cast("timestamp").as("odate"))
        .where($"okey" % 32 < 3)
      cat.upsert("jl6", li)
      cat.upsert("jo6", ord.where($"okey" % 32 < 2))
      val mv = wh + "/mvjtg"
      graft.operators.Materialize.build(cat,
        graft.operators.MaterializeJoin.ChainSpec("jl6", Seq(
          graft.operators.MaterializeJoin.SideSpec("jo6", Seq("okey"),
            factKeysImmutable = true))),
        Seq("priority", "mon"), Seq("qty"), mv,
        grains = Seq("mon" -> "date_trunc('MONTH', odate)"))
      cat.upsert("jo6", ord.where($"okey" % 32 === 2))
      if (graft.operators.Materialize.refresh(cat, mv).recomputeRan)
        throw new IllegalStateException(
          "insert-only grain-join delta must fold with zero recompute")
      cat.upsert("jo6", ord.where($"okey" % 50 === 4)
        .withColumn("odate", $"odate" + expr("INTERVAL 45 DAYS")))
      cat.delete("jl6", $"okey" % 10 === 1)
      graft.operators.Materialize.refresh(cat, mv)
      graft.operators.Materialize.read(s, mv)
        .select($"priority", $"mon", $"cnt", $"sum_qty",
          $"min_qty", $"max_qty")
        .orderBy($"priority", $"mon")
    },

    // JOIN-MV RETENTION WINDOW under the hard oracle: the first-class
    // spelling of the recorded TTL-on-join-tables guidance — a
    // month-grain join MV whose fact expires old months via explicit
    // window deletes (expireBefore API for the first roll, DELETE FROM
    // through the SQL front-end for the second), interleaved with
    // insert/update churn that RESURRECTS some expired PKs. Both rolls
    // fold incrementally (rebuildRan == false pinned in-entry); the
    // oracle recomputes the surviving window from the final tables.
    "q_ivm_join_retention" -> { (s, dir) =>
      import s.implicits._
      val wh = ivmWarehouse(dir + "#jointret")
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE lr (okey BIGINT NOT NULL, " +
        "ln INTEGER NOT NULL, odate TIMESTAMP, qty BIGINT " +
        "CONSTRAINT pk PRIMARY KEY (okey, ln))")
      px.execute("CREATE TABLE orr (okey BIGINT NOT NULL, " +
        "priority VARCHAR CONSTRAINT pk PRIMARY KEY (okey))")
      val li = Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 32 === 3)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(max($"l_shipdate").cast("timestamp").as("odate"),
          sum($"l_quantity".cast("long")).as("qty"))
      cat.upsert("lr", li)
      cat.upsert("orr", Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 32 === 3)
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority")))
      val mv = wh + "/mvret"
      graft.operators.Materialize.build(cat,
        graft.operators.MaterializeJoin.ChainSpec("lr", Seq(
          graft.operators.MaterializeJoin.SideSpec("orr", Seq("okey"),
            factKeysImmutable = true))),
        Seq("mon", "priority"), Seq("qty"), mv,
        grains = Seq("mon" -> "date_trunc('MONTH', odate)"))
      // roll 1: expire the oldest window (API helper), with churn that
      // updates survivors AND resurrects some expired PKs
      if (graft.operators.MaterializeJoin.expireBefore(cat, mv, "odate",
          lit(java.sql.Timestamp.valueOf("1994-01-01 00:00:00"))).rebuildRan)
        throw new IllegalStateException(
          "retention roll 1 must fold incrementally, not rebuild")
      cat.upsert("lr", li.where($"okey" % 100 === 3)
        .withColumn("qty", $"qty" + 7L))
      // roll 2: the SQL spelling — DELETE FROM + API refresh
      px.execute(
        "DELETE FROM lr WHERE odate < TIMESTAMP '1996-01-01 00:00:00'")
      if (graft.operators.Materialize.refresh(cat, mv).rebuildRan)
        throw new IllegalStateException(
          "retention roll 2 must fold incrementally, not rebuild")
      graft.operators.Materialize.read(s, mv)
        .select($"mon", $"priority", $"cnt", $"sum_qty",
          $"min_qty", $"max_qty")
        .orderBy($"mon", $"priority")
    },

    // SKETCH-VALUED JOIN IVM under the hard oracle: a maintained
    // "distinct suppliers per order priority" over lineitem ⋈ orders —
    // the KMV distinct state rides the join fold (insert-only unions,
    // pinned recompute-free; the retraction-bearing second window
    // gates to the pruned recompute), read back through kmv_estimate
    // at k = 2^17 (exact regime, so DuckDB count(DISTINCT) is the
    // oracle).
    "q_ivm_join_sketch" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir + "#joinsk")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("jl4", StructType(Seq(
        StructField("okey", LongType), StructField("ln", IntegerType),
        StructField("skey", LongType), StructField("qty", LongType))),
        pk = Seq("okey", "ln"))
      cat.createTable("jo4", StructType(Seq(
        StructField("okey", LongType),
        StructField("priority", StringType))), pk = Seq("okey"))
      val li = Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 32 < 3)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(max($"l_suppkey").as("skey"),
          sum($"l_quantity".cast("long")).as("qty"))
      val ord = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority"))
        .where($"okey" % 32 < 3)
      cat.upsert("jl4", li)
      cat.upsert("jo4", ord.where($"okey" % 32 < 2))
      val mv = wh + "/mvjsk"
      val cs = graft.operators.MaterializeJoin.ChainSpec("jl4", Seq(
        graft.operators.MaterializeJoin.SideSpec("jo4", Seq("okey"),
          factKeysImmutable = true)))
      graft.operators.Materialize.build(cat, cs,
        Seq("priority"), Seq("qty"), mv,
        sketches = Seq("skey" -> 131072))
      cat.upsert("jo4", ord.where($"okey" % 32 === 2))
      if (graft.operators.Materialize.refresh(cat, mv).recomputeRan)
        throw new IllegalStateException(
          "insert-only join-sketch delta must fold with zero recompute")
      cat.delete("jl4", $"okey" % 10 === 3)
      graft.operators.Materialize.refresh(cat, mv)
      graft.functions.GraftFunctions.registerKernels(s)
      graft.operators.Materialize.read(s, mv)
        .select($"priority", $"cnt", $"sum_qty",
          round(call_function("kmv_estimate", $"kmv_skey")).cast("long")
            .as("distinct_suppliers"))
        .orderBy($"priority")
    },

    // N-WAY CHAIN IVM under the hard oracle: γ(orders ⋈ lineitem ⋈
    // customer) — "revenue by customer segment, kept current" — with
    // ALL THREE tables mutating through one maintenance window. The
    // telescoping legs each stay delta-bounded: lineitem reads bound
    // via okey ⊂ its PK (grouping-key pushdown), customer via its PK,
    // and the fact's o_custkey read via the declared-immutable
    // prefilter. The insert-only first refresh is pinned to fold with
    // zero recompute; the second absorbs a measure update, a
    // cross-segment dim move, and a lineitem delete. Oracle recomputes
    // the 3-way join-then-aggregate over the final logical tables.
    "q_ivm_chain" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir + "#chain")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("co", StructType(Seq(
        StructField("okey", LongType),
        StructField("ckey", LongType))), pk = Seq("okey"))
      cat.createTable("cl", StructType(Seq(
        StructField("okey", LongType), StructField("ln", IntegerType),
        StructField("qty", LongType))), pk = Seq("okey", "ln"))
      cat.createTable("cc", StructType(Seq(
        StructField("ckey", LongType),
        StructField("seg", StringType))), pk = Seq("ckey"))
      val li = Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 32 < 3)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(sum($"l_quantity".cast("long")).as("qty"))
      val ord = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("okey"), $"o_custkey".as("ckey"))
        .where($"okey" % 32 < 3)
      cat.upsert("cl", li)
      cat.upsert("co", ord.where($"okey" % 32 < 2))
      cat.upsert("cc", Tables.t(s, dir, "customer")
        .select($"c_custkey".as("ckey"), $"c_mktsegment".as("seg")))
      val mv = wh + "/mvchain"
      val cs = graft.operators.MaterializeJoin.ChainSpec("co", Seq(
        graft.operators.MaterializeJoin.SideSpec("cl", Seq("okey"),
          sideKeysImmutable = true),
        graft.operators.MaterializeJoin.SideSpec("cc", Seq("ckey"),
          factKeysImmutable = true)))
      graft.operators.Materialize.build(cat, cs,
        Seq("seg"), Seq("qty"), mv)
      cat.upsert("co", ord.where($"okey" % 32 === 2))
      if (graft.operators.Materialize.refresh(cat, mv).recomputeRan)
        throw new IllegalStateException(
          "insert-only chain delta must fold with zero recompute")
      cat.upsert("cl", li.where($"okey" % 100 === 2)
        .withColumn("qty", $"qty" + 5L))
      cat.upsert("cc", Tables.t(s, dir, "customer")
        .select($"c_custkey".as("ckey"), lit("MOVED").as("seg"))
        .where($"ckey" % 40 === 1))
      cat.delete("cl", $"okey" % 10 === 7)
      graft.operators.Materialize.refresh(cat, mv)
      graft.operators.Materialize.read(s, mv)
        .select($"seg", $"cnt", $"sum_qty", $"min_qty", $"max_qty")
        .orderBy($"seg")
    },

    // LEFT-OUTER JOIN IVM under the hard oracle: γ(lineitem ⟕ orders)
    // maintained while BOTH tables mutate. Unmatched facts count under
    // a NULL priority group; the delta rule is the null-extension form
    // (±1 synthetic NULL rows on match-count zero crossings). Lifecycle
    // drives BOTH transitions: the build leaves a third of the fact
    // DANGLING, a later order insert moves those facts out of the NULL
    // group (dangling→matched), an order delete moves its facts back
    // (matched→dangling), plus measure churn and a fact delete. Oracle
    // recomputes LEFT JOIN-then-aggregate over the final tables.
    "q_ivm_join_left" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir + "#joinleft")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("jl5", StructType(Seq(
        StructField("okey", LongType), StructField("ln", IntegerType),
        StructField("qty", LongType))), pk = Seq("okey", "ln"))
      cat.createTable("jo5", StructType(Seq(
        StructField("okey", LongType),
        StructField("priority", StringType))), pk = Seq("okey"))
      val li = Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 32 < 3)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(sum($"l_quantity".cast("long")).as("qty"))
      val ord = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority"))
        .where($"okey" % 32 < 3)
      cat.upsert("jl5", li)
      cat.upsert("jo5", ord.where($"okey" % 32 < 2)) // %32=2 dangles
      val mv = wh + "/mvjl"
      graft.operators.Materialize.build(cat,
        ChainSpec("jl5", Seq(SideSpec("jo5", Seq("okey"))), leftOuter = true),
        Seq("priority"), Seq("qty"), mv)
      // dangling → matched: the missing orders arrive
      cat.upsert("jo5", ord.where($"okey" % 32 === 2))
      graft.operators.Materialize.refresh(cat, mv)
      // matched → dangling: a slice of orders dies; churn + delete
      cat.delete("jo5", $"okey" % 20 === 5)
      cat.upsert("jl5", li.where($"okey" % 100 === 1)
        .withColumn("qty", $"qty" + 7L))
      cat.delete("jl5", $"okey" % 10 === 3)
      graft.operators.Materialize.refresh(cat, mv)
      graft.operators.Materialize.read(s, mv)
        .select($"priority", $"cnt", $"sum_qty",
          $"min_qty", $"max_qty")
        .orderBy($"priority")
    },

    // FULL-OUTER JOIN IVM under the hard oracle: γ(lineitem ⟗ orders)
    // maintained while BOTH tables mutate — fact-dangling rows count
    // under NULL priority, side-dangling orders count with NULL
    // measures, and keys cross BOTH zero boundaries during the
    // lifecycle (orders arrive for dangling lineitems; lineitems are
    // deleted out from under orders). Oracle recomputes FULL JOIN-
    // then-aggregate over the final tables.
    "q_ivm_join_full" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir + "#joinfull")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("jl8", StructType(Seq(
        StructField("okey", LongType), StructField("ln", IntegerType),
        StructField("qty", LongType))), pk = Seq("okey", "ln"))
      cat.createTable("jo8", StructType(Seq(
        StructField("okey", LongType),
        StructField("priority", StringType))), pk = Seq("okey"))
      val li = Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 32 < 3)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(sum($"l_quantity".cast("long")).as("qty"))
      // orders cover %32 < 4: the %32=3 slice is side-dangling (no
      // lineitems), the %32=2 lineitems are fact-dangling until build+1
      val ord = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority"))
        .where($"okey" % 32 < 4)
      cat.upsert("jl8", li)
      cat.upsert("jo8", ord.where($"okey" % 32 =!= 2))
      val mv = wh + "/mvjf"
      graft.operators.Materialize.build(cat,
        ChainSpec("jl8", Seq(SideSpec("jo8", Seq("okey"))), fullOuter = true),
        Seq("priority"), Seq("qty"), mv)
      // dangling facts gain their orders; some lineitems die under
      // their orders (matched order -> side-dangling)
      cat.upsert("jo8", ord.where($"okey" % 32 === 2))
      cat.delete("jl8", $"okey" % 10 === 3)
      graft.operators.Materialize.refresh(cat, mv)
      // order deletes re-dangle facts; measure churn
      cat.delete("jo8", $"okey" % 20 === 5)
      cat.upsert("jl8", li.where($"okey" % 100 === 1)
        .withColumn("qty", $"qty" + 7L))
      graft.operators.Materialize.refresh(cat, mv)
      graft.operators.Materialize.read(s, mv)
        .select($"priority", $"cnt", $"sum_qty",
          $"min_qty", $"max_qty")
        .orderBy($"priority")
    },

    // FULL-outer N-WAY STAR chain IVM under the hard oracle:
    // γ(lineitem-slice ⟗ orders ⟗ part) with both side keys on the
    // fact — the sequential full join decomposes as the LEFT part plus
    // one independent dangling part per side, and every transition
    // shape is driven: fact-dangling facts gain their orders,
    // order deletes re-dangle facts, part deletes NULL the brand AND
    // kill part-dangling rows, measure churn retracts. The oracle
    // recomputes (l FULL JOIN o) FULL JOIN p over the final tables.
    "q_ivm_full_chain" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir + "#fullchain")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("fl9", StructType(Seq(
        StructField("okey", LongType), StructField("ln", IntegerType),
        StructField("pkey", LongType), StructField("qty", LongType))),
        pk = Seq("okey", "ln"))
      cat.createTable("fo9", StructType(Seq(
        StructField("okey", LongType),
        StructField("priority", StringType))), pk = Seq("okey"))
      cat.createTable("fp9", StructType(Seq(
        StructField("pkey", LongType),
        StructField("brand", StringType))), pk = Seq("pkey"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic
      // fixture — group to the PK grain so the catalog's last-wins
      // collapse and the oracle see the same rows
      val li = Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 32 < 3)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(max($"l_partkey".cast("long")).as("pkey"),
          sum($"l_quantity".cast("long")).as("qty"))
      val ord = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority"))
        .where($"okey" % 32 < 4) // %32=3 side-dangling (no lineitems)
      val prt = Tables.t(s, dir, "part")
        .select($"p_partkey".cast("long").as("pkey"),
          $"p_brand".as("brand")) // uncovered pkeys side-dangling
      cat.upsert("fl9", li)
      cat.upsert("fo9", ord.where($"okey" % 32 =!= 2))
      cat.upsert("fp9", prt)
      val mv = wh + "/mvfc"
      graft.operators.Materialize.build(cat,
        graft.operators.MaterializeJoin.ChainSpec("fl9", Seq(
          graft.operators.MaterializeJoin.SideSpec("fo9", Seq("okey")),
          graft.operators.MaterializeJoin.SideSpec("fp9", Seq("pkey"))),
          fullOuter = true),
        Seq("priority", "brand"), Seq("qty"), mv)
      // dangling facts gain their orders; facts die under their
      // orders/parts (matched -> side-dangling)
      cat.upsert("fo9", ord.where($"okey" % 32 === 2))
      cat.delete("fl9", $"okey" % 10 === 3)
      graft.operators.Materialize.refresh(cat, mv)
      // order deletes re-dangle facts; part deletes NULL the brand;
      // measure churn retracts and re-adds
      cat.delete("fo9", $"okey" % 20 === 5)
      cat.delete("fp9", $"pkey" % 50 === 7)
      cat.upsert("fl9", li.where($"okey" % 100 === 1)
        .withColumn("qty", $"qty" + 7L))
      graft.operators.Materialize.refresh(cat, mv)
      graft.operators.Materialize.read(s, mv)
        .select($"priority", $"brand", $"cnt", $"sum_qty",
          $"min_qty", $"max_qty")
        .orderBy($"priority", $"brand")
    },

    // SNOWFLAKE-CHAIN IVM under the hard oracle: γ(orders ⋈ customer
    // ⋈ nation) with nation keyed on CUSTOMER's nationkey — the
    // side-on-side tree shape a fingerprint-frozen StarDerive refuses
    // to maintain. The INTERMEDIATE side churns (customers move
    // nations), the leaf churns (nation renames), and the fact churns
    // (insert + delete) — every leg walks outward from its delta along
    // the join tree, key-bounded. Oracle recomputes the 3-way join
    // over the final logical tables.
    "q_ivm_snowflake" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val wh = ivmWarehouse(dir + "#snowflake")
      val cat = new graft.sources.GraftCatalog(s, wh)
      cat.createTable("co6", StructType(Seq(
        StructField("okey", LongType), StructField("ckey", LongType),
        StructField("m", LongType))), pk = Seq("okey"))
      cat.createTable("cc6", StructType(Seq(
        StructField("ckey", LongType), StructField("nkey", LongType),
        StructField("seg", StringType))), pk = Seq("ckey"))
      cat.createTable("nn6", StructType(Seq(
        StructField("nkey", LongType),
        StructField("nname", StringType))), pk = Seq("nkey"))
      val ord = Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 16 === 3)
        .select($"o_orderkey".as("okey"), $"o_custkey".as("ckey"),
          ($"o_orderkey" % 97).cast("long").as("m"))
      val cust = Tables.t(s, dir, "customer")
        .select($"c_custkey".as("ckey"),
          $"c_nationkey".cast("long").as("nkey"),
          $"c_mktsegment".as("seg"))
      cat.upsert("co6", ord.where($"okey" % 32 === 3)) // half first
      cat.upsert("cc6", cust)
      cat.upsert("nn6", Tables.t(s, dir, "nation")
        .select($"n_nationkey".cast("long").as("nkey"),
          $"n_name".as("nname")))
      val mv = wh + "/mvsnow"
      graft.operators.Materialize.build(cat,
        graft.operators.MaterializeJoin.ChainSpec("co6", Seq(
          graft.operators.MaterializeJoin.SideSpec("cc6", Seq("ckey")),
          graft.operators.MaterializeJoin.SideSpec("nn6", Seq("nkey")))),
        Seq("nname"), Seq("m"), mv)
      // the other fact half + INTERMEDIATE churn: customers change
      // nation — revenue regroups across nname with no nn6/co6 write
      cat.upsert("co6", ord.where($"okey" % 32 === 19))
      cat.upsert("cc6", cust.where($"ckey" % 30 === 2)
        .withColumn("nkey", ($"nkey" + 1L) % 25L))
      graft.operators.Materialize.refresh(cat, mv)
      // leaf rename + fact delete
      cat.upsert("nn6", Tables.t(s, dir, "nation")
        .where($"n_nationkey" % 5 === 0)
        .select($"n_nationkey".cast("long").as("nkey"),
          concat($"n_name", lit("_X")).as("nname")))
      cat.delete("co6", $"okey" % 10 === 4)
      graft.operators.Materialize.refresh(cat, mv)
      graft.operators.Materialize.read(s, mv)
        .select($"nname", $"cnt", $"sum_m", $"min_m", $"max_m")
        .orderBy($"nname")
    },

    // MATERIALIZED-VIEW DDL under the hard oracle: the entire MV
    // lifecycle — CREATE MATERIALIZED VIEW over a join, churn on both
    // tables, REFRESH MATERIALIZED VIEW, serve — driven through SQL
    // TEXT only (the reference has no MV surface at all; this is the
    // engine-surface spelling of the MaterializeJoin layer). In-query
    // pin: the final front-end SELECT must scan the MV state, not the
    // snapshot cache or the change logs.
    "q_mv_ddl_sql" -> { (s, dir) =>
      import s.implicits._
      val wh = ivmWarehouse(dir + "#mvddl")
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE jl7 (okey BIGINT NOT NULL, " +
        "ln INTEGER NOT NULL, qty BIGINT " +
        "CONSTRAINT pk PRIMARY KEY (okey, ln))")
      px.execute("CREATE TABLE jo7 (okey BIGINT NOT NULL, " +
        "priority VARCHAR CONSTRAINT pk PRIMARY KEY (okey))")
      val li = Tables.t(s, dir, "lineitem")
        .where($"l_orderkey" % 16 === 9)
        .groupBy($"l_orderkey".as("okey"), $"l_linenumber".as("ln"))
        .agg(sum($"l_quantity".cast("long")).as("qty"))
      val ord = Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 16 === 9)
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority"))
      cat.upsert("jl7", li)
      cat.upsert("jo7", ord.where($"okey" % 32 === 9))
      px.execute("CREATE MATERIALIZED VIEW mv7 AS SELECT priority, " +
        "COUNT(*), SUM(qty), MIN(qty), MAX(qty) " +
        "FROM jl7 JOIN jo7 ON jl7.okey = jo7.okey GROUP BY priority")
      // churn BOTH tables out-of-band, then refresh through SQL
      cat.upsert("jo7", ord.where($"okey" % 32 === 25))
      cat.upsert("jl7", li.where($"okey" % 100 === 9)
        .withColumn("qty", $"qty" + 3L))
      cat.delete("jl7", $"okey" % 10 === 5)
      px.execute("REFRESH MATERIALIZED VIEW mv7")
      val q = px.execute("SELECT priority, COUNT(*) AS cnt, " +
        "SUM(qty) AS sum_qty, MIN(qty) AS min_qty, " +
        "MAX(qty) AS max_qty " +
        "FROM jl7 JOIN jo7 ON jl7.okey = jo7.okey " +
        "GROUP BY priority ORDER BY priority")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(cat.mvPath("mv7")) ||
          plan.contains("_snapcache") ||
          plan.contains(s"$wh/jl7/data") || plan.contains(s"$wh/jo7/data"))
        throw new IllegalStateException(
          s"DDL-created MV did not serve from its state:\n$plan")
      q
    },

    // FLOORED COMPACTION through SQL under the hard oracle:
    // `COMPACT TABLE` derives its floor from the registered MV's fold
    // marks, physically reclaims superseded-version bulk on BOTH
    // tables, and the next refresh still folds INCREMENTALLY
    // (rebuildRan pinned in-entry) and serves exactly — the
    // operational cliff (routine compaction forcing O(table) MV
    // rebuilds) closed end to end in SQL.
    "q_mv_compact_sql" -> { (s, dir) =>
      import s.implicits._
      val wh = ivmWarehouse(dir + "#mvcompact")
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE kf (okey BIGINT NOT NULL, " +
        "ckey BIGINT, m BIGINT CONSTRAINT pk PRIMARY KEY (okey))")
      px.execute("CREATE TABLE kd (ckey BIGINT NOT NULL, " +
        "seg VARCHAR CONSTRAINT pk PRIMARY KEY (ckey))")
      val f0 = Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 16 === 3)
        .select($"o_orderkey".as("okey"), $"o_custkey".as("ckey"),
          ($"o_orderkey" % 97).cast("long").as("m"))
      cat.upsert("kf", f0)
      cat.upsert("kd", Tables.t(s, dir, "customer")
        .select($"c_custkey".as("ckey"), $"c_mktsegment".as("seg")))
      px.execute("CREATE MATERIALIZED VIEW kmv AS SELECT seg, " +
        "COUNT(*), SUM(m), MIN(m), MAX(m) FROM kf " +
        "JOIN kd ON kf.ckey = kd.ckey GROUP BY seg")
      // churn past the fold marks, refresh, then compact at the marks
      cat.upsert("kf", f0.where($"okey" % 10 === 7)
        .withColumn("m", $"m" + 50L))
      px.execute("REFRESH MATERIALIZED VIEW kmv")
      val modes = Seq("kf", "kd").map(t =>
        px.execute(s"COMPACT TABLE $t").collect().head.getString(1))
      if (modes != Seq("floored", "floored"))
        throw new IllegalStateException(
          s"COMPACT TABLE must derive a floor from the MV: $modes")
      // post-compaction churn folds incrementally and serves exactly
      cat.upsert("kf", f0.where($"okey" % 10 === 1)
        .withColumn("m", $"m" + 9L))
      cat.delete("kf", $"okey" % 20 === 13)
      if (px.execute("REFRESH MATERIALIZED VIEW kmv").head
          .getAs[Boolean]("rebuild_ran"))
        throw new IllegalStateException(
          "post-COMPACT refresh must stay incremental, not rebuild")
      val q = px.execute("SELECT seg, COUNT(*) AS cnt, " +
        "SUM(m) AS sum_m, MIN(m) AS min_m, MAX(m) AS max_m " +
        "FROM kf JOIN kd ON kf.ckey = kd.ckey " +
        "GROUP BY seg ORDER BY seg")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(cat.mvPath("kmv")) ||
          plan.contains("_snapcache") || plan.contains(s"$wh/kf/data"))
        throw new IllegalStateException(
          s"post-COMPACT MV did not serve from its state:\n$plan")
      q
    },

    // WHERE-FILTERED JOIN MV through SQL DDL under the hard oracle:
    // the fact predicate rides the chain meta through churn that
    // CROSSES the filter boundary both ways plus a delete slice, and
    // the rewrite serves the same filtered join query from state —
    // a fact-measure predicate over a join that no unfiltered state
    // could answer.
    "q_mv_ddl_filtered_join" -> { (s, dir) =>
      import s.implicits._
      val wh = ivmWarehouse(dir + "#mvddlfj")
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE fj7 (okey BIGINT NOT NULL, " +
        "ckey BIGINT, m BIGINT CONSTRAINT pk PRIMARY KEY (okey))")
      px.execute("CREATE TABLE fd7 (ckey BIGINT NOT NULL, " +
        "seg VARCHAR CONSTRAINT pk PRIMARY KEY (ckey))")
      val f0 = Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 16 === 5)
        .select($"o_orderkey".as("okey"), $"o_custkey".as("ckey"),
          ($"o_orderkey" % 97).cast("long").as("m"))
      cat.upsert("fj7", f0)
      cat.upsert("fd7", Tables.t(s, dir, "customer")
        .select($"c_custkey".as("ckey"), $"c_mktsegment".as("seg")))
      px.execute("CREATE MATERIALIZED VIEW mvfj7 AS SELECT seg, " +
        "COUNT(*), SUM(m), MIN(m), MAX(m) FROM fj7 " +
        "JOIN fd7 ON fj7.ckey = fd7.ckey WHERE m > 40 GROUP BY seg")
      cat.upsert("fj7", f0.where($"okey" % 100 === 5)
        .withColumn("m", $"m" + 50L))
      cat.delete("fj7", $"okey" % 20 === 9)
      px.execute("REFRESH MATERIALIZED VIEW mvfj7")
      val q = px.execute("SELECT seg, COUNT(*) AS cnt, " +
        "SUM(m) AS sum_m, MIN(m) AS min_m, MAX(m) AS max_m " +
        "FROM fj7 JOIN fd7 ON fj7.ckey = fd7.ckey WHERE m > 40 " +
        "GROUP BY seg ORDER BY seg")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(cat.mvPath("mvfj7")) ||
          plan.contains("_snapcache") || plan.contains(s"$wh/fj7/data"))
        throw new IllegalStateException(
          s"DDL filtered JOIN MV did not serve from its state:\n$plan")
      q
    },

    // SKETCH-MEASURE MV through SQL DDL under the hard oracle:
    // `KMV_SKETCH(col, k)` / `APPROX_TOP_TERMS(col, cap)` in CREATE
    // MATERIALIZED VIEW land distinct-count / heavy-hitter state the
    // rewrite serves. k = 2^17 puts the sketch in the exact regime, so
    // DuckDB's count(DISTINCT) is the oracle — a green row proves the
    // DDL-built, SQL-refreshed, rewrite-served sketch is byte-exact.
    // The top-terms serve is plan-pinned in-entry (no-eviction regime).
    "q_mv_ddl_sketch" -> { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.registerKernels(s)
      val wh = ivmWarehouse(dir + "#mvddlsk")
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE et7 (okey BIGINT NOT NULL, " +
        "priority VARCHAR, ckey BIGINT, status VARCHAR " +
        "CONSTRAINT pk PRIMARY KEY (okey))")
      val ord = Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 8 === 1)
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("priority"),
          $"o_custkey".cast("long").as("ckey"),
          $"o_orderstatus".as("status"))
      cat.upsert("et7", ord.where($"okey" % 16 === 1))
      px.execute("CREATE MATERIALIZED VIEW mvs7 AS SELECT priority, " +
        "COUNT(*), KMV_SKETCH(ckey, 131072), " +
        "APPROX_TOP_TERMS(status, 8192) FROM et7 GROUP BY priority")
      // insert-only churn (sketch state is insert-only), SQL refresh
      cat.upsert("et7", ord.where($"okey" % 16 === 9))
      px.execute("REFRESH MATERIALIZED VIEW mvs7")
      val q = px.execute("SELECT priority, COUNT(*) AS cnt, " +
        "CAST(ROUND(KMV_ESTIMATE(KMV_SKETCH(CASE WHEN ckey IS NOT " +
        "NULL THEN XXHASH64(ckey) END, 131072))) AS BIGINT) " +
        "AS distinct_ckey FROM et7 GROUP BY priority ORDER BY priority")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(cat.mvPath("mvs7")) ||
          plan.contains("_snapcache") || plan.contains(s"$wh/et7/data"))
        throw new IllegalStateException(
          s"DDL sketch MV did not serve the kmv aggregate:\n$plan")
      val tq = px.execute("SELECT priority, " +
        "EXPLODE(APPROX_TOP_TERMS(status, 8192)) AS t " +
        "FROM et7 GROUP BY priority")
      if (!tq.queryExecution.executedPlan.toString
          .contains(cat.mvPath("mvs7")))
        throw new IllegalStateException(
          "DDL sketch MV did not serve the top-terms aggregate:\n" +
            tq.queryExecution.executedPlan.toString)
      q
    },

    // WHERE-FILTERED MV through SQL DDL under the hard oracle: the
    // CREATE's WHERE builds a filtered state, the predicate rides the
    // meta through churn + REFRESH (pre-images filter exactly like
    // the build — a measure crossing the boundary is an insert or a
    // retraction, not a corruption), and the rewrite serves ONLY the
    // query carrying the same conjunct — which, being a MEASURE
    // predicate, could never serve from an unfiltered state at all.
    "q_mv_ddl_filtered" -> { (s, dir) =>
      import s.implicits._
      val wh = ivmWarehouse(dir + "#mvddlf")
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE ft7 (okey BIGINT NOT NULL, " +
        "seg VARCHAR, m BIGINT CONSTRAINT pk PRIMARY KEY (okey))")
      val ord = Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 16 === 13)
        .select($"o_orderkey".as("okey"),
          $"o_orderpriority".as("seg"),
          ($"o_orderkey" % 97).cast("long").as("m"))
      cat.upsert("ft7", ord)
      px.execute("CREATE MATERIALIZED VIEW mvf7 AS SELECT seg, " +
        "COUNT(*), SUM(m), MIN(m), MAX(m) FROM ft7 " +
        "WHERE m > 40 GROUP BY seg")
      // measure churn ACROSS the filter boundary (rows enter/leave the
      // filtered state), then a delete slice; refresh through SQL
      cat.upsert("ft7", ord.where($"okey" % 100 === 13)
        .withColumn("m", $"m" + 50L))
      cat.delete("ft7", $"okey" % 10 === 3)
      px.execute("REFRESH MATERIALIZED VIEW mvf7")
      val q = px.execute("SELECT seg, COUNT(*) AS cnt, " +
        "SUM(m) AS sum_m, MIN(m) AS min_m, MAX(m) AS max_m " +
        "FROM ft7 WHERE m > 40 GROUP BY seg ORDER BY seg")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(cat.mvPath("mvf7")) ||
          plan.contains("_snapcache") || plan.contains(s"$wh/ft7/data"))
        throw new IllegalStateException(
          s"DDL filtered MV did not serve from its state:\n$plan")
      // the predicate-less rollup must NOT serve from the filtered
      // state (it needs the rows the state dropped) — and must still
      // answer correctly through the fallback
      val bare = px.execute(
        "SELECT seg, COUNT(*) AS cnt FROM ft7 GROUP BY seg")
      if (bare.queryExecution.executedPlan.toString
          .contains(cat.mvPath("mvf7")))
        throw new IllegalStateException(
          "a filter-less query must refuse the filtered state")
      q
    },

    // SNOWFLAKE MV through the SQL front-end under the hard oracle:
    // the query joins nation on CUSTOMER's nationkey (a dim-on-dim
    // key the rewrite resolves through the other matched join) and
    // must serve from the snowflake chain state — including the
    // IsNotNull(nationkey) filter Catalyst pushes on the intermediate
    // side, which is semantics-free under the enforced inner joins.
    // In-query pin: state scanned, no snapshot cache, no change log.
    "q_mv_rewrite_snowflake" -> { (s, dir) =>
      import s.implicits._
      val wh = ivmWarehouse(dir + "#mvsnow")
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE co9 (okey BIGINT NOT NULL, " +
        "ckey BIGINT, m BIGINT CONSTRAINT pk PRIMARY KEY (okey))")
      px.execute("CREATE TABLE cc9 (ckey BIGINT NOT NULL, " +
        "nkey BIGINT CONSTRAINT pk PRIMARY KEY (ckey))")
      px.execute("CREATE TABLE nn9 (nkey BIGINT NOT NULL, " +
        "nname VARCHAR CONSTRAINT pk PRIMARY KEY (nkey))")
      cat.upsert("co9", Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 16 === 11)
        .select($"o_orderkey".as("okey"), $"o_custkey".as("ckey"),
          ($"o_orderkey" % 97).cast("long").as("m")))
      cat.upsert("cc9", Tables.t(s, dir, "customer")
        .select($"c_custkey".as("ckey"),
          $"c_nationkey".cast("long").as("nkey")))
      cat.upsert("nn9", Tables.t(s, dir, "nation")
        .select($"n_nationkey".cast("long").as("nkey"),
          $"n_name".as("nname")))
      Seq("co9", "cc9", "nn9").foreach(cat.refreshSnapshotCache)
      val mv = wh + "/mvsnow9"
      graft.operators.Materialize.build(cat,
        graft.operators.MaterializeJoin.ChainSpec("co9", Seq(
          graft.operators.MaterializeJoin.SideSpec("cc9", Seq("ckey")),
          graft.operators.MaterializeJoin.SideSpec("nn9", Seq("nkey")))),
        Seq("nname"), Seq("m"), mv)
      graft.operators.Materialize.registerForRewrite(cat, mv)
      val q = px.execute("SELECT nname, COUNT(*) AS cnt, " +
        "SUM(m) AS sum_m, MIN(m) AS min_m, MAX(m) AS max_m " +
        "FROM co9 JOIN cc9 ON co9.ckey = cc9.ckey " +
        "JOIN nn9 ON cc9.nkey = nn9.nkey " +
        "GROUP BY nname ORDER BY nname")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains("_snapcache") ||
          plan.contains(s"$wh/co9/data"))
        throw new IllegalStateException(
          s"snowflake MV rewrite did not serve from the state:\n$plan")
      q
    },

    // FULL-OUTER MV serving under the hard oracle: a maintained
    // γ(orders-slice ⟗ customer) state serves a FULL OUTER aggregate
    // through the SQL front-end under the fullState contract —
    // fact-dangling orders counted under NULL seg, order-less
    // customers counted with NULL measures, plan-pinned to the state
    // (an INNER/LEFT query refuses; FULL queries never served before
    // this state existed). The oracle recomputes the full join.
    "q_mv_rewrite_full" -> { (s, dir) =>
      import s.implicits._
      val wh = ivmWarehouse(dir + "#mvfull")
      val cat = new graft.sources.GraftCatalog(s, wh)
      val px = new graft.sources.PhoenixSql(s, cat)
      px.execute("CREATE TABLE fa0 (okey BIGINT NOT NULL, " +
        "ckey BIGINT, m BIGINT CONSTRAINT pk PRIMARY KEY (okey))")
      px.execute("CREATE TABLE fb0 (ckey BIGINT NOT NULL, " +
        "seg VARCHAR CONSTRAINT pk PRIMARY KEY (ckey))")
      cat.upsert("fa0", Tables.t(s, dir, "orders")
        .where($"o_orderkey" % 16 === 7)
        .select($"o_orderkey".as("okey"), $"o_custkey".as("ckey"),
          ($"o_orderkey" % 97).cast("long").as("m")))
      cat.upsert("fb0", Tables.t(s, dir, "customer")
        .where($"c_custkey" % 3 =!= 1) // %3=1 facts stay dangling
        .select($"c_custkey".as("ckey"), $"c_mktsegment".as("seg")))
      Seq("fa0", "fb0").foreach(cat.refreshSnapshotCache)
      val mv = wh + "/mvfull0"
      graft.operators.Materialize.build(cat,
        graft.operators.MaterializeJoin.ChainSpec("fa0", Seq(
          graft.operators.MaterializeJoin.SideSpec("fb0", Seq("ckey"))),
          fullOuter = true),
        Seq("seg"), Seq("m"), mv)
      graft.operators.Materialize.registerForRewrite(cat, mv)
      val q = px.execute("SELECT seg, COUNT(*) AS cnt, " +
        "SUM(m) AS sum_m, MIN(m) AS min_m, MAX(m) AS max_m " +
        "FROM fa0 FULL JOIN fb0 ON fa0.ckey = fb0.ckey " +
        "GROUP BY seg ORDER BY seg")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains("_snapcache") ||
          plan.contains(s"$wh/fa0/data"))
        throw new IllegalStateException(
          s"full-outer MV rewrite did not serve from the state:\n$plan")
      q
    },

    // Sketch-serving MV rewrite under the hard oracle: the query runs
    // a kmv_sketch aggregate over the FACT table; AggRewriteRule must
    // swap it onto the 5-row state's kmv_user_id column (plan-pinned).
    // k = 2^17 puts the sketch in the exact regime, so the DuckDB
    // oracle is a plain count(DISTINCT) — a green row proves the
    // served sketch is byte-for-byte the full-scan sketch. The 100-TB
    // point: "distinct users per segment" answered from KBs of state.
    "q_mv_rewrite_sketch" -> { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.registerKernels(s)
      val (base, mv) = mvSketchSetup(s, dir)
      val q = s.read.parquet(base).groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          call_function("kmv_sketch",
            when($"user_id".isNotNull, xxhash64($"user_id")),
            lit(131072)).as("sk"))
        .select($"event_type", $"n",
          round(call_function("kmv_estimate", $"sk")).cast("long")
            .as("distinct_users"))
        .orderBy($"event_type")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains(base))
        throw new IllegalStateException(
          s"sketch MV rewrite did not serve from the state:\n$plan")
      q
    },

    // Heavy-hitter-serving MV rewrite under the hard oracle: the query
    // runs approx_top_terms over the FACT table; AggRewriteRule must
    // swap it onto the state's topk_user_id SpaceSaving column
    // (top_terms_union_agg rollup, plan-pinned). Capacity 8192 is far
    // above the per-type distinct users, so the no-eviction regime
    // holds: every (term, est) is an exact count and DuckDB's GROUP BY
    // count is the oracle — "top users per event type from KBs of
    // state, not a fact scan", the dashboard shape.
    "q_mv_rewrite_topk" -> { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.registerKernels(s)
      val (base, mv) = mvTopkSetup(s, dir)
      val q = s.read.parquet(base).groupBy($"event_type")
        .agg(call_function("approx_top_terms", $"user_id", lit(8192))
          .as("tt"))
        .select($"event_type", explode($"tt").as("e"))
        .select($"event_type", $"e.term".as("term"),
          $"e.est".as("occurrences"))
        .orderBy($"event_type", $"term")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains(base))
        throw new IllegalStateException(
          s"top-terms MV rewrite did not serve from the state:\n$plan")
      q
    },

    // EXPRESSION-grain MV rewrite under the hard oracle: a DAY-grain
    // state (grain = date_trunc('DAY', ts), registered as an expression
    // over the base) serves a MONTH-grain query by re-truncating the
    // state's day column — the time-bucket rollup every metrics
    // dashboard runs. Plan-pinned like q_mv_rewrite: throws unless the
    // state (not the fact) is scanned; the oracle recomputes over the
    // raw events, so a green row proves the coarser-grain fold is
    // exact, not just plausible.
    "q_mv_rewrite_timegrain" -> { (s, dir) =>
      import s.implicits._
      val (base, mv) = mvTimegrainSetup(s, dir)
      val q = s.read.parquet(base)
        .groupBy(date_trunc("month", $"ts").as("m"), $"event_type")
        .agg(sum($"user_id").as("sum_uid"),
          count($"event_id").as("cnt_eid"),
          min($"event_id").as("min_eid"),
          max($"event_id").as("max_eid"),
          count(lit(1)).as("n"))
        .orderBy($"m", $"event_type")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains(base))
        throw new IllegalStateException(
          s"time-grain MV rewrite did not serve from the state:\n$plan")
      q
    },

    // Grain-RANGE predicate through the MV rewrite — the dashboard
    // shape "a two-week window at day grain": the WHERE carries
    // date_trunc('day', ts) BETWEEN a AND b, which must map onto the
    // state's grain column (day >= a AND day <= b over one-row-per-
    // group state) and still serve from the state. Plan-pinned like
    // q_mv_rewrite; the oracle recomputes over raw events, so a green
    // row proves range predicates on the grain filter the state
    // EXACTLY (a boundary error would shift a whole day in or out).
    "q_mv_rewrite_timerange" -> { (s, dir) =>
      import s.implicits._
      val (base, mv) = mvTimegrainSetup(s, dir)
      val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
      val hi = java.sql.Timestamp.valueOf("2024-01-21 00:00:00")
      val q = s.read.parquet(base)
        .where(date_trunc("day", $"ts").between(lit(lo), lit(hi)))
        .groupBy(date_trunc("day", $"ts").as("d"), $"event_type")
        .agg(sum($"user_id").as("sum_uid"),
          count($"event_id").as("cnt_eid"),
          min($"event_id").as("min_eid"),
          max($"event_id").as("max_eid"),
          count(lit(1)).as("n"))
        .orderBy($"d", $"event_type")
      val plan = q.queryExecution.executedPlan.toString
      if (!plan.contains(mv) || plan.contains(base))
        throw new IllegalStateException(
          s"grain-range MV rewrite did not serve from the state:\n$plan")
      q
    },

    // Whole-doc BFD bin packing (no-split SFT layout). Rows-only driver
    // check — the per-partition best-fit loop is not SQL-expressible;
    // capacity, padding-vs-naive, and determinism are pinned in
    // PipelineSpec.
    "q_pack_bins" -> { (s, dir) =>
      import s.implicits._
      Curation.packBinsWhole(
          Tables.t(s, dir, "documents")
            .select($"doc_id",
              greatest(lit(1L), floor($"n_chars" / 4)).as("toks")),
          "doc_id", "toks", budget = 512)
        .orderBy($"doc")
    },

    // Dedup-aware split: duplicate clusters assigned WHOLE to train or
    // test, so no duplicated text straddles the eval boundary (a
    // per-doc hash split leaks near-dups into eval). Pairs here are the
    // exact-fingerprint star edges (doc -> its group's min id); the
    // LSH-pair variant carries the same no-straddle guarantee
    // (ScalaTested — minhash pairs have no SQL oracle).
    "q_split_leakage_safe" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.t(s, dir, "documents")
      val fp = docs.select($"doc_id", Dedup.fingerprint($"text").as("fp"))
      val rep = fp.groupBy($"fp").agg(min($"doc_id").as("rep"))
      val pairs = fp.join(rep, "fp").where($"doc_id" =!= $"rep")
        .select($"doc_id".as("id_a"), $"rep".as("id_b"))
      Curation.leakageSafeSplit(docs, "doc_id", pairs, testFrac = 0.2)
        .orderBy($"id")
    },

    // Stratified sampling for dataset mixing: per-language keep rates
    // applied via the same deterministic hash (a training-mixture
    // recipe). Scan-local filter — no sampling state, no shuffle.
    "q_sample_stratified" -> { (s, dir) =>
      Curation.stratifiedSample(
          Tables.t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.1),
          defaultRate = 0.05)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // Document chunking with overlap (RAG/embedding windowing):
    // tokenize once, explode window starts, slice — scan-local, no
    // shuffle. 64-word windows every 48 words (16 overlap).
    "q_doc_chunks" -> { (s, dir) =>
      Curation.chunkDocuments(
          Tables.t(s, dir, "documents"), "text", "doc_id",
          chunkTokens = 64, overlap = 16)
        .orderBy(col("doc"), col("chunk_start"))
    },

    // Mixture sampling to token budgets (Pile/DoReMi recipe): rates
    // derived from per-source token totals (one tiny aggregate), then
    // the deterministic hash filter — src0's demanded share exceeds
    // its corpus (rate caps at 1), src1-3 subsample, the rest drop.
    "q_mixture_sample" -> { (s, dir) =>
      Curation.mixtureSample(
          Tables.t(s, dir, "documents"), "doc_id", "source", "n_chars",
          Map("src0" -> 0.5, "src1" -> 0.2, "src2" -> 0.2,
            "src3" -> 0.1),
          budgetTokens = 20000L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },

    // Temperature-scaled mixture (XLM-R α-sampling): q_s ∝ p_s^0.5
    // flattens the source distribution, upsampling small sources; ONE
    // tiny aggregate → scan-local hash filter, rates rounded 12dp so
    // the pow() boundary is engine-identical.
    "q_temperature_sample" -> { (s, dir) =>
      Curation.temperatureSample(
          Tables.t(s, dir, "documents"), "doc_id", "source", "n_chars",
          alpha = 0.5, budgetTokens = 20000L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },

    // Fixed-window sequence packing (concat-and-chunk pretraining
    // layout): deterministic shuffle order, corpus-wide token offsets
    // via the two-phase prefix sum, window id per doc.
    "q_token_pack" -> { (s, dir) =>
      Curation.packSequences(
          Tables.t(s, dir, "documents")
            .withColumn("n_tok", TextAnalysis.tokenCount(col("text"))),
          "doc_id", "n_tok", budget = 2048L)
        .orderBy(col("offset"))
    },

    // Salted two-stage aggregation under extreme key skew: 600k lineitem
    // rows collapse to 3 return flags, so an unsalted final agg funnels
    // whole keys into single tasks; the salt spreads stage-1 partials
    // across 16 buckets per key. Results must equal the plain groupBy —
    // the oracle checks exactly that.
    "q_skew_salted" -> { (s, dir) =>
      import s.implicits._
      Skew.saltedCountSum(Tables.t(s, dir, "lineitem"),
          Seq("l_returnflag"),
          Map("sum_qty" ->
            $"l_quantity".cast(org.apache.spark.sql.types.DecimalType(28, 2))))
        .select($"l_returnflag", $"n",
          $"sum_qty".cast("double").as("sum_qty"))
        .orderBy($"l_returnflag")
    },

    // Unigram log-probability quality score (CCNet-style LM filter):
    // broadcast the vocabulary model, one doc-keyed mean.
    "q_unigram_logprob" -> { (s, dir) =>
      TextAnalysis.unigramLogProb(
          Tables.t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc"))
    },

    // One-scan corpus profile: the summary a pipeline run logs before
    // and after each curation stage. Every statistic is a partial+final
    // aggregate over a single pass — no joins, no second scan; DECIMAL
    // casts keep the mean order-independent.
    "q_corpus_profile" -> { (s, dir) =>
      import s.implicits._
      Tables.t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        (sum($"n_chars".cast(org.apache.spark.sql.types.DecimalType(20, 2)))
          / count(lit(1))).cast("double").as("avg_chars"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"))
    },

    // Shingle-containment pairs: the ASYMMETRIC near-dup relation
    // |A∩B| / |A| — catches a document quoted or wrapped inside a larger
    // one, which symmetric Jaccard dilutes below any usable threshold.
    // Prefix filtering (SSJoin) gives COMPLETE recall without a cross
    // join. BOUNDED here: this synthetic corpus draws from a ~50-word
    // vocabulary, so no shingle is rare and every token-frequency filter
    // degenerates toward the quadratic pair set — on a real (Zipf)
    // corpus the prefix join is the standard scale path.
    "q_containment_pairs" -> { (s, dir) =>
      Dedup.containmentPairs(
          Tables.t(s, dir, "documents").where(col("doc_id") < 300),
          "text", "doc_id", t = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Unigram entropy per doc (information-density quality signal):
    // histogram-shrunk shuffle + scaled-long exact sum.
    "q_word_entropy" -> { (s, dir) =>
      TextAnalysis.wordEntropy(
          Tables.t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc"))
    },

    // Blocklist phrase filter (the C4/CCNet bad-words pass): ONE
    // Aho-Corasick scan per doc for the whole phrase list vs
    // |phrases| contains() scans composed. Mixed hit-rate list: hot
    // words, multi-word phrases (only sometimes adjacent in the
    // shuffled fixture text), substrings spanning a word boundary, and
    // never-matching controls.
    "q_phrase_filter" -> { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val phrases = Seq("slow", "hash", "customer batch", "vector line",
        "an slo", "zebra stripe", "qq")
      Tables.t(s, dir, "documents")
        .select(col("doc_id").as("doc"),
          TextAnalysis.matchedPhrases(lower(trim(col("text"))), phrases)
            .as("m"))
        // joined string, not the array: the driver's pandas compare
        // sorts rows and list columns are unsortable there
        .select(col("doc"), array_join(col("m"), ",").as("phrases"),
          size(col("m")).as("n_matched"),
          (size(col("m")) > 0).as("blocked"))
        .orderBy(col("doc"))
    },

    // Regular-grid resample with forward fill (time-series gap fill):
    // per-user 6-hour ticks, latest observation carried forward via
    // the one-exchange as-of merge; spine from a per-key bounds
    // aggregate, never a driver loop.
    "q_resample_ffill" -> { (s, dir) =>
      graft.operators.Temporal.resampleForwardFill(
          Tables.t(s, dir, "events").where(col("user_id") < 12),
          "user_id", "ts", stepSeconds = 21600L)
        .orderBy(col("user_id"), col("grid_ts"))
    },

    // DAU / rolling 7-day active users + stickiness (engagement
    // rollup). Exact mode for the oracle; the HLL-sketch mode is the
    // corpus-scale path (per-day mergeable sketches, rolling union
    // over the #days-row sketch table) — ±2% agreement ScalaTested.
    "q_dau_mau" -> { (s, dir) =>
      graft.operators.Temporal.engagementRollup(
        Tables.t(s, dir, "events"), "user_id", "ts", windowDays = 7)
    },

    // Unicode normalization (ftfy/CCNet-style pre-dedup repair): NFC +
    // zero-width strip + NBSP→space + control strip + space-run
    // collapse, ONE fused scan-local pass. The fixture is clean ASCII,
    // so the query wraps each doc in deterministic mess both engines
    // build identically: combining accents (NFC composes e+́→é, Z+́→Ź),
    // NBSP, zero-width space, BEL, tab runs, edge spaces.
    "q_text_normalize" -> { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val messy = concat(
        lit("  \u00A0Cafe\u0301 \u200B"), col("text"),
        lit("\t\u0007\tZ\u0301  "))
      Tables.t(s, dir, "documents")
        .select(col("doc_id").as("doc"),
          TextAnalysis.normalizeText(messy).as("clean"))
        .withColumn("n_chars", length(col("clean")))
        .orderBy(col("doc"))
    },

    // C4 cleaning rules (Raffel et al. 2020 §2.2), one fused pass:
    // line filters (terminal punctuation, ≥3 words, no "javascript")
    // + document flags (≥5 sentences, "lorem ipsum", curly braces).
    // The fixture text has no punctuation, so 5-word sentence lines
    // are derived (~25/doc → the ≥5-sentence rule passes unless a
    // doc-level flag fires); injected junk lines exercise every rule
    // non-trivially (a 1-word line, a javascript line on doc_id%5, a
    // lorem+brace line on doc_id%7 → keep=false for those).
    "q_c4_clean" -> { (s, dir) =>
      val t2 = concat(
        regexp_replace(col("text"), "((\\w+ ){4}\\w+) ", "$1.\n"),
        lit(".\nok.\nthis line has five words."),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("\nwarning: this page needs JavaScript enabled."))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit("\nsee { lorem ipsum } for filler text."))
          .otherwise(lit("")))
      TextAnalysis.c4Clean(
          Tables.t(s, dir, "documents").withColumn("t2", t2),
          "t2", "doc_id")
        .orderBy(col("doc"))
    },

    // BPE subword tokenization (Sennrich et al. 2016): merges trained
    // on the corpus word histogram (bounded driver loop, deterministic
    // tie-breaks), tokens counted by the codegen'd kernel — the real
    // packing-budget input. No SQL oracle (the greedy merge loop is
    // not SQL-expressible): rows-only driver check; merge correctness,
    // round-trip, and determinism are ScalaTested (PipelineSpec).
    "q_bpe_tokens" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      // training is deterministic and a session artifact (production
      // trains a tokenizer once, counts many times) — memoized so bench
      // repetitions time the counting kernel, not the 200-iteration
      // driver merge loop; build cost rides artifact_build like the
      // other persisted indexes
      val merges = Artifacts.memoized(dir, "bpe_merges") {
        graft.operators.Tokenize.bpeTrain(docs, "text", numMerges = 200)
      }
      docs.select(col("doc_id").as("doc"),
          size(split(lower(trim(col("text"))), "\\s+")).as("n_ws"),
          graft.operators.Tokenize.bpeCount(col("text"), merges)
            .as("n_bpe"))
        .orderBy(col("doc"))
    },

    // Interpolated bigram LM score (toward CCNet's KenLM filter):
    // histogram-model shuffles carry distinct grams, scoring joins are
    // AQE-sized, scaled-long exact mean.
    "q_bigram_logprob" -> { (s, dir) =>
      TextAnalysis.bigramLogProb(
          Tables.t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc"))
    },

    // Interpolated trigram LM score (one backoff level past the
    // bigram): histogram shuffles carry distinct grams only, scoring
    // joins AQE-sized, scaled-long exact mean.
    "q_trigram_logprob" -> { (s, dir) =>
      TextAnalysis.trigramLogProb(
          Tables.t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc"))
    },

    // Gopher repetition filters (Rae et al. 2021 App. A1.1): dup
    // line/paragraph fractions + top/dup n-gram char fractions, two
    // fused scan-local kernels, no shuffle. The synthetic corpus has
    // no within-doc repetition at all (single-line docs, no repeated
    // 5-grams), which would make every dup metric trivially 0 — so the
    // query derives a repetitive text both engines build identically:
    // sentences become lines, and the doc is self-concatenated with a
    // paragraph break (every line/para/gram then duplicates, exercising
    // every counter non-trivially; dup5/dup10 exceed 1 by the
    // documented sum-form overcount on such degenerate input).
    "q_gopher_repetition" -> { (s, dir) =>
      val lines = replace(col("text"), lit(". "), lit("\n"))
      TextAnalysis.gopherRepetition(
          Tables.t(s, dir, "documents")
            .withColumn("t2", concat(lines, lit("\n\n"), lines)),
          "t2", "doc_id")
        .orderBy(col("doc"))
    },

    // Exact phrase search over the positional inverted index: each
    // phrase term's postings are (file-pruned) reads, adjacency checks
    // intersect position lists — no text re-tokenization at query
    // time. Oracle re-derives occurrences from the raw text.
    "q_phrase_search" -> { (s, dir) =>
      // the positional index persists once (term-range-partitioned
      // files, so the phrase's term filter prunes parquet files); the
      // query times postings reads + position intersection
      val postings = Artifacts.one(s, dir, "postings") {
        TextAnalysis.buildInvertedIndex(
          Tables.t(s, dir, "documents"), "text", "doc_id")
      }
      TextAnalysis.phraseSearch(postings, Seq("customer", "batch"))
        .orderBy(col("doc"))
    },

    // Compression-ratio repetition signal (MassiveWeb/RefinedWeb-family
    // filter): deflate ratio per doc, self-concatenated docs flagged by
    // the drop in ratio. Rows-only driver check (the absolute ratio is
    // zlib-build-dependent); ordering properties ScalaTested.
    "q_compression_ratio" -> { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      Tables.t(s, dir, "documents")
        .select(col("doc_id").as("doc"),
          TextAnalysis.compressionRatio(col("text")).as("ratio_raw"),
          TextAnalysis.compressionRatio(
            concat_ws(" ", col("text"), col("text"), col("text")))
            .as("ratio_x3"))
        .withColumn("repetitive_x3", col("ratio_x3") < col("ratio_raw"))
        .orderBy(col("doc"))
    },

    // Winnowing fingerprint overlap (Schleimer et al. SIGMOD 2003, the
    // MOSS algorithm): window-minimum k-gram hashes → shared-fp counts
    // per doc pair. Bounded to 300 docs (< maxDocsPerFp, so the
    // boilerplate cap cannot fire and the SQL mirror needs no cap).
    "q_winnowing_overlap" -> { (s, dir) =>
      Dedup.winnowingOverlap(
          Tables.t(s, dir, "documents").where(col("doc_id") < 300),
          "text", "doc_id")
        .orderBy(col("id_a"), col("id_b"))
    },

    // Cross-source overlap matrix: how many distinct word 5-grams each
    // source pair shares (the between-sources contamination report a
    // curation run logs). One gram-keyed shuffle; the per-gram source
    // set stays tiny (≤ #sources), so the pair expansion happens
    // IN-ROW over the collected set — the prior self-join spelling
    // executed the scan+shingle+distinct subtree twice (once per join
    // side) and shuffled every gram a second time for the join.
    "q_dedup_cross_source" -> { (s, dir) =>
      import s.implicits._
      val g = Tables.t(s, dir, "documents")
        .select($"source", split(lower(trim($"text")), "\\s+").as("w"))
        .select($"source", explode(Dedup.shinglesFromWords($"w", 5)).as("g"))
        .distinct() // one row per (source, gram)
      // sort_array gives source_a < source_b (same UTF8 ordering as
      // the old `<` predicate); each gram contributes each unordered
      // source pair exactly once — identical matrix to the self-join
      g.groupBy($"g").agg(sort_array(collect_set($"source")).as("ss"))
        .select(explode(flatten(transform($"ss", (a, i) =>
          transform(slice($"ss", i + lit(2), size($"ss")),
            b => struct(a.as("source_a"), b.as("source_b")))))).as("p"))
        .select($"p.source_a", $"p.source_b")
        .groupBy($"source_a", $"source_b")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy($"source_a", $"source_b")
    },

    // The SCALE path for the same report: KMV (theta-style) sketches —
    // one scan builds a fixed k-longs sketch per source (no distinct(),
    // no gram-keyed join; the shuffle carries #sources sketches), the
    // pairwise combine runs on the tiny aggregate. Deterministic
    // (xxhash64), but no SQL oracle — the estimator is not expressible
    // in DuckDB; KmvSketchSpec pins accuracy vs the exact path and the
    // exact-below-k regime.
    "q_overlap_sketch" -> { (s, dir) =>
      import s.implicits._
      val g = Tables.t(s, dir, "documents")
        .select($"source", split(lower(trim($"text")), "\\s+").as("w"))
        .select($"source",
          explode(Dedup.shinglesFromWords($"w", 5)).as("g"))
      graft.operators.SetOps.approxSourceOverlap(g, "source",
          xxhash64($"g"), k = 4096)
        .orderBy($"source_a", $"source_b")
    },

    // The SAME sketch pipeline in its EXACT regime, under the hard
    // oracle: distinct users per event_type is far below k = 2^20, so
    // every sketch retains its full set and the estimates are exact —
    // DuckDB recomputes the pairwise distinct-user intersections
    // directly. A green row proves the whole sketch path (build, union,
    // intersect, jaccard) against ground truth, not just a tolerance
    // band; the estimation regime keeps its ScalaTest bounds.
    "q_overlap_sketch_exact" -> { (s, dir) =>
      graft.operators.SetOps.approxSourceOverlap(
          Tables.t(s, dir, "events"), "event_type",
          xxhash64(col("user_id")), k = 1 << 20)
        .orderBy(col("source_a"), col("source_b"))
    },

    // Batch multi-query BM25 (serving pattern): a queries TABLE scored
    // against the postings in one job — per-query cost is its terms'
    // posting rows, per-query top-k via the bounded heap.
    "q_bm25_multiquery" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.t(s, dir, "documents")
      val postings = Artifacts.one(s, dir, "postings") {
        TextAnalysis.buildInvertedIndex(docs, "text", "doc_id")
      }
      val meta = docs.where(col("text").isNotNull)
        .select(size(split(lower(trim(col("text"))), "\\s+"))
          .cast("long").as("dl"))
        .agg(sum($"dl").as("total_dl"), count(lit(1)).as("n_docs"))
      val queries = Seq((1L, "slow"), (1L, "customer"), (2L, "batch"),
        (2L, "stream"), (3L, "hash"), (3L, "window"))
        .toDF("query_id", "term")
      TextAnalysis.bm25MultiQuery(postings, meta, queries,
          "query_id", "term", k = 5)
        .orderBy(col("query_id"), col("bm25").desc, col("doc"))
    },

    // Edit-distance similarity join (entity/name resolution): q-gram
    // rarest-prefix filtering (Ed-Join) + length filter + exact
    // levenshtein verify — never a cross join. Customer names differ
    // in single digits, so the fixture has real distance-1 pairs.
    "q_fuzzy_name_pairs" -> { (s, dir) =>
      FuzzyJoin.editDistancePairs(
          Tables.t(s, dir, "customer").where(col("c_custkey") <= 600)
            .select(col("c_custkey"), col("c_name")),
          "c_name", "c_custkey", maxDist = 1)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Corpus version diff (release report between snapshots): one
    // id-keyed full outer join over 16-byte digests. Derived versions:
    // old = ids < 450, new = ids >= 50 with every 10th doc's text
    // changed — all four statuses non-trivial.
    "q_corpus_diff" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val oldV = docs.where(col("doc_id") < 450)
      val newV = docs.where(col("doc_id") >= 50)
        .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Dedup.corpusDiff(oldV, newV, "text", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Incremental exact dedup: classify a new batch (doc_id >= 400)
    // against the existing corpus via its fingerprint table — the
    // daily-ingest shape; no corpus re-pairing. Oracle-exact.
    "q_dedup_incremental" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      Dedup.incrementalDedup(
          docs.where(col("doc_id") < 400),
          docs.where(col("doc_id") >= 400),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Incremental MinHash-LSH near-dups, PRODUCTION SHAPE: the corpus
    // signature table is a persisted artifact (built once per corpus —
    // Artifacts), and the query times a delta batch against it via the
    // prepared path, so corpus re-shingling never repeats per batch.
    // Delta-vs-(corpus ∪ delta) candidates only — corpus-internal pairs
    // drop before the verify joins. No SQL oracle (minhash);
    // prepared-vs-plain equivalence and recall are ScalaTested.
    // The delta is the FIXED-SIZE ingest batch (first 100 doc ids) and
    // the corpus is everything else, so the corpus side grows with the
    // fixture while per-batch work stays delta-sized — the old
    // `< 400` / `>= 400` split silently inverted at sf0.1 (400-doc
    // corpus vs 4,600-doc "delta"), benchmarking a full-corpus pass
    // labeled incremental.
    "q_dedup_incremental_lsh" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") >= 100)
      val corpusSig = Artifacts.one(s, dir, "lsh_sig") {
        Dedup.signatureTable(corpus, "text", "doc_id")
      }
      Dedup.incrementalNearDupsPrepared(corpusSig, corpus,
          docs.where(col("doc_id") < 100),
          "text", "doc_id", threshold = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Cross-document duplicated 5-gram fraction (the Lee et al. 2022
    // substring-dedup signal): occurrence-weighted share of each doc
    // made of grams that recur in other docs. Histogram-shrunk joins,
    // exact integers → oracle-exact.
    "q_dup_gram_frac" -> { (s, dir) =>
      Dedup.crossDocDupGrams(Tables.t(s, dir, "documents"),
          "text", "doc_id", n = 5)
        .orderBy(col("doc"))
    },

    // Quality-quantile bucketing (CCNet-style head/middle/tail): unigram
    // LM score → PERCENTILE_DISC quartile thresholds → scan-local bucket
    // assignment. Exact mode for the oracle; approx_percentile is the
    // declared corpus-scale path (ScalaTested).
    "q_quality_buckets" -> { (s, dir) =>
      val scored = TextAnalysis.unigramLogProb(
        Tables.t(s, dir, "documents"), "text", "doc_id")
      Curation.scoreBuckets(scored, "avg_neg_logp",
          Seq(0.25, 0.5, 0.75), exact = true)
        .select(col("doc"), col("avg_neg_logp"), col("bucket"))
        .orderBy(col("doc"))
    },

    // Weighted sampling without replacement (Efraimidis-Spirakis keys):
    // longer docs proportionally more likely, deterministic across
    // engines/layouts; scan-local key + TakeOrderedAndProject.
    "q_weighted_sample" -> { (s, dir) =>
      Curation.weightedSample(
          Tables.t(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", k = 100)
        .orderBy(col("doc_id"))
    },

    // Per-source weighted quotas via the bounded-heap aggregate (k
    // candidates per (source, map task) through the shuffle — no
    // per-stratum sort).
    "q_weighted_sample_stratified" -> { (s, dir) =>
      Curation.weightedSamplePerStratum(
          Tables.t(s, dir, "documents"),
          "doc_id", "n_chars", "source", k = 5)
        .orderBy(col("doc_id"))
    },

    // Boundary-splitting packing: docs crossing a window boundary split
    // into per-bin pieces (the actual pretraining chunk layout) —
    // scan-local slice arithmetic over the same two-phase prefix sum.
    "q_token_pack_split" -> { (s, dir) =>
      Curation.packSequencesSplit(
          Tables.t(s, dir, "documents")
            .withColumn("n_tok", TextAnalysis.tokenCount(col("text"))),
          "doc_id", "n_tok", budget = 2048L)
        .orderBy(col("bin"), col("bin_offset"))
    },

    // DSIR importance weights: per-doc mean log-ratio of target (en)
    // vs raw unigram probabilities — the data-selection score. Exact
    // vocabulary mode (the hashed-feature variant is ScalaTested).
    "q_dsir_weights" -> { (s, dir) =>
      import s.implicits._
      Curation.dsirWeights(Tables.t(s, dir, "documents"),
          "text", "doc_id", $"lang" === "en")
        .orderBy($"doc")
    },

    // Blocklist membership via the Bloom-prefilter join: heavy-error
    // users (error count above 1.2× the per-user mean, integer-exact
    // comparison) become the key set; their events are selected by a
    // broadcast Bloom probe scan-locally, then an exact semi-join on the
    // survivors — result is EXACT, so the plain IN-subquery is the
    // oracle while the Bloom plumbing is what's exercised.
    "q_bloom_blocklist" -> { (s, dir) =>
      import s.implicits._
      val e = Tables.t(s, dir, "events")
      val perUser = e.where($"event_type" === "error")
        .groupBy($"user_id").agg(count(lit(1)).as("n_err"))
      val tot = perUser.agg(sum($"n_err").as("tot_err"),
        count(lit(1)).as("n_users"))
      val blocklist = perUser.crossJoin(broadcast(tot))
        .where($"n_err" * $"n_users" * 5 > $"tot_err" * 6)
        .select($"user_id")
      graft.operators.Membership.bloomSemiJoin(
          e.select($"event_id", $"user_id", $"event_type"),
          blocklist, "user_id", "user_id", numBits = 1 << 16)
        .orderBy($"event_id")
    },

    // URL extraction + domain rollup with a blocklist flag (the
    // domain-level filtering step of web-corpus curation). URL-bearing
    // text is derived deterministically from customer keys (the
    // documents corpus has no URLs).
    "q_url_extract" -> { (s, dir) =>
      import s.implicits._
      Tables.t(s, dir, "customer")
        .withColumn("raw", concat(
          lit("ref https://site"), ($"c_custkey" % 7).cast("string"),
          lit(".com/p/"), $"c_custkey".cast("string"),
          lit(" mirror http://cdn.shared.net/x/"),
          ($"c_custkey" % 13).cast("string")))
        .select(explode(TextAnalysis.extractUrls($"raw")).as("url"))
        .select(TextAnalysis.urlDomain($"url").as("domain"))
        .groupBy($"domain")
        .agg(count(lit(1)).as("n_urls"))
        .withColumn("blocked",
          when($"domain".isin("site0.com", "cdn.shared.net"), 1)
            .otherwise(0))
        .orderBy($"domain")
    },

    // Unicode-script mix profile (homoglyph-spam / keyword-stuffing
    // signal): one fused pass counts Latin/Cyrillic/Han/Arabic/digit
    // code points; dominant script + mixed verdict derive from the
    // counts. ASCII fixture text gets deterministic foreign injections
    // on doc_id residues so every script column and the mixed flag go
    // non-trivial.
    "q_script_mix" -> { (s, dir) =>
      val inject =
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit(" Привет мир спам Привет мир спам")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(3)) === 1,
            lit(" 中文关键词中文关键词")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit(" عربى نص عربى")).otherwise(lit("")))
      TextAnalysis.scriptMix(
          Tables.t(s, dir, "documents").withColumn("t2", inject),
          "t2", "doc_id", mixedThreshold = 0.02)
        .orderBy(col("doc"))
    },

    // Cohort retention (product-analytics rollup): users bucketed by
    // first-active week, distinct-user counts per week offset. ONE
    // user-keyed shuffle — the per-user aggregate is a period SET
    // bounded by the analysis window, not the event count. The raw
    // fixture has every user active every week (degenerate all-1.0
    // retention), so a deterministic hash thins activity to ~1.5
    // active weeks/user on both sides.
    "q_cohort_retention" -> { (s, dir) =>
      graft.operators.Temporal.cohortRetention(
          Tables.t(s, dir, "events")
            .where(pmod(col("event_id") * 31 + col("user_id"), lit(59))
              === 0),
          "user_id", "ts")
        .orderBy(col("cohort"), col("week_offset"))
    },

    // Period-over-period return rate, KMV-sketch scale path: one scan
    // builds a per-week distinct-user sketch (the exchange carries
    // #weeks sketches, never user ids), pairwise intersections on the
    // tiny combine. Deterministic (xxhash64) but no SQL oracle — the
    // estimator is not DuckDB-expressible; TemporalSpec pins agreement
    // with the exact pairwise intersection within tolerance and the
    // exact-below-k regime. Same thinned activity as the cohort query.
    "q_retention_sketch" -> { (s, dir) =>
      graft.operators.Temporal.returnRateSketch(
          Tables.t(s, dir, "events")
            .where(pmod(col("event_id") * 31 + col("user_id"), lit(59))
              === 0),
          "user_id", "ts", unit = "week", maxLag = 6)
        .orderBy(col("period"), col("lag"))
    },

    // Return-rate sketch in its EXACT regime under the hard oracle:
    // weekly distinct users are far below k = 2^20, so per-period
    // sketches are complete and every intersection is exact — DuckDB
    // recomputes the pairwise week overlaps directly. Full (unthinned)
    // events: the point is ground truth, not the sketch tolerance.
    "q_retention_sketch_exact" -> { (s, dir) =>
      graft.operators.Temporal.returnRateSketch(
          Tables.t(s, dir, "events"),
          "user_id", "ts", unit = "week", maxLag = 4, k = 1 << 20)
        .orderBy(col("period"), col("lag"))
    },

    // URL canonicalization (crawler-core rules) driving URL-level
    // dedup: raw spellings vary per row (scheme case, default port,
    // trailing slash, tracking params, fragments) but share one
    // canonical target per k%10, so the groupBy visibly collapses
    // variants. Scan-local kernel; oracle reimplements the rules in
    // SQL rather than hardcoding expected strings.
    "q_url_canonical" -> { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val m = ($"c_custkey" % 10).cast("string")
      val raw = concat(
        when($"c_custkey" % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://Site"), m, lit(".COM"),
        when($"c_custkey" % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), m,
        when($"c_custkey" % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=x&b=2&a=1"),
        when($"c_custkey" % 5 === 0, lit("&fbclid=abc")).otherwise(lit("")),
        lit("#sec"))
      Tables.t(s, dir, "customer")
        .select(raw.as("raw"))
        .select(TextAnalysis.canonicalUrl($"raw").as("canon"), $"raw")
        .groupBy($"canon")
        .agg(count(lit(1)).as("n_raw"),
          countDistinct($"raw").as("n_variants"))
        .orderBy($"canon")
    },

    // Multimodal: binary payload + stubbed decoder via mapPartitions.
    // The stub is deterministic, so this DOES have a SQL oracle.
    "q_multimodal_features" -> { (s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.mediaTable(Tables.t(s, dir, "documents")))
        .toDF()
        .orderBy(col("media_id"))
    },

    // Multimodal frame sampling: payload → 4 evenly spaced frame rows
    // (typed flatMap; deterministic stub slicing → exact oracle).
    "q_multimodal_frames" -> { (s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.mediaTable(Tables.t(s, dir, "documents")), frames = 4)
        .toDF()
        .select(col("media_id"), col("frame_idx"), col("frame_digest"))
        .orderBy(col("media_id"), col("frame_idx"))
    },

    // Multimodal image near-dup through the REAL codec path: documents
    // render to genuinely decodable 32×32 PNGs (near-dup texts →
    // near-identical images), dHash via full ImageIO pixel decode +
    // Graphics2D 9×8 grayscale downscale, then the shared 64-bit Hamming
    // blocking with exact verify. No SQL oracle (the JDK codec is not
    // expressible in DuckDB); hash invariances (resize / JPEG re-encode /
    // unrelated images) and blocking completeness vs brute force are
    // pinned in PipelineSpec.
    "q_image_dedup" -> { (s, dir) =>
      Multimodal.imageNearDups(
          Multimodal.syntheticImages(Tables.t(s, dir, "documents")),
          maxHamming = 6)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Audio near-dup through the REAL codec path: documents render as
    // tone-sequence WAVs (javax.sound encoder), fingerprint = 64-bit
    // energy-envelope difference hash over the decoded PCM (volume- and
    // container-invariant), same shared Hamming blocking. No SQL oracle
    // (JDK audio codec); invariances + completeness in PipelineSpec.
    "q_audio_dedup" -> { (s, dir) =>
      Multimodal.audioNearDups(
          Multimodal.syntheticAudio(Tables.t(s, dir, "documents")),
          maxHamming = 6)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Incremental image near-dup, PRODUCTION SHAPE (the multimodal twin
    // of q_dedup_incremental_lsh): the corpus is decoded ONCE into a
    // persisted 8-byte dHash artifact; the timed query decodes only the
    // fixed-size ingest batch (first 100 doc ids) and probes the stored
    // fingerprints — the delta's occupied BUCKET set is broadcast so
    // corpus keyed rows filter map-side, and only the collision
    // neighborhood rides the exchange (30× rehearsal: exponent 0.31,
    // 0.30 MB shuffled; the alternative hammingNearDups64Indexed
    // bucket-table probe MEASURED SLOWER at this scale — tradeoff
    // recorded in SCALE.md). Delta-touching pairs only. No SQL oracle
    // (JDK codec); incremental-vs-batch equivalence and indexed-path
    // equivalence are ScalaTested; output golden-pinned in Verify.
    "q_image_dedup_incremental" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val corpusSig = Artifacts.one(s, dir, "image_dhash") {
        Multimodal.imageHashes(
          Multimodal.syntheticImages(docs.where(col("doc_id") >= 100)))
      }
      Multimodal.imageNearDupsIncremental(corpusSig,
          Multimodal.syntheticImages(docs.where(col("doc_id") < 100)),
          maxHamming = 6)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Incremental audio near-dup: same decode-once ingest shape over
    // the persisted envelope-fingerprint artifact.
    "q_audio_dedup_incremental" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val corpusSig = Artifacts.one(s, dir, "audio_fp") {
        Multimodal.audioHashes(
          Multimodal.syntheticAudio(docs.where(col("doc_id") >= 100)))
      }
      Multimodal.audioNearDupsIncremental(corpusSig,
          Multimodal.syntheticAudio(docs.where(col("doc_id") < 100)),
          maxHamming = 6)
        .orderBy(col("id_a"), col("id_b"))
    }
  )

  private val WORDS = raw"string_split_regex(lower(text), '\s+')"
  private val SHING =
    s"list_distinct(list_transform(range(1, len($WORDS)), " +
      s"i -> $WORDS[i] || ' ' || $WORDS[i+1]))"

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" -> """
      SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS fp
      FROM documents GROUP BY text ORDER BY keep_id""",

    "q_dedup_fingerprint" -> """
      SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp,
             min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY keep_id""",

    "q_dedup_spans" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      sp0 AS (SELECT doc, ws,
          unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS pos
        FROM w),
      sp AS (SELECT doc, pos,
          array_to_string(ws[(pos*10+1):(pos*10+10)], ' ') AS span
        FROM sp0),
      k AS (SELECT doc, pos, span,
          row_number() OVER (PARTITION BY span ORDER BY doc, pos) AS rn
        FROM sp),
      reb AS (SELECT doc, count(*) AS n_kept,
          string_agg(span, ' ' ORDER BY pos) AS clean_text
        FROM k WHERE rn = 1 GROUP BY doc)
      SELECT w.doc, CAST(ceil(len(ws) / 10.0) AS BIGINT) AS n_spans,
        coalesce(reb.n_kept, 0) AS n_kept,
        coalesce(reb.clean_text, '') AS clean_text
      FROM w LEFT JOIN reb ON w.doc = reb.doc
      ORDER BY w.doc""",

    "q_dedup_spans_incremental" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      sp0 AS (SELECT doc, ws,
          unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS pos
        FROM w),
      sp AS (SELECT doc, pos,
          array_to_string(ws[(pos*10+1):(pos*10+10)], ' ') AS span
        FROM sp0),
      k AS (SELECT doc, pos, span,
          row_number() OVER (PARTITION BY span ORDER BY doc, pos) AS rn
        FROM sp),
      reb AS (SELECT doc, count(*) AS n_kept,
          string_agg(span, ' ' ORDER BY pos) AS clean_text
        FROM k WHERE rn = 1 AND doc >= 250 GROUP BY doc)
      SELECT w.doc, CAST(ceil(len(ws) / 10.0) AS BIGINT) AS n_spans,
        coalesce(reb.n_kept, 0) AS n_kept,
        coalesce(reb.clean_text, '') AS clean_text
      FROM w LEFT JOIN reb ON w.doc = reb.doc
      WHERE w.doc >= 250
      ORDER BY w.doc""",

    "q_line_dedup" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents WHERE len(trim(text)) > 0),
      l0 AS (SELECT doc, ws,
          unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS line_no
        FROM w),
      l AS (SELECT doc, line_no,
          array_to_string(ws[(line_no*8+1):(line_no*8+8)], ' ') AS line
        FROM l0),
      b AS (SELECT line FROM l GROUP BY line
        HAVING count(DISTINCT doc) >= 3),
      f AS (SELECT l.doc, l.line_no, l.line,
          b.line IS NOT NULL AS ib
        FROM l LEFT JOIN b ON l.line = b.line)
      SELECT doc, count(*) AS n_lines,
        count(*) FILTER (WHERE NOT ib) AS n_kept,
        coalesce(string_agg(line, chr(10) ORDER BY line_no)
          FILTER (WHERE NOT ib), '') AS text_clean
      FROM f GROUP BY doc ORDER BY doc""",

    "q_line_dedup_incremental" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents WHERE len(trim(text)) > 0),
      l0 AS (SELECT doc, ws,
          unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS line_no
        FROM w),
      l AS (SELECT doc, line_no,
          array_to_string(ws[(line_no*8+1):(line_no*8+8)], ' ') AS line
        FROM l0),
      b AS (SELECT line FROM l GROUP BY line
        HAVING count(DISTINCT doc) >= 3),
      f AS (SELECT l.doc, l.line_no, l.line,
          b.line IS NOT NULL AS ib
        FROM l LEFT JOIN b ON l.line = b.line)
      SELECT doc, count(*) AS n_lines,
        count(*) FILTER (WHERE NOT ib) AS n_kept,
        coalesce(string_agg(line, chr(10) ORDER BY line_no)
          FILTER (WHERE NOT ib), '') AS text_clean
      FROM f WHERE doc >= 250 GROUP BY doc ORDER BY doc""",

    "q_pagerank" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents WHERE doc_id < 300 AND len(trim(text)) > 0),
      sp0 AS (SELECT doc, ws,
          unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS pos
        FROM w),
      sp AS (SELECT DISTINCT doc,
          array_to_string(ws[(pos*10+1):(pos*10+10)], ' ') AS span
        FROM sp0),
      e AS (SELECT a.doc AS src, b.doc AS dst
        FROM sp a JOIN sp b ON a.span = b.span AND a.doc <> b.doc
        GROUP BY 1, 2 HAVING count(*) >= 2),
      nodes AS (SELECT doc AS id FROM w),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
        FROM e GROUP BY 1),
      r0 AS (SELECT id, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
      d1 AS (SELECT coalesce(sum(pr), 0) AS dm FROM r0
        WHERE id NOT IN (SELECT src FROM deg)),
      c1 AS (SELECT e.dst AS id, sum(r.pr / g.deg) AS c
        FROM e JOIN r0 r ON e.src = r.id JOIN deg g ON e.src = g.src
        GROUP BY 1),
      r1 AS (SELECT nodes.id,
          0.15 / nn.n + 0.85 * (coalesce(c1.c, 0) + d1.dm / nn.n) AS pr
        FROM nodes CROSS JOIN nn CROSS JOIN d1
        LEFT JOIN c1 ON nodes.id = c1.id),
      d2 AS (SELECT coalesce(sum(pr), 0) AS dm FROM r1
        WHERE id NOT IN (SELECT src FROM deg)),
      c2 AS (SELECT e.dst AS id, sum(r.pr / g.deg) AS c
        FROM e JOIN r1 r ON e.src = r.id JOIN deg g ON e.src = g.src
        GROUP BY 1),
      r2 AS (SELECT nodes.id,
          0.15 / nn.n + 0.85 * (coalesce(c2.c, 0) + d2.dm / nn.n) AS pr
        FROM nodes CROSS JOIN nn CROSS JOIN d2
        LEFT JOIN c2 ON nodes.id = c2.id),
      d3 AS (SELECT coalesce(sum(pr), 0) AS dm FROM r2
        WHERE id NOT IN (SELECT src FROM deg)),
      c3 AS (SELECT e.dst AS id, sum(r.pr / g.deg) AS c
        FROM e JOIN r2 r ON e.src = r.id JOIN deg g ON e.src = g.src
        GROUP BY 1),
      r3 AS (SELECT nodes.id,
          0.15 / nn.n + 0.85 * (coalesce(c3.c, 0) + d3.dm / nn.n) AS pr
        FROM nodes CROSS JOIN nn CROSS JOIN d3
        LEFT JOIN c3 ON nodes.id = c3.id)
      SELECT id AS doc, round(pr, 8) AS pr FROM r3 ORDER BY doc""",

    "q_jaccard_pairs" -> s"""
      WITH sh AS (
        SELECT doc_id AS id, $SHING AS s
        FROM documents WHERE doc_id < 300)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      FROM sh a, sh b WHERE a.id < b.id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
      ORDER BY id_a, id_b""",

    "q_jaccard_char" -> """
      WITH sh AS (
        SELECT doc_id AS id,
          list_distinct(list_transform(range(1, length(lower(text)) - 2),
            i -> lower(text)[i:i+3])) AS s
        FROM documents WHERE doc_id < 200)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      FROM sh a, sh b WHERE a.id < b.id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
      ORDER BY id_a, id_b""",

    "q_text_quality" -> raw"""
      SELECT doc_id,
        len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
        CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
          len(string_split_regex(lower(trim(text)), '\s+')) AS mean_wlen,
        CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          w -> w IN ('the','and','of','to','in','is','for','with')))
          AS DOUBLE) /
          len(string_split_regex(lower(trim(text)), '\s+'))
          AS stopword_ratio,
        CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g'))
          AS DOUBLE) / nullif(length(text), 0) AS symbol_ratio,
        CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) /
          nullif(length(text), 0) AS digit_ratio,
        len(string_split_regex(trim(text), '\s+')) +
          CAST(length(regexp_replace(text, '[^0-9.,;:!?]', '', 'g')) AS INT)
          AS n_subwords
      FROM documents ORDER BY doc_id""",

    "q_lang_id" -> raw"""
      WITH w AS (SELECT doc_id,
          string_split_regex(lower(text), '\s+') AS ws FROM documents),
      sc AS (SELECT doc_id,
        len(list_filter(ws, x -> x IN ('the','and','of','to','in','is','for','with'))) AS en,
        len(list_filter(ws, x -> x IN ('der','die','das','und','ist','nicht','mit','ein'))) AS de,
        len(list_filter(ws, x -> x IN ('le','la','les','et','est','pour','dans','une'))) AS fr,
        len(list_filter(ws, x -> x IN ('el','la','los','que','y','es','para','con'))) AS es
        FROM w)
      SELECT doc_id,
        CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
             WHEN en = greatest(en, de, fr, es) THEN 'en'
             WHEN de = greatest(en, de, fr, es) THEN 'de'
             WHEN fr = greatest(en, de, fr, es) THEN 'fr'
             ELSE 'es' END AS lang_pred
      FROM sc ORDER BY doc_id""",

    "q_dedup_embedding" -> """
      WITH e AS (SELECT * FROM embeddings WHERE vec_id < 200)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_sum(list_transform(range(1, 65),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(a.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(b.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      FROM e a, e b WHERE a.vec_id < b.vec_id
        AND list_sum(list_transform(range(1, 65),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(a.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(b.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.3
      ORDER BY id_a, id_b""",

    "q_hard_negatives" -> """
      WITH e AS (SELECT * FROM embeddings WHERE vec_id < 200),
      p AS (SELECT a.vec_id AS anchor, b.vec_id AS cand,
          list_sum(list_transform(range(1, 65),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(a.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(b.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        FROM e a, e b WHERE a.vec_id <> b.vec_id),
      f AS (SELECT *, row_number() OVER (PARTITION BY anchor
          ORDER BY sim DESC, cand ASC) AS rn
        FROM p WHERE sim >= 0.15 AND sim < 0.5)
      SELECT anchor, cand AS negative, sim
      FROM f WHERE rn <= 5
      ORDER BY anchor, sim DESC, negative""",

    "q_knn_cosine" -> """
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id,
        list_sum(list_transform(range(1, 65),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(qv,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      FROM embeddings, q
      ORDER BY sim DESC, vec_id ASC LIMIT 20""",

    // re-derives the int8 codes in SQL (the quantization rule is
    // engine-portable by design: doubles through maxabs/127 scale,
    // explicit half-up floor, [-128,127] saturation), then integer
    // dot/norms — exact integer sums, one IEEE double division at the
    // end, so the sims hash-match bit-for-bit
    "q_knn_cosine_int8" -> """
      WITH quant AS (
        SELECT vec_id,
          CASE WHEN mx > 0 THEN list_transform(embedding, x ->
              CAST(greatest(-128.0, least(127.0,
                floor(CAST(x AS DOUBLE) / (mx / 127.0) + 0.5))) AS BIGINT))
            ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
        FROM (SELECT vec_id, embedding,
                list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) AS mx
              FROM embeddings)),
      qv AS (SELECT q AS qq FROM quant WHERE vec_id = 0)
      SELECT vec_id,
        CASE WHEN na = 0 OR nb = 0 THEN 0.0
             ELSE CAST(dp AS DOUBLE)
               / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        END AS sim
      FROM (
        SELECT vec_id,
          list_sum(list_transform(range(1, 65), i -> q[i] * qq[i])) AS dp,
          list_sum(list_transform(q, x -> x * x)) AS na,
          list_sum(list_transform(qq, x -> x * x)) AS nb
        FROM quant, qv)
      ORDER BY sim DESC, vec_id ASC LIMIT 20""",

    // probing every sign-LSH bucket makes the index exhaustive — the
    // oracle is the same brute-force cosine top-k as q_knn_cosine
    "q_ann_lsh_exact" -> """
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id,
        list_sum(list_transform(range(1, 65),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(qv,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      FROM embeddings, q
      ORDER BY sim DESC, vec_id ASC LIMIT 20""",

    // probing every cell makes IVF exhaustive — the oracle is the same
    // brute-force cosine top-k as q_knn_cosine
    "q_ann_ivf_exact" -> """
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id,
        list_sum(list_transform(range(1, 65),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(qv,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      FROM embeddings, q
      ORDER BY sim DESC, vec_id ASC LIMIT 20""",

    "q_ann_ivfpq_exact" -> """
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id,
        list_sum(list_transform(range(1, 65),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(qv,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      FROM embeddings, q
      ORDER BY sim DESC, vec_id ASC LIMIT 20""",

    "q_ann_ivf_incremental" -> """
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
      SELECT vec_id,
        list_sum(list_transform(range(1, 65),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(qv,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      FROM embeddings, q
      ORDER BY sim DESC, vec_id ASC LIMIT 15""",

    "q_curation_pipeline" -> raw"""
      WITH scored AS (
        SELECT doc_id, text,
          len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
          CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
            w -> w IN ('the','and','of','to','in','is','for','with')))
            AS DOUBLE) /
            len(string_split_regex(lower(trim(text)), '\s+')) AS stop_ratio,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        FROM documents),
      langed AS (
        SELECT s.*, CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
               WHEN en = greatest(en, de, fr, es) THEN 'en'
               WHEN de = greatest(en, de, fr, es) THEN 'de'
               WHEN fr = greatest(en, de, fr, es) THEN 'fr'
               ELSE 'es' END AS lang_pred
        FROM (SELECT doc_id,
          len(list_filter(string_split_regex(lower(text), '\s+'), x -> x IN ('the','and','of','to','in','is','for','with'))) AS en,
          len(list_filter(string_split_regex(lower(text), '\s+'), x -> x IN ('der','die','das','und','ist','nicht','mit','ein'))) AS de,
          len(list_filter(string_split_regex(lower(text), '\s+'), x -> x IN ('le','la','les','et','est','pour','dans','une'))) AS fr,
          len(list_filter(string_split_regex(lower(text), '\s+'), x -> x IN ('el','la','los','que','y','es','para','con'))) AS es
          FROM documents) l JOIN scored s USING (doc_id)),
      filtered AS (
        SELECT doc_id, n_tok, stop_ratio, fp,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM langed
        WHERE n_tok >= 20 AND stop_ratio >= 0.05 AND lang_pred = 'en')
      SELECT doc_id, n_tok, stop_ratio, fp FROM filtered WHERE rn = 1
      ORDER BY doc_id""",

    "q_dedup_cluster" -> s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id AS id, $SHING AS s
        FROM documents WHERE doc_id < 300),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM sh a, sh b WHERE a.id < b.id
          AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src)
      SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
      ORDER BY id""",

    "q_dedup_canonical" -> s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id AS id, $SHING AS s
        FROM documents WHERE doc_id < 300),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM sh a, sh b WHERE a.id < b.id
          AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src),
      clusters AS (
        SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      scored AS (
        SELECT doc_id AS id,
          len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
        FROM documents WHERE doc_id < 300),
      ranked AS (
        SELECT c.cluster_id, c.id, s.n_tok,
          row_number() OVER (PARTITION BY c.cluster_id
            ORDER BY s.n_tok DESC, c.id) AS rn
        FROM clusters c JOIN scored s USING (id))
      SELECT cluster_id, id AS keep_id, n_tok FROM ranked WHERE rn = 1
      ORDER BY cluster_id""",

    "q_pii_scrub" -> raw"""
      WITH t AS (SELECT c_custkey,
        c_name || ' at user' || CAST(c_custkey AS VARCHAR) ||
        '@example.com or +1-555-' ||
        lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
        ' see https://ex.com/c/' || CAST(c_custkey AS VARCHAR) ||
        ' from 10.0.0.' || CAST(c_custkey % 250 AS VARCHAR) AS raw
        FROM customer)
      SELECT c_custkey,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          'https?://[^\s]+', '<URL>', 'g'),
          '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
          '\+\d[\d\-() ]{6,}\d', '<PHONE>', 'g') AS clean,
        len(regexp_extract_all(raw,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        len(regexp_extract_all(raw, 'https?://[^\s]+')) AS n_url,
        len(regexp_extract_all(raw, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ip,
        len(regexp_extract_all(raw, '\+\d[\d\-() ]{6,}\d')) AS n_phone
      FROM t ORDER BY c_custkey""",

    "q_term_freq" -> raw"""
      SELECT term, count(*) AS tf, count(DISTINCT doc) AS df
      FROM (SELECT doc_id AS doc,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents)
      GROUP BY term ORDER BY tf DESC, term LIMIT 100""",

    // exact regime (capacity >> vocabulary): the sketch result equals
    // the exact top-20 with zero error
    "q_top_terms_sketch" -> raw"""
      SELECT term, count(*) AS cnt, CAST(0 AS BIGINT) AS err
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
              AS term FROM documents)
      GROUP BY term ORDER BY cnt DESC, term LIMIT 20""",

    "q_tfidf_terms" -> raw"""
      WITH t AS (SELECT doc_id AS doc,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc, term, count(*) AS tf FROM t GROUP BY 1, 2),
      dfreq AS (SELECT term, count(DISTINCT doc) AS df FROM t GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents
            WHERE text IS NOT NULL),
      s AS (SELECT tf.doc, tf.term,
          round(tf.tf * ln(CAST(n_docs AS DOUBLE) / dfreq.df), 8) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc
              ORDER BY tfidf DESC, term) AS rn FROM s)
      SELECT doc, term, tfidf FROM r WHERE rn <= 3
      ORDER BY doc, term""",

    "q_bm25_topk" -> raw"""
      WITH tok AS (
        SELECT doc_id AS doc,
          len(string_split_regex(lower(trim(text)), '\s+')) AS dl,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents WHERE text IS NOT NULL),
      lens AS (
        SELECT sum(len(string_split_regex(lower(trim(text)), '\s+')))
            AS total_dl,
          count(text) AS n_docs
        FROM documents WHERE text IS NOT NULL),
      tf AS (
        SELECT doc, term, max(dl) AS dl, count(*) AS tf FROM tok
        WHERE term IN ('customer', 'vector', 'slow', 'merge')
        GROUP BY doc, term),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      s AS (
        SELECT doc,
          sum(CAST(round(
            ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
            * (tf * 2.2)
            / (tf + 1.2 * (1.0 - 0.75
                + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs)))
            * 1e8) AS BIGINT)) AS ssum
        FROM tf JOIN dfreq USING (term) CROSS JOIN lens
        GROUP BY doc)
      SELECT doc, CAST(ssum AS DOUBLE) / 1e8 AS bm25 FROM s
      ORDER BY bm25 DESC, doc LIMIT 10""",

    "q_hybrid_topk" -> raw"""
      WITH tok AS (
        SELECT doc_id AS doc,
          len(string_split_regex(lower(trim(text)), '\s+')) AS dl,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents WHERE text IS NOT NULL),
      lens AS (
        SELECT sum(len(string_split_regex(lower(trim(text)), '\s+')))
            AS total_dl,
          count(text) AS n_docs
        FROM documents WHERE text IS NOT NULL),
      tf AS (
        SELECT doc, term, max(dl) AS dl, count(*) AS tf FROM tok
        WHERE term IN ('customer', 'vector', 'slow', 'merge')
        GROUP BY doc, term),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      bm AS (
        SELECT doc,
          sum(CAST(round(
            ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
            * (tf * 2.2)
            / (tf + 1.2 * (1.0 - 0.75
                + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs)))
            * 1e8) AS BIGINT)) AS ssum
        FROM tf JOIN dfreq USING (term) CROSS JOIN lens
        GROUP BY doc),
      sparse AS (
        SELECT doc, row_number() OVER (ORDER BY score DESC, doc) AS r_sparse
        FROM (SELECT doc, CAST(ssum AS DOUBLE) / 1e8 AS score FROM bm
          ORDER BY score DESC, doc LIMIT 50)),
      qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      cos AS (
        SELECT vec_id AS doc,
          list_sum(list_transform(range(1, 65),
            i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(qv,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        FROM embeddings, qv
        ORDER BY sim DESC, vec_id ASC LIMIT 50),
      dense AS (
        SELECT doc, row_number() OVER (ORDER BY sim DESC, doc) AS r_dense
        FROM cos)
      SELECT COALESCE(sparse.doc, dense.doc) AS doc,
        COALESCE(1.0 / (60 + r_sparse), 0.0)
          + COALESCE(1.0 / (60 + r_dense), 0.0) AS rrf
      FROM sparse FULL JOIN dense ON sparse.doc = dense.doc
      ORDER BY rrf DESC, doc LIMIT 15""",

    "q_embed_quantize" -> """
      WITH t AS (SELECT vec_id, embedding,
        -- coalesce: list_max of an EMPTY list is NULL in DuckDB, while
        -- the engine's one-pass maxabs yields 0.0 → align on 0.0
        coalesce(list_max(list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE)))), 0) / 127 AS scale
        FROM embeddings)
      SELECT vec_id AS id, scale,
        CASE WHEN scale > 0 THEN
          array_to_string(list_transform(embedding, x ->
            lpad(upper(to_hex((CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
              AS INT) + 256) % 256)), 2, '0')), '')
        ELSE repeat('00', len(embedding)) END AS q_hex
      FROM t ORDER BY id""",

    "q_repetition" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      base AS (SELECT doc, ws,
          len(list_distinct(list_transform(range(1, len(ws)),
            i -> ws[i] || ' ' || ws[i+1]))) AS n2d
        FROM w),
      tok AS (SELECT doc, n2d, unnest(ws) AS word FROM base),
      hist AS (SELECT doc, word, count(*) AS cnt, max(n2d) AS n2d
        FROM tok GROUP BY 1, 2),
      agg AS (SELECT doc, CAST(sum(cnt) AS BIGINT) AS n_tok,
          count(*) AS n_distinct, max(cnt) AS top_cnt, max(n2d) AS n2d
        FROM hist GROUP BY 1)
      SELECT doc, n_tok,
        round(1.0 - CAST(n_distinct AS DOUBLE) / n_tok, 8) AS dup_word_frac,
        round(CAST(top_cnt AS DOUBLE) / n_tok, 8) AS top_word_frac,
        CASE WHEN n_tok > 1
          THEN round(1.0 - CAST(n2d AS DOUBLE) / (n_tok - 1), 8)
          ELSE 0.0 END AS dup_2gram_frac
      FROM agg ORDER BY doc""",

    "q_contamination" -> raw"""
      WITH w AS (SELECT doc_id, source,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      g AS (SELECT doc_id, source,
          unnest(list_distinct(list_transform(range(1, len(ws) - 2),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                 ws[i+3]))) AS g
        FROM w),
      bench AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
      cand AS (SELECT c.doc_id AS doc, count(*) AS n_grams,
          CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hit
        FROM (SELECT * FROM g WHERE source <> 'src0') c
        LEFT JOIN bench b USING (g)
        GROUP BY 1)
      SELECT doc, n_grams, n_hit,
        round(CAST(n_hit AS DOUBLE) / n_grams, 8) AS overlap_frac,
        CASE WHEN CAST(n_hit AS DOUBLE) / n_grams >= 0.5 THEN 1 ELSE 0 END
          AS contaminated
      FROM cand WHERE n_hit > 0 ORDER BY doc""",

    "q_epoch_shuffle" -> """
      WITH k AS (SELECT doc_id,
        ((doc_id + 3000009) * 2654435761) % 4294967296 AS shuffle_key
        FROM documents)
      SELECT doc_id, CAST(shuffle_key AS BIGINT) AS shuffle_key,
        CAST(floor(shuffle_key / 536870912.0) AS BIGINT) AS shard
      FROM k
      ORDER BY shard, shuffle_key, doc_id""",

    "q_train_split" -> """
      WITH t AS (SELECT lang,
        CASE WHEN (doc_id * 2654435761) % 4294967296 / 4294967296.0 < 0.8
               THEN 'train'
             WHEN (doc_id * 2654435761) % 4294967296 / 4294967296.0 < 0.9
               THEN 'val'
             ELSE 'test' END AS split
        FROM documents)
      SELECT split, lang, count(*) AS n FROM t
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_ivm_refresh" -> """
      WITH final AS (
        SELECT doc_id, source,
          CASE WHEN doc_id < 40 THEN n_chars + 7 ELSE n_chars END
            AS n_chars
        FROM documents WHERE doc_id < 380)
      SELECT source, count(*) AS cnt,
        CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
        min(n_chars) AS min_n_chars,
        max(n_chars) AS max_n_chars
      FROM final WHERE source <> 'src1'
      GROUP BY source ORDER BY source""",

    "q_ivm_bucketed" -> """
      WITH final AS (
        SELECT doc_id, source,
          CASE WHEN doc_id < 30 THEN n_chars + 11 ELSE n_chars END
            AS n_chars
        FROM documents WHERE doc_id < 330)
      SELECT source, count(*) AS cnt,
        CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
        min(n_chars) AS min_n_chars,
        max(n_chars) AS max_n_chars
      FROM final WHERE source <> 'src2'
      GROUP BY source ORDER BY source""",

    "q_ivm_star" -> """
      WITH final AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 100 = 1
            THEN CAST(o_totalprice AS DECIMAL(18,2)) + 55
            ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
        FROM orders WHERE o_orderkey % 8 < 3 AND o_custkey % 5 <> 2)
      SELECT c.c_mktsegment AS segment, count(*) AS cnt,
        CAST(sum(f.price) AS DOUBLE) AS sum_price,
        CAST(min(f.price) AS DOUBLE) AS min_price,
        CAST(max(f.price) AS DOUBLE) AS max_price
      FROM final f LEFT JOIN customer c ON f.o_custkey = c.c_custkey
      GROUP BY 1 ORDER BY 1""",

    "q_ivm_star_scd" -> """
      WITH final AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % 16 < 2 AND o_custkey % 7 <> 3)
      SELECT c.c_mktsegment AS segment, count(*) AS cnt,
        CAST(sum(f.price) AS DOUBLE) AS sum_price,
        CAST(min(f.price) AS DOUBLE) AS min_price,
        CAST(max(f.price) AS DOUBLE) AS max_price
      FROM final f LEFT JOIN customer c ON f.o_custkey = c.c_custkey
      GROUP BY 1 ORDER BY 1""",

    "q_mv_rewrite" -> """
      SELECT source,
        CAST(sum(n_chars * 1000000000000 + doc_id) AS BIGINT) AS sum_big,
        count(n_chars) AS cnt_chars,
        avg(n_chars) AS avg_chars,
        CAST(min(n_chars * 1000000000000 + doc_id) AS BIGINT) AS min_big,
        CAST(max(n_chars * 1000000000000 + doc_id) AS BIGINT) AS max_big,
        count(*) AS n
      FROM documents GROUP BY source ORDER BY source""",

    "q_mv_rewrite_star" -> """
      SELECT c.c_mktsegment AS segment, count(*) AS cnt,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price,
        CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS min_price,
        CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS max_price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1 ORDER BY 1""",

    "q_ivm_star_multi" -> """
      WITH final AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 50 = 30
            THEN CAST(o_totalprice AS DECIMAL(18,2)) + 19
            ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
        FROM orders
        WHERE o_orderkey % 16 >= 14 AND o_custkey % 6 <> 1)
      SELECT c.c_mktsegment AS segment, n.n_name AS nation_name,
        count(*) AS cnt,
        CAST(sum(f.price) AS DOUBLE) AS sum_price,
        CAST(min(f.price) AS DOUBLE) AS min_price,
        CAST(max(f.price) AS DOUBLE) AS max_price
      FROM final f
      LEFT JOIN customer c ON f.o_custkey = c.c_custkey
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_mv_rewrite_sql" -> """
      SELECT source, count(*) AS cnt,
        CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
        min(n_chars) AS min_n_chars,
        max(n_chars) AS max_n_chars,
        avg(n_chars) AS avg_n_chars
      FROM documents GROUP BY source ORDER BY source""",

    "q_mv_rewrite_star_filtered" -> """
      SELECT c.c_mktsegment AS segment, count(*) AS cnt,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price,
        CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS min_price,
        CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS max_price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1""",

    "q_mv_rewrite_star_sql" -> """
      WITH final AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % 16 IN (4, 5))
      SELECT c.c_mktsegment AS segment, count(*) AS cnt,
        CAST(sum(f.price) AS DOUBLE) AS sum_price,
        CAST(min(f.price) AS DOUBLE) AS min_price,
        CAST(max(f.price) AS DOUBLE) AS max_price
      FROM final f JOIN customer c ON f.o_custkey = c.c_custkey
      GROUP BY 1 ORDER BY 1""",

    "q_mv_rewrite_rollup" -> """
      SELECT
        CAST(sum(n_chars * 1000000000000 + doc_id) AS BIGINT) AS sum_big,
        count(n_chars) AS cnt_chars,
        avg(n_chars) AS avg_chars,
        CAST(min(n_chars * 1000000000000 + doc_id) AS BIGINT) AS min_big,
        CAST(max(n_chars * 1000000000000 + doc_id) AS BIGINT) AS max_big,
        count(*) AS n
      FROM documents""",

    "q_overlap_sketch_exact" -> """
      WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
           n AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
           i AS (SELECT a.event_type AS sa, b.event_type AS sb,
                        count(*) AS ni
                 FROM d a JOIN d b ON a.user_id = b.user_id
                   AND a.event_type < b.event_type
                 GROUP BY 1, 2)
      SELECT na.event_type AS source_a, nb.event_type AS source_b,
        CAST(na.n AS DOUBLE) AS n_a, CAST(nb.n AS DOUBLE) AS n_b,
        CAST(COALESCE(i.ni, 0) AS DOUBLE) AS n_shared_est,
        CAST(COALESCE(i.ni, 0) AS DOUBLE)
          / (na.n + nb.n - COALESCE(i.ni, 0)) AS jaccard_est
      FROM n na JOIN n nb ON na.event_type < nb.event_type
      LEFT JOIN i ON i.sa = na.event_type AND i.sb = nb.event_type
      ORDER BY source_a, source_b""",

    "q_retention_sketch_exact" -> """
      WITH d AS (SELECT DISTINCT date_trunc('week', ts) AS period,
                        user_id
                 FROM events WHERE user_id IS NOT NULL),
           n AS (SELECT period, count(*) AS n FROM d GROUP BY 1),
           p AS (SELECT a.period AS period,
                        CAST(date_diff('day', a.period, b.period) / 7
                          AS INT) AS lag,
                        a.n AS n_act
                 FROM n a JOIN n b ON b.period > a.period
                 WHERE date_diff('day', a.period, b.period) / 7
                   BETWEEN 1 AND 4),
           r AS (SELECT a.period AS period,
                        CAST(date_diff('day', a.period, b.period) / 7
                          AS INT) AS lag,
                        count(*) AS ret
                 FROM d a JOIN d b ON a.user_id = b.user_id
                   AND b.period > a.period
                 GROUP BY 1, 2)
      SELECT p.period AS period, p.lag AS lag,
        CAST(p.n_act AS DOUBLE) AS n_active,
        CAST(COALESCE(r.ret, 0) AS DOUBLE) AS n_returned,
        round(CAST(COALESCE(r.ret, 0) AS DOUBLE) / p.n_act, 8)
          AS return_rate
      FROM p LEFT JOIN r ON r.period = p.period AND r.lag = p.lag
      ORDER BY p.period, p.lag""",

    "q_ivm_timegrain" -> """
      WITH final AS (
        SELECT event_id, event_type,
          CASE WHEN event_id % 7 = 0 THEN ts + INTERVAL 1 DAY
               ELSE ts END AS ts,
          user_id
        FROM events)
      SELECT event_type, date_trunc('day', ts) AS day,
        count(*) AS cnt,
        CAST(sum(user_id) AS BIGINT) AS sum_user_id,
        min(user_id) AS min_user_id,
        max(user_id) AS max_user_id
      FROM final WHERE event_type <> 'click'
      GROUP BY 1, 2 ORDER BY event_type, day""",

    "q_ivm_sketch" -> """
      SELECT event_type, count(*) AS cnt,
        count(DISTINCT user_id) AS distinct_users
      FROM events WHERE event_type <> 'purchase'
      GROUP BY event_type ORDER BY event_type""",

    "q_ivm_topk" -> """
      SELECT event_type, CAST(user_id AS VARCHAR) AS term,
        count(*) AS occurrences
      FROM (SELECT CASE WHEN event_id % 7 = 0 THEN 'moved'
                        ELSE event_type END AS event_type, user_id
            FROM events)
      WHERE event_type <> 'purchase' AND user_id IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_ivm_join" -> """
      WITH base AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty0
        FROM lineitem WHERE l_orderkey % 32 < 3
        GROUP BY 1, 2),
      l AS (
        SELECT okey,
          CASE WHEN okey % 100 = 1 THEN qty0 + 7 ELSE qty0 END AS qty
        FROM base WHERE okey % 10 <> 3),
      o AS (
        SELECT o_orderkey AS okey,
          CASE WHEN o_orderkey % 50 = 1 THEN 'MOVED'
               ELSE o_orderpriority END AS priority
        FROM orders WHERE o_orderkey % 32 < 3)
      SELECT priority, count(*) AS cnt,
        CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM l JOIN o USING (okey)
      GROUP BY 1 ORDER BY 1""",

    "q_ivm_join_left" -> """
      WITH base AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty0
        FROM lineitem WHERE l_orderkey % 32 < 3
        GROUP BY 1, 2),
      l AS (
        SELECT okey,
          CASE WHEN okey % 100 = 1 THEN qty0 + 7 ELSE qty0 END AS qty
        FROM base WHERE okey % 10 <> 3),
      o AS (
        SELECT o_orderkey AS okey, o_orderpriority AS priority
        FROM orders
        WHERE o_orderkey % 32 < 3 AND o_orderkey % 20 <> 5)
      SELECT priority, count(*) AS cnt,
        CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM l LEFT JOIN o USING (okey)
      GROUP BY 1 ORDER BY 1""",

    "q_ivm_join_full" -> """
      WITH base AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty0
        FROM lineitem WHERE l_orderkey % 32 < 3
        GROUP BY 1, 2),
      l AS (
        SELECT okey,
          CASE WHEN okey % 100 = 1 THEN qty0 + 7 ELSE qty0 END AS qty
        FROM base WHERE okey % 10 <> 3),
      o AS (
        SELECT o_orderkey AS okey, o_orderpriority AS priority
        FROM orders
        WHERE o_orderkey % 32 < 4 AND o_orderkey % 20 <> 5)
      SELECT priority, count(*) AS cnt,
        CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM l FULL JOIN o USING (okey)
      GROUP BY 1 ORDER BY 1""",

    "q_ivm_full_chain" -> """
      WITH base AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          CAST(max(l_partkey) AS BIGINT) AS pkey,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty0
        FROM lineitem WHERE l_orderkey % 32 < 3
        GROUP BY 1, 2),
      l AS (
        SELECT okey, pkey,
          CASE WHEN okey % 100 = 1 THEN qty0 + 7 ELSE qty0 END AS qty
        FROM base WHERE okey % 10 <> 3),
      o AS (
        SELECT o_orderkey AS okey, o_orderpriority AS priority
        FROM orders
        WHERE o_orderkey % 32 < 4 AND o_orderkey % 20 <> 5),
      p AS (
        SELECT CAST(p_partkey AS BIGINT) AS pkey, p_brand AS brand
        FROM part WHERE p_partkey % 50 <> 7)
      SELECT priority, brand, count(*) AS cnt,
        CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM l FULL JOIN o USING (okey) FULL JOIN p USING (pkey)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_mv_rewrite_full" -> """
      WITH f AS (
        SELECT o_orderkey AS okey, o_custkey AS ckey,
          o_orderkey % 97 AS m
        FROM orders WHERE o_orderkey % 16 = 7),
      c AS (
        SELECT c_custkey AS ckey, c_mktsegment AS seg
        FROM customer WHERE c_custkey % 3 <> 1)
      SELECT seg, count(*) AS cnt, CAST(sum(m) AS BIGINT) AS sum_m,
        min(m) AS min_m, max(m) AS max_m
      FROM f FULL JOIN c USING (ckey)
      GROUP BY 1 ORDER BY 1""",

    "q_mv_ddl_sql" -> """
      WITH base AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty0
        FROM lineitem WHERE l_orderkey % 16 = 9
        GROUP BY 1, 2),
      l AS (
        SELECT okey,
          CASE WHEN okey % 100 = 9 THEN qty0 + 3 ELSE qty0 END AS qty
        FROM base WHERE okey % 10 <> 5),
      o AS (
        SELECT o_orderkey AS okey, o_orderpriority AS priority
        FROM orders
        WHERE o_orderkey % 16 = 9
          AND (o_orderkey % 32 = 9 OR o_orderkey % 32 = 25))
      SELECT priority, count(*) AS cnt,
        CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM l JOIN o USING (okey)
      GROUP BY 1 ORDER BY 1""",

    "q_mv_compact_sql" -> """
      WITH f AS (
        SELECT o_orderkey AS okey, o_custkey AS ckey,
          CASE WHEN o_orderkey % 10 = 7 THEN o_orderkey % 97 + 50
               WHEN o_orderkey % 10 = 1 THEN o_orderkey % 97 + 9
               ELSE o_orderkey % 97 END AS m
        FROM orders
        WHERE o_orderkey % 16 = 3 AND o_orderkey % 20 <> 13),
      c AS (SELECT c_custkey AS ckey, c_mktsegment AS seg
            FROM customer)
      SELECT seg, count(*) AS cnt, CAST(sum(m) AS BIGINT) AS sum_m,
        min(m) AS min_m, max(m) AS max_m
      FROM f JOIN c USING (ckey)
      GROUP BY 1 ORDER BY 1""",

    "q_mv_ddl_filtered_join" -> """
      WITH f AS (
        SELECT o_orderkey AS okey, o_custkey AS ckey,
          CASE WHEN o_orderkey % 100 = 5
               THEN o_orderkey % 97 + 50
               ELSE o_orderkey % 97 END AS m
        FROM orders
        WHERE o_orderkey % 16 = 5 AND o_orderkey % 20 <> 9),
      c AS (SELECT c_custkey AS ckey, c_mktsegment AS seg
            FROM customer)
      SELECT seg, count(*) AS cnt, CAST(sum(m) AS BIGINT) AS sum_m,
        min(m) AS min_m, max(m) AS max_m
      FROM f JOIN c USING (ckey) WHERE m > 40
      GROUP BY 1 ORDER BY 1""",

    "q_mv_ddl_sketch" -> """
      WITH f AS (
        SELECT o_orderkey AS okey, o_orderpriority AS priority,
          o_custkey AS ckey
        FROM orders WHERE o_orderkey % 8 = 1)
      SELECT priority, count(*) AS cnt,
        count(DISTINCT ckey) AS distinct_ckey
      FROM f GROUP BY 1 ORDER BY 1""",

    "q_mv_ddl_filtered" -> """
      WITH f AS (
        SELECT o_orderkey AS okey, o_orderpriority AS seg,
          CASE WHEN o_orderkey % 100 = 13
               THEN o_orderkey % 97 + 50
               ELSE o_orderkey % 97 END AS m
        FROM orders
        WHERE o_orderkey % 16 = 13 AND o_orderkey % 10 <> 3)
      SELECT seg, count(*) AS cnt, CAST(sum(m) AS BIGINT) AS sum_m,
        min(m) AS min_m, max(m) AS max_m
      FROM f WHERE m > 40 GROUP BY 1 ORDER BY 1""",

    "q_ivm_snowflake" -> """
      WITH f AS (
        SELECT o_orderkey AS okey, o_custkey AS ckey,
          o_orderkey % 97 AS m
        FROM orders
        WHERE o_orderkey % 16 = 3 AND o_orderkey % 10 <> 4),
      c AS (
        SELECT c_custkey AS ckey,
          CASE WHEN c_custkey % 30 = 2 THEN (c_nationkey + 1) % 25
               ELSE c_nationkey END AS nkey
        FROM customer),
      n AS (
        SELECT n_nationkey AS nkey,
          CASE WHEN n_nationkey % 5 = 0 THEN n_name || '_X'
               ELSE n_name END AS nname
        FROM nation)
      SELECT nname, count(*) AS cnt, CAST(sum(m) AS BIGINT) AS sum_m,
        min(m) AS min_m, max(m) AS max_m
      FROM f JOIN c USING (ckey) JOIN n USING (nkey)
      GROUP BY 1 ORDER BY 1""",

    "q_mv_rewrite_snowflake" -> """
      WITH f AS (
        SELECT o_orderkey AS okey, o_custkey AS ckey,
          o_orderkey % 97 AS m
        FROM orders WHERE o_orderkey % 16 = 11),
      c AS (SELECT c_custkey AS ckey, c_nationkey AS nkey
            FROM customer),
      n AS (SELECT n_nationkey AS nkey, n_name AS nname FROM nation)
      SELECT nname, count(*) AS cnt, CAST(sum(m) AS BIGINT) AS sum_m,
        min(m) AS min_m, max(m) AS max_m
      FROM f JOIN c USING (ckey) JOIN n USING (nkey)
      GROUP BY 1 ORDER BY 1""",

    "q_mv_rewrite_sketch" -> """
      SELECT event_type, count(*) AS n,
        count(DISTINCT user_id) AS distinct_users
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q_mv_rewrite_chain" -> """
      WITH l AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem WHERE l_orderkey % 32 < 2
        GROUP BY 1, 2),
      o AS (
        SELECT o_orderkey AS okey, o_custkey AS ckey
        FROM orders WHERE o_orderkey % 32 < 2),
      c AS (SELECT c_custkey AS ckey, c_mktsegment AS seg
            FROM customer)
      SELECT seg, count(*) AS cnt,
        CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM o JOIN l USING (okey) JOIN c USING (ckey)
      GROUP BY 1 ORDER BY 1""",

    "q_ivm_join_timegrain" -> """
      WITH base AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem WHERE l_orderkey % 32 < 3
        GROUP BY 1, 2),
      l AS (SELECT okey, qty FROM base WHERE okey % 10 <> 1),
      o AS (
        SELECT o_orderkey AS okey, o_orderpriority AS priority,
          CASE WHEN o_orderkey % 50 = 4
               THEN o_orderdate + INTERVAL 45 DAY
               ELSE o_orderdate END AS odate
        FROM orders WHERE o_orderkey % 32 < 3)
      SELECT priority, date_trunc('month', odate) AS mon,
        count(*) AS cnt, CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM l JOIN o USING (okey)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_ivm_join_retention" -> """
      WITH base AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          CAST(max(l_shipdate) AS TIMESTAMP) AS odate,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty0
        FROM lineitem WHERE l_orderkey % 32 = 3
        GROUP BY 1, 2),
      -- roll 1 expired odate < 1994-01-01; the churn upsert then
      -- resurrected every okey % 100 = 3 PK with qty0 + 7; roll 2
      -- expired odate < 1996-01-01 over that snapshot — net survivors
      -- are the odate >= 1996-01-01 rows, churned where okey matches
      l AS (
        SELECT okey, odate,
          qty0 + CASE WHEN okey % 100 = 3 THEN 7 ELSE 0 END AS qty
        FROM base WHERE odate >= TIMESTAMP '1996-01-01 00:00:00'),
      o AS (
        SELECT o_orderkey AS okey, o_orderpriority AS priority
        FROM orders WHERE o_orderkey % 32 = 3)
      SELECT date_trunc('month', odate) AS mon, priority,
        count(*) AS cnt, CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM l JOIN o USING (okey)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_ivm_join_sketch" -> """
      WITH base AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          max(l_suppkey) AS skey,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem WHERE l_orderkey % 32 < 3
        GROUP BY 1, 2),
      l AS (SELECT okey, skey, qty FROM base WHERE okey % 10 <> 3),
      o AS (
        SELECT o_orderkey AS okey, o_orderpriority AS priority
        FROM orders WHERE o_orderkey % 32 < 3)
      SELECT priority, count(*) AS cnt,
        CAST(sum(qty) AS BIGINT) AS sum_qty,
        count(DISTINCT skey) AS distinct_suppliers
      FROM l JOIN o USING (okey)
      GROUP BY 1 ORDER BY 1""",

    "q_ivm_chain" -> """
      WITH l AS (
        SELECT okey,
          CASE WHEN okey % 100 = 2 THEN qty0 + 5 ELSE qty0 END AS qty
        FROM (SELECT l_orderkey AS okey, l_linenumber AS ln,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty0
              FROM lineitem WHERE l_orderkey % 32 < 3
              GROUP BY 1, 2)
        WHERE okey % 10 <> 7),
      o AS (
        SELECT o_orderkey AS okey, o_custkey AS ckey
        FROM orders WHERE o_orderkey % 32 < 3),
      c AS (
        SELECT c_custkey AS ckey,
          CASE WHEN c_custkey % 40 = 1 THEN 'MOVED'
               ELSE c_mktsegment END AS seg
        FROM customer)
      SELECT seg, count(*) AS cnt,
        CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM o JOIN l USING (okey) JOIN c USING (ckey)
      GROUP BY 1 ORDER BY 1""",

    "q_mv_rewrite_join" -> """
      WITH base AS (
        SELECT l_orderkey AS okey, l_linenumber AS ln,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem WHERE l_orderkey % 16 = 6
        GROUP BY 1, 2),
      o AS (
        SELECT o_orderkey AS okey, o_orderpriority AS priority
        FROM orders WHERE o_orderkey % 16 = 6)
      SELECT priority, count(*) AS cnt,
        CAST(sum(qty) AS BIGINT) AS sum_qty,
        min(qty) AS min_qty, max(qty) AS max_qty
      FROM base b JOIN o USING (okey)
      GROUP BY 1 ORDER BY 1""",

    "q_mv_rewrite_topk" -> """
      SELECT event_type, CAST(user_id AS VARCHAR) AS term,
        count(*) AS occurrences
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_mv_rewrite_timegrain" -> """
      SELECT date_trunc('month', ts) AS m, event_type,
        CAST(sum(user_id) AS BIGINT) AS sum_uid,
        count(event_id) AS cnt_eid,
        min(event_id) AS min_eid,
        max(event_id) AS max_eid,
        count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY m, event_type""",

    "q_mv_rewrite_timerange" -> """
      SELECT date_trunc('day', ts) AS d, event_type,
        CAST(sum(user_id) AS BIGINT) AS sum_uid,
        count(event_id) AS cnt_eid,
        min(event_id) AS min_eid,
        max(event_id) AS max_eid,
        count(*) AS n
      FROM events
      WHERE date_trunc('day', ts)
        BETWEEN TIMESTAMP '2024-01-08 00:00:00'
            AND TIMESTAMP '2024-01-21 00:00:00'
      GROUP BY 1, 2 ORDER BY d, event_type""",

    "q_split_leakage_safe" -> raw"""
      WITH f AS (SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        FROM documents),
      rep AS (SELECT fp, min(doc_id) AS cluster_id FROM f GROUP BY fp)
      SELECT doc_id AS id, cluster_id,
        CASE WHEN (cluster_id * 2654435761) % 4294967296 / 4294967296.0
               < 0.2
             THEN 'test' ELSE 'train' END AS split
      FROM f JOIN rep USING (fp) ORDER BY id""",

    "q_sample_stratified" -> """
      SELECT doc_id, lang FROM documents
      WHERE (doc_id * 2654435761) % 4294967296 / 4294967296.0 <
        CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                  WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.1
                  ELSE 0.05 END
      ORDER BY doc_id""",

    "q_doc_chunks" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(trim(text), '\s+') AS ws
        FROM documents WHERE len(trim(text)) > 0),
      c AS (SELECT doc, unnest(range(0, len(ws), 48)) AS chunk_start, ws
        FROM w)
      SELECT doc, CAST(chunk_start AS INT) AS chunk_start,
        CAST(len(ws[chunk_start + 1 : chunk_start + 64]) AS INT) AS n_tok,
        array_to_string(ws[chunk_start + 1 : chunk_start + 64], ' ')
          AS chunk
      FROM c WHERE chunk_start = 0 OR len(ws) > chunk_start + 16
      ORDER BY doc, chunk_start""",

    "q_mixture_sample" -> """
      WITH tot AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS t
        FROM documents GROUP BY 1
        HAVING CAST(sum(n_chars) AS BIGINT) > 0),
      r AS (SELECT source, least(CAST(1.0 AS DOUBLE), CAST(CASE source
          WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.2
          WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1
          ELSE 0.0 END AS DOUBLE) * 20000 / t) AS rate FROM tot)
      SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
      WHERE (doc_id * 2654435761) % 4294967296 / 4294967296.0 < rate
      ORDER BY doc_id""",

    "q_temperature_sample" -> """
      WITH tot AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS t
        FROM documents GROUP BY 1
        HAVING CAST(sum(n_chars) AS BIGINT) > 0),
      g AS (SELECT CAST(sum(t) AS DOUBLE) AS grand FROM tot),
      z AS (SELECT sum(pow(t / grand, 0.5)) AS zsum
        FROM tot CROSS JOIN g),
      r AS (SELECT source,
          round(least(CAST(1.0 AS DOUBLE),
            pow(t / grand, 0.5) / zsum * 20000 / t), 12) AS rate
        FROM tot CROSS JOIN g CROSS JOIN z)
      SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
      WHERE (doc_id * 2654435761) % 4294967296 / 4294967296.0 < rate
      ORDER BY doc_id""",

    "q_token_pack" -> raw"""
      WITH t AS (SELECT doc_id AS doc,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
            AS n_tok,
          (doc_id * 2654435761) % 4294967296 AS k
        FROM documents),
      c AS (SELECT doc, n_tok,
          CAST(coalesce(sum(n_tok) OVER (ORDER BY k, doc
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS "offset"
        FROM t)
      SELECT doc, n_tok, "offset",
        CAST(floor("offset" / 2048.0) AS BIGINT) AS bin
      FROM c ORDER BY "offset"""",

    "q_weighted_sample" -> """
      SELECT doc_id, n_chars, skey FROM (
        SELECT doc_id, n_chars,
          round(ln(((doc_id * 2654435761) % 4294967296 + 1)
              / 4294967296.0) / n_chars * 1000000, 6) AS skey
        FROM documents
        ORDER BY skey DESC, doc_id LIMIT 100)
      ORDER BY doc_id""",

    "q_weighted_sample_stratified" -> """
      WITH s AS (SELECT doc_id, source,
          round(ln(((doc_id * 2654435761) % 4294967296 + 1)
              / 4294967296.0) / n_chars * 1000000, 6) AS skey
        FROM documents),
      r AS (SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY skey DESC, doc_id) AS rn
        FROM s)
      SELECT doc_id, source AS stratum, skey FROM r WHERE rn <= 5
      ORDER BY doc_id""",

    "q_token_pack_split" -> raw"""
      WITH t AS (SELECT doc_id AS doc,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
            AS n_tok,
          (doc_id * 2654435761) % 4294967296 AS k
        FROM documents),
      c AS (SELECT doc, n_tok,
          CAST(coalesce(sum(n_tok) OVER (ORDER BY k, doc
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS "offset"
        FROM t WHERE n_tok > 0),
      b AS (SELECT doc, n_tok, "offset",
          unnest(range(CAST(floor("offset" / 2048.0) AS BIGINT),
            CAST(floor(("offset" + n_tok - 1) / 2048.0) AS BIGINT) + 1))
            AS bin
        FROM c)
      SELECT doc, bin,
        greatest("offset" - bin * 2048, 0) AS bin_offset,
        least((bin + 1) * 2048, "offset" + n_tok)
          - greatest(bin * 2048, "offset") AS piece_len,
        greatest(bin * 2048 - "offset", 0) AS doc_offset
      FROM b ORDER BY bin, bin_offset""",

    "q_skew_salted" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE)
               AS sum_qty
      FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q_unigram_logprob" -> raw"""
      WITH t AS (SELECT doc_id AS doc,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
      tf AS (SELECT term, count(*) AS tf FROM t GROUP BY 1),
      total AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf)
      SELECT doc, count(*) AS n_tok,
        CAST(sum(CAST(round(-ln(CAST(tf.tf AS DOUBLE) / total.total)
            * 100000000) AS BIGINT)) AS DOUBLE) / count(*) / 100000000.0
          AS avg_neg_logp
      FROM t JOIN tf USING (term) CROSS JOIN total
      GROUP BY doc ORDER BY doc""",

    "q_corpus_profile" -> """
      SELECT count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        count(DISTINCT lang) AS n_langs,
        count(DISTINCT source) AS n_sources,
        CAST(sum(CAST(n_chars AS DECIMAL(20,2))) / count(*) AS DOUBLE)
          AS avg_chars,
        min(n_chars) AS min_chars,
        max(n_chars) AS max_chars
      FROM documents""",

    "q_containment_pairs" -> raw"""
      WITH w AS (SELECT doc_id AS id,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents WHERE doc_id < 300),
      sh AS (SELECT id, list_distinct(list_transform(range(1, len(ws)),
          i -> ws[i] || ' ' || ws[i+1])) AS s
        FROM w WHERE len(ws) >= 2)
      SELECT a.id AS id_a, b.id AS id_b,
        round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 8)
          AS containment
      FROM sh a, sh b
      WHERE a.id <> b.id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.5
      ORDER BY id_a, id_b""",

    "q_word_entropy" -> raw"""
      WITH t AS (SELECT doc_id AS doc,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents),
      h AS (SELECT doc, word, count(*) AS cnt FROM t GROUP BY 1, 2)
      SELECT doc, CAST(sum(cnt) AS BIGINT) AS n_tok,
        round(log2(CAST(sum(cnt) AS DOUBLE)) -
          CAST(sum(CAST(round(cnt * log2(CAST(cnt AS DOUBLE))
              * 100000000) AS BIGINT)) AS DOUBLE) / 100000000.0 / sum(cnt),
          8) AS entropy
      FROM h GROUP BY doc ORDER BY doc""",

    "q_bigram_logprob" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      p AS (SELECT doc, ws[i] AS w1, ws[i + 1] AS w2
        FROM (SELECT doc, ws, unnest(range(1, len(ws))) AS i FROM w
              WHERE len(ws) >= 2)),
      t AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
          AS term FROM documents),
      big AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2),
      pre AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big
        GROUP BY 1),
      uni AS (SELECT term, count(*) AS c2 FROM t GROUP BY 1),
      total AS (SELECT CAST(sum(c2) AS BIGINT) AS n_total FROM uni)
      SELECT doc, count(*) AS n_big,
        CAST(sum(CAST(round(-ln(
            CAST(0.9 AS DOUBLE) * (CAST(c12 AS DOUBLE) / c1) +
            CAST(0.1 AS DOUBLE) * (CAST(c2 AS DOUBLE) / n_total))
          * 100000000) AS BIGINT)) AS DOUBLE) / count(*) / 100000000.0
          AS avg_neg_logp2
      FROM p JOIN big USING (w1, w2) JOIN pre USING (w1)
        JOIN uni ON p.w2 = uni.term CROSS JOIN total
      GROUP BY doc ORDER BY doc""",

    "q_phrase_filter" -> raw"""
      WITH m AS (SELECT doc_id AS doc,
          list_filter(['slow', 'hash', 'customer batch', 'vector line',
            'an slo', 'zebra stripe', 'qq'],
            p -> contains(lower(trim(text)), p)) AS phrases
        FROM documents)
      SELECT doc, COALESCE(array_to_string(phrases, ','), '') AS phrases,
        CAST(len(phrases) AS INT) AS n_matched,
        len(phrases) > 0 AS blocked
      FROM m ORDER BY doc""",

    "q_bm25_multiquery" -> raw"""
      WITH tok AS (
        SELECT doc_id AS doc,
          len(string_split_regex(lower(trim(text)), '\s+')) AS dl,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents WHERE text IS NOT NULL),
      lens AS (
        SELECT sum(len(string_split_regex(lower(trim(text)), '\s+')))
            AS total_dl,
          count(text) AS n_docs
        FROM documents WHERE text IS NOT NULL),
      q AS (SELECT * FROM (VALUES (1, 'slow'), (1, 'customer'),
          (2, 'batch'), (2, 'stream'), (3, 'hash'), (3, 'window'))
          AS v(qid, term)),
      tf AS (
        SELECT doc, term, max(dl) AS dl, count(*) AS tf FROM tok
        WHERE term IN (SELECT term FROM q)
        GROUP BY doc, term),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      s AS (
        SELECT qid, doc,
          sum(CAST(round(
            ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
            * (tf * 2.2)
            / (tf + 1.2 * (1.0 - 0.75
                + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs)))
            * 1e8) AS BIGINT)) AS ssum
        FROM tf JOIN q USING (term) JOIN dfreq USING (term)
          CROSS JOIN lens
        GROUP BY qid, doc),
      r AS (SELECT qid, doc, CAST(ssum AS DOUBLE) / 1e8 AS bm25,
          row_number() OVER (PARTITION BY qid
            ORDER BY ssum DESC, doc) AS rn
        FROM s)
      SELECT CAST(qid AS BIGINT) AS query_id, doc, bm25 FROM r
      WHERE rn <= 5 ORDER BY query_id, bm25 DESC, doc""",

    "q_fuzzy_name_pairs" -> """
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
      FROM customer a, customer b
      WHERE a.c_custkey <= 600 AND b.c_custkey <= 600
        AND a.c_custkey < b.c_custkey
        AND levenshtein(a.c_name, b.c_name) <= 1
      ORDER BY id_a, id_b""",

    "q_corpus_diff" -> """
      WITH o AS (SELECT doc_id, md5(text) AS fp FROM documents
        WHERE doc_id < 450),
      n AS (SELECT doc_id, md5(CASE WHEN doc_id % 10 = 0
          THEN text || ' v2' ELSE text END) AS fp
        FROM documents WHERE doc_id >= 50)
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.fp <> n.fp THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      ORDER BY doc_id""",

    "q_phrase_search" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      c AS (SELECT doc, CAST(len(list_filter(range(1, len(ws)),
          i -> ws[i] = 'customer' AND ws[i + 1] = 'batch')) AS INT)
          AS n_occurrences
        FROM w)
      SELECT doc, n_occurrences FROM c WHERE n_occurrences > 0
      ORDER BY doc""",

    "q_winnowing_overlap" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents WHERE doc_id < 300),
      g AS (SELECT doc, list_transform(range(1, len(ws) - 3),
          i -> substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 8)) AS fps
        FROM w WHERE len(ws) >= 8),
      win AS (SELECT doc, list_transform(range(1, len(fps) - 2),
          i -> list_min(fps[i:i+3])) AS mins FROM g),
      fp AS (SELECT DISTINCT doc, unnest(mins) AS fp FROM win)
      SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_shared
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc < b.doc
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_resample_ffill" -> """
      WITH e AS (SELECT * FROM events WHERE user_id < 12),
      b AS (SELECT user_id,
          CAST(floor(epoch(min(ts)) / 21600) * 21600 AS BIGINT) AS lo,
          CAST(floor(epoch(max(ts)) / 21600) * 21600 AS BIGINT) AS hi
        FROM e GROUP BY 1),
      s AS (SELECT user_id, make_timestamp(g * 1000000) AS grid_ts
        FROM b, LATERAL unnest(generate_series(lo, hi, 21600)) AS t(g))
      SELECT s.user_id, s.grid_ts, e.event_id, e.ts AS obs_ts,
        e.event_type, e.value, e.props
      FROM s ASOF LEFT JOIN e
        ON s.user_id = e.user_id AND s.grid_ts >= e.ts
      ORDER BY s.user_id, s.grid_ts""",

    "q_dau_mau" -> """
      WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        FROM events),
      dau AS (SELECT d AS day, count(*) AS dau FROM ud GROUP BY 1),
      win AS (SELECT u, d + CAST(i AS INT) AS day
        FROM ud, (SELECT unnest(range(0, 7)) AS i)),
      mau AS (SELECT day, count(DISTINCT u) AS mau FROM win GROUP BY 1)
      SELECT dau.day AS day, dau.dau, mau.mau,
        round(CAST(dau.dau AS DOUBLE) / mau.mau, 8) AS stickiness
      FROM dau JOIN mau ON dau.day = mau.day
      ORDER BY day""",

    "q_trigram_logprob" -> raw"""
      WITH w AS (SELECT doc_id AS doc,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      tp AS (SELECT doc, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
        FROM (SELECT doc, ws, unnest(range(1, len(ws) - 1)) AS i FROM w
              WHERE len(ws) >= 3)),
      p AS (SELECT ws[i] AS w2, ws[i + 1] AS w3
        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w
              WHERE len(ws) >= 2)),
      t AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
          AS term FROM documents),
      tri AS (SELECT w1, w2, w3, count(*) AS c123 FROM tp
        GROUP BY 1, 2, 3),
      pre12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12
        FROM tri GROUP BY 1, 2),
      big AS (SELECT w2, w3, count(*) AS c23 FROM p GROUP BY 1, 2),
      pre2 AS (SELECT w2, CAST(sum(c23) AS BIGINT) AS c2 FROM big
        GROUP BY 1),
      uni AS (SELECT term, count(*) AS c3 FROM t GROUP BY 1),
      total AS (SELECT CAST(sum(c3) AS BIGINT) AS n_total FROM uni)
      SELECT doc, count(*) AS n_tri,
        CAST(sum(CAST(round(-ln(
            CAST(0.7 AS DOUBLE) * (CAST(c123 AS DOUBLE) / c12) +
            CAST(0.2 AS DOUBLE) * (CAST(c23 AS DOUBLE) / c2) +
            CAST(0.1 AS DOUBLE) * (CAST(c3 AS DOUBLE) / n_total))
          * 100000000) AS BIGINT)) AS DOUBLE) / count(*) / 100000000.0
          AS avg_neg_logp3
      FROM tp JOIN tri USING (w1, w2, w3) JOIN pre12 USING (w1, w2)
        JOIN big USING (w2, w3) JOIN pre2 USING (w2)
        JOIN uni ON tp.w3 = uni.term CROSS JOIN total
      GROUP BY doc ORDER BY doc""",

    // mirrors TextCleanKernel.normalize rule order exactly: nfc →
    // zero-width strip → nbsp→space → control strip → [ \t]-run
    // collapse → space trim (chr: 160=NBSP 769=comb.acute 8203=ZWSP
    // 9=TAB 7=BEL)
    "q_text_normalize" -> raw"""
      WITH m AS (SELECT doc_id,
          '  ' || chr(160) || 'Cafe' || chr(769) || ' ' || chr(8203) ||
            text || chr(9) || chr(7) || chr(9) || 'Z' || chr(769) || '  '
            AS messy
        FROM documents),
      n AS (SELECT doc_id,
          trim(regexp_replace(
            regexp_replace(
              replace(
                regexp_replace(nfc_normalize(messy),
                  '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
                chr(160), ' '),
              '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]', '', 'g'),
            '[ \t]+', ' ', 'g')) AS clean
        FROM m)
      SELECT doc_id AS doc, clean, CAST(length(clean) AS INT) AS n_chars
      FROM n ORDER BY doc""",

    "q_c4_clean" -> raw"""
      WITH base AS (SELECT doc_id,
          regexp_replace(text, '((\w+ ){4}\w+) ',
            '\1.' || chr(10), 'g') || '.' || chr(10) || 'ok.' ||
            chr(10) || 'this line has five words.' ||
            CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
              'warning: this page needs JavaScript enabled.'
              ELSE '' END ||
            CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
              'see { lorem ipsum } for filler text.'
              ELSE '' END AS t2
        FROM documents),
      l AS (SELECT doc_id, t2,
          list_filter(list_transform(string_split(t2, chr(10)),
            x -> trim(x)), x -> len(x) > 0) AS ls
        FROM base),
      k AS (SELECT doc_id, t2, ls,
          list_filter(ls, x -> regexp_matches(x, '[.!?"\x{201D}]$$')
            AND len(list_filter(string_split_regex(x, '\s+'),
              w -> len(w) > 0)) >= 3
            AND NOT contains(lower(x), 'javascript')) AS kept
        FROM l),
      c AS (SELECT doc_id, t2, ls, kept,
          array_to_string(kept, chr(10)) AS clean_text FROM k)
      SELECT doc_id AS doc, clean_text,
        CAST(len(ls) AS INT) AS n_lines,
        CAST(len(kept) AS INT) AS n_kept,
        CAST(length(regexp_replace(clean_text, '[^.!?]', '', 'g')) AS INT)
          AS n_sentences,
        contains(lower(t2), 'lorem ipsum') AS has_lorem,
        (contains(t2, '{') OR contains(t2, '}')) AS has_brace,
        (length(regexp_replace(clean_text, '[^.!?]', '', 'g')) >= 5
          AND NOT contains(lower(t2), 'lorem ipsum')
          AND NOT (contains(t2, '{') OR contains(t2, '}'))) AS keep
      FROM c ORDER BY doc""",

    "q_gopher_repetition" -> raw"""
      WITH base AS (SELECT doc_id,
          replace(text, '. ', chr(10)) || chr(10) || chr(10) ||
            replace(text, '. ', chr(10)) AS t2
        FROM documents),
      b2 AS (SELECT doc_id, t2, lower(trim(t2)) AS lt FROM base),
      l1 AS (SELECT doc_id,
          trim(unnest(string_split(t2, chr(10)))) AS u FROM b2),
      lh AS (SELECT doc_id, u, count(*) AS cnt FROM l1
        WHERE len(u) > 0 GROUP BY 1, 2),
      la AS (SELECT doc_id, sum(cnt) AS n_lines,
          sum(cnt) - count(*) AS dup_lines,
          sum(len(u) * cnt) AS line_chars,
          sum(len(u) * cnt) - sum(len(u)) AS dup_line_chars
        FROM lh GROUP BY 1),
      p1 AS (SELECT doc_id,
          trim(unnest(string_split(t2, chr(10) || chr(10)))) AS u FROM b2),
      ph AS (SELECT doc_id, u, count(*) AS cnt FROM p1
        WHERE len(u) > 0 GROUP BY 1, 2),
      pa AS (SELECT doc_id, sum(cnt) AS n_paras,
          sum(cnt) - count(*) AS dup_paras,
          sum(len(u) * cnt) AS para_chars,
          sum(len(u) * cnt) - sum(len(u)) AS dup_para_chars
        FROM ph GROUP BY 1),
      w AS (SELECT doc_id, string_split_regex(lt, '\s+') AS ws,
          len(lt) AS dc FROM b2),
      h2 AS (SELECT doc_id, max(cnt * len(g)) AS topc FROM (
          SELECT doc_id, g, count(*) AS cnt FROM (SELECT doc_id,
            unnest(list_transform(range(1, len(ws)),
              i -> array_to_string(ws[i:i+1], ' '))) AS g FROM w)
          GROUP BY 1, 2) GROUP BY 1),
      h3 AS (SELECT doc_id, max(cnt * len(g)) AS topc FROM (
          SELECT doc_id, g, count(*) AS cnt FROM (SELECT doc_id,
            unnest(list_transform(range(1, len(ws) - 1),
              i -> array_to_string(ws[i:i+2], ' '))) AS g FROM w)
          GROUP BY 1, 2) GROUP BY 1),
      h4 AS (SELECT doc_id, max(cnt * len(g)) AS topc FROM (
          SELECT doc_id, g, count(*) AS cnt FROM (SELECT doc_id,
            unnest(list_transform(range(1, len(ws) - 2),
              i -> array_to_string(ws[i:i+3], ' '))) AS g FROM w)
          GROUP BY 1, 2) GROUP BY 1),
      h5 AS (SELECT doc_id,
          sum(CASE WHEN cnt > 1 THEN cnt * len(g) ELSE 0 END) AS dupc FROM (
          SELECT doc_id, g, count(*) AS cnt FROM (SELECT doc_id,
            unnest(list_transform(range(1, len(ws) - 3),
              i -> array_to_string(ws[i:i+4], ' '))) AS g FROM w)
          GROUP BY 1, 2) GROUP BY 1),
      h10 AS (SELECT doc_id,
          sum(CASE WHEN cnt > 1 THEN cnt * len(g) ELSE 0 END) AS dupc FROM (
          SELECT doc_id, g, count(*) AS cnt FROM (SELECT doc_id,
            unnest(list_transform(range(1, len(ws) - 8),
              i -> array_to_string(ws[i:i+9], ' '))) AS g FROM w)
          GROUP BY 1, 2) GROUP BY 1)
      SELECT w.doc_id AS doc,
        CASE WHEN COALESCE(n_lines, 0) > 0
          THEN round(CAST(dup_lines AS DOUBLE) / n_lines, 8)
          ELSE 0.0 END AS dup_line_frac,
        CASE WHEN COALESCE(line_chars, 0) > 0
          THEN round(CAST(dup_line_chars AS DOUBLE) / line_chars, 8)
          ELSE 0.0 END AS dup_line_char_frac,
        CASE WHEN COALESCE(n_paras, 0) > 0
          THEN round(CAST(dup_paras AS DOUBLE) / n_paras, 8)
          ELSE 0.0 END AS dup_para_frac,
        CASE WHEN COALESCE(para_chars, 0) > 0
          THEN round(CAST(dup_para_chars AS DOUBLE) / para_chars, 8)
          ELSE 0.0 END AS dup_para_char_frac,
        CASE WHEN dc > 0 THEN
          round(CAST(COALESCE(h2.topc, 0) AS DOUBLE) / dc, 8)
          ELSE 0.0 END AS top2_char_frac,
        CASE WHEN dc > 0 THEN
          round(CAST(COALESCE(h3.topc, 0) AS DOUBLE) / dc, 8)
          ELSE 0.0 END AS top3_char_frac,
        CASE WHEN dc > 0 THEN
          round(CAST(COALESCE(h4.topc, 0) AS DOUBLE) / dc, 8)
          ELSE 0.0 END AS top4_char_frac,
        CASE WHEN dc > 0 THEN
          round(CAST(COALESCE(h5.dupc, 0) AS DOUBLE) / dc, 8)
          ELSE 0.0 END AS dup5_char_frac,
        CASE WHEN dc > 0 THEN
          round(CAST(COALESCE(h10.dupc, 0) AS DOUBLE) / dc, 8)
          ELSE 0.0 END AS dup10_char_frac
      FROM w LEFT JOIN la USING (doc_id) LEFT JOIN pa USING (doc_id)
        LEFT JOIN h2 USING (doc_id) LEFT JOIN h3 USING (doc_id)
        LEFT JOIN h4 USING (doc_id) LEFT JOIN h5 USING (doc_id)
        LEFT JOIN h10 USING (doc_id)
      ORDER BY doc""",

    "q_dedup_cross_source" -> raw"""
      WITH w AS (SELECT source,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      g AS (SELECT DISTINCT source,
          unnest(list_distinct(list_transform(range(1, len(ws) - 3),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                 ws[i+3] || ' ' || ws[i+4]))) AS g
        FROM w)
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared
      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_dedup_incremental" -> """
      WITH fp AS (SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        FROM documents),
      corpus AS (SELECT fp, min(doc_id) AS corpus_keep FROM fp
                 WHERE doc_id < 400 GROUP BY fp),
      delta AS (SELECT doc_id, fp FROM fp WHERE doc_id >= 400),
      dk AS (SELECT fp, min(doc_id) AS delta_keep FROM delta GROUP BY fp)
      SELECT d.doc_id, d.fp,
        CASE WHEN c.corpus_keep IS NOT NULL THEN 'dup_of_corpus'
             WHEN d.doc_id <> dk.delta_keep THEN 'dup_in_delta'
             ELSE 'new' END AS status,
        coalesce(c.corpus_keep, dk.delta_keep) AS keep_id
      FROM delta d
      JOIN dk USING (fp)
      LEFT JOIN corpus c USING (fp)
      ORDER BY d.doc_id""",

    "q_dup_gram_frac" -> raw"""
      WITH w AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
               ws[i+3] || ' ' || ws[i+4])) AS g
        FROM w),
      hist AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2),
      df AS (SELECT g, count(*) AS nd FROM hist GROUP BY g)
      SELECT doc_id AS doc, CAST(sum(cnt) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN nd > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup,
        round(CAST(sum(CASE WHEN nd > 1 THEN cnt ELSE 0 END) AS DOUBLE)
          / sum(cnt), 8) AS dup_frac
      FROM hist JOIN df USING (g)
      GROUP BY doc_id ORDER BY doc""",

    "q_quality_buckets" -> raw"""
      WITH t AS (SELECT doc_id AS doc,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
      tf AS (SELECT term, count(*) AS tf FROM t GROUP BY 1),
      total AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
      scored AS (SELECT doc,
          CAST(sum(CAST(round(-ln(CAST(tf.tf AS DOUBLE) / total.total)
              * 100000000) AS BIGINT)) AS DOUBLE) / count(*) / 100000000.0
            AS avg_neg_logp
        FROM t JOIN tf USING (term) CROSS JOIN total GROUP BY doc),
      cd AS (SELECT *, cume_dist() OVER (ORDER BY avg_neg_logp) AS cda
        FROM scored),
      th AS (SELECT
          min(CASE WHEN cda >= 0.25 THEN avg_neg_logp END) AS t1,
          min(CASE WHEN cda >= 0.5 THEN avg_neg_logp END) AS t2,
          min(CASE WHEN cda >= 0.75 THEN avg_neg_logp END) AS t3
        FROM cd)
      SELECT doc, avg_neg_logp,
        (CASE WHEN avg_neg_logp > t1 THEN 1 ELSE 0 END +
         CASE WHEN avg_neg_logp > t2 THEN 1 ELSE 0 END +
         CASE WHEN avg_neg_logp > t3 THEN 1 ELSE 0 END) AS bucket
      FROM scored CROSS JOIN th ORDER BY doc""",

    "q_dsir_weights" -> raw"""
      WITH t AS (SELECT doc_id AS doc, lang = 'en' AS is_tgt,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
      stats AS (SELECT term, count(*) AS cnt_raw,
          sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS cnt_tgt
        FROM t GROUP BY term),
      tot AS (SELECT CAST(sum(cnt_raw) AS DOUBLE) AS tot_raw,
          CAST(sum(cnt_tgt) AS DOUBLE) AS tot_tgt,
          CAST(count(*) AS DOUBLE) AS v FROM stats),
      l AS (SELECT term, CAST(round(ln(
            (CAST(cnt_tgt + 1 AS DOUBLE) * (tot_raw + v)) /
            (CAST(cnt_raw + 1 AS DOUBLE) * (tot_tgt + v)))
            * 100000000) AS BIGINT) AS lam
        FROM stats CROSS JOIN tot)
      SELECT doc, count(*) AS n_tok,
        CAST(sum(lam) AS DOUBLE) / count(*) / 100000000.0 AS logw
      FROM t JOIN l USING (term)
      GROUP BY doc ORDER BY doc""",

    "q_bloom_blocklist" -> """
      WITH pu AS (SELECT user_id, count(*) AS n_err FROM events
                  WHERE event_type = 'error' GROUP BY user_id),
      t AS (SELECT sum(n_err) AS tot_err, count(*) AS n_users FROM pu),
      bl AS (SELECT user_id FROM pu, t
             WHERE n_err * n_users * 5 > tot_err * 6)
      SELECT event_id, user_id, event_type FROM events
      WHERE user_id IN (SELECT user_id FROM bl)
      ORDER BY event_id""",

    "q_url_extract" -> raw"""
      WITH t AS (SELECT
          'ref https://site' || CAST(c_custkey % 7 AS VARCHAR) ||
          '.com/p/' || CAST(c_custkey AS VARCHAR) ||
          ' mirror http://cdn.shared.net/x/' ||
          CAST(c_custkey % 13 AS VARCHAR) AS raw
        FROM customer),
      u AS (SELECT unnest(regexp_extract_all(raw, 'https?://[^\s]+'))
          AS url FROM t),
      d AS (SELECT regexp_extract(url, 'https?://(?:[^/\s@]*@)?([^/\s:?#]+)', 1)
          AS domain FROM u)
      SELECT domain, count(*) AS n_urls,
        CASE WHEN domain IN ('site0.com', 'cdn.shared.net') THEN 1
             ELSE 0 END AS blocked
      FROM d GROUP BY domain ORDER BY domain""",

    // \p{Script} classes are the same UTS #24 property the kernel reads
    // via java.lang.Character.UnicodeScript
    "q_script_mix" -> raw"""
      WITH base AS (SELECT doc_id,
          text ||
          CASE WHEN doc_id % 3 = 0
            THEN ' Привет мир спам Привет мир спам' ELSE '' END ||
          CASE WHEN doc_id % 3 = 1
            THEN ' 中文关键词中文关键词' ELSE '' END ||
          CASE WHEN doc_id % 5 = 0
            THEN ' عربى نص عربى' ELSE '' END AS t2
        FROM documents),
      m AS (SELECT doc_id,
          CAST(length(regexp_replace(t2, '[^\p{Latin}]', '', 'g'))
            AS INT) AS latin,
          CAST(length(regexp_replace(t2, '[^\p{Cyrillic}]', '', 'g'))
            AS INT) AS cyrillic,
          CAST(length(regexp_replace(t2, '[^\p{Han}]', '', 'g'))
            AS INT) AS han,
          CAST(length(regexp_replace(t2, '[^\p{Arabic}]', '', 'g'))
            AS INT) AS arabic,
          CAST(length(regexp_replace(t2,
              '[^\p{L}]|[\p{Latin}\p{Cyrillic}\p{Han}\p{Arabic}]',
              '', 'g')) AS INT) AS other,
          CAST(length(regexp_replace(t2, '[^0-9]', '', 'g'))
            AS INT) AS digit,
          CAST(length(regexp_replace(t2, '\s', '', 'g'))
            AS INT) AS total
        FROM base),
      g AS (SELECT *,
          greatest(latin, cyrillic, han, arabic, other) AS top,
          list_sort([latin, cyrillic, han, arabic, other], 'DESC')[2]
            AS second
        FROM m)
      SELECT doc_id AS doc, latin, cyrillic, han, arabic, other, digit,
        total,
        CASE WHEN top = 0 THEN 'none'
             WHEN latin = top THEN 'latin'
             WHEN cyrillic = top THEN 'cyrillic'
             WHEN han = top THEN 'han'
             WHEN arabic = top THEN 'arabic'
             ELSE 'other' END AS dominant,
        (total > 0 AND CAST(second AS DOUBLE) / total > 0.02) AS mixed
      FROM g ORDER BY doc""",

    "q_cohort_retention" -> raw"""
      WITH uw AS (SELECT DISTINCT user_id AS u,
          date_trunc('week', ts) AS w
        FROM events WHERE (event_id * 31 + user_id) % 59 = 0),
      c AS (SELECT u, min(w) AS cw FROM uw GROUP BY u),
      j AS (SELECT c.cw AS cohort,
          CAST(date_diff('day', CAST(c.cw AS DATE), CAST(uw.w AS DATE))
            // 7 AS INT) AS week_offset
        FROM uw JOIN c ON uw.u = c.u),
      a AS (SELECT cohort, week_offset, count(*) AS n_users
        FROM j GROUP BY 1, 2),
      s AS (SELECT cohort, n_users AS sz FROM a WHERE week_offset = 0)
      SELECT a.cohort AS cohort, a.week_offset, a.n_users,
        round(CAST(a.n_users AS DOUBLE) / sz, 8) AS retention
      FROM a JOIN s ON a.cohort = s.cohort
      ORDER BY a.cohort, a.week_offset""",

    // full SQL reimplementation of the canonicalization rules (parse →
    // lower scheme/host → default-port strip → trailing-slash strip →
    // param filter+sort) — not a hardcoded expected-string table
    "q_url_canonical" -> raw"""
      WITH t AS (SELECT
          CASE WHEN c_custkey % 2 = 0 THEN 'HTTPS' ELSE 'https' END ||
          '://Site' || CAST(c_custkey % 10 AS VARCHAR) || '.COM' ||
          CASE WHEN c_custkey % 3 = 0 THEN ':443' ELSE '' END ||
          '/p/' || CAST(c_custkey % 10 AS VARCHAR) ||
          CASE WHEN c_custkey % 2 = 0 THEN '/' ELSE '' END ||
          '?utm_source=x&b=2&a=1' ||
          CASE WHEN c_custkey % 5 = 0 THEN '&fbclid=abc' ELSE '' END ||
          '#sec' AS raw
        FROM customer),
      p AS (SELECT raw, regexp_replace(raw, '#.*', '') AS s FROM t),
      q AS (SELECT raw, s,
          lower(regexp_extract(s, '^([^:/?#]+)://', 1)) AS scheme,
          regexp_extract(s, '^[^:/?#]+://([^/?#]*)', 1) AS hostport,
          regexp_extract(s, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path0,
          CASE WHEN contains(s, '?')
            THEN regexp_extract(s, '\?([^#]*)', 1) ELSE '' END AS qs
        FROM p),
      r AS (SELECT raw, scheme,
          lower(CASE WHEN contains(hostport, ':')
            THEN regexp_extract(hostport, '^(.*):', 1)
            ELSE hostport END) AS host,
          CASE WHEN contains(hostport, ':')
            THEN regexp_extract(hostport, ':([^:]*)$$', 1)
            ELSE '' END AS port,
          CASE WHEN path0 = '/' THEN ''
               WHEN len(path0) > 1 AND path0 LIKE '%/'
                 THEN substr(path0, 1, len(path0) - 1)
               ELSE path0 END AS path,
          list_sort(list_filter(string_split(qs, '&'),
            x -> len(x) > 0
              AND NOT starts_with(regexp_extract(x, '^([^=]*)', 1),
                'utm_')
              AND NOT (regexp_extract(x, '^([^=]*)', 1) IN
                ('fbclid', 'gclid', 'ref', 'mc_cid', 'mc_eid'))))
            AS params
        FROM q),
      c AS (SELECT raw,
          scheme || '://' || host ||
          CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
              AND NOT (scheme = 'https' AND port = '443')
            THEN ':' || port ELSE '' END ||
          path ||
          CASE WHEN len(params) > 0
            THEN '?' || array_to_string(params, '&') ELSE '' END AS canon
        FROM r)
      SELECT canon, count(*) AS n_raw,
        count(DISTINCT raw) AS n_variants
      FROM c GROUP BY canon ORDER BY canon""",

    "q_multimodal_frames" -> """
      SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
             md5(substr(text,
               CAST(i * (strlen(text) // 4) AS INT) + 1,
               strlen(text) // 4)) AS frame_digest
      FROM documents, (SELECT unnest(range(4)) AS i)
      ORDER BY media_id, frame_idx""",

    "q_multimodal_features" -> """
      SELECT doc_id AS media_id,
        octet_length(encode(text)) AS n_bytes,
        CASE WHEN ascii(substr(text,1,1)) % 3 = 0 THEN 'png'
             WHEN ascii(substr(text,1,1)) % 3 = 1 THEN 'jpeg'
             ELSE 'webp' END AS format,
        CAST(16 * (1 + ascii(substr(text,1,1)) % 64) AS INT) AS width,
        CAST(16 * (1 + octet_length(encode(text)) % 64) AS INT) AS height,
        md5(text) AS digest
      FROM documents ORDER BY media_id"""
  )
}
