package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.CappedCollectAgg.cappedCollect

/** Document deduplication for large-scale training-data pipelines.
  *
  * Four tiers, all expressed as declarative column transforms + joins so
  * Catalyst/Tungsten own the execution:
  *
  *  - exact:      hash-groupBy on the full text (one shuffle on a digest)
  *  - fingerprint: normalized-text digest (near-exact, whitespace/punct
  *                 insensitive)
  *  - MinHash+LSH: shingle → minhash signature → banded bucket join →
  *                 verify candidates with exact Jaccard (the 100 TB path:
  *                 candidate generation is linear + one shuffle per table,
  *                 verification touches only candidate pairs)
  *  - SimHash:     64-bit signature, near-dups = small Hamming distance
  *
  * The signature computation is pure Spark SQL expressions (codegen'd, no
  * UDFs): shingles via transform/sequence, per-permutation min-hash via
  * array_min over an affine transform of xxhash64.
  */
object Dedup {

  /** Shingles from an ALREADY-MATERIALIZED word-array column. The lambda
    * references the column per element, so callers must project the word
    * array into the DataFrame first — passing `split(...)` directly here
    * would re-split the text once per shingle position.
    * Guards the short-text case: Spark's sequence(1, 0) would count DOWN,
    * so texts with fewer than n words yield an empty set explicitly. */
  def shinglesFromWords(words: Column, n: Int): Column =
    if (n <= 1) array_distinct(words)
    else when(size(words) < n, array().cast(ArrayType(StringType)))
      .otherwise(array_distinct(
        transform(
          sequence(lit(1), size(words) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j)): _*))))

  /** Word n-gram shingles of a text column (lowercased, trimmed,
    * whitespace split — matching [[shingleTable]] and the oracles).
    * Convenience form; for hot paths project the word array first and
    * use [[shinglesFromWords]]. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromWords(split(lower(trim(text)), "\\s+"), n)

  /** Multiplicity-preserving variant of [[shinglesFromWords]] (no
    * array_distinct): one entry per n-gram POSITION, for occurrence-
    * weighted statistics like [[crossDocDupGrams]]. */
  def shinglesFromWordsAll(words: Column, n: Int): Column =
    if (n <= 1) words
    else when(size(words) < n, array().cast(ArrayType(StringType)))
      .otherwise(
        transform(
          sequence(lit(1), size(words) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j)): _*)))

  /** Cross-document duplicated n-gram fraction — the document-level
    * signal of substring-level duplication (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022: their
    * suffix-array pass removes spans that recur across documents; this
    * operator scores each document by how much of it is such recurring
    * material, the usual filter-or-weight knob when exact span surgery
    * is too invasive).
    *
    * For every document: the fraction of its n-gram OCCURRENCES whose
    * gram appears in more than one document. Documents shorter than n
    * words have no grams and are absent from the output.
    *
    * Shape at scale: tokens collapse to a (doc, gram, count) histogram
    * first (map-side combinable), the gram→doc-frequency table derives
    * from that same histogram (one row per (doc, gram) already — no
    * second scan), and the join back is histogram-sized with no
    * broadcast hint (AQE decides). All counts are exact integers; the
    * one division rounds to 8 decimals, so the result is engine-exact.
    *
    * @return (doc, n_grams, n_dup, dup_frac)
    */
  def crossDocDupGrams(df: DataFrame, textCol: String, idCol: String,
      n: Int, hashGrams: Boolean = false): DataFrame = {
    val ws = split(lower(trim(col(textCol))), "\\s+")
    val grams = df
      .select(col(idCol).as("doc"), ws.as("ws"))
      .select(col("doc"),
        explode(shinglesFromWordsAll(col("ws"), n)).as("g0"))
      // hashGrams: ship 8-byte xxhash64 keys through the two shuffles
      // instead of multi-word strings (~5-10× fewer shuffle bytes at
      // corpus scale) at the cost of a ~n²/2^64 collision probability —
      // the scale mode; exact strings are the oracle mode
      .select(col("doc"),
        (if (hashGrams) xxhash64(col("g0")) else col("g0")).as("g"))
    val hist = grams.groupBy(col("doc"), col("g"))
      .agg(count(lit(1)).as("cnt"))
    val docFreq = hist.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"))
    hist.join(docFreq, "g")
      .groupBy(col("doc"))
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("nd") > 1, col("cnt")).otherwise(lit(0L))).as("n_dup"))
      .select(col("doc"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast(DoubleType) / col("n_grams"), 8)
          .as("dup_frac"))
  }

  /** Character n-gram shingles from an ALREADY-PROJECTED lowercased text
    * column (pass a materialized column — an inline expression would
    * re-evaluate per element): the standard representation for short/
    * noisy text where word tokenization is unreliable. Empty when the
    * text is shorter than n. */
  def charShingles(t: Column, n: Int): Column =
    when(length(t) < n, array().cast(ArrayType(StringType)))
      .otherwise(array_distinct(
        transform(sequence(lit(1), length(t) - (n - 1)),
          i => t.substr(i, lit(n)))))

  /** docs → (id, sh, sz): tokenize + fused shingle expression (identical
    * output to [[shinglesFromWords]], one tight loop per row). Repartitions
    * first: document corpora often arrive as few large files, and the
    * per-row signature work downstream needs every core (a 1-partition
    * scan would serialize it regardless of cluster size). */
  /** Partition count for the CPU-bound per-row kernel exchanges: at
    * least one task per core (one wave at small scale), GROWING with
    * the input's estimated bytes so a 100 TB corpus does not funnel
    * into #cores multi-GB tasks and spill (guide §2.2/§5; VERDICT r16
    * #5 — "a floor, not a constant"). Bytes come from the optimizer's
    * size estimate: approximate is fine, the floor only needs the
    * order of magnitude, and the advisory partition size is the same
    * knob AQE sizes post-shuffle partitions with. A plan without
    * statistics (an RDD-backed input) reports `defaultSizeInBytes`
    * (Long.MaxValue by default): that size is unknown, not huge, so it
    * keeps the core floor instead of fanning out to 2^22 tasks. */
  private def cpuPartitions(docs: DataFrame): Int = {
    val spark = docs.sparkSession
    val advisory = math.max(1L,
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")))
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes =
      if (bytes >= spark.sessionState.conf.defaultSizeInBytes) 0
      else (bytes / advisory).min(BigInt(1 << 22)).toInt
    math.max(spark.sparkContext.defaultParallelism, byBytes)
  }

  private def shingleTable(docs: DataFrame, textCol: String, idCol: String,
      n: Int, passthrough: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.registerKernels(docs.sparkSession)
    // trim BEFORE the split: leading/trailing whitespace would inject an
    // empty-string token that perturbs shingles and Jaccard (and the
    // DuckDB oracles already tokenize lower(trim(text)))
    docs.select(col(idCol).as("id") +: passthrough.map(col) :+
        split(lower(trim(col(textCol))), "\\s+").as("w"): _*)
      // EXPLICIT partition count: this exchange exists to win CPU
      // parallelism for the per-row shingle/signature work, not to
      // move bytes — AQE's byte-based coalescing (advisory 64m) would
      // fold a small-but-compute-heavy corpus into one task. The count
      // is a FLOOR over cores that grows with input bytes
      // ([[cpuPartitions]]): cores-adaptive at small scale, size-
      // adaptive at 100 TB.
      .repartition(cpuPartitions(docs), col("id"))
      .select(col("id") +: passthrough.map(col) :+
        call_function("word_shingles", col("w"), lit(n)).as("sh"): _*)
      .withColumn("sz", size(col("sh")))
  }

  /** Exact duplicate groups: one survivor (min id) per identical text.
    * Groups on the md5 DIGEST, not the text — the raw text would
    * otherwise ride the shuffle as the groupBy key, shipping the whole
    * corpus through the exchange; the digest key makes it 16 bytes per
    * row. Identical results absent an md5 collision (none observable at
    * any corpus size that fits hardware; add a byte-compare verify pass
    * downstream if cryptographic certainty is required). */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(graft.functions.GraftFunctions.md5Hex(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fp"))

  /** Normalized-text fingerprint (document-level rolling-hash analog):
    * lowercase → strip everything but letters/digits/whitespace
    * (UNICODE classes — an ASCII-only [a-z0-9] would collapse every
    * non-Latin document to the SAME digest and mass-classify a
    * Chinese/Arabic corpus as duplicates) → collapse whitespace runs to
    * one space (so tab/newline variants of the same text match) → trim.
    * \p{L}\p{N}\s mean the same thing in Java regex and DuckDB's RE2,
    * so the digest is engine-portable. */
  def fingerprint(text: Column): Column =
    graft.functions.GraftFunctions.md5Hex(trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", ""),
      "\\s+", " ")))

  /** Exact duplicated-SPAN removal — the span-surgery tier of Lee et
    * al.'s substring dedup (ACL 2022) and C4's repeated-span rule: each
    * document's token stream segments into consecutive `spanWords`-word
    * spans, a span recurring ANYWHERE in the corpus keeps only its first
    * occurrence (min (doc, pos) — deterministic), and every later
    * occurrence is cut out of its document. Returns the rebuilt
    * documents plus surgery stats; a fully-duplicated document comes
    * back with n_kept = 0 and empty clean_text.
    *
    * The reference implementation builds a corpus suffix array; the
    * Spark shape is ONE digest-keyed aggregate: spans reduce to
    * (digest → min(struct(doc, pos))) — map-side combinable, and the
    * winner rows ARE the kept set, so there is no join back against the
    * span stream. Raw span text never rides the shuffle (the digest
    * does); the document text appears only in the final doc-keyed join
    * that rebuilds the output, where it is the output.
    *
    * @return (doc, n_spans, n_kept, clean_text)
    */
  def dedupSpans(docs: DataFrame, textCol: String, idCol: String,
      spanWords: Int = 10): DataFrame = {
    val base = spanBase(docs, textCol, idCol, spanWords)
    val winners = spanStream(base, spanWords).groupBy(col("fp"))
      .agg(min(struct(col("doc"), col("pos"))).as("win"))
      .select(col("win.doc").as("doc"), col("win.pos").as("pos"))
    rebuildFromKept(base, winners, spanWords)
  }

  /** Span-winner table of a corpus: (fp, doc, pos) — the first corpus
    * occurrence of each distinct `spanWords`-word span. This is the
    * stored artifact incremental span surgery joins against (persist it
    * partitioned by fp at production scale, exactly like the corpus
    * fingerprint table of [[incrementalDedup]]). */
  def spanWinnerTable(docs: DataFrame, textCol: String, idCol: String,
      spanWords: Int = 10): DataFrame =
    spanStream(spanBase(docs, textCol, idCol, spanWords), spanWords)
      .groupBy(col("fp"))
      .agg(min(struct(col("doc"), col("pos"))).as("win"))
      .select(col("fp"), col("win.doc").as("doc"), col("win.pos").as("pos"))

  /** Incremental span surgery: rebuild DELTA documents only, cutting
    * every span the corpus already owns (via its [[spanWinnerTable]])
    * plus later repeats within the delta itself — the daily-ingest shape
    * where re-running [[dedupSpans]] over the whole corpus per batch
    * would be absurd. Work = one delta-sized aggregate + one anti-join
    * of delta span digests against the winner table; the corpus text is
    * never touched. Equivalent to full [[dedupSpans]] over corpus∪delta
    * restricted to delta docs whenever corpus ids order before delta ids
    * (ScalaTested).
    *
    * @param corpusWinners [[spanWinnerTable]] output (only `fp` is read)
    */
  def incrementalDedupSpans(corpusWinners: DataFrame, delta: DataFrame,
      textCol: String, idCol: String, spanWords: Int = 10): DataFrame = {
    val base = spanBase(delta, textCol, idCol, spanWords)
    val fresh = spanStream(base, spanWords).groupBy(col("fp"))
      .agg(min(struct(col("doc"), col("pos"))).as("win"))
      .join(corpusWinners.select(col("fp")), Seq("fp"), "left_anti")
      .select(col("win.doc").as("doc"), col("win.pos").as("pos"))
    rebuildFromKept(base, fresh, spanWords)
  }

  /** CCNet-style LINE-level dedup / boilerplate removal (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020 §3.1 — RefinedWeb and Dolma apply the same rule):
    * a line whose exact text occurs in `minDocFreq`+ DISTINCT documents
    * is boilerplate (headers, nav bars, cookie banners) and EVERY
    * occurrence is dropped — unlike span surgery ([[dedupSpans]]), which
    * keeps the first occurrence; boilerplate has no "first" worth
    * keeping. Documents are rebuilt from their surviving lines in order.
    *
    * Scale shape: the doc-frequency aggregate and the boilerplate join
    * are keyed on the 64-bit line hash — 8 bytes on the shuffle, never
    * the line text (a wrong drop needs two distinct lines colliding in
    * 64 bits; at ~2^32 distinct corpus lines widen the key to
    * (xxhash64, length)). The aggregate is map-side combinable
    * (count-distinct partials), its boilerplate survivors are tiny
    * relative to the corpus, so AQE turns the flagging join into a
    * broadcast; the rebuild is one doc-keyed aggregate bounded by
    * document size, same as [[dedupSpans]]'s rebuild.
    *
    * @param minDocFreq lines in >= this many distinct docs are dropped
    * @return (doc, n_lines, n_kept, text_clean)
    */
  def lineDedup(docs: DataFrame, textCol: String, idCol: String,
      minDocFreq: Int = 3, sep: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq must be >= 2")
    val base = lineBase(docs, textCol, idCol, sep)
    val boiler = lineFreqOf(base)
      .where(col("df") >= minDocFreq)
      .select(col("lk"))
    rebuildLines(base, boiler, sep)
  }

  /** Line doc-frequency table of a corpus: (lk, df) — 64-bit line hash →
    * number of DISTINCT documents containing the line. This is the
    * stored artifact incremental line dedup merges against (persist it
    * keyed by lk at production scale, like the fingerprint table of
    * [[incrementalDedup]]). Counts are ADDITIVE across batches whose
    * document sets are disjoint — the ingest invariant — so growing the
    * table is `union` + sum-merge, never a corpus rescan. */
  def lineFreqTable(docs: DataFrame, textCol: String, idCol: String,
      sep: String = "\n"): DataFrame =
    lineFreqOf(lineBase(docs, textCol, idCol, sep))

  /** Incremental CCNet line dedup: clean DELTA documents against
    * corpus-wide line frequencies = saved [[lineFreqTable]] + the
    * delta's own counts (sum-merged: the delta's docs are disjoint from
    * the corpus by the ingest invariant). Result equals full
    * [[lineDedup]] over corpus∪delta restricted to delta docs
    * (ScalaTested) — the corpus TEXT is never touched, so per-batch
    * work is delta-sized plus one frequency-table merge.
    *
    * @param corpusFreq [[lineFreqTable]] output for the corpus
    */
  def incrementalLineDedup(corpusFreq: DataFrame, delta: DataFrame,
      textCol: String, idCol: String, minDocFreq: Int = 3,
      sep: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq must be >= 2")
    val base = lineBase(delta, textCol, idCol, sep)
    val boiler = corpusFreq.select(col("lk"), col("df"))
      .union(lineFreqOf(base))
      .groupBy(col("lk")).agg(sum(col("df")).as("df"))
      .where(col("df") >= minDocFreq)
      .select(col("lk"))
    rebuildLines(base, boiler, sep)
  }

  /** One (doc, line_no, line) row per line occurrence. NULL text
    * coalesces to '' (= one empty line) BEFORE the explode: posexplode
    * of split(NULL) yields zero rows, which silently dropped NULL-text
    * documents from the rebuilt corpus — every sibling path keeps the
    * per-doc row (dedupSpans' left-join rebuild, the streaming line
    * filter's NULL→'' batch parity). */
  private def lineBase(docs: DataFrame, textCol: String, idCol: String,
      sep: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep)))
        .as(Seq("line_no", "line")))

  /** (lk, df): distinct-doc count per 64-bit line hash. */
  private def lineFreqOf(base: DataFrame): DataFrame =
    base.groupBy(xxhash64(col("line")).as("lk"))
      .agg(count_distinct(col("doc")).as("df"))

  /** Flag boilerplate occurrences and rebuild (doc, n_lines, n_kept,
    * text_clean) — boiler is the (small) dropped-line hash set, so AQE
    * broadcasts the flagging join. */
  private def rebuildLines(base: DataFrame, boiler: DataFrame,
      sep: String): DataFrame =
    base
      .join(boiler.withColumn("boiler", lit(true)),
        xxhash64(col("line")) === col("lk"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("boiler").isNull, 1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("boiler").isNull,
            struct(col("line_no"), col("line"))))),
          kv => kv.getField("line")), sep).as("text_clean"))

  /** (doc, w, n_spans) projection shared by the span-surgery family. */
  private def spanBase(docs: DataFrame, textCol: String, idCol: String,
      spanWords: Int): DataFrame = {
    require(spanWords >= 1, "spanWords must be positive")
    docs
      .select(col(idCol).as("doc"),
        split(lower(trim(col(textCol))), "\\s+").as("w"))
      .withColumn("n_spans",
        ceil(size(col("w")) / lit(spanWords.toDouble)).cast(LongType))
  }

  /** One (doc, pos, fp) row per span occurrence. */
  private def spanStream(base: DataFrame, spanWords: Int): DataFrame =
    base
      .select(col("doc"), col("w"),
        explode(sequence(lit(0L), col("n_spans") - 1)).as("pos"))
      .select(col("doc"), col("pos"),
        graft.functions.GraftFunctions.md5Hex(concat_ws(" ",
          slice(col("w"), (col("pos") * spanWords + 1).cast(IntegerType),
            lit(spanWords)))).as("fp"))

  /** Rebuild (doc, n_spans, n_kept, clean_text) from kept (doc, pos)
    * rows — spans regenerate from the doc's own words (identical to the
    * winner's text by construction: same digest). */
  private def rebuildFromKept(base: DataFrame, kept: DataFrame,
      spanWords: Int): DataFrame = {
    val keptPos = kept.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(col("pos"))).as("ps"))
    base.join(keptPos, Seq("doc"), "left")
      .select(col("doc"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(concat_ws(" ", flatten(transform(col("ps"),
          p => slice(col("w"), (p * spanWords + 1).cast(IntegerType),
            lit(spanWords))))), lit("")).as("clean_text"))
  }

  /** Incremental exact dedup: classify a DELTA batch against an
    * already-deduplicated corpus — the daily-ingest shape, where
    * re-pairing the whole corpus per batch would be absurd. The corpus
    * participates only through its fingerprint table (at production
    * scale a stored artifact keyed by fp; derived here), so the work is
    * one delta-sized aggregate plus one join of delta fingerprints
    * against the corpus fingerprint table.
    *
    * Every delta row is classified:
    *  - `dup_of_corpus`: fingerprint already in the corpus → keep_id is
    *    the corpus survivor;
    *  - `dup_in_delta`: first seen in THIS batch but not by this row →
    *    keep_id is the batch's min-id holder of the fingerprint;
    *  - `new`: this row IS the batch survivor of an unseen fingerprint.
    *
    * @return (doc_id, fp, status, keep_id) — one row per delta doc
    */
  def incrementalDedup(corpus: DataFrame, delta: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    // NULL-text docs fingerprint to NULL; the merge joins are
    // NULL-SAFE so those delta rows still classify (all NULL-text docs
    // share one group, matching exactDedup's groupBy-null semantics)
    // instead of silently vanishing from the one-row-per-delta-doc
    // contract through a never-matching equi-join
    val corpusFp = corpus
      .select(fingerprint(col(textCol)).as("fp"), col(idCol).as("cid"))
      .groupBy(col("fp")).agg(min(col("cid")).as("corpus_keep"))
    val deltaFp = delta
      .select(col(idCol).as("doc_id"), fingerprint(col(textCol)).as("fp"))
    val deltaKeep = deltaFp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("delta_keep"))
      .withColumnRenamed("fp", "__kfp")
    val corpusFp2 = corpusFp.withColumnRenamed("fp", "__cfp")
    deltaFp
      .join(deltaKeep, col("fp") <=> col("__kfp")).drop("__kfp")
      .join(corpusFp2, col("fp") <=> col("__cfp"), "left").drop("__cfp")
      .select(col("doc_id"), col("fp"),
        when(col("corpus_keep").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") =!= col("delta_keep"), lit("dup_in_delta"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("corpus_keep"), col("delta_keep")).as("keep_id"))
  }

  /** Incremental near-duplicate pairs: MinHash-LSH candidates for a
    * DELTA batch against corpus ∪ delta, verified with exact Jaccard —
    * [[nearDupPairs]] restricted to pairs with at least one delta member
    * (corpus-internal pairs were handled when THOSE batches arrived, so
    * recomputing them is pure waste at ingest time).
    *
    * Same two-pass shape as the full path (signatures ship through the
    * bucket join, shingle arrays join in only for estimate-surviving
    * candidates), with one extra bit per row marking the delta side; the
    * bucket explosion and candidate stream shrink toward the delta's
    * share of each bucket.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, at least one side
    *         in the delta
    */
  def incrementalNearDups(corpus: DataFrame, delta: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      shingleSize: Int = 2, numHashes: Int = 32, bands: Int = 16,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val union = corpus.select(col(idCol), col(textCol), lit(0).as("is_delta"))
      .unionByName(
        delta.select(col(idCol), col(textCol), lit(1).as("is_delta")))
    // is_delta rides the shingle table as a passthrough column (no join),
    // and the delta filter applies inside the per-bucket pair generation,
    // so corpus-internal candidates are never emitted at all
    val shT = shingleTable(union, textCol, idCol, shingleSize,
        passthrough = Seq("is_delta"))
      .where(size(col("sh")) > 0)
    val sig = shT.withColumn("sig", fastSignature(shT, "sh", numHashes))
    val cands = bandedPairsMarked(sig, bands, r, maxBucket)
    verifyCandidates(cands, sig, shT, numHashes, threshold)
  }

  /** MinHash signature table (id, sig) — the stored artifact an ingest
    * pipeline persists once per corpus and reuses every delta batch via
    * [[incrementalNearDupsPrepared]], the signature analog of the
    * fingerprint table in the exact-dedup incremental path. Parameters
    * must match the later call (same shingleSize/numHashes). */
  def signatureTable(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 2, numHashes: Int = 32): DataFrame = {
    val shT = shingleTable(docs, textCol, idCol, shingleSize)
      .where(size(col("sh")) > 0)
    shT.select(col("id"), fastSignature(shT, "sh", numHashes).as("sig"))
  }

  /** Banded bucket table for streaming near-dup detection
    * ([[graft.streaming.EventStreams.nearDupPairsStream]]): one row per
    * (corpus doc, band) carrying the bucket key and the doc's shingles
    * for the exact-Jaccard verify. Persist alongside [[signatureTable]];
    * parameters must match the stream side. */
  def signatureBuckets(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 2, numHashes: Int = 32,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val shT = shingleTable(docs, textCol, idCol, shingleSize)
      .where(size(col("sh")) > 0)
    shT.select(col("id").as("corpus_id"), col("sh").as("c_sh"),
        fastSignature(shT, "sh", numHashes).as("c_sig"))
      .select(col("corpus_id"), col("c_sh"),
        posexplode(bandBucketArray(col("c_sig"), bands, r)))
      .toDF("corpus_id", "c_sh", "band", "bucket")
  }

  /** [[incrementalNearDups]] against a PERSISTED corpus signature table:
    * identical pair output, but the corpus-side shingle+signature kernel
    * — the dominant per-batch cost, linear in CORPUS size where the
    * delta is small — is not recomputed at ingest time. Corpus text is
    * consulted only for docs that survive the signature-agreement prune:
    * the exact-Jaccard verify shingles exactly those rows via a
    * candidate-id semi-join, so the per-batch work scales with the delta
    * and its collision neighborhood, not the corpus. The pruned
    * candidate set is localCheckpoint-ed (lazily) because both the
    * semi-join and the final verify consume it — without the checkpoint
    * the corpus-sized signature joins would run twice. */
  def incrementalNearDupsPrepared(corpusSig: DataFrame, corpus: DataFrame,
      delta: DataFrame, textCol: String, idCol: String, threshold: Double,
      shingleSize: Int = 2, numHashes: Int = 32, bands: Int = 16,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    graft.functions.GraftFunctions.registerKernels(delta.sparkSession)
    val deltaShT = shingleTable(delta, textCol, idCol, shingleSize)
      .where(size(col("sh")) > 0)
    val deltaSig = deltaShT.select(col("id"),
      fastSignature(deltaShT, "sh", numHashes).as("sig"))
    val sigAll = corpusSig.select(col("id"), col("sig"), lit(0).as("is_delta"))
      .unionByName(deltaSig.withColumn("is_delta", lit(1)))
    val cands = bandedPairsMarked(sigAll, bands, r, maxBucket)
    val pruned = prunePairs(cands, sigAll.select(col("id"), col("sig")),
        numHashes, threshold)
      .localCheckpoint(false)
    val candIds = pruned.select(col("id_a").as("cid"))
      .union(pruned.select(col("id_b").as("cid"))).distinct()
    val corpusCandShT = shingleTable(
        corpus.join(candIds, col(idCol) === col("cid"), "left_semi"),
        textCol, idCol, shingleSize)
      .where(size(col("sh")) > 0)
    val shAll = deltaShT.select(col("id"), col("sh"))
      .unionByName(corpusCandShT.select(col("id"), col("sh")))
    pruned
      .join(shAll.toDF("id_a", "sh_a"), "id_a")
      .join(shAll.toDF("id_b", "sh_b"), "id_b")
      .withColumn("jac",
        call_function("jaccard_sim", col("sh_a"), col("sh_b")))
      .where(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Mersenne prime 2^31-1: universal-hash modulus. Base hashes and seeds
    * stay below 2^31 so a*h+b never overflows a signed long (ANSI mode). */
  private val P = 2147483647L

  /** Deterministic affine-permutation seeds for minhash (fixed RNG seed so
    * plans are reproducible across runs/executors). */
  private[graft] def seeds(numHashes: Int): Seq[(Long, Long)] = {
    val rng = new java.util.Random(0x5EED5EEDL)
    Seq.fill(numHashes)(
      (1L + rng.nextInt(Int.MaxValue - 1), rng.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature (array<long>, length numHashes) over a shingle set.
    * h_i(S) = min over s in S of ((a_i * h(s) + b_i) mod P), with
    * h(s) = xxhash64(s) mod P — the classic universal-hash permutation.
    * Composed-builtins form; the hot path uses the fused
    * [[graft.functions.MinHashSignature]] expression (same seeds, same
    * output, one pass, no per-permutation array allocation). */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column = {
    val base = transform(shingleCol, s => pmod(xxhash64(s), lit(P)))
    array(seeds(numHashes).map { case (a, b) =>
      array_min(transform(base, h => pmod(h * lit(a) + lit(b), lit(P))))
    }: _*)
  }

  /** Fused single-pass minhash signature (custom Catalyst expression). */
  private def fastSignature(df: DataFrame, shCol: String,
      numHashes: Int): Column = {
    graft.functions.GraftFunctions.registerKernels(df.sparkSession)
    call_function("minhash_signature", col(shCol), lit(numHashes))
  }

  /** Default per-bucket population cap for LSH self-joins. A degenerate
    * bucket (boilerplate/empty texts agreeing on a band) makes the
    * in-bucket self-join quadratic on one key — at corpus scale a single
    * 1e6-doc bucket is 1e12 candidate pairs. Buckets above the cap are
    * dropped: their members are near-identical boilerplate that exact /
    * fingerprint dedup already collapses, and every doc still has its
    * other bands. */
  val DefaultMaxBucket = 500

  /** (band, bucket) grouping → in-bucket id pairs. ONE shuffle (the
    * groupBy): each bucket's sorted id list explodes into its pairs via
    * nested transforms over small arrays — cheaper than a two-sided
    * self-join shuffle. The maxBucket cap runs INSIDE the aggregate
    * ([[graft.functions.CappedCollectAgg]]): a degenerate bucket (one
    * boilerplate signature shared by 1e8 near-empty docs) flips its
    * buffer to an overflow tombstone instead of materializing a multi-GB
    * list that a size() filter would then throw away — O(maxBucket)
    * memory per bucket in every partial, not O(bucket).
    *
    * `dedupe = false` skips the distinct (a full shuffle of the raw
    * candidate stream — the largest intermediate in the pipeline) for
    * callers that filter the stream first and dedupe the survivors:
    * a pair duplicated across k agreeing bands costs k cheap map-side
    * filter evaluations instead of one corpus-candidate-sized exchange. */
  /** Banded LSH bucket keys for a signature: bucket b = the joined
    * r-slice of band b. Shared by the batch pair generators, the
    * persisted [[signatureBuckets]] table, and the streaming detector so
    * all three bucket identically. */
  private[graft] def bandBucketArray(sig: Column, bands: Int,
      r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws("_", slice(sig, b * r + 1, lit(r))))

  private def bandedPairs(sig: DataFrame, bands: Int, r: Int,
      maxBucket: Int, dedupe: Boolean = true): DataFrame = {
    val buckets = sig.select(col("id"),
      posexplode(bandBucketArray(col("sig"), bands, r)))
      .toDF("id", "band", "bucket")
    val pairs = buckets.groupBy(col("band"), col("bucket"))
      .agg(sort_array(cappedCollect(col("id"), maxBucket)).as("ids"))
      .where(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    if (dedupe) pairs.distinct() else pairs
  }

  /** [[bandedPairs]] over a marked signature table (id, sig, is_delta):
    * emits only pairs with at least one marked member, applying the
    * delta filter INSIDE the per-bucket pair generation — corpus-internal
    * pairs are never materialized, exploded, or shuffled, instead of
    * being joined away downstream. Buckets sort by (id, mark) = by id
    * (ids are unique), so pair order matches the unmarked path. */
  private def bandedPairsMarked(sig: DataFrame, bands: Int, r: Int,
      maxBucket: Int): DataFrame = {
    val buckets = sig.select(col("id"), col("is_delta"),
      posexplode(bandBucketArray(col("sig"), bands, r)))
      .toDF("id", "d", "band", "bucket")
    buckets.groupBy(col("band"), col("bucket"))
      .agg(sort_array(
        cappedCollect(struct(col("id"), col("d")), maxBucket)).as("xs"))
      .where(col("xs").isNotNull && size(col("xs")) >= 2)
      .select(explode(flatten(transform(col("xs"), (a, i) =>
        filter(
          transform(slice(col("xs"), i + 2, size(col("xs"))),
            b => struct(a.getField("id").as("id_a"),
              b.getField("id").as("id_b"),
              (a.getField("d") === 1 || b.getField("d") === 1).as("keep"))),
          s => s.getField("keep"))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
  }

  /** Exact containment pairs via PREFIX FILTERING (Chaudhuri, Ganti,
    * Kaushik, "A primitive operator for similarity joins", ICDE 2006 —
    * the SSJoin/PPJoin family): containment(A→B) = |A∩B|/|A| ≥ t
    * requires B to miss FEWER than ⌈t·|A|⌉ of A's shingles, so A's
    * ⌊|A|−⌈t·|A|⌉⌋+1 GLOBALLY-RAREST shingles (the "prefix" under a
    * rare-first canonical order) must intersect B — probing only the
    * prefix against the shingle inverted index gives COMPLETE recall
    * (exact, not probabilistic — unlike banded MinHash, which recalls
    * Jaccard-high pairs and misses a small document contained in a much
    * larger one).
    *
    * Shape at scale: one shingle-keyed shuffle builds the df order, one
    * doc-keyed aggregate forms prefixes, the candidate join is keyed by
    * the PREFIX shingles only — rare by construction, so per-shingle
    * fan-out stays small — and the exact verify joins shingle sets for
    * the surviving candidates alone.
    *
    * Degenerate-vocabulary guard: prefix filtering only prunes when the
    * prefix tokens are RARE. On a flat/boilerplate vocabulary (every
    * shingle common) the df-ordered prefix stops being selective and
    * the candidate join degenerates toward the quadratic pair set — so
    * any prefix token whose document frequency exceeds `maxPrefixDf`
    * fails LOUDLY inside the plan (same pattern as `rangeJoin`'s
    * interval-width assert) instead of silently flooding the shuffle.
    * At that point raise `t`, increase `shingleSize`, or route the
    * corpus to banded MinHash ([[nearDupPairs]]).
    *
    * @return (id_a, id_b, containment): |A∩B|/|A| ≥ t, a ≠ b (both
    *         directions — containment is asymmetric)
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      t: Double, shingleSize: Int = 2,
      maxPrefixDf: Int = 100000): DataFrame = {
    require(t > 0 && t <= 1, "containment threshold in (0, 1]")
    graft.functions.GraftFunctions.registerKernels(docs.sparkSession)
    val shT = shingleTable(docs, textCol, idCol, shingleSize)
      .where(size(col("sh")) > 0)
    val tokens = shT.select(col("id"), explode(col("sh")).as("tok"))
    val dfreq = tokens.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // rare-first canonical order; prefix length = |A| - m + 1 where m
    // is the SMALLEST count with m/|A| >= t, derived with the same
    // double division the verify predicate uses — ceil(t*|A|) on the
    // IEEE product can round UP (0.55*20 = 11.000000000000002 -> 12)
    // and shorten the prefix, silently breaking complete recall
    val prefixes = tokens.join(dfreq, "tok")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok"))))
        .as("ordered"))
      .withColumn("__fl", greatest(
        floor(lit(t) * size(col("ordered"))), lit(1L)))
      .withColumn("__m",
        when(col("__fl").cast(DoubleType) /
            size(col("ordered")).cast(DoubleType) >= t, col("__fl"))
          .otherwise(col("__fl") + 1))
      .select(col("id").as("id_a"),
        explode(slice(col("ordered"), lit(1),
          (size(col("ordered")) - col("__m") + 1).cast("int"))).as("p"))
      .select(col("id_a"), col("p").getField("tok").as("tok"),
        col("p").getField("df").as("__df"))
      // assert_true rides in a filter (coalesce(null-when-ok, true)) so
      // the optimizer cannot prune it as an unused projection
      .where(coalesce(
        assert_true(col("__df") <= maxPrefixDf,
          concat(lit("containmentPairs: prefix token document frequency "),
            col("__df").cast("string"),
            lit(s" exceeds maxPrefixDf=$maxPrefixDf — the vocabulary is " +
              "too flat for prefix filtering and the candidate join is " +
              "degenerating toward quadratic; raise t, increase " +
              "shingleSize, or route to banded MinHash (nearDupPairs)"))),
        lit(true)))
      .drop("__df")
    val cands = prefixes
      .join(tokens.toDF("id_b", "tok"), "tok")
      .where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sets = shT.select(col("id"), col("sh"))
    cands
      .join(sets.toDF("id_a", "sh_a"), "id_a")
      .join(sets.toDF("id_b", "sh_b"), "id_b")
      // filter on the UNROUNDED ratio (SQL comparison semantics — the
      // DuckDB oracle does the same) and round only for display; a
      // rounded filter would keep pairs within 5e-9 below t
      .withColumn("__c", size(array_intersect(col("sh_a"), col("sh_b")))
        .cast(DoubleType) / size(col("sh_a")))
      .where(col("__c") >= t)
      .select(col("id_a"), col("id_b"),
        round(col("__c"), 8).as("containment"))
  }

  /** Exact Jaccard similarity between two shingle-set columns. The
    * intersection is computed ONCE and reused in the denominator —
    * array_intersect is the dominant O(|a|+|b|) term per pair. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    inter / (size(a) + size(b) - inter)
  }

  /** MinHash-LSH near-duplicate pairs, verified with exact Jaccard ≥
    * threshold. Three-stage scale path:
    *  1. banded LSH join → candidate pairs (linear + bucket shuffle);
    *  2. signature-agreement estimate (O(numHashes) per pair) prunes
    *     candidates to est ≥ threshold − 2σ — essential when the corpus
    *     vocabulary is small and random pairs collide in some band;
    *  3. exact Jaccard (O(|shingle set|) per pair) only on survivors.
    */
  def nearDupPairs(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleSize: Int = 2, numHashes: Int = 32,
      bands: Int = 16, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // The shingle table sits on a hash-exchange on id (inside
    // shingleTable): the bucket branch and both join builds below
    // reference the identical subplan, so ReuseExchange shares the
    // scan+tokenize shuffle and only the cheap fused shingle+sign
    // expressions re-run per branch. No persist — columnar-caching the
    // shingle arrays costs more than the recompute it saves, and pins
    // executor storage for the job's lifetime.
    val shT = shingleTable(docs, textCol, idCol, shingleSize)
      .where(size(col("sh")) > 0)
    val sig = shT
      .withColumn("sig", fastSignature(shT, "sh", numHashes))
    // raw (duplicated-across-bands) candidate stream: the distinct would
    // be a full shuffle of the pipeline's largest intermediate (~200k
    // candidate rows for ~260 real pairs at sf0.1) — the estimate filter
    // below kills almost all of it map-side first, and the survivors
    // dedupe for the price of a few hundred rows
    val cands = bandedPairs(sig, bands, r, maxBucket, dedupe = false)
    verifyCandidates(cands, sig, shT, numHashes, threshold)
  }

  /** Estimate-prune + exact-verify tail shared by the full and
    * incremental near-dup paths. Two join passes, cheapest payload
    * first. With low rows-per-band (needed for low thresholds) the
    * candidate set is orders of magnitude larger than the survivor set —
    * so the wide shingle arrays must NOT ride the candidate join. Pass 1
    * attaches only the numHashes-long signatures (a guaranteed-broadcast
    * build) and prunes on the agreement estimate (O(numHashes)/pair,
    * codegen'd, map-side) with 2σ slack for the minhash estimator at the
    * threshold; pass 2 dedupes the estimate survivors and attaches
    * shingle sets for them alone, verifying with exact Jaccard. */
  /** Signature-estimate prune shared by [[verifyCandidates]] and the
    * prepared incremental path: keep candidate pairs whose minhash
    * agreement clears the 2-sigma margin below the threshold, deduped.
    * ONE definition — a margin tuning or join-shape change here reaches
    * both paths, which must never silently drift. */
  private def prunePairs(cands: DataFrame, sigOnly: DataFrame,
      numHashes: Int, threshold: Double): DataFrame = {
    val margin = 2 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val minAgree = math.ceil((threshold - margin) * numHashes).toInt
    cands
      .join(sigOnly.toDF("id_a", "sig_a"), "id_a")
      .join(sigOnly.toDF("id_b", "sig_b"), "id_b")
      .where(call_function("sig_agreement", col("sig_a"), col("sig_b"))
        >= minAgree)
      .select("id_a", "id_b")
      .distinct()
  }

  private def verifyCandidates(cands: DataFrame, sig: DataFrame,
      shT: DataFrame, numHashes: Int, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.registerKernels(sig.sparkSession)
    val sigOnly = sig.select(col("id"), col("sig"))
    val shOnly = shT.select(col("id"), col("sh"))
    prunePairs(cands, sigOnly, numHashes, threshold)
      .join(shOnly.toDF("id_a", "sh_a"), "id_a")
      .join(shOnly.toDF("id_b", "sh_b"), "id_b")
      .withColumn("jac",
        call_function("jaccard_sim", col("sh_a"), col("sh_b")))
      .where(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Brute-force all-pairs exact Jaccard (oracle/test path; O(n²) — only
    * for bounded inputs). */
  def exactJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleSize: Int = 2): DataFrame = {
    // Bounded baseline: both cross-join sides reference the same
    // repartitioned subplan, so the shingle pipeline is computed once via
    // exchange reuse (no cache to leak).
    graft.functions.GraftFunctions.registerKernels(docs.sparkSession)
    val sh = shingleTable(docs, textCol, idCol, shingleSize)
    val a = sh.toDF("id_a", "sh_a", "sz_a")
    val b = sh.toDF("id_b", "sh_b", "sz_b")
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("jaccard_sim", col("sh_a"), col("sh_b")).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** Connected components over a near-dup pair set — the canonical step
    * after pair generation: pairs merge transitively into clusters, and
    * every document gets `cluster_id` = the minimum reachable id (so the
    * cluster representative is the survivor a dedup keeps).
    *
    * Iterative min-label propagation: each round every vertex takes the
    * min label among itself and its neighbors — one shuffle per round on
    * the vertex id, nothing driver-side but a convergence count.
    * Converges in O(component diameter) rounds; near-dup clusters are
    * short-diameter in practice (dup groups are dense), and `maxIter`
    * guards pathological chains. Each round localCheckpoints the label
    * table: iterative self-joins otherwise double the lineage per round,
    * and superseded checkpoint blocks are GC'd by the ContextCleaner. At
    * cluster scale the same loop runs with reliable checkpointing; the
    * alternating large-star/small-star variant drops the round count to
    * O(log n) if diameters ever get long.
    *
    * @param vertices one column `id`
    * @param edges    columns `id_a`, `id_b` (undirected, any order)
    * @return (id, cluster_id)
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    // an edge endpoint missing from `vertices` would surface mid-loop
    // as a brand-new id the convergence check's inner join cannot see —
    // the loop can declare convergence the very round the id appears
    // with a non-minimal label, splitting one component into two
    // cluster_ids (for leakageSafeSplit that is a near-dup pair
    // straddling the train/test boundary). Refuse loudly, like
    // pageRank's spine check.
    val strayCc = sym.select(col("src").as("id"))
      .join(vertices.select(col("id")), Seq("id"), "left_anti")
    require(strayCc.isEmpty,
      "edges reference vertices missing from the vertex frame " +
        s"(e.g. ${if (strayCc.isEmpty) "" else strayCc.head.get(0)}) — " +
        "labels would be incorrect; pass every edge endpoint in vertices")
    var labels = vertices.select(col("id"), col("id").as("cluster_id"))
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val viaNeighbor = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("cluster_id"))
      val next = labels.union(viaNeighbor)
        .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint()
      // convergence = no label changed this round — an EXACT,
      // type-agnostic check. (The previous cast-to-DECIMAL label-sum
      // trick silently broke for non-numeric ids: the non-ANSI cast
      // returned NULL, every round summed to 0, and the loop declared
      // convergence after one propagation round with split clusters.)
      // Both sides are localCheckpointed, so this id-keyed join costs
      // the same class as the propagation join itself.
      converged = next
        .join(labels.withColumnRenamed("cluster_id", "__prev"), "id")
        .where(col("cluster_id") =!= col("__prev"))
        .isEmpty
      labels = next
      it += 1
    }
    // a silent non-converged return would hand back WRONG cluster labels
    // (long chains split into several clusters) and surface only as an
    // opaque oracle mismatch downstream — fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise maxIter or switch " +
          "to the large-star/small-star O(log n) variant")
    labels
  }

  /** 64-bit SimHash from a precomputed token-hash array: bit j of the
    * signature is set iff more than half the token hashes have bit j set.
    * Per-bit folds (no intermediate array allocation), no shuffle/UDF. */
  def simhash64FromHashes(hashes: Column): Column = {
    val n = size(hashes)
    val bits = (0 until 64).map { j =>
      val setCnt = aggregate(hashes, lit(0L),
        (acc, h) => acc + shiftright(h, j).bitwiseAND(lit(1L)))
      when(setCnt * 2 > n, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** 64-bit SimHash over word tokens. Prefer materializing the token-hash
    * array once (withColumn) and calling [[simhash64FromHashes]] when the
    * plan reuses it. */
  def simhash64(text: Column): Column =
    // trim like every other tokenizer in this file: leading/trailing
    // whitespace would inject an empty token whose hash bits perturb
    // the signature far beyond maxHamming for otherwise-equal docs
    simhash64FromHashes(transform(split(lower(trim(text)), "\\s+"),
      w => xxhash64(w)))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: block on `maxHamming + 1` bit chunks —
    * the pigeonhole bound: a pair within Hamming distance `maxHamming`
    * differs in at most `maxHamming` chunks, so at least one of the
    * `maxHamming + 1` chunks is IDENTICAL and the chunk join recalls the
    * pair. (A fixed 4-chunk split — the previous shape — only guarantees
    * recall for distance ≤ 3 and silently missed farther pairs when the
    * caller raised the threshold.) Distance verified exactly after the
    * join. `maxHamming ≤ 15` keeps every chunk ≥ 4 bits wide so chunk
    * buckets stay selective.
    *
    * Scale bound: at the default maxHamming=3 each chunk is 16 bits, so
    * there are only 4 × 65536 buckets — at ~1e9+ docs the AVERAGE bucket
    * exceeds the default maxBucket even without degeneracy, and the
    * overflow guard starts dropping healthy buckets (losing recall).
    * At that corpus size raise `maxBucket` (pair volume grows with
    * bucket² — budget accordingly) or prefer banded MinHash
    * ([[nearDupPairs]]), whose bucket keyspace scales with the signature
    * content rather than a fixed chunk width. */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket,
      cleanChunks: Int = 1): DataFrame =
    hammingNearDups64(simhashSignatures(docs, textCol, idCol),
      maxHamming, maxBucket, cleanChunks)

  /** SimHash signature table (id, sig LONG) — the persistable artifact
    * [[simhashNearDupsIncremental]] probes per ingest batch (the
    * SimHash analog of [[signatureTable]]; 8 bytes per doc). */
  def simhashSignatures(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    graft.functions.GraftFunctions.registerKernels(docs.sparkSession)
    docs
      .select(col(idCol).as("id"),
        transform(split(lower(trim(col(textCol))), "\\s+"),
          w => xxhash64(w))
          .as("hs"))
      // explicit count for the same reason as shingleTable: the
      // exchange buys CPU parallelism for the simhash kernel, and
      // byte-based AQE coalescing would serialize it — floored over
      // cores, growing with input bytes ([[cpuPartitions]])
      .repartition(cpuPartitions(docs), col("id"))
      .select(col("id"), call_function("simhash64", col("hs")).as("sig"))
  }

  /** [[simhashNearDups]] against a PERSISTED corpus signature table —
    * the ingest shape: only the delta is hashed per batch, the corpus
    * rides as stored 8-byte signatures, and only delta-touching pairs
    * emit ([[hammingNearDups64Incremental]]). Append the delta's
    * signatures to the artifact after reporting. */
  def simhashNearDupsIncremental(corpusSig: DataFrame, delta: DataFrame,
      textCol: String, idCol: String, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket, cleanChunks: Int = 1): DataFrame =
    hammingNearDups64Incremental(corpusSig,
      simhashSignatures(delta, textCol, idCol),
      maxHamming, maxBucket, cleanChunks)

  /** Pairs of 64-bit signatures within Hamming distance `maxHamming` —
    * the chunk-blocking tail shared by [[simhashNearDups]] (text SimHash)
    * and [[Multimodal.imageNearDups]] (perceptual image hashes): any
    * 64-bit fingerprint family whose similarity contract is "few bits
    * differ" blocks the same way. `sigs` must have exactly the columns
    * (id: integral, sig: LONG). Same pigeonhole recall guarantee,
    * degenerate-bucket cap, and exact post-join verify as documented
    * above.
    *
    * `cleanChunks` picks the blocking key (the multi-index-hashing
    * generalization, Norouzi et al. 2012): with `maxHamming +
    * cleanChunks` chunks, a pair within distance `maxHamming` has at
    * least `cleanChunks` IDENTICAL chunks — so blocking on every
    * `cleanChunks`-subset of chunk indexes keeps the recall guarantee
    * while raising the key space by a power. cleanChunks = 1 is the
    * plain pigeonhole: cheapest explode (n rows/sig), but the per-chunk
    * keyspace is only 2^(64/n) — at maxHamming 6 that is 9-bit chunks,
    * 7 × 512 buckets total, and a few hundred thousand structured
    * images (shared template regions → shared chunks) push the AVERAGE
    * bucket past `maxBucket`: measured on the 30× rehearsal fixture,
    * 68% of chunk rows sat in capped-and-dropped buckets — silent
    * recall collapse. cleanChunks = 2 blocks on chunk PAIRS — key space
    * squares (~65k per index pair at maxHamming 6) for a C(n,2)-row
    * explode (28 vs 7 at maxHamming 6), and only populations agreeing
    * on TWO chunks at once — genuine near-dup mass — can still
    * saturate a bucket. Loose thresholds (≥ ~4) on clusterable
    * fingerprint families (images, audio) want 2; tight thresholds on
    * wide chunks (text SimHash at 3 → 16-bit chunks) stay fine at 1. */
  def hammingNearDups64(sigs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket, cleanChunks: Int = 1): DataFrame = {
    require(sigs.columns.length == 2,
      s"sigs must be exactly (id, sig), got ${sigs.columns.mkString(",")}")
    hammingCore64(sigs.toDF("id", "sig").withColumn("d", lit(1)),
      maxHamming, maxBucket, cleanChunks)
  }

  /** [[hammingNearDups64]] against a PERSISTED corpus signature table —
    * the ingest-batch shape shared with [[incrementalNearDupsPrepared]]:
    * the corpus side's signatures were computed once (for multimodal
    * fingerprints that means the corpus was DECODED once) and only the
    * delta's signatures are fresh. Emits only pairs with at least one
    * delta member — corpus-internal pairs were already reported when
    * their batch arrived, so they drop inside the bucket explode before
    * anything shuffles. Same pigeonhole recall, degenerate-bucket cap,
    * and exact verify as the batch path; parameters must match the ones
    * the corpus was built with. Both inputs must be exactly (id, sig).
    * @return (id_a, id_b, dist) with id_a or id_b ∈ delta */
  def hammingNearDups64Incremental(corpusSig: DataFrame,
      deltaSig: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket, cleanChunks: Int = 1): DataFrame = {
    require(corpusSig.columns.length == 2 && deltaSig.columns.length == 2,
      "corpusSig and deltaSig must be exactly (id, sig)")
    requireHammingParams(maxHamming, cleanChunks)
    // checkpointed: consumed twice (its bucket-key set + the pair
    // core), and the delta side may carry a decode (imageHashes)
    // worth running once
    val delta = deltaSig.toDF("id", "sig").localCheckpoint(false)
    // Bucket-prune the corpus BEFORE the blocking shuffle: a pair only
    // ever forms inside one shared bucket, so corpus rows in buckets
    // the DELTA does not occupy are dead weight. The delta's occupied
    // bucket set is tiny (|delta| × #keys) — broadcast it and the
    // corpus-side keyed rows are filtered MAP-SIDE, so the per-batch
    // exchange carries only the delta's collision neighborhood, not
    // the corpus. (Prune selectivity is the bucket keyspace ratio:
    // strong for chunk-PAIR keys — ~65k values per index — weaker for
    // the 1-chunk narrow-key regime where a small delta can occupy
    // most of a 6-bit chunk's buckets.) Exact at the bucket level:
    // capped buckets see the same delta-bucket membership either way.
    val keyed: DataFrame => DataFrame = df =>
      df.select(col("id"), col("sig"), col("d"), posexplode(array(
        chunkKeys64(col("sig"), maxHamming, cleanChunks): _*)))
        .toDF("id", "sig", "d", "chunk_idx", "chunk")
    val deltaKeyed = keyed(delta.withColumn("d", lit(1)))
    val deltaBuckets = deltaKeyed.select(col("chunk_idx"), col("chunk"))
      .distinct()
    val corpusKeyed = keyed(corpusSig.toDF("id", "sig")
        .withColumn("d", lit(0)))
      .join(broadcast(deltaBuckets), Seq("chunk_idx", "chunk"),
        "left_semi")
    pairsFromKeyed(corpusKeyed.unionByName(deltaKeyed),
      maxHamming, maxBucket)
  }

  /** Shared chunk-blocking kernel: input is (id, sig, d) where d = 1
    * marks rows whose pairs should be emitted (batch mode marks
    * everything; incremental marks the delta). The d-filter runs inside
    * the bucket explode — map-side, before the distinct's shuffle. */
  private def requireHammingParams(maxHamming: Int, cleanChunks: Int)
      : Unit = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming — above 15 the " +
        "64-bit signature's chunks get too narrow to block on; use " +
        "banded MinHash (nearDupPairs) for looser similarity")
    require(cleanChunks == 1 || cleanChunks == 2,
      s"cleanChunks must be 1 or 2, got $cleanChunks")
  }

  /** The blocking-key columns for a 64-bit signature under the given
    * (maxHamming, cleanChunks) — shared by the batch/incremental core
    * and the persisted bucket artifact, so a streaming probe keys
    * exactly like the table it probes. */
  private[graft] def chunkKeys64(sig: Column, maxHamming: Int,
      cleanChunks: Int): Seq[Column] = {
    val nChunks = maxHamming + cleanChunks
    // chunk i covers bits [i*64/n, (i+1)*64/n) — as even as possible
    val chunkCols = (0 until nChunks).map { c =>
      val loBit = c * 64 / nChunks
      val width = (c + 1) * 64 / nChunks - loBit
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftright(sig, loBit).bitwiseAND(lit(mask))
    }
    // blocking keys in a fixed order, so posexplode's position IS the
    // key index: single chunks, or every (i < j) chunk pair with the
    // two chunk values packed into one LONG (each chunk ≤ 32 bits for
    // n ≥ 2, so two always fit without collision)
    if (cleanChunks == 1) chunkCols
    else
      for {
        i <- 0 until nChunks; j <- (i + 1) until nChunks
      } yield {
        val widthJ = (j + 1) * 64 / nChunks - j * 64 / nChunks
        shiftleft(chunkCols(i), widthJ).bitwiseOR(chunkCols(j))
      }
  }

  /** Persisted chunk-key bucket table for STREAMING Hamming near-dup
    * probes ([[graft.streaming.EventStreams.hammingNearDupStream]]):
    * one row per (corpus signature, blocking key), carrying the
    * signature for the exact post-join verify — the Hamming analog of
    * [[signatureBuckets]]. Parameters must match the stream side.
    *
    * DEGENERATE buckets (a boilerplate chunk value shared by a huge
    * corpus slice — e.g. an all-zero chunk from uniform image borders)
    * are DROPPED at build time when they exceed `maxBucket` members:
    * the stateless stream probe has no per-batch cap, so one such
    * bucket would join every probing row against the whole slice (the
    * quadratic blow-up the batch/incremental paths cap inside
    * [[graft.functions.CappedCollect]]). Dropping matches the batch
    * semantics (over-cap buckets contribute NO pairs there either); a
    * true near-dup sharing ONLY a degenerate key is missed on all
    * paths alike — the documented banded-blocking recall tradeoff.
    * @return (corpus_id, c_sig, chunk_idx, chunk) */
  def hammingBuckets64(sigs: DataFrame, maxHamming: Int = 3,
      cleanChunks: Int = 1,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireHammingParams(maxHamming, cleanChunks)
    require(sigs.columns.length == 2,
      s"sigs must be exactly (id, sig), got ${sigs.columns.mkString(",")}")
    val keyed = sigs.toDF("id", "sig")
      .select(col("id").as("corpus_id"), col("sig").as("c_sig"),
        posexplode(array(
          chunkKeys64(col("sig"), maxHamming, cleanChunks): _*)))
      .toDF("corpus_id", "c_sig", "chunk_idx", "chunk")
    // one artifact-build-time shuffle (the table is built once, probed
    // every batch); the anti-join keys are 8-byte (idx, chunk) pairs
    val overCap = keyed.groupBy(col("chunk_idx"), col("chunk"))
      .agg(count(lit(1)).as("__n")).where(col("__n") > maxBucket)
      .drop("__n")
    keyed.join(overCap, Seq("chunk_idx", "chunk"), "left_anti")
  }

  private def hammingCore64(sig: DataFrame, maxHamming: Int,
      maxBucket: Int, cleanChunks: Int): DataFrame = {
    requireHammingParams(maxHamming, cleanChunks)
    pairsFromKeyed(
      sig.select(col("id"), col("sig"), col("d"),
        posexplode(array(
          chunkKeys64(col("sig"), maxHamming, cleanChunks): _*)))
        .toDF("id", "sig", "d", "chunk_idx", "chunk"),
      maxHamming, maxBucket)
  }

  /** [[hammingNearDups64Incremental]] against a PERSISTED
    * [[hammingBuckets64]] bucket table — the INDEX-SERVED ingest shape:
    * the corpus's keyed rows live on disk (write them
    * `sortWithinPartitions("chunk_idx", "chunk")` so parquet row-group
    * stats can prune), the delta's occupied bucket keys are
    * driver-collected (bounded: |delta| × #keys 8-byte values) and
    * pushed into the scan as an `(chunk_idx, chunk) IN` predicate, so
    * a batch probe can skip non-colliding row groups without scanning
    * the corpus. Measured tradeoff (SCALE.md, 30× rehearsal): the
    * bucket table is #keys× larger than the signature table (28× at
    * maxHamming 6 / cleanChunks 2), and pruning only bites when a row
    * group's chunk span is NARROW relative to the probe key density —
    * at the rehearsal scale each ~128 MB row group spanned ~16k of the
    * 65k chunk values, nearly every group survived the probe, and this
    * path measured SLOWER than [[hammingNearDups64Incremental]]'s
    * compact-sig scan + broadcast bucket prune. Prefer this form only
    * when the corpus is large enough (or row groups small enough) that
    * per-group key spans are dense — billions of fingerprints with
    * page-index-sized groups — and measure first.
    * Same pair semantics (delta-touching only, capped buckets, exact
    * verify); parameters must match the bucket build.
    * @param corpusBuckets (corpus_id, c_sig, chunk_idx, chunk) */
  def hammingNearDups64Indexed(corpusBuckets: DataFrame,
      deltaSig: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket, cleanChunks: Int = 1): DataFrame = {
    requireHammingParams(maxHamming, cleanChunks)
    require(deltaSig.columns.length == 2,
      "deltaSig must be exactly (id, sig)")
    val delta = deltaSig.toDF("id", "sig").localCheckpoint(false)
    val deltaKeyed = delta.withColumn("d", lit(1))
      .select(col("id"), col("sig"), col("d"), posexplode(array(
        chunkKeys64(col("sig"), maxHamming, cleanChunks): _*)))
      .toDF("id", "sig", "d", "chunk_idx", "chunk")
    // per-index IN lists → Or(And(chunk_idx = i, chunk In (...)))
    // — a shape the parquet filter translator pushes down whole, so
    // sorted bucket files prune at the row-group level
    val keys = deltaKeyed.select(col("chunk_idx"), col("chunk"))
      .distinct().collect()
      .groupBy(_.getInt(0)).map { case (ki, rs) =>
        (col("chunk_idx") === ki) &&
          col("chunk").isInCollection(rs.map(_.getLong(1)).toSeq)
      }.toSeq
    val cand =
      if (keys.isEmpty) corpusBuckets.limit(0)
      else corpusBuckets.where(keys.reduce(_ || _))
    pairsFromKeyed(
      cand.select(col("corpus_id").as("id"), col("c_sig").as("sig"),
          lit(0).as("d"), col("chunk_idx"), col("chunk"))
        .unionByName(deltaKeyed),
      maxHamming, maxBucket)
  }

  /** The bucket-collect + in-bucket pair explode over pre-keyed rows
    * (id, sig, d, chunk_idx, chunk) — shared by the batch core and the
    * bucket-pruned incremental path. */
  private def pairsFromKeyed(chunked0: DataFrame, maxHamming: Int,
      maxBucket: Int): DataFrame = {
    // ONE (chunk_idx, chunk)-keyed shuffle, same shape as bandedPairs:
    // each bucket's sorted (id, sig) list explodes into its pairs via
    // nested transforms — no two-sided self-join exchange, and the
    // degenerate-bucket guard (a narrow chunk shared by boilerplate/empty
    // texts would go quadratic) is a free size() filter on the collected
    // list instead of a separate aggregate+join. Signatures ride the
    // bucket rows (8 bytes each), so the Hamming check AND the delta
    // mark run map-side on the exploded stream before anything else
    // shuffles.
    chunked0.groupBy(col("chunk_idx"), col("chunk"))
      .agg(sort_array(
        cappedCollect(struct(col("id"), col("sig"), col("d")), maxBucket))
        .as("xs"))
      .where(col("xs").isNotNull && size(col("xs")) >= 2)
      .select(explode(flatten(transform(col("xs"), (a, i) =>
        filter(
          transform(slice(col("xs"), i + 2, size(col("xs"))), b =>
            struct(a.getField("id").as("id_a"),
              b.getField("id").as("id_b"),
              hamming64(a.getField("sig"), b.getField("sig")).as("dist"),
              (a.getField("d") === 1 || b.getField("d") === 1)
                .as("keep"))),
          // filter BEFORE the dedup: Hamming check and delta mark are
          // deterministic per pair, so far-apart / corpus-internal
          // chunk-sharing pairs drop here instead of riding the
          // distinct()'s shuffle
          p => p.getField("keep") && p.getField("dist") <= maxHamming))))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.dist"))
      .distinct()
  }

  /** Corpus version diff — the release-engineering report between two
    * corpus snapshots: per doc id, whether it was added, removed, kept
    * unchanged, or content-changed (md5 digest compare, so the join
    * carries 16-byte digests, never text). ONE id-keyed full outer
    * join; at 100 TB both sides shuffle once on the id and the digest
    * compare is map-side. Summary counts derive downstream with a tiny
    * aggregate.
    *
    * @return (doc_id, status ∈ added|removed|changed|unchanged) */
  def corpusDiff(oldV: DataFrame, newV: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    // explicit presence markers: a NULL-text doc has a NULL digest, so
    // keying presence on digest nullness would misread it as absent
    // ("added"/"removed" for a doc present on both sides); the
    // null-safe <=> compare then classifies NULL-vs-NULL as unchanged
    val o = oldV.select(col(idCol).as("doc_id"),
      graft.functions.GraftFunctions.md5Hex(col(textCol)).as("old_fp"),
      lit(true).as("in_old"))
    val n = newV.select(col(idCol).as("doc_id"),
      graft.functions.GraftFunctions.md5Hex(col(textCol)).as("new_fp"),
      lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(!(col("old_fp") <=> col("new_fp")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, then
    * keep the MINIMUM hash of each w-wide window of consecutive
    * k-grams. The guarantee: any shared run of w + k - 1 words between
    * two documents shares at least one selected fingerprint, while the
    * selected set is ~2/(w+1) of all grams — position-robust overlap
    * detection at a fraction of the full-gram cost.
    *
    * Hashes are the first 8 hex chars of md5(gram) compared as STRINGS
    * (binary order) — engine-portable with no hex→int conversion, and
    * the window minimum is `array_min` over the slice. All scan-local
    * (tokenize → transform → windows → explode distinct); the only
    * shuffle is the output distinct. Docs with fewer than w k-grams
    * are dropped (no full window — standard winnowing domain).
    *
    * @return (doc, fp) distinct selected fingerprints per document */
  def winnowingFingerprints(df: DataFrame, textCol: String,
      idCol: String, k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val words = split(lower(trim(col(textCol))), "\\s+")
    df.select(col(idCol).as("doc"), words.as("ws"))
      .where(size(col("ws")) >= k + w - 1)
      .select(col("doc"), transform(
        sequence(lit(1), size(col("ws")) - (k - 1)),
        i => substring(graft.functions.GraftFunctions.md5Hex(
          array_join(slice(col("ws"), i, lit(k)), " ")),
          1, 8)).as("fps"))
      .select(col("doc"), explode(transform(
        sequence(lit(1), size(col("fps")) - (w - 1)),
        i => array_min(slice(col("fps"), i, lit(w))))).as("fp"))
      .distinct()
  }

  /** Pairwise fingerprint overlap (the MOSS report): how many winnowed
    * fingerprints each document pair shares. The join key is the
    * fingerprint, so cost scales with per-fp document-list sizes, not
    * n² — but a fingerprint shared by EVERYTHING (boilerplate) would
    * still go quadratic, so fps above `maxDocsPerFp` drop with the
    * same degenerate-bucket contract as the LSH paths (a fingerprint
    * in half the corpus identifies boilerplate, not copying). */
  def winnowingOverlap(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4,
      maxDocsPerFp: Int = DefaultMaxBucket): DataFrame = {
    val fp = winnowingFingerprints(df, textCol, idCol, k, w)
    val small = fp.groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .where(col("n") <= maxDocsPerFp).select(col("fp"))
    val kept = fp.join(small, "fp")
    val a = kept.toDF("fp", "id_a")
    val b = kept.toDF("fp", "id_b")
    a.join(b, "fp").where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
