package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table shape (surplus vs
  * the reference — Phoenix has no continuous-query engine, SURVEY.md §2.9;
  * its CDC polling maps to GraftCatalog.cdcStream).
  *
  * Standard patterns: watermarked tumbling-window aggregation and
  * stateful sessionization — both shuffle on (window, key)/(key) and run
  * with bounded state, so they hold on a real cluster.
  */
object EventStreams {

  /** Pass-through streams append gate-OWNED output columns to the input
    * row; an input column with one of those names would emit duplicate/
    * ambiguous columns downstream (or be silently clobbered by
    * withColumn). One guard for all of them: drop the colliding input
    * columns with a loud warning — rename before the gate to keep the
    * originals. Comparison is CASE-INSENSITIVE to match Spark's default
    * resolver (spark.sql.caseSensitive=false): an input `CLEAN_TEXT` is
    * just as ambiguous against the gate's `clean_text` as an exact-case
    * clash. */
  private def guardReserved(fn: String, cols: Seq[String],
      reserved: Set[String]): Seq[String] = {
    val resLc = reserved.map(_.toLowerCase(java.util.Locale.ROOT))
    val (collisions, passthrough) =
      cols.partition(c => resLc.contains(c.toLowerCase(java.util.Locale.ROOT)))
    if (collisions.nonEmpty) System.err.println(
      s"[graft-stream] $fn drops input column(s) " +
        s"${collisions.mkString(", ")}: the gate owns these output " +
        "names — rename them before the gate to keep the originals")
    passthrough
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window counts/sums per event type with late-data handling. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // (28,2), not (12,2): a value >= 1e10 would cast to NULL (or
        // crash under ANSI) and silently vanish from the sum while n
        // still counted the row
        sum(col("value").cast(DecimalType(28, 2))).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup for ingest pipelines: one surviving row per
    * content fingerprint, with bounded state — the watermark lets Spark
    * drop fingerprint state older than the lateness horizon, so this
    * holds on an unbounded stream (the batch analog is
    * [[graft.operators.Dedup.exactDedup]]). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.toArray)

  /** Streaming blocklist filter for ingest: drop stream rows whose key
    * appears in a STATIC blocklist — a stream-static left-anti join, the
    * stateless pattern (no watermark, no state store; the static side is
    * re-read per micro-batch, so blocklist updates take effect on the
    * next trigger). The batch analog with the Bloom prefilter is
    * [[graft.operators.Membership.bloomSemiJoin]]; a broadcast hint keeps
    * the blocklist off the shuffle path — a list too big to broadcast
    * should be folded to a Bloom filter column instead. */
  def blocklistFilterStream(events: DataFrame, blocked: DataFrame,
      keyCol: String): DataFrame =
    events.join(broadcast(blocked.select(col(keyCol)).distinct()),
      Seq(keyCol), "left_anti")

  /** Streaming bad-words filter for document ingest: drop stream rows
    * whose text contains ANY blocklist phrase — the Aho-Corasick
    * matcher ([[graft.operators.TextAnalysis.containsAnyPhrase]]) is a
    * stateless scan-local expression, so it runs identically per
    * micro-batch (no state store, no watermark) and costs one automaton
    * pass per row regardless of list size. */
  def phraseFilterStream(docs: DataFrame, textCol: String,
      phrases: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.registerKernels(docs.sparkSession)
    // lowercase BOTH sides through the SAME mapping Spark's lower()
    // applies at runtime (UTF8String.toLowerCase) — a Locale.ROOT
    // driver-side lowering could disagree with the executor's default-
    // locale mapping on non-ASCII text and let blocked content slip
    // through. NULL text contains no phrases — keep it (the bare
    // predicate is NULL for NULL text and where() would silently drop
    // the row as if it matched).
    val lowered = phrases.map(p =>
      org.apache.spark.unsafe.types.UTF8String.fromString(p)
        .toLowerCase.toString)
    docs.where(col(textCol).isNull ||
      !graft.operators.TextAnalysis.containsAnyPhrase(
        lower(trim(col(textCol))), lowered))
  }

  /** Streaming exact-dedup ingest gate: an arriving doc is dropped if
    * its normalized-text fingerprint already exists in the corpus
    * FINGERPRINT table (stream-static anti join — the static side is
    * the same persisted artifact batch incremental dedup keys on, and
    * can be any size) or appeared earlier in the stream inside the
    * watermark (`dropDuplicatesWithinWatermark` on the fingerprint —
    * bounded state, expiring with event time). Survivors are exactly
    * the docs a subsequent batch dedup would keep, so the corpus never
    * ingests a known duplicate in the first place. */
  def dedupIngestStream(docs: DataFrame, textCol: String,
      tsCol: String, corpusFps: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val kept = guardReserved("dedupIngestStream",
      docs.columns.toSeq, Set("fp")).toSet
    docs.select(docs.columns.filter(kept).map(col).toSeq: _*)
      .withColumn("fp", graft.operators.Dedup.fingerprint(col(textCol)))
      .join(corpusFps.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Streaming windowed active-user counts: watermarked tumbling
    * windows × approx_count_distinct(user) — the live form of the
    * engagement rollup's distinct-user series. The HLL++ aggregate is
    * mergeable, so state per window is ONE fixed-size sketch however
    * many events arrive (an exact streaming COUNT(DISTINCT) would hold
    * every user id in the state store — unbounded); the estimate is
    * deterministic for given data, so the stream agrees with the batch
    * form exactly (pinned in CatalogSpec). */
  def windowedActiveUsers(events: DataFrame, userCol: String,
      tsCol: String, windowLen: String = "1 hour",
      watermark: String = "2 hours", rsd: Double = 0.02): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(approx_count_distinct(col(userCol), rsd).as("active_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"),
        col("active_users"), col("n_events"))

  /** Streaming document-curation pass for live ingest: Unicode
    * normalization → C4 line/document cleaning → language ID →
    * Aho-Corasick blocklist, composed ENTIRELY from stateless
    * scan-local kernels — it runs identically per micro-batch (no
    * state store, no watermark; the batch form over the same rows is
    * bit-identical, which the stream-vs-batch test pins). This is the
    * live-ingest form of the batch curation pipeline: each arriving
    * doc is repaired, cleaned, and gated before it ever lands in the
    * corpus, so downstream dedup sees canonical text. NULL-text rows
    * drop (nothing to curate — unlike the blocklist filter, whose
    * output rows ARE the input rows). */
  def curateStream(docs: DataFrame, textCol: String, idCol: String,
      phrases: Seq[String], minSentences: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.registerKernels(docs.sparkSession)
    import graft.operators.TextAnalysis
    // same lower() parity as phraseFilterStream
    val lowered = phrases.map(p =>
      org.apache.spark.unsafe.types.UTF8String.fromString(p)
        .toLowerCase.toString)
    // input columns PASS THROUGH (like lineFilterStream): the gate
    // chains into the dedup ingest gate, which needs the event-time
    // column for its watermark — dropping it here broke the documented
    // composition with an UNRESOLVED_COLUMN at the next stage
    val passthrough0 = docs.columns.filterNot(c =>
      c == idCol || c == textCol).toSeq
    // the gate OWNS these output names (idCol is aliased to "id"):
    // corpora routinely arrive with their own `lang`; the gate's fresh
    // value supersedes it — see guardReserved
    val passthrough = guardReserved("curateStream", passthrough0,
      Set("id", "clean_text", "n_sentences", "lang", "blocked", "keep",
        "has_lorem", "has_brace", "c4"))
    docs
      .where(col(textCol).isNotNull)
      // struct projected ONCE, fields picked in the next select — the
      // repeated-getField form would re-run the kernel per column if
      // subexpression elimination is off for the plan shape
      .select(col(idCol).as("id") +: passthrough.map(col) :+
        call_function("c4_line_stats",
          TextAnalysis.normalizeText(col(textCol))).as("c4"): _*)
      .select(col("id") +: passthrough.map(col) ++: Seq(
        col("c4.clean_text").as("clean_text"),
        col("c4.n_sentences").as("n_sentences"),
        col("c4.has_lorem").as("has_lorem"),
        col("c4.has_brace").as("has_brace")): _*)
      .withColumn("lang", TextAnalysis.langId(col("clean_text")))
      .withColumn("blocked", TextAnalysis.containsAnyPhrase(
        lower(col("clean_text")), lowered))
      .withColumn("keep", col("n_sentences") >= minSentences &&
        !col("has_lorem") && !col("has_brace") && !col("blocked"))
  }

  /** Streaming boilerplate-line filter for live ingest — the streaming
    * form of CCNet line dedup ([[graft.operators.Dedup.lineDedup]]):
    * each arriving document drops every line whose 64-bit hash is in
    * the corpus boilerplate set (the >= minDocFreq survivors of
    * [[graft.operators.Dedup.lineFreqTable]]).
    *
    * The boilerplate set ships ONCE per task in the UDF closure and is
    * probed as an O(1) hash set per line, so the stream is completely
    * STATELESS — no state store, no watermark, no per-line explode/
    * re-group (a streaming groupBy to reassemble documents would need
    * watermarked state for zero semantic gain; the document is already
    * whole in its row). The UDF reproduces `xxhash64` bit-for-bit
    * (XXH64 over UTF-8 bytes, seed 42), so per micro-batch the output
    * is identical to the batch rebuild against the same set. A NULL
    * document coalesces to '' before splitting — the batch path never
    * emits NULL `text_clean` for its inputs, and neither does this.
    *
    * Bounded by `maxBoiler`: boilerplate is the tiny head of the line
    * frequency distribution by construction (lines repeated across >=
    * minDocFreq documents); the bound caps DRIVER memory for the
    * collected set — probe cost per line is O(1) regardless. For sets
    * beyond driver comfort, switch to a stream-static anti join on
    * exploded lines plus a watermarked re-group, and accept the state
    * cost.
    *
    * Input columns pass through unchanged (so the filter chains with
    * the dedup ingest gate, which needs the event-time column for its
    * watermark), with `n_lines` / `n_kept` / `text_clean` appended.
    *
    * @param boiler boilerplate line hashes, column `lk` (e.g.
    *               `lineFreqTable(...).where($"df" >= minDocFreq)`)
    * @return input rows + (n_lines, n_kept, text_clean)
    */
  def lineFilterStream(docs: DataFrame, boiler: DataFrame,
      textCol: String, sep: String = "\n",
      maxBoiler: Int = 100000): DataFrame = {
    val hs = boiler.select(col("lk")).limit(maxBoiler + 1)
      .collect().map(_.getLong(0))
    require(hs.length <= maxBoiler,
      s"boilerplate set exceeds maxBoiler=$maxBoiler entries; use the " +
        "stream-static join form instead of the in-closure set")
    // codegen'd literal-probe kernel (sorted-array binary search, one
    // reference object per plan) — the Scala udf it replaced was the
    // last serialized-closure hot loop in src/main; same hash (XXH64
    // seed 42 over UTF-8 bytes) as the batch lineFreqTable keys, so
    // stream and batch agree bit-for-bit
    val kernel = new graft.functions.LineBlocklistKernel(hs, sep)
    val clean = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.graftbridge.ColumnBridge.toColumn(
        graft.functions.LineBlocklistFilter(
          org.apache.spark.sql.graftbridge.ColumnBridge.toExpression(c),
          kernel))
    // drop (with a warning) input columns the filter owns — withColumn
    // would silently CLOBBER them otherwise (same hazard class as
    // curateStream's duplicate columns, different failure mode). The
    // text column itself is exempt: naming it `text_clean` just means
    // the cleaned text replaces the raw in place, which is coherent.
    val kept = guardReserved("lineFilterStream",
      docs.columns.toSeq.filterNot(_ == textCol),
      Set("n_lines", "n_kept", "text_clean", "__c")).toSet + textCol
    docs.select(docs.columns.filter(kept).map(col).toSeq: _*)
      .withColumn("__c", clean(coalesce(col(textCol), lit(""))))
      .withColumn("n_lines", col("__c.n_lines"))
      .withColumn("n_kept", col("__c.n_kept"))
      .withColumn("text_clean", col("__c.text_clean"))
      .drop("__c")
  }

  /** Streaming near-duplicate detection for document ingest: each
    * incoming doc's MinHash signature is banded with the SAME bucketing
    * as the batch LSH paths and joined stream-static against a PERSISTED
    * corpus bucket table ([[graft.operators.Dedup.signatureBuckets]]);
    * band collisions are verified with EXACT Jaccard against the corpus
    * shingles riding the bucket rows. Emits (id, corpus_id, jac)
    * match pairs — the ingest decision (quarantine, drop, upsert) lives
    * in the sink, which is where a production pipeline makes it.
    *
    * Stateless by construction: per-doc signature/banding are scan-local
    * expressions and the join is stream-static, so no watermark or state
    * store is involved and the corpus can be arbitrarily large (it is a
    * static table, shuffled or broadcast by the planner per batch).
    * A pair that collides in several bands is emitted once per agreeing
    * band — dedupe in the sink (`dropDuplicates` inside foreachBatch)
    * if multiplicity matters; a stateful stream-level distinct would
    * need unbounded state for no semantic gain.
    *
    * @param corpusBuckets [[graft.operators.Dedup.signatureBuckets]]
    *   output (corpus_id, c_sh, band, bucket); shingle/hash parameters
    *   must match this call's
    */
  def nearDupPairsStream(docs: DataFrame, corpusBuckets: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      shingleSize: Int = 2, numHashes: Int = 32,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    graft.functions.GraftFunctions.registerKernels(docs.sparkSession)
    docs
      .withColumn("sh", call_function("word_shingles",
        split(lower(trim(col(textCol))), "\\s+"), lit(shingleSize)))
      .where(size(col("sh")) > 0)
      .withColumn("sig",
        call_function("minhash_signature", col("sh"), lit(numHashes)))
      .select(col(idCol).as("id"), col("sh"),
        posexplode(graft.operators.Dedup.bandBucketArray(
          col("sig"), bands, r)))
      .toDF("id", "sh", "band", "bucket")
      .join(corpusBuckets, Seq("band", "bucket"))
      .withColumn("jac",
        call_function("jaccard_sim", col("sh"), col("c_sh")))
      .where(col("jac") >= threshold)
      .select(col("id"), col("corpus_id"), col("jac"))
  }

  /** Maintain an MV FROM A STREAM, either kind: each micro-batch
    * upserts into the catalog `table` and folds ONE incremental
    * [[graft.operators.Materialize.refresh]] of the state at `mvPath`
    * — the ingest-time form of the IVM loop the batch entries pin, and
    * the 100-TB dashboard shape when the state is bucket-manifested
    * (`build(..., buckets = B)`: per-batch write cost is
    * touched-buckets-sized) and/or sketch-valued (`sketches = col ->
    * k`: distinct counts serve from KBs of state). For a join MV
    * (`table` is any table of its chain) the fold also absorbs
    * out-of-band writes to the OTHER tables since the last batch: the
    * refresh reads every change log's high-water mark, so a dimension
    * mutated between micro-batches lands in the same fold,
    * delta-bounded on every leg. Build the state FIRST; this attaches
    * the maintenance loop — set trigger/checkpoint on the returned
    * writer and `.start()`.
    *
    * Exactly-once: upsert + refresh are two non-atomic writes, but the
    * pair is self-healing — a crash between them is absorbed by the
    * next refresh (the high-water marks make refresh idempotent over
    * unfolded versions), and a REPLAYED micro-batch re-upserts the
    * same rows under a new version, which the refresh folds as
    * value-identical updates (pre-image retraction + identical post:
    * a no-op per group, through the join too). Single maintainer per
    * MV path, same as [[graft.operators.Materialize.refresh]]. */
  def maintainAggregate(stream: DataFrame,
      cat: graft.sources.GraftCatalog, table: String, mvPath: String,
      derive: DataFrame => DataFrame =
        graft.operators.Materialize.NoDerive)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      cat.upsert(table, b)
      graft.operators.Materialize.refresh(cat, mvPath, derive)
      ()
    }

  /** Streaming ANN candidate generation against a PERSISTED IVF cell
    * table ([[graft.operators.Similarity.ivfIndex]] — build once,
    * extend per ingest batch with `ivfAppend`): each query vector
    * soft-probes its TWO nearest cells (the same fused `ivf_cells`
    * kernel the batch paths use) and joins only those cells' vectors,
    * scoring exact cosine on the candidates. Stateless stream-static
    * equi-join on the cell id — no watermark or state store, and the
    * per-batch scan cost is the probed cells' share of the corpus, not
    * the corpus. A candidate emits once (corpus vectors are
    * hard-assigned to one cell). Top-k per query is a sink-side
    * concern (a global per-query sort inside the stream would need
    * state).
    * @param queries streaming (qid, qv) rows
    * @param cells   persisted (id, v, cell) assignment table
    * @return (qid, id, sim ≥ minSim), self-matches dropped */
  def annCandidatesStream(queries: DataFrame,
      centroids: Array[(Int, Array[Double])], cells: DataFrame,
      minSim: Double = 0.0): DataFrame = {
    graft.functions.GraftFunctions.registerKernels(queries.sparkSession)
    val dim = centroids.head._2.length
    val flat = centroids.sortBy(_._1).flatMap(_._2).toSeq
    queries.toDF("qid", "qv")
      .select(col("qid"), col("qv"),
        explode(call_function("ivf_cells",
          col("qv"), typedlit(flat), lit(dim))).as("cell"))
      .join(cells, Seq("cell"))
      .withColumn("sim",
        call_function("cosine_sim", col("qv"), col("v")))
      .where(col("sim") >= minSim && col("qid") =!= col("id"))
      .select(col("qid"), col("id"), col("sim"))
  }

  /** Streaming 64-bit-fingerprint near-dup matches against a PERSISTED
    * corpus bucket table ([[graft.operators.Dedup.hammingBuckets64]] —
    * build once from the corpus's signatures, e.g.
    * [[graft.operators.Multimodal.imageHashes]], persist, reuse every
    * micro-batch): the ingest-time form of the incremental Hamming
    * path. Input is a stream of (id, sig LONG) — for media, map the
    * payload stream through the scan-local fingerprint kernel first
    * (decode never shuffles). Stateless: chunk-key explode →
    * stream-static equi-join → exact Hamming verify, so there is no
    * watermark/state-store cost; a pair sharing several blocking keys
    * emits once per shared key (same documented per-band multiplicity
    * as [[nearDupPairsStream]] — DISTINCT at the sink if needed).
    * Parameters must match the bucket build. Degenerate (boilerplate)
    * buckets are handled at ARTIFACT BUILD time — [[graft.operators
    * .Dedup.hammingBuckets64]] drops buckets over its maxBucket, so a
    * chunk value shared by a huge corpus slice cannot fan one stream
    * row out against the slice (the stateless probe itself has no
    * per-batch cap); match the build's maxBucket to the batch paths'
    * for stream == batch pair sets.
    * @return (id, corpus_id, dist ≤ maxHamming) */
  def hammingNearDupStream(sigs: DataFrame, corpusBuckets: DataFrame,
      maxHamming: Int = 6, cleanChunks: Int = 2): DataFrame =
    sigs.toDF("id", "sig")
      .select(col("id"), col("sig"), posexplode(array(
        graft.operators.Dedup.chunkKeys64(
          col("sig"), maxHamming, cleanChunks): _*)))
      .toDF("id", "sig", "chunk_idx", "chunk")
      .join(corpusBuckets, Seq("chunk_idx", "chunk"))
      .withColumn("dist",
        graft.operators.Dedup.hamming64(col("sig"), col("c_sig")))
      .where(col("dist") <= maxHamming && col("id") =!= col("corpus_id"))
      .select(col("id"), col("corpus_id"), col("dist"))

  /** Streaming as-of enrichment against a STATIC dimension: each stream
    * row picks up the latest static row with the same key at-or-before
    * its event time (the ingest-time form of
    * [[graft.operators.Temporal.asofJoin]] — the batch union-merge
    * window doesn't exist in streaming, so the shape is a stateless
    * stream-static equi-join, a time filter, and a watermarked per-event
    * max_by that emits once the watermark passes the event).
    *
    * The static side must be broadcast-sized per key-match fan-out (a
    * dimension table, not a second fact stream — for stream-stream use
    * [[intervalJoin]]). Unmatched events emit with null payload via the
    * left join.
    *
    * @param eventKey  columns identifying one stream row (its id)
    * @param payload   static-side column to carry (latest wins)
    *
    * Restriction vs the batch [[graft.operators.Temporal.asofJoin]]
    * (which preserves every left column): the streaming aggregate
    * emits only (key, eventTs, eventKey) plus the payload — other
    * event columns must ride in eventKey or re-join on it downstream
    * (carrying arbitrary columns through the watermark-bounded
    * aggregate would mean per-column any_value state).
    */
  def asofEnrichStream(events: DataFrame, dim: DataFrame, key: String,
      eventTs: String, dimTs: String, eventKey: Seq[String],
      payload: String, watermark: String = "2 hours"): DataFrame = {
    val d = broadcast(dim.select(col(key), col(dimTs), col(payload)))
    // too-late dim rows NULLIFY rather than filter (an event whose dim
    // rows are all later must still emit, with null payload): max_by
    // skips null ordering keys, and all-null ordering yields null
    val valid = col(dimTs) <= col(eventTs)
    events
      .withWatermark(eventTs, watermark)
      .join(d, Seq(key), "left")
      .groupBy((key +: eventTs +: eventKey).map(col): _*)
      .agg(max_by(when(valid, col(payload)),
        when(valid, struct(col(dimTs), col(payload)))).as(payload))
  }

  /** Open-session accumulator held in the state store. */
  case class OpenSession(start: Long, end: Long, n: Long, sum: Double)

  /** A gap-closed session, emitted once. */
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Stateful gap sessionization via flatMapGroupsWithState. Each user's
    * state holds the set of gap-separated session intervals the watermark
    * has not yet sealed; an event merges every interval it touches (so an
    * out-of-order but on-time event can BRIDGE two sessions), and a
    * session is emitted only once the watermark passes its end + gap —
    * the point after which no on-time event can extend it. Emission is
    * therefore watermark-gated, not eager: closing a session the moment a
    * later event arrives would mis-assign on-time out-of-order events
    * from the next trigger. State stays bounded by the active-user count
    * (sealed intervals leave the store; the event-time timeout, clamped
    * above the current watermark as Spark requires, flushes idle users).
    *
    * The batch analog is `q_sessionize` (session_window); this is the
    * custom-state form for semantics session_window can't express. Late
    * events below the watermark are NOT pre-filtered for
    * flatMapGroupsWithState (unlike windowed aggs); ones that slip in
    * merge like any other event — acceptable for pipeline metrics. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "2 hours"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // the tuple decode is non-nullable: one NULL user_id/ts/value row
    // would kill the whole streaming query ('Null value appeared in
    // non-nullable field'); nulls carry no session signal — drop them
    events.select(col("user_id"), col("ts"), col("value"))
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSession], ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[List[OpenSession]]) =>
          // a trigger's per-group rows are unordered; sort by event time
          // (bounded by the per-user-per-trigger volume)
          val evs = rows.map(r => (r._2.getTime, r._3)).toArray.sortBy(_._1)
          var sessions = state.getOption.getOrElse(Nil)
          for ((t, v) <- evs) {
            val (touching, rest) = sessions.partition(s =>
              t >= s.start - gapMs && t <= s.end + gapMs)
            val sorted = touching.sortBy(_.start)
            val merged =
              if (sorted.isEmpty) OpenSession(t, t, 1L, v)
              else OpenSession(
                math.min(sorted.head.start, t),
                math.max(sorted.last.end, t),
                sorted.map(_.n).sum + 1,
                sorted.map(_.sum).sum + v)
            sessions = merged :: rest
          }
          val wm = state.getCurrentWatermarkMs()
          val (closed, live) = sessions.partition(_.end + gapMs < wm)
          if (live.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(live.sortBy(_.start))
            // fire when the watermark passes the earliest live seal point;
            // Spark requires the timeout to sit above the current watermark
            state.setTimeoutTimestamp(
              math.max(live.map(_.end).min + gapMs, wm + 1))
          }
          closed.sortBy(_.start).map(s =>
            ClosedSession(user, ts(s.start), ts(s.end), s.n, s.sum)).iterator
      }
  }

  /** Maintain a persisted IVF index FROM A STREAM of (id, vector)
    * rows: each micro-batch appends into the index's cell partitions
    * via [[graft.operators.Similarity.appendIvfIndex]] with
    * `dedupeIds = true`, so a REPLAYED batch folds idempotently (the
    * already-present ids anti-join away against only the touched
    * cells) — the ANN analog of [[maintainAggregate]]'s self-healing
    * upsert+refresh loop, closing the ingest triple: stream →
    * maintained index → [[annTopKStream]] serving. The per-batch
    * drift ratio rides the index's persisted baseline; past
    * `driftWarnRatio` the batch still lands but logs the re-train
    * warning. Build + [[graft.operators.Similarity.saveIvfIndex]]
    * FIRST; single maintainer per index path. Run
    * [[graft.operators.Similarity.compactIvfIndex]] periodically —
    * each batch leaves a file per touched cell. */
  def maintainIvfIndex(stream: DataFrame, path: String,
      vecCol: String, idCol: String, driftWarnRatio: Double = 1.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      graft.operators.Similarity.appendIvfIndex(b.sparkSession, path,
        b, vecCol, idCol, driftWarnRatio, dedupeIds = true)
      ()
    }

  /** One served ANN result row: a query's rank-ordered neighbor. */
  case class AnnMatch(qid: Long, id: Long, sim: Double)

  /** One entry of a query's bounded best-k. */
  case class AnnTop(id: Long, sim: Double)

  /** Bounded per-query top-k state: the query's event-time (seal
    * point) and its current best-k (sim desc, id asc). */
  case class AnnTopKState(tsMs: Long, top: List[AnnTop])

  /** Streaming ANN with IN-STREAM per-query top-k: the
    * [[annCandidatesStream]] soft-probe (two nearest cells,
    * stream-static equi-join, exact cosine — per-batch cost is the
    * probed cells' share of the corpus) feeding a BOUNDED per-query
    * heap via flatMapGroupsWithState — the serving shape, where the
    * sink receives final ranked neighbors instead of raw candidates it
    * must re-sort. State is O(active queries × k): each query keeps
    * only its best k (merged incrementally, so a replayed or
    * re-probed candidate folds idempotently), and emission is
    * WATERMARK-GATED on the query's event time (the sessionize
    * pattern) — a query's top-k emits exactly once, after no on-time
    * probe of that query can still arrive, then leaves the store.
    * @param queries streaming (qid, qv, ts) rows; ts drives the
    *                watermark gate
    * @param cells   persisted (id, v, cell) assignment table
    * @return rank-complete [[AnnMatch]] rows per sealed query */
  def annTopKStream(queries: DataFrame,
      centroids: Array[(Int, Array[Double])], cells: DataFrame, k: Int,
      minSim: Double = 0.0, watermark: String = "2 hours")
      : Dataset[AnnMatch] = {
    val spark = queries.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.registerKernels(spark)
    require(k > 0, s"k must be positive, got $k")
    val dim = centroids.head._2.length
    val flat = centroids.sortBy(_._1).flatMap(_._2).toSeq
    def better(a: (Long, Double), b: (Long, Double)): Boolean =
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
    queries.toDF("qid", "qv", "ts")
      .where(col("qid").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .select(col("qid"), col("ts"), col("qv"),
        explode(call_function("ivf_cells",
          col("qv"), typedlit(flat), lit(dim))).as("cell"))
      .join(cells, Seq("cell"))
      .withColumn("sim",
        call_function("cosine_sim", col("qv"), col("v")))
      .where(col("sim") >= minSim && !isnan(col("sim")) &&
        col("qid") =!= col("id"))
      .select(col("qid"), col("ts"), col("id"), col("sim"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnnTopKState, AnnMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (qid: Long,
         rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
         state: GroupState[AnnTopKState]) =>
          val prev = state.getOption.getOrElse(AnnTopKState(0L, Nil))
          var tsMs = prev.tsMs
          // merge-by-id (a candidate can re-arrive on replay), then
          // keep the best k — bounded work per trigger, bounded state
          val byId = scala.collection.mutable.HashMap
            .from(prev.top.map(t => t.id -> t.sim))
          rows.foreach { case (_, ts, id, sim) =>
            tsMs = math.max(tsMs, ts.getTime)
            if (byId.get(id).forall(_ < sim)) byId(id) = sim
          }
          val top = byId.toList
            .sortWith((a, b) => better(a, b)).take(k)
            .map { case (id, sim) => AnnTop(id, sim) }
          val wm = state.getCurrentWatermarkMs()
          if (tsMs < wm) { // sealed: no on-time probe can still arrive
            if (state.exists) state.remove()
            top.map(t => AnnMatch(qid, t.id, t.sim)).iterator
          } else {
            state.update(AnnTopKState(tsMs, top))
            state.setTimeoutTimestamp(math.max(tsMs + 1, wm + 1))
            Iterator.empty
          }
      }
  }

  /** Stream-stream inner join with watermarks and a time-range condition
    * (e.g. attribute each right-side event to the left-side event it
    * follows within `window`). The range bound plus the watermarks let
    * Spark expire join state on BOTH sides, so state stays bounded on
    * unbounded streams — without the range condition a stream-stream
    * join would buffer forever. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      watermark: String = "2 hours", window: String = "1 hour"): DataFrame = {
    val l = left.select(col("user_id"), col("ts").as("l_ts"),
        col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r, expr(
        s"user_id = r_user AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL $window"))
      .select(col("user_id"), col("l_ts"), col("r_ts"), col("r_value"))
  }
}
