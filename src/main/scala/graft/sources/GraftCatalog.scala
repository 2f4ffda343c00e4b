package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Table catalog with Phoenix-style PK semantics on Parquet.
  *
  * Reference model (SURVEY.md §1.1): Phoenix tables are HBase rowkey
  * spaces — UPSERT overwrites by primary key, DELETE writes tombstones,
  * SELECT sees the latest version of each row. This catalog reproduces
  * those *read* semantics with batch writes:
  *
  *  - every write is an append-only batch stamped with a monotonically
  *    increasing `_version` (the change log — also the CDC source, §2.9);
  *  - `snapshot` collapses the log to latest-write-wins per PK and drops
  *    tombstones — a window partitioned BY THE KEY, so the collapse
  *    shuffles once on the PK and scales horizontally;
  *  - `SALT_BUCKETS` & co. are accepted and ignored (Spark's shuffle
  *    subsumes salting; reference cc/schema/SaltingUtil.java).
  *
  * Batches with duplicate PKs keep the lexicographically greatest payload
  * (deterministic; Phoenix's "last statement wins" has no meaning for an
  * unordered DataFrame).
  */
class GraftCatalog(spark: SparkSession, warehouse: String) {

  case class TableSpec(name: String, schema: StructType, pk: Seq[String],
      props: Map[String, String] = Map.empty)

  private val specs = scala.collection.mutable.Map[String, TableSpec]()

  /** The session this catalog reads/writes through — for operators
    * whose entry point is a state PATH rather than a table name (e.g.
    * [[graft.operators.MaterializeJoin.refresh]], which must read the
    * MV meta before it knows which tables are involved). */
  private[graft] def session: SparkSession = spark

  private def dir(name: String) = s"$warehouse/$name"
  private def versionFile(name: String) =
    new java.io.File(s"${dir(name)}/_latest_version")

  /** Leading-underscore names are the engine's metadata namespace
    * (_version/_deleted/_ts, and physSchema treats any `_`-prefixed
    * column as internal) — a user column named `_version` would be
    * silently overwritten by every upsert and would confuse the
    * generation renaming, so reject the whole prefix up front. */
  private def checkReserved(fields: Iterable[StructField]): Unit = {
    val bad = fields.map(_.name).filter(_.startsWith("_"))
    require(bad.isEmpty,
      s"column names starting with '_' are reserved for engine metadata " +
        s"(_version/_deleted/_ts): ${bad.mkString(", ")}")
  }

  def createTable(name: String, schema: StructType, pk: Seq[String],
      props: Map[String, String] = Map.empty): TableSpec =
    GraftCatalog.OpTiming.timed {
    require(pk.nonEmpty, "primary key required")
    require(pk.forall(c => schema.fieldNames.contains(c)),
      s"pk columns $pk must exist in schema")
    checkReserved(schema.fields)
    validateProps(props)
    val spec = TableSpec(name, schema, pk, props)
    specs(name) = spec
    new java.io.File(dir(name)).mkdirs()
    // stamp "full history intact" on a FRESH table (no data yet, no
    // marker) so [[compactionFloor]]'s legacy-fallback scan never runs
    // for tables this generation creates; a re-registered EXISTING dir
    // keeps its state — absent marker there means a pre-floor
    // generation may have compacted it, and the fallback derives that
    if (!new java.io.File(s"${dir(name)}/data").exists() &&
        !floorFile(name).exists())
      writeFloorFile(name, -1L)
    spec
  }

  /** TTL validates at DDL time like the reference (TableProperty.TTL):
    * a positive second count, or FOREVER / NONE for no expiry. */
  private def validateProps(props: Map[String, String]): Unit =
    props.collectFirst {
      case (k, v) if k.equalsIgnoreCase("TTL") => v
    }.foreach { v =>
      // Try absorbs the toLong overflow of an absurd digit string — the
      // designed IllegalArgumentException must fire, not a raw
      // NumberFormatException from inside the check
      require(scala.util.Try(v.toLong).toOption.exists(_ > 0) ||
        v.equalsIgnoreCase("FOREVER") || v.equalsIgnoreCase("NONE"),
        s"invalid TTL '$v': expected a positive second count, " +
          "FOREVER, or NONE")
    }

  /** ALTER TABLE ... SET prop=v: merge new property values (reference
    * alter_table options branch — most commonly a TTL change). The new
    * value governs every subsequent read immediately: the TTL filter is
    * applied at read time from the current spec, exactly like an HBase
    * descriptor change affecting the next scan. */
  def alterSetProps(name: String, newProps: Map[String, String]): Unit = {
    validateProps(newProps)
    val s = spec(name)
    // property keys are matched case-insensitively everywhere (TTL
    // lookups use equalsIgnoreCase) — evict any case-variant of an
    // incoming key first, or a `ttl` set at CREATE time would shadow an
    // ALTER ... SET TTL=... forever (collectFirst returns whichever
    // insertion order favors)
    val kept = s.props.filterNot { case (k, _) =>
      newProps.keys.exists(_.equalsIgnoreCase(k)) }
    specs(name) = s.copy(props = kept ++ newProps)
  }

  def spec(name: String): TableSpec = specs.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown table '$name' (known: ${specs.keys.toSeq.sorted.mkString(", ")})"))
  def hasTable(name: String): Boolean = specs.contains(name)

  /** View-added columns (reference: Phoenix views may declare columns the
    * base table doesn't have — they live in the same physical table but
    * are only projected through the view). Stored per base table; base
    * SELECT * never shows them. */
  private val extensions =
    scala.collection.mutable.Map[String, Seq[StructField]]()

  def extendTable(name: String, fields: Seq[StructField]): Unit = {
    require(specs.contains(name), s"unknown table $name")
    checkReserved(fields)
    val cur = extensions.getOrElse(name, Seq.empty)
    val newOnes = fields.filterNot(f =>
      cur.exists(_.name == f.name) || specs(name).schema.fieldNames
        .contains(f.name))
    extensions(name) = cur ++ newOnes.map(_.copy(nullable = true))
  }

  /** Declared columns plus view-extension columns, in storage order. */
  private[graft] def allFields(name: String): Seq[StructField] =
    specs(name).schema.fields.toSeq ++ extensions.getOrElse(name, Seq.empty)

  /** ALTER TABLE ADD COLUMN (reference: grammar alter_table / AlterTableIT):
    * appends nullable columns to the declared schema. Existing parquet
    * batches simply lack the column — the explicit-schema read fills NULL,
    * which matches Phoenix (old rows have no cell for the new qualifier). */
  def alterAddColumns(name: String, fields: Seq[StructField],
      ifNotExists: Boolean = false): Unit = {
    val s = spec(name)
    checkReserved(fields)
    val existing = allFields(name).map(_.name).toSet
    val dups = fields.filter(f => existing.contains(f.name))
    if (dups.nonEmpty && !ifNotExists)
      throw new IllegalArgumentException(
        s"column already exists: ${dups.map(_.name).mkString(", ")}")
    val newOnes = fields.filterNot(f => existing.contains(f.name))
      .map(_.copy(nullable = true))
    specs(name) = s.copy(schema = StructType(s.schema.fields ++ newOnes))
  }

  /** ALTER TABLE DROP COLUMN: removes from the declared schema (PK columns
    * refused, as in Phoenix). Old parquet batches keep the bytes; reads
    * project the declared schema so the column disappears — same shape as
    * Phoenix dropping the column qualifier without rewriting rows. The
    * generation bump makes a later re-ADD bind to a fresh physical column
    * (Phoenix assigns a new encoded qualifier), so dropped data cannot
    * resurface. */
  def alterDropColumn(name: String, column: String,
      ifExists: Boolean = false): Unit = {
    val s = spec(name)
    if (s.pk.contains(column))
      throw new IllegalArgumentException(s"cannot drop PK column $column")
    if (!s.schema.fieldNames.contains(column)) {
      if (ifExists) return
      throw new IllegalArgumentException(s"no such column $column")
    }
    specs(name) = s.copy(schema =
      StructType(s.schema.fields.filterNot(_.name == column)))
    colGen((name, column)) = colGen.getOrElse((name, column), 0) + 1
  }

  /** (table, logical column) → generation; >0 after a drop, giving re-added
    * columns a distinct physical (parquet) name. */
  private val colGen = scala.collection.mutable.Map[(String, String), Int]()

  private def phys(table: String, colName: String): String = {
    val g = colGen.getOrElse((table, colName), 0)
    if (g == 0) colName else s"${colName}__g$g"
  }

  /** Rename logical → physical column names just before a parquet write. */
  private def toPhysical(name: String, df: DataFrame): DataFrame =
    allFields(name).foldLeft(df) { (d, f) =>
      val p = phys(name, f.name)
      if (p == f.name) d else d.withColumnRenamed(f.name, p)
    }

  /** Recursive delete; null-safe against listFiles' IO-error null. */
  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Drop a table. REFUSES while registered MVs depend on it (their
    * states and rewrite registrations would point at a missing log —
    * the next refresh would error on a vanished directory and the
    * rewrite registry would keep a dead candidate for the session);
    * same discipline as the reference refusing to drop a table with
    * child views (cc/schema/MetaDataClient). `cascade = true` tears
    * the dependents down FIRST — every dependent MV is deregistered
    * from the rewrite (from ALL of its tables, not just this one) and
    * its state deleted — then drops the table. */
  def dropTable(name: String, cascade: Boolean = false): Unit = {
    val deps = mvDependents(name)
    if (deps.nonEmpty && !cascade)
      throw new IllegalStateException(
        s"cannot drop table '$name': registered materialized views " +
          s"depend on it (${deps.mkString(", ")}) — drop them first " +
          "or use cascade")
    if (cascade) deps.foreach(dropMv)
    specs.remove(name)
    extensions.remove(name)
    rmTree(new java.io.File(dir(name)))
  }

  // ---------- registered-MV dependency registry ----------
  // table → MV state roots registered over it, fed by EVERY
  // registration path (the Materialize/MaterializeJoin API registrants
  // and, through them, the SQL DDL): dropTable refuses while entries
  // exist, and COMPACT TABLE derives its keep-history floor from every
  // entry's fold mark — previously only DDL-created MVs were visible
  // to the derivation, so an API-registered MV was silently
  // full-compacted into an O(table) rebuild.
  private val mvDeps =
    scala.collection.mutable.Map[String, Seq[String]]()

  /** Record that the MV state at `path` folds `tables` (fact first for
    * chains). Idempotent; re-registration overwrites. */
  private[graft] def recordMvDependency(path: String,
      tables: Seq[String]): Unit =
    mvDeps.synchronized { mvDeps(normPath(path)) = tables }

  /** Forget the MV at `path` (DROP MATERIALIZED VIEW / cascade). */
  private[graft] def releaseMvDependency(path: String): Unit =
    mvDeps.synchronized { mvDeps.remove(normPath(path)) }

  /** State roots of registered MVs that fold `table`. */
  private[graft] def mvDependents(table: String): Seq[String] =
    mvDeps.synchronized {
      mvDeps.collect { case (p, ts) if ts.contains(table) => p }
        .toSeq.sorted
    }

  /** Every registered MV's fold mark for `table` — what COMPACT TABLE
    * needs: `compact(table, keepAfter = min(marks))` keeps every
    * registered MV incrementally refreshable. Reads each state's meta
    * (self-describing: single-table metas carry `last_version`, chain
    * metas `fact`/`side_tables` + `last_vf`/`last_vs`). */
  private[graft] def mvFoldMarks(table: String): Seq[Long] =
    mvDependents(table).map { p =>
      val m = spark.read.parquet(s"$p/meta").head()
      if (m.schema.fieldNames.contains("last_version"))
        m.getAs[Long]("last_version")
      else if (m.getAs[String]("fact") == table)
        m.getAs[Long]("last_vf")
      else {
        val sides = m.getSeq[String](m.fieldIndex("side_tables"))
        m.getSeq[Long](m.fieldIndex("last_vs"))(sides.indexOf(table))
      }
    }

  /** Tear one registered MV down: deregister its rewrite candidates
    * from every table it folds, forget the dependency, delete the
    * state. */
  private[graft] def dropMv(path: String): Unit = {
    val p = normPath(path)
    mvDeps.synchronized { mvDeps.get(p) }.foreach(_.foreach(t =>
      graft.plans.GraftAggViews.dropView(tablePath(t), p)))
    releaseMvDependency(p)
    rmTree(new java.io.File(p))
  }

  private def normPath(p: String): String = p.stripSuffix("/")

  /** TRUNCATE TABLE (reference: truncate_table_node g:502 — delete every
    * row, keep the table): drops the data directory; the spec and the
    * version counter survive, so versions stay monotone across a truncate
    * and CDC consumers can't see a version reused. */
  def truncate(name: String): Unit = tableLock(name).synchronized {
    spec(name) // throws on unknown table
    val data = new java.io.File(s"${dir(name)}/data")
    if (data.exists()) rmTree(data)
    invalidateSnapCache(name) // a stale cache would resurrect every row
    // truncation is a history discard like compaction: consume one
    // version (so freshness probes keyed on the counter observe the
    // change — an MV would otherwise serve the vanished rows as
    // "fresh") and raise the replayability floor past every earlier
    // fold mark, forcing the rebuild that is the only correct refresh.
    // The whole sequence holds the table's write lock (reentrant into
    // versionedWrite), so a racing append can't land rows between the
    // tree delete and the floor bump.
    versionedWrite(name)(v => setCompactionFloor(name, v))
  }

  // Version-counter protocol. The counter is what every mark-sampling
  // read (MV refresh fold windows, snapshot-cache keys, freshness
  // probes) trusts, so it must satisfy ONE invariant at all times:
  // `v <= counter  ⇒  every row of version v is fully visible in the
  // log`. That forces the write order REServe → APPEND → PUBLISH —
  // persisting the counter before the append (the old order) let a
  // refresh sample a version whose rows were still in flight, cache a
  // delta that missed them, and record a mark covering rows it never
  // folded (a silently lost update). Writers in THIS catalog instance
  // coordinate through `versionLock` (one driver JVM can host racing
  // writer threads — e.g. a maintenance stream racing ad-hoc upserts);
  // versions are reserved in memory, and the persisted counter only
  // advances to v once every reservation ≤ v has completed, so a
  // fast-finishing later batch never publishes over a slower earlier
  // one. A SECOND catalog instance (another process/driver) racing the
  // same table is detected at publish time — the counter file moved
  // beyond what this instance published — and refused loudly rather
  // than silently interleaving; true multi-driver writes need a
  // coordination service, as Phoenix delegates to HBase's atomicity.
  private val versionLock = new Object
  private val reservedHigh = scala.collection.mutable.Map[String, Long]()
  private val inFlight =
    scala.collection.mutable.Map[String, scala.collection.mutable.SortedSet[Long]]()
  private val publishedByUs = scala.collection.mutable.Map[String, Long]()

  private def reserveVersion(name: String): Long = versionLock.synchronized {
    val onDisk = currentVersion(name)
    val fl = inFlight.getOrElseUpdate(
      name, scala.collection.mutable.SortedSet.empty[Long])
    // with no write of ours in flight, a counter that moved is a
    // SEQUENTIAL handoff from another instance (a reopened warehouse,
    // one writer at a time) — adopt it as the new baseline. With
    // reservations in flight it is a CONCURRENT foreign writer about
    // to interleave versions with ours: refuse loudly (see
    // foreignBumpCheck).
    if (fl.isEmpty)
      publishedByUs(name) =
        math.max(onDisk, publishedByUs.getOrElse(name, -1L))
    else foreignBumpCheck(name, onDisk)
    val v = math.max(onDisk, reservedHigh.getOrElse(name, -1L)) + 1L
    reservedHigh(name) = v
    fl += v
    v
  }

  /** Refuse loudly when the persisted counter moved under our feet: a
    * writer from ANOTHER catalog instance raced this one and may have
    * stamped the same version on different rows. Detect-and-refuse is
    * the contract — the counter file is driver-side state with no
    * cross-process coordination service behind it (Phoenix delegates
    * the same problem to HBase's row-level atomicity), so the honest
    * failure is an exception, never silent interleaving. */
  private def foreignBumpCheck(name: String, onDisk: Long): Unit =
    if (onDisk > publishedByUs.getOrElse(name, -1L))
      throw new IllegalStateException(
        s"version counter for '$name' advanced to $onDisk by another " +
          s"writer while this catalog instance holds in-flight writes " +
          s"at ${publishedByUs(name)} — concurrent writers from " +
          "separate catalog instances are not coordinated; refusing " +
          "rather than interleaving versions")

  /** Advance the persisted counter after version `v`'s append landed
    * (or was abandoned: a failed Spark write aborts its task files, so
    * the version is an empty gap the counter may step over — gaps only
    * overestimate the tail-batch count the cache threshold reads).
    * Publishes the highest version with no smaller reservation still
    * in flight; written temp-then-atomic-move so a reader never sees a
    * torn counter file. */
  private def publishVersion(name: String, v: Long): Unit =
    versionLock.synchronized {
      val fl = inFlight(name)
      fl -= v
      // a foreign bump between our reserve and this publish means the
      // other writer may have stamped OUR version on its rows — the
      // append already landed, so the duplicate cannot be unwound, but
      // it must never be silent
      foreignBumpCheck(name, currentVersion(name))
      val publishable = if (fl.isEmpty) reservedHigh(name) else fl.head - 1L
      if (publishable > currentVersion(name)) {
        val f = versionFile(name)
        val tmp = new java.io.File(f.getParentFile, s".${f.getName}.tmp")
        java.nio.file.Files.write(tmp.toPath, publishable.toString.getBytes)
        java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        publishedByUs(name) = publishable
      }
    }

  /** Reserve → append (`write`) → publish; abandon on failure. The
    * whole sequence holds a PER-TABLE lock: two Spark jobs appending
    * into one parquet directory share its `_temporary` staging dir, so
    * the first job's commit-time cleanup can delete the second's
    * in-flight task files — racing writer threads on the SAME table
    * must take turns (writes to different tables stay concurrent). */
  private val tableWriteLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def tableLock(name: String): Object =
    tableWriteLocks.computeIfAbsent(name, _ => new Object)

  private def versionedWrite(name: String)(write: Long => Unit): Long =
    tableLock(name).synchronized {
      val v = reserveVersion(name)
      try write(v)
      catch {
        case e: Throwable =>
          // abandon the reservation; a secondary failure here must not
          // MASK the append's own error
          try publishVersion(name, v)
          catch { case e2: Throwable => e.addSuppressed(e2) }
          throw e
      }
      publishVersion(name, v)
      v
    }

  /** UPSERT a batch: append rows stamped with the next version. Missing
    * columns take their declared DEFAULT expression when one exists
    * (reference DefaultValueExpression — applied only when the write
    * OMITS the column; an explicit NULL in the batch stores NULL),
    * otherwise NULL. */
  def upsert(name: String, df: DataFrame): Long =
    GraftCatalog.OpTiming.timed {
      val v = versionedWrite(name)(appendUpsert(name, df, _))
      maybeRefreshSnapCache(name, v)
      v
    }

  private def appendUpsert(name: String, df: DataFrame, v: Long): Unit = {
    val fields = allFields(name)
    // one clock sample per batch: the ROW_TIMESTAMP fill and the `_ts`
    // stamp must agree (Phoenix commits a mutation batch at one server
    // timestamp, and the ROW_TIMESTAMP column IS that timestamp)
    val nowMs = clock()
    val nowTs = new java.sql.Timestamp(nowMs)
    val padded = fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else if (f.metadata.contains(GraftCatalog.RowTimestampKey))
        // ROW_TIMESTAMP PK omitted by the write → the batch stamp
        // (RowTimestampIT upsertingRowTimestampColAutomatically);
        // BIGINT spelling carries epoch millis like the reference
        d.withColumn(f.name,
          if (f.dataType == LongType) lit(nowMs) else lit(nowTs))
      else if (f.metadata.contains(GraftCatalog.DefaultExprKey))
        d.withColumn(f.name,
          expr(f.metadata.getString(GraftCatalog.DefaultExprKey))
            .cast(f.dataType))
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    toPhysical(name,
        padded.select(fields.map { f =>
          val c = col(f.name).cast(f.dataType)
          // UNSIGNED_* CHECK ≥ 0 (Phoenix throws IllegalDataException on
          // a negative write): validated inside the write projection, so
          // it costs nothing beyond the pass that writes the rows
          if (f.metadata.contains(GraftCatalog.UnsignedKey))
            when(c < 0, raise_error(concat(
                lit(s"unsigned column ${f.name} cannot store negative value "),
                c.cast(StringType))))
              .otherwise(c).as(f.name)
          else if (f.metadata.contains(GraftCatalog.CharWidthKey)) {
            // CHAR(n): capacity error beyond n (DataExceedsCapacityException
            // analog). NOT padded on store: PChar's byte padding is a
            // storage encoding detail its toObject strips on read, and
            // storing padded here would break `col = 'literal'` compares
            val n = f.metadata.getLong(GraftCatalog.CharWidthKey).toInt
            when(length(c) > n, raise_error(concat(
                lit(s"CHAR(${n}) column ${f.name} exceeds capacity: "), c)))
              .otherwise(c).as(f.name)
          } else if (f.metadata.contains(GraftCatalog.VarcharWidthKey)) {
            // VARCHAR(n): max length, no padding
            val n = f.metadata.getLong(GraftCatalog.VarcharWidthKey).toInt
            when(length(c) > n, raise_error(concat(
                lit(s"VARCHAR(${n}) column ${f.name} exceeds capacity: "), c)))
              .otherwise(c).as(f.name)
          } else c
        }: _*))
      .withColumn("_version", lit(v))
      .withColumn("_deleted", lit(false))
      // the ROW_TIMESTAMP column IS the cell timestamp in the reference
      // (RowTimestampIT: an explicit value drives scan TimeRange
      // visibility and TTL) — so when the table declares one, `_ts`
      // takes the row's value (batch clock only where it was omitted
      // and the padding already filled it). Note: such tables trade
      // away the one-_ts-per-file parquet stats pruning that
      // constant-stamped batches give the MV expiry probe.
      .withColumn("_ts", fields
        .find(_.metadata.contains(GraftCatalog.RowTimestampKey)) match {
          case Some(f) if f.dataType == LongType =>
            coalesce(timestamp_millis(col(phys(name, f.name))), lit(nowTs))
          case Some(f) =>
            coalesce(col(phys(name, f.name)).cast(TimestampType),
              lit(nowTs))
          case None => lit(nowTs)
        })
      .write.mode(SaveMode.Append).parquet(s"${dir(name)}/data")
  }

  /** DELETE by predicate: tombstone the matching PKs as of now. */
  def delete(name: String, predicate: org.apache.spark.sql.Column): Long =
    GraftCatalog.OpTiming.timed {
    val fields = allFields(name)
    val v = versionedWrite(name) { v =>
      toPhysical(name, snapshotFull(name).where(predicate)
          .select(fields.map(f => col(f.name)): _*))
        .withColumn("_version", lit(v))
        .withColumn("_deleted", lit(true))
        .withColumn("_ts", lit(batchTs()))
        .write.mode(SaveMode.Append).parquet(s"${dir(name)}/data")
    }
    maybeRefreshSnapCache(name, v)
    v
    }

  /** Auto-refresh policy (opt-in per table): with property
    * `SNAPSHOT_CACHE_BATCHES=n`, a write that leaves ≥ n tail batches
    * beyond the current cache (or since the table's first version when
    * none exists) rebuilds the cache — the compaction-threshold idiom,
    * minus the history loss. Versions are sequential per write, so the
    * version delta IS the tail batch count. */
  private def maybeRefreshSnapCache(name: String, justWrote: Long): Unit =
    spec(name).props.collectFirst {
      case (k, v) if k.equalsIgnoreCase("SNAPSHOT_CACHE_BATCHES") => v
    }.flatMap(v => scala.util.Try(v.toLong).toOption).filter(_ > 0)
      .foreach { n =>
        if (!hasRowTimestamp(name) &&
            justWrote - snapCacheVersion(name).getOrElse(-1L) >= n)
          refreshSnapshotCache(name)
      }

  /** Full change log (the CDC source): every write of every version. Reads
    * the physical schema (generation-suffixed columns) and renames back to
    * logical names. */
  def changeLog(name: String): DataFrame =
    // TTL table property (reference cc/schema/TableProperty.java TTL —
    // mapped onto the HBase column-family TTL, so expired cells vanish
    // from EVERY read path at scan time and are purged physically at
    // major compaction): rows whose batch stamp aged past TTL seconds
    // are filtered HERE, the single choke point every read flows
    // through — snapshot, as-of, views, CDC — and `compact` rewrites
    // without them (the major-compaction purge).
    ttlFiltered(name, changeLogRaw(name))

  /** The read-time TTL filter (shared by [[changeLog]] and the cached
    * [[servingLog]]). Legacy NULL stamps never expire. The cutoff comes
    * from the injectable catalog [[clock]] (not `current_timestamp()`)
    * so every read path — and [[graft.operators.Materialize.refresh]]'s
    * expiry-retraction window — agrees on ONE notion of now; it folds
    * to a literal, so the filter is scan-local and pushdown-eligible. */
  private def ttlFiltered(name: String, df: DataFrame): DataFrame =
    ttlSeconds(name) match {
      case Some(ttl) =>
        val cutoff = new java.sql.Timestamp(clock() - ttl * 1000L)
        df.where(col("_ts").isNull || col("_ts") >= lit(cutoff))
      case None => df
    }

  /** The change log BEFORE TTL filtering — the physical history.
    * Internal: [[graft.operators.Materialize.refresh]] needs expired
    * rows (they are its retractions) and the true minimum version (the
    * compaction detector; the filtered log's minimum rises as rows
    * expire). */
  private[graft] def changeLogRaw(name: String): DataFrame = {
    // a created-but-never-written table has no data dir yet → empty log
    val base =
      if (new java.io.File(s"${dir(name)}/data").exists())
        spark.read.schema(physSchema(name)).parquet(s"${dir(name)}/data")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], physSchema(name))
    // bound at the PUBLISHED counter — the write protocol's invariant
    // is `v <= counter ⇒ rows visible`, and its contrapositive must
    // hold too: rows a refused/crashed writer left in the log dir
    // ABOVE the counter (publish refuses after the append already
    // landed — the orphans cannot be unwound) are invisible to every
    // read path until [[vacuumOrphans]] reclaims them. The counter is
    // sampled at PLAN time, so a frame built before a concurrent
    // append reads the pre-append state even if executed after — the
    // same consistent-window discipline the MV folds rely on. Also
    // closes the in-flight window: rows of a mid-append version are
    // unreadable until that version publishes. The filter is a
    // literal, so parquet row-group stats prune it for free.
    toLogical(name, base.where(col("_version") <= currentVersion(name)))
  }

  /** TTL seconds if the table declares a finite one (`TTL=<seconds>`;
    * FOREVER/NONE mean no expiry, as in the reference). */
  private[graft] def ttlSeconds(name: String): Option[Long] =
    spec(name).props.collectFirst {
      case (k, v) if k.equalsIgnoreCase("TTL") => v
    }.flatMap(v => scala.util.Try(v.toLong).toOption).filter(_ > 0)

  /** Physical (generation-suffixed) counterpart of [[logSchema]]. */
  private def physSchema(name: String): StructType =
    StructType(logSchema(name).fields.map(f =>
      if (f.name.startsWith("_")) f else f.copy(name = phys(name, f.name))))

  /** Rename physical → logical column names after a parquet read. */
  private def toLogical(name: String, df: DataFrame): DataFrame =
    allFields(name).foldLeft(df) { (d, f) =>
      val p = phys(name, f.name)
      if (p == f.name) d else d.withColumnRenamed(p, f.name)
    }

  private def logSchema(name: String): StructType =
    StructType(allFields(name) :+
      StructField("_version", LongType, nullable = false) :+
      StructField("_deleted", BooleanType, nullable = false) :+
      StructField("_ts", TimestampType, nullable = true))

  /** Wall-clock stamp for the batch being written — the engine's analog of
    * the HBase cell timestamp (one value per batch: Phoenix commits a
    * mutation batch at one server timestamp). Backs PHOENIX_ROW_TIMESTAMP.
    * Batches written before this column existed read back NULL. */
  /** Wall clock for batch stamps — swappable in tests to back-date
    * writes (TTL expiry, as-of reads) without real sleeps. */
  private[graft] var clock: () => Long = () => System.currentTimeMillis()

  private def batchTs(): java.sql.Timestamp =
    new java.sql.Timestamp(clock())

  // ---------- snapshot-serving cache ----------
  // Every snapshot read collapses the change log; map-side combining
  // keeps the SHUFFLE key-space-sized, but the SCAN still reads the
  // whole history — a 100-TB read-mostly table accumulating thousands
  // of batches would re-read superseded versions on every query. The
  // cache is a high-water-mark-keyed collapsed copy (alive winners
  // only, ORIGINAL `_version` and `_ts` kept) at `_snapcache/v<V>`;
  // serving reads then scan cache + only the tail batches (`_version >
  // V`, file-pruned via parquet stats). The change log itself is
  // UNTOUCHED — CDC, point-in-time reads and IVM keep full history
  // (unlike `compact`, which discards it).
  //
  // Correctness bound: collapse-then-filter == filter-then-collapse
  // requires `_ts` monotone in `_version` per PK (batch stamps are; a
  // ROW_TIMESTAMP column carries arbitrary user values, so such tables
  // refuse the cache). Tombstone winners are safe to drop: any tail
  // row outranks every cached row, and a PK absent from both is absent
  // from the snapshot either way.

  private def snapCacheRoot(name: String) = s"${dir(name)}/_snapcache"

  private def hasRowTimestamp(name: String): Boolean =
    allFields(name).exists(_.metadata.contains(GraftCatalog.RowTimestampKey))

  /** High-water version of the current cache, if one exists. */
  private[graft] def snapCacheVersion(name: String): Option[Long] =
    Option(new java.io.File(snapCacheRoot(name)).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).maxOption

  /** Build/refresh the serving cache at the current high-water mark.
    * Flip-don't-overwrite (same rule as compact/MV state): build under
    * `_build_v<V>`, rename into place, then drop older cache versions.
    * No-op (returns -1) on an empty log. */
  def refreshSnapshotCache(name: String): Long = {
    require(!hasRowTimestamp(name),
      s"snapshot cache requires _ts monotone per PK; table $name " +
        "declares a ROW_TIMESTAMP column (arbitrary user stamps)")
    // the cache's high-water mark is the VERSION COUNTER, not the
    // log's max version: a write that lands zero rows (a no-match
    // DELETE) bumps the counter without log rows, and a log-max-keyed
    // cache could then never read "exactly fresh" again (serving and
    // the MV freshness probe both compare against the counter). The
    // collapse below still sees every row — none sits above the
    // counter.
    val v = currentVersion(name)
    if (v < 0) return -1L
    // already EXACTLY fresh → no-op: the cache at mark v IS the
    // collapse of everything at or below v, and nothing newer exists.
    // DDL flows re-cache every involved table per statement (CREATE/
    // REFRESH MATERIALIZED VIEW bring serving caches current), so an
    // unchanged side table otherwise pays a full collapse + write per
    // statement for an identical result.
    val prior = snapCacheVersion(name)
    if (prior.contains(v)) return v
    // collapse BOUNDED at the sampled mark: a write landing between the
    // counter sample and this scan would otherwise leak rows with
    // `_version > v` into the cache directory labeled v — and
    // servingLogUpTo's cache-plus-tail union relies on "no cache row
    // sits above the cache's mark" for its consistent-window reads.
    //
    // INCREMENTAL rebuild (guide §1.2; VERDICT r16 #3): with a prior
    // cache at V0 < v, the new cache is collapse(cache_V0 ∪ tail
    // (V0, v]) — last-wins collapse is associative (the cached winner
    // IS the max-by-(version, tiebreak) of its slice, and every tail
    // row outranks it), and a PK whose ≤V0 winner was a TOMBSTONE is
    // absent from the cache and stays absent unless the tail
    // resurrects it, exactly as the full collapse would conclude. So
    // a tail-batch refresh re-collapses cache+delta instead of the
    // whole history — the deep-log case this cache exists for.
    val source = prior match {
      case Some(v0) if v0 < v =>
        val cached = toLogical(name,
          spark.read.schema(physSchema(name))
            .parquet(s"${snapCacheRoot(name)}/v$v0"))
        cached.unionByName(
          changeLogRaw(name).where(col("_version") > v0 &&
            col("_version") <= v))
      case _ => changeLogRaw(name).where(col("_version") <= v)
    }
    val winners = collapseKeepMeta(name, source)
      .where(!col("_deleted"))
    val cols = allFields(name).map(f => col(f.name)) ++
      Seq(col("_version"), lit(false).as("_deleted"), col("_ts"))
    val tmp = new java.io.File(s"${snapCacheRoot(name)}/_build_v$v")
    toPhysical(name, winners.select(cols: _*))
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val dest = new java.io.File(s"${snapCacheRoot(name)}/v$v")
    if (dest.exists()) rmTree(dest)
    if (!tmp.renameTo(dest))
      throw new java.io.IOException(
        s"refreshSnapshotCache($name): cannot move cache into place")
    Option(new java.io.File(snapCacheRoot(name)).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        f.getName.drop(1).toLong < v)
      .foreach(rmTree)
    v
  }

  /** The version counter's current value (the log's high-water mark)
    * without a data scan — upsert/delete bump the counter file, so a
    * freshness probe is one tiny local read, not a footer sweep. */
  private[graft] def currentVersion(name: String): Long = {
    val f = versionFile(name)
    if (f.exists())
      new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.toLong
    else -1L
  }

  /** Snapshot for SERVING reads: when the snapshot cache is EXACTLY
    * fresh (cache high-water == the version counter) the snapshot IS
    * the cache, so return a PURE parquet scan of it (TTL filter only —
    * no collapse shuffle at all). Two wins at once: the per-query
    * collapse disappears, and an Aggregate over this plan sits directly
    * on a scan, which is what lets [[graft.plans.AggRewriteRule]] swap
    * registered MV state under SQL front-end queries
    * ([[PhoenixSql]] registers its table snapshots through here). A
    * stale/absent cache (or a ROW_TIMESTAMP table) falls back to the
    * ordinary [[snapshot]] collapse — always correct, just not
    * rewrite-servable. */
  def snapshotServed(name: String): DataFrame = {
    autoRefreshSnapCache(name)
    snapCacheVersion(name) match {
      case Some(v) if !hasRowTimestamp(name) && v == currentVersion(name) =>
        val cache = toLogical(name, spark.read.schema(physSchema(name))
          .parquet(s"${snapCacheRoot(name)}/v$v"))
        ttlFiltered(name, cache)
          .select(spec(name).schema.fieldNames.map(col): _*)
      case _ => snapshot(name)
    }
  }

  /** The table's root directory — the stable registration key for
    * [[graft.plans.GraftAggViews]] over catalog tables (the serving
    * scan's cache leaf rotates per refresh; the rewrite maps it back
    * to this root). */
  private[graft] def tablePath(name: String): String = dir(name)

  /** State root for a SQL-DDL materialized view
    * ([[PhoenixSql]] CREATE MATERIALIZED VIEW): outside every table's
    * directory, keyed by the MV's own name. */
  private[graft] def mvPath(name: String): String =
    s"$warehouse/_mv/$name"

  /** Drop the cache (compact/truncate rewrite or erase the history the
    * cache summarizes — a stale cache would resurrect rows). */
  private def invalidateSnapCache(name: String): Unit = {
    val d = new java.io.File(snapCacheRoot(name))
    if (d.exists()) rmTree(d)
  }

  /** What collapsing reads flow through: the cached collapsed snapshot
    * plus the uncompacted tail when a cache exists, the full change log
    * otherwise. TTL-filtered HERE (cache rows keep `_ts`), so a later
    * ALTER SET TTL governs cached rows exactly like logged ones. */
  /** READ-path auto-refresh (the write-side hook only sees writes THIS
    * process performs with the property already set): a table whose
    * SNAPSHOT_CACHE_BATCHES threshold is exceeded by the uncached tail
    * rebuilds the cache once at the next read, so subsequent reads scan
    * cache + empty tail instead of re-collapsing an ever-growing tail
    * forever. The probe is O(1) (version-counter file + cache dir
    * listing); single-writer contract, like every cache mutation. */
  private def autoRefreshSnapCache(name: String): Unit =
    spec(name).props.collectFirst {
      case (k, v) if k.equalsIgnoreCase("SNAPSHOT_CACHE_BATCHES") => v
    }.flatMap(v => scala.util.Try(v.toLong).toOption).filter(_ > 0)
      .foreach { n =>
        if (!hasRowTimestamp(name) &&
            currentVersion(name) -
              snapCacheVersion(name).getOrElse(-1L) >= n)
          refreshSnapshotCache(name)
      }

  private[graft] def servingLog(name: String): DataFrame = {
    autoRefreshSnapCache(name)
    snapCacheVersion(name) match {
      case Some(v) if !hasRowTimestamp(name) =>
        val cache = toLogical(name,
          spark.read.schema(physSchema(name))
            .parquet(s"${snapCacheRoot(name)}/v$v"))
        // defensive `<= v` bound, same reason as [[servingLogUpTo]]: a
        // cache row above its own label would double-count against the
        // tail this union appends
        ttlFiltered(name,
          cache.where(col("_version") <= lit(v))
            .unionByName(changeLogRaw(name)
              .where(col("_version") > v)))
      case _ => changeLog(name)
    }
  }

  /** Snapshot with view-extension columns included (what views read).
    *
    * Latest-write-wins via groupBy + max_by on a (version, tie-break)
    * ordering struct rather than a row_number window: the aggregate has a
    * map-side partial phase, so the shuffle carries one candidate row per
    * (key, map task) instead of the whole change log — the difference
    * between shuffling the corpus and shuffling the key space at 100 TB.
    * Null tie-break fields order the same way in both forms (null loses
    * to any value, as with the window's DESC NULLS LAST). */
  def snapshotFull(name: String): DataFrame =
    collapseLog(name, servingLog(name))

  /** Last-wins collapse of a (possibly filtered) change log slice. */
  private def collapseLog(name: String, log: DataFrame): DataFrame = {
    val fields = allFields(name)
    collapseKeepMeta(name, log)
      .where(!col("_deleted"))
      .select(fields.map(f => col(f.name)): _*)
  }

  /** The ONE winner-per-PK collapse every read path derives from,
    * KEEPING the winner's `_deleted` / `_ts` / `_version` — so the
    * snapshot, row-ts read, compaction, and the MV expired-winner
    * determination can never disagree on which version wins for the
    * same log. Same map-side-combinable max_by shape as before. */
  private[graft] def collapseKeepMeta(name: String,
      log: DataFrame): DataFrame = {
    val s = spec(name)
    val fields = allFields(name)
    val nonPk = fields.map(_.name).filterNot(s.pk.contains)
    val ord = struct(col("_version") +: nonPk.map(col): _*)
    log
      .groupBy(s.pk.map(col): _*)
      .agg(max_by(
        struct(fields.map(f => col(f.name)) ++
          Seq(col("_deleted"), col("_ts"), col("_version")): _*),
        ord).as("_r"))
      .select(fields.map(f => col(s"_r.${f.name}").as(f.name)) ++
        Seq(col("_r._deleted").as("_deleted"), col("_r._ts").as("_ts"),
          col("_r._version").as("_version")): _*)
  }

  /** Snapshot restricted to the PKs present in `pks` (columns named
    * `__p_<pk>`): the change log is semi-joined on the PK BEFORE the
    * collapse, so the collapse shuffle carries only the matching PKs'
    * history — [[graft.operators.Materialize.refresh]]'s affected-group
    * recompute reads affected-PK history, not the keyspace. */
  /** `scanFilter` (optional) pre-filters the log BEFORE the semi-join —
    * callers pass a proven superset of the pks' rows (e.g. a PK zone
    * bound) so parquet row-group stats can prune the scan; `lit(true)`
    * keeps the plain shape. */
  /** `uptoV` (optional) bounds the read at a sampled version mark
    * ([[servingLogUpTo]]) — the consistent-window IVM recompute reads
    * affected groups as of the marks it records, so a write landing
    * mid-refresh folds exactly once in the next one. */
  private[graft] def snapshotForPks(name: String, pks: DataFrame,
      scanFilter: org.apache.spark.sql.Column = lit(true),
      uptoV: Option[Long] = None): DataFrame = {
    val s = spec(name)
    val cond = s.pk.map(c => col(c) <=> col(s"__p_$c")).reduce(_ && _)
    val log = uptoV.map(servingLogUpTo(name, _))
      .getOrElse(servingLog(name))
    collapseLog(name,
        log.where(scanFilter).join(pks, cond, "left_semi"))
      .select(s.schema.fieldNames.map(col): _*)
  }

  /** Point-in-time snapshot by write version — the engine's analog of
    * the reference's CurrentSCN connection property
    * (cc/util/PhoenixRuntime.java CURRENT_SCN_ATTRIB;
    * cc/jdbc/PhoenixConnection.java scn plumbing), where a connection
    * opened with an SCN reads the table as of that HBase timestamp.
    * Here the read point is the batch version: the collapse sees only
    * writes with `_version <= asOfVersion`, so any earlier table state
    * can be queried, audited, or diffed without restoring anything —
    * deletes later than the read point un-happen, rows upserted later
    * vanish. The version filter prunes the log BEFORE the collapse
    * shuffle (and under a version-partitioned physical layout it
    * becomes partition pruning). Version numbers come from the `upsert`
    * / `delete` return value. Read points BELOW the table's
    * [[compactionFloor]] are not replayable — compaction collapsed
    * that history to per-PK winners, so the read returns the
    * floor-collapsed approximation (the same forfeiture full
    * compaction always implied); the StarDerive pin fingerprints catch
    * the one consumer for whom that silently mattered. */
  def snapshotAsOf(name: String, asOfVersion: Long): DataFrame =
    collapseLog(name,
        changeLog(name).where(col("_version") <= asOfVersion))
      .select(spec(name).schema.fieldNames.map(col): _*)

  /** [[snapshotAsOf]] accelerated through the snapshot cache when the
    * cache's high-water mark is AT OR BELOW the read point (cache rows
    * keep their original `_version`, so `cache ∪ tail(cacheV, v]`
    * collapses to exactly the full log's `<= v` slice — a cache AHEAD
    * of the read point may have discarded versions the slice needs and
    * falls back to the full-log collapse). This is the read the
    * consistent-window IVM fold uses for its NEW factors: refresh
    * samples every table's high-water mark ONCE, then reads every
    * factor as of those marks, so a write landing mid-refresh is
    * excluded now and folded exactly once by the next refresh (which
    * starts from the recorded marks). Unlike [[snapshotServed]] this
    * never auto-refreshes the cache — a refresh mid-plan could rotate
    * the cache PAST the read point. */
  private[graft] def snapshotUpTo(name: String, v: Long): DataFrame =
    collapseLog(name, servingLogUpTo(name, v))
      .select(spec(name).schema.fieldNames.map(col): _*)

  /** Per-PK collapse winners at TWO version marks (`lo <= hi`) from ONE
    * pass over a single bounded log read — the fused form of two
    * [[snapshotUpTo]] collapses at different marks, which cannot share
    * a scan. Returns one row per PK carrying two nullable structs:
    * `_wo` (the winner at `lo`) and `_wn` (at `hi`), each holding the
    * requested `cols` as `__p_<col>` plus `__del`; a NULL struct means
    * the PK has no row at that mark. The winner ordering is exactly
    * [[collapseKeepMeta]]'s `(_version, nonPk...)` — the payload rides
    * BEHIND the ord fields in one struct-max, and a full-ord tie is a
    * same-batch duplicate whose payload fields tie too, so the two
    * forms can never disagree. `scanFilter` pre-filters the log below
    * the collapse — callers must pass a condition that keeps all of a
    * PK's history or none of it (PK columns, or declared-immutable
    * ones), exactly the [[snapshotPrefiltered]] soundness contract.
    * The cache serves only when its mark sits at or below `lo`
    * (winners at `lo` are not reconstructible from a cache collapsed
    * past it). Used by [[graft.operators.MaterializeJoin]]'s
    * null-extension count probes. */
  private[graft] def pairWinners(name: String, lo: Long, hi: Long,
      cols: Seq[String],
      scanFilter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val s = spec(name)
    val nonPk = allFields(name).map(_.name).filterNot(s.pk.contains)
    val log = (snapCacheVersion(name) match {
      case Some(cv) if !hasRowTimestamp(name) && cv <= lo =>
        servingLogUpTo(name, hi)
      case _ => changeLog(name).where(col("_version") <= hi)
    }).where(scanFilter)
    val ordPay = struct((col("_version") +: nonPk.map(col)) ++
      cols.map(c => col(c).as(s"__p_$c")) :+
      col("_deleted").as("__del"): _*)
    log.groupBy(s.pk.map(col): _*)
      .agg(max(when(col("_version") <= lo, ordPay)).as("_wo"),
        max(ordPay).as("_wn"))
  }

  /** The `_version <= v` slice of the change log, served through the
    * snapshot cache when the cache's mark is at or below `v` (see
    * [[snapshotUpTo]] for why a cache AHEAD of the read point cannot
    * serve the slice). Never auto-refreshes the cache. */
  private[graft] def servingLogUpTo(name: String, v: Long): DataFrame =
    snapCacheVersion(name) match {
      case Some(cv) if !hasRowTimestamp(name) && cv <= v =>
        val cache = toLogical(name, spark.read.schema(physSchema(name))
          .parquet(s"${snapCacheRoot(name)}/v$cv"))
        // `_version <= v` on the cache side too: the build now bounds
        // its collapse at the labeled mark, but a cache written by an
        // earlier generation could carry rows above it — a literal
        // filter costs nothing and keeps the window sound either way
        ttlFiltered(name, cache.where(col("_version") <= lit(v))
          .unionByName(changeLogRaw(name)
            .where(col("_version") > cv && col("_version") <= v)))
      case _ => changeLog(name).where(col("_version") <= v)
    }

  /** Point-in-time snapshot by wall-clock batch stamp — the timestamp
    * spelling of [[snapshotAsOf]] (the reference's SCN IS an HBase
    * timestamp). The upper bound is EXCLUSIVE, matching the reference:
    * a CurrentSCN connection maps to an HBase TimeRange that reads
    * cells strictly BEFORE the SCN, so a batch written at exactly the
    * read point is not visible. Rows written before the engine stamped
    * `_ts` (legacy generations) have a NULL stamp and are treated as
    * older than any read point, i.e. always visible. */
  def snapshotAsOfTime(name: String, asOf: java.sql.Timestamp): DataFrame =
    snapshotFullAsOf(name, asOf)
      .select(spec(name).schema.fieldNames.map(col): _*)

  /** [[snapshotFull]] (view-extension columns included) at a timestamp
    * read point — what as-of VIEWS collapse over. Exclusive upper
    * bound, see [[snapshotAsOfTime]]. */
  def snapshotFullAsOf(name: String, asOf: java.sql.Timestamp): DataFrame =
    collapseLog(name,
      changeLog(name).where(col("_ts").isNull || col("_ts") < asOf))

  /** Snapshot read: latest write per PK, tombstones dropped. One shuffle,
    * partitioned by the key. Projects the DECLARED schema only — columns
    * added by views are visible only through the view. */
  def snapshot(name: String): DataFrame =
    snapshotFull(name).select(spec(name).schema.fieldNames.map(col): _*)

  /** Snapshot with `cond` applied BELOW the last-wins collapse — on the
    * raw change log, where parquet row-group stats can prune the scan.
    * SOUND ONLY when `cond` references columns whose values are
    * constant across every version of a PK (PK columns always qualify;
    * other columns only under a caller-declared immutability contract,
    * e.g. [[graft.operators.MaterializeJoin.JoinSpec]]'s immutable join
    * keys): then the filter keeps ALL of a PK's history or NONE of it,
    * so the per-PK winner — tombstones included (deletes log the full
    * pre-image row, so a tombstone carries the same immutable values) —
    * is exactly the plain snapshot's. A mutable column here would
    * surface a stale version as the winner. `asOf` bounds the read
    * point like [[snapshotAsOf]]. */
  private[graft] def snapshotPrefiltered(name: String,
      cond: org.apache.spark.sql.Column,
      asOf: Option[Long] = None): DataFrame = {
    val log0 = changeLog(name).where(cond)
    val log = asOf.map(v => log0.where(col("_version") <= v))
      .getOrElse(log0)
    collapseLog(name, log)
      .select(spec(name).schema.fieldNames.map(col): _*)
  }

  /** Snapshot plus `phoenix_row_timestamp` — the winning write's batch
    * stamp, the engine's analog of the row's HBase cell timestamp
    * (reference cc/expression/function/PhoenixRowTimestampFunction.java:42,
    * which reads the empty-column cell timestamp during the scan). Same
    * map-side-combinable collapse as [[snapshotFull]]; NULL for rows whose
    * winning batch predates the `_ts` column. */
  def snapshotWithRowTs(name: String): DataFrame =
    collapseLogWithTs(name, servingLog(name))
      .select(spec(name).schema.fieldNames.map(col) :+
        col("_ts").as("phoenix_row_timestamp"): _*)

  /** Last-wins collapse KEEPING each winner's batch stamp — used by
    * [[snapshotWithRowTs]] and [[compact]]; derives from
    * [[collapseKeepMeta]] so a tie-break fix lands everywhere at once. */
  private def collapseLogWithTs(name: String, log: DataFrame): DataFrame = {
    val fields = allFields(name)
    collapseKeepMeta(name, log)
      .where(!col("_deleted"))
      .select(fields.map(f => col(f.name)) :+ col("_ts"): _*)
  }

  /** CDC view (reference: Phoenix CREATE CDC, CDCChangeScope CHANGE/PRE/
    * POST — cs/coprocessor/CDCGlobalIndexRegionScanner.java): one JSON
    * change record per write, with the post image for upserts. */
  /** The CDC change-record columns shared by [[cdc]] and [[cdcStream]]
    * — one definition so batch and streaming CDC can never emit
    * different schemas for the same table. The post image is NULL for
    * deletes (a tombstone has no post image, matching cdcImages;
    * emitting the deleted row's values as the "post" image told
    * consumers the row still existed). */
  private def cdcCols(name: String): Seq[org.apache.spark.sql.Column] = {
    val s = spec(name)
    col("_version").as("cdc_version") +: (s.pk.map(col) :+
      when(col("_deleted"), lit("delete")).otherwise(lit("upsert"))
        .as("cdc_op") :+
      when(!col("_deleted"),
        to_json(struct(s.schema.fieldNames.map(col): _*)))
        .as("cdc_post_image"))
  }

  /** A consumer positioned BELOW the table's replayability floor has
    * lost history: compaction collapsed versions <= floor to one
    * winner per PK, so the per-version changes in (sinceVersion, floor]
    * no longer exist — resuming there would silently skip them. Refuse
    * the explicit resume point; the bootstrap read (sinceVersion = -1)
    * stays allowed and reads the collapsed winners as its initial
    * image, which is the correct bootstrap semantic either way. */
  private def requireAboveFloor(name: String, sinceVersion: Long): Unit = {
    if (sinceVersion < 0L) return
    val floor = compactionFloor(name)
    require(sinceVersion >= floor,
      s"cdc($name, sinceVersion=$sinceVersion): history at or below " +
        s"the replayability floor ($floor) was compacted away — the " +
        "per-version changes this consumer would resume from no " +
        "longer exist. Re-bootstrap (sinceVersion = -1) or resume at " +
        "or above the floor")
  }

  def cdc(name: String, sinceVersion: Long = -1L): DataFrame = {
    requireAboveFloor(name, sinceVersion)
    changeLog(name)
      .where(col("_version") > sinceVersion)
      .select(cdcCols(name): _*)
  }

  /** CDC view with image scopes (reference PTable.CDCChangeScope CHANGE /
    * PRE / POST; CDCGlobalIndexRegionScanner builds the same three images
    * server-side): per change row,
    *  - cdc_pre_image:    the row as it stood before this write (NULL for
    *    first inserts and for writes over a tombstone);
    *  - cdc_post_image:   the row after the write (NULL for deletes);
    *  - cdc_change_image: only the cells this write changed (values
    *    stringified; NULL for deletes).
    * The pre image is a lag over the PK-keyed change order — one shuffle
    * on the key, the same partitioning the snapshot collapse uses. */
  def cdcImages(name: String, sinceVersion: Long = -1L,
      scopes: Set[String] = Set("PRE", "POST", "CHANGE")): DataFrame = {
    require(scopes.nonEmpty && scopes.subsetOf(Set("PRE", "POST", "CHANGE")),
      s"scopes must be among PRE/POST/CHANGE, got $scopes")
    requireAboveFloor(name, sinceVersion)
    val s = spec(name)
    val fields = s.schema.fieldNames.toSeq
    val nonPk = fields.filterNot(s.pk.contains)
    val ord = struct(col("_version") +: nonPk.map(col): _*)
    val w = Window.partitionBy(s.pk.map(col): _*).orderBy(ord.asc)
    val rowS = struct(fields.map(col) :+ col("_deleted").as("__del"): _*)
    val hasPrev = col("_prev").isNotNull && !col("_prev").getField("__del")
    val preJson = when(hasPrev,
      to_json(struct(fields.map(f => col(s"_prev.$f").as(f)): _*)))
    val postJson = when(!col("_deleted"),
      to_json(struct(fields.map(col): _*)))
    val emptyMap = map().cast(MapType(StringType, StringType))
    val changeJson =
      if (nonPk.isEmpty) when(!col("_deleted"), lit("{}"))
      else when(!col("_deleted"), to_json(map_concat(nonPk.map(f =>
        when(!hasPrev || !(col(s"_prev.$f") <=> col(f)),
          map(lit(f), col(f).cast(StringType))).otherwise(emptyMap)): _*)))
    val imageCols = Seq(
      "PRE" -> preJson.as("cdc_pre_image"),
      "POST" -> postJson.as("cdc_post_image"),
      "CHANGE" -> changeJson.as("cdc_change_image"))
      .collect { case (sc, c) if scopes(sc) => c }
    changeLog(name)
      .withColumn("_prev", lag(rowS, 1).over(w))
      .where(col("_version") > sinceVersion) // AFTER lag: images may need
      .select(col("_version").as("cdc_version") +: // pre-window history
        // the change's batch stamp — the reference keys its CDC index by
        // PHOENIX_ROW_TIMESTAMP() (cc/index/CDCTableInfo.java)
        col("_ts").as("phoenix_row_timestamp") +:
        (s.pk.map(col) :+
          when(col("_deleted"), lit("delete")).otherwise(lit("upsert"))
            .as("cdc_op")) ++: imageCols: _*)
  }

  // ---------- compaction + the replayability floor ----------
  // The floor records how far back the change log can still be REPLAYED:
  // a last-wins collapse bounded at any mark >= floor is exact; marks
  // BELOW it summarize history a compaction/truncate has discarded. It
  // is the O(1) signal the MV refreshes consult instead of scanning the
  // log's minimum version (a footer sweep per refresh per table), and —
  // unlike the minimum — it cannot false-positive a rebuild when every
  // pre-fold-mark row happens to have been superseded by later churn.

  private def floorFile(name: String) =
    new java.io.File(s"${dir(name)}/_compacted_below")

  /** Lowest version mark at which bounded collapse reads are exact;
    * -1 when the full history is intact. An MV whose fold mark sits
    * below this must rebuild — the rows its state summarizes can no
    * longer be retraced.
    *
    * Legacy fallback: warehouses compacted/truncated BEFORE the floor
    * marker existed have no `_compacted_below` file — returning -1
    * there would let an MV refresh treat the old compaction's rewrite
    * batch as an ordinary delta (no pre-images survive) and silently
    * double-count every surviving row. When the file is absent, fall
    * back ONCE to the footer-pruned min(`_version`) scan: a minimum
    * above 0 implies discarded history (versions start at 0), so the
    * derived floor is persisted and trips the rebuild path exactly
    * like a marker written at compaction time. The derivation is
    * conservative — an empty version-0 batch (a no-match DELETE)
    * also raises the minimum, costing at most one unnecessary
    * rebuild — and intact tables (min == 0, nothing persisted) memoize
    * the -1 per catalog instance so the scan runs once per process. */
  private[graft] def compactionFloor(name: String): Long = {
    val f = floorFile(name)
    if (f.exists())
      new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.toLong
    else Option(floorScanned.get(name)).map(_.longValue).getOrElse {
      val mn = changeLogRaw(name).agg(min(col("_version"))).head()
      val derived =
        if (mn.isNullAt(0)) -1L // empty log: nothing discarded
        else if (mn.getLong(0) > 0L) mn.getLong(0)
        else -1L
      // write DIRECTLY — setCompactionFloor's max-guard re-reads this
      // very function while the marker is still absent (recursion)
      if (derived >= 0L) writeFloorFile(name, derived)
      floorScanned.put(name, java.lang.Long.valueOf(derived))
      derived
    }
  }

  private val floorScanned =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def setCompactionFloor(name: String, v: Long): Unit =
    if (v > compactionFloor(name)) writeFloorFile(name, v)

  private def writeFloorFile(name: String, v: Long): Unit = {
    val f = floorFile(name)
    val tmp = new java.io.File(f.getParentFile, s".${f.getName}.tmp")
    java.nio.file.Files.write(tmp.toPath, v.toString.getBytes)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Swap a freshly-written log rewrite into place. Swap, never
    * delete-then-rename: the live data must not be gone while the
    * rewritten copy could still fail to land (renameTo signals failure
    * by RETURN VALUE, not exception). */
  private def swapDataDir(name: String, tmp: String): Unit = {
    val dataDir = new java.io.File(s"${dir(name)}/data")
    val old = new java.io.File(s"${dir(name)}/data_old")
    if (old.exists()) rmTree(old)
    if (dataDir.exists() && !dataDir.renameTo(old))
      throw new java.io.IOException(
        s"compact($name): cannot move live data aside — aborting with " +
          "the table untouched")
    if (!new java.io.File(tmp).renameTo(dataDir)) {
      old.renameTo(dataDir) // restore the pre-compaction state
      throw new java.io.IOException(
        s"compact($name): cannot move compacted data into place — " +
          "previous data restored")
    }
    rmTree(old)
  }

  /** Full compaction: rewrite the change log as a single batch holding
    * the current snapshot (all history discarded). At scale this is the
    * periodic job that keeps snapshot reads from re-collapsing an
    * ever-growing log; CDC consumers must be past sinceVersion before
    * compacting, and every registered MV over the table is forced into
    * a one-time rebuild (the floor rises past its fold mark). When MVs
    * should stay incremental across routine compaction, use the floored
    * variant [[compact(name:String,keepAfter:Long)*]] instead. */
  def compact(name: String): Unit = {
    // collapse keeping view-extension columns AND each winning row's
    // batch stamp — dropping _ts here would NULL phoenix_row_timestamp
    // for the whole table after compaction
    val collapsed = collapseLogWithTs(name, changeLog(name))
    versionedWrite(name) { v =>
      val snap = toPhysical(name, collapsed)
        .withColumn("_version", lit(v))
        .withColumn("_deleted", lit(false))
      val tmp = s"${dir(name)}/data_compacting"
      snap.write.mode(SaveMode.Overwrite).parquet(tmp)
      swapDataDir(name, tmp)
      setCompactionFloor(name, v)
    }
    // compaction discards the history behind the cache's high-water
    // mark: a cached winner whose PK was deleted pre-compaction has no
    // tombstone in the rewritten log, so serving cache+tail would
    // resurrect it. The compacted log IS a snapshot — drop the cache.
    invalidateSnapCache(name)
  }

  /** FLOORED compaction — routine log maintenance that coexists with
    * incremental MV refresh. History at versions <= `keepAfter` is
    * collapsed to one winner row per PK (tombstones and TTL-expired
    * rows INCLUDED — an MV fold may still need them as retractions),
    * each keeping its ORIGINAL `_version`/`_ts`/`_deleted`; versions
    * above `keepAfter` are kept raw. A bounded collapse at any mark
    * >= keepAfter reads exactly what it read before — so every MV whose
    * fold mark is at or above the floor refreshes incrementally as if
    * nothing happened, while superseded-version bulk below the floor is
    * physically gone. Callers pass `keepAfter = min(fold marks of the
    * MVs they maintain)` (each refresh returns its mark). Refuses
    * loudly when the floor cannot be honored: beyond the log's
    * high-water counter, or below a floor already set (history there
    * is gone; re-compacting at a lower mark cannot restore it).
    * CDC consumers share the full-compact caveat: per-version history
    * at or below `keepAfter` is collapsed, so a consumer must be past
    * the floor before compacting — [[cdc]]/[[cdcImages]] refuse an
    * explicit resume point below it rather than silently skipping the
    * vanished changes. */
  def compact(name: String, keepAfter: Long): Unit =
      tableLock(name).synchronized {
    val ctr = currentVersion(name)
    require(keepAfter <= ctr,
      s"compact($name, keepAfter=$keepAfter): floor is beyond the " +
        s"version counter ($ctr) — cannot declare unwritten history " +
        "compacted")
    val floor = compactionFloor(name)
    require(keepAfter >= floor,
      s"compact($name, keepAfter=$keepAfter): history below the " +
        s"existing floor ($floor) is already discarded — a lower " +
        "floor cannot be honored")
    // RAW collapse (no TTL filter): an expired winner below the floor
    // is a retraction a registered MV's next refresh must still see;
    // expired-row purge is the FULL compaction's job, where the MV
    // rebuild re-derives from the purged snapshot anyway.
    val fields = allFields(name)
    val winners = collapseKeepMeta(name,
        changeLogRaw(name).where(col("_version") <= keepAfter))
      .select(fields.map(f => col(f.name)) ++
        Seq(col("_version"), col("_deleted"), col("_ts")): _*)
    val tail = changeLogRaw(name).where(col("_version") > keepAfter)
      .select(fields.map(f => col(f.name)) ++
        Seq(col("_version"), col("_deleted"), col("_ts")): _*)
    val tmp = s"${dir(name)}/data_compacting"
    toPhysical(name, winners.unionByName(tail))
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    swapDataDir(name, tmp)
    setCompactionFloor(name, keepAfter)
    // the snapshot cache stays VALID: cache rows keep original versions
    // and the rewrite preserves the per-PK winner at every mark >= the
    // floor — including tombstone winners, which full compaction drops
    // (the resurrection hazard that forces it to invalidate).
  }

  /** Reclaim ORPHAN rows — rows sitting in the log dir ABOVE the
    * published version counter. A writer refused at publish time (a
    * foreign counter bump was detected after its append already
    * landed) or a crashed writer leaves such rows behind; every read
    * path already excludes them ([[changeLogRaw]] bounds at the
    * counter), so they are invisible — but they bloat the log and
    * every scan's footer set until physically removed. Rewrites the
    * log without them (temp-write + dir swap, like [[compact]]) under
    * the table write lock, so no append can interleave; the counter,
    * the floor, and the snapshot cache are all untouched (cache rows
    * sit at or below the counter by construction). Same caller
    * contract as [[compact]]: run when no reader of the log is in
    * flight — the dir swap can fail a concurrently executing scan
    * (results stay correct; the reader retries). Returns the number
    * of orphan rows reclaimed; no-op (0) when the log is clean. */
  def vacuumOrphans(name: String): Long = tableLock(name).synchronized {
    val ctr = currentVersion(name)
    val data = new java.io.File(s"${dir(name)}/data")
    if (!data.exists()) return 0L
    val raw = spark.read.schema(physSchema(name))
      .parquet(s"${dir(name)}/data")
    val orphans = raw.where(col("_version") > ctr).count()
    if (orphans == 0L) return 0L
    val tmp = s"${dir(name)}/data_vacuuming"
    raw.where(col("_version") <= ctr)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    swapDataDir(name, tmp)
    orphans
  }

  /** Updatable-filter views over a base table (reference: Phoenix VIEW
    * hierarchies, PTable.ViewType — a view is a predicate over the base
    * rowkey space; SURVEY.md §1.1). Views stack: a view of a view ANDs
    * the predicates. Multi-tenant tables are this with a leading
    * tenant-id equality. */
  private val views =
    scala.collection.mutable.Map[String, (String, org.apache.spark.sql.Column)]()

  def createView(name: String, base: String,
      predicate: org.apache.spark.sql.Column): Unit = {
    require(specs.contains(base) || views.contains(base),
      s"unknown base table/view $base")
    views(name) = (base, predicate)
  }

  /** Columns a view has dropped (reference: diverged views — ALTER VIEW
    * DROP COLUMN detaches the view's projection from the base; the base
    * keeps the column). */
  private val viewDropped =
    scala.collection.mutable.Map[String, Set[String]]()

  def viewDropColumn(name: String, column: String): Unit = {
    require(views.contains(name), s"unknown view $name")
    viewDropped(name) = viewDropped.getOrElse(name, Set.empty) + column
  }

  def view(name: String,
      asOf: Option[java.sql.Timestamp] = None): DataFrame =
    views.get(name) match {
      case Some((base, pred)) =>
        val df = (if (views.contains(base)) view(base, asOf)
          else asOf.map(snapshotFullAsOf(base, _))
            .getOrElse(snapshotFull(base)))
          .where(pred)
        viewDropped.getOrElse(name, Set.empty).foldLeft(df)(_ drop _)
      case None =>
        asOf.map(snapshotAsOfTime(name, _)).getOrElse(snapshot(name))
    }

  /** Base table a (possibly stacked) view resolves to. */
  def viewBase(name: String): String = views.get(name) match {
    case Some((base, _)) => viewBase(base)
    case None => name
  }
  def isView(name: String): Boolean = views.contains(name)

  /** Immediate parent of a view (a table name or another view). */
  def viewParent(name: String): Option[String] = views.get(name).map(_._1)

  /** Views whose (possibly stacked) base resolves to `table` — the
    * dependents a DROP TABLE must account for (the reference refuses to
    * drop a table with child views). */
  def dependentViews(table: String): Seq[String] =
    views.keys.filter(v => viewBase(v) == table).toSeq.sorted

  /** Remove a view definition (used by DROP SCHEMA CASCADE cleanup). */
  def dropView(name: String): Unit = {
    views.remove(name)
    viewDropped.remove(name)
  }

  /** Dynamic columns (reference: per-query extra columns, g:832-846,
    * DynamicColumnIT): extend a read with typed columns the base schema
    * doesn't declare — absent values are NULL of the declared type. */
  def withDynamicColumns(df: DataFrame, dynamic: StructType): DataFrame =
    dynamic.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }

  /** Cursor (reference: DECLARE/OPEN/FETCH, CursorFetchPlan →
    * toLocalIterator paging on the driver): fetch-size batches without
    * collecting the whole result. */
  def cursor(df: DataFrame, fetchSize: Int): Iterator[Seq[Row]] =
    df.toLocalIterator().asScala.grouped(fetchSize)
      .map(_.toSeq)

  /** Streaming CDC: the same change log as a Structured Streaming source
    * (consumers get each batch's changes incrementally). Reads the physical
    * (generation-suffixed) schema and renames back, like [[changeLog]] —
    * otherwise a DROP + re-ADD column would resurface dropped data.
    * Unlike the batch paths this does NOT bound at the version counter
    * (a static literal can't bound an unbounded stream): a refused
    * foreign writer's orphan rows WOULD stream — run [[vacuumOrphans]]
    * before starting a stream over a log that may carry them. */
  def cdcStream(name: String): DataFrame = {
    // a created-but-never-written table has no data dir yet; the batch
    // changeLog guards this — the stream must too (an empty dir streams
    // fine with an explicit schema, a MISSING path throws at start)
    new java.io.File(s"${dir(name)}/data").mkdirs()
    // the TTL filter that changeLog documents as the single choke point
    // applies HERE too — a stream bootstrapping over an old log must
    // not emit changes every batch read path says no longer exist. The
    // cutoff is sampled once at stream START (the injectable clock is
    // driver-side): rows already expired then are excluded; later
    // micro-batches only ever see freshly-written files, whose _ts is
    // young by construction, so a start-time literal loses nothing.
    val ttlFilter: org.apache.spark.sql.Column = ttlSeconds(name) match {
      case Some(ttl) =>
        val cutoff = new java.sql.Timestamp(clock() - ttl * 1000L)
        col("_ts").isNull || col("_ts") >= lit(cutoff)
      case None => lit(true)
    }
    toLogical(name,
        spark.readStream.schema(physSchema(name))
          .parquet(s"${dir(name)}/data"))
      .where(ttlFilter)
      .select(cdcCols(name): _*)
  }
}

object GraftCatalog {
  /** Opt-in catalog MUTATION-op timing (createTable/upsert/delete):
    * the bench resets this around each query and reports the seconds
    * additively (`fixture_ops` in bench_out.json), so fixture ingest
    * is visible SEPARATELY from operator serve/refresh work without
    * removing it from any per-query number (the bench stays honest —
    * VERDICT r16 #7). Single bench thread; synchronized adds cover
    * any pooled caller. */
  private[graft] object OpTiming {
    private var secs = 0.0
    def reset(): Unit = synchronized { secs = 0.0 }
    def get: Double = synchronized { secs }
    private[sources] def timed[T](f: => T): T = {
      val t0 = System.nanoTime()
      try f
      finally synchronized { secs += (System.nanoTime() - t0) / 1e9 }
    }
  }

  /** StructField metadata key marking a numeric UNSIGNED_* column whose
    * CHECK ≥ 0 is enforced on write (SURVEY §1.2). */
  val UnsignedKey = "graft.unsigned"

  /** StructField metadata key carrying CHAR(n)'s declared width: wider
    * values error on write. The reference's byte padding is a storage
    * encoding detail (PChar.toObject strips it on read), so values are
    * NOT stored padded. */
  val CharWidthKey = "graft.char.width"

  /** StructField metadata key carrying VARCHAR(n)'s max length: wider
    * values error on write, no padding (PVarchar maxLength). */
  val VarcharWidthKey = "graft.varchar.width"

  /** StructField metadata key carrying a column's DEFAULT expression
    * text (reference g:816; DefaultValueExpression): compiled via
    * Spark `expr` and applied at UPSERT time when the batch omits the
    * column. */
  val DefaultExprKey = "graft.default.expr"

  /** StructField metadata key marking the (single) ROW_TIMESTAMP PK
    * column (reference g:816 pk constraint; RowTimestampIT): bound to
    * the batch write stamp when an UPSERT omits it; explicit values
    * write through unchanged. */
  val RowTimestampKey = "graft.row.timestamp"
}
