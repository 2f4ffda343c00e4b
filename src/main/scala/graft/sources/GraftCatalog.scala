package graft.sources

import graft.operators.Commit
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, LocalFrame}
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
  *    tombstones — a groupBy on the key with a `max_by` winner, whose
  *    map-side partial aggregate keeps the one shuffle key-space-sized;
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
    * [[graft.operators.Materialize.refresh]], which must read the MV
    * meta before it knows which tables are involved). */
  private[graft] def session: SparkSession = spark

  private def dir(name: String) = s"$warehouse/$name"
  private def dataDir(name: String) = new java.io.File(s"${dir(name)}/data")
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
      props: Map[String, String] = Map.empty): TableSpec = {
    require(pk.nonEmpty, "primary key required")
    require(pk.forall(c => schema.fieldNames.contains(c)),
      s"pk columns $pk must exist in schema")
    checkReserved(schema.fields)
    validateProps(props)
    val spec = TableSpec(name, schema, pk, props)
    specs(name) = spec
    forget(name)
    new java.io.File(dir(name)).mkdirs()
    // the first step of any process over an existing dir: a compaction
    // or vacuum cut between its two moves left the live log aside
    Commit.recoverAside(spark, dataDir(name).toString)
    // stamp "full history intact" on a FRESH table (no data yet, no
    // marker) so [[compactionFloor]]'s legacy-fallback scan never runs
    // for tables this generation creates; a re-registered EXISTING dir
    // keeps its state — absent marker there means a pre-floor
    // generation may have compacted it, and the fallback derives that
    if (!dataDir(name).exists() && !floorFile(name).exists())
      writeMark(floorFile(name), -1L)
    spec
  }

  /** TTL validates at DDL time like the reference (TableProperty.TTL):
    * a positive second count, or FOREVER / NONE for no expiry. */
  private def validateProps(props: Map[String, String]): Unit =
    prop(props, "TTL").foreach { v =>
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
    forget(name)
  }

  /** A property's value, its key matched case-insensitively. */
  private def prop(props: Map[String, String], key: String): Option[String] =
    props.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** A table property holding a positive count (`TTL` seconds,
    * `SNAPSHOT_CACHE_BATCHES`); `None` when absent or not positive. */
  private def positiveProp(name: String, key: String): Option[Long] =
    prop(spec(name).props, key)
      .flatMap(v => scala.util.Try(v.toLong).toOption).filter(_ > 0)

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
    forget(name)
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
    forget(name)
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
    forget(name)
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
    forget(name)
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
    * registered MV incrementally refreshable. Reads each state's meta,
    * which names its tables and their marks. */
  private[graft] def mvFoldMarks(table: String): Seq[Long] =
    mvDependents(table).map { p =>
      val m = graft.operators.MvMeta.read(spark, p)
      m.marks(m.tables.indexOf(table))
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
  def truncate(name: String): Unit = {
    spec(name) // throws on unknown table
    // truncation is a history discard like compaction: consume one
    // version (so freshness probes keyed on the counter observe the
    // change — an MV would otherwise serve the vanished rows as
    // "fresh") and raise the replayability floor past every earlier
    // fold mark, forcing the rebuild that is the only correct refresh.
    // The whole sequence holds the table's write lock, so a racing
    // append can't land rows between the tree delete and the floor bump.
    versionedWrite(name) { v =>
      rmTree(dataDir(name))
      invalidateSnapCache(name) // a stale cache would resurrect every row
      setCompactionFloor(name, v)
    }
  }

  // Version-counter protocol. The counter is what every mark-sampling
  // read (MV refresh fold windows, snapshot-cache keys, freshness
  // probes) trusts, so it must satisfy ONE invariant at all times:
  // `v <= counter  ⇒  every row of version v is fully visible in the
  // log`. That forces the write order RESERVE → APPEND → PUBLISH —
  // persisting the counter before the append (the old order) let a
  // refresh sample a version whose rows were still in flight, cache a
  // delta that missed them, and record a mark covering rows it never
  // folded (a silently lost update). [[versionedWrite]] runs all three
  // steps under a PER-TABLE lock, so one version per table is in
  // flight at a time: v is the counter plus one, published by one
  // [[writeMark]]. Racing writer threads of one JVM (e.g. a
  // maintenance stream racing ad-hoc upserts) take turns — two Spark
  // jobs appending into one parquet directory share its `_temporary`
  // staging dir, so the first job's commit-time cleanup can delete the
  // second's in-flight task files; writes to different tables stay
  // concurrent. A SECOND catalog instance (another process/driver)
  // racing the same table is detected at publish time — the counter
  // file moved beyond what this instance published — and refused
  // loudly rather than silently interleaving; true multi-driver
  // writes need a coordination service, as Phoenix delegates to
  // HBase's atomicity.

  /** Per table, the counter this instance last published or adopted
    * — what [[foreignBumpCheck]] compares the file against. */
  private val publishedByUs =
    new scala.collection.concurrent.TrieMap[String, Long]()

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

  private val tableWriteLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def tableLock(name: String): Object =
    tableWriteLocks.computeIfAbsent(name, _ => new Object)

  private def versionedWrite(name: String)(write: Long => Unit): Long =
    tableLock(name).synchronized {
      // nothing of ours is in flight here, so a counter that moved is a
      // SEQUENTIAL handoff from another instance (a reopened warehouse,
      // one writer at a time) — adopt it as the new baseline
      val base = math.max(currentVersion(name),
        publishedByUs.getOrElse(name, -1L))
      publishedByUs(name) = base
      val v = base + 1L
      // publish v whether the append landed or failed: a failed Spark
      // write aborts its task files, so the version is an empty gap the
      // counter may step over (gaps only overestimate the tail-batch
      // count the cache threshold reads). A foreign bump between
      // reserve and publish means the other writer may have stamped
      // OUR version on its rows — the append already landed, so the
      // duplicate cannot be unwound, but it must never be silent.
      def publish(): Unit = {
        foreignBumpCheck(name, currentVersion(name))
        writeMark(versionFile(name), v)
        publishedByUs(name) = v
      }
      try write(v)
      catch {
        case e: Throwable =>
          // a secondary failure here must not MASK the append's own error
          try publish()
          catch { case e2: Throwable => e.addSuppressed(e2) }
          throw e
      }
      // a refused publish means another writer may share version v, so
      // the rows recorded for v are not all of v's rows
      try publish() catch { case e: Throwable => forget(name); throw e }
      v
    }

  /** UPSERT a batch: append rows stamped with the next version. Missing
    * columns take their declared DEFAULT expression when one exists
    * (reference DefaultValueExpression — applied only when the write
    * OMITS the column; an explicit NULL in the batch stores NULL),
    * otherwise NULL. */
  def upsert(name: String, df: DataFrame): Long = {
    val v = versionedWrite(name)(v =>
      remember(name, v, appendUpsert(name, df, v)))
    refreshSnapCacheIfDue(name)
    v
  }

  /** Appends `df` as the batch of version `v`, padded, checked and
    * stamped in ONE projection; returns the rows the driver path wrote
    * ([[Commit.append]]). */
  private def appendUpsert(name: String, df: DataFrame,
      v: Long): Option[Array[InternalRow]] = {
    val fields = allFields(name)
    // one clock sample per batch: the ROW_TIMESTAMP fill and the `_ts`
    // stamp must agree (Phoenix commits a mutation batch at one server
    // timestamp, and the ROW_TIMESTAMP column IS that timestamp)
    val nowMs = clock()
    val nowTs = new java.sql.Timestamp(nowMs)
    def value(f: StructField): org.apache.spark.sql.Column =
      (if (df.columns.contains(f.name)) col(f.name)
      else if (f.metadata.contains(GraftCatalog.RowTimestampKey))
        // ROW_TIMESTAMP PK omitted by the write → the batch stamp
        // (RowTimestampIT upsertingRowTimestampColAutomatically);
        // BIGINT spelling carries epoch millis like the reference
        if (f.dataType == LongType) lit(nowMs) else lit(nowTs)
      else if (f.metadata.contains(GraftCatalog.DefaultExprKey))
        expr(f.metadata.getString(GraftCatalog.DefaultExprKey))
      else lit(null)).cast(f.dataType)
    // the ROW_TIMESTAMP column IS the cell timestamp in the reference
    // (RowTimestampIT: an explicit value drives scan TimeRange
    // visibility and TTL) — so when the table declares one, `_ts`
    // takes the row's value (batch clock only where it was omitted
    // and the padding already filled it). Note: such tables trade
    // away the one-_ts-per-file parquet stats pruning that
    // constant-stamped batches give the MV expiry probe.
    val ts =
      fields.find(_.metadata.contains(GraftCatalog.RowTimestampKey)) match {
        case Some(f) if f.dataType == LongType =>
          coalesce(timestamp_millis(value(f)), lit(nowTs))
        case Some(f) =>
          coalesce(value(f).cast(TimestampType), lit(nowTs))
        case None => lit(nowTs)
      }
    def checked(f: StructField): org.apache.spark.sql.Column = {
      val c = value(f)
      // UNSIGNED_* CHECK ≥ 0 (Phoenix throws IllegalDataException on
      // a negative write): validated inside the write projection, so
      // it costs nothing beyond the pass that writes the rows
      if (f.metadata.contains(GraftCatalog.UnsignedKey))
        when(c < 0, raise_error(concat(
            lit(s"unsigned column ${f.name} cannot store negative value "),
            c.cast(StringType))))
          .otherwise(c)
      else if (f.metadata.contains(GraftCatalog.CharWidthKey)) {
        // CHAR(n): capacity error beyond n (DataExceedsCapacityException
        // analog). NOT padded on store: PChar's byte padding is a
        // storage encoding detail its toObject strips on read, and
        // storing padded here would break `col = 'literal'` compares
        val n = f.metadata.getLong(GraftCatalog.CharWidthKey).toInt
        when(length(c) > n, raise_error(concat(
            lit(s"CHAR(${n}) column ${f.name} exceeds capacity: "), c)))
          .otherwise(c)
      } else if (f.metadata.contains(GraftCatalog.VarcharWidthKey)) {
        // VARCHAR(n): max length, no padding
        val n = f.metadata.getLong(GraftCatalog.VarcharWidthKey).toInt
        when(length(c) > n, raise_error(concat(
            lit(s"VARCHAR(${n}) column ${f.name} exceeds capacity: "), c)))
          .otherwise(c)
      } else c
    }
    Commit.append(stamped(name, df, v, deleted = false, ts, checked),
      dataDir(name).toString)
  }

  /** DELETE by predicate: tombstone the matching PKs as of now. */
  def delete(name: String, predicate: org.apache.spark.sql.Column): Long = {
    val v = versionedWrite(name)(ver => Commit.append(stamped(name,
      snapshotFull(name).where(predicate)
        .select(allFields(name).map(f => col(f.name)): _*),
      ver, deleted = true, lit(batchTs())), dataDir(name).toString))
    refreshSnapCacheIfDue(name)
    v
  }

  /** `rows` (logical columns) as one log batch of version `v`, in one
    * projection: each column's `value` (the column itself by default)
    * under its physical name, then `_version`, `_deleted` and `_ts` —
    * the [[logSchema]] layout. */
  private def stamped(name: String, rows: DataFrame, v: Long,
      deleted: Boolean, ts: org.apache.spark.sql.Column,
      value: StructField => org.apache.spark.sql.Column =
        f => col(f.name)): DataFrame =
    rows.select(allFields(name).map(f => value(f).as(phys(name, f.name))) ++
      Seq(lit(v).as("_version"), lit(deleted).as("_deleted"),
        ts.as("_ts")): _*)

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

  /** The read-time TTL filter (shared by [[changeLog]], the cached
    * [[servingLog]] and [[cdcStream]]). Legacy NULL stamps never
    * expire. The cutoff comes from the injectable catalog [[clock]]
    * (not `current_timestamp()`) so every read path — and
    * [[graft.operators.Materialize.refresh]]'s
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
      if (dataDir(name).exists())
        spark.read.schema(physSchema(name)).parquet(dataDir(name).toString)
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
    positiveProp(name, "TTL")

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

  /** Wall clock for batch stamps — swappable in tests to back-date
    * writes (TTL expiry, as-of reads) without real sleeps. */
  private[graft] var clock: () => Long = () => System.currentTimeMillis()

  /** Wall-clock stamp for the batch being written — the engine's analog of
    * the HBase cell timestamp (one value per batch: Phoenix commits a
    * mutation batch at one server timestamp). Backs PHOENIX_ROW_TIMESTAMP.
    * Batches written before this column existed read back NULL. */
  private def batchTs(): java.sql.Timestamp =
    new java.sql.Timestamp(clock())

  // ---------- snapshot-serving cache ----------
  // Every snapshot read collapses the change log; map-side combining
  // keeps the SHUFFLE key-space-sized, but the SCAN still reads the
  // whole history — a 100-TB read-mostly table accumulating thousands
  // of batches would re-read superseded versions on every query. The
  // cache is a high-water-mark-keyed collapsed copy (alive winners
  // only, ORIGINAL `_version` and `_ts` kept) at `_snapcache/v<V>`.
  // The change log itself is UNTOUCHED — CDC, point-in-time reads and
  // IVM keep full history (unlike `compact`, which discards it).
  //
  // Two ways a read uses it. A SERVING read ([[snapshotServed]]) lays
  // the tail (`_version > V`) over the cache, the way HBase lays the
  // memstore over its flushed files: cache rows whose PK the tail does
  // not touch, plus the tail's own winners, with no collapse of the
  // whole table. Every other read (as-of, refresh, a tail past the
  // overlay's row cap) collapses cache ∪ tail through [[servingLog]].
  //
  // The MEMSTORE is the tail this instance wrote, kept on the driver:
  // the rows each driver-path upsert landed ([[Commit.append]] hands
  // them back), per table and version, recorded under the table lock
  // before the version publishes. It holds at most [[Commit.cap]] rows
  // per table and nothing for a table with no built cache; a cache
  // rebuild, compaction, truncate, vacuum, drop or ALTER empties it.
  // The overlay reads the tail from it only when it holds EVERY
  // version of the tail (the hole rule): a failed or distributed
  // write, a DELETE, or a version another catalog instance published
  // leaves a hole, and the next reads run the tail job instead.
  //
  // Correctness bound: collapse-then-filter == filter-then-collapse
  // requires `_ts` monotone in `_version` per PK (batch stamps are; a
  // ROW_TIMESTAMP column carries arbitrary user values, so such tables
  // refuse the cache). Tombstone winners are safe to drop: any tail
  // row outranks every cached row, and a PK absent from both is absent
  // from the snapshot either way.
  //
  // Every read below composes four primitives: [[cacheMark]] (may a
  // cache serve, and at which mark), [[servingLog]] (the log slice a
  // read point sees, through the cache when it can serve),
  // [[collapseLog]] (the last-wins collapse) and [[overlay]] (the tail
  // laid over the cache), narrowed by [[declared]].

  private def snapCacheRoot(name: String) =
    GraftCatalog.snapCacheRoot(dir(name))

  /** The memstore: per table, the rows of each version above the cache
    * mark that a driver-path upsert of this instance wrote, in the
    * [[logSchema]] layout with physical values. */
  private val memstore =
    new scala.collection.concurrent.TrieMap[String,
      Map[Long, Array[InternalRow]]]()

  /** Record the rows the append of version `v` wrote on the driver
    * (`None` after a distributed write, which leaves a hole). Called
    * under the table lock, before `v` publishes. */
  private def remember(name: String, v: Long,
      written: Option[Array[InternalRow]]): Unit =
    (written, cacheMark(name)) match {
      case (Some(rows), Some(mark)) if mark >= 0 =>
        val held = memstore.getOrElse(name, Map.empty)
          .filter { case (w, _) => w > mark }
        if (held.valuesIterator.map(_.length).sum + rows.length <= Commit.cap)
          memstore(name) = held + (v -> rows)
        else memstore.remove(name)
      case _ =>
    }

  /** Empty `name`'s memstore: what it holds no longer lies over the
    * cache, or no longer has the table's layout. */
  private def forget(name: String): Unit =
    tableLock(name).synchronized { memstore.remove(name) }

  private def hasRowTimestamp(name: String): Boolean =
    allFields(name).exists(_.metadata.contains(GraftCatalog.RowTimestampKey))

  /** The built cache dirs, by mark. */
  private def cacheDirs(name: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(snapCacheRoot(name)).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .flatMap(f => GraftCatalog.snapCacheMark(f.getPath).map(_ -> f))

  /** High-water version of the current cache, if one exists. */
  private[graft] def snapCacheVersion(name: String): Option[Long] =
    cacheDirs(name).map(_._1).maxOption

  /** The one cache-eligibility test: the mark the table's cache covers
    * through (`-1` while none is built), or `None` for a table that may
    * not use a cache (a ROW_TIMESTAMP column breaks the correctness
    * bound above). */
  private def cacheMark(name: String): Option[Long] =
    if (hasRowTimestamp(name)) None
    else Some(snapCacheVersion(name).getOrElse(-1L))

  /** The cache built at mark `v`, in logical column names, TTL not
    * applied — the one scan of a `_snapcache/v<N>` dir. */
  private def cacheScan(name: String, v: Long): DataFrame =
    toLogical(name, spark.read.schema(physSchema(name))
      .parquet(GraftCatalog.snapCacheLeaf(dir(name), v)))

  /** Build/refresh the serving cache at the current high-water mark.
    * Flip-don't-overwrite (same rule as compact/MV state): build the
    * `v<V>` dir through [[Commit.replace]], then drop older cache versions.
    * Holds the table's write lock: two builds at one mark (two writer
    * threads each passing the auto-refresh threshold) would share the
    * temp dir, and one would fail. No-op (returns -1) on an empty log. */
  def refreshSnapshotCache(name: String): Long = tableLock(name).synchronized {
    require(!hasRowTimestamp(name),
      s"snapshot cache requires _ts monotone per PK; table $name " +
        "declares a ROW_TIMESTAMP column (arbitrary user stamps)")
    forget(name)
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
    // servingLog's cache-plus-tail union relies on "no cache row sits
    // above the cache's mark" for its consistent-window reads.
    //
    // INCREMENTAL rebuild (guide §1.2; VERDICT r16 #3): with a prior
    // cache at V0 < v, the new cache is collapse(cache_V0 ∪ tail
    // (V0, v]) — last-wins collapse is associative (the cached winner
    // IS the max-by-(version, tiebreak) of its slice, and every tail
    // row outranks it), and a PK whose ≤V0 winner was a TOMBSTONE is
    // absent from the cache and stays absent unless the tail
    // resurrects it, exactly as the full collapse would conclude. So
    // a tail-batch refresh re-collapses cache+delta instead of the
    // whole history — the deep-log case this cache exists for. The
    // source is the RAW log (no TTL filter): reads apply TTL from the
    // current spec, so a later ALTER SET TTL governs cached rows too.
    val source = prior match {
      case Some(v0) if v0 < v =>
        cacheScan(name, v0).unionByName(
          changeLogRaw(name).where(col("_version") > v0 &&
            col("_version") <= v))
      case _ => changeLogRaw(name).where(col("_version") <= v)
    }
    Commit.replace(toPhysical(name,
        collapseLog(name, source, "_version", "_deleted", "_ts")),
      GraftCatalog.snapCacheLeaf(dir(name), v))
    cacheDirs(name).collect { case (m, f) if m < v => f }.foreach(rmTree)
    v
  }

  /** The version counter's current value (the log's high-water mark)
    * without a data scan — upsert/delete bump the counter file, so a
    * freshness probe is one tiny local read, not a footer sweep. */
  private[graft] def currentVersion(name: String): Long =
    readMark(versionFile(name)).getOrElse(-1L)

  /** A catalog marker file's number (`_latest_version`,
    * `_compacted_below`); `None` while the file is absent. */
  private def readMark(f: java.io.File): Option[Long] =
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.toLong)
    else None

  /** Replace a marker file: temp file, then an atomic move, so a reader
    * never sees a torn value. */
  private def writeMark(f: java.io.File, v: Long): Unit = {
    val tmp = new java.io.File(f.getParentFile, s".${f.getName}.tmp")
    java.nio.file.Files.write(tmp.toPath, v.toString.getBytes)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Snapshot for SERVING reads ([[PhoenixSql]] registers its table
    * snapshots through here), by the state of the snapshot cache:
    *
    *  - EXACTLY fresh (cache mark == the version counter): the snapshot
    *    IS the cache, so this is a PURE parquet scan of it (TTL filter
    *    only). An Aggregate over this plan sits directly on a scan,
    *    which is what lets [[graft.plans.AggRewriteRule]] swap
    *    registered MV state under SQL front-end queries.
    *  - BEHIND the counter: the [[overlay]] of the tail on the cache —
    *    the tail comes from the memstore, or one job reads it, and the
    *    plan it returns scans the cache with no shuffle, so a PK
    *    predicate pushes into the cache scan.
    *    Its union is not a bare scan, so an MV does not serve it; where
    *    a PK filter prunes the tail branch away, the MV's freshness
    *    probe still refuses a state behind the counter.
    *  - absent, a tail past the overlay's row cap, or a ROW_TIMESTAMP
    *    table: the ordinary [[snapshot]] collapse. */
  def snapshotServed(name: String): DataFrame = {
    refreshSnapCacheIfDue(name)
    val counter = currentVersion(name)
    cacheMark(name).filter(_ >= 0) match {
      case Some(v) if v == counter =>
        declared(name, ttlFiltered(name, cacheScan(name, v)))
      case Some(v) if v < counter =>
        overlay(name, v, counter)
          .fold(snapshot(name))(o => declared(name, ttlFiltered(name, o)))
      case _ => snapshot(name)
    }
  }

  /** The tail `(mark, upTo]` of the change log laid over the cache at
    * `mark`: the cache rows whose PK no tail row touches (a tombstone
    * touches its PK too), plus the tail's alive winners, with every
    * column and `_version`, `_deleted`, `_ts`; TTL not applied. `None`
    * when the tail holds more than [[Commit.cap]]
    * rows.
    *
    * The tail's rows come from the memstore when it holds an entry for
    * every version in `(mark, upTo]`, with no Spark job; on any hole,
    * one Spark job reads the raw tail, at most `cap + 1` rows per
    * partition. Its winners come from the one [[collapseKeepMeta]] over
    * those rows as a single-partition local relation, so the
    * collapse needs no exchange and runs inside the reading query's own
    * job. The PK exclusion is a literal set over `struct(pk…)`, each
    * field a literal of its PK column's type; struct equality treats two
    * NULL fields as equal, so a PK with a NULL component is excluded
    * like any other, and the filter runs no job of its own.
    *
    * Sound because every tail row's `_version` is above the mark, so
    * it outranks every cache row of its PK, and the cache holds alive
    * winners only: a PK the tail touches takes the tail's winner (or
    * none, when that is a tombstone), and an untouched PK keeps its
    * cache row — exactly the collapse of cache ∪ tail. `_ts` is monotone
    * in `_version` per PK (the bound the cache already relies on), so
    * the caller's TTL filter agrees whether it runs before or after the
    * overlay. */
  private def overlay(name: String, mark: Long,
      upTo: Long): Option[DataFrame] = {
    val cap = Commit.cap
    val held = memstore.getOrElse(name, Map.empty)
    val (schema, rows) =
      if ((mark + 1L to upTo).forall(held.contains))
        (StructType(logSchema(name).fields.map(_.copy(nullable = true))),
          (mark + 1L to upTo).toArray.flatMap(held))
      else {
        val tail = changeLogRaw(name)
          .where(col("_version") > mark && col("_version") <= upTo)
        (tail.schema, tail.queryExecution.toRdd
          .mapPartitions(_.take(cap + 1).map(_.copy())).collect())
      }
    if (rows.length > cap) return None
    val pk = spec(name).pk.map(schema(_))
    val at = pk.map(f => schema.fieldIndex(f.name))
    val touched = rows.map(r => at.zip(pk).map { case (i, f) =>
        r.get(i, f.dataType) }).distinct
      .map(k => struct(k.zip(pk).map { case (v, f) =>
        ColumnBridge.toColumn(Literal(v, f.dataType)).as(f.name) }: _*))
    val cache = cacheScan(name, mark)
    val untouched =
      if (touched.isEmpty) cache
      else cache.where(!struct(pk.map(f => col(f.name)): _*)
        .isin(touched.toSeq: _*))
    val winners = collapseLog(name,
      LocalFrame(spark, schema, rows.toSeq).coalesce(1),
      "_version", "_deleted", "_ts")
    Some(untouched.unionByName(winners))
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
    forget(name)
    rmTree(new java.io.File(snapCacheRoot(name)))
  }

  /** Auto-refresh policy (opt-in per table): with property
    * `SNAPSHOT_CACHE_BATCHES=n`, a table that has ≥ n batches beyond
    * the current cache (or since its first version when none exists)
    * rebuilds the cache — the compaction-threshold idiom, minus the
    * history loss. Versions are sequential per write, so the version
    * delta IS the tail batch count. Runs after every write and before
    * every current read: the write hook only sees writes THIS process
    * performs with the property already set, so the read hook rebuilds
    * once at the next read instead of re-collapsing an ever-growing
    * tail forever. The probe is O(1) (version-counter file + cache dir
    * listing). */
  private def refreshSnapCacheIfDue(name: String): Unit =
    positiveProp(name, "SNAPSHOT_CACHE_BATCHES").foreach { n =>
      if (cacheMark(name).exists(currentVersion(name) - _ >= n))
        refreshSnapshotCache(name)
    }

  /** What collapsing reads flow through: the `_version <= upTo` slice
    * of the change log (the whole log when `upTo` is `None`). A cache
    * at a mark at or below the read point serves it as cache ∪ tail —
    * cache rows keep their original `_version`, so the union collapses
    * to exactly the full log's slice; a cache AHEAD of the read point
    * may have discarded versions the slice needs, so the read falls
    * back to the full change log. TTL-filtered HERE (cache rows keep
    * `_ts`), so a later ALTER SET TTL governs cached rows exactly like
    * logged ones. Only a current read (`upTo = None`) auto-refreshes
    * the cache: a refresh mid-plan could rotate it PAST a read point. */
  private[graft] def servingLog(name: String,
      upTo: Option[Long] = None): DataFrame = {
    if (upTo.isEmpty) refreshSnapCacheIfDue(name)
    cacheMark(name).filter(cv => cv >= 0 && upTo.forall(cv <= _)) match {
      case Some(cv) =>
        // `_version <= bound` on the cache side too: the build bounds
        // its collapse at the labeled mark, but a cache written by an
        // earlier generation could carry rows above it — a literal
        // filter costs nothing and keeps the window sound either way
        val tail = col("_version") > cv
        ttlFiltered(name,
          cacheScan(name, cv).where(col("_version") <= upTo.getOrElse(cv))
            .unionByName(changeLogRaw(name).where(
              upTo.fold(tail)(u => tail && col("_version") <= u))))
      case None =>
        upTo.fold(changeLog(name))(u =>
          changeLog(name).where(col("_version") <= u))
    }
  }

  /** The alive per-PK winners of `log` — [[collapseKeepMeta]] minus
    * tombstone winners — with every column (view extensions included)
    * followed by the `meta` columns asked for. */
  private def collapseLog(name: String, log: DataFrame,
      meta: String*): DataFrame =
    collapseKeepMeta(name, log)
      .where(!col("_deleted"))
      .select((allFields(name).map(_.name) ++ meta).map(col): _*)

  /** `df` narrowed to the table's DECLARED columns, then `extra` —
    * columns added by views are visible only through the view. */
  private def declared(name: String, df: DataFrame,
      extra: org.apache.spark.sql.Column*): DataFrame =
    df.select(spec(name).schema.fieldNames.map(col) ++ extra: _*)

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

  /** The ONE winner-per-PK collapse every read path derives from,
    * KEEPING the winner's `_deleted` / `_ts` / `_version` — so the
    * snapshot, row-ts read, compaction, and the MV expired-winner
    * determination can never disagree on which version wins for the
    * same log. Same map-side-combinable max_by shape as before. The PK
    * columns are the grouping attributes themselves (equal to the
    * winner's), so a predicate on them above the collapse pushes below
    * it, into the scan. */
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
      .select(fields.map(f =>
          if (s.pk.contains(f.name)) col(f.name)
          else col(s"_r.${f.name}").as(f.name)) ++
        Seq(col("_r._deleted").as("_deleted"), col("_r._ts").as("_ts"),
          col("_r._version").as("_version")): _*)
  }

  /** Snapshot restricted to the PKs present in `pks` (columns named
    * `__p_<pk>`): the change log is semi-joined on the PK BEFORE the
    * collapse, so the collapse shuffle carries only the matching PKs'
    * history — [[graft.operators.Materialize.refresh]]'s affected-group
    * recompute reads affected-PK history, not the keyspace.
    * `scanFilter` (optional) pre-filters the log BEFORE the semi-join —
    * callers pass a proven superset of the pks' rows (e.g. a PK zone
    * bound) so parquet row-group stats can prune the scan; `lit(true)`
    * keeps the plain shape. `uptoV` (optional) bounds the read at a
    * sampled version mark ([[servingLog]]) — the consistent-window IVM
    * recompute reads affected groups as of the marks it records, so a
    * write landing mid-refresh folds exactly once in the next one. */
  private[graft] def snapshotForPks(name: String, pks: DataFrame,
      scanFilter: org.apache.spark.sql.Column = lit(true),
      uptoV: Option[Long] = None): DataFrame = {
    val cond = spec(name).pk.map(c => col(c) <=> col(s"__p_$c"))
      .reduce(_ && _)
    declared(name, collapseLog(name,
      servingLog(name, uptoV).where(scanFilter).join(pks, cond, "left_semi")))
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
    * the one consumer for whom that silently mattered. Reads the
    * uncached log: it is the reference [[snapshotUpTo]] is checked
    * against. */
  def snapshotAsOf(name: String, asOfVersion: Long): DataFrame =
    declared(name,
      collapseLog(name, changeLog(name).where(col("_version") <= asOfVersion)))

  /** [[snapshotAsOf]] accelerated through the snapshot cache when the
    * cache's high-water mark is AT OR BELOW the read point (see
    * [[servingLog]]). This is the read the consistent-window IVM fold
    * uses for its NEW factors: refresh samples every table's high-water
    * mark ONCE, then reads every factor as of those marks, so a write
    * landing mid-refresh is excluded now and folded exactly once by the
    * next refresh (which starts from the recorded marks). Unlike
    * [[snapshotServed]] this never auto-refreshes the cache. */
  private[graft] def snapshotUpTo(name: String, v: Long): DataFrame =
    declared(name, collapseLog(name, servingLog(name, Some(v))))

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
    val log =
      (if (cacheMark(name).exists(_ <= lo)) servingLog(name, Some(hi))
       else changeLog(name).where(col("_version") <= hi)).where(scanFilter)
    val ordPay = struct((col("_version") +: nonPk.map(col)) ++
      cols.map(c => col(c).as(s"__p_$c")) :+
      col("_deleted").as("__del"): _*)
    log.groupBy(s.pk.map(col): _*)
      .agg(max(when(col("_version") <= lo, ordPay)).as("_wo"),
        max(ordPay).as("_wn"))
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
    declared(name, snapshotFullAsOf(name, asOf))

  /** [[snapshotFull]] (view-extension columns included) at a timestamp
    * read point — what as-of VIEWS collapse over. Exclusive upper
    * bound, see [[snapshotAsOfTime]]. */
  def snapshotFullAsOf(name: String, asOf: java.sql.Timestamp): DataFrame =
    collapseLog(name,
      changeLog(name).where(col("_ts").isNull || col("_ts") < asOf))

  /** Snapshot read: latest write per PK, tombstones dropped. One shuffle,
    * partitioned by the key. Projects the DECLARED schema only — columns
    * added by views are visible only through the view. */
  def snapshot(name: String): DataFrame = declared(name, snapshotFull(name))

  /** Snapshot with `cond` applied BELOW the last-wins collapse — on the
    * raw change log, where parquet row-group stats can prune the scan.
    * SOUND ONLY when `cond` references columns whose values are
    * constant across every version of a PK (PK columns always qualify;
    * other columns only under a caller-declared immutability contract,
    * e.g. [[graft.operators.MaterializeJoin.SideSpec]]'s immutable join
    * keys): then the filter keeps ALL of a PK's history or NONE of it,
    * so the per-PK winner — tombstones included (deletes log the full
    * pre-image row, so a tombstone carries the same immutable values) —
    * is exactly the plain snapshot's. A mutable column here would
    * surface a stale version as the winner. `asOf` bounds the read
    * point like [[snapshotAsOf]]. */
  private[graft] def snapshotPrefiltered(name: String,
      cond: org.apache.spark.sql.Column,
      asOf: Option[Long] = None): DataFrame = {
    val log = changeLog(name).where(cond)
    declared(name, collapseLog(name,
      asOf.fold(log)(v => log.where(col("_version") <= v))))
  }

  /** Snapshot plus `phoenix_row_timestamp` — the winning write's batch
    * stamp, the engine's analog of the row's HBase cell timestamp
    * (reference cc/expression/function/PhoenixRowTimestampFunction.java:42,
    * which reads the empty-column cell timestamp during the scan). Same
    * map-side-combinable collapse as [[snapshotFull]]; NULL for rows whose
    * winning batch predates the `_ts` column. */
  def snapshotWithRowTs(name: String): DataFrame =
    declared(name, collapseLog(name, servingLog(name), "_ts"),
      col("_ts").as("phoenix_row_timestamp"))

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

  /** CDC view (reference: Phoenix CREATE CDC, CDCChangeScope CHANGE/PRE/
    * POST — cs/coprocessor/CDCGlobalIndexRegionScanner.java): one JSON
    * change record per write, with the post image for upserts. */
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
  private[graft] def compactionFloor(name: String): Long =
    readMark(floorFile(name))
      .orElse(Option(floorScanned.get(name)).map(_.longValue))
      .getOrElse {
        val mn = changeLogRaw(name).agg(min(col("_version"))).head()
        val derived =
          if (mn.isNullAt(0)) -1L // empty log: nothing discarded
          else if (mn.getLong(0) > 0L) mn.getLong(0)
          else -1L
        // write DIRECTLY — setCompactionFloor's max-guard re-reads this
        // very function while the marker is still absent (recursion)
        if (derived >= 0L) writeMark(floorFile(name), derived)
        floorScanned.put(name, java.lang.Long.valueOf(derived))
        derived
      }

  private val floorScanned =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def setCompactionFloor(name: String, v: Long): Unit =
    if (v > compactionFloor(name)) writeMark(floorFile(name), v)

  /** Full compaction: rewrite the change log as a single batch holding
    * the current snapshot (all history discarded), stamped at the
    * version the counter held before it. At scale this is the
    * periodic job that keeps snapshot reads from re-collapsing an
    * ever-growing log; CDC consumers must be past sinceVersion before
    * compacting, and every registered MV over the table is forced into
    * a one-time rebuild (the floor rises past its fold mark). When MVs
    * should stay incremental across routine compaction, use the floored
    * variant [[compact(name:String,keepAfter:Long)*]] instead. */
  def compact(name: String): Unit =
    versionedWrite(name) { v =>
      // Crash order: everything the swap lands must already be safe at
      // the counter a crash would leave (v - 1, not yet v). The floor
      // rises to v first, so no MV folded below it can read the rewrite
      // as a delta. The cache goes next: a cached winner whose PK was
      // deleted pre-compaction has no tombstone in the rewritten log,
      // so serving cache+tail would resurrect it. The rewrite is
      // stamped at v - 1, so its rows are visible at either counter.
      setCompactionFloor(name, v)
      invalidateSnapCache(name)
      // collapse keeping view-extension columns AND each winning row's
      // batch stamp — dropping _ts here would NULL phoenix_row_timestamp
      // for the whole table after compaction. Read under the table
      // lock, so no append can land between the read and the swap.
      Commit.replace(stamped(name, collapseLog(name, changeLog(name), "_ts"),
        v - 1L, deleted = false, col("_ts")), dataDir(name).toString)
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
    val logCols = logSchema(name).fieldNames.map(col)
    val winners = collapseKeepMeta(name,
        changeLogRaw(name).where(col("_version") <= keepAfter))
      .select(logCols: _*)
    val tail = changeLogRaw(name).where(col("_version") > keepAfter)
      .select(logCols: _*)
    Commit.replace(toPhysical(name, winners.unionByName(tail)),
      dataDir(name).toString)
    setCompactionFloor(name, keepAfter)
    forget(name)
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
    * log without them (through [[Commit.replace]], like [[compact]]) under
    * the table write lock, so no append can interleave; the counter,
    * the floor, and the snapshot cache are all untouched (cache rows
    * sit at or below the counter by construction). Same caller
    * contract as [[compact]]: run when no reader of the log is in
    * flight — the dir swap can fail a concurrently executing scan
    * (results stay correct; the reader retries). Returns the number
    * of orphan rows reclaimed; no-op (0) when the log is clean. A log
    * within [[Commit.cap]] is read once: the count and the rewrite
    * both work on the driver-path probe's rows. */
  def vacuumOrphans(name: String): Long = tableLock(name).synchronized {
    val ctr = currentVersion(name)
    if (!dataDir(name).exists()) return 0L
    val raw = spark.read.schema(physSchema(name))
      .parquet(dataDir(name).toString)
    val above = col("_version") > ctr
    // a local relation's filter folds into it, so collecting the
    // orphans of a local log runs no job
    val (log, orphans) = Commit.local(raw) match {
      case Some(rows) => (rows, rows.where(above).collect().length.toLong)
      case None => (raw, raw.where(above).count())
    }
    if (orphans == 0L) return 0L
    Commit.replace(log.where(!above), dataDir(name).toString)
    forget(name)
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
    dataDir(name).mkdirs()
    // the TTL filter that changeLog documents as the single choke point
    // applies HERE too — a stream bootstrapping over an old log must
    // not emit changes every batch read path says no longer exist. The
    // cutoff is sampled once at stream START (the injectable clock is
    // driver-side): rows already expired then are excluded; later
    // micro-batches only ever see freshly-written files, whose _ts is
    // young by construction, so a start-time literal loses nothing.
    ttlFiltered(name, toLogical(name,
        spark.readStream.schema(physSchema(name))
          .parquet(dataDir(name).toString)))
      .select(cdcCols(name): _*)
  }
}

object GraftCatalog {
  // The snapshot-cache layout, defined once: the cache collapsed at
  // mark `v` is the dir `<table root>/_snapcache/v<v>`.
  private[sources] def snapCacheRoot(tableRoot: String): String =
    s"$tableRoot/_snapcache"

  private[sources] def snapCacheLeaf(tableRoot: String, v: Long): String =
    s"${snapCacheRoot(tableRoot)}/v$v"

  private val SnapCacheLeaf = "(.*)/_snapcache/v(\\d+)".r

  /** The mark of a snapshot-cache leaf path; `None` for any other. */
  private[sources] def snapCacheMark(path: String): Option[Long] =
    path match {
      case SnapCacheLeaf(_, v) => Some(v.toLong)
      case _ => None
    }

  /** The table root a snapshot-cache leaf belongs to; any other path
    * unchanged. A serving scan reads the leaf, which rotates per cache
    * refresh, while MV registrations key on the stable root. */
  private[graft] def tableRootOf(path: String): String = path match {
    case SnapCacheLeaf(root, _) => root
    case _ => path
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
