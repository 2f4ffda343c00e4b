package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Phoenix-dialect SQL front-end over [[GraftCatalog]].
  *
  * Accepts the reference's statement surface (grammar:
  * phoenix-core-client/src/main/antlr3/PhoenixSQL.g) for the analytics
  * subset this engine supports and routes it onto Spark:
  *
  *  - CREATE TABLE [IF NOT EXISTS] name (cols..., CONSTRAINT pk PRIMARY
  *    KEY (c1 [ASC|DESC], ...)) [props] — column-family prefixes
  *    (`USAGE.CORE`) are flattened (families are an HBase storage detail),
  *    SALT_BUCKETS etc. accepted and ignored
  *  - CREATE VIEW name AS SELECT * FROM base WHERE pred
  *  - UPSERT INTO t [(cols)] VALUES (...)
  *  - DELETE FROM t WHERE pred
  *  - CREATE SEQUENCE / NEXT VALUE FOR seq (batch-monotonic semantics)
  *  - SELECT ... — resolved over the current PK-snapshots of every
  *    catalog table (+ views), executed by Spark SQL
  *
  * The type surface maps per SURVEY.md §1.2 (UNSIGNED_* → signed,
  * CHAR(n)/VARCHAR(n) → STRING, Phoenix DATE/TIME carry time → TIMESTAMP,
  * scalar ARRAY types → ArrayType). This is a deliberately small
  * hand-rolled parser for the DDL/DML shapes in the reference's fixtures
  * (FIXTURES.md) — SELECT text passes through to Spark SQL, whose ANSI
  * grammar is a superset of Phoenix's query grammar for this subset.
  */
class PhoenixSql(spark: SparkSession, val catalog: GraftCatalog) {

  // the Phoenix built-in function surface (TO_CHAR, JSON_VALUE, date
  // ROUND/CEIL/FLOOR units, ENCODE/DECODE, ...) must resolve in every
  // statement this front-end executes; the dialect overrides (LOG base-10,
  // DAYOFWEEK Monday=1, binary MD5, Java-pattern TO_DATE family) apply
  // only to sessions that opted into this front-end
  graft.functions.GraftFunctions.register(spark)
  graft.functions.GraftFunctions.registerPhoenixDialect(spark)

  private val viewNames = scala.collection.mutable.Set[String]()
  private val tableNames = scala.collection.mutable.Set[String]()
  // tables whose registered snapshot temp view is stale (DDL, TRUNCATE,
  // COMPACT since the last SELECT); avoids O(tables) re-registration on
  // every query
  private val dirty = scala.collection.mutable.Set[String]()
  // the catalog version each table's snapshot view was registered at.
  // Every UPSERT/DELETE moves the counter, whether it came through this
  // front-end or straight through GraftCatalog, so a moved counter marks
  // the table stale without any write path having to report it
  private val registeredAt = scala.collection.mutable.Map[String, Long]()
  private var viewsStale = true

  def execute(sql: String): DataFrame = {
    val s = sql.trim.stripSuffix(";").trim
    val up = s.toUpperCase
    if (up.startsWith("CREATE TABLE")) createTable(s)
    else if (up.startsWith("CREATE MATERIALIZED VIEW"))
      createMaterializedView(s)
    else if (up.startsWith("REFRESH MATERIALIZED VIEW"))
      refreshMaterializedView(s)
    else if (up.startsWith("DROP MATERIALIZED VIEW"))
      dropMaterializedView(s)
    else if (up.startsWith("CREATE VIEW")) createView(s)
    else if (up.startsWith("CREATE SEQUENCE")) createSequence(s)
    else if (up.startsWith("DROP SEQUENCE")) dropSequence(s)
    else if (up.startsWith("CREATE CDC")) createCdc(s)
    else if (up.startsWith("DROP CDC")) dropCdc(s)
    else if (up.startsWith("CREATE SCHEMA")) createSchema(s)
    else if (up.startsWith("DROP SCHEMA")) dropSchema(s)
    else if (up.startsWith("USE ")) useSchema(s)
    else if (up.startsWith("TRUNCATE TABLE")) {
      requireNoScn("TRUNCATE"); truncateTable(s)
    }
    else if (up.startsWith("COMPACT TABLE")) {
      requireNoScn("COMPACT"); compactTable(s)
    }
    else if (up.startsWith("VACUUM TABLE")) {
      requireNoScn("VACUUM"); vacuumTable(s)
    }
    else if (up.startsWith("SHOW CREATE TABLE")) showCreateTable(s)
    else if (up.startsWith("SHOW MATERIALIZED VIEWS")) {
      import spark.implicits._
      mvDefs.toSeq.sortBy(_._1).map { case (n, d) =>
        (n, d.tables.mkString(","),
          if (d.singleTable.isDefined) "single" else "join", d.path)
      }.toDF("name", "tables", "kind", "state_path")
    }
    else if (up.startsWith("SHOW ")) show(s)
    else if (up.startsWith("SET CURRENT_SCN")) setScn(s)
    // a hint may sit between UPSERT and INTO (reference g: upsert_node
    // hintClause?, e.g. UPSERT /*+ NO_INDEX */ INTO ...)
    else if (up.startsWith("UPSERT")) { requireNoScn("UPSERT"); upsert(s) }
    else if (up.startsWith("DELETE FROM")) { requireNoScn("DELETE"); delete(s) }
    else if (up.startsWith("DROP TABLE")) {
      requireNoScn("DROP TABLE"); dropTable(s)
    }
    else if (up.startsWith("ALTER VIEW")) alterView(s)
    else if (up.startsWith("ALTER TABLE")) alterTable(s)
    else if (up.startsWith("EXPLAIN")) explainPlan(s)
    // UPDATE STATISTICS collected HBase guideposts for scan chunking;
    // Spark's AQE runtime statistics replace them — accepted as a no-op
    // so reference clients run unmodified (like SALT_BUCKETS).
    else if (up.startsWith("UPDATE STATISTICS")) spark.emptyDataFrame
    // TRACE ON/OFF toggled HTrace spans (g: trace_node); Spark's own
    // event log / UI is the tracing surface — accepted as a no-op.
    else if (up.startsWith("TRACE ")) {
      System.err.println("[graft-sql] TRACE is a no-op: use the Spark " +
        "UI/event log for tracing")
      spark.emptyDataFrame
    }
    // ALTER SESSION SET CONSISTENCY steered HBase timeline-consistent
    // reads (g: alter_session_node) — no analog, accepted as a no-op.
    else if (up.startsWith("ALTER SESSION")) {
      System.err.println("[graft-sql] ALTER SESSION is a no-op here")
      spark.emptyDataFrame
    }
    // EXECUTE UPGRADE migrated the SYSTEM catalog tables between
    // Phoenix versions (g: execute_upgrade_node) — this catalog has no
    // versioned SYSTEM tables, so there is nothing to upgrade.
    else if (up.startsWith("EXECUTE UPGRADE")) spark.emptyDataFrame
    // ADD JARS / LIST JARS / DELETE JAR (g: add_jars_node..) — the UDF
    // jar surface. ADD registers with the Spark context (same scope as
    // CREATE FUNCTION ... USING JAR); LIST reads back; DELETE cannot
    // unload a jar from a running JVM (true in the reference's HBase
    // region servers too) and warns.
    else if (up.startsWith("ADD JARS")) {
      "'([^']+)'".r.findAllMatchIn(s).map(_.group(1))
        .foreach(spark.sparkContext.addJar)
      spark.emptyDataFrame
    }
    else if (up.startsWith("LIST JARS")) {
      import spark.implicits._
      spark.sparkContext.listJars().toDF("jar_location")
    }
    else if (up.startsWith("DELETE JAR")) {
      System.err.println("[graft-sql] DELETE JAR is a no-op: a jar " +
        "cannot be unloaded from a running JVM")
      spark.emptyDataFrame
    }
    else if (up.startsWith("CREATE INDEX") || up.startsWith("DROP INDEX") ||
        up.startsWith("CREATE LOCAL INDEX"))
      throw new IllegalArgumentException(
        "secondary indexes are out of scope (OLTP write-path maintenance); " +
          "model covered indexes as materialized sorted projections — " +
          "see graft.operators.Layout and graft.plans.IndexRewriteRule")
    else if (up.startsWith("GRANT") || up.startsWith("REVOKE"))
      throw new IllegalArgumentException(
        "GRANT/REVOKE are out of scope: the reference delegates them to " +
          "HBase ACLs (grammar g:522-534), which have no analog here — " +
          "use the cluster's own authorization layer")
    else if (up.startsWith("CREATE FUNCTION") ||
        up.startsWith("CREATE TEMPORARY FUNCTION")) createFunction(s)
    else if (up.startsWith("DROP FUNCTION")) dropFunction(s)
    else if (up.startsWith("DECLARE")) declareCursor(s)
    else if (up.startsWith("OPEN")) openCursor(s)
    else if (up.startsWith("FETCH")) fetchCursor(s)
    else if (up.startsWith("CLOSE")) closeCursor(s)
    else select(s)
  }

  // ---- schemas (reference: PhoenixSQL.g create_schema_node:516,
  // drop_schema_node:705, use_schema_node:1138; it/end2end/CreateSchemaIT).
  // Spark temp views cannot be qualified, so SCHEMA.TABLE flattens to
  // schema_table (cleanIdent) and USE makes the schema's tables reachable
  // by their bare names via alias views. ---------------------------------

  private val schemas = scala.collection.mutable.Set[String]()
  private var currentSchema: Option[String] = None
  /** flat table/view name → owning schema (for SHOW TABLES / DROP SCHEMA). */
  private val schemaOf = scala.collection.mutable.Map[String, String]()
  /** bare-name alias views registered for the current schema. */
  private val schemaAliases = scala.collection.mutable.Set[String]()

  /** Resolve a statement's table/sequence name: explicit SCHEMA.X flattens,
    * a bare name under USE <schema> binds to that schema (Phoenix
    * resolution: no fallback to the unqualified namespace). */
  private def resolveTable(raw: String): String = {
    val bare = raw.trim.replaceAll("\"", "").toLowerCase
    if (bare.contains(".")) {
      // an EXPLICITLY qualified name whose qualifier is a registered
      // schema must associate with it too — otherwise SHOW TABLES IN
      // and DROP SCHEMA [CASCADE] were blind to objects created as
      // SCHEMA.TABLE without USE. Dotted names whose prefix is NOT a
      // schema stay plain flattened namespaces (the fixture corpus
      // creates CORE.X with no CREATE SCHEMA, like the reference with
      // namespace mapping off).
      val flat = cleanIdent(raw)
      val qual = bare.split("\\.")(0)
      if (schemas.contains(qual)) schemaOf(flat) = qual
      flat
    }
    else currentSchema match {
      case Some(sc) =>
        val flat = cleanIdent(s"$sc.$bare")
        schemaOf(flat) = sc
        flat
      case None => cleanIdent(raw)
    }
  }

  private def createSchema(s: String): DataFrame = {
    val m = "(?is)CREATE SCHEMA (?:IF NOT EXISTS )?([\\w\"]+)\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = m.group(1).replaceAll("\"", "").toLowerCase
    if (schemas.contains(name) && !s.toUpperCase.contains("IF NOT EXISTS"))
      throw new IllegalArgumentException(s"schema $name already exists")
    schemas += name
    spark.emptyDataFrame
  }

  private def dropSchema(s: String): DataFrame = {
    val m = "(?is)DROP SCHEMA (IF EXISTS )?([\\w\"]+)(\\s+CASCADE)?\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = m.group(2).replaceAll("\"", "").toLowerCase
    if (!schemas.contains(name)) {
      if (m.group(1) != null) return spark.emptyDataFrame
      throw new IllegalArgumentException(s"schema $name not found")
    }
    val owned = schemaOf.collect { case (t, sc) if sc == name => t }.toSeq
    if (owned.nonEmpty) {
      // reference DropSchemaStatement: non-empty schema needs CASCADE
      if (m.group(3) == null)
        throw new IllegalArgumentException(
          s"schema $name is not empty (${owned.sorted.mkString(", ")}); " +
            "use DROP SCHEMA ... CASCADE")
      owned.foreach { t =>
        if (tableNames.contains(t)) {
          // schema-level CASCADE subsumes the per-table one: MVs over
          // the dropped tables tear down with them
          catalog.mvDependents(t).foreach { p =>
            mvDefs.filterInPlace((_, d) => d.path.stripSuffix("/") != p)
            catalog.dropMv(p)
          }
          catalog.dropTable(t); tableNames -= t
          spark.catalog.dropTempView(t)
          // CDC objects riding a dropped table die with it
          cdcDefs.filter(_._2._1 == t).keys.foreach { c =>
            cdcDefs -= c
            spark.catalog.dropTempView(c)
          }
        }
        if (cdcDefs.remove(t).isDefined) spark.catalog.dropTempView(t)
        if (viewNames.contains(t)) {
          // a view owned by the schema must drop COMPLETELY: leaving
          // its temp view + catalog definition served data from the
          // dropped schema forever (and never refreshed)
          catalog.dropView(t)
          spark.catalog.dropTempView(t)
        }
        sequences -= t
        viewNames -= t
        schemaOf -= t
      }
    }
    schemas -= name
    if (currentSchema.contains(name)) currentSchema = None
    spark.emptyDataFrame
  }

  private def useSchema(s: String): DataFrame = {
    val m = "(?is)USE\\s+(DEFAULT|[\\w\"]+)\\s*$".r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    // leaving a schema retires its bare-name aliases, otherwise a later
    // unqualified SELECT would silently read the previous schema's table
    schemaAliases.foreach(spark.catalog.dropTempView)
    schemaAliases.clear()
    val target = m.group(1).replaceAll("\"", "").toLowerCase
    currentSchema =
      if (target == "default") None
      else {
        if (!schemas.contains(target))
          throw new IllegalArgumentException(s"schema $target not found")
        Some(target)
      }
    viewsStale = true // re-register aliases on the next SELECT
    spark.emptyDataFrame
  }

  // ---- CDC (reference: PhoenixSQL.g create_cdc_node:593-618 /
  // drop_cdc_node:718; PTable.CDCChangeScope; it/end2end/CDCQueryIT).
  // A CDC object is a queryable view over the table's change log with the
  // requested image scopes; INCLUDE defaults to the change image. The
  // reference's query-time CDC_INCLUDE hint override and the internal
  // IDX_MUTATIONS/DATA_ROW_STATE scopes are out of scope. ---------------

  /** cdc name → (base table, image scopes). */
  private val cdcDefs =
    scala.collection.mutable.Map[String, (String, Set[String])]()
  private var cdcStale = false

  private def createCdc(s: String): DataFrame = {
    val m = ("(?is)CREATE CDC (IF NOT EXISTS\\s+)?([\\w.\"]+)\\s+ON\\s+" +
      "([\\w.\"]+)(?:\\s+INCLUDE\\s*\\(([^)]*)\\))?\\s*$").r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = resolveTable(m.group(2))
    val table = resolveTable(m.group(3))
    require(catalog.hasTable(table), s"unknown table $table")
    if (cdcDefs.contains(name)) {
      if (m.group(1) != null) return spark.emptyDataFrame
      throw new IllegalArgumentException(s"CDC $name already exists")
    }
    val scopes = Option(m.group(4))
      .map(_.split(",").map(_.trim.toUpperCase).filter(_.nonEmpty).toSet)
      .getOrElse(Set("CHANGE"))
    val unsupported = scopes -- Set("PRE", "POST", "CHANGE")
    if (unsupported.nonEmpty)
      throw new IllegalArgumentException(
        s"unsupported CDC change scope(s) ${unsupported.mkString(", ")} — " +
          "supported: PRE, POST, CHANGE")
    cdcDefs(name) = (table, scopes)
    cdcStale = true
    spark.emptyDataFrame
  }

  private def dropCdc(s: String): DataFrame = {
    val m = ("(?is)DROP CDC (IF EXISTS\\s+)?([\\w.\"]+)\\s+ON\\s+" +
      "([\\w.\"]+)\\s*$").r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = resolveTable(m.group(2))
    if (cdcDefs.remove(name).isEmpty && m.group(1) == null)
      throw new IllegalArgumentException(s"CDC $name not found")
    spark.catalog.dropTempView(name)
    spark.emptyDataFrame
  }

  // ---- TRUNCATE / SHOW (reference: truncate_table_node:502,
  // show_node:546, show_create_table_node:551) --------------------------

  /** `COMPACT TABLE t [KEEP HISTORY AFTER <version>]` — the
    * operational statement for routine log maintenance (the
    * reference's analog is an HBase major compaction; here the log is
    * parquet, so the rewrite is explicit). Without the clause the
    * floor derives from the REGISTERED materialized views over `t`:
    * `keepAfter = min(their fold marks for t)`, so compaction reclaims
    * superseded-version bulk while every MV keeps refreshing
    * incrementally (the round-14 floored form). With no MV registered
    * — nothing needs the history — the compaction is FULL (history
    * discarded, TTL-expired rows purged). An explicit version
    * overrides the derivation (an MV folded below it will rebuild
    * once, detected via the replayability floor — correct, just
    * O(table)). Returns one row (table, mode, kept_after). */
  private def compactTable(s: String): DataFrame = {
    import spark.implicits._
    val m = ("(?is)^COMPACT\\s+TABLE\\s+([\\w.\"]+)" +
      "(?:\\s+KEEP\\s+HISTORY\\s+AFTER\\s+(\\d+))?\\s*$").r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val t = resolveTable(m.group(1))
    require(catalog.hasTable(t), s"unknown table $t")
    val explicit = Option(m.group(2)).map(_.toLong)
    // the catalog-level dependency ledger covers EVERY registered MV —
    // DDL-created and Scala-API-registered alike (the DDL-only mvDefs
    // derivation silently full-compacted API-registered MVs into an
    // O(table) rebuild)
    val keepAfter = explicit.orElse(catalog.mvFoldMarks(t).minOption)
    keepAfter match {
      case Some(v) => catalog.compact(t, keepAfter = v)
      case None => catalog.compact(t)
    }
    dirty += t
    Seq((t, if (keepAfter.isDefined) "floored" else "full",
      keepAfter.getOrElse(-1L))).toDF("table", "mode", "kept_after")
  }

  /** `VACUUM TABLE t` — reclaim orphan rows a refused/crashed writer
    * left above the published version counter
    * ([[GraftCatalog.vacuumOrphans]]; reads already exclude them, this
    * removes the physical bloat). Returns one row
    * (table, orphan_rows_reclaimed). */
  private def vacuumTable(s: String): DataFrame = {
    import spark.implicits._
    val m = "(?is)^VACUUM\\s+TABLE\\s+([\\w.\"]+)\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val t = resolveTable(m.group(1))
    require(catalog.hasTable(t), s"unknown table $t")
    val reclaimed = catalog.vacuumOrphans(t)
    if (reclaimed > 0) dirty += t
    Seq((t, reclaimed)).toDF("table", "orphan_rows_reclaimed")
  }

  private def truncateTable(s: String): DataFrame = {
    val m = ("(?is)TRUNCATE TABLE ([\\w.\"]+)" +
      "(?:\\s+(?:DROP|PRESERVE)\\s+SPLITS)?\\s*$").r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    // DROP vs PRESERVE SPLITS is an HBase region-boundary detail — both
    // accepted, both mean "delete all rows, keep the table"
    val name = resolveTable(m.group(1))
    catalog.truncate(name)
    dirty += name
    spark.emptyDataFrame
  }

  private def likeFilter(pattern: Option[String], v: String): Boolean =
    pattern.forall { p =>
      val re = java.util.regex.Pattern.quote(p.toLowerCase)
        .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q")
      v.toLowerCase.matches(re)
    }

  private def show(s: String): DataFrame = {
    import spark.implicits._
    val tables = ("(?is)SHOW TABLES(?:\\s+IN\\s+([\\w\"]+))?" +
      "(?:\\s+LIKE\\s+'([^']*)')?\\s*$").r.findFirstMatchIn(s)
    val schemasM = "(?is)SHOW SCHEMAS(?:\\s+LIKE\\s+'([^']*)')?\\s*$".r
      .findFirstMatchIn(s)
    (tables, schemasM) match {
      case (Some(m), _) =>
        val inSchema = Option(m.group(1))
          .map(_.replaceAll("\"", "").toLowerCase)
        val pat = Option(m.group(2))
        (tableNames ++ viewNames).toSeq.sorted
          .map(t => (schemaOf.get(t).orNull,
            schemaOf.get(t).map(sc => t.stripPrefix(sc + "_")).getOrElse(t)))
          .filter { case (sc, _) => inSchema.forall(_ == sc) }
          .filter { case (_, t) => likeFilter(pat, t) }
          .toDF("TABLE_SCHEM", "TABLE_NAME")
      case (_, Some(m)) =>
        schemas.toSeq.sorted.filter(likeFilter(Option(m.group(1)), _))
          .toDF("TABLE_SCHEM")
      case _ =>
        throw new IllegalArgumentException(
          s"cannot parse (SHOW TABLES [IN schema] [LIKE 'pat'] | " +
            s"SHOW SCHEMAS [LIKE 'pat']): $s")
    }
  }

  /** Render a field's declared type back in Phoenix spelling (the width /
    * unsigned metadata recorded at CREATE time round-trips; plain Spark
    * types render canonically, e.g. TIME came back as TIMESTAMP). */
  private def renderType(f: StructField): String = {
    def base(dt: DataType, meta: org.apache.spark.sql.types.Metadata): String =
      dt match {
        case t if meta.contains(GraftCatalog.UnsignedKey) => t match {
          case IntegerType => "UNSIGNED_INT"
          case LongType => "UNSIGNED_LONG"
          case ShortType => "UNSIGNED_SMALLINT"
          case ByteType => "UNSIGNED_TINYINT"
          case FloatType => "UNSIGNED_FLOAT"
          case DoubleType => "UNSIGNED_DOUBLE"
          case other => other.sql
        }
        case _ if meta.contains(GraftCatalog.CharWidthKey) =>
          s"CHAR(${meta.getLong(GraftCatalog.CharWidthKey)})"
        case _ if meta.contains(GraftCatalog.VarcharWidthKey) =>
          s"VARCHAR(${meta.getLong(GraftCatalog.VarcharWidthKey)})"
        case IntegerType => "INTEGER"
        case LongType => "BIGINT"
        case ShortType => "SMALLINT"
        case ByteType => "TINYINT"
        case FloatType => "FLOAT"
        case DoubleType => "DOUBLE"
        case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
        case BooleanType => "BOOLEAN"
        case StringType => "VARCHAR"
        case BinaryType => "VARBINARY"
        case TimestampType => "TIMESTAMP"
        case ArrayType(e, _) =>
          base(e, org.apache.spark.sql.types.Metadata.empty) + " ARRAY"
        case other => other.sql
      }
    base(f.dataType, f.metadata)
  }

  private def showCreateTable(s: String): DataFrame = {
    import spark.implicits._
    val m = "(?is)SHOW CREATE TABLE ([\\w.\"]+)\\s*$".r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = resolveTable(m.group(1))
    val spec = catalog.spec(name)
    val cols = spec.schema.fields.map { f =>
      val nn = if (!f.nullable) " NOT NULL" else ""
      s"${f.name} ${renderType(f)}$nn"
    }
    val pk = s"CONSTRAINT pk PRIMARY KEY (${spec.pk.mkString(", ")})"
    Seq(s"CREATE TABLE $name (${(cols :+ pk).mkString(", ")})")
      .toDF("CREATE STATEMENT")
  }

  // ---- EXPLAIN (reference: PhoenixSQL.g explain_node → ExplainPlan rows;
  // here: the Spark physical plan, one line per row in a PLAN column —
  // the same single-column row shape Phoenix's EXPLAIN result set has).
  // EXPLAIN must NEVER execute the statement: DML is planned via its
  // read side only (the rows a DELETE would match / an UPSERT..SELECT
  // would write), with a header naming the mutation. ------------------
  private var explainMode = false

  private def explainPlan(s: String): DataFrame = try {
    explainMode = true
    explainPlanImpl(s)
  } finally explainMode = false

  private def explainPlanImpl(s: String): DataFrame = {
    import spark.implicits._
    val inner = s.trim.replaceFirst("(?is)^EXPLAIN\\s+", "")
    val up = inner.toUpperCase
    def planLines(df: DataFrame): Seq[String] =
      df.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("simple"))
        .linesIterator.toSeq
    val lines: Seq[String] =
      if (up.startsWith("DELETE FROM")) {
        val m = "(?is)DELETE FROM ([\\w.\"]+)(?:\\s+WHERE\\s+(.*))?$".r
          .findFirstMatchIn(inner)
          .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
        val t = resolveTable(m.group(1))
        val read = select(s"SELECT * FROM $t" +
          Option(m.group(2)).map(w => s" WHERE $w").getOrElse(""))
        s"DELETE (tombstone) FROM $t rows matching:" +: planLines(read)
      } else if (up.startsWith("UPSERT INTO")) {
        val sel = ("(?is)UPSERT INTO ([\\w.\"]+)\\s*(?:\\(([^)]*)\\))?\\s*" +
          "(SELECT\\s.*)$").r.findFirstMatchIn(inner)
        sel match {
          case Some(m) =>
            s"UPSERT INTO ${resolveTable(m.group(1))} rows from:" +:
              planLines(select(m.group(3)))
          case None =>
            Seq(s"UPSERT VALUES batch append")
        }
      } else if (up.startsWith("SELECT") || up.startsWith("WITH")) {
        planLines(select(inner))
      } else {
        // reference grammar only accepts EXPLAIN of select/upsert/delete
        // (PhoenixSQL.g explain_node); anything else is a parse error —
        // never fall through to execute(), which would mutate the catalog
        throw new IllegalArgumentException(
          s"EXPLAIN supports SELECT/UPSERT/DELETE only: $inner")
      }
    lines.toDF("PLAN")
  }

  // ---- UDFs (reference: PhoenixSQL.g create_function_node /
  // drop_function_node; UDFExpression.java loads the named class —
  // optionally from a jar — and evaluates it like a builtin; registry in
  // SYSTEM.FUNCTION. Here: the class implements GraftScalarUdf and is
  // registered as a session temp function with the declared return type;
  // argument types are accepted for grammar fidelity, Spark's analyzer
  // handles coercion at call sites.) --------------------------------------

  private def createFunction(s: String): DataFrame = {
    val m = ("(?is)CREATE\\s+(?:TEMPORARY\\s+)?FUNCTION\\s+([\\w\"]+)\\s*" +
      "\\(([^)]*)\\)\\s+RETURNS\\s+(.+?)\\s+AS\\s+'([^']+)'" +
      "(?:\\s+USING\\s+JAR\\s+'([^']+)')?\\s*$").r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    // functions are session-scoped and NOT schema-qualified (cleanIdent,
    // matching dropFunction): resolveTable under USE <schema> registered
    // "s1_dbl", making `SELECT dbl(...)` undefined and DROP FUNCTION
    // dbl a not-found — and polluted schemaOf with a function name
    val name = cleanIdent(m.group(1))
    val arity = splitTopLevel(m.group(2), ',').map(parseType).length
    val ret = parseType(m.group(3))
    val loader = Option(m.group(5))
      .map(p => new java.net.URLClassLoader(
        Array(new java.io.File(p).toURI.toURL),
        Thread.currentThread.getContextClassLoader))
      .getOrElse(Thread.currentThread.getContextClassLoader)
    val f = Class.forName(m.group(4), true, loader)
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[graft.functions.GraftScalarUdf]
    import org.apache.spark.sql.api.java._
    arity match {
      case 0 => spark.udf.register(name,
        new UDF0[Any] { def call(): Any = f.eval(Nil) }, ret)
      case 1 => spark.udf.register(name,
        new UDF1[Any, Any] { def call(a: Any): Any = f.eval(Seq(a)) }, ret)
      case 2 => spark.udf.register(name,
        new UDF2[Any, Any, Any] {
          def call(a: Any, b: Any): Any = f.eval(Seq(a, b))
        }, ret)
      case 3 => spark.udf.register(name,
        new UDF3[Any, Any, Any, Any] {
          def call(a: Any, b: Any, c: Any): Any = f.eval(Seq(a, b, c))
        }, ret)
      case 4 => spark.udf.register(name,
        new UDF4[Any, Any, Any, Any, Any] {
          def call(a: Any, b: Any, c: Any, d: Any): Any =
            f.eval(Seq(a, b, c, d))
        }, ret)
      case 5 => spark.udf.register(name,
        new UDF5[Any, Any, Any, Any, Any, Any] {
          def call(a: Any, b: Any, c: Any, d: Any, e: Any): Any =
            f.eval(Seq(a, b, c, d, e))
        }, ret)
      case 6 => spark.udf.register(name,
        new UDF6[Any, Any, Any, Any, Any, Any, Any] {
          def call(a: Any, b: Any, c: Any, d: Any, e: Any, g: Any): Any =
            f.eval(Seq(a, b, c, d, e, g))
        }, ret)
      case 7 => spark.udf.register(name,
        new UDF7[Any, Any, Any, Any, Any, Any, Any, Any] {
          def call(a: Any, b: Any, c: Any, d: Any, e: Any, g: Any,
              h: Any): Any = f.eval(Seq(a, b, c, d, e, g, h))
        }, ret)
      case 8 => spark.udf.register(name,
        new UDF8[Any, Any, Any, Any, Any, Any, Any, Any, Any] {
          def call(a: Any, b: Any, c: Any, d: Any, e: Any, g: Any,
              h: Any, i: Any): Any = f.eval(Seq(a, b, c, d, e, g, h, i))
        }, ret)
      case 9 => spark.udf.register(name,
        new UDF9[Any, Any, Any, Any, Any, Any, Any, Any, Any, Any] {
          def call(a: Any, b: Any, c: Any, d: Any, e: Any, g: Any,
              h: Any, i: Any, j: Any): Any =
            f.eval(Seq(a, b, c, d, e, g, h, i, j))
        }, ret)
      case 10 => spark.udf.register(name,
        new UDF10[Any, Any, Any, Any, Any, Any, Any, Any, Any, Any, Any] {
          def call(a: Any, b: Any, c: Any, d: Any, e: Any, g: Any,
              h: Any, i: Any, j: Any, k: Any): Any =
            f.eval(Seq(a, b, c, d, e, g, h, i, j, k))
        }, ret)
      case n => throw new IllegalArgumentException(
        s"UDF arity $n not supported (max 10)")
    }
    spark.emptyDataFrame
  }

  private def dropFunction(s: String): DataFrame = {
    val m = "(?is)DROP\\s+FUNCTION\\s+(IF\\s+EXISTS\\s+)?([\\w\"]+)\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = cleanIdent(m.group(2))
    val dropped = spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    if (!dropped && m.group(1) == null)
      throw new IllegalArgumentException(s"function $name not found")
    spark.emptyDataFrame
  }

  // ---- cursors (reference: PhoenixSQL.g declare_cursor_node /
  // cursor_open_node / cursor_fetch_node / cursor_close_node;
  // CursorFetchPlan pages via the driver — here toLocalIterator) --------

  private case class CursorState(query: String,
      var rows: Iterator[org.apache.spark.sql.Row] = null,
      var schema: StructType = null)
  private val cursors = scala.collection.mutable.Map[String, CursorState]()

  private def declareCursor(s: String): DataFrame = {
    val m = "(?is)DECLARE\\s+([\\w\"]+)\\s+CURSOR\\s+FOR\\s+(.*)$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    cursors(cleanIdent(m.group(1))) = CursorState(m.group(2))
    spark.emptyDataFrame
  }

  private def cursorOf(name: String): CursorState =
    cursors.getOrElse(name,
      throw new IllegalArgumentException(s"cursor $name not declared"))

  private def openCursor(s: String): DataFrame = {
    val m = "(?is)OPEN\\s+([\\w\"]+)\\s*$".r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val c = cursorOf(cleanIdent(m.group(1)))
    val df = select(c.query)
    c.schema = df.schema
    c.rows = df.toLocalIterator().asScala
    spark.emptyDataFrame
  }

  private def fetchCursor(s: String): DataFrame = {
    val m = ("(?is)FETCH\\s+NEXT\\s+(?:(\\d+)\\s+)?(?:ROWS?\\s+)?FROM\\s+" +
      "([\\w\"]+)\\s*$").r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val c = cursorOf(cleanIdent(m.group(2)))
    require(c.rows != null, s"cursor ${m.group(2)} is not open")
    val n = Option(m.group(1)).map(_.toInt).getOrElse(1)
    val batch = c.rows.take(n).toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(batch, math.max(1, batch.length)),
      c.schema)
  }

  private def closeCursor(s: String): DataFrame = {
    val m = "(?is)CLOSE\\s+([\\w\"]+)\\s*$".r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    cursors.remove(cleanIdent(m.group(1)))
    spark.emptyDataFrame
  }

  // ---- types ------------------------------------------------------------

  /** Parse one column definition ("[FAM.]name TYPE [NOT NULL] [PRIMARY
    * KEY]") into a StructField — the ONE place column constraints become
    * field metadata, shared by CREATE TABLE, CREATE VIEW added columns,
    * and ALTER TABLE ADD so enforcement is uniform:
    *  - numeric UNSIGNED_* → signed Spark type + CHECK ≥ 0 on write
    *    (Phoenix IllegalDataException analog; date/time unsigned variants
    *    differ only in storage encoding);
    *  - CHAR(n)/VARCHAR(n) → StringType + max-length check on write
    *    (DataExceedsCapacityException analog). CHAR's byte-padding is a
    *    storage encoding detail — PChar.toObject strips it on read, so
    *    the user-visible value is unpadded and comparisons against
    *    unpadded literals must keep working;
    *  - ARRAY types skip the scalar constraints (element-level checks
    *    would need a different shape than a column comparison). */
  private def columnField(c: String): StructField = {
    val parts = c.trim.split("\\s+", 2)
    require(parts.length == 2, s"cannot parse column def: $c")
    // flatten column-family prefix (USAGE.CORE → CORE) BEFORE general
    // identifier cleaning (which would flatten the dot into the name)
    val colName = parts(0).split("\\.").last
      .replaceAll("\"", "").toLowerCase
    // DEFAULT <expr> (reference g:816 column_def defaultValue): the
    // expression text rides in field metadata and is compiled by Spark
    // at UPSERT time whenever the statement omits the column
    // (cc/expression/function/DefaultValueExpression.java;
    // it/end2end/DefaultColumnValueIT shapes — an EXPLICIT NULL still
    // stores NULL). Divergence: the reference substitutes at READ time
    // for absent cells, so rows predating an ALTER ADD ... DEFAULT show
    // the default there; here such rows read NULL (parquet cannot
    // distinguish an absent cell from a stored null) — every write
    // made while the column exists matches the reference exactly.
    val typeAndCons0 = parts(1)
    val defM = "(?is)\\bDEFAULT\\s+(.+?)(\\s+PRIMARY\\s+KEY.*)?$".r
      .findFirstMatchIn(typeAndCons0)
    val defaultExpr = defM.map(_.group(1).trim).filter(_.nonEmpty)
    val typeAndCons = defM
      .map(m => typeAndCons0.substring(0, m.start) +
        Option(m.group(2)).getOrElse(""))
      .getOrElse(typeAndCons0)
    // whitespace-tolerant, matching the strip regex below — plain
    // contains("NOT NULL") missed "NOT  NULL" and silently made the
    // column nullable while the strip still removed the clause
    val notNull =
      "(?i)NOT\\s+NULL".r.findFirstIn(typeAndCons).isDefined
    val t = typeAndCons.replaceAll("(?i)\\s+NOT\\s+NULL", "")
      .replaceAll("(?i)\\s+NULL$", "")
      .replaceAll("(?i)\\s+PRIMARY\\s+KEY.*", "")
    val tUp = t.trim.toUpperCase
    val isArray = tUp.matches(".*\\sARRAY(\\[\\])?$")
    val metaB = new org.apache.spark.sql.types.MetadataBuilder()
    if (!isArray) {
      if (tUp.startsWith("UNSIGNED") && !tUp.contains("DATE") &&
          !tUp.contains("TIME"))
        metaB.putBoolean(GraftCatalog.UnsignedKey, true)
      "^CHAR\\s*\\(\\s*(\\d+)\\s*\\)".r.findFirstMatchIn(tUp)
        .foreach(m => metaB.putLong(GraftCatalog.CharWidthKey,
          m.group(1).toLong))
      "^VARCHAR\\s*\\(\\s*(\\d+)\\s*\\)".r.findFirstMatchIn(tUp)
        .foreach(m => metaB.putLong(GraftCatalog.VarcharWidthKey,
          m.group(1).toLong))
    }
    defaultExpr.foreach(e =>
      metaB.putString(GraftCatalog.DefaultExprKey, e))
    StructField(colName, parseType(t), nullable = !notNull,
      metadata = metaB.build())
  }

  private[sources] def parseType(t: String): DataType = {
    val norm = t.trim.toUpperCase.replaceAll("\\s+", " ")
    val arr = norm.endsWith(" ARRAY") || norm.endsWith(" ARRAY[]")
    val base = norm.replaceAll(" ARRAY(\\[\\])?$", "")
    val elem = base.replaceAll("\\(.*\\)", "").trim match {
      case "INTEGER" | "UNSIGNED_INT" => IntegerType
      case "BIGINT" | "UNSIGNED_LONG" => LongType
      case "SMALLINT" | "UNSIGNED_SMALLINT" => ShortType
      case "TINYINT" | "UNSIGNED_TINYINT" => ByteType
      case "FLOAT" | "UNSIGNED_FLOAT" => FloatType
      case "DOUBLE" | "UNSIGNED_DOUBLE" => DoubleType
      case "DECIMAL" =>
        val m = "DECIMAL\\s*\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
          .findFirstMatchIn(base)
        m.map(g => DecimalType(g.group(1).toInt, g.group(2).toInt))
          .getOrElse(DecimalType(38, 18))
      case "BOOLEAN" => BooleanType
      case "CHAR" =>
        // CHAR requires an explicit positive width (reference
        // PChar.getMaxLength check; ut/parse testBadCharDef)
        val w = "CHAR\\s*\\(\\s*(\\d+)\\s*\\)".r.findFirstMatchIn(base)
          .getOrElse(throw new IllegalArgumentException(
            s"CHAR requires a length: $t"))
        require(w.group(1).toInt > 0, s"CHAR length must be positive: $t")
        StringType
      case "VARCHAR" =>
        // a declared VARCHAR(n) must be positive (testBadVarcharDef);
        // bare VARCHAR is unbounded and fine
        "VARCHAR\\s*\\(\\s*(\\d+)\\s*\\)".r.findFirstMatchIn(base)
          .foreach(w => require(w.group(1).toInt > 0,
            s"VARCHAR length must be positive: $t"))
        StringType
      case "BINARY" =>
        // fixed-width BINARY requires its width (testBadBinaryDef)
        val w = "BINARY\\s*\\(\\s*(\\d+)\\s*\\)".r.findFirstMatchIn(base)
          .getOrElse(throw new IllegalArgumentException(
            s"BINARY requires a length: $t"))
        require(w.group(1).toInt > 0, s"BINARY length must be positive: $t")
        BinaryType
      case "VARBINARY" | "VARBINARY_ENCODED" => BinaryType
      case "DATE" | "TIME" | "TIMESTAMP" | "UNSIGNED_DATE" | "UNSIGNED_TIME"
           | "UNSIGNED_TIMESTAMP" => TimestampType // Phoenix DATE carries ms
      case "JSON" => StringType
      case "BSON" => BinaryType
      case other => throw new IllegalArgumentException(s"unknown type $other")
    }
    if (arr) ArrayType(elem) else elem
  }

  // ---- DDL --------------------------------------------------------------

  /** Split on `sep` at paren/bracket depth 0 (brackets carry Phoenix's
    * ARRAY['a','b'] literal syntax), ignoring separators inside
    * single-quoted SQL string literals ('' is the escaped quote — it
    * toggles back immediately, which is equivalent to staying quoted). */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var inQuote = false
    var inLine = false; var inBlock = false
    val cur = new StringBuilder
    var i = 0
    // comment-aware like every other front-end scanner: a separator or
    // paren inside `-- c` / `/* c */` is comment text, not structure
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { cur += c; if (c == '\'') inQuote = false }
      else if (inLine) { cur += c; if (c == '\n') inLine = false }
      else if (inBlock) {
        if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          cur ++= "*/"; i += 1; inBlock = false
        } else cur += c
      }
      else if (c == '\'') { inQuote = true; cur += c }
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        inLine = true; cur ++= "--"; i += 1
      }
      else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        inBlock = true; cur ++= "/*"; i += 1
      }
      else if (c == '(' || c == '[') { depth += 1; cur += c }
      else if (c == ')' || c == ']') { depth -= 1; cur += c }
      else if (c == sep && depth == 0) { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Contents of the first balanced (...) group + the trailing text —
    * a greedy regex would swallow later parenthesized clauses like
    * SPLIT ON ('a','b') into the column body. Quote- and comment-aware:
    * a paren inside a DEFAULT 'a)b' string or a comment must not close
    * the group early and truncate the column body mid-literal. */
  private def firstBalancedGroup(s: String): (String, String) = {
    val open = s.indexOf('(')
    require(open >= 0, s"expected ( in: $s")
    var depth = 0
    var i = open
    var inQuote = false; var inLine = false; var inBlock = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else if (inLine) { if (c == '\n') inLine = false }
      else if (inBlock) {
        if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          i += 1; inBlock = false
        }
      }
      else if (c == '\'') inQuote = true
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        inLine = true; i += 1
      }
      else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        inBlock = true; i += 1
      }
      else if (c == '(') depth += 1
      else if (c == ')') {
        depth -= 1
        if (depth == 0)
          return (s.substring(open + 1, i), s.substring(i + 1))
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parens in: $s")
  }

  private def createTable(s: String): DataFrame = {
    val m = "(?is)CREATE TABLE (?:IF NOT EXISTS )?([\\w.\"]+)\\s*(\\(.*)$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    // SCHEMA.TABLE at most — a.b.c.d is a parse error in the reference
    // (ut/parse testInvalidTableOrSchemaName); dots INSIDE quotes are
    // part of a case-sensitive name, not qualification
    val qdots = { var inQ = false
      m.group(1).count { ch =>
        if (ch == '"') { inQ = !inQ; false } else ch == '.' && !inQ } }
    if (qdots > 1) throw new IllegalArgumentException(
      s"too many name parts (SCHEMA.TABLE at most): ${m.group(1)}")
    val name = resolveTable(m.group(1))
    val (rawBody, tail) = firstBalancedGroup(m.group(2))
    // a trailing comma in the column list is a parse error in the
    // reference (ut/parse testInvalidTrailingCommaOnCreateTable) —
    // splitTopLevel's empty-segment filter would silently absorb it
    if (rawBody.trim.endsWith(","))
      throw new IllegalArgumentException(
        s"trailing comma in column list: $s")
    // Phoenix's grammar allows the CONSTRAINT clause to follow the last
    // column without a comma (see examples/WEB_STAT.sql) — normalize.
    val body = rawBody.replaceAll("(?i)\\s+CONSTRAINT\\s+", ", CONSTRAINT ")
    val items = splitTopLevel(body, ',')
    val (pkItems, colItems) = items.partition(
      _.toUpperCase.matches("(?s)CONSTRAINT\\s+\\S+\\s+PRIMARY KEY.*"))
    val fields0 = colItems.map(columnField)
    // PK: either a CONSTRAINT clause or an inline "col type PRIMARY KEY".
    // A PK item may carry the ROW_TIMESTAMP designation (g:816 pk
    // constraint `col (ASC|DESC)? ROW_TIMESTAMP?`; RowTimestampIT):
    // that column binds to the batch write stamp when an UPSERT omits
    // it — the engine's analog of Phoenix mapping the column onto the
    // HBase cell timestamp.
    val pkItemsParsed: Seq[String] = pkItems.headOption match {
      case Some(c) =>
        val inner = "\\(([^)]*)\\)".r.findFirstMatchIn(c).get.group(1)
        splitTopLevel(inner, ',').map(_.trim)
      case None =>
        colItems.filter(_.toUpperCase.contains("PRIMARY KEY"))
          .map(c => c.trim.split("\\s+")(0) +
            (if (c.toUpperCase.contains("ROW_TIMESTAMP"))
              " ROW_TIMESTAMP" else ""))
    }
    val pk = pkItemsParsed.map(f =>
      cleanIdent(f.split("\\s+")(0)).toLowerCase)
    val rowTsCols = pkItemsParsed
      .filter(_.toUpperCase.contains("ROW_TIMESTAMP"))
      .map(f => cleanIdent(f.split("\\s+")(0)).toLowerCase)
    if (rowTsCols.size > 1) throw new IllegalArgumentException(
      s"only one ROW_TIMESTAMP column is allowed: $rowTsCols")
    val fields = fields0.map { f =>
      if (!rowTsCols.contains(f.name)) f
      else {
        // the reference restricts ROW_TIMESTAMP to the time family or
        // a BIGINT epoch (cc/schema/PTableImpl rowTimestampCol checks)
        if (f.dataType != TimestampType && f.dataType != LongType)
          throw new IllegalArgumentException(
            s"ROW_TIMESTAMP column ${f.name} must be a DATE/TIME/" +
              s"TIMESTAMP or BIGINT, got ${f.dataType.simpleString}")
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putBoolean(GraftCatalog.RowTimestampKey, true).build())
      }
    }
    // trailing table options: k=v props kept (and ignored downstream);
    // physical clauses like SPLIT ON (...) are HBase details — dropped
    val props = tail.replaceAll("(?is)SPLIT\\s+ON\\s*\\([^)]*\\)", "")
      .split(",").map(_.trim).filter(_.contains("="))
      .map { p => val Array(k, v) = p.split("=", 2); k.trim -> v.trim }
      .toMap
    catalog.createTable(name, StructType(fields), pk, props)
    tableNames += name
    dirty += name
    spark.emptyDataFrame
  }

  /** view name → (equality defaults from the predicate, raw predicate).
    * Phoenix updatable views: UPSERT through a view writes the base row
    * with the view's WHERE-equality columns set to the compared values
    * (so the row is visible through the view). */
  private val viewDefaults =
    scala.collection.mutable.Map[String, Map[String, String]]()

  // ---- materialized views (engine surface with no reference analog:
  // Phoenix recomputes joins per query — cc/compile/JoinCompiler.java
  // — and has no MV system; here CREATE MATERIALIZED VIEW compiles the
  // aggregate shape onto the incremental-maintenance layer
  // (Materialize / MaterializeJoin), REFRESH folds the tables' change
  // logs into the state, and the registration lets AggRewriteRule
  // serve matching SELECTs from KBs of state instead of fact scans) --

  private case class MvDef(path: String, tables: Seq[String],
      singleTable: Option[String])
  private val mvDefs = scala.collection.mutable.Map[String, MvDef]()

  private def stripQual(c: String): String = {
    val bare = c.trim.replaceAll("\"", "")
    bare.substring(bare.lastIndexOf('.') + 1).toLowerCase
  }

  /** `CREATE MATERIALIZED VIEW [IF NOT EXISTS] name
    * [WITH (BUCKETS = n [, IMMUTABLE KEYS (k, ...)])]
    * AS SELECT <groups and aggregates> FROM fact [[LEFT|FULL] JOIN
    * side ON fact.k = side.k | USING (k)]* [WHERE <pred>] GROUP BY
    * ...` — groups are plain columns or `DATE_TRUNC('unit', col) AS
    * alias` grains; aggregates are plain COUNT(*) / COUNT / SUM / MIN
    * / MAX / AVG over a column, `KMV_SKETCH(col, k)` (distinct-count
    * sketch state, serves `kmv_sketch` aggregates), or
    * `APPROX_TOP_TERMS(col, cap)` (SpaceSaving heavy-hitter state).
    * Joins must be same-named-key equi-joins (the MaterializeJoin
    * model); all-INNER, all-LEFT, or all-FULL. Options: `BUCKETS = n`
    * lands bucket-manifested state (refreshes rewrite only touched
    * buckets); `IMMUTABLE KEYS (k, ...)` declares those join keys
    * value-immutable per PK on both tables of their edge (enforced by
    * the maintenance layer; bounds delta reads below the collapse).
    * `WHERE` (single-table MVs) builds a FILTERED state — the
    * predicate rides the meta through every refresh, and the rewrite
    * serves only queries carrying the same conjuncts. State lands
    * under the catalog warehouse's `_mv/<name>` and the MV is
    * immediately registered for rewrite (with the freshness probe),
    * so the SAME SELECT through this front-end serves from the
    * state. */
  private def createMaterializedView(s: String): DataFrame = {
    val m = ("(?is)^CREATE\\s+MATERIALIZED\\s+VIEW\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w.\"]+)\\s+" +
      "(?:WITH\\s*\\((.*?)\\)\\s+)?AS\\s+(SELECT\\b.*)$").r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = resolveTable(m.group(2))
    if (mvDefs.contains(name)) {
      if (m.group(1) != null) return spark.emptyDataFrame
      throw new IllegalArgumentException(
        s"materialized view $name already exists")
    }
    // WITH options: BUCKETS = n, IMMUTABLE KEYS (k, ...)
    var buckets = 0
    var immutableKeys = Set.empty[String]
    Option(m.group(3)).foreach(opts =>
      splitTopLevel(opts, ',').map(_.trim).filter(_.nonEmpty).foreach {
        case o if o.matches("(?is)^BUCKETS\\s*=\\s*\\d+$") =>
          buckets = o.replaceAll("(?is)^BUCKETS\\s*=\\s*", "").toInt
        case o if o.matches(
            "(?is)^IMMUTABLE\\s+KEYS\\s*\\([^)]*\\)$") =>
          immutableKeys = "\\(([^)]*)\\)".r.findFirstMatchIn(o).get
            .group(1).split(',').map(k => stripQual(k)).toSet
        case o => throw new IllegalArgumentException(
          s"unsupported materialized-view option '$o': WITH takes " +
            "BUCKETS = n and IMMUTABLE KEYS (k, ...)")
      })
    val sel = ("(?is)^SELECT\\s+(.*?)\\s+FROM\\s+([\\w.\"]+)" +
      "(.*?)\\s+GROUP\\s+BY\\s+(.*)$").r
      .findFirstMatchIn(m.group(4))
      .getOrElse(throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW requires the aggregate shape " +
          "SELECT ... FROM t [JOIN ...] [WHERE ...] GROUP BY ..."))
    val fact = resolveTable(sel.group(2))
    require(catalog.hasTable(fact), s"unknown table $fact")
    // joins: [LEFT [OUTER]] JOIN side (ON a.k = b.k [AND ...] | USING (k,..))
    case class JoinPart(table: String, keys: Seq[String], left: Boolean,
        full: Boolean)
    val joinRe = ("(?is)(LEFT\\s+(?:OUTER\\s+)?|FULL\\s+(?:OUTER\\s+)?)?" +
      "JOIN\\s+([\\w.\"]+)\\s+" +
      "(?:USING\\s*\\(([^)]*)\\)|ON\\s+(.+?))\\s*" +
      "(?=(?:LEFT\\s+(?:OUTER\\s+)?|FULL\\s+(?:OUTER\\s+)?)?JOIN\\b|$)").r
    // trailing WHERE (single-table filtered MVs): split it off before
    // join parsing so the ON-condition tail regex never swallows it
    val (joinText, whereSql) = {
      val t = sel.group(3).trim
      "(?is)^(.*?)\\s*\\bWHERE\\s+(.+)$".r.findFirstMatchIn(t)
        .map(x => (x.group(1).trim, Some(x.group(2).trim)))
        .getOrElse((t, None))
    }
    val joins = joinRe.findAllMatchIn(joinText).map { jm =>
      val table = resolveTable(jm.group(2))
      require(catalog.hasTable(table), s"unknown table $table")
      val keys =
        if (jm.group(3) != null)
          splitTopLevel(jm.group(3), ',').map(stripQual)
        else jm.group(4).split("(?i)\\s+AND\\s+").toSeq.map { c =>
          val eq = "^\\s*([\\w.\"]+)\\s*=\\s*([\\w.\"]+)\\s*$".r
            .findFirstMatchIn(c).getOrElse(
              throw new IllegalArgumentException(
                s"unsupported join condition '$c': only equi-joins " +
                  "on same-named columns maintain incrementally"))
          val (a, b) = (stripQual(eq.group(1)), stripQual(eq.group(2)))
          require(a == b, s"join keys must be same-named columns " +
            s"(got '$a' = '$b'); rename at the catalog schema")
          a
        }
      val mod = Option(jm.group(1)).map(_.trim.toUpperCase).getOrElse("")
      JoinPart(table, keys, mod.startsWith("LEFT"),
        mod.startsWith("FULL"))
    }.toSeq
    require(
      (if (joins.isEmpty) joinText
       else joinText
         .replaceAll(
           "(?is)(LEFT\\s+(?:OUTER\\s+)?|FULL\\s+(?:OUTER\\s+)?)?JOIN\\b.*$",
           "")
         .trim).isEmpty,
      s"cannot parse FROM clause tail: '$joinText' (no alias " +
        "support in CREATE MATERIALIZED VIEW)")
    // select list: plain group columns, DATE_TRUNC grains, aggregates
    val aggRe = ("(?is)^(COUNT|SUM|MIN|MAX|AVG)\\s*\\(\\s*" +
      "(\\*|[\\w.\"]+)\\s*\\)(?:\\s+AS\\s+([\\w\"]+))?$").r
    val grainRe = ("(?is)^DATE_TRUNC\\s*\\(\\s*'(\\w+)'\\s*,\\s*" +
      "([\\w.\"]+)\\s*\\)\\s+AS\\s+([\\w\"]+)$").r
    val sketchRe = ("(?is)^KMV_SKETCH\\s*\\(\\s*([\\w.\"]+)\\s*,\\s*" +
      "(\\d+)\\s*\\)(?:\\s+AS\\s+([\\w\"]+))?$").r
    val topkRe = ("(?is)^APPROX_TOP_TERMS\\s*\\(\\s*([\\w.\"]+)\\s*," +
      "\\s*(\\d+)\\s*\\)(?:\\s+AS\\s+([\\w\"]+))?$").r
    val plainRe = "(?is)^([\\w.\"]+)(?:\\s+AS\\s+([\\w\"]+))?$".r
    val groupCols = scala.collection.mutable.ArrayBuffer[String]()
    val grains = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val measures = scala.collection.mutable.ArrayBuffer[String]()
    val sketches = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    val topks = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    splitTopLevel(sel.group(1), ',').map(_.trim).foreach {
      case aggRe(_, arg, _) =>
        if (arg != "*") measures += stripQual(arg)
      case sketchRe(colName, k, _) =>
        sketches += stripQual(colName) -> k.toInt
      case topkRe(colName, cap, _) =>
        topks += stripQual(colName) -> cap.toInt
      case grainRe(unit, colName, alias) =>
        val g = stripQual(alias)
        grains += g -> s"date_trunc('$unit', ${stripQual(colName)})"
        groupCols += g
      case plainRe(colName, _) => groupCols += stripQual(colName)
      case other => throw new IllegalArgumentException(
        s"unsupported select item '$other': a materialized view " +
          "takes plain group columns, DATE_TRUNC grains, plain " +
          "COUNT/SUM/MIN/MAX/AVG aggregates (no DISTINCT/FILTER), " +
          "KMV_SKETCH(col, k), and APPROX_TOP_TERMS(col, cap)")
    }
    require(groupCols.nonEmpty, "a materialized view needs at least " +
      "one group column (ungrouped rollups: keep the fact's aggregate)")
    val path = catalog.mvPath(name)
    if (joins.isEmpty) {
      require(immutableKeys.isEmpty,
        "IMMUTABLE KEYS declares join-key immutability — it needs a " +
          "JOIN in the materialized view")
      graft.operators.Materialize.build(catalog, fact,
        groupCols.toSeq, measures.distinct.toSeq, path,
        grainExprs = grains.toSeq, sketches = sketches.toSeq,
        buckets = buckets, topks = topks.toSeq,
        filterSql = whereSql)
      graft.operators.Materialize.registerForRewrite(catalog, fact, path)
    } else {
      require(immutableKeys.subsetOf(joins.flatMap(_.keys).toSet),
        s"IMMUTABLE KEYS ${immutableKeys.mkString("(", ", ", ")")} " +
          "must all be join keys of this view")
      val leftCount = joins.count(_.left)
      val fullCount = joins.count(_.full)
      // WHERE over a join MV: fact-column predicates only, INNER/LEFT
      // chains only — enforced below (MaterializeJoin.validate throws
      // on FULL and on non-fact references)
      require((leftCount == 0 || leftCount == joins.size) &&
          (fullCount == 0 || fullCount == joins.size),
        "mixed join types are not supported in one materialized " +
          "view (the maintained state is all-inner, all-left, or " +
          "all-full)")
      graft.operators.MaterializeJoin.build(catalog,
        graft.operators.MaterializeJoin.ChainSpec(fact,
          joins.map(j => graft.operators.MaterializeJoin.SideSpec(
            j.table, j.keys,
            sideKeysImmutable = j.keys.forall(immutableKeys.contains),
            factKeysImmutable = j.keys.forall(immutableKeys.contains))),
          leftOuter = leftCount > 0, fullOuter = fullCount > 0,
          factFilterSql = whereSql),
        groupCols.toSeq, measures.distinct.toSeq, path,
        sketches = sketches.toSeq, topks = topks.toSeq,
        grainExprs = grains.toSeq, buckets = buckets)
      // every join shape registers — INNER/LEFT/FULL each carry their
      // own serving contract (a FULL MV serves only FULL OUTER
      // queries, via the fullState dims)
      graft.operators.MaterializeJoin.registerForRewrite(catalog, path)
    }
    mvDefs(name) = MvDef(path, fact +: joins.map(_.table),
      if (joins.isEmpty) Some(fact) else None)
    // serving needs pure cache scans of every involved table — bring
    // the caches current so the NEXT select serves (ROW_TIMESTAMP
    // tables refuse the cache; their MVs maintain but don't serve)
    mvDefs(name).tables.foreach(t =>
      scala.util.Try(catalog.refreshSnapshotCache(t)))
    dirty ++= mvDefs(name).tables.filter(tableNames.contains)
    spark.emptyDataFrame
  }

  /** `REFRESH MATERIALIZED VIEW name`: fold every involved table's
    * writes since the last refresh into the state (delta-sized), then
    * re-cache the tables so the front-end serves the new numbers. */
  private def refreshMaterializedView(s: String): DataFrame = {
    val name = resolveTable(
      "(?is)^REFRESH\\s+MATERIALIZED\\s+VIEW\\s+([\\w.\"]+)$".r
        .findFirstMatchIn(s)
        .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
        .group(1))
    val d = mvDefs.getOrElse(name, throw new IllegalArgumentException(
      s"unknown materialized view $name"))
    d.singleTable match {
      case Some(t) => graft.operators.Materialize.refresh(catalog, t, d.path)
      case None => graft.operators.MaterializeJoin.refresh(catalog, d.path)
    }
    // flip-don't-overwrite leaves one superseded state dir per refresh
    // — reclaim it here (safe under the front-end's single-statement
    // contract: no reader of a PAST state is in flight between
    // statements), so a DDL-managed MV never needs a manual vacuum
    d.singleTable match {
      case Some(_) => graft.operators.Materialize.vacuum(spark, d.path)
      case None => graft.operators.MaterializeJoin.vacuum(spark, d.path)
    }
    d.tables.foreach(t =>
      scala.util.Try(catalog.refreshSnapshotCache(t)))
    dirty ++= d.tables.filter(tableNames.contains)
    spark.emptyDataFrame
  }

  /** `DROP MATERIALIZED VIEW [IF EXISTS] name`: deregister (siblings
    * of the same base table stay registered) and delete the state. */
  private def dropMaterializedView(s: String): DataFrame = {
    val m = ("(?is)^DROP\\s+MATERIALIZED\\s+VIEW\\s+" +
      "(IF\\s+EXISTS\\s+)?([\\w.\"]+)$").r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = resolveTable(m.group(2))
    mvDefs.remove(name) match {
      case None =>
        if (m.group(1) != null) spark.emptyDataFrame
        else throw new IllegalArgumentException(
          s"unknown materialized view $name")
      case Some(d) =>
        // deregisters the rewrite candidate from EVERY table the MV
        // folds, forgets the drop/compact dependency, deletes the state
        catalog.dropMv(d.path)
        spark.emptyDataFrame
    }
  }

  private def createView(s: String): DataFrame = {
    // the added-column list may contain PARENTHESIZED types
    // (VARCHAR(20), DECIMAL(10,2)) — a [^)]* regex stopped at the first
    // ')' and failed the whole statement, so take the balanced group
    val head = "(?is)^CREATE VIEW (?:IF NOT EXISTS )?([\\w.\"]+)\\s*".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val afterName = s.substring(head.end)
    val (colGroup, rest) =
      if (afterName.startsWith("("))
        firstBalancedGroup(afterName) match {
          case (inner, tail) => (Some(inner), tail)
        }
      else (None, afterName)
    val m = ("(?is)^\\s*AS\\s+SELECT \\* FROM\\s+([\\w.\"]+)" +
      "(?:\\s+WHERE\\s+(.*))?$").r.findFirstMatchIn(rest)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = resolveTable(head.group(1))
    val base = resolveTable(m.group(1))
    // view-added columns extend the base table's physical storage
    colGroup.foreach { inner =>
      val fields = splitTopLevel(inner, ',').map(columnField)
      catalog.extendTable(catalog.viewBase(base), fields)
    }
    val predText = Option(m.group(2))
    val pred = predText.map(expr).getOrElse(lit(true))
    // equality conjuncts become write-through defaults
    val eqs = predText.toSeq.flatMap(_.split("(?i)\\s+AND\\s+").toSeq)
      .flatMap { c =>
        "^\\s*([\\w\"]+)\\s*=\\s*('[^']*'|[\\d.]+)\\s*$".r
          .findFirstMatchIn(c)
          .map(g => g.group(1).replaceAll("\"", "").toLowerCase -> g.group(2))
      }.toMap
    viewDefaults(name) = eqs
    catalog.createView(name, base, pred)
    viewNames += name
    viewsStale = true
    dirty += catalog.viewBase(base) // extension columns change the base read
    spark.emptyDataFrame
  }

  /** ALTER VIEW v DROP COLUMN c — diverged views (reference:
    * create_diverged_view.sql): the view stops projecting the column,
    * the base table keeps it. */
  private def alterView(s: String): DataFrame = {
    val m = "(?is)ALTER VIEW ([\\w.\"]+)\\s+DROP COLUMN\\s+([\\w\"]+)\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    catalog.viewDropColumn(resolveTable(m.group(1)),
      m.group(2).replaceAll("\"", "").toLowerCase)
    viewsStale = true
    spark.emptyDataFrame
  }

  /** ALTER TABLE t ADD [IF NOT EXISTS] col type [, ...]
    * ALTER TABLE t DROP COLUMN [IF EXISTS] col [, ...]
    * (reference: grammar alter_table, it/end2end/AlterTableIT.java). */
  private def alterTable(s: String): DataFrame = {
    val add = ("(?is)ALTER TABLE ([\\w.\"]+)\\s+ADD\\s+" +
      "(IF NOT EXISTS\\s+)?(.*)$").r.findFirstMatchIn(s)
    val drop = ("(?is)ALTER TABLE ([\\w.\"]+)\\s+DROP COLUMN\\s+" +
      "(IF EXISTS\\s+)?(.*)$").r.findFirstMatchIn(s)
    // ALTER TABLE t SET prop=v [, ...] (reference alter_table_node
    // options branch — Phoenix most commonly alters TTL this way; the
    // new value governs every subsequent read immediately, like an
    // HBase descriptor change)
    val set = ("(?is)ALTER TABLE ([\\w.\"]+)\\s+SET\\s+" +
      "([\\w]+\\s*=.*)$").r.findFirstMatchIn(s)
    set.foreach { m =>
      val name = resolveTable(m.group(1))
      val props = splitTopLevel(m.group(2), ',').map { p =>
        val Array(k, v) = p.split("=", 2); k.trim -> v.trim
      }.toMap
      catalog.alterSetProps(name, props)
      dirty += name
      return spark.emptyDataFrame
    }
    (add, drop) match {
      case (Some(m), _) =>
        val name = resolveTable(m.group(1))
        val fields = splitTopLevel(m.group(3), ',').map(columnField)
        catalog.alterAddColumns(name, fields,
          ifNotExists = m.group(2) != null)
        dirty += name
      case (_, Some(m)) =>
        val name = resolveTable(m.group(1))
        splitTopLevel(m.group(3), ',').foreach(c =>
          catalog.alterDropColumn(name,
            c.trim.replaceAll("\"", "").toLowerCase,
            ifExists = m.group(2) != null))
        dirty += name
      case _ =>
        throw new IllegalArgumentException(s"cannot parse: $s")
    }
    spark.emptyDataFrame
  }

  private def dropTable(s: String): DataFrame = {
    val m = ("(?is)DROP TABLE (?:IF EXISTS )?([\\w.\"]+)" +
      "(\\s+CASCADE)?\\s*$").r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = resolveTable(m.group(1))
    val cascade = m.group(2) != null
    if (catalog.hasTable(name)) {
      // the reference refuses to drop a table with child views; a
      // silent drop here left orphaned view definitions whose
      // re-registration failed EVERY later SELECT on the session
      val deps = catalog.dependentViews(name)
      if (deps.nonEmpty && !cascade) throw new IllegalArgumentException(
        s"cannot drop table $name: dependent views exist " +
          s"(${deps.mkString(", ")}) — drop them first")
      // registered MVs folding this table refuse the same way (their
      // state and rewrite registration would point at a missing log);
      // CASCADE tears them down first. Name DDL-created MVs by their
      // DDL name, API-registered ones by state path.
      val mvPaths = catalog.mvDependents(name)
      if (mvPaths.nonEmpty && !cascade) {
        val names = mvPaths.map(p =>
          mvDefs.collectFirst { case (n, d)
            if d.path.stripSuffix("/") == p => n }.getOrElse(p))
        throw new IllegalArgumentException(
          s"cannot drop table $name: registered materialized views " +
            s"depend on it (${names.mkString(", ")}) — DROP " +
            "MATERIALIZED VIEW them first, or DROP TABLE ... CASCADE")
      }
      if (cascade) {
        deps.foreach { v =>
          catalog.dropView(v); spark.catalog.dropTempView(v)
        }
        mvPaths.foreach { p =>
          mvDefs.filterInPlace((_, d) => d.path.stripSuffix("/") != p)
          catalog.dropMv(p)
        }
      }
      catalog.dropTable(name)
      tableNames -= name
      schemaOf -= name
      spark.catalog.dropTempView(name)
      // CDC objects on the table die with it (reference drops dependents)
      cdcDefs.filter(_._2._1 == name).keys.foreach { c =>
        cdcDefs -= c
        spark.catalog.dropTempView(c)
      }
    } else if (!s.toUpperCase.contains("IF EXISTS"))
      throw new IllegalArgumentException(s"unknown table $name")
    spark.emptyDataFrame
  }

  // ---- sequences (reference: PhoenixSQL.g create_sequence_node:619-640,
  // drop_sequence_node:641; server-side atomic stepping in
  // cs/coprocessor/SequenceRegionObserver.java:107; client defaults in
  // cc/parse/CreateSequenceStatement.java:41-48). Driver-side counters:
  // batch-monotonic, no cross-session atomicity (documented gap). --------

  /** `last` = last value handed out (None before the first NEXT). */
  private case class SeqState(start: Long, incr: Long, min: Long, max: Long,
      cycle: Boolean, var last: Option[Long])
  private val sequences = scala.collection.mutable.Map[String, SeqState]()

  /** Strict clause-by-clause parse in grammar order — an option this
    * engine can't honor must FAIL, not silently produce a sequence with
    * different values (the reference grammar g:619-640 accepts exactly
    * these clauses in exactly this order). */
  private def createSequence(s: String): DataFrame = {
    val head = ("(?is)^CREATE\\s+SEQUENCE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([\\w.\"]+)\\s*").r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val name = resolveTable(head.group(2))
    var rest = s.substring(head.matched.length).trim
    def clause(re: String): Option[String] =
      ("(?is)^" + re + "\\s*").r.findFirstMatchIn(rest).map { m =>
        rest = rest.substring(m.matched.length).trim
        m.group(1)
      }
    val start = clause("START\\s+(?:WITH\\s+)?(-?\\d+)").map(_.toLong)
    val incr = clause("INCREMENT\\s+(?:BY\\s+)?(-?\\d+)").map(_.toLong)
      .getOrElse(1L)
    val min = clause("MINVALUE\\s+(-?\\d+)").map(_.toLong)
    val max = clause("MAXVALUE\\s+(-?\\d+)").map(_.toLong)
    val cycle = clause("(CYCLE)").isDefined
    clause("CACHE\\s+(\\d+)") // allocation batching only — value-neutral
    if (rest.nonEmpty)
      throw new IllegalArgumentException(
        s"unsupported CREATE SEQUENCE clause(s): '$rest' (grammar: START " +
          "WITH n, INCREMENT BY n, MINVALUE n, MAXVALUE n, CYCLE, CACHE n " +
          "in that order)")
    if (incr == 0)
      throw new IllegalArgumentException("INCREMENT BY must not be zero")
    val minV = min.getOrElse(Long.MinValue)
    val maxV = max.getOrElse(Long.MaxValue)
    if (minV > maxV)
      throw new IllegalArgumentException(s"MINVALUE $minV > MAXVALUE $maxV")
    // reference default: 1 when none of START/MINVALUE/MAXVALUE given
    // (back-compat), else the boundary the increment walks away from
    val startV = start.getOrElse(
      if (min.isEmpty && max.isEmpty) 1L
      else if (incr > 0) minV else maxV)
    if (startV < minV || startV > maxV)
      throw new IllegalArgumentException(
        s"START WITH $startV outside [$minV, $maxV]")
    if (sequences.contains(name)) {
      if (head.group(1) != null) return spark.emptyDataFrame
      throw new IllegalArgumentException(s"sequence $name already exists")
    }
    sequences(name) = SeqState(startV, incr, minV, maxV, cycle, None)
    spark.emptyDataFrame
  }

  private def dropSequence(s: String): DataFrame = {
    val m = "(?is)DROP SEQUENCE (IF EXISTS\\s+)?([\\w.\"]+)\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    if (sequences.remove(resolveTable(m.group(2))).isEmpty &&
        m.group(1) == null)
      throw new IllegalArgumentException(
        s"sequence ${resolveTable(m.group(2))} not found")
    spark.emptyDataFrame
  }

  private def seqOf(seq: String): SeqState = sequences.getOrElse(seq,
    throw new IllegalArgumentException(s"sequence $seq not defined"))

  /** The value the next NEXT VALUE FOR call returns (no state change). */
  private def peekNext(st: SeqState): Long = st.last match {
    case None => st.start
    case Some(l) =>
      val cand = try Math.addExact(l, st.incr) catch {
        case _: ArithmeticException =>
          // 64-bit overflow IS the limit — the old clamp handed out
          // duplicate MaxValue forever once reached
          if (st.cycle) return (if (st.incr > 0) st.min else st.max)
          throw new IllegalStateException(
            s"sequence limit reached (64-bit overflow, no CYCLE)")
      }
      if (st.incr > 0 && (cand > st.max || cand < l)) {
        if (st.cycle) st.min
        else throw new IllegalStateException(
          s"sequence limit reached (MAXVALUE ${st.max}, no CYCLE)")
      } else if (st.incr < 0 && (cand < st.min || cand > l)) {
        if (st.cycle) st.max
        else throw new IllegalStateException(
          s"sequence limit reached (MINVALUE ${st.min}, no CYCLE)")
      } else cand
  }

  def nextValueFor(seq: String): Long = {
    val st = seqOf(seq)
    val v = peekNext(st)
    st.last = Some(v)
    v
  }

  /** CURRENT VALUE FOR: the last value this session's NEXT returned;
    * calling it first is an error (reference SQLExceptionCode
    * CANNOT_CALL_CURRENT_BEFORE_NEXT_VALUE). */
  def currentValueFor(seq: String): Long =
    seqOf(seq).last.getOrElse(throw new IllegalStateException(
      s"CURRENT VALUE FOR $seq called before NEXT VALUE FOR"))

  // ---- DML --------------------------------------------------------------

  /** Equality defaults of a view AND all its ancestors (reference:
    * Phoenix sets every view constant in the chain on write-through —
    * applying only the leaf's would write a base row invisible through
    * the very view it was written through). Leaf wins on conflict. */
  private def chainDefaults(view: String): Map[String, String] = {
    var acc = Map.empty[String, String]
    var cur: Option[String] = Some(view)
    while (cur.exists(catalog.isView)) {
      val v = cur.get
      // ancestor defaults must not override the nearer view's
      acc = viewDefaults.getOrElse(v, Map.empty) ++ acc
      cur = catalog.viewParent(v)
    }
    acc
  }

  private def upsert(sIn: String): DataFrame = {
    // strip an upsert-level hint (UPSERT /*+ NO_INDEX */ INTO ...) —
    // write-path hints steer the reference's index maintenance, which
    // Spark subsumes, so the hint body is advisory here. VALUES tuples
    // are spliced into SQL text below, so binary-literal continuations
    // (x'..' '..') must lex here too, not just in the SELECT pipeline.
    val s = rewriteBinaryLiterals(
      "(?is)^(UPSERT)\\s*/\\*\\+.*?\\*/".r.replaceFirstIn(sIn, "$1"))
    // UPSERT INTO t [(cols)] SELECT ... (reference g: upsert_node SELECT
    // form) — the SELECT runs through the normal query path and the
    // result batch is upserted.
    val sel = ("(?is)UPSERT INTO ([\\w.\"]+)\\s*(?:\\(([^)]*)\\))?\\s*" +
      "(SELECT\\s.*)$").r.findFirstMatchIn(s)
    if (sel.isDefined) {
      val m = sel.get
      val target = resolveTable(m.group(1))
      // same view write-through as the VALUES path: rows written through a
      // view carry the view's equality defaults for unset columns, so
      // they remain visible through the view
      val (table, defaults) =
        if (catalog.isView(target))
          (catalog.viewBase(target), chainDefaults(target))
        else (target, Map.empty[String, String])
      var df = select(m.group(3))
      Option(m.group(2)) match {
        case Some(colGroup) =>
          val names = splitTopLevel(colGroup, ',').map(c =>
            cleanIdent(c).split("\\.").last.toLowerCase)
          require(names.length == df.columns.length,
            s"UPSERT SELECT arity mismatch: ${names.length} columns but " +
              s"${df.columns.length} select outputs for $target")
          df = df.toDF(names: _*)
        case None =>
          // POSITIONAL binding, like the reference (and the VALUES
          // path): without this, an expression output named "(n * 2)"
          // matched no table column, was dropped, and the real column
          // padded to NULL — silent corruption. Fewer outputs than
          // columns bind to the leading columns (trailing take
          // DEFAULT/NULL at the catalog layer).
          val fields = catalog.spec(table).schema.fieldNames.toSeq
          require(df.columns.length <= fields.length,
            s"UPSERT SELECT has more outputs (${df.columns.length}) " +
              s"than $target has columns (${fields.length})")
          df = df.toDF(fields.take(df.columns.length): _*)
      }
      defaults.filterNot { case (c, _) => df.columns.contains(c) }
        .foreach { case (c, v) => df = df.withColumn(c, expr(v)) }
      catalog.upsert(table, df)
      return spark.emptyDataFrame
    }
    val m = ("(?is)UPSERT INTO ([\\w.\"]+)\\s*(?:\\(([^)]*)\\))?\\s*" +
      "VALUES\\s*(\\(.*\\))$").r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    val target = resolveTable(m.group(1))
    // upsert through a view: write the base row with the view's equality
    // defaults for columns the statement doesn't set
    val (table, defaults) =
      if (catalog.isView(target))
        (catalog.viewBase(target), chainDefaults(target))
      else (target, Map.empty[String, String])
    val spec = catalog.spec(table)
    val cols = Option(m.group(2))
      .map(splitTopLevel(_, ',').map(c =>
        cleanIdent(c).split("\\.").last.toLowerCase))
      .getOrElse(spec.schema.fieldNames.toSeq)
    // Multi-row VALUES (reference g: upsert_node accepts a
    // comma-separated tuple list; ut/parse testValidMultipleUpsert*):
    // each top-level piece must be EXACTLY one balanced (...) group —
    // trailing commas, empty tuples, a missing comma between tuples, or
    // an unclosed paren are parse errors, as in the reference.
    val tuples = splitTopLevel(m.group(3), ',').map(_.trim)
    def oneGroup(p: String): Boolean = {
      if (p.length < 3 || !p.startsWith("(") || !p.endsWith(")")) false
      else {
        var depth = 0; var inStr = false; var firstClose = -1
        p.zipWithIndex.foreach { case (c, i) =>
          if (c == '\'') inStr = !inStr
          else if (!inStr && c == '(') depth += 1
          else if (!inStr && c == ')') {
            depth -= 1; if (depth == 0 && firstClose < 0) firstClose = i
          }
        }
        depth == 0 && firstClose == p.length - 1
      }
    }
    if (!tuples.forall(oneGroup))
      throw new IllegalArgumentException(
        s"cannot parse VALUES tuple list: $s")
    // ragged tuple lists error CLEANLY here, not as a positional
    // UNION-arity AnalysisException out of the row assembly below
    val arities = tuples
      .map(t => splitTopLevel(t.substring(1, t.length - 1), ',').length)
      .distinct
    if (arities.length > 1)
      throw new IllegalArgumentException(
        s"UPSERT VALUES tuples have differing arities $arities: $s")
    // NEXT/CURRENT VALUE FOR seq → driver-side sequence stepping. All
    // NEXT references to one sequence in a TUPLE share the stepped
    // value (reference SequenceManager coalesces per row), and CURRENT
    // in the same statement reads it. Phoenix ARRAY['a','b'] literal →
    // Spark array('a','b').
    val nvRe = "(?i)NEXT\\s+VALUE\\s+FOR\\s+([\\w.\"]+)".r
    val cvRe = "(?i)CURRENT\\s+VALUE\\s+FOR\\s+([\\w.\"]+)".r
    val declaredTypes = catalog.allFields(table)
      .map(f => f.name.toLowerCase -> f.dataType.sql).toMap
    def declared(c: String): String = declaredTypes.getOrElse(c.toLowerCase,
      throw new IllegalArgumentException(
        s"UPSERT column $c does not exist in $target"))
    val structs = tuples.map { tup =>
      val rawVals = splitTopLevel(tup.substring(1, tup.length - 1), ',')
      // mask discipline: a VALUE that is a string literal containing
      // the spelling ('NEXT VALUE FOR x' as data) must neither step the
      // sequence nor have its content rewritten
      val nexts = rawVals
        .flatMap { v =>
          val m = literalMask(v)
          nvRe.findAllMatchIn(v).filterNot(g => m(g.start))
            .map(g => resolveTable(g.group(1)))
        }
        .distinct.map(sq => sq -> nextValueFor(sq)).toMap
      val values = rawVals.map { v =>
        val v1 = replaceOutsideLiterals(v, nvRe)(
          g => nexts(resolveTable(g.group(1))).toString + "L")
        val v2 = replaceOutsideLiterals(v1, cvRe)(
          g => currentValueFor(resolveTable(g.group(1))).toString + "L")
        "(?is)^ARRAY\\s*\\[(.*)\\]$".r.findFirstMatchIn(v2.trim)
          .map(g => s"array(${g.group(1)})").getOrElse(v2)
      }
      // Phoenix errors when there are MORE values than columns ("Upsert
      // has more values than columns"); with no explicit column list,
      // FEWER values bind positionally to the leading columns and the
      // omitted trailing ones take their DEFAULT / NULL at the catalog
      // layer (DefaultColumnValueIT: UPSERT INTO t VALUES (1, 2) on a
      // 6-column table). An explicit column list stays exact-arity.
      val effCols =
        if (m.group(2) == null && values.length < cols.length)
          cols.take(values.length)
        else cols
      require(values.length == effCols.length,
        s"UPSERT arity mismatch: ${effCols.length} columns but " +
          s"${values.length} values for $target")
      val withDefaults = values.zip(effCols) ++
        defaults.filterNot { case (c, _) => effCols.contains(c) }
          .map { case (c, v) => (v, c) }
      s"struct(${withDefaults
        .map { case (v, c) => s"CAST($v AS ${declared(c)}) AS `$c`" }
        .mkString(", ")})"
    }
    // All tuples form ONE relation: a single row whose array of structs
    // `inline` expands. It plans as one partition, so the statement runs
    // one task and writes one parquet file (a union of one-row SELECTs
    // would cost a task and a file per tuple, and every later read
    // would scan them). Each value is cast to its column's declared type
    // (view-extension columns included), so all structs share one type
    // and no column is widened across tuples: `(1, 'x'), (2, 3)` into a
    // VARCHAR stores '3' instead of widening to BIGINT and failing on
    // 'x'. Spark's inline VALUES table would also be one partition, but
    // it rejects UDF calls and mixed literal kinds. catalog.upsert pads
    // the omitted columns and runs the write-path checks.
    val rows = spark.sql(s"SELECT inline(array(${structs.mkString(", ")}))")
    catalog.upsert(table, rows)
    spark.emptyDataFrame
  }

  private def delete(sIn: String): DataFrame = {
    // the WHERE clause goes to expr() un-prepared, so binary-literal
    // continuations must lex here too
    val s = rewriteBinaryLiterals(sIn)
    val m = "(?is)DELETE FROM ([\\w.\"]+)(?:\\s+WHERE\\s+(.*))?$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse: $s"))
    catalog.delete(resolveTable(m.group(1)),
      Option(m.group(2)).map(expr).getOrElse(lit(true)))
    spark.emptyDataFrame
  }

  // ---- queries ----------------------------------------------------------

  /** Hints Spark's own resolver understands — pass through VERBATIM
    * (args included) so `/*+ BROADCAST(d) */` etc. keep working exactly
    * as they did when the whole comment reached spark.sql unmodified. */
  private val SparkNativeHints = Set(
    "BROADCAST", "BROADCASTJOIN", "MAPJOIN",
    "MERGE", "MERGEJOIN", "SHUFFLE_MERGE",
    "SHUFFLE_HASH", "SHUFFLE_REPLICATE_NL",
    "REPARTITION", "REPARTITION_BY_RANGE", "COALESCE", "REBALANCE")

  /** Phoenix hint surface (reference cc/parse/HintNode.java). Three
    * classes of leading-hint names:
    *  - USE_SORT_MERGE_JOIN → rewritten to Spark's SHUFFLE_MERGE over the
    *    statement's FROM/JOIN relations (aliases included), forcing the
    *    sort-merge strategy like the reference's JoinCompiler does
    *    (limitation: comma-list FROM clauses and subquery-only FROMs have
    *    no bare relation to hint — warned, not silently dropped);
    *  - NO_INDEX → the covered-index rewrite ([[graft.plans
    *    .IndexRewriteRule]]) is disabled for THIS statement: the rule
    *    checks the session conf and the statement's optimized plan is
    *    forced inside the conf window (QueryExecution caches it, and
    *    AQE's runtime re-optimization does not re-run injected rules);
    *  - [[SparkNativeHints]] pass through verbatim with their arguments;
    *    everything else (RANGE_SCAN, SKIP_SCAN, NO_STAR_JOIN, SMALL,
    *    SERIAL, INDEX(...), ...) is dropped with a stderr warning — they
    *    steer HBase scan internals Catalyst decides itself.
    * @return (sql with the hint comment rewritten, noIndex flag) */
  private[graft] def rewriteHints(s: String): (String, Boolean) = {
    val hintRe = "(?is)^(\\s*SELECT)\\s*/\\*\\+(.*?)\\*/(.*)$".r
    hintRe.findFirstMatchIn(s) match {
      case None => (s, false)
      case Some(m) =>
        val items = "([A-Za-z_]+)(\\([^)]*\\))?".r
          .findAllMatchIn(m.group(2))
          .map(g => (g.group(1).toUpperCase, g.matched)).toSeq
        val names = items.map(_._1)
        val noIndex = names.contains("NO_INDEX")
        val passThrough = items.collect {
          case (n, verbatim) if SparkNativeHints.contains(n) => verbatim
        }
        val keywords = Set("WHERE", "ON", "USING", "LEFT", "RIGHT", "FULL",
          "INNER", "CROSS", "JOIN", "GROUP", "ORDER", "LIMIT", "UNION",
          "INTERSECT", "EXCEPT", "HAVING", "AS", "AND", "OR", "NOT",
          "SELECT", "SET", "OFFSET", "FETCH", "WINDOW", "VALUES")
        val merge =
          if (!names.contains("USE_SORT_MERGE_JOIN")) Seq.empty
          else {
            val rels = "(?i)\\b(?:FROM|JOIN)\\s+([A-Za-z_]\\w*)" +
              "(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?"
            val tokens = rels.r.findAllMatchIn(m.group(3)).flatMap { g =>
              // hint the alias when present (Spark resolves hints by the
              // name visible in the plan), else the relation name
              Option(g.group(2)).filterNot(a =>
                keywords.contains(a.toUpperCase)).orElse(Option(g.group(1)))
            }.toSeq.distinct
            if (tokens.isEmpty) {
              System.err.println("[graft-sql] USE_SORT_MERGE_JOIN: no " +
                "bare relation after FROM/JOIN to hint (subquery or " +
                "comma-list FROM) — hint dropped")
              Seq.empty
            } else Seq(s"SHUFFLE_MERGE(${tokens.mkString(", ")})")
          }
        val ignored = names.filterNot(n =>
          n == "NO_INDEX" || n == "USE_SORT_MERGE_JOIN" ||
            SparkNativeHints.contains(n))
        if (ignored.nonEmpty)
          System.err.println(s"[graft-sql] ignoring Phoenix hints " +
            s"${ignored.mkString(", ")} (scan internals Catalyst decides)")
        val kept = merge ++ passThrough
        val hint =
          if (kept.isEmpty) "" else kept.mkString(" /*+ ", ", ", " */")
        (m.group(1) + hint + m.group(3), noIndex)
    }
  }

  // ---- CurrentSCN (reference: cc/util/PhoenixRuntime.java
  // CURRENT_SCN_ATTRIB — a connection property holding an HBase
  // timestamp, i.e. epoch millis; a connection opened with it reads
  // cells at-or-before that instant). SQL spelling here:
  // `SET CURRENT_SCN = <epoch millis>`; `= NULL` restores current-time
  // reads. Applies to base tables AND stacked views (the as-of read
  // point threads to the view's base collapse); CDC views are
  // inherently all-history and unaffected. Back-dated WRITES (the
  // reference allows them) are out of scope — the version counter is
  // monotonic — so mutations are rejected while a read point is set.
  // PHOENIX_ROW_TIMESTAMP statements re-register with current-state
  // snapshots (documented divergence; combine with SCN is untypical). --
  private var currentScn: Option[java.sql.Timestamp] = None

  private def setScn(s: String): DataFrame = {
    val m = "(?i)SET\\s+CURRENT_SCN\\s*=\\s*(NULL|\\d+)\\s*$".r
      .findFirstMatchIn(s).getOrElse(throw new IllegalArgumentException(
        s"cannot parse: $s (expected SET CURRENT_SCN = <epoch millis> | NULL)"))
    currentScn =
      if (m.group(1).equalsIgnoreCase("NULL")) None
      else Some(new java.sql.Timestamp(m.group(1).toLong))
    dirty ++= tableNames // every registered snapshot changes read point
    viewsStale = true
    spark.emptyDataFrame
  }

  private def requireNoScn(op: String): Unit =
    require(currentScn.isEmpty,
      s"$op is not allowed while CURRENT_SCN is set (back-dated writes " +
        "are out of scope); run SET CURRENT_SCN = NULL first")

  /** Phoenix-dialect lexical normalization applied to query text before
    * it reaches Spark's parser (the reference grammar lexes these
    * natively; PhoenixSQL.g tokens):
    *  - double-quoted identifiers → backticks (`"Id"` is a
    *    case-sensitive IDENTIFIER in Phoenix; a double-quoted STRING to
    *    Spark's default parser);
    *  - `//` line comments → `--` (g: SL_COMMENT2);
    *  - unicode whitespace (e.g. U+2002 EN space) → plain space (the
    *    reference lexer accepts it; Spark's ANTLR WS class does not);
    *  - `(UNSIGNED_)?DATE/TIME/TIMESTAMP 'lit'` type literals →
    *    `TIMESTAMP 'lit'` (Phoenix DATE/TIME carry time-of-day —
    *    SURVEY §1.2 maps the whole family to TIMESTAMP).
    * Single-quoted string literals and comment bodies pass through
    * untouched. */
  private[graft] def normalizeQueryText(q: String): String = {
    val sb = new StringBuilder(q.length)
    var i = 0; var inStr = false; var inLine = false; var inBlock = false
    // inside a double-quoted (→ backticked) IDENTIFIER nothing else
    // tokenizes — an apostrophe in "o'brien" must not open a string
    var inId = false
    while (i < q.length) {
      val c = q.charAt(i)
      if (inStr) { sb.append(c); if (c == '\'') inStr = false; i += 1 }
      else if (inId) {
        if (c == '"') { sb.append('`'); inId = false } else sb.append(c)
        i += 1
      }
      else if (inLine) { sb.append(c); if (c == '\n') inLine = false; i += 1 }
      else if (inBlock) {
        if (c == '*' && i + 1 < q.length && q.charAt(i + 1) == '/') {
          sb.append("*/"); i += 2; inBlock = false
        } else { sb.append(c); i += 1 }
      }
      else c match {
        case '\'' => inStr = true; sb.append(c); i += 1
        case '-' if i + 1 < q.length && q.charAt(i + 1) == '-' =>
          inLine = true; sb.append("--"); i += 2
        case '/' if i + 1 < q.length && q.charAt(i + 1) == '*' =>
          inBlock = true; sb.append("/*"); i += 2
        case '/' if i + 1 < q.length && q.charAt(i + 1) == '/' =>
          inLine = true; sb.append("--"); i += 2
        case '"' => sb.append('`'); inId = true; i += 1
        case w if Character.isWhitespace(w) || Character.isSpaceChar(w) =>
          sb.append(' '); i += 1
        case _ => sb.append(c); i += 1
      }
    }
    // unterminated tokens fail LOUDLY like the reference lexer: left to
    // run on, an unpaired `"` swallows everything up to the next `"` —
    // including a later string literal's content, which would then be
    // rewritten as identifier text (caught by PhoenixSqlFuzzSpec P4). A
    // line comment may legally end at EOF.
    if (inStr) throw new IllegalArgumentException(
      s"unterminated string literal in: $q")
    if (inId) throw new IllegalArgumentException(
      s"unterminated double-quoted identifier in: $q")
    if (inBlock) throw new IllegalArgumentException(
      s"unterminated block comment in: $q")
    val n = sb.toString
    val s1 = replaceOutsideLiterals(n,
      ("(?i)\\b(?:UNSIGNED_)?(?:DATE|TIME|TIMESTAMP)" +
        "\\s*('(?:[^']|'')*')").r)(m => "TIMESTAMP " + m.group(1))
    // ANSI FETCH FIRST/NEXT n ROWS ONLY (g: fetch_node) → LIMIT
    val s2 = replaceOutsideLiterals(s1,
      "(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(\\d+)\\s+ROWS?\\s+ONLY".r)(
      m => "LIMIT " + m.group(1))
    // OFFSET n ROW/ROWS (g: offset_node allows the unit word) → OFFSET n
    replaceOutsideLiterals(s2,
      "(?i)\\bOFFSET\\s+(\\d+)\\s+ROWS?\\b".r)(m => "OFFSET " + m.group(1))
  }

  /** true at positions strictly INSIDE single-quoted literals or
    * backticked identifiers (content + closing delimiter) and anywhere
    * inside SQL comments (opener included); the opening quote itself is
    * false, so a rewrite may still match a whole quoted operand but
    * never text inside one. Keeps the regex rewrite passes (type
    * literals, FETCH, ANY/ALL, RVC OFFSET) from corrupting literal
    * VALUES like 'x = ANY(tags)'. Comment-awareness matters because an
    * apostrophe inside `-- don't` or a block comment is NOT a string
    * opener — a quote-only scanner would flip the in-string state for
    * the rest of the statement and silently suppress later passes
    * (normalizeQueryText's own scanner is comment-aware; the two must
    * agree on the same text). */
  private def literalMask(s: String): Array[Boolean] = {
    val m = new Array[Boolean](s.length + 1)
    var inStr = false; var inId = false
    var inLine = false; var inBlock = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { m(i) = true; if (c == '\'') inStr = false }
      else if (inId) { m(i) = true; if (c == '`') inId = false }
      else if (inLine) { m(i) = true; if (c == '\n') inLine = false }
      else if (inBlock) {
        m(i) = true
        if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          m(i + 1) = true; i += 1; inBlock = false
        }
      }
      else if (c == '\'') inStr = true
      else if (c == '`') inId = true
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        m(i) = true; m(i + 1) = true; i += 1; inLine = true
      }
      else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        m(i) = true; m(i + 1) = true; i += 1; inBlock = true
      }
      i += 1
    }
    m
  }

  private def replaceOutsideLiterals(s: String,
      re: scala.util.matching.Regex)(
      repl: scala.util.matching.Regex.Match => String): String = {
    val mask = literalMask(s)
    re.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      if (mask(m.start)) m.matched else repl(m)))
  }

  /** RVC OFFSET keyset pagination in SQL (reference RVCOffsetCompiler;
    * g: offset_node RVC form): `... [LIMIT n] OFFSET (pks)=(vals)`
    * becomes the filter spelling `(pks) > (vals)` — the same rewrite
    * the DataFrame operator (q_rvc_offset) uses — with any trailing
    * LIMIT re-applied OUTSIDE the filter (the reference applies the
    * offset before the limit). */
  private def rewriteRvcOffset(s: String): String = {
    val re = "(?is)\\bOFFSET\\s*\\(([^)]*)\\)\\s*=\\s*\\(([^)]*)\\)\\s*$".r
    re.findFirstMatchIn(s) match {
      case None => s
      case Some(m) if literalMask(s)(m.start) => s // inside a literal
      case Some(m) =>
        val core0 = s.substring(0, m.start).trim
        val lim = "(?is)\\bLIMIT\\s+(\\d+)\\s*$".r
        val (core, limit) = lim.findFirstMatchIn(core0) match {
          case Some(l) =>
            (core0.substring(0, l.start).trim, s" LIMIT ${l.group(1)}")
          case None => (core0, "")
        }
        s"SELECT * FROM ($core) __rvc_page " +
          s"WHERE (${m.group(1)}) > (${m.group(2)})$limit"
    }
  }

  /** Phoenix array ANY/ALL quantified comparisons (reference
    * cc/expression/function/ArrayAnyComparisonExpression — `v op
    * ANY(arr)` is true when some array element satisfies it, ALL when
    * every one does): rewritten onto Spark's higher-order exists /
    * forall. The subquery form (`= ANY (SELECT ...)`) passes through —
    * Spark parses that natively. The LHS match is a literal or a
    * dotted identifier (the reference grammar's operand shapes). The
    * argument is taken by a quote-aware balanced-paren scan, not a
    * paren-free regex, so nested calls (`v = ANY(array_distinct(tags))`)
    * rewrite instead of falling through to a confusing Spark parse
    * error. */
  private def rewriteAnyAll(s: String): String = {
    val head = ("(?is)('(?:[^']|'')*'|[\\w.`]+)\\s*(=|!=|<>|<=|>=|<|>)" +
      "\\s*(ANY|ALL)\\s*\\(").r
    var cur = s
    var from = 0
    var going = true
    while (going) {
      val mask = literalMask(cur)
      // the WHOLE construct must sit outside literals: the LHS
      // alternative [\w.`]+ includes the backtick, so it can match from
      // an OPENING backtick (which the mask deliberately leaves
      // unmasked so whole-quoted operands rewrite) into an identifier's
      // interior — `7 > ALL(xs)` as an IDENTIFIER would rewrite without
      // the keyword-position check (caught by PhoenixSqlFuzzSpec P1)
      head.findAllMatchIn(cur)
        .find(m => m.start >= from && !mask(m.start) &&
          !mask(m.start(3))) match {
        case None => going = false
        case Some(m) =>
          val openIdx = m.end - 1
          var depth = 0; var k = openIdx; var close = -1
          var inQ = false; var inL = false; var inB = false
          // quote- AND comment-aware: a paren inside 'a)b' or /* ) */
          // within the argument must not close the group early
          while (k < cur.length && close < 0) {
            val ch = cur.charAt(k)
            if (inQ) { if (ch == '\'') inQ = false }
            else if (inL) { if (ch == '\n') inL = false }
            else if (inB) {
              if (ch == '*' && k + 1 < cur.length &&
                  cur.charAt(k + 1) == '/') { k += 1; inB = false }
            }
            else if (ch == '\'') inQ = true
            else if (ch == '-' && k + 1 < cur.length &&
                cur.charAt(k + 1) == '-') { inL = true; k += 1 }
            else if (ch == '/' && k + 1 < cur.length &&
                cur.charAt(k + 1) == '*') { inB = true; k += 1 }
            else if (ch == '(') depth += 1
            else if (ch == ')') { depth -= 1; if (depth == 0) close = k }
            k += 1
          }
          if (close < 0) going = false // unbalanced: let the parser reject
          else {
            val arg = cur.substring(openIdx + 1, close)
            // subquery forms pass through to Spark's native quantified
            // comparison — including parenthesized ones, (SELECT ...),
            // which the balanced scan now captures whole
            val inner = arg.trim.dropWhile(c => c == '(' ||
              Character.isWhitespace(c))
            if (inner.toLowerCase(java.util.Locale.ROOT)
                .startsWith("select")) from = m.end
            else {
              val fn = if (m.group(3).equalsIgnoreCase("ANY")) "exists"
                       else "forall"
              val repl = s"$fn($arg, __e -> ${m.group(1)} ${m.group(2)} __e)"
              cur = cur.substring(0, m.start) + repl +
                cur.substring(close + 1)
              from = m.start + repl.length
            }
          }
      }
    }
    cur
  }

  /** Binary/hex literal lexing with CONTINUATION parts (reference lexer
    * rules HEX_LITERAL/BIN_LITERAL, PhoenixSQL.g:1370-1392, joined by
    * parser rules hex_literal/bin_literal g:1312-1330): `x'0 12' --c
    * '34'` is ONE literal — parts separated by whitespace/comments
    * concatenate, spaces inside parts are ignored, and `b'bits'` spells
    * base 2. Validation mirrors ParseNodeFactory.hexLiteral/binLiteral
    * (:701-737): digits must be hex / 0-1, a continuation part must be
    * non-empty, the total hex digit count even, the total bit count a
    * multiple of 8. The whole run collapses to Spark's native `X'hex'`
    * literal. The x/b must abut the opening quote — the reference lexes
    * `x '00'` as a NAME token and the parse fails, so the pass leaves
    * it alone for Spark to reject. */
  private[graft] def rewriteBinaryLiterals(s: String): String = {
    def isIdentChar(c: Char) =
      Character.isLetterOrDigit(c) || c == '_' || c == '$'
    // body of a quoted part starting AFTER the opening quote at `at`
    def part(at: Int): (String, Int) = {
      var j = at
      while (j < s.length && s.charAt(j) != '\'') j += 1
      if (j >= s.length) throw new IllegalArgumentException(
        s"unterminated binary literal in: $s")
      (s.substring(at, j), j + 1)
    }
    val sb = new StringBuilder(s.length)
    var i = 0
    var inStr = false; var inId = false
    var inLine = false; var inBlock = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { sb.append(c); if (c == '\'') inStr = false; i += 1 }
      else if (inId) { sb.append(c); if (c == '`') inId = false; i += 1 }
      else if (inLine) { sb.append(c); if (c == '\n') inLine = false; i += 1 }
      else if (inBlock) {
        if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          sb.append("*/"); i += 2; inBlock = false
        } else { sb.append(c); i += 1 }
      }
      else if ((c == 'x' || c == 'X' || c == 'b' || c == 'B') &&
          i + 1 < s.length && s.charAt(i + 1) == '\'' &&
          (i == 0 || !isIdentChar(s.charAt(i - 1)))) {
        val isHex = c == 'x' || c == 'X'
        val first = part(i + 2)
        val parts = scala.collection.mutable.ArrayBuffer(first._1)
        var j = first._2
        // each continuation: whitespace/comments then another 'part'
        var scan = true
        while (scan) {
          var k = j; var moved = true
          while (moved) {
            moved = false
            while (k < s.length && Character.isWhitespace(s.charAt(k))) {
              k += 1; moved = true
            }
            if (k + 1 < s.length &&
                ((s.charAt(k) == '-' && s.charAt(k + 1) == '-') ||
                  (s.charAt(k) == '/' && s.charAt(k + 1) == '/'))) {
              k += 2
              while (k < s.length && s.charAt(k) != '\n') k += 1
              moved = true
            } else if (k + 1 < s.length && s.charAt(k) == '/' &&
                s.charAt(k + 1) == '*') {
              val e = s.indexOf("*/", k + 2)
              if (e < 0) throw new IllegalArgumentException(
                s"unterminated block comment in binary literal: $s")
              k = e + 2; moved = true
            }
          }
          if (k < s.length && s.charAt(k) == '\'') {
            val (b, j2) = part(k + 1); parts += b; j = j2
          } else scan = false
        }
        val kind = if (isHex) "Hex" else "Binary"
        val digits = parts.zipWithIndex.map { case (p, idx) =>
          val d = p.replace(" ", "")
          val allDigit =
            if (isHex) d.forall(ch => Character.digit(ch, 16) >= 0)
            else d.forall(ch => ch == '0' || ch == '1')
          if (!allDigit || (idx > 0 && d.isEmpty))
            throw new IllegalArgumentException(
              s"$kind literal ${if (idx > 0) "continuation " else ""}" +
                s"has non ${if (isHex) "hex" else "binary"} digit " +
                s"characters: '$p'")
          d
        }.mkString
        if (isHex) {
          if (digits.length % 2 != 0) throw new IllegalArgumentException(
            "Hex literals must have an even number of digits")
          sb.append("X'").append(digits).append("'")
        } else {
          if (digits.length % 8 != 0) throw new IllegalArgumentException(
            "Binary literals must have a multiple of 8 digits")
          val hex = digits.grouped(8)
            .map(bits => f"${Integer.parseInt(bits, 2)}%02x").mkString
          sb.append("X'").append(hex).append("'")
        }
        i = j
      }
      else if ((c == '-' || c == '/') && i + 1 < s.length &&
          (s.charAt(i + 1) == c ||
            (c == '/' && s.charAt(i + 1) == '*'))) {
        // comment openers consume BOTH chars, matching literalMask and
        // normalizeQueryText — a one-char consume mis-lexed '/*/' as an
        // open-and-immediately-closed comment. '//' is the reference's
        // SL_COMMENT2 spelling: the SELECT pipeline normalizes it to
        // '--' first, but the UPSERT/DELETE paths run on raw text.
        if (s.charAt(i + 1) == '*') inBlock = true else inLine = true
        sb.append(c).append(s.charAt(i + 1)); i += 2
      }
      else {
        c match {
          case '\'' => inStr = true
          case '`' => inId = true
          case _ =>
        }
        sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** The full lexical pipeline query text passes before Spark's parser:
    * dialect normalization, binary-literal continuation lexing,
    * RVC-offset pagination, array ANY/ALL. */
  private[graft] def prepareQueryText(s: String): String =
    rewriteAnyAll(rewriteRvcOffset(rewriteBinaryLiterals(
      normalizeQueryText(s))))

  private def select(sRaw: String): DataFrame = {
    val s0 = prepareQueryText(sRaw)
    val (s, noIndex) = rewriteHints(s0)
    // re-register only what changed since the last SELECT; any base-table
    // change invalidates views too (their plans pin the base's files).
    // Tables with a finite TTL are ALWAYS stale: their snapshot plan
    // pins the expiry cutoff as a literal sampled at registration time
    // (the catalog clock), so a cached view would keep serving rows
    // that have since aged out.
    val ttlStale = tableNames.filter(t => catalog.ttlSeconds(t).isDefined)
    dirty ++= tableNames.filterNot(t =>
      registeredAt.get(t).contains(catalog.currentVersion(t)))
    if (dirty.nonEmpty || viewsStale || cdcStale || ttlStale.nonEmpty) {
      // snapshotServed, not snapshot: with a FRESH snapshot cache the
      // registered view is a pure parquet scan (no per-query collapse
      // shuffle) — and an Aggregate over a scan is what AggRewriteRule
      // can swap onto registered MV state
      // ([[graft.operators.Materialize.registerForRewrite]]), so the
      // dashboard GROUP BY through this front-end reads KBs of state
      (dirty ++ ttlStale).filter(tableNames.contains).foreach { t =>
        registeredAt(t) = catalog.currentVersion(t)
        currentScn.map(catalog.snapshotAsOfTime(t, _))
          .getOrElse(catalog.snapshotServed(t)).createOrReplaceTempView(t)
      }
      viewNames.foreach(v =>
        catalog.view(v, currentScn).createOrReplaceTempView(v))
      cdcDefs.foreach { case (n, (t, scopes)) =>
        if (cdcStale || dirty.contains(t) || ttlStale.contains(t))
          catalog.cdcImages(t, scopes = scopes).createOrReplaceTempView(n)
      }
      // bare-name aliases for the current schema's tables/views/CDCs
      currentSchema.foreach { sc =>
        (tableNames ++ viewNames ++ cdcDefs.keys)
          .filter(t => schemaOf.get(t).contains(sc)).foreach { flat =>
            val bare = flat.stripPrefix(sc + "_")
            spark.table(flat).createOrReplaceTempView(bare)
            schemaAliases += bare
          }
      }
      dirty.clear(); viewsStale = false; cdcStale = false
    }
    // PHOENIX_ROW_TIMESTAMP() (reference cc/expression/function/
    // PhoenixRowTimestampFunction.java:42 — the row's cell timestamp,
    // here the winning write's batch stamp): re-register the referenced
    // snapshots with the timestamp column for this statement, then
    // restore plain snapshots on the next one. CDC views carry the
    // column natively. Caveat vs the reference: `SELECT *` in the SAME
    // statement also shows the column (Phoenix's * excludes it).
    val rowTsRe = "(?i)PHOENIX_ROW_TIMESTAMP\\s*\\(\\s*\\)".r
    val s1 = {
      // mask discipline: the spelling inside a string literal must not
      // re-register snapshots nor have the literal's content rewritten
      val m0 = literalMask(s)
      if (!rowTsRe.findAllMatchIn(s).exists(x => !m0(x.start))) s
      else {
        tableNames.foreach(t =>
          catalog.snapshotWithRowTs(t).createOrReplaceTempView(t))
        dirty ++= tableNames
        viewsStale = true
        replaceOutsideLiterals(s, rowTsRe)(_ => "phoenix_row_timestamp")
      }
    }
    // rewrite schema-qualified spellings to the flattened view names
    // boundaries + literal mask: a blanket replaceAll corrupted string
    // literals containing the dotted spelling and unrelated identifiers
    // holding it as a substring (registered "a.b" inside `data.bytes`)
    val rewritten = dottedNames.foldLeft(s1) { case (acc, (dotted, flat)) =>
      replaceOutsideLiterals(acc,
        ("(?i)(?<![\\w.`])" + java.util.regex.Pattern.quote(dotted) +
          "(?![\\w.`])").r)(_ => flat)
    }
    val (withDyn, dynViews) = rewriteDynamicColumns(rewritten)
    val df = sequenceSelect(withDyn).getOrElse(spark.sql(withDyn))
    // spark.sql analyzed eagerly, so the one-statement dynamic-column
    // views can drop now — leaving them would accumulate snapshot-
    // pinning shadows in the session catalog for the session lifetime
    dynViews.foreach(spark.catalog.dropTempView)
    if (noIndex) {
      // force logical optimization inside the conf window so the
      // statement's (cached) optimized plan skips the index rewrite.
      // Save/restore rather than set/unset: a user who disabled the
      // rewrite session-wide must not have a NO_INDEX statement silently
      // re-enable it. (The window is session-global — a concurrent
      // thread optimizing on the same session inside it would also skip
      // the rewrite; single-statement front-end use is the contract.)
      val prior = spark.conf.getOption(
        graft.plans.IndexRewriteRule.DisabledConf)
      spark.conf.set(graft.plans.IndexRewriteRule.DisabledConf, "true")
      try df.queryExecution.optimizedPlan
      finally prior match {
        case Some(v) =>
          spark.conf.set(graft.plans.IndexRewriteRule.DisabledConf, v)
        case None =>
          spark.conf.unset(graft.plans.IndexRewriteRule.DisabledConf)
      }
    }
    df
  }

  /** Per-query dynamic columns (reference PhoenixSQL.g:832-846,
    * it/end2end/DynamicColumnIT.java): `FROM t (col TYPE, ...)` extends
    * the read schema for this statement — undeclared columns materialize
    * as typed NULLs ([[GraftCatalog.withDynamicColumns]]). Column-family
    * qualifiers (`B.F2V2 VARCHAR`) keep the column name, as Phoenix's
    * projection does. Each dynamic table ref becomes a one-statement temp
    * view (returned so the caller drops it after eager analysis); a
    * parenthesized group that isn't a column-def list (subquery, unknown
    * table) is left for Spark's parser untouched.
    * @return (rewritten sql, temp views created for this statement) */
  private def rewriteDynamicColumns(sql: String): (String, Seq[String]) = {
    val re = "(?i)\\b(FROM|JOIN)\\s+([A-Za-z_]\\w*)\\s*\\(".r
    val sb = new StringBuilder
    val created = scala.collection.mutable.ArrayBuffer[String]()
    // a `FROM t (...)` SPELLING inside a string literal or comment must
    // not rewrite — with an existing table t it would splice a temp-view
    // name into the literal's CONTENT (SQL-text-as-data is a real corpus
    // shape). Same mask discipline as every other rewrite pass; FROM
    // starts with a word char, so the match-start check suffices.
    val mask = literalMask(sql)
    var pos = 0
    var k = 0
    for (m <- re.findAllMatchIn(sql) if m.start >= pos && !mask(m.start)) {
      val open = m.end - 1
      var depth = 0
      var i = open
      while (i < sql.length && (depth != 0 || i == open)) {
        if (sql(i) == '(') depth += 1
        else if (sql(i) == ')') depth -= 1
        i += 1
      }
      val table = m.group(2)
      val fields =
        if (depth != 0 || !spark.catalog.tableExists(table)) None
        else try {
          val defs = splitTopLevel(sql.substring(open + 1, i - 1), ',')
            .map(_.trim).filter(_.nonEmpty)
          val fs = defs.map { d =>
            val dm = "^([\\w.\"]+)\\s+(.+)$".r.findFirstMatchIn(d)
              .getOrElse(throw new IllegalArgumentException(d))
            val name = dm.group(1).replaceAll("\"", "")
              .split('.').last.toLowerCase
            StructField(name, parseType(dm.group(2)))
          }
          if (fs.isEmpty) None else Some(StructType(fs))
        } catch { case _: IllegalArgumentException => None }
      fields.foreach { fs =>
        k += 1
        val dynName = s"${table}__dyn$k"
        catalog.withDynamicColumns(spark.table(table), fs)
          .createOrReplaceTempView(dynName)
        created += dynName
        sb.append(sql.substring(pos, m.start))
          .append(m.group(1)).append(' ').append(dynName)
        pos = i
      }
    }
    sb.append(sql.substring(pos))
    (sb.toString, created.toSeq)
  }

  /** NEXT/CURRENT VALUE FOR in SELECT position (reference
    * cc/iterate/SequenceResultIterator.java:30 — the client fills
    * sequence values into rows as they stream; all NEXT references to one
    * sequence in a statement share the row's value). Here: one sequential
    * block per referenced sequence, assigned by row_number, consumed
    * eagerly (the statement materializes, as the reference's iterator
    * does). The single-partition window is driver-bound like the
    * reference's own client-side fill; batch loads at scale use
    * [[graft.operators.Curation.packSequences]]-style two-phase sums.
    * A batch that would step past MIN/MAXVALUE throws — per-row cycling
    * inside one bulk statement is not supported. */
  private def sequenceSelect(s: String): Option[DataFrame] = {
    val nextRe = "(?i)NEXT\\s+VALUE\\s+FOR\\s+([\\w.\"]+)".r
    val curRe = "(?i)CURRENT\\s+VALUE\\s+FOR\\s+([\\w.\"]+)".r
    // mask discipline like every rewrite pass: the SPELLING inside a
    // string literal ('NEXT VALUE FOR x' as data) must neither trigger
    // the sequence path, nor corrupt the literal through replaceAllIn,
    // nor step/throw on a sequence the text merely mentions
    val mask = literalMask(s)
    def live(re: scala.util.matching.Regex, in: String,
        m: Array[Boolean]): Seq[scala.util.matching.Regex.Match] =
      re.findAllMatchIn(in).filterNot(x => m(x.start)).toSeq
    if (live(nextRe, s, mask).isEmpty && live(curRe, s, mask).isEmpty)
      return None
    val nextSeqs0 = live(nextRe, s, mask)
      .map(m => resolveTable(m.group(1))).distinct
    def perRow(seq: String): String = {
      val st = seqOf(seq)
      val first = peekNext(st)
      // value = first + incr * (row_number - 1); constant ORDER BY = the
      // reference's iteration-order assignment (order not guaranteed)
      s"(${first}L + ${st.incr}L * (ROW_NUMBER() OVER (ORDER BY 1) - 1))"
    }
    // CURRENT VALUE in a statement that ALSO steps NEXT for the same
    // sequence reads the ROW's next value (reference SequenceManager
    // coalesces per row; the UPSERT path already worked this way) —
    // only CURRENT-only sequences read the stored last value
    val withCur = replaceOutsideLiterals(s, curRe) { m =>
      val seq = resolveTable(m.group(1))
      if (nextSeqs0.contains(seq)) perRow(seq)
      else currentValueFor(seq).toString + "L"
    }
    val nextSeqs = live(nextRe, withCur, literalMask(withCur))
      .map(m => resolveTable(m.group(1))).distinct
    if (nextSeqs.isEmpty) return Some(spark.sql(withCur))
    val rewritten = replaceOutsideLiterals(withCur, nextRe)(
      m => perRow(resolveTable(m.group(1))))
    val out = spark.sql(rewritten)
    // EXPLAIN must never execute: skip the eager consume and the state
    // step — the plan is built from peeked values only
    if (explainMode) return Some(out)
    val n = out.count() // consume eagerly, like the reference's iterator
    nextSeqs.foreach { seq =>
      val st = seqOf(seq)
      if (n > 0) {
        val first = peekNext(st)
        val lastV = first + st.incr * (n - 1)
        if ((st.incr > 0 && (lastV > st.max || lastV < first)) ||
            (st.incr < 0 && (lastV < st.min || lastV > first)))
          throw new IllegalStateException(
            s"sequence $seq: batch of $n values steps past its limit " +
              s"[${st.min}, ${st.max}] (bulk cycling unsupported)")
        st.last = Some(lastV)
      }
    }
    Some(out)
  }

  /** Identifiers: strip quotes, lowercase, flatten schema qualification
    * (Phoenix SCHEMA.TABLE → one flat name; Spark temp views can't be
    * schema-qualified). Original dotted spellings are remembered so
    * SELECT text can be rewritten. */
  private val dottedNames = scala.collection.mutable.Map[String, String]()

  private def cleanIdent(s: String): String = {
    val base = s.trim.replaceAll("\"", "").toLowerCase
    if (base.contains(".")) {
      val flat = base.replace(".", "_")
      dottedNames(base) = flat
      flat
    } else base
  }

  /** Execute a multi-statement script (block comments stripped,
    * ';'-separated). Returns the result of the last statement. */
  def executeScript(script: String): Seq[DataFrame] = {
    // strip block comments OUTSIDE string literals only — a literal
    // containing '/*' must survive to the statement
    val sb = new StringBuilder
    var i = 0; var inStr = false
    while (i < script.length) {
      val c = script.charAt(i)
      if (!inStr && c == '/' && i + 1 < script.length &&
          script.charAt(i + 1) == '*') {
        val end = script.indexOf("*/", i + 2)
        i = if (end < 0) script.length else end + 2
      } else {
        if (c == '\'') inStr = !inStr
        sb.append(c); i += 1
      }
    }
    // quote-aware split: a ';' inside a string literal is not a separator
    splitTopLevel(sb.toString, ';').map(execute)
  }
}
