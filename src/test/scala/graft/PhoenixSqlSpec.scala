package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftCatalog, PhoenixSql}
import graft.operators.MaterializeJoin.{ChainSpec, SideSpec}

/** Replays the reference's fixture DDL/DML shapes (FIXTURES.md) through
  * the Phoenix-dialect front-end: WEB_STAT end-to-end (examples/
  * WEB_STAT.sql + WEB_STAT_QUERIES.sql), ATABLE's type surface
  * (BaseTest.java:230-239), sequences, views, deletes. */
class PhoenixSqlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def fresh(): PhoenixSql = {
    val wh = java.nio.file.Files.createTempDirectory("graft_sql_wh").toString
    new PhoenixSql(spark, new GraftCatalog(spark, wh))
  }

  test("WEB_STAT end-to-end: DDL with column families, upserts, agg query") {
    val px = fresh()
    px.execute("""
      CREATE TABLE IF NOT EXISTS WEB_STAT (
        HOST CHAR(2) NOT NULL, DOMAIN VARCHAR NOT NULL,
        FEATURE VARCHAR NOT NULL, DATE DATE NOT NULL,
        USAGE.CORE BIGINT, USAGE.DB BIGINT, STATS.ACTIVE_VISITOR INTEGER
        CONSTRAINT PK PRIMARY KEY (HOST, DOMAIN, FEATURE, DATE))
        SALT_BUCKETS=4""")
    px.execute("UPSERT INTO WEB_STAT VALUES ('NA','apache.org','Login'," +
      "TIMESTAMP'2013-01-01 01:01:01', 35, 42, 10)")
    px.execute("UPSERT INTO WEB_STAT VALUES ('NA','apache.org','Login'," +
      "TIMESTAMP'2013-01-02 01:01:01', 10, 8, 5)")
    px.execute("UPSERT INTO WEB_STAT VALUES ('EU','salesforce.com','Search'," +
      "TIMESTAMP'2013-01-01 01:01:01', 7, 1, 1)")
    // PK overwrite (same HOST,DOMAIN,FEATURE,DATE)
    px.execute("UPSERT INTO WEB_STAT VALUES ('NA','apache.org','Login'," +
      "TIMESTAMP'2013-01-01 01:01:01', 100, 50, 20)")
    // the reference example query (WEB_STAT_QUERIES.sql:1-4)
    val r = px.execute("""
      SELECT DOMAIN, AVG(CORE) AS avg_core, AVG(DB) AS avg_db
      FROM WEB_STAT GROUP BY DOMAIN ORDER BY DOMAIN DESC""").collect()
    assert(r.length == 2)
    assert(r(0).getString(0) == "salesforce.com")
    assert(r(1).getString(0) == "apache.org")
    assert(r(1).getDouble(1) == 55.0) // (100 + 10) / 2 after overwrite
  }

  test("ATABLE type surface parses (unsigned, decimal, char, dates)") {
    val px = fresh()
    px.execute("""
      CREATE TABLE ATABLE (
        organization_id CHAR(15) NOT NULL, entity_id CHAR(15) NOT NULL,
        a_string VARCHAR(100), b_string VARCHAR(100),
        a_integer INTEGER, a_date DATE, a_time TIME, a_timestamp TIMESTAMP,
        x_decimal DECIMAL(31,10), x_long BIGINT, x_integer INTEGER,
        a_byte TINYINT, a_short SMALLINT, a_float FLOAT, a_double DOUBLE,
        a_unsigned_float UNSIGNED_FLOAT, a_unsigned_double UNSIGNED_DOUBLE
        CONSTRAINT pk PRIMARY KEY (organization_id, entity_id))""")
    val sc = px.catalog.spec("atable").schema
    assert(sc("x_decimal").dataType == DecimalType(31, 10))
    assert(sc("a_date").dataType == TimestampType) // Phoenix DATE carries ms
    assert(sc("a_unsigned_float").dataType == FloatType)
    assert(sc("a_byte").dataType == ByteType)
    assert(px.catalog.spec("atable").pk ==
      Seq("organization_id", "entity_id"))
  }

  test("array types and inline primary key") {
    val px = fresh()
    px.execute("""CREATE TABLE arr_t (
      id BIGINT NOT NULL PRIMARY KEY,
      tags VARCHAR ARRAY, scores DOUBLE ARRAY[])""")
    val sc = px.catalog.spec("arr_t").schema
    assert(sc("tags").dataType == ArrayType(StringType))
    assert(sc("scores").dataType == ArrayType(DoubleType))
    assert(px.catalog.spec("arr_t").pk == Seq("id"))
  }

  test("sequences: NEXT VALUE FOR in upserts") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR)")
    px.execute("CREATE SEQUENCE my_seq START WITH 100")
    px.execute("UPSERT INTO t VALUES (NEXT VALUE FOR my_seq, 'a')")
    px.execute("UPSERT INTO t VALUES (NEXT VALUE FOR my_seq, 'b')")
    val ids = px.execute("SELECT id FROM t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq
    assert(ids == Seq(100L, 101L))
  }

  test("DELETE FROM with predicate + view query") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY," +
      " region VARCHAR, v BIGINT)")
    px.execute("UPSERT INTO t VALUES (1, 'NA', 10)")
    px.execute("UPSERT INTO t VALUES (2, 'EU', 20)")
    px.execute("UPSERT INTO t VALUES (3, 'NA', 30)")
    px.execute("CREATE VIEW t_na AS SELECT * FROM t WHERE region = 'NA'")
    assert(px.execute("SELECT count(*) AS n FROM t_na").collect()(0)
      .getLong(0) == 2)
    px.execute("DELETE FROM t WHERE v >= 30")
    assert(px.execute("SELECT count(*) AS n FROM t").collect()(0)
      .getLong(0) == 2)
    assert(px.execute("SELECT count(*) AS n FROM t_na").collect()(0)
      .getLong(0) == 1)
  }

  test("partial-column upsert fills unnamed columns with NULL") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY," +
      " a VARCHAR, b BIGINT)")
    px.execute("UPSERT INTO t (id, a) VALUES (1, 'x')")
    val r = px.execute("SELECT id, a, b FROM t").collect()(0)
    assert(r.getLong(0) == 1L && r.getString(1) == "x" && r.isNullAt(2))
  }

  // reference: it/end2end/AlterTableIT.java (add/drop column shapes)
  test("ALTER TABLE ADD COLUMN: old rows read NULL, new rows carry values") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, a VARCHAR)")
    px.execute("UPSERT INTO t VALUES (1, 'x')")
    px.execute("ALTER TABLE t ADD b BIGINT, c VARCHAR")
    px.execute("UPSERT INTO t VALUES (2, 'y', 20, 'cc')")
    val rows = px.execute("SELECT id, a, b, c FROM t ORDER BY id").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(2) && rows(0).isNullAt(3))
    assert(rows(1).getLong(2) == 20L && rows(1).getString(3) == "cc")
    // duplicate add errors without IF NOT EXISTS, passes with it
    intercept[IllegalArgumentException] { px.execute("ALTER TABLE t ADD b BIGINT") }
    px.execute("ALTER TABLE t ADD IF NOT EXISTS b BIGINT")
  }

  test("ALTER TABLE DROP COLUMN: column disappears; re-add starts empty") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY," +
      " a VARCHAR, b BIGINT)")
    px.execute("UPSERT INTO t VALUES (1, 'x', 10)")
    px.execute("ALTER TABLE t DROP COLUMN b")
    assert(!px.execute("SELECT * FROM t").columns.contains("b"))
    // PK column cannot be dropped
    intercept[IllegalArgumentException] {
      px.execute("ALTER TABLE t DROP COLUMN id")
    }
    // re-added column binds a fresh qualifier: old value must NOT resurface
    px.execute("ALTER TABLE t ADD b BIGINT")
    val r = px.execute("SELECT id, b FROM t").collect()(0)
    assert(r.isNullAt(1), s"dropped data resurfaced: $r")
    px.execute("UPSERT INTO t VALUES (1, 'x', 99)")
    assert(px.execute("SELECT b FROM t").collect()(0).getLong(0) == 99L)
  }

  test("string literals may contain separators (comma, paren, semicolon)") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, a VARCHAR)")
    px.execute("UPSERT INTO t VALUES (1, 'a, b (c)')")
    assert(px.execute("SELECT a FROM t").collect()(0)
      .getString(0) == "a, b (c)")
    px.executeScript(
      "UPSERT INTO t VALUES (2, 'x; y');" +
      "UPSERT INTO t VALUES (3, 'z')")
    assert(px.execute("SELECT count(*) AS n FROM t").collect()(0)
      .getLong(0) == 3)
  }

  // reference: PhoenixSQL.g cursor nodes, it/end2end CursorIT shapes
  test("DECLARE/OPEN/FETCH/CLOSE cursor pages through a query") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v BIGINT)")
    (1 to 7).foreach(i => px.execute(s"UPSERT INTO t VALUES ($i, ${i * 10})"))
    px.execute("DECLARE c CURSOR FOR SELECT id, v FROM t ORDER BY id")
    px.execute("OPEN c")
    val b1 = px.execute("FETCH NEXT 3 ROWS FROM c").collect()
    assert(b1.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val b2 = px.execute("FETCH NEXT FROM c").collect() // default 1 row
    assert(b2.map(_.getLong(0)).toSeq == Seq(4L))
    val b3 = px.execute("FETCH NEXT 10 ROWS FROM c").collect()
    assert(b3.map(_.getLong(0)).toSeq == Seq(5L, 6L, 7L)) // drained
    assert(px.execute("FETCH NEXT 5 ROWS FROM c").collect().isEmpty)
    px.execute("CLOSE c")
    intercept[IllegalArgumentException] { px.execute("FETCH NEXT FROM c") }
  }

  test("UPSERT INTO ... SELECT copies between tables") {
    val px = fresh()
    px.execute("CREATE TABLE src (id BIGINT NOT NULL PRIMARY KEY," +
      " a VARCHAR, v BIGINT)")
    px.execute("CREATE TABLE dst (id BIGINT NOT NULL PRIMARY KEY," +
      " a VARCHAR, v BIGINT)")
    px.execute("UPSERT INTO src VALUES (1, 'x', 10)")
    px.execute("UPSERT INTO src VALUES (2, 'y', 20)")
    px.execute("UPSERT INTO dst SELECT id, a, v FROM src WHERE v >= 20")
    val r = px.execute("SELECT id, a, v FROM dst ORDER BY id").collect()
    assert(r.length == 1 && r(0).getLong(0) == 2L)
    // column-list form with doubled values
    px.execute("UPSERT INTO dst (id, a, v) SELECT id + 100, a, v * 2 FROM src")
    assert(px.execute("SELECT count(*) AS n FROM dst").collect()(0)
      .getLong(0) == 3)
    assert(px.execute("SELECT v FROM dst WHERE id = 102").collect()(0)
      .getLong(0) == 40L)
    // UPSERT SELECT through a view carries the view's equality defaults
    // (same write-through as the VALUES path) → rows stay visible
    px.execute("CREATE TABLE t3 (id BIGINT NOT NULL PRIMARY KEY," +
      " kind VARCHAR, v BIGINT)")
    px.execute("CREATE VIEW t3_x AS SELECT * FROM t3 WHERE kind = 'x'")
    px.execute("UPSERT INTO t3_x (id, v) SELECT id, v FROM src")
    assert(px.execute("SELECT count(*) AS n FROM t3_x").collect()(0)
      .getLong(0) == 2, "rows written through the view must satisfy it")
  }

  test("UPSERT arity mismatch errors instead of silently truncating") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, a VARCHAR)")
    intercept[IllegalArgumentException] {
      px.execute("UPSERT INTO t (id) VALUES (1, 'extra')")
    }
    // a column the table does not have errors instead of being dropped
    val e = intercept[IllegalArgumentException] {
      px.execute("UPSERT INTO t (id, nope) VALUES (1, 'x')")
    }
    assert(e.getMessage.contains("nope"))
  }

  // cause-chain messages (write-path errors surface wrapped by Spark)
  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))

  test("CHAR(n)/VARCHAR(n) round-trip unpadded, error beyond capacity") {
    val px = fresh()
    px.execute("CREATE TABLE c (id BIGINT NOT NULL PRIMARY KEY," +
      " k CHAR(5), v VARCHAR(4))")
    px.execute("UPSERT INTO c VALUES (1, 'ab', 'cd')")
    // the reference's CHAR byte padding is storage-only — PChar.toObject
    // strips it, so getString returns 'ab' and `k = 'ab'` matches
    val r = px.execute("SELECT k, v FROM c WHERE k = 'ab'").collect()(0)
    assert(r.getString(0) == "ab" && r.getString(1) == "cd")
    val e1 = intercept[Exception] {
      px.execute("UPSERT INTO c VALUES (2, 'toolong', 'x')")
    }
    assert(msgs(e1).exists(m => m != null && m.contains("capacity")))
    val e2 = intercept[Exception] {
      px.execute("UPSERT INTO c VALUES (3, 'ok', 'toolong')")
    }
    assert(msgs(e2).exists(m => m != null && m.contains("capacity")))
  }

  test("width/unsigned checks skip ARRAY columns and cover ALTER/VIEW adds") {
    val px = fresh()
    px.execute("CREATE TABLE arr (id BIGINT NOT NULL PRIMARY KEY," +
      " vs VARCHAR(3) ARRAY)")
    // an array column must not get a scalar length comparison
    px.execute("UPSERT INTO arr VALUES (1, ARRAY['aa','bb'])")
    assert(px.execute("SELECT vs FROM arr").count() == 1)
    // ALTER TABLE ADD goes through the same column parser → enforced
    px.execute("CREATE TABLE t4 (id BIGINT NOT NULL PRIMARY KEY)")
    px.execute("ALTER TABLE t4 ADD n UNSIGNED_INT")
    px.execute("UPSERT INTO t4 VALUES (1, 7)")
    val e = intercept[Exception] {
      px.execute("UPSERT INTO t4 VALUES (2, -1)")
    }
    assert(msgs(e).exists(m => m != null && m.contains("unsigned")))
  }

  test("UNSIGNED columns reject negative writes like the reference") {
    val px = fresh()
    px.execute("CREATE TABLE u (id BIGINT NOT NULL PRIMARY KEY," +
      " n UNSIGNED_INT, d UNSIGNED_DOUBLE)")
    px.execute("UPSERT INTO u VALUES (1, 5, 1.5)")
    assert(px.execute("SELECT n FROM u").collect()(0).getInt(0) == 5)
    val e = intercept[Exception] {
      px.execute("UPSERT INTO u VALUES (2, -3, 1.0)")
    }
    assert(msgs(e).exists(m => m != null && m.contains("unsigned")),
      s"expected the unsigned check to fire, got: $e")
  }

  test("UPDATE STATISTICS is a no-op; CREATE INDEX errors with guidance") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, a VARCHAR)")
    assert(px.execute("UPDATE STATISTICS t").isEmpty)
    val e = intercept[IllegalArgumentException] {
      px.execute("CREATE INDEX i ON t (a)")
    }
    assert(e.getMessage.contains("CREATE MATERIALIZED VIEW"))
  }

  test("EXPLAIN returns the physical plan as PLAN rows") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, a VARCHAR)")
    px.execute("UPSERT INTO t VALUES (1, 'x')")
    val plan = px.execute("EXPLAIN SELECT * FROM t WHERE id = 1")
    assert(plan.schema.fieldNames.sameElements(Array("PLAN")))
    val text = plan.collect().map(_.getString(0)).mkString("\n")
    assert(text.contains("Physical Plan"))
    assert(text.toLowerCase.contains("filter") ||
      text.contains("PushedFilters"), s"expected a filter in:\n$text")
  }

  test("EXPLAIN of DML plans the read side and does NOT mutate") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, a VARCHAR)")
    px.execute("UPSERT INTO t VALUES (1, 'x')")
    px.execute("UPSERT INTO t VALUES (2, 'y')")
    val del = px.execute("EXPLAIN DELETE FROM t WHERE id = 1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(del.contains("DELETE") && del.contains("Physical Plan"))
    assert(px.execute("SELECT count(*) AS n FROM t").collect()(0)
      .getLong(0) == 2, "EXPLAIN DELETE must not delete")
    px.execute("CREATE TABLE t2 (id BIGINT NOT NULL PRIMARY KEY, a VARCHAR)")
    px.execute("EXPLAIN UPSERT INTO t2 SELECT id, a FROM t")
    assert(px.execute("SELECT count(*) AS n FROM t2").collect()(0)
      .getLong(0) == 0, "EXPLAIN UPSERT must not write")
  }

  test("CREATE FUNCTION registers a scalar UDF; DROP FUNCTION removes it") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, a VARCHAR)")
    px.execute("UPSERT INTO t VALUES (1, 'abc')")
    px.execute("UPSERT INTO t VALUES (2, 'xy')")
    px.execute("CREATE FUNCTION myrev(VARCHAR) RETURNS VARCHAR " +
      "AS 'graft.TestReverseUdf'")
    val got = px.execute(
        "SELECT id, myrev(a) AS r FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.sameElements(Array((1L, "cba"), (2L, "yx"))))
    // two-arg form with a non-string return type
    px.execute("CREATE FUNCTION padlen(VARCHAR, INTEGER) RETURNS BIGINT " +
      "AS 'graft.TestPadLenUdf'")
    val n = px.execute("SELECT padlen(a, 5) AS n FROM t WHERE id = 1")
      .collect()(0).getLong(0)
    assert(n == 8L) // 'abc'.length + 5
    px.execute("DROP FUNCTION myrev")
    intercept[Exception] { px.execute("SELECT myrev(a) FROM t").collect() }
    // IF EXISTS swallows the missing case; bare DROP errors
    px.execute("DROP FUNCTION IF EXISTS myrev")
    intercept[IllegalArgumentException] { px.execute("DROP FUNCTION myrev") }
  }

  test("EXPLAIN of DDL is a parse error, never executed") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, a VARCHAR)")
    px.execute("UPSERT INTO t VALUES (1, 'x')")
    // the reference grammar only accepts EXPLAIN select/upsert/delete;
    // EXPLAIN DROP TABLE must not reach the DROP branch
    intercept[IllegalArgumentException] {
      px.execute("EXPLAIN DROP TABLE t")
    }
    assert(px.execute("SELECT count(*) AS n FROM t").collect()(0)
      .getLong(0) == 1, "EXPLAIN DROP must not drop the table")
    intercept[IllegalArgumentException] {
      px.execute("EXPLAIN CREATE TABLE t3 (id BIGINT NOT NULL PRIMARY KEY)")
    }
  }

  test("Phoenix built-in functions resolve through the front-end") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, d DATE)")
    px.execute(
      "UPSERT INTO t VALUES (1, TIMESTAMP'2013-05-17 13:45:31')")
    val r = px.execute("""
      SELECT TO_CHAR(d, 'yyyy-MM-dd') AS dc,
             CAST(ROUND(d, 'HOUR') AS STRING) AS rh,
             ENCODE(id + 123456788, 'BASE62') AS b62,
             JSON_VALUE('{"a":7}', '$.a') AS jv
      FROM t""").collect()(0)
    assert(r.getString(0) == "2013-05-17")
    assert(r.getString(1) == "2013-05-17 14:00:00")
    assert(r.getString(2) == "8M0kX")
    assert(r.getString(3) == "7")
  }

  test("CREATE CDC chain: images per scope, default CHANGE, drop, errors") {
    // reference it/end2end/CDCQueryIT shapes: create table, CDC with
    // INCLUDE (PRE, POST), mutate, query the CDC object like a table
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR)")
    px.execute("CREATE CDC cdc_full ON t INCLUDE (PRE, POST, CHANGE)")
    px.execute("CREATE CDC cdc_dflt ON t") // INCLUDE omitted → change image
    px.execute("UPSERT INTO t VALUES (1, 'a')")
    px.execute("UPSERT INTO t VALUES (1, 'b')")
    px.execute("DELETE FROM t WHERE id = 1")
    val rows = px.execute(
      "SELECT * FROM cdc_full ORDER BY cdc_version").collect()
    assert(rows.length == 3)
    val cols = px.execute("SELECT * FROM cdc_full").columns.toSet
    assert(Set("cdc_pre_image", "cdc_post_image", "cdc_change_image",
      "phoenix_row_timestamp").subsetOf(cols))
    assert(rows(0).getAs[String]("cdc_op") == "upsert")
    assert(rows(0).getAs[String]("cdc_pre_image") == null)
    assert(rows(0).getAs[String]("cdc_post_image").contains("\"v\":\"a\""))
    assert(rows(1).getAs[String]("cdc_pre_image").contains("\"v\":\"a\""))
    assert(rows(1).getAs[String]("cdc_post_image").contains("\"v\":\"b\""))
    assert(rows(2).getAs[String]("cdc_op") == "delete")
    assert(rows(2).getAs[String]("cdc_post_image") == null)
    rows.foreach(r =>
      assert(r.getAs[java.sql.Timestamp]("phoenix_row_timestamp") != null))
    // default scope carries ONLY the change image
    val dfltCols = px.execute("SELECT * FROM cdc_dflt").columns.toSet
    assert(dfltCols.contains("cdc_change_image") &&
      !dfltCols.contains("cdc_pre_image") &&
      !dfltCols.contains("cdc_post_image"))
    // errors: duplicate without IF NOT EXISTS, unsupported scope,
    // unknown base table
    intercept[IllegalArgumentException] {
      px.execute("CREATE CDC cdc_full ON t")
    }
    px.execute("CREATE CDC IF NOT EXISTS cdc_full ON t") // no-op
    intercept[IllegalArgumentException] {
      px.execute("CREATE CDC c2 ON t INCLUDE (IDX_MUTATIONS)")
    }
    intercept[IllegalArgumentException] {
      px.execute("CREATE CDC c3 ON missing_table")
    }
    // DROP CDC removes the object; IF EXISTS tolerates absence
    px.execute("DROP CDC cdc_dflt ON t")
    intercept[Exception] { px.execute("SELECT * FROM cdc_dflt").collect() }
    intercept[IllegalArgumentException] { px.execute("DROP CDC cdc_dflt ON t") }
    px.execute("DROP CDC IF EXISTS cdc_dflt ON t")
    // dropping the base table drops its CDC objects
    px.execute("DROP TABLE t")
    intercept[Exception] { px.execute("SELECT * FROM cdc_full").collect() }
  }

  test("PHOENIX_ROW_TIMESTAMP() projects the write's batch stamp") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR)")
    val before = new java.sql.Timestamp(System.currentTimeMillis() - 60000)
    px.execute("UPSERT INTO t VALUES (1, 'a')")
    px.execute("UPSERT INTO t VALUES (2, 'b')")
    val rows = px.execute(
      "SELECT id, PHOENIX_ROW_TIMESTAMP() AS ts FROM t ORDER BY id")
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val ts = r.getAs[java.sql.Timestamp]("ts")
      assert(ts != null && ts.after(before),
        s"row timestamp $ts should be a recent wall-clock stamp")
    }
    // the timestamp rides only statements that ask for it — a plain
    // SELECT * afterwards shows the declared columns alone
    assert(px.execute("SELECT * FROM t").columns.toSeq == Seq("id", "v"))
    // a PK overwrite surfaces the WINNING write's stamp (latest batch)
    val t1 = px.execute(
      "SELECT PHOENIX_ROW_TIMESTAMP() AS ts FROM t WHERE id = 1")
      .collect()(0).getAs[java.sql.Timestamp]("ts")
    Thread.sleep(5)
    px.execute("UPSERT INTO t VALUES (1, 'a2')")
    val t2 = px.execute(
      "SELECT PHOENIX_ROW_TIMESTAMP() AS ts FROM t WHERE id = 1")
      .collect()(0).getAs[java.sql.Timestamp]("ts")
    assert(t2.after(t1), s"overwrite stamp $t2 must be later than $t1")
    // usable in predicates, as in the reference
    assert(px.execute("SELECT count(*) AS n FROM t WHERE " +
        "PHOENIX_ROW_TIMESTAMP() > TIMESTAMP'2000-01-01 00:00:00'")
      .collect()(0).getLong(0) == 2)
  }

  test("sequences: increment, min/max defaults, SELECT position, current") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY)")
    (1L to 3L).foreach(i => px.execute(s"UPSERT INTO t VALUES ($i)"))
    px.execute("CREATE SEQUENCE s START WITH 5 INCREMENT BY 10")
    // SELECT position (reference SequenceResultIterator): one value per
    // row, stepping by the increment
    val vals = px.execute("SELECT NEXT VALUE FOR s AS v FROM t")
      .collect().map(_.getLong(0)).toSet
    assert(vals == Set(5L, 15L, 25L), s"got $vals")
    assert(px.execute("SELECT CURRENT VALUE FOR s AS v FROM t LIMIT 1")
      .collect()(0).getLong(0) == 25L)
    // UPSERT VALUES path continues the same stream
    px.execute("CREATE TABLE u (k BIGINT NOT NULL PRIMARY KEY)")
    px.execute("UPSERT INTO u VALUES (NEXT VALUE FOR s)")
    assert(px.execute("SELECT k FROM u").collect()(0).getLong(0) == 35L)
    // the reference's canonical FROM-less form (one row, one step)
    assert(px.execute("SELECT NEXT VALUE FOR s AS v").collect()(0)
      .getLong(0) == 45L)
    // CURRENT VALUE FOR before any NEXT is an error (reference
    // CANNOT_CALL_CURRENT_BEFORE_NEXT_VALUE)
    px.execute("CREATE SEQUENCE virgin")
    intercept[IllegalStateException] {
      px.execute("SELECT CURRENT VALUE FOR virgin AS v FROM t")
    }
  }

  test("sequences: limits, cycle, drop, strict option parsing") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY)")
    px.execute("UPSERT INTO t VALUES (1)")
    // MAXVALUE without CYCLE: the step past the limit throws
    px.execute("CREATE SEQUENCE lim START WITH 1 INCREMENT BY 2 MAXVALUE 3")
    assert(px.execute("SELECT NEXT VALUE FOR lim AS v FROM t")
      .collect()(0).getLong(0) == 1L)
    assert(px.execute("SELECT NEXT VALUE FOR lim AS v FROM t")
      .collect()(0).getLong(0) == 3L)
    intercept[IllegalStateException] {
      px.execute("SELECT NEXT VALUE FOR lim AS v FROM t").collect()
    }
    // CYCLE restarts at MINVALUE (reference SequenceRegionObserver)
    px.execute(
      "CREATE SEQUENCE cyc START WITH 2 INCREMENT BY 2 MINVALUE 1 " +
        "MAXVALUE 3 CYCLE")
    assert(px.execute("SELECT NEXT VALUE FOR cyc AS v FROM t")
      .collect()(0).getLong(0) == 2L)
    // 2+2=4 > 3 → wraps to MINVALUE 1, not to the overflow remainder
    assert(px.execute("SELECT NEXT VALUE FOR cyc AS v FROM t")
      .collect()(0).getLong(0) == 1L)
    // descending default start = MAXVALUE
    px.execute("CREATE SEQUENCE desc_seq INCREMENT BY -1 MAXVALUE 10")
    assert(px.execute("SELECT NEXT VALUE FOR desc_seq AS v FROM t")
      .collect()(0).getLong(0) == 10L)
    // DROP SEQUENCE: gone afterwards; IF EXISTS tolerates absence
    px.execute("DROP SEQUENCE lim")
    intercept[IllegalArgumentException] {
      px.execute("SELECT NEXT VALUE FOR lim AS v FROM t")
    }
    intercept[IllegalArgumentException] { px.execute("DROP SEQUENCE lim") }
    px.execute("DROP SEQUENCE IF EXISTS lim")
    // unparseable options must THROW, not silently build a different
    // sequence (the round-4 gap: INCREMENT BY swallowed by a regex .*)
    intercept[IllegalArgumentException] {
      px.execute("CREATE SEQUENCE bad START WITH 1 FANCY OPTION 9")
    }
    intercept[IllegalArgumentException] {
      px.execute("CREATE SEQUENCE bad INCREMENT BY 0")
    }
    intercept[IllegalArgumentException] {
      px.execute("CREATE SEQUENCE bad START WITH 99 MAXVALUE 10")
    }
    // CACHE is allocation batching — value-neutral, accepted
    px.execute("CREATE SEQUENCE cached START WITH 7 CACHE 100")
    assert(px.execute("SELECT NEXT VALUE FOR cached AS v FROM t")
      .collect()(0).getLong(0) == 7L)
  }

  test("CREATE/USE/DROP SCHEMA resolve names like the reference") {
    // reference it/end2end/CreateSchemaIT + use_schema_node g:1138
    val px = fresh()
    px.execute("CREATE SCHEMA IF NOT EXISTS foo")
    intercept[IllegalArgumentException] { px.execute("CREATE SCHEMA foo") }
    px.execute("USE foo")
    px.execute("CREATE TABLE bar (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR)")
    px.execute("UPSERT INTO bar VALUES (1, 'x')")
    // reachable bare (current schema) and fully qualified
    assert(px.execute("SELECT v FROM bar").collect()(0).getString(0) == "x")
    assert(px.execute("SELECT v FROM foo.bar").collect()(0)
      .getString(0) == "x")
    px.execute("USE DEFAULT")
    // outside the schema the bare name no longer resolves
    intercept[Exception] { px.execute("SELECT v FROM bar").collect() }
    assert(px.execute("SELECT v FROM foo.bar").collect()(0)
      .getString(0) == "x")
    // DROP SCHEMA refuses while non-empty, CASCADE drops the tables
    intercept[IllegalArgumentException] { px.execute("DROP SCHEMA foo") }
    px.execute("DROP SCHEMA foo CASCADE")
    intercept[Exception] { px.execute("SELECT v FROM foo.bar").collect() }
    px.execute("DROP SCHEMA IF EXISTS foo")
    intercept[IllegalArgumentException] { px.execute("DROP SCHEMA foo") }
    intercept[IllegalArgumentException] { px.execute("USE foo") }
  }

  test("TRUNCATE TABLE empties rows, keeps the table writable") {
    val px = fresh()
    px.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR)")
    px.execute("UPSERT INTO t VALUES (1, 'a')")
    px.execute("UPSERT INTO t VALUES (2, 'b')")
    px.execute("TRUNCATE TABLE t")
    assert(px.execute("SELECT count(*) AS n FROM t").collect()(0)
      .getLong(0) == 0)
    // PRESERVE/DROP SPLITS are HBase physical details — both accepted
    px.execute("UPSERT INTO t VALUES (3, 'c')")
    px.execute("TRUNCATE TABLE t PRESERVE SPLITS")
    px.execute("UPSERT INTO t VALUES (4, 'd')")
    assert(px.execute("SELECT v FROM t").collect()(0).getString(0) == "d")
    intercept[IllegalArgumentException] {
      px.execute("TRUNCATE TABLE missing")
    }
  }

  test("SHOW TABLES/SCHEMAS/CREATE TABLE introspection") {
    val px = fresh()
    px.execute("CREATE SCHEMA s1")
    px.execute("CREATE TABLE plain (id BIGINT NOT NULL PRIMARY KEY)")
    px.execute("USE s1")
    px.execute("""CREATE TABLE wide (
      a CHAR(3) NOT NULL, b VARCHAR(20), c UNSIGNED_INT, d DECIMAL(10,2),
      e DOUBLE ARRAY CONSTRAINT pk PRIMARY KEY (a))""")
    px.execute("USE DEFAULT")
    val all = px.execute("SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(all == Set((null, "plain"), ("s1", "wide")))
    val inS1 = px.execute("SHOW TABLES IN s1").collect()
      .map(_.getString(1)).toSeq
    assert(inS1 == Seq("wide"))
    assert(px.execute("SHOW TABLES LIKE 'pl%'").collect()
      .map(_.getString(1)).toSeq == Seq("plain"))
    assert(px.execute("SHOW SCHEMAS").collect()
      .map(_.getString(0)).toSeq == Seq("s1"))
    assert(px.execute("SHOW SCHEMAS LIKE 'zz%'").collect().isEmpty)
    // SHOW CREATE TABLE round-trips through a fresh front-end
    val ddl = px.execute("SHOW CREATE TABLE s1.wide").collect()(0)
      .getString(0)
    assert(ddl.contains("CHAR(3)") && ddl.contains("VARCHAR(20)") &&
      ddl.contains("UNSIGNED_INT") && ddl.contains("DECIMAL(10,2)") &&
      ddl.contains("DOUBLE ARRAY") && ddl.contains("PRIMARY KEY (a)"),
      s"unexpected DDL: $ddl")
    val px2 = fresh()
    px2.execute(ddl.replace("s1_wide", "wide2"))
    px2.execute("UPSERT INTO wide2 (a, c) VALUES ('abc', 5)")
    assert(px2.execute("SELECT c FROM wide2").collect()(0).getInt(0) == 5)
    // GRANT/REVOKE are declared out of scope loudly
    intercept[IllegalArgumentException] {
      px.execute("GRANT 'RW' ON plain TO 'user'")
    }
  }

  test("STRING_TO_ARRAY / ARRAY_TO_STRING / ARRAY_FILL / WEEK spellings") {
    val px = fresh()
    val r = px.execute("""
      SELECT STRING_TO_ARRAY('a,b,,c,', ',') AS s1,
             STRING_TO_ARRAY('abc', '') AS s2,
             STRING_TO_ARRAY('a,NA,b', ',', 'NA') AS s3,
             ARRAY_TO_STRING(ARRAY('x', CAST(NULL AS STRING), 'y'), ',') AS j1,
             ARRAY_TO_STRING(ARRAY('x', CAST(NULL AS STRING), 'y'), ',', '*') AS j2,
             ARRAY_TO_STRING(ARRAY(1.5, 2.5), '|') AS j3,
             ARRAY_TO_STRING(ARRAY_FILL('z', 3), '') AS fill,
             WEEK(TIMESTAMP'2026-01-01 10:00:00') AS w""").collect()(0)
    // trailing empties dropped, interior kept (Java split limit 0 —
    // PArrayDataType.stringToArray)
    assert(r.getSeq[String](0) == Seq("a", "b", "", "c"))
    // empty delimiter splits into characters
    assert(r.getSeq[String](1) == Seq("a", "b", "c"))
    // nullString elements become NULL
    assert(r.getSeq[String](2) == Seq("a", null, "b"))
    // 2-arg join skips nulls without doubling the delimiter; 3-arg
    // replaces them (PArrayDataType.arrayToString)
    assert(r.getString(3) == "x,y")
    assert(r.getString(4) == "x,*,y")
    assert(r.getString(5) == "1.5|2.5")
    assert(r.getString(6) == "zzz")
    assert(r.getInt(7) == 1) // ISO week (Joda weekOfWeekyear)
  }

  test("dialect overrides: LOG base, DAYOFWEEK Monday=1, binary MD5, TO_*") {
    val px = fresh()
    val r = px.execute("""
      SELECT LOG(100.0) AS lg10, LOG(8.0, 2.0) AS lg2,
             DAYOFWEEK(TIMESTAMP'2026-08-10 09:00:00') AS mon,
             DAYOFWEEK(TIMESTAMP'2026-08-16 09:00:00') AS sun,
             MD5('abc') AS digest,
             TO_DATE('05/17/2013', 'MM/dd/yyyy') AS td,
             CAST(TO_TIMESTAMP('2013-05-17 13:45:31.123',
               'yyyy-MM-dd HH:mm:ss.SSS') AS STRING) AS tts,
             CAST(TO_DATE('2013-05-17') AS STRING) AS iso1""").collect()(0)
    assert(r.getDouble(0) == 2.0)              // LogFunction default base 1e1
    assert(r.getDouble(1) == 3.0)              // base is the SECOND argument
    assert(r.getInt(2) == 1 && r.getInt(3) == 7) // Joda Monday=1..Sunday=7
    val d = r.getAs[Array[Byte]](4)            // MD5Function -> PBinary(16)
    assert(d.length == 16 &&
      d.map("%02x".format(_)).mkString == "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getTimestamp(5).toString.startsWith("2013-05-17 00:00:00"))
    assert(r.getString(6) == "2013-05-17 13:45:31.123")
    assert(r.getString(7).startsWith("2013-05-17 00:00:00"))
    // the timezone third argument is rejected loudly, not misparsed
    val err = intercept[Exception] {
      px.execute("SELECT TO_DATE('x', 'yyyy', 'PST') AS bad").collect()
    }
    assert(err.getMessage != null)
    // overrides do NOT rewrite Spark's names in sessions that never
    // constructed a PhoenixSql front-end: covered by scoping the
    // registration to this constructor (see GraftFunctions doc)
  }

  test("numeric TO_CHAR, ARRAY_CAT, ARRAY_PREPEND argument orders") {
    val px = fresh()
    val r = px.execute("""
      SELECT TO_CHAR(12345.678, '#,##0.00') AS n1,
             TO_CHAR(CAST(0.5 AS DECIMAL(3,2)), '0.000') AS n2,
             TO_CHAR(TIMESTAMP'2013-05-17 13:45:31', 'yyyy-MM-dd') AS t1,
             ARRAY_TO_STRING(ARRAY_CAT(ARRAY('a','b'), ARRAY('c')), ',') AS cat,
             ARRAY_TO_STRING(ARRAY_PREPEND('x', ARRAY('y','z')), ',') AS phx,
             ARRAY_TO_STRING(ARRAY_PREPEND(ARRAY('y','z'), 'x'), ',') AS spk,
             CURRENT_DATE() AS today""").collect()(0)
    assert(r.getString(0) == "12,345.68")  // DecimalFormat half-even
    assert(r.getString(1) == "0.500")      // decimal keeps scale
    assert(r.getString(2) == "2013-05-17") // temporal arm still dispatches
    assert(r.getString(3) == "a,b,c")
    // Phoenix order (element, array) and Spark order (array, element)
    // both resolve to the same prepend
    assert(r.getString(4) == "x,y,z" && r.getString(5) == "x,y,z")
    // Phoenix CURRENT_DATE carries time (PDate = wall clock)
    assert(r.schema("today").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("USE_SORT_MERGE_JOIN hint forces the sort-merge strategy") {
    val px = fresh()
    px.execute("CREATE TABLE SMJ_L (K BIGINT NOT NULL, V VARCHAR " +
      "CONSTRAINT pk PRIMARY KEY (K))")
    px.execute("CREATE TABLE SMJ_R (K BIGINT NOT NULL, W VARCHAR " +
      "CONSTRAINT pk PRIMARY KEY (K))")
    (1 to 5).foreach { i =>
      px.execute(s"UPSERT INTO SMJ_L VALUES ($i, 'l$i')")
      px.execute(s"UPSERT INTO SMJ_R VALUES ($i, 'r$i')")
    }
    def joinPlan(hint: String) = px.execute(
      s"SELECT $hint l.K, l.V, r.W FROM SMJ_L l JOIN SMJ_R r ON l.K = r.K")
      .queryExecution.executedPlan.toString
    // tiny tables broadcast by default...
    assert(joinPlan("").contains("BroadcastHashJoin"))
    // ...and the Phoenix hint flips them to sort-merge, like the
    // reference's JoinCompiler (HintNode.java USE_SORT_MERGE_JOIN)
    val hinted = joinPlan("/*+ USE_SORT_MERGE_JOIN */")
    assert(hinted.contains("SortMergeJoin"),
      s"expected SortMergeJoin under the hint:\n$hinted")
    // unknown Phoenix hints are dropped, the query still answers
    val r = px.execute("SELECT /*+ RANGE_SCAN SMALL SERIAL */ count(*) " +
      "AS c FROM SMJ_L").collect()
    assert(r(0).getLong(0) == 5L)
    // NO_INDEX is an accepted no-op: with no secondary index every
    // statement scans its base table, and no session conf is touched
    def graftConfs =
      spark.conf.getAll.keySet.filter(_.startsWith("spark.graft."))
    val confsBefore = graftConfs
    val q = "l.K, l.V FROM SMJ_L l WHERE l.K > 2"
    assert(px.execute(s"SELECT /*+ NO_INDEX */ $q").collect().toSet ===
      px.execute(s"SELECT $q").collect().toSet)
    assert(graftConfs === confsBefore)
  }

  test("Spark-native hints pass through the Phoenix hint rewrite intact") {
    val px = fresh()
    px.execute("CREATE TABLE HINT_L (K BIGINT NOT NULL, V VARCHAR " +
      "CONSTRAINT pk PRIMARY KEY (K))")
    px.execute("CREATE TABLE HINT_R (K BIGINT NOT NULL, W VARCHAR " +
      "CONSTRAINT pk PRIMARY KEY (K))")
    (1 to 3).foreach { i =>
      px.execute(s"UPSERT INTO HINT_L VALUES ($i, 'l$i')")
      px.execute(s"UPSERT INTO HINT_R VALUES ($i, 'r$i')")
    }
    // a Spark hint with ARGS must survive the rewrite verbatim — it
    // previously reached spark.sql unmodified, so stripping it would be
    // a silent plan regression
    val p = px.execute("SELECT /*+ MERGE(r) */ l.K, r.W " +
        "FROM HINT_L l JOIN HINT_R r ON l.K = r.K")
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"),
      s"MERGE(r) must still force sort-merge:\n$p")
    // mixed: Phoenix-only names dropped, Spark hint still honored
    val p2 = px.execute("SELECT /*+ RANGE_SCAN MERGE(r) SMALL */ l.K, r.W " +
        "FROM HINT_L l JOIN HINT_R r ON l.K = r.K")
      .queryExecution.executedPlan.toString
    assert(p2.contains("SortMergeJoin"), s"mixed hints must keep MERGE:\n$p2")
  }

  test("dynamic columns in SQL replay DynamicColumnIT shapes") {
    val px = fresh()
    // DynamicColumnIT.java:103-105 table shape (column families flatten)
    px.execute("""
      CREATE TABLE HBASE_DYNAMIC_COLUMNS (
        ENTRY VARCHAR NOT NULL, F VARCHAR, F1V1 VARCHAR, F1V2 VARCHAR,
        F2V1 VARCHAR CONSTRAINT pk PRIMARY KEY (ENTRY))""")
    px.execute("UPSERT INTO HBASE_DYNAMIC_COLUMNS VALUES " +
      "('entry1','first','f1value1','f1value2','f2value1')")
    // :116 — SELECT * FROM t (DV varchar): dynamic column rides at the
    // end of the projection as a typed NULL
    val r1 = px.execute(
      "SELECT * FROM HBASE_DYNAMIC_COLUMNS (DV varchar)").collect()
    assert(r1.length == 1)
    assert(r1(0).getString(0) == "entry1" && r1(0).getString(1) == "first")
    assert(r1(0).isNullAt(5), "undeclared dynamic column must be NULL")
    // :141/:167 — family-qualified dynamic defs keep the column name,
    // projectable by bare name
    val r2 = px.execute("SELECT ENTRY, F2V2 FROM HBASE_DYNAMIC_COLUMNS " +
      "(DV varchar, B.F2V2 varchar)").collect()
    assert(r2.length == 1 && r2(0).getString(0) == "entry1" &&
      r2(0).isNullAt(1))
    // :247 — dynamic defs compose with WHERE; a typed dynamic column
    // coerces in predicates
    val r3 = px.execute("SELECT ENTRY, F FROM HBASE_DYNAMIC_COLUMNS " +
      "(DYNCOL1 VARCHAR, DYNCOL2 INTEGER) WHERE DYNCOL2 IS NULL").collect()
    assert(r3.length == 1 && r3(0).getString(1) == "first")
    // an existing column in the dynamic list must not be clobbered
    val r4 = px.execute("SELECT F FROM HBASE_DYNAMIC_COLUMNS " +
      "(F VARCHAR)").collect()
    assert(r4(0).getString(0) == "first")
    // a subquery in FROM position is untouched by the rewrite
    val r5 = px.execute("SELECT cnt FROM (SELECT count(*) AS cnt " +
      "FROM HBASE_DYNAMIC_COLUMNS) sub").collect()
    assert(r5(0).getLong(0) == 1L)
    // the one-statement temp views are dropped after analysis — they
    // must not accumulate in (or shadow names of) the session catalog
    assert(!spark.catalog.tableExists("hbase_dynamic_columns__dyn1"),
      "dynamic-column temp view must not outlive its statement")
  }

  test("ALTER TABLE SET TTL takes effect on the next read") {
    import spark.implicits._
    val px = fresh()
    px.execute("CREATE TABLE AGED (K BIGINT NOT NULL PRIMARY KEY, V VARCHAR)")
    // back-date the write two minutes, then flip TTL on via ALTER
    px.catalog.clock = () => System.currentTimeMillis() - 120000L
    px.execute("UPSERT INTO AGED VALUES (1, 'old')")
    px.catalog.clock = () => System.currentTimeMillis()
    px.execute("UPSERT INTO AGED VALUES (2, 'new')")
    assert(px.execute("SELECT K FROM AGED").collect().length == 2)
    px.execute("ALTER TABLE AGED SET TTL=60")
    assert(px.execute("SELECT K FROM AGED").collect()
      .map(_.getLong(0)).toSeq == Seq(2L),
      "aged row must expire as soon as TTL is set")
    px.execute("ALTER TABLE AGED SET TTL=FOREVER")
    assert(px.execute("SELECT K FROM AGED").collect().length == 2,
      "FOREVER restores the aged row (it was never purged)")
    val bad = intercept[IllegalArgumentException](
      px.execute("ALTER TABLE AGED SET TTL=abc"))
    assert(bad.getMessage.contains("invalid TTL"))
  }

  test("round-9 sixth review pins: UPSERT SELECT binds positionally, " +
      "DROP TABLE refuses with dependent views, EXPLAIN never steps " +
      "sequences, stacked-view defaults, schema bookkeeping") {
    val px = fresh()
    // UPSERT ... SELECT with expression outputs binds by POSITION
    px.execute("CREATE TABLE PT (ID BIGINT NOT NULL PRIMARY KEY, N BIGINT)")
    px.execute("UPSERT INTO PT VALUES (1, 5)")
    px.execute("UPSERT INTO PT SELECT ID + 100, N * 2 FROM PT")
    val rows = px.execute("SELECT ID, N FROM PT ORDER BY ID")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 5L, 101L -> 10L),
      s"expression outputs must bind positionally, not pad NULL: $rows")
    // DROP TABLE with a dependent view refuses loudly
    px.execute("CREATE VIEW PV AS SELECT * FROM PT WHERE N > 0")
    val e = intercept[IllegalArgumentException](px.execute("DROP TABLE PT"))
    assert(e.getMessage.contains("dependent views"))
    // EXPLAIN of a sequence query must not advance sequence state
    px.execute("CREATE SEQUENCE ESEQ START WITH 10 INCREMENT BY 1")
    px.execute("EXPLAIN SELECT NEXT VALUE FOR ESEQ FROM PT")
    assert(px.execute("SELECT NEXT VALUE FOR ESEQ FROM PT LIMIT 1")
      .collect().head.getLong(0) == 10L,
      "EXPLAIN must not have consumed sequence values")
    // CURRENT VALUE in the same statement reads the row's NEXT value
    px.execute("CREATE SEQUENCE CSEQ START WITH 7 INCREMENT BY 1")
    val nc = px.execute(
      "SELECT NEXT VALUE FOR CSEQ AS nv, CURRENT VALUE FOR CSEQ AS cv " +
        "FROM PT LIMIT 1").collect().head
    assert(nc.getLong(0) == 7L && nc.getLong(1) == 7L,
      "CURRENT in a NEXT-stepping statement reads the stepped value")
    // stacked views: write-through applies EVERY ancestor's defaults
    px.execute("CREATE TABLE ST (ID BIGINT NOT NULL PRIMARY KEY, " +
      "K VARCHAR, J VARCHAR)")
    px.execute("CREATE VIEW SV1 AS SELECT * FROM ST WHERE K = 'a'")
    px.execute("CREATE VIEW SV2 AS SELECT * FROM SV1 WHERE J = 'b'")
    px.execute("UPSERT INTO SV2 (ID) VALUES (9)")
    assert(px.execute("SELECT ID FROM SV2").collect()
      .map(_.getLong(0)).toSeq == Seq(9L),
      "a row upserted through a stacked view must be visible through it")
    // CREATE VIEW with a parenthesized added-column type parses
    px.execute("CREATE VIEW PV2 (NOTE VARCHAR(20)) AS SELECT * FROM ST " +
      "WHERE K = 'a'")
    // dotted spellings inside string literals survive the rewrite
    px.execute("CREATE SCHEMA QS")
    px.execute("CREATE TABLE QS.T (K BIGINT NOT NULL PRIMARY KEY, " +
      "V VARCHAR)")
    px.execute("UPSERT INTO QS.T VALUES (1, 'see qs.t here')")
    assert(px.execute("SELECT V FROM QS.T WHERE V = 'see qs.t here'")
      .count() == 1, "literals containing a dotted name must not rewrite")
    // qualified CREATE associates with its schema (SHOW TABLES IN /
    // DROP SCHEMA see it even without USE)
    assert(px.execute("SHOW TABLES IN QS").collect()
      .exists(_.toString.toLowerCase.contains("t")),
      "SHOW TABLES IN must list a table created as SCHEMA.TABLE")
    // functions register session-scoped regardless of USE <schema>
    px.execute("CREATE SCHEMA FS")
    px.execute("USE FS")
    px.execute("CREATE FUNCTION myrev(VARCHAR) RETURNS VARCHAR AS " +
      "'graft.TestReverseUdf'")
    assert(px.execute("SELECT myrev('ab')").collect()
      .head.getString(0) == "ba",
      "a function created under USE <schema> must be callable bare")
    px.execute("DROP FUNCTION myrev")
    px.execute("USE DEFAULT")
  }

  test("TTL tables re-register per SELECT: expiry shows without any " +
      "write dirtying the cached view") {
    import org.apache.spark.sql.functions.col
    val px = fresh()
    px.execute("CREATE TABLE TT (K BIGINT NOT NULL PRIMARY KEY, " +
      "V VARCHAR) TTL=60")
    val t0 = System.currentTimeMillis()
    px.catalog.clock = () => t0
    px.execute("UPSERT INTO TT VALUES (1, 'a')")
    px.execute("UPSERT INTO TT VALUES (2, 'b')")
    assert(px.execute("SELECT K FROM TT").count() == 2)
    // time passes, NO writes: the snapshot temp view registered by the
    // first SELECT pinned its expiry cutoff as a literal — a stale
    // cache would keep serving both rows forever
    px.catalog.clock = () => t0 + 120000L
    assert(px.execute("SELECT K FROM TT").count() == 0,
      "expired rows must vanish on the NEXT query, not the next write")
    px.catalog.clock = () => System.currentTimeMillis()
  }

  test("lexical rewrites never touch string-literal content; quoted " +
      "identifiers may contain apostrophes") {
    val px = fresh()
    // ANY/FETCH/type-literal shapes INSIDE a literal pass through
    val s1 = px.prepareQueryText(
      "SELECT * FROM t WHERE note = 'x = ANY(tags)'")
    assert(s1.contains("'x = ANY(tags)'"), s1)
    val s2 = px.prepareQueryText(
      "SELECT * FROM t WHERE note = 'FETCH FIRST 5 ROWS ONLY'")
    assert(s2.contains("'FETCH FIRST 5 ROWS ONLY'"), s2)
    val s3 = px.prepareQueryText(
      "SELECT * FROM t WHERE note = 'on DATE ''2020-01-01'' it rained'")
    assert(s3.contains("'on DATE ''2020-01-01'' it rained'"), s3)
    // ... while the real spellings still rewrite in the same statement
    val s4 = px.prepareQueryText(
      "SELECT * FROM t WHERE d = DATE '2020-01-01' AND note = 'DATE x' " +
        "FETCH FIRST 3 ROWS ONLY")
    assert(s4.contains("TIMESTAMP '2020-01-01'") &&
      s4.contains("'DATE x'") && s4.contains("LIMIT 3"), s4)
    // an apostrophe inside a quoted identifier must not open a string
    val s5 = px.prepareQueryText("SELECT \"o'brien\" FROM t WHERE a = 'x'")
    assert(s5.contains("`o'brien`") && s5.contains("'x'"), s5)
  }

  test("binary/hex literals: continuation parts across comments join " +
      "into one literal; b'bits' spells base 2 (g: HEX_LITERAL/" +
      "BIN_LITERAL lexer + hex_literal/bin_literal, " +
      "ParseNodeFactory:701-737)") {
    val px = fresh()
    px.execute("CREATE TABLE BL (K BIGINT NOT NULL PRIMARY KEY, " +
      "V VARBINARY)")
    px.execute("UPSERT INTO BL VALUES (1, x'01 23' /* c */ '45')")
    px.execute("UPSERT INTO BL VALUES (2, b'0000 0001' --c\n '11111111')")
    val got = px.execute("SELECT K, V FROM BL ORDER BY K").collect()
    assert(got(0).getAs[Array[Byte]](1).toSeq ==
      Seq(0x01, 0x23, 0x45).map(_.toByte))
    assert(got(1).getAs[Array[Byte]](1).toSeq ==
      Seq(0x01.toByte, 0xFF.toByte))
    // the corpus comparison shape, spaces inside parts ignored
    assert(px.execute("SELECT K FROM BL WHERE V = x'0 12 '\n '3 45'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // validation mirrors the factory: odd hex count, bits not a
    // multiple of 8, empty or non-digit continuations are loud errors
    intercept[IllegalArgumentException](
      px.prepareQueryText("SELECT x'012' FROM t"))
    intercept[IllegalArgumentException](
      px.prepareQueryText("SELECT b'01' FROM t"))
    intercept[IllegalArgumentException](
      px.prepareQueryText("SELECT x'01' '' FROM t"))
    intercept[IllegalArgumentException](
      px.prepareQueryText("SELECT x'01' 'zz' FROM t"))
    // x must ABUT the quote: the reference lexes `x '00'` as a NAME and
    // the parse fails — the pass leaves it for Spark to reject
    assert(px.prepareQueryText("SELECT x '00' FROM t").contains("x '00'"))
    // inside strings and comments nothing rewrites
    assert(px.prepareQueryText("SELECT 'not x''01'' here' FROM t")
      .contains("'not x''01'' here'"))
    // DELETE's WHERE lexes continuations too
    px.execute("DELETE FROM BL WHERE V = x'01' '23 45'")
    assert(px.execute("SELECT K FROM BL").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // the UPSERT path runs on RAW text, so the reference's '//' line
    // comment (SL_COMMENT2) must separate continuations there too
    px.execute("UPSERT INTO BL VALUES (3, x'0A' // c\n '0B')")
    assert(px.execute("SELECT V FROM BL WHERE K = 3").collect()
      .head.getAs[Array[Byte]](0).toSeq ==
      Seq(0x0A.toByte, 0x0B.toByte))
    // '/*/' is an OPEN comment ('/' after the opener is content, not a
    // close): the scanner consumes both opener chars like literalMask/
    // normalizeQueryText do — a one-char consume lexed the comment body
    // as code and threw on the x'GG' inside it
    assert(px.prepareQueryText("SELECT 1 /*/ x'GG' */ FROM t")
      .contains("x'GG'"), "comment body must pass through unlexed")
  }

  test("ANY/ALL rewrite: nested calls rewrite via the balanced scan; " +
      "parenthesized subqueries still pass through") {
    val px = fresh()
    // nested function argument (the old paren-free regex fell through)
    val s1 = px.prepareQueryText(
      "SELECT * FROM t WHERE v = ANY(array_distinct(tags))")
    assert(s1.contains("exists(array_distinct(tags), __e -> v = __e)"),
      s1)
    // subquery forms are Spark-native quantified comparisons — bare AND
    // parenthesized (the balanced scan captures the whole group now)
    val s2 = px.prepareQueryText(
      "SELECT * FROM t WHERE id = ANY(SELECT id FROM u)")
    assert(s2.contains("ANY(SELECT id FROM u)"), s2)
    val s3 = px.prepareQueryText(
      "SELECT * FROM t WHERE id = ANY((SELECT id FROM u))")
    assert(s3.contains("ANY((SELECT id FROM u))"), s3)
  }

  test("ragged multi-row VALUES arities fail cleanly") {
    val px = fresh()
    px.execute("CREATE TABLE RG (A BIGINT NOT NULL PRIMARY KEY, B BIGINT)")
    val e = intercept[IllegalArgumentException](
      px.execute("UPSERT INTO RG VALUES (1, 2), (3)"))
    assert(e.getMessage.contains("differing arities"))
  }

  test("multi-row VALUES: each value takes its column's declared type, " +
      "so literal kinds may mix within a column") {
    val px = fresh()
    px.execute("CREATE TABLE MX (K BIGINT NOT NULL PRIMARY KEY, V VARCHAR)")
    px.execute("UPSERT INTO MX VALUES (1, 'x'), (2, 3)")
    assert(px.execute("SELECT K, V FROM MX ORDER BY K").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "3")))
  }

  test("multi-row VALUES: a CREATE FUNCTION UDF as a value") {
    val px = fresh()
    px.execute("CREATE TABLE MU (K BIGINT NOT NULL PRIMARY KEY, V VARCHAR)")
    px.execute("CREATE FUNCTION myrev(VARCHAR) RETURNS VARCHAR " +
      "AS 'graft.TestReverseUdf'")
    px.execute("UPSERT INTO MU VALUES (1, myrev('abc')), (2, 'plain'), " +
      "(3, myrev('xy'))")
    assert(px.execute("SELECT V FROM MU ORDER BY K").collect()
      .map(_.getString(0)).toSeq == Seq("cba", "plain", "yx"))
  }

  test("multi-row VALUES: NEXT VALUE FOR steps once per tuple") {
    val px = fresh()
    px.execute("CREATE TABLE MS (K BIGINT NOT NULL PRIMARY KEY, V VARCHAR)")
    px.execute("CREATE SEQUENCE ms_seq START WITH 10 INCREMENT BY 5")
    px.execute("UPSERT INTO MS VALUES (NEXT VALUE FOR ms_seq, 'a'), " +
      "(NEXT VALUE FOR ms_seq, 'b'), (NEXT VALUE FOR ms_seq, 'c')")
    assert(px.execute("SELECT K, V FROM MS ORDER BY K").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((10L, "a"), (15L, "b"), (20L, "c")))
  }

  test("multi-row VALUES: ARRAY[...] values in several tuples") {
    val px = fresh()
    px.execute("CREATE TABLE MA (K BIGINT NOT NULL PRIMARY KEY, " +
      "TAGS VARCHAR ARRAY, SC DOUBLE ARRAY)")
    px.execute("UPSERT INTO MA VALUES (1, ARRAY['a','b'], ARRAY[1, 2.5]), " +
      "(2, ARRAY['c'], ARRAY[3]), (3, NULL, ARRAY[])")
    val got = px.execute("SELECT K, TAGS, SC FROM MA ORDER BY K").collect()
    assert(got(0).getSeq[String](1) == Seq("a", "b"))
    assert(got(0).getSeq[Double](2) == Seq(1.0, 2.5))
    assert(got(1).getSeq[String](1) == Seq("c"))
    assert(got(1).getSeq[Double](2) == Seq(3.0))
    assert(got(2).isNullAt(1) && got(2).getSeq[Double](2).isEmpty)
  }

  test("multi-row VALUES through a view: every row carries the view's " +
      "defaults and its extension column") {
    val px = fresh()
    px.execute("CREATE TABLE MV0 (ID BIGINT NOT NULL PRIMARY KEY, " +
      "K VARCHAR, J BIGINT)")
    px.execute("CREATE VIEW MVV (NOTE VARCHAR(20)) AS SELECT * FROM MV0 " +
      "WHERE K = 'a'")
    px.execute("UPSERT INTO MVV (ID, J, NOTE) VALUES (1, 10, 'n1'), " +
      "(2, '20', NULL), (3, 30, 'n3')")
    assert(px.execute("SELECT ID, J, NOTE FROM MVV ORDER BY ID").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      .toSeq == Seq((1L, 10L, Some("n1")), (2L, 20L, None),
        (3L, 30L, Some("n3"))))
    assert(px.execute("SELECT count(*) FROM MV0 WHERE K = 'a'").collect()
      .head.getLong(0) == 3)
  }

  test("multi-row VALUES: NULL in one tuple, a value in another; a " +
      "quoted comma and parentheses stay one value") {
    val px = fresh()
    px.execute("CREATE TABLE MN (K BIGINT NOT NULL PRIMARY KEY, " +
      "V VARCHAR, N INTEGER)")
    px.execute("UPSERT INTO MN VALUES (1, NULL, 7), (2, 'a, b (c)', NULL)")
    val got = px.execute("SELECT K, V, N FROM MN ORDER BY K").collect()
    assert(got(0).isNullAt(1) && got(0).getInt(2) == 7)
    assert(got(1).getString(1) == "a, b (c)" && got(1).isNullAt(2))
  }

  test("multi-row VALUES: a width or UNSIGNED violation in the third " +
      "tuple still raises and writes nothing") {
    val px = fresh()
    px.execute("CREATE TABLE MW (K BIGINT NOT NULL PRIMARY KEY, " +
      "C CHAR(3), U UNSIGNED_INT)")
    val e1 = intercept[Exception] {
      px.execute("UPSERT INTO MW VALUES (1, 'ab', 1), (2, 'abc', 2), " +
        "(3, 'abcd', 3)")
    }
    assert(msgs(e1).exists(m => m != null && m.contains("capacity")), e1)
    val e2 = intercept[Exception] {
      px.execute("UPSERT INTO MW VALUES (1, 'ab', 1), (2, 'abc', 2), " +
        "(3, 'a', -3)")
    }
    assert(msgs(e2).exists(m => m != null && m.contains("unsigned")), e2)
    assert(px.execute("SELECT count(*) FROM MW").collect()
      .head.getLong(0) == 0)
  }

  test("a 100-tuple UPSERT VALUES runs no Spark job and writes one " +
      "parquet file") {
    val wh = java.nio.file.Files.createTempDirectory("graft_sql_wh").toString
    val px = new PhoenixSql(spark, new GraftCatalog(spark, wh))
    px.execute("CREATE TABLE ONE (K BIGINT NOT NULL PRIMARY KEY, V VARCHAR)")
    def dataFiles(): Int = {
      val data = java.nio.file.Paths.get(wh, "one", "data")
      if (!java.nio.file.Files.exists(data)) 0
      else {
        val w = java.nio.file.Files.walk(data)
        try w.filter(_.toString.endsWith(".parquet")).count().toInt
        finally w.close()
      }
    }
    val before = dataFiles()
    val n = Measure.once(spark)(px.execute("UPSERT INTO ONE VALUES " +
      (1 to 100).map(i => s"($i, 'v$i')").mkString(", "))).counts
    assert(dataFiles() - before == 1, "one parquet data file per statement")
    // the VALUES relation is evaluated on the driver and lands through
    // the driver path of the commit
    assert(n == Measure.JobCounts(0, 0, 0), s"no job per statement, got $n")
    assert(px.execute("SELECT count(*) FROM ONE").collect()
      .head.getLong(0) == 100)
  }

  test("a SELECT sees writes made straight through the catalog, and " +
      "survives the snapshot-cache rotations they trigger") {
    val px = fresh()
    px.execute("CREATE TABLE OB (K BIGINT NOT NULL PRIMARY KEY, V VARCHAR) " +
      "SNAPSHOT_CACHE_BATCHES=3")
    px.execute("UPSERT INTO OB VALUES (1, 'a')")
    assert(px.execute("SELECT count(*) FROM OB").collect()
      .head.getLong(0) == 1)
    import spark.implicits._
    px.catalog.upsert("ob", Seq((2L, "b")).toDF("k", "v"))
    assert(px.execute("SELECT K, V FROM OB ORDER BY K").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    (3L to 18L).foreach(k =>
      px.catalog.upsert("ob", Seq((k, s"v$k")).toDF("k", "v")))
    assert(px.execute("SELECT count(*) FROM OB").collect()
      .head.getLong(0) == 18)
  }

  test("FETCH FIRST/NEXT n ROWS ONLY (g: fetch_node) maps to LIMIT") {
    val px = fresh()
    px.execute("CREATE TABLE FF (K BIGINT NOT NULL PRIMARY KEY)")
    (1 to 5).foreach(i => px.execute(s"UPSERT INTO FF VALUES ($i)"))
    assert(px.execute("SELECT K FROM FF ORDER BY K FETCH FIRST 2 ROWS ONLY")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(px.execute("SELECT K FROM FF ORDER BY K DESC FETCH NEXT 1 ROW ONLY")
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // OFFSET with the optional unit word
    assert(px.execute("SELECT K FROM FF ORDER BY K LIMIT 2 OFFSET 1 ROWS")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("admin statement surface: TRACE / ALTER SESSION / EXECUTE " +
      "UPGRADE / jar management all dispatch") {
    val px = fresh()
    px.execute("TRACE ON")
    px.execute("TRACE OFF")
    px.execute("ALTER SESSION SET CONSISTENCY = 'TIMELINE'")
    px.execute("EXECUTE UPGRADE")
    assert(px.execute("LIST JARS").columns.toSeq == Seq("jar_location"))
    px.execute("DELETE JAR 'hdfs:/nowhere.jar'")
  }

  test("column DEFAULT values: CREATE TABLE / ALTER ADD defaults apply " +
      "when the write omits the column; explicit NULL stays NULL " +
      "(DefaultColumnValueIT shapes)") {
    val px = fresh()
    // the IT's first table verbatim: PK column with a DEFAULT, plus an
    // ALTER-added default column
    px.execute("CREATE TABLE IF NOT EXISTS DTAB (pk1 INTEGER NOT NULL, " +
      "pk2 INTEGER NOT NULL, pk3 INTEGER NOT NULL DEFAULT 10, " +
      "test1 INTEGER, " +
      "CONSTRAINT NAME_PK PRIMARY KEY (pk1, pk2, pk3))")
    px.execute("ALTER TABLE DTAB ADD test2 INTEGER DEFAULT 5, est3 INTEGER")
    // positional short VALUES: trailing columns take DEFAULT / NULL
    px.execute("UPSERT INTO DTAB VALUES (1, 2)")
    // full-width row with an EXPLICIT NULL over the defaulted column
    px.execute("UPSERT INTO DTAB VALUES (11, 12, 13, 14, null, 16)")
    def row(pk1: Int) = px.execute(
        s"SELECT pk1, pk2, pk3, test1, test2, est3 FROM DTAB " +
          s"WHERE pk1 = $pk1").collect().head
    val r1 = row(1)
    assert((r1.getInt(0), r1.getInt(1), r1.getInt(2)) == (1, 2, 10),
      "omitted PK column must take its DEFAULT")
    assert(r1.isNullAt(3) && r1.getInt(4) == 5 && r1.isNullAt(5),
      "ALTER-added DEFAULT applies; non-default columns stay NULL")
    val r2 = row(11)
    assert((r2.getInt(0), r2.getInt(1), r2.getInt(2), r2.getInt(3)) ==
      (11, 12, 13, 14))
    assert(r2.isNullAt(4), "an EXPLICIT NULL overrides the DEFAULT")
    assert(r2.getInt(5) == 16)
    // defaults flow into CDC post-images (the write stores the value)
    val post = px.catalog.cdc("dtab").orderBy(
        org.apache.spark.sql.functions.col("cdc_version"))
      .collect().head.getAs[String]("cdc_post_image")
    assert(post.contains("\"pk3\":10") && post.contains("\"test2\":5"),
      s"defaults must be visible in the CDC post image: $post")
    // and through snapshot-as-of reads (written, not read-substituted)
    val asOf = px.catalog.snapshotAsOfTime("dtab",
      new java.sql.Timestamp(System.currentTimeMillis() + 60000))
    assert(asOf.where(org.apache.spark.sql.functions.col("pk3") === 10)
      .count() == 1)
  }

  test("ROW_TIMESTAMP PK: omitted column binds to the batch write " +
      "stamp; explicit values write through (RowTimestampIT shape)") {
    val px = fresh()
    px.execute("CREATE TABLE IF NOT EXISTS RT (PK1 VARCHAR NOT NULL, " +
      "PK2 TIMESTAMP NOT NULL, KV1 VARCHAR, KV2 VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY(PK1, PK2 ROW_TIMESTAMP))")
    // explicit value writes through unchanged
    px.execute("UPSERT INTO RT VALUES ('a', " +
      "TIMESTAMP'2020-05-05 05:05:05', 'kv1a', 'kv2a')")
    // omitted ROW_TIMESTAMP column → the batch stamp, pinned via the
    // injectable clock (no sleeps)
    val fixed = 1700000000123L
    px.catalog.clock = () => fixed
    px.execute("UPSERT INTO RT (PK1, KV1, KV2) VALUES ('b', 'kv1b', 'kv2b')")
    px.catalog.clock = () => System.currentTimeMillis()
    val rows = px.execute("SELECT PK1, PK2 FROM RT ORDER BY PK1")
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).getTime)
    assert(rows(0) == ("a" ->
      java.sql.Timestamp.valueOf("2020-05-05 05:05:05").getTime))
    assert(rows(1) == ("b" -> fixed),
      "omitted ROW_TIMESTAMP must equal the batch write stamp")
    // the filled value IS the row's phoenix_row_timestamp
    val prt = px.catalog.snapshotWithRowTs("rt")
      .where(org.apache.spark.sql.functions.col("pk1") === "b")
      .collect().head
    assert(prt.getAs[java.sql.Timestamp]("pk2").getTime ==
      prt.getAs[java.sql.Timestamp]("phoenix_row_timestamp").getTime)
    // an EXPLICIT value drives the cell timestamp (`_ts`), so SCN
    // visibility keys off the declared ROW_TIMESTAMP, not the wall
    // clock of the write (RowTimestampIT: the column IS the HBase cell
    // timestamp): a read point after 2020 but before now sees row 'a'
    // and not the wall-clock-stamped 'b'
    val mid = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2021-01-01 00:00:00").getTime)
    assert(px.catalog.snapshotAsOfTime("rt", mid).collect()
      .map(_.getString(0)).toSeq == Seq("a"),
      "explicit ROW_TIMESTAMP must be the SCN-visible cell timestamp")
    // a BIGINT spelling carries epoch millis; inline PK form
    px.execute("CREATE TABLE RTL (K BIGINT PRIMARY KEY ROW_TIMESTAMP, " +
      "V VARCHAR)")
    px.catalog.clock = () => fixed
    px.execute("UPSERT INTO RTL (V) VALUES ('x')")
    px.catalog.clock = () => System.currentTimeMillis()
    assert(px.execute("SELECT K FROM RTL").collect().head.getLong(0) ==
      fixed)
    // only one ROW_TIMESTAMP column; type must be time-family or BIGINT
    val e = intercept[IllegalArgumentException](px.execute(
      "CREATE TABLE RTBAD (A VARCHAR NOT NULL, B TIMESTAMP NOT NULL, " +
        "CONSTRAINT PK PRIMARY KEY(A ROW_TIMESTAMP, B ROW_TIMESTAMP))"))
    assert(e.getMessage.contains("ROW_TIMESTAMP"))
    val e2 = intercept[IllegalArgumentException](px.execute(
      "CREATE TABLE RTBAD2 (A VARCHAR NOT NULL " +
        "CONSTRAINT PK PRIMARY KEY(A ROW_TIMESTAMP))"))
    assert(e2.getMessage.contains("ROW_TIMESTAMP"))
  }

  test("SET CURRENT_SCN: point-in-time reads for tables AND views, " +
      "writes rejected, NULL restores") {
    val px = fresh()
    px.execute("CREATE TABLE T (K BIGINT NOT NULL PRIMARY KEY, V VARCHAR)")
    px.execute("CREATE VIEW BIGK AS SELECT * FROM T WHERE K >= 2")
    px.execute("UPSERT INTO T VALUES (1, 'a1')")
    px.execute("UPSERT INTO T VALUES (2, 'b1')")
    Thread.sleep(5) // separate the batch stamps
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    px.execute("UPSERT INTO T VALUES (1, 'a2')")
    px.execute("UPSERT INTO T VALUES (3, 'c2')")
    def vals(sql: String) = px.execute(sql).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vals("SELECT K, V FROM T") ==
      Map(1L -> "a2", 2L -> "b1", 3L -> "c2"))
    px.execute(s"SET CURRENT_SCN = $mid")
    // reads rewind — including through the stacked view
    assert(vals("SELECT K, V FROM T") == Map(1L -> "a1", 2L -> "b1"))
    assert(vals("SELECT K, V FROM BIGK") == Map(2L -> "b1"))
    // back-dated writes are rejected loudly while the read point is set
    val e = intercept[IllegalArgumentException](
      px.execute("UPSERT INTO T VALUES (9, 'x')"))
    assert(e.getMessage.contains("CURRENT_SCN"))
    px.execute("SET CURRENT_SCN = NULL")
    assert(vals("SELECT K, V FROM T") ==
      Map(1L -> "a2", 2L -> "b1", 3L -> "c2"))
    assert(vals("SELECT K, V FROM BIGK") == Map(2L -> "b1", 3L -> "c2"))
  }

  test("rewrite spellings inside string literals are DATA: sequences, " +
      "PHOENIX_ROW_TIMESTAMP, dynamic columns") {
    val px = fresh()
    px.execute("CREATE TABLE LITS (K BIGINT NOT NULL, V VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (K))")
    px.execute("CREATE SEQUENCE lit_seq START WITH 100")
    // a SELECT whose only 'NEXT VALUE FOR' is a string literal must not
    // step the sequence nor rewrite the literal's content
    px.execute("UPSERT INTO LITS VALUES (1, 'a')")
    val r1 = px.execute(
      "SELECT K, 'NEXT VALUE FOR lit_seq' AS s FROM LITS").collect()
    assert(r1.map(_.getString(1)).toSeq == Seq("NEXT VALUE FOR lit_seq"),
      "literal content must survive")
    // the sequence was never stepped: its first real NEXT is still 100
    val r2 = px.execute("SELECT NEXT VALUE FOR lit_seq AS n FROM LITS")
      .collect()
    assert(r2.map(_.getLong(0)).toSeq == Seq(100L))
    // UPSERT VALUES with the spelling as a string value: stored verbatim,
    // sequence not stepped (next real step reads 101)
    px.execute("UPSERT INTO LITS VALUES (2, 'CURRENT VALUE FOR lit_seq')")
    val r3 = px.execute("SELECT V FROM LITS WHERE K = 2").collect()
    assert(r3.head.getString(0) == "CURRENT VALUE FOR lit_seq")
    // PHOENIX_ROW_TIMESTAMP() inside a literal stays data
    val r4 = px.execute(
      "SELECT 'PHOENIX_ROW_TIMESTAMP()' AS s FROM LITS WHERE K = 1")
      .collect()
    assert(r4.head.getString(0) == "PHOENIX_ROW_TIMESTAMP()")
    // a dynamic-columns SPELLING naming an EXISTING table inside a
    // literal must not splice a temp view into the string
    val r5 = px.execute(
      "SELECT 'FROM LITS (x INTEGER)' AS s FROM LITS WHERE K = 1")
      .collect()
    assert(r5.head.getString(0) == "FROM LITS (x INTEGER)")
  }

  test("structure scanners are quote- and comment-aware: DDL defaults " +
      "with ')' and ',', tuple comments, ANY args") {
    val px = fresh()
    // a quoted ')' and ',' inside a DEFAULT string must not close the
    // column-body group early or split the column list
    px.execute("CREATE TABLE SCAN1 (K BIGINT NOT NULL, " +
      "V VARCHAR DEFAULT 'a)b,c', W BIGINT " +
      "CONSTRAINT PK PRIMARY KEY (K))")
    px.execute("UPSERT INTO SCAN1 (K, W) VALUES (1, 7)")
    val r1 = px.execute("SELECT V, W FROM SCAN1").collect()
    assert(r1.head.getString(0) == "a)b,c" && r1.head.getLong(1) == 7L)
    // a comma inside a block comment within a VALUES tuple is not a
    // value separator
    px.execute("UPSERT INTO SCAN1 VALUES (2 /* x,y */, 'v2', 8)")
    val r2 = px.execute("SELECT V, W FROM SCAN1 WHERE K = 2").collect()
    assert(r2.head.getString(0) == "v2" && r2.head.getLong(1) == 8L)
    // a quoted ')' inside an ANY argument must not end the argument scan
    px.execute("CREATE TABLE SCAN2 (K BIGINT NOT NULL, TAGS VARCHAR " +
      "ARRAY CONSTRAINT PK PRIMARY KEY (K))")
    px.execute("UPSERT INTO SCAN2 VALUES (1, ARRAY['x)y', 'z'])")
    val r3 = px.execute(
      "SELECT K FROM SCAN2 WHERE 'x)y' = ANY(TAGS)").collect()
    assert(r3.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("a STAR MV serves the front-end JOIN dashboard from state; a " +
      "churned dim makes it fall back fresh (stale MV cannot serve)") {
    import graft.operators.Materialize
    import graft.operators.Materialize.StarDerive
    import graft.plans.GraftAggViews
    val px = fresh()
    val cat = px.catalog
    px.execute("CREATE TABLE fo (k BIGINT NOT NULL, ck BIGINT, " +
      "price BIGINT CONSTRAINT pk PRIMARY KEY (k))")
    px.execute("CREATE TABLE dc (ck BIGINT NOT NULL, seg VARCHAR " +
      "CONSTRAINT pk PRIMARY KEY (ck))")
    px.execute("UPSERT INTO dc VALUES (1, 'a')")
    px.execute("UPSERT INTO dc VALUES (2, 'b')")
    px.execute("UPSERT INTO fo VALUES (1, 1, 10)")
    px.execute("UPSERT INTO fo VALUES (2, 2, 20)")
    px.execute("UPSERT INTO fo VALUES (3, 1, 40)")
    cat.refreshSnapshotCache("fo")
    cat.refreshSnapshotCache("dc")
    def derive = StarDerive(cat.snapshot("dc"),
      keys = Seq("ck" -> "ck"), attrs = Seq("seg"))
    val mv = java.nio.file.Files
      .createTempDirectory("graft_mvsql_star").toString
    Materialize.build(cat, ChainSpec("fo"), Seq("seg"), Seq("price"), mv,
      derive = derive)
    // one DimJoinDef per derive: the dim keyed by its CATALOG ROOT
    // (the serving scan's _snapcache leaf maps back to it), innerSafe
    // asserted (every fo.ck resolves in dc)
    Materialize.registerForRewrite(cat, mv, dims = Seq(
      GraftAggViews.DimJoinDef(cat.tablePath("dc"),
        factKeys = Seq("ck"), dimKeys = Seq("ck"),
        dimAttrs = Map("seg" -> "seg"), innerSafe = true)))
    def run(expectServed: Boolean) = {
      val q = px.execute("SELECT seg, SUM(price) AS sp, COUNT(*) AS n " +
        "FROM fo JOIN dc ON fo.ck = dc.ck GROUP BY seg ORDER BY seg")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(mv) == expectServed,
        s"expected served=$expectServed:\n$plan")
      if (expectServed) assert(!plan.contains("_snapcache"), plan)
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
    }
    assert(run(expectServed = true) == Seq(("a", 50L, 2L), ("b", 20L, 1L)))
    // dim churn: the dim's cache goes stale -> its serving view is the
    // collapse plan -> the star match refuses -> fresh join answer
    // (which the stale MV could NOT have produced)
    px.execute("UPSERT INTO dc VALUES (2, 'c')")
    assert(run(expectServed = false) == Seq(("a", 50L, 2L), ("c", 20L, 1L)))
    // both legs refreshed: a refresh that would FOLD (new fact write)
    // REFUSES under the enforced derive (dim changed) until rebuilt;
    // after the rebuild it serves
    cat.refreshSnapshotCache("dc")
    px.execute("UPSERT INTO fo VALUES (4, 2, 5)")
    intercept[IllegalStateException] {
      Materialize.refresh(cat, mv, derive = derive)
    }
    Materialize.build(cat, ChainSpec("fo"), Seq("seg"), Seq("price"), mv,
      derive = derive)
    // the caches were refreshed OUTSIDE the front-end, so mark both
    // tables dirty through it (value-identical upsert) and re-cache —
    // the next SELECT re-registers both as pure serving scans
    px.execute("UPSERT INTO dc VALUES (2, 'c')")
    cat.refreshSnapshotCache("dc")
    cat.refreshSnapshotCache("fo")
    assert(run(expectServed = true) ==
      Seq(("a", 50L, 2L), ("c", 25L, 2L)))
  }

  test("a registered MV serves a front-end GROUP BY from state when " +
      "the snapshot cache is fresh; a stale cache falls back FRESH") {
    import graft.operators.Materialize
    val px = fresh()
    val cat = px.catalog
    px.execute("CREATE TABLE MVT (K BIGINT NOT NULL, SRC VARCHAR, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (K))")
    px.execute("UPSERT INTO MVT VALUES (1, 'a', 10)")
    px.execute("UPSERT INTO MVT VALUES (2, 'a', 20)")
    px.execute("UPSERT INTO MVT VALUES (3, 'b', 5)")
    cat.refreshSnapshotCache("mvt")
    val mv = java.nio.file.Files
      .createTempDirectory("graft_mvsql").toString
    Materialize.build(cat, ChainSpec("mvt"), Seq("src"), Seq("x"), mv)
    Materialize.registerForRewrite(cat, mv)
    def run(expectServed: Boolean) = {
      val q = px.execute("SELECT SRC, SUM(X) AS sum_x, COUNT(*) AS n " +
        "FROM MVT GROUP BY SRC ORDER BY SRC")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(mv) == expectServed,
        s"expected served=$expectServed:\n$plan")
      if (expectServed) assert(!plan.contains("_snapcache"),
        s"a served query must not also scan the snapshot:\n$plan")
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
    }
    assert(run(expectServed = true) ==
      Seq(("a", 30L), ("b", 5L)).map(t => (t._1, t._2,
        if (t._1 == "a") 2L else 1L)))
    // mutation → cache stale → the front-end view is the collapse plan
    // again: NO state serve (which would be stale), fresh answer
    px.execute("UPSERT INTO MVT VALUES (4, 'b', 100)")
    assert(run(expectServed = false) ==
      Seq(("a", 30L, 2L), ("b", 105L, 2L)))
    // refresh both legs → served again with the new numbers
    cat.refreshSnapshotCache("mvt")
    Materialize.refresh(cat, mv)
    px.execute("UPSERT INTO MVT VALUES (4, 'b', 100)") // same row, re-dirty
    cat.refreshSnapshotCache("mvt")
    Materialize.refresh(cat, mv)
    assert(run(expectServed = true) ==
      Seq(("a", 30L, 2L), ("b", 105L, 2L)))
  }

  test("freshness gate: SNAPSHOT_CACHE_BATCHES auto-refresh cannot " +
      "make a stale MV serve — un-refreshed upserts + a read fall " +
      "back to the FRESH collapse/cache plan") {
    import graft.operators.Materialize
    val px = fresh()
    val cat = px.catalog
    // auto-refresh threshold 2: two un-refreshed writes re-arm the
    // read-path cache rebuild — the exact sequence that used to serve
    // stale state (fresh cache ⇒ pure scan ⇒ AggRewrite fires ⇒
    // version-v state over a version-v+2 table, silently)
    px.execute("CREATE TABLE FG (K BIGINT NOT NULL, SRC VARCHAR, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (K)) " +
      "SNAPSHOT_CACHE_BATCHES=2")
    px.execute("UPSERT INTO FG VALUES (1, 'a', 10)")
    px.execute("UPSERT INTO FG VALUES (2, 'b', 5)")
    cat.refreshSnapshotCache("fg")
    val mv = java.nio.file.Files
      .createTempDirectory("graft_mvsql_fresh").toString
    Materialize.build(cat, ChainSpec("fg"), Seq("src"), Seq("x"), mv)
    Materialize.registerForRewrite(cat, mv)
    def run(expectServed: Boolean) = {
      val q = px.execute("SELECT SRC, SUM(X) AS sum_x FROM FG " +
        "GROUP BY SRC ORDER BY SRC")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(mv) == expectServed,
        s"expected served=$expectServed:\n$plan")
      q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(run(expectServed = true) == Seq(("a", 10L), ("b", 5L)))
    // >= threshold upserts WITHOUT an MV refresh: the write hook (and
    // any read) rebuilds the snapshot cache to exactly-fresh, so the
    // front-end sees a pure cache scan — the MV state is now two
    // versions behind, and ONLY the version probe stands between the
    // query and stale numbers
    px.execute("UPSERT INTO FG VALUES (3, 'a', 100)")
    px.execute("UPSERT INTO FG VALUES (4, 'b', 200)")
    assert(cat.snapCacheVersion("fg").contains(cat.currentVersion("fg")),
      "precondition: the auto-refresh must have made the cache " +
        "exactly fresh (otherwise this test isn't exercising the gate)")
    assert(run(expectServed = false) == Seq(("a", 110L), ("b", 205L)),
      "a fresh snapshot cache over a stale MV state must fall back " +
        "to the cache-scan plan with FRESH numbers")
    // refresh the MV → the marks line up again → served, new numbers
    Materialize.refresh(cat, mv)
    assert(run(expectServed = true) == Seq(("a", 110L), ("b", 205L)))
    // the zero-row-write corner: a DELETE matching NOTHING bumps the
    // version counter without log rows — the probe refuses (safe) and
    // a refresh must RE-ARM serving (counter-based marks; a log-max
    // mark could never catch up and refused forever)
    px.execute("DELETE FROM FG WHERE K = 99999")
    assert(run(expectServed = false) == Seq(("a", 110L), ("b", 205L)))
    // a SECOND empty write re-dirties the front-end view (the log max
    // never moves: counter-only growth is exactly the corner), then
    // refresh both legs — counter-keyed marks and a counter-keyed
    // cache must line back up; log-max keying on either leg refused
    // forever here
    px.execute("DELETE FROM FG WHERE K = 99998")
    Materialize.refresh(cat, mv)
    cat.refreshSnapshotCache("fg")
    assert(run(expectServed = true) == Seq(("a", 110L), ("b", 205L)),
      "an empty write must not permanently desync the freshness probe")
  }

  test("CREATE/REFRESH/DROP MATERIALIZED VIEW: the full lifecycle " +
      "through SQL text only — create, serve, churn, refresh, drop") {
    val px = fresh()
    px.execute("CREATE TABLE MT (K BIGINT NOT NULL, SRC VARCHAR, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (K))")
    px.execute("UPSERT INTO MT VALUES (1, 'a', 10)")
    px.execute("UPSERT INTO MT VALUES (2, 'a', 20)")
    px.execute("UPSERT INTO MT VALUES (3, 'b', 5)")
    px.execute("CREATE MATERIALIZED VIEW MV1 AS SELECT SRC, " +
      "COUNT(*), SUM(X), MIN(X), MAX(X) FROM MT GROUP BY SRC")
    val mvPath = px.catalog.mvPath("mv1")
    def run(expectServed: Boolean) = {
      val q = px.execute("SELECT SRC, SUM(X) AS sum_x, COUNT(*) AS n " +
        "FROM MT GROUP BY SRC ORDER BY SRC")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(mvPath) == expectServed,
        s"expected served=$expectServed:\n$plan")
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
    }
    assert(run(expectServed = true) == Seq(("a", 30L, 2L), ("b", 5L, 1L)))
    // churn WITHOUT refresh: the freshness probe refuses, fresh answer
    px.execute("UPSERT INTO MT VALUES (4, 'b', 100)")
    assert(run(expectServed = false) ==
      Seq(("a", 30L, 2L), ("b", 105L, 2L)))
    // REFRESH folds the delta and re-arms serving
    px.execute("REFRESH MATERIALIZED VIEW MV1")
    assert(run(expectServed = true) ==
      Seq(("a", 30L, 2L), ("b", 105L, 2L)))
    // duplicate create refuses; IF NOT EXISTS is silent
    intercept[IllegalArgumentException] {
      px.execute("CREATE MATERIALIZED VIEW MV1 AS SELECT SRC, " +
        "COUNT(*) FROM MT GROUP BY SRC")
    }
    px.execute("CREATE MATERIALIZED VIEW IF NOT EXISTS MV1 AS " +
      "SELECT SRC, COUNT(*) FROM MT GROUP BY SRC")
    // DROP deregisters and deletes state; queries fall back, correct
    px.execute("DROP MATERIALIZED VIEW MV1")
    assert(run(expectServed = false) ==
      Seq(("a", 30L, 2L), ("b", 105L, 2L)))
    assert(!new java.io.File(mvPath).exists)
    px.execute("DROP MATERIALIZED VIEW IF EXISTS MV1")
    intercept[IllegalArgumentException] {
      px.execute("DROP MATERIALIZED VIEW MV1")
    }
  }

  test("REFRESH MATERIALIZED VIEW returns the refresh's report as one " +
      "row") {
    val px = fresh()
    px.execute("CREATE TABLE RT (K BIGINT NOT NULL, SRC VARCHAR, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (K))")
    px.execute("UPSERT INTO RT VALUES (1, 'a', 10), (2, 'a', 20), " +
      "(3, 'b', 5)")
    px.execute("CREATE MATERIALIZED VIEW RMV AS SELECT SRC, " +
      "COUNT(*), SUM(X), MIN(X), MAX(X) FROM RT GROUP BY SRC")
    def refresh() = {
      val out = px.execute("REFRESH MATERIALIZED VIEW RMV")
      assert(out.columns.toSeq == Seq("rebuild_ran", "recompute_ran",
        "affected_groups", "buckets_touched", "buckets_total"))
      val rows = out.collect()
      assert(rows.length == 1)
      rows.head.toSeq
    }
    // K=2 holds group a's max: its delete gates in a recompute
    px.execute("DELETE FROM RT WHERE K = 2")
    assert(refresh() == Seq(false, true, 1L, -1, 0))
    // nothing changed since: nothing ran
    assert(refresh() == Seq(false, false, 0L, -1, -1))
  }

  test("SHOW MATERIALIZED VIEWS + FULL JOIN DDL: a full-outer MV " +
      "maintains through SQL and serves FULL OUTER queries only " +
      "(INNER refuses — it would drop the dangling rows)") {
    import graft.operators.MaterializeJoin
    val px = fresh()
    px.execute("CREATE TABLE FA (OK BIGINT NOT NULL, CK BIGINT, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (OK))")
    px.execute("CREATE TABLE FB (CK BIGINT NOT NULL, SEG VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (CK))")
    px.execute("UPSERT INTO FA VALUES (1, 10, 100)")
    px.execute("UPSERT INTO FB VALUES (10, 'a')")
    px.execute("UPSERT INTO FB VALUES (20, 'orphan')")
    px.execute("CREATE MATERIALIZED VIEW FMV AS SELECT SEG, " +
      "COUNT(*), SUM(X) FROM FA FULL JOIN FB ON FA.CK = FB.CK " +
      "GROUP BY SEG")
    val shown = px.execute("SHOW MATERIALIZED VIEWS")
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(shown.toSeq == Seq(("fmv", "join")))
    // churn + REFRESH through SQL
    px.execute("UPSERT INTO FA VALUES (2, 99, 7)") // fact-dangling
    px.execute("DELETE FROM FB WHERE CK = 20")
    px.execute("REFRESH MATERIALIZED VIEW FMV")
    val mvPath = px.catalog.mvPath("fmv")
    // the SAME full-outer aggregate through the front-end serves from
    // the state (fullState contract), plan-pinned
    val served = px.execute("SELECT SEG, COUNT(*) AS C, SUM(X) AS S " +
      "FROM FA FULL JOIN FB ON FA.CK = FB.CK GROUP BY SEG")
    assert(served.queryExecution.executedPlan.toString.contains(mvPath),
      s"a FULL OUTER aggregate must serve from the full-outer state:\n" +
        served.queryExecution.executedPlan.toString)
    val rows = served.collect()
      .map(r => (Option(r.getString(0)).orNull, r.getLong(1))).toMap
    assert(rows == Map(("a", 1L), (null, 1L)),
      s"full-outer serve after churn: $rows")
    // an INNER query must NOT serve from the full state — and must
    // still be answered correctly by the fallback plan
    val inner = px.execute("SELECT SEG, COUNT(*) AS C FROM FA " +
      "JOIN FB ON FA.CK = FB.CK GROUP BY SEG")
    assert(!inner.queryExecution.executedPlan.toString.contains(mvPath),
      "an INNER aggregate must refuse the full-outer state")
    assert(inner.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 1L)))
    px.execute("DROP MATERIALIZED VIEW FMV")
    assert(px.execute("SHOW MATERIALIZED VIEWS").count() == 0)
  }

  test("CREATE MATERIALIZED VIEW WITH (BUCKETS, IMMUTABLE KEYS): " +
      "bucket-manifested state refreshes only touched buckets and the " +
      "immutability declaration is ENFORCED at refresh") {
    import graft.operators.{Materialize, MaterializeJoin}
    val px = fresh()
    px.execute("CREATE TABLE BF (OK BIGINT NOT NULL, CK BIGINT, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (OK))")
    px.execute("CREATE TABLE BD (CK BIGINT NOT NULL, SEG VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (CK))")
    (1 to 6).foreach(i => px.execute(
      s"UPSERT INTO BF VALUES ($i, ${i % 3 * 10 + 10}, ${i * 100})"))
    Seq(10 -> "a", 20 -> "b", 30 -> "c").foreach { case (k, s) =>
      px.execute(s"UPSERT INTO BD VALUES ($k, '$s')") }
    px.execute("CREATE MATERIALIZED VIEW BMV WITH (BUCKETS = 8, " +
      "IMMUTABLE KEYS (CK)) AS SELECT SEG, COUNT(*), SUM(X) " +
      "FROM BF JOIN BD ON BF.CK = BD.CK GROUP BY SEG")
    // one-segment churn touches a strict subset of the 8 buckets
    px.execute("UPSERT INTO BF VALUES (100, 10, 5)")
    val touched = px.execute("REFRESH MATERIALIZED VIEW BMV").head
      .getAs[Int]("buckets_touched")
    assert(touched >= 1 && touched < 8,
      s"expected a touched-bucket slice, got $touched/8")
    val served = px.execute("SELECT SEG, SUM(X) AS SX FROM BF " +
      "JOIN BD ON BF.CK = BD.CK GROUP BY SEG ORDER BY SEG")
    assert(served.queryExecution.executedPlan.toString
      .contains(px.catalog.mvPath("bmv")))
    assert(served.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 905L), ("b", 500L), ("c", 700L)))
    // IMMUTABLE KEYS is a CONTRACT: mutating an existing fact PK's CK
    // refuses the refresh loudly instead of surfacing stale winners
    px.execute("UPSERT INTO BF VALUES (100, 20, 5)") // ck 10 -> 20
    val e = intercept[Exception] {
      px.execute("REFRESH MATERIALIZED VIEW BMV")
    }
    assert(e.getMessage.contains("immutable"),
      s"expected the immutability refusal, got: ${e.getMessage}")
  }

  test("CREATE MATERIALIZED VIEW over an N-WAY FULL JOIN: the star " +
      "full chain maintains through SQL and serves the 3-way FULL " +
      "query from state") {
    import spark.implicits._
    import graft.operators.{Materialize, MaterializeJoin}
    val px = fresh()
    px.execute("CREATE TABLE GA (OK BIGINT NOT NULL, CK BIGINT, " +
      "PK2 BIGINT, X BIGINT CONSTRAINT PK PRIMARY KEY (OK))")
    px.execute("CREATE TABLE GB (CK BIGINT NOT NULL, SEG VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (CK))")
    px.execute("CREATE TABLE GC (PK2 BIGINT NOT NULL, BRAND VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (PK2))")
    px.execute("UPSERT INTO GA VALUES (1, 10, 100, 5)")
    px.execute("UPSERT INTO GA VALUES (2, 99, 101, 6)") // ck-dangling
    px.execute("UPSERT INTO GA VALUES (3, 20, 88, 7)") // pk2-dangling
    px.execute("UPSERT INTO GB VALUES (10, 'a')")
    px.execute("UPSERT INTO GB VALUES (20, 'b')")
    px.execute("UPSERT INTO GB VALUES (77, 'orphanb')") // side-dangling
    px.execute("UPSERT INTO GC VALUES (100, 'x')")
    px.execute("UPSERT INTO GC VALUES (101, 'y')")
    px.execute("UPSERT INTO GC VALUES (66, 'orphanc')") // side-dangling
    px.execute("CREATE MATERIALIZED VIEW GMV AS SELECT SEG, BRAND, " +
      "COUNT(*), SUM(X) FROM GA FULL JOIN GB ON GA.CK = GB.CK " +
      "FULL JOIN GC ON GA.PK2 = GC.PK2 GROUP BY SEG, BRAND")
    // churn all three tables out-of-band, refresh through SQL
    px.execute("UPSERT INTO GA VALUES (4, 77, 66, 9)") // claims both orphans
    px.execute("DELETE FROM GB WHERE CK = 10") // fact 1 re-dangles
    px.execute("UPSERT INTO GC VALUES (101, 'z')")
    px.execute("REFRESH MATERIALIZED VIEW GMV")
    val q = px.execute("SELECT SEG, BRAND, COUNT(*) AS C, " +
      "SUM(X) AS S FROM GA FULL JOIN GB ON GA.CK = GB.CK " +
      "FULL JOIN GC ON GA.PK2 = GC.PK2 " +
      "GROUP BY SEG, BRAND ORDER BY SEG, BRAND")
    assert(q.queryExecution.executedPlan.toString
      .contains(px.catalog.mvPath("gmv")),
      "the 3-way FULL aggregate must serve from the chain state:\n" +
        q.queryExecution.executedPlan.toString)
    val truth = Materialize.aggregate(
        px.catalog.snapshot("ga")
          .join(px.catalog.snapshot("gb"), Seq("ck"), "full")
          .join(px.catalog.snapshot("gc"), Seq("pk2"), "full"),
        Seq("seg", "brand"), Seq("x"))
      .select($"seg", $"brand", $"cnt", $"sum_x")
      .collect().map(_.toSeq).toSet
    assert(q.collect().map(_.toSeq).toSet == truth,
      "served 3-way FULL result must equal the sequential recompute")
    // and the maintained state equals the recompute directly
    assert(Materialize.read(px.catalog.session,
        px.catalog.mvPath("gmv"))
      .select($"seg", $"brand", $"cnt", $"sum_x")
      .collect().map(_.toSeq).toSet == truth)
  }

  test("CREATE MATERIALIZED VIEW over a JOIN with WHERE: the " +
      "fact-filtered chain maintains through SQL and serves the " +
      "same filtered query; the unfiltered join refuses") {
    val px = fresh()
    px.execute("CREATE TABLE WF (OK BIGINT NOT NULL, CK BIGINT, " +
      "PRICE BIGINT CONSTRAINT PK PRIMARY KEY (OK))")
    px.execute("CREATE TABLE WD (CK BIGINT NOT NULL, SEG VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (CK))")
    (1 to 6).foreach(i => px.execute(
      s"UPSERT INTO WF VALUES ($i, ${i % 2 * 10 + 10}, ${i * 40})"))
    Seq(10 -> "a", 20 -> "b").foreach { case (k, s) =>
      px.execute(s"UPSERT INTO WD VALUES ($k, '$s')") }
    px.execute("CREATE MATERIALIZED VIEW WJV AS SELECT SEG, " +
      "COUNT(*), SUM(PRICE) FROM WF JOIN WD ON WF.CK = WD.CK " +
      "WHERE PRICE > 100 GROUP BY SEG")
    // boundary churn both ways + a delete, refresh through SQL
    px.execute("UPSERT INTO WF VALUES (1, 20, 999)") // 40 -> inside
    px.execute("UPSERT INTO WF VALUES (6, 10, 50)") // 240 -> outside
    px.execute("DELETE FROM WF WHERE OK = 5")
    px.execute("REFRESH MATERIALIZED VIEW WJV")
    val q = px.execute("SELECT SEG, COUNT(*) AS C, SUM(PRICE) AS S " +
      "FROM WF JOIN WD ON WF.CK = WD.CK WHERE PRICE > 100 " +
      "GROUP BY SEG ORDER BY SEG")
    assert(q.queryExecution.executedPlan.toString
      .contains(px.catalog.mvPath("wjv")),
      "the filtered join query must serve from the state:\n" +
        q.queryExecution.executedPlan.toString)
    // rows > 100: a(ck10): k2=80? no (80<100? 80 -> out), k4=160;
    // b(ck20): k1=999, k3=120
    assert(q.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq == Seq(("a", 1L, 160L), ("b", 2L, 1119L)))
    val bare = px.execute("SELECT SEG, COUNT(*) AS C FROM WF " +
      "JOIN WD ON WF.CK = WD.CK GROUP BY SEG")
    assert(!bare.queryExecution.executedPlan.toString
      .contains(px.catalog.mvPath("wjv")),
      "the unfiltered join must refuse the filtered state")
    assert(bare.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet == Set(("a", 3L), ("b", 2L)))
  }

  test("COMPACT TABLE derives its floor from the registered MVs " +
      "(refresh stays incremental); with no MV it compacts fully") {
    import graft.operators.{Materialize, MaterializeJoin}
    val px = fresh()
    px.execute("CREATE TABLE CF (OK BIGINT NOT NULL, CK BIGINT, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (OK))")
    px.execute("CREATE TABLE CD (CK BIGINT NOT NULL, SEG VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (CK))")
    // superseded churn — the bulk compaction reclaims
    (1 to 5).foreach(v => (1 to 4).foreach(i => px.execute(
      s"UPSERT INTO CF VALUES ($i, ${i % 2 * 10 + 10}, ${v * 100 + i})")))
    Seq(10 -> "a", 20 -> "b").foreach { case (k, s) =>
      px.execute(s"UPSERT INTO CD VALUES ($k, '$s')") }
    px.execute("CREATE MATERIALIZED VIEW CMV AS SELECT SEG, COUNT(*), " +
      "SUM(X) FROM CF JOIN CD ON CF.CK = CD.CK GROUP BY SEG")
    // churn past the MV's fold marks, then compact WITHOUT a version:
    // the floor must sit at the marks, not at the head
    px.execute("UPSERT INTO CF VALUES (9, 10, 7)")
    val before = px.catalog.changeLogRaw("cf").count()
    val row = px.execute("COMPACT TABLE CF").collect().head
    assert(row.getString(1) == "floored", s"expected floored: $row")
    assert(px.catalog.changeLogRaw("cf").count() < before,
      "superseded versions must be physically reclaimed")
    // post-compaction churn folds INCREMENTALLY and serves exactly
    px.execute("UPSERT INTO CF VALUES (2, 20, 55)")
    val report = px.execute("REFRESH MATERIALIZED VIEW CMV").head
    assert(!report.getAs[Boolean]("rebuild_ran"),
      "COMPACT TABLE must keep registered MVs incremental")
    val served = px.execute("SELECT SEG, SUM(X) AS SX FROM CF " +
      "JOIN CD ON CF.CK = CD.CK GROUP BY SEG ORDER BY SEG")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // ck = i%2*10+10 → odd i lands ck=20 (b), even ck=10 (a); k2 moved
    // to ck=20 with x=55. seg a: k4=504, k9=7; seg b: k1=501, k3=503,
    // k2=55
    assert(served == Seq(("a", 511L), ("b", 1059L)),
      s"post-compaction serve diverged: $served")
    // MV-less table: full compaction (history discarded)
    px.execute("CREATE TABLE CN (K BIGINT NOT NULL, X BIGINT " +
      "CONSTRAINT PK PRIMARY KEY (K))")
    px.execute("UPSERT INTO CN VALUES (1, 1)")
    px.execute("UPSERT INTO CN VALUES (1, 2)")
    val r2 = px.execute("COMPACT TABLE CN").collect().head
    assert(r2.getString(1) == "full")
    assert(px.catalog.changeLogRaw("cn").count() == 1)
  }

  test("CREATE MATERIALIZED VIEW ... WHERE: the filtered state " +
      "refreshes under the meta-carried predicate and serves only " +
      "the matching query") {
    import graft.operators.Materialize
    val px = fresh()
    px.execute("CREATE TABLE WT (K BIGINT NOT NULL, G VARCHAR, " +
      "M BIGINT CONSTRAINT PK PRIMARY KEY (K))")
    (1 to 8).foreach(i => px.execute(
      s"UPSERT INTO WT VALUES ($i, '${if (i % 2 == 0) "e" else "o"}', " +
        s"${i * 10})"))
    px.execute("CREATE MATERIALIZED VIEW WMV AS SELECT G, COUNT(*), " +
      "SUM(M) FROM WT WHERE M > 30 GROUP BY G")
    // boundary churn: k=1 (m=10, outside) moves inside; k=8 (m=80,
    // inside) moves outside; k=6 deleted (retraction inside)
    px.execute("UPSERT INTO WT VALUES (1, 'o', 99)")
    px.execute("UPSERT INTO WT VALUES (8, 'e', 5)")
    px.execute("DELETE FROM WT WHERE K = 6")
    px.execute("REFRESH MATERIALIZED VIEW WMV")
    val q = px.execute("SELECT G, COUNT(*) AS C, SUM(M) AS S " +
      "FROM WT WHERE M > 30 GROUP BY G ORDER BY G")
    assert(q.queryExecution.executedPlan.toString
      .contains(px.catalog.mvPath("wmv")),
      "the matching filtered query must serve from the state:\n" +
        q.queryExecution.executedPlan.toString)
    // o: k=1(99), k=5(50), k=7(70); e: k=4(40)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq == Seq(("e", 1L, 40L), ("o", 3L, 219L)))
    // the filter-less rollup refuses the filtered state and still
    // answers exactly through the fallback
    val bare = px.execute(
      "SELECT G, SUM(M) AS S FROM WT GROUP BY G ORDER BY G")
    assert(!bare.queryExecution.executedPlan.toString
      .contains(px.catalog.mvPath("wmv")))
    assert(bare.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("e", 65L), ("o", 249L)))
    // an API refresh with no filter in hand stays correct: the
    // predicate rides the META, not the caller
    px.execute("UPSERT INTO WT VALUES (9, 'o', 31)")
    Materialize.refresh(px.catalog, px.catalog.mvPath("wmv"))
    val rows = Materialize.read(px.catalog.session,
        px.catalog.mvPath("wmv"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("cnt"))).toMap
    assert(rows == Map("e" -> 1L, "o" -> 4L),
      s"meta-carried filter must govern API refreshes too: $rows")
  }

  test("CREATE MATERIALIZED VIEW over a JOIN + DATE_TRUNC grain: " +
      "chain state maintains and serves through SQL only") {
    val px = fresh()
    px.execute("CREATE TABLE MF (OK BIGINT NOT NULL, CK BIGINT, " +
      "PRICE BIGINT CONSTRAINT PK PRIMARY KEY (OK))")
    px.execute("CREATE TABLE MD (CK BIGINT NOT NULL, SEG VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (CK))")
    px.execute("UPSERT INTO MF VALUES (1, 10, 100)")
    px.execute("UPSERT INTO MF VALUES (2, 20, 50)")
    px.execute("UPSERT INTO MD VALUES (10, 'a')")
    px.execute("UPSERT INTO MD VALUES (20, 'b')")
    px.execute("CREATE MATERIALIZED VIEW MVJ AS SELECT SEG, " +
      "COUNT(*), SUM(PRICE) FROM MF JOIN MD ON MF.CK = MD.CK " +
      "GROUP BY SEG")
    val mvPath = px.catalog.mvPath("mvj")
    def run(expectServed: Boolean) = {
      val q = px.execute("SELECT SEG, SUM(PRICE) AS rev FROM MF " +
        "JOIN MD ON MF.CK = MD.CK GROUP BY SEG ORDER BY SEG")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(mvPath) == expectServed,
        s"expected served=$expectServed:\n$plan")
      q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(run(expectServed = true) == Seq(("a", 100L), ("b", 50L)))
    // churn the DIM through SQL, refresh through SQL, serve again
    px.execute("UPSERT INTO MD VALUES (20, 'a')")
    assert(run(expectServed = false) == Seq(("a", 150L)))
    px.execute("REFRESH MATERIALIZED VIEW MVJ")
    assert(run(expectServed = true) == Seq(("a", 150L)))
    // DATE_TRUNC grain through the DDL: a day-grain single-table MV
    // parses, builds with the grain expression, and serves the same
    // date_trunc grouping
    px.execute("CREATE TABLE ME (K BIGINT NOT NULL, TS TIMESTAMP, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (K))")
    px.execute("UPSERT INTO ME VALUES (1, " +
      "TO_TIMESTAMP('2026-01-03 10:00:00'), 7)")
    px.execute("UPSERT INTO ME VALUES (2, " +
      "TO_TIMESTAMP('2026-01-03 23:00:00'), 5)")
    px.execute("UPSERT INTO ME VALUES (3, " +
      "TO_TIMESTAMP('2026-02-04 00:30:00'), 11)")
    px.execute("CREATE MATERIALIZED VIEW MVG AS SELECT " +
      "DATE_TRUNC('day', TS) AS D, COUNT(*), SUM(X) FROM ME " +
      "GROUP BY D")
    val qg = px.execute("SELECT DATE_TRUNC('day', TS) AS D, " +
      "SUM(X) AS sum_x FROM ME GROUP BY DATE_TRUNC('day', TS) " +
      "ORDER BY D")
    val pg = qg.queryExecution.executedPlan.toString
    assert(pg.contains(px.catalog.mvPath("mvg")),
      s"grain MV did not serve:\n$pg")
    assert(qg.collect().map(r => (r.getTimestamp(0).toString,
      r.getLong(1))).toSeq ==
      Seq(("2026-01-03 00:00:00.0", 12L), ("2026-02-04 00:00:00.0", 11L)))
  }

  test("CREATE MATERIALIZED VIEW over a SNOWFLAKE join: a dim-on-dim " +
      "ON clause parses, builds the tree chain, and serves") {
    val px = fresh()
    px.execute("CREATE TABLE DF (OK BIGINT NOT NULL, CK BIGINT, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (OK))")
    px.execute("CREATE TABLE DC (CK BIGINT NOT NULL, NK BIGINT " +
      "CONSTRAINT PK PRIMARY KEY (CK))")
    px.execute("CREATE TABLE DN (NK BIGINT NOT NULL, NNAME VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (NK))")
    px.execute("UPSERT INTO DF VALUES (1, 10, 100)")
    px.execute("UPSERT INTO DF VALUES (2, 20, 50)")
    px.execute("UPSERT INTO DC VALUES (10, 1)")
    px.execute("UPSERT INTO DC VALUES (20, 2)")
    px.execute("UPSERT INTO DN VALUES (1, 'de')")
    px.execute("UPSERT INTO DN VALUES (2, 'fr')")
    px.execute("CREATE MATERIALIZED VIEW DMV AS SELECT NNAME, " +
      "COUNT(*), SUM(X) FROM DF JOIN DC ON DF.CK = DC.CK " +
      "JOIN DN ON DC.NK = DN.NK GROUP BY NNAME")
    def run(expectServed: Boolean) = {
      val q = px.execute("SELECT NNAME, SUM(X) AS sx FROM DF " +
        "JOIN DC ON DF.CK = DC.CK JOIN DN ON DC.NK = DN.NK " +
        "GROUP BY NNAME ORDER BY NNAME")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(px.catalog.mvPath("dmv")) == expectServed,
        s"expected served=$expectServed:\n$plan")
      q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(run(expectServed = true) == Seq(("de", 100L), ("fr", 50L)))
    // INTERMEDIATE dim churn through SQL: customer 20 moves to nation
    // 1 — refresh folds it through the tree legs and re-serves
    px.execute("UPSERT INTO DC VALUES (20, 1)")
    assert(run(expectServed = false) == Seq(("de", 150L)))
    px.execute("REFRESH MATERIALIZED VIEW DMV")
    assert(run(expectServed = true) == Seq(("de", 150L)))
  }

  test("SNOWFLAKE MV serving: fact ⋈ dim ⋈ dim-on-dim front-end " +
      "query serves from chain state (nullable keys incl. the " +
      "intermediate snowflake key)") {
    import graft.operators.{Materialize, MaterializeJoin}
    val px = fresh()
    val cat = px.catalog
    px.execute("CREATE TABLE SF (OK BIGINT NOT NULL, CK BIGINT, " +
      "X BIGINT CONSTRAINT PK PRIMARY KEY (OK))")
    px.execute("CREATE TABLE SC (CK BIGINT NOT NULL, NK BIGINT " +
      "CONSTRAINT PK PRIMARY KEY (CK))")
    px.execute("CREATE TABLE SN (NK BIGINT NOT NULL, NNAME VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (NK))")
    px.execute("UPSERT INTO SF VALUES (1, 10, 100)")
    px.execute("UPSERT INTO SF VALUES (2, 20, 50)")
    px.execute("UPSERT INTO SC VALUES (10, 1)")
    px.execute("UPSERT INTO SC VALUES (20, 2)")
    px.execute("UPSERT INTO SN VALUES (1, 'de')")
    px.execute("UPSERT INTO SN VALUES (2, 'fr')")
    Seq("sf", "sc", "sn").foreach(cat.refreshSnapshotCache)
    val mv = java.nio.file.Files
      .createTempDirectory("graft_mvsql_snow").toString
    Materialize.build(cat,
      MaterializeJoin.ChainSpec("sf", Seq(
        MaterializeJoin.SideSpec("sc", Seq("ck")),
        MaterializeJoin.SideSpec("sn", Seq("nk")))),
      Seq("nname"), Seq("x"), mv)
    Materialize.registerForRewrite(cat, mv)
    val q = px.execute("SELECT NNAME, SUM(X) AS sx FROM SF " +
      "JOIN SC ON SF.CK = SC.CK JOIN SN ON SC.NK = SN.NK " +
      "GROUP BY NNAME ORDER BY NNAME")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(mv), s"snowflake query did not serve:\n$plan")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("de", 100L), ("fr", 50L)))
    // omitting the LEAF join refuses (innerState presence) but stays
    // correct via the direct plan
    val q2 = px.execute("SELECT SUM(X) AS sx FROM SF " +
      "JOIN SC ON SF.CK = SC.CK")
    assert(!q2.queryExecution.executedPlan.toString.contains(mv))
    assert(q2.collect().head.getLong(0) == 150L)
  }

  test("LEFT-join MV serving matrix: a LEFT OUTER front-end query " +
      "serves from the leftState; INNER and bare-fact refuse") {
    import graft.operators.{Materialize, MaterializeJoin}
    val px = fresh()
    val cat = px.catalog
    px.execute("CREATE TABLE LF (OK BIGINT NOT NULL, CK BIGINT, " +
      "PRICE BIGINT CONSTRAINT PK PRIMARY KEY (OK))")
    px.execute("CREATE TABLE LD (CK BIGINT NOT NULL, SEG VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (CK))")
    px.execute("UPSERT INTO LF VALUES (1, 10, 100)")
    px.execute("UPSERT INTO LF VALUES (2, 99, 50)") // dangling
    px.execute("UPSERT INTO LD VALUES (10, 'a')")
    cat.refreshSnapshotCache("lf"); cat.refreshSnapshotCache("ld")
    val mv = java.nio.file.Files
      .createTempDirectory("graft_mvsql_left").toString
    Materialize.build(cat,
      ChainSpec("lf", Seq(SideSpec("ld", Seq("ck"))), leftOuter = true),
      Seq("seg"), Seq("price"), mv)
    Materialize.registerForRewrite(cat, mv)
    def run(sql: String, expectServed: Boolean) = {
      val q = px.execute(sql)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(mv) == expectServed,
        s"expected served=$expectServed:\n$plan")
      q.collect().map(r => (Option(r.getString(0)).orNull,
        r.getLong(1))).toSeq
    }
    // LEFT query: serves, NULL group included
    assert(run("SELECT SEG, SUM(PRICE) AS rev FROM LF LEFT JOIN LD " +
      "ON LF.CK = LD.CK GROUP BY SEG ORDER BY SEG",
      expectServed = true).toSet == Set((null, 50L), ("a", 100L)))
    // INNER query: refuses (it would drop the NULL group the state
    // counted), falls back to a correct direct plan
    assert(run("SELECT SEG, SUM(PRICE) AS rev FROM LF JOIN LD " +
      "ON LF.CK = LD.CK GROUP BY SEG ORDER BY SEG",
      expectServed = false) == Seq(("a", 100L)))
    // bare-fact aggregate: refuses (the side may carry duplicate keys)
    val q3 = px.execute("SELECT SUM(PRICE) AS rev FROM LF")
    assert(!q3.queryExecution.executedPlan.toString.contains(mv))
    assert(q3.collect().head.getLong(0) == 150L)
  }

  test("freshness gate, join MV: out-of-band churn on EITHER chain " +
      "table refuses the serve until refresh") {
    import graft.operators.{Materialize, MaterializeJoin}
    val px = fresh()
    val cat = px.catalog
    px.execute("CREATE TABLE JF (OK BIGINT NOT NULL, CK BIGINT, " +
      "PRICE BIGINT CONSTRAINT PK PRIMARY KEY (OK)) " +
      "SNAPSHOT_CACHE_BATCHES=1")
    px.execute("CREATE TABLE JD (CK BIGINT NOT NULL, SEG VARCHAR " +
      "CONSTRAINT PK PRIMARY KEY (CK)) SNAPSHOT_CACHE_BATCHES=1")
    px.execute("UPSERT INTO JF VALUES (1, 10, 100)")
    px.execute("UPSERT INTO JF VALUES (2, 20, 50)")
    px.execute("UPSERT INTO JD VALUES (10, 'a')")
    px.execute("UPSERT INTO JD VALUES (20, 'b')")
    cat.refreshSnapshotCache("jf"); cat.refreshSnapshotCache("jd")
    val mv = java.nio.file.Files
      .createTempDirectory("graft_mvsql_jfresh").toString
    Materialize.build(cat,
      ChainSpec("jf", Seq(SideSpec("jd", Seq("ck")))),
      Seq("seg"), Seq("price"), mv)
    Materialize.registerForRewrite(cat, mv)
    def run(expectServed: Boolean) = {
      val q = px.execute("SELECT SEG, SUM(PRICE) AS rev FROM JF " +
        "JOIN JD ON JF.CK = JD.CK GROUP BY SEG ORDER BY SEG")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(mv) == expectServed,
        s"expected served=$expectServed:\n$plan")
      q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(run(expectServed = true) == Seq(("a", 100L), ("b", 50L)))
    // churn the DIM side only (threshold 1 ⇒ cache exactly fresh
    // immediately): the fact's marks still line up, the dim's don't —
    // the probe must catch the side mark
    px.execute("UPSERT INTO JD VALUES (20, 'a')")
    assert(run(expectServed = false) == Seq(("a", 150L)),
      "dim churn without an MV refresh must refuse the serve and " +
        "return fresh numbers")
    Materialize.refresh(cat, mv)
    assert(run(expectServed = true) == Seq(("a", 150L)))
  }

  test("DROP TABLE refuses under registered MVs (typed, naming them); " +
      "CASCADE tears the MVs down first; a post-CASCADE SELECT plans " +
      "without the dead registration; COMPACT TABLE's derived floor " +
      "covers API-registered MVs too") {
    import spark.implicits._
    val px = fresh()
    val cat = px.catalog
    px.execute("CREATE TABLE MT (ID BIGINT NOT NULL PRIMARY KEY, " +
      "G VARCHAR, X BIGINT)")
    px.execute("UPSERT INTO MT VALUES (1, 'a', 10)")
    px.execute("UPSERT INTO MT VALUES (2, 'b', 20)")
    px.execute("CREATE MATERIALIZED VIEW MMV AS SELECT G, COUNT(*), " +
      "SUM(X) FROM MT GROUP BY G")
    val e = intercept[IllegalArgumentException](px.execute("DROP TABLE MT"))
    assert(e.getMessage.contains("materialized views") &&
      e.getMessage.contains("mmv"),
      s"the refusal must be typed and name the MV, got: $e")
    assert(cat.hasTable("mt"), "a refused drop must leave the table")
    // COMPACT TABLE floors from an MV registered through the SCALA API
    // (no DDL definition) — the DDL-only derivation silently
    // full-compacted these
    px.execute("CREATE TABLE AT2 (ID BIGINT NOT NULL PRIMARY KEY, " +
      "G VARCHAR, X BIGINT)")
    cat.upsert("at2",
      Seq((1L, "a", 5L), (2L, "b", 6L)).toDF("id", "g", "x"))
    val mv2 = s"${cat.tablePath("at2")}_apimv"
    graft.operators.Materialize.build(cat, ChainSpec("at2"), Seq("g"), Seq("x"),
      mv2)
    graft.operators.Materialize.registerForRewrite(cat, mv2)
    cat.upsert("at2", Seq((1L, "a", 7L)).toDF("id", "g", "x"))
    graft.operators.Materialize.refresh(cat, mv2)
    val mode = px.execute("COMPACT TABLE AT2").collect().head
    assert(mode.getString(1) == "floored",
      s"an API-registered MV must floor the compaction, got $mode")
    cat.upsert("at2", Seq((3L, "c", 8L)).toDF("id", "g", "x"))
    val r = graft.operators.Materialize.refresh(cat, mv2)
    assert(!r.rebuildRan,
      "post-COMPACT refresh over an API-registered MV must stay " +
        "incremental — the derived floor covered its fold mark")
    // CASCADE: MV state + registration + dependency ledger + table
    px.execute("DROP TABLE MT CASCADE")
    assert(!cat.hasTable("mt"))
    assert(cat.mvDependents("mt").isEmpty)
    assert(!new java.io.File(cat.mvPath("mmv")).exists(),
      "CASCADE must delete the MV state")
    // a re-created table of the same name plans WITHOUT the dead
    // registration (and DROP MATERIALIZED VIEW on it says unknown)
    val gone = intercept[IllegalArgumentException](
      px.execute("DROP MATERIALIZED VIEW MMV"))
    assert(gone.getMessage.contains("unknown materialized view"))
    px.execute("CREATE TABLE MT (ID BIGINT NOT NULL PRIMARY KEY, " +
      "G VARCHAR, X BIGINT)")
    px.execute("UPSERT INTO MT VALUES (5, 'z', 1)")
    val q = px.execute("SELECT G, COUNT(*) AS cnt FROM MT GROUP BY G")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("_mv/mmv"),
      s"a dead MV registration leaked into the plan:\n$plan")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("z", 1L)))
  }

  test("VACUUM TABLE reclaims orphan rows above the published counter") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val px = fresh()
    val cat = px.catalog
    px.execute("CREATE TABLE VT (ID BIGINT NOT NULL PRIMARY KEY, " +
      "X BIGINT)")
    px.execute("UPSERT INTO VT VALUES (1, 10)")
    // a refused/crashed writer's append: physically in the log dir,
    // stamped above the published counter
    Seq((9L, 99L)).toDF("id", "x")
      .withColumn("_version", lit(100L))
      .withColumn("_deleted", lit(false))
      .withColumn("_ts", lit(new java.sql.Timestamp(0L)))
      .write.mode("append").parquet(s"${cat.tablePath("vt")}/data")
    assert(px.execute("SELECT COUNT(*) AS c FROM VT")
      .collect().head.getLong(0) == 1L,
      "orphans must be invisible to SQL reads before the vacuum too")
    val r = px.execute("VACUUM TABLE VT").collect().head
    assert(r.getString(0) == "vt" && r.getLong(1) == 1L,
      s"one orphan row must be reclaimed, got $r")
    assert(px.execute("VACUUM TABLE VT").collect().head.getLong(1) == 0L)
    assert(px.execute("SELECT ID, X FROM VT").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 10L)))
  }
}
