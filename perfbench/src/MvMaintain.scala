package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.sources.{GraftCatalog, PhoenixSql}
import java.io.File
import scala.collection.mutable

/** Incremental MV maintenance: a join MV over fact `jl` ⋈ dim `jo` and
  * a single-table MV over `ev`, both created with SQL DDL. Each cycle
  * writes a seeded delta through `GraftCatalog.upsert/delete`, refreshes
  * both MVs, runs one aggregate SELECT that the join MV serves, and one
  * ad-hoc battery entry over the generated tables. The served rows must
  * equal a recompute over `GraftCatalog.snapshot` and the plan must scan
  * the MV state; each entry must count the rows the DuckDB oracle
  * checks after the run. */
final class MvMaintain(ctx: Ctx) extends Workload {
  import MvMaintain._

  val ops = Seq("delta", "refresh_join", "refresh_single", "mv_serve") ++
    Adhoc.map(AdhocOp)
  // regroup, delete, neither
  val round = 3

  private var sql: PhoenixSql = _
  private def cat: GraftCatalog = sql.catalog
  private var mvRoot = ""
  private val expected = mutable.Map[String, Long]()

  // client-side models, only to aim deltas (retract the current MIN/MAX)
  private val facts = mutable.HashMap[(Long, Int), Long]()
  private val dims = mutable.HashMap[Long, String]()
  private val evs = mutable.HashMap[Long, Long]()
  private var nextLine = 100
  private var nextEv = 0L

  private val jlBase = ctx.spark.read.parquet(s"${ctx.data}/lineitem.parquet")
    .select(col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
      col("l_quantity").cast(LongType).as("qty"),
      (col("l_extendedprice") * 100).cast(LongType).as("price"),
      col("l_returnflag").as("flag"))
  private val joBase = ctx.spark.read.parquet(s"${ctx.data}/orders.parquet")
    .select(col("o_orderkey").as("okey"),
      col("o_orderpriority").as("prio"), col("o_custkey").as("cust"))
  private val evBase = ctx.spark.read.parquet(s"${ctx.data}/events.parquet")
    .select(col("event_id").as("eid"), col("event_type").as("etype"),
      col("user_id").as("uid"), (col("value") * 100).cast(LongType).as("val"))
  private val baseFacts = jlBase.select("okey", "lnum", "price").collect()
    .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
  private val baseDims = joBase.select("okey", "prio").collect()
    .map(r => r.getLong(0) -> r.getString(1))
  private val baseEvs = evBase.select("eid", "val").collect()
    .map(r => r.getLong(0) -> r.getLong(1))
  private val okeys = baseDims.map(_._1).toIndexedSeq.sorted

  def setUp(rep: Int): (Double, Double) = {
    val wh = ctx.freshWarehouse(rep)
    facts.clear(); facts ++= baseFacts
    dims.clear(); dims ++= baseDims
    evs.clear(); evs ++= baseEvs
    nextLine = 100
    nextEv = evs.keys.max + 1
    mvRoot = new java.io.File(wh, "_mv").getPath
    sql = new PhoenixSql(ctx.spark, new GraftCatalog(ctx.spark, wh.getPath))
    def ddl(s: String) = ctx.call("PhoenixSql.execute")(sql.execute(s))
    ddl("CREATE TABLE jl (okey BIGINT NOT NULL, lnum INTEGER NOT NULL, " +
      "qty BIGINT, price BIGINT, flag VARCHAR " +
      "CONSTRAINT pk PRIMARY KEY (okey, lnum))")
    ddl("CREATE TABLE jo (okey BIGINT NOT NULL, prio VARCHAR, cust BIGINT " +
      "CONSTRAINT pk PRIMARY KEY (okey))")
    ddl("CREATE TABLE ev (eid BIGINT NOT NULL, etype VARCHAR, uid BIGINT, " +
      "val BIGINT CONSTRAINT pk PRIMARY KEY (eid))")
    val t0 = System.nanoTime
    Seq("jl" -> jlBase, "jo" -> joBase, "ev" -> evBase).foreach {
      case (t, df) => ctx.call("GraftCatalog.upsert")(cat.upsert(t, df))
    }
    val t1 = System.nanoTime
    ddl(s"CREATE MATERIALIZED VIEW mvj AS SELECT prio, $JoinAggs " +
      "FROM jl JOIN jo ON jl.okey = jo.okey GROUP BY prio")
    ddl("CREATE MATERIALIZED VIEW mvs AS SELECT etype, COUNT(*), " +
      "SUM(val), MIN(val), MAX(val) FROM ev GROUP BY etype")
    ((t1 - t0) / 1e9, (System.nanoTime - t1) / 1e9)
  }

  /** One cycle with both delta variants, then each ad-hoc entry cold:
    * its rows go to `results/` for the oracle check. */
  def warmUp(): Unit = {
    run(regroup = true, delete = true)
    val out = new File(ctx.work, "results")
    Adhoc.foreach { e =>
      val path = new File(out, e).getPath
      ctx.call("SparkEntry.queries")(SparkEntry.queries(e)(ctx.spark,
        ctx.data).coalesce(1).write.mode("overwrite").parquet(path))
      expected(e) = ctx.spark.read.parquet(path).count()
    }
    java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath,
      Adhoc.map(e => Json.str(e) + ": " + Json.str(SparkEntry.oracleSql(e)))
        .mkString("{", ", ", "}"))
  }

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(rows, 1), schema)

  /** New facts and MIN/MAX-retracting updates, plus a dim regroup or a
    * fact delete. */
  private def delta(regroup: Boolean, delete: Boolean): Unit = {
    val rng = ctx.rng
    val newFacts = Iterator.continually(okeys(rng.nextInt(okeys.size)))
      .distinct.take(NewFacts).toSeq.map { o =>
        Row(o, nextLine, (rng.nextInt(50) + 1).toLong,
          (rng.nextInt(190000) + 90000).toLong, Flags(rng.nextInt(Flags.size)))
      }
    nextLine += 1
    val (maxK, _) = facts.maxBy(_._2)
    val (minK, _) = facts.minBy(_._2)
    val moved = Seq(maxK -> 50000L, minK -> 150000L) ++
      (0 until Updates).map { _ =>
        val k = facts.keysIterator.drop(rng.nextInt(1000)).next()
        k -> (rng.nextInt(190000) + 90000).toLong
      }
    val updates = moved.toMap.toSeq.map { case ((o, l), p) =>
      Row(o, l, (rng.nextInt(50) + 1).toLong, p, Flags(rng.nextInt(3)))
    }
    ctx.call("GraftCatalog.upsert")(
      cat.upsert("jl", df(newFacts ++ updates, JlSchema)))
    ctx.sent(newFacts ++ updates)
    (newFacts ++ updates).foreach(r =>
      facts((r.getLong(0), r.getInt(1))) = r.getLong(3))
    if (regroup) {
      val moves = (0 until Regroup).map { _ =>
        Row(okeys(rng.nextInt(okeys.size)), Prios(rng.nextInt(Prios.size)),
          rng.nextInt(1000).toLong)
      }
      ctx.call("GraftCatalog.upsert")(cat.upsert("jo", df(moves, JoSchema)))
      ctx.sent(moves)
      moves.foreach(r => dims(r.getLong(0)) = r.getString(1))
    }
    if (delete) {
      val gone = facts.keysIterator.drop(rng.nextInt(1000)).take(Deletes)
        .toSeq
      ctx.call("GraftCatalog.delete")(cat.delete("jl", gone.map {
        case (o, l) => col("okey") === o && col("lnum") === l
      }.reduce(_ || _)))
      gone.foreach(facts.remove)
    }
    val (evMax, _) = evs.maxBy(_._2)
    val (evMin, _) = evs.minBy(_._2)
    val evRows = (0 until NewFacts).map { _ =>
      nextEv += 1
      Row(nextEv - 1, ETypes(rng.nextInt(ETypes.size)),
        rng.nextInt(500).toLong, rng.nextInt(10000).toLong)
    } ++ Seq(Row(evMax, "view", 1L, 5000L), Row(evMin, "click", 2L, 6000L))
    ctx.call("GraftCatalog.upsert")(cat.upsert("ev", df(evRows, EvSchema)))
    ctx.sent(evRows)
    evRows.foreach(r => evs(r.getLong(0)) = r.getLong(3))
  }

  private def rowsOf(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq).sortBy(_.head.toString)

  /** Each round regroups dims, then deletes facts, then does neither. */
  def cycle(i: Int): Unit = {
    run(regroup = i % 3 == 0, delete = i % 3 == 1)
    Adhoc.foreach(e => ctx.op(AdhocOp(e))(ctx.call("SparkEntry.queries")(
      SparkEntry.queries(e)(ctx.spark, ctx.data).queryExecution.toRdd
        .count()))(_ == expected(e)))
  }

  private def run(regroup: Boolean, delete: Boolean): Unit = {
    ctx.op("delta")(delta(regroup, delete))(_ => true)
    ctx.op("refresh_join")(ctx.call("PhoenixSql.execute")(
      sql.execute("REFRESH MATERIALIZED VIEW mvj")))(_ => true)
    ctx.op("refresh_single")(ctx.call("PhoenixSql.execute")(
      sql.execute("REFRESH MATERIALIZED VIEW mvs")))(_ => true)
    ctx.op("mv_serve") {
      ctx.call("PhoenixSql.execute") {
        val d = sql.execute(s"SELECT prio, $ServeAggs FROM jl JOIN jo " +
          "ON jl.okey = jo.okey GROUP BY prio")
        (rowsOf(d), d)
      }
    } { case (got, d) =>
      val fromState = d.inputFiles.exists(_.contains(mvRoot))
      ctx.count("mv.serves")
      if (fromState) ctx.count("mv.served")
      val want = ctx.call("GraftCatalog.snapshot")(rowsOf(
        cat.snapshot("jl").join(cat.snapshot("jo"), "okey")
          .groupBy("prio").agg(count(lit(1)), sum("qty"), min("price"),
            max("price"))))
      if (!fromState)
        System.err.println("[perfbench] mv_serve did not scan the MV state")
      fromState && got == want
    }
  }
}

object MvMaintain {
  /** read-only battery entries: a relational one (semi/anti joins) and
    * one on the custom kernels (`TextAnalysis` with the `ln` and
    * `top_scored` functions) */
  val Adhoc = IndexedSeq("q_tpch_q21", "q_tfidf_terms")
  def AdhocOp(entry: String) = s"analytics.$entry"
  val JoinAggs = "COUNT(*), SUM(qty), MIN(price), MAX(price)"
  val ServeAggs = "COUNT(*) AS n, SUM(qty) AS q, MIN(price) AS lo, " +
    "MAX(price) AS hi"
  val NewFacts = 50
  val Updates = 20
  val Regroup = 10
  val Deletes = 5
  val Flags = IndexedSeq("A", "N", "R")
  val ETypes = IndexedSeq("click", "view", "purchase", "error", "login")
  val Prios = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  val JlSchema = StructType(Seq(StructField("okey", LongType),
    StructField("lnum", IntegerType), StructField("qty", LongType),
    StructField("price", LongType), StructField("flag", StringType)))
  val JoSchema = StructType(Seq(StructField("okey", LongType),
    StructField("prio", StringType), StructField("cust", LongType)))
  val EvSchema = StructType(Seq(StructField("eid", LongType),
    StructField("etype", StringType), StructField("uid", LongType),
    StructField("val", LongType)))
}
