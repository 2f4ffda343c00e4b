package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{GraftCatalog, PhoenixSql}
import scala.collection.mutable

/** Pherf-shaped OLTP traffic on one PK table, all through
  * `PhoenixSql.execute`: a 100-row UPSERT (half new keys, half
  * overwrites), a point read, a 400-key range read and a per-customer
  * COUNT/SUM. Every read is checked against the client's own model of
  * the table: the seeded base rows plus every acknowledged UPSERT. */
final class OltpMix(ctx: Ctx) extends Workload {
  import OltpMix._

  val ops = Seq("upsert", "point_read", "range_read", "agg_read")
  // one snapshot-cache rebuild per round
  val round = CacheBatches

  private var sql: PhoenixSql = _
  private var model = mutable.HashMap[Long, Ord]()
  private var byCust = mutable.HashMap[Long, (Long, BigDecimal)]()
  private val base = ctx.spark.read.parquet(s"${ctx.data}/orders.parquet")
    .select(col("o_orderkey").as("okey"), col("o_custkey").as("ckey"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").cast(DecimalType(12, 2)).as("price"),
      col("o_orderpriority").as("prio"))
  rows(base).foreach(put)
  private val baseModel = (model.clone(), byCust.clone())
  private val baseNextKey = model.keys.max + 1
  private var nextKey = baseNextKey
  private val nCust = model.values.map(_.ckey).max + 1
  private var lastWritten = IndexedSeq.empty[Long]

  private def put(o: Ord): Unit = {
    model.put(o.okey, o).foreach { old =>
      val (n, s) = byCust(old.ckey)
      byCust(old.ckey) = (n - 1, s - old.price)
    }
    val (n, s) = byCust.getOrElse(o.ckey, (0L, BigDecimal(0)))
    byCust(o.ckey) = (n + 1, s + o.price)
  }

  def setUp(rep: Int): (Double, Double) = {
    val wh = ctx.freshWarehouse(rep)
    model = baseModel._1.clone()
    byCust = baseModel._2.clone()
    nextKey = baseNextKey
    lastWritten = IndexedSeq.empty
    sql = new PhoenixSql(ctx.spark,
      new GraftCatalog(ctx.spark, wh.getPath))
    ctx.call("PhoenixSql.execute")(sql.execute(
      "CREATE TABLE ord (okey BIGINT NOT NULL, ckey BIGINT, " +
        "status VARCHAR, price DECIMAL(12,2), prio VARCHAR " +
        "CONSTRAINT pk PRIMARY KEY (okey)) " +
        s"SNAPSHOT_CACHE_BATCHES=$CacheBatches"))
    val t0 = System.nanoTime
    ctx.call("GraftCatalog.upsert")(sql.catalog.upsert("ord", base))
    ((System.nanoTime - t0) / 1e9, 0.0)
  }

  /** Two cycles: with the ingest as version 0, the second upsert is the
    * third batch past an empty cache and builds the first one. */
  def warmUp(): Unit = (-2 to -1).foreach(cycle)

  private def rows(df: DataFrame): Seq[Ord] =
    df.collect().toSeq.map(r => Ord(r.getLong(0), r.getLong(1),
      r.getString(2), BigDecimal(r.getDecimal(3)), r.getString(4)))

  /** Runs a read; a traced run also notes whether the plan scanned only
    * the snapshot cache. */
  private def read[T](name: String, q: String)(get: DataFrame => T)(
      check: T => Boolean): Unit =
    ctx.op(name) {
      ctx.call("PhoenixSql.execute") {
        val d = sql.execute(q)
        (get(d), d)
      }
    } { case (out, d) =>
      if (ctx.tracer.enabled) {
        ctx.count("catalog.reads")
        if (d.inputFiles.forall(_.contains("/_snapcache/")))
          ctx.count("catalog.cache_reads")
      }
      check(out)
    }

  def cycle(i: Int): Unit = {
    val rng = ctx.rng
    // half new keys, half overwrites of distinct existing keys
    val fresh = nextKey until nextKey + BatchRows / 2
    val over = Iterator.continually(rng.nextLong(nextKey)).distinct
      .take(BatchRows - fresh.size).toSeq
    nextKey = fresh.end
    val batch = (fresh ++ over).map { k =>
      Ord(k, rng.nextLong(nCust),
        Statuses(rng.nextInt(Statuses.size)),
        BigDecimal(rng.nextInt(45000000) + 90000, 2),
        Prios(rng.nextInt(Prios.size)))
    }
    val values = batch.map(o => s"(${o.okey}, ${o.ckey}, '${o.status}', " +
      s"${o.price.bigDecimal.toPlainString}, '${o.prio}')").mkString(", ")
    val stmt = s"UPSERT INTO ord ($Cols) VALUES $values"
    ctx.count("user_bytes", values.length)
    ctx.op("upsert")(ctx.call("PhoenixSql.execute")(sql.execute(stmt)))(
      _ => true).foreach { _ =>
      batch.foreach(put)
      lastWritten = batch.map(_.okey).toIndexedSeq
    }
    val pk =
      if (rng.nextBoolean() && lastWritten.nonEmpty)
        lastWritten(rng.nextInt(lastWritten.size))
      else rng.nextLong(nextKey)
    read("point_read", s"SELECT $Cols FROM ord WHERE okey = $pk")(rows)(
      _ == model.get(pk).toSeq)
    val lo = rng.nextLong(nextKey - RangeKeys)
    val hi = lo + RangeKeys - 1
    read("range_read",
      s"SELECT $Cols FROM ord WHERE okey BETWEEN $lo AND $hi")(rows)(got =>
      got.sortBy(_.okey) == (lo to hi).flatMap(model.get))
    val ck = rng.nextLong(nCust)
    read("agg_read",
      s"SELECT COUNT(*) AS n, SUM(price) AS s FROM ord WHERE ckey = $ck")(
      _.collect().head)(r => {
      val (n, s) = byCust.getOrElse(ck, (0L, BigDecimal(0)))
      r.getLong(0) == n &&
        (if (n == 0) r.isNullAt(1) else BigDecimal(r.getDecimal(1)) == s)
    })
  }
}

object OltpMix {
  final case class Ord(okey: Long, ckey: Long, status: String,
      price: BigDecimal, prio: String)
  val Cols = "okey, ckey, status, price, prio"
  val BatchRows = 100
  val RangeKeys = 400
  val CacheBatches = 3
  val Statuses = IndexedSeq("F", "O", "P")
  val Prios = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
}
