package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import MaterializeJoin.{ChainSpec, SideSpec}

/** The one-row MV meta pointer, typed: what a state aggregates, where
  * it lives, which tables it folds and the fold marks it covers. One
  * codec serves both MV kinds: a single-table MV is the chain with no
  * sides, so both expose their definition as [[chain]] (what a
  * rebuild passes back to [[Materialize.build]]), the folded [[tables]]
  * and their [[marks]]. They differ only in [[MvMeta.Kind]] — the
  * per-kind fold state — which only `graft.operators` reads: every
  * other caller addresses an MV by its path alone.
  *
  * The on-disk layout is the historical one: the same column names,
  * order and types per kind (the single-table layout last gained
  * `table`), so no migration exists. A column a legacy
  * layout lacks decodes to its default, or to `None` where a refresh
  * must tell "absent" from a value (the rebuild-on-legacy-meta rules).
  *
  * @param stateDir the current state directory — the pointer an
  *   expiry-only refresh rotates without a new version number (legacy
  *   layouts: `state_v<last_version>`)
  * @param grainTz the session time zone grain SQL was derived under;
  *   `None` (legacy layout, or a fresh build/refresh) is written as the
  *   writing session's zone
  * @param bucketDirs bucket-manifested state: per bucket, the state dir
  *   that last rewrote it ("" = empty bucket); empty when `buckets == 0`
  */
private[graft] final case class MvMeta(
    groupCols: Seq[String],
    measures: Seq[String],
    stateDir: String,
    grains: Seq[(String, String)],
    grainTz: Option[String],
    sketches: Seq[(String, Int)],
    topks: Seq[(String, Int)],
    buckets: Int,
    bucketDirs: Seq[String],
    kind: MvMeta.Kind) {

  /** The MV's definition as [[Materialize.build]] takes it: a join
    * MV's chain, or a single-table MV's `ChainSpec(table)` carrying its
    * WHERE as `factFilterSql`. A single-table layout older than the
    * `table` column names no table, so nothing can address it by path:
    * it refuses. */
  def chain: ChainSpec = kind match {
    case MvMeta.Single(_, _, _, _, _, filterSql, Some(t)) =>
      ChainSpec(t, factFilterSql = filterSql)
    case _: MvMeta.Single => throw new IllegalStateException(
      "this MV meta predates the `table` column, so its base table is " +
        "unknown — rebuild the MV with Materialize.build")
    case j: MvMeta.Join => j.chain
  }

  /** The tables this state folds, fact first. */
  def tables: Seq[String] = chain.tables

  /** The folded version marks, aligned with [[tables]]. */
  def marks: Seq[Long] = kind match {
    case s: MvMeta.Single => Seq(s.lastVersion)
    case j: MvMeta.Join => j.lastVf +: j.lastVs
  }

  /** `single` or `join`, as SHOW MATERIALIZED VIEWS prints it. */
  def kindName: String =
    if (kind.isInstanceOf[MvMeta.Join]) "join" else "single"

  def single: MvMeta.Single = kind match {
    case s: MvMeta.Single => s
    case _ => throw new IllegalArgumentException(
      "expected a single-table MV meta, found a join MV's")
  }

  def join: MvMeta.Join = kind match {
    case j: MvMeta.Join => j
    case _ => throw new IllegalArgumentException(
      "expected a join MV meta, found a single-table MV's")
  }

  /** State leaf paths under the MV root `path`, restricted to the
    * buckets `keep` selects: one `__b=<i>` dir per non-empty bucket,
    * pinned to the state dir that last rewrote it (the manifest) —
    * multiple provided roots disable Spark's partition discovery, so
    * the read yields exactly the data schema. No surviving bucket falls
    * back to the `_schema` slice every bucketed write leaves behind. */
  def statePaths(path: String, keep: Int => Boolean = _ => true)
      : Seq[String] =
    if (buckets == 0) Seq(s"$path/$stateDir")
    else {
      val leafs = bucketDirs.zipWithIndex.collect {
        case (d, i) if d.nonEmpty && keep(i) => s"$path/$d/__b=$i" }
      if (leafs.nonEmpty) leafs else Seq(s"$path/$stateDir/_schema")
    }
}

private[graft] object MvMeta {

  sealed trait Kind

  /** Single-table part. `refreshTs`/`ttlAtRefresh` are `None` only on
    * a legacy layout, which refresh answers with a rebuild; `table` is
    * `None` only on a layout older than that column (see [[chain]]).
    * @param lastVersion the folded high-water mark
    * @param refreshTs the wall-clock refresh point (TTL expiry low-water
    *   mark of the next refresh)
    * @param ttlAtRefresh the table TTL the state was folded under (−1 =
    *   none)
    * @param dimFp per-dim [[Materialize.StarDerive]] fingerprints
    * @param dimPin the pinned dim versions, for discoverability
    * @param filterSql the WHERE predicate of a filtered MV ([[chain]]'s
    *   `factFilterSql`)
    * @param table the folded base table ([[chain]]'s `fact`) */
  final case class Single(lastVersion: Long, refreshTs: Option[Long],
      ttlAtRefresh: Option[Long], dimFp: Seq[Long], dimPin: String,
      filterSql: Option[String], table: Option[String] = None)
      extends Kind

  /** Join part: the chain and every table's folded mark. */
  final case class Join(chain: ChainSpec, lastVf: Long,
      lastVs: Seq[Long]) extends Kind

  def decode(m: Row): MvMeta = {
    val has = m.schema.fieldNames.toSet
    def seq[T](c: String): Seq[T] =
      if (has(c)) m.getSeq[T](m.fieldIndex(c)) else Seq.empty
    def long(c: String): Option[Long] =
      if (has(c)) Some(m.getAs[Long](c)) else None
    def str(c: String): Option[String] =
      if (has(c)) Option(m.getAs[String](c)) else None
    def bool(c: String): Boolean = has(c) && m.getAs[Boolean](c)
    def capped(cols: String, caps: String): Seq[(String, Int)] =
      seq[String](cols).zip(seq[Long](caps).map(_.toInt))
    val kind =
      if (has("fact")) {
        val tables = seq[String]("side_tables")
        // nested parquet arrays deserialize as mutable.ArraySeq
        val keys = seq[scala.collection.Seq[String]]("side_keys")
          .map(_.toSeq)
        val sImm = seq[Boolean]("side_imms")
        val fImm = seq[Boolean]("fact_imms")
        Join(ChainSpec(m.getAs[String]("fact"),
            tables.indices.map(i =>
              SideSpec(tables(i), keys(i), sImm(i), fImm(i))),
            leftOuter = bool("left_outer"),
            fullOuter = bool("full_outer"),
            factFilterSql = str("fact_filter").filter(_.nonEmpty)),
          m.getAs[Long]("last_vf"), seq[Long]("last_vs"))
      } else Single(m.getAs[Long]("last_version"), long("refresh_ts"),
        long("ttl_at_refresh"), seq[Long]("dim_fp"),
        str("dim_pin").getOrElse(""),
        str("filter_sql").filter(_.nonEmpty), str("table"))
    MvMeta(seq[String]("group_cols"), seq[String]("measures"),
      str("state_dir").getOrElse(
        s"state_v${m.getAs[Long]("last_version")}"),
      seq[String]("grain_cols").zip(seq[String]("grain_sqls")),
      str("grain_tz"), capped("sketch_cols", "sketch_ks"),
      capped("topk_cols", "topk_caps"),
      long("state_buckets").map(_.toInt).getOrElse(0),
      seq[String]("bucket_dirs"), kind)
  }

  /** The historical one-row layout of `m`, column for column. */
  private def encode(spark: SparkSession, m: MvMeta): DataFrame = {
    import spark.implicits._
    val tz = m.grainTz.getOrElse(spark.conf.get("spark.sql.session.timeZone"))
    m.kind match {
      case s: Single =>
        Seq((s.lastVersion, m.groupCols, m.measures,
            s.refreshTs.getOrElse(0L), m.stateDir,
            s.ttlAtRefresh.getOrElse(-1L),
            m.grains.map(_._1), m.grains.map(_._2), tz,
            m.sketches.map(_._1), m.sketches.map(_._2.toLong),
            m.buckets.toLong, m.bucketDirs, s.dimFp, s.dimPin,
            m.topks.map(_._1), m.topks.map(_._2.toLong),
            s.filterSql.getOrElse(""), s.table.orNull))
          .toDF("last_version", "group_cols", "measures", "refresh_ts",
            "state_dir", "ttl_at_refresh", "grain_cols", "grain_sqls",
            "grain_tz", "sketch_cols", "sketch_ks",
            "state_buckets", "bucket_dirs", "dim_fp", "dim_pin",
            "topk_cols", "topk_caps", "filter_sql", "table")
      case j: Join =>
        val cs = j.chain
        Seq((cs.fact, cs.sides.map(_.table), cs.sides.map(_.keys),
            cs.sides.map(_.sideKeysImmutable),
            cs.sides.map(_.factKeysImmutable),
            j.lastVf, j.lastVs, m.groupCols, m.measures, m.stateDir,
            m.sketches.map(_._1), m.sketches.map(_._2.toLong),
            m.topks.map(_._1), m.topks.map(_._2.toLong),
            m.grains.map(_._1), m.grains.map(_._2), tz, cs.leftOuter,
            cs.fullOuter, m.buckets.toLong, m.bucketDirs,
            cs.factFilterSql.getOrElse("")))
          .toDF("fact", "side_tables", "side_keys", "side_imms",
            "fact_imms", "last_vf", "last_vs", "group_cols", "measures",
            "state_dir", "sketch_cols", "sketch_ks", "topk_cols",
            "topk_caps", "grain_cols", "grain_sqls", "grain_tz",
            "left_outer", "full_outer", "state_buckets", "bucket_dirs",
            "fact_filter")
    }
  }

  /** Flip the pointer: a [[Commit.append]] of the one-row local
    * relation — the driver path, no Spark job — then delete the older
    * files. A reader sees the old or the new row, never an empty dir; a
    * crash between the two steps leaves both files, and the new one
    * sorts last ([[row]] reads the last-sorting file). The memo is
    * primed with the just-written row, so the next refresh/serve skips
    * the read-back job too. */
  def write(spark: SparkSession, path: String, m: MvMeta): Unit = {
    val df = encode(spark, m)
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old =
      if (fs.exists(metaPath)) fs.listStatus(metaPath).filter(_.isFile)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    Commit.append(df, metaPath.toString)
    old.foreach(s => fs.delete(s.getPath, false))
    val dir = new java.io.File(path, "meta")
    Option(dir.listFiles()).foreach { fs =>
      memo.put(dir.getAbsolutePath, (stamp(fs.toSeq), df.head()))
    }
  }

  def read(spark: SparkSession, path: String): MvMeta =
    decode(row(spark, path))

  // (meta dir → (file-listing stamp, row)): see row
  private val memo = new scala.collection.concurrent.TrieMap[
    String, (String, Row)]()

  // name:length:mtime — Spark overwrite always produces fresh task-UUID
  // names, but the mtime keeps the stamp sound under any
  // deterministic-filename writer too (ADVICE r16)
  private def stamp(fs: Seq[java.io.File]): String =
    fs.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .sorted.mkString(",")

  /** The raw one-row meta, memoized on the meta dir's exact file
    * listing (any rewrite changes the stamp): re-reading an unchanged
    * 1-row parquet was a ~0.1-0.3s driver job per refresh/serve across
    * the whole MV battery. The directory is re-listed on every call — a
    * concurrent writer's rewrite is picked up exactly as the plain read
    * would see it; a non-local path (no listable java.io dir) falls
    * through to the plain read uncached. A dir holding more than one
    * data file (a crash inside [[write]]) is
    * read at its last-sorting, i.e. newest, file — never at whichever
    * row a multi-file scan yields first. */
  def row(spark: SparkSession, path: String): Row = {
    val dir = new java.io.File(path, "meta")
    def readPlain(names: Seq[String] = Nil) = {
      val parts = names.filter(_.startsWith("part-"))
      spark.read.parquet(if (parts.length > 1) s"$path/meta/${parts.max}"
        else s"$path/meta").head()
    }
    Option(dir.listFiles()) match {
      case None => readPlain()
      case Some(fs) =>
        val s = stamp(fs.toSeq)
        val key = dir.getAbsolutePath
        memo.get(key) match {
          case Some((cur, r)) if cur == s => r
          case _ =>
            val r = readPlain(fs.map(_.getName).toSeq)
            memo.put(key, (s, r))
            r
        }
    }
  }
}
