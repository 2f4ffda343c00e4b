package graft.operators

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.LocalFrame
import org.apache.spark.sql.types.StructType

/** The one way the catalog and the MV layer land parquet files: a
  * change-log batch ([[append]]), and a table log, snapshot cache or
  * MV state/meta rewrite ([[replace]], [[append]]).
  *
  * One choice decides how the rows are written:
  *  - the DRIVER path, when the physical plan has no exchange and a
  *    `limit(cap + 1)` probe returns at most [[cap]] rows: the probe's
  *    rows ARE the output, streamed through Spark's own parquet
  *    [[org.apache.spark.sql.execution.datasources.OutputWriter]] on the
  *    driver thread ([[ParquetUtils.prepareWrite]] sets the identical
  *    WriteSupport, compression and rebase settings, so the file is
  *    encoding-identical) — no write job, no commit protocol. A local
  *    relation's rows are read straight off its scan, with no job and
  *    no limit plan, so a small client batch lands with zero Spark
  *    jobs.
  *  - the DISTRIBUTED write otherwise. A plan with an exchange (a
  *    collapse, an aggregate, a join) is never probed: probing it would
  *    execute it twice. Nor is a plan whose leaves are file scans over
  *    more than [[probeBytes]] of listed files: such an input almost
  *    always holds more than [[cap]] rows, so its probe would be a job
  *    whose rows are thrown away. Both paths write the same rows, so
  *    this choice changes cost only.
  *
  * Both paths land under a hidden name (`_`-prefixed, which every
  * Spark file listing skips) and rename into place through the
  * path's Hadoop [[FileSystem]], so a cut write leaves nothing a read
  * sees and non-local filesystems work unchanged. */
object Commit {

  /** Driver-path row cap; above it the distributed write runs. The
    * probe that finds the overflow is a `limit(cap + 1)` take —
    * partition-incremental, never a full scan. */
  val cap: Int = 4096

  /** Listed file bytes above which a file-scan plan skips the probe:
    * 32 bytes per row of a [[cap]]-row batch, which a narrow parquet
    * table's compressed rows stay under. */
  val probeBytes: Long = 32L * cap

  /** Land `df`'s rows as new files in `dir` (created if needed); the
    * files already there are untouched. The driver path renames one
    * `_`-prefixed file into `dir`, named with a fixed-width part number
    * one past the highest in `dir`, so the newest driver-written file
    * sorts last; the distributed path writes a hidden `_tmp_` subdir
    * and renames its part files up into `dir`.
    *
    * Returns the rows the driver path wrote (laid out as `df.schema`),
    * `None` after a distributed write. The catalog keeps them as the
    * memstore its served reads lay over the snapshot cache. */
  def append(df: DataFrame, dir: String): Option[Array[InternalRow]] = {
    val spark = df.sparkSession
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    fs.mkdirs(d)
    probe(df) match {
      case Some(rows) =>
        val part = fs.listStatus(d).map(_.getPath.getName)
          .filter(_.startsWith("part-"))
          .map(_.stripPrefix("part-").takeWhile(_.isDigit))
          .filter(_.nonEmpty).map(_.toLong).maxOption.getOrElse(0L) + 1L
        val tmp = writeRows(spark, df.schema, rows.iterator, d,
          f"$part%019d", hidden = true)
        try rename(fs, tmp, new Path(d, tmp.getName.stripPrefix("_")))
        catch { case e: Throwable => fs.delete(tmp, false); throw e }
        Some(rows)
      case None =>
        val tmp = new Path(d, s"_tmp_${UUID.randomUUID}")
        try {
          df.write.parquet(tmp.toString)
          fs.listStatus(tmp).map(_.getPath)
            .filter(_.getName.startsWith("part-"))
            .foreach(p => rename(fs, p, new Path(d, p.getName)))
        } finally fs.delete(tmp, true)
        None
    }
  }

  /** Replace the directory `dir` with `df`'s rows: write the hidden
    * sibling `_tmp_<name>`, move the old `dir` aside, move the new one
    * in, delete the aside copy. Never delete-then-rename — the live dir
    * must not be gone while the new copy could still fail to land; a
    * crash between the moves leaves the aside copy for
    * [[recoverAside]]. With `partitionBy`, rows land one file per
    * `<col>=<value>` dir (the column's values rendered as text, as the
    * MV bucket ids are) plus an empty `_schema` slice holding the data
    * schema, the read anchor when no partition holds a row. */
  def replace(df: DataFrame, dir: String,
      partitionBy: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val dest = new Path(dir)
    val fs = fsOf(spark, dest)
    val tmp = new Path(dest.getParent, s"_tmp_${dest.getName}")
    val aside = new Path(asideOf(dir))
    recoverAside(spark, dir)
    fs.delete(tmp, true)
    val schema = df.schema
    val pi = partitionBy.map(schema.fieldIndex)
    val data = StructType(schema.fields.indices.filterNot(pi.contains)
      .map(schema(_)))
    (probe(df), partitionBy) match {
      case (Some(rows), None) =>
        writeRows(spark, schema, rows.iterator, tmp)
      case (Some(rows), Some(p)) =>
        // the writer consumes row.numFields, so strip the partition
        // column with a projection (each row is fully serialized before
        // the next apply — buffer reuse is safe)
        val proj = UnsafeProjection.create(
          schema.fields.indices.filterNot(pi.contains).map(i =>
            BoundReference(i, schema(i).dataType, schema(i).nullable)))
        rows.groupBy(_.get(pi.get, schema(pi.get).dataType)).foreach {
          case (v, rs) => writeRows(spark, data, rs.iterator.map(proj(_)),
            new Path(tmp, s"$p=$v")) }
      case (None, None) => df.write.parquet(tmp.toString)
      case (None, Some(p)) =>
        // repartition ON the partition column: each value then lives in
        // exactly one task → ONE file per partition dir
        df.repartition(col(p)).write.partitionBy(p).parquet(tmp.toString)
    }
    if (partitionBy.nonEmpty)
      writeRows(spark, data, Iterator.empty, new Path(tmp, "_schema"))
    if (fs.exists(dest) && !fs.rename(dest, aside))
      throw new java.io.IOException(
        s"cannot move $dest aside — aborting with it untouched")
    if (!fs.rename(tmp, dest)) {
      fs.rename(aside, dest)
      throw new java.io.IOException(
        s"cannot move the new $dest into place — previous copy restored")
    }
    fs.delete(aside, true)
  }

  /** `df`'s rows as a local relation when the driver path would take
    * it (no exchange, at most [[cap]] rows); `None` otherwise, having
    * run at most the probe. */
  def local(df: DataFrame): Option[DataFrame] =
    probe(df).map(rows => LocalFrame(df.sparkSession, df.schema, rows.toSeq))

  /** Where [[replace]] keeps `dir`'s previous copy between its two
    * moves. */
  def asideOf(dir: String): String = {
    val p = new Path(dir)
    new Path(p.getParent, s"_aside_${p.getName}").toString
  }

  /** Finish a [[replace]] that was cut short: an aside copy with no
    * `dir` is the live dir, moved aside before its replacement landed —
    * move it back (deleting it would lose a table's history); next to
    * a `dir` it is the replaced copy — delete it. */
  def recoverAside(spark: SparkSession, dir: String): Unit = {
    val dest = new Path(dir)
    val fs = fsOf(spark, dest)
    val aside = new Path(asideOf(dir))
    if (fs.exists(aside)) {
      if (fs.exists(dest)) fs.delete(aside, true)
      else if (!fs.rename(aside, dest))
        throw new java.io.IOException(s"cannot restore $dest from $aside")
    }
  }

  /** The driver-path choice: `df`'s rows when its plan has no exchange
    * and holds at most [[cap]] rows. */
  private def probe(df: DataFrame): Option[Array[InternalRow]] = {
    val plan = df.queryExecution.executedPlan
    val rows = plan match {
      case _ if new AdaptiveSparkPlanHelper {}
        .find(plan)(_.isInstanceOf[Exchange]).nonEmpty => None
      case local: LocalTableScanExec => Some(local.executeCollect())
      case _ if scannedBytes(plan).exists(_ > probeBytes) => None
      case _ => Some(df.limit(cap + 1).queryExecution.executedPlan
        .executeCollect())
    }
    rows.filter(_.length <= cap)
  }

  /** The listed size of the files `plan` reads, when every leaf is a
    * file scan. */
  private def scannedBytes(plan: SparkPlan): Option[Long] = {
    val leaves = plan.collectLeaves()
    val sizes = leaves.collect {
      case s: FileSourceScanExec => s.relation.location.sizeInBytes }
    if (sizes.length == leaves.length) Some(sizes.sum) else None
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"cannot move $from to $to")

  /** Stream `rows` (plan-output InternalRows of `schema`) into ONE
    * parquet part file under `dir` (created if needed), named like a
    * Spark output file (`_`-prefixed when `hidden`). Returns its path. */
  private def writeRows(spark: SparkSession, schema: StructType,
      rows: Iterator[InternalRow], dir: Path, part: String = "00000",
      hidden: Boolean = false): Path = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(spark.sessionState.conf,
      job, schema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID(UUID.randomUUID.toString, 0),
        TaskType.MAP, 0), 0))
    val fs = dir.getFileSystem(job.getConfiguration)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val file = new Path(dir, s"${if (hidden) "_" else ""}part-$part-" +
      s"${UUID.randomUUID}-c000${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toString, schema, ctx)
    try rows.foreach(writer.write) finally writer.close()
    file
  }
}
