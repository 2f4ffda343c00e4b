package graft.operators

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Driver-local parquet writes for provably SMALL frames.
  *
  * Every MV refresh pays a distributed write job (plan + schedule +
  * task + commit protocol + footer) for the new state directory and
  * another for the one-row meta pointer — 0.4-0.9 s of fixed driver
  * latency per refresh even when the folded state is a handful of
  * rows. For a frame that fits a row cap, the same bytes can be
  * produced by collecting the rows (one cheap job over the fold's
  * already-checkpointed blocks) and streaming them through Spark's OWN
  * parquet [[org.apache.spark.sql.execution.datasources.OutputWriter]]
  * on the driver thread: [[ParquetUtils.prepareWrite]] configures the
  * identical WriteSupport/compression/rebase settings the distributed
  * write uses, so the file is encoding-identical — just without a job
  * per write.
  *
  * This is NOT result caching: the rows are computed from the same
  * plan the distributed write would run, per invocation. It is the
  * "driver should do almost no data work" rule's complement: a 1-row
  * meta pointer IS no data work, and round-tripping it through the
  * cluster scheduler is pure overhead.
  *
  * Scale: callers gate on [[cap]] — a state that outgrows it (the
  * 100 TB regime) takes the distributed write exactly as before. The
  * FS comes from the path, so non-local filesystems work unchanged.
  */
object DriverParquet {

  /** Direct-write row cap. Above it callers fall back to the
    * distributed write; the probe that discovers the overflow is a
    * `limit(cap+1)` take — partition-incremental, never a full scan. */
  val cap: Int = 4096

  /** Stream `rows` (plan-output InternalRows of `schema`) into ONE
    * parquet part file `part` under `dir` (created if needed), named like
    * a normal Spark output file. Files already in `dir` are untouched. */
  def writeRows(df: DataFrame, schema: StructType,
      rows: Iterator[InternalRow], dir: String,
      part: String = "00000"): Unit = {
    val spark = df.sparkSession
    val hadoopConf = spark.sessionState.newHadoopConf()
    val job = Job.getInstance(hadoopConf)
    val factory = ParquetUtils.prepareWrite(spark.sessionState.conf,
      job, schema,
      new ParquetOptions(Map.empty[String, String],
        spark.sessionState.conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID(UUID.randomUUID.toString, 0),
        TaskType.MAP, 0), 0))
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(job.getConfiguration)
    if (!fs.exists(dirPath)) fs.mkdirs(dirPath)
    val file = new Path(dirPath,
      s"part-$part-${UUID.randomUUID}-c000${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toString, schema, ctx)
    try rows.foreach(writer.write) finally writer.close()
  }

  /** Direct write of a refresh's out = kept ∪ recompute state,
    * REPLACING `dir` like the distributed write's SaveMode.Overwrite:
    * a refresh re-run after a crash targets the same fresh state dir,
    * and a part file (or `__b=` slice) left there by the crashed
    * attempt would otherwise serve next to the new rows once the meta
    * flips.
    *
    *  - `kept` is PROBED with `limit(cap+1)`: it is a filter over the
    *    refresh's checkpointed merged fold, so the probe re-reads
    *    cached blocks; over the cap nothing is written, the bounded
    *    branch is NOT executed, and the caller falls back to the
    *    distributed write (then the only execution of that branch).
    *  - `bounded` (the extremum-gated recompute) is collected FULLY,
    *    exactly once: the caller only passes it when its row count is
    *    provably capped (≤ one row per affected group under the ≤1024
    *    IN-pushdown gate), and collecting it runs the same single
    *    execution the distributed write job would have — minus the
    *    job + commit (guide §1.2). Its columns are aligned to kept's
    *    order by NAME; a type mismatch falls back before anything
    *    executes.
    *  - `bucketId` (bucket-manifested state): the id is APPENDED, so
    *    the data schema's ordinals 0..n-1 are untouched; rows land one
    *    file per `__b=<i>` dir plus the `_schema` anchor — the exact
    *    layout the repartition + partitionBy write job produces.
    *
    * The written schema takes the union's nullability (nullable iff
    * either branch is), matching what the distributed unionByName
    * write stamps into the files. */
  def writeFoldIfSmall(kept: DataFrame, bounded: Option[DataFrame],
      bucketId: Option[DataFrame => Column], dir: String): Boolean = {
    val keptCols = kept.columns.toIndexedSeq
    val aligned = bounded.map(_.select(keptCols.map(col): _*))
    val keptTypes = kept.schema.map(f => (f.name, f.dataType))
    if (aligned.exists(_.schema.map(f => (f.name, f.dataType))
        != keptTypes)) return false
    val schema = StructType(kept.schema.fields.zip(
      aligned.map(_.schema.fields).getOrElse(kept.schema.fields))
      .map { case (k, b) => k.copy(nullable = k.nullable || b.nullable) })
    def collectRows(df: DataFrame, limit: Option[Int])
        : Array[InternalRow] = {
      val withB =
        bucketId.map(f => df.withColumn("__b", f(df))).getOrElse(df)
      val lim = limit.map(withB.limit).getOrElse(withB)
      lim.queryExecution.executedPlan.executeCollect()
    }
    val keptRows = collectRows(kept, Some(cap + 1))
    if (keptRows.length > cap) return false
    val all = keptRows ++
      aligned.map(collectRows(_, None)).getOrElse(Array.empty)
    val dirPath = new Path(dir)
    dirPath.getFileSystem(kept.sparkSession.sessionState.newHadoopConf())
      .delete(dirPath, true)
    bucketId match {
      case None => writeRows(kept, schema, all.iterator, dir)
      case Some(_) =>
        val n = kept.schema.length
        // the writer consumes row.numFields, so strip the appended
        // bucket id with a prefix projection (each row is fully
        // serialized before the next apply — buffer reuse is safe)
        val proj = UnsafeProjection.create(
          schema.fields.zipWithIndex.map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable) }.toSeq)
        all.groupBy(_.getInt(n)).foreach { case (b, rs) =>
          writeRows(kept, schema, rs.iterator.map(proj(_)),
            s"$dir/__b=$b") }
        writeRows(kept, schema, Iterator.empty, s"$dir/_schema")
    }
    true
  }

  /** Probe-and-write of a single frame — [[writeFoldIfSmall]] with no
    * bounded branch and no bucket layout. */
  def writeIfSmall(df: DataFrame, dir: String): Boolean =
    writeFoldIfSmall(df, None, None, dir)

  /** Overwrite `dir` with `df`'s rows (must be tiny — the MV meta
    * shape: a one-row local relation). Replaces SaveMode.Overwrite's
    * delete-then-distributed-write with write-new-file-then-delete-old
    * — one driver job fewer, and a concurrent reader sees old or new
    * bytes rather than a mid-overwrite empty directory. A crash between
    * the write and the delete leaves both files: part numbers count up
    * (a fixed-width one past the highest in `dir`), so the newest file
    * is the last-sorting name, which is what [[MvMeta.row]] reads. */
  def overwriteSmall(df: DataFrame, dir: String): Unit = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    val old =
      if (fs.exists(dirPath)) fs.listStatus(dirPath).filter(_.isFile)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    val part = old.map(_.getPath.getName).filter(_.startsWith("part-"))
      .map(_.stripPrefix("part-").takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(0L) + 1L
    val rows = df.queryExecution.executedPlan.executeCollect()
    writeRows(df, df.schema, rows.iterator, dir, f"$part%019d")
    old.foreach(s => fs.delete(s.getPath, false))
  }
}
