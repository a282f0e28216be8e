package graft.streaming

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Distributed micro-batch DELTA LOG — the reusable form of an
  * idempotent streaming sink: each micro-batch's delta
  * rows are appended BY THE EXECUTORS as parquet part files tagged with
  * the batchId; no result row ever reaches the driver (a driver-side
  * keyed map would grow with key cardinality — window×type cardinality
  * grows with the covered time span at 100 TB). The log is the job's
  * durable changelog; [[readLogUpsert]] reconstructs "latest value per
  * key" with one keyed max_by(batchId) aggregation — exactly what a
  * cluster deployment runs against its keyed store's changelog.
  *
  * ALL IO goes through the Hadoop FileSystem of the log path, so `dir`
  * may be any defaultFS-resolvable URI (HDFS, S3A, local file:/): on a
  * multi-node cluster every executor appends into the SHARED log
  * directory — a java.nio path would scatter part files across the
  * workers' local disks and silently lose the log (the failure mode the
  * old private gate helper documented but could not rule out).
  */
object DeltaLog {

  /** High-water mark persisted at `dir/_hwm` through the Hadoop
    * FileSystem: write-to-temp + FileContext.rename(OVERWRITE), which is
    * atomic on POSIX and HDFS. On object stores without atomic rename,
    * record the committed batchId transactionally with the sink instead
    * (see [[StreamingEmbed.HighWaterMark]]).
    */
  def highWaterMark(
      spark: SparkSession, dir: String): StreamingEmbed.HighWaterMark =
    new StreamingEmbed.HighWaterMark {
      private val conf = spark.sparkContext.hadoopConfiguration
      private val mark = new Path(dir, "_hwm")
      private val tmp = new Path(dir, "_hwm.tmp")
      def get: Long = {
        val fs = mark.getFileSystem(conf)
        if (!fs.exists(mark)) -1L
        else {
          val in = fs.open(mark)
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLong
          finally in.close()
        }
      }
      def set(id: Long): Unit = {
        val fs = tmp.getFileSystem(conf)
        val out = fs.create(tmp, true)
        try out.write(id.toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        FileContext.getFileContext(mark.toUri, conf)
          .rename(tmp, mark, Options.Rename.OVERWRITE)
      }
    }

  /** foreachBatch sink appending `prepare(batch)` tagged with `_batch_id`
    * to the log, wrapped in [[StreamingEmbed.idempotentSink]] over the
    * file-backed mark: replaying a FULLY COMMITTED batch (append + mark
    * both done) is a no-op instead of a double-append.
    *
    * The parquet append and the mark write are two non-atomic steps, so
    * a crash BETWEEN them leaves the batch's part files behind and the
    * replay appends the batch's rows again. That window is harmless iff
    * `prepare` is deterministic (the standard foreachBatch replay
    * contract): the replayed rows are byte-identical, and
    * [[readLogUpsert]]'s per-key pick returns the same values whichever
    * duplicate it lands on. A non-deterministic `prepare` voids that —
    * same as it voids Spark's own exactly-once sink guarantees.
    */
  def appendSink(
      spark: SparkSession,
      dir: String,
      prepare: DataFrame => DataFrame = identity): (DataFrame, Long) => Unit =
    StreamingEmbed.idempotentSink(
      (batch: DataFrame, id: Long) =>
        prepare(batch).withColumn("_batch_id", lit(id))
          .write.mode("append").parquet(dir),
      highWaterMark(spark, dir))

  /** Read the log back; an empty log (a stream that emitted nothing)
    * yields an empty frame with `schema` + `_batch_id` rather than a
    * schema-inference error. Listing goes through the Hadoop FileSystem
    * like every other path here.
    */
  def readLog(
      spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasFiles = fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
    if (hasFiles) spark.read.parquet(dir)
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      schema.add("_batch_id", org.apache.spark.sql.types.LongType))
  }

  /** Update-mode result from the log: latest row per key by batchId (the
    * Merge.upsert shape — one keyed hash aggregation over the log).
    * Within a batchId the pick among duplicates is arbitrary — exact
    * only because [[appendSink]]'s crash-window duplicates are identical
    * rows under a deterministic `prepare` (see its scaladoc).
    */
  def readLogUpsert(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      keyCols: Seq[String]): DataFrame = {
    val cols = schema.fieldNames.toSeq
    readLog(spark, dir, schema)
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), col("_batch_id")).as("r"))
      .select(cols.map(c => col(s"r.$c").as(c)): _*)
  }
}
