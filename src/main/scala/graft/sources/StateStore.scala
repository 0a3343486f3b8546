package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.io.OutputFile

/** The pipeline's state tables: small keyed parquet datasets in the role
  * Postgres plays in the reference (watermark, run log, history, latest).
  * `Extractor`, `Stager`, `RunLog`, `Watermark` and
  * `StreamingPipeline.latestStateSink` read and write them only here.
  *
  * Writes follow the reference's write-to-tmp + atomic-rename discipline
  * (`services/extractor/app/writer_landing.py:11-13,42-52`) lifted to
  * directory level: write `<dir>.tmp-<nonce>`, then swap. Readers never see
  * a PARTIAL dataset — but the swap is two renames (out, then in), so a
  * reader racing the writer can hit the gap where the directory is absent
  * and would otherwise read an EMPTY table (for a watermark that means a
  * silent cursor reset and a full re-extract). [[read]] and [[readRows]]
  * therefore detect an in-flight swap (an `.old-`/`.tmp-` sibling) and
  * briefly retry before concluding the table is genuinely empty. That
  * NARROWS the single-writer/concurrent-reader race to the instants between
  * the final existence check and the file listing (where a racing swap
  * surfaces as a loud missing-path error, not a silent empty read). The
  * store assumes one writer per table and a filesystem with atomic
  * directory rename; [[ManifestStore]]'s manifest commit has neither
  * limit.
  *
  * The control tables (watermark, run log) are tiny and history is
  * append-only. The latest-state table is the one that grows and is
  * overwritten by every staging run that has winners: `Stager` rewrites it
  * in full as the existing rows minus the batch's winning keys plus the
  * winners, a map-only plan, but still O(table) bytes per run in the single
  * task of [[overwrite]].
  *
  * The control tables are read ([[readRows]]) and written
  * ([[overwriteRows]]) on the driver, with no Spark job and no copy of the
  * rows kept between calls: like the offset and commit logs of Structured
  * Streaming, each entry is a file the driver writes itself and reads back
  * from that file.
  */
object StateStore {

  /** The rows of the control table `dir`, read on the driver with no Spark
    * job through Spark's own parquet row reader ([[ParquetReadSupport]])
    * with `schema` requested, so a table written by a Spark job (INT96
    * timestamps) reads back as one written by [[overwriteRows]]
    * (TIMESTAMP(MICROS)), microseconds kept. Dates and timestamps are read
    * as written (no calendar rebase): the engine writes in Spark's default
    * CORRECTED mode, which is also what a Spark scan applies. An absent
    * table reads as `Nil`, after the wait for a swap in flight [[read]] has.
    */
  def readRows(spark: SparkSession, dir: String, schema: StructType): Seq[Row] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!awaitSwap(fs, path)) return Nil
    val sql = spark.sessionState.conf
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    Landing.dataFiles(fs, path).flatMap { file =>
      // the file opens through the session's file system; the reader's keys
      // go on an empty conf of its own, never on the session's
      val builder = new ParquetReader.Builder[InternalRow](
          HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration),
          new HadoopParquetConfiguration(new Configuration(false))) {
        override protected def getReadSupport(): ReadSupport[InternalRow] = new ParquetReadSupport(
          None, false, RebaseSpec(LegacyBehaviorPolicy.CORRECTED), RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
      }.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
      // the session settings Spark's parquet scan gives its schema converter
      Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.CASE_SENSITIVE,
        SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
        .foreach(e => builder.set(e.key, sql.getConf(e).toString))
      val reader = builder.build()
      // the reader reuses its row: convert each before the next read
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(r => toScala(r).asInstanceOf[Row]).toList
      finally reader.close()
    }
  }

  /** Replaces the control table `dir` with `rows`, written on the driver
    * with no Spark job: one file `part-00000-<fresh UUID>.snappy.parquet`
    * through Spark's own row writer ([[ParquetWriteSupport]]), then swapped
    * in. The footer carries Spark's row metadata, so a plain
    * `spark.read.parquet` infers `schema`'s types; timestamps are stored as
    * TIMESTAMP(MICROS, UTC-adjusted), which keeps every microsecond. The
    * writer's settings go on the builder's own configuration, never on a
    * session's.
    */
  def overwriteRows(spark: SparkSession, dir: String, schema: StructType, rows: Seq[Row]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    swap(new Path(dir).getFileSystem(conf), dir) { tmp =>
      val file = new Path(tmp, s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
      val writer = new RowWriter(HadoopOutputFile.fromPath(file, conf))
        .withConf(new Configuration(false))
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .config(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
        .config(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
        .config(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
        .config(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
        .config(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
        .build()
      try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow])) finally writer.close()
    }
  }

  /** Spark's own parquet row writer driven by parquet-hadoop on the driver. */
  private final class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override def self(): RowWriter = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (awaitSwap(fs, path)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Whether the table at `path` exists, after giving a swap in flight
    * ([[swapInFlight]]) up to a second to finish.
    */
  private def awaitSwap(fs: FileSystem, path: Path): Boolean = {
    var attempt = 0
    while (!fs.exists(path) && swapInFlight(fs, path) && attempt < 20) {
      Thread.sleep(50)
      attempt += 1
    }
    fs.exists(path)
  }

  /** A sibling `.old-`/`.tmp-` directory means an [[overwrite]] swap is
    * mid-flight (or a crashed writer left its rollback source — in which
    * case the bounded retry lapses and the caller sees the table as it is).
    */
  private def swapInFlight(fs: FileSystem, path: Path): Boolean = {
    val parent = path.getParent
    parent != null && fs.exists(parent) && fs.listStatus(parent).exists { s =>
      val n = s.getPath.getName
      n.startsWith(path.getName + ".old-") || n.startsWith(path.getName + ".tmp-")
    }
  }

  /** Atomically replace `dir` with the contents of `df`. One file per table
    * keeps the swap (two renames) and later listings cheap; for the
    * latest-state table it also means the whole rewrite runs in one task.
    */
  def overwrite(df: DataFrame, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    swap(fs, dir)(tmp => df.coalesce(1).write.mode("overwrite").parquet(tmp.toString))
  }

  /** Replaces `dir` with what `write` puts in a fresh `<dir>.tmp-<nonce>`
    * directory. A `write` that throws leaves no tmp directory behind.
    */
  private def swap(fs: FileSystem, dir: String)(write: Path => Unit): Unit = {
    val path = new Path(dir)
    val tmp = new Path(dir + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val old = new Path(dir + ".old-" + java.util.UUID.randomUUID().toString.take(8))
    try write(tmp)
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (!fs.exists(tmp)) throw new java.io.IOException(s"no output: $tmp")
    if (fs.exists(path)) {
      if (!fs.rename(path, old)) throw new java.io.IOException(s"swap-out failed: $dir")
    }
    if (!fs.rename(tmp, path)) {
      // Roll back so readers still see the old data.
      if (fs.exists(old)) fs.rename(old, path)
      throw new java.io.IOException(s"swap-in failed: $dir")
    }
    fs.delete(old, true)
  }

  /** Append `df` to `dir` (history-style append-only datasets). */
  def append(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)
}
