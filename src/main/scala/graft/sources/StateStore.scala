package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
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
  * silent cursor reset and a full re-extract). [[read]] therefore detects
  * an in-flight swap (an `.old-`/`.tmp-` sibling) and briefly retries
  * before concluding the table is genuinely empty. That NARROWS the
  * single-writer/concurrent-reader race to the instants between the final
  * existence check and Spark's own file listing (where a racing swap
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
  * The control tables are written and read through [[Small]]. Its writes
  * run on the driver: one parquet file through Spark's own row writer into
  * the tmp directory, then the same swap, and no Spark job. Like the offset
  * and commit logs of Structured Streaming, each entry is a file the driver
  * writes itself. [[Small]] serves the rows it last wrote or read while the
  * table's directory listing (file name, length, mtime) is the one it saw
  * then. The listing check is enough to see any other writer: a Spark write
  * names its part files with a fresh job UUID and a driver write names its
  * one file with a fresh UUID, so an overwrite or append by another
  * instance, another process or a direct [[overwrite]] always changes the
  * names, and an absent directory (mid-swap, or never written) always takes
  * the real read. The table is the record; the held rows only spare reading
  * it back.
  */
object StateStore {

  /** (name, length, mtime) of each file directly under a table directory. */
  private type Listing = Seq[(String, Long, Long)]

  private def listing(fs: FileSystem, path: Path): Option[Listing] =
    try Some(fs.listStatus(path).toSeq.map(s => (s.getPath.getName, s.getLen,
      s.getModificationTime)).sorted)
    catch { case _: java.io.FileNotFoundException => None }

  /** A tiny control table, merged on the driver: `rows` is its content,
    * `overwrite(rows)` replaces it. A read lists the directory (one
    * filesystem call, no Spark job) and returns the held rows if the
    * listing is the held one; otherwise it reads the table through [[read]]
    * (which keeps the in-flight-swap retry). The listing is taken before
    * that read, so a write landing between the two leaves the held listing
    * stale and forces the next read through. State is per instance.
    */
  final class Small(spark: SparkSession, dir: String, schema: StructType) {
    private val path = new Path(dir)
    private val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private var held: Option[(Listing, Seq[Row])] = None

    def rows: Seq[Row] = synchronized {
      val now = listing(fs, path)
      held match {
        case Some((seen, kept)) if now.contains(seen) => kept
        case _ =>
          val fresh = read(spark, dir, schema).collect().toSeq
          held = now.map(_ -> fresh)
          fresh
      }
    }

    /** Replaces the table with `rows`, written on the driver ([[writeRows]]):
      * no Spark job.
      */
    def overwrite(rows: Seq[Row]): Unit = synchronized {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      val internal = rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])
      val written = swap(fs, dir)(tmp =>
        writeRows(spark.sparkContext.hadoopConfiguration, tmp, schema, internal))
      // held as a read would return them: through the same conversion
      // (timestamps to microseconds, rows carrying the schema)
      val toScala = CatalystTypeConverters.createToScalaConverter(schema)
      held = Some(written -> internal.map(r => toScala(r).asInstanceOf[Row]))
    }
  }

  /** Spark's own parquet row writer ([[ParquetWriteSupport]]) driven by
    * parquet-hadoop on the driver.
    */
  private final class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override def self(): RowWriter = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Writes `rows` as one parquet file `part-00000-<fresh UUID>.snappy.parquet`
    * under `dir`, on the calling thread. The footer carries Spark's row
    * metadata, so a plain `spark.read.parquet` infers `schema`'s types;
    * timestamps are stored as TIMESTAMP(MICROS, UTC-adjusted), which keeps
    * every microsecond. The writer's settings go on the builder's own
    * configuration, never on a session's.
    */
  private def writeRows(hadoopConf: Configuration, dir: Path, schema: StructType,
                        rows: Seq[InternalRow]): Unit = {
    val file = new Path(dir, s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val writer = new RowWriter(HadoopOutputFile.fromPath(file, hadoopConf))
      .withConf(new Configuration(false))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .config(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
      .config(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
      .config(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      .config(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
      .config(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
      .build()
    try rows.foreach(writer.write) finally writer.close()
  }

  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (!fs.exists(path) && swapInFlight(fs, path) && attempt < 20) {
      Thread.sleep(50)
      attempt += 1
    }
    if (fs.exists(path)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
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
    swap(fs, dir)(tmp => df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)): Unit
  }

  /** Replaces `dir` with what `write` puts in a fresh `<dir>.tmp-<nonce>`
    * directory, and returns the listing of the files it swapped in, taken
    * before the swap: renaming a directory keeps its files' names, lengths
    * and mtimes, and a later swap by another writer cannot be mistaken for
    * this one.
    */
  private def swap(fs: FileSystem, dir: String)(write: Path => Unit): Listing = {
    val path = new Path(dir)
    val tmp = new Path(dir + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val old = new Path(dir + ".old-" + java.util.UUID.randomUUID().toString.take(8))
    write(tmp)
    val written = listing(fs, tmp).getOrElse(throw new java.io.IOException(s"no output: $tmp"))
    if (fs.exists(path)) {
      if (!fs.rename(path, old)) throw new java.io.IOException(s"swap-out failed: $dir")
    }
    if (!fs.rename(tmp, path)) {
      // Roll back so readers still see the old data.
      if (fs.exists(old)) fs.rename(old, path)
      throw new java.io.IOException(s"swap-in failed: $dir")
    }
    fs.delete(old, true)
    written
  }

  /** Append `df` to `dir` (history-style append-only datasets). */
  def append(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)
}
